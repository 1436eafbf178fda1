package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Harness --workload <w> --in <inputs> --out <dir> --seconds <s>
  *  --trace <0|1> --nproc <n> [--fixtures <dir>]`.
  *
  * Calls the library's public functions directly and writes
  * `<out>/result.json` (metrics, operation counts) plus the raw outputs
  * the checks read. `--workload oracle-sql --out <file>` instead writes
  * the curation rows' DuckDB oracle SQL. Any exception exits nonzero. */
object Harness {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[harness] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable =>
        System.err.println("[harness] FAILED")
        e.printStackTrace()
        2
      }
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(code) // no lingering non-daemon thread
  }

  private def run(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"odd argument list: ${args.mkString(" ")}")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    if (workload == "oracle-sql") return Curation.writeOracleSql(opt("out"))
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val nproc = opt("nproc").toInt
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("spark session up")
    spark.sparkContext.setCheckpointDir(s"$tmp/checkpoints")
    val tracer = if (opt("trace") == "1") new LiveTracer(spark) else Tracer.Off
    val res = new Result
    val gc0 = gcMs()
    val ctx = Ctx(spark, opt("in"), out, opt("seconds").toDouble, nproc,
      tracer, res, opt.get("fixtures"))
    workload match {
      case "ann_batch" => AnnBatch.run(ctx)
      case "ann_serve" => AnnServe.run(ctx)
      case "curation_rows" => Curation.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer match {
      case t: LiveTracer =>
        val w = t.subtreeWork().getOrElse(0L, new SparkWork)
        res.layer("spark.jobs", w.jobs, "count")
        res.layer("spark.stages", w.stages, "count")
        res.layer("spark.tasks", w.tasks, "count")
        res.layer("spark.planning_ms", w.planningMs, "ms")
        res.layer("spark.executor_run_ms", w.runMs, "ms")
        res.layer("spark.op_wall_ms",
          t.spans.toArray(Array.empty[Span]).filter(_.parent == 0L)
            .map(_.wallMs).sum, "ms")
        res.layer("jvm.gc_ms", gcMs() - gc0, "ms")
        t.writeSpans(s"$out/spans.jsonl")
      case _ =>
    }
    res.write(s"$out/result.json")
    log("done")
    spark.stop()
  }

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}

final case class Ctx(spark: SparkSession, in: String, out: String,
    seconds: Double, nproc: Int, tracer: Tracer, res: Result,
    fixtures: Option[String])

/** Metrics and operation counts of one run, written as JSON. `e2e` and
  * `detail` come from the untraced run, `layer` from the traced one. */
final class Result {
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val det = mutable.LinkedHashMap[String, (Double, String)]()
  private val lay = mutable.LinkedHashMap[String, (Double, String)]()
  private val ops = mutable.LinkedHashMap[String, Long]()
  def endToEnd(n: String, v: Double, u: String): Unit = e2e(n) = (v, u)
  def detail(n: String, v: Double, u: String): Unit = det(n) = (v, u)
  def layer(n: String, v: Double, u: String): Unit = lay(n) = (v, u)
  def attempted(kind: String, n: Long): Unit = ops(kind) = ops.getOrElse(kind, 0L) + n

  def write(path: String): Unit = {
    def num(v: Double) = {
      require(!v.isNaN && !v.isInfinite, s"non-finite metric $v")
      java.lang.Double.toString(v)
    }
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val o = ops.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path),
      s"""{"e2e":${obj(e2e)},"detail":${obj(det)},"layer":${obj(lay)},"attempted":$o}""" + "\n")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Median without the first sample, which pays the fresh JVM's
    * start-up costs (class loading, JIT, query codegen). */
  def warmMedian(xs: Seq[Double]): Double = {
    require(xs.length > 1, "need a sample after the first")
    median(xs.drop(1))
  }
  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1).max(0))
  }
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The seeded vectors the Python side generated (little-endian f32). */
final case class Vectors(base: Array[Array[Float]],
    queries: Array[Array[Float]], dim: Int)

object Vectors {
  def read(dir: String): Vectors = {
    val meta = Files.readString(Paths.get(dir, "meta.json"))
    def field(k: String): Int =
      ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(meta)
        .getOrElse(throw new IllegalArgumentException(s"meta.json lacks $k"))
        .group(1).toInt
    val dim = field("dim")
    def load(name: String, n: Int): Array[Array[Float]] = {
      val bytes = Files.readAllBytes(Paths.get(dir, name))
      require(bytes.length == n.toLong * dim * 4,
        s"$name holds ${bytes.length} bytes, want ${n.toLong * dim * 4}")
      val fb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
      Array.fill(n) { val v = new Array[Float](dim); fb.get(v); v }
    }
    Vectors(load("base.f32", field("n")), load("queries.f32", field("q")), dim)
  }
}
