package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into the library, plus Spark work
  * attributed to them. A span is (id, parent, name, start, end); spans
  * stay in memory and are written out once, when the run ends.
  *
  * Attribution: a span sets the Spark local property `perfbench.span`
  * on its thread, so every job that thread submits carries the span id;
  * the listener maps job -> stages -> tasks back to it. Jobs without the
  * property (submitted by the HTTP server's handler threads) and each
  * finished query's `QueryPlanningTracker` phase time go to the
  * innermost span whose interval holds their start. With tracing off
  * every call is a no-op. */
sealed trait Tracer {
  def span[T](name: String)(f: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(f: => T): T = f
  }
  val PropKey = "perfbench.span"
}

final case class Span(id: Long, parent: Long, name: String, thread: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spark counters for one span (and, summed, for a subtree). */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var maxTaskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var planningMs = 0.0
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; planningMs += o.planningMs
  }
}

final class LiveTracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Tracer {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  // (first phase start ms, summed phase ms) per finished query
  private val planning = new ConcurrentLinkedQueue[(Long, Double)]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val prevProp = sc.getLocalProperty(Tracer.PropKey)
    stack.set(id :: outer)
    sc.setLocalProperty(Tracer.PropKey, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, outer.headOption.getOrElse(0L), name,
        Thread.currentThread().getName, t0, t1, ms0,
        System.currentTimeMillis()))
      stack.set(outer)
      sc.setLocalProperty(Tracer.PropKey, prevProp)
    }
  }

  // job -> (span from the local property or 0, submit ms, stage ids);
  // stage -> counters. Jobs a server thread submits carry no property
  // and are matched to spans by time when the totals are taken.
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stageWork = new ConcurrentHashMap[Int, SparkWork]()

  private def stage(id: Int): SparkWork =
    stageWork.computeIfAbsent(id, _ => new SparkWork)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val span = Option(js.properties)
      .flatMap(p => Option(p.getProperty(Tracer.PropKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(js.jobId, (span, js.time, js.stageIds))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val w = stage(sc.stageInfo.stageId)
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m == null) return
    val w = stage(te.stageId)
    w.synchronized {
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planning.add((phases.map(_.startTimeMs).min,
        phases.map(_.durationMs.toDouble).sum))
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Per-span totals over each span's whole subtree; key 0 = the run. */
  def subtreeWork(): Map[Long, SparkWork] = {
    drain()
    val all = spans.asScala.toSeq
    val innermost = (ms: Long) => all
      .filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(0L)
    val own = scala.collection.mutable.Map[Long, SparkWork]()
    def of(span: Long) = own.getOrElseUpdate(span, new SparkWork)
    val claimed = scala.collection.mutable.Set[Int]()
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, (prop, ms, stageIds)) =>
      val w = of(if (prop != 0L) prop else innermost(ms))
      w.jobs += 1
      stageIds.filter(claimed.add).foreach { s =>
        Option(stageWork.get(s)).foreach(w.add)
      }
    }
    planning.asScala.foreach { case (ms, d) => of(innermost(ms)).planningMs += d }
    val parent = all.map(s => s.id -> s.parent).toMap
    val total = scala.collection.mutable.Map[Long, SparkWork]()
    own.foreach { case (id, w) =>
      var cur = id
      while (cur != 0L) {
        total.getOrElseUpdate(cur, new SparkWork).add(w)
        cur = parent.getOrElse(cur, 0L)
      }
      total.getOrElseUpdate(0L, new SparkWork).add(w)
    }
    total.toMap
  }

  def named(prefix: String): Seq[Span] =
    spans.asScala.toSeq.filter(_.name.startsWith(prefix)).sortBy(_.startNs)

  def writeSpans(path: String): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
        s""""thread":"${esc(s.thread)}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
