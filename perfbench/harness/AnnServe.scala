package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path

import graft.ann.ShardCache
import graft.http.{CollectionServer, Collections}

/** `ann_serve`: the REST collection server in this JVM, driven over
  * HTTP on localhost.
  *
  * Set-up (four times; the last collection is served, the first, which
  * pays the JVM's start-up costs, is left out of the median): create a
  * collection, bulk-load the seeded base rows through `PUT` batches,
  * build an HNSW index (m=16, efc=128, ef=64) with `POST .../index`.
  *
  * Measured phase: one client's closed loop (the next request goes out
  * when the last reply is in) of whole rounds: an untimed first round,
  * then timed ones until the run's seconds are spent and at least 50
  * timed searches have been answered. A round is 9 k=10
  * searches for pool queries, then one read-your-write pair: a `PUT`
  * of a single new row and a search for its vector, which must return
  * that row at distance 0. The new vector is
  * (9 + j/2, 9, ..., 9) for the j-th pair, far from every base row,
  * so it never belongs in a pool query's top 10. */
object AnnServe {
  val K = 10
  val Ef = 64
  val SetupReps = 4
  val LoadBatch = 1500
  val SearchesPerRound = 9
  val MinSearches = 50 // p80 then has at least 10 samples beyond it

  final case class Call(status: Int, body: String, seconds: Double)

  def run(c: Ctx): Unit = {
    val v = Vectors.read(c.in)
    val tr = c.tracer
    val root = s"${c.out}/collections"
    val server = new CollectionServer(c.spark, root)
    val port = server.start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def call(method: String, path: String, body: String): Call = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      val t0 = System.nanoTime()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      val call = Call(resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e9)
      if (call.status != 200)
        throw new IllegalStateException(s"$method $path -> ${call.status}: ${call.body.take(300)}")
      call
    }
    try {
      def setup(name: String, index: String): Double = {
        call("POST", "/collections", s"""{"name":"$name"}""")
        val load = Stats.timed(tr.span("setup.load") {
          v.base.indices.grouped(LoadBatch).foreach { idx =>
            val body = idx.map(j => row(v.base(j), s"b$j")).mkString(",")
            tr.span("http.put")(call("PUT", s"/collections/$name", s"""{"rows":[$body]}"""))
          }
        })._2
        tr.span("setup.index")(call("POST", s"/collections/$name/index",
          s"""{"column":"vector","name":"$index","metric":"l2sq","m":16,""" +
            s""""ef_construction":128,"ef":$Ef}"""))
        load
      }
      val setups = (0 until SetupReps).map { i =>
        Stats.timed(tr.span("setup")(setup(s"c$i", s"vidx$i")))
      }
      Harness.log(s"set-ups: ${setups.map(x => f"${x._2}%.2f").mkString(" ")} s")
      val name = s"c${SetupReps - 1}"
      val indexPath = s"$root/$name/indexes/vidx${SetupReps - 1}"

      // (kind, round, query index or pair number, seconds, body)
      val log = ArrayBuffer[(String, Int, Int, Double, String)]()
      val roundSecs = ArrayBuffer[Double]()
      var pairs = 0
      var searched = 0
      val pool = v.queries.length
      def round(r: Int): Unit = {
        val r0 = System.nanoTime()
        (0 until SearchesPerRound).foreach { s =>
          val qi = (r * SearchesPerRound + s) % pool
          val res = tr.span("http.search")(search(call, name, v.queries(qi)))
          log += (("search", r, qi, res.seconds, res.body))
          if (r > 0) searched += 1
        }
        val j = pairs
        pairs += 1
        val w = farVector(j, v.dim)
        val ins = tr.span("http.insert")(
          call("PUT", s"/collections/$name", s"""{"rows":[${row(w, s"w$j")}]}"""))
        log += (("insert", r, j, ins.seconds, ins.body))
        val res = tr.span("http.search")(search(call, name, w))
        log += (("read_your_write", r, j, res.seconds, res.body))
        if (r > 0) roundSecs += (System.nanoTime() - r0) / 1e9
      }
      // round 0 pays the JVM's start-up costs on the search and insert
      // paths: checked, left out of the timings. Then timed rounds until
      // the run's seconds are spent and enough searches have been answered.
      tr.span("serve.warmup")(round(0))
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      tr.span("serve.loop") {
        var r = 1
        while (r == 1 || elapsed < c.seconds || searched < MinSearches) {
          round(r)
          r += 1
        }
      }
      val loopSecs = elapsed
      Harness.log(f"loop: $loopSecs%.1f s")

      val entries = log.toSeq
      val out = new StringBuilder
      entries.foreach { case (kind, r, i, s, body) =>
        out.append(s"$kind\t$r\t$i\t${s * 1e3}\t$body\n")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(c.out, "requests.tsv"), out)
      Seq("search", "insert", "read_your_write").foreach { k =>
        c.res.attempted(k, entries.count(_._1 == k)) }
      val timed = entries.filter(_._2 > 0)
      val searches = timed.filter(_._1 == "search").map(_._4 * 1e3)
      val inserts = timed.filter(_._1 == "insert").map(_._4 * 1e3)
      val rounds = roundSecs.toSeq

      c.res.endToEnd("setup_s", Stats.warmMedian(setups.map(_._2)), "s")
      c.res.endToEnd("round_s", Stats.median(rounds), "s")
      c.res.endToEnd("ops_per_s", timed.length / loopSecs, "1/s")
      c.res.detail("search_p50_ms", Stats.median(searches), "ms")
      c.res.detail("search_p80_ms", Stats.percentile(searches, 80), "ms")
      c.res.detail("search_qps",
        timed.count(_._1 != "insert") / loopSecs, "req/s")
      c.res.detail("insert_p50_ms", Stats.median(inserts), "ms")
      c.res.detail("load_rows_per_s",
        Stats.warmMedian(setups.map(s => v.base.length / s._1)), "rows/s")

      tr match {
        case t: LiveTracer => layers(c, t, call, root, name, indexPath, v)
        case _ =>
      }
    } finally server.stop()
  }

  /** JSON of one collection row; coordinates printed exactly. */
  def row(vec: Array[Float], data: String): String =
    vec.map(x => new java.math.BigDecimal(x.toDouble).toPlainString)
      .mkString(s"""{"data":"$data","vector":[""", ",", "]}")

  def farVector(j: Int, dim: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i == 0) 9.0f + 0.5f * j else 9.0f)

  private def search(call: (String, String, String) => Call, name: String,
      q: Array[Float]): Call = {
    val qv = q.map(x => new java.math.BigDecimal(x.toDouble).toPlainString).mkString(",")
    call("POST", s"/collections/$name/search",
      s"""{"column":"vector","query_vector":[$qv],"k":$K,"ef":$Ef,"select":"id,data"}""")
  }

  /** Per-layer metrics, from direct calls made one after the other
    * once the loop has ended (traced runs only). */
  private def layers(c: Ctx, t: LiveTracer, call: (String, String, String) => Call,
      root: String, name: String, indexPath: String, v: Vectors): Unit = {
    val spark = c.spark
    val sample = v.queries.take(AnnProbe.Nested)
    val gaps = sample.map { q =>
      val http = Stats.timed(t.span("probe.http")(search(call, name, q)))._2
      val coll = Stats.timed(t.span("probe.collections") {
        Collections.search(spark, root, name, Collections.SearchRequest(
          "vector", q, "l2sq", Some(Seq("id", "data")), K, Ef)).collect()
      })._2
      val topk = Stats.timed(t.span("probe.topk") {
        graft.ann.AnnIndex.topK(spark, indexPath, q, K, Ef).collect()
      })._2
      ((http - coll) * 1e3, (coll - topk) * 1e3)
    }
    c.res.layer("http.self_ms", Stats.median(gaps.map(_._1).toSeq), "ms")
    c.res.layer("collections.self_ms", Stats.median(gaps.map(_._2).toSeq), "ms")
    AnnProbe.searchLayers(c, indexPath, v.queries)
    val base = 1000000 // pair numbers of these rows stay clear of the loop's
    val ins = (0 until 5).map { j =>
      Stats.timed(t.span("probe.insert") {
        Collections.insert(spark, root, name,
          Seq(row(farVector(base + j, v.dim), s"p$j")))
      })._2 * 1e3
    }
    c.res.layer("collections.insert_ms", Stats.median(ins), "ms")
    val dataDir = new Path(s"$root/$name/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    c.res.layer("collections.data_files",
      fs.listStatus(dataDir).count(_.getPath.getName.endsWith(".parquet")), "count")
    val w = t.subtreeWork()
    val builds = t.named("setup.index").map(s => w.getOrElse(s.id, new SparkWork))
    c.res.layer("hnsw.build_task_ms_sum", Stats.median(builds.map(_.runMs.toDouble)), "ms")
    c.res.layer("hnsw.build_task_ms_max", Stats.median(builds.map(_.maxTaskMs.toDouble)), "ms")
    c.res.layer("shardcache.bytes", ShardCache.cachedBytes, "bytes")
  }
}
