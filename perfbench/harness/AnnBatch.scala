package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path

import graft.ann.{AnnIndex, IvfIndex, ShardCache}

/** `ann_batch`: build an HNSW index (m=16, efc=128, one shard per core)
  * and an IVF index (library defaults: 64 cells) over the seeded base
  * vectors, then answer the whole query set with each index's batch
  * k-NN join (k=10; HNSW ef=64, IVF nprobe=4). Set-up (repeated three
  * times) ingests the generated vectors into parquet tables; the
  * measured phase repeats whole build+join rounds until the run's
  * seconds are spent, at least four. Medians over set-ups and rounds
  * leave out the first, which pays the JVM's start-up costs; its
  * outputs are checked all the same. */
object AnnBatch {
  val K = 10
  val Ef = 64
  val Nprobe = 4
  val MinRounds = 4
  val SetupReps = 3

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.tracer
    val v = Vectors.read(c.in)
    val work = s"${c.out}/work"
    val nq = v.queries.length

    def ingest(dir: String, base: Array[Array[Float]], qs: Array[Array[Float]]): Unit = {
      base.indices.map(j => (j.toLong, base(j).toSeq)).toDF("id", "vec")
        .repartition(c.nproc).write.parquet(s"$dir/base")
      qs.indices.map(j => (j.toLong, qs(j).toSeq)).toDF("qid", "vec")
        .repartition(c.nproc).write.parquet(s"$dir/queries")
      val n = spark.read.parquet(s"$dir/base").count()
      require(n == base.length, s"ingested $n of ${base.length} rows")
    }
    val setups = (0 until SetupReps).map { i =>
      Stats.timed(tr.span("setup.ingest")(ingest(s"$work/in_$i", v.base, v.queries)))._2
    }
    Harness.log(s"set-ups: ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    val base = spark.read.parquet(s"$work/in_${SetupReps - 1}/base")
    val queries = spark.read.parquet(s"$work/in_${SetupReps - 1}/queries")

    // (hnsw build, ivf build, hnsw join, ivf join) seconds per round
    val rounds = ArrayBuffer[(Double, Double, Double, Double)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (rounds.length < MinRounds || elapsed < c.seconds) {
      val r = rounds.length
      val hp = s"$work/hnsw_$r"
      val ip = s"$work/ivf_$r"
      val hb = Stats.timed(tr.span("hnsw.build") {
        AnnIndex.build(base, "id", "vec", hp,
          AnnIndex.Params(m = 16, efConstruction = 128, numShards = c.nproc))
      })._2
      val ib = Stats.timed(tr.span("ivf.build") {
        IvfIndex.build(base, "id", "vec", ip)
      })._2
      val (hrows, hj) = Stats.timed(tr.span("hnsw.join") {
        AnnIndex.topKJoin(queries, "qid", "vec", hp, K, Ef).collect()
      })
      val (irows, ij) = Stats.timed(tr.span("ivf.join") {
        IvfIndex.topKJoin(queries, "qid", "vec", ip, K, Nprobe).collect()
      })
      writeJoin(s"${c.out}/hnsw_$r.tsv", hrows)
      writeJoin(s"${c.out}/ivf_$r.tsv", irows)
      rounds += ((hb, ib, hj, ij))
      Harness.log(f"round $r: hnsw build $hb%.2f ivf build $ib%.2f hnsw join $hj%.2f ivf join $ij%.2f s")
      if (r > 0) dropIndexes(c, s"$work/hnsw_${r - 1}", s"$work/ivf_${r - 1}")
    }
    val last = rounds.length - 1
    c.res.attempted("hnsw_build", rounds.length)
    c.res.attempted("ivf_build", rounds.length)
    c.res.attempted("hnsw_join", rounds.length)
    c.res.attempted("ivf_join", rounds.length)

    val med = (f: ((Double, Double, Double, Double)) => Double) =>
      Stats.warmMedian(rounds.toSeq.map(f))
    c.res.endToEnd("setup_s", Stats.warmMedian(setups), "s")
    c.res.endToEnd("round_s", med(r => r._1 + r._2 + r._3 + r._4), "s")
    c.res.endToEnd("ops_per_s", med(r => 2.0 * nq / (r._3 + r._4)), "1/s")
    c.res.detail("hnsw_build_s", med(_._1), "s")
    c.res.detail("ivf_build_s", med(_._2), "s")
    c.res.detail("hnsw_join_qps", med(r => nq / r._3), "queries/s")
    c.res.detail("ivf_join_qps", med(r => nq / r._4), "queries/s")

    tr match {
      case t: LiveTracer =>
        val hp = s"$work/hnsw_$last"
        AnnProbe.searchLayers(c, hp, v.queries)
        val w = t.subtreeWork()
        def medWork(span: String)(f: SparkWork => Double): Double =
          Stats.warmMedian(t.named(span).map(s => f(w.getOrElse(s.id, new SparkWork))))
        c.res.layer("hnsw.build_task_ms_sum", medWork("hnsw.build")(_.runMs), "ms")
        c.res.layer("hnsw.build_task_ms_max", medWork("hnsw.build")(_.maxTaskMs), "ms")
        c.res.layer("ivf.build_jobs", medWork("ivf.build")(_.jobs), "count")
        c.res.layer("ivf.build_task_ms_sum", medWork("ivf.build")(_.runMs), "ms")
        c.res.layer("ivf.join_jobs", medWork("ivf.join")(_.jobs), "count")
        c.res.layer("ivf.join_shuffle_bytes",
          medWork("ivf.join")(x => x.shuffleWrite), "bytes")
        c.res.layer("ivf.join_task_ms_sum", medWork("ivf.join")(_.runMs), "ms")
        c.res.layer("shardcache.bytes", ShardCache.cachedBytes, "bytes")
      case _ =>
    }
  }

  private def writeJoin(path: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
    val sb = new StringBuilder
    rows.foreach { r =>
      sb.append(r.getLong(0)).append('\t').append(r.getLong(1)).append('\t')
        .append(java.lang.Double.toString(r.getDouble(2))).append('\t')
        .append(r.getInt(3)).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb)
  }

  private def dropIndexes(c: Ctx, paths: String*): Unit = paths.foreach { p =>
    ShardCache.invalidate(p)
    val hp = new Path(p)
    hp.getFileSystem(c.spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }
}

/** Per-layer timings of one k-NN search, from direct calls made one
  * after the other on one thread (traced runs only). */
object AnnProbe {
  val Sample = 200
  val Nested = 20

  /** hnsw.search_us (per query per shard, single thread) and
    * ann.topk_self_ms (AnnIndex.topK minus the direct shard searches),
    * on the index at `indexPath`. */
  def searchLayers(c: Ctx, indexPath: String, queries: Array[Array[Float]]): Unit = {
    val man = AnnIndex.readManifest(indexPath)
    val graphs = man.shards.map(s => ShardCache.get(s"$indexPath/$s"))
    val sample = queries.take(Sample)
    def direct(q: Array[Float]): Unit =
      graphs.foreach(_.search(q, AnnBatch.K, AnnBatch.Ef))
    sample.foreach(direct) // warm
    val loop = Stats.timed(c.tracer.span("hnsw.search_loop") {
      sample.foreach(direct)
    })._2
    c.res.layer("hnsw.search_us", loop * 1e6 / (sample.length * graphs.length), "us")
    val self = sample.take(Nested).map { q =>
      val topk = Stats.timed(c.tracer.span("ann.topk") {
        graft.ann.AnnIndex.topK(c.spark, indexPath, q, AnnBatch.K, AnnBatch.Ef)
          .collect()
      })._2
      val d = Stats.timed(direct(q))._2
      (topk - d) * 1e3
    }
    c.res.layer("ann.topk_self_ms", Stats.median(self.toSeq), "ms")
  }
}
