package perfbench

import org.apache.spark.sql.SparkSession

import graft.{SharedState, SparkEntry, Tables}

/** `curation_rows`: one cold pass, in this fresh JVM, over the hot
  * data-curation rows of the `SparkEntry` contract on the fixed sf0.1
  * fixtures. Each row runs its full plan into parquet files, which the
  * checks then compare with the row's DuckDB oracle. Set-up (four
  * times, the first left out of the median) reads the fixture tables
  * the rows use and counts their rows. */
object Curation {
  val Rows: Seq[String] = Seq(
    "q_profile", "q_simhash", "q_quality_repetition", "q_stem_array",
    "q_pii_redact", "q_bm25_search")
  /** The fixture tables the rows read. */
  val Inputs: Seq[String] = Seq("lineitem", "documents")
  val SetupReps = 4

  def writeOracleSql(path: String): Unit = {
    val sqls = SparkEntry.oracleSql
    val body = Rows.map { q =>
      val sql = sqls.getOrElse(q, throw new NoSuchElementException(s"no oracle SQL for $q"))
      "\"" + q + "\":" + jsonString(sql)
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val tr = c.tracer
    val fx = c.fixtures.getOrElse(throw new IllegalArgumentException("--fixtures is required"))
    val queries = SparkEntry.queries
    val rowFns = Rows.map(q => q -> queries.getOrElse(q,
      throw new NoSuchElementException(s"no contract row $q")))

    val setups = (0 until SetupReps).map { _ =>
      Stats.timed(tr.span("setup.fixtures") {
        Inputs.foreach { t =>
          val n = Tables.load(spark, fx, t).count()
          require(n > 0, s"fixture table $t is empty")
        }
      })._2
    }
    Harness.log(s"set-ups: ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    val times = rowFns.map { case (q, fn) =>
      val s = Stats.timed(tr.span(s"row:$q") {
        fn(spark, fx).write.mode("overwrite").parquet(s"${c.out}/rows/$q")
      })._2
      Harness.log(f"$q: $s%.2f s")
      q -> s
    }
    val pass = times.map(_._2).sum
    c.res.attempted("row", Rows.length)
    c.res.endToEnd("setup_s", Stats.warmMedian(setups), "s")
    c.res.endToEnd("round_s", pass, "s")
    c.res.endToEnd("ops_per_s", Rows.length / pass, "1/s")
    c.res.detail("curation_pass_s", pass, "s")
    times.foreach { case (q, s) => c.res.detail(s"row.$q.s", s, "s") }

    tr match {
      case t: LiveTracer =>
        val w = t.subtreeWork()
        t.named("row:").foreach { s =>
          val q = s.name.stripPrefix("row:")
          val x = w.getOrElse(s.id, new SparkWork)
          c.res.layer(s"row.$q.s", s.wallMs / 1e3, "s")
          c.res.layer(s"row.$q.planning_ms", x.planningMs, "ms")
          c.res.layer(s"row.$q.executor_ms", x.runMs, "ms")
          c.res.layer(s"row.$q.tasks", x.tasks, "count")
          c.res.layer(s"row.$q.shuffle_bytes", x.shuffleWrite, "bytes")
          c.res.layer(s"row.$q.spill_bytes", x.spill, "bytes")
        }
        c.res.layer("sharedstate.entries", SharedState.entries.length, "count")
        c.res.layer("sharedstate.bytes", storedBytes(spark), "bytes")
      case _ =>
    }
  }

  /** Memory plus disk bytes of every persisted RDD (SharedState's
    * cached frames are the only ones in this run). */
  private def storedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
