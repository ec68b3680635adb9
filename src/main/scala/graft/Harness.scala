package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the query-bank mains (`Bench`, `Verify`, `ExplainDump`) and
  * the spec fixture share: the one session factory, the between-query
  * reclaim, the `SPARK_GRAFT_ONLY` subset filter and the failure-reporting
  * timed count.
  */
private[graft] object Harness {

  /** The local session every harness runs on. `spark.local.dir` comes from
    * `SPARK_LOCAL_DIRS`, else `/dev/shm/graft-spark` (the JVM temp dir on a
    * host without `/dev/shm`). nanosAsLong and the UTC session zone are
    * what the DuckDB hash match depends on: events.parquet stores
    * TIMESTAMP(NANOS), which `EventStream.normalizeTs` and
    * `SparkEntry.tsNanos` read back as exact epoch longs.
    */
  def session(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between-query hygiene. Async unpersist is NOT enough: leftover
    * checkpoint blocks and their uncollected heap garbage race the next
    * query's materialization, and the degradation is progressive —
    * measured on the 10x corpus, an identical postings checkpoint ran
    * 24 s in a clean JVM, 291 s after one prior async-unpersisted run,
    * 87 s with blocking unpersist alone, and 23 s with blocking unpersist
    * plus an explicit gc. This is what produced the historical
    * "shared-run contention" outliers on string-heavy queries (they ran
    * late in the 290-query session).
    */
  def reclaim(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** `SPARK_GRAFT_ONLY=name1,name2` restricts a run to a subset; None runs
    * the whole bank.
    */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  def selected: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

  /** Seconds to `count()` one query, or the -1.0 sentinel when it throws:
    * the guard, the seed merge and the totals all skip non-positive
    * values, so a time-to-fail never enters the record.
    */
  def timedCount(spark: SparkSession, sfDir: String, name: String,
                 fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name FAILED: $e")
      -1.0
    }
  }
}
