package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed at-rest layout for NetworkFrames — the 100 TB deployment story
  * (SCALE.md): edges bucketed by `source` (and optionally a mirrored copy
  * bucketed by `target`) let every subgraph-induction semi-join,
  * effective-edge aggregation, and iterative message join reuse the bucket
  * partitioning instead of shuffling the edge table. Nodes bucket by `id`
  * so label joins co-locate too.
  *
  * Spark bucketing requires table-managed storage (`saveAsTable`); tables
  * land in the session's warehouse dir.
  *
  * `writeBucketed` shuffles the frame once before writing, so that each
  * task holds whole buckets and every bucket is one file. Without it every
  * input task writes its own file into every bucket it holds: input tasks ×
  * buckets files, which the write pays per file and every later scan pays
  * per file opened. The price is the exchange, and a write parallelism of
  * min(buckets, shuffle partitions) tasks whatever the input size.
  *
  * The default bucket count is the session's shuffle partition count
  * (`spark.sql.shuffle.partitions`, or AQE's initial partition number when
  * set). A sort-merge join or aggregation aligns every shuffled side to
  * max(buckets, shuffle partitions) partitions: with fewer buckets Spark
  * re-shuffles the bucketed side, with more every other side is shuffled
  * again to the bucket count after its own aggregation. Only equal counts
  * shuffle each side at most once. A count derived from the plan's size
  * estimate would not hold that (join estimates multiply), and measuring the
  * frame costs a pass over it. The trade: a session with thousands of
  * shuffle partitions writes even a small frame as that many files.
  */
object Storage {

  /** Persist bucketed: `<name>_nodes` bucketed by id, `<name>_edges`
    * bucketed by source, plus `<name>_edges_bytarget` when `mirror` —
    * the two-sided layout that kills the shuffle on whichever endpoint a
    * join needs. Each table holds one file per non-empty bucket.
    * `buckets` = 0 (the default) buckets at the session's shuffle partition
    * count.
    */
  def writeBucketed(nf: NetworkFrame, name: String, buckets: Int = 0,
                    mirror: Boolean = false): Unit = {
    require(buckets >= 0,
      s"buckets must be positive, or 0 for the session's shuffle partition count (got $buckets)")
    val spark = nf.nodes.sparkSession
    val catalog = spark.sessionState.catalog
    val partitions = spark.sessionState.conf.numShufflePartitions
    val numBuckets = if (buckets == 0) partitions else buckets
    val writers = math.min(numBuckets, partitions)
    def writeTable(df: DataFrame, table: String, key: String): Unit = {
      // A fresh session's in-memory catalog knows nothing about a warehouse
      // dir left behind by a previous JVM; saveAsTable would then fail with
      // LOCATION_ALREADY_EXISTS. Drop both the catalog entry and the stale
      // physical location before writing, both in the table's own database:
      // the current one unless the name qualifies it.
      val parsed = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val ident = parsed.copy(database = parsed.database.orElse(Some(catalog.getCurrentDatabase)))
      spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
      val location = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(ident))
      val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(location)) fs.delete(location, true)
      // Partition i of a hash repartition into `numBuckets` on the key is
      // exactly bucket i (the writer uses the same partitionIdExpression);
      // coalescing then hands each task whole buckets, one file each. No
      // more writers than shuffle partitions: the cost is per task as well
      // as per file, and a few tasks writing several buckets each beat one
      // task per bucket.
      df.repartition(numBuckets, col(key)).coalesce(writers)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, key).sortBy(key)
        .format("parquet").saveAsTable(ident.quotedString)
    }
    writeTable(nf.nodes, s"${name}_nodes", "id")
    writeTable(nf.edges, s"${name}_edges", "source")
    if (mirror) writeTable(nf.edges, s"${name}_edges_bytarget", "target")
  }

  /** Reload a bucketed NetworkFrame; joins on nodes.id / edges.source pick
    * up the bucket spec and skip their exchange.
    */
  def readBucketed(spark: SparkSession, name: String,
                   directed: Boolean = true): NetworkFrame =
    NetworkFrame(spark.table(s"${name}_nodes"), spark.table(s"${name}_edges"), directed)

  /** The target-bucketed mirror copy, when written. */
  def readEdgesByTarget(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_edges_bytarget")

  /** IVF at-rest layout: the embedding corpus partitioned by its coarse
    * cell column, so an ANN probe of cell c is a partition-pruned scan that
    * never touches the other cells' files (SCALE.md "store the corpus
    * partitioned by cell"). Plain directory-partitioned parquet — no
    * catalog dependency.
    */
  def writeCellPartitioned(df: DataFrame, path: String, cellCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cellCol).parquet(path)

  /** Scan a single IVF cell; the filter prunes at the partition level
    * (verify via PartitionFilters in the scan node).
    */
  def readCell(spark: SparkSession, path: String, cellCol: String,
               cell: Any): DataFrame =
    spark.read.parquet(path).filter(org.apache.spark.sql.functions.col(cellCol) === cell)

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative integer dimensions — sort/range-partition by this and
    * both dimensions cluster simultaneously, so min/max file statistics
    * prune scans filtered on EITHER column (the standard multi-dimensional
    * data-skipping layout; Delta/Iceberg expose the same curve). Built from
    * plain div/mod/multiply so it stays in whole-stage codegen and an
    * oracle can replay it textually.
    */
  def zorderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                bits: Int = 8): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftright}
    (0 until bits).map { j =>
      shiftright(x.cast("long"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
      shiftright(y.cast("long"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
    }.reduce(_ + _)
  }

  /** The same Morton interleave as SQL text (oracle mirror of zorderKey). */
  def zorderSql(x: String, y: String, bits: Int = 8): String =
    (0 until bits).map { j =>
      s"(($x // ${1L << j}) % 2) * ${1L << (2 * j)} + (($y // ${1L << j}) % 2) * ${1L << (2 * j + 1)}"
    }.mkString(" + ")
}
