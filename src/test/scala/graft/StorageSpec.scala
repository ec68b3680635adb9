package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class StorageSpec extends AnyFunSuite with SparkFixture {
  private def metadata(table: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  private def bucketFiles(table: String): Seq[Int] =
    new File(metadata(table).location).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).flatMap(BucketingUtils.getBucketId).sorted.toSeq

  /** Runs `body` with the given session confs, restoring them afterwards:
    * the fixture's session is shared by every spec.
    */
  private def withConf(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Writes a frame with the default bucket count, then checks that every
    * table has `partitions` buckets in one file each, and that the
    * read-back's degrees shuffle only the in-degree side, on `target`.
    * Broadcast joins are off so the joins sort-merge as they do at scale.
    */
  private def checkDefaultBuckets(name: String, partitions: Int): Unit =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val nodes = spark.range(200).select(col("id"), (col("id") % 5).as("segment"))
      val edges = spark.range(1200).select((col("id") % 197).as("source"),
        (col("id") * 7 % 199).as("target"))
      Storage.writeBucketed(NetworkFrame(nodes, edges), name, mirror = true)
      for (table <- Seq(s"${name}_nodes", s"${name}_edges", s"${name}_edges_bytarget")) {
        assert(metadata(table).bucketSpec.exists(_.numBuckets == partitions), table)
        assert(bucketFiles(table) == (0 until partitions), table)
      }
      val plan = Storage.readBucketed(spark, name).degrees().queryExecution.executedPlan.toString
      val exchanged = "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanged == Seq("target"), plan)
    }

  test("bucketed round-trip preserves the frame and carries the bucket spec") {
    val nf = simpleNf
    Storage.writeBucketed(nf, "graft_spec_bucketed", buckets = 4, mirror = true)
    val back = Storage.readBucketed(spark, "graft_spec_bucketed")
    assert(back.validate().numNodes == 4L && back.numEdges == 4L)
    assert(Storage.readEdgesByTarget(spark, "graft_spec_bucketed").count() == 4L)
    // the reloaded edge scan reports its bucket layout
    assert(metadata("graft_spec_bucketed_edges").bucketSpec
      .exists(b => b.numBuckets == 4 && b.bucketColumnNames == Seq("source")))
    // an aggregation on the bucket key plans without a shuffle exchange
    val agg = back.edges.groupBy("source").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(source"))
  }

  test("every bucketed table holds one file per bucket") {
    val nodes = spark.range(200).select(col("id"), (col("id") % 5).as("segment")).repartition(4)
    val edges = spark.range(1200).select((col("id") % 197).as("source"),
      (col("id") * 7 % 199).as("target"), col("id").as("weight")).repartition(4)
    assert(edges.rdd.getNumPartitions == 4)
    Storage.writeBucketed(NetworkFrame(nodes, edges), "graft_spec_files", buckets = 8, mirror = true)
    for (table <- Seq("graft_spec_files_nodes", "graft_spec_files_edges",
                      "graft_spec_files_edges_bytarget"))
      assert(bucketFiles(table) == (0 until 8), table)
    assert(metadata("graft_spec_files_edges_bytarget").bucketSpec
      .exists(b => b.numBuckets == 8 && b.bucketColumnNames == Seq("target")))
    val back = Storage.readBucketed(spark, "graft_spec_files")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(rows(back.nodes) == rows(nodes))
    assert(rows(back.edges) == rows(edges))
    assert(rows(Storage.readEdgesByTarget(spark, "graft_spec_files")) == rows(edges))
  }

  test("the default bucket count is the session's shuffle partition count") {
    checkDefaultBuckets("graft_spec_default", 4)
  }

  test("the default bucket count follows a changed shuffle partition count") {
    withConf("spark.sql.shuffle.partitions" -> "8") {
      checkDefaultBuckets("graft_spec_default8", 8)
    }
  }

  test("writing a name under another database leaves the current database's tables alone") {
    val nf = simpleNf
    Storage.writeBucketed(nf, "graft_spec_scoped", buckets = 2)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_spec_other")
    try {
      spark.catalog.setCurrentDatabase("graft_spec_other")
      Storage.writeBucketed(nf, "graft_spec_scoped", buckets = 2)
      spark.catalog.setCurrentDatabase("default")
      val back = Storage.readBucketed(spark, "graft_spec_scoped")
      assert(back.nodes.count() == 4L && back.edges.count() == 4L)
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP DATABASE IF EXISTS graft_spec_other CASCADE")
    }
  }
}
