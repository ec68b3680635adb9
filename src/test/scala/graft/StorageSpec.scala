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
                      "graft_spec_files_edges_bytarget")) {
      val files = new File(metadata(table).location).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.flatMap(BucketingUtils.getBucketId).sorted.toSeq == (0 until 8), table)
    }
    assert(metadata("graft_spec_files_edges_bytarget").bucketSpec
      .exists(b => b.numBuckets == 8 && b.bucketColumnNames == Seq("target")))
    val back = Storage.readBucketed(spark, "graft_spec_files")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(rows(back.nodes) == rows(nodes))
    assert(rows(back.edges) == rows(edges))
    assert(rows(Storage.readEdgesByTarget(spark, "graft_spec_files")) == rows(edges))
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
