package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + the reference's golden fixture
  * (tests/test_networkframe.py:13-34, FIXTURES.md §A1).
  */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  import spark.implicits._

  /** A1: 4 nodes (A,B,C,D), 4 edges A->B, A->C, B->C, C->D. */
  def simpleNf: NetworkFrame = {
    val nodes = Seq(("A", "red", 1L), ("B", "blue", 2L), ("C", "blue", 3L), ("D", "red", 4L))
      .toDF("id", "color", "size")
    val edges = Seq(("A", "B", 1L), ("A", "C", 2L), ("B", "C", 3L), ("C", "D", 4L))
      .toDF("source", "target", "weight")
    NetworkFrame(nodes, edges)
  }

  /** Two weak components (0-1-2 cycle, 3-4 pair) + isolated node 5. */
  def twoCompNf: NetworkFrame = {
    val nodes = (0L to 5L).map(i => (i, i * 10.0)).toDF("id", "feat")
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0), (3L, 4L, 2.0))
      .toDF("source", "target", "weight")
    NetworkFrame(nodes, edges)
  }
}

object SparkFixture {
  lazy val session: SparkSession = Harness.session(cores = 4)
}

class NetworkFrameSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("construction + validate passes on the golden fixture") {
    assert(simpleNf.validate().numNodes == 4L) // test_networkframe.py:37-39,57
  }

  test("validate rejects edges referencing missing node ids") {
    val nf = simpleNf
    val bad = nf.copy(edges = nf.edges.union(Seq(("A", "Z", 9L)).toDF("source", "target", "weight")))
    intercept[IllegalArgumentException](bad.validate()) // test_networkframe.py:42-46
  }

  test("validate rejects non-unique node ids") {
    val nf = simpleNf
    val bad = nf.copy(nodes = nf.nodes.union(Seq(("A", "green", 9L)).toDF("id", "color", "size")))
    intercept[IllegalArgumentException](bad.validate()) // test_networkframe.py:49-54
  }

  test("queryNodes filters nodes and induces edges") {
    val sub = simpleNf.queryNodes("color = 'red'") // test_networkframe.py:61-62
    assert(sub.numNodes == 2L)
    assert(sub.numEdges == 0L) // A and D share no edge
  }

  test("queryEdges filters edges, keeps all nodes") {
    val sub = simpleNf.queryEdges("weight > 2") // test_networkframe.py:65-67
    assert(sub.numEdges == 2L)
    assert(sub.numNodes == 4L) // isolated nodes retained (README.md:70-79)
  }

  test("queryNodes @param binding") {
    val sub = simpleNf.queryNodes("color = @c", Map("c" -> "blue"))
    assert(sub.numNodes == 2L)
    assert(sub.numEdges == 1L) // only B->C survives
  }

  test("removeNodes re-induces edges") {
    val sub = simpleNf.removeNodes(Seq("C").toDF("id"))
    assert(sub.numNodes == 3L && sub.numEdges == 1L) // only A->B left
  }

  test("removeEdges drops ALL duplicates of a removed key") {
    val nf = simpleNf
    val multi = nf.copy(edges = nf.edges.union(Seq(("A", "B", 99L)).toDF("source", "target", "weight")))
    val out = multi.removeEdges(Seq(("A", "B")).toDF("source", "target"))
    assert(out.numEdges == 3L) // both A->B rows gone (networkframe.py:250-257)
  }

  test("addNodes/addEdges append without dedup") {
    val nf = simpleNf
    val out = nf.addNodes(Seq(("E", "green", 5L)).toDF("id", "color", "size"))
      .addEdges(Seq(("A", "B", 1L)).toDF("source", "target", "weight"))
    assert(out.numNodes == 5L && out.numEdges == 5L)
  }

  test("reindexNodes introduces null rows for missing ids and re-induces") {
    val out = simpleNf.reindexNodes(Seq("A", "B", "Z").toDF("id"))
    assert(out.numNodes == 3L)
    assert(out.nodes.filter(col("color").isNull).count() == 1L)
    assert(out.numEdges == 1L) // A->B
  }

  test("removeUnusedNodes drops isolated nodes") {
    val nf = simpleNf.queryEdges("weight >= 3") // B->C, C->D
    assert(nf.removeUnusedNodes().numNodes == 3L)
  }

  test("loc is rectangular source x target selection") {
    val out = simpleNf.loc(Seq("A", "B").toDF("id"), Seq("C").toDF("id"))
    assert(out.numEdges == 2L) // A->C, B->C (networkframe.py:1585-1587)
    assert(out.numNodes == 3L) // union of both sides, deduped
  }

  test("applyNodeFeatures stamps source_/target_ columns via broadcast join") {
    val e = simpleNf.applyNodeFeatures(Seq("color"), "both").edges
    val row = e.filter(col("source") === "A" && col("target") === "C").first()
    assert(row.getAs[String]("source_color") == "red")
    assert(row.getAs[String]("target_color") == "blue")
  }

  test("effectiveEdges dedups multi-edges") {
    val nf = simpleNf
    val multi = nf.copy(edges = nf.edges.union(Seq(("A", "B", 10L)).toDF("source", "target", "weight")))
    val eff = multi.effectiveEdges(Some("weight"), "sum")
    assert(eff.count() == 4L)
    assert(eff.filter(col("source") === "A" && col("target") === "B").first().getAs[Long]("weight") == 11L)
  }

  test("condense builds the quotient graph") {
    val q = simpleNf.condense("color", "size")
    assert(q.numNodes == 2L)
    // blocks: red->blue (A->B, A->C), blue->blue (B->C), blue->red (C->D)
    val m = q.edges.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("red", "blue") -> 2L, ("blue", "blue") -> 1L, ("blue", "red") -> 1L))
  }

  test("applyEdgesExpr accepts arbitrary aggregate expressions") {
    val g = simpleNf.groupbyNodes("color")
    val m = g.applyEdgesExpr(max(col("weight")) - min(col("weight")), "range")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("red", "blue")) == 1L) // A->B(1), A->C(2)
    assert(g.nGroups() == 4L && g.groupKeys.count() == 2L)
  }

  test("nodeAgreement is the membership fraction") {
    val a = simpleNf
    val b = simpleNf.queryNodes("color = 'blue'")
    assert(a.nodeAgreement(b).first().getDouble(0) == 0.5)
  }

  test("degrees covers isolated nodes with zero") {
    val d = twoCompNf.degrees()
    assert(d.filter(col("id") === 5L).first().getAs[Long]("degree") == 0L)
    assert(d.filter(col("id") === 0L).first().getAs[Long]("degree") == 2L)
  }

  test("toAdjacency pivots with explicit values") {
    val adj = simpleNf.toAdjacency("weight", Seq("A", "B", "C", "D"))
    val a = adj.filter(col("source") === "A").first()
    assert(a.getAs[Long]("B") == 1L && a.getAs[Long]("C") == 2L && a.getAs[Long]("D") == 0L)
  }

  test("toSparseAdjacencyCoo uses positional codes in id order") {
    val coo = simpleNf.toSparseAdjacencyCoo(Some("weight"), "sum").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(coo == Map((0L, 1L) -> 1L, (0L, 2L) -> 2L, (1L, 2L) -> 3L, (2L, 3L) -> 4L))
  }
}
