package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-7 specs: ANF KMV sketch propagation and the directed triad
  * closure census.
  */
class Round7Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("neighborhoodFunction sketches are monotone and converge per component") {
    // triangle 1-2-3 (diameter 1) + isolated node 9
    val nodes = Seq(1L, 2L, 3L, 9L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("source", "target")
    val g = NetworkFrame(nodes, edges)
    val rows = GraphAlgorithms.neighborhoodFunction(g, rounds = 3, trials = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.size == 12)
    // per node: kmv_sum non-increasing in k (balls only grow, mins only drop)
    for (id <- Seq(1L, 2L, 3L, 9L)) {
      assert(rows((id, 1L)) >= rows((id, 2L)))
      assert(rows((id, 2L)) >= rows((id, 3L)))
    }
    // the triangle has diameter 1: every member's ball is the whole
    // component from k=1 on, so all three share one sketch at every k
    for (k <- 1L to 3L)
      assert(Set(rows((1L, k)), rows((2L, k)), rows((3L, k))).size == 1)
    // the isolated node's ball never grows beyond itself
    assert(rows((9L, 1L)) == rows((9L, 3L)))
    // connected vs isolated sketches differ (4 trials, min over 3 seeds
    // vs a single seed — equal sums would mean a hash collision)
    assert(rows((1L, 1L)) != rows((9L, 1L)))
  }

  test("ivfPqSearch plans with no cartesian product beyond the broadcast probe") {
    import graft.functions.Similarity
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val plan = Similarity.ivfPqSearch(df, "vec_id", "embedding", "label",
        m = 2, dims = 4, k = 1, nprobe = 1)
      .queryExecution.executedPlan.toString
    // the only all-pairs structure allowed is the vector x codebook-row
    // broadcast (cells, not vectors); the fine stage joins on the probed
    // cell and scores in-row, so no join is keyed on a code
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    val joinKeys = """Join \[([^\]]*)\], \[([^\]]*)\]""".r
      .findAllMatchIn(plan).flatMap(mt => Seq(mt.group(1), mt.group(2))).toSeq
    assert(joinKeys.nonEmpty && joinKeys.forall(_.startsWith("cell#")), plan.take(1200))
  }

  test("knContinuation counts bigram types, not token frequency") {
    import graft.functions.TextAnalysis
    // "b" follows two distinct lefts (a, c) even though "a b" repeats 3x;
    // "c" follows only "b" once. Bigram TYPES: (a,b) (c,b) (b,c) -> tt=3
    val df = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a b c b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knContinuation(df, "doc_id", "text")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("b") == ((2L, 1L, 666666L)))  // 2 left types, 1 right type
    assert(got("c") == ((1L, 1L, 333333L)))
    assert(got("a") == ((0L, 1L, 0L)))       // never ends a bigram
  }

  test("TPC-H analog plans broadcast the dimension chain, never a cartesian") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    for (q <- Seq("q3_shipping", "q5_supplier", "q10_returns")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"), s"$q: ${plan.take(400)}")
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(400)}")
    }
  }

  test("boundedHitting computes the exact quantized absorbing-walk DP") {
    // 1 -> {2, 4}, 2 -> 3 (target), 4 is a dead end
    val nodes = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (1L, 4L), (2L, 3L)).toDF("source", "target")
    val targets = Seq(3L).map(Tuple1(_)).toDF("id")
    val got = GraphAlgorithms.boundedHitting(
        NetworkFrame(nodes, edges), targets, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // p1: node2 = 1e6 (its only successor is the target); p2:
    // node1 = (p1(2) + p1(4)) DIV 2 = (1e6 + 0) DIV 2
    assert(got == Map(1L -> 500000L, 2L -> 1000000L, 3L -> 1000000L,
      4L -> 0L))
  }

  test("sourceOverlapSketch is exact when groups fit inside the sketch") {
    import graft.functions.Dedup
    val df = Seq(
      ("a", "shared one"), ("a", "only a1"), ("a", "only a2"),
      ("b", "shared one"), ("b", "only b1"),
      ("c", "only c1"))
      .toDF("source", "text")
    val got = Dedup.sourceOverlapSketch(df, "source", "text", k = 32)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    // sketches hold every hash (k=32 > group sizes) -> theta = 2^32 and the
    // estimate collapses to the exact duplicate-overlap count
    assert(got(("a", "b")) == ((1L, 1L)))
    assert(got(("a", "c")) == ((0L, 0L)))
    assert(got(("b", "c")) == ((0L, 0L)))
  }

  test("triadCensus separates cyclic from transitive closure") {
    // one directed 3-cycle on {1,2,3}; one transitive triple on {4,5,6}
    val nodes = (1L to 6L).map(Tuple1(_)).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("source", "target")
    val r = GraphAlgorithms.triadCensus(NetworkFrame(nodes, edges))
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 1L)))
  }

  test("ivfPqSearch ranks by exact ADC distance with deterministic ties") {
    import graft.functions.Similarity
    // two cells of identical vectors: codes collapse to the cell id, so the
    // ADC table is fully predictable — same-cell candidates at distance 0
    // (id tie-break), cross-cell at the exact quantized ||a-b||^2 = 2e14
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val df = Seq(
      (1L, a, 0), (2L, a, 0), (3L, a, 0),
      (11L, b, 1), (12L, b, 1), (13L, b, 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfPqSearch(df, "vec_id", "embedding", "label",
        m = 2, dims = 4, k = 3, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getLong(3)))
      .toMap
    assert(got((1L, 1)) == ((2L, 0L)))
    assert(got((1L, 2)) == ((3L, 0L)))
    assert(got((1L, 3)) == ((11L, 200000000000000L)))
    assert(got((11L, 1)) == ((12L, 0L)))
    assert(got((11L, 3)) == ((1L, 200000000000000L)))
    // every query gets exactly k ranked rows
    assert(got.size == 18)
  }

  test("triadCensus counts a fully-reciprocal triangle once per orientation") {
    val nodes = (1L to 3L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L))
      .toDF("source", "target")
    val r = GraphAlgorithms.triadCensus(NetworkFrame(nodes, edges))
      .collect().head
    // both rotations are 3-cycles; every ordered pair of composable edges
    // with the closing edge present is transitive: 6 role assignments
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 6L)
  }
}
