package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Round-15 work: the two-level coarse->fine residual ANN channel (the
  * structurally different second channel the flat index's cost ledger
  * called for after the multi-index union measured as a dead end), the
  * failed-solo sentinel in Bench, and the integral-id gate on the Borůvka
  * driver-side union-find.
  */
class Round15Spec extends AnyFunSuite with SparkFixture {

  private def emb120 = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") < 120)

  // ---------------- two-level coarse->fine residual index ---------------

  test("two-level index with all coarse and fine cells probed equals the exact graph") {
    val e = emb120
    val n = e.count().toDouble
    val c1 = math.ceil(math.cbrt(n)).toInt
    // every coarse cell probed, pFine >= total fine cells (each coarse
    // cell holds <= ceil(sqrt(n)) fine seeds), mFine covering every seed:
    // the candidate set is all pairs, so the graph must be bit-exact
    val full = math.ceil(math.sqrt(n)).toInt * c1
    val exact = Similarity.mutualKnnGraph(e, "vec_id", "embedding", k = 5)
    val tl = Similarity.mutualKnnGraphTwoLevel(e, "vec_id", "embedding",
      k = 5, pCoarse = c1, pFine = full, mCoarse = 1, mFine = full)
    assert(tl.columns.toSeq == exact.columns.toSeq)
    assert(tl.exceptAll(exact).count() == 0, "extra edges")
    assert(exact.exceptAll(tl).count() == 0, "missing edges")
    assert(exact.count() > 0, "fixture must produce mutual edges")
  }

  test("two-level recall is monotone in pFine (superset candidates)") {
    val e = emb120
    val exact = Similarity.mutualKnnGraph(e, "vec_id", "embedding", k = 5)
    def hits(pFine: Int): Long =
      exact.join(Similarity.mutualKnnGraphTwoLevel(e, "vec_id", "embedding",
        k = 5, pCoarse = 3, pFine = pFine, mCoarse = 2, mFine = 2)
        .select("vec_a", "vec_b"), Seq("vec_a", "vec_b"), "left_semi").count()
    val h1 = hits(2); val h2 = hits(6); val h3 = hits(12)
    assert(h2 >= h1 && h3 >= h2, s"recall regressed in pFine: $h1 / $h2 / $h3")
  }

  test("two-level edges shared with the exact graph carry identical cos_q") {
    val e = emb120
    val tl = Similarity.mutualKnnGraphTwoLevel(e, "vec_id", "embedding",
      k = 5, pCoarse = 3, pFine = 8, mCoarse = 2, mFine = 2)
    val exact = Similarity.mutualKnnGraph(e, "vec_id", "embedding", k = 5)
    val joined = tl.as("t").join(exact.as("x"),
      col("t.vec_a") === col("x.vec_a") && col("t.vec_b") === col("x.vec_b"))
    assert(joined.filter(col("t.cos_q") =!= col("x.cos_q")).count() == 0)
    assert(joined.count() > 0)
  }

  test("two-level candidate count matches the channel's distinct pair set") {
    val e = emb120
    val n = Similarity.twoLevelCandidateCount(e, "vec_id", "embedding",
      pCoarse = 3, pFine = 8, mCoarse = 2, mFine = 2)
    assert(n > 0)
    // cost bound: never the full n^2 pair space
    val total = e.count()
    assert(n < total * (total - 1),
      s"two-level candidates ($n) must be bounded below all pairs")
  }

  // ---------------- scale-aware clustering channel cutover --------------

  test("channel cutover: every currently-gated corpus scale stays on the flat channel") {
    // sf0.01 (oracle), sf0.1 (bench), and both 10x variants (20k vectors,
    // cells=142) sit AT or inside the measured flat envelope — the cutover
    // must not move them, so oracle outputs and the recorded recall
    // history are bit-unchanged
    for (n <- Seq(200L, 2000L, 20000L, 20164L))
      assert(!SparkEntry.useTwoLevelChannel(n), s"n=$n must stay flat")
    // and the flat points at those scales are the round-14 law, untouched
    assert(SparkEntry.scaledClusterPoint(200L) == (6, 3))
    assert(SparkEntry.scaledClusterPoint(2000L) == (6, 3))
    assert(SparkEntry.scaledClusterPoint(20000L) == (13, 4))
  }

  test("channel cutover: past the flat envelope the two-level point scales by cbrt") {
    assert(SparkEntry.useTwoLevelChannel(20165L))
    assert(SparkEntry.useTwoLevelChannel(60000L))
    // continuous at the cutover: pFine starts at the grid-chosen 24
    assert(SparkEntry.scaledTwoLevelPoint(20165L) == (6, 24, 2, 2))
    // 30x realistic corpus (60k vectors): round(24 * cbrt(60000/20164))
    // = round(34.52) = 35 — round, not ceil, matching scaledTwoLevelPoint
    assert(SparkEntry.scaledTwoLevelPoint(60000L) == (6, 35, 2, 2))
    // monotone in n
    val pf = Seq(25000L, 60000L, 200000L, 2000000L)
      .map(SparkEntry.scaledTwoLevelPoint(_)._2)
    assert(pf == pf.sorted, s"pFine must be monotone: $pf")
  }

  // ---------------- cc-stream trigger width is output-invariant ---------

  test("runComponentsStream labels are identical at 1-file and 2-file triggers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // confluent min-label merging: HOW the staged chunks are grouped into
    // micro-batches cannot change the final label table — this is what
    // licenses the filesPerTrigger=2 default (half the per-batch machinery
    // cost, measured dominant at sf0.1; EventStream scaladoc)
    // MULTI-component graph (round-15 advice: the original users 100-104
    // x targets 0-6 graph collapsed to ONE component, so the 1-file ==
    // 2-file assertion could not catch a batch-grouping-dependent
    // labeling bug — every label was the same min id at any width).
    // Users 100/101 touch only targets {0,1,2}, users 200/201 only
    // {3,4,5}, user 300 only {6}: three components whose expected batch
    // fixpoint is asserted explicitly below.
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ftrig_spec").toString
    val ev = (0L until 28L).map { i =>
      val t = i % 7
      val u = if (t <= 2) 100L + i % 2 else if (t <= 5) 200L + i % 2 else 300L
      (i, u)
    }.toDF("event_id", "user_id")
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    def labels(ft: Int) = graft.streaming.EventStream
      .runComponentsStream(spark, dir, chunks = 4, everyNth = 1,
        targetMod = 7, s"cc_ftrig_$ft", filesPerTrigger = ft)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = labels(1)
    assert(one == labels(2), "trigger width must not change the label table")
    val expected = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 100L -> 0L, 101L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 200L -> 3L, 201L -> 3L,
      6L -> 6L, 300L -> 6L)
    assert(one == expected, "width-2 labels must equal the batch CC fixpoint")
  }

  // ---------------- Borůvka driver union-find: integral ids only --------

  test("minimumSpanningForest handles non-integral (string) node ids") {
    import spark.implicits._
    // a string-id contraction graph under the driver cap would previously
    // cast ids to null and NPE in the collect path; the integral-type gate
    // must route it to the type-agnostic distributed fixpoint
    val edges = Seq(
      ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 3.0),
      ("d", "e", 1.5), ("e", "f", 2.5), ("f", "d", 0.5)
    ).toDF("source", "target", "weight")
    val nodes = Seq("a", "b", "c", "d", "e", "f").toDF("id")
    val forest = GraphAlgorithms.minimumSpanningForest(NetworkFrame(nodes, edges))
    // two triangles -> 2 edges kept per component, heaviest cycle edge cut
    assert(forest.count() == 4)
    val wq = forest.select(sum("wq")).head.getLong(0)
    // MST picks: (a,b)=100,(b,c)=200 and (f,d)=50,(d,e)=150 -> 500 cents
    assert(wq == 500L, s"unexpected forest weight $wq")
  }

  test("minimumSpanningForest integral-id result is unchanged by the type gate") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 3.0))
      .toDF("source", "target", "weight")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val forest = GraphAlgorithms.minimumSpanningForest(NetworkFrame(nodes, edges))
    assert(forest.count() == 2)
    assert(forest.select(sum("wq")).head.getLong(0) == 300L)
  }
}
