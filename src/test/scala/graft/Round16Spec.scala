package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Round-16 work: the bounded bench summary line (round 15's official
  * record lost its totals to the driver's 2,000-char stdout tail), the
  * 2.5x streaming trigger, the zero-norm-safe cosine unification, and the
  * oracle-gated two-level channel (q_doc_clusters_2l).
  */
class Round16Spec extends AnyFunSuite with SparkFixture {

  // ---------------- bounded bench summary line ---------------------------

  test("summaryLine stays under the driver tail budget at worst-case volume") {
    // round-15 shape and worse: 312 queries with long names, 10 outliers,
    // 58 seed-ratio rows — the exact overflow that shipped "parsed": null
    val results = (1 to 312).map(i => f"q_very_long_query_name_$i%03d" -> i * 3.14159).toMap
    val outliers = (1 to 10).map(i => f"q_very_long_query_name_$i%03d")
    val ratios = (1 to 58).map(i => f"q_very_long_query_name_$i%03d" -> (1.5 + i * 0.1)).toMap
    val line = BenchGuard.summaryLine(results, outliers, ratios,
      "/root/testdata/sf0.1", "/tmp/bench.json")
    assert(line.length < 1900, s"summary line ${line.length} chars would outgrow the tail")
    // parseable, and carries the fields a tail-window consumer needs
    val parsed = BenchGuard.parseQueries(line)
    assert(parsed.size == 10, "top-10 queries must be present and parseable")
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"n\":312"))
    assert(line.contains("\"n_outliers\":10"))
    assert(line.contains("\"n_seed_ratios\":58"))
    assert(line.contains("\"file\":\"/tmp/bench.json\""))
  }

  test("summaryLine total matches the full result sum") {
    val results = Map("q_a" -> 1.25, "q_b" -> 2.5)
    val line = BenchGuard.summaryLine(results, Nil, Map.empty, "sf", "f")
    assert(line.contains("\"value\":3.750"))
    assert(line.contains("\"n_outliers\":0"))
  }

  test("a failed query's -1.0 sentinel stays out of the total, the guard and the seed") {
    val results = Map("q_a" -> 1.25, "q_b" -> 2.5, "q_fail" -> -1.0)
    val line = BenchGuard.summaryLine(results, Nil, Map.empty, "sf", "f")
    assert(line.contains("\"value\":3.750"))
    assert(line.contains("\"n\":3"))
    assert(line.contains("\"n_failed\":1"))
    assert(BenchGuard.suspects(results.toSeq, Map("q_fail" -> 0.01), floorSec = 0.0).isEmpty)
    assert(BenchGuard.mergeSeed(Map("q_fail" -> 2.0), results) ==
      Map("q_a" -> 1.25, "q_b" -> 2.5, "q_fail" -> 2.0))
  }

  // ---------------- zero-norm-safe cosine on both channels ---------------

  private def corpusWithZero = {
    import spark.implicits._
    // 40 deterministic unit-ish vectors + one exact zero vector: before
    // the round-16 unification the flat/coarse ranks divided by a zero
    // norm and produced NaN sims, and NaN sorts ABOVE every real sim in a
    // descending Spark order — the zero vector would have topped every
    // probe rank it touched
    (0L until 40L).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
      .unionByName(Seq((99L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
  }

  test("flat KMV channel: a zero-norm corpus vector neither throws nor forms positive edges") {
    val g = Similarity.mutualKnnGraphKmv(corpusWithZero, "vec_id", "embedding",
      k = 3, nprobe = 2, massign = 2).cache()
    // zero vector matches nothing: any edge it appears on scores exactly 0
    assert(g.filter((col("vec_a") === 99L || col("vec_b") === 99L) &&
      col("cos_q") =!= 0L).count() == 0)
    assert(g.count() > 0, "the nonzero corpus must still form edges")
  }

  test("two-level channel: a zero-norm corpus vector neither throws nor forms positive edges") {
    val g = Similarity.mutualKnnGraphTwoLevel(corpusWithZero, "vec_id",
      "embedding", k = 3, pCoarse = 2, pFine = 4, mCoarse = 2, mFine = 2).cache()
    assert(g.filter((col("vec_a") === 99L || col("vec_b") === 99L) &&
      col("cos_q") =!= 0L).count() == 0)
    assert(g.count() > 0, "the nonzero corpus must still form edges")
  }

  // ---------------- oracle-gated two-level query -------------------------

  test("q_doc_clusters_2l runs the cutover operating point and is deterministic") {
    val q = SparkEntry.queries("q_doc_clusters_2l")
    val r1 = q(spark, "/root/testdata/sf0.001").collect()
    val r2 = q(spark, "/root/testdata/sf0.001").collect()
    assert(r1.nonEmpty, "the two-level gate must produce edges")
    assert(r1.toSeq == r2.toSeq, "the gated two-level graph must be deterministic")
    // and the gated point IS the cutover point the shipping law starts at
    assert(SparkEntry.scaledTwoLevelPoint(20165L) == (6, 24, 2, 2))
  }

  // ---------------- fixpoint convergence probe dispatch ------------------

  test("string-id graphs converge through the join-probe fallback") {
    // the round-16 monotone-sum convergence probe only applies to numeric
    // label types; a string-id graph must route through the join probe in
    // BOTH the weak-label and the SCC coloring fixpoints and still produce
    // min-id labels
    import spark.implicits._
    val nodes = Seq("A", "B", "C", "D", "E").toDF("id")
    // one 3-cycle (A->B->C->A), one chain D->E: SCCs {A,B,C},{D},{E};
    // weak components {A,B,C} and {D,E}
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("D", "E"))
      .toDF("source", "target")
    val g = NetworkFrame(nodes, edges)
    val weak = GraphAlgorithms.componentLabels(g, "weak")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(weak == Map("A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "D", "E" -> "D"))
    val scc = GraphAlgorithms.strongComponentLabels(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(scc == Map("A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "D", "E" -> "E"))
  }
}
