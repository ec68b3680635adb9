package graft

import org.scalatest.funsuite.AnyFunSuite

class ExplainDumpSpec extends AnyFunSuite {

  test("normalizePlan makes run-specific plan tokens stable and keeps the rest") {
    val plan =
      """(3) Scan ExistingRDD
        |Output [2]: [shingle#202, id#199L]
        |Arguments: [shingle#202, id#199L], MapPartitionsRDD[85] at localCheckpointCapped$extension at Dedup.scala:559, ExistingRDD, UnknownPartitioning(0)
        |(7) Exchange
        |Arguments: hashpartitioning(id#199L, 200), ENSURE_REQUIREMENTS, [plan_id=4711]
        |(9) Project [codegen id : 2]
        |Output [1]: [transform(shs#5, lambdafunction(md5(lambda x_82#310), lambda x_82#310, false)) AS h#311]
        |(10) Scan parquet
        |Location: InMemoryFileIndex [file:/a/b/spark-warehouse/graft_scratch/weak_labels_2d84a4b3]
        |Location: InMemoryFileIndex [file:/data/sf0.1/documents.parquet]
        |Output [2]: [max_x_1#12L, n_docs#13L]""".stripMargin
    val want =
      """(3) Scan ExistingRDD
        |Output [2]: [shingle#N, id#NL]
        |Arguments: [shingle#N, id#NL], MapPartitionsRDD[N] at localCheckpointCapped$extension at Dedup.scala:N, ExistingRDD, UnknownPartitioning(0)
        |(7) Exchange
        |Arguments: hashpartitioning(id#NL, 200), ENSURE_REQUIREMENTS, [plan_id=N]
        |(9) Project [codegen id : 2]
        |Output [1]: [transform(shs#N, lambdafunction(md5(lambda x_N#N), lambda x_N#N, false)) AS h#N]
        |(10) Scan parquet
        |Location: InMemoryFileIndex [file:.../weak_labels_H]
        |Location: InMemoryFileIndex [file:.../documents.parquet]
        |Output [2]: [max_x_1#NL, n_docs#NL]""".stripMargin
    assert(ExplainDump.normalizePlan(plan) == want)
    // the same plan from another run and checkout normalizes equally
    val other = plan.replace("#202", "#977").replace("x_82", "x_5").replace("[85]", "[3]")
      .replace("559", "41").replace("/a/b", "/c").replace("2d84a4b3", "9f00e1aa")
    assert(ExplainDump.normalizePlan(other) == want)
  }
}
