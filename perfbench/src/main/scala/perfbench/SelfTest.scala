package perfbench

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** The benchmark's own tests, run with `python3 perfbench/run.py --selftest`:
  *
  *  - failure accounting: an operation that throws and one whose output is
  *    deliberately corrupted are both counted as failed, their time is left
  *    out of the pass, and the pass goes on to the next operation;
  *  - the SCC check rejects a labelling that puts every node alone;
  *  - the noop sink: `TextAnalysis.langId` and `qualityFeatures` must use
  *    more task CPU under the benchmark's sink than under `count()`, which
  *    lets Catalyst prune the columns they compute.
  */
object SelfTest {
  private var failures = 0

  private def assertThat(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def failureAccounting(spark: SparkSession, work: String): Unit = {
    val frame = GeneratedFrame.prepare(spark, s"$work/frame", 1L).ops
    val degrees = frame.find(_.name == "NetworkFrame.degrees").get
    // one node's out-degree off by one
    val corrupted = degrees.copy(name = "corrupted.degrees",
      call = () => degrees.call().map(df => df.withColumn("out_degree",
        when(col("id") === 0L, col("out_degree") + 1).otherwise(col("out_degree")))))
    var ranAfterThrow = 0
    val ops = Seq(
      Op("good.range", () => Seq(spark.range(1000).toDF()), _ => ()),
      Op("thrower.range", () => { Thread.sleep(300); sys.error("deliberate") }, _ => ()),
      corrupted,
      Op("after.range", () => { ranAfterThrow += 1; Seq(spark.range(10).toDF()) }, _ => ()))
    val wl = new Workload {
      val name = "selftest"
      val timedPasses = 3
      val opNames = ops.map(_.name)
      def prepare(s: SparkSession, d: String, seed: Long) = Prepared(1000L, ops)
    }
    val runner = new Runner(spark, ops, None)
    val passes = Seq.fill(3)(runner.pass(traced = false))
    val wrong = new Checker(wl.name, 1L, ops, s"$work/digests.tsv").run(record = false)
    val report = new Report(wl, Prepared(1000L, ops), passes, wrong, 1.0, None)

    assertThat("a corrupted output fails its check", wrong == Set("thrower.range", "corrupted.degrees"))
    assertThat("the pass goes on after a failed operation", ranAfterThrow == 4)
    // per pass: the thrower and the corrupted op fail; each also fails its check run
    assertThat(s"failed counts throws and wrong outputs (${report.failed})", report.failed == 3 * 2 + 2)
    assertThat(s"attempted counts every execution (${report.attempted})", report.attempted == 3 * 4 + 4)
    def fastest(i: Int) = passes.map(_.ops(i).wallNs).min / 1e9
    assertThat("pass time leaves out failed operations", report.passS == fastest(0) + fastest(3))
  }

  /** The SCC check fails a labelling that puts every node alone, which is
    * right on a graph without cyclic components.
    */
  def sccCheck(spark: SparkSession, work: String): Unit = {
    val scc = CustomerGraph.prepare(spark, s"$work/graph", 1L).ops.head
    val alone = spark.read.parquet(s"$work/graph/nodes").select(col("id"), col("id").as("component"))
    assertThat("the SCC check fails a labelling of singletons", Try(scc.check(Seq(alone))).isFailure)
  }

  /** Median task CPU of `run` over three runs after one warm-up. */
  private def taskCpu(t: Tracer, run: () => Unit): Double = {
    run()
    Stats.median(Seq.fill(3)(t.span("probe", -1, 0)(id => { run(); id }))
      .map(id => t.counters(id).taskCpuNs / 1e9))
  }

  def noopSink(spark: SparkSession, work: String): Unit = {
    LlmCuration.prepare(spark, s"$work/llm", 1L)
    // the workload's documents, 50 times over, so that computing the
    // columns outweighs the fixed cost of a job
    val docs = spark.read.parquet(s"$work/llm/documents").crossJoin(spark.range(50).toDF("copy"))
    val t = new Tracer(spark.sparkContext)
    for ((name, frame) <- Seq(
        "TextAnalysis.langId" -> (() => docs.select(col("doc_id"), TextAnalysis.langId(col("text")))),
        "TextAnalysis.qualityFeatures" -> (() => TextAnalysis.qualityFeatures(docs, "text")))) {
      val sunk = taskCpu(t, () => Op.sink(frame()))
      val counted = taskCpu(t, () => frame().count())
      assertThat(f"$name: task CPU under the sink $sunk%.3f s exceeds twice that under count() $counted%.3f s",
        sunk > 2 * counted)
    }
    t.detach()
  }

  def main(argv: Array[String]): Unit = {
    val work = argv(argv.indexOf("--work") + 1)
    val spark = Main.session(work)
    try {
      failureAccounting(spark, work)
      sccCheck(spark, work)
      noopSink(spark, work)
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failures")
    if (failures != 0) sys.exit(1)
  }
}
