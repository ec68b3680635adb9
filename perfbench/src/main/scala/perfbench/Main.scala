package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-operation timing of one pass: wall and process CPU, or a failure. */
final case class OpSample(wallNs: Long, cpuNs: Long, ok: Boolean)

/** One pass over a workload's operations. `heapMb` is the heap in use
  * after the full collections that follow the pass.
  */
final case class PassSample(index: Int, traced: Boolean, spanId: Int,
                            ops: Seq[OpSample], heapMb: Double)

/** Runs a workload's operations one at a time from the main thread (a
  * closed loop with one client) and materializes every output through the
  * noop sink.
  */
final class Runner(spark: SparkSession, ops: Seq[Op], tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var passCount = 0

  private def processCpuNs: Long = os.getProcessCpuTime

  private def runOp(op: Op, pass: Int, parent: Option[Int]): OpSample = {
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    val ok = try {
      parent match {
        case Some(p) =>
          val t = tracer.get
          t.span(op.name, p, pass) { id =>
            val outs = t.span("call", id, pass)(_ => op.call())
            t.span("sink", id, pass)(_ => outs.foreach(Op.sink))
          }
        case None => op.call().foreach(Op.sink)
      }
      true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${op.name} failed in pass $pass: $e")
        false
    }
    OpSample(System.nanoTime() - t0, processCpuNs - cpu0, ok)
  }

  /** One pass, then the between-pass hygiene, which is the same in every
    * run: the full collections that read live heap, then a blocking
    * unpersist of whatever the pass left persisted. Nothing runs between
    * the operations inside a pass.
    */
  def pass(traced: Boolean): PassSample = {
    passCount += 1
    val idx = passCount
    val (spanId, samples) =
      if (traced) {
        val t = tracer.get
        var id = -1
        val s = t.span("pass", -1, idx) { pid => id = pid; ops.map(runOp(_, idx, Some(pid))) }
        (id, s)
      } else (-1, ops.map(runOp(_, idx, None)))
    PassSample(idx, traced, spanId, samples, betweenPasses())
  }

  /** Returns the live heap in MiB. */
  def betweenPasses(): Double = {
    System.gc()
    // the context cleaner drops the blocks of broadcasts and shuffles the
    // collection found unreachable; the second collection frees them
    Thread.sleep(200)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    heap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** First and third quartiles, by the same exclusive method as Python's
    * `statistics.quantiles(xs, n=4)`.
    */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    def q(p: Double): Double = {
      if (s.length < 2) return s.headOption.getOrElse(Double.NaN)
      val pos = p * (s.length + 1)
      val j = math.min(math.max(pos.floor.toInt, 1), s.length - 1)
      val delta = pos - j
      s(j - 1) + (s(j) - s(j - 1)) * math.min(math.max(delta, 0.0), 1.0)
    }
    (q(0.25), q(0.75))
  }
}

/** Command line: `--workload <name> --seed <n> --trace <0|1> --work <dir>
  * --spans <file> --digests <file> [--record-digests]`.
  */
object Main {
  final case class Args(workload: String, seed: Long, trace: Boolean, work: String,
                        spans: String, digests: String, record: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--trace") == "1", need("--work"),
      need("--spans"), need("--digests"), args.contains("--record-digests"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store's job and query history is garbage to the program;
      // capped, it stays a small constant part of the live heap
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.ui.retainedTasks", 1000L)
      .config("spark.sql.ui.retainedExecutions", 10L)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse(sys.error(s"unknown workload ${a.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val gen0 = System.nanoTime()
    val prepared = wl.prepare(spark, s"${a.work}/input", a.seed)
    val genS = (System.nanoTime() - gen0) / 1e9
    require(prepared.ops.map(_.name) == wl.opNames, "operation list out of step with opNames")
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val runner = new Runner(spark, prepared.ops, tracer)

    // warm-up: the first, cold pass over the operations checks every output
    // instead of sinking it
    val check0 = System.nanoTime()
    val wrong = new Checker(wl.name, a.seed, prepared.ops, a.digests).run(a.record)
    runner.betweenPasses()
    val checkS = (System.nanoTime() - check0) / 1e9
    val setupS = sessionS + genS + checkS

    // timed passes; a traced run alternates untraced and traced passes so
    // the difference between them is the tracing overhead
    val timed = (0 until (if (a.trace) 2 * wl.timedPasses else wl.timedPasses))
      .map(i => runner.pass(traced = a.trace && i % 2 == 1))

    val report = new Report(wl, prepared, timed, wrong, setupS, tracer)
    report.printHuman(sessionS, genS, checkS)
    tracer.foreach { t =>
      val runId = s"${wl.name}-seed${a.seed}-${jvmStartMs}"
      val lines = t.jsonLines(runId) :+ report.traceSummaryJson(runId)
      Files.createDirectories(Paths.get(a.spans).toAbsolutePath.getParent)
      Files.write(Paths.get(a.spans), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      t.detach()
    }
    println(report.resultJson(a.trace))
    spark.stop()
  }
}
