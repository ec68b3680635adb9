package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Checks every operation's output once, outside the timed passes: the
  * operation's reference check, and its order-independent digest against
  * the digest recorded for this workload and seed, when one is recorded.
  * Returns the names of the operations whose output is wrong.
  */
final class Checker(workload: String, seed: Long, ops: Seq[Op], digestFile: String) {
  private val path = Paths.get(digestFile)

  private def recorded: Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.split("\t")).collect {
        case Array(w, s, op, d) if w == workload && s == seed.toString => op -> d
      }.toMap

  def run(record: Boolean): Set[String] = {
    val known = recorded
    val results = ops.map { op =>
      val t0 = System.nanoTime()
      val r = try {
        val outs = op.call()
        op.check(outs)
        val want = known.get(op.name)
        // a digest costs a job per output: taken only where it is compared or recorded
        if (outs.isEmpty || (want.isEmpty && !record)) Right(None)
        else {
          val d = Digest.of(outs)
          if (want.exists(_ != d)) Left(s"digest $d, recorded ${want.get}") else Right(Some(d))
        }
      } catch { case NonFatal(e) => Left(e.toString) }
      r.left.foreach(m => System.err.println(s"[perfbench] ${op.name} output is wrong: $m"))
      println(f"checked ${op.name} in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      op.name -> r
    }
    println(s"checked ${ops.length} operations against the reference; " +
      s"${known.size} recorded digests for seed $seed")
    if (record) {
      val fresh = results.collect { case (name, Right(Some(d))) if !known.contains(name) =>
        s"$workload\t$seed\t$name\t$d\n" }
      Files.write(path, fresh.mkString.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    results.collect { case (name, Left(_)) => name }.toSet
  }
}

/** Turns pass samples into the end-to-end and per-layer metrics. */
final class Report(wl: Workload, prepared: Prepared, timed: Seq[PassSample],
                   wrong: Set[String], setupS: Double, tracer: Option[Tracer]) {
  import Report._

  private val ops = prepared.ops
  private def counts(ok: (Op, OpSample) => Boolean): Int =
    timed.map(p => ops.zip(p.ops).count { case (o, s) => ok(o, s) }).sum
  private def good(o: Op, s: OpSample) = s.ok && !wrong.contains(o.name)

  // each wrong operation also failed its one check execution
  val attempted: Int = timed.length * ops.length + ops.length
  val failed: Int = counts((o, s) => !good(o, s)) + wrong.size

  /** Pass wall and CPU over the operations that succeeded: a failed
    * operation's time-to-fail never counts.
    */
  private def passTotals(ps: Seq[PassSample]): Seq[(Double, Double)] = ps.map { p =>
    val g = ops.zip(p.ops).collect { case (o, s) if good(o, s) => s }
    (g.map(_.wallNs).sum / 1e9, g.map(_.cpuNs).sum / 1e9)
  }

  /** A typical pass: the sum over operations of each one's fastest wall
    * time and lowest CPU across the timed passes. On a shared host, noise
    * only adds time, and it comes in bursts of several seconds: the fastest
    * of a fixed number of passes drops a burst that lands on one or two of
    * them, where a median of so few passes would keep it.
    */
  private def typicalPass(ps: Seq[PassSample]): (Double, Double) = {
    val perOp = ops.indices.map(i => ps.map(_.ops(i)).filter(good(ops(i), _)))
      .filter(_.nonEmpty)
    (perOp.map(ss => ss.map(_.wallNs).min / 1e9).sum, perOp.map(ss => ss.map(_.cpuNs).min / 1e9).sum)
  }
  private val untraced = timed.filterNot(_.traced)
  private val traced = timed.filter(_.traced)
  private val plain = passTotals(untraced)
  val (passS: Double, cpuS: Double) = typicalPass(untraced)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("pass_s", passS, "s"),
    ("rows_per_s", prepared.rows / passS, "rows/s"),
    ("cpu_s", cpuS, "s"),
    ("heap_peak_mb", untraced.map(_.heapMb).max, "MiB"),
    ("ok_ratio", 1.0 - failed.toDouble / attempted, "ratio"))

  private def opSpans(t: Tracer, ps: Seq[PassSample], name: String): Seq[Span] = {
    val passIds = ps.map(_.spanId).toSet
    t.spans.toSeq.filter(s => s.name == name && passIds.contains(s.parent) && s.ok)
  }

  def perLayer(t: Tracer): Seq[(String, Double, String)] = {
    val inWl = ops.map(_.name).toSet
    val perOp = AllOps.flatMap { name =>
      val spans = if (inWl(name) && !wrong(name)) opSpans(t, traced, name) else Nil
      def med(f: Span => Double) = if (spans.isEmpty) 0.0 else Stats.median(spans.map(f))
      Seq((s"$name.wall_s", med(s => (s.endNs - s.startNs) / 1e9), "s"),
        (s"$name.jobs", med(s => t.counters(s.id).jobs.toDouble), "count"),
        (s"$name.driver_cpu_s", med(_.driverCpuNs / 1e9), "s"),
        (s"$name.task_cpu_s", med(s => t.counters(s.id).taskCpuNs / 1e9), "s"))
    }
    val perModule = Modules.flatMap { m =>
      val names = ops.filter(_.module == m).map(_.name)
      def perPass(f: Span => Double): Double =
        if (names.isEmpty) 0.0
        else Stats.median(traced.map(p => names.flatMap(n => opSpans(t, Seq(p), n)).map(f).sum))
      Seq((s"$m.shuffle_mb", perPass(s => t.counters(s.id).shuffleWriteBytes / 1048576.0), "MiB"),
        (s"$m.gc_s", perPass(_.gcMs / 1e3), "s"),
        (s"$m.cached_left", perPass(_.cachedLeft.toDouble), "count"))
    }
    def sparkWide(f: SparkCounters => Double) = Stats.median(traced.map(p => f(t.counters(p.spanId))))
    perOp ++ perModule ++ Seq(
      ("spark.tasks", sparkWide(_.tasks.toDouble), "count"),
      ("spark.sched_delay_s", sparkWide(_.schedDelayMs / 1e3), "s"),
      ("spark.spill_mb", sparkWide(_.spillBytes / 1048576.0), "MiB"))
  }

  /** Job counts per operation over the traced passes; counts that differ
    * between passes are reported as non-exact.
    */
  def jobCounts(t: Tracer): Seq[(String, Seq[Int])] =
    ops.map(o => o.name -> opSpans(t, traced, o.name).map(s => t.counters(s.id).jobs))

  /** Median over traced passes of the pass's wall minus the mean of the
    * untraced passes on either side of it: taking both neighbours cancels
    * the warm-up trend that a traced-versus-untraced median would keep.
    */
  def tracingOverheadS: Double = {
    val wall = timed.map(p => p.index -> passTotals(Seq(p)).head._1).toMap
    Stats.median(traced.flatMap { p =>
      for (before <- wall.get(p.index - 1); after <- wall.get(p.index + 1))
        yield wall(p.index) - (before + after) / 2
    })
  }

  def printHuman(sessionS: Double, genS: Double, checkS: Double): Unit = {
    val (q1, q3) = Stats.quartiles(plain.map(_._1))
    println(f"workload ${wl.name}: ${prepared.rows}%d input rows, ${ops.length}%d operations")
    println(f"set-up: session $sessionS%.3f s, input generation $genS%.3f s, " +
      f"checked cold pass $checkS%.3f s")
    println(f"pass_s: $passS%.4f s (sum of per-operation minima); pass totals: median " +
      f"${Stats.median(plain.map(_._1))}%.4f s, quartiles $q1%.4f-$q3%.4f s, ${plain.length}%d untraced passes")
    plain.zip(untraced).foreach { case ((w, c), p) =>
      println(f"  pass ${p.index}%d: wall $w%.3f s, cpu $c%.3f s, heap after ${p.heapMb}%.1f MiB; " +
        "per operation " + p.ops.map(o => f"${o.wallNs / 1e9}%.3f").mkString(" ")) }
    println(s"failures: $failed of $attempted operations attempted" +
      (if (wrong.nonEmpty) s"; wrong output: ${wrong.toSeq.sorted.mkString(", ")}" else ""))
    tracer.foreach { t =>
      println(f"tracing overhead: $tracingOverheadS%.4f s per pass (each traced pass against " +
        f"the untraced passes beside it)")
      jobCounts(t).foreach { case (name, js) =>
        println(s"  jobs $name: ${js.mkString(",")}" + (if (js.distinct.length <= 1) " (exact)" else " (non-exact)"))
      }
    }
    val ms = if (tracer.isDefined) perLayer(tracer.get) else endToEnd
    ms.foreach { case (n, v, u) => println(f"  $n%-52s $v%.6f $u") }
  }

  def traceSummaryJson(runId: String): String = {
    val jobs = jobCounts(tracer.get).map { case (n, js) =>
      s""""$n":{"passes":[${js.mkString(",")}],"exact":${js.distinct.length <= 1}}"""
    }.mkString(",")
    s"""{"run":"$runId","summary":true,"pass_s_untraced":$passS,""" +
      s""""tracing_overhead_s":$tracingOverheadS,"jobs":{$jobs}}"""
  }

  def resultJson(trace: Boolean): String = {
    val ms = if (trace) perLayer(tracer.get) else endToEnd
    val body = ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}"""
  }
}

object Report {
  /** Every measured operation, across the workloads. */
  def AllOps: Seq[String] = Workloads.all.flatMap(_.opNames)
  val Modules = Seq("GraphAlgorithms", "NetworkFrame", "Storage", "Dedup", "TextAnalysis",
    "Similarity", "Multimodal")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}
