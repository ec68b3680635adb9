package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark-side counters of one span, filled by [[SpanListener]]. */
final class SparkCounters {
  var jobs = 0
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    schedDelayMs += o.schedDelayMs
  }
}

/** Attributes jobs and task metrics to the span id that the main thread
  * put in the job's local properties. Spark runs listeners on one bus
  * thread, so the maps need no locking; readers drain the bus first.
  */
final class SpanListener extends SparkListener {
  val bySpan = mutable.Map.empty[Int, SparkCounters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val id = s.toInt
      bySpan.getOrElseUpdate(id, new SparkCounters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = bySpan.getOrElseUpdate(id, new SparkCounters)
      val info = e.taskInfo
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      // the Spark UI's definition of scheduler delay
      c.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
        m.executorDeserializeTime - m.executorRunTime - m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
    }
}

/** One traced interval. `parent` is -1 for a pass span. Driver CPU is the
  * main thread's CPU time; GC is the process-wide collection time, which
  * belongs to the span because the benchmark has a single client thread.
  * `cachedLeft` counts RDDs created in the span and still persisted at its end.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, driverCpuNs: Long, gcMs: Long,
                      cachedLeft: Int, ok: Boolean)

/** Records spans around the benchmark's calls into the library; spans are
  * kept in memory and written out once, at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  private val threads = ManagementFactory.getThreadMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val listener = new SpanListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  sc.addSparkListener(listener)

  def detach(): Unit = { PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }

  private def gcMs: Long = gcs.map(_.getCollectionTime).sum

  private def newId(): Int = { nextId += 1; nextId }

  /** Runs `body` as span `name` under `parent`; jobs it submits from the
    * main thread (or from threads Spark forks for it) carry the span id.
    */
  def span[T](name: String, parent: Int, pass: Int)(body: Int => T): T = {
    val id = newId()
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    val firstRdd = PerfbenchBus.nextRddId(sc)
    val gc0 = gcMs
    val cpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    var ok = false
    try { val r = body(id); ok = true; r }
    finally {
      sc.setLocalProperty(Tracer.SpanKey, prev)
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, pass, t0, t1,
        threads.getCurrentThreadCpuTime - cpu0, gcMs - gc0,
        sc.getPersistentRDDs.keys.count(_ > firstRdd), ok)
    }
  }

  /** Spark counters of a span and all its descendants. */
  def counters(id: Int): SparkCounters = {
    PerfbenchBus.drain(sc)
    val total = new SparkCounters
    val children = spans.groupBy(_.parent)
    def visit(s: Int): Unit = {
      listener.bySpan.get(s).foreach(total += _)
      children.getOrElse(s, Nil).foreach(c => visit(c.id))
    }
    visit(id)
    total
  }

  /** Spans as JSON lines, each with the run id and its own counters. */
  def jsonLines(runId: String): Seq[String] = {
    PerfbenchBus.drain(sc)
    spans.toSeq.map { s =>
      val c = listener.bySpan.getOrElse(s.id, new SparkCounters)
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""pass":${s.pass},"ok":${s.ok},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"driver_cpu_ns":${s.driverCpuNs},"gc_ms":${s.gcMs},""" +
        s""""cached_left":${s.cachedLeft},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""task_cpu_ns":${c.taskCpuNs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"sched_delay_ms":${c.schedDelayMs}}"""
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
