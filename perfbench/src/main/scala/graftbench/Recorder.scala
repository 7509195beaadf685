package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for everything the benchmark records: epoch milliseconds
  * with sub-millisecond resolution, anchored once so nanoTime-based
  * spans and Spark's epoch-ms event times share an axis.
  */
object Clock {
  private val anchorNanos = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNanos) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs()
    while (left > 0) {
      if (left > 2) Thread.sleep((left - 1).toLong)
      else Thread.onSpinWait()
      left = ms - nowMs()
    }
  }
}

/** In-memory trace of one run: spans around every call into a layer,
  * Spark job/task/stream-progress events, and JVM counters. Nothing is
  * written until [[Recorder.toJson]] at exit. With `enabled = false`
  * spans and listeners cost nothing; progress events are still kept
  * because the stream workload checks its counts against them.
  */
final class Recorder(val enabled: Boolean) {
  import Recorder._
  private val ids = new AtomicLong(0)
  private val overheadNs = new LongAdder
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  val spans = new ConcurrentLinkedQueue[Span]()

  /** Times `body` as span `name`, nested under the thread's open span. */
  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val c0 = System.nanoTime()
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val start = Clock.nowMs()
    overheadNs.add(System.nanoTime() - c0)
    try body
    finally {
      val c1 = System.nanoTime()
      val end = Clock.nowMs()
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, start, end, req))
      overheadNs.add(System.nanoTime() - c1)
    }
  }

  /** Records an already-measured interval as a span (for intervals that
    * begin on one thread and end on another, such as an HTTP request's
    * due time and its response). */
  def interval(name: String, start: Double, end: Double, req: Long = -1L)
      : Unit = if (enabled) {
    val c0 = System.nanoTime()
    spans.add(Span(ids.incrementAndGet(), 0L, name, start, end, req))
    overheadNs.add(System.nanoTime() - c0)
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  /** Job and task counters from Spark's public listener bus. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c0 = System.nanoTime()
      // Streaming executions name their call site and carry the query
      // id; jobs launched from a plain thread (an HTTP handler) carry
      // neither, and are told apart by that.
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      val streaming = props.exists(_.containsKey("sql.streaming.queryId"))
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, site, streaming, e.stageIds, ok = false))
      overheadNs.add(System.nanoTime() - c0)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c0 = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time; j.ok = e.jobResult == JobSucceeded
      }
      overheadNs.add(System.nanoTime() - c0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c0 = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory, m.jvmGCTime))
      }
      overheadNs.add(System.nanoTime() - c0)
    }
  }

  val progress = new ConcurrentLinkedQueue[Progress]()

  /** Per-trigger phase durations from `StreamingQueryProgress`. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c0 = System.nanoTime()
      val p = e.progress
      progress.add(Progress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Clock.nowMs(), p.id.toString))
      if (enabled) overheadNs.add(System.nanoTime() - c0)
    }
  }

  /** Process-wide JVM and codegen counters, read at phase boundaries. */
  def jvmCounters(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    val alloc = ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes.toDouble
      case _ => -1.0
    }
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Map("gc_ms" -> gcMs, "alloc_bytes" -> alloc,
      "codegen_compiles" -> compile.getCount.toDouble,
      "codegen_mean_ms" -> compile.getSnapshot.getMean)
  }

  /** Bytes allocated by the calling thread so far. */
  def threadAllocated(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getCurrentThreadAllocatedBytes
    case _ => -1L
  }

  def overheadMs: Double = overheadNs.sum() / 1e6

  def toJson: Json.Obj = {
    val base = Json.obj(
      "trace_overhead_ms" -> overheadMs,
      "progress" -> progress.asScala.toSeq.map(p => Json.obj(
        "batch" -> p.batchId, "rows" -> p.rows, "received" -> p.received,
        "query" -> p.queryId,
        "durations" -> Json.Obj(p.durations.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (v: Json.Value) }))))
    if (!enabled) base
    else base ++ Json.obj(
      "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s =>
        Json.arr(s.id, s.parent, s.name, s.start, s.end, s.req)),
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Json.arr(j.id, j.start, j.end, j.callSite, j.streaming, j.ok,
          Json.Arr(j.stages.map(s => s: Json.Value)))),
      "tasks" -> tasks.asScala.toSeq.map(t =>
        Json.arr(t.stage, t.launch, t.finish, t.runMs, t.cpuNs, t.shuffleRead,
          t.shuffleWrite, t.spill, t.peakMem, t.gcMs)))
  }
}

object Recorder {
  final case class Span(id: Long, parent: Long, name: String,
      start: Double, end: Double, req: Long)
  final case class Job(id: Int, start: Long, var end: Long, callSite: String,
      streaming: Boolean, stages: Seq[Int], var ok: Boolean)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      peakMem: Long, gcMs: Long)
  final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long],
      received: Double, queryId: String)
}
