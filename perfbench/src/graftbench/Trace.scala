package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded at the layer boundaries, from the benchmark's side of
  * each call. A span has a name, a layer, a start, an end and the span
  * that caused it; spans of one operation share `op`. `parentKey` names
  * a parent that is only known later (a Spark stage, resolved when the
  * listener has seen it). Spans stay in memory until [[Trace.write]].
  */
final case class Span(op: Long, id: Long, parent: Long, parentKey: String,
                      layer: String, name: String, startNs: Long, endNs: Long)

object Trace {
  @volatile var enabled = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  /** (op, span) of the innermost open span on this thread. */
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  def reset(): Unit = { spans.clear(); counters.clear() }

  /** Run `f` with tracing on. */
  def on[T](f: => T): T = {
    enabled = true
    try f finally enabled = false
  }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def newId(): Long = ids.incrementAndGet()

  def here: (Long, Long) = current.get()

  /** Run `f` as a span of `layer`. With no open span on this thread the
    * span starts a new operation. `parentKey` overrides the parent.
    */
  def span[T](layer: String, name: String, parentKey: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val (op0, parent) = current.get()
      val id = newId()
      val op = if (op0 == 0L) id else op0
      current.set((op, id))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(op, id, parent, parentKey, layer, name, t0, System.nanoTime()))
        current.set((op0, parent))
      }
    }

  /** Run `f` with (op, span) as the open span — for work a caller hands
    * to another thread (a server handler serving one client's call).
    */
  def under[T](ctx: (Long, Long))(f: => T): T = {
    val saved = current.get()
    current.set(ctx)
    try f finally current.set(saved)
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq

  /** Self time per layer in ms: each span's duration minus the part of it
    * its children cover (parents resolved through `keys`).
    */
  def selfMs(all: Seq[Span], keys: Map[String, Long]): Map[String, Double] = {
    val resolved = all.map(s =>
      if (s.parentKey.nonEmpty) keys.get(s.parentKey).fold(s)(p => s.copy(parent = p)) else s)
    val children = resolved.groupBy(_.parent)
    resolved.groupBy(_.layer).view.mapValues(_.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      (s.endNs - s.startNs - covered) / 1e6
    }.sum).toMap
  }

  /** Write spans as JSON lines (one span per line). */
  def write(file: java.io.File, all: Seq[Span], keys: Map[String, Long]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val parent = if (s.parentKey.nonEmpty) keys.getOrElse(s.parentKey, s.parent) else s.parent
      w.println(s"""{"op":${s.op},"id":${s.id},"parent":$parent,"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark's side of the trace: job and stage spans, task metrics summed.
  * Jobs carry the submitting operation through the local property
  * [[SparkTrace.OpKey]]; stages are parented to their job. Always
  * registered; it only records while [[Trace.enabled]].
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stageSpans = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val m = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit = m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(m.get(k)).map(_.sum).getOrElse(0L)
  def reset(): Unit = { m.clear(); stageSpans.clear() }
  /** Stage key -> span id, for resolving spans recorded inside tasks. */
  def stageKeys: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    stageSpans.asScala.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val ctx = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.split(":"))
    val (op, parent) = ctx.map(a => (a(0).toLong, a(1).toLong)).getOrElse((0L, 0L))
    jobSpan.put(e.jobId, (Trace.newId(), op, parent, System.nanoTime()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, op, parent, t0) =>
      Trace.add(Span(op, id, parent, "", "spark", s"job ${e.jobId}", t0, System.nanoTime()))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpans.put(s"stage:${e.stageInfo.stageId}", Trace.newId())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("stages", 1)
    add("tasks", si.numTasks.toLong)
    val job = stageJob.getOrDefault(si.stageId, -1)
    val (op, parent) = Option(jobSpan.get(job)).map(j => (j._2, j._1)).getOrElse((0L, 0L))
    val id = stageSpans.computeIfAbsent(s"stage:${si.stageId}", _ => Trace.newId())
    // stage times are wall-clock ms; place them on the nanoTime axis
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    for (s <- si.submissionTime; c <- si.completionTime)
      Trace.add(Span(op, id, parent, "", "spark", s"stage ${si.stageId}",
        s * 1000000L + offset, c * 1000000L + offset))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = e.taskMetrics
    if (e.reason != org.apache.spark.Success) add("task_failures", 1)
    if (t != null) {
      add("executor_cpu_ns", t.executorCpuTime)
      add("executor_run_ms", t.executorRunTime)
      add("gc_ms", t.jvmGCTime)
      add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
      add("shuffle_fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
      add("scheduler_delay_ms", math.max(0L, e.taskInfo.duration - t.executorRunTime -
        t.executorDeserializeTime - t.resultSerializationTime))
    }
  }
}

object SparkTrace {
  val OpKey = "graftbench.op"

  /** Tag Spark jobs submitted from this thread with the open span. */
  def tagThread(spark: SparkSession): Unit = {
    val (op, span) = Trace.here
    spark.sparkContext.setLocalProperty(OpKey, if (op == 0L) null else s"$op:$span")
  }

  /** Run `f` as a span; inside a Spark task the span joins the
    * submitting operation and is parented to its stage.
    */
  def span[T](layer: String, name: String)(f: => T): T =
    org.apache.spark.TaskContext.get() match {
      case null => Trace.span(layer, name)(f)
      case tc =>
        val op = Option(tc.getLocalProperty(OpKey)).map(_.split(":")(0).toLong).getOrElse(0L)
        Trace.under((op, 0L))(Trace.span(layer, name, s"stage:${tc.stageId()}")(f))
    }
}
