package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `layer` names the program module the span wraps a
  * call into (etl, warehouse, serving, relational, corpus, pipelines), or
  * "op" for a workload operation, "setup", "warmup" and "check" for the
  * benchmark's own stages. Wall-clock millis are kept beside nanoTime so
  * the listener's event times (epoch millis) can be placed inside spans.
  */
final class Span(val id: Long, val parent: Long, val name: String, val layer: String,
                 val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  def group: String = s"pb-$id"
}

/** Roll-up of one Spark job's task metrics. */
final class JobStats(val jobId: Int, val group: String, val submitMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var bytesWritten = 0L
  var bytesRead = 0L
  var span: Option[Span] = None
  def wallMs: Long = if (endMs < 0) 0L else endMs - submitMs
}

/** The benchmark-owned instrument: spans set from the harness around each
  * call into a layer, and a [[SparkListener]] whose job-level roll-ups are
  * attributed to the span whose job group was set when the job started.
  * Disabled, [[span]] runs its body and records nothing, and no listener
  * is registered, so the untraced run measures the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val spanQueue = new ConcurrentLinkedQueue[Span]()
  private val spanById = TrieMap.empty[Long, Span]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val jobs = TrieMap.empty[Int, JobStats]
  private val stageJob = TrieMap.empty[Int, Int]
  private val drainEnded = new AtomicReference[Option[Int]](None)
  /** Nanoseconds spent in span bookkeeping on the calling threads plus in
    * the listener's callbacks: the tracing cost of the traced run.
    */
  val costNs = new AtomicLong(0)

  private object Collector extends SparkListener {
    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      costNs.addAndGet(System.nanoTime() - t0)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val j = new JobStats(e.jobId, group, e.time)
      j.stages = e.stageIds.size
      j.span = Option(group).filter(_.startsWith("pb-"))
        .flatMap(g => g.stripPrefix("pb-").toLongOption).flatMap(spanById.get)
        .filter(s => e.time >= s.startMs && e.time <= s.endMs)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.group == "pb-drain") drainEnded.set(Some(e.jobId))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  if (enabled) sc.addSparkListener(Collector)

  /** Run `body` as a span named `name` of `layer`, child of the calling
    * thread's open span. Jobs it starts carry the span's job group.
    */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val parents = stack.get()
      val s = new Span(nextId.incrementAndGet(), parents.headOption.map(_.id).getOrElse(0L),
        name, layer, t0, System.currentTimeMillis())
      spanById(s.id) = s
      spanQueue.add(s)
      stack.set(s :: parents)
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      costNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        s.endNs = t1
        s.endMs = System.currentTimeMillis()
        stack.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        costNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Block until the listener has processed every event posted so far: a
    * marker job is run and, since the bus delivers in order, its end
    * event arriving means all earlier task and job events have arrived.
    */
  def drain(): Unit = if (enabled) {
    drainEnded.set(None)
    sc.setJobGroup("pb-drain", "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (drainEnded.get().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Jobs whose job group was `s`'s own. */
  def jobsOf(s: Span): Seq[JobStats] = jobs.values.filter(_.span.exists(_.id == s.id)).toSeq

  def allSpans: Seq[Span] = spanQueue.asScala.toSeq.sortBy(_.id)

  /** Jobs started in [fromMs, toMs], drain marker excluded. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobStats] =
    jobs.values.filter(j => j.group != "pb-drain" && j.submitMs >= fromMs && j.submitMs <= toMs)
      .toSeq.sortBy(_.jobId)

  /** Every span with its ancestors' layers: a job belongs to a layer when
    * its span or any ancestor has that layer.
    */
  def layersOf(s: Span): Set[String] = {
    var out = Set(s.layer)
    var p = spanById.get(s.parent)
    while (p.isDefined) { out += p.get.layer; p = spanById.get(p.get.parent) }
    out
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val end = if (s.endNs < 0) s.startNs else s.endNs
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(if (c.endNs < 0) end else c.endNs, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (end - s.startNs) - covered
  }

  /** The trace as JSON lines, one per span, with its direct jobs' roll-up. */
  def writeTrace(path: java.nio.file.Path, originNs: Long): Unit = {
    val spans = allSpans
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.values.filter(_.span.isDefined).groupBy(_.span.get.id)
    val lines = spans.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val end = if (s.endNs < 0) s.startNs else s.endNs
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> (s.startNs - originNs) / 1e6, "dur_ms" -> (end - s.startNs) / 1e6,
        "self_ms" -> selfNs(s, children.getOrElse(s.id, Nil)) / 1e6,
        "jobs" -> js.size, "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
        "executor_run_ms" -> js.map(_.runMs).sum, "executor_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
        "shuffle_read_bytes" -> js.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum,
        "spill_bytes" -> js.map(_.spill).sum,
        "peak_exec_mem_bytes" -> (if (js.isEmpty) 0L else js.map(_.peakMem).max),
        "bytes_written" -> js.map(_.bytesWritten).sum, "bytes_read" -> js.map(_.bytesRead).sum)
    }
    val unattributed = jobs.values.count(j => j.span.isEmpty && j.group != "pb-drain")
    java.nio.file.Files.writeString(path,
      (lines :+ Json.obj("unattributed_jobs" -> unattributed)).mkString("", "\n", "\n"))
  }
}

/** JVM-wide counters read around the measured phase. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peaks since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}
