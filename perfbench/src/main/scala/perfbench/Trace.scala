package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a request, an ingest cycle or a query. `parent`
  * is 0 for a top-level operation. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, status: String) {
  def durNs: Long = endNs - startNs
}

/** A Spark job as the listener saw it, on the span clock. `group` is the
  * job group of the thread that submitted it ("" when none). */
final case class Job(id: Int, group: String, startNs: Long, endNs: Long, ok: Boolean)

/** The benchmark's tracing, done entirely from outside the program: spans
  * around the calls into the program's public entry points, plus one
  * SparkListener and one QueryExecutionListener registered on the
  * session. Everything stays in memory until [[writeSpans]].
  *
  * A traced run alternates untraced and traced slices of its window. Only
  * work that starts inside a traced slice is recorded, so the untraced
  * slices of the same run give the baseline for the tracing overhead.
  * With `enabled = false` (the end-to-end runs) no listener is registered
  * and [[span]] records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def nsOfMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val ids = new AtomicLong
  private val spanQ = new ConcurrentLinkedQueue[Span]
  private val slices = new ConcurrentLinkedQueue[(Long, Long)]
  @volatile private var openSince = -1L

  def on(): Unit = if (enabled) openSince = System.nanoTime()
  def off(): Unit = if (enabled && openSince >= 0) {
    slices.add((openSince, System.nanoTime())); openSince = -1L
  }
  def tracedNow: Boolean = openSince >= 0
  def wasTraced(ns: Long): Boolean =
    (openSince >= 0 && ns >= openSince) ||
      slices.asScala.exists { case (a, b) => ns >= a && ns <= b }
  def tracedNs: Long = slices.asScala.map { case (a, b) => b - a }.sum

  def newId(): Long = ids.incrementAndGet()

  /** Record a finished operation if its top-level operation, which started
    * at `rootStartNs`, started in a traced slice: a span is kept with all
    * its children or not at all. */
  def span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
           status: String, rootStartNs: Long): Unit =
    if (enabled && wasTraced(rootStartNs)) spanQ.add(Span(id, parent, name, startNs, endNs, status))

  def spans: Seq[Span] = spanQ.asScala.toSeq

  // ------------------------------------------------------------ spark side

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobQ = new ConcurrentLinkedQueue[Job]
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spillBytes = new AtomicLong
  val actions = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong

  def jobs: Seq[Job] = jobQ.asScala.toSeq

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val ns = nsOfMs(e.time)
      if (wasTraced(ns)) {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobStarts.put(e.jobId, (ns, group.getOrElse("")))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, group) =>
        jobQ.add(Job(e.jobId, group, start, nsOfMs(e.time),
          e.jobResult == JobSucceeded))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.exists(t => wasTraced(nsOfMs(t)))) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null && wasTraced(nsOfMs(e.taskInfo.finishTime))) {
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (tracedNow) {
      actions.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  /** Drop the listeners; waits until the listener bus has caught up. */
  def close(): Unit = if (enabled) {
    off()
    waitForListenerBus()
    spark.listenerManager.unregister(Plans)
    spark.sparkContext.removeSparkListener(Jobs)
  }

  private def waitForListenerBus(): Unit = {
    // the bus is asynchronous: give in-flight job/task events time to land
    val deadline = System.nanoTime() + 5000000000L
    while (!jobStarts.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  // ------------------------------------------------------------ self time

  /** Jobs under a span: the ones whose job group is the span's id (the
    * calling thread owned the job), else those overlapping it in time. */
  def jobsUnder(s: Span, all: Seq[Job]): Seq[Job] = {
    val grouped = all.filter(_.group == s.id.toString)
    if (grouped.nonEmpty) grouped
    else all.filter(j => j.group.isEmpty && j.startNs < s.endNs && j.endNs > s.startNs)
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"name":${Result.str(s.name)},""" +
          s""""start_ns":${s.startNs - anchorNs},"end_ns":${s.endNs - anchorNs},"status":${Result.str(s.status)}}""")
      }
      jobs.sortBy(_.startNs).foreach { j =>
        w.println(s"""{"kind":"job","id":${j.id},"group":"${j.group}",""" +
          s""""start_ns":${j.startNs - anchorNs},"end_ns":${j.endNs - anchorNs},"ok":${j.ok}}""")
      }
    } finally w.close()
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals, clipped to
    * [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else if (b > curE) curE = b
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part its children
    * (child spans, else the Spark jobs under it) cover. */
  def selfNs(t: Tracer): Map[Long, Long] = {
    val all = t.spans
    val jobs = t.jobs
    val kids: Map[Long, Seq[Span]] = all.groupBy(_.parent)
    all.map { s =>
      val under = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) match {
        case Nil => t.jobsUnder(s, jobs).map(j => (j.startNs, j.endNs))
        case cs => cs
      }
      s.id -> (s.durNs - covered(under, s.startNs, s.endNs))
    }.toMap
  }

}
