package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, with Spark work
  * attributed to them. Only the traced run creates one.
  *
  * Attribution:
  *   - jobs (and their stages and tasks) by the job group the benchmark
  *     sets on the calling thread before each call (threads the program
  *     starts inside the call inherit it);
  *   - Catalyst analysis, optimisation and planning time of each action
  *     (`QueryExecution.tracker`) to the span open when its last phase
  *     ended — calls run one at a time, so that span is unique;
  *   - JVM GC time by the collectors' counters over the span.
  * Spans are kept in memory and written out when the run ends. The
  * listeners are registered only between [[attach]] and [[detach]], so
  * untraced passes of the same run pay nothing for them.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobStarts.put(e.jobId, (e.time, group))
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, g) =>
        jobs.add(JobRec(g, t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val g = Option(stageGroup.get(e.stageId)).getOrElse("")
      if (m == null) tasks.add(TaskRec(g, e.stageId, 0L, 0L, 0L))
      else tasks.add(TaskRec(g, e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values.toSeq
      if (phases.nonEmpty)
        plans.add(PlanRec(phases.map(_.endTimeMs).max,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum,
          phases.map(p => (p.startTimeMs, p.endTimeMs))))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Wait until the listeners have seen every event posted so far, then
    * remove them. */
  def detach(): Unit = if (attached) {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def group(id: Long): String = s"graftbench-$runId-$id"

  /** Open a span as a child of the innermost open span; Spark jobs the
    * calling thread submits until [[close]] carry its job group. */
  def openSpan(name: String, tag: String): Long = synchronized {
    val id = nextId.incrementAndGet()
    val s = Span(id, name, tag, open.headOption.map(_.id).getOrElse(0L), runId,
      System.currentTimeMillis(), 0L, gcMs, 0L)
    spans += s
    open.push(s)
    spark.sparkContext.setJobGroup(group(id), s"$name $tag", interruptOnCancel = false)
    id
  }

  /** A span around the benchmark's own work; not part of the ledger. */
  def openOwn(): Long = openSpan(Own, "")

  def closeSpan(id: Long): Unit = synchronized {
    val s = open.pop()
    require(s.id == id, s"span ${s.id} closed out of order (expected $id)")
    s.end = System.currentTimeMillis()
    s.gcEndMs = gcMs
    open.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(group(p.id), s"${p.name} ${p.tag}", interruptOnCancel = false)
      case None => spark.sparkContext.clearJobGroup()
    }
  }

  /** Per-span-name ledger over every closed span. */
  def ledger(nproc: Int): Ledger = synchronized {
    val closed = spans.filter(_.end > 0).toSeq
    val own = closed.filter(_.name == Own).map(s => group(s.id)).toSet
    val done = closed.filter(_.name != Own)
    val byGroup = done.map(s => group(s.id) -> s).toMap
    val allJobs = jobs.asScala.toSeq.filterNot(j => own.contains(j.group))
    val allTasks = tasks.asScala.toSeq
    val allPlans = plans.asScala.toSeq
    def spanOf(group: String): Option[Span] = byGroup.get(group)
    // a plan belongs to the innermost span open when it finished
    def spanAt(t: Long): Option[Span] =
      done.filter(s => s.start <= t && t <= s.end).sortBy(s => -s.start).headOption

    def row(label: String, ss: Seq[Span]): LedgerRow = {
      val ids = ss.map(_.id).toSet
      val js = allJobs.filter(j => spanOf(j.group).exists(s => ids.contains(s.id)))
      val ts = allTasks.filter(t => spanOf(t.group).exists(s => ids.contains(s.id)))
      val ps = allPlans.filter(p => spanAt(p.endMs).exists(s => ids.contains(s.id)))
      val wall = ss.map(s => (s.end - s.start) / 1000.0).sum
      val jobIntervals = js.map(j => (j.startMs, j.endMs))
      val jobS = unionMs(jobIntervals) / 1000.0
      val busyS = unionMs(jobIntervals ++ ps.flatMap(_.phases)) / 1000.0
      val taskS = ts.map(_.runMs).sum / 1000.0
      LedgerRow(label, ss.size, wall,
        planS = ps.map(_.planMs).sum / 1000.0,
        jobS = jobS,
        driverS = math.max(0.0, wall - busyS),
        jobs = js.size, stages = ts.map(_.stage).distinct.size, tasks = ts.size,
        taskS = taskS,
        coresBusy = if (jobS > 0) taskS / (jobS * nproc) else 0.0,
        shuffleBytes = ts.map(_.shuffleBytes).sum, spillBytes = ts.map(_.spillBytes).sum,
        gcS = ss.map(s => s.gcEndMs - s.gcStartMs).sum / 1000.0)
    }
    val byName = done.groupBy(_.name).toSeq.sortBy(_._1)
    val rows = byName.map { case (name, ss) => row(name, ss) }
    val tagged = byName.flatMap { case (name, ss) =>
      ss.filter(_.tag.nonEmpty).groupBy(_.tag).toSeq.sortBy(_._1)
        .map { case (tag, ts) => row(s"$name:$tag", ts) }
    }
    val attributed = allJobs.count(j => spanOf(j.group).isDefined)
    Ledger(rows, tagged, totalJobs = allJobs.size,
      unattributedJobShare = if (allJobs.isEmpty) 0.0 else 1.0 - attributed.toDouble / allJobs.size,
      spans = done)
  }
}

object Tracer {
  val Own = "graftbench.own"

  final case class Span(id: Long, name: String, tag: String, parent: Long, runId: String,
                        start: Long, var end: Long, gcStartMs: Long, var gcEndMs: Long)
  final case class JobRec(group: String, startMs: Long, endMs: Long)
  final case class TaskRec(group: String, stage: Int, runMs: Long, shuffleBytes: Long,
                           spillBytes: Long)
  final case class PlanRec(endMs: Long, planMs: Long, phases: Seq[(Long, Long)])

  final case class LedgerRow(name: String, calls: Int, wallS: Double, planS: Double,
                             jobS: Double, driverS: Double, jobs: Int, stages: Int,
                             tasks: Int, taskS: Double, coresBusy: Double,
                             shuffleBytes: Long, spillBytes: Long, gcS: Double)

  /** `rows` per span name; `tagged` per span name and tag. */
  final case class Ledger(rows: Seq[LedgerRow], tagged: Seq[LedgerRow], totalJobs: Int,
                          unattributedJobShare: Double, spans: Seq[Span])

  /** Total length of the union of [start, end] intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
