package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval at a layer boundary, in epoch milliseconds (the clock
  * the listener's job and stage times use). Spans of one query share `qid`;
  * `parent` is the span that caused this one (0 for a query span). */
final case class Span(id: Long, parent: Long, qid: Long, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

object Span {
  /** Wall time of `span` not covered by any of `children` (clipped to it). */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.ms - Stats.unionLength(children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end))))

  /** A query's wall time outside every Spark job it launched: analysis,
    * planning and driver-side work between jobs, summed over its phase
    * spans (the benchmark's own bookkeeping between phases excluded). */
  def driverGapMs(phases: Seq[Span], jobs: Seq[Span]): Double = phases.map(selfMs(_, jobs)).sum
}

/** Task-level sums for one query, from listener events. */
final class QueryCounters {
  var buildJobs, execJobs, stages, tasks, taskFailures = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRows = 0L
  var queueWaitMs = 0.0
}

/** Records spans and per-query counters while `enabled`.
  *
  * Jobs are attributed through thread-local Spark properties the harness
  * sets before each phase of a query ([[Trace.tag]]);
  * Spark copies local properties into every job a thread submits, including
  * jobs run from its broadcast and subquery threads, so concurrent clients
  * in one session never mix their counts. */
final class Trace extends SparkListener {
  private val ids = new AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Long, QueryCounters]
  private final case class Job(qid: Long, spanId: Long, parent: Long, build: Boolean, submit: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobFirstTask = mutable.Set.empty[Int]
  private final case class StageRec(qid: Long, start: Double, end: Double, rdds: Seq[Int])
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  @volatile var enabled = false

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def countersOf(qid: Long): QueryCounters = synchronized(counters.getOrElseUpdate(qid, new QueryCounters))

  /** Set the attribution properties for the calling thread's next jobs. */
  def tag(sc: SparkContext, qid: Long, parent: Long, build: Boolean): Unit = {
    sc.setLocalProperty(Trace.Qid, qid.toString)
    sc.setLocalProperty(Trace.Parent, parent.toString)
    sc.setLocalProperty(Trace.Build, build.toString)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop(Trace.Qid).foreach { q =>
      val job = Job(q.toLong, nextId(), prop(Trace.Parent).fold(0L)(_.toLong),
        prop(Trace.Build).contains("true"), e.time)
      jobs(e.jobId) = job
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      val c = counters.getOrElseUpdate(job.qid, new QueryCounters)
      if (job.build) c.buildJobs += 1 else c.execJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.get(e.jobId).foreach { j =>
      spanBuf += Span(j.spanId, j.parent, j.qid, s"job ${e.jobId}", j.submit.toDouble, e.time.toDouble)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (enabled) synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if jobFirstTask.add(jid))
      counters(j.qid).queueWaitMs += (e.taskInfo.launchTime - j.submit).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      val c = counters(j.qid)
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid);
         a <- si.submissionTime; b <- si.completionTime) {
      val c = counters(j.qid)
      c.stages += 1
      spanBuf += Span(nextId(), j.spanId, j.qid, s"stage ${si.stageId}", a.toDouble, b.toDouble)
      stageRecs += StageRec(j.qid, a.toDouble, b.toDouble, si.rddInfos.map(_.id))
    }
  }

  /** Wall time per query of the stages that computed the cached tables whose
    * RDD ids are given (tables a traced execution built): the first
    * completed stage that touches such an RDD is the one that computes and
    * stores it; every later stage reads the stored blocks. */
  def cacheBuildMs(cachedRdds: Set[Int]): Map[Long, Double] = synchronized {
    val firsts = cachedRdds.toSeq.flatMap(id =>
      stageRecs.filter(_.rdds.contains(id)).sortBy(_.end).headOption)
    firsts.distinct.groupMapReduce(_.qid)(s => s.end - s.start)(_ + _)
  }
}

/** Collects the `QueryExecution` of each noop write while registered. A
  * `DataFrameWriter` wraps the frame's plan in a write command that is
  * optimized and planned by a `QueryExecution` of its own; that is the plan
  * that runs, so the planning figures are read from it. Spark reports it
  * from the listener bus once the write has ended. */
final class WritePlans extends QueryExecutionListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The last write reported since the previous call. */
  def take(): Option[QueryExecution] = {
    var last: Option[QueryExecution] = None
    while (!done.isEmpty) last = Option(done.poll())
    last
  }
}

object Trace {
  val Qid = "perfbench.qid"
  val Parent = "perfbench.parent"
  val Build = "perfbench.build"
}
