package graft.perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused this one (0 = none). `attrs` carries counts and
  * byte totals measured at the same boundary.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty)

/** Epoch-aligned clock with nanosecond resolution, so driver-side spans
  * and Spark listener timestamps (epoch ms) share one time axis.
  */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** Plan and stream listeners registered by class name through static
  * session confs, so the sessions a query factory creates for itself
  * (`newSession()`, as the tx stream queries do) report too. They forward
  * to the trace that is recording, if any.
  */
object Taps {
  @volatile var trace: Option[Trace] = None
  def confs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[PlanTap].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTap].getName)
}

final class PlanTap extends QueryExecutionListener {
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    Taps.trace.foreach(_.planListener.onSuccess(func, qe, ns))
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    Taps.trace.foreach(_.planListener.onFailure(func, qe, e))
}

final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Taps.trace.foreach(_.streamListener.onQueryProgress(e))
}

object Trace {
  private final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int],
      var endMs: Long = -1L, var ok: Boolean = true)
  private final case class StageRec(stageId: Int, attempt: Int,
      startMs: Long, endMs: Long, attrs: Map[String, Double])
  private final case class PlanRec(func: String, phases: Seq[(String, Long, Long)])
  private final case class BatchRec(name: String, startMs: Double,
      attrs: Map[String, Double])
}

/** Spans recorded in memory during a run: the driver-side tree (workload →
  * pass → query → build/exec) opened and closed around the calls into the
  * program, plus the records Spark's listeners deliver (jobs, stages,
  * failed tasks, plan phases, stream batches). [[link]] attaches each
  * listener record to the innermost driver span that contains it. With one
  * client, every Spark job falls inside exactly one query's window, so
  * attribution by time is exact.
  */
final class Trace(workload: String) {
  import Trace._
  private var nextId = 0
  /** Id of the driver span closed most recently. */
  var lastClosedId = 0
  private val driverSpans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Double)]

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Time `body` as a child of the currently open span. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = newId()
    val parent = open.headOption.map(_._1).getOrElse(0)
    open.push((id, kind, name, Clock.nowMs))
    try body
    finally {
      val (_, k, n, start) = open.pop()
      driverSpans += Span(id, parent, k, n, start, Clock.nowMs)
      lastClosedId = id
    }
  }

  // ---- listener-side records (written from listener threads) ----------
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val failedTaskTimes = mutable.ArrayBuffer.empty[(Int, Long)]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val attrs = Map(
        "tasks" -> i.numTasks.toDouble,
        "failed" -> (if (i.failureReason.isDefined) 1.0 else 0.0),
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ns" -> m.executorCpuTime.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "input_b" -> m.inputMetrics.bytesRead.toDouble,
        "output_b" -> m.outputMetrics.bytesWritten.toDouble,
        "spill_disk_b" -> m.diskBytesSpilled.toDouble)
      val start = i.submissionTime.getOrElse(0L)
      val end = i.completionTime.getOrElse(start)
      Trace.this.synchronized {
        stages += StageRec(i.stageId, i.attemptNumber(), start, end, attrs)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) Trace.this.synchronized {
        failedTaskTimes += ((e.stageId, e.taskInfo.finishTime))
      }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs, p.endTimeMs) }
      Trace.this.synchronized { plans += PlanRec(func, ph) }
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val attrs = Map(
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0.0),
        "input_rows" -> p.numInputRows.toDouble)
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      Trace.this.synchronized {
        batches += BatchRec(s"${p.name}#${p.batchId}", start, attrs)
      }
    }
  }

  /** Start recording. Plan and stream events arrive through [[PlanTap]]
    * and [[StreamTap]], which the session must have been built with
    * ([[Taps.confs]]).
    */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    Taps.trace = Some(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    Taps.trace = None
  }

  /** All spans, listener records linked to their innermost driver span. */
  def link(): Seq[Span] = synchronized {
    // the workload span is the root: every top-level driver span hangs off it
    val rootId = newId()
    val driver = driverSpans.sortBy(_.startMs).toIndexedSeq
      .map(s => if (s.parent == 0) s.copy(parent = rootId) else s)
    // innermost = latest-starting driver span whose window holds t; the
    // 1 ms slack absorbs listener timestamps truncated to whole ms
    def within(t: Double): Int = {
      var best = 0
      var bestStart = Double.MinValue
      driver.foreach { s =>
        if (s.startMs - 1 <= t && t <= s.endMs + 1 && s.startMs >= bestStart) {
          best = s.id; bestStart = s.startMs
        }
      }
      best
    }
    val out = mutable.ArrayBuffer.empty[Span] ++= driver
    if (driver.nonEmpty) out += Span(rootId, 0, "workload", workload,
      driver.map(_.startMs).min, driver.map(_.endMs).max)
    val stageParent = mutable.Map.empty[Int, Int]
    jobs.values.foreach { j =>
      val id = newId()
      // a stage reused by a later job (shown there as skipped) ran in the
      // first job that listed it
      j.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
      val end = if (j.endMs < 0) j.startMs else j.endMs
      out += Span(id, within(j.startMs.toDouble), "job", s"job ${j.id}",
        j.startMs.toDouble, end.toDouble,
        Map("failed" -> (if (j.ok) 0.0 else 1.0)))
    }
    val stageSpanIds = mutable.Map.empty[Int, Int]
    stages.foreach { s =>
      val id = newId()
      stageSpanIds(s.stageId) = id
      out += Span(id, stageParent.getOrElse(s.stageId, within(s.startMs.toDouble)),
        "stage", s"stage ${s.stageId}.${s.attempt}", s.startMs.toDouble,
        s.endMs.toDouble, s.attrs)
    }
    failedTaskTimes.foreach { case (stage, t) =>
      out += Span(newId(), stageSpanIds.getOrElse(stage, within(t.toDouble)),
        "task.failed", s"stage $stage", t.toDouble, t.toDouble)
    }
    plans.filter(_.phases.nonEmpty).foreach { p =>
      val start = p.phases.map(_._2).min.toDouble
      val id = newId()
      out += Span(id, within(start), "plan", p.func, start,
        p.phases.map(_._3).max.toDouble)
      p.phases.foreach { case (phase, s, e) =>
        out += Span(newId(), id, s"plan.$phase", p.func, s.toDouble, e.toDouble)
      }
    }
    batches.foreach { b =>
      out += Span(newId(), within(b.startMs), "stream.batch", b.name,
        b.startMs, b.startMs + b.attrs("trigger_ms"), b.attrs)
    }
    out.toSeq
  }
}
