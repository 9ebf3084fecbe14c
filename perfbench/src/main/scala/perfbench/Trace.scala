package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store of the traced pass. The three listener classes
  * below are registered through Spark's static listener confs
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), so every session —
  * including the `newSession()` children the replay specs run on —
  * reports here. Nothing is printed until the pass ends.
  *
  * Attribution is by time: the harness records the wall intervals of
  * its timed operations, and an event counts when it starts inside one.
  * Listener delivery is asynchronous, so readers call [[sync]] first.
  */
object Trace {
  final case class Job(id: Int, start: Long, stages: Seq[Int],
      description: String)
  final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spillBytes: Long, inputBytes: Long,
      outputBytes: Long, outputRecords: Long)
  final case class Query(func: String, start: Long, durMs: Double,
      phases: Seq[(Long, Long)])

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val streamsStarted = new java.util.concurrent.atomic.AtomicInteger()
  val streamsEnded = new java.util.concurrent.atomic.AtomicInteger()

  private val timed = mutable.ArrayBuffer.empty[(Long, Long)]

  def markTimed(start: Long, end: Long): Unit =
    timed.synchronized { timed += ((start, end)) }

  def intervals: Seq[(Long, Long)] = timed.synchronized(timed.toList)

  def inTimed(t: Long): Boolean =
    intervals.exists { case (a, b) => t >= a && t <= b }

  /** Block until the shared listener queue has delivered every event
    * posted before now: run a marked job and wait for its end event.
    * Streaming progress rides its own queue; wait for every started
    * query to report terminated.
    */
  def sync(spark: SparkSession): Unit = {
    val tag = s"perfbench-sync-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 20000
    def seen = jobs.asScala.find(_.description == tag)
      .exists(j => jobEnds.containsKey(j.id))
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    while (streamsEnded.get() < streamsStarted.get() &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Total length of the union of intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Intervals clipped to the timed windows. */
  def clip(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val ts = intervals
    xs.flatMap { case (a, b) =>
      ts.flatMap { case (ta, tb) =>
        val (lo, hi) = (math.max(a, ta), math.min(b, tb))
        if (hi > lo) Some((lo, hi)) else None
      }
    }
  }

  def timedJobs: Seq[Job] = jobs.asScala.toSeq.filter(j => inTimed(j.start))

  def timedQueries: Seq[Query] =
    queries.asScala.toSeq.filter(q => inTimed(q.start))

  def timedTasks: Seq[Task] = {
    val stages = timedJobs.flatMap(_.stages).toSet
    tasks.asScala.toSeq.filter(t => stages(t.stage))
  }

  def jobIntervals(js: Seq[Job]): Seq[(Long, Long)] =
    js.flatMap(j => Option(jobEnds.get(j.id)).map(e => (j.start, e.toLong)))

  def plannerIntervals(qs: Seq[Query]): Seq[(Long, Long)] =
    qs.flatMap(_.phases)

  /** Engine-side layer metrics over the timed windows: jobs, stages,
    * tasks, exchange, scan and store writes, planner phases.
    */
  def engineMetrics(r: Report, cores: Int): Unit = {
    val mb = 1024.0 * 1024.0
    val js = timedJobs
    val stageSet = js.flatMap(_.stages).toSet
    val ts = timedTasks
    val wallMs = intervals.map { case (a, b) => b - a }.sum.toDouble
    val execMs = unionMs(clip(jobIntervals(js)))
    val taskRun = ts.map(_.runMs).sum / 1000.0
    r.put("exec.s", execMs / 1000.0, "s")
    r.put("exec.jobs", js.size, "count")
    r.put("exec.stages",
      stagesDone.asScala.count(stageSet.contains), "count")
    r.put("exec.tasks", ts.size, "count")
    r.put("exec.task_run_s", taskRun, "s")
    r.put("exec.core_util",
      if (wallMs > 0) taskRun / (wallMs / 1000.0 * cores) else 0.0, "ratio")
    r.put("exec.gc_s", ts.map(_.gcMs).sum / 1000.0, "s")
    r.put("exec.spill_mb", ts.map(_.spillBytes).sum / mb, "MB")
    r.put("exchange.shuffle_write_mb", ts.map(_.shuffleWrite).sum / mb, "MB")
    r.put("exchange.shuffle_read_mb", ts.map(_.shuffleRead).sum / mb, "MB")
    r.put("exchange.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1000.0, "s")
    // Per stage with at least two tasks: slowest task over the median
    // task; reported as the median over those stages.
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finish - t.launch).toDouble)
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }.toSeq
    r.put("exchange.task_skew",
      if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    r.put("scan.input_mb", ts.map(_.inputBytes).sum / mb, "MB")
    r.put("store.write_mb", ts.map(_.outputBytes).sum / mb, "MB")
    r.put("store.write_records", ts.map(_.outputRecords).sum.toDouble,
      "count")
    val qs = timedQueries
    r.put("planner.s", qs.flatMap(_.phases).map { case (a, b) => b - a }
      .sum / 1000.0, "s")
    r.put("planner.queries", qs.size, "count")
  }

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  def progressAt(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Micro-batch engine and state-store metrics from progress records:
    * per trigger with data, the stages the engine times itself.
    */
  def progressMetrics(r: Report, prog: Seq[StreamingQueryProgress]): Unit = {
    val withData = prog.filter(_.numInputRows > 0)
    def p50(f: StreamingQueryProgress => Double): Double =
      Stats.median(withData.map(f))
    val st = prog.flatMap(_.stateOperators)
    val stData = withData.flatMap(_.stateOperators)
    r.put("microbatch.count", prog.size, "count")
    r.put("microbatch.rows_p50", p50(_.numInputRows.toDouble), "rows")
    r.put("microbatch.trigger_ms_p50", p50(dur(_, "triggerExecution")), "ms")
    r.put("microbatch.plan_ms_p50", p50(dur(_, "queryPlanning")), "ms")
    r.put("microbatch.log_ms_p50",
      p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
    r.put("microbatch.add_batch_ms_p50", p50(dur(_, "addBatch")), "ms")
    r.put("state.commit_ms_p50",
      Stats.median(stData.map(_.commitTimeMs.toDouble)), "ms")
    r.put("state.commit_ms_sum", st.map(_.commitTimeMs.toDouble).sum, "ms")
    r.put("state.rows_total_max",
      st.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max), "rows")
    r.put("state.mem_mb_max", st.map(_.memoryUsedBytes / 1048576.0)
      .foldLeft(0.0)(math.max), "MB")
  }

  /** Self-time split of the timed wall: job execution, planning outside
    * jobs, and the remainder (driver code between and around them).
    * The three parts sum to the wall time by construction.
    */
  def wallSplit(r: Report): Unit = {
    val wallMs = intervals.map { case (a, b) => b - a }.sum
    val j = clip(jobIntervals(timedJobs))
    val p = clip(plannerIntervals(timedQueries))
    val execMs = unionMs(j)
    val bothMs = unionMs(j ++ p)
    r.put("split.wall_s", wallMs / 1000.0, "s")
    r.put("split.exec_self_s", execMs / 1000.0, "s")
    r.put("split.planner_self_s", (bothMs - execMs) / 1000.0, "s")
    r.put("split.remainder_s", (wallMs - bothMs) / 1000.0, "s")
  }
}

class TraceSparkListener extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.add(Job(e.jobId, e.time, e.stageIds, desc))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null)
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
  }
}

class TraceQueryListener extends QueryExecutionListener {
  private def rec(func: String, qe: QueryExecution, durNs: Long): Unit = {
    val ph = qe.tracker.phases.values.toSeq
      .map(s => (s.startTimeMs, s.endTimeMs))
    val start =
      if (ph.nonEmpty) ph.map(_._1).min
      else System.currentTimeMillis() - durNs / 1000000
    Trace.queries.add(Trace.Query(func, start, durNs / 1e6, ph))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = rec(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = rec(funcName, qe, 0L)
}

class TraceStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Trace.streamsStarted.incrementAndGet(): Unit
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Trace.progress.add(e.progress): Unit
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Trace.streamsEnded.incrementAndGet(): Unit
}
