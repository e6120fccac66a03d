package graft.engine

import java.util.UUID
import java.util.concurrent.TimeoutException

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.storage.RDDBlockId

/** Per-key layer records, attributed by Spark job tag rather than by
  * time span: a harness runs each key's factory call and action under
  * `SparkContext.addJobTag(key)` ([[QueryMetrics.tagged]]), and every
  * event is folded into the record of the key its job carries. Threads
  * a key starts (txn writers, a stream's execution thread, AQE stage
  * threads) inherit the tag, so their work lands on the key too.
  *
  * One SparkListener on the context's bus sees all of it: jobs, stages
  * and tasks; the SQL executions' end events, which carry the executed
  * query (what a QueryExecutionListener gets) for planning time and
  * cache scans; and streaming progress, which a session's streaming
  * listener bus re-posts there. So it covers every session of the
  * context, [[QuerySession]] clones included, and registers on none.
  *
  * The formulas are perfbench's (`Tracer.scala`, `stats.py`): driver
  * gap = wall time minus the union of the key's stage intervals; skew
  * = max task / median task over stages of two or more tasks; a cache
  * build is the first stored block of a cached (non-checkpoint) RDD; a
  * cache scan is an in-memory table scan in an executed plan;
  * checkpoint MB are the stored blocks of RDDs made by
  * `checkpoint`/`localCheckpoint`; planning = analysis + optimization +
  * physical planning. Stored blocks come from the block-update events
  * Spark always posts, so no conf is needed.
  *
  * Events arrive on the bus thread; [[take]] is called from the
  * harness thread, hence the locking. */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val open = mutable.HashMap.empty[String, Acc]
  private var untagged = 0L
  private val keyOfStage = mutable.HashMap.empty[Int, String]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val keyOfExecution = mutable.HashMap.empty[Long, String]
  private val keyOfRun = mutable.HashMap.empty[UUID, String]
  // rdd id -> (key of the last stage that listed it, is it a checkpoint)
  private val persisted = mutable.HashMap.empty[Int, (String, Boolean)]
  private val built = mutable.HashSet.empty[Int]

  private def acc(key: String): Acc = open.getOrElseUpdate(key, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobTagsProperty)))
      .fold(Set.empty[String])(_.split(',').toSet)
    keyOf(tags) match {
      case Some(k) => acc(k).jobs += 1; e.stageIds.foreach(keyOfStage.put(_, k))
      case None => untagged += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOfStage.get(e.stageInfo.stageId).foreach { k =>
      e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
        .foreach(r => persisted.put(r.id, (k, isCheckpoint(r.callSite))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (keyOfStage.contains(e.stageId))
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val durs = taskMs.remove((s.stageId, s.attemptNumber())).fold(Seq.empty[Long])(_.toSeq)
    keyOfStage.get(s.stageId).foreach(acc(_).stages += stageOf(s, durs))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val bytes = b.memSize + b.diskSize
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid && bytes > 0 =>
        persisted.get(rdd).foreach { case (k, ckpt) =>
          if (ckpt) acc(k).checkpointBytes += bytes
          else if (built.add(rdd)) acc(k).cacheBuilds += 1
        }
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        keyOf(s.jobTags).foreach(keyOfExecution.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        for (k <- keyOfExecution.remove(s.executionId); qe <- Option(Bridge.queryOf(s)))
          try {
            val ph = qe.tracker.phases
            val a = acc(k)
            a.plans += 1
            a.planningMs += PlanningPhases.flatMap(ph.get).map(_.durationMs).sum
            a.cacheScans += Plans.collectWithSubqueries(qe.executedPlan) {
              case t: InMemoryTableScanExec => t }.size
          } catch { case NonFatal(_) => () } // a query that failed to plan
      case s: QueryStartedEvent => keyOf(s.jobTags).foreach(keyOfRun.put(s.runId, _))
      case p: QueryProgressEvent => keyOfRun.get(p.progress.runId).foreach(acc(_).progress += p.progress)
      case t: QueryTerminatedEvent => keyOfRun.remove(t.runId)
      case _ =>
    }
  }

  /** The record of everything tagged `key` since the last take, after
    * every event posted so far has arrived; `wallS` is the key's wall
    * time as the harness measured it. */
  def take(key: String, wallS: Double): Layers = {
    try Bridge.awaitListeners(sc) catch { case _: TimeoutException => () }
    synchronized(open.remove(key)).getOrElse(new Acc).layers(wallS)
  }

  /** Jobs that carried no key tag since [[QueryMetrics.install]]. */
  def untaggedJobs: Long = synchronized(untagged)

  def close(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {

  def install(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** `body` with `key` as a job tag of this thread (and of the threads
    * it starts). */
  def tagged[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(key)
    try body finally sc.removeJobTag(key)
  }

  // Spark's local property holding a job's tags (SparkContext.SPARK_JOB_TAGS)
  private val JobTagsProperty = "spark.job.tags"

  /** A job's key tag: Spark names its own tags `spark-…` (the
    * session tags every SQL execution adds). */
  private def keyOf(tags: Set[String]): Option[String] =
    tags.find(t => t.nonEmpty && !t.startsWith("spark-"))

  /** Spark names an RDD's creation site after the public call that
    * made it. */
  private def isCheckpoint(callSite: String): Boolean =
    callSite.startsWith("localCheckpoint at") || callSite.startsWith("checkpoint at")

  private val PlanningPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private object Plans extends AdaptiveSparkPlanHelper

  private val MB = 1024.0 * 1024.0

  /** One completed stage attempt. Spill is the bytes spilled to disk. */
  final case class Stage(id: Int, name: String, site: String, startMs: Long,
      endMs: Long, tasks: Int, skew: Double, runS: Double, cpuS: Double,
      inputRecords: Long, shuffleReadRecords: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def secs: Double = (endMs - startMs) / 1e3
  }

  private def stageOf(s: StageInfo, taskMs: Seq[Long]): Stage = {
    val sorted = taskMs.sorted
    val n = sorted.size
    val med = if (n < 2) 0.0
      else if (n % 2 == 1) sorted(n / 2).toDouble
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    val m = Option(s.taskMetrics)
    def metric(f: TaskMetrics => Long): Long = m.fold(0L)(f)
    // the call site's first engine frame, skipping the harness's own
    val site = s.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("QueryMetrics") && !l.contains("graft.Prof"))
      .getOrElse(s.name).trim
    val (start, end) = s.submissionTime.zip(s.completionTime).getOrElse((0L, 0L))
    Stage(s.stageId, s.name, site, start, end, s.numTasks,
      if (med > 0) sorted.last / med else 0.0,
      metric(_.executorRunTime) / 1e3, metric(_.executorCpuTime) / 1e9,
      metric(_.inputMetrics.recordsRead), metric(_.shuffleReadMetrics.recordsRead),
      metric(_.shuffleWriteMetrics.recordsWritten),
      metric(_.shuffleReadMetrics.totalBytesRead),
      metric(_.shuffleWriteMetrics.bytesWritten), metric(_.diskBytesSpilled))
  }

  /** A key's layers over one run; byte counts stay exact, [[json]]
    * reports MB. */
  final case class Layers(wallS: Double, jobs: Int, stageList: Seq[Stage],
      cacheBuilds: Int, cacheScans: Int, checkpointBytes: Long, plans: Int,
      planningS: Double, progress: Seq[StreamingQueryProgress]) {
    def stages: Int = stageList.size
    def tasks: Long = stageList.map(_.tasks.toLong).sum
    def stageBusyS: Double = unionSeconds(stageList.map(s => (s.startMs, s.endMs)))
    def driverGapS: Double = math.max(0.0, wallS - stageBusyS)
    def skewMax: Double = stageList.map(_.skew).maxOption.getOrElse(0.0)
    def shuffleReadBytes: Long = stageList.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stageList.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stageList.map(_.spillBytes).sum
    def triggers: Int = progress.size
    private def progressS(k: String): Double =
      progress.flatMap(p => Option(p.durationMs.get(k))).map(_.longValue).sum / 1e3
    def triggerS: Double = progressS("triggerExecution")
    def addBatchS: Double = progressS("addBatch")

    def json: String = {
      def f(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      Seq("wall_s" -> f(wallS), "jobs" -> jobs, "stages" -> stages,
        "tasks" -> tasks, "stage_busy_s" -> f(stageBusyS),
        "driver_gap_s" -> f(driverGapS), "skew_max" -> f(skewMax),
        "shuffle_read_mb" -> f(shuffleReadBytes / MB),
        "shuffle_write_mb" -> f(shuffleWriteBytes / MB),
        "spill_mb" -> f(spillBytes / MB), "cache_builds" -> cacheBuilds,
        "cache_scans" -> cacheScans, "checkpoint_mb" -> f(checkpointBytes / MB),
        "plans" -> plans, "planning_s" -> f(planningS), "triggers" -> triggers,
        "trigger_s" -> f(triggerS), "addbatch_s" -> f(addBatchS))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  private final class Acc {
    var jobs, cacheBuilds, cacheScans, plans = 0
    var checkpointBytes, planningMs = 0L
    val stages = mutable.ArrayBuffer.empty[Stage]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    def layers(wallS: Double): Layers = Layers(wallS, jobs, stages.toSeq,
      cacheBuilds, cacheScans, checkpointBytes, plans, planningMs / 1e3, progress.toSeq)
  }

  /** Length of the union of [start, end] millisecond intervals, in
    * seconds. */
  private[graft] def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    intervals.filter { case (s, e) => e > s }.sorted.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e3
  }
}
