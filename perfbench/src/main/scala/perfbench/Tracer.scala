package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** The traced run's collectors: Spark's public listener interfaces,
  * registered on the benchmark's session. Each event becomes one JSON
  * record kept in memory; the harness writes them out when the run
  * ends. Every record carries a Spark-side epoch-millisecond time
  * (a job's submission time for jobs and their stages, the end of
  * planning for plans, a trigger's start for streaming), and run.py
  * attributes it to the key span that contains that time: keys run
  * one after another, so the spans do not overlap.
  *
  * Stored blocks come from the tasks' own metrics, which list the
  * blocks each task stored when
  * `spark.taskMetrics.trackUpdatedBlockStatuses` is on; the harness
  * turns it on for traced runs only.
  *
  * Spark calls a listener's methods from one thread, so the maps below
  * need no locking.
  */
final class Tracer(sink: ConcurrentLinkedQueue[String])
    extends SparkListener with QueryExecutionListener {

  private val jobMsOfStage = mutable.HashMap.empty[Int, Long]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val blocksOfStage = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[(Int, Long)]]
  // rdd id -> whether it is a checkpoint (else a cached DataFrame)
  private val persisted = mutable.HashMap.empty[Int, Boolean]
  private val built = mutable.HashSet.empty[Int]
  @volatile private var fence: QueryExecution = _
  private val fenced = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(jobMsOfStage.put(_, e.time))
    sink.add(s"""{"kind":"job","ms":${e.time}}""")
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
      .foreach(r => persisted.getOrElseUpdate(r.id, Tracer.isCheckpoint(r.callSite)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      blocksOfStage.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++=
        m.updatedBlockStatuses.collect {
          case (RDDBlockId(rdd, _), st) if st.isCached => (rdd, st.memSize + st.diskSize)
        }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val k = (s.stageId, s.attemptNumber())
    val durs = taskMs.remove(k).map(_.toSeq).getOrElse(Nil)
    val blocks = blocksOfStage.remove(k).map(_.toSeq).getOrElse(Nil)
    val cacheRdds = blocks.map(_._1).distinct.filter(r => !persisted.getOrElse(r, false))
    val builds = cacheRdds.count(built.add)
    val ckptBytes = blocks.collect { case (r, b) if persisted.getOrElse(r, false) => b }.sum
    val m = Option(s.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    sink.add(
      s"""{"kind":"stage","ms":${jobMsOfStage.getOrElse(s.stageId, s.submissionTime.getOrElse(0L))},""" +
      s""""start_ms":${s.submissionTime.getOrElse(0L)},"end_ms":${s.completionTime.getOrElse(0L)},""" +
      s""""tasks":${s.numTasks},"task_ms":${durs.mkString("[", ",", "]")},""" +
      s""""shuffle_write":${metric(_.shuffleWriteMetrics.bytesWritten)},""" +
      s""""shuffle_read":${metric(_.shuffleReadMetrics.totalBytesRead)},""" +
      s""""spill":${metric(_.diskBytesSpilled)},"input":${metric(_.inputMetrics.bytesRead)},""" +
      s""""output":${metric(_.outputMetrics.bytesWritten)},"gc_ms":${metric(_.jvmGCTime)},""" +
      s""""cache_builds":$builds,"checkpoint_bytes":$ckptBytes}""")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val planningMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
    val ms = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    val scans = Tracer.cacheScans(qe.executedPlan)
    sink.add(s"""{"kind":"plan","ms":$ms,"planning_ms":$planningMs,"cache_scans":$scans}""")
    if (qe eq fence) fenced.countDown()
  }

  /** Runs one query and waits until this listener has seen it. Spark
    * delivers listener events in order on one queue, so every event
    * posted before the fence has been recorded once it returns. */
  def drain(spark: SparkSession): Unit = {
    val ds = spark.range(1)
    fence = ds.queryExecution
    ds.collect()
    fenced.await(60, TimeUnit.SECONDS)
  }
}

object Tracer {
  /** Storage blocks whose RDD was made by `checkpoint`/`localCheckpoint`
    * (Spark names an RDD's creation site after the public call that
    * made it); every other persisted RDD is a cached DataFrame. */
  def isCheckpoint(callSite: String): Boolean =
    callSite.startsWith("localCheckpoint at") || callSite.startsWith("checkpoint at")

  private object Plans extends AdaptiveSparkPlanHelper

  def cacheScans(plan: SparkPlan): Int =
    Plans.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size

  def install(spark: SparkSession, sink: ConcurrentLinkedQueue[String]): Tracer = {
    val t = new Tracer(sink)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        sink.add(s"""{"kind":"trigger","ms":$at,"trigger_ms":${ms("triggerExecution")},""" +
          s""""addbatch_ms":${ms("addBatch")}}""")
      }
    })
    t
  }
}
