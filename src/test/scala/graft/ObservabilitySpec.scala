package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.SQLShuffleWriteMetricsReporter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.engine.{Exact, QueryMetrics, Tables}

/** `Dataset.observe` — the audit-metrics hook a 100 TB pipeline needs:
  * row counts, null counts, and value sums collected DURING the main
  * job (piggybacked on the existing scan as accumulator-style
  * aggregates), instead of a second full pass over the data. This
  * spec proves the piggybacked metrics equal a separately-computed
  * aggregate, so a production job can assert data contracts for free.
  *
  * And the per-key layer records ([[QueryMetrics]]): every job a key
  * starts, from its own thread or from the writer and stream threads it
  * spawns, carries the key's tag, and the record's shuffle bytes and
  * task count agree with Spark's own accounting of the same run. */
class ObservabilitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import Exact._

  test("observe() collects audit metrics in the same pass as the real query") {
    import spark.implicits._
    val obs = Observation("lineitem_audit")
    val li = Tables.lineitem(spark, sf)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        xsum($"l_quantity").as("sum_qty"),
        sum(when($"l_returnflag".isNull, 1).otherwise(0)).as("null_flags"))

    // the "real" job: an unrelated aggregation downstream of the scan
    val perFlag = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    val jobTotal = perFlag.agg(sum($"n")).as[Long].head()

    val metrics = obs.get
    assert(metrics("n_rows") == jobTotal,
      "observed row count must equal the job's own total")
    assert(metrics("null_flags") == 0L, "fixture has no null returnflags")

    // cross-check the piggybacked sum against a dedicated second pass
    val direct = Tables.lineitem(spark, sf)
      .agg(xsum($"l_quantity")).as[Double].head()
    assert(metrics("sum_qty") == direct,
      "exact decimal sum must match bit-for-bit across passes")
  }

  private def tagsOf(e: SparkListenerJobStart): Set[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Set.empty[String])(_.split(',').toSet)

  test("every job a key starts carries its tag, and its layer record is non-empty") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, Set[String])]()
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId -> tagsOf(e))
    }
    sc.addSparkListener(recorder)
    val metrics = QueryMetrics.install(spark)
    try {
      // q_txn_commit runs its writers on threads it starts; q_stream_session
      // drains a stream on its own thread, on a QuerySession clone
      Seq("q_cf_item_cosine", "q_txn_commit", "q_stream_session").foreach { key =>
        Bridge.awaitListeners(sc)
        jobs.clear()
        val t0 = System.nanoTime()
        QueryMetrics.tagged(spark, key)(SparkEntry.queries(key)(spark, sf).count())
        val l = metrics.take(key, (System.nanoTime() - t0) / 1e9)
        val started = jobs.asScala.toSeq
        assert(started.nonEmpty, s"$key started no job")
        val strays = started.filterNot(_._2.contains(key))
        assert(strays.isEmpty, s"$key: jobs without its tag: $strays")
        assert(l.jobs == started.size, s"$key: record has ${l.jobs} jobs, ${started.size} ran")
        assert(l.stages > 0 && l.tasks > 0 && l.plans > 0, s"$key: empty layers ${l.json}")
        assert(l.driverGapS >= 0.0 && l.stageBusyS <= l.wallS + 0.05, l.json)
        if (key == "q_stream_session")
          assert(l.triggers > 0 && l.triggerS > 0.0, s"$key: no trigger recorded ${l.json}")
      }
      assert(metrics.untaggedJobs == 0L)
    } finally {
      metrics.close()
      sc.removeSparkListener(recorder)
    }
  }

  test("txn keys with metadata-only commits start no untagged job, over two reps") {
    // a range exchange over an empty delta would sample its input on
    // AQE's QueryStageCreator thread, which carries no key tag
    val sc = spark.sparkContext
    val strays = new ConcurrentLinkedQueue[String]()
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!tagsOf(e).exists(t => !t.startsWith("spark-")))
          strays.add(Option(e.properties).fold("")(_.asScala.mkString(" ")))
    }
    sc.addSparkListener(recorder)
    val metrics = QueryMetrics.install(spark)
    try {
      val keys = Seq("drop_column", "files", "history", "optimize", "optimize_cluster",
        "partitions", "rename_mapping", "schema_evolution", "sql_add_default", "sql_alter",
        "sql_alter_type").map("q_txn_" + _)
      for (_ <- 1 to 2; key <- keys) {
        QueryMetrics.tagged(spark, key)(SparkEntry.queries(key)(spark, sf).count())
        metrics.take(key, 0.0)
      }
      assert(metrics.untaggedJobs == 0L,
        s"${metrics.untaggedJobs} untagged jobs:\n${strays.asScala.mkString("\n")}")
    } finally {
      metrics.close()
      sc.removeSparkListener(recorder)
    }
  }

  test("q_cf_item_cosine's layers match the plan's shuffle metrics and the status tracker") {
    val sc = spark.sparkContext
    val key = "q_cf_item_cosine"
    val metrics = QueryMetrics.install(spark)
    try {
      // a first run builds the shared pair cache; the pinned run scans it,
      // so every shuffle it writes is an exchange of its own final plan
      QueryMetrics.tagged(spark, key)(SparkEntry.queries(key)(spark, sf).count())
      metrics.take(key, 0.0)
      val before = sc.statusTracker.getJobIdsForTag(key).toSet
      val df = QueryMetrics.tagged(spark, key) {
        val d = SparkEntry.queries(key)(spark, sf)
        d.collect()
        d
      }
      val l = metrics.take(key, 0.0)

      val planBytes = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.distinct.map(_.metrics(SQLShuffleWriteMetricsReporter.SHUFFLE_BYTES_WRITTEN).value).sum
      assert(planBytes > 0L, "the pinned run wrote no shuffle")
      assert(l.shuffleWriteBytes == planBytes,
        s"record ${l.shuffleWriteBytes} B, plan exchanges $planBytes B")

      val st = sc.statusTracker
      val ran = st.getJobIdsForTag(key).filterNot(before).toSeq
      val stageIds = ran.flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)).distinct
      val tasks = stageIds.flatMap(st.getStageInfo(_).toSeq).map(_.numCompletedTasks.toLong).sum
      assert(ran.size == l.jobs, s"tracker ${ran.size} jobs, record ${l.jobs}")
      assert(tasks > 0L && l.tasks == tasks, s"record ${l.tasks} tasks, tracker $tasks")
    } finally metrics.close()
  }
}
