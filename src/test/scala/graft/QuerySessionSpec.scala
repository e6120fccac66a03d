package graft

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.engine.{DfCache, QuerySession, Tables}

/** Per-query sessions: a tuned key plans on its own clone of the
  * caller's session, so the caller's conf, catalog and listeners are
  * never written, and concurrent keys on one session each keep their
  * own partitioning. */
class QuerySessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def key(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Shuffle partition counts of every exchange in `df`'s executed
    * plan (inside an adaptive root too). */
  private def exchangePartitions(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.numPartitions
    }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("a tuned key's frame plans under its own confs; the caller keeps its own") {
    val callerParts = spark.conf.get(Partitions)
    val callerAqe = spark.conf.get(Aqe)
    val pr = key("q_graph_pagerank")
    pr.collect()
    val plan = pr.queryExecution.executedPlan
    assert(!plan.isInstanceOf[AdaptiveSparkPlanExec],
      s"pagerank's frame must plan with AQE off:\n$plan")
    val parts = exchangePartitions(pr)
    assert(parts.nonEmpty && parts.forall(_ == 8),
      s"pagerank's exchanges must have 8 partitions, got $parts:\n$plan")
    assert(spark.conf.get(Partitions) == callerParts)
    assert(spark.conf.get(Aqe) == callerAqe)
    val own = spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7)
      .as("k")).count()
    own.collect()
    assert(own.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(exchangePartitions(own).forall(_ == callerParts.toInt))
  }

  test("two keys on two threads of one session match their sequential results") {
    val callerParts = spark.conf.get(Partitions).toInt
    val pagerank = rows(key("q_graph_pagerank"))
    val q5 = rows(key("q_tpch_q5"))
    (1 to 3).foreach { round =>
      val results = new java.util.concurrent.ConcurrentHashMap[String, Seq[Row]]()
      val q5Parts = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq("q_graph_pagerank", "q_tpch_q5").map { name =>
        new Thread(() =>
          try {
            val df = key(name)
            results.put(name, rows(df))
            if (name == "q_tpch_q5") q5Parts.add(exchangePartitions(df))
          } catch { case e: Throwable => errors.add(e) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, s"round $round: ${errors.peek()}")
      assert(results.get("q_graph_pagerank") == pagerank, s"round $round")
      assert(results.get("q_tpch_q5") == q5, s"round $round")
      q5Parts.forEach { ps =>
        assert(ps.nonEmpty && ps.forall(_ == callerParts),
          s"round $round: q_tpch_q5 exchanges $ps, caller has $callerParts")
      }
    }
  }

  test("a DfCache frame fetched in a query session plans with the clone's partitions and reads the cache") {
    DfCache(spark, sf, "query_session_spec_ids") {
      spark.range(2000).toDF("id")
    }.count()
    val grouped = QuerySession(spark, QuerySession.SmallIterative) { spark =>
      val ids = DfCache(spark, sf, "query_session_spec_ids")(
        fail("the frame must already be cached"))
      assert(ids.sparkSession eq spark, "the cache must bind to the asker")
      ids.groupBy((ids("id") % 13).as("k")).count()
    }
    grouped.collect()
    val plan = grouped.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[InMemoryTableScanExec]).nonEmpty,
      s"the clone must still read the cached rows:\n$plan")
    val parts = exchangePartitions(grouped)
    assert(parts.nonEmpty && parts.forall(_ == 8), s"$parts:\n$plan")
  }

  test("a stream key leaves no sink view in the caller's catalog; caller listeners see its progress") {
    val progress = new AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      val df = key("q_stream_session")
      assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_stream_")),
        "the memory sink's view must live in the query's own session")
      assert(df.collect().nonEmpty)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (progress.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(progress.get > 0, "the caller's listener saw no progress events")
    } finally spark.streams.removeListener(listener)
  }

  test("a drained stream key's session is released once its frame is dropped") {
    def drained(): WeakReference[AnyRef] = {
      val df = key("q_stream_session")
      assert(df.collect().nonEmpty)
      assert(!(df.sparkSession eq spark))
      new WeakReference[AnyRef](df.sparkSession)
    }
    val ref = drained()
    // Spark's AQE pool threads (QueryStageCreator, shuffle-exchange, …)
    // inherit the session active on the thread that creates them, so
    // the action above may pin the clone until those threads idle out
    // (60 s keep-alive); what must not hold it is anything of ours
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(500)
    }
    assert(ref.get == null, "the stream key's session is still reachable")
  }

  test("loading events leaves the legacy nanosAsLong flag unset") {
    Tables.events(spark, sf).count()
    assert(!spark.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
  }
}
