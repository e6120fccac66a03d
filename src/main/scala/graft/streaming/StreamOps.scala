package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode,
  TimerValues, TTLConfig, ValueState}
import graft.engine.{DfCache, Exact, QuerySession, Tables, TxnLog}

/** Structured Streaming surface (SURVEY.md §2.9) over the `events`
  * stream surrogate. Each query REALLY runs the incremental engine —
  * file-backed offset source → IncrementalExecution → StateStore →
  * sink — then returns the sink contents as a batch DataFrame so the
  * harness can hash-compare it against the batch-twin SQL oracle
  * (streaming-vs-batch equivalence is exactly the correctness claim).
  *
  * Scale notes (100 TB): EVERY key reads the admission-controlled
  * offset-based source ([[EventsFileStreamProvider]]) — rows never
  * transit the driver; batch composition (out-of-order slices,
  * duplicate deliveries, sentinel watermark advances, restart caps)
  * is expressed as staged batch LAYOUTS, not driver-side replay. The
  * operators themselves are source-agnostic (readStream from
  * Kafka/files swaps in). State lives per-key in the executors'
  * StateStore — at cluster scale use the RocksDB state store
  * provider + checkpointing; watermarks bound state size for the
  * windowed aggregations, and the session/dedup operators evict on
  * watermark advance. Complete-output aggregations here are
  * fixture-sized; production would use append + watermark.
  */
object StreamOps {
  import Exact._

  /** Replayed event row (props dropped — not used by stream queries). */
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Memory-sink names. A sink's view lives in the catalog of its
    * query's own session and dies with it. */
  private val nameCounter = new AtomicInteger(0)

  /** Fleet-guard plan capture: while [[planCaptureMode]] is set,
    * [[sinkPoint]] aborts the op by throwing [[PlanCapture]] with the
    * PRE-SINK analyzed logical plan(s) instead of starting the
    * streaming query — so the cartesian/window guards can sweep every
    * q_stream_* key's streaming plan STRUCTURALLY without paying a
    * full replay (building the plan analyzes it; only execution needs
    * the micro-batches). */
  private[graft] final case class PlanCapture(
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
    extends RuntimeException with scala.util.control.NoStackTrace
  private[graft] val planCaptureMode =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Every streaming op routes its pre-sink frame(s) through here
    * immediately before `.writeStream` — the guards' capture point. */
  private def sinkPoint(df: DataFrame, more: DataFrame*): DataFrame = {
    if (planCaptureMode.get)
      throw PlanCapture((df +: more).map(_.queryExecution.analyzed))
    df
  }

  /** `.sinkGuard` — the chainable form of [[sinkPoint]], spliced in
    * front of every `.writeStream` in this file. */
  private implicit class SinkGuardOps[T](ds: Dataset[T]) {
    def sinkGuard: Dataset[T] = {
      if (planCaptureMode.get)
        throw PlanCapture(Seq(ds.queryExecution.analyzed))
      ds
    }
  }

  /** Stage an events-shaped frame CARRYING a `batch` column as
    * batch-partitioned CSV for the OFFSET-BASED source
    * ([[EventsFileStreamProvider]]): one Spark job, executors write
    * their partitions — the driver never holds a row. */
  private def stageBatched(spark: SparkSession, sfDir: String,
      variant: String, df: => DataFrame): String = {
    import spark.implicits._
    stageRawBatched(spark, sfDir, variant,
      df.select($"event_id", unix_micros($"ts").as("ts"), $"user_id",
        $"event_type", $"value", $"batch"))
  }

  /** [[stageBatched]] for ANY schema: the frame carries a `batch`
    * column plus the stream's data columns in STAGED ORDER (timestamp
    * columns pre-converted to unix micros) — pass the matching DDL to
    * [[offsetSource]]. This is what makes the offset source a general
    * connector rather than an events-table special case. */
  private def stageRawBatched(spark: SparkSession, sfDir: String,
      variant: String, df: => DataFrame): String =
    // ONE staging job per (application, sfDir, variant) feeds every
    // offset-source key of a sweep; a re-run reuses the layout
    DfCache.memo(spark, sfDir, s"stream_stage_$variant") {
      val dir = scratchDir(spark, sfDir, s"evsrc_$variant")
      val d = df
      d.select(d.columns.filter(_ != "batch").map(col) :+ col("batch"): _*)
        .repartition(8, col("batch"))
        .write.mode("overwrite").partitionBy("batch").csv(dir)
      dir
    }

  /** Deterministic TIME-RANGE batch assignment: batch i holds rows
    * strictly no older than every row of batch i−1 (closed form from
    * the global [min, max] event time — ONE metadata-scale aggregate
    * row, no window, no collect of data rows). Time-ordered arrival
    * is both the realistic transport order and what the WATERMARKED
    * and STATEFUL keys require: no input row ever arrives behind the
    * watermark, so nothing is dropped as late, and per-key chunk
    * order composes to the global event-time order the batch-twin
    * oracles assume. */
  private def timeBatched(df: DataFrame, nBatches: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = df.agg(min(unix_micros($"ts")).as("lo"),
      max(unix_micros($"ts")).as("hi")).collect()(0)
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1L
    df.withColumn("batch",
      least(lit(nBatches - 1L),
        floor((unix_micros($"ts") - lit(lo)) * nBatches / span))
        .cast("long"))
  }

  /** The events table with 5-column stream shape (TimestampType ts). */
  private def eventsShaped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
  }

  /** Append far-future WATERMARK-ADVANCE sentinel rows, each in its
    * OWN trailing batch (`nRealBatches + i`) — the staged-source form
    * of [[streamChainedAgg]]'s staggered sentinel discipline: with
    * one batch admitted per trigger, each sentinel gets the engine
    * trigger its watermark step needs. Sentinel times come from a
    * 1-row max aggregate joined in-plan — no driver collect. */
  private def withSentinelBatches(df: DataFrame,
      minuteOffsets: Seq[Long], nRealBatches: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mx = df.agg(max($"ts").as("mx"))
    val sentinels = mx.crossJoin(
        minuteOffsets.zipWithIndex.toDF("mins", "i"))
      .select(lit(-1L).as("event_id"),
        expr("timestampadd(MINUTE, mins, mx)").as("ts"),
        lit(-1L).as("user_id"), lit("wm_advance").as("event_type"),
        lit(0.0).as("value"),
        (lit(nRealBatches.toLong) + $"i").cast("long").as("batch"))
    timeBatched(df, nRealBatches).unionByName(sentinels)
  }

  /** A fresh streaming reader over a staged batch directory: real
    * micro-batches with checkpointable offsets, one batch admitted
    * per trigger, rows read executor-side. */
  private def offsetSource(spark: SparkSession, staged: String,
      schemaDdl: Option[String] = None,
      maxPerTrigger: Int = 1,
      onePerTriggerFrom: Long = -1L): DataFrame = {
    val r = spark.readStream
      .format(classOf[EventsFileStreamProvider].getName)
      .option("path", staged)
      .option("maxBatchesPerTrigger", maxPerTrigger.toString)
      .option("onePerTriggerFrom", onePerTriggerFrom.toString)
    schemaDdl.fold(r)(s => r.option("schema", s)).load()
  }

  /** Drain a streaming frame into a memory sink and return it.
    *
    * The query's checkpoint is EPHEMERAL BY CONSTRUCTION (a
    * memory-sink drain is result materialization; Spark deletes the
    * temp checkpoint on success), so it rides RAM (/dev/shm) when
    * available instead of paying fsync'd WAL + state-commit I/O to
    * real disk on every trigger. The keys whose checkpoint IS the
    * semantics (offset/file-sink RESTART recovery) manage their own
    * on-disk checkpointLocation and are untouched — the 100 TB
    * analogue: local scratch for ephemeral drains, the durable
    * object-store path for recovery-bearing state.
    *
    * RAM does not remove the per-trigger wait, because that wait was
    * never the storage device or an engine-level replan. It came from
    * process spawning: Hadoop's local FileContext forks `readlink` on
    * every checkpoint rename and `chmod` on every create. Every query
    * here therefore runs under [[LocalCheckpointFileManager]] (see
    * [[streamQuerySession]]), which does neither. Measured on perfbench
    * `ingest`, 12 alternating pairs on a 4-vCPU VM: query p50 2.35 →
    * 1.41 s, warm pass 5.81 → 4.33 s; same triggers and jobs. */
  private def ephemeralCkpt(): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
      else new java.io.File(System.getProperty("java.io.tmpdir")).toPath
    java.nio.file.Files.createTempDirectory(base, "graft_ckpt_").toFile
  }

  /** The state-store provider transformWithState requires. */
  private val RocksDbState: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Build `body` on a [[QuerySession]] carrying the confs every
    * streaming query here starts under, plus `extra`:
    *  - 8 shuffle partitions, which a stateful query also fixes as
    *    its state-partition count in the checkpoint;
    *  - [[LocalCheckpointFileManager]] for offset, commit and state
    *    files: Spark's default local manager forks `readlink`/`chmod`
    *    processes on every rename and create, which was most of a
    *    small trigger's wall time. */
  private def streamQuerySession(spark: SparkSession,
      extra: Seq[(String, String)] = Nil)(
      body: SparkSession => DataFrame): DataFrame =
    QuerySession.streaming(spark, Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) ++ extra)(body)

  /** Run `q` until `untilDone` returns, then stop it and drop the
    * listener bus of the session Spark cloned for it: a stateful
    * operator touches that session's `streams`. */
  private def drain(q: StreamingQuery,
      untilDone: StreamingQuery => Unit = _.processAllAvailable()): Unit =
    try untilDone(q)
    finally { q.stop(); Bridge.dropStreamBus(Bridge.streamSession(q)) }

  /** Run `out` into a memory sink on its own [[streamQuerySession]] and
    * return the sink's rows, read through that session. */
  private def drainToTable(spark: SparkSession, out: DataFrame,
      mode: OutputMode, extraConf: Seq[(String, String)] = Nil): DataFrame =
    streamQuerySession(spark, extraConf) { spark =>
      val sinkName = s"graft_stream_${nameCounter.incrementAndGet()}"
      val ckpt = ephemeralCkpt()
      try {
        val q = QuerySession.bind(sinkPoint(out), spark)
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .outputMode(mode).start()
        drain(q)
      } finally TxnLog.destroy(ckpt.getPath)
      spark.table(sinkName)
    }

  /** [[runStream]] through the OFFSET-BASED file-backed V2 source
    * instead of a MemoryStream replay: the driver-memory-bounded
    * replay collect is retired for every key routed here. */
  private def runStreamOffsets(spark: SparkSession, sfDir: String,
      mode: OutputMode, nBatches: Int = 3,
      extraConf: Seq[(String, String)] = Nil)(
      build: DataFrame => DataFrame): DataFrame = {
    val staged = stageBatched(spark, sfDir, s"t$nBatches",
      timeBatched(eventsShaped(spark, sfDir), nBatches))
    drainToTable(spark, build(offsetSource(spark, staged)), mode, extraConf)
  }

  /** The GENERIC offset source on a SECOND table: the documents
    * corpus streams through the same connector the events keys use
    * (schema DDL option — nothing events-specific left), feeding a
    * text-pipeline aggregation: per-language doc counts, whitespace
    * token totals and char totals, Complete mode. Free-form text
    * rides the staged CSV as BASE64 (commas/newlines in documents
    * would break a delimited transport; the encode is distributed,
    * the decode is in-plan). This is the streaming half of the
    * pretraining-data story: the same quality counters the batch
    * text keys compute, maintained incrementally as the corpus
    * arrives. */
  def streamDocStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // HEX, not base64: Spark's base64() MIME-chunks at 76 chars with
    // embedded newlines — a delimited transport killer
    val staged = stageRawBatched(spark, sfDir, "docs3", {
      Tables.documents(spark, sfDir)
        .select($"doc_id", $"lang",
          hex(encode($"text", "UTF-8")).as("text_hex"),
          pmod($"doc_id", lit(3)).cast("long").as("batch"))
    })
    drainToTable(spark,
      offsetSource(spark, staged,
        Some("doc_id BIGINT, lang STRING, text_hex STRING"))
        .select($"lang",
          expr("cast(unhex(text_hex) as string)").as("text"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split($"text", " ")).cast("long")).as("sum_ws"),
          sum(length($"text").cast("long")).as("sum_chars")),
      OutputMode.Complete())
      .orderBy($"lang")
  }

  val streamDocStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** CHECKPOINT-RESTART on the OFFSET-BASED source — the proof the
    * offsets are REAL: run 1 caps availability at 2 of the 4 staged
    * batches (`maxTotalBatches`, the harness's stand-in for "the
    * topic ends here") and stops cold; run 2 is a brand-new query
    * object on the same checkpointLocation with the cap lifted — the
    * engine restores the committed batch-ordinal offset and the
    * source resumes at batch 2, never re-admitting 0-1 (a replay
    * would double every purchase in the exactly-once parquet sink,
    * which the oracle would catch). `n_batches` = the checkpoint's
    * offset-log entries: exactly 4 micro-batches across both runs.
    * This is the recovery contract a 100 TB streaming job relies on,
    * exercised against OUR source's offset arithmetic rather than
    * MemoryStream's. */
  def streamOffsetRestart(spark: SparkSession, sfDir: String): DataFrame =
    streamQuerySession(spark) { spark =>
      import spark.implicits._
      val staged = stageBatched(spark, sfDir, "t4",
        timeBatched(eventsShaped(spark, sfDir), 4))
      val root = scratchDir(spark, sfDir, "osr")
      val sink = new java.io.File(root, "sink").getAbsolutePath
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      def start(cap: Option[Long]) = {
        val reader = spark.readStream
          .format(classOf[EventsFileStreamProvider].getName)
          .option("path", staged)
          .option("maxBatchesPerTrigger", "1")
        cap.fold(reader)(c => reader.option("maxTotalBatches", c.toString))
          .load()
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"value")
          .sinkGuard
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", sink)
          .outputMode(OutputMode.Append()).start()
      }
      val q1 = start(Some(2L))
      drain(q1)
      val q2 = start(None)
      drain(q2)
      val nBatches = Option(new java.io.File(ckpt, "offsets").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.getName.forall(_.isDigit)).toLong
      spark.read.parquet(sink)
        .select($"event_id", $"user_id", $"ts", $"value")
        .withColumn("n_batches", lit(nBatches))
        .orderBy($"event_id")
    }

  val streamOffsetRestartSql: String =
    """SELECT event_id, user_id, ts, value,
      |  CAST(4 AS BIGINT) AS n_batches
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** 1-hour tumbling counts/sums per event_type (complete mode) —
    * served through the OFFSET-BASED source: three real micro-batches
    * admitted one per trigger, offsets checkpointed, rows
    * executor-side end to end. */
  def streamTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Complete()) { ds =>
      ds.groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
        .select($"window.start".as("ws"), $"event_type", $"n", $"sum_value")
    }.orderBy($"ws", $"event_type")
  }

  /** KMV size for [[streamKmv]] (distinct users/type ≈ 150+, so the
    * sketch is genuinely sub-population at every SF). */
  private val STREAM_KMV_K = 32

  /** The library's custom [[graft.functions.KmvAgg]] aggregate
    * running INSIDE the incremental streaming engine: per event type,
    * a complete-mode streaming aggregation maintains the k-minimum
    * hash state in the state store across micro-batches and emits the
    * distinct-user estimate. This is the streaming payoff of a
    * mergeable sketch — streaming DISTINCT is unsupported (unbounded
    * state), but the KMV buffer is ≤ k longs per key forever, and the
    * same TypedImperativeAggregate serialize/merge path the batch
    * shuffle uses is what the state store persists. Batch twin =
    * identical expression over the full events table (the replay
    * delivers everything, so stream ≡ batch — the section's standard
    * oracle). */
  def streamKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val P31 = Int.MaxValue.toLong
    runStreamOffsets(spark, sfDir, OutputMode.Complete()) { ds =>
      ds.select($"event_type",
          expr(s"CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % $P31")
            .as("h"))
        .groupBy($"event_type")
        .agg(graft.functions.KmvAgg(col("h"), STREAM_KMV_K).as("mins"))
        // mirror the oracle's `rn = k` inner join: groups that never
        // accumulated k distinct hashes have no kth minimum
        .where(size($"mins") === STREAM_KMV_K)
        .select($"event_type",
          expr(s"try_element_at(mins, $STREAM_KMV_K)").as("kth_hash"),
          graft.functions.Udfs.rnd6(
            lit((STREAM_KMV_K - 1).toDouble * P31) /
              expr(s"CAST(try_element_at(mins, $STREAM_KMV_K) AS DOUBLE)"))
            .as("est_users"))
    }.orderBy($"event_type")
  }

  val streamKmvSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val P31 = Int.MaxValue.toLong
    val k = STREAM_KMV_K
    s"""WITH hashed AS (
       |  SELECT DISTINCT event_type,
       |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % $P31 AS h
       |  FROM events),
       |ranked AS (
       |  SELECT event_type, h, row_number() OVER (
       |    PARTITION BY event_type ORDER BY h ASC) AS rn
       |  FROM hashed)
       |SELECT event_type, h AS kth_hash,
       |  ${sqlRnd6(
      s"CAST(${(k - 1).toLong * P31} AS DOUBLE) / CAST(h AS DOUBLE)")}
       |    AS est_users
       |FROM ranked WHERE rn = $k
       |ORDER BY event_type""".stripMargin
  }

  val streamTumblingSql: String =
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
       |  COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** 1-hour windows sliding every 15 minutes, computed by PANE
    * DECOMPOSITION: the stream aggregates non-overlapping 15-minute
    * panes (state keys and shuffle volume 1×, where the built-in
    * sliding `window()` expands every event into 4 rows before the
    * shuffle — a 4× tax that matters at 100 TB), then a finalize step
    * fans each pane into the 4 sliding windows containing it and
    * combines. The combine is decimal-exact sums + counts, which are
    * associative — so the result is BIT-IDENTICAL to the direct
    * sliding aggregation, and the same batch-twin oracle applies. */
  def streamSliding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // offset-based source (see streamTumbling): real micro-batches,
    // no driver-side replay collect
    val panes = runStreamOffsets(spark, sfDir, OutputMode.Complete()) { ds =>
      ds.groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("pn"),
          sum($"value".cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as("psum"))
        .select($"window.start".as("ps"), $"event_type", $"pn", $"psum")
    }
    panes
      .select(explode(sequence(lit(0), lit(3))).as("k"),
        $"ps", $"event_type", $"pn", $"psum")
      .selectExpr("ps - make_dt_interval(0, 0, 15 * k, 0) AS ws",
        "event_type", "pn", "psum")
      .groupBy($"ws", $"event_type")
      .agg(sum($"pn").as("n"),
        sum($"psum").cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
      .orderBy($"ws", $"event_type")
  }

  /** Batch twin: each event belongs to the 4 sliding windows starting
    * at bucket15(ts) − k·15min, k ∈ 0..3 (window length 1 h). */
  val streamSlidingSql: String =
    s"""WITH expanded AS (
       |  SELECT time_bucket(INTERVAL '15 minutes', ts)
       |      - CAST(k.range AS INT) * INTERVAL '15 minutes' AS ws,
       |    event_type, value
       |  FROM events, range(0, 4) k)
       |SELECT ws, event_type, COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |FROM expanded GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** Stream-static enrichment join: the event stream joins the static
    * `customer` dimension (stateless — the static side is re-planned
    * per micro-batch, no state store involved), then a 1-day tumbling
    * aggregation per market segment. This is THE 100 TB enrichment
    * pattern: the dimension is broadcast to executors each batch, so
    * stream throughput is unaffected by its size as long as it stays
    * broadcast-able; bigger dims move to a pre-bucketed shuffle join. */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    runStreamOffsets(spark, sfDir, OutputMode.Complete()) { ds =>
      ds.join(dim, ds("user_id") === dim("c_custkey"))
        .groupBy(window($"ts", "1 day"), $"c_mktsegment")
        .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
        .select($"window.start".as("ws"), $"c_mktsegment", $"n", $"sum_value")
    }.orderBy($"ws", $"c_mktsegment")
  }

  val streamJoinSql: String =
    s"""SELECT time_bucket(INTERVAL '1 day', e.ts) AS ws, c.c_mktsegment,
       |  COUNT(*) AS n, ${sqlXsum("e.value")} AS sum_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2 ORDER BY ws, c_mktsegment""".stripMargin

  /** Stream-static ANTI join — the streaming ingest gate: drop every
    * event from a blocklisted user before it reaches downstream state.
    * The blocklist is computed from the static events snapshot with
    * pure integer arithmetic (users with ≥ 2× the mean event count:
    * cnt · n_users ≥ 2 · total — exact in both engines at any SF), so
    * the oracle is a plain NOT IN. Stateless on the stream side: the
    * static side is re-planned each micro-batch, which is also the
    * production story — a refreshed blocklist is picked up on the next
    * batch without restarting the query. At 100 TB keep the blocklist
    * broadcastable (it's per-user aggregates, tiny relative to the
    * stream); a huge one moves to a bucketed shuffle join, same as the
    * enrichment join above. */
  def streamStaticAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val totals = ev.agg(count(lit(1)).as("total"),
      countDistinct($"user_id").as("n_users"))
    val blocklist = ev.groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals)) // 1-row totals: scalar fan-in, not a real cross join
      .filter($"cnt" * $"n_users" >= lit(2) * $"total")
      .select($"user_id".as("blocked_uid"))
    runStreamOffsets(spark, sfDir, OutputMode.Append()) { ds =>
      ds.join(blocklist, ds("user_id") === $"blocked_uid", "left_anti")
        .select($"event_id", $"user_id", $"event_type", $"value")
    }.orderBy($"event_id")
  }

  val streamStaticAntiSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE user_id NOT IN (
      |  SELECT user_id FROM events GROUP BY user_id
      |  HAVING COUNT(*) * (SELECT COUNT(DISTINCT user_id) FROM events)
      |    >= 2 * (SELECT COUNT(*) FROM events))
      |ORDER BY event_id""".stripMargin

  /** Per-user session windows, 30-minute gap (complete mode). Session
    * = [first ts, last ts + gap); a new session starts when an event
    * arrives ≥ gap after the previous one. */
  def streamSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Complete()) { ds =>
      ds.groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"), xsum($"value").as("sum_value"))
        .select($"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"), $"user_id", $"n_events", $"sum_value")
    }.orderBy($"user_id", $"session_start")
  }

  val streamSessionSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, ts, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |m AS (
       |  SELECT *, CASE WHEN prev IS NULL
       |      OR ts - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
       |  FROM o),
       |s AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT min(ts) AS session_start,
       |  max(ts) + INTERVAL '30 minutes' AS session_end,
       |  user_id, COUNT(*) AS n_events, ${sqlXsum("value")} AS sum_value
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** Watermark late-data semantics, driver-visible (SURVEY.md §2.9
    * "late data"): a 1-hour tumbling aggregation with a 30-minute
    * watermark, served in TWO STAGED micro-batches split by
    * event_id % 3 — the later batch is genuinely out-of-order (it
    * holds rows older than the first batch's max), so rows whose
    * window closed under the first batch's watermark are DROPPED, and
    * append mode emits only windows finalized by the final
    * watermark. The batch twin reproduces both predicates
    * exactly: wm_k = ms-truncated max(ts observed through batch k) −
    * 30 min (Spark tracks event time in milliseconds while the fixture
    * carries microseconds — the truncation is part of the contract);
    * a batch-2 row is dropped iff its window end ≤ wm1; a window is
    * emitted iff its end ≤ wm2. At 100 TB the same watermark bounds
    * the state store: without it every hour-window ever seen stays
    * resident forever. */
  def streamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // OUT-OF-ORDER ARRIVAL AS A STAGED LAYOUT (no driver replay): the
    // event_id % 3 == 0 slice is staged BEHIND the rest of the table —
    // it genuinely holds rows older than batch 0's max, so rows whose
    // window closed under batch 0's watermark are dropped on arrival,
    // exactly the late-arrival injection the MemoryStream two-addData
    // replay used to perform driver-side. The late slice rides ordinal
    // 2, NOT 1: since Spark 3.5 the late-event filter uses the
    // PREVIOUS batch's watermark, so an empty ordinal between the
    // slices (a missing batch directory reads as an empty micro-batch)
    // promotes batch 0's watermark into the late-filter position
    // before the late rows arrive — the role the second
    // processAllAvailable's no-data batch played in the MemoryStream
    // replay. The flush of windows finalized by the late batch's own
    // watermark advance rides the engine's trailing no-data batch.
    val staged = stageBatched(spark, sfDir, "t2l3",
      eventsShaped(spark, sfDir).withColumn("batch",
        when($"event_id" % 3 =!= 0, lit(0L)).otherwise(lit(2L))))
    drainToTable(spark,
      offsetSource(spark, staged)
        .withWatermark("ts", "30 minutes")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
        .select($"window.start".as("ws"), $"event_type", $"n",
          $"sum_value"),
      OutputMode.Append())
      .orderBy($"ws", $"event_type")
  }

  val streamLateDataSql: String =
    s"""WITH b1 AS (SELECT * FROM events WHERE event_id % 3 <> 0),
       |b2 AS (SELECT * FROM events WHERE event_id % 3 = 0),
       |wm1 AS (SELECT date_trunc('milliseconds', max(ts))
       |  - INTERVAL '30 minutes' AS w FROM b1),
       |wm2 AS (SELECT date_trunc('milliseconds', max(ts))
       |  - INTERVAL '30 minutes' AS w FROM events),
       |kept AS (
       |  SELECT ts, event_type, value FROM b1
       |  UNION ALL
       |  SELECT ts, event_type, value FROM b2
       |  WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
       |    > (SELECT w FROM wm1)),
       |agg AS (
       |  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
       |    COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |  FROM kept GROUP BY 1, 2)
       |SELECT ws, event_type, n, sum_value FROM agg
       |WHERE ws + INTERVAL '1 hour' <= (SELECT w FROM wm2)
       |ORDER BY ws, event_type""".stripMargin

  /** Update output mode made driver-visible: an unbounded per-type
    * aggregation over TWO STAGED micro-batches (event_id parity
    * split). Update mode re-emits a key's CURRENT value in every
    * micro-batch that changes it, so the memory sink accumulates the
    * batch-1 snapshot of every type plus the batch-2 final value of
    * each type batch 2 touched — the changelog contract that feeds
    * incremental materialized views. The batch twin reproduces both
    * emissions exactly (per-prefix aggregation + final aggregation
    * filtered to batch-2 keys); (event_type, n) is a total order
    * because a re-emitted key strictly grows its count. At 100 TB
    * update mode is the low-latency path: state is one row per key,
    * and each batch ships only touched keys downstream instead of the
    * complete-mode full-table rewrite. */
  def streamUpdateMode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the parity split is a STAGED LAYOUT: odd event_ids in batch 0,
    // even in batch 1, one trigger each — the memory sink accumulates
    // the batch-0 snapshot plus the batch-1 re-emissions, with no
    // driver-side replay involved
    val staged = stageBatched(spark, sfDir, "t2u2",
      eventsShaped(spark, sfDir).withColumn("batch",
        when($"event_id" % 2 =!= 0, lit(0L)).otherwise(lit(1L))))
    drainToTable(spark,
      offsetSource(spark, staged)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value")),
      OutputMode.Update())
      .orderBy($"event_type", $"n")
  }

  val streamUpdateModeSql: String =
    s"""WITH b1 AS (SELECT * FROM events WHERE event_id % 2 <> 0),
       |b2 AS (SELECT * FROM events WHERE event_id % 2 = 0),
       |s1 AS (
       |  SELECT event_type, COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |  FROM b1 GROUP BY event_type),
       |sall AS (
       |  SELECT event_type, COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |  FROM events GROUP BY event_type)
       |SELECT event_type, n, sum_value FROM s1
       |UNION ALL
       |SELECT event_type, n, sum_value FROM sall
       |WHERE event_type IN (SELECT DISTINCT event_type FROM b2)
       |ORDER BY event_type, n""".stripMargin

  /** Stateful streaming dedup on (user_id, event_type) within the
    * watermark (append mode): first occurrence of each key passes. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Append()) { ds =>
      ds.withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select($"user_id", $"event_type")
    }.orderBy($"user_id", $"event_type")
  }

  val streamDedupSql: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events ORDER BY user_id, event_type""".stripMargin

  /** Exactly-once repair of an at-least-once transport:
    * `dropDuplicatesWithinWatermark` on the delivery id, fed a replay
    * where every third event arrives TWICE. The within-watermark
    * variant is the production form for UNBOUNDED key domains —
    * plain `dropDuplicates("event_id")` ([[streamDedup]]'s shape on a
    * bounded key) retains one state row per key forever, which on a
    * delivery-id stream is a guaranteed state-store leak; this one
    * evicts each key at watermark + delay, bounding state by the
    * dup-arrival horizon instead of the key cardinality. Duplicates
    * arrive at the same event time, so they land inside any delay and
    * the sink must equal the original events table byte-for-byte. */
  def streamDedupWithin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the at-least-once transport is SIMULATED IN THE STAGED LAYOUT:
    // every third event is unioned in twice (a distributed union —
    // no driver-side replay), and since both deliveries carry the
    // same event time they land in the same time-range batch, inside
    // any watermark delay
    val ev = eventsShaped(spark, sfDir)
    val staged = stageBatched(spark, sfDir, "t3dup",
      timeBatched(ev.unionByName(ev.filter($"event_id" % 3 === 0)), 3))
    drainToTable(spark,
      offsetSource(spark, staged)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value"),
      OutputMode.Append())
      .orderBy($"event_id")
  }

  val streamDedupWithinSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** Custom per-key state: running per-user cumulative spend via
    * flatMapGroupsWithState (the arbitrary-stateful-processing path).
    * Values are folded in (ts, event_id) order with a decimal-exact
    * accumulator, so the running totals are order-independent and the
    * batch twin is the decimal running-sum window. */
  def streamStateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Append()) { df =>
      df.as[Ev].groupByKey(_.user_id)
        .flatMapGroupsWithState[Array[Byte], (Long, Long, Timestamp, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (userId: Long, events: Iterator[Ev], state: GroupState[Array[Byte]]) =>
            // state = serialized decimal accumulator (unscaled long at scale 6)
            var acc = new java.math.BigDecimal(
              java.math.BigInteger.valueOf(
                if (state.exists) java.nio.ByteBuffer.wrap(state.get).getLong else 0L), 6)
            val out = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
              acc = acc.add(new java.math.BigDecimal(e.value,
                java.math.MathContext.UNLIMITED).setScale(6, java.math.RoundingMode.HALF_UP))
              (userId, e.event_id, e.ts, acc.doubleValue)
            }
            state.update(java.nio.ByteBuffer.allocate(8)
              .putLong(acc.unscaledValue().longValueExact()).array())
            out.iterator
        }
        .toDF("user_id", "event_id", "ts", "cum_value")
    }.orderBy($"user_id", $"event_id")
  }

  val streamStatefulSql: String =
    """SELECT user_id, event_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** STREAMING MATCH_RECOGNIZE (the CEP shape): the batch
    * [[graft.plans.MatchRecognize]] funnel (`V C* P`, AFTER MATCH
    * SKIP PAST LAST ROW) evaluated incrementally over the event
    * stream with flatMapGroupsWithState. Per-user state is the
    * UNCONSUMED code-char tail plus the cumulative match count;
    * each batch appends its (event-time-sorted) chunk, emits every
    * completed match immediately, then trims state twice —
    * (1) through the last match's end (SKIP PAST LAST ROW consumed
    * it) and (2) through the last pattern-breaking filler char (a
    * row no DEFINE accepts can never join a future match) — so
    * state is bounded by the longest filler-free UNMATCHED run, not
    * the user's history.
    *
    * Immediate emission is exact for ANCHORED-TERMINATOR patterns
    * (the last pattern token is a bare single-row variable, here P):
    * once the terminator row arrives the greedy match can never be
    * extended by later rows, so incremental ≡ global matching and
    * the batch twin is the oracle. A trailing-quantifier pattern
    * (`V C*` alone) would need watermark-delayed emission instead —
    * rejected by construction here, not silently mis-matched. */
  def streamMatchRecognize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pat = java.util.regex.Pattern.compile("ab*c")
    runStreamOffsets(spark, sfDir, OutputMode.Append()) { df =>
      df.as[Ev].groupByKey(_.user_id)
        .flatMapGroupsWithState[(String, Array[Long], Long),
          (Long, Long, Long, Long, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (userId: Long, events: Iterator[Ev],
              state: GroupState[(String, Array[Long], Long)]) =>
            var (buf, ids, matchNo) =
              if (state.exists) state.get else ("", Array.empty[Long], 0L)
            val chunk = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            buf += chunk.map(e => e.event_type match {
              case "view" => 'a'
              case "click" => 'b'
              case "purchase" => 'c'
              case _ => '0'
            }).mkString
            ids = ids ++ chunk.map(_.event_id)
            val m = pat.matcher(buf)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Long, Long, Long)]
            var consumed = 0
            while (m.find()) {
              matchNo += 1
              val s = m.start(); val e = m.end()
              out += ((userId, matchNo, (e - s).toLong,
                (e - s - 2).toLong, ids(s), ids(e - 1)))
              consumed = e
            }
            // trim: past the last match, then past the last filler
            var cut = consumed
            val lastFiller = buf.lastIndexOf('0')
            if (lastFiller >= cut) cut = lastFiller + 1
            state.update((buf.substring(cut), ids.drop(cut), matchNo))
            out.iterator
        }
        .toDF("user_id", "match_no", "n_rows", "n_clicks",
          "first_event_id", "last_event_id")
    }.orderBy($"user_id", $"match_no")
  }

  val streamMatchRecognizeSql: String =
    """WITH coded AS (
      |  SELECT user_id, ts, event_id,
      |    CASE event_type WHEN 'view' THEN 'a' WHEN 'click' THEN 'b'
      |      WHEN 'purchase' THEN 'c' ELSE '0' END AS code
      |  FROM events),
      |seqs AS (
      |  SELECT user_id, string_agg(code, '' ORDER BY ts, event_id) AS seq,
      |    list(event_id ORDER BY ts, event_id) AS ids
      |  FROM coded GROUP BY user_id),
      |split AS (
      |  SELECT user_id, ids,
      |    regexp_extract_all(seq, 'ab*c') AS ms,
      |    regexp_split_to_array(seq, 'ab*c') AS seps
      |  FROM seqs),
      |idx AS (
      |  SELECT user_id, ids, ms, seps, CAST(i.range AS BIGINT) AS match_no
      |  FROM split, range(1, 1001) i WHERE i.range <= len(ms)),
      |pos AS (
      |  SELECT user_id, ids, match_no, ms[match_no] AS mt,
      |    COALESCE(list_sum(list_transform(seps[1:CAST(match_no AS INTEGER)],
      |        x -> length(x))), 0)
      |      + COALESCE(list_sum(list_transform(
      |        ms[1:CAST(match_no AS INTEGER) - 1], x -> length(x))), 0)
      |      + 1 AS first_row
      |  FROM idx)
      |SELECT user_id, match_no,
      |  CAST(length(mt) AS BIGINT) AS n_rows,
      |  CAST(length(mt) - 2 AS BIGINT) AS n_clicks,
      |  ids[CAST(first_row AS INTEGER)] AS first_event_id,
      |  ids[CAST(first_row AS INTEGER) + length(mt) - 1] AS last_event_id
      |FROM pos ORDER BY user_id, match_no""".stripMargin

  /** Per-user (event count, running max) via the Spark 4
    * transformWithState API — typed ValueState on the RocksDB state
    * store provider (transformWithState requires RocksDB; this is also
    * the provider a 100 TB deployment would run for its bounded-memory
    * + changelog-checkpoint story). Emits one row per event with the
    * user's sequence number and max value so far; max/count are
    * order-exact, so the batch twin is a plain window. */
  private class RunningMaxProc
      extends StatefulProcessor[Long, Ev, (Long, Long, Long, Double)] {
    @transient private var st: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("userAgg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, Long, Long, Double)] = {
      var (n, mx) =
        if (st.exists()) st.get() else (0L, Double.NegativeInfinity)
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        n += 1
        mx = math.max(mx, e.value)
        (key, e.event_id, n, mx)
      }
      st.update((n, mx))
      out.iterator
    }
  }

  /** transformWithState runner (needs the RocksDB provider; restored
    * after the query stops so batch queries keep the default). */
  def streamTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Append(),
        extraConf = RocksDbState) { df =>
      df.as[Ev].groupByKey(_.user_id)
        .transformWithState(new RunningMaxProc, TimeMode.None(),
          OutputMode.Append())
        .toDF("user_id", "event_id", "seq_no", "max_value")
    }.orderBy($"user_id", $"event_id")
  }

  val streamTwsSql: String =
    """SELECT user_id, event_id,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS seq_no,
      |  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS max_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** CHECKPOINT-RESTART recovery — the streaming guarantee none of
    * the other keys exercise: a file-sink query is fed HALF the
    * events, STOPPED cold, and a brand-new query object restarted
    * from the same checkpointLocation drains the rest — the sink must
    * hold each purchase EXACTLY once. The offset log replays from the
    * committed batch and the file-sink `_spark_metadata` commit log
    * makes half-written files invisible to readers — the two
    * mechanisms that let a 100 TB streaming job survive executor or
    * driver loss without dropping or double-writing (the harness
    * "failure" is a clean stop(), which exercises the same recovery
    * path as a crash: an uncommitted batch is simply re-run).
    * Oracle = the batch purchase selection. */
  def streamRestart(spark: SparkSession, sfDir: String): DataFrame =
    streamQuerySession(spark) { spark =>
      import spark.implicits._
      // the two "halves" are two STAGED time-range batches; run 1 caps
      // availability at the first batch (maxTotalBatches=1) and stops
      // cold, run 2 is a brand-new query object on the same
      // checkpointLocation with the cap lifted — the engine restores
      // the committed batch-ordinal offset and the source resumes at
      // batch 1, never re-admitting batch 0 (a replay would double
      // every purchase in the exactly-once parquet sink). No row ever
      // transits the driver.
      val staged = stageBatched(spark, sfDir, "t2",
        timeBatched(eventsShaped(spark, sfDir), 2))
      val root = scratchDir(spark, sfDir, "rs")
      val sink = new java.io.File(root, "sink").getAbsolutePath
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      def start(cap: Option[Long]) = {
        val reader = spark.readStream
          .format(classOf[EventsFileStreamProvider].getName)
          .option("path", staged)
          .option("maxBatchesPerTrigger", "1")
        cap.fold(reader)(c => reader.option("maxTotalBatches", c.toString))
          .load()
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"value")
          .sinkGuard
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", sink)
          .outputMode(OutputMode.Append()).start()
      }
      val q1 = start(Some(1L))
      drain(q1)
      // restart: NEW query object, SAME checkpoint + same staged dir
      val q2 = start(None)
      drain(q2)
      // read THROUGH the sink's commit log (metadata-aware path)
      spark.read.parquet(sink)
        .select($"event_id", $"user_id", $"ts", $"value")
        .orderBy($"event_id")
    }

  val streamRestartSql: String =
    """SELECT event_id, user_id, ts, value
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** transformWithState LIST-STATE context builder — the streaming
    * twin of the batch next-item example builder
    * ([[graft.operators.CfOps.cfSeqExamples]]): per user, every event
    * emits the ids of its up-to-3 most recent predecessors
    * (prev1 = newest, −1 padding), maintained as a capped
    * `ListState` — the third state-type rung next to
    * [[RunningMaxProc]]'s ValueState and [[TimerSessionProc]]'s
    * timers. The cap means per-key state is O(context), not
    * O(history): the shape that keeps an unbounded clickstream's
    * feature state constant-size. Batch twin = three lag windows. */
  private class SeqContextProc
      extends StatefulProcessor[Long, Ev, (Long, Long, Long, Long, Long)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long]("ctx",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    private def us(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
      var ctx: Seq[Long] = st.get().toSeq // oldest → newest
      val out = sorted.map { e =>
        val recent = ctx.reverse.padTo(3, -1L) // newest first
        val r = (key, e.event_id, recent(0), recent(1), recent(2))
        ctx = (ctx :+ e.event_id).takeRight(3)
        r
      }
      st.put(ctx.toArray)
      out.iterator
    }
  }

  def streamSeqContext(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runStreamOffsets(spark, sfDir, OutputMode.Append(),
        extraConf = RocksDbState) { df =>
      df.as[Ev].groupByKey(_.user_id)
        .transformWithState(new SeqContextProc, TimeMode.None(),
          OutputMode.Append())
        .toDF("user_id", "event_id", "prev1", "prev2", "prev3")
    }.orderBy($"user_id", $"event_id")
  }

  val streamSeqContextSql: String =
    """SELECT user_id, event_id,
      |  COALESCE(lag(event_id, 1) OVER w, -1) AS prev1,
      |  COALESCE(lag(event_id, 2) OVER w, -1) AS prev2,
      |  COALESCE(lag(event_id, 3) OVER w, -1) AS prev3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY user_id, event_id""".stripMargin

  /** Closed-session row emitted by [[TimerSessionProc]]. Not private:
    * the generated serializer reads its fields through the class, and
    * for a private class that code fails to compile, so Spark would
    * run the stage interpreted. */
  case class SessOut(user_id: Long, start_us: Long,
      n_events: Long, sum_value: Double, by_timer: Boolean)

  /** Event-time TIMER sessionization on transformWithState — the API
    * rung above [[RunningMaxProc]]'s ValueState: sessions that close
    * because the gap elapsed INSIDE a batch emit immediately
    * (`by_timer = false`); each key's still-open tail registers an
    * EVENT-TIME TIMER at last-event + gap, and `handleExpiredTimer`
    * emits it only when the WATERMARK passes that point
    * (`by_timer = true`) — the mechanism that lets a 100 TB session
    * store drain itself without a second pass or a TTL guess.
    * Arithmetic is exact integer microseconds ([[
    * graft.operators.WindowOps.winSession]]'s gap discipline — the
    * fixture has sub-millisecond timestamps, so ms arithmetic would
    * mis-split); sums accumulate as exact scale-6 decimals (the xsum
    * contract) in (ts, event_id) order. */
  private class TimerSessionProc(gapUs: Long)
      extends StatefulProcessor[Long, Ev, SessOut] {
    // (startUs, lastUs, n, sumMicros)
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    private def us(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    private def micros(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessOut] = {
      val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      var cur: Option[(Long, Long, Long, Long)] =
        if (st.exists()) Some(st.get()) else None
      sorted.foreach { e =>
        val t = us(e.ts); val m = micros(e.value)
        cur = cur match {
          case Some((s0, last, n, sm)) if t - last > gapUs =>
            out += SessOut(key, s0, n, sm / 1e6, by_timer = false)
            Some((t, t, 1L, m))
          case Some((s0, last, n, sm)) =>
            Some((s0, math.max(last, t), n + 1L, sm + m))
          case None => Some((t, t, 1L, m))
        }
      }
      cur.foreach { c =>
        st.update(c)
        getHandle.registerTimer(c._2 / 1000L + gapUs / 1000L + 1L)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessOut] = {
      if (st.exists()) {
        val (s0, last, n, sm) = st.get()
        // a later batch may have extended the session past this timer
        if (info.getExpiryTimeInMs() >= last / 1000L + gapUs / 1000L) {
          st.clear()
          Iterator.single(SessOut(key, s0, n, sm / 1e6, by_timer = true))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** Timer-based session runner: real rows in one micro-batch, then a
    * far-future sentinel batch advances the watermark so every open
    * session's event-time timer fires ([[streamChainedAgg]]'s
    * sentinel discipline). The batch twin is the gaps-and-islands
    * sessionization; `by_timer` is true exactly for each user's LAST
    * session — the differential proof that the timer path (not the
    * in-batch gap path) emitted it. */
  def streamTwsTimers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // ONE real staged batch (the by_timer oracle pins timer emissions
    // to each user's LAST session, so the real rows must not be split
    // across watermark advances) plus one far-future sentinel batch —
    // its trigger advances the watermark past every open session's
    // deadline so the event-time timers fire. The sentinel's own key
    // (-1) never emits (single row, no gap, timer never reached) and
    // is filtered batch-side.
    val staged = stageBatched(spark, sfDir, "t1s1",
      withSentinelBatches(eventsShaped(spark, sfDir),
        Seq(14L * 24L * 60L), 1))
    drainToTable(spark,
      offsetSource(spark, staged)
        .withWatermark("ts", "10 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TimerSessionProc(3600L * 1000000L),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "start_us", "n_events", "sum_value",
          "by_timer"),
      OutputMode.Append(), RocksDbState)
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"start_us")
  }

  val streamTwsTimersSql: String =
    s"""WITH gapped AS (
       |  SELECT user_id, event_id, ts, value,
       |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
       |numbered AS (
       |  SELECT user_id, ts, value,
       |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 3600000000
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
       |      ORDER BY ts ASC, event_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM gapped),
       |agg AS (
       |  SELECT user_id, sess, min(epoch_us(ts)) AS start_us,
       |    COUNT(*) AS n_events, ${sqlXsum("value")} AS sum_value
       |  FROM numbered GROUP BY 1, 2),
       |mx AS (SELECT user_id, max(sess) AS mxs FROM agg GROUP BY 1)
       |SELECT a.user_id, a.start_us, a.n_events, a.sum_value,
       |  a.sess = m.mxs AS by_timer
       |FROM agg a JOIN mx m USING (user_id)
       |ORDER BY a.user_id, a.start_us""".stripMargin

  /** Absence-detection CEP gap: 30 minutes, in exact microseconds. */
  private val ABSENCE_GAP_US = 30L * 60L * 1000000L

  /** Absence/timeout pattern matcher — the OTHER half of CEP that
    * [[streamMatchRecognize]] cannot express: "a VIEW followed by NO
    * PURCHASE within the gap" has no terminator row to anchor on, so
    * completion must come from TIME, not data. Pending views wait in
    * state; any later same-user event past a view's deadline proves
    * abandonment immediately (events arrive per user in event-time
    * order, so nothing earlier can still come — `by_timer = false`),
    * a purchase inside the window silently satisfies, and views
    * whose users simply go quiet are flushed by an EVENT-TIME TIMER
    * when the watermark passes their deadline (`by_timer = true`) —
    * the only correct way to emit negatives at 100 TB without a
    * second pass. State is the pending-view list, bounded by one
    * gap's worth of views per user. */
  private class TimeoutPatternProc(gapUs: Long)
      extends StatefulProcessor[Long, Ev, (Long, Long, Boolean)] {
    // pending views: "id:deadlineUs" comma-joined (bounded, tiny)
    @transient private var st: ValueState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[String]("pending",
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
    private def us(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    private def load(): Vector[(Long, Long)] =
      if (st.exists() && st.get().nonEmpty)
        st.get().split(",").toVector.map { p =>
          val c = p.split(":"); (c(0).toLong, c(1).toLong)
        }
      else Vector.empty
    private def store(v: Vector[(Long, Long)]): Unit =
      if (v.isEmpty) st.clear()
      else st.update(v.map(p => s"${p._1}:${p._2}").mkString(","))
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, Long, Boolean)] = {
      var pending = load()
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Boolean)]
      rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
        val t = us(e.ts)
        // any event past a deadline proves no purchase made it
        val (dead, alive) = pending.partition(_._2 < t)
        dead.foreach(d => out += ((key, d._1, false)))
        pending = alive
        if (e.event_type == "purchase")
          // satisfies every still-open view strictly before it
          pending = pending.filterNot(p => p._2 >= t && p._2 - gapUs < t)
        if (e.event_type == "view") pending :+= ((e.event_id, t + gapUs))
      }
      store(pending)
      pending.foreach(p => getHandle.registerTimer(p._2 / 1000L + 1L))
      out.iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Boolean)] = {
      val (dead, alive) = load()
        .partition(_._2 / 1000L + 1L <= info.getExpiryTimeInMs())
      store(alive)
      dead.iterator.map(d => (key, d._1, true))
    }
  }

  /** Runner for the absence pattern: three real chunks (pending
    * views genuinely cross batch boundaries), then the far-future
    * sentinel advances the watermark so quiet users' timers fire.
    * Oracle: a view is abandoned iff NO same-user purchase lands in
    * (view_ts, view_ts + gap]. The emission PATH (in-batch evidence
    * vs timer) depends on how the replay slices batches — a timer
    * may legitimately fire before the user's next chunk arrives —
    * so the oracled columns are the slicing-independent abandonment
    * set; StreamSpec pins that timer-only emissions (users whose
    * stream ENDS with an open view) are present, which no in-batch
    * path could produce. */
  def streamMatchTimeout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // three real time-ordered offset-source batches (pending views
    // genuinely cross batch boundaries), then the far-future sentinel
    // rides as its own trailing staged batch to fire quiet users'
    // timers — the oracle is slicing-independent, so the staged
    // batching needs no special composition
    val staged = stageBatched(spark, sfDir, "t3s1",
      withSentinelBatches(eventsShaped(spark, sfDir),
        Seq(14L * 24L * 60L), 3))
    drainToTable(spark,
      offsetSource(spark, staged)
        .withWatermark("ts", "10 minutes")
        .as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TimeoutPatternProc(ABSENCE_GAP_US),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "view_event_id", "by_timer")
        .drop("by_timer"),
      OutputMode.Append(), RocksDbState)
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"view_event_id")
  }

  val streamMatchTimeoutSql: String =
    s"""SELECT v.user_id, v.event_id AS view_event_id
       |FROM events v
       |WHERE v.event_type = 'view' AND NOT EXISTS (
       |  SELECT 1 FROM events p
       |  WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
       |    AND epoch_us(p.ts) > epoch_us(v.ts)
       |    AND epoch_us(p.ts) <= epoch_us(v.ts) + $ABSENCE_GAP_US)
       |ORDER BY user_id, view_event_id""".stripMargin

  /** foreachBatch sink — the production escape hatch for sinks
    * Structured Streaming lacks natively (JDBC, multi-table writes,
    * merge-upserts). Each micro-batch lands as a parquet DYNAMIC
    * PARTITION OVERWRITE of its own batch_id partition ([[febWrite]]);
    * the replay drives THREE real micro-batches so the per-batch path
    * actually exercises re-planning. Overwrite-by-batch-partition is
    * what makes the sink exactly-once under retry: re-delivering a
    * micro-batch replaces its partition with identical bytes instead
    * of appending duplicates (plain append would be at-least-once).
    * StreamSpec proves idempotence by re-driving one batch. The union
    * of batches must equal the batch query — the oracle. */
  def streamForeachBatch(spark: SparkSession, sfDir: String): DataFrame =
    streamQuerySession(spark) { spark =>
      import spark.implicits._
      // Fixed per-(app, sf) scratch dir, wiped before reuse and on JVM
      // exit — the result DataFrame reads it lazily, so it cannot be
      // deleted inside this call, but scratch no longer accumulates
      // across invocations/runs (one live dir per app at most).
      val out = scratchDir(spark, sfDir, "feb")
      val staged = stageBatched(spark, sfDir, "t3",
        timeBatched(eventsShaped(spark, sfDir), 3))
      val q = offsetSource(spark, staged)
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
        .sinkGuard
        .writeStream
        .foreachBatch(febWrite(out) _)
        .outputMode(OutputMode.Append()).start()
      drain(q)
      spark.read.parquet(out)
        .select($"event_id", $"user_id", $"ts", $"value")
        .orderBy($"event_id")
    }

  /** The per-micro-batch write used by [[streamForeachBatch]]:
    * overwrite THIS batch's partition only (dynamic partition
    * overwrite scoped to the batch_id values present in the batch —
    * i.e. exactly one). Retrying a failed/duplicated batch rewrites
    * the same partition with the same bytes — idempotent, which is
    * the foreachBatch exactly-once contract. Exposed private[graft]
    * so StreamSpec can re-drive a batch and assert idempotence. */
  private[graft] def febWrite(out: String)(
      df: Dataset[org.apache.spark.sql.Row], id: Long): Unit =
    df.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(out)

  /** Fixed scratch dir of (application, sfDir, tag) from
    * [[DfCache.scratch]], cleared on entry (idempotent re-runs). */
  private def scratchDir(spark: SparkSession, sfDir: String,
      tag: String): String = {
    val dir = DfCache.scratch(spark, sfDir, tag)
    TxnLog.destroy(dir)
    dir
  }

  val streamForeachBatchSql: String =
    """SELECT event_id, user_id, ts, value
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** Per-user event counts of one micro-batch — the sink's commit
    * payload, as a distributed frame (exposed for the plan spec that
    * pins "no collect feeds the commit"). */
  private[graft] def txnSinkCounts(
      batch: Dataset[org.apache.spark.sql.Row]): DataFrame = {
    val spark2 = batch.sparkSession
    import spark2.implicits._
    batch.groupBy($"user_id".as("key")).agg(count(lit(1)).as("cnt"))
  }

  /** The sink's read-modify-write delta: batch counts added to the
    * base snapshot's balances (insert where absent) — built from the
    * two DataFrames directly, never from driver-resident rows. */
  private[graft] def txnSinkDelta(inc: DataFrame,
      base: DataFrame): DataFrame = {
    val spark2 = inc.sparkSession
    import spark2.implicits._
    base.as("s").join(inc.as("d"), Seq("key"), "right")
      .select($"key",
        (coalesce($"s.value", lit(0L)) + $"d.cnt").as("value"),
        lit("upsert").as("op"))
  }

  /** Exactly-once streaming sink through the TRANSACTION LOG: each
    * micro-batch commits its per-user event-count delta as one
    * [[graft.engine.TxnLog]] transaction carrying the batch id as
    * its application txn id — and every batch's commit is issued
    * TWICE (the second call simulating a re-driven batch after a
    * sink failure). The idempotent txn-id dedup returns the already-
    * committed version with zero attempts instead of double-applying
    * — the Delta `txn` appId/version mechanism, which is what turns
    * foreachBatch's at-least-once delivery into an exactly-once
    * table. Final snapshot ≡ the batch per-user counts and the
    * version count ≡ the number of DISTINCT batches: both would
    * break if any retry re-applied. */
  def streamTxnSink(spark: SparkSession, sfDir: String): DataFrame =
    streamQuerySession(spark) { spark =>
      import spark.implicits._
      val root = scratchDir(spark, sfDir, "txnsink")
      TxnLog.init(root)
      // three time-ordered offset-source batches = three sink commits;
      // a time slice that happens to be empty still commits (idempotent
      // empty delta), so n_versions stays the batch count either way
      val staged = stageBatched(spark, sfDir, "t3",
        timeBatched(eventsShaped(spark, sfDir), 3))
      val q = offsetSource(spark, staged)
        .select($"user_id", $"event_id")
        .sinkGuard
        .writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          val spark2 = batch.sparkSession
          // the per-batch delta stays a DataFrame end to end (round-9
          // fix: the old code collected per-key counts to a driver
          // Map, which is bounded by keys-touched-per-batch but at
          // 100× should never leave the executors). localCheckpoint
          // pins the transient micro-batch data so the txn closure
          // can be re-run on conflict; the only driver row is
          // TxnLog.range's single min/max aggregate — the same
          // metadata-scale read-set descriptor every commit uses.
          val inc = txnSinkCounts(batch).localCheckpoint(true)
          val ranges = TxnLog.range(inc)
          def tx(base: org.apache.spark.sql.DataFrame)
              : (org.apache.spark.sql.DataFrame, TxnLog.KeyRanges) =
            (txnSinkDelta(inc, base), ranges)
          val first = TxnLog.commit(spark2, root, tx, txnId = Some(s"b$id"))
          // the simulated re-drive: same batch id, same payload
          val retry = TxnLog.commit(spark2, root, tx, txnId = Some(s"b$id"))
          require(retry.version == first.version && retry.attempts == 0,
            s"retry of batch $id must dedup, got $retry vs $first")
        }
        .outputMode(OutputMode.Append()).start()
      drain(q)
      val latest = TxnLog.latestCommitted(root)
      TxnLog.read(spark, root, latest)
        .select($"key".as("user_id"), $"value".as("n_events"),
          lit(latest + 1).cast("long").as("n_versions"))
        .orderBy($"user_id")
    }

  val streamTxnSinkSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  (SELECT CAST(LEAST(COUNT(*), 3) AS BIGINT) FROM events)
      |    AS n_versions
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin


  /** The TRANSACTION LOG AS A STREAMING SOURCE (Delta's
    * `readStream`): each committed version's delta file is replayed
    * as one micro-batch, in commit order, into an incremental
    * complete-mode aggregation — per-version upsert/delete change
    * counts. This is the consume side of the lakehouse streaming
    * story ([[streamTxnSink]] is the produce side): a downstream job
    * tails the log and sees exactly the committed change feed, never
    * a half-written version, because delta files only exist for
    * versions whose commit marker landed. At 100 TB the per-batch
    * work is sized by the DELTA (what changed), not the table —
    * which is the entire point of log-tailing over snapshot-diffing.
    * The demo table is the 4-version ttTable (click adds, view adds,
    * purchase adds, error-user deletes), so every count is a
    * distinct-user aggregate DuckDB recomputes from events. */
  def streamTxnSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = graft.operators.TxnOps.ttTable(spark, sfDir)
    val latest = graft.engine.TxnLog.latestCommitted(root)
    // each committed version's delta dir is staged as its OWN batch
    // (batch ordinal = version — commit order IS the offset order),
    // served through the generic-schema offset source: the log tail
    // is micro-batched executor-side, no delta row transits the driver
    val staged = stageRawBatched(spark, sfDir, "ttdelta", {
      spark.read
        .parquet((0L to latest).map(v => s"$root/delta_v$v"): _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "delta_v(\\d+)/", 1)
            .cast("long"))
        .select($"version", $"key", $"op",
          $"version".as("batch"))
    })
    drainToTable(spark,
      offsetSource(spark, staged,
        Some("version BIGINT, key BIGINT, op STRING"))
        .groupBy($"version")
        .agg(count(when($"op" === "upsert", 1)).as("n_upserts"),
          count(when($"op" === "delete", 1)).as("n_deletes")),
      OutputMode.Complete())
      .orderBy($"version")
  }

  val streamTxnSourceSql: String =
    """SELECT CAST(0 AS BIGINT) AS version,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'click') AS n_upserts,
      |  CAST(0 AS BIGINT) AS n_deletes
      |UNION ALL SELECT CAST(1 AS BIGINT),
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'view'), CAST(0 AS BIGINT)
      |UNION ALL SELECT CAST(2 AS BIGINT),
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'purchase'), CAST(0 AS BIGINT)
      |UNION ALL SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT),
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'error' AND value > 200.0)
      |ORDER BY version""".stripMargin

  /** Streaming CDC apply — foreachBatch MERGE of a keyed changelog
    * into a maintained snapshot table, the production pattern behind
    * every "stream a Debezium/Kafka changelog into the lakehouse"
    * pipeline (with Delta/Iceberg the write is `MERGE INTO`; on plain
    * parquet the equivalent is the versioned-snapshot rewrite done
    * here — same semantics, and the versioning IS the retry story).
    *
    * The events stream becomes a changelog: key = user_id, op =
    * delete when event_type = 'error' else upsert, change order =
    * (ts, event_id). Three real micro-batches; each batch (1)
    * compacts ITS chunk latest-wins per key — the shuffle is sized by
    * the batch, not the table, (2) full-outer merges that delta with
    * the previous snapshot version (upsert replaces, delete removes,
    * untouched keys carry over), (3) writes snapshot version
    * `state_<batchId>`. Versioned commits make batch retry
    * BYTE-idempotent: re-running batch id rebuilds `state_<id>` from
    * `state_<id-1>` deterministically (the Delta transaction-log
    * idea, one directory per version). The final snapshot must equal
    * the batch latest-wins-with-deletes query — the oracle; since
    * the replay chunks are time-ordered, per-key last-in-batch
    * composed across batches ≡ global last.
    *
    * Scale notes: at 100 TB the snapshot rewrite is the one
    * non-scalable step (full table per batch) — that is precisely
    * what table formats' MERGE + file-level pruning replace; the
    * changelog side (per-batch compaction, keyed merge) is already
    * the bounded-shuffle shape they need. */
  def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame =
    streamQuerySession(spark) { spark =>
      import spark.implicits._
      val root = scratchDir(spark, sfDir, "cdc")
      // time-ordered offset-source batches are exactly the changelog
      // contract the merge relies on (per-key last-in-batch composed
      // across batches ≡ global last) — the replay collect is retired
      val staged = stageBatched(spark, sfDir, "t3",
        timeBatched(eventsShaped(spark, sfDir), 3))
      // newest snapshot path, written on the stream-execution thread
      val lastState = new java.util.concurrent.atomic.AtomicReference[String]("")
      val q = offsetSource(spark, staged)
        .select($"user_id", $"ts", $"event_id",
          when($"event_type" === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          $"value")
        .sinkGuard
        .writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          val spark2 = batch.sparkSession
          import spark2.implicits._
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id")
            .orderBy($"ts".desc, $"event_id".desc)
          val delta = batch
            .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
            .select($"user_id", $"ts", $"event_id", $"op", $"value")
          val prev =
            if (id == 0) delta.limit(0)
            else spark2.read.parquet(s"$root/state_${id - 1}")
          val merged = prev.as("s")
            .join(delta.as("d"), Seq("user_id"), "full_outer")
            .filter(coalesce($"d.op", lit("upsert")) =!= "delete")
            .select($"user_id",
              coalesce($"d.ts", $"s.ts").as("ts"),
              coalesce($"d.event_id", $"s.event_id").as("event_id"),
              lit("upsert").as("op"),
              coalesce($"d.value", $"s.value").as("value"))
          merged.write.mode("overwrite").parquet(s"$root/state_$id")
          lastState.set(s"$root/state_$id")
        }
        .outputMode(OutputMode.Append()).start()
      drain(q)
      spark.read.parquet(lastState.get())
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value".as("last_value"))
        .orderBy($"user_id")
    }

  val streamCdcApplySql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END
      |      AS op,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id AS last_event_id, value AS last_value
      |FROM ranked WHERE rn = 1 AND op = 'upsert'
      |ORDER BY user_id""".stripMargin

  /** Stream–stream inner join: the purchase stream joins the click
    * stream on user within a 1-hour lookback — attribution, the
    * canonical two-stream workload. Both sides carry watermarks and the
    * join condition carries the time bound, so the state store evicts
    * clicks older than (watermark − 1 h) instead of buffering each
    * stream forever: state is bounded by per-user activity within the
    * join window, which is what makes the operator runnable against an
    * unbounded 100 TB/day feed. The replay delivers everything in one
    * micro-batch (watermark still at epoch ⇒ nothing dropped), so the
    * emitted matches equal the batch interval join — the oracle. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // both streams read the SAME staged offset-source layout (two
    // independent reader instances, triggered in lockstep) and carve
    // out their event type in-plan — executor-side end to end, and
    // time-ordered batches mean no input ever trails the watermark
    val staged = stageBatched(spark, sfDir, "t3",
      timeBatched(eventsShaped(spark, sfDir), 3))
    // all real batches admit in one trigger (no sentinel stepping
    // duty on the inner join; late-arrival is impossible either way
    // since batches are time-ordered)
    val p = offsetSource(spark, staged, maxPerTrigger = 3)
      .filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = offsetSource(spark, staged, maxPerTrigger = 3)
      .filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    drainToTable(spark,
      p.join(c,
          $"p_user" === $"c_user" &&
            $"c_ts" >= expr("p_ts - INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts")
        .select($"purchase_id", $"click_id", $"p_user".as("user_id")),
      OutputMode.Append())
      .orderBy($"purchase_id", $"click_id")
  }

  val streamStreamJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY purchase_id, click_id""".stripMargin

  /** LEFT OUTER stream–stream join — [[streamStreamJoin]] plus the
    * rows that never matched: a null-extended purchase row is emitted
    * only when the state store EVICTS the purchase (the watermark has
    * passed every click timestamp it could still match), because
    * until then a match may yet arrive — outer results are
    * watermark-driven, not instant, which is the semantic difference
    * this key exists to pin. The replay appends far-future sentinel
    * rows to BOTH streams (the global watermark is the minimum across
    * sources) in two staggered batches — one to advance the
    * watermark past the data, one more trigger for the eviction scan
    * that emits the flushed outer rows — so every unmatched purchase
    * drains and the sink equals the batch LEFT JOIN exactly. At
    * 100 TB this is the attribution table that keeps purchases with
    * NO preceding click (the conversion-without-touchpoint rows the
    * inner join silently drops). */
  def streamStreamOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the staggered watermark-advance sentinels ride the STAGED layout
    // as their own trailing batches (one trigger each, exactly the
    // MemoryStream discipline this replaces); both sides keep the
    // sentinel rows through their type filter so the watermark tracker
    // sees them, and the sentinel join rows (-1 keys) drop at the end
    val staged = stageBatched(spark, sfDir, "t3s2",
      withSentinelBatches(eventsShaped(spark, sfDir),
        Seq(120L, 14L * 24L * 60L), 3))
    // the 3 REAL batches admit in ONE trigger (they carry no watermark
    // stepping duty); each trailing sentinel gets its own trigger via
    // the onePerTriggerFrom=3 admission boundary (maxPerTrigger alone
    // would merge both sentinels into one micro-batch and collapse the
    // staggered watermark walk into a single jump) — 3 triggers, not 5
    val p = offsetSource(spark, staged, maxPerTrigger = 3,
        onePerTriggerFrom = 3L)
      .filter($"event_type".isin("purchase", "wm_advance"))
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = offsetSource(spark, staged, maxPerTrigger = 3,
        onePerTriggerFrom = 3L)
      .filter($"event_type".isin("click", "wm_advance"))
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    drainToTable(spark,
      p.join(c,
          $"p_user" === $"c_user" &&
            $"c_ts" >= expr("p_ts - INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts",
          "left_outer")
        .select($"purchase_id", $"click_id", $"p_user".as("user_id")),
      OutputMode.Append())
      .filter($"purchase_id" >= 0)
      .orderBy($"purchase_id", $"click_id")
  }

  /** Batch twin: every purchase flushed (sentinel watermark is weeks
    * past the data), so the emitted set is exactly the batch interval
    * LEFT JOIN. Spark sorts ASC nulls-first; DuckDB defaults to
    * nulls-last — spelled explicitly. */
  val streamStreamOuterSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin

  /** Chained stateful aggregations (Spark 4 multi-stateful-operator
    * support): 15-minute pane counts re-aggregated into hourly totals
    * INSIDE one streaming query — two windowed aggregations back to
    * back, append mode. The first agg's state is 15-min panes, the
    * second consumes pane rows as they finalize; at 100 TB this is the
    * two-tier rollup (fine panes → coarse dashboards) without a second
    * job or an intermediate topic. Append mode only emits windows the
    * watermark has passed, so the replay appends one far-future
    * sentinel event (filtered out of the aggregation AFTER the
    * watermark node reads its ts) to flush every real window — making
    * the emitted set exactly the full two-level batch rollup. */
  def streamChainedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Staggered sentinel batches: a pane can only cross BOTH stateful
    // layers if the watermark advances past its end in steps — a pane
    // emitted by agg-1 in the same batch in which the downstream late-
    // record threshold has already passed its end is discarded as late.
    // So the watermark walks: just past the last pane (+30 min), then
    // far out — flushing layer by layer. The sentinels are staged as
    // their own trailing offset-source batches (one trigger each); they
    // flow through the whole pipeline UNFILTERED — a pre-aggregation
    // filter would be pushed below the EventTimeWatermark node by
    // Catalyst and they would never reach the watermark tracker
    // (observed: watermark pinned at max-real-ts − delay). Their own
    // windows are dropped from the sink table, where the filter is
    // batch-side.
    val staged = stageBatched(spark, sfDir, "t3c2",
      withSentinelBatches(eventsShaped(spark, sfDir),
        Seq(30L, 14L * 24L * 60L), 3))
    drainToTable(spark,
      // 3 real batches in one trigger, each sentinel its own — the
      // onePerTriggerFrom=3 boundary ENFORCES the stagger the two
      // stateful layers' watermark walk needs (maxPerTrigger alone
      // would merge both sentinels into one micro-batch) — 3 triggers
      offsetSource(spark, staged, maxPerTrigger = 3,
          onePerTriggerFrom = 3L)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("pn"),
          sum($"value".cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as("psum"))
        .groupBy(window($"window", "1 hour"), $"event_type")
        .agg(sum($"pn").as("n"),
          sum($"psum").cast(org.apache.spark.sql.types.DoubleType)
            .as("sum_value"))
        .select($"window.start".as("ws"), $"event_type", $"n", $"sum_value"),
      OutputMode.Append())
      .filter($"event_type" =!= "wm_advance")
      .orderBy($"ws", $"event_type")
  }

  /** Batch twin: the same two-level rollup is algebraically a single
    * 1-hour rollup (counts and decimal sums are associative), so the
    * oracle is the tumbling-hour aggregation. */
  val streamChainedAggSql: String =
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
       |  COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** FILE streaming source + `Trigger.AvailableNow`: stream-read the
    * events parquet directly from disk (explicit schema — file stream
    * sources never infer), aggregate, and let AvailableNow drain
    * everything already present and then STOP — the production
    * backfill/catch-up pattern ("process the backlog with streaming
    * semantics and exit", vs a forever-running trigger). Unlike the
    * MemoryStream harness queries above, the source here is the same
    * one a 100 TB deployment uses — a directory listing with
    * `maxFilesPerTrigger` rate-limiting micro-batch size; swap the
    * path and this query IS the production job. Complete-mode hourly
    * rollup, so the sink equals the batch aggregation exactly. */
  def streamFileSource(spark: SparkSession, sfDir: String): DataFrame = {
    val tsIsNanos = Tables.eventsTsIsNanos(spark, sfDir)
    streamQuerySession(spark,
        if (tsIsNanos) Seq(Tables.NanosAsLong) else Nil) { spark =>
      import spark.implicits._
      val sinkName = s"graft_stream_${nameCounter.incrementAndGet()}"
      // file-stream paths must be directories: list the sfDir and
      // glob-filter to the events table's file(s). The ts unit follows
      // the file's parquet footer — same read discipline as
      // Tables.eventsRaw (ns fixture generations need the raw-long
      // read + µs truncation; µs generations read directly).
      val raw = spark.readStream
        .schema(if (tsIsNanos) Tables.eventsRawSchema
        else Tables.eventsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = (if (tsIsNanos)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
        .select($"window.start".as("ws"), $"event_type", $"n", $"sum_value")
        .sinkGuard
        .writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      drain(q, _.awaitTermination())
      spark.table(sinkName).orderBy($"ws", $"event_type")
    }
  }

  /** Batch twin — AvailableNow + complete mode must equal the batch
    * rollup bit-for-bit. */
  val streamFileSourceSql: String =
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
       |  COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** STREAMING MATERIALIZED-VIEW MAINTENANCE off the CHANGE DATA
    * FEED — the streaming composition of [[graft.operators.TxnOps
    * .txnChanges]] (CDF with pre-images) and [[graft.operators
    * .TxnOps.txnMvIncremental]] (delta-bounded summary maintenance):
    * each committed version's CDF rows replay as one micro-batch
    * into a COMPLETE-mode aggregation whose state IS the per-bucket
    * MV — additions (+1, +value) from insert/update_postimage rows,
    * retractions (−1, −value) from update_preimage/delete rows. No
    * table is ever read during maintenance: the CDF carries the
    * pre-images, so per-batch work is O(changes) and the streaming
    * engine's state store holds exactly |bucket-domain| rows forever
    * — the payoff of a CDF that emits retraction rows, and the
    * production shape of "keep the dashboard aggregate fresh off the
    * changelog". The final maintained MV must equal the closed-form
    * recompute from the base events — the oracle. */
  def streamMvMaintenance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the change feed is staged one batch per version (commit order =
    // offset order) and consumed through the generic-schema offset
    // source — the CDF rows never transit the driver; n_batches comes
    // from the log's metadata, not a collected feed
    val nVersions = graft.engine.TxnLog.latestCommitted(
      graft.operators.TxnOps.ttTable(spark, sfDir)) + 1
    val staged = stageRawBatched(spark, sfDir, "ttcdf", {
      graft.operators.TxnOps.txnChanges(spark, sfDir)
        .select($"version", $"user_id", $"change_type", $"value",
          $"version".as("batch"))
    })
    drainToTable(spark,
      offsetSource(spark, staged,
        Some("version BIGINT, user_id BIGINT, change_type STRING, " +
          "value BIGINT"))
        .select(($"user_id" % 10).as("bucket"),
          when($"change_type".isin("insert", "update_postimage"), 1L)
            .otherwise(-1L).as("sign"),
          $"value")
        .groupBy($"bucket")
        .agg(sum($"sign").as("n_users"),
          sum($"sign" * $"value").as("sum_balance")),
      OutputMode.Complete())
      .filter($"n_users" > 0L)
      .withColumn("n_batches", lit(nVersions).cast("long"))
      .orderBy($"bucket")
  }

  val streamMvMaintenanceSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_c,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_v,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_p,
      |    COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS n_e
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n_c + n_v + n_p) AS BIGINT) AS sum_balance,
      |  CAST(4 AS BIGINT) AS n_batches
      |FROM per_user WHERE n_c + n_v + n_p > 0 AND n_e = 0
      |GROUP BY 1 ORDER BY bucket""".stripMargin
}
