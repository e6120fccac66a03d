package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.TxnLog

/** Round-10 protocol hardening: crashed-thief trash restore
  * (deterministic trash names), partial-publish residue self-heal
  * (healStages from currentMapping/committedTxn), the commitMulti
  * re-verify fence against mixed commits, and the IVM NULL-value
  * upsert retraction baseline. */
class Round15Spec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val root = new File(System.getProperty("java.io.tmpdir"),
      s"graft_r15_$tag").getAbsolutePath
    TxnLog.destroy(root)
    TxnLog.init(root)
    root
  }

  private def upserts(kvs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    kvs.toDF("key", "value").withColumn("op", lit("upsert"))
  }

  private def state(root: String): Map[Long, Long] = {
    val v = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("crashed thief: a marked version parked in deterministic trash " +
      "is restored and published by the next reader") {
    val root = freshRoot("trash_restore")
    TxnLog.commit(spark, root,
      _ => (upserts(1L -> 10L), Seq((1L, 1L))))
    // hand-build the committed-but-unpublished state of v1: stage with
    // all artifacts, marker naming the stage's token — then simulate
    // the thief crash by parking the stage under the DETERMINISTIC
    // trash name and never restoring it
    val token = "feedfeed-0000-0000-0000-00000000beef"
    val stage = new File(root, s".stage_v1_$token")
    stage.mkdirs()
    upserts(2L -> 20L).drop("op")
      .union(upserts(1L -> 10L).drop("op"))
      .write.parquet(s"$stage/snapshot")
    upserts(2L -> 20L)
      .write.parquet(s"$stage/delta")
    Files.write(new File(stage, "meta").toPath,
      "1\n0\n2:2".getBytes(StandardCharsets.UTF_8))
    Files.write(new File(stage, "decider").toPath,
      token.getBytes(StandardCharsets.UTF_8))
    Files.createLink(Paths.get(root, "_txn_log", "v1.commit"),
      new File(stage, "decider").toPath)
    Files.move(stage.toPath,
      new File(root, s".trash_v1_$token").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    // before the fix this read polls 3s then dies "snapshot never
    // appeared"; with deterministic trash, finishPublish restores
    assert(state(root) == Map(1L -> 10L, 2L -> 20L))
    assert(!new File(root, s".trash_v1_$token").exists(),
      "restored trash must not linger")
    TxnLog.destroy(root)
  }

  test("partial-publish residue: a stale mapping left in a marked " +
      "stage is healed before mapping reads, not just meta reads") {
    val root = freshRoot("heal_mapping")
    TxnLog.commit(spark, root,
      _ => (upserts(1L -> 10L, 2L -> 20L), Seq((1L, 2L))))
    val v = TxnLog.renameColumn(spark, root, "value", "amount")
    assert(TxnLog.read(spark, root, v).columns.toSeq ==
      Seq("key", "amount"))
    // simulate the torn finishPublish: snapshot+meta reached canonical
    // names but the mapping is still in the (restored) stage — readMeta
    // sees its meta and never re-runs finishPublish, so before the fix
    // currentMapping silently serves the PRE-rename mapping (none here)
    val token = new String(Files.readAllBytes(
      Paths.get(root, "_txn_log", s"v$v.commit")), StandardCharsets.UTF_8)
    val stage = new File(root, s".stage_v${v}_$token")
    stage.mkdirs()
    Files.move(Paths.get(root, "_txn_log", s"v$v.mapping"),
      new File(stage, "mapping").toPath, StandardCopyOption.ATOMIC_MOVE)
    // a fresh mapped read must self-heal (healStages in currentMapping)
    assert(TxnLog.read(spark, root, v).columns.toSeq ==
      Seq("key", "amount"),
      "the post-rename mapping must be healed out of the stage")
    assert(new File(root, s"_txn_log/v$v.mapping").exists())
    TxnLog.destroy(root)
  }

  test("commitMulti re-verify fence: a stolen claim + foreign commit " +
      "before the decision yields retry, never a mixed commit") {
    val rootA = freshRoot("mfence_a")
    val rootB = freshRoot("mfence_b")
    def mk(k: Long, v: Long): DataFrame => (DataFrame, TxnLog.KeyRanges) =
      _ => (upserts(k -> v), Seq((k, k)))
    TxnLog.commitMulti(spark,
      Seq(rootA -> mk(1L, 100L), rootB -> mk(1L, 200L)))
    // second transaction: after intents are written but BEFORE the
    // coordinator decision, a "thief" rolls back table B's pending
    // (the age-checked steal path with an undecided coordinator) and a
    // foreign single-table writer immediately commits B's version —
    // the exact zombie window the fence closes
    val stolen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stats = TxnLog.commitMulti(spark,
      Seq(rootA -> mk(2L, 101L), rootB -> mk(2L, 201L)),
      preDecide = () => {
        if (stolen.compareAndSet(false, true)) {
          val vB = TxnLog.latestCommitted(rootB) + 1
          assert(!TxnLog.recoverPending(rootB, vB),
            "undecided pending must roll back, not commit")
          TxnLog.commit(spark, rootB,
            _ => (upserts(9L -> 999L), Seq((9L, 9L))))
        }
      })
    assert(stats.size == 2)
    // both tables show the multi-commit data AND table B additionally
    // shows the foreign commit — nothing lost, nothing mixed
    assert(state(rootA) == Map(1L -> 100L, 2L -> 101L))
    assert(state(rootB) == Map(1L -> 200L, 2L -> 201L, 9L -> 999L))
    // exactly one coordinator decided per transaction; no residue
    val logs = Seq(rootA, rootB).flatMap(r =>
      Option(new File(r, "_txn_log").listFiles()).getOrElse(Array.empty))
    assert(!logs.exists(_.getName.endsWith(".pending")),
      "no pending intents may survive a completed transaction")
    TxnLog.destroy(rootA); TxnLog.destroy(rootB)
  }

  test("ZERO driver-side replay: no streaming key uses " +
      "replayRows/MemoryStream — every key reads the offset source") {
    // round-11 retired the last four batch-composition injection keys
    // (late_data, update_mode, restart, tws_timers): out-of-order
    // slices, parity splits, restart caps and sentinel advances are
    // all expressed as STAGED LAYOUTS for the offset-based source.
    // This guard keeps the bar at zero references, code-wide.
    val src = new String(Files.readAllBytes(Paths.get(
      "src/main/scala/graft/streaming/StreamOps.scala")),
      StandardCharsets.UTF_8)
    Seq("replayRows", "runStreamRows", "MemoryStream[",
      "import org.apache.spark.sql.execution.streaming.runtime.MemoryStream")
      .foreach { banned =>
        assert(!src.contains(banned),
          s"driver-side replay reference survived: $banned")
      }
  }

  test("q_stream_tws_timers compiles its whole-stage code: no failed " +
      "CodeGenerator compile is logged while it runs") {
    // a failed compile is not an error to the query: Spark logs it and
    // falls back to interpreted evaluation, so only the log shows it
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the session first: Spark's logging set-up replaces the log4j
    // configuration, appenders included, when the first one starts
    val session = spark
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage +
            Option(e.getThrown).fold("")(t => s" ${t.getMessage}"))
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    val rows =
      try SparkEntry.queries("q_stream_tws_timers")(session, sf).collect()
      finally { logger.removeAppender(appender); appender.stop() }
    assert(rows.nonEmpty)
    assert(errors.isEmpty,
      s"${errors.size} failed compiles, first: ${errors.peek()}")
  }

  test("offset source tails a LIVE directory: batches staged after the " +
      "query started are admitted with checkpointed offsets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val staged = new File(System.getProperty("java.io.tmpdir"),
      "graft_r15_tail_src")
    if (staged.exists())
      graft.engine.TxnLog.destroy(staged.getAbsolutePath)
    def stage(b: Int, body: String): Unit = {
      val d = new File(staged, s"batch=$b"); d.mkdirs()
      Files.write(new File(d, "part-0.csv").toPath,
        body.getBytes(StandardCharsets.UTF_8))
    }
    stage(0, "0,1000000,1,click,1.0")
    stage(1, "1,2000000,2,click,1.0")
    val sink = s"graft_r15_tail_${System.identityHashCode(this)}"
    val q = spark.readStream
      .format(classOf[graft.streaming.EventsFileStreamProvider].getName)
      .option("path", staged.getAbsolutePath)
      .option("maxBatchesPerTrigger", "1")
      .load()
      .select($"event_id", $"user_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).count() == 2L)
      // the producer keeps writing while the query is live — the
      // directory-tail contract of every file-backed connector
      stage(2, "2,3000000,1,view,1.0\n3,4000000,2,view,1.0")
      q.processAllAvailable()
      assert(spark.table(sink).count() == 4L,
        "the live-appended batch must be admitted")
      assert(spark.table(sink).select(max($"event_id")).head.getLong(0) == 3L)
    } finally q.stop()
    graft.engine.TxnLog.destroy(staged.getAbsolutePath)
  }

  test("mid-batch crash (after the txn-sink write, before the engine " +
      "records the batch) resumes exactly-once through the offset source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stage 3 offset-source batches by hand: 2 users × 3 events each
    val staged = new File(System.getProperty("java.io.tmpdir"),
      "graft_r15_midbatch_src")
    if (staged.exists())
      graft.engine.TxnLog.destroy(staged.getAbsolutePath)
    val rows = Seq( // event_id, ts(us), user_id, event_type, value
      (0, "0,1000000,1,click,1.0\n1,2000000,2,click,1.0"),
      (1, "2,3000000,1,view,1.0\n3,4000000,2,view,1.0"),
      (2, "4,5000000,1,purchase,1.0\n5,6000000,2,purchase,1.0"))
    rows.foreach { case (b, body) =>
      val d = new File(staged, s"batch=$b"); d.mkdirs()
      Files.write(new File(d, "part-0.csv").toPath,
        body.getBytes(StandardCharsets.UTF_8))
    }
    val root = freshRoot("midbatch_sink")
    val ckpt = new File(System.getProperty("java.io.tmpdir"),
      "graft_r15_midbatch_ckpt")
    if (ckpt.exists()) graft.engine.TxnLog.destroy(ckpt.getAbsolutePath)
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commits = new java.util.concurrent.ConcurrentHashMap[
      Long, java.util.List[TxnLog.TxnStats]]()
    def start() = spark.readStream
      .format(classOf[graft.streaming.EventsFileStreamProvider].getName)
      .option("path", staged.getAbsolutePath)
      .option("maxBatchesPerTrigger", "1")
      .load()
      .select($"user_id", $"event_id")
      .writeStream
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          val s2 = batch.sparkSession
          val inc = batch.groupBy(col("user_id").as("key"))
            .agg(count(lit(1)).as("cnt")).localCheckpoint(true)
          val ranges = TxnLog.range(inc)
          val st = TxnLog.commit(s2, root, base => {
            val d = base.as("s").join(inc.as("d"), Seq("key"), "right")
              .select(col("key"),
                (coalesce(col("s.value"), lit(0L)) + col("d.cnt"))
                  .as("value"),
                lit("upsert").as("op"))
            (d, ranges)
          }, txnId = Some(s"b$id"))
          commits.computeIfAbsent(id,
            _ => java.util.Collections.synchronizedList(
              new java.util.ArrayList[TxnLog.TxnStats]())).add(st)
          // the injected crash: the SINK EFFECT is durable (committed
          // to the txn log) but the engine never records batch 1 in
          // its offset/commit log — the restart must re-drive batch 1
          // and the txn-id dedup must absorb it
          if (id == 1L && crashOnce.compareAndSet(false, true))
            throw new RuntimeException("injected mid-batch crash")
      }
      .start()
    val q1 = start()
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // exactly-once: 3 batches → exactly 3 committed versions, batch 1
    // applied ONCE — the re-driven commit deduped (attempts == 0,
    // same version), and the final balances count each event once
    assert(TxnLog.latestCommitted(root) == 2L,
      s"3 batches must be 3 versions, got ${TxnLog.latestCommitted(root)}")
    val b1 = commits.get(1L)
    assert(b1 != null && b1.size() == 2,
      s"batch 1 must run twice (crash + re-drive), got $b1")
    assert(b1.get(1).version == b1.get(0).version &&
      b1.get(1).attempts == 0,
      s"the re-driven batch-1 commit must dedup, got $b1")
    assert(state(root) == Map(1L -> 3L, 2L -> 3L),
      "each of the 6 events must count exactly once")
    TxnLog.destroy(root)
    graft.engine.TxnLog.destroy(staged.getAbsolutePath)
    graft.engine.TxnLog.destroy(ckpt.getAbsolutePath)
  }

  test("vacuum skips snapshots a live shallow clone references; " +
      "dropping the clone releases the pin") {
    val src = freshRoot("clone_src")
    TxnLog.commit(spark, src, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    TxnLog.commit(spark, src, _ => (upserts(2L -> 2L), Seq((2L, 2L))))
    val dst = new File(System.getProperty("java.io.tmpdir"),
      "graft_r15_clone_dst").getAbsolutePath
    val srcV = TxnLog.cloneShallow(src, dst) // pins v1
    TxnLog.commit(spark, src, _ => (upserts(3L -> 3L), Seq((3L, 3L))))
    TxnLog.commit(spark, src, _ => (upserts(4L -> 4L), Seq((4L, 4L))))
    val evicted = TxnLog.vacuum(src, 1)
    assert(!evicted.contains(srcV),
      "the version a live clone references must be pinned")
    // the clone still reads through its link — the round-9 descriptive
    // dangling-link failure is gone because the data SURVIVES
    assert(TxnLog.read(spark, dst, 0L).count() == 2L)
    // dropping the clone releases the pin at the next vacuum
    TxnLog.destroy(dst)
    val evicted2 = TxnLog.vacuum(src, 1)
    assert(evicted2.contains(srcV), "a dropped clone releases the pin")
    TxnLog.destroy(src)
  }

  test("join-order CBO: inverting the filter stats flips the greedy order") {
    import graft.plans.Cbo
    import spark.implicits._
    val pStats = Cbo.analyzePath(s"$sf/part.parquet")
    val oStats = Cbo.analyzePath(s"$sf/orders.parquet")
    assert(oStats.nRows > pStats.nRows,
      "fixture premise: orders is the bigger dimension")
    // a filter cut on orders selective enough to drop its estimate
    // BELOW part's unfiltered count — the order must then follow the
    // post-filter estimate, not the raw table size
    val oCut = oStats.cols("o_orderkey").max.get / 20
    val fact = graft.engine.Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_orderkey")
    val part = graft.engine.Tables.part(spark, sf)
      .select($"p_partkey", $"p_partkey".as("l_partkey"))
    val orders = graft.engine.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderkey".as("l_orderkey"))
    // no filters: raw sizes decide → part (200k·SF) before orders (1.5M·SF)
    val (_, o1) = Cbo.reorderJoin(fact, Seq(
      "part" -> Cbo.Input(part, pStats, Seq("l_partkey")),
      "orders" -> Cbo.Input(orders, oStats, Seq("l_orderkey"))))
    assert(o1 == Seq("part", "orders"))
    // orders filtered to 1/20 (~75k·SF < 200k·SF): estimate inverts
    // the raw-size order
    val (j2, o2) = Cbo.reorderJoin(fact, Seq(
      "part" -> Cbo.Input(part, pStats, Seq("l_partkey")),
      "orders" -> Cbo.Input(orders, oStats, Seq("l_orderkey"),
        Some(("o_orderkey", 0L, oCut)))))
    assert(o2 == Seq("orders", "part"),
      "inverted stats must invert the join order")
    // structural: the first-joined dimension sits deeper in the plan —
    // its join appears as the LEFT child of the second join
    val joins = j2.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 2, s"expected 2 joins, got ${joins.size}")
    assert(joins.head.left.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Join]),
      "the second join must consume the first join's output on its left")
    // selectivity math sanity: the decile filter estimates ~10%
    val sel = Cbo.selectivity(pStats, "p_partkey", 0L,
      pStats.cols("p_partkey").max.get / 10)
    assert(sel > 0.05 && sel < 0.15, s"decile selectivity off: $sel")
  }

  test("txnMvIncremental scan set is commit deltas only — no snapshot " +
      "of any historical version is read") {
    val df = graft.operators.TxnOps.txnMvIncremental(spark, sf)
    val files = df.inputFiles
    assert(files.nonEmpty, "the MV plan must read the delta files")
    val offenders = files.filterNot(_.contains("/delta_v"))
    assert(offenders.isEmpty,
      s"O(changes) maintenance must scan deltas only, got " +
        offenders.take(3).mkString(", "))
    // differential: the delta-only fold equals a full recompute of
    // the latest snapshot (empty at sf0.001 — every user is
    // error-tainted and deleted at v3 — so compare sets, not counts)
    import org.apache.spark.sql.functions._
    val root = graft.operators.TxnOps.ttTable(spark, sf)
    val latest = graft.engine.TxnLog.latestCommitted(root)
    val expect = graft.engine.TxnLog.read(spark, root, latest)
      .groupBy((col("key") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("value")).as("sum_balance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"delta-fold $got != recompute $expect")
  }

  test("IVM retraction baseline skips NULL-value upserts (column-level " +
      "'keep prior value' rows neither contribute nor become baselines)") {
    import spark.implicits._
    val deltas = Seq(
      (0L, 1L, Some(10L), "upsert"),
      (1L, 1L, None: Option[Long], "upsert"), // keep prior value (10)
      (2L, 1L, Some(15L), "upsert"),
      (3L, 1L, Some(0L), "delete"))
      .toDF("version", "key", "value", "op")
    val got = graft.operators.TxnOps
      .ivmFromDeltas(spark, deltas, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // buggy lag(contrib,1) baseline: v2 = 10 + (15 - 0) = 25
    assert(got.toSeq == Seq(
      (0L, 1L, 10L), (1L, 1L, 10L), (2L, 1L, 15L), (3L, 0L, 0L)))
  }
}
