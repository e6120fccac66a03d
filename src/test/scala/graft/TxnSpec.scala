package graft

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.TxnLog

/** Concurrency semantics of the mini transaction log: claim
  * atomicity, read-set validation (lost-update rejection vs rebase),
  * time travel, and crash-invisibility of unmarked claims. */
class TxnSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_txnspec_$tag").getAbsolutePath
    TxnLog.destroy(root)
    TxnLog.init(root)
    root
  }

  private def upserts(kvs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    kvs.toDF("key", "value").withColumn("op", lit("upsert"))
  }

  /** Read-modify-write increment of `keys` by `by`. */
  private def incTxn(keys: Seq[Long], by: Long)(
      base: DataFrame): (DataFrame, TxnLog.KeyRanges) = {
    import spark.implicits._
    val want = keys.toDF("key")
    val delta = base.as("s").join(want.as("d"), Seq("key"), "right")
      .select($"key", (coalesce($"s.value", lit(0L)) + by).as("value"),
        lit("upsert").as("op"))
    (delta, Seq((keys.min, keys.max)))
  }

  private def state(root: String): Map[Long, Long] = {
    val v = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("serial commits version monotonically and time-travels exactly") {
    val root = freshRoot("serial")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L, 2L -> 20L), Seq((1L, 2L))))
    TxnLog.commit(spark, root, _ => (upserts(2L -> 25L), Seq((2L, 2L))))
    TxnLog.commit(spark, root,
      _ => (upserts(3L -> 30L).unionByName(
        upserts(1L -> 0L).withColumn("op", lit("delete"))), Seq((1L, 3L))))
    assert(TxnLog.latestCommitted(root) == 2)
    def snap(v: Long) = TxnLog.read(spark, root, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap(0) == Map(1L -> 10L, 2L -> 20L))
    assert(snap(1) == Map(1L -> 10L, 2L -> 25L))
    assert(snap(2) == Map(2L -> 25L, 3L -> 30L), "delete must apply at v2 only")
    intercept[IllegalArgumentException](TxnLog.read(spark, root, 3))
    TxnLog.destroy(root)
  }

  /** Two writers race increments of keys {1, 2} and {2, 3} over a
    * seeded table: the loser must take the conflict re-run (key 2
    * overlaps) and the final state must be the serial one. */
  private def overlappingRace(root: String): Unit = {
    TxnLog.commit(spark, root, _ => (upserts(1L -> 100L, 2L -> 200L), Seq((1L, 2L))))
    val barrier = new CyclicBarrier(2)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[TxnLog.TxnStats]()
    val ts = Seq(Seq(1L, 2L) -> 7L, Seq(2L, 3L) -> 11L).map { case (ks, by) =>
      new Thread(() => {
        stats.add(TxnLog.commit(spark, root, incTxn(ks, by),
          barrier = Some(barrier)))
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(stats.size == 2, "both writers must eventually commit")
    val all = stats.toArray(Array.empty[TxnLog.TxnStats])
    assert(all.map(_.conflicts).sum == 1,
      "exactly one writer must take the conflict re-run (key 2 overlaps)")
    assert(all.map(_.version).toSet == Set(1L, 2L))
    // serial outcome regardless of winner order (increments commute)
    assert(state(root) == Map(1L -> 107L, 2L -> 218L, 3L -> 11L))
  }

  test("overlapping racers: loser is conflict-rejected, final state is serial") {
    val root = freshRoot("race")
    overlappingRace(root)
    TxnLog.destroy(root)
  }

  test("delta files without key stats still conflict: no silent lost update") {
    // with parquet statistics off no delta footer carries a key
    // min/max; the old footer-only ranges dropped every such file, so
    // the loser rebased over the overlap and lost an increment of key 2
    val root = freshRoot("nostats")
    spark.conf.set("parquet.column.statistics.enabled", "false")
    try {
      overlappingRace(root)
      val delta = s"$root/delta_v0"
      val footers = graft.engine.FooterStats.read(new java.io.File(delta))
      assert(footers.nonEmpty &&
        footers.forall(_.cols.get("key").forall(_.min.isEmpty)),
        "premise: the delta's footers carry no key stats")
      val written = TxnLog.fileRanges(spark, delta)
      assert(Seq(1L, 2L).forall(k => TxnLog.rangesOverlap(written, Seq((k, k)))),
        s"written ranges $written must cover keys 1 and 2")
    } finally spark.conf.unset("parquet.column.statistics.enabled")
    TxnLog.destroy(root)
  }

  test("an all-null LONG key column reports no footer min/max") {
    // parquet keeps the null count of an all-null chunk, so its stats
    // are not "empty", but their min/max read as 0: a bogus (0, 0)
    // key range for a file that writes no key at all
    import spark.implicits._
    val root = freshRoot("allnull")
    val dir = s"$root/data"
    Seq[(Option[Long], Long)]((None, 1L), (None, 2L)).toDF("key", "value")
      .coalesce(1).write.parquet(dir)
    val Seq(fs) = graft.engine.FooterStats.read(new java.io.File(dir))
    assert(fs.cols("key").min.isEmpty && fs.cols("key").max.isEmpty,
      s"all-null key reported ${fs.cols("key")}")
    assert(fs.cols("key").nulls == 2L)
    assert(fs.cols("value").min.contains(1L))
    assert(TxnLog.fileRanges(spark, dir).isEmpty,
      "an all-null key file writes no key range")
    TxnLog.destroy(root)
  }

  test("a snapshot file whose schema differs fails the read, naming the file") {
    val root = freshRoot("mixedschema")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L, 2L -> 20L), Seq((1L, 2L))))
    // a file with `value` renamed: pinning the first file's schema
    // would read its rows with a NULL value instead of failing
    val odd = new java.io.File(root, "odd_src")
    spark.range(3, 5).selectExpr("id AS key", "id AS value2")
      .coalesce(1).write.parquet(odd.getPath)
    val part = odd.listFiles().find(_.getName.endsWith(".parquet")).get
    val snap = new java.io.File(root, "snapshot_v0")
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(snap, "zz_odd.parquet").toPath)
    val e = intercept[IllegalStateException] {
      TxnLog.read(spark, root, 0L).collect()
    }
    assert(e.getMessage.contains("zz_odd.parquet"), e.getMessage)
    TxnLog.destroy(root)
  }

  test("disjoint racers: loser rebases WITHOUT a conflict re-run") {
    val root = freshRoot("disjoint")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 1L, 9L -> 9L), Seq((1L, 1L), (9L, 9L))))
    val barrier = new CyclicBarrier(2)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[TxnLog.TxnStats]()
    val ts = Seq(Seq(1L) -> 5L, Seq(9L) -> 3L).map { case (ks, by) =>
      new Thread(() => {
        stats.add(TxnLog.commit(spark, root, incTxn(ks, by),
          barrier = Some(barrier)))
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    val all = stats.toArray(Array.empty[TxnLog.TxnStats])
    assert(all.map(_.conflicts).sum == 0,
      "disjoint read/write sets must rebase with no conflict")
    assert(state(root) == Map(1L -> 6L, 9L -> 12L))
    TxnLog.destroy(root)
  }

  test("8-way overlapping increments converge to the serial sum") {
    val root = freshRoot("many")
    TxnLog.commit(spark, root, _ => (upserts(42L -> 0L), Seq((42L, 42L))))
    val ts = (1 to 8).map { i =>
      new Thread(() => {
        TxnLog.commit(spark, root, incTxn(Seq(42L), i.toLong),
          maxAttempts = 50)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(180000))
    assert(TxnLog.latestCommitted(root) == 8)
    assert(state(root) == Map(42L -> 36L), "all 8 increments must land")
    TxnLog.destroy(root)
  }

  test("checkpoint compacts metas; validation still sees old commits") {
    val root = freshRoot("ckpt")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    TxnLog.commit(spark, root, incTxn(Seq(1L, 2L), 5L))
    TxnLog.commit(spark, root, incTxn(Seq(3L), 2L))
    val before = (0L to 2L).map(TxnLog.readMeta(root, _))
    assert(TxnLog.checkpoint(root) == 2)
    val logFiles = new java.io.File(root, "_txn_log").listFiles()
      .map(_.getName).toSet
    assert(!logFiles.exists(_.endsWith(".meta")),
      s"per-version metas must be compacted away: $logFiles")
    assert(logFiles.count(_.endsWith(".ckpt")) == 1)
    // compacted metas read back byte-equal
    assert((0L to 2L).map(TxnLog.readMeta(root, _)) == before)
    // a commit after the checkpoint still validates against history:
    // build against v1 (stale) and prove the overlapping v2 commit is
    // detected through the checkpointed meta
    val barrier = new CyclicBarrier(2)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[TxnLog.TxnStats]()
    val ts = Seq(Seq(3L) -> 1L, Seq(3L) -> 10L).map { case (ks, by) =>
      new Thread(() => {
        stats.add(TxnLog.commit(spark, root, incTxn(ks, by),
          barrier = Some(barrier)))
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(stats.toArray(Array.empty[TxnLog.TxnStats])
      .map(_.conflicts).sum == 1)
    assert(state(root)(3L) == 13L)
    TxnLog.destroy(root)
  }

  test("vacuum drops old snapshot data but keeps history auditable") {
    val root = freshRoot("vac")
    (1 to 4).foreach(i =>
      TxnLog.commit(spark, root, incTxn(Seq(i.toLong), i.toLong)))
    assert(TxnLog.vacuum(root, keepLast = 2) == Seq(0L, 1L))
    // recent versions still read
    assert(TxnLog.read(spark, root, 3).count() == 4)
    assert(TxnLog.read(spark, root, 2).count() == 3)
    // vacuumed versions fail descriptively, metas/markers survive
    val e = intercept[IllegalArgumentException](
      TxnLog.read(spark, root, 0))
    assert(e.getMessage.contains("vacuumed"))
    assert(TxnLog.readMeta(root, 0).writtenRanges == Seq((1L, 1L)))
    assert(TxnLog.latestCommitted(root) == 3)
    TxnLog.destroy(root)
  }

  test("application txn ids make retries idempotent") {
    val root = freshRoot("txnid")
    val s1 = TxnLog.commit(spark, root, incTxn(Seq(1L), 5L),
      txnId = Some("batch-0"))
    assert(s1.version == 0 && s1.attempts == 1)
    // re-driven batch: same id → same version, nothing applied
    val s2 = TxnLog.commit(spark, root, incTxn(Seq(1L), 5L),
      txnId = Some("batch-0"))
    assert(s2.version == 0 && s2.attempts == 0)
    assert(state(root) == Map(1L -> 5L), "retry must not double-apply")
    assert(TxnLog.committedTxn(root, "batch-0").contains(0L))
    assert(TxnLog.committedTxn(root, "batch-1").isEmpty)
    // a NEW id commits normally on top
    val s3 = TxnLog.commit(spark, root, incTxn(Seq(1L), 2L),
      txnId = Some("batch-1"))
    assert(s3.version == 1 && state(root) == Map(1L -> 7L))
    TxnLog.destroy(root)
  }

  test("replaying the change feed reconstructs the latest snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val changes = graft.operators.TxnOps.txnChanges(spark, sf)
    // fold the feed: last change per key wins; postimages/inserts
    // materialize, deletes remove
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"version".desc)
    val rebuilt = changes
      .filter($"change_type" =!= "update_preimage")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"change_type" =!= "delete")
      .select($"user_id", $"value")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val snap = graft.operators.TxnOps.txnCatalogRead(spark, sf)
      .filter($"latest_balance".isNotNull)
      .select($"user_id", $"latest_balance")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rebuilt == snap,
      "CDF fold must equal the latest committed snapshot")
  }

  test("a wide commit's meta stays O(files), never O(keys)") {
    import spark.implicits._
    val root = freshRoot("wide")
    val wide = (0L until 10000L).map(k => (k, k)).toDF("key", "value")
      .withColumn("op", lit("upsert"))
    TxnLog.commit(spark, root, _ => (wide, TxnLog.range(wide)))
    val meta = TxnLog.readMeta(root, 0L)
    assert(meta.writtenRanges.nonEmpty &&
      meta.writtenRanges.size <= TxnLog.DELTA_FILES,
      s"10k written keys must compress to <= ${TxnLog.DELTA_FILES} " +
        s"file ranges, got ${meta.writtenRanges.size}")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_txn_log", "v0.meta")).size
    assert(lines <= 2 + TxnLog.DELTA_FILES,
      s"meta file must stay O(files): $lines lines for a 10k-key commit")
    // the ranges still validate correctly: a key inside the written
    // domain conflicts, one outside does not
    assert(TxnLog.rangesOverlap(Seq((5000L, 5000L)), meta.writtenRanges))
    assert(!TxnLog.rangesOverlap(Seq((20000L, 20000L)), meta.writtenRanges))
    // range-partitioned delta files have tight, near-disjoint ranges —
    // total covered width ~= key domain, not files x domain
    val covered = meta.writtenRanges.map(r => r._2 - r._1 + 1).sum
    assert(covered <= 10000L + TxnLog.DELTA_FILES,
      s"file ranges must not overlap-inflate: covered $covered of 10000")
    TxnLog.destroy(root)
  }

  test("a stolen claim is detected before publish — no silent lost update") {
    val root = freshRoot("fence")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    // fault injection: after the writer stages its data for v1 but
    // before it publishes, a 'thief' steals the claim (what the
    // age-checked steal does to a stalled owner). The fenced publish
    // must detect the foreign token, count a conflict, and commit at
    // a later attempt — never co-succeed on the stolen slot.
    val stats = TxnLog.commit(spark, root, incTxn(Seq(1L), 5L),
      claimTimeoutMs = 400L,
      prePublish = { v =>
        val claim = new java.io.File(root, s"_txn_log/v$v.claim")
        claim.delete()
        claim.createNewFile()
        java.nio.file.Files.write(claim.toPath, "thief-token".getBytes)
        // age the thief's claim so the retry can steal the slot back
        claim.setLastModified(System.currentTimeMillis() - 60000L)
      })
    assert(stats.conflicts >= 1,
      "the fenced publish must count the theft as a conflict")
    assert(state(root) == Map(1L -> 6L),
      "the increment must land exactly once despite the stolen claim")
    TxnLog.destroy(root)
  }

  test("schema evolution: ADD COLUMN back-fills defaults, old versions keep the old schema") {
    import spark.implicits._
    val root = freshRoot("schema")
    // v0: plain (key, value)
    TxnLog.commit(spark, root, _ => (upserts(1L -> 10L, 2L -> 20L), Seq((1L, 2L))))
    // v1: ADD COLUMN score DEFAULT 7 — zero-row delta carrying the
    // new column; existing rows back-fill the default
    val addCol = Seq.empty[(Long, Long)].toDF("key", "score")
      .withColumn("op", lit("upsert"))
    TxnLog.commit(spark, root, _ => (addCol, Nil),
      defaults = Map("score" -> 7L))
    // v2: column-level upsert — writes score for key 2, inserts key 3
    // with score but no value
    val d2 = Seq((2L, 99L), (3L, 50L)).toDF("key", "score")
      .withColumn("op", lit("upsert"))
    TxnLog.commit(spark, root, _ => (d2, Seq((2L, 3L))))
    val latest = TxnLog.read(spark, root, 2L).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(latest == Map(
      1L -> (Some(10L), Some(7L)),   // untouched: default back-fill
      2L -> (Some(20L), Some(99L)),  // score updated, value carried
      3L -> (None, Some(50L))),      // inserted without a value
      s"evolved state wrong: $latest")
    // time travel: v0 still has the ORIGINAL two-column schema
    assert(TxnLog.read(spark, root, 0L).columns.toSeq == Seq("key", "value"))
    assert(TxnLog.read(spark, root, 2L).columns.toSeq ==
      Seq("key", "value", "score"))
    // the ADD COLUMN is audited in the log
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_txn_log", "v1.schema")))
    assert(audit == "ADD|score|7")
    TxnLog.destroy(root)
    // a multi-table commit ADDing a column to a MAPPED (renamed) table
    // stages the same schema entry and mapping extension as commit
    val mapped = freshRoot("schema_mapped")
    val other = freshRoot("schema_other")
    Seq(mapped, other).foreach(r =>
      TxnLog.commit(spark, r, _ => (upserts(1L -> 10L), Seq((1L, 1L)))))
    TxnLog.renameColumn(spark, mapped, "value", "balance")
    val extra = Seq((1L, 5L)).toDF("key", "extra").withColumn("op", lit("upsert"))
    val multi = TxnLog.commitMulti(spark, Seq(
      mapped -> ((_: DataFrame) => (extra, Seq((1L, 1L)): TxnLog.KeyRanges)),
      other -> ((_: DataFrame) => (upserts(2L -> 20L), Seq((2L, 2L)): TxnLog.KeyRanges))))
    val vm = multi.head.version
    val back = TxnLog.read(spark, mapped, vm)
    assert(back.columns.toSeq == Seq("key", "balance", "extra"))
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 10L, 5L)))
    assert(TxnLog.schemaChanged(mapped, vm), "the multi-table ADD COLUMN must be audited")
    TxnLog.destroy(mapped); TxnLog.destroy(other)
  }

  test("a crashed writer's claim is invisible and does not block progress") {
    val root = freshRoot("crash")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    // simulate a crash: claim v1 but never write data or the marker,
    // and make the claim look long-dead (no heartbeat since creation)
    val claim = new java.io.File(root, "_txn_log/v1.claim")
    assert(claim.createNewFile())
    assert(claim.setLastModified(System.currentTimeMillis() - 60000L))
    assert(TxnLog.latestCommitted(root) == 0,
      "an unmarked claim must be invisible to readers")
    // a live writer recovers the dead slot IN-CODE: the wait loop
    // times out, the age check sees no heartbeat for a full
    // claimTimeoutMs, the orphan is deleted, and the retry re-claims
    // the freed version — no external janitor
    val stats = TxnLog.commit(spark, root, incTxn(Seq(1L), 1L),
      claimTimeoutMs = 500L)
    assert(stats.version == 1L,
      "the recovered writer must commit INTO the stolen slot")
    assert(state(root) == Map(1L -> 2L))
    assert(new java.io.File(root, "_txn_log/v1.commit").exists(),
      "the stolen slot must now carry a real commit marker")
    // a two-table transaction steals an orphan on ONE of its tables
    // the same way, instead of counting it as a clash and giving up
    val other = freshRoot("crash_other")
    TxnLog.commit(spark, other, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    val orphan = new java.io.File(other, "_txn_log/v1.claim")
    assert(orphan.createNewFile())
    assert(orphan.setLastModified(System.currentTimeMillis() - 60000L))
    val multi = TxnLog.commitMulti(spark,
      Seq(root -> (incTxn(Seq(1L), 1L) _), other -> (incTxn(Seq(1L), 1L) _)),
      claimTimeoutMs = 500L)
    assert(multi.map(_.version) == Seq(2L, 1L),
      "the multi-table writer must commit INTO the stolen slot")
    assert(state(root) == Map(1L -> 3L) && state(other) == Map(1L -> 2L))
    TxnLog.destroy(root); TxnLog.destroy(other)
  }

  test("a live owner's heartbeat protects its claim from being stolen") {
    val root = freshRoot("heartbeat")
    TxnLog.commit(spark, root, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    val claim = new java.io.File(root, "_txn_log/v1.claim")
    assert(claim.createNewFile())
    // a heartbeating owner keeps the mtime fresh; a contender with a
    // short timeout must NOT steal the slot while beats keep landing
    val alive = new java.util.concurrent.atomic.AtomicBoolean(true)
    val owner = new Thread(() => {
      while (alive.get()) {
        claim.setLastModified(System.currentTimeMillis())
        Thread.sleep(50L)
      }
    })
    owner.setDaemon(true); owner.start()
    val thrown = intercept[TxnLog.Conflict] {
      TxnLog.commit(spark, root, incTxn(Seq(1L), 1L),
        maxAttempts = 3, claimTimeoutMs = 400L)
    }
    assert(thrown.getMessage.contains("gave up"))
    assert(claim.exists(), "a heartbeating claim must not be stolen")
    alive.set(false); owner.join()
    TxnLog.destroy(root)
  }

  test("a two-table commit waits out a live owner's claim and commits at the next version") {
    val a = freshRoot("live_a")
    val b = freshRoot("live_b")
    Seq(a, b).foreach(r =>
      TxnLog.commit(spark, r, _ => (upserts(1L -> 1L), Seq((1L, 1L)))))
    // a foreign writer claims a's v1 and holds it, heartbeating, for
    // 1.5 s before it publishes — longer than ten quick retries
    val claimed = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val foreign = new Thread(() =>
      try {
        TxnLog.commit(spark, a, _ => (upserts(5L -> 5L), Seq((5L, 5L))),
          prePublish = _ => { claimed.countDown(); Thread.sleep(1500L) })
        ()
      } catch { case e: Throwable => failure.set(e); claimed.countDown() })
    foreign.start()
    assert(claimed.await(60L, java.util.concurrent.TimeUnit.SECONDS))
    val stats = TxnLog.commitMulti(spark,
      Seq(a -> (incTxn(Seq(1L), 1L) _), b -> (incTxn(Seq(1L), 1L) _)))
    foreign.join()
    assert(failure.get() == null, s"foreign writer failed: ${failure.get()}")
    assert(stats.map(_.version) == Seq(2L, 1L),
      "the waiting writer must commit after the owner's v1")
    assert(stats.map(_.conflicts) == Seq(0, 0), "disjoint writes rebase without a clash")
    assert(state(a) == Map(1L -> 2L, 5L -> 5L) && state(b) == Map(1L -> 2L))
    TxnLog.destroy(a); TxnLog.destroy(b)
  }

  test("a single-table and a two-table commit leave exactly the files they always wrote") {
    val a = freshRoot("files_a")
    val b = freshRoot("files_b")
    TxnLog.commit(spark, a, _ => (upserts(1L -> 1L), Seq((1L, 1L))))
    TxnLog.commitMulti(spark, Seq(
      a -> ((_: DataFrame) => (upserts(2L -> 2L), Seq((2L, 2L)): TxnLog.KeyRanges)),
      b -> ((_: DataFrame) => (upserts(2L -> 20L), Seq((2L, 2L)): TxnLog.KeyRanges))))
    // the transaction token in a name is random: pin its shape only
    def names(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().map(_.getName.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<token>"))
        .toSeq.sorted
    assert(names(a) == Seq("_txn_log", "delta_v0", "delta_v1", "snapshot_v0", "snapshot_v1"))
    assert(names(s"$a/_txn_log") == Seq("mtxn_<token>.coord",
      "v0.claim", "v0.commit", "v0.meta", "v1.claim", "v1.commit", "v1.meta"))
    assert(names(b) == Seq("_txn_log", "delta_v0", "snapshot_v0"))
    assert(names(s"$b/_txn_log") == Seq("v0.claim", "v0.commit", "v0.meta"))
    TxnLog.destroy(a); TxnLog.destroy(b)
  }
}
