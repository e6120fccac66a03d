package graft.operators

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{DfCache, QuerySession, Tables, TxnLog}
import graft.sources.GraftCatalog

/** Transactional-table operators over [[graft.engine.TxnLog]] — the
  * lakehouse capabilities plain versioned parquet lacks: optimistic
  * multi-writer commits with lost-update rejection, and time-travel
  * reads of any committed version.
  *
  * Both keys are DETERMINISTIC under true concurrency: the racing
  * writers' updates are per-key COUNT increments (commutative,
  * integer), so whichever writer wins the claim race, the committed
  * end state is the same — which is exactly what lets a DuckDB
  * oracle check a genuinely multi-threaded commit race. A
  * CyclicBarrier forces both writers to build against the same base
  * version, so the conflict path (one writer rejected and re-run) is
  * exercised on every execution, not just under lucky scheduling. */
object TxnOps {

  /** Build-once scratch fixtures for READ-ONLY txn metadata keys
    * ($history/$files/ANALYZE): the fixture is a pure function of
    * (application, sfDir), and the key only READS the log after
    * setup, so reps and sweeps reuse one build instead of re-writing
    * every snapshot per call (measured: q_txn_history spent ~4 s of
    * its 4.3 s pinned time rebuilding an identical fixture). Keys
    * that MUTATE their table mid-query (restore, vacuum, partitions'
    * staged re-layouts, ...) must NOT route through this — they keep
    * the destroy+rebuild discipline. Memoized in [[DfCache]], so a
    * new scope forgets it and a fresh session never trusts another
    * process's leftovers. */
  private def fixtureOnce(spark: SparkSession, sfDir: String,
      tag: String)(build: String => Unit): String =
    DfCache.memo(spark, sfDir, s"txn_fixture_$tag") {
      val root = DfCache.scratch(spark, sfDir, tag)
      TxnLog.destroy(root)
      TxnLog.init(root)
      build(root)
      root
    }

  /** Per-user event-type counts — the commit payloads. */
  private def typeCounts(spark: SparkSession, sfDir: String,
      eventType: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === eventType)
      .groupBy($"user_id".as("key"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** An additive transaction: reads the base snapshot, adds this
    * event type's per-user counts to the stored balances (insert
    * where absent). Read set = the keys it is about to write (the
    * read-modify-write set). */
  private def addCounts(spark: SparkSession, sfDir: String,
      eventType: String)(base: DataFrame)
      : (DataFrame, TxnLog.KeyRanges) = {
    import spark.implicits._
    val inc = typeCounts(spark, sfDir, eventType)
    val delta = base.as("s").join(inc.as("d"), Seq("key"), "right")
      .select($"key",
        (coalesce($"s.value", lit(0L)) + $"d.cnt").as("value"),
        lit("upsert").as("op"))
    // read set as a metadata-scale key RANGE (one aggregate row),
    // never a key collect — the 100 TB form of the RMW dependency
    (delta, TxnLog.range(inc))
  }

  /** Two concurrent writers race one table: both read version 0 (a
    * barrier pins the interleaving), writer A adds per-user 'view'
    * counts, writer B adds 'purchase' counts — overlapping key sets,
    * so the claim loser's read-set validation REJECTS its stale
    * delta and re-runs against the winner's snapshot. Final state ≡
    * serial application (commutative increments); the oracle is that
    * serial query. Emitted per row: the converged balances plus the
    * log's version count (base + 2 commits) and the total conflict
    * re-runs (exactly 1 — the loser), proving the OCC path ran. */
  def txnCommit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "commit")
    TxnLog.destroy(root)
    TxnLog.init(root)
    // version 0: per-user 'click' counts as the base balances
    val s0 = TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    require(s0.version == 0L, s"base commit landed at ${s0.version}")
    val barrier = new CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String,
      TxnLog.TxnStats]()
    val threads = Seq("view" -> "A", "purchase" -> "B").map {
      case (et, name) =>
        new Thread(() => {
          results.put(name,
            TxnLog.commit(spark, root, addCounts(spark, sfDir, et),
              barrier = Some(barrier)))
        }, s"txn-writer-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val stats = results.values()
    require(stats.size == 2, "a writer failed to commit")
    val it = stats.iterator()
    var conflicts = 0
    while (it.hasNext) conflicts += it.next().conflicts
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, latest)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(latest + 1).cast("long").as("n_versions"),
        lit(conflicts).cast("long").as("n_conflicts"))
      .orderBy($"user_id")
  }

  val txnCommitSql: String =
    """WITH counts AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      + CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |      + CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS balance
      |  FROM events
      |  WHERE event_type IN ('click', 'view', 'purchase')
      |  GROUP BY user_id)
      |SELECT user_id, balance, CAST(3 AS BIGINT) AS n_versions,
      |  CAST(1 AS BIGINT) AS n_conflicts
      |FROM counts ORDER BY user_id""".stripMargin

  /** Four serial commits, then a read pinned at version 2: v0 adds
    * 'click' counts, v1 'view', v2 'purchase', v3 DELETES every user
    * who hit a SEVERE 'error' (value > 200) — and the time-travel
    * read of v2 must not see v3's deletes (nor miss v0–v2's adds).
    * The oracle is the three-type serial aggregate with no delete
    * filter; latest-version bookkeeping rides along so the query also
    * pins that v3 exists. */
  /** Build (once per application+sfDir) the 4-version demo table:
    * v0 'click' adds, v1 'view', v2 'purchase', v3 deletes of
    * severely-error-tainted users (error value > 200 — a slice, so
    * the final state is NON-empty; see the v3 comment below). Shared
    * by the time-travel key and the catalog `VERSION AS OF` key. */
  private[graft] def ttTable(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    fixtureOnce(spark, sfDir, "tt") { root =>
      Seq("click", "view", "purchase").foreach { et =>
        TxnLog.commit(spark, root, addCounts(spark, sfDir, et))
      }
      // v3: delete SEVERELY error-tainted users (error value > 200).
      // The slice matters: in the dense fixture EVERY user has some
      // error event, so an unqualified delete-set empties the table
      // and every downstream "final state" key (MV maintenance, row
      // lineage) passes vacuously with 0 rows. value > 200 splits the
      // population at both SFs (38/150 deleted at sf0.01, 324/1500 at
      // sf0.1) so survivors AND deletions are both exercised.
      TxnLog.commit(spark, root, { base =>
        val errs = Tables.events(spark, sfDir)
          .filter($"event_type" === "error" && $"value" > 200.0)
          .select($"user_id".as("key")).distinct()
        val delta = errs
          .select($"key", lit(0L).as("value"), lit("delete").as("op"))
        (delta, TxnLog.range(errs))
      })
      ()
    }
  }

  def txnTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = ttTable(spark, sfDir)
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, 2L)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(2L).as("read_version"), lit(latest).cast("long").as("latest_version"))
      .orderBy($"user_id")
  }

  val txnTimeTravelSql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance
      |  FROM events
      |  WHERE event_type IN ('click', 'view', 'purchase')
      |  GROUP BY user_id)
      |SELECT user_id, balance, CAST(2 AS BIGINT) AS read_version,
      |  CAST(3 AS BIGINT) AS latest_version
      |FROM counts ORDER BY user_id""".stripMargin

  /** Transactional MERGE INTO — the three-clause upsert every
    * lakehouse runs, committed atomically through the log: target =
    * per-user click counts (v0), source = per-user purchase counts;
    * WHEN MATCHED AND source > 2×target THEN DELETE (the
    * runaway-row eviction clause), WHEN MATCHED THEN UPDATE
    * (balance += source), WHEN NOT MATCHED THEN INSERT. The whole
    * merge is ONE commit: its delta carries exactly the source keys
    * (written-key set = merge source — what OCC validates against),
    * and unmatched-by-source target rows carry over untouched, which
    * is MERGE's contract and what the `carryover` action pins. The
    * oracle evaluates all three clauses in closed form. */
  def txnMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "merge")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    val source = typeCounts(spark, sfDir, "purchase")
    TxnLog.commit(spark, root, { base =>
      val delta = base.as("t").join(source.as("s"), Seq("key"), "right")
        .select($"key",
          when($"t.value".isNotNull && $"s.cnt" > $"t.value" * 2, lit(0L))
            .otherwise(coalesce($"t.value", lit(0L)) + $"s.cnt")
            .as("value"),
          when($"t.value".isNotNull && $"s.cnt" > $"t.value" * 2,
            lit("delete")).otherwise(lit("upsert")).as("op"))
      (delta, TxnLog.range(source))
    })
    val v0 = TxnLog.read(spark, root, 0L)
      .withColumnRenamed("value", "v0_value")
    val sourceKeys = source.select($"key")
    TxnLog.read(spark, root, 1L)
      .join(v0, Seq("key"), "left")
      .join(sourceKeys.withColumn("in_src", lit(1)), Seq("key"), "left")
      .select($"key".as("user_id"), $"value".as("balance"),
        when($"v0_value".isNull, lit("insert"))
          .when($"in_src".isNotNull, lit("update"))
          .otherwise(lit("carryover")).as("action"))
      .orderBy($"user_id")
  }

  val txnMergeSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      AS n_c,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS n_p
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CASE WHEN n_c > 0 AND n_p = 0 THEN n_c
      |       WHEN n_c = 0 THEN n_p
      |       ELSE n_c + n_p END AS balance,
      |  CASE WHEN n_c > 0 AND n_p = 0 THEN 'carryover'
      |       WHEN n_c = 0 THEN 'insert'
      |       ELSE 'update' END AS action
      |FROM per_user
      |WHERE (n_c > 0 OR n_p > 0)
      |  AND NOT (n_c > 0 AND n_p > 2 * n_c)
      |ORDER BY user_id""".stripMargin

  /** CHANGE DATA FEED out of the transaction log (the Delta CDF
    * `table_changes()` idea): for every committed version, emit the
    * row-level changes with their type — `insert` for keys the
    * version introduced, `update_preimage`/`update_postimage` pairs
    * for keys it replaced, `delete` (with preimage) for keys it
    * removed; a delete of an absent key emits nothing. Pre-images
    * come from a key-join of the previous snapshot against the
    * delta's keys — the same delta-bounded read IVM uses, which is
    * why serving CDF from a log of deltas is cheap while serving it
    * from snapshot diffs would be two table scans per version. The
    * oracle reconstructs every change row from the base events in
    * closed form (the tt table's four commits are deterministic),
    * so types, pre- and post-images are all checked. */
  def txnChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = ttTable(spark, sfDir)
    val latest = TxnLog.latestCommitted(root)
    // Round-10 rewrite (same class as [[txnMvIncremental]]'s fix):
    // the old form joined each version's delta against the FULL
    // previous snapshot — O(versions × table). Pre-images are
    // derivable from the DELTAS ALONE: a key's state before version v
    // is its last touch (one scan of every delta file, one per-key
    // window). Each touch then explodes into its CDF rows in place —
    // at 100 TB the cost is O(total changes), which is the contract
    // a change feed with pre-images has to meet (production formats
    // pay it by WRITING pre-images at commit time; deriving them
    // from the keyed delta history is the log-only equivalent).
    val deltas = spark.read
      .parquet((0L to latest).map(v => s"$root/delta_v$v"): _*)
      .withColumn("version",
        regexp_extract(input_file_name(), "delta_v(\\d+)/", 1)
          .cast("long"))
    val prevFrame = Window.partitionBy($"key").orderBy($"version")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = deltas
      .withColumn("cur_present",
        when($"op" === "delete", lit(0L)).otherwise(lit(1L)))
      .withColumn("cur_value",
        when($"op" === "delete", lit(null).cast("long"))
          .otherwise($"value"))
      .withColumn("prev_present",
        coalesce(last($"cur_present").over(prevFrame), lit(0L)))
      .withColumn("prev_value",
        last($"cur_value", ignoreNulls = true).over(prevFrame))
    touched
      .select($"version", $"key",
        explode(
          when($"op" === "upsert" && $"prev_present" === 0L,
            array(struct(lit("insert").as("change_type"),
              $"value".as("value"))))
          .when($"op" === "upsert" && $"prev_present" === 1L,
            array(
              struct(lit("update_preimage").as("change_type"),
                $"prev_value".as("value")),
              struct(lit("update_postimage").as("change_type"),
                $"value".as("value"))))
          .when($"op" === "delete" && $"prev_present" === 1L,
            array(struct(lit("delete").as("change_type"),
              $"prev_value".as("value"))))).as("chg"))
      // a delete of a never-present key matches no branch → NULL
      // array → explode emits nothing, exactly the old semantics
      .select($"version", $"key".as("user_id"),
        $"chg.change_type".as("change_type"), $"chg.value".as("value"))
      .orderBy($"version", $"user_id", $"change_type")
  }

  val txnChangesSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      AS n_c,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |      AS n_v,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS n_p,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS BIGINT)
      |      AS n_e
      |  FROM events GROUP BY user_id),
      |changes AS (
      |  SELECT CAST(0 AS BIGINT) AS version, user_id,
      |    'insert' AS change_type, n_c AS value
      |  FROM per_user WHERE n_c > 0
      |  UNION ALL
      |  SELECT 1, user_id, 'insert', n_v
      |  FROM per_user WHERE n_v > 0 AND n_c = 0
      |  UNION ALL
      |  SELECT 1, user_id, 'update_preimage', n_c
      |  FROM per_user WHERE n_v > 0 AND n_c > 0
      |  UNION ALL
      |  SELECT 1, user_id, 'update_postimage', n_c + n_v
      |  FROM per_user WHERE n_v > 0 AND n_c > 0
      |  UNION ALL
      |  SELECT 2, user_id, 'insert', n_p
      |  FROM per_user WHERE n_p > 0 AND n_c + n_v = 0
      |  UNION ALL
      |  SELECT 2, user_id, 'update_preimage', n_c + n_v
      |  FROM per_user WHERE n_p > 0 AND n_c + n_v > 0
      |  UNION ALL
      |  SELECT 2, user_id, 'update_postimage', n_c + n_v + n_p
      |  FROM per_user WHERE n_p > 0 AND n_c + n_v > 0
      |  UNION ALL
      |  SELECT 3, user_id, 'delete', n_c + n_v + n_p
      |  FROM per_user WHERE n_e > 0 AND n_c + n_v + n_p > 0)
      |SELECT version, user_id, change_type, value
      |FROM changes ORDER BY version, user_id, change_type""".stripMargin

  /** Incremental view maintenance over the transaction log: a
    * materialized aggregate view (key count + value sum) maintained
    * across all versions from the commit DELTAS alone — the full
    * snapshot is NEVER rescanned, and (round-9 fix) the maintenance
    * itself is ONE distributed plan, not a per-version driver loop of
    * collected scalars. The shape: every delta file is scanned once
    * (version recovered from the file path), a per-KEY window LAG
    * turns each touch into the change it contributes to the view
    * (new value minus the value in force before — an upsert carries
    * the full new value, a delete retracts to zero), the changes
    * aggregate per VERSION, and a running sum over the ≤ #versions
    * aggregate rows (metadata-scale — the same class as `$history`)
    * yields the maintained view at every version. At 100 TB: one
    * delta-bounded shuffle by key, one metadata-scale aggregate —
    * nothing table-shaped, nothing driver-resident. The oracle
    * recomputes each version's view independently from the base
    * events, so maintained ≡ recomputed is the gate itself. */
  def txnIvm(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ttTable(spark, sfDir)
    val latest = TxnLog.latestCommitted(root)
    val deltas = spark.read
      .parquet((0L to latest).map(v => s"$root/delta_v$v"): _*)
      .withColumn("version",
        regexp_extract(input_file_name(), "delta_v(\\d+)/", 1)
          .cast("long"))
    ivmFromDeltas(spark, deltas, latest)
  }

  /** The IVM window/aggregate core over a (version, key, value, op)
    * delta frame — split out so the NULL-value-upsert retraction
    * semantics are unit-testable off the fixture path. */
  private[graft] def ivmFromDeltas(spark: SparkSession,
      deltas: DataFrame, latest: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val perKey = Window.partitionBy($"key").orderBy($"version")
    // the retraction baseline is the value IN FORCE before this touch,
    // not the literal previous delta row: a NULL-value upsert (the
    // log's column-level "keep prior value" convention) contributes no
    // change itself and must not become the next touch's baseline —
    // last(..., ignoreNulls) over the preceding frame skips it, where
    // a plain lag(contrib, 1) would retract the next upsert against 0
    // and double-count the prior value
    val prevFrame = perKey.rowsBetween(Window.unboundedPreceding, -1)
    val changes = deltas
      .withColumn("contrib",
        when($"op" === "delete", lit(0L)).otherwise($"value"))
      .withColumn("present",
        when($"op" === "delete", lit(0L)).otherwise(lit(1L)))
      .withColumn("in_force",
        last($"contrib", ignoreNulls = true).over(prevFrame))
      .select($"version",
        (coalesce($"contrib", $"in_force", lit(0L)) -
          coalesce($"in_force", lit(0L))).as("d_sum"),
        ($"present" - coalesce(lag($"present", 1).over(perKey), lit(0L)))
          .as("d_cnt"))
    // versions with empty (metadata-only) deltas still get a row
    val versions = spark.range(0L, latest + 1).select($"id".as("version"))
    val perVersion = versions
      .join(changes.groupBy($"version")
        .agg(sum($"d_cnt").as("dc"), sum($"d_sum").as("ds")),
        Seq("version"), "left")
      .select($"version", coalesce($"dc", lit(0L)).as("dc"),
        coalesce($"ds", lit(0L)).as("ds"))
    // running view over the per-version aggregate: ≤ #versions rows,
    // metadata-scale at any table size (WindowGuard-allowlisted)
    val run = Window.orderBy($"version")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perVersion.select($"version",
      sum($"dc").over(run).as("n_keys"),
      sum($"ds").over(run).as("sum_value"))
      .orderBy($"version")
  }

  val txnIvmSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_c,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_v,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_p,
      |    COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS n_e
      |  FROM events GROUP BY user_id)
      |SELECT CAST(0 AS BIGINT) AS version,
      |  CAST(COUNT(*) FILTER (WHERE n_c > 0) AS BIGINT) AS n_keys,
      |  CAST(COALESCE(SUM(n_c) FILTER (WHERE n_c > 0), 0) AS BIGINT)
      |    AS sum_value
      |FROM per_user
      |UNION ALL SELECT CAST(1 AS BIGINT),
      |  CAST(COUNT(*) FILTER (WHERE n_c + n_v > 0) AS BIGINT),
      |  CAST(COALESCE(SUM(n_c + n_v) FILTER (WHERE n_c + n_v > 0), 0)
      |    AS BIGINT)
      |FROM per_user
      |UNION ALL SELECT CAST(2 AS BIGINT),
      |  CAST(COUNT(*) FILTER (WHERE n_c + n_v + n_p > 0) AS BIGINT),
      |  CAST(COALESCE(SUM(n_c + n_v + n_p)
      |    FILTER (WHERE n_c + n_v + n_p > 0), 0) AS BIGINT)
      |FROM per_user
      |UNION ALL SELECT CAST(3 AS BIGINT),
      |  CAST(COUNT(*) FILTER (WHERE n_c + n_v + n_p > 0 AND n_e = 0)
      |    AS BIGINT),
      |  CAST(COALESCE(SUM(n_c + n_v + n_p)
      |    FILTER (WHERE n_c + n_v + n_p > 0 AND n_e = 0), 0) AS BIGINT)
      |FROM per_user
      |ORDER BY version""".stripMargin

  /** The same pinned-version read issued through SQL: the
    * transaction-log table resolves via [[graft.sources.GraftCatalog]]
    * (a `_txn_log` directory is a catalog table whose unversioned
    * read is the latest committed snapshot) and `VERSION AS OF 2`
    * routes to `loadTable(ident, version)` — Spark's native time-
    * travel syntax backed by the engine's own log. The default read
    * rides along (`latest_balance`, NULL for users v3 deleted),
    * proving the two resolutions hit different snapshots of one
    * table in one query. */
  def txnCatalogRead(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = ttTable(spark, sfDir)
      val ident = GraftCatalog.ident(root)
      spark.sql(
        s"""SELECT v2.key AS user_id, v2.value AS balance,
           |  latest.value AS latest_balance
           |FROM $ident VERSION AS OF 2 v2
           |LEFT JOIN $ident latest ON v2.key = latest.key
           |ORDER BY user_id""".stripMargin)
    }

  val txnCatalogReadSql: String =
    """WITH counts AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type IN
      |      ('click', 'view', 'purchase')) AS BIGINT) AS balance,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS BIGINT)
      |      AS n_err
      |  FROM events
      |  GROUP BY user_id)
      |SELECT user_id, balance,
      |  CASE WHEN n_err > 0 THEN NULL ELSE balance END AS latest_balance
      |FROM counts
      |WHERE balance > 0
      |ORDER BY user_id""".stripMargin

  /** RESTORE TABLE ... TO VERSION: revert the table to an earlier
    * version's STATE as a new FORWARD commit (history is never
    * rewritten — the bad versions stay auditable; this is Delta's
    * RESTORE). The restore delta is computed as the keyed diff
    * target-vs-current (upsert what differs or reappears, delete
    * what the target lacks), so its size is bounded by the damage,
    * not the table. Demo: v0 = per-user 'click' balances, v1 =
    * (erroneous) deletion of every error-tainted user, v2 = RESTORE
    * to v0. Final state ≡ v0, with THREE versions on the log — the
    * oracle checks both. */
  def txnRestore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "restore")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    // v1: the "fat-finger" delete of error-tainted users
    TxnLog.commit(spark, root, { _ =>
      val errs = Tables.events(spark, sfDir)
        .filter($"event_type" === "error")
        .select($"user_id".as("key")).distinct()
      (errs.select($"key", lit(0L).as("value"),
        lit("delete").as("op")), TxnLog.range(errs))
    })
    // v2: RESTORE to v0 — delta = diff(target = v0, current = base)
    TxnLog.commit(spark, root, { base =>
      val target = TxnLog.read(spark, root, 0L)
      val delta = target.as("t")
        .join(base.as("c"), Seq("key"), "full_outer")
        .filter($"t.value".isNull || $"c.value".isNull ||
          $"t.value" =!= $"c.value")
        .select($"key",
          coalesce($"t.value", lit(0L)).as("value"),
          when($"t.value".isNull, "delete").otherwise("upsert").as("op"))
      (delta, TxnLog.range(delta))
    })
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, latest)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(latest + 1).cast("long").as("n_versions"))
      .orderBy($"user_id")
  }

  val txnRestoreSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM events WHERE event_type = 'click'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** OPTIMIZE (small-file compaction) through the log: v0 commits
    * per-user 'click' balances (snapshot fragmented across the write
    * shuffle's output files), then [[TxnLog.optimize]] commits v1 —
    * the same rows bin-packed into exactly 2 hash-partitioned files,
    * with an EMPTY delta and EMPTY write set so it can never
    * conflict with a concurrent data commit. The query returns the
    * post-optimize state plus the actual file count of the new
    * snapshot — proving content survived and layout changed. */
  def txnOptimize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "optimize")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    val v = TxnLog.optimize(spark, root, targetFiles = 2)
    val nFiles = Option(new java.io.File(root, s"snapshot_v$v")
      .listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_"))
    TxnLog.read(spark, root, v)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(nFiles).cast("long").as("n_files"),
        lit(v + 1).cast("long").as("n_versions"))
      .orderBy($"user_id")
  }

  val txnOptimizeSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(2 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_versions
      |FROM events WHERE event_type = 'click'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SCHEMA EVOLUTION through the transaction log: v0 commits the
    * original (key, value) balances, v1 is a pure ADD COLUMN commit
    * (`score` LONG DEFAULT 0 — a zero-row delta carrying the new
    * column, back-filled on every existing row from the declared
    * default and audited in the log's `v1.schema` entry), v2 writes
    * the new column for purchase users as a COLUMN-LEVEL upsert (the
    * delta omits `value`, so stored balances carry over untouched and
    * inserted users get NULL — surfaced as -1 to keep the compared
    * column integral). Reading latest shows the evolved 3-column
    * schema with back-filled defaults; time travel to v0 still shows
    * the original 2 columns because each version's snapshot is
    * self-describing (`v0_ncols`/`latest_ncols` pin both facts). At
    * 100 TB this is the first thing a changelog consumer needs after
    * MERGE/CDF/RESTORE: adding a column costs a metadata entry plus
    * default semantics, never a table rewrite. */
  def txnSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "schema")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    // v1: ADD COLUMN score DEFAULT 0 (metadata-only: zero-row delta)
    val addCol = Seq.empty[(Long, Long)].toDF("key", "score")
      .withColumn("op", lit("upsert"))
    TxnLog.commit(spark, root, _ => (addCol, Nil),
      defaults = Map("score" -> 0L))
    // v2: write the new column only — value carries over by omission
    TxnLog.commit(spark, root, { _ =>
      val scores = typeCounts(spark, sfDir, "purchase")
      (scores.select($"key", $"cnt".as("score"), lit("upsert").as("op")),
        TxnLog.range(scores))
    })
    val latest = TxnLog.latestCommitted(root)
    val v0Cols = TxnLog.read(spark, root, 0L).columns.length.toLong
    val cur = TxnLog.read(spark, root, latest)
    val curCols = cur.columns.length.toLong
    cur.select($"key".as("user_id"),
      coalesce($"value", lit(-1L)).as("balance"), $"score",
      lit(v0Cols).as("v0_ncols"), lit(curCols).as("latest_ncols"),
      lit(latest + 1).cast("long").as("n_versions"))
      .orderBy($"user_id")
  }

  val txnSchemaEvolutionSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      AS n_c,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS n_p
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CASE WHEN n_c > 0 THEN n_c ELSE -1 END AS balance,
      |  CASE WHEN n_p > 0 THEN n_p ELSE 0 END AS score,
      |  CAST(2 AS BIGINT) AS v0_ncols, CAST(3 AS BIGINT) AS latest_ncols,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM per_user WHERE n_c > 0 OR n_p > 0
      |ORDER BY user_id""".stripMargin

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE pinned to the
    * transaction log — the maintenance side of
    * [[graft.plans.MvRewriteRule]]'s consumption side: a per-bucket
    * summary (users, total balance, bucket = key % 10) maintained
    * from the commit DELTAS ALONE. Round-10 rewrite: the old form
    * re-read snapshot v−1 once per version to derive retractions —
    * O(versions × table) at scale. But the per-version retract/add
    * walk TELESCOPES when only the latest view is served (this key's
    * contract; the per-version running form is [[txnIvm]]): a key's
    * net contribution is decided entirely by its LAST touch, so the
    * whole maintenance is ONE scan of every delta file (version
    * recovered from the path — the same `$changes`-feed read), a
    * per-key last-touch window, and a bucket aggregate. No snapshot
    * is ever read — the scan set is delta_v* only, pinned by spec —
    * and at 100 TB the cost is O(total changes), the changelog bound
    * incremental maintenance exists to achieve. The oracle recomputes
    * the latest summary from the base events in closed form, so
    * maintained ≡ recomputed IS the correctness gate; Round10Spec
    * additionally pins every INTERMEDIATE version by maintaining
    * step-by-step against an in-engine recompute. */
  def txnMvIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = ttTable(spark, sfDir)
    val latest = TxnLog.latestCommitted(root)
    val deltas = spark.read
      .parquet((0L to latest).map(v => s"$root/delta_v$v"): _*)
      .withColumn("version",
        regexp_extract(input_file_name(), "delta_v(\\d+)/", 1)
          .cast("long"))
    // a key is in the view iff its newest touch is an upsert; its
    // contribution is that touch's value (delta shuffle is sized by
    // the changes, never the table)
    val newestFirst = Window.partitionBy($"key").orderBy($"version".desc)
    deltas
      .withColumn("rn", row_number().over(newestFirst))
      .filter($"rn" === 1 && $"op" === "upsert")
      .groupBy(($"key" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum($"value").as("sum_balance"))
      .withColumn("mv_version", lit(latest).cast("long"))
      .orderBy($"bucket")
  }

  val txnMvIncrementalSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_c,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_v,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_p,
      |    COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS n_e
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n_c + n_v + n_p) AS BIGINT) AS sum_balance,
      |  CAST(3 AS BIGINT) AS mv_version
      |FROM per_user WHERE n_c + n_v + n_p > 0 AND n_e = 0
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** MERGE WITH AUTOMATIC SCHEMA EVOLUTION (Delta's
    * `mergeSchema` MERGE): the merge source carries a column the
    * target never had (`purchases`), and ONE commit both applies the
    * three-clause upsert and evolves the schema — matched users get
    * balance += source count AND the new column, inserted users
    * arrive with it, and untouched target rows carry over with the
    * declared default back-fill (0). This is the ingest reality of a
    * long-lived table: upstream adds a field, and the next MERGE must
    * absorb it without a rewrite or a manual DDL window. Composes the
    * round's two txn capabilities (column-level deltas + ADD COLUMN
    * defaults) in a single commit; closed-form oracle. */
  def txnMergeEvolving(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "mergeevo")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    val source = typeCounts(spark, sfDir, "purchase")
    TxnLog.commit(spark, root, { base =>
      val delta = base.as("t").join(source.as("s"), Seq("key"), "right")
        .select($"key",
          (coalesce($"t.value", lit(0L)) + $"s.cnt").as("value"),
          $"s.cnt".as("purchases"),
          lit("upsert").as("op"))
      (delta, TxnLog.range(source))
    }, defaults = Map("purchases" -> 0L))
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, latest)
      .select($"key".as("user_id"), $"value".as("balance"), $"purchases",
        lit(latest + 1).cast("long").as("n_versions"))
      .orderBy($"user_id")
  }

  val txnMergeEvolvingSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      AS n_c,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS n_p
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_c + n_p AS balance, n_p AS purchases,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM per_user WHERE n_c > 0 OR n_p > 0
      |ORDER BY user_id""".stripMargin

  /** ROW-LEVEL LINEAGE from the transaction log (the Delta/Iceberg
    * row-tracking idea: `_created_version` / `_modified_version`
    * system columns): each surviving row of the latest snapshot is
    * annotated with the version that INSERTED it and the last
    * version that TOUCHED it — derived entirely from the log's
    * delta files (total change volume, never a snapshot scan per
    * version), which is why a changelog makes per-row audit cheap:
    * lineage is a groupBy over the deltas' (key, version, op)
    * stream. The per-commit audit question "which rows did v2
    * change" and the compliance question "when was this row born"
    * both read from the same two columns. Oracle reconstructs both
    * versions per user in closed form from the tt table's
    * deterministic four-commit history. */
  def txnRowLineage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = ttTable(spark, sfDir)
    val latest = TxnLog.latestCommitted(root)
    val deltas = (0L to latest).map { v =>
      spark.read.parquet(s"$root/delta_v$v")
        .select($"key", lit(v).cast("long").as("v"), $"op")
    }.reduce(_ unionByName _)
    val lineage = deltas.groupBy($"key").agg(
      min(when($"op" === "upsert", $"v")).as("created_version"),
      max($"v").as("modified_version"))
    TxnLog.read(spark, root, latest)
      .join(lineage, Seq("key"))
      .select($"key".as("user_id"), $"value".as("balance"),
        $"created_version", $"modified_version")
      .orderBy($"user_id")
  }

  val txnRowLineageSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_c,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_v,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_p,
      |    COUNT(*) FILTER (WHERE event_type = 'error' AND value > 200.0) AS n_e
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n_c + n_v + n_p AS BIGINT) AS balance,
      |  CAST(CASE WHEN n_c > 0 THEN 0 WHEN n_v > 0 THEN 1 ELSE 2 END
      |    AS BIGINT) AS created_version,
      |  CAST(CASE WHEN n_p > 0 THEN 2 WHEN n_v > 0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS modified_version
      |FROM per_user WHERE n_c + n_v + n_p > 0 AND n_e = 0
      |ORDER BY user_id""".stripMargin

  /** CHECK constraint enforced AT COMMIT: the table carries the
    * invariant `value >= 0`; a transaction whose post-state would
    * violate it is rejected before its version becomes visible (the
    * claim is released, the log untouched) — data quality moved from
    * after-the-fact audit to write-time enforcement, which is the
    * only placement that scales (validating 100 TB after corruption
    * lands costs a full scan; validating the commit's post-image
    * costs the commit). v0 = 'click' balances (passes); a rogue
    * commit subtracting 1e6 from every purchase user's balance is
    * REJECTED; v1 = 'view' increments (passes). Final state shows
    * the rejected write left no trace. */
  def txnConstraint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val check = col("value") >= 0L
    val root = DfCache.scratch(spark, sfDir, "check")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"),
      check = Some(check))
    val rejected =
      try {
        TxnLog.commit(spark, root, { base =>
          val rogue = typeCounts(spark, sfDir, "purchase")
          val delta = base.as("s").join(rogue.as("d"), Seq("key"), "inner")
            .select($"key", ($"s.value" - lit(1000000L)).as("value"),
              lit("upsert").as("op"))
          (delta, TxnLog.range(rogue))
        }, check = Some(check))
        0L
      } catch { case _: TxnLog.CheckViolation => 1L }
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "view"),
      check = Some(check))
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, latest)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(latest + 1).cast("long").as("n_versions"),
        lit(rejected).cast("long").as("n_rejected"))
      .orderBy($"user_id")
  }

  val txnConstraintSql: String =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    + CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |    AS balance,
      |  CAST(2 AS BIGINT) AS n_versions, CAST(1 AS BIGINT) AS n_rejected
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A key-sliced additive transaction: [[addCounts]] restricted to
    * keys in [lo, hi) — the disjoint-writer payload. */
  private def addCountsSlice(spark: SparkSession, sfDir: String,
      eventType: String, lo: Long, hi: Long)(base: DataFrame)
      : (DataFrame, TxnLog.KeyRanges) = {
    import spark.implicits._
    val inc = typeCounts(spark, sfDir, eventType)
      .filter($"key" >= lo && $"key" < hi)
    val delta = base.as("s").join(inc.as("d"), Seq("key"), "right")
      .select($"key",
        (coalesce($"s.value", lit(0L)) + $"d.cnt").as("value"),
        lit("upsert").as("op"))
    (delta, TxnLog.range(inc))
  }

  /** User-id split point for the disjoint writers — mid-domain at
    * every fixture SF (user ids are dense from 0). */
  private val DISJOINT_SPLIT = 8L

  /** DISJOINT CONCURRENT WRITERS: two transactions race the claim
    * from the same base version (barrier-pinned), writing per-user
    * 'view' increments for NON-OVERLAPPING user-id ranges (< 8 and
    * >= 8). The claim loser waits out the winner, revalidates its
    * read range against the winner's per-file written ranges, finds
    * NO intersection — and commits its ALREADY-BUILT delta without a
    * single re-run. The require pins conflicts == 0: range-based OCC
    * admits disjoint concurrency for free, which is the 100 TB
    * multi-writer story (per-partition ingest writers almost never
    * overlap; key-set validation would still serialize a rebuild,
    * range validation doesn't). Oracle = the serial result; the
    * emitted n_conflicts = 0 is itself oracle-checked. */
  def txnConcurrentDisjoint(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "disjoint")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    val barrier = new CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String,
      TxnLog.TxnStats]()
    val threads = Seq(
      ("low", Long.MinValue, DISJOINT_SPLIT),
      ("high", DISJOINT_SPLIT, Long.MaxValue)).map {
      case (name, lo, hi) =>
        new Thread(() => {
          results.put(name,
            TxnLog.commit(spark, root,
              addCountsSlice(spark, sfDir, "view", lo, hi),
              barrier = Some(barrier)))
        }, s"txn-disjoint-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    require(results.size == 2, "a disjoint writer failed to commit")
    val it = results.values().iterator()
    var conflicts = 0
    while (it.hasNext) conflicts += it.next().conflicts
    require(conflicts == 0,
      s"disjoint ranges must commit without conflict re-runs, got $conflicts")
    val latest = TxnLog.latestCommitted(root)
    TxnLog.read(spark, root, latest)
      .select($"key".as("user_id"), $"value".as("balance"),
        lit(latest + 1).cast("long").as("n_versions"),
        lit(conflicts).cast("long").as("n_conflicts"))
      .orderBy($"user_id")
  }

  val txnConcurrentDisjointSql: String =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    + CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |    AS balance,
      |  CAST(3 AS BIGINT) AS n_versions, CAST(0 AS BIGINT) AS n_conflicts
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SHALLOW CLONE + DIVERGENCE ([[TxnLog.cloneShallow]]): the
    * source table accrues two commits (click then view counts), is
    * shallow-cloned — a metadata-only operation, zero data bytes
    * copied (the require pins the link) — and the CLONE then commits
    * purchase counts. The output joins both tables' latest states:
    * the clone carries click+view+purchase, the source must still be
    * click+view exactly (the clone's commit stayed in the clone).
    * This is the test/dev-fork workflow every production lakehouse
    * table needs — at 100 TB a copy-based fork is a day-long job,
    * a shallow clone is two file writes. */
  def txnClone(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = DfCache.scratch(spark, sfDir, "clone_src")
    val dst = DfCache.scratch(spark, sfDir, "clone_dst")
    TxnLog.destroy(src)
    TxnLog.init(src)
    TxnLog.commit(spark, src, addCounts(spark, sfDir, "click"))
    TxnLog.commit(spark, src, addCounts(spark, sfDir, "view"))
    val clonedV = TxnLog.cloneShallow(src, dst)
    require(clonedV == 1L, s"expected to clone source v1, got v$clonedV")
    require(java.nio.file.Files.isSymbolicLink(
      java.nio.file.Paths.get(dst, "snapshot_v0")),
      "shallow clone must reference, not copy, the source snapshot")
    TxnLog.commit(spark, dst, addCounts(spark, sfDir, "purchase"))
    val srcLatest = TxnLog.read(spark, src, TxnLog.latestCommitted(src))
    val dstLatest = TxnLog.read(spark, dst, TxnLog.latestCommitted(dst))
    srcLatest.select($"key", $"value".as("src_balance"))
      .join(dstLatest.select($"key", $"value".as("clone_balance")),
        Seq("key"), "full")
      .select($"key".as("user_id"),
        coalesce($"src_balance", lit(0L)).as("src_balance"),
        coalesce($"clone_balance", lit(0L)).as("clone_balance"))
      .orderBy($"user_id")
  }

  val txnCloneSql: String =
    """WITH cv AS (
      |  SELECT user_id,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |      + CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |      AS src_balance
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id),
      |p AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS pcnt
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id)
      |SELECT COALESCE(cv.user_id, p.user_id) AS user_id,
      |  CAST(COALESCE(cv.src_balance, 0) AS BIGINT) AS src_balance,
      |  CAST(COALESCE(cv.src_balance, 0) + COALESCE(p.pcnt, 0) AS BIGINT)
      |    AS clone_balance
      |FROM cv FULL JOIN p ON cv.user_id = p.user_id
      |ORDER BY user_id""".stripMargin

  /** TAG-PROTECTED RETENTION VACUUM ([[TxnLog.vacuum]] +
    * [[TxnLog.tag]]): three commits (click v0, view v1, purchase
    * v2), v0 pinned by the tag `baseline`, then `VACUUM keepLast=1`.
    * The retention window alone would evict v0 and v1; the tag pins
    * v0, so exactly v1 is evicted — history metas/markers survive
    * for audit, a time-travel read of v1 fails with the descriptive
    * tombstone error (asserted and surfaced as `evicted_read_fails`),
    * and the tag read still serves v0 (its balances ride along as
    * `baseline_balance`). This is the storage-reclaim workflow every
    * production table runs nightly: at 100 TB the vacuum deletes
    * exactly the unreferenced data files, the tag is one ref file,
    * and nothing is ever copied. The oracle recomputes both states
    * (latest = click+view+purchase, baseline = click) from events. */
  def txnVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "vacuum")
    TxnLog.destroy(root)
    TxnLog.init(root)
    Seq("click", "view", "purchase").foreach { et =>
      TxnLog.commit(spark, root, addCounts(spark, sfDir, et))
    }
    TxnLog.tag(root, "baseline", 0L)
    val evicted = TxnLog.vacuum(root, keepLast = 1)
    require(evicted == Seq(1L),
      s"expected tag-protected vacuum to evict exactly v1, got $evicted")
    val evictedReadFails =
      try { TxnLog.read(spark, root, 1L); 0L }
      catch { case e: IllegalArgumentException
          if e.getMessage.contains("vacuumed") => 1L }
    val latest = TxnLog.read(spark, root, TxnLog.latestCommitted(root))
    val baseline = TxnLog.readTag(spark, root, "baseline")
    latest.select($"key", $"value".as("balance"))
      .join(baseline.select($"key", $"value".as("b")), Seq("key"), "left")
      .select($"key".as("user_id"), $"balance",
        coalesce($"b", lit(0L)).as("baseline_balance"),
        lit(evicted.size.toLong).as("n_evicted"),
        lit(evictedReadFails).as("evicted_read_fails"))
      .orderBy($"user_id")
  }

  val txnVacuumSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    AS baseline_balance,
      |  CAST(1 AS BIGINT) AS n_evicted,
      |  CAST(1 AS BIGINT) AS evicted_read_fails
      |FROM events WHERE event_type IN ('click', 'view', 'purchase')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** LOG CHECKPOINT ([[TxnLog.checkpoint]] — the Delta checkpoint
    * idea): three commits, then the per-version metas are squashed
    * into ONE checkpoint file and deleted (`n_meta_files` pins 0
    * survivors). The output re-reads every version's commit metadata
    * THROUGH the checkpoint — version, the snapshot it was built
    * against, and the [min,max] span of its per-file written ranges —
    * and the oracle recomputes those spans from events (v0 wrote the
    * click users, v1 the view users, v2 the purchase users), so the
    * check is cross-engine: compaction must preserve OCC metadata
    * EXACTLY, not just approximately. Why it matters at scale: a
    * long-lived table commits millions of versions; without
    * checkpointing, every reader lists millions of log files —
    * with it, one bounded file serves all compacted history and
    * conflict validation never notices the difference. */
  def txnCheckpoint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "ckpt")
    TxnLog.destroy(root)
    TxnLog.init(root)
    Seq("click", "view", "purchase").foreach { et =>
      TxnLog.commit(spark, root, addCounts(spark, sfDir, et))
    }
    val ckptV = TxnLog.checkpoint(root)
    require(ckptV == 2L, s"expected checkpoint at v2, got v$ckptV")
    val metasLeft = Option(new java.io.File(root, "_txn_log").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".meta"))
    // three CommitMeta rows — metadata-scale by construction
    val rows = (0L to ckptV).map { v =>
      val m = TxnLog.readMeta(root, v)
      (m.version, m.readVersion,
        m.writtenRanges.map(_._1).min, m.writtenRanges.map(_._2).max,
        metasLeft.toLong)
    }
    rows.toDF("version", "read_version", "wmin", "wmax", "n_meta_files")
      .orderBy($"version")
  }

  val txnCheckpointSql: String =
    """WITH m AS (
      |  SELECT CAST(0 AS BIGINT) AS version, CAST(-1 AS BIGINT)
      |      AS read_version,
      |    CAST(MIN(user_id) AS BIGINT) AS wmin,
      |    CAST(MAX(user_id) AS BIGINT) AS wmax
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT 1, 0, CAST(MIN(user_id) AS BIGINT),
      |    CAST(MAX(user_id) AS BIGINT)
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT 2, 1, CAST(MIN(user_id) AS BIGINT),
      |    CAST(MAX(user_id) AS BIGINT)
      |  FROM events WHERE event_type = 'purchase')
      |SELECT version, read_version, wmin, wmax,
      |  CAST(0 AS BIGINT) AS n_meta_files
      |FROM m ORDER BY version""".stripMargin

  /** RENAME COLUMN via COLUMN MAPPING ([[TxnLog.renameColumn]] — the
    * Delta column-mapping / Iceberg field-id mechanism): v0 stores
    * per-user click counts as (key, value); v1 renames value →
    * balance as a METADATA-ONLY commit (its snapshot is a filesystem
    * link — `metadata_only` pins that zero data bytes moved); v2
    * upserts view counts addressed by the NEW logical name, which
    * the commit path translates back to the stable PHYSICAL name
    * (`physical_name_stable` pins that the stored parquet still says
    * `value`, never `balance`); time travel to v0 shows the OLD
    * schema for free (`old_schema_ok`). At 100 TB this is the only
    * viable rename: the alternative rewrites every file in the
    * table to change a header string. */
  def txnRenameMapping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "rename")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    TxnLog.renameColumn(spark, root, "value", "balance")
    val metadataOnly =
      if (java.nio.file.Files.isSymbolicLink(
        java.nio.file.Paths.get(root, "snapshot_v1"))) 1L else 0L
    TxnLog.commit(spark, root, { base =>
      val inc = typeCounts(spark, sfDir, "view")
      val delta = base.as("s").join(inc.as("d"), Seq("key"), "right")
        .select($"key",
          (coalesce($"s.balance", lit(0L)) + $"d.cnt").as("balance"),
          lit("upsert").as("op"))
      (delta, TxnLog.range(inc))
    })
    val oldSchemaOk =
      if (TxnLog.read(spark, root, 0L).columns.toSeq ==
        Seq("key", "value")) 1L else 0L
    val physCols = spark.read.parquet(s"$root/snapshot_v2").columns.toSet
    val physicalStable =
      if (physCols("value") && !physCols("balance")) 1L else 0L
    TxnLog.read(spark, root, 2L)
      .select($"key".as("user_id"), $"balance",
        lit(metadataOnly).as("metadata_only"),
        lit(oldSchemaOk).as("old_schema_ok"),
        lit(physicalStable).as("physical_name_stable"))
      .orderBy($"user_id")
  }

  val txnRenameMappingSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(1 AS BIGINT) AS metadata_only,
      |  CAST(1 AS BIGINT) AS old_schema_ok,
      |  CAST(1 AS BIGINT) AS physical_name_stable
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** DROP + RE-ADD without resurrection ([[TxnLog.dropColumn]] /
    * [[TxnLog.addColumnMapped]] — the column-mapping subtlety that
    * justifies the whole mechanism): v0 commits click counts, v1
    * ADDs a `score` column carrying view counts (default 0), v2
    * DROPs it (metadata-only — the physical data stays, pinned by
    * `physical_retained`), v3 RE-ADDs `score` with default 7 bound
    * to a FRESH physical name. The latest read shows 7 EVERYWHERE:
    * the v1 values still sit in the files the snapshot links to, but
    * the new logical column can never resolve to them — without
    * fresh physical binding, a drop+re-add would silently leak
    * deleted data back into queries. Time travel to v1 still serves
    * the original scores (`score_at_v1`). */
  def txnDropColumn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "dropcol")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
    TxnLog.commit(spark, root, { _ =>
      val inc = typeCounts(spark, sfDir, "view")
      (inc.select($"key", $"cnt".as("score"), lit("upsert").as("op")),
        TxnLog.range(inc))
    }, defaults = Map("score" -> 0L))
    TxnLog.dropColumn(spark, root, "score")
    TxnLog.addColumnMapped(spark, root, "score", default = 7L)
    // the dropped column's PHYSICAL data is retained (time travel
    // still owns it) — it is only unreachable from the new mapping
    val physicalRetained =
      if (spark.read.parquet(s"$root/snapshot_v3").columns
        .contains("score")) 1L else 0L
    val atV1 = TxnLog.read(spark, root, 1L)
      .select($"key", $"score".as("score_at_v1"))
    TxnLog.read(spark, root, 3L)
      .join(atV1, Seq("key"))
      .select($"key".as("user_id"),
        coalesce($"value", lit(0L)).as("value"),
        $"score", $"score_at_v1",
        lit(physicalRetained).as("physical_retained"))
      .orderBy($"user_id")
  }

  val txnDropColumnSql: String =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    AS value,
      |  CAST(7 AS BIGINT) AS score,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
      |    AS score_at_v1,
      |  CAST(1 AS BIGINT) AS physical_retained
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CLUSTERED OPTIMIZE → PRUNED POINT READS
    * ([[TxnLog.optimizeClustered]] — `OPTIMIZE ... ZORDER BY key`):
    * three ingest commits leave key-scattered files; the clustering
    * rewrite range-partitions + sorts, so the 8 result files hold
    * pairwise-DISJOINT key ranges (`clustered_disjoint`, checked on
    * the 8-row file-stats aggregate — metadata-scale by
    * construction) and a narrow key-range read touches ≤ 2 of them
    * (`pruned_ok`, via `input_file_name` distinct-count under the
    * filter). This is the write-side half of stats skipping: the
    * sidecar can only prune what the layout separates. The rewrite
    * commits an EMPTY write set, so it never conflicts with
    * concurrent ingest. Oracle = the same range aggregate,
    * layout-free. */
  def txnOptimizeCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "optcluster")
    TxnLog.destroy(root)
    TxnLog.init(root)
    Seq("click", "view", "purchase").foreach { et =>
      TxnLog.commit(spark, root, addCounts(spark, sfDir, et))
    }
    val v = TxnLog.optimizeClustered(spark, root, targetFiles = 8)
    val snap = TxnLog.read(spark, root, v)
    val fileStats = snap.groupBy(input_file_name().as("f"))
      .agg(min($"key").as("mn"), max($"key").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val disjoint =
      if (fileStats.sliding(2).forall {
        case Array((_, hi), (lo, _)) => lo > hi
        case _ => true
      }) 1L else 0L
    val hits = snap.filter($"key".between(10L, 25L))
    val filesOpened = hits.select(input_file_name().as("f"))
      .distinct().count()
    val prunedOk = if (filesOpened <= 2L) 1L else 0L
    hits.select($"key".as("user_id"), $"value".as("balance"),
        lit(disjoint).as("clustered_disjoint"),
        lit(prunedOk).as("pruned_ok"))
      .orderBy($"user_id")
  }

  /** SQL `INSERT INTO` a transactional table
    * ([[graft.sources.GraftCatalog]]'s writable `TxnTable`): the DML
    * runs the REAL distributed-ingest shape — executor DataWriters
    * stage their partitions as files on shared storage, task-commit
    * messages carry only (path, key-range, rows) MANIFESTS, and the
    * driver's job commit folds the staged files into ONE OCC
    * transaction (claim → read-set validation → fenced publish).
    * Data never rides through commit messages; the driver touches
    * metadata only — the shape that holds at any transaction width,
    * and exactly how a lakehouse sink commits: files first, then one
    * atomic manifest swap. Insert semantics are keyed UPSERT (the
    * table declares a primary key): view counts REPLACE click
    * balances where the user exists, insert where not. `n_versions`
    * pins that the DML became exactly one new commit. */
  def txnSqlInsert(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlinsert")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      typeCounts(spark, sfDir, "view").select($"key", $"cnt")
        .createOrReplaceTempView("graft_sql_insert_src")
      spark.sql(
        s"INSERT INTO $ident SELECT key, cnt FROM graft_sql_insert_src")
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlInsertSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS ck,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS vw
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN vw > 0 THEN vw ELSE ck END AS BIGINT) AS balance,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM c ORDER BY user_id""".stripMargin

  /** CONCURRENT SQL DML (two racing `INSERT INTO` statements from
    * different threads): the catalog write path inherits the log's
    * full OCC protocol — both writers stage their files, race the
    * version claim, and the loser retries against the winner's
    * snapshot — so BOTH land, as two consecutive commits, with no
    * lost update and no coordination beyond the claim file. The two
    * writers' key spaces are DISJOINT (the second is shifted by
    * 10^7, above any fixture user id), so the final state is
    * commit-order-independent and the oracle can pin it exactly;
    * what the race proves is the serialization itself, pinned by
    * `n_versions` = 3. */
  def txnSqlConcurrent(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlconc")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      // two sources in disjoint key spaces: raw user ids are < 10^7 in
      // every fixture; the second writer lands at +10^7
      typeCounts(spark, sfDir, "view").select($"key", $"cnt")
        .createOrReplaceTempView("graft_conc_a")
      typeCounts(spark, sfDir, "purchase")
        .select(($"key" + 10000000L).as("key"), $"cnt")
        .createOrReplaceTempView("graft_conc_b")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { spark.sql(
            s"INSERT INTO $ident SELECT key, cnt FROM graft_conc_a"); () }
        })
        val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { spark.sql(
            s"INSERT INTO $ident SELECT key, cnt FROM graft_conc_b"); () }
        })
        fa.get(); fb.get()
      } finally pool.shutdown()
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlConcurrentSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS ck,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS vw
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN vw > 0 THEN vw ELSE ck END AS BIGINT) AS balance,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM c
      |UNION ALL
      |SELECT user_id + 10000000, CAST(COUNT(*) AS BIGINT),
      |  CAST(3 AS BIGINT)
      |FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** SQL `DELETE FROM ... WHERE` on a transactional table
    * (`SupportsDelete` on the catalog's `TxnTable`): Spark pushes
    * the predicate to the source, the matching keys become a DELETE
    * delta, and the DML lands as ONE OCC commit whose write set is
    * the deleted keys' file ranges — sized by the damage, never the
    * table (Iceberg's filter-delete contract). v0+v1 build per-user
    * click+view balances; the DELETE removes single-event users;
    * the survivors and the version count are oracle-checked. A
    * non-translatable predicate fails loudly via `canDeleteWhere`
    * instead of deleting the wrong rows. */
  def txnSqlDelete(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqldelete")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "view"))
      val ident = GraftCatalog.ident(root)
      spark.sql(s"DELETE FROM $ident WHERE value <= 1")
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlDeleteSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id HAVING COUNT(*) > 1
      |ORDER BY user_id""".stripMargin

  /** SQL `CREATE TABLE ... AS SELECT` (CTAS through the catalog):
    * `createTable` initializes an empty transaction log (guarded to
    * the temp root — fixture namespaces stay read-only) and CTAS's
    * follow-up write lands as commit v0 through the same staged-file
    * manifest path INSERT uses; a second INSERT proves the created
    * table is a live transactional table (v1). The full SQL
    * lifecycle — CREATE / INSERT / DELETE / SELECT / time travel —
    * now runs against the log with no Scala in the loop. */
  def txnSqlCtas(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "ctas")
      TxnLog.destroy(root)
      val ident = GraftCatalog.ident(root)
      typeCounts(spark, sfDir, "click")
        .select($"key", $"cnt".as("value"))
        .createOrReplaceTempView("graft_ctas_src")
      spark.sql(s"CREATE TABLE $ident AS SELECT key, value FROM graft_ctas_src")
      typeCounts(spark, sfDir, "purchase")
        .select($"key", $"cnt".as("value"))
        .createOrReplaceTempView("graft_ctas_src2")
      spark.sql(s"INSERT INTO $ident SELECT key, value FROM graft_ctas_src2")
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlCtasSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS ck,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS pu
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN pu > 0 THEN pu ELSE ck END AS BIGINT) AS balance,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM c ORDER BY user_id""".stripMargin

  /** `ALTER TABLE ... RENAME COLUMN` from SQL TEXT (catalog
    * `alterTable` → column mapping): the DDL is one metadata-only
    * commit (linked snapshot — `metadata_only` pins zero bytes
    * moved); the follow-up SQL INSERT addresses the NEW name and the
    * commit path translates it back to the stable physical name
    * (`physical_name_stable` pins the files still say `value`); the
    * final SELECT reads through the catalog's name-translating scan
    * (positional rows are identical under a rename — the wrapper
    * translates only names, and column pruning still reaches the
    * parquet reader). The whole rename lifecycle — DDL, DML, query —
    * is SQL text with no Scala in the loop. */
  def txnSqlAlter(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlalter")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      spark.sql(s"ALTER TABLE $ident RENAME COLUMN value TO balance")
      val metadataOnly =
        if (java.nio.file.Files.isSymbolicLink(
          java.nio.file.Paths.get(root, "snapshot_v1"))) 1L else 0L
      typeCounts(spark, sfDir, "view")
        .select($"key", $"cnt".as("balance"))
        .createOrReplaceTempView("graft_alter_src")
      spark.sql(s"INSERT INTO $ident SELECT key, balance FROM graft_alter_src")
      val physCols = spark.read.parquet(s"$root/snapshot_v2").columns.toSet
      val physicalStable =
        if (physCols("value") && !physCols("balance")) 1L else 0L
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("metadata_only", lit(metadataOnly))
        .withColumn("physical_name_stable", lit(physicalStable))
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlAlterSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS ck,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS vw
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN vw > 0 THEN vw ELSE ck END AS BIGINT) AS balance,
      |  CAST(1 AS BIGINT) AS metadata_only,
      |  CAST(1 AS BIGINT) AS physical_name_stable,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM c ORDER BY user_id""".stripMargin

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` — METADATA-ONLY TYPE
    * WIDENING from SQL text (catalog `alterTable` →
    * [[TxnLog.alterColumnType]]): v0 stores per-user click counts
    * PHYSICALLY as int32; the ALTER publishes one linked-snapshot
    * commit carrying the declared-type table (`metadata_only` pins
    * zero bytes moved); the post-ALTER catalog schema is BIGINT and
    * the scan reads the narrow historical files THROUGH the widening
    * (Spark 4's parquet readers promote int32→int64 natively — no
    * rewrite, no shuffle); the follow-up SQL INSERT lands values
    * beyond int range, and the merge stores the next snapshot wide
    * via union coercion. Time travel BELOW the ALTER still reads the
    * old int schema (`tt_type_int`). This is the year-2 lakehouse
    * operation — a column outgrowing its type on a 100 TB table —
    * done without touching a single data file. */
  def txnSqlAlterType(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val root = DfCache.scratch(spark, sfDir, "sqlaltertype")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, { _ =>
        val inc = typeCounts(spark, sfDir, "click")
        (inc.select($"key", $"cnt".cast("int").as("value"),
          lit("upsert").as("op")), TxnLog.range(inc))
      })
      val ident = GraftCatalog.ident(root)
      val preTypeInt =
        if (spark.table(ident).schema("value").dataType == IntegerType) 1L
        else 0L
      spark.sql(s"ALTER TABLE $ident ALTER COLUMN value TYPE BIGINT")
      val metadataOnly =
        if (java.nio.file.Files.isSymbolicLink(
          java.nio.file.Paths.get(root, "snapshot_v1"))) 1L else 0L
      val postTypeBigint =
        if (spark.table(ident).schema("value").dataType == LongType) 1L
        else 0L
      spark.sql(s"INSERT INTO $ident VALUES " +
        "(9000000001, 5000000000), (9000000002, 6000000000)")
      // time travel ACROSS the widening boundary: v0 predates the
      // ALTER, so it still reads with the narrow int schema
      val ttTypeInt =
        if (TxnLog.read(spark, root, 0L)
          .schema("value").dataType == IntegerType) 1L else 0L
      spark.sql(s"SELECT key AS user_id, value FROM $ident")
        .withColumn("pre_type_int", lit(preTypeInt))
        .withColumn("metadata_only", lit(metadataOnly))
        .withColumn("post_type_bigint", lit(postTypeBigint))
        .withColumn("tt_type_int", lit(ttTypeInt))
        .orderBy($"user_id")
    }

  val txnSqlAlterTypeSql: String =
    """WITH c AS (
      |  SELECT user_id, COUNT(*) AS cnt FROM events
      |  WHERE event_type = 'click' GROUP BY user_id),
      |rows_all AS (
      |  SELECT user_id, CAST(cnt AS BIGINT) AS value FROM c
      |  UNION ALL
      |  SELECT CAST(9000000001 AS BIGINT), CAST(5000000000 AS BIGINT)
      |  UNION ALL
      |  SELECT CAST(9000000002 AS BIGINT), CAST(6000000000 AS BIGINT))
      |SELECT user_id, value,
      |  CAST(1 AS BIGINT) AS pre_type_int,
      |  CAST(1 AS BIGINT) AS metadata_only,
      |  CAST(1 AS BIGINT) AS post_type_bigint,
      |  CAST(1 AS BIGINT) AS tt_type_int
      |FROM rows_all ORDER BY user_id""".stripMargin

  /** SQL `INSERT OVERWRITE` (V2 truncate-then-append as ONE atomic
    * commit): the staged rows replace the table — every pre-existing
    * key the new data doesn't cover becomes a DELETE in the same
    * delta, and the transaction's read set is the FULL key domain
    * (an overwrite semantically conflicts with every concurrent
    * write, which is exactly what OCC validation should see).
    * Readers observe the old table or the new, never a mix. Click
    * balances are overwritten by view counts: view-only users
    * appear, click-only users vanish. */
  def txnSqlInsertOverwrite(spark: SparkSession,
      sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlow")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      typeCounts(spark, sfDir, "view").select($"key", $"cnt")
        .createOrReplaceTempView("graft_ow_src")
      spark.sql(
        s"INSERT OVERWRITE TABLE $ident SELECT key, cnt FROM graft_ow_src")
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlInsertOverwriteSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM events WHERE event_type = 'view'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SQL `UPDATE ... SET ... WHERE` (delta-based row-level operation
    * — `SupportsDelta`): Spark rewrites the DML so the write
    * receives ONLY the matched rows (tagged updates, keyed by the
    * declared row id), which land through the staged-file manifest
    * path as one OCC commit — the update costs the matched rows,
    * never a table rewrite. Click balances ≥ 3 are scaled ×10; the
    * oracle recomputes the conditional arithmetic from events and
    * `n_versions` pins one commit for the whole DML. */
  def txnSqlUpdate(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlupdate")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      spark.sql(s"UPDATE $ident SET value = value * 10 WHERE value >= 3")
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlUpdateSql: String =
    """WITH c AS (
      |  SELECT user_id, COUNT(*) AS ck FROM events
      |  WHERE event_type = 'click' GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN ck >= 3 THEN ck * 10 ELSE ck END AS BIGINT)
      |    AS balance,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM c ORDER BY user_id""".stripMargin

  /** SQL `MERGE INTO` (the full three-way DML through `SupportsDelta`):
    * matched targets UPDATE (balance += source count), unmatched
    * sources INSERT, and — the delta-write point — the write receives
    * exactly those changed rows, keyed by row id, committed once
    * through the log. This is the statement a warehouse user runs
    * hourly against a 100 TB fact table; delta-based rewrite makes
    * its cost the match set, and the log's keyed applyDelta IS the
    * merge-on-read reconciliation the write relies on. */
  def txnSqlMerge(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqlmerge")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      typeCounts(spark, sfDir, "view")
        .select($"key", $"cnt")
        .createOrReplaceTempView("graft_merge_src")
      spark.sql(
        s"""MERGE INTO $ident t
           |USING graft_merge_src s ON t.key = s.key
           |WHEN MATCHED THEN UPDATE SET value = t.value + s.cnt
           |WHEN NOT MATCHED THEN INSERT (key, value) VALUES (s.key, s.cnt)
           |""".stripMargin)
      val nVersions = TxnLog.latestCommitted(root) + 1
      spark.sql(
        s"""SELECT key AS user_id, value AS balance
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("n_versions", lit(nVersions))
    }

  val txnSqlMergeSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SQL time travel by TIME (`TIMESTAMP AS OF` through the
    * catalog): the marker file's publish instant is the commit's
    * visibility time, and the catalog resolves the FLOOR version —
    * "the table as of t" = "every commit that had published by t" —
    * Delta/Iceberg's timestamp-resolution rule. The key pins the two
    * commits' publish times to known instants (the log is
    * key-scratch, so re-stamping markers is the deterministic test
    * harness, not a production pattern), asks for a time strictly
    * between them, and must see exactly v0's click balances; the
    * latest read rides along for contrast. */
  def txnTimeTravelTs(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "ttts")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "view"))
      // pin publish instants: v0 at T, v1 at T+10s; query T+5s
      val base = (System.currentTimeMillis() / 1000L) * 1000L - 120000L
      new java.io.File(root, "_txn_log/v0.commit").setLastModified(base)
      new java.io.File(root, "_txn_log/v1.commit")
        .setLastModified(base + 10000L)
      val asOf = java.time.Instant.ofEpochMilli(base + 5000L).toString
      val ident = GraftCatalog.ident(root)
      spark.sql(
        s"""SELECT atts.key AS user_id, atts.value AS clicks,
           |  latest.value AS balance
           |FROM $ident TIMESTAMP AS OF '$asOf' atts
           |JOIN $ident latest ON atts.key = latest.key
           |ORDER BY user_id""".stripMargin)
    }

  val txnTimeTravelTsSql: String =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    AS clicks,
      |  CAST(COUNT(*) AS BIGINT) AS balance
      |FROM events WHERE event_type IN ('click', 'view')
      |GROUP BY user_id
      |HAVING COUNT(*) FILTER (WHERE event_type = 'click') > 0
      |ORDER BY user_id""".stripMargin

  /** The `$files` METADATA TABLE (per-file manifest stats from
    * parquet FOOTERS — row count + key min/max, zero data pages
    * read): after a clustered OPTIMIZE the table's files hold
    * disjoint key ranges, and this key proves it FROM THE MANIFEST
    * ALONE — a windowed check over `$files` (each file's min strictly
    * above the previous file's max), plus file count, total rows and
    * the global key span, all reduced to one row so the oracle is
    * layout-free (per-file splits depend on the range partitioner's
    * sampling and are not cross-engine reproducible; the aggregate
    * facts are). This is the read path every stats-skipping decision
    * uses at 100 TB: the planner consults footers/manifests, never
    * data. */
  def txnFiles(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      val root = fixtureOnce(spark, sfDir, "files") { r =>
        Seq("click", "view", "purchase").foreach { et =>
          TxnLog.commit(spark, r, addCounts(spark, sfDir, et))
        }
        TxnLog.optimizeClustered(spark, r, targetFiles = 4)
      }
      val ident = GraftCatalog.ident(root + "$files")
      spark.sql(
        s"""WITH f AS (
           |  SELECT kmin, kmax,
           |    LAG(kmax) OVER (ORDER BY file_index) AS prev_max,
           |    n_rows
           |  FROM $ident)
           |SELECT CAST(COUNT(*) AS INT) AS n_files,
           |  SUM(n_rows) AS total_rows,
           |  MIN(kmin) AS lo, MAX(kmax) AS hi,
           |  CAST(MIN(CASE WHEN prev_max IS NULL OR kmin > prev_max
           |    THEN 1 ELSE 0 END) AS BIGINT) AS disjoint
           |FROM f""".stripMargin)
    }

  val txnFilesSql: String =
    """SELECT CAST(4 AS INT) AS n_files,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_rows,
      |  CAST(MIN(user_id) AS BIGINT) AS lo,
      |  CAST(MAX(user_id) AS BIGINT) AS hi,
      |  CAST(1 AS BIGINT) AS disjoint
      |FROM events
      |WHERE event_type IN ('click', 'view', 'purchase')""".stripMargin

  /** `DESCRIBE HISTORY` as a METADATA TABLE (`<table>$history`
    * through [[graft.sources.GraftCatalog]] — the Iceberg metadata-
    * table idiom): five commits of three kinds — three writes, a
    * column RENAME (metadata-only), a clustered OPTIMIZE — then the
    * log itself is queried as SQL. Each row carries the version, the
    * snapshot it was built against, the operation kind derived from
    * the published artifacts (linked snapshot ⇒ metadata; empty
    * write set over a real snapshot ⇒ optimize), the file count and
    * written key span from the commit meta. The history table is one
    * row per commit — the log IS metadata, which is why serving it
    * driver-side via a LocalScan is the honest scale answer. The
    * oracle recomputes the write spans from events and pins the
    * operation ladder. */
  def txnHistory(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      val root = fixtureOnce(spark, sfDir, "history") { r =>
        Seq("click", "view", "purchase").foreach { et =>
          TxnLog.commit(spark, r, addCounts(spark, sfDir, et))
        }
        TxnLog.renameColumn(spark, r, "value", "balance")
        TxnLog.optimizeClustered(spark, r, targetFiles = 4)
      }
      val ident = GraftCatalog.ident(root + "$history")
      spark.sql(
        s"""SELECT version, read_version, operation, n_files,
           |  coalesce(wmin, -1) AS wmin, coalesce(wmax, -1) AS wmax
           |FROM $ident ORDER BY version""".stripMargin)
    }

  val txnHistorySql: String =
    """WITH m AS (
      |  SELECT 0 AS version, -1 AS read_version, 'write' AS operation,
      |    4 AS n_files, MIN(user_id) AS wmin, MAX(user_id) AS wmax
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT 1, 0, 'write', 4, MIN(user_id), MAX(user_id)
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT 2, 1, 'write', 4, MIN(user_id), MAX(user_id)
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL SELECT 3, 2, 'metadata', 0, -1, -1
      |  UNION ALL SELECT 4, 3, 'optimize', 0, -1, -1)
      |SELECT CAST(version AS BIGINT) AS version,
      |  CAST(read_version AS BIGINT) AS read_version, operation,
      |  CAST(n_files AS INT) AS n_files,
      |  CAST(wmin AS BIGINT) AS wmin, CAST(wmax AS BIGINT) AS wmax
      |FROM m ORDER BY version""".stripMargin

  val txnOptimizeClusterSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(1 AS BIGINT) AS clustered_disjoint,
      |  CAST(1 AS BIGINT) AS pruned_ok
      |FROM events
      |WHERE event_type IN ('click', 'view', 'purchase')
      |  AND user_id BETWEEN 10 AND 25
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SQL `ALTER TABLE ... ADD COLUMN ... DEFAULT n` — BACKFILL-FREE
    * column defaults through the catalog: the ALTER is ONE
    * metadata-only commit (linked snapshot + a column-mapping entry
    * holding the default; zero data files rewritten — `link_ok`
    * proves the snapshot is a symlink), and the catalog READ
    * materializes the default inside the partition readers
    * ([[graft.sources.MappedVirtualScanBuilder]] appends the
    * constant row-side, fully distributed). Time travel BELOW the
    * ALTER still shows the old two-column schema (`n_cols_v0`) —
    * the Delta/Iceberg added-with-default semantic end to end. */
  def txnSqlAddDefault(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "sqladddef")
      TxnLog.destroy(root)
      TxnLog.init(root)
      TxnLog.commit(spark, root, addCounts(spark, sfDir, "click"))
      val ident = GraftCatalog.ident(root)
      spark.sql(s"ALTER TABLE $ident ADD COLUMN score BIGINT DEFAULT 7")
      val linkOk =
        if (java.nio.file.Files.isSymbolicLink(
          java.nio.file.Paths.get(root, "snapshot_v1"))) 1L else 0L
      val nColsV0 = spark.sql(
        s"SELECT * FROM $ident VERSION AS OF 0").columns.length.toLong
      spark.sql(
        s"""SELECT key AS user_id, value AS balance, score
           |FROM $ident ORDER BY user_id""".stripMargin)
        .withColumn("link_ok", lit(linkOk))
        .withColumn("n_cols_v0", lit(nColsV0))
    }

  val txnSqlAddDefaultSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance,
      |  CAST(7 AS BIGINT) AS score, CAST(1 AS BIGINT) AS link_ok,
      |  CAST(2 AS BIGINT) AS n_cols_v0
      |FROM events WHERE event_type = 'click'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The CHANGE FEED through SQL (`<table>$changes` — Delta's
    * `table_changes`): the 4-version time-travel table's committed
    * deltas served as ONE parquet relation whose `version` is a real
    * PARTITION COLUMN (the catalog exposes `_changes/version=N`
    * symlinks over the delta directories — metadata-scale), so
    * "changes since version N" partition-prunes before any data page
    * is read. Unlike `$history`/`$files` this is table-shaped data
    * and scans DISTRIBUTED with pruning/pushdown — the consumer pays
    * for the versions and columns it reads, the CDC-consumer
    * contract at 100 TB. Aggregated per (version, op); the oracle
    * recomputes each wave's change counts and key spans from
    * events. */
  def txnSqlChanges(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      val root = ttTable(spark, sfDir)
      val ident = GraftCatalog.ident(root + "$changes")
      spark.sql(
        s"""SELECT CAST(version AS BIGINT) AS version,
           |  op, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  MIN(key) AS kmin, MAX(key) AS kmax
           |FROM $ident
           |GROUP BY 1, 2 ORDER BY version, op""".stripMargin)
    }

  val txnSqlChangesSql: String =
    """WITH w AS (
      |  SELECT 0 AS version, 'upsert' AS op, user_id FROM events
      |  WHERE event_type = 'click'
      |  UNION ALL SELECT 1, 'upsert', user_id FROM events
      |  WHERE event_type = 'view'
      |  UNION ALL SELECT 2, 'upsert', user_id FROM events
      |  WHERE event_type = 'purchase'
      |  UNION ALL SELECT 3, 'delete', user_id FROM events
      |  WHERE event_type = 'error' AND value > 200.0)
      |SELECT CAST(version AS BIGINT) AS version, op,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_rows,
      |  CAST(MIN(user_id) AS BIGINT) AS kmin,
      |  CAST(MAX(user_id) AS BIGINT) AS kmax
      |FROM w GROUP BY version, op ORDER BY version, op""".stripMargin

  /** MULTI-TABLE ATOMIC COMMIT (`TxnLog.commitMulti`): the
    * corpus+manifest pair every ingest pipeline maintains — per-user
    * balances in one table, per-ingest row-count accounting in
    * another — committed as ONE transaction whose visibility is
    * decided by ONE atomic coordinator link (claims in sorted-root
    * lock order, shared stage token, intents + coordinator + markers;
    * Round14Spec crashes it on both sides of the decision and proves
    * all-or-nothing). The oracle recomputes both tables from events:
    * if the view-wave's corpus rows and its manifest row ever came
    * from different transactions, the counts could not agree. */
  def txnMultiCommit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = DfCache.scratch(spark, sfDir, "mtx_corpus")
    val manifest = DfCache.scratch(spark, sfDir, "mtx_manifest")
    Seq(corpus, manifest).foreach { r =>
      TxnLog.destroy(r); TxnLog.init(r)
    }
    // seed transaction: click balances + their manifest row, atomic
    TxnLog.commitMulti(spark, Seq(
      corpus -> ((_: DataFrame) => {
        val inc = typeCounts(spark, sfDir, "click")
        (inc.select($"key", $"cnt".as("value"),
          lit("upsert").as("op")), TxnLog.range(inc))
      }),
      manifest -> ((_: DataFrame) => {
        val row = typeCounts(spark, sfDir, "click")
          .agg(coalesce(sum($"cnt"), lit(0L)).as("value"))
          .select(lit(0L).as("key"), $"value", lit("upsert").as("op"))
        (row, Seq((0L, 0L)))
      })))
    // second transaction: view wave + its manifest row, atomic
    TxnLog.commitMulti(spark, Seq(
      corpus -> ((base: DataFrame) => {
        val inc = typeCounts(spark, sfDir, "view")
        val delta = base.as("s").join(inc.as("d"), Seq("key"), "right")
          .select($"key",
            (coalesce($"s.value", lit(0L)) + $"d.cnt").as("value"),
            lit("upsert").as("op"))
        (delta, TxnLog.range(inc))
      }),
      manifest -> ((_: DataFrame) => {
        val row = typeCounts(spark, sfDir, "view")
          .agg(coalesce(sum($"cnt"), lit(0L)).as("value"))
          .select(lit(1L).as("key"), $"value", lit("upsert").as("op"))
        (row, Seq((1L, 1L)))
      })))
    val nv = lit(TxnLog.latestCommitted(corpus) + 1).cast("long")
    val nm = lit(TxnLog.latestCommitted(manifest) + 1).cast("long")
    TxnLog.read(spark, corpus, TxnLog.latestCommitted(corpus))
      .select(lit("corpus").as("side"), $"key", $"value")
      .unionByName(
        TxnLog.read(spark, manifest, TxnLog.latestCommitted(manifest))
          .select(lit("manifest").as("side"), $"key", $"value"))
      .withColumn("n_versions_corpus", nv)
      .withColumn("n_versions_manifest", nm)
      .orderBy($"side", $"key")
  }

  val txnMultiCommitSql: String =
    """WITH c AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id),
      |m AS (
      |  SELECT 0 AS key,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS value
      |  FROM events
      |  UNION ALL
      |  SELECT 1, COUNT(*) FILTER (WHERE event_type = 'view')
      |  FROM events)
      |SELECT side, key, value,
      |  CAST(2 AS BIGINT) AS n_versions_corpus,
      |  CAST(2 AS BIGINT) AS n_versions_manifest
      |FROM (
      |  SELECT 'corpus' AS side, CAST(user_id AS BIGINT) AS key,
      |    balance AS value FROM c
      |  UNION ALL
      |  SELECT 'manifest', CAST(key AS BIGINT), CAST(value AS BIGINT)
      |  FROM m)
      |ORDER BY side, key""".stripMargin

  /** The `$partitions` metadata table (the third of the trio next to
    * `$history` and `$files`): partitions are maximal DISJOINT
    * key-range runs of the snapshot's files, merged from footer
    * stats ([[graft.engine.FooterStats.partitionRuns]]). The demo
    * shows the semantic doing real work: after a clustered OPTIMIZE
    * (4 range-sorted files) the table reports 4 disjoint partitions;
    * after a hash re-layout (2 full-range files) it reports ONE
    * partition of 2 files — "this layout has no partition
    * structure", which is exactly what a planner needs to know
    * before attempting partition-wise pruning. The query aggregates
    * per stage so the oracle is boundary-independent (Spark's range
    * sampler places cut points nondeterministically). */
  def txnPartitions(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      import spark.implicits._
      val root = DfCache.scratch(spark, sfDir, "partitions")
      TxnLog.destroy(root)
      TxnLog.init(root)
      Seq("click", "view", "purchase").foreach { et =>
        TxnLog.commit(spark, root, addCounts(spark, sfDir, et))
      }
      val ident = GraftCatalog.ident(root + "$partitions")
      def stage(tag: String): DataFrame =
        spark.sql(
          s"""SELECT '$tag' AS stage,
             |  CAST(COUNT(*) AS BIGINT) AS n_partitions,
             |  SUM(n_files) AS n_files, SUM(n_rows) AS total_rows,
             |  MIN(kmin) AS lo, MAX(kmax) AS hi
             |FROM $ident""".stripMargin)
      // the metadata table always reads the LATEST snapshot, so each
      // stage's (metadata-scale) summary row is collected before the
      // next re-layout commits
      TxnLog.optimizeClustered(spark, root, targetFiles = 4)
      val clustered = stage("clustered").collect().toSeq
      TxnLog.optimize(spark, root, targetFiles = 2)
      val hashed = stage("hashed").collect().toSeq
      (clustered ++ hashed)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .toDF("stage", "n_partitions", "n_files", "total_rows", "lo", "hi")
        .orderBy($"stage")
    }

  val txnPartitionsSql: String =
    """WITH t AS (
      |  SELECT user_id, COUNT(*) AS balance FROM events
      |  WHERE event_type IN ('click', 'view', 'purchase')
      |  GROUP BY user_id)
      |SELECT 'clustered' AS stage, CAST(4 AS BIGINT) AS n_partitions,
      |  CAST(4 AS BIGINT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS total_rows,
      |  CAST(MIN(user_id) AS BIGINT) AS lo,
      |  CAST(MAX(user_id) AS BIGINT) AS hi
      |FROM t
      |UNION ALL
      |SELECT 'hashed', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
      |  CAST(COUNT(*) AS BIGINT),
      |  CAST(MIN(user_id) AS BIGINT), CAST(MAX(user_id) AS BIGINT)
      |FROM t
      |ORDER BY stage""".stripMargin

  /** ANALYZE TABLE from the engine's own metadata: one footer pass
    * over the latest snapshot ([[graft.plans.Cbo.analyze]]) yields
    * table row count and per-column min/max/null-count — the numbers
    * cost-based planning runs on — without reading a single data
    * page. Emitted one row per column; the oracle recomputes the
    * same statistics from the base events, so "footer stats ≡ true
    * stats" is itself the assertion. At 100 TB this is O(files)
    * manifest metadata; the alternative (a scan-based ANALYZE) reads
    * the table. */
  def txnAnalyze(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = fixtureOnce(spark, sfDir, "analyze") { r =>
      TxnLog.commit(spark, r, addCounts(spark, sfDir, "click"))
      ()
    }
    val stats = graft.plans.Cbo.analyze(root)
    stats.cols.toSeq.sortBy(_._1).map { case (c, s) =>
      (c, stats.nRows, s.nulls,
        s.min.getOrElse(-1L), s.max.getOrElse(-1L))
    }.toDF("column_name", "n_rows", "null_count", "vmin", "vmax")
      .orderBy($"column_name")
  }

  val txnAnalyzeSql: String =
    """WITH t AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance FROM events
      |  WHERE event_type = 'click' GROUP BY user_id)
      |SELECT 'key' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS null_count,
      |  CAST(MIN(user_id) AS BIGINT) AS vmin,
      |  CAST(MAX(user_id) AS BIGINT) AS vmax
      |FROM t
      |UNION ALL
      |SELECT 'value', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(MIN(balance) AS BIGINT), CAST(MAX(balance) AS BIGINT)
      |FROM t
      |ORDER BY column_name""".stripMargin

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` with a
    * PERSISTED artifact ([[graft.plans.Cbo.analyzeColumns]], round
    * 13): per-column NDV computed at the latest committed snapshot
    * and written to the txn log as `vN.stats`, next to the version's
    * schema/mapping artifacts — the statistic the footer pass cannot
    * give ([[txnAnalyze]]'s min/max/nulls are free; distinct counts
    * cost a scan ONCE, then every session prices joins from the
    * artifact with zero data pages). The TWO calls here are the
    * proof shape: the first computes-and-persists, the second must
    * serve the identical numbers from the artifact (Round19Spec pins
    * zero Spark jobs on that path). Exact mode (an extra shuffle) is
    * used so DuckDB's COUNT(DISTINCT) is the oracle; the 100 TB
    * default is the one-pass HLL estimate — the same exact/approx
    * split every warehouse's ANALYZE offers. Keyed by snapshot
    * version, so a rewrite at the same path can never serve stale
    * NDV. */
  def txnAnalyzeColumns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = fixtureOnce(spark, sfDir, "analyze_cols") { r =>
      TxnLog.commit(spark, r, addCounts(spark, sfDir, "click"))
      ()
    }
    val computed = graft.plans.Cbo.analyzeColumns(spark, root,
      Seq("key", "value"), exact = true)
    val served = graft.plans.Cbo.analyzeColumns(spark, root,
      Seq("key", "value"), exact = true)
    Seq("key", "value").map { c =>
      (c, computed.nRows, computed.ndv(c), served.ndv(c))
    }.toDF("column_name", "n_rows", "ndv", "ndv_persisted")
      .orderBy($"column_name")
  }

  val txnAnalyzeColumnsSql: String =
    """WITH t AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS balance FROM events
      |  WHERE event_type = 'click' GROUP BY user_id)
      |SELECT 'key' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_persisted
      |FROM t
      |UNION ALL
      |SELECT 'value', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(DISTINCT balance) AS BIGINT),
      |  CAST(COUNT(DISTINCT balance) AS BIGINT)
      |FROM t
      |ORDER BY column_name""".stripMargin

  /** COST-BASED JOIN off the table's own stats: the events fact is
    * joined to a transactional dimension (per-user purchase counts)
    * through [[graft.plans.Cbo.join]], which ANALYZEs the dimension's
    * footer stats and BROADCASTS it because the manifest says it fits
    * — no hint from the query author, no reliance on Spark's
    * file-size guess. Round14Spec pins the plan flip: the same join
    * with a 1-byte budget plans a sort-merge join instead. The result
    * aggregates purchases-weighted activity per event type — a
    * shape DuckDB recomputes directly. */
  def joinCbo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = DfCache.scratch(spark, sfDir, "cbo")
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, addCounts(spark, sfDir, "purchase"))
    val dim = TxnLog.read(spark, root, TxnLog.latestCommitted(root))
      .select($"key", $"value".as("purchases"))
    val fact = Tables.events(spark, sfDir)
      .select($"user_id".as("key"), $"event_type")
    graft.plans.Cbo.join(fact, dim, root, Seq("key"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"purchases").as("sum_purchases"))
      .orderBy($"event_type")
  }

  /** Multi-way JOIN-ORDER CBO — the greedy reorder with selectivity
    * propagation ([[graft.plans.Cbo.reorderJoin]]) on a lineitem star:
    * part carries a range filter covering the lowest DECILE of
    * p_partkey (footer-stats selectivity ≈ 0.1 → ≈ 20k·SF estimated
    * rows), orders is unfiltered (1.5M·SF rows). The planner must
    * join the filtered part FIRST so the selective dimension shrinks
    * the fact before the wide one touches it — raw table sizes alone
    * would put part first here too, so the spec's INVERTED case
    * (filter on orders at the percentile that drops it below part)
    * is what proves the ordering follows the post-filter ESTIMATE,
    * not the table size: the ordering decision that dominates TPC-H
    * q5/q10 shapes at 100 TB. The filter cut comes from the footer
    * max (metadata, engine-deterministic) and the oracle recomputes
    * it as max/10 in SQL. */
  def joinCboOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    import graft.plans.Cbo
    val pStats = Cbo.analyzePath(s"$sfDir/part.parquet")
    val oStats = Cbo.analyzePath(s"$sfDir/orders.parquet")
    val cut = pStats.cols("p_partkey").max.get / 10
    val fact = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_orderkey", $"l_extendedprice")
    val part = Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_partkey".as("l_partkey"))
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val (joined, order) = Cbo.reorderJoin(fact, Seq(
      "part" -> Cbo.Input(part, pStats, Seq("l_partkey"),
        Some(("p_partkey", 0L, cut))),
      "orders" -> Cbo.Input(orders, oStats, Seq("l_orderkey"))))
    require(order == Seq("part", "orders"),
      s"stats must order the filtered dimension first, got $order")
    joined
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), xsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  val joinCboOrderSql: String = {
    import graft.engine.Exact.sqlXsum
    s"""SELECT o.o_orderpriority,
       |  COUNT(*) AS n, ${sqlXsum("l.l_extendedprice")} AS sum_price
       |FROM lineitem l
       |JOIN part p ON l.l_partkey = p.p_partkey
       |  AND p.p_partkey <= (SELECT MAX(p_partkey) // 10 FROM part)
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  }

  val joinCboSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(p.purchases) AS BIGINT) AS sum_purchases
      |FROM events e JOIN p ON e.user_id = p.user_id
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin
}
