package graft

import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Tables, TxnLog}
import graft.operators.{JoinOps, ScanOps, TxnOps}

/** Round-7 session: the lakehouse wave — file-stats data skipping,
  * bloom-prefiltered joins, and OPTIMIZE / RESTORE / CHECK-constraint
  * commits through the transaction log. */
class Round9Spec extends SparkSpec {

  private def state(root: String, v: Long): Map[Long, Long] =
    TxnLog.read(spark, root, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("stats skipping: sidecar covers all 16 files, predicate keeps few") {
    import spark.implicits._
    val dir = ScanOps.statsLayoutDir(spark, sf)
    val stats = spark.read.parquet(s"$dir/_stats")
    assert(stats.count() == 16, "one stats row per range-clustered file")
    val lo = to_timestamp(lit(ScanOps.skipLo))
    val hi = to_timestamp(lit(ScanOps.skipHi))
    val kept = stats.filter($"max_d" >= lo && $"min_d" <= hi).count()
    assert(kept >= 1 && kept <= 4,
      s"half a year of a ~7-year span must keep ~2 of 16 files, kept $kept")
    // the pruned-out files genuinely contain no qualifying rows —
    // open the EXCLUDED files themselves and run the date predicate
    val excluded = stats.filter(!($"max_d" >= lo && $"min_d" <= hi))
      .select($"file").collect().map(_.getString(0))
    assert(excluded.length == 16 - kept)
    val missed = spark.read.parquet(excluded.toSeq: _*)
      .filter($"l_shipdate".between(lo, hi)).count()
    assert(missed == 0,
      s"$missed qualifying rows hide in pruned files — skipping would drop them")
  }

  test("bloom prefilter: zero false negatives, large scan cut") {
    import spark.implicits._
    val dim = Tables.supplier(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)
        .filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val trueKeys = dim.collect().map(_.getLong(0)).toSet
    assert(trueKeys.nonEmpty)
    val bf = dim.stat.bloomFilter("s_suppkey", 2000L, 0.01)
    // no false negatives: every true key must pass the filter
    trueKeys.foreach(k => assert(bf.mightContain(k),
      s"bloom dropped true key $k — the join would lose rows"))
    // selectivity: the prefilter passes the ~4% matching rows plus a
    // deterministic ~1% of false positives — far under half the scan
    val perKey = Tables.lineitem(spark, sf)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val total = perKey.map(_._2).sum
    val passed = perKey.filter(p => bf.mightContain(p._1)).map(_._2).sum
    assert(passed < total / 2,
      s"prefilter kept $passed of $total rows — no scan cut")
    val exact = perKey.filter(p => trueKeys(p._1)).map(_._2).sum
    assert(passed >= exact, "prefilter cannot pass fewer than the matches")
  }

  test("OPTIMIZE: exact target layout, identical content, empty write set") {
    TxnOps.txnOptimize(spark, sf).collect()
    val root = DfCache.scratch(spark, sf, "optimize")
    val files = Option(new java.io.File(root, "snapshot_v1").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files == 2, s"bin-packed snapshot must have exactly 2 files, got $files")
    assert(state(root, 0L) == state(root, 1L),
      "OPTIMIZE must not change a single row")
    assert(TxnLog.readMeta(root, 1L).writtenRanges.isEmpty,
      "an empty write set is what makes OPTIMIZE conflict-free")
  }

  test("RESTORE: reverts state as a forward commit, history intact") {
    TxnOps.txnRestore(spark, sf).collect()
    val root = DfCache.scratch(spark, sf, "restore")
    val v0 = state(root, 0L)
    val v1 = state(root, 1L)
    val v2 = state(root, 2L)
    assert(v1 != v0, "the fat-finger delete must have removed users")
    assert(v2 == v0, "RESTORE target state must be reproduced exactly")
    assert(TxnLog.latestCommitted(root) == 2L,
      "history is append-only: restore is v2, not a rewrite of v1")
    // the restore delta is bounded by the damage, not the table
    val deltaRows = spark.read.parquet(s"$root/delta_v2").count()
    assert(deltaRows == (v0.keySet -- v1.keySet).size,
      "restore delta must touch only the keys v1 damaged")
  }

  test("CHECK violation: rejected commit leaves zero trace in the log") {
    val out = TxnOps.txnConstraint(spark, sf)
    val first = out.limit(1).collect()(0)
    assert(first.getAs[Long]("n_rejected") == 1L)
    val root = DfCache.scratch(spark, sf, "check")
    assert(TxnLog.latestCommitted(root) == 1L,
      "only the two valid commits may exist")
    assert(!new java.io.File(root, "_txn_log/v2.commit").exists())
    // the invariant itself holds on every committed version
    (0L to 1L).foreach { v =>
      assert(state(root, v).values.forall(_ >= 0L),
        s"negative balance visible at v$v")
    }
  }
}
