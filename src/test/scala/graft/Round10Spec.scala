package graft

import org.apache.spark.sql.functions._
import graft.engine.{DfCache, TxnLog}
import graft.operators.TxnOps

/** Round-8 session: schema evolution + incremental MV maintenance
  * through the transaction log. */
class Round10Spec extends SparkSpec {

  test("schema evolution key: audit entry exists, v0 keeps 2 columns") {
    TxnOps.txnSchemaEvolution(spark, sf).collect()
    val root = DfCache.scratch(spark, sf, "schema")
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_txn_log", "v1.schema")))
    assert(audit == "ADD|score|0",
      s"the ADD COLUMN must be audited in the log, got '$audit'")
    assert(TxnLog.read(spark, root, 0L).columns.toSeq == Seq("key", "value"),
      "time travel to v0 must show the pre-evolution schema")
    assert(TxnLog.read(spark, root, 2L).columns.toSeq ==
      Seq("key", "value", "score"))
    // the ADD COLUMN commit wrote no data: empty write-range set
    assert(TxnLog.readMeta(root, 1L).writtenRanges.isEmpty,
      "a metadata-only commit must never conflict with data commits")
  }

  test("incremental MV equals a full recompute at EVERY version") {
    import spark.implicits._
    TxnOps.txnMvIncremental(spark, sf).collect()
    val root = TxnOps.ttTable(spark, sf)
    val latest = TxnLog.latestCommitted(root)
    // maintain step-by-step exactly as the operator does, but check
    // against an independent full recompute after every version —
    // if any delta application drifted, the first divergent version
    // names itself
    def recompute(v: Long): Map[Long, (Long, Long)] =
      TxnLog.read(spark, root, v)
        .groupBy(($"key" % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    var mv = recompute(0L)
    (1L to latest).foreach { v =>
      val delta = spark.read.parquet(s"$root/delta_v$v")
      val prev = TxnLog.read(spark, root, v - 1)
      val adj = prev.as("s")
        .join(delta.select($"key", $"op").as("d"), Seq("key"))
        .groupBy(($"key" % 10).as("bucket"))
        .agg((-count(lit(1))).as("dn"), (-sum($"s.value")).as("ds"))
        .unionByName(delta.filter($"op" === "upsert")
          .groupBy(($"key" % 10).as("bucket"))
          .agg(count(lit(1)).as("dn"), sum($"value").as("ds")))
        .groupBy($"bucket")
        .agg(sum($"dn").as("dn"), sum($"ds").as("ds"))
        .collect()
      adj.foreach { r =>
        val b = r.getLong(0)
        val (n0, s0) = mv.getOrElse(b, (0L, 0L))
        val nb = (n0 + r.getLong(1), s0 + r.getLong(2))
        mv = if (nb._1 == 0L) mv - b else mv + (b -> nb)
      }
      assert(mv == recompute(v),
        s"maintained MV diverged from the full recompute at v$v")
    }
  }

  test("2-D stats skipping: sidecar prunes most files, pruned files hold no rows") {
    import spark.implicits._
    import graft.operators.ScanOps
    ScanOps.scanStatsSkipping2d(spark, sf).collect()
    val dir = ScanOps.stats2dLayoutDir(spark, sf)
    val stats = spark.read.parquet(s"$dir/_stats")
    assert(stats.count() == 16, "one stats row per Morton-clustered file")
    val (xlo, xhi, ylo, yhi) =
      (ScanOps.s2Xlo, ScanOps.s2Xhi, ScanOps.s2Ylo, ScanOps.s2Yhi)
    val boxHit = $"max_x" >= xlo && $"min_x" <= xhi &&
      $"max_y" >= ylo && $"min_y" <= yhi
    val kept = stats.filter(boxHit).count()
    assert(kept >= 1 && kept <= 8,
      s"a ~1/16-area box over a Z-clustered layout must keep few of " +
        s"16 files, kept $kept")
    // non-vacuous: open the EXCLUDED files and run the box predicate
    val excluded = stats.filter(!boxHit)
      .select($"file").collect().map(_.getString(0))
    assert(excluded.length == 16 - kept)
    val missed = spark.read.parquet(excluded.toSeq: _*)
      .filter($"zx".between(xlo, xhi) && $"zy".between(ylo, yhi)).count()
    assert(missed == 0,
      s"$missed qualifying rows hide in pruned files")
  }

  test("deletion vectors: merge-on-read equals copy-on-write, sidecar stays tiny") {
    import spark.implicits._
    import graft.operators.ScanOps
    val base = spark.read.parquet(ScanOps.dvLayoutDir(spark, sf))
    // (bucket, pos) is a genuine physical address: unique per bucket
    val dupAddr = base.groupBy($"bucket", $"pos").count()
      .filter($"count" > 1L).count()
    assert(dupAddr == 0, "stored row positions must be unique per file")
    // the merged key result ≡ the copy-on-write rewrite of the base
    val mor = ScanOps.scanDeletionVectors(spark, sf).collect().toSeq
    val cow = base
      .filter(!($"l_returnflag" === "R") && !($"l_quantity" > 45.0))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(mor == cow, "merge-on-read must equal the rewritten table")
    // cost accounting: the DV bitmap is a small fraction of the rows
    // a copy-on-write delete would rewrite — one 64-bit word covers
    // up to 64 positions, so words <= ceil(deleted/1) and in practice
    // ~deleted/constant; the point is O(deleted), not O(table)
    val deleted = base
      .filter($"l_returnflag" === "R" || $"l_quantity" > 45.0).count()
    val words = base.filter($"l_returnflag" === "R" || $"l_quantity" > 45.0)
      .select($"bucket", shiftright($"pos", 6).as("w")).distinct().count()
    val total = base.count()
    assert(words <= deleted, "bitmap words cannot exceed deleted positions")
    assert(words < total / 2,
      s"DV sidecar ($words words) must be far smaller than a rewrite " +
        s"($total rows)")
  }

  test("column-level upsert: omitted columns carry over, present ones update") {
    import spark.implicits._
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_r10_colup").getAbsolutePath
    TxnLog.destroy(root)
    TxnLog.init(root)
    TxnLog.commit(spark, root, { _ =>
      (Seq((1L, 10L), (2L, 20L)).toDF("key", "value")
        .withColumn("op", lit("upsert")), Seq((1L, 2L)))
    })
    // delta carries ONLY key+op for key 1 → a no-op upsert (all value
    // columns carried over) — the degenerate column-level case
    TxnLog.commit(spark, root, { _ =>
      (Seq(Tuple1(1L)).toDF("key").withColumn("op", lit("upsert")),
        Seq((1L, 1L)))
    })
    val out = TxnLog.read(spark, root, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 10L, 2L -> 20L),
      "an upsert that names no value columns must change nothing")
    TxnLog.destroy(root)
  }
}
