package graft

import org.apache.spark.sql.functions._

import graft.engine.TxnLog
import graft.operators.{ScanOps, TxnOps}

/** Round-8 wave 3: tag-protected vacuum, log checkpointing,
  * truncated-string stats skipping, and the clone-ownership
  * regression (destroyDir must never traverse a symlink). */
class Round12Spec extends SparkSpec {

  test("dropping and rebuilding a shallow clone never deletes source data") {
    // Regression: q_txn_clone run TWICE in one JVM. The second run's
    // cloneShallow destroys the previous clone root, whose snapshot_v0
    // is a symlink into the (freshly rebuilt, same-path) SOURCE table;
    // a recursive delete that follows the link destroys the source's
    // parquet files and the re-run crashes on an empty snapshot dir.
    val first = TxnOps.txnClone(spark, sf).collect().toSeq
    val second = TxnOps.txnClone(spark, sf).collect().toSeq
    assert(first == second,
      "re-running txnClone must be idempotent — a mismatch means the " +
        "clone teardown reached through the symlink into the source")
  }

  test("vacuum skips tagged versions and evicts the rest") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_vacuum").toString
    TxnLog.destroy(root)
    TxnLog.init(root)
    def put(lo: Long, hi: Long): Unit = {
      TxnLog.commit(spark, root, { _ =>
        val d = spark.range(lo, hi + 1)
          .select(col("id").as("key"), col("id").as("value"),
            lit("upsert").as("op"))
        (d, Seq((lo, hi)))
      })
      ()
    }
    put(0, 9); put(10, 19); put(20, 29) // v0, v1, v2
    TxnLog.tag(root, "pin", 0L)
    assert(TxnLog.vacuum(root, keepLast = 1) == Seq(1L))
    // tagged v0 still reads; v1 is gone; latest untouched
    assert(TxnLog.readTag(spark, root, "pin").count() == 10L)
    val e = intercept[IllegalArgumentException](TxnLog.read(spark, root, 1L))
    assert(e.getMessage.contains("vacuumed"))
    assert(TxnLog.read(spark, root, 2L).count() == 30L)
    // a second vacuum is a no-op (everything left is pinned or retained)
    assert(TxnLog.vacuum(root, keepLast = 1).isEmpty)
    TxnLog.destroy(root)
  }

  test("checkpoint preserves every commit's OCC metadata exactly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_ckpt").toString
    TxnLog.destroy(root)
    TxnLog.init(root)
    (0 until 3).foreach { i =>
      TxnLog.commit(spark, root, { _ =>
        val d = spark.range(i * 100L, i * 100L + 50L)
          .select(col("id").as("key"), col("id").as("value"),
            lit("upsert").as("op"))
        (d, Seq((i * 100L, i * 100L + 49L)))
      })
    }
    val before = (0L to 2L).map(TxnLog.readMeta(root, _))
    assert(TxnLog.checkpoint(root) == 2L)
    val metasLeft = Option(new java.io.File(root, "_txn_log").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".meta"))
    assert(metasLeft == 0, "checkpoint must delete the per-version metas")
    val after = (0L to 2L).map(TxnLog.readMeta(root, _))
    assert(before == after,
      "metas served from the checkpoint must be byte-identical")
    TxnLog.destroy(root)
  }

  test("string stats skipping cuts files and loses no qualifying rows") {
    val dir = ScanOps.stringStatsLayoutDir(spark, sf)
    val stats = spark.read.parquet(s"$dir/_stats")
    val total = stats.count()
    val kept = stats
      .filter(col("max_ub") >= ScanOps.strSkipLo &&
        col("min_t") < ScanOps.strSkipHi)
      .select("file").collect().map(_.getString(0)).toSet
    assert(kept.nonEmpty && kept.size < total,
      s"expected a real file cut, kept ${kept.size} of $total")
    // read the PRUNED files for real: they must hold zero matches
    val pruned = stats.select("file").collect().map(_.getString(0))
      .filterNot(kept)
    assert(pruned.nonEmpty)
    val missed = spark.read.parquet(pruned.toIndexedSeq: _*)
      .filter(col("p_name") >= ScanOps.strSkipLo &&
        col("p_name") < ScanOps.strSkipHi)
      .count()
    assert(missed == 0L,
      s"$missed qualifying rows hide in pruned files — skipping " +
        "would drop them")
  }

  test("truncated string bounds are conservative for every file") {
    val dir = ScanOps.stringStatsLayoutDir(spark, sf)
    // join stats back to true per-file min/max: min_t must prefix-
    // lower-bound the true min, max_ub must upper-bound the true max
    // (exactly when the max fits in 8 chars, strictly otherwise) —
    // the invariant that makes pruning lossless
    val truth = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("p_name").as("tmn"), max("p_name").as("tmx"))
    val bad = spark.read.parquet(s"$dir/_stats")
      .join(truth, "file")
      .filter(col("min_t") > col("tmn") || col("max_ub") < col("tmx") ||
        (length(col("tmx")) > 8 && col("max_ub") <= col("tmx")))
      .count()
    assert(bad == 0L, s"$bad files carry non-conservative string bounds")
  }
}
