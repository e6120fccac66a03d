package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{ScanOps, SourceOps, SqlOps}
import graft.plans.QualifySql

/** Round-8 wave 2: QUALIFY SQL surface, hidden file-metadata columns,
  * and the storage-partitioned-join keys' row-level semantics (their
  * PLAN properties are pinned in SourceSpec). */
class Round11Spec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("QUALIFY desugars to exactly the hand-written window subquery") {
    val viaQualify = Tables.withViews(spark, sf)(QualifySql.sql(_,
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin))
      .collect().toSeq
    val byHand = Tables.withViews(spark, sf)(_.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin))
      .collect().toSeq
    assert(viaQualify == byHand)
    assert(viaQualify.nonEmpty)
  }

  test("QUALIFY honors a trailing LIMIT and plain WHERE coexistence") {
    val out = Tables.withViews(spark, sf)(QualifySql.sql(_,
      """SELECT o_custkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1000.0
        |QUALIFY RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= 7
        |ORDER BY o_totalprice DESC, o_custkey LIMIT 5""".stripMargin))
      .collect()
    assert(out.length == 5)
    // descending by construction
    val prices = out.map(_.getDouble(1)).toSeq
    assert(prices == prices.sorted.reverse)
  }

  test("QUALIFY rejects malformed statements loudly") {
    // no QUALIFY at all
    intercept[IllegalArgumentException] {
      QualifySql.sql(spark, "SELECT 1")
    }
    // QUALIFY only inside a subquery is NOT top-level
    intercept[IllegalArgumentException] {
      QualifySql.sql(spark,
        "SELECT * FROM (SELECT 1 WHERE false QUALIFY true)")
    }
    // two top-level QUALIFYs
    intercept[IllegalArgumentException] {
      QualifySql.sql(spark, "SELECT 1 QUALIFY true QUALIFY false")
    }
    // set operation heads are out of grammar
    intercept[IllegalArgumentException] {
      QualifySql.sql(spark,
        "SELECT 1 UNION ALL SELECT 2 QUALIFY true")
    }
    // empty predicate
    intercept[IllegalArgumentException] {
      QualifySql.sql(spark, "SELECT 1 QUALIFY ORDER BY 1")
    }
  }

  test("QUALIFY keyword detection ignores quoted text and parens") {
    // the word QUALIFY inside a string literal must not count
    val out = Tables.withViews(spark, sf)(QualifySql.sql(_,
      """SELECT o_custkey, 'QUALIFY' AS tag, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
        |  o_orderkey) = 1""".stripMargin)).collect()
    assert(out.length == 1 && out.head.getString(1) == "QUALIFY")
  }

  test("file-metadata profile: 16 files, dense per-file row ordinals, full coverage") {
    val rows = ScanOps.scanFileMetadata(spark, sf).collect()
    assert(rows.length == 16, s"expected the 16-file layout, got ${rows.length}")
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("min_ri") == 0L, s"row_index must start at 0: $r")
      assert(r.getAs[Long]("max_ri") == n - 1,
        s"row_index must be dense 0..n-1 within the file: $r")
    }
    val total = rows.map(_.getAs[Long]("n")).sum
    val li = graft.engine.Tables.lineitem(spark, sf).count()
    assert(total == li, "per-file counts must cover the whole table")
    // range clustering ⇒ file date spans are non-overlapping when
    // ordered by min_d (the property stats skipping relies on)
    val spans = rows.sortBy(_.getAs[java.sql.Timestamp]("min_d").getTime)
      .map(r => (r.getAs[java.sql.Timestamp]("min_d").getTime,
        r.getAs[java.sql.Timestamp]("max_d").getTime)).toSeq
    spans.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, "range-clustered files must not overlap")
      case _ => ()
    }
  }

  test("join elimination: fires on the declared edge, bails on every unsafe variant") {
    import spark.implicits._
    import graft.plans.JoinElimination
    import graft.plans.MvRewrite.readsPath
    val eliminate = JoinElimination(Seq(JoinElimination.FkDef(
      "lineitem.parquet", "l_orderkey", "orders.parquet", "o_orderkey"))) _
    def analyzed(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]].queryExecution.analyzed
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf)

    // eliminated result must equal the executed join, row for row
    val viaRule = graft.operators.JoinOps.joinElimination(spark, sf)
      .collect().toSeq
    val executed = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(viaRule == executed)

    // a filter on the PK side makes the join selective — must bail
    val filtered = eliminate(analyzed(
      li.join(ord.filter($"o_totalprice" > 1000.0),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))))
    assert(readsPath(filtered, "orders.parquet"),
      "a filtered parent must not be eliminated")

    // projecting a parent column above the join — must bail
    val keepsParent = eliminate(analyzed(
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_returnflag", $"o_orderstatus")))
    assert(readsPath(keepsParent, "orders.parquet"),
      "a consumer of parent columns must keep the join")

    // an undeclared edge (suppkey) — must bail
    val undeclared = eliminate(analyzed(
      li.join(Tables.supplier(spark, sf), $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))))
    assert(readsPath(undeclared, "supplier.parquet"))

    // outer joins are out of scope — must bail
    val outer = eliminate(analyzed(
      li.join(ord, $"l_orderkey" === $"o_orderkey", "left")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))))
    assert(readsPath(outer, "orders.parquet"))
  }

  test("partition evolution: each generation prunes under its own spec") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = ScanOps.scanPartitionEvolution(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]].queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 2, s"expected one scan per generation")
    val byGen = scans.map { s =>
      val parts = s.partitionFilters.map(_.toString).mkString(";")
      (s.relation.location.rootPaths.mkString, parts)
    }.sortBy(_._1)
    val (gen1, gen2) = (byGen.head, byGen.last)
    assert(gen1._1.contains("pspec1") && gen2._1.contains("pspec2"))
    // both generations prune month directories
    assert(gen1._2.contains("ship_month") && gen2._2.contains("ship_month"))
    // returnflag is a PARTITION filter only under the evolved spec
    assert(!gen1._2.contains("l_returnflag"),
      s"gen1 must treat returnflag as a data filter: ${gen1._2}")
    assert(gen2._2.contains("l_returnflag"),
      s"gen2 must prune returnflag directories: ${gen2._2}")
    // and gen1 pushes returnflag down to parquet instead
    val gen1Scan = scans.find(
      _.relation.location.rootPaths.mkString.contains("pspec1")).get
    assert(gen1Scan.dataFilters.map(_.toString).mkString
      .contains("l_returnflag"))
  }

  test("bloom index prunes files and never loses a qualifying row") {
    import spark.implicits._
    val candidates =
      ScanOps.bloomCandidates(spark, sf, ScanOps.bloomProbeKeys)
    val layout = ScanOps.statsLayoutDir(spark, sf)
    val all = new java.io.File(layout).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(all == 16)
    assert(candidates.nonEmpty && candidates.size < all,
      s"bloom index should prune some of the $all files, " +
        s"kept ${candidates.size}")
    // no false negatives: pruned answer == full-scan answer
    val pruned = ScanOps.scanBloomIndex(spark, sf).collect().toSeq
    val full = spark.read.parquet(layout)
      .filter($"l_orderkey".isin(ScanOps.bloomProbeKeys: _*))
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_orderkey").collect().toSeq
    assert(pruned == full, "bloom pruning must be lossless")
    // absent keys are admitted by at most a few false-positive files
    val ghost = ScanOps.bloomCandidates(spark, sf, Seq(987654321L))
    assert(ghost.size <= 4,
      s"a never-written key should hit almost nothing: ${ghost.size}")
  }

  test("shallow clone copies zero parquet bytes and leaves the source log untouched") {
    import graft.engine.TxnLog
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("r11_clone_src")
      .toFile.getAbsolutePath
    val dst = java.nio.file.Files.createTempDirectory("r11_clone_dst")
      .toFile.getAbsolutePath
    TxnLog.destroy(src); TxnLog.init(src)
    TxnLog.commit(spark, src, { _ =>
      (Seq((1L, 10L), (2L, 20L)).toDF("key", "value")
        .withColumn("op", lit("upsert")), Seq((1L, 2L)))
    })
    val beforeSrc = TxnLog.latestCommitted(src)
    TxnLog.cloneShallow(src, dst)
    // zero-copy: no real parquet data under dst, only the link + log
    def realParquetBytes(dir: java.io.File): Long = {
      def walk(f: java.io.File): Long =
        if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(dir)
    }
    assert(realParquetBytes(new java.io.File(dst)) == 0L,
      "shallow clone must not copy a byte of data")
    // clone diverges; source version count unchanged
    TxnLog.commit(spark, dst, { base =>
      (Seq((3L, 30L)).toDF("key", "value")
        .withColumn("op", lit("upsert")), Seq((3L, 3L)))
    })
    assert(TxnLog.latestCommitted(src) == beforeSrc,
      "commits on the clone must never advance the source")
    assert(TxnLog.read(spark, dst, 1L).count() == 3)
    assert(TxnLog.read(spark, src, beforeSrc).count() == 2)
    TxnLog.destroy(dst); TxnLog.destroy(src)
  }

  test("disjoint-range writers commit with zero conflict re-runs; overlapping ones do not") {
    import graft.engine.TxnLog
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("r11_disjoint")
      .toFile.getAbsolutePath
    TxnLog.destroy(root); TxnLog.init(root)
    TxnLog.commit(spark, root, { _ =>
      (Seq((1L, 1L), (100L, 1L)).toDF("key", "value")
        .withColumn("op", lit("upsert")), Seq((1L, 100L)))
    })
    def writer(keys: Seq[Long], barrier: java.util.concurrent.CyclicBarrier)
        : TxnLog.TxnStats =
      TxnLog.commit(spark, root, { base =>
        (keys.map(k => (k, k)).toDF("key", "value")
          .withColumn("op", lit("upsert")), Seq((keys.min, keys.max)))
      }, barrier = Some(barrier))
    val b = new java.util.concurrent.CyclicBarrier(2)
    val out = new java.util.concurrent.ConcurrentHashMap[String, TxnLog.TxnStats]()
    val ts = Seq("lo" -> Seq(2L, 3L), "hi" -> Seq(200L, 300L)).map {
      case (n, ks) => new Thread(() => { out.put(n, writer(ks, b)) })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(out.size == 2)
    val totalConflicts = {
      val it = out.values().iterator()
      var c = 0; while (it.hasNext) c += it.next().conflicts; c
    }
    assert(totalConflicts == 0,
      s"disjoint ranges must not trigger conflict re-runs: $totalConflicts")
    assert(TxnLog.latestCommitted(root) == 2L)
    assert(TxnLog.read(spark, root, 2L).count() == 6)
    TxnLog.destroy(root)
  }

  test("SPJ keys return the co-partitioned join/agg answers (values, not just plans)") {
    import spark.implicits._
    val agg = SourceOps.sourceSpjAgg(spark, sf).collect()
    assert(agg.length == 32)
    assert(agg.map(_.getAs[Long]("n")).sum == 58000L) // ids in [2000, 60000)
    val join = SourceOps.sourceSpjJoin(spark, sf)
    val rows = join.collect()
    assert(rows.length == 5000)
    // v2 is exactly twice the generator value (both sides identical)
    rows.take(50).foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Double]("v2") ==
        2.0 * graft.sources.SynthSource.valueOf(id))
    }
  }
}
