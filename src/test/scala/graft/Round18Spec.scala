package graft

import org.apache.spark.sql.DataFrame

/** Round-18 pins: the two hard `broadcast()` hot paths now route
  * through Cbo.joinDerived — stats-estimated broadcast-vs-shuffle
  * instead of a hint that had to be removed by hand at scale. Each
  * test forces a tiny budget, pins the shuffle fallback in the
  * physical plan, and proves the fallback is byte-identical to the
  * broadcast plan's result. */
class Round18Spec extends SparkSpec {

  /** `body` on a clone of the suite's session whose broadcast
    * threshold, the stats-driven joins' budget, is `bytes`. */
  private def withBudget[A](bytes: Long)(
      body: org.apache.spark.sql.SparkSession => A): A =
    body(graft.engine.QuerySession.session(spark,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> bytes.toString)))

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dedupPrefixFilter degrades its derived build sides to shuffle " +
      "under a tiny budget, byte-identically") {
    // explicit generous budget for the broadcast phase: the estimates
    // sit legitimately near the 10 MB default at fixture scale, and a
    // fixture regeneration must not flip a plan assertion
    val (rowsBroad, pBroad) = withBudget(1L << 30) { spark =>
      val broad = graft.operators.DedupOps.dedupPrefixFilter(spark, sf)
      (broad.collect().toSeq, plan(broad))
    }
    assert(pBroad.contains("BroadcastHashJoin"),
      s"generous budget must keep the broadcast build sides:\n$pBroad")
    val (rowsShuf, pShuf) = withBudget(1L) { spark =>
      val shuf = graft.operators.DedupOps.dedupPrefixFilter(spark, sf)
      (shuf.collect().toSeq, plan(shuf))
    }
    // the candidate self-join keeps whatever shape Spark's own
    // planner picks (it is unhinted); the four DERIVED build sides
    // must all have flipped — pin each by its join key: dfreq joins
    // on shingle, counts on doc_id, the two set joins on doc_a/doc_b
    for (key <- Seq("shingle", "doc_id", "doc_a", "doc_b"))
      assert(pShuf.contains(s"SortMergeJoin [$key#"),
        s"tiny budget must shuffle the derived join on $key:\n$pShuf")
    for (key <- Seq("doc_a", "doc_b"))
      assert(!pShuf.contains(s"BroadcastHashJoin [$key#"),
        s"derived set join on $key must not broadcast under a tiny budget")
    assert(rowsShuf == rowsBroad,
      "shuffle fallback changed the result bytes")
  }

  test("cfNegativeSamples degrades the seen-pairs anti join to shuffle " +
      "under a tiny budget, byte-identically") {
    // explicit generous budget: the seen-pairs estimate is within a
    // few percent of the 10 MB default at sf0.1, so the spec must not
    // be load-bearing on that margin
    val (rowsBroad, pBroad) = withBudget(1L << 30) { spark =>
      val broad = graft.operators.CfOps.cfNegativeSamples(spark, sf)
      (broad.collect().toSeq, plan(broad))
    }
    assert(pBroad.contains("BroadcastHashJoin") &&
        pBroad.contains("LeftAnti"),
      s"generous budget must broadcast the seen set for the anti join:\n$pBroad")
    val (rowsShuf, pShuf) = withBudget(1L) { spark =>
      val shuf = graft.operators.CfOps.cfNegativeSamples(spark, sf)
      (shuf.collect().toSeq, plan(shuf))
    }
    // the pool stays broadcast (sized by construction, not derived);
    // the SEEN anti join must have left the broadcast class
    assert(pShuf.contains("SortMergeJoin") && pShuf.contains("LeftAnti"),
      s"tiny budget must shuffle the seen anti join:\n$pShuf")
    assert(rowsShuf == rowsBroad,
      "shuffle fallback changed the result bytes")
  }

  test("NDV equality selectivity reorders a chain the range-only " +
      "estimator gets wrong") {
    import org.apache.spark.sql.functions.col
    import graft.plans.Cbo
    val partPath = s"$sf/part.parquet"
    val suppPath = s"$sf/supplier.parquet"
    val part = spark.read.parquet(partPath)
      .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
    val supp = spark.read.parquet(suppPath)
      .select(col("s_suppkey").as("l_suppkey"), col("s_acctbal"))
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    // a point predicate on a high-NDV DOUBLE column: parquet footers
    // carry no long range for it, so the range-only estimator sees
    // sel = 1.0 and part (bigger than supplier) goes second…
    val price = part.agg(org.apache.spark.sql.functions
      .max(col("p_retailprice"))).head().getDouble(0)
    val partStats = Cbo.analyzePath(partPath)
    val suppStats = Cbo.analyzePath(suppPath)
    assert(partStats.nRows > suppStats.nRows,
      "fixture premise: part must out-row supplier")
    def dims(ps: Cbo.TableStats) = Seq(
      "part" -> Cbo.Input(part, ps, Seq("l_partkey"),
        eqFilter = Some(("p_retailprice", price))),
      "supplier" -> Cbo.Input(supp, suppStats, Seq("l_suppkey")))
    val (blindDf, blindOrder) = Cbo.reorderJoin(fact, dims(partStats))
    assert(blindOrder == Seq("supplier", "part"),
      s"without NDV the eq filter must estimate 1.0 → supplier first, " +
        s"got $blindOrder")
    // …but with NDV the same predicate estimates nRows/NDV ≈ a few
    // rows, so the filtered part branch prunes the fact FIRST
    val enriched = Cbo.withNdv(partStats, spark, partPath,
      Seq("p_retailprice"))
    assert(enriched.ndv("p_retailprice") > suppStats.nRows,
      "fixture premise: retail-price NDV must exceed supplier rows")
    val (ndvDf, ndvOrder) = Cbo.reorderJoin(fact, dims(enriched))
    assert(ndvOrder == Seq("part", "supplier"),
      s"NDV estimate must put the eq-filtered part first, got $ndvOrder")
    // the reorder is cost-only: both orders must agree byte-for-byte
    // (project to a fixed column order — using-joins reorder columns)
    val cols = Seq("l_partkey", "l_suppkey", "l_quantity",
      "p_retailprice", "s_acctbal").map(col)
    assert(ndvDf.select(cols: _*).orderBy(cols: _*).collect().toSeq ==
      blindDf.select(cols: _*).orderBy(cols: _*).collect().toSeq,
      "join order changed the result")
  }

  test("bushy flip: a selective branch tail pre-joins the branch; an " +
      "unselective one stays left-deep — identical results") {
    import org.apache.spark.sql.functions.col
    import graft.plans.Cbo
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val n = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey").as("c_nationkey"), col("n_regionkey"))
    val r = spark.read.parquet(s"$sf/region.parquet")
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    val rStats = Cbo.withNdv(Cbo.analyzePath(s"$sf/region.parquet"),
      spark, s"$sf/region.parquet", Seq("r_name"))
    def dims(regionEq: Boolean) = Seq(
      "orders" -> Cbo.Input(o,
        Cbo.analyzePath(s"$sf/orders.parquet"), Seq("l_orderkey")),
      "customer" -> Cbo.Input(c,
        Cbo.analyzePath(s"$sf/customer.parquet"), Seq("o_custkey")),
      "nation" -> Cbo.Input(n,
        Cbo.analyzePath(s"$sf/nation.parquet"), Seq("c_nationkey")),
      "region" -> Cbo.Input(r, rStats, Seq("n_regionkey"),
        eqFilter = if (regionEq) Some(("r_name", "AMERICA")) else None))
    val branch = Seq(Cbo.Branch("orders",
      Seq("customer", "nation", "region")))
    // region = 'AMERICA' at NDV 5 → tail selectivity 0.2 ≤ 0.5: the
    // branch pre-joins and enters the fact as ONE composite
    val (bushyDf, bushyOrder, bushyHeads) =
      Cbo.reorderJoinBushy(fact, dims(regionEq = true), branch)
    assert(bushyHeads == Seq("orders"),
      s"selective tail must go bushy, got $bushyHeads")
    assert(bushyOrder == Seq("orders"),
      s"the composite must be the only linear input, got $bushyOrder")
    // no filter anywhere in the tail → selectivity 1.0: pre-joining
    // buys nothing, the planner must stay left-deep
    val (linearDf, linearOrder, linearHeads) =
      Cbo.reorderJoinBushy(fact, dims(regionEq = false), branch)
    assert(linearHeads.isEmpty,
      s"unselective tail must stay linear, got $linearHeads")
    assert(linearOrder.toSet ==
        Set("orders", "customer", "nation", "region"),
      s"left-deep order must feed every dim individually, got $linearOrder")
    // shape is cost-only: with the same predicates the two shapes
    // agree (apply the region filter to the linear result manually)
    val cols = Seq("l_orderkey", "l_quantity", "o_custkey",
      "c_nationkey", "n_regionkey", "r_name").map(col)
    assert(bushyDf.select(cols: _*).orderBy(cols: _*).collect().toSeq ==
      linearDf.filter(col("r_name") === "AMERICA")
        .select(cols: _*).orderBy(cols: _*).collect().toSeq,
      "bushy and linear shapes disagree on the result")
  }

  test("VERSION AS OF agrees with TxnLog.read across an ALTER COLUMN " +
      "TYPE boundary") {
    import graft.engine.TxnLog
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r18_tt_").toFile.getAbsolutePath
    TxnLog.destroy(root); TxnLog.init(root)
    TxnLog.commit(spark, root, _ => (
      Seq(1L -> 10L, 2L -> 20L).toDF("key", "value")
        .selectExpr("key", "cast(value as int) as value")
        .withColumn("op", lit("upsert")),
      Seq((1L, 2L))))
    val widenV = TxnLog.alterColumnType(spark, root, "value", "bigint")
    registerGraftCatalog()
    val ident = (graft.sources.GraftCatalog.NAME +:
      root.split("/").filter(_.nonEmpty).toSeq)
      .map(p => s"`$p`").mkString(".")
    // pre-widen versions keep the narrow schema (time travel across
    // the boundary), the widen version itself must already be wide —
    // its metadata-only linked snapshot still holds narrow files, so
    // this is exactly where the raw physical read used to disagree
    // with TxnLog.read
    val pre = spark.sql(s"SELECT * FROM $ident VERSION AS OF 0")
    assert(pre.schema("value").dataType == IntegerType,
      s"v0 predates the ALTER: ${pre.schema("value").dataType}")
    val at = spark.sql(s"SELECT * FROM $ident VERSION AS OF $widenV")
    assert(at.schema("value").dataType == LongType,
      s"VERSION AS OF $widenV must show the widened type, got " +
        s"${at.schema("value").dataType}")
    val direct = TxnLog.read(spark, root, widenV)
    assert(at.schema("value").dataType == direct.schema("value").dataType,
      "the two read paths disagree at the widen boundary")
    assert(at.orderBy("key").collect().map(r =>
        r.getLong(0) -> r.getLong(1)).toSeq ==
      direct.orderBy("key").collect().map(r =>
        r.getLong(0) -> r.getLong(1)).toSeq,
      "row values must match between the read paths")
  }

  test("concurrent widenings of two DIFFERENT columns both survive " +
      "(no lost update of the types table)") {
    import graft.engine.TxnLog
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r18_types_").toFile.getAbsolutePath
    TxnLog.destroy(root); TxnLog.init(root)
    TxnLog.commit(spark, root, _ => (
      Seq((1L, 10L, 100L)).toDF("key", "value", "other")
        .selectExpr("key", "cast(value as int) as value",
          "cast(other as int) as other")
        .withColumn("op", lit("upsert")),
      Seq((1L, 1L))))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val t1 = new Thread(() =>
      try TxnLog.alterColumnType(spark, root, "value", "bigint")
      catch { case t: Throwable => errs.add(t); () })
    val t2 = new Thread(() =>
      try TxnLog.alterColumnType(spark, root, "other", "bigint")
      catch { case t: Throwable => errs.add(t); () })
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"concurrent widenings failed: " +
      errs.toArray.mkString("; "))
    val latest = TxnLog.latestCommitted(root)
    val types = TxnLog.currentTypes(root, latest)
    assert(types.get("value").contains("bigint") &&
        types.get("other").contains("bigint"),
      s"one widening was lost — the types map rebuilt from a stale " +
        s"base on retry: $types")
  }
}
