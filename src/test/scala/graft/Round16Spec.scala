package graft

/** Round-11 evidence hardening: the six keys that used to pass the
  * DuckDB oracle VACUOUSLY (0 rows on both sides — a broken operator
  * that drops everything would also have "passed") now have fixture
  * slices that provably produce rows. These tests pin non-emptiness at
  * sf0.001 so the keys can never silently regress to vacuous greens;
  * tools/compare.py additionally fails ANY oracled key that returns 0
  * rows unless it appears in an explicit ZERO_ROW_ALLOWLIST (empty).
  */
class Round16Spec extends SparkSpec {

  private val fixedKeys = Seq(
    "q_join_anti",            // parts never bulk-shipped (qty > 45)
    "q_set_except",           // high-value viewers \ high-value buyers
    "q_subquery_not_exists",  // suppliers with no late bulk shipment
    "q_stream_mv_maintenance",// CDF-maintained MV, survivors non-empty
    "q_txn_mv_incremental",   // delta-maintained MV, survivors non-empty
    "q_txn_row_lineage")      // lineage of SURVIVING rows

  fixedKeys.foreach { key =>
    test(s"$key returns rows (no vacuous zero-row oracle pass)") {
      val df = SparkEntry.queries(key)(spark, sf)
      val n = df.limit(1).count()
      assert(n > 0, s"$key returned 0 rows at sf0.001 — its oracle " +
        "compare would be vacuous")
    }
  }

  test("DBSCAN++ probe join broadcasts the SAMPLE, never the full " +
      "corpus (the all-pairs n×n stage is gone)") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = graft.operators.MlOps.mlDbscan(spark, sf)
    df.collect()
    // since round 12 the probe rides the scoped DfCache, so the BNLJ
    // lives inside the cached probe's OWN plan (the outer plan shows
    // InMemoryTableScan — pinned in CacheLifecycleSpec); assert on
    // the cached frame's physical plan
    val probe = graft.engine.DfCache.frames.collectFirst {
      case ((scope, name), d) if scope.endsWith(sf) &&
        name == "dbscan_nbr" => d
    }.getOrElse(fail("dbscan probe missing from the scoped cache"))
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    // the persisted frame re-plans through its own InMemoryTableScan;
    // the probe's real plan is the relation's cachedPlan
    val cachedPlans = helper.collectWithSubqueries(
      probe.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => s.relation.cachedPlan
    }
    assert(cachedPlans.nonEmpty, "expected the probe to be cached")
    val bnljs = cachedPlans.flatMap(p => helper.collectWithSubqueries(p) {
      case b: BroadcastNestedLoopJoinExec => b
    })
    assert(bnljs.nonEmpty, "expected the sample-probe broadcast join")
    bnljs.foreach { j =>
      val bcast = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }
      assert(bcast.toString.contains("%"),
        s"broadcast side must be the vec_id % m sample, got:\n$bcast")
    }
  }

  test("DBSCAN++ core set law: cores = exact-DBSCAN cores ∩ sample " +
      "(full degree >= minPts is the SAME predicate on both)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.engine.Tables.embeddings(spark, sf)
    // exact full-degree per vector (all-pairs is fine at sf0.001 in a
    // spec — this is the reference the operator's sampling approximates)
    val exactCores = e.select($"vec_id".as("va"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("vb"), $"embedding".as("eb")))
      .filter($"va" =!= $"vb")
      .filter(graft.functions.Udfs.rnd6(
        graft.functions.CosineSim(col("ea"), col("eb"))) >= 0.25)
      .groupBy($"va").agg(count(lit(1)).as("deg"))
      .filter($"deg" >= 12 && $"va" % 3 === 0)
      .select($"va").as[Long].collect().toSet
    val gotCores = graft.operators.MlOps.mlDbscan(spark, sf)
      .filter($"role" === "core")
      .select($"vec_id").as[Long].collect().toSet
    assert(gotCores == exactCores,
      s"DBSCAN++ cores must equal sampled exact cores: " +
        s"extra=${gotCores -- exactCores} missing=${exactCores -- gotCores}")
  }

  test("the tt fixture's v3 delete-set is a PROPER slice: some users " +
      "deleted, some survive") {
    import org.apache.spark.sql.functions._
    val root = graft.operators.TxnOps.ttTable(spark, sf)
    val latest = graft.engine.TxnLog.latestCommitted(root)
    assert(latest == 3L)
    val v2 = graft.engine.TxnLog.read(spark, root, 2L).count()
    val v3 = graft.engine.TxnLog.read(spark, root, 3L).count()
    assert(v3 > 0, "v3 deleted every user — downstream MV/lineage keys " +
      "would pass vacuously")
    assert(v3 < v2, "v3 deleted nobody — the delete path is unexercised")
  }
}
