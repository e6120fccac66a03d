package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.operators.{MlOps, SimOps, TsOps}

/** Round-5 continuation: model-selection / evaluation operators
  * (ridge CV, calibration, CUSUM, ANN recall) and the fixture
  * timestamp-unit guard. */
class Round5bSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("events ts reads in the fixture's calendar range (unit guard)") {
    import spark.implicits._
    // The driver has regenerated the fixture with a different parquet
    // timestamp unit before (ns → µs). A unit misread shifts every
    // event timestamp ~1000× (to 1970 or 55969) — pin the calendar.
    val yrs = graft.engine.Tables.events(spark, sf)
      .select(year($"ts").as("y")).agg(min($"y"), max($"y"))
      .collect()(0)
    assert(yrs.getInt(0) == 2024 && yrs.getInt(1) == 2024,
      s"events.ts outside the fixture calendar: $yrs — timestamp unit misread?")
  }

  test("q_ml_ridge_cv: exactly one winner; λ grid actually moves the model") {
    import spark.implicits._
    val rows = MlOps.mlRidgeCv(spark, sf).collect()
    assert(rows.length == 4, s"expected 4 grid rows, got ${rows.length}")
    assert(rows.map(_.getInt(2)).sum == 1, "expected exactly one is_best=1")
    val byLambda = rows.map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // each λ must yield a DISTINCT held-out RMSE (the grid is live —
    // the fixture's price~quantity relation is weak enough that the
    // direction of the shrinkage effect is data-dependent, so only
    // distinctness is asserted, not ordering)
    assert(byLambda.values.toSet.size == 4,
      s"grid λs collapsed to identical RMSE: $byLambda")
    assert(rows.forall(_.getDouble(1) > 0), "non-positive RMSE")
    // the winner carries the minimum mean RMSE
    val best = rows.find(_.getInt(2) == 1).get.getDouble(1)
    assert(best == byLambda.values.min, "is_best row is not the minimum")
  }

  test("q_ml_calibration: bins partition all orders; probabilities in range") {
    import spark.implicits._
    val rows = MlOps.mlCalibration(spark, sf).collect()
    val nOrders = graft.engine.Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nOrders,
      "calibration bins do not partition the order population")
    rows.foreach { r =>
      val (bin, avgP, obs) = (r.getInt(0), r.getDouble(2), r.getDouble(3))
      assert(bin >= 0 && bin <= 10, s"bin $bin out of range")
      assert(avgP >= 0.0 && avgP <= 1.0, s"avg_p $avgP out of [0,1]")
      assert(obs >= 0.0 && obs <= 1.0, s"obs_rate $obs out of [0,1]")
      // decile consistency: the bin's mean prediction lies in its decile
      assert(avgP * 10 >= bin - 1e-6 && avgP * 10 <= bin + 1 + 1e-6,
        s"avg_p $avgP outside decile $bin")
    }
  }

  test("q_ts_cusum: statistics nonnegative, alarm consistent, no window") {
    import spark.implicits._
    val df = TsOps.tsCusum(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pos, neg, alarm) = (r.getDouble(2), r.getDouble(3), r.getInt(4))
      assert(pos >= 0.0 && neg >= 0.0, s"CUSUM statistic negative: $r")
      assert(alarm == (if (pos > 4.0 || neg > 4.0) 1 else 0),
        s"alarm inconsistent with threshold: $r")
    }
    // the prefix-identity rewrite must not reintroduce a window sort
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("Window"),
      "tsCusum should have no WindowExec (prefix-identity rewrite)")
  }

  test("q_sample_bootstrap: CI brackets the estimate; replicas resample ~n rows") {
    import spark.implicits._
    val rows = graft.operators.SampleOps.sampleBootstrap(spark, sf).collect()
    assert(rows.length == 32, s"expected 32 replicas, got ${rows.length}")
    val n = graft.engine.Tables.events(spark, sf).count()
    val (est, se, lo, hi) = (rows(0).getDouble(3), rows(0).getDouble(4),
      rows(0).getDouble(5), rows(0).getDouble(6))
    assert(se > 0, "bootstrap SE must be positive")
    assert(lo < est && est < hi, s"CI [$lo,$hi] must bracket est=$est")
    rows.foreach { r =>
      // Poisson(1) weights: each replica's effective n is ~Binomial-ish
      // around n — a gross deviation means the CDF thresholds are wrong
      val nEff = r.getLong(1).toDouble
      assert(nEff > 0.7 * n && nEff < 1.3 * n,
        s"replica n_eff=$nEff far from n=$n — weight CDF broken?")
      val m = r.getDouble(2)
      assert(m > lo - 20 * se && m < hi + 20 * se,
        s"replica mean $m absurdly far from the estimate")
    }
  }

  test("q_ml_mutual_info: information inequalities hold") {
    import spark.implicits._
    val r = MlOps.mlMutualInfo(spark, sf).collect()(0)
    val (mi, hy, uc) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // I(X;Y) >= 0 (within rnd6 noise of per-cell rounding) and
    // I(X;Y) <= H(Y); the uncertainty coefficient is their ratio
    assert(mi >= -1e-4, s"MI materially negative: $mi")
    assert(mi <= hy + 1e-4, s"MI $mi exceeds H(Y) $hy")
    assert(uc >= -1e-4 && uc <= 1.0 + 1e-4, s"U(Y|X) $uc out of [0,1]")
    assert(hy > 0, "label entropy must be positive on 3 classes")
  }

  test("q_dq_benford: digit distribution is a probability vector; chi2 >= 0") {
    import spark.implicits._
    val rows = graft.operators.DqOps.dqBenford(spark, sf).collect()
    assert(rows.length == 9, s"expected digits 1..9, got ${rows.length}")
    val pObsSum = rows.map(_.getDouble(2)).sum
    val pExpSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(pObsSum - 1.0) < 1e-4, s"observed p sums to $pObsSum")
    assert(math.abs(pExpSum - 1.0) < 1e-4, s"Benford p sums to $pExpSum")
    assert(rows.forall(_.getDouble(4) >= 0), "chi2 negative")
    assert(rows.map(_.getDouble(4)).distinct.length == 1,
      "chi2 must be the same broadcast total on every row")
  }

  test("q_events_survival: S(t) is a monotone step function from 1") {
    import spark.implicits._
    val rows = graft.operators.SnapshotOps.eventsSurvival(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val surv = rows.map(_.getDouble(4))
    assert(surv.forall(s => s >= 0.0 && s <= 1.0), "S(t) out of [0,1]")
    // KM is non-increasing in t (rows come back ordered by t)
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"survival curve not monotone: ${surv.toSeq}")
    // at-risk counts are non-increasing and start at the user total
    val risk = rows.map(_.getLong(1))
    assert(risk.zip(risk.tail).forall { case (a, b) => b <= a },
      "at-risk counts must be non-increasing")
    val users = graft.engine.Tables.events(spark, sf)
      .select($"user_id").distinct().count()
    assert(risk.head == users,
      s"first at-risk ${risk.head} != user count $users")
  }

  test("q_graph_kcore: peel reaches its fixpoint within the unrolled rounds") {
    val atRounds = graft.operators.GraphOps.graphKcore(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val onePast = graft.operators.GraphOps.graphKcoreRounds(spark, sf, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(atRounds.nonEmpty, "empty k-core at fixture scale")
    assert(atRounds == onePast,
      "one extra peel round changed the core — ROUNDS too small for this graph")
  }

  test("new operators keep their scale plan shapes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def planOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect(); df.queryExecution.executedPlan
    }
    // survival: the product-limit rewrite must stay window-free
    val surv = planOf(graft.operators.SnapshotOps.eventsSurvival(spark, sf))
    assert(collectWithSubqueries(surv) { case w: WindowExec => w }.isEmpty,
      "eventsSurvival must not use a window")
    // mutual information: marginals join the contingency table via
    // broadcast (bounded-domain), never a shuffled join
    val mi = planOf(MlOps.mlMutualInfo(spark, sf))
    assert(collectWithSubqueries(mi) {
      case b: BroadcastHashJoinExec => b
    }.nonEmpty, "mlMutualInfo marginal joins should broadcast")
    // bootstrap: the replica explode must collapse through partial
    // aggregation — a bounded number of exchanges regardless of B
    val boot = planOf(graft.operators.SampleOps.sampleBootstrap(spark, sf))
    // observed: replica groupBy (×2 branches), two 1-row aggregates,
    // final orderBy — only the replica exchange carries data, and the
    // partial agg upstream means it moves B rows per map partition,
    // never the exploded corpus
    val bootShuffles = collectWithSubqueries(boot) {
      case s: ShuffleExchangeExec => s
    }
    assert(bootShuffles.size <= 6,
      s"sampleBootstrap grew ${bootShuffles.size} shuffles")
  }

  test("q_simsearch_recall: one row per query, recall = hits/k in [0,1]") {
    import spark.implicits._
    val rows = SimOps.simsearchRecall(spark, sf).collect()
    assert(rows.length == 8, s"expected 8 query rows, got ${rows.length}")
    rows.foreach { r =>
      val (hits, recall) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 5, s"hits $hits out of [0,5]")
      assert(math.abs(recall - hits / 5.0) < 1e-9, s"recall != hits/k: $r")
    }
    // the IVF probe is a real prune: mean recall must still be useful
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    assert(mean >= 0.2, s"IVF recall collapsed: $mean")
  }

  test("graft_zorder: interleave laws + codegen agrees with eval") {
    import spark.implicits._
    import graft.functions.ZOrder
    // reference laws: bijective on the 256×256 grid, bit-local
    // (tile id = interleave of the high bits), monotone within a tile
    val seen = new Array[Boolean](65536)
    for (x <- 0 until 256; y <- 0 until 256) {
      val z = ZOrder.interleave8(x, y)
      assert(z >= 0 && z < 65536 && !seen(z.toInt), s"collision at ($x,$y)")
      seen(z.toInt) = true
      assert(z >> 10 == ZOrder.interleave8(x >> 5, y >> 5),
        s"tile id is not the high-bit interleave at ($x,$y)")
    }
    // codegen path (DataFrame eval) matches the reference on a grid
    val rows = spark.range(0, 4096).toDF("i")
      .select(expr("i div 64").as("x"), expr("i % 64").as("y"),
        ZOrder(expr("i div 64"), expr("i % 64")).as("z"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == ZOrder.interleave8(r.getLong(0), r.getLong(1)),
        s"codegen disagrees with reference at $r")
    }
  }

  test("TopKPerKey partial-state cap: pass-through fallback is result-identical") {
    import graft.operators.WindowOps
    import graft.plans.{PartialTopKPerKeyExec, TopKPerKey, TopKPerKeyPlan}
    val native = WindowOps.rankTopNNative(spark, sf)
    val dflt = native.collect().toSeq
    // cap of 2 distinct keys per partition forces almost every row of
    // every map partition through the un-pruned pass-through path —
    // the final exec must still produce byte-identical top-k
    val cappedDf = TopKPerKey.frame(spark, native.queryExecution.analyzed
      .transform { case p: TopKPerKeyPlan => p.copy(maxPartialKeys = 2) })
    assert(collectWithSubqueries(cappedDf.queryExecution.executedPlan) {
      case p: PartialTopKPerKeyExec => p.maxPartialKeys
    } == Seq(2), "the cap must reach the partial exec")
    val capped = cappedDf.collect().toSeq
    assert(capped == dflt,
      "partial-heap cap changed the operator's results")
  }

  test("q_upsert_merge: replaying the change feed is idempotent; actions consistent with the diff") {
    import graft.operators.SnapshotOps
    val once = SnapshotOps.upsertMerge(spark, sf).collect().toSeq
    val again = SnapshotOps.upsertMerge(spark, sf).collect().toSeq
    assert(once == again, "merge apply is not replay-idempotent")
    // a merged table never contains a deleted key, and every action
    // tag is one of the three MERGE outcomes
    val actions = once.map(_.getString(1)).toSet
    assert(actions.subsetOf(Set("kept", "updated", "inserted")),
      s"unexpected action tags: $actions")
    assert(actions.contains("updated") && actions.contains("kept"),
      "fixture should exercise both matched and unmatched branches")
  }
}
