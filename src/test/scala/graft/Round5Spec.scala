package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-5 hardening: cache lifecycle, idempotent foreachBatch sink,
  * and physical partition pruning for the LSH similarity layout. */
class Round5Spec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("DfCache evicts and unpersists other scale-factor scopes") {
    import spark.implicits._
    val c = graft.engine.DfCache
    val a = c(spark, "/tmp/sfA", "x")(spark.range(10).toDF("v"))
    a.count()
    assert(a.storageLevel != StorageLevel.NONE, "first scope not persisted")
    val b = c(spark, "/tmp/sfB", "x")(spark.range(5).toDF("v"))
    b.count()
    // requesting a NEW sfDir scope must evict + unpersist the old one
    assert(a.storageLevel == StorageLevel.NONE,
      "old scope's DataFrame still persisted after scope switch")
    assert(b.storageLevel != StorageLevel.NONE)
    val scopes = c.keys.map(_._1)
    assert(scopes.size == 1 && scopes.head.endsWith("/tmp/sfB"),
      s"expected only the new scope to survive, got $scopes")
    // values still CORRECT after eviction (recompute, not failure)
    assert(a.as[Long].collect().sorted.toSeq == (0L until 10L))
  }

  test("foreachBatch dynamic-overwrite sink is idempotent under batch re-delivery") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft_feb_idem").toFile.getAbsolutePath
    val b0 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("event_id", "k", "value")
    val b1 = Seq((3L, "c", 3.0)).toDF("event_id", "k", "value")
    graft.streaming.StreamOps.febWrite(out)(b0, 0L)
    graft.streaming.StreamOps.febWrite(out)(b1, 1L)
    val before = spark.read.parquet(out)
      .select($"event_id", $"k", $"value", $"batch_id".cast("long"))
      .collect().map(_.toString).sorted.toSeq
    // retry/duplicate delivery of batch 0: same data, same batch id —
    // the partition is REPLACED, not appended to
    graft.streaming.StreamOps.febWrite(out)(b0, 0L)
    val after = spark.read.parquet(out)
      .select($"event_id", $"k", $"value", $"batch_id".cast("long"))
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "re-delivered batch changed the sink contents")
    assert(before.length == 3)
  }

  test("AQE splits a skewed join partition at runtime (automatic complement of q_join_salted)") {
    import spark.implicits._
    // 100 TB story: q_join_salted is the MANUAL hot-key mitigation;
    // this pins Spark's AUTOMATIC one — AQE's OptimizeSkewedJoin
    // re-plans a sort-merge join at runtime, splitting the oversized
    // partition across tasks. Thresholds are cluster-scale knobs
    // (256 MB default), so the test lowers them to fixture scale; the
    // skew itself is synthetic (90 % of rows on one key).
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90 % of fact rows on key 0, the rest uniform over 0..99; the
      // varying payload keeps shuffle bytes real (and column pruning
      // from erasing them — the downstream agg consumes the payload).
      // The consumer is a GLOBAL aggregate on purpose: a groupBy on
      // the join key would reuse the join's hash partitioning, and
      // OptimizeSkewedJoin declines to split when the split would
      // force an extra downstream exchange — itself a scale lesson:
      // AQE skew handling applies when the join output has no
      // key-distribution requirement (or forceOptimizeSkewedJoin).
      val fact = spark.range(0, 100000)
        .select(when($"id" % 10 =!= 0, lit(0L))
          .otherwise(($"id" / 10).cast("long") % 100).as("k"),
          rpad(concat(lit("x"), $"id".cast("string")), 64, "y").as("payload"))
      val dim = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length($"payload")).as("bytes"),
          sum($"v").as("sv"))
      val row = joined.collect()(0)
      val skewJoins = collectWithSubqueries(joined.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.isSkewJoin => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.isSkewJoin => j
      }
      assert(skewJoins.nonEmpty,
        s"OptimizeSkewedJoin did not fire:\n${joined.queryExecution.executedPlan}")
      // results identical to the arithmetic ground truth: every fact
      // row joins exactly once; key 0 carries 90000 + 100 of them
      assert(row.getLong(0) == 100000L, s"row count ${row.getLong(0)}")
      assert(row.getLong(1) == 100000L * 64, "payload bytes changed")
      // sv = sum over rows of 2k: 90100 rows at k=0 contribute 0;
      // each other key k has 100 rows → 100 * Σ 2k, k=1..99
      assert(row.getLong(2) == 100L * 2 * (99L * 100 / 2),
        "skew split changed the join result")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("topk rewrite rule swaps row_number<=k windows for the custom operator") {
    import graft.operators.WindowOps
    // the rewrite applied to the window query's plan, as
    // q_win_rank_topn_auto applies it
    val auto = WindowOps.rankTopNAuto(spark, sf)
    val plan = { auto.collect(); auto.queryExecution.executedPlan }
    assert(collectWithSubqueries(plan) {
      case e: graft.plans.TopKPerKeyExec => e
    }.nonEmpty, s"rewrite did not produce the custom operator:\n$plan")
    assert(collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "rewrite left a WindowExec behind")
    val window = WindowOps.rankTopN(spark, sf)
    assert(auto.collect().toSeq == window.collect().toSeq,
      "rewritten plan changed the result")
    // the verbatim window query is left alone: nothing rewrites it unasked
    assert(collectWithSubqueries(window.queryExecution.executedPlan) {
      case e: graft.plans.TopKPerKeyExec => e
    }.isEmpty, "the window query planned through the custom operator")
  }

  test("topk rewrite declines tie-capable ranks and unpartitioned windows") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = graft.engine.Tables.orders(spark, sf)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    def forced(df: org.apache.spark.sql.DataFrame) =
      graft.plans.TopKRewrite(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
          .queryExecution.analyzed)
    // dense_rank ties can exceed k rows per key — a size-k heap must not apply
    val dr = base.withColumn("rk", dense_rank().over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)))
      .filter($"rk" <= 3)
    assert(!forced(dr).exists(_.isInstanceOf[graft.plans.TopKPerKeyPlan]),
      "rewrote a dense_rank filter")
    // global top-k (no partition keys) belongs to TakeOrderedAndProject
    val gl = base.withColumn("rk", row_number().over(
        Window.orderBy($"o_totalprice".desc, $"o_orderkey".asc)))
      .filter($"rk" <= 3)
    assert(!forced(gl).exists(_.isInstanceOf[graft.plans.TopKPerKeyPlan]),
      "rewrote an unpartitioned window")
  }

  test("binaryFile source delivers byte-identical payloads (sha-256 vs java.nio)") {
    import spark.implicits._
    val got = spark.read.format("binaryFile").load(s"$sf/*.parquet")
      .select(element_at(split($"path", "/"), -1).as("name"),
        sha2($"content", 256).as("sha"))
      .as[(String, String)].collect().toMap
    assert(got.nonEmpty)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    got.keys.foreach { name =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$sf/$name"))
      val want = md.digest(bytes).map("%02x".format(_)).mkString
      assert(got(name) == want, s"payload bytes differ for $name")
    }
  }

  test("LSH pruned search reads only the probed bucket partitions via DPP") {
    val df = graft.operators.SimOps.simsearchLshPruned(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("emb_lsh"))
        => f
    }
    assert(scans.nonEmpty, "expected a scan over the partitioned LSH layout")
    assert(scans.exists(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions
        .DynamicPruningExpression]))),
      s"expected a DynamicPruningExpression partition filter on the " +
        s"bucket-partitioned layout:\n${df.queryExecution.executedPlan}")
    // and the values agree with the in-join LSH form on the same data
    val pruned = df.collect().map(_.toString).toSeq
    val plain = graft.operators.SimOps.simsearchLsh(spark, sf)
      .collect().map(_.toString).toSeq
    assert(pruned == plain, "pruned-layout LSH disagrees with in-join LSH")
  }

  test("NOT IN plans as a null-aware anti join, not a nested loop") {
    val df = graft.operators.SqlOps.subqueryNotIn(spark, sf)
    df.collect()
    val naaj = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.isNullAwareAntiJoin => j
    }
    assert(naaj.size == 1,
      s"expected one null-aware BroadcastHashJoin:\n${df.queryExecution.executedPlan}")
    val bnl = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.isEmpty, "NOT IN fell back to a nested-loop join")
  }

  test("kmeans assignment is map-side: no window, broadcast-only joins") {
    val df = graft.operators.MlOps.mlKmeans(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      "kmeans assignment must be a higher-order fold, not a ranking window")
    // every join in the plan is a broadcast of the (tiny) centroid
    // side — the corpus is never shuffled to be assigned
    val shuffledJoins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffledJoins.isEmpty,
      s"kmeans shuffled the corpus for assignment:\n$plan")
  }

  test("quantized ANN ranks through two native top-k stages, no windows") {
    val df = graft.operators.SimOps.simsearchQuantized(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val partials = collectWithSubqueries(plan) {
      case p: graft.plans.PartialTopKPerKeyExec => p
    }
    assert(partials.size == 2,
      s"expected both rank stages on the partial-heap operator:\n$plan")
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "quantized ANN still plans a ranking window")
  }

  test("naive bayes scores every held-out doc once with a valid argmax") {
    // NOTE on what is NOT asserted: the fixture's text is statistically
    // independent of the lang label (all langs draw from one shared
    // vocabulary with near-identical frequencies — verified by
    // inspection: per-lang top tokens coincide), so NO classifier can
    // reliably beat the majority baseline here and an accuracy bound
    // would pin noise. Value-correctness of the fit+score pipeline is
    // carried by the DuckDB oracle (q_ml_naive_bayes); this spec pins
    // the classifier CONTRACT: exactly one prediction per held-out
    // doc, labels from the training label set, finite log-posteriors.
    import spark.implicits._
    val pred = graft.operators.MlOps.mlNaiveBayes(spark, sf).collect()
    val nTest = graft.engine.Tables.documents(spark, sf)
      .filter($"doc_id" % 5 === 0).count()
    assert(pred.length == nTest,
      s"${pred.length} prediction rows for $nTest held-out docs")
    val langs = graft.engine.Tables.documents(spark, sf)
      .filter($"doc_id" % 5 =!= 0)
      .select($"lang").distinct().as[String].collect().toSet
    assert(pred.forall(r => langs.contains(r.getString(2))),
      "a prediction used a label absent from the training set")
    assert(pred.forall { r =>
      val s = r.getDouble(3); !s.isNaN && !s.isInfinite && s < 0.0
    }, "a log-posterior is not a finite negative")
  }

  test("AUC is a valid probability and the ROC curve is monotone") {
    import spark.implicits._
    val rows = graft.operators.MlOps.mlAuc(spark, sf)
      .select($"thr", $"tpr", $"fpr", $"auc").orderBy($"thr").collect()
    val auc = rows.head.getDouble(3)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(rows.forall(_.getDouble(3) == auc), "auc not constant across rows")
    // higher threshold → fewer predicted positives → tpr/fpr non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(1) <= a.getDouble(1) + 1e-12, "tpr not monotone")
      assert(b.getDouble(2) <= a.getDouble(2) + 1e-12, "fpr not monotone")
    case _ => ()
    }
  }

  test("islands partition user activity: day counts add up, one longest per user") {
    import spark.implicits._
    val isl = graft.operators.WindowOps.winIslands(spark, sf).cache()
    val sumDays = isl.agg(sum($"n_days")).head.getLong(0)
    val userDays = graft.engine.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts")).distinct().count()
    assert(sumDays == userDays,
      s"island day total $sumDays != distinct user-days $userDays")
    val multiLongest = isl.filter($"is_longest")
      .groupBy($"user_id").count().filter($"count" > 1).count()
    assert(multiLongest == 0, "a user has more than one longest streak")
    isl.unpersist()
  }

  test("bloom incremental dedup: no false negatives, bounded FPs, deterministic") {
    import spark.implicits._
    val r1 = graft.operators.DedupOps.dedupBloom(spark, sf)
      .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val r2 = graft.operators.DedupOps.dedupBloom(spark, sf)
      .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(r1.toSeq == r2.toSeq, "bloom gate not deterministic across runs")
    val Some((_, nNew, fpNew)) = r1.find(!_._1)
    val Some((_, nRep, flRep)) = r1.find(_._1)
    assert(flRep == nRep,
      s"false negatives: only $flRep of $nRep replayed docs flagged")
    // fpp = 0.01 at 100k capacity, corpus is far below capacity →
    // generous 5 % ceiling absorbs per-run variance in the FP draw
    assert(fpNew.toDouble / nNew <= 0.05,
      s"FP rate ${fpNew.toDouble / nNew} above bound ($fpNew of $nNew)")
  }

  test("covmatrix pairs are map-side: no join, one hash exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = graft.operators.MlOps.mlCovmatrix(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collectWithSubqueries(plan) {
      case j if j.nodeName.contains("Join") => j
    }
    assert(joins.isEmpty,
      s"pair generation should be a lambda, not a join: ${joins.map(_.nodeName)}")
    val hashEx = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }
    assert(hashEx.size == 1,
      s"expected exactly the (i, j) moment exchange, got ${hashEx.size}")
  }

  test("naive bayes scoring joins are broadcast-only") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val df = graft.operators.MlOps.mlNaiveBayes(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffledJoins = collectWithSubqueries(plan) {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(shuffledJoins.isEmpty,
      "model/prior joins must broadcast — a shuffled join means the " +
        s"corpus re-partitioned on model keys: ${shuffledJoins.map(_.nodeName)}")
    val broadcasts = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(broadcasts.nonEmpty, "expected broadcast model joins")
  }

  test("perplexity plans no window and broadcasts the bigram model") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.operators.TextOps.textPerplexity(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty,
      "bigram generation must be the map-side lambda, not a window")
    assert(collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "expected the broadcast model join")
  }

  test("partitioned sink writes one file per partition, clustered by date") {
    import spark.implicits._
    // materialize the layout (also oracle-checked as q_sink_partitioned)
    graft.operators.ScanOps.sinkPartitioned(spark, sf).collect()
    val root = new java.io.File(
      graft.engine.DfCache.scratch(spark, sf, "orders_by_status"))
    val dirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("o_orderstatus="))
    assert(dirs.nonEmpty, s"no partition dirs under $root")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName}: expected exactly one file, got ${files.length}")
      // within-file clustering: rows come back in write order — must be
      // non-decreasing on the sortWithinPartitions key (o_orderdate)
      val dates = spark.read.parquet(files.head.getAbsolutePath)
        .select($"o_orderdate").collect().map(_.getTimestamp(0).getTime)
      assert(dates.length > 0)
      assert(dates.zip(dates.tail).forall { case (a, b) => a <= b },
        s"${d.getName}: file not sorted by o_orderdate")
    }
  }
}
