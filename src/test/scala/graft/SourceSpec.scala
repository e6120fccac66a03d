package graft

import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.operators.SourceOps
import graft.sources.{SynthScan, SynthSource}

/** Pins the DataSourceV2 connector contract for [[graft.sources.SynthSource]]:
  * pushdown actually reached the source, pruning actually dropped
  * partitions/columns, and no residual FilterExec re-checks what the
  * source already guaranteed. These are the plan properties that make
  * a custom source viable at 100 TB — asserted, not narrated. */
class SourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def synthScan(plan: SparkPlan): SynthScan = {
    val scans = collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.isInstanceOf[SynthScan] =>
        b.scan.asInstanceOf[SynthScan]
    }
    assert(scans.size == 1, s"expected exactly one synth scan:\n$plan")
    scans.head
  }

  test("bucket equality + id range push into the source and prune to 1 of 32 partitions") {
    val df = SourceOps.sourceSynth(spark, sf)
    df.collect() // finalize any adaptive plan before inspecting
    val plan = df.queryExecution.executedPlan
    val scan = synthScan(plan)

    assert(scan.keptBuckets == Seq(3),
      s"bucket filter should prune partitions, kept=${scan.keptBuckets}")
    assert(scan.planInputPartitions().length == 1)
    val pushed = scan.description()
    assert(pushed.contains("EqualTo(bucket,3)") &&
      pushed.contains("GreaterThanOrEqual(id,1000)") &&
      pushed.contains("LessThan(id,20000)"),
      s"expected all three predicates pushed: $pushed")
    // fully-applied pushdown ⇒ Spark plans no post-scan re-filter
    val residual = collectWithSubqueries(plan) { case f: FilterExec => f }
    assert(residual.isEmpty, s"unexpected residual FilterExec:\n$plan")
  }

  test("aggregate prunes the id column out of the scan while still pushing its bound") {
    val df = SourceOps.sourceSynthAgg(spark, sf)
    df.collect()
    val scan = synthScan(df.queryExecution.executedPlan)

    assert(scan.readSchema().fieldNames.toSeq == Seq("bucket", "value"),
      s"id should be pruned from the read schema: ${scan.readSchema()}")
    assert(scan.keptBuckets.length == 32, "no bucket predicate ⇒ all partitions")
    assert(scan.description().contains("LessThan(id,30000)"),
      s"id bound should still push without the column being read: ${scan.description()}")
  }

  test("unsupported predicates stay residual instead of being wrongly consumed") {
    import spark.implicits._
    // value predicate is NOT evaluable by the generator — must remain
    // a post-scan filter, and the result must still be exact
    val df = spark.read.format("graft-synth").load()
      .filter($"value" > 0.5 && $"bucket" === 7)
    val n = df.count()
    val scan = synthScan(df.queryExecution.executedPlan)
    assert(scan.keptBuckets == Seq(7))
    assert(!scan.description().contains("GreaterThan(value"),
      s"value predicate must not be claimed as pushed: ${scan.description()}")
    val expected = (0L until 60000L).count(id =>
      id % 32 == 7 && SynthSource.valueOf(id) > 0.5)
    assert(n == expected)
  }

  test("reported statistics reflect pruning so small pruned reads can broadcast") {
    import spark.implicits._
    val df = spark.read.format("graft-synth").load()
      .filter($"bucket" === 3 && $"id" < 20000L)
    df.collect()
    val scan = synthScan(df.queryExecution.executedPlan)
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 20000 / 32,
      s"expected post-pushdown row estimate, got ${stats.numRows()}")
    assert(stats.sizeInBytes().getAsLong < 10L * 1024 * 1024,
      "pruned remainder should look broadcastable")
  }

  test("orderBy(id).limit(n) pushes TopN fully into the source (1 partition, no Spark sort)") {
    val df = SourceOps.sourceSynthTopn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scan = synthScan(plan)
    assert(scan.topN == 9, s"topN not pushed: ${scan.description()}")
    assert(scan.planInputPartitions().length == 1,
      "fully-pushed TopN must plan exactly one ordered partition")
    // fully pushed → no SortExec anywhere in the executed plan
    val sorts = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty, s"expected no Spark-side sort:\n$plan")
    // and the rows really are the 9 smallest ids of bucket 11
    val ids = df.collect().map(_.getAs[Long]("id")).toSeq
    assert(ids == (0 until 9).map(i => 11L + 32L * i))
  }

  test("COUNT/MIN/MAX/SUM push COMPLETELY into the source: no aggregate exec at all") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    val df = SourceOps.sourceSynthAggPushdown(spark, sf)
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.executedPlan
    val aggs = collectWithSubqueries(plan) {
      case h: HashAggregateExec => h
      case o: ObjectHashAggregateExec => o
      case s: SortAggregateExec => s
    }
    assert(aggs.isEmpty,
      s"complete aggregate pushdown must leave NO aggregate exec:\n$plan")
    val scans = collectWithSubqueries(plan) {
      case b: BatchScanExec
          if b.scan.isInstanceOf[graft.sources.SynthAggScan] =>
        b.scan.asInstanceOf[graft.sources.SynthAggScan]
    }
    assert(scans.size == 1,
      s"the scan must be the closed-form aggregate scan:\n$plan")
    assert(scans.head.description().contains("grouped=true"))
    // and the closed-form answers equal a plain Spark aggregate over
    // the unpushed scan (count(lit(1)) does not translate to the V2
    // CountStar shape, so this twin keeps Spark's own aggregate)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val plain = spark.read
      .format(classOf[graft.sources.SynthSource].getName)
      .option("rows", "60000").option("buckets", "32").load()
      .filter($"id" >= 5000L && $"id" < 50000L)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"id").as("min_id"),
        max($"id").as("max_id"), sum($"id").as("sum_id"))
      .orderBy($"bucket").collect().toSeq
    assert(df.collect().toSeq == plain,
      "closed-form source aggregates must equal Spark's own")
  }

  private def hashShuffles(plan: SparkPlan) = collectWithSubqueries(plan) {
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
  }

  test("SPJ: reported key-grouped partitioning makes GROUP BY bucket exchange-free") {
    val df = SourceOps.sourceSpjAgg(spark, sf)
    df.collect()
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.executedPlan
    // the only exchange allowed is the final ORDER BY's range exchange;
    // the aggregate itself must consume the storage partitioning
    assert(hashShuffles(plan).isEmpty,
      s"GROUP BY bucket over a key-grouped scan must not shuffle:\n$plan")
    val scan = synthScan(plan)
    assert(scan.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      s"scan must report key-grouped partitioning: ${scan.outputPartitioning()}")
  }

  test("SPJ: join on (bucket, id) between two co-bucketed scans plans zero shuffles") {
    val df = SourceOps.sourceSpjJoin(spark, sf)
    val n = df.count() // count() avoids the final ORDER BY exchange entirely
    assert(n == 5000, s"ids in [40000, 45000) on both sides, got $n")
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.executedPlan
    assert(hashShuffles(plan).isEmpty,
      s"storage-partitioned join must not shuffle either side:\n$plan")
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"expected the hinted sort-merge join:\n$plan")
    val scans = collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.isInstanceOf[SynthScan] => b
    }
    assert(scans.size == 2, s"both sides must be synth scans:\n$plan")
  }

  test("TopN and pruned-bucket scans do not claim key-grouped partitioning") {
    // a single merged TopN partition has no per-partition key; a scan
    // that pruned the bucket column cannot resolve the key expression
    val topn = SourceOps.sourceSynthTopn(spark, sf)
    topn.collect()
    val s1 = synthScan(topn.queryExecution.executedPlan)
    assert(!s1.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
    import spark.implicits._
    val pruned = spark.read.format("graft-synth").load().select($"id")
    pruned.collect()
    val s2 = synthScan(pruned.queryExecution.executedPlan)
    assert(!s2.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
  }

  test("memsink V2 write: overwrite truncates, append accumulates, result matches the query") {
    import spark.implicits._
    import graft.sources.{MemSink, MemSinkRegistry}
    val table = "sourcespec_sink"
    MemSinkRegistry.clear(table)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(3) // exercise multi-partition task commits

    df.write.format(classOf[MemSink].getName)
      .option("table", table).mode("overwrite").save()
    val (schema1, rows1) = MemSinkRegistry.read(table).get
    assert(schema1.fieldNames.toSeq == Seq("k", "v"))
    assert(rows1.map(_.head).toSet == Set(1L, 2L, 3L))

    // append mode accumulates on top of the committed snapshot
    df.write.format(classOf[MemSink].getName)
      .option("table", table).mode("append").save()
    assert(MemSinkRegistry.read(table).get._2.size == 6,
      "append must accumulate")

    // overwrite truncates back to one snapshot — the idempotent re-run
    df.write.format(classOf[MemSink].getName)
      .option("table", table).mode("overwrite").save()
    assert(MemSinkRegistry.read(table).get._2.size == 3,
      "overwrite must truncate")
    MemSinkRegistry.clear(table)
  }

  test("memsink append commit is lost-update-free under concurrent jobs") {
    import spark.implicits._
    import graft.sources.{MemSink, MemSinkRegistry}
    val table = "sourcespec_sink_cc"
    MemSinkRegistry.clear(table)
    // 8 concurrent append jobs of 10 rows each: a get-then-put commit
    // races and drops batches; the CAS publish must land all 80
    val jobs = (0 until 8).map { j =>
      scala.concurrent.Future {
        (0 until 10).map(i => (j * 100L + i, s"w$j")).toDF("k", "v")
          .write.format(classOf[MemSink].getName)
          .option("table", table).mode("append").save()
      }(scala.concurrent.ExecutionContext.global)
    }
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(jobs), 120.seconds)
    val rows = MemSinkRegistry.read(table).get._2
    assert(rows.size == 80, s"lost update: ${rows.size} of 80 rows landed")
    assert(rows.map(_.head).toSet.size == 80)
    MemSinkRegistry.clear(table)
  }

  test("q_sink_v2 round-trips the aggregate through the V2 write protocol") {
    import spark.implicits._
    val out = SourceOps.sinkV2(spark, sf).collect()
    val direct = graft.engine.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag", $"l_linestatus").collect()
    assert(out.toSeq == direct.toSeq,
      "sink round-trip must equal the direct aggregate")
  }
}
