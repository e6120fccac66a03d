package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Exact

/** Queries over the custom DataSourceV2 source ([[graft.sources.SynthSource]]).
  *
  * The table is a deterministic generator (id, bucket = id % 32,
  * value = Knuth-hash fraction), so the DuckDB oracle reproduces it
  * from `range(0, 60000)` with the identical integer arithmetic —
  * exact to the bit, no rounding needed. The generator size is FIXED
  * (independent of sfDir): what is under test is the connector's
  * pushdown/pruning machinery, not data volume.
  *
  * Scale note (100 TB): `q_source_synth` pushes `bucket = 3 AND id
  * BETWEEN …` INTO the source — the scan plans 1 of 32 partitions and
  * generates only the id range, the DSv2 contract that turns a custom
  * storage system into a prunable table. `q_source_synth_agg` prunes
  * columns instead (id is never materialized) and feeds the standard
  * partial/final hash aggregate. SourceSpec pins both plans (kept
  * partitions, pushed filters, read schema, no residual FilterExec).
  */
object SourceOps {
  import Exact._

  private val ROWS = 60000L
  private val BUCKETS = 32

  // format() by class name: the short name "graft-synth" resolves via
  // the META-INF/services registry, which is only on the classpath when
  // the resources are packaged (sbt test does; the harness's bare
  // classes-dir classpath does not) — SourceSpec covers the short name.
  private def synth(spark: SparkSession): DataFrame =
    spark.read.format(classOf[graft.sources.SynthSource].getName)
      .option("rows", ROWS.toString).option("buckets", BUCKETS.toString)
      .load()

  /** The oracle's reconstruction of the generator (DuckDB `range`). */
  private val synthCte: String =
    s"""synth AS (
       |  SELECT id, CAST(id % $BUCKETS AS INTEGER) AS bucket,
       |    ((id * 2654435761) % 1000003) / 1000003.0 AS value
       |  FROM range(0, $ROWS) t(id))""".stripMargin

  /** Point-lookup shape: bucket equality + id range, both pushed into
    * the source (1 of 32 partitions planned, bounded generation). */
  def sourceSynth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    synth(spark)
      .filter($"bucket" === 3 && $"id" >= 1000L && $"id" < 20000L)
      .orderBy($"id")
  }

  val sourceSynthSql: String =
    s"""WITH $synthCte
       |SELECT id, bucket, value FROM synth
       |WHERE bucket = 3 AND id >= 1000 AND id < 20000
       |ORDER BY id""".stripMargin

  /** Aggregate shape: per-bucket sums over an id range — the id
    * column is pruned out of the scan (only bucket/value generated)
    * and the range bound is still pushed. */
  def sourceSynthAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    synth(spark)
      .filter($"id" < 30000L)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
      .orderBy($"bucket")
  }

  val sourceSynthAggSql: String =
    s"""WITH $synthCte
       |SELECT bucket, COUNT(*) AS n, ${sqlXsum("value")} AS sum_value
       |FROM synth WHERE id < 30000
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TopN pushdown through the custom source
    * ([[org.apache.spark.sql.connector.read.SupportsPushDownTopN]]):
    * `ORDER BY id LIMIT 9` on a filtered bucket is served ENTIRELY by
    * the source — one input partition walks the kept residues in id
    * order and stops after 9 rows; Spark plans no Sort and no
    * heap-limit on top (fully pushed). This is how an index-backed
    * store serves order-by-key lookups without materializing the
    * table. SourceSpec pins the pushed topN and the single planned
    * partition. */
  def sourceSynthTopn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    synth(spark)
      .filter($"bucket" === 11)
      .orderBy($"id")
      .limit(9)
  }

  val sourceSynthTopnSql: String =
    s"""WITH $synthCte
       |SELECT id, bucket, value FROM synth
       |WHERE bucket = 11 ORDER BY id LIMIT 9""".stripMargin

  /** AGGREGATE pushdown through the custom source
    * ([[org.apache.spark.sql.connector.read.SupportsPushDownAggregates]],
    * COMPLETE mode): COUNT/MIN/MAX/SUM(id) grouped by bucket over a
    * pushed id range are answered by the source's residue-class
    * arithmetic — closed-form count/first/last/series-sum per
    * partition, NO rows generated, and Spark plans no HashAggregate
    * at all (SourceSpec pins the aggregate-free plan). This is the
    * top rung of the pushdown ladder: a storage layer holding
    * metadata (footer stats, index counters) serves whole aggregate
    * queries at manifest cost — at 100 TB, the difference between
    * scanning every file and reading the stats. */
  def sourceSynthAggPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    synth(spark)
      .filter($"id" >= 5000L && $"id" < 50000L)
      .groupBy($"bucket")
      .agg(count($"id").as("n"), min($"id").as("min_id"),
        max($"id").as("max_id"), sum($"id").as("sum_id"))
      .orderBy($"bucket")
  }

  val sourceSynthAggPushdownSql: String =
    s"""WITH $synthCte
       |SELECT bucket, COUNT(id) AS n, MIN(id) AS min_id,
       |  MAX(id) AS max_id, CAST(SUM(id) AS BIGINT) AS sum_id
       |FROM synth WHERE id >= 5000 AND id < 50000
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** A second, smaller instance of the generator (same bucket count,
    * so its key-grouped layout is compatible with [[synth]]'s). */
  private def synthSized(spark: SparkSession, rows: Long): DataFrame =
    spark.read.format(classOf[graft.sources.SynthSource].getName)
      .option("rows", rows.toString).option("buckets", BUCKETS.toString)
      .load()

  /** SHUFFLE-FREE AGGREGATION over reported storage partitioning
    * ([[org.apache.spark.sql.connector.read.SupportsReportPartitioning]]):
    * the source reports its one-partition-per-bucket layout as a
    * KeyGroupedPartitioning on `bucket` (each input partition carries
    * its key via HasPartitionKey), so `GROUP BY bucket` needs no
    * Exchange at all — the partial aggregate IS the final aggregate,
    * per storage partition. The sum is exact-decimal (not pushable as
    * a V2 aggregate), so this exercises the row-scan path, not the
    * aggregate-pushdown path. SourceSpec pins the exchange-free plan.
    * At 100 TB this is the difference between re-shuffling a bucketed
    * table on every aggregate and reading it pre-grouped — what
    * Iceberg/Delta bucket transforms buy under DSv2. */
  def sourceSpjAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    synth(spark)
      .filter($"id" >= 2000L)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"bucket")
  }

  val sourceSpjAggSql: String =
    s"""WITH $synthCte
       |SELECT bucket, COUNT(*) AS n, ${sqlXsum("value")} AS sum_value,
       |  MIN(value) AS min_value, MAX(value) AS max_value
       |FROM synth WHERE id >= 2000
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** STORAGE-PARTITIONED JOIN (SPJ): two instances of the generator
    * (60k and 45k rows, SAME 32-bucket layout) both report
    * KeyGroupedPartitioning on `bucket`; joining on (bucket, id) —
    * a superset of the partition key — lets Spark co-locate the join
    * on the reported layout with ZERO Exchange on either side (the
    * `merge` hint keeps the small side from broadcasting so the
    * co-partitioned path is actually exercised; SourceSpec pins the
    * exchange-free sort-merge plan). The id-range predicate still
    * pushes into both generators. This is DSv2's shuffle-free join
    * over co-bucketed tables — at 100 TB, the single biggest join
    * cost (re-shuffling both fact tables) deleted by layout. */
  def sourceSpjJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // join keys (bucket, id) are a SUPERSET of the partition key
    // (bucket): co-partitioning on the subset is exactly what SPJ
    // exploits, so relax the all-keys requirement (the conf Iceberg's
    // SPJ guide prescribes; v2 bucketing itself is on by default).
    // Purely a plan relaxation — Spark only elides an exchange where
    // distribution still holds. Session-wide, never restored: the
    // caller's action plans the returned frame lazily, after any
    // scoped restore.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val a = synth(spark)
    val b = synthSized(spark, 45000L)
    a.join(b.hint("merge"), Seq("bucket", "id"))
      .filter($"id" >= 40000L)
      .select($"id", $"bucket", (a("value") + b("value")).as("v2"))
      .orderBy($"id")
  }

  val sourceSpjJoinSql: String =
    s"""WITH $synthCte,
       |synth_b AS (
       |  SELECT id, CAST(id % $BUCKETS AS INTEGER) AS bucket,
       |    ((id * 2654435761) % 1000003) / 1000003.0 AS value
       |  FROM range(0, 45000) t(id))
       |SELECT a.id, a.bucket, a.value + b.value AS v2
       |FROM synth a JOIN synth_b b USING (bucket, id)
       |WHERE a.id >= 40000
       |ORDER BY a.id""".stripMargin

  /** The custom DataSourceV2 SINK end-to-end
    * ([[graft.sources.MemSink]]): the pricing-summary aggregate is
    * written through the full V2 write protocol — WriteBuilder →
    * truncate (mode "overwrite") → executor DataWriters →
    * task-commit messages → driver job commit — then read back from
    * the sink's storage and compared against the DuckDB oracle of
    * the SAME aggregate. Overwrite + the two-phase commit make the
    * query idempotent under both re-runs and task retries (a second
    * invocation truncates; an aborted task's buffer never reaches
    * commit). The write is partition-parallel: each of the
    * aggregate's output partitions commits its own message. */
  def sinkV2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Tables
    val table = "graft_sink_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), xsum($"l_quantity").as("sum_qty"))
      .write.format(classOf[graft.sources.MemSink].getName)
      .option("table", table).mode("overwrite").save()
    val (schema, rows) = graft.sources.MemSinkRegistry.read(table)
      .getOrElse(throw new IllegalStateException(
        s"MemSink commit did not publish table $table"))
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach(r => jrows.add(org.apache.spark.sql.Row.fromSeq(r)))
    spark.createDataFrame(jrows, schema)
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val sinkV2Sql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** WRITE-SIDE DISTRIBUTION CONTRACT (`RequiresDistributionAndOrdering`
    * on [[graft.sources.MemSink]]): the sink DECLARES it needs rows
    * clustered by `user_id` and sorted within each writer task, and
    * SPARK plans the exchange + sort to deliver it — the DSv2 hook
    * behind Iceberg/Delta write distribution modes. The sink audits
    * what actually arrived per task-commit message: `clustered_ok`
    * (no key split across two tasks), `sorted_ok` (each task saw one
    * non-decreasing run), `parallel_write` (more than one writer task
    * committed — the contract was satisfied by partitioning, not by
    * collapsing to one task). At 100 TB this is clustering paid for
    * inside the write shuffle the job runs anyway, instead of a
    * separate post-ingest OPTIMIZE pass over the same bytes. */
  def sinkV2Distribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Tables
    val table = "graft_sinkdist_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    graft.sources.MemSinkRegistry.clear(table)
    Tables.orders(spark, sfDir)
      .groupBy($"o_custkey".as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
      .write.format(classOf[graft.sources.MemSink].getName)
      .option("table", table).option("clusterBy", "user_id")
      .option("writePartitions", "8")
      .mode("overwrite").save()
    val (schema, rows) = graft.sources.MemSinkRegistry.read(table)
      .getOrElse(throw new IllegalStateException(
        s"MemSink commit did not publish table $table"))
    val (clustered, sorted, nTasks) =
      graft.sources.MemSinkRegistry.layout(table)
        .getOrElse(throw new IllegalStateException(
          s"clustered write published no layout audit for $table"))
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach(r => jrows.add(org.apache.spark.sql.Row.fromSeq(r)))
    spark.createDataFrame(jrows, schema)
      .select($"user_id", $"n_orders",
        lit(if (clustered) 1L else 0L).as("clustered_ok"),
        lit(if (sorted) 1L else 0L).as("sorted_ok"),
        lit(if (nTasks > 1) 1L else 0L).as("parallel_write"))
      .orderBy($"user_id")
  }

  val sinkV2DistributionSql: String =
    """SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
      |  CAST(1 AS BIGINT) AS clustered_ok,
      |  CAST(1 AS BIGINT) AS sorted_ok,
      |  CAST(1 AS BIGINT) AS parallel_write
      |FROM orders GROUP BY 1 ORDER BY user_id""".stripMargin
}
