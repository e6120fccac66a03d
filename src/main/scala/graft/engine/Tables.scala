package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.parquet.schema.LogicalTypeAnnotation

/** Canonical loaders for the fixture tables (schemas measured in
  * FIXTURES.md). Explicit schemas: typed code paths must not depend on
  * inference, and a schema drift should fail loudly at read time.
  *
  * Scale note (100 TB): these are plain parquet scans — Catalyst pushes
  * filters/projections into the vectorized reader, so callers should
  * `select`/`filter` as early as possible and let pushdown do the rest.
  * No caching of data here: each query plans its own scan so column
  * pruning stays per-query (a cached wide scan would defeat pruning).
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** On-disk schema for the NANOSECOND generation of the fixture:
    * parquet timestamp[ns], which Spark's vectorized reader will not
    * coerce to (µs) TimestampType directly — we read it as a raw
    * nanosecond long (legacy nanosAsLong) and truncate to µs in
    * [[events]], matching DuckDB's ns→µs read. Later driver
    * generations write timestamp[µs], which reads as TimestampType
    * directly — [[eventsTsIsNanos]] sniffs the footer to pick the
    * right path. */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "supplier" -> supplierSchema, "customer" -> customerSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Base relation per (application, sfDir, table), memoized in
    * [[DfCache]]. This reuses the analyzed LogicalRelation OBJECT —
    * file listing and schema resolution happen once per session —
    * while each query still plans its own scan on top, so column
    * pruning and filter pushdown remain per-query (no data is cached
    * here). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events" && eventsTsIsNanos(spark, sfDir))
      // ns fixtures only: Spark reads timestamp[ns] as a raw long only
      // under this flag, read when an action plans the scan
      spark.conf.set(NanosAsLong._1, NanosAsLong._2)
    QuerySession.bind(DfCache.memo(spark, sfDir, s"table_$name") {
      if (name == "events") eventsRaw(spark, sfDir)
      else spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    }, spark)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  /** Whether this sfDir's events.parquet stores `ts` as timestamp[ns]
    * (early fixture generations) rather than timestamp[µs] (current).
    * Read from the `ts` column's logical type in the parquet footer,
    * ONCE per (application, sfDir), without touching session conf.
    * Wiring the unit to the FILE rather than the build means a
    * driver-side fixture regeneration can never silently shift every
    * event timestamp by 1000×. */
  def eventsTsIsNanos(s: SparkSession, d: String): Boolean =
    DfCache.memo(s, d, "events_ts_nanos") {
      val footer = FooterStats.schema(new java.io.File(s"$d/events.parquet"))
      footer.getType(footer.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
    }

  /** The conf an ns fixture's `ts` column is read under. */
  val NanosAsLong: (String, String) =
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  private def eventsRaw(s: SparkSession, d: String): DataFrame =
    if (eventsTsIsNanos(s, d))
      s.read.schema(eventsRawSchema).parquet(s"$d/events.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
    else
      s.read.schema(eventsSchema).parquet(s"$d/events.parquet")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `body` built on a clone of `spark` ([[QuerySession]]) that has
    * every fixture table as a temp view, for SQL-text entry points
    * like GROUP BY GROUPING SETS. Views, temp functions and helper
    * views that `body` creates stay in the clone, so a caller's own
    * `lineitem` view is never replaced. The result is bound to the
    * clone. */
  def withViews(spark: SparkSession, sfDir: String)(
      body: SparkSession => DataFrame): DataFrame =
    QuerySession(spark, Nil) { spark =>
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      body(spark)
    }
}
