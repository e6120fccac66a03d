package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Exact, Tables}

/** Window functions + sorts/limits (SURVEY.md §2.5–2.6).
  *
  * MR analog: secondary sort (composite key + grouping comparator) —
  * Spark's Window.partitionBy(...).orderBy(...) is the declarative
  * equivalent; one shuffle on the partition key, sort within.
  *
  * Determinism: every window ORDER BY carries a tiebreak down to a key
  * column — required for oracle parity AND for stable reruns at scale.
  * Running double sums go through DECIMAL(38,6) so frame accumulation
  * order can't change bytes (Exact, SURVEY.md §7.4).
  */
object WindowOps {
  import Exact._

  /** Per-customer top-3 orders (MR: top-N reducer; CF: top-K
    * neighbors). */
  def rankTopN(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  val rankTopNSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** [[rankTopN]] through the library's custom physical operator
    * ([[graft.plans.TopKPerKey]]): same rows, same oracle, but the
    * plan is partial-heap → exchange → final-heap instead of
    * exchange-all-rows → full sort → Window — the exchange carries at
    * most k rows per (key, map partition). The oracle twin proves the
    * custom operator's semantics equal the window form byte-for-byte;
    * PlanSpec pins the exchange-diet plan shape. */
  def rankTopNNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.TopKPerKey.topK(
      Tables.orders(spark, sfDir)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice"),
      keyCols = Seq("o_custkey"),
      orderSpec = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3, rankName = "rn")
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  val rankTopNNativeSql: String = rankTopNSql

  /** [[rankTopN]] rewritten AUTOMATICALLY: the query is the verbatim
    * idiomatic window formulation — no custom API call — and
    * [[graft.plans.TopKRewrite]] transforms its
    * `row_number() <= 3` filter-over-window into [[graft.plans
    * .TopKPerKeyPlan]], applied to the analyzed plan. Same oracle as
    * both siblings: three formulations, one semantics. */
  def rankTopNAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val win = rankTopN(spark, sfDir)
    graft.plans.TopKPerKey.frame(spark, graft.plans.TopKRewrite(
      win.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed))
  }

  val rankTopNAutoSql: String = rankTopNSql

  /** rank / dense_rank / percent_rank / ntile in one window spec. */
  def rankDense(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, sfDir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        ntile(4).over(w).as("quartile"))
      .filter($"rnk" <= 50)
      .orderBy($"o_orderpriority", $"rnk", $"o_orderkey")
  }

  val rankDenseSql: String =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    percent_rank() OVER w AS prnk,
      |    ntile(4) OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey ASC)
      |) WHERE rnk <= 50 ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin

  /** Inter-event gap per user via lag (sessionization prep). Gap in
    * exact integer microseconds — no float hazard. */
  def lagLead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts",
        lag($"ts", 1).over(w).as("prev_ts"),
        lead($"event_id", 1).over(w).as("next_event_id"))
      .select($"user_id", $"event_id", $"ts",
        (expr("unix_micros(ts)") - expr("unix_micros(prev_ts)")).as("gap_us"),
        $"next_event_id")
      .orderBy($"user_id", $"event_id")
  }

  val lagLeadSql: String =
    """SELECT user_id, event_id, ts,
      |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
      |  lead(event_id, 1) OVER w AS next_event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Running (cumulative) revenue per customer — ROWS frame. The sum is
    * decimal-exact so frame accumulation order cannot change bytes. */
  def frameRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        sum($"o_totalprice".cast(DecimalType(38, 6))).over(w)
          .cast(DoubleType).as("run_rev"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val frameRowsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_rev
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** 7-day moving revenue — RANGE frame over an integer day number
    * (numeric RANGE is the portable form; interval-RANGE dialects
    * differ). Two-level: daily pre-agg then window — the pre-agg
    * collapses 100 TB of orders to ~#days rows before the window. */
  def frameRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(xsum($"o_totalprice").as("day_rev"))
      .withColumn("day_num", expr("unix_micros(day) div 86400000000"))
    val w = Window.orderBy($"day_num").rangeBetween(-6, 0)
    daily
      .select($"day",
        sum($"day_rev".cast(DecimalType(38, 6))).over(w)
          .cast(DoubleType).as("mov_rev"))
      .orderBy($"day")
  }

  val frameRangeSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS day_rev,
      |    epoch_us(date_trunc('day', o_orderdate)) // 86400000000 AS day_num
      |  FROM orders GROUP BY 1
      |)
      |SELECT day,
      |  CAST(SUM(CAST(day_rev AS DECIMAL(38,6))) OVER (
      |    ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_rev
      |FROM daily ORDER BY day""".stripMargin

  /** Trailing 1-hour per-user event window — the PARTITIONED
    * time-range frame next to [[frameRange]]'s global per-day one:
    * RANGE over epoch seconds within each user's event stream (count
    * and decimal-exact value sum over everything ≤ 3599 s back). The
    * partition key makes this the shape that scales: one exchange on
    * user_id, per-user sorted ranges, no global anything. Numeric
    * RANGE again (interval-RANGE dialects differ); rows tied on the
    * same second share one frame, so the result is well-defined
    * without a sub-second tiebreak — the OUTPUT order still carries
    * event_id for totality. */
  def frameRangeTs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_timestamp($"ts").as("sec"), $"value")
    val w = Window.partitionBy($"user_id").orderBy($"sec").rangeBetween(-3599, 0)
    ev.select($"user_id", $"event_id", $"sec",
        count(lit(1)).over(w).as("n_1h"),
        sum($"value".cast(DecimalType(18, 6))).over(w)
          .cast(DoubleType).as("v_1h"))
      .orderBy($"user_id", $"sec", $"event_id")
  }

  val frameRangeTsSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ms(ts) // 1000 AS sec, value
      |  FROM events)
      |SELECT user_id, event_id, sec,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS v_1h
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, sec, event_id""".stripMargin

  /** Navigation functions: first/last/nth order value per customer —
    * frame must be the full partition for last/nth to see every row.
    * Tiebreak on o_orderkey keeps cross-engine navigation identical. */
  def navFirstLast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select($"o_custkey",
        first($"o_orderkey").over(w).as("first_order"),
        last($"o_orderkey").over(w).as("last_order"),
        nth_value($"o_orderkey", 2).over(w).as("second_order"))
      .distinct()
      .orderBy($"o_custkey")
  }

  val navFirstLastSql: String =
    """SELECT DISTINCT o_custkey,
      |  first_value(o_orderkey) OVER w AS first_order,
      |  last_value(o_orderkey) OVER w AS last_order,
      |  nth_value(o_orderkey, 2) OVER w AS second_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate ASC, o_orderkey ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey""".stripMargin

  /** Running COUNT(DISTINCT) over a window — a surface Spark (and most
    * engines) refuse natively inside window frames. Decomposed into two
    * windows that ARE supported: flag each row that is the first
    * occurrence of its customer within the priority partition, then
    * running-sum the flags in time order. Both windows shuffle on the
    * same o_orderpriority key, so Catalyst plans ONE exchange; the
    * per-key state is a lag cell and a running counter, not a
    * distinct-set — which is why this form scales where a naive
    * per-frame set would not.
    * The oracle uses the identical decomposition (it is engine-portable
    * by construction). */
  def winCountDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // BOTH windows partition by o_orderpriority alone — different sort
    // orders within the partition, so Catalyst plans ONE exchange and
    // two sorts (asserted in PlanSpec). The first-occurrence flag is
    // computed in (custkey, time) order: the first row of each custkey
    // block is that customer's earliest row, which is exactly the row
    // where the time-ordered running count must tick up.
    val wFirst = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_custkey".asc, $"o_orderdate".asc, $"o_orderkey".asc)
    val wRun = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority", $"o_custkey", $"o_orderdate")
      .withColumn("f",
        when(lag($"o_custkey", 1).over(wFirst).isNull ||
          lag($"o_custkey", 1).over(wFirst) =!= $"o_custkey", 1L)
          .otherwise(0L))
      .select($"o_orderkey", $"o_orderpriority",
        sum($"f").over(wRun).as("distinct_custs"))
      .orderBy($"o_orderkey")
  }

  val winCountDistinctSql: String =
    """WITH flagged AS (
      |  SELECT o_orderkey, o_orderpriority, o_custkey, o_orderdate,
      |    CASE WHEN row_number() OVER (
      |        PARTITION BY o_orderpriority, o_custkey
      |        ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
      |      THEN 1 ELSE 0 END AS f
      |  FROM orders)
      |SELECT o_orderkey, o_orderpriority,
      |  CAST(SUM(f) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS distinct_custs
      |FROM flagged ORDER BY o_orderkey""".stripMargin

  /** Batch sessionization (gaps-and-islands): a new session starts
    * when a user's inter-event gap exceeds 1 h; sessions are then
    * aggregated to (start, end, n_events, duration). The batch twin of
    * [[graft.streaming.StreamOps.streamSession]]'s session windows.
    *
    * Scale shape: ONE shuffle on user_id serves both windows (lag for
    * the gap flag, running sum for the session number — same partition
    * key, same sort), then the session aggregation reuses that
    * partitioning. Gap arithmetic is exact integer microseconds. */
  def winSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 3600L * 1000000L
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("gap_us",
        expr("unix_micros(ts)") - expr("unix_micros(lag(ts, 1) over (partition by user_id order by ts asc, event_id asc))"))
      .withColumn("is_new",
        when($"gap_us".isNull || $"gap_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session_no", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"session_no")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"), max($"ts").as("session_end"),
        (max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)"))).as("duration_us"))
      .orderBy($"user_id", $"session_no")
  }

  val winSessionSql: String =
    """WITH gapped AS (
      |  SELECT user_id, event_id, ts,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |flagged AS (
      |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 3600000000
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM gapped),
      |numbered AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
      |FROM numbered GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  // ---- §2.6 sorts / limits / top-k ----

  /** Multi-key total order (MR: TotalOrderPartitioner). Spark plans a
    * range-partitioned sort — the scalable total sort. */
  def sortMulti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      .orderBy($"o_orderpriority".desc, $"o_totalprice".asc, $"o_orderkey".asc)
  }

  val sortMultiSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |ORDER BY o_orderpriority DESC, o_totalprice ASC, o_orderkey ASC""".stripMargin

  /** Global top-K: orderBy+limit compiles to TakeOrderedAndProject —
    * per-partition heaps + driver merge, never a full sort. */
  def limitTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(100)
  }

  val limitTopKSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 100""".stripMargin

  /** Distribution ranks: ntile quartiles, percent_rank, cume_dist per
    * market segment by account balance. The window ORDER BY ends in
    * the unique c_custkey so no two rows are peers — that makes
    * percent_rank/cume_dist pure rank arithmetic ((rk-1)/(n-1), rk/n:
    * small rationals, bit-identical cross-engine) and ntile
    * deterministic. One shuffle on the segment key serves all three
    * functions. */
  def winNtilePct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy($"c_mktsegment".asc, $"c_acctbal".asc, $"c_custkey".asc)
  }

  val winNtilePctSql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY c_acctbal ASC, c_custkey ASC)
      |ORDER BY c_mktsegment ASC, c_acctbal ASC, c_custkey ASC""".stripMargin

  /** Partition-local sort (MR: map-output sort). Output order is
    * partitioning-dependent ⇒ no oracle (rows-only check). */
  def sortWithinPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .repartition(8, $"o_custkey")
      .sortWithinPartitions($"o_custkey", $"o_orderdate", $"o_orderkey")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
  }

  /** Ordered conversion funnel view → click → purchase over the event
    * stream: a user advances a stage only with a LATER event of the
    * next type (min-timestamp chaining, the sequential-pattern
    * restriction of sessionized funnel analytics). Output is one row
    * per stage with the surviving-user count.
    *
    * Each stage is one aggregation on user_id; all three group on the
    * same key, so the chained joins reuse a single hash-partitioning
    * of the user axis (EnsureRequirements inserts no extra exchange),
    * and each stage's output is one row per surviving user — strictly
    * shrinking. That makes the funnel depth-k cost one events scan +
    * k same-key reduced joins at any scale; timestamps compare as
    * exact µs integers, so the stage predicates are
    * engine-reproducible. */
  def winFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"ts")
    val tv = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("tv"))
    val tc = e.filter($"event_type" === "click")
      .join(tv, "user_id").filter($"ts" > $"tv")
      .groupBy($"user_id").agg(min($"ts").as("tc"))
    val tp = e.filter($"event_type" === "purchase")
      .join(tc, "user_id").filter($"ts" > $"tc")
      .groupBy($"user_id").agg(min($"ts").as("tp"))
    val stage = (ord: Int, name: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"), $"n_users")
    stage(1, "view", tv)
      .unionAll(stage(2, "view_click", tc))
      .unionAll(stage(3, "view_click_purchase", tp))
      .orderBy($"stage_ord")
  }

  val winFunnelSql: String =
    s"""WITH tv AS (
       |  SELECT user_id, MIN(ts) AS tv FROM events
       |  WHERE event_type = 'view' GROUP BY user_id),
       |tc AS (
       |  SELECT e.user_id, MIN(e.ts) AS tc
       |  FROM events e JOIN tv ON e.user_id = tv.user_id
       |  WHERE e.event_type = 'click' AND e.ts > tv.tv
       |  GROUP BY e.user_id),
       |tp AS (
       |  SELECT e.user_id, MIN(e.ts) AS tp
       |  FROM events e JOIN tc ON e.user_id = tc.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > tc.tc
       |  GROUP BY e.user_id)
       |SELECT 1 AS stage_ord, 'view' AS stage,
       |  (SELECT COUNT(*) FROM tv) AS n_users
       |UNION ALL SELECT 2, 'view_click', (SELECT COUNT(*) FROM tc)
       |UNION ALL SELECT 3, 'view_click_purchase', (SELECT COUNT(*) FROM tp)
       |ORDER BY stage_ord""".stripMargin

  /** Users included in the [[winFfill]] densified grid — grid size is
    * users × hours, so the demo bounds the user set; the operator
    * itself is per-user-partitioned and scales by adding users. */
  private val FFILL_USERS = 50

  /** Time-series densify + forward-fill: project each user's event
    * stream onto the complete hourly grid (missing hours appear as
    * rows) and carry the last observed hourly sum forward — the
    * resample→ffill step that turns an irregular event stream into
    * the fixed-frequency input a forecasting/feature pipeline wants.
    *
    * Shape: the hour grid is generated from a 1-row min/max aggregate
    * (broadcast, no driver round-trip), cross-joined with the bounded
    * user list, left-joined with the hourly aggregates on the same
    * (user, hour) key, then ONE per-user window does the fill via
    * `last(_, ignoreNulls)` over a running frame. Gap arithmetic and
    * sums are exact; the fill copies bits, so no new rounding sites. */
  def winFfill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    val ev = Tables.events(spark, sfDir)
      .filter($"user_id" < FFILL_USERS)
      .select($"user_id", date_trunc("hour", $"ts").as("h"), $"value")
    val hourly = ev.groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n"), xsum($"value").as("sum_v"))
    val span = ev.agg(min($"h").as("h0"), max($"h").as("h1"))
    val grid = ev.select($"user_id").distinct()
      .crossJoin(broadcast(span))
      .select($"user_id",
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val wFill = Window.partitionBy($"user_id").orderBy($"h".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select($"user_id", $"h",
        coalesce($"n", lit(0L)).as("n"),
        last($"sum_v", ignoreNulls = true).over(wFill).as("filled"))
      .orderBy($"user_id", $"h")
  }

  val winFfillSql: String = {
    import graft.engine.Exact.sqlXsum
    s"""WITH ev AS (
       |  SELECT user_id, date_trunc('hour', ts) AS h, value
       |  FROM events WHERE user_id < $FFILL_USERS),
       |hourly AS (
       |  SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS n,
       |    ${sqlXsum("value")} AS sum_v
       |  FROM ev GROUP BY 1, 2),
       |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
       |grid AS (
       |  SELECT u.user_id,
       |    unnest(generate_series(span.h0, span.h1, INTERVAL 1 HOUR)) AS h
       |  FROM (SELECT DISTINCT user_id FROM ev) u, span)
       |SELECT g.user_id, g.h,
       |  COALESCE(hh.n, 0) AS n,
       |  last_value(hh.sum_v IGNORE NULLS) OVER (PARTITION BY g.user_id
       |    ORDER BY g.h ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
       |FROM grid g LEFT JOIN hourly hh
       |  ON g.user_id = hh.user_id AND g.h = hh.h
       |ORDER BY g.user_id, g.h""".stripMargin
  }

  /** Time-series densify + LINEAR interpolation — the two-sided twin
    * of [[winFfill]]: missing grid hours get the straight line between
    * the LAST observation strictly before and the FIRST strictly after
    * (v = prev + (next − prev)·Δh_prev/Δh_span), observed hours pass
    * through untouched, and edges (no prev or no next) stay NULL — no
    * extrapolation, which is a modeling decision this operator refuses
    * to make silently. Same grid/exchange shape as ffill: both
    * navigation windows (preceding-frame last, following-frame first,
    * both IGNORE NULLS) ride ONE per-user exchange. Determinism: the
    * hour offsets are exact integers (timestampdiff), their ratio and
    * the lerp are one identically-associated double expression rnd6'd
    * once at the end — no interpolation ulp can cross the boundary
    * twice. */
  def tsInterp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    val ev = Tables.events(spark, sfDir)
      .filter($"user_id" < FFILL_USERS)
      .select($"user_id", date_trunc("hour", $"ts").as("h"), $"value")
    val hourly = ev.groupBy($"user_id", $"h")
      .agg(xsum($"value").as("sum_v"))
    val span = ev.agg(min($"h").as("h0"), max($"h").as("h1"))
    val grid = ev.select($"user_id").distinct()
      .crossJoin(broadcast(span))
      .select($"user_id",
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val wBase = Window.partitionBy($"user_id").orderBy($"h".asc)
    val wPrev = wBase.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = wBase.rowsBetween(1, Window.unboundedFollowing)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("obs", $"sum_v".isNotNull)
      .withColumn("pv",
        last($"sum_v", ignoreNulls = true).over(wPrev).cast("double"))
      .withColumn("ph",
        last(when($"sum_v".isNotNull, $"h"), ignoreNulls = true).over(wPrev))
      .withColumn("nv",
        first($"sum_v", ignoreNulls = true).over(wNext).cast("double"))
      .withColumn("nh",
        first(when($"sum_v".isNotNull, $"h"), ignoreNulls = true).over(wNext))
      .select($"user_id", $"h", $"obs",
        graft.functions.Udfs.rnd6(
          when($"obs", $"sum_v".cast("double"))
            .otherwise($"pv" + ($"nv" - $"pv") *
              (expr("cast(timestampdiff(HOUR, ph, h) as double)") /
                expr("cast(timestampdiff(HOUR, ph, nh) as double)"))))
          .as("v_interp"))
      .orderBy($"user_id", $"h")
  }

  val tsInterpSql: String = {
    import graft.engine.Exact.sqlXsum
    val lerp = "pv + (nv - pv) * (CAST(date_diff('hour', ph, h) AS DOUBLE)" +
      " / CAST(date_diff('hour', ph, nh) AS DOUBLE))"
    s"""WITH ev AS (
       |  SELECT user_id, date_trunc('hour', ts) AS h, value
       |  FROM events WHERE user_id < $FFILL_USERS),
       |hourly AS (
       |  SELECT user_id, h, ${sqlXsum("value")} AS sum_v
       |  FROM ev GROUP BY 1, 2),
       |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
       |grid AS (
       |  SELECT u.user_id,
       |    unnest(generate_series(span.h0, span.h1, INTERVAL 1 HOUR)) AS h
       |  FROM (SELECT DISTINCT user_id FROM ev) u, span),
       |nav AS (
       |  SELECT g.user_id, g.h, hh.sum_v IS NOT NULL AS obs,
       |    CAST(hh.sum_v AS DOUBLE) AS v,
       |    CAST(last_value(hh.sum_v IGNORE NULLS) OVER wp AS DOUBLE) AS pv,
       |    last_value(CASE WHEN hh.sum_v IS NOT NULL THEN g.h END
       |      IGNORE NULLS) OVER wp AS ph,
       |    CAST(first_value(hh.sum_v IGNORE NULLS) OVER wn AS DOUBLE) AS nv,
       |    first_value(CASE WHEN hh.sum_v IS NOT NULL THEN g.h END
       |      IGNORE NULLS) OVER wn AS nh
       |  FROM grid g LEFT JOIN hourly hh
       |    ON g.user_id = hh.user_id AND g.h = hh.h
       |  WINDOW
       |    wp AS (PARTITION BY g.user_id ORDER BY g.h ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    wn AS (PARTITION BY g.user_id ORDER BY g.h ASC
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       |SELECT user_id, h, obs,
       |  ${graft.functions.Udfs.sqlRnd6(s"CASE WHEN obs THEN v ELSE $lerp END")}
       |    AS v_interp
       |FROM nav ORDER BY user_id, h""".stripMargin
  }

  /** Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    * activity-streak query) — the calendar-math sibling of
    * [[winSession]]'s time-gap sessionization. Distinct (user, day)
    * → lag flags a new island when the day gap exceeds 1 → running
    * sum numbers the islands → per-island span/length, with the
    * user's longest streak flagged via a rank over their own islands
    * (len desc, start asc). Every window is partitioned by user_id
    * (per-key bounded — no single-partition hazard at any corpus
    * scale) and all three window passes share ONE hash exchange on
    * user_id; the day-dedup groupBy is the only other shuffle. */
  def winIslands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d".asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = days
      .withColumn("is_new",
        when(datediff($"d", lag($"d", 1).over(w)).isNull ||
          datediff($"d", lag($"d", 1).over(w)) > 1, 1L).otherwise(0L))
      .withColumn("streak_no", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"streak_no")
      .agg(min($"d").as("start_day"), max($"d").as("end_day"),
        count(lit(1)).as("n_days"))
    val wBest = Window.partitionBy($"user_id")
      .orderBy($"n_days".desc, $"start_day".asc)
    islands.withColumn("rk", row_number().over(wBest))
      .select($"user_id", $"streak_no", $"start_day", $"end_day",
        $"n_days", ($"rk" === 1).as("is_longest"))
      .orderBy($"user_id", $"streak_no")
  }

  /** Windowed exponential smoothing (EWMA, α = 0.5, K = 7 days) over
    * each user's daily event-value series. Deliberately the K-LIMITED
    * formulation: the textbook recursive EWMA needs (1−α)^rowNumber
    * factors that overflow double for long histories (and a recursion
    * no window function expresses); truncating at K=7 keeps every
    * weight an EXACT binary fraction (powers of ½ — float-exact in
    * both engines), bounds per-row work at any history length, and
    * changes the result by at most (1−α)^K < 1 %. Implemented as a
    * lag-chain over the per-(user, day) pre-aggregate — one shuffle
    * to daily grain, one user-partitioned window pass; partial days
    * at the series head renormalize over the available weights. */
  def tsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    import graft.engine.Exact.xsum
    val daily = Tables.events(spark, sfDir)
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(xsum($"value").as("v"))
    val w = Window.partitionBy($"user_id").orderBy($"d".asc)
    val terms = (0 until 7).map { i =>
      val weight = math.pow(0.5, i) // exact binary fraction
      (when(lag($"v", i).over(w).isNotNull, lit(weight)).otherwise(lit(0.0)),
        coalesce(lag($"v", i).over(w), lit(0.0)) * weight)
    }
    val num = terms.map(_._2).reduce(_ + _)
    val den = terms.map(_._1).reduce(_ + _)
    daily.select($"user_id", $"d", $"v",
        rnd6(num / den).as("ewma7"))
      .orderBy($"user_id", $"d")
  }

  val tsEwmaSql: String = {
    import graft.functions.Udfs.{sqlRnd6}
    val num = (0 until 7).map { i =>
      s"COALESCE(lag(v, $i) OVER w, 0.0) * ${math.pow(0.5, i)}"
    }.mkString(" + ")
    val den = (0 until 7).map { i =>
      s"CASE WHEN lag(v, $i) OVER w IS NOT NULL THEN ${math.pow(0.5, i)} ELSE 0.0 END"
    }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    ${graft.engine.Exact.sqlXsum("value")} AS v
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, d, v, ${sqlRnd6(s"($num) / ($den)")} AS ewma7
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY d ASC)
       |ORDER BY user_id, d""".stripMargin
  }

  val winIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |flagged AS (
      |  SELECT user_id, d,
      |    CASE WHEN d - lag(d, 1) OVER w IS NULL
      |      OR d - lag(d, 1) OVER w > 1 THEN 1 ELSE 0 END AS is_new
      |  FROM days
      |  WINDOW w AS (PARTITION BY user_id ORDER BY d ASC)),
      |numbered AS (
      |  SELECT user_id, d,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY d ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS streak_no
      |  FROM flagged),
      |islands AS (
      |  SELECT user_id, streak_no, MIN(d) AS start_day, MAX(d) AS end_day,
      |    COUNT(*) AS n_days
      |  FROM numbered GROUP BY 1, 2)
      |SELECT user_id, streak_no, start_day, end_day, n_days,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY n_days DESC, start_day ASC) = 1 AS is_longest
      |FROM islands
      |ORDER BY user_id, streak_no""".stripMargin
}
