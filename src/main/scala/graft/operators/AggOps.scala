package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Exact, Tables}

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Scale notes: every groupBy here compiles to HashAggregateExec with
  * automatic partial (map-side) + final aggregation — the MapReduce
  * "combiner" for free. Group keys are low-cardinality (flags, users),
  * so the final shuffle moves only #groups × #partitions rows; this
  * holds at 100 TB as long as keys stay bounded (they do: flags,
  * priorities, users, dates).
  */
object AggOps {
  import Exact._

  /** Flagship: TPC-H Q1 shape — scan → filter → 8-measure grouped agg
    * → total-order sort. Exercises pushdown, partial agg, and the
    * decimal-exact float discipline end-to-end.
    */
  def multiKeyPricing(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= to_timestamp(lit("2001-09-02")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        xsum($"l_quantity").as("sum_qty"),
        xsum($"l_extendedprice").as("sum_base_price"),
        xsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        xsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        xavg($"l_quantity").as("avg_qty"),
        xavg($"l_extendedprice").as("avg_price"),
        xavg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val multiKeyPricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlXsum("l_quantity")} AS sum_qty,
       |  ${sqlXsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlXsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${sqlXsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${sqlXavg("l_quantity")} AS avg_qty,
       |  ${sqlXavg("l_extendedprice")} AS avg_price,
       |  ${sqlXavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Global (ungrouped) aggregates — MR single-reducer totals. min/max
    * on doubles are exact; sums/avgs use the decimal discipline. */
  def aggGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir).agg(
      xsum($"l_quantity").as("sum_qty"),
      xavg($"l_extendedprice").as("avg_price"),
      min($"l_discount").as("min_disc"),
      max($"l_extendedprice").as("max_price"),
      count(lit(1)).as("n_rows"))
  }

  val aggGlobalSql: String =
    s"""SELECT ${sqlXsum("l_quantity")} AS sum_qty,
       |  ${sqlXavg("l_extendedprice")} AS avg_price,
       |  MIN(l_discount) AS min_disc,
       |  MAX(l_extendedprice) AS max_price,
       |  COUNT(*) AS n_rows
       |FROM lineitem""".stripMargin

  /** Grouped hash agg — per-user mean, THE core CF primitive. */
  def aggHashGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(xavg($"value").as("avg_value"),
        xsum($"value").as("sum_value"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val aggHashGroupSql: String =
    s"""SELECT user_id, ${sqlXavg("value")} AS avg_value,
       |  ${sqlXsum("value")} AS sum_value, COUNT(*) AS n_events
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Exact distinct counting (MR: dedup-in-reducer). */
  def aggDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  val aggDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact order statistics: median and interpolated p90 per group.
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * linear-interpolation definition; inputs are identical doubles, so
    * the interpolation arithmetic is bit-identical and rnd6 closes the
    * display gap. At 100 TB exact percentiles need a full sort per
    * group — the scale path is approx_percentile (t-digest), kept
    * un-oracled like HLL. */
  def aggPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        rnd6(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
        rnd6(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val aggPercentileSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""SELECT l_returnflag,
       |  ${sqlRnd6("quantile_cont(l_quantity, 0.5)")} AS median_qty,
       |  ${sqlRnd6("quantile_cont(l_extendedprice, 0.9)")} AS p90_price,
       |  COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Approximate percentiles — the 100 TB path for order statistics
    * (exact percentiles need a per-group sort; the sketch streams).
    * No oracle (sketch ≠ engine-portable); LawsSpec bounds it against
    * the exact quantiles. */
  def aggApproxPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Scalar output columns (not the raw array): the driver's comparator
    // hashes cell values and cannot sort array cells.
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)")
        .as("approx_qty"))
      .select($"l_returnflag",
        element_at($"approx_qty", 1).as("approx_p50"),
        element_at($"approx_qty", 2).as("approx_p90"))
      .orderBy($"l_returnflag")
  }

  /** HLL++ approximate distinct — the 100 TB path (exact distinct
    * shuffles every key; HLL ships a constant-size sketch per
    * partition). Approximate ⇒ no DuckDB oracle; bounds asserted in
    * AggSpec instead. */
  def aggApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .orderBy($"event_type")
  }

  /** Vector assembly: per-user sorted event-type list (MR group-concat
    * of rating vectors). sort_array gives a deterministic order; the
    * list is emitted '|'-joined because the driver's comparator hashes
    * scalar cells only (array cells crash its sort). */
  def aggCollect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(array_join(sort_array(collect_list($"event_type")), "|").as("types"),
        count(lit(1)).as("n_types"))
      .orderBy($"user_id")
  }

  val aggCollectSql: String =
    """SELECT user_id, string_agg(event_type, '|' ORDER BY event_type) AS types,
      |  COUNT(*) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SQL:2016 LISTAGG ... WITHIN GROUP — the ordered string aggregate
    * as its own operator (Spark 4's native `listagg`, vs
    * [[aggCollect]]'s collect_list+sort_array composition; the WITHIN
    * GROUP order makes the result deterministic under any shuffle
    * layout). Bounded: ≤ 5 nations per region. */
  def aggListagg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(expr("listagg(n_name, ',') within group (order by n_name)")
        .as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy($"r_name")
  }

  val aggListaggSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** ROLLUP over the region→nation hierarchy. NULLS FIRST is pinned on
    * both sides (Spark defaults nulls-first ASC, DuckDB nulls-last). */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir), $"s_nationkey" === $"n_nationkey")
      .join(Tables.region(spark, sfDir), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        xsum($"s_acctbal").as("sum_bal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  val aggRollupSql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
       |  ${sqlXsum("s_acctbal")} AS sum_bal
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** CUBE over (returnflag, linestatus). */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_items"), xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val aggCubeSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       |  ${sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS via the SQL entry point (§3.3). */
  def aggGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(aggGroupingSetsSql))
  }

  val aggGroupingSetsSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Miscellaneous aggregate family: conditional counting, boolean
    * aggregation, arg-extrema, exact median. max_by/min_by take the
    * UNIQUE event_id as the ordering argument so ties cannot make the
    * result nondeterministic; median is interpolated identically in
    * both engines (rnd6 closes the display gap). */
  def aggMisc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(
        count_if($"value" > 100.0).as("n_big"),
        bool_and($"value" >= 0.0).as("all_nonneg"),
        bool_or($"user_id" === 0L).as("has_user0"),
        max_by($"user_id", $"event_id").as("latest_user"),
        min_by($"user_id", $"event_id").as("first_user"),
        rnd6(median($"value")).as("median_value"),
        sum_distinct($"user_id").as("sum_users"))
      .orderBy($"event_type")
  }

  val aggMiscSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""SELECT event_type,
       |  CAST(count_if(value > 100.0) AS BIGINT) AS n_big,
       |  bool_and(value >= 0.0) AS all_nonneg,
       |  bool_or(user_id = 0) AS has_user0,
       |  arg_max(user_id, event_id) AS latest_user,
       |  arg_min(user_id, event_id) AS first_user,
       |  ${sqlRnd6("median(value)")} AS median_value,
       |  CAST(SUM(DISTINCT user_id) AS BIGINT) AS sum_users
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot event_type → columns with a FIXED value list (dynamic pivot
    * would scan twice and make the schema data-dependent). Absent cells
    * coalesce to 0 to match COUNT(CASE …). */
  def aggPivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pv = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    pv.select($"user_id" +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy($"user_id")
  }

  val aggPivotSql: String =
    s"""SELECT user_id,
       |  ${eventTypes.map(t => s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS \"$t\"").mkString(",\n  ")}
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** UNPIVOT / melt — wide measures to long (measure, value) rows,
    * the reshape every feature pipeline runs before per-feature
    * aggregation. Pure map-side row expansion (3× rows, no shuffle
    * until the presentation sort); Spark's `unpivot` is the typed
    * Generator form, not a union-of-selects. */
  def aggUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice", $"l_discount")
      .unpivot(
        Array($"l_orderkey", $"l_linenumber"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "measure", "val")
      // duplicate (orderkey, linenumber) pairs exist — include every
      // output column so the order is total up to identical rows
      .orderBy($"l_orderkey", $"l_linenumber", $"measure", $"val")
  }

  val aggUnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, measure, val
      |FROM (SELECT l_orderkey, l_linenumber,
      |        l_quantity, l_extendedprice, l_discount FROM lineitem)
      |UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
      |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin

  /** ROLLUP with grouping flags: `grouping()` marks which key is
    * aggregated away on each row and the composite id is derived
    * arithmetically (2·g(r)+g(n)) so both engines spell it the same
    * way — the standard way BI layers distinguish subtotal rows. */
  def aggGroupingId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_nations"),
        grouping($"r_name").cast("integer").as("g_region"),
        grouping($"n_name").cast("integer").as("g_nation"))
      .withColumn("gid", ($"g_region" * 2 + $"g_nation").cast("integer"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  val aggGroupingIdSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_nations,
      |  CAST(GROUPING(r_name) AS INTEGER) AS g_region,
      |  CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS gid
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Statistical aggregates (stddev/variance/covariance/correlation)
    * computed from EXACT MOMENTS: one decimal-exact pass accumulates
    * n, Σx, Σy, Σx², Σy², Σxy (order-independent — §7.4 hazard 1), and
    * the statistics are derived in double arithmetic with formulas
    * written identically on both sides, so results are bit-stable
    * under any partitioning. This is deliberately NOT Spark's built-in
    * `stddev`/`corr` (Welford-style merge — partition-order-dependent
    * bits): the moment form is the single-pass, combiner-friendly
    * shape a 100 TB aggregation wants, and the exactness makes retries
    * and engine ports byte-reproducible. */
  def aggMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val x = $"l_quantity"
    val y = $"l_extendedprice"
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        xsum(x).as("sx"), xsum(y).as("sy"),
        xsum(x * x).as("sxx"), xsum(y * y).as("syy"),
        xsum(x * y).as("sxy"))
      .select($"l_returnflag",
        $"n".cast("long").as("n"),
        // rnd6 absorbs the one place bit-exactness is NOT guaranteed:
        // DuckDB's decimal→double cast double-rounds via int128 for
        // sums past 2^53, so derived stats can differ by ulps.
        rnd6(($"sxx" - $"sx" * $"sx" / $"n") / $"n").as("var_pop_qty"),
        rnd6(sqrt(($"sxx" - $"sx" * $"sx" / $"n") / $"n")).as("stddev_pop_qty"),
        rnd6(($"sxy" - $"sx" * $"sy" / $"n") / $"n").as("covar_pop"),
        rnd6(($"sxy" - $"sx" * $"sy" / $"n") /
          sqrt(($"sxx" - $"sx" * $"sx" / $"n") *
            ($"syy" - $"sy" * $"sy" / $"n"))).as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  val aggMomentsSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH m AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${sqlXsum("l_quantity")} AS sx,
       |    ${sqlXsum("l_extendedprice")} AS sy,
       |    ${sqlXsum("l_quantity * l_quantity")} AS sxx,
       |    ${sqlXsum("l_extendedprice * l_extendedprice")} AS syy,
       |    ${sqlXsum("l_quantity * l_extendedprice")} AS sxy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag,
       |  CAST(n AS BIGINT) AS n,
       |  ${sqlRnd6("(sxx - sx * sx / n) / n")} AS var_pop_qty,
       |  ${sqlRnd6("sqrt((sxx - sx * sx / n) / n)")} AS stddev_pop_qty,
       |  ${sqlRnd6("(sxy - sx * sy / n) / n")} AS covar_pop,
       |  ${sqlRnd6("(sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))")} AS corr_qty_price
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** Deterministic MODE: most frequent quantity per return flag,
    * smallest value winning ties — engines' native `mode()` breaks
    * ties arbitrarily, so the portable form is count + rank, which is
    * also the scalable form (two hash shuffles, no per-group value
    * buffer). */
  def aggMode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag")
      .orderBy($"cnt".desc, $"l_quantity".asc)
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"l_returnflag", $"l_quantity".as("mode_qty"), $"cnt")
      .orderBy($"l_returnflag")
  }

  val aggModeSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY l_returnflag, l_quantity),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY cnt DESC, l_quantity ASC) AS rn
      |  FROM c)
      |SELECT l_returnflag, l_quantity AS mode_qty, cnt
      |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  /** Equi-width histogram via width_bucket — the data-profiling /
    * feature-binning primitive. One combiner-friendly shuffle on the
    * (group, bucket) key; bucket boundaries are closed-form arithmetic
    * (not data-dependent quantiles), so the operator is a single pass
    * and the bucket id is engine-identical. Profiling a 100 TB column
    * this way costs one scan + one tiny shuffle. */
  def aggHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select($"o_orderpriority",
        width_bucket($"o_totalprice", lit(0.0), lit(600000.0), lit(12)).as("bucket"))
      .groupBy($"o_orderpriority", $"bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy($"o_orderpriority", $"bucket")
  }

  /** DuckDB 1.0.0 has no width_bucket — the oracle spells out Spark's
    * exact formula (floor((v-lo)/((hi-lo)/n)) + 1, under/overflow to 0
    * and n+1): same IEEE-double ops in the same order ⇒ identical
    * bucket ids. */
  val aggHistogramSql: String =
    """SELECT o_orderpriority,
      |  CASE WHEN o_totalprice < 0.0 THEN 0
      |       WHEN o_totalprice >= 600000.0 THEN 13
      |       ELSE CAST(floor((o_totalprice - 0.0) / ((600000.0 - 0.0) / 12)) AS BIGINT) + 1
      |  END AS bucket,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin

  /** Mergeable-sketch distinct counting: per-partition HLL sketches
    * built map-side (hll_sketch_agg), merged across partitions
    * (hll_union_agg), then estimated — the EXACT pattern a 100 TB
    * pipeline uses to keep distinct-count state tiny and re-mergeable
    * across days/segments (pre-aggregate sketches, union later; never
    * re-scan raw data). The two-level build here proves the merge path:
    * per-event-type daily sketches union up to per-type totals. Sketch
    * bytes are implementation-specific ⇒ no SQL oracle; the spec
    * asserts the estimate against the exact count (±2 %) and
    * determinism across repartitioning. */
  def aggSketchUnion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("DAY", $"ts").as("day"))
      .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"))
    daily.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy($"event_type")
  }

  /** EXACT distinct counting via mergeable bitmaps: key space bucketed
    * into 64-bit words (bucket = key div 64), per-bucket `bit_or` of
    * `1 << (key mod 64)`, popcount-sum at the end. Unlike HLL this is
    * exact, and unlike count_distinct the state is RE-AGGREGATABLE:
    * per-partition/per-day bitmap fragments OR together losslessly, so
    * incremental rollups never recount the raw data — the
    * bounded-domain twin of [[aggSketchUnion]] (surrogate-keyed IDs at
    * 100 TB are exactly such a domain; this is the roaring-bitmap
    * pattern with plain SQL types). Both aggregations combine
    * map-side; shuffle volume is one long per (group, bucket). */
  def aggBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      // 32-bit words: a shift into a BIGINT sign bit is an overflow
      // error in DuckDB, so the portable word width is 32
      .groupBy($"l_returnflag", expr("l_partkey div 32").as("bucket"))
      .agg(expr("bit_or(shiftleft(1L, cast(l_partkey % 32 as int)))").as("bits"))
      .groupBy($"l_returnflag")
      .agg(sum(expr("bit_count(bits)")).cast("long").as("n_distinct_parts"),
        count(lit(1)).as("n_buckets"))
      .orderBy($"l_returnflag")
  }

  val aggBitmapDistinctSql: String =
    """WITH b AS (
      |  SELECT l_returnflag, l_partkey // 32 AS bucket,
      |    BIT_OR(1::BIGINT << CAST(l_partkey % 32 AS INTEGER)) AS bits
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct_parts,
      |  COUNT(*) AS n_buckets
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact audience OVERLAP via bitmap set algebra — the companion of
    * [[aggBitmapDistinct]]'s union path: per event-type cohort the
    * user set collapses to 32-bit bucket bitmaps, and for every
    * cohort pair |A|, |B|, |A∩B| (AND + popcount), |A∪B|
    * (inclusion–exclusion) and the exact Jaccard all fall out of a
    * FULL OUTER bucket join of the two bitmap sets — no re-touch of
    * the raw events, no distinct-pair explosion. This is the
    * re-aggregatable form of "how much do these audiences overlap":
    * at 100 TB the per-cohort bitmaps are the stored sketch
    * (lossless, mergeable by OR) and every pairwise overlap is
    * bitmap-sized work. Per-cohort totals come straight from each
    * cohort's own bitmaps; only the INTERSECTION rides the bucket
    * join, where a one-sided bucket correctly contributes zero. */
  def aggBitmapIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val bm = Tables.events(spark, sfDir)
      .groupBy($"event_type", expr("user_id div 32").as("bucket"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 32 as int)))")
        .as("bits"))
    val totals = bm.groupBy($"event_type")
      .agg(sum(expr("bit_count(bits)")).cast("long").as("n"))
    val inter = bm.select($"event_type".as("type_a"), $"bucket", $"bits".as("ba"))
      .join(bm.select($"event_type".as("type_b"), $"bucket".as("bb"),
        $"bits".as("bbits")),
        $"bucket" === $"bb" && $"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(sum(expr("bit_count(ba & bbits)")).cast("long").as("nb0"))
    totals.select($"event_type".as("type_a"), $"n".as("n_a"))
      .join(totals.select($"event_type".as("type_b"), $"n".as("n_b")),
        $"type_a" < $"type_b")
      .join(inter, Seq("type_a", "type_b"), "left")
      .select($"type_a", $"type_b", $"n_a", $"n_b",
        coalesce($"nb0", lit(0L)).as("n_both"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        ($"n_a" + $"n_b" - $"n_both").as("n_union"),
        rnd6($"n_both".cast("double") /
          ($"n_a" + $"n_b" - $"n_both").cast("double")).as("jaccard"))
      .orderBy($"type_a", $"type_b")
  }

  val aggBitmapIntersectSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH bm AS (
       |  SELECT event_type, user_id // 32 AS bucket,
       |    BIT_OR(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
       |  FROM events GROUP BY 1, 2),
       |totals AS (
       |  SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n
       |  FROM bm GROUP BY 1),
       |inter AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS nb0
       |  FROM bm a JOIN bm b
       |    ON a.bucket = b.bucket AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
       |    ta.n AS n_a, tb.n AS n_b,
       |    COALESCE(i.nb0, 0) AS n_both
       |  FROM totals ta
       |  JOIN totals tb ON ta.event_type < tb.event_type
       |  LEFT JOIN inter i
       |    ON i.type_a = ta.event_type AND i.type_b = tb.event_type)
       |SELECT type_a, type_b, n_a, n_b, n_both,
       |  n_a + n_b - n_both AS n_union,
       |  ${sqlRnd6(
        "CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)")}
       |    AS jaccard
       |FROM pairs ORDER BY type_a, type_b""".stripMargin
  }

  /** Per-user z-score outliers over the event stream — the streaming-
    * adjacent data-quality primitive (fraud / sensor-glitch triage):
    * flag events more than 3 sample standard deviations from their
    * user's own mean. Same exact-moment discipline as [[aggCorr]]:
    * mean and variance are assembled from decimal-exact Σv and Σv²
    * with one identical double expression tree in both engines, and
    * the z threshold compares rnd6'd values so a last-ulp sqrt cannot
    * flip membership. Users with < 10 events or zero variance are
    * skipped (a z-score against 3 points is noise, not signal). One
    * shuffle on user_id for the moments, then a broadcast-sized join
    * of per-user stats back onto the stream — the 100 TB shape. */
  def eventsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"value")
    val stats = ev.groupBy($"user_id").agg(
      count(lit(1)).as("n"),
      xsum($"value").as("sv"),
      xsum($"value" * $"value").as("svv"))
    val nd = $"n".cast("double")
    val enriched = stats
      .filter($"n" >= 10)
      .select($"user_id".as("su"), $"n",
        ($"sv" / nd).as("mean"),
        sqrt(($"svv" - $"sv" * $"sv" / nd) / (nd - lit(1.0))).as("std"))
      .filter($"std" > 0.0)
    ev.join(broadcast(enriched), $"user_id" === $"su")
      .select($"user_id", $"event_id", $"value",
        rnd6(($"value" - $"mean") / $"std").as("z"))
      .filter(abs($"z") > 3.0)
      .orderBy($"user_id", $"event_id")
  }

  val eventsAnomalySql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH stats AS (
       |  SELECT user_id, COUNT(*) AS n,
       |    ${sqlXsum("value")} AS sv,
       |    ${sqlXsum("value * value")} AS svv
       |  FROM events GROUP BY 1),
       |enriched AS (
       |  SELECT user_id, sv / CAST(n AS DOUBLE) AS mean,
       |    sqrt((svv - sv * sv / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS std
       |  FROM stats WHERE n >= 10)
       |SELECT e.user_id, e.event_id, e.value,
       |  ${sqlRnd6("(e.value - s.mean) / s.std")} AS z
       |FROM events e JOIN enriched s ON e.user_id = s.user_id
       |WHERE s.std > 0 AND abs(${sqlRnd6("(e.value - s.mean) / s.std")}) > 3.0
       |ORDER BY e.user_id, e.event_id""".stripMargin
  }

  /** Correlation / covariance per group — NOT via the engines' builtin
    * corr()/covar_*() (each accumulates floats in its own order and
    * formula; cross-engine bytes would differ), but assembled from the
    * five decimal-exact moment sums (Σx, Σy, Σxy, Σx², Σy²) with ONE
    * identical double-arithmetic expression tree on both sides —
    * the same discipline as the CF similarity moments. Products are
    * computed in double first (IEEE-identical in both engines), then
    * decimal-summed, so the sums are order- and partition-independent;
    * the final formulas are single correctly-rounded double ops.
    * Map-side combine applies; one shuffle on the group key. */
  def aggCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val m = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        xsum($"l_quantity").as("sx"),
        xsum($"l_extendedprice").as("sy"),
        xsum($"l_quantity" * $"l_extendedprice").as("sxy"),
        xsum($"l_quantity" * $"l_quantity").as("sxx"),
        xsum($"l_extendedprice" * $"l_extendedprice").as("syy"))
    val nd = $"n".cast("double")
    m.select($"l_returnflag", $"n",
        rnd6(($"sxy" - $"sx" * $"sy" / nd) / nd).as("covar_pop"),
        rnd6(($"sxy" - $"sx" * $"sy" / nd) / (nd - lit(1.0))).as("covar_samp"),
        rnd6((nd * $"sxy" - $"sx" * $"sy") /
          sqrt((nd * $"sxx" - $"sx" * $"sx") * (nd * $"syy" - $"sy" * $"sy")))
          .as("corr_qp"))
      .orderBy($"l_returnflag")
  }

  val aggCorrSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH m AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${sqlXsum("l_quantity")} AS sx,
       |    ${sqlXsum("l_extendedprice")} AS sy,
       |    ${sqlXsum("l_quantity * l_extendedprice")} AS sxy,
       |    ${sqlXsum("l_quantity * l_quantity")} AS sxx,
       |    ${sqlXsum("l_extendedprice * l_extendedprice")} AS syy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  ${sqlRnd6("(sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)")}
       |    AS covar_pop,
       |  ${sqlRnd6("(sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)")}
       |    AS covar_samp,
       |  ${sqlRnd6("(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
           "sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * " +
           "(CAST(n AS DOUBLE) * syy - sy * sy))")} AS corr_qp
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** Count-min sketch point estimates: build one CMS over l_partkey
    * (ε = 1/2048 relative error over ~6M rows at sf0.1, δ = 1 %,
    * fixed seed → deterministic), then point-query the heavy-hitter
    * candidates from [[aggHeavyHitters]] and emit estimate next to
    * exact. This IS the 100 TB candidate-generation pass the
    * heavy-hitter doc comment promises: the sketch is a few KB of
    * mergeable state (map-side partial sketches combine like partial
    * sums), candidates come off the sketch, and the exact second pass
    * verifies only them. Sketch bytes are implementation-specific ⇒
    * no SQL oracle (same policy as HLL); the spec asserts
    * estimate ≥ exact (one-sided CMS guarantee), the ε·N error bound,
    * and repartition-determinism. */
  def aggCountmin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val sk = li.agg(
      count_min_sketch($"l_partkey", lit(0.00048828125d), lit(0.99d), lit(42))
        .as("sk"))
    // Spark ships the mergeable CMS agg but no point-query expression;
    // this UDF closes the gap. It deserializes per evaluated row, so
    // it is applied ONLY to the percentile-sized candidate set (the
    // 100 TB contract: sketches travel, point queries stay few).
    val estimate = udf { (bytes: Array[Byte], key: Long) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes)).estimateCount(key)
    }
    val hot = aggHeavyHitters(spark, sfDir).select($"l_partkey", $"cnt")
    hot.crossJoin(broadcast(sk))
      .select($"l_partkey", $"cnt",
        estimate($"sk", $"l_partkey").as("est"))
      .orderBy($"l_partkey")
  }

  /** KMV sketch size (estimator error ≈ 1/√k ≈ 12.5 % at 64). */
  private val KMV_K = 64

  /** Distinct-count estimation per group through the library's own
    * KMV (k-minimum-values) sketch — [[graft.functions.KmvAgg]], a
    * custom TypedImperativeAggregate with bounded mergeable state
    * (≤ k longs/group at any corpus size, partials combine like
    * partial sums). Estimator: D ≈ (k−1)·M / h₍ₖ₎ over hashes uniform
    * on [0, M). Unlike the HLL/CMS keys, this sketch is FULLY
    * oracle-checked: the hash column is the explicit md5-31-bit value
    * both engines compute, so DuckDB reproduces the k minima
    * (`row_number ... ORDER BY h`) and the estimate to the bit. The
    * exact distinct count rides along to show the error the 1/√k
    * theory promises. */
  def aggKmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val P31 = Int.MaxValue.toLong
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_partkey",
        expr(s"CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % $P31")
          .as("h"))
    li.groupBy($"l_returnflag")
      .agg(graft.functions.KmvAgg(col("h"), KMV_K).as("mins"),
        countDistinct($"l_partkey").as("n_exact"))
      // a group with < k distinct hashes has no kth minimum: drop it,
      // mirroring the oracle's `rn = k` inner join (otherwise Spark
      // would emit a NULL kth_hash row the oracle never produces)
      .where(size($"mins") === KMV_K)
      .select($"l_returnflag", $"n_exact",
        expr(s"element_at(mins, $KMV_K)").as("kth_hash"),
        rnd6(lit((KMV_K - 1).toDouble * P31) /
          expr(s"CAST(element_at(mins, $KMV_K) AS DOUBLE)"))
          .as("est_distinct"))
      .orderBy($"l_returnflag")
  }

  val aggKmvDistinctSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val P31 = Int.MaxValue.toLong
    s"""WITH hashed AS (
       |  SELECT DISTINCT l_returnflag,
       |    CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
       |      AS BIGINT) % $P31 AS h
       |  FROM lineitem),
       |ranked AS (
       |  SELECT l_returnflag, h, row_number() OVER (
       |    PARTITION BY l_returnflag ORDER BY h ASC) AS rn
       |  FROM hashed),
       |kth AS (
       |  SELECT l_returnflag, h AS kth_hash FROM ranked WHERE rn = $KMV_K),
       |exact AS (
       |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact
       |  FROM lineitem GROUP BY 1)
       |SELECT e.l_returnflag, e.n_exact, k.kth_hash,
       |  ${sqlRnd6(
      s"CAST(${(KMV_K - 1).toLong * Int.MaxValue.toLong} AS DOUBLE) / CAST(k.kth_hash AS DOUBLE)")}
       |    AS est_distinct
       |FROM exact e JOIN kth k USING (l_returnflag)
       |ORDER BY e.l_returnflag""".stripMargin
  }

  /** Heavy hitters: keys with at least 1.5× the mean per-key traffic,
    * with their share of total rows — the "which keys dominate the
    * workload" diagnostic that decides salting/broadcast strategy
    * before any big join. The cut is pure integer arithmetic
    * (2 · cnt · n_keys ≥ 3 · total ⟺ cnt ≥ 1.5×mean), so the boundary
    * is EXACT and engine-identical — an interpolated percentile
    * threshold would hinge on each engine's float interpolation rule
    * at the cut point (1-ulp differences flip membership). Self-
    * calibrating: the cut tracks the mean at any SF (fixture: ~1 % of
    * keys qualify at every scale factor, never zero, never the table). Two aggregations: the count pass
    * has map-side combine; the stats pass runs over one row per key.
    * At 100 TB the candidate pass becomes a count-min sketch (point
    * queries over the sketch nominate candidates, an exact second pass
    * verifies — same two-pass shape, sketch-sized first pass);
    * the exact form here doubles as that verifier. */
  def aggHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(count(lit(1)).as("n_keys"), sum($"cnt").as("total"))
    counts.crossJoin(broadcast(stats))
      .filter($"cnt" * lit(2) * $"n_keys" >= lit(3) * $"total")
      .select($"l_partkey", $"cnt",
        rnd6($"cnt".cast("double") / $"total".cast("double")).as("share"))
      .orderBy($"cnt".desc, $"l_partkey".asc)
  }

  val aggHeavyHittersSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH counts AS (
       |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
       |s AS (SELECT COUNT(*) AS n_keys,
       |  CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
       |SELECT l_partkey, cnt,
       |  ${sqlRnd6("CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)")} AS share
       |FROM counts, s WHERE cnt * 2 * n_keys >= 3 * total
       |ORDER BY cnt DESC, l_partkey ASC""".stripMargin
  }

  /** Distribution-drift check between two event cohorts (first vs
    * second half of the month): the per-category χ² contribution of
    * the event_type × cohort contingency table — the data-contract
    * monitor a training pipeline runs before accepting a new snapshot
    * ("did the event mix shift?").
    *
    * One shuffle builds the contingency table (|event_types| rows);
    * the column totals come back as a broadcast 1-row aggregate, NOT
    * an unpartitioned window — the table is small but the pattern must
    * hold when the category domain is huge. Expected counts and χ²
    * terms are assembled from exact BIGINT counts with one identical
    * double expression tree in both engines (products ≤ 2⁵³ at any
    * plausible count scale), so only the final rnd6 rounds. */
  def eventsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val counted = Tables.events(spark, sfDir)
      .select($"event_type",
        (dayofmonth($"ts") <= 15).cast("long").as("in_a"))
      .groupBy($"event_type")
      .agg(sum($"in_a").as("n_a"), sum(lit(1L) - $"in_a").as("n_b"))
    val totals = counted.agg(
      sum($"n_a").as("tot_a"), sum($"n_b").as("tot_b"))
    val t = $"tot_a" + $"tot_b"
    val eA = (($"n_a" + $"n_b") * $"tot_a").cast("double") / t.cast("double")
    val eB = (($"n_a" + $"n_b") * $"tot_b").cast("double") / t.cast("double")
    counted.crossJoin(broadcast(totals))
      .select($"event_type", $"n_a", $"n_b",
        rnd6(($"n_a".cast("double") - eA) * ($"n_a".cast("double") - eA) / eA
          + ($"n_b".cast("double") - eB) * ($"n_b".cast("double") - eB) / eB)
          .as("chi2_term"))
      .orderBy($"event_type")
  }

  val eventsDriftSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val eA = "(CAST((n_a + n_b) * tot_a AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))"
    val eB = "(CAST((n_a + n_b) * tot_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))"
    s"""WITH counted AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM events GROUP BY 1),
       |totals AS (
       |  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
       |    CAST(SUM(n_b) AS BIGINT) AS tot_b FROM counted)
       |SELECT event_type, n_a, n_b,
       |  ${sqlRnd6(s"(CAST(n_a AS DOUBLE) - $eA) * (CAST(n_a AS DOUBLE) - $eA) / $eA" +
         s" + (CAST(n_b AS DOUBLE) - $eB) * (CAST(n_b AS DOUBLE) - $eB) / $eB")} AS chi2_term
       |FROM counted, totals ORDER BY event_type""".stripMargin
  }

  /** Per-day Shannon entropy of the event-type mix + KL divergence
    * from the global mix — the information-theoretic drift monitor
    * complementing [[eventsDrift]]'s chi-square: entropy collapse
    * flags a day dominated by one event type, KL flags any shift
    * from the corpus-wide distribution. One shuffle to (day, type)
    * counts; day totals and the global distribution are O(days +
    * types) rows, broadcast back; each ln term is rnd6'd before the
    * decimal-exact sum (the [[graft.operators.TextOps.textTfidf]]
    * libm discipline), so term order cannot move the oracle. KL is
    * finite by construction: every observed (day, type) cell has a
    * nonzero global count. */
  def eventsEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val cells = Tables.events(spark, sfDir)
      .groupBy(to_date($"ts").as("d"), $"event_type")
      .agg(count(lit(1)).as("c"))
    val dayTot = cells.groupBy($"d").agg(sum($"c").as("day_n"))
    val global = cells.groupBy($"event_type").agg(sum($"c").as("g"))
    val globTot = global.agg(sum($"g").as("tot"))
    val p = $"c".cast("double") / $"day_n"
    val q = $"g".cast("double") / $"tot"
    cells.join(broadcast(dayTot), "d")
      .join(broadcast(global), "event_type")
      .crossJoin(broadcast(globTot))
      .select($"d", $"c", $"day_n",
        rnd6(-p * log(p)).as("h_term"),
        rnd6(p * log(p / q)).as("kl_term"))
      .groupBy($"d")
      .agg(max($"day_n").as("n"),
        Exact.xsum($"h_term").as("entropy"),
        Exact.xsum($"kl_term").as("kl_from_global"))
      .orderBy($"d")
  }

  val eventsEntropySql: String = {
    import graft.functions.Udfs.sqlRnd6
    val p = "(CAST(c.c AS DOUBLE) / dt.day_n)"
    val q = "(CAST(g.g AS DOUBLE) / gt.tot)"
    s"""WITH cells AS (
       |  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |day_tot AS (SELECT d, CAST(SUM(c) AS BIGINT) AS day_n
       |  FROM cells GROUP BY 1),
       |global AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS g
       |  FROM cells GROUP BY 1),
       |glob_tot AS (SELECT CAST(SUM(g) AS BIGINT) AS tot FROM global),
       |terms AS (
       |  SELECT c.d, dt.day_n,
       |    ${sqlRnd6(s"-$p * ln($p)")} AS h_term,
       |    ${sqlRnd6(s"$p * ln($p / $q)")} AS kl_term
       |  FROM cells c
       |  JOIN day_tot dt ON c.d = dt.d
       |  JOIN global g ON c.event_type = g.event_type, glob_tot gt)
       |SELECT d, MAX(day_n) AS n,
       |  ${Exact.sqlXsum("h_term")} AS entropy,
       |  ${Exact.sqlXsum("kl_term")} AS kl_from_global
       |FROM terms GROUP BY d ORDER BY d""".stripMargin
  }

  /** Welch's two-sample t-test between every pair of event-type
    * cohorts on `value` — the A/B-experiment readout, as pure
    * aggregation: ONE shuffle reduces the corpus to per-cohort
    * decimal-exact moments (n, Σx, Σx²); the t statistic and
    * Welch–Satterthwaite degrees of freedom are assembled pairwise
    * via a broadcast triangular join over that O(cohorts)-row table.
    * At 100 TB only the moment pass sees data — the pair math is
    * constant-size. No p-value on purpose: that needs the
    * t-distribution CDF, which DuckDB lacks, and the decision
    * statistic is (t, df) anyway. One identical expression tree from
    * exact sums → single rnd6 per output (the [[MlOps.mlLinreg]]
    * discipline); sqrt is IEEE correctly-rounded in both engines. */
  def eventsAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val stats = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        Exact.xsum($"value").as("sx"),
        Exact.xsum($"value" * $"value").as("sxx"))
    val b = stats.select($"event_type".as("type_b"), $"n".as("nb"),
      $"sx".as("sxb"), $"sxx".as("sxxb"))
    def mean(sx: Column, n: Column): Column = sx / n.cast("double")
    def svar(sxx: Column, sx: Column, n: Column): Column =
      (sxx - sx * sx / n.cast("double")) / (n - 1).cast("double")
    val va = svar($"sxx", $"sx", $"n") / $"n".cast("double")
    val vb = svar($"sxxb", $"sxb", $"nb") / $"nb".cast("double")
    val se2 = va + vb
    stats.join(broadcast(b), $"event_type" < $"type_b")
      .select($"event_type".as("type_a"), $"type_b", $"n".as("na"), $"nb",
        rnd6(mean($"sx", $"n")).as("mean_a"),
        rnd6(mean($"sxb", $"nb")).as("mean_b"),
        rnd6((mean($"sx", $"n") - mean($"sxb", $"nb")) / sqrt(se2)).as("t"),
        rnd6(se2 * se2 / (va * va / ($"n" - 1).cast("double") +
          vb * vb / ($"nb" - 1).cast("double"))).as("df"))
      .orderBy($"type_a", $"type_b")
  }

  val eventsAbtestSql: String = {
    import graft.functions.Udfs.sqlRnd6
    def mean(sx: String, n: String) = s"($sx / CAST($n AS DOUBLE))"
    def svar(sxx: String, sx: String, n: String) =
      s"(($sxx - $sx * $sx / CAST($n AS DOUBLE)) / CAST(($n) - 1 AS DOUBLE))"
    val va = s"(${svar("a.sxx", "a.sx", "a.n")} / CAST(a.n AS DOUBLE))"
    val vb = s"(${svar("b.sxx", "b.sx", "b.n")} / CAST(b.n AS DOUBLE))"
    val se2 = s"($va + $vb)"
    s"""WITH stats AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    ${Exact.sqlXsum("value")} AS sx,
       |    ${Exact.sqlXsum("value * value")} AS sxx
       |  FROM events GROUP BY 1)
       |SELECT a.event_type AS type_a, b.event_type AS type_b,
       |  a.n AS na, b.n AS nb,
       |  ${sqlRnd6(mean("a.sx", "a.n"))} AS mean_a,
       |  ${sqlRnd6(mean("b.sx", "b.n"))} AS mean_b,
       |  ${sqlRnd6(s"(${mean("a.sx", "a.n")} - ${mean("b.sx", "b.n")})" +
      s" / sqrt($se2)")} AS t,
       |  ${sqlRnd6(s"$se2 * $se2 / ($va * $va / CAST(a.n - 1 AS DOUBLE)" +
      s" + $vb * $vb / CAST(b.n - 1 AS DOUBLE))")} AS df
       |FROM stats a JOIN stats b ON a.event_type < b.event_type
       |ORDER BY type_a, type_b""".stripMargin
  }

  /** Two-sample Kolmogorov–Smirnov statistic between every pair of
    * event-type cohorts on `value` — the distribution-level companion
    * to [[eventsAbtest]] (which only compares means): D = max over the
    * value axis of |F̂_a − F̂_b|, sensitive to shape/scale shifts a
    * t-test misses. Same scale shape as [[aggMode]]/ml_auc: the corpus
    * collapses in ONE shuffle to (cohort, unit-bin, count) cells —
    * binning at integer granularity bounds the support, the honest
    * trade every streaming KS makes — then the empirical CDFs come
    * from a broadcast triangular join over the bounded bin grid (no
    * unpartitioned window), and D is EXACT integer arithmetic
    * throughout: |n_b·cum_a − n_a·cum_b| compared cross-multiplied, so
    * no float boundary can flip the argmax. The only float is the
    * final single division (both operands < 2⁵³, correctly rounded
    * identically in both engines). No p-value by design — the
    * Kolmogorov distribution CDF isn't in DuckDB, and the decision
    * statistic is (D, n_a, n_b) anyway. */
  def eventsKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val cells = Tables.events(spark, sfDir)
      .groupBy($"event_type", expr("cast(floor(value) as bigint)").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val nt = cells.groupBy($"event_type").agg(sum($"cnt").as("n"))
    val bins = cells.select($"bin").distinct()
    val grid = nt.select($"event_type").crossJoin(broadcast(bins))
    val c2 = cells.select($"event_type".as("t2"), $"bin".as("b2"),
      $"cnt".as("cnt2"))
    val cum = grid.join(broadcast(c2),
        $"t2" === $"event_type" && $"b2" <= $"bin", "left")
      .groupBy($"event_type", $"bin")
      .agg(coalesce(sum($"cnt2"), lit(0L)).as("cum"))
    val sides = cum.join(broadcast(nt), "event_type")
    val b = sides.select($"event_type".as("type_b"), $"bin".as("bin_b"),
      $"cum".as("cum_b"), $"n".as("nb"))
    val diffs = sides.join(broadcast(b),
        $"bin" === $"bin_b" && $"event_type" < $"type_b")
      .select($"event_type".as("type_a"), $"type_b", $"n".as("na"), $"nb",
        $"bin", abs($"nb" * $"cum" - $"na" * $"cum_b").as("dnum"))
    val dmax = diffs.groupBy($"type_a", $"type_b", $"na", $"nb")
      .agg(max($"dnum").as("d_num"))
    diffs.join(broadcast(dmax.withColumnRenamed("type_a", "ta")
        .withColumnRenamed("type_b", "tb")
        .select($"ta", $"tb", $"d_num")),
        $"type_a" === $"ta" && $"type_b" === $"tb" && $"dnum" === $"d_num")
      .groupBy($"type_a", $"type_b", $"na", $"nb", $"d_num")
      .agg(min($"bin").as("at_bin"))
      .select($"type_a", $"type_b", $"na", $"nb",
        rnd6($"d_num".cast("double") /
          ($"na".cast("double") * $"nb".cast("double"))).as("d"),
        $"at_bin")
      .orderBy($"type_a", $"type_b")
  }

  val eventsKsTestSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH cells AS (
       |  SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bin,
       |    COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |nt AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM cells GROUP BY 1),
       |bins AS (SELECT DISTINCT bin FROM cells),
       |grid AS (SELECT t.event_type, b.bin FROM nt t, bins b),
       |cum AS (
       |  SELECT g.event_type, g.bin,
       |    COALESCE(CAST(SUM(c.cnt) AS BIGINT), 0) AS cum
       |  FROM grid g LEFT JOIN cells c
       |    ON c.event_type = g.event_type AND c.bin <= g.bin
       |  GROUP BY 1, 2),
       |sides AS (SELECT c.event_type, c.bin, c.cum, t.n
       |  FROM cum c JOIN nt t USING (event_type)),
       |diffs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    a.n AS na, b.n AS nb, a.bin,
       |    ABS(b.n * a.cum - a.n * b.cum) AS dnum
       |  FROM sides a JOIN sides b
       |    ON a.bin = b.bin AND a.event_type < b.event_type),
       |dmax AS (SELECT type_a, type_b, na, nb, MAX(dnum) AS d_num
       |  FROM diffs GROUP BY 1, 2, 3, 4)
       |SELECT d.type_a, d.type_b, d.na, d.nb,
       |  ${sqlRnd6("CAST(d.d_num AS DOUBLE) / " +
      "(CAST(d.na AS DOUBLE) * CAST(d.nb AS DOUBLE))")} AS d,
       |  MIN(f.bin) AS at_bin
       |FROM dmax d JOIN diffs f
       |  ON f.type_a = d.type_a AND f.type_b = d.type_b
       |  AND f.dnum = d.d_num
       |GROUP BY 1, 2, 3, 4, 5
       |ORDER BY d.type_a, d.type_b""".stripMargin
  }

  /** Weighted median: per return flag, the smallest l_quantity whose
    * cumulative l_extendedprice weight reaches half the flag's total —
    * the inventory-value midpoint ("half the money sits at or below
    * this quantity"), a robust-statistics staple the plain median
    * misses when weights are skewed.
    *
    * Scale shape: the heavy input collapses FIRST through one
    * map-side-combined groupBy on (flag, quantity) — the cumulative
    * window then runs over at most #flags × #distinct-quantities rows
    * (bounded at any corpus scale; quantities are small integers), so
    * neither window funnels unbounded data through one task. All
    * weight arithmetic stays in DECIMAL(38,6) end to end — the
    * half-total comparison is `2·cum ≥ total` in exact decimals
    * (no division, no float boundary), so both engines pick the
    * identical crossing row. */
  def aggWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val w = org.apache.spark.sql.expressions.Window
    val grouped = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(sum($"l_extendedprice".cast("decimal(38,6)")).as("wsum"))
    val cumW = w.partitionBy($"l_returnflag").orderBy($"l_quantity")
      .rowsBetween(w.unboundedPreceding, w.currentRow)
    val totW = w.partitionBy($"l_returnflag")
      .rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    grouped
      .withColumn("cum", sum($"wsum").over(cumW))
      .withColumn("tot", sum($"wsum").over(totW))
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"l_returnflag")
      .agg(min($"l_quantity").as("w_median"),
        rnd6(max($"tot").cast("double")).as("w_total"))
      .orderBy($"l_returnflag")
  }

  val aggWeightedMedianSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH grouped AS (
       |  SELECT l_returnflag, l_quantity,
       |    SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS wsum
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, l_quantity, wsum,
       |    SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(wsum) OVER (PARTITION BY l_returnflag) AS tot
       |  FROM grouped)
       |SELECT l_returnflag, MIN(l_quantity) AS w_median,
       |  ${sqlRnd6("CAST(MAX(tot) AS DOUBLE)")} AS w_total
       |FROM cum WHERE cum * 2 >= tot
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }
}
