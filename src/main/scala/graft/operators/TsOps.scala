package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Exact, Tables}

/** Time-series diagnostics over the daily order-revenue series — the
  * statistical layer a forecasting/monitoring pipeline runs after
  * aggregating raw facts to a regular time grid (the windowed smoother
  * lives in [[WindowOps.tsEwma]]).
  *
  * Scale notes: both queries reduce the fact table to ONE row per day
  * in a single partial-aggregated shuffle; everything after runs on
  * the O(#days) series (bounded by calendar time, not data volume —
  * the canonical "aggregate first, analyze the aggregate" shape that
  * is immune to 100× fact growth). Neither uses a window function, so
  * the fleet-wide unpartitioned-window guard stays trivially clean:
  * the lag alignment is a self-equi-join on the shifted date, which
  * Spark executes as a small shuffle (or broadcast) join rather than
  * a single-partition sort.
  */
object TsOps {
  import Exact._

  /** Autocorrelation lags examined: one trading week. */
  private val MAX_LAG = 7

  /** Lag-k autocorrelation (k = 1..[[MAX_LAG]]) of daily revenue, as
    * the Pearson correlation over the overlap pairs (x_t, x_{t−k}) —
    * the estimator a seasonality detector feeds on. Exact-decimal
    * moment sums make the reduction order-independent; the final
    * correlation is one identical double expression tree in both
    * engines, rnd6'd (the [[MlOps.mlLinreg]] discipline).
    */
  def tsAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
    val lagged = daily
      .select(explode(sequence(lit(1), lit(MAX_LAG))).as("k"), $"d", $"v")
    val pairs = lagged.as("a")
      .join(daily.as("b"), $"b.d" === date_sub($"a.d", $"a.k"))
      .select($"a.k".as("k"), $"a.v".as("x"), $"b.v".as("y"))
    val m = pairs.groupBy($"k")
      .agg(count(lit(1)).as("n"),
        xsum($"x").as("sx"), xsum($"y").as("sy"),
        xsum($"x" * $"y").as("sxy"),
        xsum($"x" * $"x").as("sxx"), xsum($"y" * $"y").as("syy"))
    val nd = $"n".cast("double")
    val num = nd * $"sxy" - $"sx" * $"sy"
    val den = sqrt((nd * $"sxx" - $"sx" * $"sx") *
      (nd * $"syy" - $"sy" * $"sy"))
    m.select($"k", $"n", rnd6(num / den).as("acf"))
      .orderBy($"k")
  }

  val tsAutocorrSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    val num = s"($nd * sxy - sx * sy)"
    val den = s"sqrt(($nd * sxx - sx * sx) * ($nd * syy - sy * sy))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1),
       |pairs AS (
       |  SELECT CAST(r.k AS INTEGER) AS k, a.v AS x, b.v AS y
       |  FROM daily a
       |  CROSS JOIN range(1, ${MAX_LAG + 1}) AS r(k)
       |  JOIN daily b ON b.d = a.d - CAST(r.k AS INTEGER)),
       |m AS (
       |  SELECT k, COUNT(*) AS n,
       |    ${sqlXsum("x")} AS sx, ${sqlXsum("y")} AS sy,
       |    ${sqlXsum("x * y")} AS sxy,
       |    ${sqlXsum("x * x")} AS sxx, ${sqlXsum("y * y")} AS syy
       |  FROM pairs GROUP BY 1)
       |SELECT k, n, ${sqlRnd6(s"$num / $den")} AS acf
       |FROM m ORDER BY k""".stripMargin
  }

  /** Day-of-week seasonal decomposition of daily revenue: per-ISO-dow
    * mean and the multiplicative seasonal index (dow mean ÷ grand
    * mean of the daily series) — 7 output rows whatever the corpus.
    * The grand mean rides a broadcast 1-row aggregate (no second scan
    * of the facts; both means re-reduce the SAME daily series with
    * exact-decimal sums, so the ratio is engine-identical). Spark's
    * `weekday` (0 = Monday) + 1 equals DuckDB's `isodow`.
    */
  def tsSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
    val perDow = daily
      .groupBy((weekday($"d") + 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), xsum($"v").as("sv"))
    val grand = daily
      .agg(xsum($"v").as("gs"), count(lit(1)).as("gn"))
    val dowAvg = $"sv" / $"n_days".cast("double")
    val grandAvg = $"gs" / $"gn".cast("double")
    perDow.crossJoin(broadcast(grand))
      .select($"dow", $"n_days",
        rnd6(dowAvg).as("avg_rev"),
        rnd6(dowAvg / grandAvg).as("seasonal_idx"))
      .orderBy($"dow")
  }

  val tsSeasonalSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val dowAvg = "(sv / CAST(n_days AS DOUBLE))"
    val grandAvg = "(gs / CAST(gn AS DOUBLE))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1),
       |per_dow AS (
       |  SELECT CAST(isodow(d) AS INTEGER) AS dow,
       |    COUNT(*) AS n_days, ${sqlXsum("v")} AS sv
       |  FROM daily GROUP BY 1),
       |grand AS (
       |  SELECT ${sqlXsum("v")} AS gs, COUNT(*) AS gn FROM daily)
       |SELECT dow, n_days,
       |  ${sqlRnd6(dowAvg)} AS avg_rev,
       |  ${sqlRnd6(s"$dowAvg / $grandAvg")} AS seasonal_idx
       |FROM per_dow, grand ORDER BY dow""".stripMargin
  }

  /** CUSUM parameters, in σ units: K = allowance (half the shift you
    * want to detect), H = alarm threshold — the textbook (0.5, 4). */
  private val CUSUM_K = 0.5
  private val CUSUM_H = 4.0

  /** Two-sided CUSUM changepoint detector over the standardized daily
    * revenue series — the sequential drift alarm a monitoring pipeline
    * keeps on every business metric. The textbook recursion
    * S⁺_t = max(0, S⁺_{t−1} + z_t − K) is inherently sequential, so it
    * is rewritten by the prefix identity S⁺_t = W_t − min(0, min_{j≤t}
    * W_j) with W_t = Σ_{i≤t}(z_i − K): both the running sum and its
    * prefix minimum come from triangular self-equi-joins on the
    * O(#days) series — NO window function, NO single-partition sort,
    * no driver recursion. The join is #days² pairs, bounded by
    * CALENDAR time — corpus growth leaves it untouched (the
    * [[tsAutocorr]] discipline squared).
    *
    * Determinism: z is rnd6'd per day (sqrt is the only libm call,
    * correctly rounded IEEE), the prefix sums are exact decimal folds
    * of 6-dp terms, the prefix min compares those exact values, and
    * the alarm threshold compares a rnd6'd statistic with a constant. */
  def tsCusum(spark: SparkSession, sfDir: String): DataFrame =
    // O(#days) frames through many sequential exchanges — the
    // iterative-key sizing applies (stage count is the cost)
    graft.engine.QuerySession(spark,
        graft.engine.QuerySession.SmallIterative) { spark =>
      tsCusumInner(spark, sfDir)
    }

  private def tsCusumInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
    val stats = daily.agg(count(lit(1)).as("n"),
      xsum($"v").as("sv"), xsum($"v" * $"v").as("svv"))
    val nd = $"n".cast("double")
    val mean = $"sv" / nd
    val std = sqrt((nd * $"svv" - $"sv" * $"sv") / (nd * nd))
    // localCheckpoint (eager): zt and w are O(#days) rows but feed
    // BOTH sides of a triangular join — without materialization the
    // upstream chain (daily agg at corpus size for zt) runs twice per
    // join, once for the broadcast build and once streamed.
    val zt = daily.crossJoin(broadcast(stats))
      .select($"d", rnd6(($"v" - mean) / std).as("z"))
      .localCheckpoint(true)
    val w = zt.as("a")
      .join(broadcast(zt.as("b")), $"b.d" <= $"a.d")
      .groupBy($"a.d".as("d"), $"a.z".as("z"))
      .agg(xsum($"b.z" - CUSUM_K).as("wp"),
        xsum(-$"b.z" - CUSUM_K).as("wn"))
      .localCheckpoint(true)
    val cum = w.as("a")
      .join(broadcast(w.as("b")), $"b.d" <= $"a.d")
      .groupBy($"a.d".as("d"), $"a.z".as("z"),
        $"a.wp".as("wp"), $"a.wn".as("wn"))
      .agg(min($"b.wp").as("minp"), min($"b.wn").as("minn"))
    cum.select($"d", $"z",
      rnd6($"wp" - least(lit(0.0), $"minp")).as("cusum_pos"),
      rnd6($"wn" - least(lit(0.0), $"minn")).as("cusum_neg"))
      .withColumn("alarm",
        ($"cusum_pos" > CUSUM_H || $"cusum_neg" > CUSUM_H).cast("int"))
      .orderBy($"d")
  }

  val tsCusumSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val mean = "sv / CAST(n AS DOUBLE)"
    val std = "sqrt((CAST(n AS DOUBLE) * svv - sv * sv)" +
      " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1),
       |stats AS (
       |  SELECT COUNT(*) AS n, ${sqlXsum("v")} AS sv,
       |    ${sqlXsum("v * v")} AS svv
       |  FROM daily),
       |zt AS (
       |  SELECT d, ${sqlRnd6(s"(v - $mean) / $std")} AS z
       |  FROM daily, stats),
       |w AS (
       |  SELECT a.d AS d, a.z AS z,
       |    ${sqlXsum(s"b.z - $CUSUM_K")} AS wp,
       |    ${sqlXsum(s"-b.z - $CUSUM_K")} AS wn
       |  FROM zt a JOIN zt b ON b.d <= a.d
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT a.d AS d, a.z AS z, a.wp AS wp, a.wn AS wn,
       |    MIN(b.wp) AS minp, MIN(b.wn) AS minn
       |  FROM w a JOIN w b ON b.d <= a.d
       |  GROUP BY 1, 2, 3, 4),
       |out AS (
       |  SELECT d, z,
       |    ${sqlRnd6("wp - least(CAST(0.0 AS DOUBLE), minp)")}
       |      AS cusum_pos,
       |    ${sqlRnd6("wn - least(CAST(0.0 AS DOUBLE), minn)")}
       |      AS cusum_neg
       |  FROM cum)
       |SELECT d, z, cusum_pos, cusum_neg,
       |  CAST(cusum_pos > $CUSUM_H OR cusum_neg > $CUSUM_H AS INTEGER)
       |    AS alarm
       |FROM out ORDER BY d""".stripMargin
  }

  /** Robust per-user anomaly detection: daily purchase spend flagged
    * when its absolute deviation from the user's MEDIAN day exceeds
    * 3× the user's median absolute deviation (MAD) — the
    * outlier-resistant twin of [[SnapshotOps.eventsAnomaly]]'s 3σ
    * z-score (mean and σ are themselves dragged by the outliers they
    * should flag; median/MAD are not). "Median" is the LOWER median
    * (element at rank ⌊(n+1)/2⌋): an integer SELECTION, not an
    * interpolation — engines can disagree on interpolated quantiles in
    * the last ulp, never on a selected element. All arithmetic runs in
    * exact integer CENTS (the [[DqOps.dqBenford]] extraction), so the
    * 3×MAD cut is a BIGINT comparison with no float boundary at all.
    *
    * Scale shape: the corpus collapses FIRST to (user, day) spend —
    * one partial-aggregated shuffle; the two selection windows
    * (median of spend, median of deviations) and both re-joins run
    * per-user on calendar-bounded partitions (≤ days-per-user rows)
    * sharing one user_id exchange. No unpartitioned window, no
    * quantile sketch needed: per-key medians at 100 TB are exactly
    * this shape. */
  def tsMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("DAY", $"ts").cast("date").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("c"))
      .groupBy($"user_id", $"day").agg(sum($"c").as("cents"))
    val wAll = Window.partitionBy($"user_id")
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame =
      df.withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy(col(value).asc, $"day".asc)))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"user_id", col(value).as(out))
    val med = lowerMedian(daily, "cents", "med")
    val dev = daily.join(med, "user_id")
      .withColumn("dev", abs($"cents" - $"med"))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, "user_id")
      .filter($"dev" > lit(3L) * $"mad")
      .select($"user_id", $"day", $"cents", $"med", $"mad")
      .orderBy($"user_id", $"day")
  }

  val tsMadOutliersSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |st AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY cents ASC, day ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM daily),
      |med AS (SELECT user_id, cents AS med FROM st WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT d.user_id, d.day, d.cents, m.med,
      |    abs(d.cents - m.med) AS dev
      |  FROM daily d JOIN med m USING (user_id)),
      |sd AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY dev ASC, day ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM dev),
      |mad AS (SELECT user_id, dev AS mad FROM sd WHERE rn = (n + 1) // 2)
      |SELECT d.user_id, d.day, d.cents, d.med, md.mad
      |FROM dev d JOIN mad md USING (user_id)
      |WHERE d.dev > 3 * md.mad
      |ORDER BY user_id, day""".stripMargin

  /** Weekly OHLC resampling of the daily revenue series — the
    * downsample a charting/monitoring layer asks of any metric store
    * (candlesticks: open = first day's value in the bucket, close =
    * last, high/low = extrema, volume = day count). Open/close are
    * ARG-extrema (`min_by`/`max_by` on the date), not positional —
    * order-independent, so the shuffle layout cannot change them; the
    * ISO week bucket (`date_trunc('week')` = Monday in both engines)
    * is computed BEFORE the aggregate, so the whole query is one
    * partial-aggregated shuffle over O(#days) rows. */
  def tsOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
    daily
      .groupBy(date_trunc("week", $"d").cast("date").as("wk"))
      .agg(count(lit(1)).as("n_days"),
        rnd6(min_by($"v", $"d")).as("open"),
        rnd6(max($"v")).as("high"),
        rnd6(min($"v")).as("low"),
        rnd6(max_by($"v", $"d")).as("close"),
        rnd6(xsum($"v")).as("total"))
      .orderBy($"wk")
  }

  val tsOhlcSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1)
       |SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
       |  COUNT(*) AS n_days,
       |  ${sqlRnd6("arg_min(v, d)")} AS open,
       |  ${sqlRnd6("max(v)")} AS high,
       |  ${sqlRnd6("min(v)")} AS low,
       |  ${sqlRnd6("arg_max(v, d)")} AS close,
       |  ${sqlRnd6(sqlXsum("v"))} AS total
       |FROM daily GROUP BY 1 ORDER BY wk""".stripMargin
  }

  /** Rolling 14-day correlation between daily revenue and daily order
    * count — the co-movement diagnostic behind "is average basket
    * size drifting". No window function: the trailing frame is a
    * RANGE SELF-JOIN on the O(#days) pre-aggregate (b.d within
    * [a.d − 13, a.d]), so work is O(14 · #days) however large the
    * fact table grows, and the fleet unpartitioned-window guard stays
    * clean. Exact-decimal moment sums; one identical double
    * correlation expression both sides, rnd6'd. Days with fewer than
    * 10 trailing observations are suppressed (warm-up). */
  def tsRollingCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("rev"),
        count(lit(1)).cast("double").as("cnt"))
    val m = daily.as("a")
      .join(daily.as("b"),
        $"b.d" >= date_sub($"a.d", 13) && $"b.d" <= $"a.d")
      .groupBy($"a.d".as("d"))
      .agg(count(lit(1)).as("n"),
        xsum($"b.rev").as("sx"), xsum($"b.cnt").as("sy"),
        xsum($"b.rev" * $"b.cnt").as("sxy"),
        xsum($"b.rev" * $"b.rev").as("sxx"),
        xsum($"b.cnt" * $"b.cnt").as("syy"))
      .filter($"n" >= 10)
    val nd = $"n".cast("double")
    val num = nd * $"sxy" - $"sx" * $"sy"
    val den = sqrt((nd * $"sxx" - $"sx" * $"sx") *
      (nd * $"syy" - $"sy" * $"sy"))
    m.select($"d", $"n", rnd6(num / den).as("roll_corr"))
      .orderBy($"d")
  }

  val tsRollingCorrSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    val num = s"($nd * sxy - sx * sy)"
    val den = s"sqrt(($nd * sxx - sx * sx) * ($nd * syy - sy * sy))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS rev,
       |    CAST(COUNT(*) AS DOUBLE) AS cnt
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT a.d AS d, COUNT(*) AS n,
       |    ${sqlXsum("b.rev")} AS sx, ${sqlXsum("b.cnt")} AS sy,
       |    ${sqlXsum("b.rev * b.cnt")} AS sxy,
       |    ${sqlXsum("b.rev * b.rev")} AS sxx,
       |    ${sqlXsum("b.cnt * b.cnt")} AS syy
       |  FROM daily a JOIN daily b
       |    ON b.d >= a.d - 13 AND b.d <= a.d
       |  GROUP BY 1 HAVING COUNT(*) >= 10)
       |SELECT d, n, ${sqlRnd6(s"$num / $den")} AS roll_corr
       |FROM m ORDER BY d""".stripMargin
  }

  /** Theil–Sen robust trend estimate per event type: the LOWER MEDIAN
    * of all pairwise slopes (v_j − v_i)/(d_j − d_i) over the daily
    * per-type value series — the breakdown-resistant alternative to
    * the OLS slope in [[MlOps.mlLinreg]] (a single outlier day drags
    * OLS arbitrarily; Theil–Sen tolerates ~29 % contamination).
    * Median is a SELECTION (row_number over the slope order, element
    * ⌊(n+1)/2⌋), never an interpolation — the [[tsMadOutliers]]
    * discipline; tie-break descends to the pair's dates so the pick
    * is total-ordered. Slopes divide two engine-identical exact
    * values, so the sort keys are bit-equal doubles in both engines.
    *
    * Scale shape: the corpus collapses to O(#types · #days) rows
    * first; the pair join is #days² per type — calendar-bounded, like
    * every triangular join in this file. The median window partitions
    * by event_type (never a single-partition sort). */
  def tsTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Udfs.rnd6
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(xsum($"value").as("v"))
    val slopes = daily.as("a")
      .join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.d" < $"b.d")
      .select($"a.event_type".as("event_type"),
        $"a.d".as("d0"), $"b.d".as("d1"),
        (($"b.v" - $"a.v") /
          datediff($"b.d", $"a.d").cast("double")).as("slope"))
    val ranked = slopes
      .withColumn("rn", row_number().over(Window.partitionBy($"event_type")
        .orderBy($"slope".asc, $"d0".asc, $"d1".asc)))
      .withColumn("np", count(lit(1)).over(
        Window.partitionBy($"event_type")))
    ranked.filter($"rn" === expr("(np + 1) div 2"))
      .select($"event_type", $"np".as("n_pairs"),
        rnd6($"slope").as("slope"))
      .orderBy($"event_type")
  }

  /** Trailing-window length for the Holt fit ([[tsHolt]]). */
  private[graft] val HOLT_K = 14

  /** Holt's recursion with α = β = ½ unrolled to exact lag weights:
    * [l; b]ₜ = A·[l; b]ₜ₋₁ + c·yₜ with A = [[½, ½], [−¼, ¾]],
    * c = [½, ¼], so stateₜ = Σ_{j<K} Aʲc·yₜ₋ⱼ + A^K·[yₜ₋K, 0].
    * Every entry of Aʲc is a dyadic rational (denominator 4^{j+1} ≤
    * 2³⁰) — EXACT in an IEEE double, so the weights interpolate into
    * both engines as identical literals. Returns (per-lag (w_l, w_b)
    * for lags 0..K−1, boundary-init weights at lag K). */
  private[graft] lazy val holtWeights
      : (IndexedSeq[(Double, Double)], (Double, Double)) = {
    def mul(x: Array[Double], y: Array[Double]) = Array(
      x(0) * y(0) + x(1) * y(2), x(0) * y(1) + x(1) * y(3),
      x(2) * y(0) + x(3) * y(2), x(2) * y(1) + x(3) * y(3))
    val a = Array(0.5, 0.5, -0.25, 0.75)
    var m = Array(1.0, 0.0, 0.0, 1.0)
    val ws = (0 until HOLT_K).map { _ =>
      val w = (m(0) * 0.5 + m(1) * 0.25, m(2) * 0.5 + m(3) * 0.25)
      m = mul(m, a)
      w
    }
    (ws, (m(0), m(2)))
  }

  /** Fixed-point weight denominator: 2¹⁶. The recursion's exact
    * dyadics have 2²⁸ denominators, but carrying 2²⁸ numerators
    * through the 6-decimal sum pushed it past 2⁵³ integer units,
    * where Spark's exact decimal→double expansion and DuckDB's
    * conversion disagree in the last ulp (observed at both SFs).
    * Rounding each weight to 16 fractional bits (still exact
    * dyadics, estimator shift ≤ 2⁻¹⁷ per lag) keeps the decimal sum
    * below ~2⁵² units at the gated SFs, where BOTH engines' casts
    * are exact — no rounding site anywhere in the pipeline. */
  private[graft] val HOLT_WBITS = 16

  /** `CASE lag WHEN ...` weight lookup shared VERBATIM by the Spark
    * expression and the DuckDB oracle — one source of truth, integer
    * numerators over 2^[[HOLT_WBITS]] (a double-typed weight would
    * put each product within an ulp of a 6-decimal half boundary
    * where the two engines' cast conventions can disagree). */
  private def holtCase(pick: ((Double, Double)) => Double,
      init: Double): String = {
    val scale = 1L << HOLT_WBITS
    def num(w: Double): Long = math.round(w * scale)
    "CASE lag " +
      holtWeights._1.zipWithIndex
        .map { case (w, j) => s"WHEN $j THEN ${num(pick(w))}" }
        .mkString(" ") +
      s" WHEN $HOLT_K THEN ${num(init)} ELSE 0 END"
  }

  /** Holt double exponential smoothing (level + trend, α = β = ½) of
    * the daily per-type value series — the trend-aware upgrade of
    * [[tsEwma]], same engineering discipline: the sequential
    * recursion is K-truncated ([[HOLT_K]] = 14; the state matrix's
    * spectral radius is √½, so truncation error < 1 %) into a FIXED
    * set of dyadic-exact lag weights ([[holtWeights]]), making the
    * estimator a trailing-window weighted sum — no driver recursion,
    * no unpartitioned window. The whole sum is EXACT: 6-decimal
    * daily values × integer weight numerators in decimal arithmetic,
    * one cast to double, one division by 2¹⁶ (a pure exponent shift,
    * lossless) — no per-term rounding site at all, so fold order and
    * engine cast conventions cannot reach the hash. Emits level,
    * trend, and the one-step-ahead forecast l + b.
    *
    * Scale shape: corpus → O(#types · #days) daily rows in one
    * partial-agg shuffle; the trailing window is a calendar-bounded
    * range self-join (≤ K+1 partners/row) on the tiny series, and
    * rows with a gapped or short history (n < K+1) are suppressed
    * rather than silently mis-weighted. */
  def tsHolt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scale = (1L << HOLT_WBITS).toDouble // 2^16: division is exact
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .as("v"))
    val (_, init) = holtWeights
    val lagged = daily.as("a")
      .join(daily.as("b"),
        $"a.event_type" === $"b.event_type" &&
          $"b.d" >= date_sub($"a.d", HOLT_K) && $"b.d" <= $"a.d")
      .select($"a.event_type".as("event_type"), $"a.d".as("d"),
        datediff($"a.d", $"b.d").as("lag"), $"b.v".as("v"))
    lagged
      .groupBy($"event_type", $"d")
      .agg(count(lit(1)).as("n"),
        (sum(expr(holtCase(_._1, init._1)) * $"v").cast("double") / scale)
          .as("level"),
        (sum(expr(holtCase(_._2, init._2)) * $"v").cast("double") / scale)
          .as("trend"))
      .filter($"n" === HOLT_K + 1)
      .select($"event_type", $"d", $"level", $"trend",
        ($"level" + $"trend").as("forecast"))
      .orderBy($"event_type", $"d")
  }

  val tsHoltSql: String = {
    val scale = 1L << HOLT_WBITS
    val (_, init) = holtWeights
    val lc = holtCase(_._1, init._1)
    val bc = holtCase(_._2, init._2)
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    SUM(CAST(value AS DECIMAL(18,6))) AS v
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT a.event_type AS event_type, a.d AS d,
       |    a.d - b.d AS lag, b.v AS v
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type
       |    AND b.d >= a.d - $HOLT_K AND b.d <= a.d),
       |agg AS (
       |  SELECT event_type, d, COUNT(*) AS n,
       |    CAST(SUM(($lc) * v) AS DOUBLE) / $scale.0 AS level,
       |    CAST(SUM(($bc) * v) AS DOUBLE) / $scale.0 AS trend
       |  FROM lagged GROUP BY 1, 2)
       |SELECT event_type, d, level, trend, level + trend AS forecast
       |FROM agg WHERE n = ${HOLT_K + 1}
       |ORDER BY event_type, d""".stripMargin
  }

  val tsTheilSenSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    ${sqlXsum("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |slopes AS (
       |  SELECT a.event_type AS event_type, a.d AS d0, b.d AS d1,
       |    (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS slope
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.d < b.d),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY slope ASC, d0 ASC, d1 ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS np
       |  FROM slopes)
       |SELECT event_type, np AS n_pairs, ${sqlRnd6("slope")} AS slope
       |FROM ranked WHERE rn = (np + 1) // 2
       |ORDER BY event_type""".stripMargin
  }

  /** Forecast accuracy of [[tsHolt]]'s one-step-ahead prediction —
    * the backtest every forecasting pipeline closes the loop with:
    * forecast(t) is compared to the ACTUAL value at t+1 per event
    * type, scoring MAPE, MAE and bias over the evaluable days. Pure
    * composition of the registered smoother with a shifted-date
    * self-join (the [[tsAutocorr]] lag-alignment pattern — no window)
    * and one exact-moment reduction; per-day absolute/percentage
    * errors are rnd6'd before the exact sum, divisions once at the
    * end. At 100 TB both inputs are already the O(#types · #days)
    * aggregates. */
  def tsForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val actual = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(xsum($"value").as("v"))
    val fc = tsHolt(spark, sfDir)
      .select($"event_type", $"d", $"forecast")
    val joined = fc.join(actual.select($"event_type",
        date_sub($"d", 1).as("d"), $"v".as("actual")),
      Seq("event_type", "d"))
    joined
      .select($"event_type",
        rnd6(abs($"forecast" - $"actual")).as("ae"),
        rnd6(abs($"forecast" - $"actual") / $"actual").as("ape"),
        rnd6($"forecast" - $"actual").as("err"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        rnd6(xsum($"ae") / count(lit(1))).as("mae"),
        rnd6(xsum($"ape") / count(lit(1))).as("mape"),
        rnd6(xsum($"err") / count(lit(1))).as("bias"))
      .orderBy($"event_type")
  }

  val tsForecastEvalSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH fc AS (SELECT event_type, d, forecast FROM (${tsHoltSql.replace("ORDER BY event_type, d", "")})),
       |actual AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    ${sqlXsum("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |joined AS (
       |  SELECT f.event_type,
       |    ${sqlRnd6("abs(f.forecast - a.v)")} AS ae,
       |    ${sqlRnd6("abs(f.forecast - a.v) / a.v")} AS ape,
       |    ${sqlRnd6("f.forecast - a.v")} AS err
       |  FROM fc f JOIN actual a
       |    ON f.event_type = a.event_type AND a.d = f.d + 1)
       |SELECT event_type, COUNT(*) AS n_days,
       |  ${sqlRnd6(s"${sqlXsum("ae")} / COUNT(*)")} AS mae,
       |  ${sqlRnd6(s"${sqlXsum("ape")} / COUNT(*)")} AS mape,
       |  ${sqlRnd6(s"${sqlXsum("err")} / COUNT(*)")} AS bias
       |FROM joined GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** Burst threshold in σ units for [[tsBursts]]. */
  private val BURST_Z = 1.0

  /** Burst detection on the daily revenue series: maximal runs of
    * consecutive days with z-score > [[BURST_Z]] — the
    * gaps-and-islands report ("which multi-day stretches ran hot")
    * that capacity planning and incident review read, and the
    * duration-aware companion of the pointwise [[tsCusum]] alarm.
    * Island numbering WITHOUT a global window (the series is one
    * global sequence, so a window here would be the unpartitioned
    * single-task sort the fleet guard bans): rank of each burst day =
    * COUNT of burst days ≤ it via a triangular self-equi-join on the
    * O(#days) series (the [[tsCusum]] prefix trick), island key =
    * d − rank — constant within a run, shifted between runs.
    *
    * Determinism: z from exact decimal moments with one correctly-
    * rounded sqrt, rnd6'd per day; ranks and dates are integers. */
  def tsBursts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
    val stats = daily.agg(count(lit(1)).as("n"),
      xsum($"v").as("sv"), xsum($"v" * $"v").as("svv"))
    val nd = $"n".cast("double")
    val mean = $"sv" / nd
    val std = sqrt((nd * $"svv" - $"sv" * $"sv") / (nd * nd))
    val burst = daily.crossJoin(broadcast(stats))
      .select($"d", rnd6(($"v" - mean) / std).as("z"))
      .filter($"z" > BURST_Z)
      .localCheckpoint(true) // both sides of the triangular rank join
    val ranked = burst.as("a")
      .join(broadcast(burst.as("b")), $"b.d" <= $"a.d")
      .groupBy($"a.d".as("d"), $"a.z".as("z"))
      .agg(count(lit(1)).as("rk"))
    ranked
      .groupBy(date_sub($"d", $"rk".cast("int")).as("island"))
      .agg(min($"d").as("start_d"), max($"d").as("end_d"),
        count(lit(1)).as("len"), rnd6(max($"z")).as("max_z"))
      .select($"start_d", $"end_d", $"len", $"max_z")
      .orderBy($"start_d")
  }

  val tsBurstsSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1),
       |stats AS (
       |  SELECT COUNT(*) AS n, ${sqlXsum("v")} AS sv,
       |    ${sqlXsum("v * v")} AS svv
       |  FROM daily),
       |burst AS (
       |  SELECT d, ${sqlRnd6(
      s"(v - sv / $nd) / sqrt(($nd * svv - sv * sv) / ($nd * $nd))")} AS z
       |  FROM daily, stats
       |  WHERE ${sqlRnd6(
      s"(v - sv / $nd) / sqrt(($nd * svv - sv * sv) / ($nd * $nd))")}
       |    > $BURST_Z),
       |ranked AS (
       |  SELECT a.d AS d, a.z AS z, COUNT(*) AS rk
       |  FROM burst a JOIN burst b ON b.d <= a.d GROUP BY 1, 2)
       |SELECT min(d) AS start_d, max(d) AS end_d, COUNT(*) AS len,
       |  ${sqlRnd6("max(z)")} AS max_z
       |FROM ranked GROUP BY d - CAST(rk AS INTEGER)
       |ORDER BY start_d""".stripMargin
  }

  /** Classical multiplicative decomposition of the daily revenue
    * series — y = trend × seasonal × residual, the STL-lite every
    * forecasting pipeline starts from: trend is the CENTERED 7-day
    * moving average (full windows only — edge days are suppressed,
    * not padded), the day-of-week seasonal index is the mean
    * detrended ratio per dow (a 7-row broadcast), and what remains
    * is the residual a monitoring rule thresholds. Differs from
    * [[tsSeasonal]] (raw dow means) by removing the trend FIRST, so
    * a growing series does not leak growth into the weekly shape.
    *
    * Determinism: trend = exact-decimal 7-day sum / 7; each division
    * is rnd6'd before the next exact sum (the chain discipline);
    * moving windows are calendar-bounded range self-joins on the
    * O(#days) aggregate, never a window over the corpus. */
  def tsDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(xsum($"o_totalprice").as("v"))
      .localCheckpoint(true) // both sides of the trend join + ratios
    val trend = daily.as("a")
      .join(daily.as("b"),
        $"b.d" >= date_sub($"a.d", 3) && $"b.d" <= date_add($"a.d", 3))
      .groupBy($"a.d".as("d"))
      .agg(count(lit(1)).as("n"), (xsum($"b.v") / 7.0).as("trend"))
      .filter($"n" === 7)
    val ratio = daily.join(trend, "d")
      .select($"d", $"v", $"trend", (weekday($"d") + 1).as("dow"),
        rnd6($"v" / $"trend").as("ratio"))
      .localCheckpoint(true) // feeds the index agg AND the output join
    val sidx = ratio.groupBy($"dow")
      .agg(rnd6(xsum($"ratio") / count(lit(1))).as("sidx"))
    ratio.join(broadcast(sidx), "dow")
      .select($"d", $"v", rnd6($"trend").as("trend"), $"dow", $"sidx",
        rnd6($"ratio" / $"sidx").as("residual"))
      .orderBy($"d")
  }

  val tsDecomposeSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    ${sqlXsum("o_totalprice")} AS v
       |  FROM orders GROUP BY 1),
       |trend AS (
       |  SELECT a.d AS d, COUNT(*) AS n, ${sqlXsum("b.v")} / 7.0 AS trend
       |  FROM daily a JOIN daily b
       |    ON b.d >= a.d - 3 AND b.d <= a.d + 3
       |  GROUP BY 1 HAVING COUNT(*) = 7),
       |ratio AS (
       |  SELECT daily.d, v, trend, CAST(isodow(daily.d) AS INTEGER) AS dow,
       |    ${sqlRnd6("v / trend")} AS ratio
       |  FROM daily JOIN trend ON daily.d = trend.d),
       |sidx AS (
       |  SELECT dow, ${sqlRnd6(s"${sqlXsum("ratio")} / COUNT(*)")} AS sidx
       |  FROM ratio GROUP BY 1)
       |SELECT d, v, ${sqlRnd6("trend")} AS trend, dow, sidx,
       |  ${sqlRnd6("ratio / sidx")} AS residual
       |FROM ratio JOIN sidx USING (dow)
       |ORDER BY d""".stripMargin
  }
}
