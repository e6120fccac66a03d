package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-parity arithmetic helpers (SURVEY.md §7.4 hazard 1).
  *
  * Parallel double-summation is order-dependent: Spark's partial/final
  * aggregation over 32 partitions will not bit-match DuckDB's sum. The
  * fix is to make the sum EXACT and therefore order-independent: keep
  * per-row arithmetic in IEEE double (deterministic and identical in
  * both engines), cast the per-row result to DECIMAL(38,6), sum the
  * decimals exactly, and cast back to double at the very end. A double
  * can never be exactly half-way at the 6th decimal digit (that would
  * need a factor of 5^7 in the denominator of a binary fraction), so
  * the decimal rounding is unambiguous in both engines.
  *
  * At 100 TB this also removes a nondeterminism class from reruns:
  * exact sums mean retried/speculative tasks cannot produce different
  * bytes, so downstream dedup-by-content and incremental recompute stay
  * stable.
  */
object Exact {
  private val D = DecimalType(38, 6)

  /** Exact, order-independent sum of a double expression → double. */
  def xsum(c: Column): Column = sum(c.cast(D)).cast(DoubleType)

  /** Bounded-domain variant: DECIMAL(18,6) terms keep Spark's Decimal
    * on the compact-long fast path (precision ≤ 18 ⇒ no BigDecimal in
    * the aggregation buffer) — ~2× faster on wide aggregations, same
    * exactness. Caller must guarantee |any partial sum| < 10^12
    * (12 integer digits); the CF chain's quantity-derived values are
    * < 10^8. Oracle twin is still [[sqlXsum]] — both are exact, so
    * the bytes agree. */
  private val D18 = DecimalType(18, 6)
  def xsumFast(c: Column): Column = {
    val s = sum(c.cast(D18))
    // In non-ANSI mode a DECIMAL(18,6) overflow yields NULL silently; a
    // NULL sum over a group with non-null inputs can ONLY be overflow,
    // so fail loudly instead of nulling scores downstream.
    when(s.isNull && count(c) > 0,
      raise_error(lit("xsumFast overflow: partial sum exceeded DECIMAL(18,6); use xsum")))
      .otherwise(s.cast(DoubleType))
  }

  /** Bounded-domain exact average (see [[xsumFast]]). */
  def xavgFast(c: Column): Column = xsumFast(c) / count(c)

  /** Exact-numerator average: decimal-sum / count, both deterministic. */
  def xavg(c: Column): Column = xsum(c) / count(c)

  /** Exact average rounded HALF_UP to 6 decimals, as a double: the
    * decimal sum divided by the count in decimal. Rounding the double
    * [[xavg]] with `rnd6` instead leaves a 7th-decimal tie to each
    * engine's double→decimal cast, and they differ: Spark rounds the
    * shortest decimal string of the double, DuckDB its exact binary
    * value (q_tpcds_brand_dev at sf0.001: 168372.9332525 → …253 vs
    * …252). */
  def xavg6(c: Column): Column = round(sum(c.cast(D)) / count(c), 6).cast(DoubleType)

  /** SCALAR twins of the column machinery above, for operators that
    * fold a bounded per-key candidate set locally (the r14 CF scoring
    * rework) instead of through a row-explosion + decimal hash
    * aggregation. Each replicates the EXACT arithmetic path of its
    * Column twin so results stay bit-identical to the oracle:
    *
    * - [[quantize6]] = one term's `cast(d AS DECIMAL(18,6))`:
    *   Spark's double→decimal cast goes through
    *   BigDecimal(Double.toString(d)) and HALF_UP at scale 6 — exactly
    *   java.math.BigDecimal.valueOf(d).setScale(6, HALF_UP). Returned
    *   as scaled-long micros (the compact-long fast path Spark itself
    *   uses at precision ≤ 18); summing micros in a Long is the exact,
    *   order-independent sum. longValueExact throws on overflow — the
    *   same fail-loud contract as [[xsumFast]]'s overflow guard.
    * - [[fromMicros]] = the sum's `cast(decimal AS DOUBLE)`
    *   (BigDecimal(unscaled, 6).doubleValue).
    * - [[rnd6Scalar]] = [[graft.functions.Udfs.rnd6]]'s
    *   (d + 1e-12) → DECIMAL(38,6) → DOUBLE chain. */
  def quantize6(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  def fromMicros(m: Long): Double =
    java.math.BigDecimal.valueOf(m, 6).doubleValue()

  def rnd6Scalar(d: Double): Double =
    java.math.BigDecimal.valueOf(d + 1e-12)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** SQL (DuckDB) twin of [[xsum]]; `e` is a SQL expression string. */
  def sqlXsum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"

  /** SQL twin of [[xavg]]. */
  def sqlXavg(e: String): String = s"${sqlXsum(e)} / COUNT($e)"

  /** SQL (DuckDB) twin of [[xavg6]]. DuckDB divides decimals in
    * double, so the quotient is an integer division of the sum in
    * micro-units, rounded half away from zero. */
  def sqlXavg6(e: String): String = {
    val micros = s"CAST(SUM(CAST(($e) AS DECIMAL(38,6))) * 1000000 AS HUGEINT)"
    val n = s"COUNT($e)"
    s"CAST(sign($micros) * ((2 * abs($micros) + $n) // (2 * $n)) AS DOUBLE) / 1000000.0"
  }
}
