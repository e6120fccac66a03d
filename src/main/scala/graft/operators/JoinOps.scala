package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Tables}

/** Joins (SURVEY.md §2.3).
  *
  * MR implements joins two ways: reduce-side (shuffle on key) and
  * map-side via DistributedCache. Spark's strategies map 1:1 —
  * shuffle-hash / sort-merge for the former, broadcast-hash for the
  * latter — and each variant here pins its strategy with a hint so the
  * physical plan is the one we'd want at 100 TB (asserted in
  * PlanShapeSpec).
  */
object JoinOps {

  /** Small-dim equi-join: explicit broadcast (MR DistributedCache).
    * nation is 25 rows — broadcast is correct at ANY fact-side scale. */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
      .select($"o_orderkey", $"c_name", $"n_name", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val joinBroadcastSql: String =
    """SELECT o_orderkey, c_name, n_name, o_totalprice
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderkey""".stripMargin

  /** Large-large equi-join on the shuffle-hash path (MR reduce-side).
    * At 100 TB: both sides hash-partition on the key; no sort cost,
    * but the build side must fit per-partition — AQE falls back to SMJ
    * if not. */
  def joinShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir).hint("shuffle_hash")
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_totalprice", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"o_totalprice")
  }

  val joinShuffleSql: String =
    """SELECT l_orderkey, l_linenumber, o_totalprice, l_quantity
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY l_orderkey, l_linenumber, l_quantity, o_totalprice""".stripMargin

  /** Same join on the sort-merge path — the spill-safe default for
    * large-large at scale. */
  def joinSortMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir).hint("merge")
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_orderdate", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"o_orderdate")
  }

  val joinSortMergeSql: String =
    """SELECT l_orderkey, l_linenumber, o_orderdate, l_extendedprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, o_orderdate""".stripMargin

  /** Left outer: every customer, with orders counted (0 for none) —
    * COUNT(col) skips the null-extended rows in both engines. */
  def joinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"))
      .orderBy($"c_custkey")
  }

  val joinOuterSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Left semi: existence probe (CF probe-set membership). */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.orders(spark, sfDir).filter($"o_totalprice" > 200000.0)
    Tables.customer(spark, sfDir)
      .join(big, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left anti: negation — parts never shipped in bulk (the
    * unseen-items candidate generator at the heart of the recommend
    * step). The right side is pre-filtered (l_quantity > 45) so the
    * anti-join provably returns rows at the test fixtures' density
    * (114 at sf0.01, 977 at sf0.1) — every part ships SOMEWHERE in the
    * dense fixture, so an unfiltered anti-join would pass vacuously
    * with 0 rows. The filter lives on the build side BEFORE the join,
    * so at scale it also shrinks the shuffled/broadcast set. */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bulk = Tables.lineitem(spark, sfDir).filter($"l_quantity" > 45.0)
    Tables.part(spark, sfDir)
      .join(bulk, $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey", $"p_name")
      .orderBy($"p_partkey")
  }

  val joinAntiSql: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45.0)
      |ORDER BY p_partkey""".stripMargin

  /** Theta/range join: equi on partkey + price band. The equi component
    * keeps it hash-joinable; the band is a post-join filter — the shape
    * that survives scale (a pure theta join would be BNLJ). */
  def joinThetaRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir),
        $"l_partkey" === $"p_partkey" &&
          $"l_extendedprice".between($"p_retailprice" * 0.5, $"p_retailprice" * 2.0))
      .select($"l_orderkey", $"l_linenumber", $"p_partkey",
        $"l_extendedprice", $"p_retailprice")
      .orderBy($"l_orderkey", $"l_linenumber", $"p_partkey", $"l_extendedprice")
  }

  val joinThetaRangeSql: String =
    """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice, p_retailprice
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |  AND l_extendedprice BETWEEN p_retailprice * 0.5 AND p_retailprice * 2.0
      |ORDER BY l_orderkey, l_linenumber, p_partkey, l_extendedprice""".stripMargin

  /** Self-join pair generation (MR co-occurrence mapper — the heart of
    * item-based CF): distinct event-type pairs per user, counted. */
  def joinSelfPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val a = e.select($"user_id", $"event_type".as("et_a"))
    val b = e.select($"user_id".as("user_b"), $"event_type".as("et_b"))
    a.join(b, $"user_id" === $"user_b" && $"et_a" < $"et_b")
      .groupBy($"et_a", $"et_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"et_a", $"et_b")
  }

  val joinSelfPairsSql: String =
    """SELECT a.event_type AS et_a, b.event_type AS et_b, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Bucketed co-located join: orders and lineitem written bucketed on
    * the join key (8 buckets, sorted), then joined WITHOUT a shuffle —
    * the pre-partitioned layout satisfies the join's distribution, so
    * the plan has no Exchange under the join (asserted in PlanSpec).
    * This is the 100 TB answer to a repeated big-big join: pay the
    * shuffle once at write time, never again at read time. The bucket
    * files are write-once layouts ([[DfCache.layout]]); a session
    * attaches them as EXTERNAL bucketed tables (metadata only). */
  def joinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The spec carries the declared columns + bucket spec: a code
    // change to either must force a rewrite, not re-attach a stale
    // layout with wrong bucket pruning.
    def bucketed(name: String, src: String, cols: String, key: String)(
        df: => DataFrame): DataFrame = {
      val table = name + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val dir = DfCache.layout(sfDir, name,
          s"$cols|bucketBy(8,$key)|sortBy($key)", Seq(src)) { dir =>
        spark.sql(s"DROP TABLE IF EXISTS $table")
        df.write.bucketBy(8, key).sortBy(key).option("path", dir)
          .saveAsTable(table)
      }
      if (!spark.catalog.tableExists(table))
        spark.sql(
          s"""CREATE TABLE $table ($cols) USING PARQUET
             |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
             |LOCATION '$dir'""".stripMargin)
      spark.table(table)
    }
    val o = bucketed("bkt_orders", s"$sfDir/orders.parquet",
        "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey") {
      Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority")
    }
    val l = bucketed("bkt_lineitem", s"$sfDir/lineitem.parquet",
        "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
        "l_orderkey") {
      Tables.lineitem(spark, sfDir)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    }
    o.join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(graft.engine.Exact.xsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"), count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  val joinBucketedSql: String =
    s"""SELECT o_orderpriority,
       |  ${graft.engine.Exact.sqlXsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Salted join: the hot-key mitigation as runnable code. The fact
    * side carries a deterministic salt (pmod of a secondary column);
    * the dim side is exploded across all salt values; the join key
    * becomes (key, salt), splitting any single hot key's rows across
    * SALTS partitions. Results are provably identical to the unsalted
    * join — the oracle IS the plain join. At 100 TB this (or AQE's
    * runtime skew split, SCALE.md §1) is what keeps one viral item /
    * power user from serializing a whole stage on one task. */
  def joinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val SALTS = 8
    val fact = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        pmod($"l_linenumber", lit(SALTS)).as("salt"))
    val dim = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority")
      .withColumn("salt", explode(sequence(lit(0), lit(SALTS - 1))))
    fact.join(dim,
        $"l_orderkey" === $"o_orderkey" && fact("salt") === dim("salt"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val joinSaltedSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The AQE-automatic twin of [[joinSalted]]: a DELIBERATELY skewed
    * key (70 % of lineitem collapses onto key 0, the classic
    * null-surrogate hot key) joined WITHOUT any manual salting —
    * the demonstration that Spark's adaptive skew-join split handles
    * what [[joinSalted]] mitigates by hand. Semantics are plain join
    * + aggregate, so the result is AQE-invariant and the DuckDB twin
    * oracles it; at fixture scale the dim side broadcasts (no skew
    * hazard at all), and Round7Spec re-plans this exact query with
    * broadcast disabled and the skew thresholds lowered to prove
    * `OptimizeSkewedJoin` splits the hot partition (`isSkew=true` in
    * the sort-merge join node) while returning identical bytes. At
    * 100 TB the same two knobs — AQE on, advisory partition size —
    * are the whole fix; no query rewrite. */
  def joinSkewAqe(spark: SparkSession, sfDir: String): DataFrame =
    skewJoinShape(skewFact(spark, sfDir), skewDim(spark, sfDir))

  private[graft] def skewFact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select(when(pmod($"l_partkey", lit(10)) < 7, lit(0L))
        .otherwise($"l_partkey").as("k"), $"l_quantity")
  }

  private[graft] def skewDim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .select($"p_partkey".as("k"), $"p_brand")
      .union(spark.range(1).select(lit(0L).as("k"),
        lit("Brand#0").as("p_brand")))
  }

  /** The join+aggregate under [[joinSkewAqe]], factored so the spec
    * can feed a fact with many map tasks (the fixture parquet is one
    * row group ⇒ one real mapper, and AQE can only split a skewed
    * partition at MAP-output boundaries). */
  private[graft] def skewJoinShape(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, "k")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))

  val joinSkewAqeSql: String =
    s"""WITH fact AS (
       |  SELECT CASE WHEN l_partkey % 10 < 7 THEN 0 ELSE l_partkey END AS k,
       |    l_quantity
       |  FROM lineitem),
       |dim AS (
       |  SELECT p_partkey AS k, p_brand FROM part
       |  UNION ALL SELECT 0, 'Brand#0')
       |SELECT p_brand, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM fact JOIN dim USING (k)
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Explicit Cartesian product — small×small only, the one shape
    * where a cross join is legitimate (calendar × dimension scaffolds,
    * parameter grids). Spark requires the explicit `crossJoin` call,
    * which is the right API design at scale: an accidental cross join
    * on fact tables is a cluster-killer, so the engine makes it
    * opt-in. Plans as BroadcastNestedLoopJoin over the broadcast-sized
    * side. */
  def joinCross(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.region(spark, sfDir).select($"r_name")
      .crossJoin(Tables.nation(spark, sfDir).select($"n_name"))
      .orderBy($"r_name", $"n_name")
  }

  val joinCrossSql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** As-of join: each purchase ↔ latest click at-or-before it, per
    * user. Composed scalably as union + running `last(ignoreNulls)` —
    * ONE shuffle on user_id, no range self-join blowup. Ties (none in
    * fixtures) order clicks before purchases to match ASOF's `>=`. */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("bigint").as("purchase_id"), lit(0).as("tag"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("bigint").as("click_id"),
        $"event_id".as("purchase_id"), lit(1).as("tag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"click_id".asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("matched_click", last($"click_id", ignoreNulls = true).over(w))
      .filter($"tag" === 1 && $"matched_click".isNotNull)
      .select($"purchase_id", $"user_id", $"ts", $"matched_click".as("click_id"))
      .orderBy($"purchase_id")
  }

  val joinAsofSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS ts,
      |  c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  /** Tolerance for [[joinAsofTolerance]], µs (1 hour). */
  private val ASOF_TOL_US = 3600L * 1000000

  /** As-of join WITH TOLERANCE (pandas `merge_asof(tolerance=…)`
    * semantics, completing the backward/forward/nearest family):
    * every purchase keeps its row (left semantics), matched to the
    * latest preceding click ONLY if that click is within 1 hour —
    * a stale match is worse than none for attribution. Same
    * single-shuffle union + running-last composition as [[joinAsof]],
    * carrying the matched click's timestamp so the tolerance test is
    * one map-side integer comparison; since backward as-of picks the
    * LATEST preceding click, "nearest then bound" ≡ "any within
    * bound". Oracle = DuckDB ASOF LEFT JOIN + the same CASE. */
  def joinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("bigint").as("purchase_id"), lit(0).as("tag"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("bigint").as("click_id"),
        $"event_id".as("purchase_id"), lit(1).as("tag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"click_id".asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("mc", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("mc_us", last(when($"tag" === 0, unix_micros($"ts")),
        ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .withColumn("gap_us", unix_micros($"ts") - $"mc_us")
      .select($"purchase_id", $"user_id", $"ts",
        when($"gap_us" <= ASOF_TOL_US, $"mc").as("click_id"),
        when($"gap_us" <= ASOF_TOL_US,
          ($"gap_us" / lit(1000000L)).cast("long")).as("gap_secs"))
      .orderBy($"purchase_id")
  }

  val joinAsofToleranceSql: String =
    s"""SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS ts,
       |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= $ASOF_TOL_US
       |    THEN c.event_id END AS click_id,
       |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= $ASOF_TOL_US
       |    THEN CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000
       |      AS BIGINT) END AS gap_secs
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id AND p.ts >= c.ts
       |ORDER BY purchase_id""".stripMargin

  /** Forward as-of join: each purchase ↔ EARLIEST click strictly
    * after it, per user ("what did the user do next"). Same
    * single-shuffle union + running-last composition as [[joinAsof]],
    * iterated in DESCENDING time: the last click seen walking
    * downward is the earliest one above the current row. Strictness
    * (`>`): at equal ts the purchase sorts before the click in the
    * iteration, so the tying click is not yet visible. DuckDB's ASOF
    * is backward-only, so the oracle is the windowed min-over-matches
    * form instead. */
  def joinAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("bigint").as("purchase_id"), lit(1).as("tag"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("bigint").as("click_id"),
        $"event_id".as("purchase_id"), lit(0).as("tag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".desc, $"tag".asc, $"click_id".desc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("matched_click", last($"click_id", ignoreNulls = true).over(w))
      .filter($"tag" === 0 && $"matched_click".isNotNull)
      .select($"purchase_id", $"user_id", $"ts", $"matched_click".as("click_id"))
      .orderBy($"purchase_id")
  }

  val joinAsofForwardSql: String =
    """SELECT purchase_id, user_id, ts, click_id FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id, p.ts,
      |    c.event_id AS click_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts ASC, c.event_id ASC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id AND c.ts > p.ts)
      |WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  /** Nearest as-of join — each purchase ↔ the click CLOSEST in time
    * (either direction, same user; backward wins ties, equal-ts click
    * counts as backward with Δ = 0). Completes the as-of family:
    * [[joinAsof]] is backward, [[joinAsofForward]] forward, this is
    * min |Δt| — the sensor-alignment join of time-series pipelines.
    *
    * Composition: the SAME single-shuffle union used by both
    * directional forms, with the backward candidate from an ascending
    * running-last and the forward candidate from a descending one —
    * two window sorts over ONE user_id exchange, then a per-row pick.
    * Candidates are exactly 2 per purchase, vs the naive per-user
    * click×purchase join whose fan-out is unbounded history. Equal-ts
    * click tiebreaks (backward: max click_id, the running-last of the
    * ascending walk; forward: min click_id) are mirrored in the
    * oracle's direction-dependent rank. */
  def joinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("bigint").as("purchase_id"), lit(0).as("tag"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("bigint").as("click_id"),
        $"event_id".as("purchase_id"), lit(1).as("tag"))
    val W = org.apache.spark.sql.expressions.Window
    // ascending: equal-ts clicks precede the purchase (inclusive match)
    val wB = W.partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"click_id".asc_nulls_last)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // descending: the purchase precedes equal-ts clicks (strict match)
    val wF = W.partitionBy($"user_id")
      .orderBy($"ts".desc, $"tag".desc, $"click_id".desc_nulls_last)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cand = when($"tag" === 0,
      struct($"ts".as("cts"), $"click_id".as("cid")))
    clicks.unionByName(purchases)
      .withColumn("b", last(cand, ignoreNulls = true).over(wB))
      .withColumn("f", last(cand, ignoreNulls = true).over(wF))
      .filter($"tag" === 1 && ($"b".isNotNull || $"f".isNotNull))
      .withColumn("db", unix_micros($"ts") - unix_micros($"b.cts"))
      .withColumn("df", unix_micros($"f.cts") - unix_micros($"ts"))
      .withColumn("use_b",
        $"f".isNull || ($"b".isNotNull && $"db" <= $"df"))
      .select($"purchase_id", $"user_id", $"ts",
        when($"use_b", $"b.cid").otherwise($"f.cid").as("click_id"),
        when($"use_b", $"db").otherwise($"df").as("delta_us"),
        when($"use_b", lit(0)).otherwise(lit(1)).as("dir"))
      .orderBy($"purchase_id")
  }

  val joinAsofNearestSql: String =
    """SELECT purchase_id, user_id, ts, click_id, delta_us, dir FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id, p.ts,
      |    c.event_id AS click_id,
      |    CAST(abs(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS delta_us,
      |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir,
      |    row_number() OVER (PARTITION BY p.event_id ORDER BY
      |      abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC,
      |      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
      |      CASE WHEN c.ts <= p.ts THEN -c.event_id
      |           ELSE c.event_id END ASC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id)
      |WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  /** Interval join: clicks within the hour before each error, same
    * user. Equi on user_id + time-range residual — hash-joinable; at
    * 100 TB add coarse time-bucket keys to both sides to bound the
    * per-key fanout. */
  def joinInterval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val errs = e.filter($"event_type" === "error")
      .select($"user_id".as("err_user"), $"event_id".as("err_id"), $"ts".as("err_ts"))
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id".as("clk_user"), $"event_id".as("click_id"), $"ts".as("clk_ts"))
    errs.join(clicks,
        $"err_user" === $"clk_user" &&
          $"clk_ts" >= expr("err_ts - INTERVAL 1 HOUR") && $"clk_ts" <= $"err_ts")
      .select($"err_id", $"click_id", $"err_user".as("user_id"))
      .orderBy($"err_id", $"click_id")
  }

  val joinIntervalSql: String =
    """SELECT e.event_id AS err_id, c.event_id AS click_id,
      |  e.user_id AS user_id
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      |  AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
      |ORDER BY err_id, click_id""".stripMargin

  /** The 100 TB path for [[joinInterval]]: time-bucket expansion turns
    * the range join into a pure equi-join. Each error's 1-hour lookback
    * window touches exactly two hour-buckets, so the error side expands
    * 2× (constant, not data-dependent); each click carries its single
    * bucket, so a matching pair meets in exactly one bucket — no
    * post-join dedup. The join key becomes (user, hour-bucket): shuffle
    * fanout per key is bounded by per-user-per-hour activity rather
    * than per-user history, which is what keeps the residual range
    * filter cheap when one user has years of events. The oracle is the
    * PLAIN interval join — bucketing is provably result-identical. */
  def joinIntervalBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val errs = e.filter($"event_type" === "error")
      .select($"user_id".as("err_user"), $"event_id".as("err_id"),
        $"ts".as("err_ts"), unix_timestamp($"ts").as("err_u"))
      .withColumn("bkt",
        explode(expr("sequence((err_u - 3600) div 3600, err_u div 3600)")))
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id".as("clk_user"), $"event_id".as("click_id"),
        $"ts".as("clk_ts"),
        expr("unix_timestamp(ts) div 3600").as("bkt"))
    errs.join(clicks,
        $"err_user" === $"clk_user" && errs("bkt") === clicks("bkt") &&
          $"clk_ts" >= expr("err_ts - INTERVAL 1 HOUR") && $"clk_ts" <= $"err_ts")
      .select($"err_id", $"click_id", $"err_user".as("user_id"))
      .orderBy($"err_id", $"click_id")
  }

  /** Oracle: identical to [[joinIntervalSql]] — the bucketed plan must
    * reproduce the plain range join bit-for-bit. */
  val joinIntervalBucketedSql: String = joinIntervalSql

  /** Spatial-grid self-join radius: grid cell edge = EPS, pairs kept
    * when squared L2 distance < EPS². 1/EPS is an exact integer so
    * `floor(px · 100)` is the cell id with no division. */
  private val SPA_EPS2 = 1.0e-4
  private val SPA_INV = 100.0

  /** All point pairs within L2 distance EPS of each other in the 2-D
    * projection of the embeddings — the grid-bucketed SPATIAL JOIN
    * (geohash/quadkey pattern): each point is replicated to its 3×3
    * cell neighborhood, the partner side sits in its HOME cell only,
    * and the equi-join on cell id finds every candidate exactly once
    * (cell size = radius ⇒ any qualifying pair differs by ≤ 1 cell per
    * axis; the replica→home direction plus `a_id < b_id` kills both
    * duplicates and mirrors). The all-pairs O(n²) comparison collapses
    * to O(n · density); the 9× replication is map-side (explode before
    * the one exchange on cell id).
    *
    * The oracle is the BRUTE-FORCE quadratic join — a differential
    * test that the pruning loses nothing, feasible because the fixture
    * point count is small; at 100 TB only the grid formulation runs.
    * Determinism: distances are products/sums of identical doubles in
    * an identical order (no division, no transcendentals), so raw
    * `dist2` is bit-exact in both engines; the order is total on the
    * unique (a_id, b_id) key. */
  def joinSpatialGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        element_at($"embedding", 1).cast("double").as("px"),
        element_at($"embedding", 2).cast("double").as("py"))
    val repl = pts.select($"vec_id".as("a_id"), $"px".as("ax"),
        $"py".as("ay"),
        explode(expr(
          s"""flatten(transform(array(-1L, 0L, 1L), dx ->
             |  transform(array(-1L, 0L, 1L), dy -> struct(
             |    CAST(floor(px * CAST($SPA_INV AS DOUBLE)) AS BIGINT) + dx
             |      AS cx,
             |    CAST(floor(py * CAST($SPA_INV AS DOUBLE)) AS BIGINT) + dy
             |      AS cy))))""".stripMargin)).as("c"))
      .select($"a_id", $"ax", $"ay", $"c.cx".as("cx"), $"c.cy".as("cy"))
    val home = pts.select($"vec_id".as("b_id"), $"px".as("bx"),
      $"py".as("by"),
      floor($"px" * lit(SPA_INV)).cast("long").as("cx"),
      floor($"py" * lit(SPA_INV)).cast("long").as("cy"))
    val d2 = ($"ax" - $"bx") * ($"ax" - $"bx") +
      ($"ay" - $"by") * ($"ay" - $"by")
    repl.join(home, Seq("cx", "cy"))
      .filter($"a_id" < $"b_id" && d2 < lit(SPA_EPS2))
      .select($"a_id", $"b_id", d2.as("dist2"))
      .orderBy($"a_id", $"b_id")
  }

  /** Brute-force quadratic oracle (see [[joinSpatialGrid]]). */
  val joinSpatialGridSql: String =
    s"""WITH p AS (
       |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS px,
       |    CAST(embedding[2] AS DOUBLE) AS py
       |  FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
       |    AS dist2
       |FROM p a JOIN p b ON a.vec_id < b.vec_id
       |WHERE (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
       |  < CAST($SPA_EPS2 AS DOUBLE)
       |ORDER BY a_id, b_id""".stripMargin

  /** Bloom-prefiltered selective join (the runtime-filter / semi-join
    * pushdown pattern): the build side is the SELECTIVE dim — the
    * suppliers of one nation, ~4% of suppliers — and a Bloom filter
    * over its join keys (`df.stat.bloomFilter`, the same
    * `org.apache.spark.util.sketch.BloomFilter` Spark's own runtime
    * bloom-filter rule injects) is shipped to the fact scan as a
    * cheap row-level prefilter BEFORE the join. Bloom guarantees no
    * false negatives, so the exact broadcast join afterwards removes
    * the (deterministic, ~1%) false positives — the result is exact,
    * which is why a plain join is a valid oracle. At 100 TB this is
    * the difference between shuffling the full fact table and
    * shuffling the ~4% that can possibly match: the filter is a few
    * hundred KB broadcast to every scan task, evaluated at read time
    * next to the parquet reader (BloomSelectivitySpec pins the
    * reduction). */
  def joinBloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val dim = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    // sized for the sf0.1 dim (~400 keys); create() seeds its hashes
    // deterministically, so the prefiltered row set is reproducible.
    // Ship the sketch in its portable byte form — the impl's bit
    // array does not survive closure serialization — and rehydrate
    // once per executor via the holder's transient-lazy field.
    val bf = dim.stat.bloomFilter("s_suppkey", 2000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val holder = new BloomHolder(bos.toByteArray)
    val mightContain = udf((k: Long) => holder.contains(k))
    Tables.lineitem(spark, sfDir)
      .filter(mightContain($"l_suppkey"))
      .join(broadcast(dim), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("n_items"),
        xsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
      .orderBy($"s_name")
  }

  /** Serializable carrier for a broadcast Bloom filter: the byte
    * image travels with the closure; the filter itself is rebuilt
    * lazily once per executor (transient-lazy). */
  private final class BloomHolder(bytes: Array[Byte]) extends Serializable {
    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    def contains(k: Long): Boolean = bf.mightContain(k)
  }

  /** PK-FK JOIN ELIMINATION ([[graft.plans.JoinElimination]]):
    * the BI-tool query shape — fact joined to its parent table "just
    * in case", grouping and measuring fact columns only. With
    * lineitem.l_orderkey → orders.o_orderkey declared (total FK,
    * unique PK — the TPC-H referential-integrity guarantee), the
    * inner join matches every lineitem exactly once, so the rule
    * deletes it: the optimized plan reads ONLY lineitem (the require
    * pins both directions). The oracle EXECUTES THE JOIN in DuckDB —
    * cross-engine proof the rewrite is semantics-preserving, not
    * just plausible. At 100 TB this deletes the fact-to-dimension
    * shuffle a generated star query pays for nothing. */
  def joinElimination(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    import graft.plans.{JoinElimination, MvRewrite}
    val raw = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), xsum($"l_quantity").as("sum_qty"))
    val rewritten = JoinElimination(Seq(JoinElimination.FkDef(
        "lineitem.parquet", "l_orderkey", "orders.parquet", "o_orderkey")))(
      raw.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]].queryExecution.analyzed)
    require(!MvRewrite.readsPath(rewritten, "orders.parquet"),
      "join elimination did not fire — the plan still reads orders")
    require(MvRewrite.readsPath(rewritten, "lineitem.parquet"),
      "eliminated plan must still read the fact")
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rewritten)
      .orderBy($"l_returnflag")
  }

  val joinEliminationSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  val joinBloomPrefilterSql: String =
    s"""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${graft.engine.Exact.sqlXsum("l_extendedprice * (1.0 - l_discount)")}
       |    AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = 'NATION_3'
       |GROUP BY s_name ORDER BY s_name""".stripMargin
}
