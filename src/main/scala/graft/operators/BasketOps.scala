package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.fpm.FPGrowth
import graft.engine.{DfCache, Exact, Tables}
import graft.functions.Udfs
import graft.functions.Udfs.rnd6

/** Market-basket mining — the "users who bought X also bought Y"
  * complement to the similarity-based recommender chain in [[CfOps]]:
  * frequent itemsets give co-purchase structure directly, and
  * association rules give directed recommend-Y-given-X signals with
  * confidence/lift scores.
  *
  * Runs MLlib's FPGrowth (the parallel FP-Growth of Li et al., PFP —
  * PAPERS.md), which distributes by item suffix in two shuffles; at
  * 100 TB the cost driver is basket width, so baskets here are each
  * user's TOP-[[BASKET_CAP]] brands by exact quantity (deterministic
  * tiebreak) — conditional FP-trees stay O(cap) deep and the pair
  * universe is hard-bounded, the same linearization [[CfOps]] applies
  * via USER_ITEM_CAP.
  *
  * Both queries are ORACLED EXACTLY despite going through an ML
  * library: FP-Growth is exhaustive counting, not estimation, so the
  * DuckDB twin reproduces frequent singletons/pairs from the identical
  * capped baskets with plain GROUP BYs, and rule metrics are the same
  * integer ratios. MIN_SUPPORT is 1/64 — a negative power of two, so
  * MLlib's `ceil(minSupport * n)` threshold is bit-identical to the
  * oracle's `CEIL(n / 64.0)`. Itemsets above size 2 are out of scope
  * of the registered surface (the oracle would need k-way self-joins);
  * the size filter is applied identically on both sides.
  */
object BasketOps {
  import Exact._

  private val BASKET_CAP = 4 // brands kept per user basket
  private val MIN_SUPPORT = 1.0 / 64 // exactly representable in binary

  /** (user_id, brand) baskets: each user's top-CAP brands by exact
    * quantity. Cached — both queries and their one FPGrowth fit share
    * it. */
  private def baskets(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "baskets") {
      import spark.implicits._
      val byBrand = Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, sfDir)
          .select($"l_orderkey", $"l_partkey", $"l_quantity"),
          $"o_orderkey" === $"l_orderkey")
        .join(Tables.part(spark, sfDir).select($"p_partkey", $"p_brand"),
          $"l_partkey" === $"p_partkey")
        .groupBy($"o_custkey".as("user_id"), $"p_brand".as("brand"))
        .agg(xsumFast($"l_quantity").as("q"))
      byBrand
        .withColumn("rk", row_number().over(
          Window.partitionBy($"user_id").orderBy($"q".desc, $"brand".asc)))
        .filter($"rk" <= BASKET_CAP)
        .select($"user_id", $"brand")
    }

  private val basketsCte: String =
    s"""baskets AS (
       |  SELECT user_id, brand FROM (
       |    SELECT o_custkey AS user_id, p_brand AS brand,
       |      row_number() OVER (PARTITION BY o_custkey
       |        ORDER BY ${sqlXsum("l_quantity")} DESC, p_brand ASC) AS rk
       |    FROM orders
       |    JOIN lineitem ON o_orderkey = l_orderkey
       |    JOIN part ON l_partkey = p_partkey
       |    GROUP BY o_custkey, p_brand)
       |  WHERE rk <= $BASKET_CAP)""".stripMargin

  /** Threshold / pair-count CTEs shared by both oracles. nb is the
    * basket count; minc mirrors MLlib's ceil(minSupport * n). */
  private val countsCte: String =
    s"""$basketsCte,
       |nb AS (SELECT COUNT(DISTINCT user_id) AS n FROM baskets),
       |f1 AS (SELECT brand, COUNT(*) AS c FROM baskets GROUP BY 1),
       |f2 AS (
       |  SELECT x.brand AS a, y.brand AS b, COUNT(*) AS c
       |  FROM baskets x JOIN baskets y
       |    ON x.user_id = y.user_id AND x.brand < y.brand
       |  GROUP BY 1, 2)""".stripMargin

  private def fitModel(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    val tx = baskets(spark, sfDir)
      .groupBy($"user_id").agg(collect_list($"brand").as("items"))
    new FPGrowth()
      .setItemsCol("items")
      .setMinSupport(MIN_SUPPORT)
      .setMinConfidence(0.0) // no confidence cut — avoids a float-boundary filter
      .fit(tx)
  }

  /** Frequent itemsets of size ≤ 2 (singleton brands and brand pairs)
    * with exact support counts. */
  def fpgrowthItemsets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    fitModel(spark, sfDir).freqItemsets
      .filter(size($"items") <= 2)
      .select(size($"items").as("n_items"),
        array_sort($"items").as("s"),
        $"freq")
      .select($"n_items",
        element_at($"s", 1).as("item_a"),
        when($"n_items" === 2, element_at($"s", 2)).as("item_b"),
        $"freq")
      .orderBy($"n_items", $"item_a", $"item_b".asc_nulls_first)
  }

  val fpgrowthItemsetsSql: String =
    s"""WITH $countsCte
       |SELECT n_items, item_a, item_b, freq FROM (
       |  SELECT 1 AS n_items, brand AS item_a,
       |    CAST(NULL AS VARCHAR) AS item_b, c AS freq
       |  FROM f1 WHERE c >= (SELECT CEIL(n / 64.0) FROM nb)
       |  UNION ALL
       |  SELECT 2, a, b, c FROM f2
       |  WHERE c >= (SELECT CEIL(n / 64.0) FROM nb))
       |ORDER BY n_items, item_a, item_b NULLS FIRST""".stripMargin

  /** Directed association rules X→Y from the frequent pairs, with
    * MLlib's confidence / lift / support ratios (mirrored in the same
    * operation order in the oracle, rnd6 on the float outputs). */
  def fpgrowthRules(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    fitModel(spark, sfDir).associationRules
      .filter(size($"antecedent") === 1 && size($"consequent") === 1)
      .select(element_at($"antecedent", 1).as("ante"),
        element_at($"consequent", 1).as("cons"),
        rnd6($"confidence").as("confidence"),
        rnd6($"lift").as("lift"),
        rnd6($"support").as("support"))
      .orderBy($"ante", $"cons")
  }

  val fpgrowthRulesSql: String =
    s"""WITH $countsCte,
       |fp AS (SELECT a, b, c FROM f2
       |  WHERE c >= (SELECT CEIL(n / 64.0) FROM nb)),
       |dir AS (
       |  SELECT a AS ante, b AS cons, c FROM fp
       |  UNION ALL
       |  SELECT b, a, c FROM fp)
       |SELECT d.ante, d.cons,
       |  ${Udfs.sqlRnd6("CAST(d.c AS DOUBLE) / fa.c")} AS confidence,
       |  ${Udfs.sqlRnd6("(CAST(d.c AS DOUBLE) / fa.c) / (CAST(fc.c AS DOUBLE) / (SELECT n FROM nb))")} AS lift,
       |  ${Udfs.sqlRnd6("CAST(d.c AS DOUBLE) / (SELECT n FROM nb)")} AS support
       |FROM dir d
       |JOIN f1 fa ON fa.brand = d.ante
       |JOIN f1 fc ON fc.brand = d.cons
       |ORDER BY ante, cons""".stripMargin

  /** First-order Markov transition model over each user's event
    * stream — the sequential-recommender complement to the basket
    * rules above ("after state X, users most often do Y next"). One
    * lag window partitioned by user (a single user_id exchange, state
    * bounded by per-user history) then a grouped count; the transition
    * probability is an exact integer ratio. The (ts, event_id) sort
    * key is total per user, so the lag is deterministic at any scale
    * and under retries. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("cur_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", rnd6($"n".cast("double") /
        sum($"n").over(Window.partitionBy($"prev_type"))))
      .orderBy($"prev_type", $"cur_type")
  }

  val markovTransitionsSql: String =
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |t AS (
       |  SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       |SELECT prev_type, cur_type, n,
       |  ${Udfs.sqlRnd6("CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type)")} AS p
       |FROM t ORDER BY prev_type, cur_type""".stripMargin

  /** Items per session kept for pair generation (smallest item ids —
    * deterministic, not arrival order) and the minimum co-session
    * support a pair must reach to be reported. The cap bounds pair
    * fan-out at C(16,2)=120 rows per session, so shuffle volume is
    * linear in sessions — the same discipline as CfOps.USER_ITEM_CAP. */
  private val COVIS_CAP = 16
  private val COVIS_MIN_SUPPORT = 2L

  /** Session co-visitation: "items seen together in one browsing
    * session" — the classic item-to-item signal, computed from raw
    * events with no ratings at all. Reuses [[graft.operators
    * .WindowOps.winSession]]'s gaps-and-islands decomposition (one
    * user_id exchange serves the lag AND the running session number),
    * takes each session's distinct item set (item = the `k` attribute
    * of the event's JSON props), caps it, and counts co-sessions per
    * item pair via a session-key equi-join. */
  def covisitation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 3600L * 1000000L
    // Explicit cores-wide partitioning ahead of the session windows:
    // the events fixture arrives as one input split and AQE's
    // byte-based coalescing kept the whole JSON-extract + dual-window
    // chain on ONE task (r14 stage profile: three sequential 1-task
    // 100k-row stages). The explicit count is AQE-coalesce-proof and
    // keyed on user_id, exactly the distribution both windows need,
    // so EnsureRequirements adds no further exchange (§2.5 — byte
    // advisories starve compute-heavy stages).
    val sessioned = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts",
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("item"))
      .filter($"item".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"user_id")
      .withColumn("gap_us", expr("unix_micros(ts)") -
        expr("unix_micros(lag(ts, 1) over (partition by user_id order by ts asc, event_id asc))"))
      .withColumn("is_new",
        when($"gap_us".isNull || $"gap_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session_no", sum($"is_new").over(wRun))
      .select($"user_id", $"session_no", $"item")
      .distinct()
    val wCap = Window.partitionBy($"user_id", $"session_no").orderBy($"item".asc)
    val capped = sessioned
      .withColumn("rk", row_number().over(wCap))
      .filter($"rk" <= COVIS_CAP)
      .select($"user_id", $"session_no", $"item")
    capped.as("a").join(capped.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"a.session_no" === $"b.session_no" &&
          $"a.item" < $"b.item")
      .groupBy($"a.item".as("item_a"), $"b.item".as("item_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .filter($"n_sessions" >= COVIS_MIN_SUPPORT)
      .orderBy($"item_a", $"item_b")
  }

  val covisitationSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |gapped AS (
       |  SELECT user_id, event_id, ts, item,
       |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
       |numbered AS (
       |  SELECT user_id, item,
       |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 3600000000
       |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
       |      ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_no
       |  FROM gapped),
       |items AS (SELECT DISTINCT user_id, session_no, item FROM numbered),
       |capped AS (
       |  SELECT user_id, session_no, item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, session_no
       |      ORDER BY item ASC) AS rk
       |    FROM items) WHERE rk <= $COVIS_CAP)
       |SELECT a.item AS item_a, b.item AS item_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_sessions
       |FROM capped a JOIN capped b
       |  ON a.user_id = b.user_id AND a.session_no = b.session_no
       |  AND a.item < b.item
       |GROUP BY 1, 2 HAVING COUNT(*) >= $COVIS_MIN_SUPPORT
       |ORDER BY item_a, item_b""".stripMargin

  /** Neighbors kept per item in the serving table. */
  private val COVIS_TOP_K = 5

  /** The co-visitation SERVING table: symmetrize [[covisitation]]'s
    * canonical pairs and keep each item's top-[[COVIS_TOP_K]]
    * co-visited neighbors — the artifact an online "people also
    * viewed" lookup actually reads. The per-item rank runs through
    * the library's partial-heap top-k operator
    * ([[graft.plans.TopKPerKey]]), so at catalog scale the exchange
    * carries ≤ k rows per item per map partition, not every pair. */
  def covisitationTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = covisitation(spark, sfDir)
      .select($"item_a", $"item_b", $"n_sessions")
    val sym = pairs.unionByName(pairs.select(
      $"item_b".as("item_a"), $"item_a".as("item_b"), $"n_sessions"))
    graft.plans.TopKPerKey.topK(sym,
        keyCols = Seq("item_a"),
        orderSpec = Seq("n_sessions" -> false, "item_b" -> true),
        k = COVIS_TOP_K, rankName = "rk")
      .select($"item_a".as("item"), $"rk",
        $"item_b".as("neighbor"), $"n_sessions")
      .orderBy($"item", $"rk")
  }

  val covisitationTopkSql: String = {
    val base = covisitationSql
      .replace("\nORDER BY item_a, item_b", "")
    s"""WITH canon AS ($base),
       |sym AS (
       |  SELECT item_a, item_b, n_sessions FROM canon
       |  UNION ALL
       |  SELECT item_b, item_a, n_sessions FROM canon)
       |SELECT item_a AS item, rk, item_b AS neighbor, n_sessions FROM (
       |  SELECT *, row_number() OVER (PARTITION BY item_a
       |    ORDER BY n_sessions DESC, item_b ASC) AS rk
       |  FROM sym)
       |WHERE rk <= $COVIS_TOP_K
       |ORDER BY item, rk""".stripMargin
  }
}
