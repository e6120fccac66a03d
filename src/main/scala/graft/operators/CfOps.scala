package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Exact, Tables}
import graft.functions.Udfs.{rnd6, sqlRnd6}

/** Item-based collaborative-filtering recommender chain (SURVEY.md
  * §2.12) — the reference's raison d'être, re-expressed as a lazy
  * Catalyst DAG instead of seven chained MapReduce jobs with HDFS
  * barriers between them.
  *
  * Implicit ratings are derived from orders⋈lineitem: user = customer,
  * item = part, rating = Σ quantity purchased.
  *
  * Scale notes (100 TB):
  * - The ratings derivation is one shuffle (groupBy user,item) with
  *   map-side partial aggregation; both inputs are scanned with only
  *   the join/group columns (Catalyst prunes to the parquet reader).
  * - The item-pair self-join shuffles on user_id once; both sides of
  *   the self-join share the one shuffle (Spark reuses the exchange).
  *   Pair volume is bounded by the top-[[USER_ITEM_CAP]] window per
  *   user, making shuffle volume linear in user count (the quadratic
  *   term is capped); the oracle applies the identical window.
  * - Pairs with < 2 co-raters are dropped (MIN_SUPPORT): noise for the
  *   recommender and an output-size bound (pairs drop from O(n²) to
  *   the co-rated core).
  * - All cross-row sums are decimal-exact ([[graft.engine.Exact]]) so
  *   retried/speculative tasks and partition-count changes can never
  *   change output bytes.
  */
object CfOps {
  import Exact._

  // visible to GraphOps so its oracle CTEs interpolate the SAME
  // constants as userSimPairs (a literal copy would silently
  // desynchronize the graph oracles if either knob changed)
  private[operators] val MIN_SUPPORT = 2 // min co-raters for an item pair
  private val K_NEIGHBORS = 10 // neighbors kept per item
  private val TOP_N = 5 // recommendations per user

  /** Similarity is computed over each user's top-rated items only (ties
    * broken by item id). This is the standard pair-explosion bound for
    * item-based CF at scale: pairs per user go from k(k-1)/2 unbounded
    * (a power user with 10k ratings would emit 50M pairs) to a hard
    * ≤ CAP(CAP-1)/2, making the shuffle volume linear in users. The
    * cap is part of the engine's similarity SPEC — the SQL oracle
    * applies the identical window — not a lossy approximation bolted
    * on afterward. Prediction still scores against ALL of a user's
    * ratings; only the similarity estimate is capped. */
  private val USER_ITEM_CAP = 32

  /** (user_id, item_id, rating) from orders⋈lineitem. Reads the shared
    * persisted intermediate — the whole CF chain derives ratings exactly
    * once per session. */
  def ratingsDerive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ratings(spark, sfDir).orderBy($"user_id", $"item_id")
  }

  val ratingsDeriveSql: String =
    s"""SELECT o_custkey AS user_id, l_partkey AS item_id,
       |  ${sqlXsum("l_quantity")} AS rating
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1, 2 ORDER BY user_id, item_id""".stripMargin

  /** Ratings as a persisted intermediate (same values minus the sort). */
  private def ratings(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "ratings") {
      import spark.implicits._
      Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_partkey", $"l_quantity"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey".as("user_id"), $"l_partkey".as("item_id"))
        .agg(xsumFast($"l_quantity").as("rating"))
    }

  private val ratingsCte: String =
    s"""ratings AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    ${sqlXsum("l_quantity")} AS rating
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2)""".stripMargin

  /** SQL twin of the USER_ITEM_CAP window in [[simPairs]]. */
  private val cappedCte: String =
    s"""capped AS (
       |  SELECT user_id, item_id, rating FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY rating DESC, item_id ASC) AS urk
       |    FROM ratings) WHERE urk <= $USER_ITEM_CAP)""".stripMargin

  /** Per-user mean rating (MR: the user-means job). */
  def userMeans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ratings(spark, sfDir)
      .groupBy($"user_id")
      .agg(xavgFast($"rating").as("user_mean"), count(lit(1)).as("n_items"))
      .orderBy($"user_id")
  }

  val userMeansSql: String =
    s"""WITH $ratingsCte
       |SELECT user_id, ${sqlXavg("rating")} AS user_mean,
       |  COUNT(*) AS n_items
       |FROM ratings GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Unsorted, persisted similarity pairs (item–item cosine over
    * co-rating users; MR: co-occurrence + similarity jobs) — reused
    * by topk + predict. Pairs item_a < item_b with ≥ MIN_SUPPORT
    * co-raters; sim is rounded (rnd6) so downstream rank order is
    * cross-engine stable.
    *
    * Pair generation is the ratings self-join on user_id (both sides
    * reuse one shuffle exchange) feeding a hash aggregation on the
    * pair key with map-side partial combine. Measured against a
    * collect_list + higher-order-function pair explosion: the join
    * stays fully codegen'd while HOF lambdas evaluate interpreted,
    * and wins ~2× at sf0.1. Pair volume per user is hard-bounded by
    * the top-[[USER_ITEM_CAP]] window (the 100 TB pair-explosion
    * mitigation), applied identically in the SQL oracle. */
  /** Top-CAP items per user (see USER_ITEM_CAP). The window's user_id
    * shuffle and (user_id, …) sort are exactly what the pair self-join
    * needs, so EnsureRequirements adds no extra exchange — the cap
    * rides the join's existing shuffle. */
  private def cappedRatings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val capW = Window.partitionBy($"user_id")
      .orderBy($"rating".desc, $"item_id".asc)
    ratings(spark, sfDir)
      .withColumn("urk", row_number().over(capW))
      .filter($"urk" <= USER_ITEM_CAP)
      .select($"user_id", $"item_id", $"rating")
  }

  /** One shared pass over the capped pair stream computing ALL the
    * co-rated moment sums (n, Σxy, Σx, Σy, Σx², Σy² — decimal-exact):
    * cosine consumes Σxy, Pearson consumes the rest, so the expensive
    * self-join + pair aggregation runs ONCE per session instead of
    * once per similarity measure. */
  private def pairMoments(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "pairMoments") {
      import spark.implicits._
      // Mean-centered deviations ride the SAME pair pass (round 13):
      // adjusted cosine previously ran a SECOND capped self-join over
      // an identical pair stream just to sum dev products — folding
      // its three sums here (a node-sized user-means join on the map
      // side + three more map-combined aggregates; the pair stream is
      // scanned once either way) deletes that whole self-join
      // (optimization guide §1.2 step 1 / §2.3 aggregate-before-
      // shuffle). Deviations are the exact cleared-denominator form
      // dev' = n_u·r − S_u — see [[itemAdjustedCosine]]'s determinism
      // note; the expressions are byte-identical to the ones the
      // standalone pass used.
      val rl = cappedRatings(spark, sfDir)
        .select($"user_id", $"item_id", $"rating",
          $"rating".cast("long").as("ri"))
      val um = rl.groupBy($"user_id")
        .agg(sum($"ri").as("su"), count(lit(1)).as("nu"))
      // materialize the dev-augmented ratings ONCE: both self-join
      // sides read this (different projections → Catalyst would
      // recompute the means join per side, and the un-materialized
      // form measured the cold build at 25.6 s vs 16.7 control). The
      // capped window partitioned rl by user_id and the means join
      // preserves that layout, so the checkpointed copy makes the
      // self-join exchange-free on BOTH sides.
      val r = rl.join(um, "user_id")
        .select($"user_id", $"item_id", $"rating",
          ($"nu" * $"ri" - $"su").as("d"), ($"nu" * $"nu").as("n2"))
        .localCheckpoint(true)
      val a = r.select($"user_id", $"item_id".as("item_a"),
        $"rating".as("ra"), $"d".as("da"), $"n2")
      val b = r.select($"user_id".as("ub"), $"item_id".as("item_b"),
        $"rating".as("rb"), $"d".as("db"))
      a.join(b, $"user_id" === $"ub" && $"item_a" < $"item_b")
        .groupBy($"item_a", $"item_b")
        .agg(count(lit(1)).as("n_common"),
          xsumFast($"ra" * $"rb").as("dot"),
          xsumFast($"ra").as("sx"), xsumFast($"rb").as("sy"),
          xsumFast($"ra" * $"ra").as("sxx"), xsumFast($"rb" * $"rb").as("syy"),
          xsumFast(($"da" * $"db").cast("double") / $"n2").as("adot"),
          xsumFast(($"da" * $"da").cast("double") / $"n2").as("anaa"),
          xsumFast(($"db" * $"db").cast("double") / $"n2").as("anbb"))
        .filter($"n_common" >= MIN_SUPPORT)
    }

  // private[operators]: the hybrid recommender (ContentOps) blends
  // these collaborative pairs with content pairs
  private[operators] def simPairs(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "simPairs") {
      import spark.implicits._
      val r = cappedRatings(spark, sfDir)
      val norms = r.groupBy($"item_id")
        .agg(xsumFast($"rating" * $"rating").as("norm_sq"))
      pairMoments(spark, sfDir)
        .select($"item_a", $"item_b", $"dot", $"n_common")
        // norms is item-cardinality (Netflix: 17k rows); AQE converts
        // these to broadcast joins at runtime. Do NOT force broadcast()
        // here: an explicit BroadcastExchange spawns its own job that
        // cannot share the ratings scan with the pair aggregation and
        // measured ~2× slower than letting AQE plan it.
        .join(norms.select($"item_id".as("item_a"), $"norm_sq".as("na")), "item_a")
        .join(norms.select($"item_id".as("item_b"), $"norm_sq".as("nb")), "item_b")
        .select($"item_a", $"item_b", $"n_common",
          rnd6($"dot" / (sqrt($"na") * sqrt($"nb"))).as("sim"))
    }

  def itemCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    simPairs(spark, sfDir).orderBy($"item_a", $"item_b")
  }

  /** CTE chain ending in `cf_pairs(item_a, item_b, n_common, sim)` —
    * the SQL twin of [[simPairs]], shared with the hybrid oracle in
    * ContentOps so the two can never desynchronize. */
  private[operators] val cfPairsCte: String =
    s"""$ratingsCte,
       |$cappedCte,
       |norms AS (
       |  SELECT item_id, ${sqlXsum("rating * rating")} AS norm_sq
       |  FROM capped GROUP BY item_id),
       |cf_pairs AS (
       |  SELECT a.item_a, a.item_b, a.n_common,
       |    ${sqlRnd6("a.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq))")} AS sim
       |  FROM (
       |    SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |      ${sqlXsum("r1.rating * r2.rating")} AS dot,
       |      COUNT(*) AS n_common
       |    FROM capped r1 JOIN capped r2
       |      ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT) a
       |  JOIN norms na ON a.item_a = na.item_id
       |  JOIN norms nb ON a.item_b = nb.item_id)""".stripMargin

  val itemCosineSql: String =
    s"""WITH $cfPairsCte
       |SELECT item_a, item_b, n_common, sim
       |FROM cf_pairs ORDER BY item_a, item_b""".stripMargin

  /** Item–item Pearson correlation over co-rating users — the classic
    * Netflix-recommender alternative to cosine, computed on the SAME
    * capped pair stream with the five co-rated moment sums
    * (Σxy, Σx, Σy, Σx², Σy², all decimal-exact). Pairs whose variance
    * term is zero (an item rated identically by every co-rater) are
    * excluded: their correlation is undefined, and the exact decimal
    * sums make the zero test engine-identical. */
  def itemPearson(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pairMoments(spark, sfDir)
      .withColumn("vx", $"n_common" * $"sxx" - $"sx" * $"sx")
      .withColumn("vy", $"n_common" * $"syy" - $"sy" * $"sy")
      .filter($"vx" > 0 && $"vy" > 0)
      .select($"item_a", $"item_b", $"n_common",
        rnd6(($"n_common" * $"dot" - $"sx" * $"sy") /
          (sqrt($"vx") * sqrt($"vy"))).as("pearson"))
      .orderBy($"item_a", $"item_b")
  }

  val itemPearsonSql: String =
    s"""WITH $ratingsCte,
       |$cappedCte,
       |mom AS (
       |  SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |    COUNT(*) AS n_common,
       |    ${sqlXsum("r1.rating * r2.rating")} AS sxy,
       |    ${sqlXsum("r1.rating")} AS sx, ${sqlXsum("r2.rating")} AS sy,
       |    ${sqlXsum("r1.rating * r1.rating")} AS sxx,
       |    ${sqlXsum("r2.rating * r2.rating")} AS syy
       |  FROM capped r1 JOIN capped r2
       |    ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT),
       |v AS (
       |  SELECT *, n_common * sxx - sx * sx AS vx,
       |    n_common * syy - sy * sy AS vy
       |  FROM mom)
       |SELECT item_a, item_b, n_common,
       |  ${sqlRnd6("(n_common * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))")} AS pearson
       |FROM v WHERE vx > 0 AND vy > 0
       |ORDER BY item_a, item_b""".stripMargin

  /** Item–item co-occurrence Jaccard — |raters(a) ∩ raters(b)| /
    * |raters(a) ∪ raters(b)| — the set-overlap similarity implicit-
    * feedback recommenders use when rating magnitudes are unreliable.
    * Intersections come from the shared [[pairMoments]] pass; per-item
    * rater counts are an item-cardinality aggregate (AQE broadcasts
    * them). Integer arithmetic except the final division — rnd6 keeps
    * the quotient engine-identical. */
  def itemJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = cappedRatings(spark, sfDir)
      .groupBy($"item_id").agg(count(lit(1)).as("n_raters"))
    pairMoments(spark, sfDir)
      .select($"item_a", $"item_b", $"n_common")
      .join(counts.select($"item_id".as("item_a"), $"n_raters".as("na")), "item_a")
      .join(counts.select($"item_id".as("item_b"), $"n_raters".as("nb")), "item_b")
      .select($"item_a", $"item_b", $"n_common",
        rnd6($"n_common" / ($"na" + $"nb" - $"n_common")).as("jaccard"))
      .orderBy($"item_a", $"item_b")
  }

  val itemJaccardSql: String =
    s"""WITH $ratingsCte,
       |$cappedCte,
       |counts AS (
       |  SELECT item_id, COUNT(*) AS n_raters FROM capped GROUP BY item_id),
       |inter AS (
       |  SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |    COUNT(*) AS n_common
       |  FROM capped r1 JOIN capped r2
       |    ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT)
       |SELECT i.item_a, i.item_b, i.n_common,
       |  ${sqlRnd6("i.n_common / (ca.n_raters + cb.n_raters - i.n_common)")} AS jaccard
       |FROM inter i
       |JOIN counts ca ON i.item_a = ca.item_id
       |JOIN counts cb ON i.item_b = cb.item_id
       |ORDER BY item_a, item_b""".stripMargin

  /** Adjusted cosine (Sarwar et al.'s item-based CF metric): cosine
    * over USER-MEAN-CENTERED ratings — the variant that corrects for
    * rating-scale differences between users, which plain [[itemCosine]]
    * conflates with preference. Sums run over each pair's co-raters.
    *
    * Determinism: deviations are kept EXACT by clearing the mean's
    * denominator — dev'_u = n_u·r − S_u is a small integer (|dev'| ≤
    * 2·CAP·50), so the only per-row float op is one division by n_u²,
    * correctly rounded identically in both engines, before the exact
    * decimal sum. This avoids the chained-rounding trap the bias
    * baseline hit (two stages of rnd6'd means drift past a rounding
    * boundary); here there is exactly one rounding site, the final
    * rnd6(sim). Same capped self-join shape and shuffle budget as
    * [[simPairs]]; pairs where either side has zero variance are
    * dropped (sim undefined). */
  def itemAdjustedCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // round 13: the mean-centered moment sums now ride the shared
    // [[pairMoments]] pass (adot/anaa/anbb) — this operator's private
    // capped self-join over the identical pair stream is gone; what
    // remains is a projection over the cached moments. The MIN_SUPPORT
    // cut is already applied inside pairMoments.
    pairMoments(spark, sfDir)
      .filter($"anaa" > 0 && $"anbb" > 0)
      .select($"item_a", $"item_b", $"n_common",
        rnd6($"adot" / sqrt($"anaa" * $"anbb")).as("sim"))
      .orderBy($"item_a", $"item_b")
  }

  val itemAdjustedCosineSql: String =
    s"""WITH $ratingsCte,
       |$cappedCte,
       |ci AS (SELECT user_id, item_id, CAST(rating AS BIGINT) AS ri
       |  FROM capped),
       |um AS (SELECT user_id, SUM(ri) AS su, COUNT(*) AS nu
       |  FROM ci GROUP BY user_id),
       |dev AS (
       |  SELECT c.user_id, c.item_id,
       |    um.nu * c.ri - um.su AS d, um.nu * um.nu AS n2
       |  FROM ci c JOIN um USING (user_id)),
       |pairs AS (
       |  SELECT a.item_a, a.item_b, a.n_common, a.dot, a.naa, a.nbb FROM (
       |    SELECT x.item_id AS item_a, y.item_id AS item_b,
       |      COUNT(*) AS n_common,
       |      ${sqlXsum("CAST(x.d * y.d AS DOUBLE) / x.n2")} AS dot,
       |      ${sqlXsum("CAST(x.d * x.d AS DOUBLE) / x.n2")} AS naa,
       |      ${sqlXsum("CAST(y.d * y.d AS DOUBLE) / y.n2")} AS nbb
       |    FROM dev x JOIN dev y
       |      ON x.user_id = y.user_id AND x.item_id < y.item_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT) a
       |  WHERE a.naa > 0 AND a.nbb > 0)
       |SELECT item_a, item_b, n_common,
       |  ${sqlRnd6("dot / sqrt(naa * nbb)")} AS sim
       |FROM pairs ORDER BY item_a, item_b""".stripMargin

  /** Time-decayed implicit ratings: each purchase contributes
    * quantity · 2^-(age_years), age anchored at the corpus's newest
    * order date — recency weighting for the recommender (a purchase
    * six years ago says less than one last month; Ding & Li's
    * time-weighted CF, with a one-year half-life).
    *
    * Determinism: the weight is a DYADIC rational — quantity divided
    * by an integer power of two (`shiftleft`, capped at 2^30) — so
    * the per-row double is EXACT, not a `pow()` approximation, and
    * the exact-decimal sum is byte-identical cross-engine. Decay
    * beyond 6 decimals truncates to zero in the DECIMAL(18,6) sum on
    * both sides — part of the spec, not drift. Same single-shuffle
    * derive as [[ratingsDerive]] plus one broadcast scalar (the
    * anchor date). */
  def ratingsTimeDecay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val anchor = o.agg(max($"o_orderdate".cast("date")).as("anchor"))
    o.select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .crossJoin(broadcast(anchor))
      .join(Tables.lineitem(spark, sfDir)
        .select($"l_orderkey", $"l_partkey", $"l_quantity"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("user_id"), $"l_partkey".as("item_id"),
        ($"l_quantity" / expr(
          "cast(shiftleft(1L, cast(least(datediff(anchor, cast(o_orderdate as date)) div 365, 30) as int)) as double)"))
          .as("wq"))
      .groupBy($"user_id", $"item_id")
      .agg(xsumFast($"wq").as("rating_decayed"))
      .orderBy($"user_id", $"item_id")
  }

  val ratingsTimeDecaySql: String =
    s"""WITH a AS (
       |  SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor FROM orders)
       |SELECT o_custkey AS user_id, l_partkey AS item_id,
       |  ${sqlXsum(
            "l_quantity / CAST(1::BIGINT << CAST(LEAST(" +
            "date_diff('day', CAST(o_orderdate AS DATE), (SELECT anchor FROM a)) // 365, 30) AS INTEGER) AS DOUBLE)")}
       |    AS rating_decayed
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1, 2 ORDER BY user_id, item_id""".stripMargin

  /** Cap for the user–user pair explosion: similarity is computed over
    * each ITEM's top raters only, the exact transpose of
    * [[USER_ITEM_CAP]] — pairs per item are hard-bounded, shuffle
    * volume stays linear in item count. Part of the similarity spec;
    * the oracle applies the identical window. 16 (vs 32 on the item
    * axis) because pair volume grows with cap² × item count and the
    * item axis has ~20k generators at sf0.1 vs 1.5k users — measured
    * 20 s → ~6 s for the user chain at sf0.1 with no change in the
    * operator's shape. */
  private[operators] val ITEM_USER_CAP = 16

  /** User–user cosine similarity over co-rated items — the transpose
    * of [[itemCosine]], the other classic neighborhood CF axis
    * (user-based kNN). Same shape: one self-join on the capped rating
    * stream sharing a single shuffle, decimal-exact moment sums,
    * MIN_SUPPORT ≥ 2 common items. */
  /** Per-item top-[[ITEM_USER_CAP]] raters — the bounded bipartite
    * (user, item) edge set behind the whole user-graph family
    * ([[userSimPairs]], [[GraphOps]]' pair graph and HITS). Cached:
    * several consumers, one window pass. */
  private[operators] def itemCappedRatings(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "itemCappedRatings") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val capW = Window.partitionBy($"item_id")
        .orderBy($"rating".desc, $"user_id".asc)
      ratings(spark, sfDir)
        .withColumn("irk", row_number().over(capW))
        .filter($"irk" <= ITEM_USER_CAP)
        .select($"user_id", $"item_id", $"rating")
    }

  private[operators] def userSimPairs(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "userSimPairs") {
      import spark.implicits._
      val capped = itemCappedRatings(spark, sfDir)
      val norms = capped.groupBy($"user_id")
        .agg(xsumFast($"rating" * $"rating").as("norm_sq"))
      val a = capped.select($"item_id", $"user_id".as("user_a"), $"rating".as("ra"))
      val b = capped.select($"item_id".as("ib"), $"user_id".as("user_b"), $"rating".as("rb"))
      a.join(b, $"item_id" === $"ib" && $"user_a" < $"user_b")
        .groupBy($"user_a", $"user_b")
        .agg(count(lit(1)).as("n_common"), xsumFast($"ra" * $"rb").as("dot"))
        .filter($"n_common" >= MIN_SUPPORT)
        .join(norms.select($"user_id".as("user_a"), $"norm_sq".as("na")), "user_a")
        .join(norms.select($"user_id".as("user_b"), $"norm_sq".as("nb")), "user_b")
        .select($"user_a", $"user_b", $"n_common",
          rnd6($"dot" / (sqrt($"na") * sqrt($"nb"))).as("sim"))
    }

  def userCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    userSimPairs(spark, sfDir).orderBy($"user_a", $"user_b")
  }

  val userCosineSql: String =
    s"""WITH $ratingsCte,
       |capped AS (
       |  SELECT user_id, item_id, rating FROM (
       |    SELECT *, row_number() OVER (PARTITION BY item_id
       |      ORDER BY rating DESC, user_id ASC) AS irk
       |    FROM ratings) WHERE irk <= $ITEM_USER_CAP),
       |norms AS (
       |  SELECT user_id, ${sqlXsum("rating * rating")} AS norm_sq
       |  FROM capped GROUP BY user_id),
       |pairs AS (
       |  SELECT r1.user_id AS user_a, r2.user_id AS user_b,
       |    COUNT(*) AS n_common,
       |    ${sqlXsum("r1.rating * r2.rating")} AS dot
       |  FROM capped r1 JOIN capped r2
       |    ON r1.item_id = r2.item_id AND r1.user_id < r2.user_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT)
       |SELECT p.user_a, p.user_b, p.n_common,
       |  ${sqlRnd6("p.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq))")} AS sim
       |FROM pairs p
       |JOIN norms na ON p.user_a = na.user_id
       |JOIN norms nb ON p.user_b = nb.user_id
       |ORDER BY user_a, user_b""".stripMargin

  /** Add one candidate term to `acc(item)` = (Σ term micros, Σ
    * weight), the per-key accumulator of the local scoring folds.
    * Both sums are exact: past Long range they throw, the fail-loud
    * contract of [[Exact.xsumFast]]'s overflow guard, instead of
    * wrapping into a wrong score. */
  private[graft] def foldMicros(acc: java.util.HashMap[Long, Array[Long]],
      item: Long, termMicros: Long, weight: Long): Unit = {
    var a = acc.get(item)
    if (a == null) { a = Array(0L, 0L); acc.put(item, a) }
    a(0) = Math.addExact(a(0), termMicros)
    a(1) = Math.addExact(a(1), weight)
  }

  /** User-based kNN prediction — the transpose of [[predictKnn]]:
    * for each user, the k most-similar users (from the capped
    * user–user cosine pairs) vote with their ratings; score is the
    * |sim|-normalized weighted sum; seen items anti-joined out; top-N
    * per user. Scale shape is identical to the item chain: the pair
    * stream is bounded by ITEM_USER_CAP per item, neighbor lists by
    * K_NEIGHBORS per user, so the scoring join fans out ≤ k× the
    * ratings table. */
  def predictUserKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sims = userSimPairs(spark, sfDir).select($"user_a", $"user_b", $"sim")
    val both = sims.union(
      sims.select($"user_b".as("user_a"), $"user_a".as("user_b"), $"sim"))
    // Both rankings ride the partial-heap top-k operator (same as
    // slope_one / recsTopN): map-side heaps prune each partition to
    // ≤ k rows per key BEFORE the exchange, instead of the
    // row_number window shuffling every pair / scored candidate.
    val uneigh = graft.plans.TopKPerKey.topK(both,
        keyCols = Seq("user_a"),
        orderSpec = Seq("sim" -> false, "user_b" -> true),
        k = K_NEIGHBORS, rankName = "rk")
      .select($"user_a".as("target"), $"user_b".as("nbr"), $"sim")
    // Scoring, reworked (r14, guide §8): the join-then-aggregate form
    // fanned |ratings| × K rows (2.8M at sf0.1) through a
    // (target, item) exchange, a decimal hash aggregation, an
    // anti-join and a top-k exchange. Instead, pack each user's
    // ratings ONCE (one |ratings|-row exchange), attach the packed
    // list to each of its ≤ K inbound neighbor edges with a
    // distributed equi-join (AQE broadcasts the K·|users| edge list
    // at fixture scale; at cluster scale the same plan runs as a
    // shuffle join — nothing here requires a driver-side collect of
    // a user-cardinality side), and fold each target's ≤ K neighbor
    // lists + own seen-set locally: the aggregation, anti-join and
    // ranking all collapse into a bounded per-target pass. Arithmetic
    // is bit-identical (Exact.quantize6 scalar twins; exact long-
    // micro sums; rnd6-rounded ranking with item tiebreak) — proven
    // against the DuckDB oracle at sf0.01/sf0.001.
    val r = ratings(spark, sfDir)
    val rga = r.groupBy($"user_id")
      .agg(collect_list(struct($"item_id", $"rating")).as("rl"))
    val nb = uneigh.join(rga, $"nbr" === $"user_id")
      .select($"target", $"sim", $"rl", lit(false).as("is_own"))
    val own = rga.select($"user_id".as("target"), lit(0.0).as("sim"),
      $"rl", lit(true).as("is_own"))
    val topN = TOP_N
    val scored = nb.unionByName(own)
      .as[(Long, Double, Seq[(Long, Double)], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (target: Long,
          it: Iterator[(Long, Double, Seq[(Long, Double)], Boolean)]) =>
        val rows = it.toArray
        val seen = new java.util.HashSet[Long]()
        rows.foreach { case (_, _, rl, isOwn) =>
          if (isOwn) rl.foreach(t => seen.add(t._1))
        }
        // item -> (Σ quantize6(sim·r) micros, Σ quantize6(|sim|) micros)
        val acc = new java.util.HashMap[Long, Array[Long]]()
        rows.foreach { case (_, sim, rl, isOwn) =>
          if (!isOwn) {
            val simAbsMicros = Exact.quantize6(math.abs(sim))
            rl.foreach { case (item, rating) =>
              if (!seen.contains(item))
                foldMicros(acc, item, Exact.quantize6(sim * rating),
                  simAbsMicros)
            }
          }
        }
        val cands = new Array[(Double, Long)](acc.size())
        val eit = acc.entrySet().iterator()
        var n = 0
        while (eit.hasNext) {
          val e = eit.next()
          val score = Exact.rnd6Scalar(
            Exact.fromMicros(e.getValue()(0)) /
              Exact.fromMicros(e.getValue()(1)))
          cands(n) = (score, e.getKey)
          n += 1
        }
        java.util.Arrays.sort(cands, Ordering.Tuple2(
          Ordering.Double.TotalOrdering.reverse, Ordering.Long))
        cands.iterator.take(topN).zipWithIndex.map { case ((s, j), ix) =>
          (target, j, s, ix + 1)
        }
      }
    scored.toDF("user_id", "item_id", "score", "rk")
      .orderBy($"user_id", $"rk")
  }

  val predictUserKnnSql: String =
    s"""WITH $ratingsCte,
       |ucapped AS (
       |  SELECT user_id, item_id, rating FROM (
       |    SELECT *, row_number() OVER (PARTITION BY item_id
       |      ORDER BY rating DESC, user_id ASC) AS irk
       |    FROM ratings) WHERE irk <= $ITEM_USER_CAP),
       |unorms AS (
       |  SELECT user_id, ${sqlXsum("rating * rating")} AS norm_sq
       |  FROM ucapped GROUP BY user_id),
       |upairs AS (
       |  SELECT r1.user_id AS user_a, r2.user_id AS user_b,
       |    COUNT(*) AS n_common,
       |    ${sqlXsum("r1.rating * r2.rating")} AS dot
       |  FROM ucapped r1 JOIN ucapped r2
       |    ON r1.item_id = r2.item_id AND r1.user_id < r2.user_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT),
       |usim AS (
       |  SELECT p.user_a, p.user_b,
       |    ${sqlRnd6("p.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq))")} AS sim
       |  FROM upairs p
       |  JOIN unorms na ON p.user_a = na.user_id
       |  JOIN unorms nb ON p.user_b = nb.user_id),
       |usim2 AS (
       |  SELECT user_a, user_b, sim FROM usim
       |  UNION ALL
       |  SELECT user_b AS user_a, user_a AS user_b, sim FROM usim),
       |uneigh AS (
       |  SELECT user_a AS target, user_b AS nbr, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_a
       |      ORDER BY sim DESC, user_b ASC) AS rk
       |    FROM usim2) WHERE rk <= $K_NEIGHBORS),
       |scored AS (
       |  SELECT n.target, r.item_id,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM ratings r JOIN uneigh n ON r.user_id = n.nbr
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.target = r.user_id AND s.item_id = r.item_id),
       |ranked AS (
       |  SELECT target AS user_id, item_id, score,
       |    row_number() OVER (PARTITION BY target
       |      ORDER BY score DESC, item_id ASC) AS rk
       |  FROM unseen)
       |SELECT user_id, item_id, score, rk
       |FROM ranked WHERE rk <= $TOP_N
       |ORDER BY user_id, rk""".stripMargin

  /** Similarity pairs expanded to both directions (un-ordered
    * intermediate shared by topk/predict). */
  private def simBothDirections(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sims = simPairs(spark, sfDir)
      .select($"item_a", $"item_b", $"sim")
    sims.union(sims.select($"item_b".as("item_a"), $"item_a".as("item_b"), $"sim"))
  }

  private val simBothCte: String =
    s"""sim2 AS (
       |  SELECT item_a, item_b, sim FROM pairs
       |  UNION ALL
       |  SELECT item_b AS item_a, item_a AS item_b, sim FROM pairs)""".stripMargin

  /** Unsorted, persisted k-NN neighbor lists (reused by predict). */
  private def neighbors(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "neighbors") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"item_a").orderBy($"sim".desc, $"item_b".asc)
      simBothDirections(spark, sfDir)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= K_NEIGHBORS)
        .select($"item_a".as("item_id"), $"item_b".as("neighbor_id"), $"sim", $"rk")
    }

  /** k nearest items per item (MR: top-K reducer). */
  def itemTopkNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    neighbors(spark, sfDir).orderBy($"item_id", $"rk")
  }

  private val pairsCtePrefix: String =
    s"""WITH $ratingsCte,
       |$cappedCte,
       |norms AS (
       |  SELECT item_id, ${sqlXsum("rating * rating")} AS norm_sq
       |  FROM capped GROUP BY item_id),
       |pairs AS (
       |  SELECT a.item_a, a.item_b,
       |    ${sqlRnd6("a.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq))")} AS sim
       |  FROM (
       |    SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |      ${sqlXsum("r1.rating * r2.rating")} AS dot
       |    FROM capped r1 JOIN capped r2
       |      ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT) a
       |  JOIN norms na ON a.item_a = na.item_id
       |  JOIN norms nb ON a.item_b = nb.item_id),
       |$simBothCte,
       |neighbors AS (
       |  SELECT item_a AS item_id, item_b AS neighbor_id, sim,
       |    row_number() OVER (PARTITION BY item_a
       |      ORDER BY sim DESC, item_b ASC) AS rk
       |  FROM sim2)""".stripMargin

  val itemTopkNeighborsSql: String =
    s"""$pairsCtePrefix
       |SELECT item_id, neighbor_id, sim, rk
       |FROM neighbors WHERE rk <= $K_NEIGHBORS
       |ORDER BY item_id, rk""".stripMargin

  /** Weighted-kNN prediction + anti-join out already-seen items +
    * top-N per user (MR: the prediction job). Candidate items are the
    * kNN neighbors of the user's rated items; score is the
    * |sim|-normalized weighted rating sum. */
  def predictKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The finished rec lists are |users| × TOP_N rows — tiny — and are
    // consumed by four registered queries (predict_knn itself plus the
    // coverage / novelty / diversity evaluations), so the whole
    // scoring chain persists once per (app, sfDir): the bench-all
    // sweep measured each eval re-paying the scored-join otherwise.
    DfCache(spark, sfDir, "recsTopN") {
      import org.apache.spark.sql.expressions.Window
      val r = ratings(spark, sfDir)
      // neighbor lists are k·n_items rows — broadcast-sized, but let
      // AQE make that call: forcing broadcast() measured 2× slower
      // (the explicit exchange job can't share the cached-neighbors
      // scan).
      val neigh = neighbors(spark, sfDir)
        .select($"item_id".as("rated_item"), $"neighbor_id".as("cand_item"),
          $"sim")
      val scored = r.join(neigh, $"item_id" === $"rated_item")
        .groupBy($"user_id", $"cand_item")
        .agg((xsumFast($"sim" * $"rating") / xsumFast(abs($"sim")))
          .as("score_raw"))
      val unseen = scored.join(
        r.select($"user_id".as("su"), $"item_id".as("si")),
        $"user_id" === $"su" && $"cand_item" === $"si", "left_anti")
      val w = Window.partitionBy($"user_id")
        .orderBy($"score".desc, $"cand_item".asc)
      unseen.select($"user_id", $"cand_item", rnd6($"score_raw").as("score"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= TOP_N)
        .select($"user_id", $"cand_item".as("item_id"), $"score", $"rk")
    }.orderBy($"user_id", $"rk")
  }

  /** Recommendation EXPLANATIONS — "because you rated X": for every
    * (user, recommended item) in the registered top-N lists, the
    * rated item whose sim·rating term contributed most to the kNN
    * score. The artifact a serving UI actually renders next to each
    * card, and the per-prediction audit a debugging session starts
    * from; it costs nothing new — the rec lists and neighbor pairs
    * are the session-cached intermediates, and the contribution join
    * fans out ≤ K_NEIGHBORS rows per rec (rec-list-sized at any
    * corpus). Deterministic argmax: contributions rnd6'd, ties to the
    * smaller rated item id — mirrored in the oracle's rank. */
  def cfExplain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val recs = predictKnn(spark, sfDir).select($"user_id", $"item_id", $"rk")
    val neigh = neighbors(spark, sfDir)
      .filter($"rk" <= K_NEIGHBORS)
      .select($"item_id".as("because_item"), $"neighbor_id".as("cand"),
        $"sim")
    val contrib = recs
      .join(neigh, $"item_id" === $"cand")
      .join(ratings(spark, sfDir)
          .select($"user_id".as("ru"), $"item_id".as("ri"), $"rating"),
        $"user_id" === $"ru" && $"because_item" === $"ri")
      .select($"user_id", $"item_id", $"rk", $"because_item",
        rnd6($"sim" * $"rating").as("contribution"))
    val w = Window.partitionBy($"user_id", $"item_id")
      .orderBy($"contribution".desc, $"because_item".asc)
    contrib.withColumn("brk", row_number().over(w)).filter($"brk" === 1)
      .select($"user_id", $"item_id", $"rk", $"because_item",
        $"contribution")
      .orderBy($"user_id", $"rk")
  }

  val cfExplainSql: String =
    s"""$pairsCtePrefix,
       |scored AS (
       |  SELECT r.user_id, n.neighbor_id AS cand_item,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM ratings r
       |  JOIN (SELECT item_id, neighbor_id, sim FROM neighbors
       |        WHERE rk <= $K_NEIGHBORS) n
       |    ON r.item_id = n.item_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.user_id = r.user_id AND s.cand_item = r.item_id),
       |recs AS (
       |  SELECT user_id, cand_item AS item_id, rk FROM (
       |    SELECT user_id, cand_item,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY score DESC, cand_item ASC) AS rk
       |    FROM unseen) WHERE rk <= $TOP_N),
       |contrib AS (
       |  SELECT rec.user_id, rec.item_id, rec.rk,
       |    n.item_id AS because_item,
       |    ${sqlRnd6("n.sim * r.rating")} AS contribution
       |  FROM recs rec
       |  JOIN (SELECT item_id, neighbor_id, sim FROM neighbors
       |        WHERE rk <= $K_NEIGHBORS) n
       |    ON n.neighbor_id = rec.item_id
       |  JOIN ratings r
       |    ON r.user_id = rec.user_id AND r.item_id = n.item_id),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, item_id
       |    ORDER BY contribution DESC, because_item ASC) AS brk
       |  FROM contrib)
       |SELECT user_id, item_id, rk, because_item, contribution
       |FROM best WHERE brk = 1
       |ORDER BY user_id, rk""".stripMargin

  val predictKnnSql: String =
    s"""$pairsCtePrefix,
       |scored AS (
       |  SELECT r.user_id, n.neighbor_id AS cand_item,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM ratings r
       |  JOIN (SELECT item_id, neighbor_id, sim FROM neighbors
       |        WHERE rk <= $K_NEIGHBORS) n
       |    ON r.item_id = n.item_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.user_id = r.user_id AND s.cand_item = r.item_id),
       |ranked AS (
       |  SELECT user_id, cand_item AS item_id, score,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY score DESC, cand_item ASC) AS rk
       |  FROM unseen)
       |SELECT user_id, item_id, score, rk
       |FROM ranked WHERE rk <= $TOP_N
       |ORDER BY user_id, rk""".stripMargin

  /** Intra-list diversity of each user's top-N recommendations:
    * 1 − mean pairwise similarity of the recommended items (item
    * pairs with no computed similarity count as 0 — unrelated). The
    * metric that catches a recommender collapsing onto one franchise:
    * accuracy metrics reward it, users hate it. Reuses the session-
    * cached similarity pairs and the kNN top-N; the rec-list
    * self-join fans out N(N−1)/2 rows per user (N=5 → 10), so the
    * whole evaluation is rec-list-sized at any corpus scale.
    *
    * Numeric discipline — scaled-integer, NOT rnd6-of-mean: the sims
    * are 6-decimal values and n_pairs is usually exactly 10, so the
    * mean 1 − Σsim/n lands ON a 6-decimal rounding boundary for ~1 in
    * 10 users, where Spark's BigDecimal HALF_UP of the binary double
    * and DuckDB's ROUND disagree by 1 in the last digit (observed at
    * sf0.1). Instead each sim becomes an exact micro-unit integer
    * (×10⁶ in decimal), and ild = (n·10⁶ − Σunits) / (n·10⁶) is ONE
    * correctly-rounded IEEE division of two exact integers — bit-
    * identical in every engine, no rounding step at all. */
  def evalDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val recs = predictKnn(spark, sfDir).select($"user_id", $"item_id")
    val a = recs.select($"user_id", $"item_id".as("item_a"))
    val b = recs.select($"user_id".as("ub"), $"item_id".as("item_b"))
    val listPairs = a.join(b, $"user_id" === $"ub" && $"item_a" < $"item_b")
      .select($"user_id", $"item_a", $"item_b")
    listPairs
      .join(simPairs(spark, sfDir).select($"item_a", $"item_b", $"sim"),
        Seq("item_a", "item_b"), "left")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum((coalesce($"sim", lit(0.0))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * lit(1000000))
          .cast("long")).as("units"))
      .select($"user_id", $"n_pairs",
        (($"n_pairs" * lit(1000000L) - $"units").cast("double") /
          ($"n_pairs" * lit(1000000L)).cast("double")).as("ild"))
      .orderBy($"user_id")
  }

  val evalDiversitySql: String =
    s"""$pairsCtePrefix,
       |scored AS (
       |  SELECT r.user_id, n.neighbor_id AS cand_item,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM ratings r
       |  JOIN (SELECT item_id, neighbor_id, sim FROM neighbors
       |        WHERE rk <= $K_NEIGHBORS) n
       |    ON r.item_id = n.item_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.user_id = r.user_id AND s.cand_item = r.item_id),
       |recs AS (
       |  SELECT user_id, cand_item AS item_id FROM (
       |    SELECT user_id, cand_item, row_number() OVER (PARTITION BY user_id
       |      ORDER BY score DESC, cand_item ASC) AS rk
       |    FROM unseen) WHERE rk <= $TOP_N),
       |list_pairs AS (
       |  SELECT x.user_id, x.item_id AS item_a, y.item_id AS item_b
       |  FROM recs x JOIN recs y
       |    ON x.user_id = y.user_id AND x.item_id < y.item_id)
       |SELECT lp.user_id, COUNT(*) AS n_pairs,
       |  CAST(COUNT(*) * 1000000 - SUM(CAST(
       |      CAST(COALESCE(p.sim, 0.0) AS DECIMAL(18,6)) * 1000000 AS BIGINT))
       |    AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS ild
       |FROM list_pairs lp
       |LEFT JOIN pairs p ON lp.item_a = p.item_a AND lp.item_b = p.item_b
       |GROUP BY lp.user_id
       |ORDER BY lp.user_id""".stripMargin

  /** Holdout RMSE of the user-mean predictor over a deterministic
    * arithmetic split (MR: the evaluation job). Split: test fold is
    * `(user_id * 31 + item_id) % 5 == 0` — integer arithmetic, no
    * engine-hash dependence, identical in both engines. */
  def evalRmse(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
      .withColumn("fold", pmod($"user_id" * 31 + $"item_id", lit(5)))
    val train = r.filter($"fold" =!= 0)
    val test = r.filter($"fold" === 0)
    val means = train.groupBy($"user_id".as("mu"))
      .agg(xavgFast($"rating").as("pred"))
    test.join(means, $"user_id" === $"mu")
      .agg(
        sqrt(xsumFast(($"pred" - $"rating") * ($"pred" - $"rating")) / count(lit(1))).as("rmse"),
        count(lit(1)).as("n_test"))
  }

  val evalRmseSql: String =
    s"""WITH $ratingsCte,
       |folded AS (
       |  SELECT *, (user_id * 31 + item_id) % 5 AS fold FROM ratings),
       |means AS (
       |  SELECT user_id, ${sqlXavg("rating")} AS pred
       |  FROM folded WHERE fold <> 0 GROUP BY user_id)
       |SELECT
       |  sqrt(${sqlXsum("(m.pred - t.rating) * (m.pred - t.rating)")}
       |    / COUNT(*)) AS rmse,
       |  COUNT(*) AS n_test
       |FROM folded t JOIN means m ON t.user_id = m.user_id
       |WHERE t.fold = 0""".stripMargin

  /** Data-driven ALS block count. MLlib's default — block count =
    * input partitions — is a scale hazard in BOTH directions: a small
    * corpus arriving in many partitions (this engine's cached ratings
    * chain lands in spark.sql.shuffle.partitions = 32) pays
    * blocks² block-pair tasks in recommendForAllUsers for no work
    * (measured at sf0.1: 32 blocks = 6.7 s fit+rec vs 2.2 s at 4–8),
    * while a huge corpus in few partitions under-parallelizes the
    * blocked GEMM. Rule: grow blocks with the ratings count
    * (~100k ratings per block keeps per-block solves cheap), floored
    * at √parallelism so the block-PAIR stages still cover the
    * cluster, capped at parallelism so tiny per-block work never
    * fragments into scheduler overhead — at 100 TB the cap binds and
    * blocks ≈ total cores, the documented MLlib guidance. */
  private def alsBlocks(spark: SparkSession, nRatings: Long): Int = {
    val par = spark.sparkContext.defaultParallelism
    val bySize = math.ceil(nRatings / 100000.0).toInt
    val floor = math.ceil(math.sqrt(par.toDouble)).toInt
    math.max(1, math.min(math.max(bySize, floor), par))
  }

  /** Fit `als` on `r` and pin each user's top-10 recs, then release
    * the `userFactors`/`itemFactors` RDDs the fit left persisted:
    * MLlib keeps them for the model's lifetime, and the pinned recs
    * no longer read them, so every call used to leak both. */
  private def alsRecs(spark: SparkSession, r: DataFrame,
      als: org.apache.spark.ml.recommendation.ALS): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val recs = graft.engine.IterativeTuning.withSmallIterative(spark) {
      als.fit(r).recommendForAllUsers(10).localCheckpoint(true)
    }
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id) && Set("userFactors", "itemFactors")(rdd.name))
        rdd.unpersist(blocking = false)
    }
    recs
  }

  /** MLlib ALS factorization (the driver-sanctioned modern path for
    * the reference's CF core). Seeded for rerun stability; output is
    * the exploded top-10 recommendations per user. No SQL oracle
    * (iterative factorization); correctness story is the seeded-rerun
    * + RMSE-bound ScalaTest.
    *
    * rank 8 / 4 iterations: the fixture ratings are not low-rank (the
    * CfSpec holdout comment pins ALS at ~1.8× the user-mean RMSE), so
    * extra rank/iterations buy no measurable fit quality — the spec
    * bounds (seed determinism, 2.0× RMSE ceiling, ≥0.2 implicit hit
    * rate) hold with wide margin under rank 10/iter 5 and rank 8/
    * iter 4 alike, so run the cheaper fit. The wall clock splits
    * roughly evenly between the fit's per-iteration job chain and
    * recommendForAllUsers' users×items blocked GEMM + top-k; both
    * terms are block-count-sensitive (see [[alsBlocks]]).
    *
    * Scale notes: ALS block count is sized by [[alsBlocks]] (data-
    * driven, not MLlib's input-partition default — see there); at
    * cluster scale also checkpoint every ~10 iterations to cut
    * lineage. */
  def als(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.recommendation.ALS
    val r = ratings(spark, sfDir)
      .select($"user_id".cast("int").as("user"),
        $"item_id".cast("int").as("item"),
        $"rating".cast("float").as("rating"))
    val blocks = alsBlocks(spark, r.count())
    // The fit's ~16 sequential factor jobs and the rec's blocked-GEMM
    // top-k are ITERATIVE, node-sized stages — the same class as the
    // graph power iterations, so they run under the same tuning
    // wrapper (AQE replanning and 32-partition exchanges are pure
    // per-stage overhead here; r14 ProfileAls sweep: rec 0.62→0.52 s
    // at 32 cores, flat at 8). The recs frame (users × 10 structs) is
    // pinned INSIDE the wrapper so the whole GEMM executes under it;
    // the ordering projection below runs on the pinned rows. The
    // block-count heuristic itself was re-adjudicated at 8 AND 32
    // cores (pinned sweep, blocks ∈ {1,2,3,6,12}): blocks=6 is the
    // minimum at BOTH core counts (fit+rec 1.6 s warm at each), so
    // the r13 driver read of q_cf_als "slower at 32 cores" was
    // fleet-context noise, not a plan property.
    val recs = alsRecs(spark, r, new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(8).setMaxIter(4).setRegParam(0.1).setSeed(42L)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setImplicitPrefs(false).setColdStartStrategy("drop"))
    recs
      .select($"user".as("user_id"),
        posexplode($"recommendations").as(Seq("rk0", "rec")))
      .select($"user_id", ($"rk0" + 1).as("rk"),
        $"rec.item".as("item_id"),
        rnd6($"rec.rating".cast("double")).as("score"))
      .orderBy($"user_id", $"rk")
  }

  /** Implicit-feedback ALS (Hu, Koren & Volinsky, "Collaborative
    * Filtering for Implicit Feedback Datasets", ICDM'08) on the same
    * derived quantities — which ARE implicit feedback (purchase
    * volumes, not expressed preferences), so `setImplicitPrefs(true)`
    * is the statistically honest MLlib configuration next to [[als]]'s
    * explicit form: the quantity becomes a CONFIDENCE weight
    * (c = 1 + alpha·r) on a binary preference, instead of a value to
    * regress to. Same seed/rank/iteration budget as [[als]] so the two
    * factorizations are comparable. No SQL oracle (iterative);
    * seeded-rerun determinism + an interacted-items ranking bound live
    * in Round4Spec. */
  def alsImplicit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.recommendation.ALS
    val r = ratings(spark, sfDir)
      .select($"user_id".cast("int").as("user"),
        $"item_id".cast("int").as("item"),
        $"rating".cast("float").as("rating"))
    val blocks = alsBlocks(spark, r.count())
    // Same iterative-tuning + pinned-recs shape as [[als]] (see there).
    val recs = alsRecs(spark, r, new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(8).setMaxIter(4).setRegParam(0.1).setSeed(42L)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setImplicitPrefs(true).setAlpha(1.0).setColdStartStrategy("drop"))
    recs
      .select($"user".as("user_id"),
        posexplode($"recommendations").as(Seq("rk0", "rec")))
      .select($"user_id", ($"rk0" + 1).as("rk"),
        $"rec.item".as("item_id"),
        rnd6($"rec.rating".cast("double")).as("score"))
      .orderBy($"user_id", $"rk")
  }

  /** Weighted Slope One prediction (Lemire & Maclachlan 2005) — the
    * third prediction rule next to item-kNN and ALS. For each ordered
    * item pair (i → j) the deviation table keeps the co-rater count c
    * and the rating-difference sum Σ(r_j − r_i); a user's score for an
    * unseen item j is the support-weighted average over their rated
    * items i:  score = Σᵢ(diff_sum(j,i) + r_ui·c(j,i)) / Σᵢ c(j,i).
    * Folding the per-pair average dev(j,i) = diff_sum/c into that form
    * keeps the numerator a single decimal-exact sum — ONE division at
    * the very end instead of one per pair, which is both faster and
    * what makes the result oracle-matchable.
    *
    * The deviation sums come FREE off the shared [[pairMoments]] pass
    * (diff_sum(b,a) = Σrb − Σra = sy − sx), so Slope One adds no new
    * self-join. Deviation partners per rated item are capped at the
    * top-[[K_NEIGHBORS]] by support (tie → partner id) — same 100 TB
    * fan-out bound as the kNN chain, applied identically in the
    * oracle. */
  def slopeOne(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = pairMoments(spark, sfDir)
      .select($"item_a", $"item_b", $"sx", $"sy", $"n_common")
    val devs = m.select($"item_a".as("i"), $"item_b".as("j"),
        ($"sy" - $"sx").as("diff"), $"n_common".as("c"))
      .union(m.select($"item_b".as("i"), $"item_a".as("j"),
        ($"sx" - $"sy").as("diff"), $"n_common".as("c")))
    val dw = Window.partitionBy($"i").orderBy($"c".desc, $"j".asc)
    val capped = devs.withColumn("drk", row_number().over(dw))
      .filter($"drk" <= K_NEIGHBORS)
      .select($"i", $"j", $"diff", $"c")
    // Scoring, reworked (r14, guide §8 "decide with small rows"): the
    // join-then-aggregate form exploded |ratings| × K_NEIGHBORS rows
    // (5.0M at sf0.1) through a (user, candidate) exchange, a decimal
    // hash aggregation, an anti-join and a top-k exchange — 2.3M rows
    // through two more shuffles after the first (r14 stage profile:
    // ~46 s of aggregate CPU). But the per-user fold is a bounded
    // local computation: ≤ K partners per rated item, seen-filter
    // against the user's own rows, one division per candidate. So
    // ship the deviation table once — it is item-catalog × K rows,
    // the same broadcast-class side AQE already broadcast into the
    // old scoring join — and fold each user's candidates in a single
    // pass over ratings grouped by user: ONE exchange of |ratings|
    // slim rows total, no row explosion, anti-join and ranking local.
    // Arithmetic is bit-identical to the old plan: terms quantize
    // through Exact.quantize6 (the scalar twin of xsumFast's
    // DECIMAL(18,6) cast), sums ride exact long micros (order-free),
    // and ranking uses the rnd6-rounded score with the same item-id
    // tiebreak — proven against the DuckDB oracle at sf0.01/sf0.001.
    val partnersByItem: java.util.HashMap[Long, Array[(Long, Double, Long)]] = {
      val h = new java.util.HashMap[Long, Array[(Long, Double, Long)]]()
      capped.collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
          row.getLong(3)))
        .groupBy(_._1)
        .foreach { case (i, rows) =>
          h.put(i, rows.map(t => (t._2, t._3, t._4)))
        }
      h
    }
    val bc = spark.sparkContext.broadcast(partnersByItem)
    val topN = TOP_N
    val scored = ratings(spark, sfDir)
      .select($"user_id", $"item_id", $"rating")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Double)]) =>
        val rated = it.toArray
        val seen = new java.util.HashSet[Long](rated.length * 2)
        rated.foreach(t => seen.add(t._2))
        // candidate j -> (Σ quantize6(diff + r·c) micros, Σ c)
        val acc = new java.util.HashMap[Long, Array[Long]]()
        var k = 0
        while (k < rated.length) {
          val rating = rated(k)._3
          val ps = bc.value.get(rated(k)._2)
          if (ps != null) {
            var x = 0
            while (x < ps.length) {
              val (j, diff, c) = ps(x)
              if (!seen.contains(j))
                foldMicros(acc, j, Exact.quantize6(diff + rating * c), c)
              x += 1
            }
          }
          k += 1
        }
        val cands = new Array[(Double, Long)](acc.size())
        val eit = acc.entrySet().iterator()
        var n = 0
        while (eit.hasNext) {
          val e = eit.next()
          val score = Exact.rnd6Scalar(
            Exact.fromMicros(e.getValue()(0)) / e.getValue()(1).toDouble)
          cands(n) = (score, e.getKey)
          n += 1
        }
        java.util.Arrays.sort(cands, Ordering.Tuple2(
          Ordering.Double.TotalOrdering.reverse, Ordering.Long))
        cands.iterator.take(topN).zipWithIndex.map { case ((s, j), ix) =>
          (u, j, s, ix + 1)
        }
      }
    scored.toDF("user_id", "item_id", "score", "rk")
      .orderBy($"user_id", $"rk")
  }

  val slopeOneSql: String =
    s"""WITH $ratingsCte,
       |$cappedCte,
       |mom AS (
       |  SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |    COUNT(*) AS n_common,
       |    ${sqlXsum("r1.rating")} AS sx, ${sqlXsum("r2.rating")} AS sy
       |  FROM capped r1 JOIN capped r2
       |    ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT),
       |devs AS (
       |  SELECT item_a AS i, item_b AS j, sy - sx AS diff, n_common AS c
       |  FROM mom
       |  UNION ALL
       |  SELECT item_b, item_a, sx - sy, n_common FROM mom),
       |dcapped AS (
       |  SELECT i, j, diff, c FROM (
       |    SELECT *, row_number() OVER (PARTITION BY i
       |      ORDER BY c DESC, j ASC) AS drk
       |    FROM devs) WHERE drk <= $K_NEIGHBORS),
       |scored AS (
       |  SELECT r.user_id, d.j,
       |    ${sqlXsum("d.diff + r.rating * d.c")} / SUM(d.c) AS score_raw
       |  FROM ratings r JOIN dcapped d ON r.item_id = d.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.user_id = r.user_id AND s.j = r.item_id),
       |ranked AS (
       |  SELECT user_id, j AS item_id,
       |    ${sqlRnd6("score_raw")} AS score,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ${sqlRnd6("score_raw")} DESC, j ASC) AS rk
       |  FROM unseen)
       |SELECT user_id, item_id, score, rk
       |FROM ranked WHERE rk <= $TOP_N
       |ORDER BY user_id, rk""".stripMargin

  /** Regularization strength for the bias baseline — the λ in
    * b = Σdev / (λ + n): biases estimated from few ratings shrink
    * toward 0 instead of memorizing noise. Part of the model SPEC
    * (the oracle applies the identical λ). */
  private val BIAS_REG = 5L

  /** Fixed-point unit for the bias baseline: 1e-9 of a rating point.
    * Ratings are integer-valued (sums of l_quantity ∈ 1..50), so the
    * whole model runs in BIGINT units: global quantity sum ~1.5e7 at
    * sf0.1 × 1e9 ≈ 1.5e16, six orders under Long.MaxValue. */
  private val BIAS_SCALE = 1000000000L

  /** Regularized bias baseline b_ui = μ + b_u + b_i — the classic
    * first rung of the Netflix-Prize model ladder (Koren's "baseline
    * predictors"): global mean, then item bias against μ, then user
    * bias against μ + b_i, each shrunk by [[BIAS_REG]]. Everything the
    * neighborhood/factor models beat is measured against this.
    *
    * Three aggregations, each one shuffle with map-side partial
    * combine, and the two bias tables join back broadcast-sized (one
    * row per item / per user). At 100 TB this is the cheapest model in
    * the family — no self-join, no pair explosion — which is exactly
    * why it's the standard first pass over a new interaction corpus.
    *
    * Determinism: FIXED-POINT BIGINT, like [[GraphOps.graphPagerank]].
    * A two-stage chain of derived means (μ feeding b_i feeding b_u) is
    * where per-stage rnd6 rounding breaks down: DuckDB's decimal→double
    * cast can sit 1 ulp off Spark's, and with thousands of rows one of
    * them WILL land on a 6th-decimal rounding boundary (observed at
    * sf0.01: pred 25.478693 vs 25.478692). Integer units make every
    * intermediate bit-identical by construction; floor division is
    * spelled `(a - pmod(a, b)) div b` on both sides because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors — they
    * disagree on negative deviations unless the remainder is removed
    * first. The ONLY float op is the final units→double division. */
  def biasBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
      .select($"user_id", $"item_id", $"rating", $"rating".cast("long").as("ri"))
    val g = r.agg(sum($"ri").as("s"), count(lit(1)).as("n"))
    val rm = r.crossJoin(broadcast(g))
      .withColumn("mu_u", expr(s"(s * $BIAS_SCALE) div n")) // positive: div == floor
    val ib = rm.groupBy($"item_id")
      .agg(first($"mu_u").as("mu_u"), sum($"ri").as("si"), count(lit(1)).as("ni"))
      .withColumn("dev", expr(s"si * $BIAS_SCALE - ni * mu_u"))
      .withColumn("dn", lit(BIAS_REG) + $"ni")
      .select($"item_id", expr("(dev - pmod(dev, dn)) div dn").as("ib_u"))
    val ub = rm.join(ib, "item_id")
      .groupBy($"user_id")
      .agg(first($"mu_u").as("mu_u"), sum($"ri").as("su"),
        count(lit(1)).as("nu"), sum($"ib_u").as("sib"))
      .withColumn("dev", expr(s"su * $BIAS_SCALE - nu * mu_u - sib"))
      .withColumn("dn", lit(BIAS_REG) + $"nu")
      .select($"user_id", expr("(dev - pmod(dev, dn)) div dn").as("ub_u"))
    rm.join(ib, "item_id").join(ub, "user_id")
      .select($"user_id", $"item_id", $"rating",
        (($"mu_u" + $"ub_u" + $"ib_u").cast("double") / BIAS_SCALE.toDouble)
          .as("pred"))
      .orderBy($"user_id", $"item_id")
  }

  val biasBaselineSql: String =
    s"""WITH $ratingsCte,
       |ri AS (SELECT user_id, item_id, rating,
       |  CAST(rating AS BIGINT) AS ri FROM ratings),
       |m AS (SELECT (SUM(ri) * $BIAS_SCALE) // COUNT(*) AS mu_u FROM ri),
       |ib AS (
       |  SELECT item_id, (dev - ((dev % dn) + dn) % dn) // dn AS ib_u
       |  FROM (
       |    SELECT item_id,
       |      SUM(ri) * $BIAS_SCALE - COUNT(*) * (SELECT mu_u FROM m) AS dev,
       |      $BIAS_REG + COUNT(*) AS dn
       |    FROM ri GROUP BY item_id)),
       |ub AS (
       |  SELECT user_id, (dev - ((dev % dn) + dn) % dn) // dn AS ub_u
       |  FROM (
       |    SELECT r.user_id,
       |      SUM(r.ri) * $BIAS_SCALE - COUNT(*) * (SELECT mu_u FROM m)
       |        - SUM(i.ib_u) AS dev,
       |      $BIAS_REG + COUNT(*) AS dn
       |    FROM ri r JOIN ib i USING (item_id) GROUP BY r.user_id))
       |SELECT r.user_id, r.item_id, r.rating,
       |  CAST((SELECT mu_u FROM m) + u.ub_u + i.ib_u AS DOUBLE)
       |    / $BIAS_SCALE.0 AS pred
       |FROM ri r
       |JOIN ib i USING (item_id)
       |JOIN ub u USING (user_id)
       |ORDER BY r.user_id, r.item_id""".stripMargin

  // ——— Ranking evaluation (beyond RMSE: did the top-N list actually
  // contain what the user went on to buy?) ————————————————————————

  /** The [[predictKnn]] pipeline parameterized by its input ratings
    * relation, so evaluation can train on a fold while the production
    * chain keeps its session caches. Same cap/support/k/top-N
    * constants, same rounding discipline. */
  private def knnTopNOn(r0: DataFrame): DataFrame = {
    import r0.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val capW = Window.partitionBy($"user_id")
      .orderBy($"rating".desc, $"item_id".asc)
    val capped = r0.withColumn("urk", row_number().over(capW))
      .filter($"urk" <= USER_ITEM_CAP)
      .select($"user_id", $"item_id", $"rating")
      // consumed three times (both pair sides + norms): materialize
      // once — the train fold has no session cache to land on, so
      // without this the capping window re-executes per consumer
      .localCheckpoint(true)
    val a = capped.select($"user_id", $"item_id".as("item_a"), $"rating".as("ra"))
    val b = capped.select($"user_id".as("ub"), $"item_id".as("item_b"), $"rating".as("rb"))
    val mom = a.join(b, $"user_id" === $"ub" && $"item_a" < $"item_b")
      .groupBy($"item_a", $"item_b")
      .agg(count(lit(1)).as("n_common"), xsumFast($"ra" * $"rb").as("dot"))
      .filter($"n_common" >= MIN_SUPPORT)
    val norms = capped.groupBy($"item_id")
      .agg(xsumFast($"rating" * $"rating").as("norm_sq"))
    val pairs = mom
      .join(norms.select($"item_id".as("item_a"), $"norm_sq".as("na")), "item_a")
      .join(norms.select($"item_id".as("item_b"), $"norm_sq".as("nb")), "item_b")
      .select($"item_a", $"item_b",
        rnd6($"dot" / (sqrt($"na") * sqrt($"nb"))).as("sim"))
      // the symmetrizing union reads this twice — one pair-moments
      // pass, not two
      .localCheckpoint(true)
    val sim2 = pairs.select($"item_a", $"item_b", $"sim")
      .union(pairs.select($"item_b".as("item_a"), $"item_a".as("item_b"), $"sim"))
    // both rankings through the partial-heap top-k operator (the
    // production chain's shape): map-side heaps prune to ≤ k rows
    // per key before the exchange instead of window-shuffling every
    // pair / scored candidate
    val neigh = graft.plans.TopKPerKey.topK(sim2,
        keyCols = Seq("item_a"),
        orderSpec = Seq("sim" -> false, "item_b" -> true),
        k = K_NEIGHBORS, rankName = "nrk")
      .select($"item_a".as("rated_item"), $"item_b".as("cand_item"), $"sim")
    val scored = r0.join(neigh, $"item_id" === $"rated_item")
      .groupBy($"user_id", $"cand_item")
      .agg((xsumFast($"sim" * $"rating") / xsumFast(abs($"sim"))).as("score_raw"))
    val unseen = scored.join(
      r0.select($"user_id".as("su"), $"item_id".as("si")),
      $"user_id" === $"su" && $"cand_item" === $"si", "left_anti")
    graft.plans.TopKPerKey.topK(
        unseen.select($"user_id", $"cand_item", rnd6($"score_raw").as("score")),
        keyCols = Seq("user_id"),
        orderSpec = Seq("score" -> false, "cand_item" -> true),
        k = TOP_N, rankName = "rk")
      .select($"user_id", $"cand_item".as("item_id"), $"score", $"rk")
  }

  /** SQL twin of [[knnTopNOn]] as a CTE chain over relation `src`
    * (which must expose user_id, item_id, rating). Ends in `recs`. */
  private def knnCtesOn(src: String): String =
    s"""capped AS (
       |  SELECT user_id, item_id, rating FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY rating DESC, item_id ASC) AS urk
       |    FROM $src) WHERE urk <= $USER_ITEM_CAP),
       |norms AS (
       |  SELECT item_id, ${sqlXsum("rating * rating")} AS norm_sq
       |  FROM capped GROUP BY item_id),
       |pairs AS (
       |  SELECT a.item_a, a.item_b,
       |    ${sqlRnd6("a.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq))")} AS sim
       |  FROM (
       |    SELECT r1.item_id AS item_a, r2.item_id AS item_b,
       |      ${sqlXsum("r1.rating * r2.rating")} AS dot
       |    FROM capped r1 JOIN capped r2
       |      ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SUPPORT) a
       |  JOIN norms na ON a.item_a = na.item_id
       |  JOIN norms nb ON a.item_b = nb.item_id),
       |sim2 AS (
       |  SELECT item_a, item_b, sim FROM pairs
       |  UNION ALL
       |  SELECT item_b AS item_a, item_a AS item_b, sim FROM pairs),
       |knn AS (
       |  SELECT item_id, neighbor_id, sim FROM (
       |    SELECT item_a AS item_id, item_b AS neighbor_id, sim,
       |      row_number() OVER (PARTITION BY item_a
       |        ORDER BY sim DESC, item_b ASC) AS nrk
       |    FROM sim2) WHERE nrk <= $K_NEIGHBORS),
       |scored AS (
       |  SELECT r.user_id, n.neighbor_id AS cand_item,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM $src r JOIN knn n ON r.item_id = n.item_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN $src r
       |    ON s.user_id = r.user_id AND s.cand_item = r.item_id),
       |recs AS (
       |  SELECT user_id, item_id, score, rk FROM (
       |    SELECT user_id, cand_item AS item_id, score,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY score DESC, cand_item ASC) AS rk
       |    FROM unseen) WHERE rk <= $TOP_N)""".stripMargin

  /** Cumulative ideal-DCG for m = least(ntest, TOP_N) relevant items
    * at ranks 1..m — spelled as the identical left-associated literal
    * arithmetic in both engines so the doubles agree bitwise. */
  private def idcgExpr(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(m === 1, lit(1.0))
      .when(m === 2, lit(1.0) + lit(1.0) / log2(lit(3.0)))
      .when(m === 3, lit(1.0) + lit(1.0) / log2(lit(3.0)) + lit(1.0) / log2(lit(4.0)))
      .when(m === 4, lit(1.0) + lit(1.0) / log2(lit(3.0)) + lit(1.0) / log2(lit(4.0))
        + lit(1.0) / log2(lit(5.0)))
      .otherwise(lit(1.0) + lit(1.0) / log2(lit(3.0)) + lit(1.0) / log2(lit(4.0))
        + lit(1.0) / log2(lit(5.0)) + lit(1.0) / log2(lit(6.0)))

  private val idcgSql: String =
    """CASE LEAST(ntest, 5)
      |    WHEN 1 THEN 1.0
      |    WHEN 2 THEN 1.0 + 1.0 / log2(3.0)
      |    WHEN 3 THEN 1.0 + 1.0 / log2(3.0) + 1.0 / log2(4.0)
      |    WHEN 4 THEN 1.0 + 1.0 / log2(3.0) + 1.0 / log2(4.0) + 1.0 / log2(5.0)
      |    ELSE 1.0 + 1.0 / log2(3.0) + 1.0 / log2(4.0) + 1.0 / log2(5.0) + 1.0 / log2(6.0)
      |  END""".stripMargin

  /** Precision@N / Recall@N / NDCG@N of the item-kNN recommender,
    * trained on the 4/5 train fold of the deterministic arithmetic
    * split (same fold rule as [[evalRmse]]) and judged against the
    * held-out fold: a recommendation is a hit iff the user actually
    * bought that item in the held-out data. Per-user DCG terms are
    * rounded to 6 decimals before the exact sum so log2's last-ulp
    * engine differences cannot reach the hash.
    *
    * Scale notes: the eval chain is the production chain (same capped
    * self-join bounds), plus one broadcast-sized join of per-user rec
    * lists (≤ N rows/user) against held-out counts — the metric
    * aggregation itself touches |users| rows, not |ratings|. */
  def evalTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val folded = ratings(spark, sfDir)
      .withColumn("fold", pmod($"user_id" * 31 + $"item_id", lit(5)))
    val train = folded.filter($"fold" =!= 0)
      .select($"user_id", $"item_id", $"rating")
    val test = folded.filter($"fold" === 0)
      .select($"user_id".as("tu"), $"item_id".as("ti"))
    // the fold is deterministic per (app, sf), so the train-fold rec
    // chain is a genuine session reuse point exactly like the
    // production chain's pairMoments/recsTopN — without this the
    // heaviest plan in the fleet (a full second kNN train) rebuilds
    // on every evaluation query
    val recs = DfCache(spark, sfDir, "evalRecs")(knnTopNOn(train))
    val marked = recs
      .join(test, $"user_id" === $"tu" && $"item_id" === $"ti", "left")
      .select($"user_id", $"rk",
        when($"ti".isNotNull, 1.0).otherwise(0.0).as("hit"))
    val perUser = marked.groupBy($"user_id").agg(
      xsumFast($"hit").as("hits"),
      xsumFast(rnd6(when($"hit" === 1.0, lit(1.0) / log2($"rk" + 1))
        .otherwise(0.0))).as("dcg"))
    val tcount = test.groupBy($"tu").agg(count(lit(1)).as("ntest"))
    perUser.join(tcount, $"user_id" === $"tu")
      .withColumn("idcg", idcgExpr(least($"ntest", lit(TOP_N))))
      .agg(
        rnd6(xavgFast($"hits" / lit(TOP_N.toDouble))).as("p_at_k"),
        rnd6(xavgFast($"hits" / $"ntest")).as("r_at_k"),
        rnd6(xavgFast(rnd6($"dcg" / $"idcg"))).as("ndcg_at_k"),
        count(lit(1)).as("n_users"))
  }

  val evalTopkSql: String =
    s"""WITH $ratingsCte,
       |folded AS (
       |  SELECT *, (user_id * 31 + item_id) % 5 AS fold FROM ratings),
       |train AS (
       |  SELECT user_id, item_id, rating FROM folded WHERE fold <> 0),
       |test AS (
       |  SELECT user_id, item_id FROM folded WHERE fold = 0),
       |${knnCtesOn("train")},
       |marked AS (
       |  SELECT r.user_id, r.rk,
       |    CASE WHEN t.item_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS hit
       |  FROM recs r LEFT JOIN test t
       |    ON r.user_id = t.user_id AND r.item_id = t.item_id),
       |peruser AS (
       |  SELECT user_id, ${sqlXsum("hit")} AS hits,
       |    ${sqlXsum(sqlRnd6("CASE WHEN hit = 1.0 THEN 1.0 / log2(rk + 1) ELSE 0.0 END"))} AS dcg
       |  FROM marked GROUP BY user_id),
       |eu AS (
       |  SELECT p.user_id, p.hits, p.dcg, t.ntest,
       |  $idcgSql AS idcg
       |  FROM peruser p
       |  JOIN (SELECT user_id, COUNT(*) AS ntest FROM test GROUP BY user_id) t
       |    ON p.user_id = t.user_id)
       |SELECT
       |  ${sqlRnd6(sqlXavg("hits / 5.0"))} AS p_at_k,
       |  ${sqlRnd6(sqlXavg("hits / ntest"))} AS r_at_k,
       |  ${sqlRnd6(sqlXavg(sqlRnd6("dcg / idcg")))} AS ndcg_at_k,
       |  COUNT(*) AS n_users
       |FROM eu""".stripMargin

  /** Catalog coverage of the production recommender: the fraction of
    * the item catalog that appears in at least one user's top-N list.
    * Low coverage = popularity bias — the classic CF failure mode a
    * 100 TB catalog makes expensive to discover late. Reuses the
    * session-cached chain. */
  def evalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val recItems = predictKnn(spark, sfDir)
      .agg(countDistinct($"item_id").as("rec_items"))
    val catalog = ratings(spark, sfDir)
      .agg(countDistinct($"item_id").as("catalog_items"))
    recItems.crossJoin(broadcast(catalog))
      .select($"rec_items", $"catalog_items",
        rnd6($"rec_items" / $"catalog_items").as("coverage"))
  }

  val evalCoverageSql: String =
    s"""WITH $ratingsCte,
       |${knnCtesOn("ratings")}
       |SELECT
       |  (SELECT COUNT(DISTINCT item_id) FROM recs) AS rec_items,
       |  (SELECT COUNT(DISTINCT item_id) FROM ratings) AS catalog_items,
       |  ${sqlRnd6("(SELECT COUNT(DISTINCT item_id) FROM recs) / (SELECT COUNT(DISTINCT item_id) FROM ratings)")} AS coverage""".stripMargin

  /** Novelty of the production recommender: mean self-information
    * −log₂(p(item)) over all recommended items, where p(item) is the
    * fraction of users who rated it — the "are we recommending things
    * people would find anyway?" metric that completes the evaluation
    * suite next to accuracy (RMSE/topk), coverage, and diversity. A
    * popularity-biased recommender scores low; a long-tail one high.
    *
    * Numerics: per-item self-information is ONE libm log2 on an
    * identical integer ratio, rnd6'd; the mean then uses the same
    * scaled-integer discipline as [[evalDiversity]] (micro-unit
    * integers, one exact IEEE division) so no rounding of a mean can
    * sit on an engine-disagreement boundary. */
  def evalNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
    val nUsers = r.select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    val itemPop = r.groupBy($"item_id")
      .agg(countDistinct($"user_id").as("n_raters"))
    val recs = predictKnn(spark, sfDir).select($"user_id", $"item_id")
    recs.join(itemPop, "item_id")
      .crossJoin(broadcast(nUsers))
      .select(rnd6(-log2($"n_raters".cast("double") / $"n_users".cast("double")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("si"))
      .agg(count(lit(1)).as("n_recs"),
        sum(($"si" * lit(1000000)).cast("long")).as("units"))
      .select($"n_recs",
        ($"units".cast("double") / ($"n_recs" * lit(1000000L)).cast("double"))
          .as("novelty"))
  }

  val evalNoveltySql: String =
    s"""$pairsCtePrefix,
       |scored AS (
       |  SELECT r.user_id, n.neighbor_id AS cand_item,
       |    ${sqlRnd6(s"${sqlXsum("n.sim * r.rating")} / ${sqlXsum("abs(n.sim)")}")} AS score
       |  FROM ratings r
       |  JOIN (SELECT item_id, neighbor_id, sim FROM neighbors
       |        WHERE rk <= $K_NEIGHBORS) n
       |    ON r.item_id = n.item_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  ANTI JOIN ratings r
       |    ON s.user_id = r.user_id AND s.cand_item = r.item_id),
       |recs AS (
       |  SELECT user_id, cand_item AS item_id FROM (
       |    SELECT user_id, cand_item, row_number() OVER (PARTITION BY user_id
       |      ORDER BY score DESC, cand_item ASC) AS rk
       |    FROM unseen) WHERE rk <= $TOP_N),
       |pop AS (
       |  SELECT item_id, COUNT(DISTINCT user_id) AS n_raters
       |  FROM ratings GROUP BY 1),
       |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ratings),
       |si AS (
       |  SELECT CAST(${sqlRnd6(
             "-log2(CAST(p.n_raters AS DOUBLE) / CAST(nu.n_users AS DOUBLE))")}
       |    AS DECIMAL(18,6)) AS si
       |  FROM recs rc JOIN pop p ON rc.item_id = p.item_id, nu)
       |SELECT COUNT(*) AS n_recs,
       |  CAST(SUM(CAST(si * 1000000 AS BIGINT)) AS DOUBLE)
       |    / CAST(COUNT(*) * 1000000 AS DOUBLE) AS novelty
       |FROM si""".stripMargin

  /** Popularity-baseline recommender: each user gets the global
    * top-[[TOP_N]] items (by total implicit rating) they have NOT
    * already interacted with — the non-personalized baseline every
    * recommender evaluation needs as its floor, and the fallback a
    * production system serves when personalization has nothing.
    *
    * Scale shape: the popular list is a global orderBy+limit over the
    * per-item aggregate (TakeOrderedAndProject — bounded heaps), then
    * BROADCAST against the user set; "unseen" is a left-anti join on
    * the user's own ratings. No per-user state anywhere; the big side
    * is touched once. */
  def predictPopular(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
    val popular = r.groupBy($"item_id")
      .agg(xsumFast($"rating").as("pop"))
      .orderBy($"pop".desc, $"item_id".asc)
      .limit(TOP_N)
    val users = r.select($"user_id").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"pop".desc, $"item_id".asc)
    users.crossJoin(broadcast(popular))
      .join(r.select($"user_id", $"item_id"), Seq("user_id", "item_id"),
        "left_anti")
      .withColumn("rk", row_number().over(w))
      .select($"user_id", $"rk", $"item_id", rnd6($"pop").as("pop"))
      .orderBy($"user_id", $"rk")
  }

  val predictPopularSql: String =
    s"""WITH $ratingsCte,
       |popular AS (
       |  SELECT item_id, ${sqlXsum("rating")} AS pop
       |  FROM ratings GROUP BY 1
       |  ORDER BY pop DESC, item_id ASC LIMIT $TOP_N),
       |users AS (SELECT DISTINCT user_id FROM ratings),
       |unseen AS (
       |  SELECT u.user_id, p.item_id, p.pop
       |  FROM users u CROSS JOIN popular p
       |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
       |    WHERE r.user_id = u.user_id AND r.item_id = p.item_id))
       |SELECT user_id,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY pop DESC, item_id ASC) AS rk,
       |  item_id, ${sqlRnd6("pop")} AS pop
       |FROM unseen ORDER BY user_id, rk""".stripMargin

  /** Sequential-recommender training examples — the dataset builder
    * for next-item prediction: each customer's purchase stream in
    * (order date, order, line) order becomes sliding (3-item context,
    * label) rows, exactly what an SASRec/GRU4Rec-style trainer
    * ingests. One per-user window serves position, all three lags,
    * and the label; the sort key is extended to l_partkey so the only
    * remaining ties are rows whose item is equal — which produce
    * byte-identical examples under either order, so `pos` assignment
    * between them cannot change the output. */
  def cfSeqExamples(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc,
        $"l_linenumber".asc, $"item".asc)
    Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("user_id"), $"l_partkey".as("item"),
        $"o_orderdate", $"o_orderkey", $"l_linenumber")
      .withColumn("pos", row_number().over(w))
      .withColumn("c1", lag($"item", 3).over(w))
      .withColumn("c2", lag($"item", 2).over(w))
      .withColumn("c3", lag($"item", 1).over(w))
      .filter($"c1".isNotNull)
      .select($"user_id", $"pos", $"c1", $"c2", $"c3",
        $"item".as("label"))
      .orderBy($"user_id", $"pos")
  }

  val cfSeqExamplesSql: String =
    """SELECT user_id, pos, c1, c2, c3, label FROM (
      |  SELECT o_custkey AS user_id,
      |    row_number() OVER w AS pos,
      |    lag(l_partkey, 3) OVER w AS c1,
      |    lag(l_partkey, 2) OVER w AS c2,
      |    lag(l_partkey, 1) OVER w AS c3,
      |    l_partkey AS label
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC,
      |      l_linenumber ASC, l_partkey ASC))
      |WHERE c1 IS NOT NULL
      |ORDER BY user_id, pos""".stripMargin

  /** Negatives per user for [[cfNegativeSamples]]. */
  private val NEG_K = 4

  /** Deterministic negative sampling — the implicit-feedback training
    * counterpart of [[cfSeqExamples]]: K catalog items the user never
    * touched, drawn WITHOUT RNG so retries/repartitions/re-runs build
    * the identical training set. The candidate pool is a 5 % key-
    * scatter sample of the catalog — broadcast-sized BY CONSTRUCTION
    * at any catalog scale (the 100 TB discipline: never rank
    * users × full-catalog; the pool is the thing you size to the
    * broadcast budget). Per user: pool minus seen (anti-join), ranked
    * by a user-salted scatter so different users draw different
    * pseudo-random negatives, top-[[NEG_K]] kept through a
    * pool-bounded per-user window. */
  def cfNegativeSamples(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
    val pool = r.select($"item_id").distinct()
      .filter(expr("pmod(item_id * 2654435761, 1000) < 50"))
    val users = r.select($"user_id").distinct()
    // the users × pool candidate stream is the big intermediate
    // (~15M rows at sf0.1): keep it MAP-SIDE end to end — the seen
    // set (distinct (user, item) pairs, orders of magnitude under the
    // candidate stream) wants to broadcast for the anti join, but a
    // bare hint never self-degrades, so Cbo.joinDerived decides from
    // a footer-stats bound: distinct pairs ≤ lineitem rows × 16 B.
    // Past the budget the anti join degrades to shuffle (the
    // candidate stream re-partitions once, no semantic change)
    // instead of OOMing the driver on a grown corpus.
    // Ranking runs through the partial-heap top-k operator, so only
    // NEG_K rows per user ever reach an exchange — the row_number
    // window shuffled the whole cross product
    val seenBytes = 16.0 * graft.plans.Cbo
      .analyzePath(s"$sfDir/lineitem.parquet").nRows
    val seen = r.select($"user_id", $"item_id").distinct()
    val cand = graft.plans.Cbo.joinDerived(
        users.crossJoin(broadcast(pool)),
        seen, Seq("user_id", "item_id"), seenBytes, "left_anti")
      .withColumn("draw",
        expr("pmod(user_id * 40503 + item_id * 2654435761, 1000000)"))
    // finalPartitions = session cores: the pruned stream is still
    // ~22 rows/user of per-row heap CPU, and AQE's byte advisory
    // squeezed it into 2 tasks (1.9 s of the key's 2.7 s wall — r14
    // stage profile; the §2.5 byte-vs-compute mismatch again)
    graft.plans.TopKPerKey.topK(cand,
        keyCols = Seq("user_id"),
        orderSpec = Seq("draw" -> true, "item_id" -> true),
        k = NEG_K, rankName = "rk",
        finalPartitions = Some(spark.sparkContext.defaultParallelism))
      .select($"user_id", $"item_id".as("neg_item"), $"rk")
      .orderBy($"user_id", $"rk")
  }

  val cfNegativeSamplesSql: String =
    s"""WITH r AS (
       |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |pool AS (
       |  SELECT DISTINCT item_id FROM r
       |  WHERE ((item_id * 2654435761) % 1000 + 1000) % 1000 < 50),
       |users AS (SELECT DISTINCT user_id FROM r),
       |cand AS (
       |  SELECT u.user_id, p.item_id,
       |    ((u.user_id * 40503 + p.item_id * 2654435761) % 1000000
       |      + 1000000) % 1000000 AS draw
       |  FROM users u CROSS JOIN pool p
       |  WHERE NOT EXISTS (SELECT 1 FROM r
       |    WHERE r.user_id = u.user_id AND r.item_id = p.item_id))
       |SELECT user_id, item_id AS neg_item, rk FROM (
       |  SELECT user_id, item_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY draw ASC, item_id ASC) AS rk
       |  FROM cand)
       |WHERE rk <= $NEG_K
       |ORDER BY user_id, rk""".stripMargin

  /** MMR geometry: candidate pool size, list length, λ = 0.5 (dyadic —
    * exact in both engines). */
  private val MMR_CAND = 10
  private val MMR_K = 5

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98) — the SERVING-side diversifier that
    * [[evalDiversity]] measures for: greedily build a 5-item list
    * from the top-[[MMR_CAND]] popular candidates, each step taking
    * argmax of λ·relevance − (1−λ)·max-similarity-to-already-chosen
    * (similarity = the registered capped item-cosine pair stream;
    * absent pair ⇒ 0). The DATA-SCALE work is candidate generation
    * and the shared pair cache — both already-oracled chains; the
    * greedy selection itself runs on list-sized state (≤10 rows a
    * round, 5 unrolled rounds, eager checkpoints), which is why MMR
    * belongs at serving time and not in a corpus-sized shuffle.
    * Deterministic: rnd6'd scores, (score desc, item asc) argmax,
    * mirrored round-for-round by the unrolled-CTE oracle. */
  def cfMmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, sfDir)
    // pinned: `cand` feeds BOTH mx and c2 — unpinned, Catalyst ran the
    // full corpus popularity aggregation twice (r14 stage profile: two
    // identical 389k-partial exchanges per execution for a 10-row pool)
    val cand = r.groupBy($"item_id").agg(xsumFast($"rating").as("pop"))
      .orderBy($"pop".desc, $"item_id".asc).limit(MMR_CAND)
      .localCheckpoint(true)
    val mx = cand.agg(max($"pop").as("mp"))
    val c2 = cand.crossJoin(broadcast(mx))
      .select($"item_id", rnd6($"pop" / $"mp").as("rel"))
      .localCheckpoint(true)
    // msim only ever probes (candidate, selected) pairs and both ends
    // live in c2's MMR_CAND-row pool, so prune the corpus-scale pair
    // stream to candidate×candidate ONCE (two broadcast semi-joins,
    // ≤ CAND²/2 rows survive) instead of rescanning the full cached
    // pair table every greedy round.
    val candA = c2.select($"item_id".as("ia"))
    val candB = c2.select($"item_id".as("ib"))
    val sims = simPairs(spark, sfDir).select($"item_a", $"item_b", $"sim")
      .join(broadcast(candA), $"item_a" === $"ia", "left_semi")
      .join(broadcast(candB), $"item_b" === $"ib", "left_semi")
      .localCheckpoint(true)
    var sel = c2.orderBy($"rel".desc, $"item_id".asc).limit(1)
      .select($"item_id", lit(1).as("rnk"), $"rel",
        rnd6(lit(0.5) * $"rel").as("mmr"))
      .localCheckpoint(true)
    for (k <- 2 to MMR_K) {
      val selIds = sel.select($"item_id".as("sid"))
      val pick = c2.join(selIds, $"item_id" === $"sid", "left_anti")
        .crossJoin(broadcast(selIds))
        .join(sims,
          least($"item_id", $"sid") === $"item_a" &&
            greatest($"item_id", $"sid") === $"item_b", "left")
        .groupBy($"item_id", $"rel")
        .agg(max(coalesce($"sim", lit(0.0))).as("msim"))
        .select($"item_id", $"rel",
          rnd6(lit(0.5) * $"rel" - lit(0.5) * $"msim").as("mmr"))
        .orderBy($"mmr".desc, $"item_id".asc).limit(1)
        .select($"item_id", lit(k).as("rnk"), $"rel", $"mmr")
      sel = sel.unionAll(pick).localCheckpoint(true)
    }
    sel.select($"rnk", $"item_id", $"rel", $"mmr").orderBy($"rnk")
  }

  val cfMmrRerankSql: String = {
    def selU(k: Int) =
      (1 until k).map(i => s"SELECT item_id FROM s$i").mkString(" UNION ALL ")
    val rounds = (2 to MMR_K).map { k =>
      s"""r$k AS (
         |  SELECT c.item_id, c.rel,
         |    max(coalesce(p.sim, 0.0)) AS msim
         |  FROM c2 c
         |  CROSS JOIN (${selU(k)}) sel
         |  LEFT JOIN sims p
         |    ON p.item_a = least(c.item_id, sel.item_id)
         |    AND p.item_b = greatest(c.item_id, sel.item_id)
         |  WHERE c.item_id NOT IN (${selU(k)})
         |  GROUP BY 1, 2),
         |s$k AS (
         |  SELECT item_id, $k AS rnk, rel, mmr FROM (
         |    SELECT item_id, rel,
         |      ${sqlRnd6("0.5 * rel - 0.5 * msim")} AS mmr FROM r$k)
         |  ORDER BY mmr DESC, item_id ASC LIMIT 1)"""
    }.mkString(",\n")
    val out = (1 to MMR_K).map(k =>
      s"SELECT rnk, item_id, rel, mmr FROM s$k").mkString("\nUNION ALL ")
    s"""WITH $cfPairsCte,
       |sims AS (SELECT item_a, item_b, sim FROM cf_pairs),
       |cand AS (
       |  SELECT item_id, ${sqlXsum("rating")} AS pop
       |  FROM ratings GROUP BY 1
       |  ORDER BY pop DESC, item_id ASC LIMIT $MMR_CAND),
       |mx AS (SELECT max(pop) AS mp FROM cand),
       |c2 AS (SELECT item_id, ${sqlRnd6("pop / mp")} AS rel
       |  FROM cand, mx),
       |s1 AS (
       |  SELECT item_id, 1 AS rnk, rel, ${sqlRnd6("0.5 * rel")} AS mmr
       |  FROM c2 ORDER BY rel DESC, item_id ASC LIMIT 1),
       |$rounds
       |$out
       |ORDER BY rnk""".stripMargin
  }
}
