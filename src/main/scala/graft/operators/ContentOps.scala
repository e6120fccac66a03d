package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Tables}

/** Content-based item similarity — the cold-start complement of the
  * collaborative chain in [[CfOps]]: a brand-new item has no ratings,
  * so no CF neighbors, but it HAS attributes, and attribute overlap
  * gives it neighbors (and therefore recommendations) on day one.
  *
  * Each item carries exactly three content attributes: brand, type,
  * and size bucket (p_size div 10). The pipeline is the same
  * candidate-generation → exact-verification shape as MinHash-LSH
  * dedup:
  *
  *  1. CANDIDATES: an inverted index over attribute PAIRS (b|t, b|s,
  *     t|s) — two items share a composite key iff they truly share
  *     ≥ 2 of 3 attributes, so every candidate is already a genuine
  *     match, and the per-key document frequency is far below any
  *     single attribute's (a lone common brand fans out O(df²);
  *     brand AND type together is much rarer). Each key's posting
  *     list is additionally CAPPED at [[ATTR_CAP]] items
  *     (deterministic: lowest item ids — the oracle applies the
  *     identical window), which hard-bounds pair volume to
  *     keys × C(cap, 2) — the same linearization the CF chain gets
  *     from USER_ITEM_CAP. The cap is a recall knob, not a
  *     correctness hazard: both engines cap identically.
  *  2. VERIFY: candidates join back to the attribute table and count
  *     their actual shared attributes, so n_shared and the Jaccard
  *     sim = s / (6 − s) are EXACT for every emitted pair regardless
  *     of which (possibly capped) key surfaced it.
  *
  * At 100 TB: candidate generation is one self-joined inverted index
  * with bounded posting lists (map-side combine everywhere);
  * verification is two attribute-table joins on item id. A residual
  * hot composite key is structurally impossible past the cap. */
object ContentOps {

  private val CONTENT_K = 5 // content neighbors kept per item
  private[graft] val ATTR_CAP = 32 // posting-list bound per composite key

  /** (item_id, attr) — three rows per item, prefixed per axis so
    * brand/type/size values can never collide. */
  private def attrs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir).select($"p_partkey".as("item_id"),
      explode(array(
        concat(lit("b:"), $"p_brand"),
        concat(lit("t:"), $"p_type"),
        concat(lit("s:"), expr("CAST(p_size AS BIGINT) div 10"))))
        .as("a"))
  }

  private val attrsCte: String =
    """attrs AS (
      |  SELECT p_partkey AS item_id, 'b:' || p_brand AS a FROM part
      |  UNION ALL
      |  SELECT p_partkey, 't:' || p_type FROM part
      |  UNION ALL
      |  SELECT p_partkey, 's:' || CAST(CAST(p_size AS BIGINT) // 10 AS VARCHAR)
      |  FROM part)""".stripMargin

  /** Shared CTE chain: composite keys → capped posting lists →
    * candidate pairs → exact shared-attribute verification. */
  private val candCte: String =
    s"""$attrsCte,
       |ck AS (
       |  SELECT item_id, k FROM (
       |    SELECT x.item_id, x.a || '|' || y.a AS k,
       |      row_number() OVER (PARTITION BY x.a || '|' || y.a
       |        ORDER BY x.item_id ASC) AS prk
       |    FROM attrs x JOIN attrs y
       |      ON x.item_id = y.item_id AND x.a < y.a)
       |  WHERE prk <= $ATTR_CAP),
       |cand0 AS (
       |  SELECT DISTINCT c1.item_id AS item_a, c2.item_id AS item_b
       |  FROM ck c1 JOIN ck c2
       |    ON c1.k = c2.k AND c1.item_id < c2.item_id),
       |cand AS (
       |  SELECT c.item_a, c.item_b, COUNT(*) AS n_shared
       |  FROM cand0 c
       |  JOIN attrs aa ON aa.item_id = c.item_a
       |  JOIN attrs ab ON ab.item_id = c.item_b AND ab.a = aa.a
       |  GROUP BY 1, 2)""".stripMargin

  /** Verified candidate pairs, consumed by BOTH contentSim and
    * contentKnn — persisted once per (application, sfDir) scope. */
  private def candidates(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "content_candidates") {
      candidatesUncached(spark, sfDir)
    }

  private def candidatesUncached(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val at = attrs(spark, sfDir)
    val wCap = Window.partitionBy($"k").orderBy($"item_id".asc)
    val ck = at.as("x").join(at.as("y"),
        $"x.item_id" === $"y.item_id" && $"x.a" < $"y.a")
      .select($"x.item_id".as("item_id"),
        concat($"x.a", lit("|"), $"y.a").as("k"))
      .withColumn("prk", row_number().over(wCap))
      .filter($"prk" <= ATTR_CAP)
      .select($"item_id", $"k")
    val cand0 = ck.as("c1").join(ck.as("c2"),
        $"c1.k" === $"c2.k" && $"c1.item_id" < $"c2.item_id")
      .select($"c1.item_id".as("item_a"), $"c2.item_id".as("item_b"))
      .distinct()
    cand0.join(at.select($"item_id".as("item_a"), $"a"), "item_a")
      .join(at.select($"item_id".as("item_b"), $"a"), Seq("item_b", "a"))
      .groupBy($"item_a", $"item_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Capped-candidate item pairs sharing ≥ 2 of 3 content attributes,
    * with the exact attribute-set Jaccard. */
  def contentSim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    candidates(spark, sfDir)
      .select($"item_a", $"item_b", $"n_shared",
        ($"n_shared".cast("double") / (lit(6) - $"n_shared")).as("sim"))
      .orderBy($"item_a", $"item_b")
  }

  val contentSimSql: String =
    s"""WITH $candCte
       |SELECT item_a, item_b, CAST(n_shared AS BIGINT) AS n_shared,
       |  CAST(n_shared AS DOUBLE) / (6 - n_shared) AS sim
       |FROM cand ORDER BY item_a, item_b""".stripMargin

  /** Top-[[CONTENT_K]] content neighbors per item (both directions of
    * each undirected pair), rank by (sim desc, neighbor asc) — what a
    * cold-start recommender serves before any rating exists. The
    * window is partitioned by item, so per-key top-k shapes apply at
    * scale (WindowGroupLimit pushdown / [[graft.plans.TopKPerKey]]). */
  def contentKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sim = contentSim(spark, sfDir)
    val sym = sim.select($"item_a".as("item_id"), $"item_b".as("neighbor_id"),
        $"n_shared", $"sim")
      .union(sim.select($"item_b", $"item_a", $"n_shared", $"sim"))
    val w = Window.partitionBy($"item_id")
      .orderBy($"sim".desc, $"neighbor_id".asc)
    sym.withColumn("rk", row_number().over(w))
      .filter($"rk" <= CONTENT_K)
      .select($"item_id", $"rk", $"neighbor_id", $"n_shared", $"sim")
      .orderBy($"item_id", $"rk")
  }

  /** Hybrid item neighbors: the collaborative cosine pairs blended
    * 50/50 with the content-attribute Jaccard — the classic hybrid
    * recommender shape. Where both signals exist the score rewards
    * agreement; where ratings are too sparse for CF (cold items, the
    * MIN_SUPPORT casualty) the content term alone still produces
    * neighbors, which is the entire point of the blend. Pair sets
    * full-outer-merge on the pair key (both already hard-bounded:
    * CF by USER_ITEM_CAP, content by ATTR_CAP), so the merge is
    * pair-table-sized, never items².
    *
    * Numerics: score = 0.5·cf + 0.5·ct with NO rounding — both inputs
    * are engine-identical (cf is the oracled rnd6 cosine, ct ∈
    * {0.5, 1.0}), halving a double is exact, and one addition is
    * correctly rounded the same everywhere — so the raw double is
    * byte-stable (the rnd6-of-mean boundary lesson from
    * [[CfOps.evalDiversity]] applied by construction). */
  def hybridKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cf = CfOps.simPairs(spark, sfDir)
      .select($"item_a", $"item_b", $"sim".as("cf_sim"))
    val ct = candidates(spark, sfDir)
      .select($"item_a", $"item_b",
        ($"n_shared".cast("double") / (lit(6) - $"n_shared")).as("ct_sim"))
    val merged = cf.join(ct, Seq("item_a", "item_b"), "full_outer")
      .select($"item_a", $"item_b",
        (lit(0.5) * coalesce($"cf_sim", lit(0.0)) +
         lit(0.5) * coalesce($"ct_sim", lit(0.0))).as("score"))
    val sym = merged.select($"item_a".as("item_id"),
        $"item_b".as("neighbor_id"), $"score")
      .union(merged.select($"item_b", $"item_a", $"score"))
    val w = Window.partitionBy($"item_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    sym.withColumn("rk", row_number().over(w))
      .filter($"rk" <= CONTENT_K)
      .select($"item_id", $"rk", $"neighbor_id", $"score")
      .orderBy($"item_id", $"rk")
  }

  val hybridKnnSql: String =
    s"""WITH ${CfOps.cfPairsCte},
       |$candCte,
       |merged AS (
       |  SELECT COALESCE(c.item_a, k.item_a) AS item_a,
       |    COALESCE(c.item_b, k.item_b) AS item_b,
       |    0.5 * COALESCE(c.sim, 0.0)
       |      + 0.5 * COALESCE(CAST(k.n_shared AS DOUBLE) / (6 - k.n_shared),
       |                       0.0) AS score
       |  FROM cf_pairs c FULL OUTER JOIN cand k
       |    ON c.item_a = k.item_a AND c.item_b = k.item_b),
       |sym AS (
       |  SELECT item_a AS item_id, item_b AS neighbor_id, score FROM merged
       |  UNION ALL
       |  SELECT item_b, item_a, score FROM merged),
       |ranked AS (
       |  SELECT item_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY item_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rk
       |  FROM sym)
       |SELECT item_id, rk, neighbor_id, score
       |FROM ranked WHERE rk <= $CONTENT_K
       |ORDER BY item_id, rk""".stripMargin

  val contentKnnSql: String =
    s"""WITH $candCte,
       |sym AS (
       |  SELECT item_a AS item_id, item_b AS neighbor_id, n_shared FROM cand
       |  UNION ALL
       |  SELECT item_b, item_a, n_shared FROM cand),
       |ranked AS (
       |  SELECT item_id, neighbor_id, CAST(n_shared AS BIGINT) AS n_shared,
       |    CAST(n_shared AS DOUBLE) / (6 - n_shared) AS sim,
       |    row_number() OVER (PARTITION BY item_id
       |      ORDER BY CAST(n_shared AS DOUBLE) / (6 - n_shared) DESC,
       |        neighbor_id ASC) AS rk
       |  FROM sym)
       |SELECT item_id, rk, neighbor_id, n_shared, sim
       |FROM ranked WHERE rk <= $CONTENT_K
       |ORDER BY item_id, rk""".stripMargin
}
