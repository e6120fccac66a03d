package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.DfCache
import graft.engine.Exact.sqlXsum

/** Iterative graph analytics over derived similarity graphs — the
  * second fixpoint-style operator family next to the dedup clustering:
  * PageRank by power iteration over the user–user co-rating graph
  * (users as nodes, capped cosine pairs as undirected edges).
  *
  * Determinism contract: FIXED-POINT INTEGER arithmetic. An iterative
  * float computation cannot be made cross-engine reproducible by
  * per-iteration decimal rounding alone: DuckDB's DECIMAL→DOUBLE cast
  * is not always correctly rounded (int128 / 10^scale evaluated in
  * binary), so a 1-ulp difference can flip the next rounding at the
  * boundary — observed once in five chained iterations at sf0.01.
  * Instead ranks are kept in BIGINT units of 1e-12 ([[SCALE]]):
  * integer division and summation are bit-identical in every engine,
  * iteration count is fixed (no data-dependent convergence test), and
  * the ONLY float operation is the final `CAST(units AS DOUBLE) /
  * 1e12` — a single correctly-rounded IEEE division on both sides.
  * Truncation bias: each edge loses < 1 unit (1e-12) and each damping
  * step < 1 unit, so total mass drifts < (|E|+|V|)·ITERS·1e-12 below
  * 1.0 — invisible at the 6 decimals anyone reads, and the spec
  * asserts mass ≈ 1.
  *
  * Scale notes (100 TB): each iteration is one join (edges ⋈ ranks,
  * shuffling on the rank key) + one sum-aggregation on the destination
  * — the textbook distributed PageRank step. Edge volume is bounded by
  * the CF chain's per-item rater cap, and the rank table is one row
  * per node. At cluster scale the edge table is the thing to
  * co-partition (bucket by src) so every iteration reuses the same
  * exchange; iterations beyond ~10 warrant checkpointing to cut
  * lineage, exactly as with ALS. Fixed-point longs also make retried
  * or speculative tasks byte-stable, the same property the Exact
  * helpers buy for one-shot aggregations.
  */
object GraphOps {

  /** Damping factor 0.85 as an exact rational. */
  private val DAMP_NUM = 85L
  private val DAMP_DEN = 100L
  private val ITERS = 5
  /** Rank mass 1.0 in fixed-point units (1e-12 per unit). Headroom:
    * the largest intermediate is DAMP_NUM · Σcontrib ≤ 85·10^12,
    * six orders below Long.MaxValue; per-node units ≥ 10^12/|V|,
    * so contributions survive integer division by any realistic
    * out-degree. */
  private val SCALE = 1000000000000L

  /** Undirected edge list (both directions) from the capped user–user
    * cosine pairs. NOT separately cached (r14, from the r13 ADVICE):
    * its only consumer is [[edgesBySrc]]'s one-shot build, so a
    * persisted copy here just held a redundant full edge table in
    * executor storage for the whole session next to the partitioned
    * cache; the union itself reads the already-cached userSimPairs. */
  private def edges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = CfOps.userSimPairs(spark, sfDir)
      .select($"user_a", $"user_b")
    pairs.union(
      pairs.select($"user_b".as("user_a"), $"user_a".as("user_b")))
      .toDF("src", "dst")
  }

  /** [[edges]] hash-partitioned by `src` and cached — the static side
    * of every per-round join in this family. The round-13 stage
    * profile of q_graph_pagerank showed the UNPARTITIONED edge cache
    * being re-exchanged (and re-offered as a broadcast build) once per
    * iteration: six 33.8k-row shuffle map stages plus four broadcast
    * builds per execution, all over a table that never changes
    * (plans/r13/q_graph_pagerank_before.txt). Pinning the cache's
    * layout to the join key makes each round's join reuse the stored
    * partitioning, so only the node-sized state table moves per round
    * (optimization guide §2.4 — remove shuffles outright; the cluster
    * analogue is bucketing the edge table by src).
    *
    * The build is compiled inside [[graft.engine.IterativeTuning]]
    * (AQE off, the iterative partition sizing): a cached plan compiled
    * UNDER AQE reports UnknownPartitioning to its consumers (the
    * adaptive root hides the final shuffle's layout — measured in
    * Round20Spec), which silently re-buys the per-round exchange this
    * cache exists to remove. Wrapping the BUILD pins it regardless of
    * which graph key (wrapped or not) first populates the cache. */
  private def edgesBySrc(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      DfCache(spark, sfDir, "graphEdgesBySrc") {
        edges(spark, sfDir).repartition(col("src"))
      }
    }

  /** Edge list with each source's out-degree attached, partitioned by
    * `src` — [[graphPagerank]]'s static per-iteration join input,
    * hoisted OUT of the loop: the old shape joined `deg` inside the
    * loop, re-deriving and re-shuffling it every iteration. Built on
    * [[edgesBySrc]], both the degree aggregation and the attach join
    * are exchange-free (partial agg + join over co-partitioned input)
    * and the cached result keeps the src layout. */
  private def edgesWithOutdeg(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      DfCache(spark, sfDir, "graphEdgesOutdeg") {
        val e = edgesBySrc(spark, sfDir)
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        e.join(deg, "src")
      }
    }

  /** PageRank after [[ITERS]] power iterations, damping 0.85.
    * Every node appears in the edge list in both directions (the pair
    * stream is symmetric), so out-degree ≥ 1 — no dangling-mass term. */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphPagerankInner(spark, sfDir)
    }

  private def graphPagerankInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ed = edgesWithOutdeg(spark, sfDir)
    // node-sized; consumed twice (count + rank init) — pin it
    val nodes = ed.select($"src").distinct().localCheckpoint(true)
    val n = nodes.count() // driver scalar: node count only, never data
    // Driver-side Long division == the oracle's `//` (operands > 0).
    val base = (SCALE * (DAMP_DEN - DAMP_NUM) / DAMP_DEN) / n
    var ranks = nodes.select($"src".as("user_id"), lit(SCALE / n).as("prs"))
    for (_ <- 1 to ITERS) {
      val contrib = ed
        .join(ranks.withColumnRenamed("user_id", "src"), "src")
        .select($"dst".as("user_id"), expr("prs div outdeg").as("c"))
      ranks = contrib.groupBy($"user_id")
        .agg((lit(base) + expr(s"($DAMP_NUM * sum(c)) div $DAMP_DEN"))
          .as("prs"))
    }
    ranks
      .select($"user_id", ($"prs".cast("double") / SCALE.toDouble).as("pr"))
      .orderBy($"user_id")
  }

  /** Data-dependent convergence variant of [[graphPagerank]]: iterate
    * until the max per-node rank change drops below `epsUnits`
    * (fixed-point units of 1e-12), instead of a fixed count. Spec-only
    * — the oracled query keeps the fixed unroll because a chained-CTE
    * twin needs a static iteration count; this variant proves the
    * fixpoint is actually reached and stable, which the fixed unroll
    * cannot. Each generation is an eager localCheckpoint (same
    * doubling-lineage argument as [[DedupOps.hashMinLabels]]: ranks
    * feed both the contribution join and the delta join). Returns the
    * final ranks and the number of iterations used. */
  private[graft] def pagerankConverged(spark: SparkSession, sfDir: String,
      epsUnits: Long, maxIters: Int = 60): (DataFrame, Int) = {
    import spark.implicits._
    val ed = edgesWithOutdeg(spark, sfDir)
    val nodes = ed.select($"src").distinct().localCheckpoint(true)
    val n = nodes.count()
    val base = (SCALE * (DAMP_DEN - DAMP_NUM) / DAMP_DEN) / n
    var ranks = nodes.select($"src".as("user_id"), lit(SCALE / n).as("prs"))
      .localCheckpoint(true)
    var it = 0
    var delta = Long.MaxValue
    while (delta >= epsUnits && it < maxIters) {
      val contrib = ed
        .join(ranks.withColumnRenamed("user_id", "src"), "src")
        .select($"dst".as("user_id"), expr("prs div outdeg").as("c"))
      val next = contrib.groupBy($"user_id")
        .agg((lit(base) + expr(s"($DAMP_NUM * sum(c)) div $DAMP_DEN"))
          .as("prs"))
        .localCheckpoint(true)
      delta = next
        .join(ranks.select($"user_id", $"prs".as("prev")), "user_id")
        .agg(max(abs($"prs" - $"prev"))).collect()(0).getLong(0)
      ranks = next
      it += 1
    }
    val out = ranks
      .select($"user_id", ($"prs".cast("double") / SCALE.toDouble).as("pr"))
      .orderBy($"user_id")
    (out, it)
  }

  /** Shared oracle CTE block: the capped user–user co-rating pair
    * graph (undirected, user_a < user_b) that every graph query here
    * is defined over — the SQL twin of [[CfOps.userSimPairs]] minus
    * the similarity value, which graph topology queries don't need. */
  private val pairsCte: String =
    s"""ratings AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    ${sqlXsum("l_quantity")} AS rating
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |capped AS (
       |  SELECT user_id, item_id, rating FROM (
       |    SELECT *, row_number() OVER (PARTITION BY item_id
       |      ORDER BY rating DESC, user_id ASC) AS irk
       |    FROM ratings) WHERE irk <= ${CfOps.ITEM_USER_CAP}),
       |pairs AS (
       |  SELECT r1.user_id AS user_a, r2.user_id AS user_b
       |  FROM capped r1 JOIN capped r2
       |    ON r1.item_id = r2.item_id AND r1.user_id < r2.user_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= ${CfOps.MIN_SUPPORT})""".stripMargin

  /** Undirected degree per node over the pair graph. The symmetrized
    * edge list contains every endpoint appearance as a `src` row, so
    * this is exactly an out-degree count over [[edgesBySrc]] — an
    * exchange-FREE aggregation on the co-partitioned cache (the old
    * union-of-projections shape paid a fresh full shuffle per
    * consumer; four graph keys consume degrees). */
  private def degrees(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    edgesBySrc(spark, sfDir)
      .groupBy($"src").agg(count(lit(1)).as("degree"))
      .select($"src".as("user_id"), $"degree")
  }

  /** Degree distribution of the user–user graph: how many nodes have
    * each degree. Two aggregations, both with map-side partial
    * combine; output size is bounded by the max degree, so the second
    * shuffle is tiny. The standard first diagnostic over any derived
    * graph (skew detection before choosing a join strategy). */
  def graphDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    degrees(spark, sfDir)
      .groupBy($"degree").agg(count(lit(1)).as("n_users"))
      .orderBy($"degree")
  }

  val graphDegreesSql: String =
    s"""WITH $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |deg AS (SELECT src AS user_id, COUNT(*) AS degree
       |  FROM edges GROUP BY src)
       |SELECT degree, COUNT(*) AS n_users
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** Degree assortativity (Newman 2002) — does the graph wire hubs to
    * hubs (r > 0) or hubs to leaves (r < 0)? Pearson correlation of
    * endpoint degrees over the DIRECTED edge list (each undirected
    * edge counted both ways — the standard symmetrization), assembled
    * from six exact BIGINT moments in ONE aggregation over the
    * edge⋈degree join; the only float work is the final ratio of
    * exact integers, rnd6'd once. Beyond the degree histogram this is
    * the one-number wiring diagnostic that predicts whether hub
    * skew compounds (assortative) or disperses (disassortative)
    * under the pair-join operators upstream. */
  def graphAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val dirEdges = edgesBySrc(spark, sfDir)
      .select($"src".as("user_a"), $"dst".as("user_b"))
    val deg = degrees(spark, sfDir)
    dirEdges
      .join(deg.select($"user_id".as("user_a"), $"degree".as("dx")), "user_a")
      .join(deg.select($"user_id".as("user_b"), $"degree".as("dy")), "user_b")
      .agg(count(lit(1)).as("n"), sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dy").as("sxy"), sum($"dx" * $"dx").as("sxx"),
        sum($"dy" * $"dy").as("syy"))
      .select($"n".as("n_edges"),
        rnd6(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("assortativity"))
  }

  val graphAssortativitySql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |deg AS (SELECT src AS user_id, COUNT(*) AS degree
       |  FROM edges GROUP BY src),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(da.degree) AS BIGINT) AS sx,
       |    CAST(SUM(db.degree) AS BIGINT) AS sy,
       |    CAST(SUM(da.degree * db.degree) AS BIGINT) AS sxy,
       |    CAST(SUM(da.degree * da.degree) AS BIGINT) AS sxx,
       |    CAST(SUM(db.degree * db.degree) AS BIGINT) AS syy
       |  FROM edges e
       |  JOIN deg da ON e.src = da.user_id
       |  JOIN deg db ON e.dst = db.user_id)
       |SELECT n AS n_edges,
       |  ${sqlRnd6(
        "CAST(n * sxy - sx * sy AS DOUBLE) / " +
          "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
          "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))")} AS assortativity
       |FROM m""".stripMargin
  }

  /** Local clustering coefficient — triangles normalized by possible
    * wedges: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 (0 when
    * the node closes nothing). Pure composite of the two registered
    * primitives — the oriented triangle count and the degree pass —
    * so it inherits their O(√m) wedge bound and adds only a
    * broadcast-sized left join of the per-node counts. The per-node
    * "how cliquish is this user's neighborhood" score that community
    * features feed on. */
  def graphClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val tri = graphTriangles(spark, sfDir)
    degrees(spark, sfDir)
      .join(tri, Seq("user_id"), "left")
      .filter($"degree" >= 2)
      .select($"user_id", $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        rnd6(lit(2.0) * $"n_triangles" /
          ($"degree" * ($"degree" - lit(1.0)))))
      .orderBy($"user_id")
  }

  // lazy: graphTrianglesSql is declared further down this object
  lazy val graphClusteringCoeffSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |deg AS (SELECT src AS user_id, COUNT(*) AS degree
       |  FROM edges GROUP BY src),
       |tri AS (SELECT * FROM ($graphTrianglesSql) t)
       |SELECT d.user_id, d.degree,
       |  COALESCE(tri.n_triangles, 0) AS n_triangles,
       |  ${sqlRnd6(
        "2.0 * COALESCE(tri.n_triangles, 0) / (d.degree * (d.degree - 1.0))")}
       |    AS clustering_coeff
       |FROM deg d LEFT JOIN tri USING (user_id)
       |WHERE d.degree >= 2
       |ORDER BY d.user_id""".stripMargin
  }

  /** Per-node triangle participation count over the user–user graph.
    *
    * Edges are ORIENTED by (degree, id) before enumeration — each
    * undirected edge points from its lower-(degree, id) endpoint to
    * the higher one. The orientation is acyclic and total, so every
    * triangle is enumerated exactly once (as u→v, u→w, v→w), and —
    * the 100 TB point — every node's out-degree is O(√m) regardless
    * of its in-degree: a celebrity node with 10M neighbors
    * contributes wedges only through its few high-degree peers, not
    * through 10M² fan-out. This is the degree-oriented node-iterator
    * of Suri & Vassilvitskii's MapReduce triangle counting, expressed
    * as two self-joins that Catalyst plans as shuffle hash joins on
    * edge endpoints. The oracle applies the identical orientation. */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = CfOps.userSimPairs(spark, sfDir).select($"user_a", $"user_b")
    val deg = degrees(spark, sfDir)
    // orient: src = endpoint with lexicographically smaller (degree, id)
    val withDeg = pairs
      .join(deg.select($"user_id".as("user_a"), $"degree".as("da")), "user_a")
      .join(deg.select($"user_id".as("user_b"), $"degree".as("db")), "user_b")
    val oriented = withDeg.select(
      when($"da" < $"db" || ($"da" === $"db" && $"user_a" < $"user_b"),
        $"user_a").otherwise($"user_b").as("src"),
      when($"da" < $"db" || ($"da" === $"db" && $"user_a" < $"user_b"),
        $"user_b").otherwise($"user_a").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges u→v, u→w closed by oriented edge v→w
    val e1 = oriented.select($"src".as("u"), $"dst".as("v"))
    val e2 = oriented.select($"src".as("u2"), $"dst".as("w"))
    val tris = e1.join(e2, $"u" === $"u2" && $"v" =!= $"w")
      .join(oriented.select($"src".as("v"), $"dst".as("w")), Seq("v", "w"))
      .select($"u", $"v", $"w")
    // materialize the small per-node counts eagerly, then drop the
    // oriented-edge blocks (three plan subtrees read them)
    val out = tris.select(explode(array($"u", $"v", $"w")).as("user_id"))
      .groupBy($"user_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"user_id")
      .localCheckpoint(true)
    oriented.unpersist()
    out
  }

  val graphTrianglesSql: String =
    s"""WITH $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |deg AS (SELECT src AS user_id, COUNT(*) AS degree
       |  FROM edges GROUP BY src),
       |oriented AS (
       |  SELECT
       |    CASE WHEN (da.degree, p.user_a) < (db.degree, p.user_b)
       |      THEN p.user_a ELSE p.user_b END AS src,
       |    CASE WHEN (da.degree, p.user_a) < (db.degree, p.user_b)
       |      THEN p.user_b ELSE p.user_a END AS dst
       |  FROM pairs p
       |  JOIN deg da ON p.user_a = da.user_id
       |  JOIN deg db ON p.user_b = db.user_id),
       |tris AS (
       |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |  FROM oriented e1
       |  JOIN oriented e2 ON e1.src = e2.src AND e1.dst <> e2.dst
       |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |members AS (
       |  SELECT u AS user_id FROM tris
       |  UNION ALL SELECT v FROM tris
       |  UNION ALL SELECT w FROM tris)
       |SELECT user_id, COUNT(*) AS n_triangles
       |FROM members GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Oracle: the same five iterations unrolled as chained CTEs over
    * the identical capped user-pair graph, in the same BIGINT
    * fixed-point units. DuckDB `//` floors and Spark `div` truncates,
    * identical for the all-positive operands here; DuckDB's SUM over
    * BIGINT widens to HUGEINT, still exact. */
  val graphPagerankSql: String = {
    val base =
      s"""WITH ratings AS (
         |  SELECT o_custkey AS user_id, l_partkey AS item_id,
         |    ${sqlXsum("l_quantity")} AS rating
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |capped AS (
         |  SELECT user_id, item_id, rating FROM (
         |    SELECT *, row_number() OVER (PARTITION BY item_id
         |      ORDER BY rating DESC, user_id ASC) AS irk
         |    FROM ratings) WHERE irk <= ${CfOps.ITEM_USER_CAP}),
         |pairs AS (
         |  SELECT r1.user_id AS user_a, r2.user_id AS user_b
         |  FROM capped r1 JOIN capped r2
         |    ON r1.item_id = r2.item_id AND r1.user_id < r2.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${CfOps.MIN_SUPPORT}),
         |edges AS (
         |  SELECT user_a AS src, user_b AS dst FROM pairs
         |  UNION ALL SELECT user_b, user_a FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT src AS user_id,
         |  $SCALE // (SELECT n FROM nn) AS prs FROM deg)""".stripMargin
    val iters = (1 to ITERS).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS user_id,
         |    ($SCALE * ${DAMP_DEN - DAMP_NUM} // $DAMP_DEN) // (SELECT n FROM nn)
         |      + ($DAMP_NUM * SUM(p.prs // d.outdeg)) // $DAMP_DEN AS prs
         |  FROM edges e
         |  JOIN pr${i - 1} p ON e.src = p.user_id
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT user_id,
       |  CAST(prs AS DOUBLE) / CAST($SCALE AS DOUBLE) AS pr
       |FROM pr$ITERS ORDER BY user_id""".stripMargin
  }

  /** BFS hop bound shared by the operator and its oracle: the level-
    * synchronous loop stops here even if the frontier is non-empty,
    * and the recursive-CTE oracle enumerates walks to the same depth —
    * keeping the two definitions identical even on a graph with a
    * larger diameter (fixture diameters are single-digit). */
  private val MAX_HOPS = 20

  /** Single-source shortest hop counts over the user–user pair graph
    * (source = the smallest user id in the graph — deterministic),
    * level-synchronous BFS: each round advances the frontier one hop
    * through an edges join, anti-joins out already-visited nodes, and
    * stops when the frontier empties (or at [[MAX_HOPS]]).
    *
    * Scale shape: per round one join on the CURRENT FRONTIER (not the
    * whole graph) + one anti-join against visited — both shuffles are
    * bounded by frontier/visited size, the textbook distributed BFS.
    * Each generation localCheckpoints eagerly: visited feeds the next
    * anti-join AND the final output, and frontier feeds the next join,
    * so lineage would otherwise double per round (same argument as
    * [[pagerankConverged]]). The per-round emptiness check is a 1-row
    * driver scalar — the documented driver-loop pattern. Unreachable
    * nodes are absent from the output (no sentinel row), matching the
    * oracle's reachable-only enumeration. */
  def graphShortestPath(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphShortestPathInner(spark, sfDir)
    }

  private def graphShortestPathInner(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = CfOps.userSimPairs(spark, sfDir).select($"user_a", $"user_b")
    val e = edgesBySrc(spark, sfDir)
    val src = pairs.agg(min($"user_a")).collect()(0).getLong(0)
    var visited = Seq((src, 0L)).toDF("user_id", "hops").localCheckpoint(true)
    var frontier = visited
    var hop = 0L
    var frontierSize = 1L
    while (frontierSize > 0 && hop < MAX_HOPS) {
      hop += 1
      val next = frontier.join(e, frontier("user_id") === e("src"))
        .select($"dst".as("user_id")).distinct()
        .join(visited, Seq("user_id"), "left_anti")
        .withColumn("hops", lit(hop))
        // LAZY checkpoint + count: the count is the materializing
        // action, so the frontier costs ONE job per hop instead of an
        // eager-checkpoint job followed by a count job (round 13 —
        // these loops are driver-latency bound, ~4 jobs/hop)
        .localCheckpoint(false)
      frontierSize = next.count()
      // the union IS re-pinned: the per-hop anti-join probes visited,
      // and probing a growing union-of-checkpoints tree measured
      // SLOWER than one flat checkpoint per hop
      visited = visited.union(next).localCheckpoint(true)
      frontier = next
    }
    visited.select($"user_id", $"hops").orderBy($"user_id")
  }

  /** Oracle: bounded recursive-CTE walk enumeration with MIN(hops) —
    * level-synchronous BFS firsts equal the minimum over all walks of
    * depth ≤ [[MAX_HOPS]]; the UNION (distinct) on (node, hops) keeps
    * the enumeration finite. */
  val graphShortestPathSql: String =
    s"""WITH RECURSIVE $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |bfs AS (
       |  SELECT (SELECT MIN(user_a) FROM pairs) AS user_id, 0 AS hops
       |  UNION
       |  SELECT e.dst, b.hops + 1
       |  FROM bfs b JOIN edges e ON e.src = b.user_id
       |  WHERE b.hops < $MAX_HOPS)
       |SELECT user_id, CAST(MIN(hops) AS BIGINT) AS hops
       |FROM bfs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hub ceiling for [[graphLinkPred]] wedge enumeration: a common
    * neighbor with degree above this generates no candidate pairs.
    * Standard Adamic–Adar practice — a hub's 1/ln(deg) weight is tiny
    * while its deg² wedge fan-out is exactly the quadratic blow-up a
    * distributed enumeration must avoid; cutting it bounds per-node
    * wedge work at CAP² regardless of the true degree distribution. */
  private[operators] val WEDGE_CAP = 64L

  /** Link prediction over the user–user graph: for every NON-edge
    * pair at distance 2, the common-neighbor count and Adamic–Adar
    * score (Σ 1/ln deg(z) over shared neighbors z), top-50 candidates
    * — "who should be connected but isn't", the classic
    * friend-of-friend recommender signal.
    *
    * Scale shape: wedges come from ONE self-join of the z-centric
    * adjacency list, keyed on z — with [[WEDGE_CAP]] bounding each
    * z's fan-out, so no hub explodes the shuffle. Existing edges are
    * removed by a left-anti join on the canonical (a<b) pair key, the
    * score sum is an exact decimal fold of rnd6'd 1/ln terms (ln is
    * the one libm call, rounded before summation like every idf in
    * this codebase), and the top-50 cut is orderBy+limit →
    * TakeOrderedAndProject, never a global sort. */
  def graphLinkPred(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    import graft.functions.Udfs.rnd6
    val pairs = CfOps.userSimPairs(spark, sfDir).select($"user_a", $"user_b")
    // src-partitioned edge cache: the degree agg, the z-keyed attach
    // join AND the z-keyed wedge self-join below all reuse its layout
    val e = edgesBySrc(spark, sfDir)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("degree"))
    val adj = e.select($"src".as("z"), $"dst".as("nbr"))
      .join(deg.filter($"degree" <= WEDGE_CAP)
        .select($"src".as("z"), $"degree".as("zdeg")), "z")
    val wedges = adj.as("a").join(adj.as("b"), "z")
      .filter(col("a.nbr") < col("b.nbr"))
      .select(col("a.nbr").as("user_a"), col("b.nbr").as("user_b"),
        col("a.zdeg").as("zdeg"))
    wedges.join(pairs, Seq("user_a", "user_b"), "left_anti")
      .groupBy($"user_a", $"user_b")
      .agg(count(lit(1)).as("common_neighbors"),
        xsum(rnd6(lit(1.0) / log($"zdeg".cast("double"))))
          .as("adamic_adar"))
      .orderBy($"adamic_adar".desc, $"user_a".asc, $"user_b".asc)
      .limit(50)
  }

  val graphLinkPredSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
       |adj AS (
       |  SELECT e.src AS z, e.dst AS nbr, d.degree AS zdeg
       |  FROM edges e JOIN deg d ON d.src = e.src
       |  WHERE d.degree <= $WEDGE_CAP),
       |wedges AS (
       |  SELECT a.nbr AS user_a, b.nbr AS user_b, a.zdeg
       |  FROM adj a JOIN adj b ON a.z = b.z AND a.nbr < b.nbr),
       |cand AS (
       |  SELECT w.user_a, w.user_b, w.zdeg FROM wedges w
       |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |    WHERE p.user_a = w.user_a AND p.user_b = w.user_b))
       |SELECT user_a, user_b, COUNT(*) AS common_neighbors,
       |  ${sqlXsum(sqlRnd6("1.0 / ln(CAST(zdeg AS DOUBLE))"))} AS adamic_adar
       |FROM cand GROUP BY 1, 2
       |ORDER BY adamic_adar DESC, user_a ASC, user_b ASC
       |LIMIT 50""".stripMargin
  }

  /** k-core peeling threshold and bounded round count. ROUNDS is the
    * [[MlOps.mlKmeans]]/[[graphPagerank]] discipline: each round
    * doubles the oracle's unrolled-CTE depth, and the fixture graph's
    * peel cascade converges within 4 rounds at both test SFs
    * (measured: sf0.01 alive counts 1488→1145→1118→1114→1114);
    * KcoreSpec-style convergence is asserted in Round5bSpec. */
  // K chosen scale-robust: the capped cosine-pair graph gets SPARSER
  // per node as users grow (10× users share the same per-user event
  // budget, so co-rating overlap thins — measured median mutual
  // degree 85 / 29 / 4 at sf0.001/0.01/0.1). K=16 left an EMPTY core
  // at sf0.1 (a vacuous oracle pass); K=4 keeps a real core at every
  // fixture SF (149 / 1448 / 4457 vertices) while still peeling
  // two-thirds of sf0.1's graph.
  private val KCORE_K = 4
  private val KCORE_ROUNDS = 4

  /** k-core decomposition (bounded peeling): iteratively remove
    * vertices with fewer than [[KCORE_K]] surviving neighbors — the
    * standard dense-subgraph / influential-community extractor (and
    * the graph-cleaning step before expensive per-vertex models).
    * Each round is ONE degree aggregation over the edges restricted
    * to surviving endpoints (two semi-join-shaped hash joins + a
    * count), with the alive set eagerly localCheckpointed so round
    * k's plan does not re-embed round k−1 (the PageRank lineage
    * discipline). Output: surviving vertices with their within-core
    * degree after [[KCORE_ROUNDS]] rounds.
    *
    * Pure integer arithmetic end to end — no float hazard class at
    * all; the oracle is the identical peel unrolled as MATERIALIZED
    * CTEs. At 100 TB each round shuffles degree partials, not edges:
    * the alive filter pushes into the edge scan as two hash joins
    * whose build side is the (shrinking) vertex set. */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame =
    // same many-tiny-stage shape as pagerank: 8 partitions + AQE off
    // inside the peel loop (IterativeTuning)
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphKcoreRounds(spark, sfDir, KCORE_ROUNDS)
    }

  /** [[graphKcore]] with an explicit round count — Round5bSpec runs
    * ROUNDS+1 and asserts the peel has reached its fixpoint. */
  private[graft] def graphKcoreRounds(spark: SparkSession, sfDir: String,
      rounds: Int): DataFrame = {
    import spark.implicits._
    val e = edgesBySrc(spark, sfDir)
    var alive = e.select($"src".as("v")).distinct().localCheckpoint(true)
    for (_ <- 1 to rounds) {
      alive = e
        .join(alive.select($"v".as("sv")), $"src" === $"sv")
        .join(alive.select($"v".as("dv")), $"dst" === $"dv")
        .groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= KCORE_K)
        .select($"src".as("v"))
        .localCheckpoint(true)
    }
    val out = e
      .join(alive.select($"v".as("sv")), $"src" === $"sv")
      .join(alive.select($"v".as("dv")), $"dst" === $"dv")
      .groupBy($"src")
      .agg(count(lit(1)).as("core_degree"))
      .select($"src".as("user_id"), $"core_degree")
      .orderBy($"user_id")
    out
  }

  val graphKcoreSql: String = {
    def round(r: Int, prev: String) =
      s"""d$r AS MATERIALIZED (
         |  SELECT e.s AS v, COUNT(*) AS deg FROM e
         |  JOIN $prev x ON e.s = x.v JOIN $prev y ON e.d2 = y.v
         |  GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= $KCORE_K)"""
        .stripMargin
    val rounds = (1 to KCORE_ROUNDS)
      .map(r => round(r, if (r == 1) "a0" else s"a${r - 1}"))
      .mkString(",\n")
    val last = s"a$KCORE_ROUNDS"
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (
       |  SELECT user_a AS s, user_b AS d2 FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |a0 AS MATERIALIZED (SELECT DISTINCT s AS v FROM e),
       |$rounds
       |SELECT e.s AS user_id, COUNT(*) AS core_degree
       |FROM e JOIN $last x ON e.s = x.v JOIN $last y ON e.d2 = y.v
       |GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** Synchronous min-label rounds for [[graphModularity]]'s community
    * assignment — bounded like the k-core peel, NOT run to the
    * components fixpoint (that is [[graft.operators.DedupOps]]'s
    * clustering); stopping early yields a non-trivial partition with
    * cross-community edges, which is what a modularity score is FOR. */
  private val LABEL_ROUNDS = 2

  /** Community quality scoring: modularity Q = Σ_c (m_c/m −
    * (d_c/2m)²) of the partition produced by [[LABEL_ROUNDS]]
    * synchronous min-label-propagation rounds over the user–user
    * graph — the metric that says whether a community assignment
    * beats random wiring (Q > 0) before anything downstream consumes
    * it. Deterministic by construction: min-label is order-free
    * (textbook LPA's random tie-breaking is not), and the round count
    * is fixed, so the partition and the score are bytes-stable.
    *
    * Scale shape: each round is ONE edges⋈labels join + min
    * aggregation on the destination (labels = 1 row/node, lineage
    * depth bounded by the round count — no checkpoint needed); the
    * scoring pass is two bounded aggregations (per-community degree
    * mass, intra-community edge count over the a<b pair list) and a
    * broadcast 1-row edge total. Every contribution term is a ratio
    * of exact BIGINTs through one identical double tree, rnd6'd, then
    * exact-summed into Q. */
  def graphModularity(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphModularityInner(spark, sfDir)
    }

  private def graphModularityInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    import graft.functions.Udfs.rnd6
    val pairs = CfOps.userSimPairs(spark, sfDir).select($"user_a", $"user_b")
    val edges = edgesBySrc(spark, sfDir)
    var lbl = edges.select($"src".as("user_id")).distinct()
      .withColumn("lbl", $"user_id")
    for (_ <- 1 to LABEL_ROUNDS) {
      val nbrMin = edges
        .join(lbl.withColumnRenamed("user_id", "src"), "src")
        .groupBy($"dst".as("user_id")).agg(min($"lbl").as("nlbl"))
      lbl = lbl.join(nbrMin, Seq("user_id"), "left")
        .select($"user_id",
          least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl"))
    }
    // the final labels feed THREE consumers (degree join + both intra
    // sides) — materialize once or the whole propagation re-executes
    // per consumer (the hashMinLabels lineage discipline)
    lbl = lbl.localCheckpoint(true)
    val m1 = pairs.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy($"src".as("user_id"))
      .agg(count(lit(1)).as("degree"))
    val comm = lbl.join(deg, "user_id")
      .groupBy($"lbl").agg(count(lit(1)).as("n_nodes"),
        sum($"degree").as("d_c"))
    val intra = pairs
      .join(lbl.select($"user_id".as("user_a"), $"lbl".as("la")), "user_a")
      .join(lbl.select($"user_id".as("user_b"), $"lbl".as("lb")), "user_b")
      .filter($"la" === $"lb")
      .groupBy($"la".as("lbl")).agg(count(lit(1)).as("m_in0"))
    val terms = comm.join(intra, Seq("lbl"), "left")
      .crossJoin(broadcast(m1))
      .select($"lbl".as("community"), $"n_nodes",
        coalesce($"m_in0", lit(0L)).as("m_in"), $"d_c", $"m")
      .withColumn("contrib", rnd6(
        $"m_in".cast("double") / $"m" -
          ($"d_c".cast("double") / (lit(2.0) * $"m")) *
          ($"d_c".cast("double") / (lit(2.0) * $"m"))))
      // community-sized (bounded); read twice (Q total + output rows)
      .localCheckpoint(true)
    val q1 = terms.agg(rnd6(xsum($"contrib")).as("q"))
    terms.crossJoin(broadcast(q1))
      .select($"community", $"n_nodes", $"m_in", $"d_c", $"contrib", $"q")
      .orderBy($"community")
  }

  val graphModularitySql: String = {
    import graft.functions.Udfs.sqlRnd6
    def round(r: Int, prev: String) =
      s"""n$r AS MATERIALIZED (
         |  SELECT e.dst AS user_id, MIN(l.lbl) AS nlbl FROM edges e
         |  JOIN $prev l ON l.user_id = e.src GROUP BY 1),
         |l$r AS MATERIALIZED (
         |  SELECT l.user_id, LEAST(l.lbl, COALESCE(n.nlbl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN n$r n USING (user_id))""".stripMargin
    val rounds = (1 to LABEL_ROUNDS)
      .map(r => round(r, if (r == 1) "l0" else s"l${r - 1}"))
      .mkString(",\n")
    val last = s"l$LABEL_ROUNDS"
    val contrib = sqlRnd6("CAST(m_in AS DOUBLE) / m - " +
      "(CAST(d_c AS DOUBLE) / (2.0 * m)) * " +
      "(CAST(d_c AS DOUBLE) / (2.0 * m))")
    s"""WITH $pairsCte,
       |edges AS MATERIALIZED (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS user_id, src AS lbl FROM edges),
       |$rounds,
       |m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
       |deg AS (SELECT src AS user_id, COUNT(*) AS degree
       |  FROM edges GROUP BY 1),
       |comm AS (
       |  SELECT lbl, COUNT(*) AS n_nodes,
       |    CAST(SUM(degree) AS BIGINT) AS d_c
       |  FROM $last JOIN deg USING (user_id) GROUP BY 1),
       |intra AS (
       |  SELECT la.lbl, COUNT(*) AS m_in0
       |  FROM pairs p
       |  JOIN $last la ON la.user_id = p.user_a
       |  JOIN $last lb ON lb.user_id = p.user_b
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |terms AS (
       |  SELECT c.lbl AS community, c.n_nodes,
       |    CAST(COALESCE(i.m_in0, 0) AS BIGINT) AS m_in, c.d_c, m,
       |    $contrib AS contrib
       |  FROM comm c LEFT JOIN intra i USING (lbl), m1),
       |q1 AS (SELECT ${sqlRnd6(sqlXsum("contrib"))} AS q FROM terms)
       |SELECT community, n_nodes, m_in, d_c, contrib, q
       |FROM terms, q1 ORDER BY community""".stripMargin
  }

  /** Seed-set size for [[graphCloseness]]. */
  private val CLOSENESS_SEEDS = 4

  /** Closeness + harmonic centrality for a fixed seed set, by
    * MULTI-SOURCE level-synchronous BFS: one frontier-join loop
    * carries ALL seeds at once ((seed, node) visited keys), so k
    * seeds cost the same O(diameter) rounds as one — the standard
    * way centrality-over-samples scales (exact all-pairs BFS is
    * O(V·E); production estimates centrality from a seed sample,
    * which is literally this query with a bigger seed list).
    * Closeness = (reached−1)/Σhops; harmonic = Σ 1/hops handles
    * disconnected remainders gracefully (rnd6 per term, exact-decimal
    * sum). Per-generation localCheckpoints (the [[graphPagerank]]
    * lineage discipline); oracle = the same BFS as a seed-joined
    * recursive CTE with MIN(hops) semantics. */
  def graphCloseness(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphClosenessInner(spark, sfDir)
    }

  private def graphClosenessInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val pairs = CfOps.userSimPairs(spark, sfDir).select($"user_a", $"user_b")
    val e = edgesBySrc(spark, sfDir)
    val seeds = pairs.select($"user_a").distinct()
      .orderBy($"user_a").limit(CLOSENESS_SEEDS)
      .collect().map(_.getLong(0)).toSeq // metadata-sized seed list
    var visited = seeds.map(s => (s, s, 0L))
      .toDF("seed", "user_id", "hops").localCheckpoint(true)
    var frontier = visited
    var hop = 0L
    var frontierSize = seeds.size.toLong
    while (frontierSize > 0 && hop < MAX_HOPS) {
      hop += 1
      val next = frontier.join(e, frontier("user_id") === e("src"))
        .select($"seed", $"dst".as("user_id")).distinct()
        .join(visited, Seq("seed", "user_id"), "left_anti")
        .withColumn("hops", lit(hop))
        // LAZY checkpoint + count: the count is the materializing
        // action, so the frontier costs ONE job per hop instead of an
        // eager-checkpoint job followed by a count job (round 13 —
        // these loops are driver-latency bound, ~4 jobs/hop)
        .localCheckpoint(false)
      frontierSize = next.count()
      // the union IS re-pinned: the per-hop anti-join probes visited,
      // and probing a growing union-of-checkpoints tree measured
      // SLOWER than one flat checkpoint per hop
      visited = visited.union(next).localCheckpoint(true)
      frontier = next
    }
    visited.filter($"hops" > 0)
      .groupBy($"seed")
      .agg(count(lit(1)).as("n_reached"),
        sum($"hops").as("sum_hops"),
        graft.engine.Exact.xsum(rnd6(lit(1.0) / $"hops".cast("double")))
          .as("harmonic"))
      .select($"seed", $"n_reached", $"sum_hops",
        rnd6($"n_reached".cast("double") / $"sum_hops".cast("double"))
          .as("closeness"),
        rnd6($"harmonic").as("harmonic"))
      .orderBy($"seed")
  }

  val graphClosenessSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH RECURSIVE $pairsCte,
       |edges AS (
       |  SELECT user_a AS src, user_b AS dst FROM pairs
       |  UNION ALL SELECT user_b, user_a FROM pairs),
       |seeds AS (
       |  SELECT user_a AS seed FROM (
       |    SELECT DISTINCT user_a FROM pairs ORDER BY user_a
       |    LIMIT $CLOSENESS_SEEDS)),
       |bfs AS (
       |  SELECT seed, seed AS user_id, 0 AS hops FROM seeds
       |  UNION
       |  SELECT b.seed, e.dst, b.hops + 1
       |  FROM bfs b JOIN edges e ON e.src = b.user_id
       |  WHERE b.hops < $MAX_HOPS),
       |firsts AS (
       |  SELECT seed, user_id, MIN(hops) AS hops FROM bfs
       |  GROUP BY 1, 2)
       |SELECT seed, COUNT(*) AS n_reached,
       |  CAST(SUM(hops) AS BIGINT) AS sum_hops,
       |  ${sqlRnd6(
      "CAST(COUNT(*) AS DOUBLE) / CAST(SUM(hops) AS DOUBLE)")} AS closeness,
       |  ${sqlRnd6(graft.engine.Exact.sqlXsum(
      sqlRnd6("1.0 / CAST(hops AS DOUBLE)")))} AS harmonic
       |FROM firsts WHERE hops > 0
       |GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** HITS fixed-point scale: BIGINT units of 1e-6. Headroom: a
    * normalized score is ≤ 1e6; raw authority sums ≤ in-degree·1e6
    * (in-degree ≤ ITEM_USER_CAP), raw hub sums ≤ out-degree·1e6, and
    * the re-scaling product raw·1e6 stays ≤ ~1e16 — two orders below
    * Long.MaxValue even with catalog-sized out-degrees. */
  private val HITS_SCALE = 1000000L

  /** Kleinberg's HITS over the DIRECTED bipartite rating graph (users
    * → items, per-item top raters): hub scores for users, authority
    * scores for items, after the unrolled update chain a₁ h₁ a₂ h₂ a₃
    * with max-normalization each step — the directed-graph complement
    * to [[graphPagerank]]'s undirected power iteration (PageRank
    * ranks by random-walk mass; HITS separates "rates the popular
    * things" users from "rated by the influential" items).
    *
    * Same determinism contract as PageRank: all iterates are BIGINT
    * fixed-point ([[HITS_SCALE]]); each normalization divides by the
    * current max via integer division (bit-identical in both
    * engines); the ONLY float op is the final units→double divide.
    * The oracle unrolls the identical chain as chained CTEs with
    * scalar-subquery maxima.
    *
    * Scale notes: each half-step is one equi-join of the edge list
    * with the current score table plus one partial-combined sum on
    * the other endpoint — PageRank's per-iteration shape on a
    * bipartite edge set whose per-item side is capped. Generations
    * are eagerly localCheckpointed: every iterate feeds the next join
    * (and the last two also the output union), the documented
    * lineage-doubling hazard of driver-looped plans. */
  def graphHits(spark: SparkSession, sfDir: String): DataFrame =
    // same iterative shape as pagerank: every half-step localCheckpoints
    // eagerly, so wrapping the whole body runs the iteration at the
    // family's small-iterative tuning (and compiles the dual edge
    // caches below with their layout visible — see [[edgesBySrc]])
    graft.engine.IterativeTuning.withSmallIterative(spark) {
      graphHitsInner(spark, sfDir)
    }

  private def graphHitsInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Dual-layout bipartite edge caches (the CSR/CSC pair of a HITS
    // implementation): the auth half-step joins on user_id and the hub
    // half-step on item_id, so ONE cached layout re-shuffles the full
    // edge table on every other half-step. Two cached copies, each
    // hash-partitioned by its half-step's join key, make every
    // half-step's static side exchange-free — only the node-sized
    // score table moves (guide §2.4; same round-13 profile evidence as
    // [[edgesBySrc]]).
    val eU = DfCache(spark, sfDir, "hitsEdgesByUser") {
      CfOps.itemCappedRatings(spark, sfDir)
        .select($"user_id", $"item_id").repartition($"user_id")
    }
    val eI = DfCache(spark, sfDir, "hitsEdgesByItem") {
      CfOps.itemCappedRatings(spark, sfDir)
        .select($"user_id", $"item_id").repartition($"item_id")
    }

    def authStep(h: DataFrame): DataFrame = {
      val raw = eU.join(h, "user_id")
        .groupBy($"item_id").agg(sum($"hs").as("raw"))
      val mx = raw.agg(max($"raw").as("mx"))
      raw.crossJoin(broadcast(mx))
        .select($"item_id", expr(s"(raw * $HITS_SCALE) div mx").as("as_"))
        .localCheckpoint(true)
    }
    def hubStep(a: DataFrame): DataFrame = {
      val raw = eI.join(a, "item_id")
        .groupBy($"user_id").agg(sum($"as_").as("raw"))
      val mx = raw.agg(max($"raw").as("mx"))
      raw.crossJoin(broadcast(mx))
        .select($"user_id", expr(s"(raw * $HITS_SCALE) div mx").as("hs"))
        .localCheckpoint(true)
    }

    val h0 = eU.select($"user_id").distinct()
      .select($"user_id", lit(HITS_SCALE).as("hs"))
    val a1 = authStep(h0)
    val h1 = hubStep(a1)
    val a2 = authStep(h1)
    val h2 = hubStep(a2)
    val a3 = authStep(h2)
    a3
      .select(lit("auth").as("kind"), $"item_id".as("node_id"),
        ($"as_".cast("double") / HITS_SCALE.toDouble).as("score"))
      .unionByName(h2.select(lit("hub").as("kind"), $"user_id".as("node_id"),
        ($"hs".cast("double") / HITS_SCALE.toDouble).as("score")))
      .orderBy($"kind", $"node_id")
  }

  val graphHitsSql: String = {
    val S = HITS_SCALE
    def auth(i: Int, h: String) =
      s"""a${i}r AS (SELECT item_id, SUM(hs) AS raw
         |  FROM e JOIN $h USING (user_id) GROUP BY 1),
         |a$i AS (SELECT item_id,
         |  (raw * $S) // (SELECT MAX(raw) FROM a${i}r) AS as_
         |  FROM a${i}r)""".stripMargin
    def hub(i: Int, a: String) =
      s"""h${i}r AS (SELECT user_id, SUM(as_) AS raw
         |  FROM e JOIN $a USING (item_id) GROUP BY 1),
         |h$i AS (SELECT user_id,
         |  (raw * $S) // (SELECT MAX(raw) FROM h${i}r) AS hs
         |  FROM h${i}r)""".stripMargin
    s"""WITH ratings AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    ${sqlXsum("l_quantity")} AS rating
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT user_id, item_id FROM (
       |    SELECT user_id, item_id, row_number() OVER (
       |      PARTITION BY item_id ORDER BY rating DESC, user_id ASC)
       |      AS irk
       |    FROM ratings) WHERE irk <= ${CfOps.ITEM_USER_CAP}),
       |h0 AS (SELECT DISTINCT user_id, $S AS hs FROM e),
       |${auth(1, "h0")},
       |${hub(1, "a1")},
       |${auth(2, "h1")},
       |${hub(2, "a2")},
       |${auth(3, "h2")}
       |SELECT kind, node_id, score FROM (
       |  SELECT 'auth' AS kind, item_id AS node_id,
       |    CAST(as_ AS DOUBLE) / $S.0 AS score FROM a3
       |  UNION ALL
       |  SELECT 'hub' AS kind, user_id AS node_id,
       |    CAST(hs AS DOUBLE) / $S.0 AS score FROM h2)
       |ORDER BY kind, node_id""".stripMargin
  }
}
