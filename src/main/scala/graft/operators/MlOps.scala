package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Exact, QuerySession, Tables}

/** Closed-form model fitting — the "classical ML on a warehouse"
  * family: models whose sufficient statistics are plain aggregates, so
  * the fit is ONE distributed aggregation + driver-free arithmetic
  * (unlike the iterative ALS/k-means paths, these are exactly
  * oracle-checkable).
  *
  * Scale notes: every fit here reduces the data to O(groups) moment
  * rows in a single partial-aggregated shuffle; model arithmetic runs
  * on those rows. At 100 TB nothing changes — the moments are the
  * same five columns, the shuffle is the same one exchange.
  */
object MlOps {
  import Exact._

  /** Per-group simple linear regression y = a·x + b (y = extended
    * price, x = quantity, grouped by return flag), fit by the normal
    * equations on decimal-exact moment sums (Σx, Σy, Σxy, Σx², Σy²).
    * Slope/intercept/r² are assembled from those exact sums with one
    * identical double expression tree in both engines — the same
    * discipline as [[AggOps.aggCorr]], so only the final rnd6 rounds.
    */
  def mlLinreg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val moments = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        xsum($"l_quantity").as("sx"),
        xsum($"l_extendedprice").as("sy"),
        xsum($"l_quantity" * $"l_extendedprice").as("sxy"),
        xsum($"l_quantity" * $"l_quantity").as("sxx"),
        xsum($"l_extendedprice" * $"l_extendedprice").as("syy"))
    val nd = $"n".cast("double")
    val covN = nd * $"sxy" - $"sx" * $"sy"   // n·cov(x,y) scaled by n
    val varXN = nd * $"sxx" - $"sx" * $"sx"  // n²·var(x)
    val varYN = nd * $"syy" - $"sy" * $"sy"
    val slope = covN / varXN
    moments.select($"l_returnflag", $"n",
      rnd6(slope).as("slope"),
      rnd6(($"sy" - slope * $"sx") / nd).as("intercept"),
      rnd6(covN * covN / (varXN * varYN)).as("r2"))
      .orderBy($"l_returnflag")
  }

  val mlLinregSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    val covN = s"($nd * sxy - sx * sy)"
    val varXN = s"($nd * sxx - sx * sx)"
    val varYN = s"($nd * syy - sy * sy)"
    val slope = s"($covN / $varXN)"
    s"""WITH moments AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${sqlXsum("l_quantity")} AS sx,
       |    ${sqlXsum("l_extendedprice")} AS sy,
       |    ${sqlXsum("l_quantity * l_extendedprice")} AS sxy,
       |    ${sqlXsum("l_quantity * l_quantity")} AS sxx,
       |    ${sqlXsum("l_extendedprice * l_extendedprice")} AS syy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  ${sqlRnd6(slope)} AS slope,
       |  ${sqlRnd6(s"(sy - $slope * sx) / $nd")} AS intercept,
       |  ${sqlRnd6(s"$covN * $covN / ($varXN * $varYN)")} AS r2
       |FROM moments ORDER BY l_returnflag""".stripMargin
  }

  /** k-means clusters and Lloyd rounds. ITERS is deliberately small:
    * each round doubles the oracle's unrolled-CTE depth, and two full
    * Lloyd rounds already move every centroid off its seed — enough to
    * prove the iteration is engine-identical (the PageRank precedent,
    * GraphOps.scala). */
  private val KM_K = 4
  private val KM_ITERS = 2
  private val KM_DIMS = 64

  /** Distributed k-means (Lloyd's algorithm) over the embedding
    * corpus: seed centroids = vectors 0..K-1, then ITERS rounds of
    * [assign each vector to its nearest centroid] → [recompute each
    * centroid as the per-dim mean of its members], then a final
    * assignment. Per round: centroids BROADCAST to the corpus scan
    * (no corpus shuffle to assign), the update is one posexplode +
    * (cid, dim) partial-aggregated shuffle — at 100 TB the shuffle
    * moves K×dims rows per partition, not the data.
    *
    * Engine-exactness (the whole point — an ITERATIVE fit that is
    * still bit-checkable): distances fold in fixed ascending-index
    * IEEE double (the [[graft.functions.Udfs.cosSimDblExpr]]
    * discipline), assignment tiebreaks (rnd6(dist), cid), and each
    * new centroid coordinate is a decimal-exact sum / count that is
    * then ROUND-TRIPPED THROUGH FLOAT32 — the float grid is the same
    * in both engines, so per-round drift cannot compound. Oracle =
    * the identical computation unrolled CTE-by-CTE. */
  private def kmVecs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  // Assignment is 100 % map-side: the K centroids collapse to ONE
  // row holding a cid-sorted array, broadcast to the corpus scan,
  // and the nearest centroid falls out of a higher-order fold —
  // rnd6'd distance with strict `<` over the cid-ascending array is
  // exactly the (dist2 asc, cid asc) window ranking, without
  // shuffling corpus×K rows through a vec_id exchange each round
  // (the plan has NO WindowExec and no exchange on the corpus side;
  // Round5Spec pins this).
  private val kmBestExpr =
    """aggregate(
      |  transform(cents, ct -> named_struct(
      |    'cid', ct.cid,
      |    'd', CAST(CAST(aggregate(zip_with(v, ct.c, (x, y) -> (x - y) * (x - y)),
      |           cast(0 as double), (acc, t) -> acc + t) AS DECIMAL(38,6)) AS DOUBLE))),
      |  named_struct('cid', cast(-1 as int), 'd', cast('Infinity' as double)),
      |  (acc, s) -> if(s.d < acc.d, s, acc))""".stripMargin

  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cents1 = cent.agg(array_sort(collect_list(struct($"cid", $"c"))).as("cents"))
    e.crossJoin(broadcast(cents1))
      .select($"vec_id", $"v", expr(kmBestExpr).as("best"))
      .select($"vec_id", $"v", $"best.cid".as("cid"), $"best.d".as("dist2"))
  }

  /** Final centroids after [[KM_ITERS]] Lloyd rounds. */
  private def kmCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = kmVecs(spark, sfDir)
    var cent = e.filter($"vec_id" < KM_K)
      .select($"vec_id".cast("int").as("cid"), $"v".as("c"))
    for (_ <- 1 to KM_ITERS) {
      cent = kmAssign(e, cent)
        .select($"cid", posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"cid", $"dim")
        .agg((Exact.xsum($"x") / count(lit(1))).as("m"))
        .groupBy($"cid")
        .agg(array_sort(collect_list(struct($"dim", $"m"))).as("ms"))
        .select($"cid",
          expr("transform(ms, s -> CAST(CAST(s.m AS FLOAT) AS DOUBLE))").as("c"))
    }
    cent
  }

  def mlKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    kmAssign(kmVecs(spark, sfDir), kmCentroids(spark, sfDir))
      .select($"vec_id", $"cid".as("cluster"), $"dist2")
      .orderBy($"vec_id")
  }

  /** Shared oracle CTE chain for the k-means fit: e → c0 →
    * [[KM_ITERS]] unrolled assign/update rounds → `afinal` (and the
    * final codebook `c$KM_ITERS`). */
  private val kmCtesSql: String = {
    import graft.functions.Udfs.sqlRnd6
    def dist(v: String, c: String) =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip($v, $c), s -> (s[1] - s[2]) * (s[1] - s[2]))), " +
        "(acc, t) -> acc + t)"
    def assignCte(name: String, centCte: String) =
      s"""$name AS (
         |  SELECT vec_id, v, cid, dist2 FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      ${sqlRnd6(dist("e.v", "c.c"))} AS dist2,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlRnd6(dist("e.v", "c.c"))} ASC, c.cid ASC) AS rk
         |    FROM e, $centCte c) WHERE rk = 1)"""
    def updateCte(name: String, assignCteName: String) =
      s"""$name AS (
         |  SELECT cid, list_transform(list(m ORDER BY dim),
         |    x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c
         |  FROM (
         |    SELECT cid, CAST(i.range AS INT) AS dim,
         |      CAST(SUM(CAST(v[CAST(i.range AS INT)] AS DECIMAL(38,6)))
         |        AS DOUBLE) / COUNT(*) AS m
         |    FROM $assignCteName, range(1, ${KM_DIMS + 1}) i GROUP BY 1, 2)
         |  GROUP BY cid)"""
    val rounds = (1 to KM_ITERS).map { k =>
      assignCte(s"a$k", s"c${k - 1}") + ",\n" + updateCte(s"c$k", s"a$k")
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c
       |  FROM e WHERE vec_id < $KM_K),
       |$rounds,
       |${assignCte("afinal", s"c$KM_ITERS")}"""
  }

  val mlKmeansSql: String =
    s"""WITH $kmCtesSql
       |SELECT vec_id, cid AS cluster, dist2
       |FROM afinal ORDER BY vec_id""".stripMargin

  /** Simplified (centroid) silhouette — the cluster-quality score the
    * k-means fit ships with: per vector, a = distance² to its own
    * centroid (the assignment's dist2, unchanged bits), b = min
    * distance² to any OTHER centroid, s = (b − a) / max(a, b)
    * (0 when both are 0), averaged per cluster. The b pass is the
    * same broadcast-centroid shape as assignment — K−1 extra distance
    * folds per vector, zero extra shuffles of the corpus; the oracle
    * reuses the identical unrolled fit so fit and score can never
    * desynchronize. Centroid silhouette (vs pairwise Rousseeuw) is
    * the standard O(n·K) large-data form — the pairwise one is O(n²)
    * and exists only below broadcast scale. */
  def mlSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    // pin the fitted codebook (K rows) HERE only: silhouette references
    // it twice (assignment + the other-centroid broadcast), and the
    // loop builds one growing lazy plan, so unpinned it paid the full
    // k-means fit twice per execution (r14 stage profile: duplicated
    // 1-task stage pairs). Pinning inside kmCentroids instead measured
    // a regression on single-consumer q_ml_kmeans (0.66 -> 1.29 s):
    // the checkpoint there serializes a chain Catalyst otherwise
    // prunes/fuses into the one-pass plan.
    val cent = kmCentroids(spark, sfDir).localCheckpoint(true)
    val af = kmAssign(kmVecs(spark, sfDir), cent)
    val dOther =
      """CAST(CAST(aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
        |  cast(0 as double), (acc, t) -> acc + t) + 1e-12
        |  AS DECIMAL(38,6)) AS DOUBLE)""".stripMargin
    af.join(broadcast(cent.select($"cid".as("ocid"), $"c")),
        $"ocid" =!= $"cid")
      .select($"vec_id", $"cid", $"dist2", expr(dOther).as("od"))
      .groupBy($"vec_id", $"cid", $"dist2")
      .agg(min($"od").as("bd"))
      .select($"cid",
        when(greatest($"dist2", $"bd") > 0,
          rnd6(($"bd" - $"dist2") / greatest($"dist2", $"bd")))
          .otherwise(lit(0.0)).as("s"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        rnd6(Exact.xsum($"s") / count(lit(1))).as("mean_sil"))
      .select($"cid".as("cluster"), $"n", $"mean_sil")
      .orderBy($"cluster")
  }

  val mlSilhouetteSql: String = {
    import graft.functions.Udfs.sqlRnd6
    def dist(v: String, c: String) =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip($v, $c), s -> (s[1] - s[2]) * (s[1] - s[2]))), " +
        "(acc, t) -> acc + t)"
    s"""WITH $kmCtesSql,
       |bd AS (
       |  SELECT a.vec_id, a.cid, a.dist2,
       |    min(${sqlRnd6(dist("a.v", "c.c"))}) AS bd
       |  FROM afinal a JOIN c$KM_ITERS c ON c.cid <> a.cid
       |  GROUP BY 1, 2, 3),
       |sil AS (
       |  SELECT cid,
       |    CASE WHEN greatest(dist2, bd) > 0
       |      THEN ${sqlRnd6("(bd - dist2) / greatest(dist2, bd)")}
       |      ELSE 0.0 END AS s
       |  FROM bd)
       |SELECT cid AS cluster, COUNT(*) AS n,
       |  ${sqlRnd6(
        "CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)")}
       |    AS mean_sil
       |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** Hashed feature-space width for [[mlFeatureHash]]. */
  private val FH_BUCKETS = 128

  /** Feature hashing (the "hashing trick"): vectorize text into a
    * FIXED 128-wide count space by hashing each token — no vocabulary
    * to build, broadcast, or keep consistent across training runs,
    * which is why it is the streaming/100 TB-safe featurizer
    * (a dictionary featurizer needs a global vocab pass + broadcast
    * that grows with the corpus; the hash needs nothing). Collisions
    * are accepted by design. Token → bucket runs in the library's own
    * codegen'd [[graft.functions.RollingHash]] Catalyst expression
    * (same polynomial spelled per-token in the oracle), so the hot
    * path is whole-stage codegen, not a boxing UDF. Output is the
    * sparse (doc, bucket, count, tf) form — exactly what a trainer
    * ingests. */
  def mlFeatureHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    graft.functions.RollingHash.register(spark)
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
      .select($"doc_id",
        expr(s"CAST(graft_rolling_hash(tok) % $FH_BUCKETS AS INT)").as("bucket"))
    val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("n_toks"))
    toks.groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("cnt"))
      .join(perDoc, "doc_id")
      .select($"doc_id", $"bucket", $"cnt",
        rnd6($"cnt".cast("double") / $"n_toks".cast("double")).as("tf"))
      .orderBy($"doc_id", $"bucket")
  }

  val mlFeatureHashSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''),
       |          c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 131 + x) % 1000000007)
       |      % $FH_BUCKETS AS INTEGER) AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)),
       |per_doc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
       |  FROM toks GROUP BY 1)
       |SELECT t.doc_id, t.bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
       |  ${sqlRnd6("CAST(COUNT(*) AS DOUBLE) / CAST(MAX(p.n_toks) AS DOUBLE)")} AS tf
       |FROM toks t JOIN per_doc p ON t.doc_id = p.doc_id
       |GROUP BY t.doc_id, t.bucket
       |ORDER BY t.doc_id, t.bucket""".stripMargin
  }

  /** Test split, neighbor count, and stop-token df ceiling for
    * [[mlKnnClassify]]. Tokens appearing in more than a quarter of
    * the corpus carry no class signal and would dominate the inverted
    * index's join fan-out (the O(df²) hazard DedupOps documents) —
    * dropped on BOTH sides before the index join. */
  private val KNN_TEST_MOD = 10
  private val KNN_K = 3
  private val KNN_DF_CEIL_PCT = 25

  /** k-nearest-neighbor text classification by exact token Jaccard:
    * every 10th document is the unlabeled "test" split, the rest are
    * the labeled train corpus; each test doc takes the majority label
    * of its [[KNN_K]] most-similar train docs. Candidate pairs come
    * from an inverted token index (equi-join on informative tokens —
    * never all-pairs), Jaccard is exact integer arithmetic, and every
    * ranking tiebreaks deterministically (sim desc, train id asc;
    * votes desc, label asc). The lazy-learner classifier whose "fit"
    * is pure data engineering — no gradient, fully oracle-checkable. */
  def mlKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.select(countDistinct($"doc_id").as("n"))
    val toks = docs
      .select($"doc_id", $"lang",
        explode(array_distinct(split(lower($"text"), " "))).as("tok"))
    // informative tokens: document frequency under the ceiling
    val df = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val kept = toks.join(broadcast(
        df.crossJoin(nDocs).filter($"df" * 100 <= $"n" * KNN_DF_CEIL_PCT)
          .select($"tok")), "tok")
    val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val test = kept.filter($"doc_id" % KNN_TEST_MOD === 0)
      .select($"doc_id".as("tid"), $"tok")
    val train = kept.filter($"doc_id" % KNN_TEST_MOD =!= 0)
      .select($"doc_id".as("nid"), $"lang".as("nlang"), $"tok")
    val shared = test.join(train, "tok")
      .groupBy($"tid", $"nid", $"nlang").agg(count(lit(1)).as("shared"))
    val wK = Window.partitionBy($"tid").orderBy($"sim".desc, $"nid".asc)
    val wVote = Window.partitionBy($"tid").orderBy($"votes".desc, $"nlang".asc)
    val neighbors = shared
      .join(sizes.select($"doc_id".as("tid"), $"sz".as("tsz")), "tid")
      .join(sizes.select($"doc_id".as("nid"), $"sz".as("nsz")), "nid")
      .select($"tid", $"nid", $"nlang",
        rnd6($"shared".cast("double") /
          ($"tsz" + $"nsz" - $"shared").cast("double")).as("sim"))
      .withColumn("rk", row_number().over(wK))
      .filter($"rk" <= KNN_K)
    neighbors
      .groupBy($"tid", $"nlang").agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(wVote))
      .filter($"vrk" === 1)
      .select($"tid".as("doc_id"), $"nlang".as("pred_lang"), $"votes")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"pred_lang", $"votes",
        ($"pred_lang" === $"lang").as("correct"))
      .orderBy($"doc_id")
  }

  val mlKnnClassifySql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(list_distinct(
       |    string_split(lower(text), ' '))) AS tok
       |  FROM documents),
       |kept AS (
       |  SELECT t.* FROM toks t JOIN (
       |    SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
       |      (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
       |    WHERE df * 100 <= n * $KNN_DF_CEIL_PCT) i ON t.tok = i.tok),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS tid, b.doc_id AS nid, b.lang AS nlang,
       |    COUNT(*) AS shared
       |  FROM kept a JOIN kept b ON a.tok = b.tok
       |  WHERE a.doc_id % $KNN_TEST_MOD = 0 AND b.doc_id % $KNN_TEST_MOD <> 0
       |  GROUP BY 1, 2, 3),
       |neighbors AS (
       |  SELECT tid, nlang FROM (
       |    SELECT s.tid, s.nlang,
       |      row_number() OVER (PARTITION BY s.tid ORDER BY
       |        ${sqlRnd6("CAST(s.shared AS DOUBLE) / CAST(ts.sz + ns.sz - s.shared AS DOUBLE)")}
       |        DESC, s.nid ASC) AS rk
       |    FROM shared s
       |    JOIN sizes ts ON ts.doc_id = s.tid
       |    JOIN sizes ns ON ns.doc_id = s.nid)
       |  WHERE rk <= $KNN_K),
       |voted AS (
       |  SELECT tid, nlang, CAST(COUNT(*) AS BIGINT) AS votes,
       |    row_number() OVER (PARTITION BY tid
       |      ORDER BY COUNT(*) DESC, nlang ASC) AS vrk
       |  FROM neighbors GROUP BY tid, nlang)
       |SELECT v.tid AS doc_id, v.nlang AS pred_lang, v.votes,
       |  v.nlang = d.lang AS correct
       |FROM voted v JOIN documents d ON v.tid = d.doc_id
       |WHERE v.vrk = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** DBSCAN neighborhood: cosine ≥ [[DB_EPS]] (the radius-search
    * threshold SimOps uses) and [[DB_MIN_PTS]] neighbors to be a core
    * point — chosen so the fixture splits into a real core/border/
    * noise mix. [[DB_SAMPLE_MOD]] is the DBSCAN++ core-candidate
    * sampling modulus (see [[mlDbscan]]). */
  private val DB_EPS = 0.25
  private val DB_MIN_PTS = 12
  private val DB_SAMPLE_MOD = 3

  /** DBSCAN++ (sampled-core DBSCAN, Jang & Jiang ICML 2019) over the
    * embedding corpus — the SCALE-SAFE density clustering shape.
    *
    * Why not plain DBSCAN with bucketed candidates: at this eps regime
    * the ε-graph is NOT bucket-localizable — measured on the fixture,
    * an IVF cover needs 98.4 % of all-pairs to reach even 99.8 %
    * recall (C=8, P=4), and sign-LSH at cos 0.25 (bit-collision 0.58)
    * needs band counts whose candidate volume EXCEEDS all-pairs. Any
    * exact ε-join here is intrinsically O(n²); the published fix is
    * DBSCAN++: only a deterministic SAMPLE (vec_id % m = 0) may be a
    * core candidate, every point's neighborhood is probed against the
    * sample only, and clusters are components of the sampled-core
    * graph. Work drops from O(n²) to O(n·n/m) with m the knob — at
    * 100 TB pick m ∝ n to hit a fixed core-candidate budget s, giving
    * the O(s·n) of the paper, whose Theorem 1 bounds the clustering
    * divergence from exact DBSCAN. The n×(n/m) probe is a broadcast
    * join on the SAMPLE side (bounded by s), never an n×n self-join.
    *
    * Composition: core candidates are the sample; a candidate is core
    * iff its FULL degree (neighbors among all n points) ≥ minPts —
    * the degree comes free from the probe join's vb-side counts.
    * Clusters are connected components of the core-core graph via the
    * SAME hash-min propagation the dedup family uses
    * ([[DedupOps.hashMinLabels]]); every non-core point attaches to
    * its minimum-labeled core neighbor (deterministic tie rule —
    * textbook DBSCAN is order-dependent for borders, which would be
    * retry-nondeterministic at scale). Noise gets cluster −1.
    * Oracle: identical composition in closed form (the sample is
    * deterministic, so DuckDB recomputes it exactly) with a
    * recursive-CTE reachability closure for the components. */
  def mlDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val sample = e.filter($"vec_id" % DB_SAMPLE_MOD === 0)
      .select($"vec_id".as("vb"), $"embedding".as("eb"))
    // n × (n/m) probe: every point against the broadcast sample —
    // the only pairwise stage, sized by the sample, not the corpus.
    // Persisted in the scoped registry, never unpersisted here: the
    // returned frame's border subtree re-reads it at the CALLER's
    // action time (CacheLifecycleSpec pins the InMemoryTableScan).
    val nbr = DfCache(spark, sfDir, "dbscan_nbr") {
      e.select($"vec_id".as("va"), $"embedding".as("ea"))
        .crossJoin(broadcast(sample))
        .filter($"va" =!= $"vb")
        .select($"va", $"vb",
          rnd6(expr("graft_cosine_sim(ea, eb)")).as("sim"))
        .filter($"sim" >= DB_EPS)
    }
    // a sampled candidate's FULL degree = how many of all n points
    // probe into it (vb side of the join)
    val core = nbr.groupBy($"vb".as("vec_id"))
      .agg(count(lit(1)).as("nn"))
      .filter($"nn" >= DB_MIN_PTS)
      .select($"vec_id")
    val coreEdges = nbr
      .join(core.select($"vec_id".as("ca")), $"va" === $"ca")
      .join(core.select($"vec_id".as("cb")), $"vb" === $"cb")
      .filter($"va" < $"vb")
      .select($"va".as("doc_a"), $"vb".as("doc_b"))
    val comp = DedupOps.hashMinLabels(
        core.select($"vec_id".as("doc_id")), coreEdges)
      .select($"doc_id".as("cvec"), $"cluster_id")
    val border = nbr
      .join(comp.select($"cvec".as("vb2"), $"cluster_id"), $"vb" === $"vb2")
      .join(comp.select($"cvec".as("notcore")), $"va" === $"notcore", "left_anti")
      .groupBy($"va".as("bvec"))
      .agg(min($"cluster_id").as("bcluster"))
    e.select($"vec_id")
      .join(comp, $"vec_id" === $"cvec", "left")
      .join(border, $"vec_id" === $"bvec", "left")
      .select($"vec_id",
        when($"cluster_id".isNotNull, "core")
          .when($"bcluster".isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce($"cluster_id", $"bcluster", lit(-1L)).as("cluster_id"))
      .orderBy($"vec_id")
  }

  val mlDbscanSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val cos = graft.functions.Udfs.sqlCosSimDbl("a.embedding", "b.embedding")
    s"""WITH RECURSIVE nbr AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM embeddings a JOIN embeddings b
       |    ON b.vec_id % $DB_SAMPLE_MOD = 0 AND a.vec_id <> b.vec_id
       |  WHERE ${sqlRnd6(cos)} >= $DB_EPS),
       |core AS (
       |  SELECT vb AS vec_id FROM nbr GROUP BY 1
       |  HAVING COUNT(*) >= $DB_MIN_PTS),
       |cedges AS (
       |  SELECT p.va, p.vb FROM nbr p
       |  JOIN core ca ON p.va = ca.vec_id
       |  JOIN core cb ON p.vb = cb.vec_id),
       |reach(src, dst) AS (
       |  SELECT vec_id, vec_id FROM core
       |  UNION
       |  SELECT r.src, e.vb FROM reach r JOIN cedges e ON r.dst = e.va),
       |comp AS (SELECT src AS vec_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY 1),
       |border AS (
       |  SELECT p.va AS vec_id, min(c.cluster_id) AS cluster_id
       |  FROM nbr p
       |  JOIN comp c ON p.vb = c.vec_id
       |  WHERE p.va NOT IN (SELECT vec_id FROM core)
       |  GROUP BY 1)
       |SELECT e.vec_id,
       |  CASE WHEN c.cluster_id IS NOT NULL THEN 'core'
       |    WHEN b.cluster_id IS NOT NULL THEN 'border'
       |    ELSE 'noise' END AS role,
       |  COALESCE(c.cluster_id, b.cluster_id, -1) AS cluster_id
       |FROM embeddings e
       |LEFT JOIN comp c ON e.vec_id = c.vec_id
       |LEFT JOIN border b ON e.vec_id = b.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Covariance / correlation matrix over the leading 8 embedding
    * dimensions — the sufficient statistic for PCA / whitening /
    * feature-selection, reduced the warehouse way: explode each
    * vector's leading block into (dim, value) pairs, self-pair within
    * the row (upper triangle), and ONE shuffle collapses the corpus
    * to d(d+1)/2 moment rows; cov/corr are assembled from exact sums
    * on those rows. Deliberately a LEADING BLOCK, not all 64 dims:
    * the exploded intermediate grows as d² per row, so a full matrix
    * at corpus scale belongs in a blocked/treeAggregate kernel — the
    * demo pins the moment-reduction pattern and says so. The eigen
    * step is driver-side by nature (d×d is tiny) and omitted here:
    * no SQL oracle could check it. Floats are cast to double BEFORE
    * any product in BOTH engines (float→double is exact; mixed-
    * precision products would drift). */
  def mlCovmatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    // Pair generation is MAP-SIDE: an indexed transform×transform
    // lambda expands each row to its d(d+1)/2 upper-triangle cells
    // inside the scan's codegen stage — no self-join, so the ONLY
    // exchange in the whole query is the (i, j) moment aggregation.
    val pairs = Tables.embeddings(spark, sfDir)
      .select(explode(expr(
        """flatten(transform(slice(embedding, 1, 8), (x, i) ->
          |  filter(transform(slice(embedding, 1, 8), (y, j) ->
          |    struct(i + 1 AS i, j + 1 AS j,
          |      CAST(x AS DOUBLE) AS xi, CAST(y AS DOUBLE) AS xj)),
          |    c -> c.j >= c.i)))""".stripMargin)).as("c"))
      .select($"c.i".as("i"), $"c.j".as("j"), $"c.xi".as("xi"),
        $"c.xj".as("xj"))
    val moments = pairs.groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"),
        xsum($"xi").as("sx"), xsum($"xj").as("sy"),
        xsum($"xi" * $"xj").as("sxy"),
        xsum($"xi" * $"xi").as("sxx"),
        xsum($"xj" * $"xj").as("syy"))
    val nd = $"n".cast("double")
    val covN = nd * $"sxy" - $"sx" * $"sy"
    val varXN = nd * $"sxx" - $"sx" * $"sx"
    val varYN = nd * $"syy" - $"sy" * $"sy"
    moments.select($"i", $"j", $"n",
        rnd6(covN / (nd * nd)).as("cov_pop"),
        rnd6(covN / sqrt(varXN * varYN)).as("corr"))
      .orderBy($"i", $"j")
  }

  val mlCovmatrixSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    val covN = s"($nd * sxy - sx * sy)"
    val varXN = s"($nd * sxx - sx * sx)"
    val varYN = s"($nd * syy - sy * sy)"
    s"""WITH pairs AS (
       |  SELECT e.vec_id, ri.i, rj.j,
       |    CAST(e.embedding[CAST(ri.i AS INTEGER)] AS DOUBLE) AS xi,
       |    CAST(e.embedding[CAST(rj.j AS INTEGER)] AS DOUBLE) AS xj
       |  FROM embeddings e, range(1, 9) AS ri(i), range(1, 9) AS rj(j)
       |  WHERE rj.j >= ri.i),
       |moments AS (
       |  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       |    COUNT(*) AS n,
       |    ${Exact.sqlXsum("xi")} AS sx, ${Exact.sqlXsum("xj")} AS sy,
       |    ${Exact.sqlXsum("xi * xj")} AS sxy,
       |    ${Exact.sqlXsum("xi * xi")} AS sxx,
       |    ${Exact.sqlXsum("xj * xj")} AS syy
       |  FROM pairs GROUP BY 1, 2)
       |SELECT i, j, n,
       |  ${sqlRnd6(s"$covN / ($nd * $nd)")} AS cov_pop,
       |  ${sqlRnd6(s"$covN / sqrt($varXN * $varYN)")} AS corr
       |FROM moments ORDER BY i, j""".stripMargin
  }

  /** Gini-impurity decision stump — the classic single-split tree fit,
    * done as pure aggregation: label = "was returned" (l_returnflag =
    * 'R'), feature = quantity. One shuffle reduces the corpus to
    * per-quantity (n, positives) rows; the cumulative left/right split
    * statistics come from a broadcast TRIANGULAR JOIN over that
    * ≤ 50-row table (quantity's domain is bounded by the data spec),
    * NOT an unpartitioned window — the fleet-wide WindowGuardSpec
    * stays clean and the whole fit is one exchange at any corpus
    * scale. Per candidate threshold t: left = rows with qty ≤ t,
    * weighted Gini = (nL·gini(L) + nR·gini(R)) / n, with gini(S) =
    * 1 − (pos/|S|)² − (neg/|S|)². The best split is flagged via a
    * 1-row broadcast min. All ratios are double expressions built
    * from exact bigint counts with an IDENTICAL tree in the oracle,
    * so rnd6 equality is engine-exact (the [[mlLinreg]] discipline).
    */
  def mlGiniStump(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val byQty = Tables.lineitem(spark, sfDir)
      .groupBy($"l_quantity".cast("int").as("qty"))
      .agg(count(lit(1)).as("n"),
        count(when($"l_returnflag" === "R", 1)).as("pos"))
    val tot = byQty.agg(sum($"n").as("tot_n"), sum($"pos").as("tot_pos"))
    val cum = byQty.select($"qty".as("thr"))
      .join(broadcast(byQty), $"qty" <= $"thr")
      .groupBy($"thr")
      .agg(sum($"n").as("nl"), sum($"pos").as("pl"))
      .crossJoin(broadcast(tot))
      .filter($"nl" < $"tot_n") // right side must be non-empty
    def gini(p: Column, n: Column): Column = {
      val pd = p.cast("double") / n.cast("double")
      val qd = (n - p).cast("double") / n.cast("double")
      lit(1.0) - pd * pd - qd * qd
    }
    val nr = $"tot_n" - $"nl"
    val pr = $"tot_pos" - $"pl"
    val weighted =
      ($"nl".cast("double") * gini($"pl", $"nl") +
        nr.cast("double") * gini(pr, nr)) / $"tot_n".cast("double")
    val scored = cum.select($"thr", $"nl", $"pl",
      nr.as("nr"), pr.as("pr"), rnd6(weighted).as("gini_split"))
    val best = scored.agg(min($"gini_split").as("best_gini"))
    scored.crossJoin(broadcast(best))
      .select($"thr", $"nl", $"pl", $"nr", $"pr", $"gini_split",
        ($"gini_split" === $"best_gini").as("is_best"))
      .orderBy($"thr")
  }

  val mlGiniStumpSql: String = {
    import graft.functions.Udfs.sqlRnd6
    def gini(p: String, n: String): String = {
      val pd = s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))"
      val qd = s"(CAST(($n) - ($p) AS DOUBLE) / CAST($n AS DOUBLE))"
      s"(1.0 - $pd * $pd - $qd * $qd)"
    }
    val nr = "(tot_n - nl)"
    val pr = "(tot_pos - pl)"
    val weighted = s"((CAST(nl AS DOUBLE) * ${gini("pl", "nl")} + " +
      s"CAST($nr AS DOUBLE) * ${gini(pr, nr)}) / CAST(tot_n AS DOUBLE))"
    s"""WITH by_qty AS (
       |  SELECT CAST(l_quantity AS INTEGER) AS qty, COUNT(*) AS n,
       |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS pos
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
       |  CAST(SUM(pos) AS BIGINT) AS tot_pos FROM by_qty),
       |cum AS (
       |  SELECT t.qty AS thr,
       |    CAST(SUM(b.n) AS BIGINT) AS nl, CAST(SUM(b.pos) AS BIGINT) AS pl
       |  FROM (SELECT qty FROM by_qty) t
       |  JOIN by_qty b ON b.qty <= t.qty
       |  GROUP BY 1),
       |scored AS (
       |  SELECT thr, nl, pl, $nr AS nr, $pr AS pr,
       |    ${sqlRnd6(weighted)} AS gini_split
       |  FROM cum, tot WHERE nl < tot_n)
       |SELECT thr, nl, pl, nr, pr, gini_split,
       |  gini_split = (SELECT MIN(gini_split) FROM scored) AS is_best
       |FROM scored ORDER BY thr""".stripMargin
  }

  /** Per-group best Gini split over a bounded-domain integer feature:
    * input is the (grp, f) count table, output one row per grp with
    * the argmin threshold (ties broken by smallest thr — a two-step
    * min-gini-then-min-thr reduction, portable to the oracle, instead
    * of an engine-specific arg_min). Same triangular-join shape as
    * [[mlGiniStump]], keyed by grp. */
  private def giniBestSplit(byFeat0: DataFrame): DataFrame = {
    import byFeat0.sparkSession.implicits._
    import graft.functions.Udfs.rnd6
    // materialize the histogram ONCE: it is tiny (one row per distinct
    // feature value per group), but it is referenced by tot + a
    // self-join + the argmin chain, and Catalyst recomputes repeated
    // logical subtrees — without this the FACT-table aggregation that
    // produces it re-ran ~10× per tree level (measured: 5.3 s pinned
    // for two levels over sf0.1 lineitem; ~1.5 s after)
    val byFeat = byFeat0.localCheckpoint(true)
    val tot = byFeat.groupBy($"grp")
      .agg(sum($"n").as("tot_n"), sum($"pos").as("tot_pos"))
    val cum = byFeat.select($"grp", $"f".as("thr"))
      .join(byFeat.select($"grp".as("g2"), $"f", $"n", $"pos"),
        $"grp" === $"g2" && $"f" <= $"thr")
      .groupBy($"grp", $"thr")
      .agg(sum($"n").as("nl"), sum($"pos").as("pl"))
      .join(tot, "grp").filter($"nl" < $"tot_n")
    def gini(p: Column, n: Column): Column = {
      val pd = p.cast("double") / n.cast("double")
      val qd = (n - p).cast("double") / n.cast("double")
      lit(1.0) - pd * pd - qd * qd
    }
    val nr = $"tot_n" - $"nl"
    val pr = $"tot_pos" - $"pl"
    val weighted =
      ($"nl".cast("double") * gini($"pl", $"nl") +
        nr.cast("double") * gini(pr, nr)) / $"tot_n".cast("double")
    // ANSI guard: the nl = tot_n boundary row (nr = 0) exists in `cum`
    // before the filter, and this plan's self-joins let codegen reach
    // the division first — gate the expression on the SAME predicate
    // as the filter so the phantom row yields NULL instead of a
    // DIVIDE_BY_ZERO throw (surviving rows are unchanged).
    // same rationale: `scored` feeds the argmin twice plus the final
    // join — checkpoint the (tiny) scored splits so the chain runs on
    // materialized rows
    val scored = cum.select($"grp", $"thr", $"nl", $"pl",
      nr.as("nr"), pr.as("pr"),
      rnd6(when($"nl" < $"tot_n", weighted)).as("gini_split"))
      .localCheckpoint(true)
    val bmin = scored.groupBy($"grp".as("mg"))
      .agg(min($"gini_split").as("g"))
    val bthr = scored.join(bmin,
        $"grp" === $"mg" && $"gini_split" === $"g")
      .groupBy($"grp".as("bg")).agg(min($"thr").as("bthr"))
    scored.join(bthr, $"grp" === $"bg" && $"thr" === $"bthr")
      .select($"grp", $"thr", $"nl", $"pl", $"nr", $"pr", $"gini_split")
  }

  /** Depth-2 Gini decision tree: root split on quantity (the
    * [[mlGiniStump]] fit with a deterministic argmin), then within
    * each branch the best second split on the discount percentage —
    * the recursive-partitioning step that turns the stump into a real
    * tree, still as pure aggregation. Two corpus passes total (one per
    * level); each level reduces to a bounded (branch, feature-value)
    * count table (≤ 50 quantities, ≤ 101 discount buckets) and the
    * cumulative split scan is a broadcast triangular join on that
    * table, never a window over the corpus. The root threshold rides
    * a 1-row broadcast into the second pass's branch assignment.
    * Discount is bucketed with an explicit floor (Spark's double→int
    * cast truncates, DuckDB's rounds — floor is the portable form). */
  def mlTreeDepth2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val byQty = li
      .groupBy(lit("root").as("grp"), $"l_quantity".cast("int").as("f"))
      .agg(count(lit(1)).as("n"),
        count(when($"l_returnflag" === "R", 1)).as("pos"))
    val rootBest = giniBestSplit(byQty)
    val rb = broadcast(rootBest.select($"thr".as("root_thr")))
    val byDisc = li.crossJoin(rb)
      .groupBy(
        when($"l_quantity".cast("int") <= $"root_thr", "left")
          .otherwise("right").as("grp"),
        expr("CAST(floor(l_discount * CAST(100.0 AS DOUBLE)) AS INT)")
          .as("f"))
      .agg(count(lit(1)).as("n"),
        count(when($"l_returnflag" === "R", 1)).as("pos"))
    val branchBest = giniBestSplit(byDisc)
    rootBest
      .select(lit("root").as("node"), lit("qty").as("feature"), $"thr",
        $"nl", $"pl", $"nr", $"pr", $"gini_split")
      .unionAll(branchBest
        .select($"grp".as("node"), lit("disc_pct").as("feature"), $"thr",
          $"nl", $"pl", $"nr", $"pr", $"gini_split"))
      .orderBy($"node")
  }

  val mlTreeDepth2Sql: String = {
    import graft.functions.Udfs.sqlRnd6
    def gini(p: String, n: String): String = {
      val pd = s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))"
      val qd = s"(CAST(($n) - ($p) AS DOUBLE) / CAST($n AS DOUBLE))"
      s"(1.0 - $pd * $pd - $qd * $qd)"
    }
    val nr = "(tot_n - nl)"
    val pr = "(tot_pos - pl)"
    val weighted = s"((CAST(nl AS DOUBLE) * ${gini("pl", "nl")} + " +
      s"CAST($nr AS DOUBLE) * ${gini(pr, nr)}) / CAST(tot_n AS DOUBLE))"
    s"""WITH by_qty AS (
       |  SELECT 'root' AS grp, CAST(l_quantity AS INTEGER) AS f,
       |    COUNT(*) AS n,
       |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS pos
       |  FROM lineitem GROUP BY 1, 2),
       |tot1 AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS tot_n,
       |  CAST(SUM(pos) AS BIGINT) AS tot_pos FROM by_qty GROUP BY 1),
       |cum1 AS (
       |  SELECT t.grp, t.f AS thr,
       |    CAST(SUM(b.n) AS BIGINT) AS nl, CAST(SUM(b.pos) AS BIGINT) AS pl
       |  FROM by_qty t JOIN by_qty b ON b.grp = t.grp AND b.f <= t.f
       |  GROUP BY 1, 2),
       |scored1 AS (
       |  SELECT grp, thr, nl, pl, $nr AS nr, $pr AS pr,
       |    ${sqlRnd6(weighted)} AS gini_split
       |  FROM cum1 JOIN tot1 USING (grp) WHERE nl < tot_n),
       |root AS (
       |  SELECT s.* FROM scored1 s
       |  JOIN (SELECT grp, MIN(gini_split) AS g FROM scored1 GROUP BY 1) m
       |    ON s.grp = m.grp AND s.gini_split = m.g
       |  JOIN (SELECT s2.grp, MIN(s2.thr) AS bthr FROM scored1 s2
       |        JOIN (SELECT grp, MIN(gini_split) AS g FROM scored1
       |              GROUP BY 1) m2
       |          ON s2.grp = m2.grp AND s2.gini_split = m2.g
       |        GROUP BY 1) t
       |    ON s.grp = t.grp AND s.thr = t.bthr),
       |by_disc AS (
       |  SELECT CASE WHEN CAST(l_quantity AS INTEGER) <= root.thr
       |      THEN 'left' ELSE 'right' END AS grp,
       |    CAST(floor(l_discount * CAST(100.0 AS DOUBLE)) AS INTEGER) AS f,
       |    COUNT(*) AS n,
       |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS pos
       |  FROM lineitem, root GROUP BY 1, 2),
       |tot2 AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS tot_n,
       |  CAST(SUM(pos) AS BIGINT) AS tot_pos FROM by_disc GROUP BY 1),
       |cum2 AS (
       |  SELECT t.grp, t.f AS thr,
       |    CAST(SUM(b.n) AS BIGINT) AS nl, CAST(SUM(b.pos) AS BIGINT) AS pl
       |  FROM by_disc t JOIN by_disc b ON b.grp = t.grp AND b.f <= t.f
       |  GROUP BY 1, 2),
       |scored2 AS (
       |  SELECT grp, thr, nl, pl, $nr AS nr, $pr AS pr,
       |    ${sqlRnd6(weighted)} AS gini_split
       |  FROM cum2 JOIN tot2 USING (grp) WHERE nl < tot_n),
       |branch_best AS (
       |  SELECT s.* FROM scored2 s
       |  JOIN (SELECT grp, MIN(gini_split) AS g FROM scored2 GROUP BY 1) m
       |    ON s.grp = m.grp AND s.gini_split = m.g
       |  JOIN (SELECT s2.grp, MIN(s2.thr) AS bthr FROM scored2 s2
       |        JOIN (SELECT grp, MIN(gini_split) AS g FROM scored2
       |              GROUP BY 1) m2
       |          ON s2.grp = m2.grp AND s2.gini_split = m2.g
       |        GROUP BY 1) t
       |    ON s.grp = t.grp AND s.thr = t.bthr)
       |SELECT 'root' AS node, 'qty' AS feature, thr, nl, pl, nr, pr,
       |  gini_split
       |FROM root
       |UNION ALL
       |SELECT grp AS node, 'disc_pct' AS feature, thr, nl, pl, nr, pr,
       |  gini_split
       |FROM branch_best
       |ORDER BY node""".stripMargin
  }

  /** Per-class evaluation of the [[mlKnnClassify]] predictions:
    * confusion counts folded to (tp, fp, fn) per label with
    * precision / recall / F1 — the model-eval readout that closes the
    * classifier loop. Predictions join back to truth on doc_id (the
    * prediction side is the test split — broadcast-sized relative to
    * the corpus), then everything reduces to the O(labels²) confusion
    * table; metric arithmetic runs on those few rows. F1 is computed
    * as 2·tp/(2·tp+fp+fn) — the direct form whose denominator is ≥ 1
    * whenever the label has any true or predicted docs — and
    * precision is explicitly NULL-guarded for never-predicted labels
    * (Spark's non-ANSI x/0 → NULL vs DuckDB's IEEE inf would
    * otherwise disagree). */
  def mlConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val pred = mlKnnClassify(spark, sfDir).select($"doc_id", $"pred_lang")
    val truth = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang".as("true_lang"))
    // the O(labels²) confusion table is referenced THREE times below
    // (row/column margins + the diagonal) and Catalyst recomputes
    // repeated subtrees — without the checkpoint the whole kNN
    // classify above re-runs once per reference (measured 3.87 →
    // 2.25 s min at sf0.1). Eager localCheckpoint on a ≤ labels² row
    // frame is the same tiny-aggregate convention as giniBestSplit;
    // riding the scoped DfCache on top bounds the checkpoint count at
    // one per (application, sfDir) scope instead of one per call.
    val cm = DfCache(spark, sfDir, "confusion_cm") {
      broadcast(pred).join(truth, "doc_id")
        .groupBy($"true_lang", $"pred_lang").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
    }
    val perTrue = cm.groupBy($"true_lang".as("lang"))
      .agg(sum($"n").as("n_true"))
    val perPred = cm.groupBy($"pred_lang".as("lang"))
      .agg(sum($"n").as("n_pred"))
    val tp = cm.filter($"true_lang" === $"pred_lang")
      .select($"true_lang".as("lang"), $"n".as("tp"))
    perTrue.join(perPred, Seq("lang"), "full_outer")
      .join(tp, Seq("lang"), "left")
      .select($"lang",
        coalesce($"tp", lit(0L)).as("tp"),
        (coalesce($"n_pred", lit(0L)) - coalesce($"tp", lit(0L))).as("fp"),
        (coalesce($"n_true", lit(0L)) - coalesce($"tp", lit(0L))).as("fn"))
      .select($"lang", $"tp", $"fp", $"fn",
        when($"tp" + $"fp" === 0, lit(null).cast("double"))
          .otherwise(rnd6($"tp".cast("double") / ($"tp" + $"fp")))
          .as("prec"),
        when($"tp" + $"fn" === 0, lit(null).cast("double"))
          .otherwise(rnd6($"tp".cast("double") / ($"tp" + $"fn")))
          .as("recall"),
        when(lit(2) * $"tp" + $"fp" + $"fn" === 0, lit(null).cast("double"))
          .otherwise(rnd6((lit(2) * $"tp").cast("double") /
            (lit(2) * $"tp" + $"fp" + $"fn"))).as("f1"))
      .orderBy($"lang")
  }

  val mlConfusionSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH knn AS (${mlKnnClassifySql}),
       |cm AS (
       |  SELECT d.lang AS true_lang, k.pred_lang, COUNT(*) AS n
       |  FROM knn k JOIN documents d ON k.doc_id = d.doc_id
       |  GROUP BY 1, 2),
       |per_true AS (
       |  SELECT true_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_true
       |  FROM cm GROUP BY 1),
       |per_pred AS (
       |  SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
       |  FROM cm GROUP BY 1),
       |tp AS (
       |  SELECT true_lang AS lang, n AS tp FROM cm
       |  WHERE true_lang = pred_lang),
       |folded AS (
       |  SELECT COALESCE(t.lang, p.lang) AS lang,
       |    COALESCE(tp.tp, 0) AS tp,
       |    COALESCE(p.n_pred, 0) - COALESCE(tp.tp, 0) AS fp,
       |    COALESCE(t.n_true, 0) - COALESCE(tp.tp, 0) AS fn
       |  FROM per_true t
       |  FULL OUTER JOIN per_pred p ON t.lang = p.lang
       |  LEFT JOIN tp ON COALESCE(t.lang, p.lang) = tp.lang)
       |SELECT lang, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE ${sqlRnd6("CAST(tp AS DOUBLE) / (tp + fp)")} END AS prec,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE ${sqlRnd6("CAST(tp AS DOUBLE) / (tp + fn)")} END AS recall,
       |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
       |    ELSE ${sqlRnd6("CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)")} END AS f1
       |FROM folded ORDER BY lang""".stripMargin
  }

  /** Multinomial Naive Bayes language classifier — generative text
    * classification as pure aggregation. Train on docs with
    * `doc_id % 5 != 0` (a deterministic, engine-identical split),
    * score the held-out fifth. The fit is ONE shuffle reducing the
    * corpus to per-(lang, token) counts; the model — Laplace-smoothed
    * per-token log-likelihoods `ln((cnt+1)/(tot+V))` plus per-lang
    * priors and unseen-token defaults — is vocabulary × labels rows,
    * BROADCAST to score. Scoring is a map-side join of test tokens to
    * the model + one (doc, candidate) aggregation; argmax runs in a
    * per-doc window over exactly |labels| rows. At 100 TB the model
    * stays broadcast-sized as long as the vocabulary is capped (the
    * [[graft.operators.DedupOps]] stop-shingle pattern); nothing else
    * grows. Determinism: every ln() term is rnd6'd BEFORE summation
    * (the [[TextOps.textTfidf]] discipline) and the per-doc sum runs
    * through the decimal-exact [[Exact.xsum]], so term order cannot
    * perturb the score; the argmax ranks rounded scores with a label
    * tiebreak. */
  def mlNaiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val toks = TextOps.tokens(spark, sfDir)
    val train = toks.filter($"doc_id" % 5 =!= 0)
    val test = toks.filter($"doc_id" % 5 === 0)
    val vocab = train.agg(countDistinct($"tok").as("v"))
    val classTot = train.groupBy($"lang").agg(count(lit(1)).as("tot"))
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" % 5 =!= 0)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val prior = docs.groupBy($"lang").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nDocs))
      .select($"lang".as("cand"),
        rnd6(log($"nd".cast("double") / $"n_docs")).as("log_prior"))
    val model = train.groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .join(broadcast(classTot), "lang").crossJoin(broadcast(vocab))
      .select($"lang".as("cand"), $"tok",
        rnd6(log(($"cnt" + 1.0) / ($"tot" + $"v"))).as("logp"))
    val dflt = classTot.crossJoin(broadcast(vocab))
      .select($"lang".as("cand"),
        rnd6(log(lit(1.0) / ($"tot" + $"v"))).as("logp0"))
    val scores = test
      .select($"doc_id", $"lang".as("true_lang"), $"tok")
      .crossJoin(broadcast(dflt))
      .join(broadcast(model), Seq("cand", "tok"), "left")
      .select($"doc_id", $"true_lang", $"cand",
        coalesce($"logp", $"logp0").as("term"))
      .groupBy($"doc_id", $"true_lang", $"cand")
      .agg(Exact.xsum($"term").as("sum_ll"))
      .join(broadcast(prior), "cand")
      .select($"doc_id", $"true_lang", $"cand",
        rnd6($"sum_ll" + $"log_prior").as("score"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"cand".asc)
    scores.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"doc_id", $"true_lang", $"cand".as("pred_lang"), $"score",
        ($"cand" === $"true_lang").as("correct"))
      .orderBy($"doc_id")
  }

  val mlNaiveBayesSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents),
       |train AS (SELECT * FROM toks WHERE doc_id % 5 != 0),
       |test AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM train),
       |class_tot AS (SELECT lang, COUNT(*) AS tot FROM train GROUP BY 1),
       |docs AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
       |n_docs AS (SELECT COUNT(*) AS n_docs FROM docs),
       |prior AS (
       |  SELECT lang AS cand,
       |    ${sqlRnd6("ln(CAST(nd AS DOUBLE) / n_docs)")} AS log_prior
       |  FROM (SELECT lang, COUNT(*) AS nd FROM docs GROUP BY 1), n_docs),
       |model AS (
       |  SELECT c.lang AS cand, c.tok,
       |    ${sqlRnd6("ln((c.cnt + 1.0) / (t.tot + v.v))")} AS logp
       |  FROM (SELECT lang, tok, COUNT(*) AS cnt FROM train GROUP BY 1, 2) c
       |  JOIN class_tot t ON c.lang = t.lang, vocab v),
       |dflt AS (
       |  SELECT lang AS cand, ${sqlRnd6("ln(1.0 / (tot + v))")} AS logp0
       |  FROM class_tot, vocab),
       |scores AS (
       |  SELECT s.doc_id, s.true_lang, s.cand,
       |    ${sqlRnd6("sum_ll + p.log_prior")} AS score
       |  FROM (
       |    SELECT t.doc_id, t.lang AS true_lang, d.cand,
       |      ${Exact.sqlXsum("COALESCE(m.logp, d.logp0)")} AS sum_ll
       |    FROM test t
       |    CROSS JOIN dflt d
       |    LEFT JOIN model m ON m.cand = d.cand AND m.tok = t.tok
       |    GROUP BY 1, 2, 3) s
       |  JOIN prior p ON s.cand = p.cand),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cand ASC) AS rk
       |  FROM scores)
       |SELECT doc_id, true_lang, cand AS pred_lang, score,
       |  cand = true_lang AS correct
       |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** ROC curve + AUC for "quantity predicts returns" — the ranking
    * metric every model-eval pipeline needs, computed WITHOUT the
    * textbook global-rank window (which would be a single-partition
    * sort over every scored row — the `q_text_zipf` scale-killer).
    * Instead the corpus collapses in one shuffle to per-score-bin
    * (n_pos, n_neg) rows — bounded by the score domain (50 quantity
    * values here; for continuous scores, bin first) — and AUC comes
    * from the Mann-Whitney pair count over that tiny table via a
    * broadcast triangular join: AUC = (Σ_{a>b} pos_a·neg_b +
    * ½·Σ_s pos_s·neg_s) / (N⁺·N⁻). ROC points are the cumulative
    * (tp, fp) at each threshold from the same broadcast table. All
    * arithmetic is exact bigint until two final divisions → rnd6; no
    * libm anywhere, so the oracle match is engine-exact. */
  def mlAuc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val byScore = Tables.lineitem(spark, sfDir)
      .groupBy($"l_quantity".cast("int").as("s"))
      .agg(count(when($"l_returnflag" === "R", 1)).as("n_pos"),
        count(when($"l_returnflag" =!= "R", 1)).as("n_neg"))
    val rhs = byScore.select($"s".as("s2"), $"n_pos".as("pos2"),
      $"n_neg".as("neg2"))
    val roc = byScore.select($"s".as("thr"))
      .join(broadcast(rhs), $"s2" >= $"thr")
      .groupBy($"thr")
      .agg(sum($"pos2").as("tp"), sum($"neg2").as("fp"))
    val hits = byScore.join(broadcast(rhs), $"s2" < $"s")
      .agg(coalesce(sum($"n_pos" * $"neg2"), lit(0L)).as("hits"))
    val tot = byScore.agg(sum($"n_pos" * $"n_neg").as("ties"),
      sum($"n_pos").as("npos"), sum($"n_neg").as("nneg"))
    roc.crossJoin(broadcast(hits)).crossJoin(broadcast(tot))
      .select($"thr", $"tp", $"fp",
        rnd6($"tp".cast("double") / $"npos").as("tpr"),
        rnd6($"fp".cast("double") / $"nneg").as("fpr"),
        rnd6(($"hits" + lit(0.5) * $"ties") /
          ($"npos".cast("double") * $"nneg")).as("auc"))
      .orderBy($"thr")
  }

  val mlAucSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH by_score AS (
       |  SELECT CAST(l_quantity AS INTEGER) AS s,
       |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_pos,
       |    COUNT(CASE WHEN l_returnflag != 'R' THEN 1 END) AS n_neg
       |  FROM lineitem GROUP BY 1),
       |roc AS (
       |  SELECT t.s AS thr, CAST(SUM(b.n_pos) AS BIGINT) AS tp,
       |    CAST(SUM(b.n_neg) AS BIGINT) AS fp
       |  FROM (SELECT s FROM by_score) t
       |  JOIN by_score b ON b.s >= t.s GROUP BY 1),
       |hits AS (
       |  SELECT CAST(COALESCE(SUM(a.n_pos * b.n_neg), 0) AS BIGINT) AS hits
       |  FROM by_score a JOIN by_score b ON b.s < a.s),
       |tot AS (
       |  SELECT CAST(SUM(n_pos * n_neg) AS BIGINT) AS ties,
       |    CAST(SUM(n_pos) AS BIGINT) AS npos,
       |    CAST(SUM(n_neg) AS BIGINT) AS nneg
       |  FROM by_score)
       |SELECT thr, tp, fp,
       |  ${sqlRnd6("CAST(tp AS DOUBLE) / npos")} AS tpr,
       |  ${sqlRnd6("CAST(fp AS DOUBLE) / nneg")} AS fpr,
       |  ${sqlRnd6("(hits + 0.5 * ties) / (CAST(npos AS DOUBLE) * nneg)")} AS auc
       |FROM roc, hits, tot ORDER BY thr""".stripMargin
  }

  /** Precision-recall curve + average precision over the same
    * score-bin table as [[mlAuc]] — the ranking metric that matters
    * when positives are rare (ROC's FPR is diluted by a huge negative
    * class; precision is not). Same scale shape: ONE shuffle to
    * per-score-bin counts, cumulative (tp, fp) per threshold via the
    * broadcast triangular join, never a global-rank window. AP is the
    * step-wise sum Σ_s n_pos(s)·precision(thr=s)/N⁺ — the recall
    * increment at threshold s is exactly n_pos(s)/N⁺, so AP needs no
    * adjacent-row navigation: each term is a ratio of exact BIGINTs,
    * rnd6'd, then exact-summed (fold-order-free). */
  def mlPrCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val byScore = Tables.lineitem(spark, sfDir)
      .groupBy($"l_quantity".cast("int").as("s"))
      .agg(count(when($"l_returnflag" === "R", 1)).as("n_pos"),
        count(when($"l_returnflag" =!= "R", 1)).as("n_neg"))
    val rhs = byScore.select($"s".as("s2"), $"n_pos".as("pos2"),
      $"n_neg".as("neg2"))
    val cum = byScore.select($"s".as("thr"), $"n_pos")
      .join(broadcast(rhs), $"s2" >= $"thr")
      .groupBy($"thr", $"n_pos")
      .agg(sum($"pos2").as("tp"), sum($"neg2").as("fp"))
    val npos = byScore.agg(sum($"n_pos").as("npos"))
    val terms = cum.crossJoin(broadcast(npos))
      .withColumn("precision",
        rnd6($"tp".cast("double") / ($"tp" + $"fp").cast("double")))
      .withColumn("recall", rnd6($"tp".cast("double") / $"npos"))
      .withColumn("ap_term",
        rnd6($"n_pos".cast("double") * $"precision" / $"npos"))
    val ap = terms.agg(rnd6(xsum($"ap_term")).as("ap"))
    terms.crossJoin(broadcast(ap))
      .select($"thr", $"tp", $"fp", $"precision", $"recall", $"ap")
      .orderBy($"thr")
  }

  val mlPrCurveSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH by_score AS (
       |  SELECT CAST(l_quantity AS INTEGER) AS s,
       |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_pos,
       |    COUNT(CASE WHEN l_returnflag != 'R' THEN 1 END) AS n_neg
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT t.s AS thr, t.n_pos,
       |    CAST(SUM(b.n_pos) AS BIGINT) AS tp,
       |    CAST(SUM(b.n_neg) AS BIGINT) AS fp
       |  FROM by_score t JOIN by_score b ON b.s >= t.s
       |  GROUP BY 1, 2),
       |np AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS npos FROM by_score),
       |terms AS (
       |  SELECT thr, n_pos, tp, fp,
       |    ${sqlRnd6("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)")}
       |      AS precision,
       |    ${sqlRnd6("CAST(tp AS DOUBLE) / npos")} AS recall
       |  FROM cum, np),
       |ap_terms AS (
       |  SELECT thr, tp, fp, precision, recall,
       |    ${sqlRnd6("CAST(n_pos AS DOUBLE) * precision / npos")} AS ap_term
       |  FROM terms, np),
       |ap1 AS (SELECT ${sqlRnd6(Exact.sqlXsum("ap_term"))} AS ap
       |  FROM ap_terms)
       |SELECT thr, tp, fp, precision, recall, ap
       |FROM ap_terms, ap1 ORDER BY thr""".stripMargin
  }

  /** Feature scaling — the standard preprocessing trio (z-score,
    * min-max, winsorize-at-[p05, p95]) for account balance, grouped by
    * market segment. One shuffle reduces the corpus to per-segment
    * stats (decimal-exact moment sums, min/max, rnd6'd exact
    * percentiles); the stats table is O(groups) rows and BROADCAST
    * back onto the feature rows, so scaling itself is map-side — the
    * layout that survives any corpus scale (the alternative, a
    * per-group window, would re-sort the corpus). Percentile
    * interpolation differs by an ulp between engines (Spark
    * `(1-g)a+gb` vs DuckDB `a+(b-a)g`), so both bounds are rnd6'd
    * BEFORE the clip and the clipped value rnd6'd again — the
    * double-rounding discipline from [[TextOps.textTfidf]]. */
  def mlStandardize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val cust = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
    val stats = cust.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        xsum($"c_acctbal").as("sx"),
        xsum($"c_acctbal" * $"c_acctbal").as("sxx"),
        min($"c_acctbal").as("mn"), max($"c_acctbal").as("mx"),
        rnd6(expr("percentile(c_acctbal, 0.05)")).as("p05"),
        rnd6(expr("percentile(c_acctbal, 0.95)")).as("p95"))
      .select($"c_mktsegment",
        rnd6($"sx" / $"n").as("mean"),
        rnd6(sqrt(($"sxx" - $"sx" * $"sx" / $"n") / $"n")).as("std"),
        $"mn", $"mx", $"p05", $"p95")
    cust.join(broadcast(stats), "c_mktsegment")
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal",
        rnd6(($"c_acctbal" - $"mean") / $"std").as("z"),
        rnd6(($"c_acctbal" - $"mn") / ($"mx" - $"mn")).as("mm"),
        rnd6(when($"c_acctbal" < $"p05", $"p05")
          .when($"c_acctbal" > $"p95", $"p95")
          .otherwise($"c_acctbal")).as("wins"))
      .orderBy($"c_custkey")
  }

  val mlStandardizeSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH stats AS (
       |  SELECT c_mktsegment,
       |    ${sqlRnd6(s"${Exact.sqlXsum("c_acctbal")} / COUNT(*)")} AS mean,
       |    ${sqlRnd6(s"sqrt((${Exact.sqlXsum("c_acctbal * c_acctbal")}" +
      s" - ${Exact.sqlXsum("c_acctbal")} * ${Exact.sqlXsum("c_acctbal")}" +
      " / COUNT(*)) / COUNT(*))")} AS std,
       |    MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx,
       |    ${sqlRnd6("quantile_cont(c_acctbal, 0.05)")} AS p05,
       |    ${sqlRnd6("quantile_cont(c_acctbal, 0.95)")} AS p95
       |  FROM customer GROUP BY 1)
       |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
       |  ${sqlRnd6("(c.c_acctbal - s.mean) / s.std")} AS z,
       |  ${sqlRnd6("(c.c_acctbal - s.mn) / (s.mx - s.mn)")} AS mm,
       |  ${sqlRnd6("CASE WHEN c.c_acctbal < s.p05 THEN s.p05 " +
      "WHEN c.c_acctbal > s.p95 THEN s.p95 ELSE c.c_acctbal END")} AS wins
       |FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
       |ORDER BY c.c_custkey""".stripMargin
  }

  /** Power-iteration constants for [[mlPcaPower]]: leading block size
    * (matches [[mlCovmatrix]]), iteration count, and the two
    * fixed-point unit scales — covariance cells in 1e-6 units (exact
    * image of their rnd6'd doubles), vector components in 1e-9 units.
    * Overflow audit: |cell| ≤ 1e6 units, |component| ≤ 1e9 units →
    * per-term product ≤ 1e15; the re-scale `w·1e9` ≤ ~8e17 and the
    * Rayleigh sums ≤ 8e18 — all inside Long. */
  private val PCA_DIM = 8
  private val PCA_ITERS = 8
  private val PCA_CU = 1000000L
  private val PCA_VU = 1000000000L

  /** Truncating (toward-zero) integer division as a SQL fragment —
    * written sign-explicitly because Spark's `div` truncates while
    * DuckDB's `//` floors; routing both through abs makes them
    * byte-identical on negatives. */
  private def truncDiv(x: String, d: String, op: String) =
    s"CASE WHEN $x < 0 THEN -((-($x)) $op ($d)) ELSE ($x) $op ($d) END"

  /** Dominant eigenvector of the embedding covariance block by POWER
    * ITERATION, entirely inside the engine — the eigen step
    * [[mlCovmatrix]]'s doc calls driver-side, done distributed and
    * oracle-checked instead. The d×d covariance lives as (i, j, cell)
    * triples; each iteration is one relational matvec (join on j +
    * sum by i) followed by max-norm rescaling, repeated
    * [[PCA_ITERS]] times with per-generation eager localCheckpoints
    * (no data-dependent driver logic, no collect — the driver only
    * stamps out a fixed number of tiny distributed jobs). Output:
    * the unit-scaled loading per dimension plus the
    * Rayleigh-quotient eigenvalue estimate.
    *
    * Determinism contract (same discipline as PageRank): all
    * iteration state is BIGINT fixed-point — cells are the exact 1e-6
    * integer image of their rnd6'd doubles, components live in 1e-9
    * units, every division is the sign-explicit truncating form — so
    * each of the 8 iterations is bit-identical in both engines and
    * sign flips/last-ulp drift cannot compound. The ONLY floats are
    * the two final casts, rnd6'd.
    *
    * Scale shape: the corpus appears ONLY in the moment reduction
    * (one map-side-combined shuffle to d(d+1)/2 rows, the
    * [[mlCovmatrix]] pattern); every iteration runs on d² triples —
    * constant-sized whatever the corpus, so at 100 TB this costs one
    * pass over the data plus noise. */
  def mlPcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val (cov, v) = pcaVector(spark, sfDir)
    val wF = pcaMatvec(cov, v)
    val ray = v.join(wF, "i")
      .agg(sum($"x" * $"w").as("num"), sum($"x" * $"x").as("den"))
    v.crossJoin(broadcast(ray))
      .select($"i",
        rnd6($"x".cast("double") / PCA_VU.toDouble).as("loading"),
        rnd6($"num".cast("double") / $"den".cast("double"))
          .as("eigenvalue"))
      .orderBy($"i")
  }

  /** One fixed-point matvec `w = C·v` (join on j + sum by i), the
    * iteration step shared by [[mlPcaPower]] and [[mlPcaScores]]. */
  private def pcaMatvec(cov: DataFrame, v: DataFrame): DataFrame = {
    import cov.sparkSession.implicits._
    cov.join(v.select($"i".as("j"), $"x".as("vx")), "j")
      .select($"i",
        expr(truncDiv("c * vx", PCA_CU.toString, "div")).as("t"))
      .groupBy($"i").agg(sum($"t").as("w"))
  }

  /** The (covariance triples, converged fixed-point vector) pair after
    * [[PCA_ITERS]] power iterations — see [[mlPcaPower]] for the full
    * determinism/scale contract. */
  private def pcaVector(spark: SparkSession,
                        sfDir: String): (DataFrame, DataFrame) =
    // Iterative-family tuning (round 13): the 8 matvec generations run
    // on d-row state — AQE's per-stage re-planning and 32-partition
    // exchanges are pure latency there (same rationale as the graph
    // loops). The localCheckpoints execute eagerly on the tuned
    // clone; both frames are bound back to the caller.
    pcaVectorInner(QuerySession.session(spark, QuerySession.SmallIterative),
        sfDir) match { case (c, v) =>
      (QuerySession.bind(c, spark), QuerySession.bind(v, spark)) }

  private def pcaVectorInner(spark: SparkSession,
                             sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    // repartition before the d²-fold explode: the embeddings fixture
    // is one parquet split, so the whole explode + moment aggregation
    // ran as ONE task (profiled 0.5-0.65 s single-threaded at sf0.1;
    // guide §2.5 input skew — repartition right after the read). The
    // shuffle moves only the slim raw rows, NOT the exploded pairs.
    val pairs = Tables.embeddings(spark, sfDir)
      .repartition(col("vec_id"))
      .select(explode(expr(
        s"""flatten(transform(slice(embedding, 1, $PCA_DIM), (x, i) ->
           |  filter(transform(slice(embedding, 1, $PCA_DIM), (y, j) ->
           |    struct(i + 1 AS i, j + 1 AS j,
           |      CAST(x AS DOUBLE) AS xi, CAST(y AS DOUBLE) AS xj)),
           |    c -> c.j >= c.i)))""".stripMargin)).as("c"))
      .select($"c.i".as("i"), $"c.j".as("j"), $"c.xi".as("xi"),
        $"c.xj".as("xj"))
    val moments = pairs.groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"),
        xsum($"xi").as("sx"), xsum($"xj").as("sy"),
        xsum($"xi" * $"xj").as("sxy"))
    val nd = $"n".cast("double")
    val triCov = moments
      .select($"i", $"j",
        rnd6((nd * $"sxy" - $"sx" * $"sy") / (nd * nd)).as("cov"))
      .select($"i", $"j",
        expr(s"CAST(round(cov * $PCA_CU) AS BIGINT)").as("c"))
      // pin the d(d+1)/2-row triangle BEFORE mirroring: the union's
      // two branches are different projections of this subtree, so
      // un-pinned, each branch re-ran the whole corpus moment pass
      // (profiled as two 2000-row scan+explode stages per execution)
      .localCheckpoint(true)
    // Eagerly truncate lineage each generation (the PageRank
    // discipline): v_k feeds BOTH the next matvec and its own
    // max-norm scalar, so an un-checkpointed unroll embeds the
    // previous generation twice — 2^ITERS plan copies, each
    // re-reducing the corpus. Checkpointed, the corpus is reduced
    // exactly once and every iteration runs on d-row state.
    val cov = triCov.union(
      triCov.filter($"i" =!= $"j")
        .select($"j".as("i"), $"i".as("j"), $"c"))
      .localCheckpoint(true)
    var v: DataFrame = spark.range(1, PCA_DIM + 1)
      .select($"id".cast("int").as("i"), lit(PCA_VU).as("x"))
    for (_ <- 1 to PCA_ITERS) {
      val w = pcaMatvec(cov, v)
      val m = w.agg(max(abs($"w")).as("m"))
      v = w.crossJoin(broadcast(m))
        .select($"i",
          expr(truncDiv(s"w * $PCA_VU", "m", "div")).as("x"))
        .localCheckpoint(true)
    }
    (cov, v)
  }

  /** PC1 scores: every embedding projected onto the dominant
    * eigenvector from [[pcaVector]] — the dimensionality-reduction
    * step itself (what a 100 TB pipeline materializes as a feature
    * column). The d fixed-point loadings are collected into ONE
    * broadcast array (sorted by dimension — `collect_list` order is
    * partition-nondeterministic, `array_sort` on (i, x) structs is
    * not), so the projection is a MAP-SIDE zip: no shuffle touches
    * the corpus, and per-row work is a d-term fold. Each term is cast
    * to DECIMAL(38,6) before summing (order-independent, the
    * [[Exact.xsum]] discipline applied inside a HOF), so DuckDB's
    * unordered SUM over the unnested terms lands on identical bytes. */
  def mlPcaScores(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val (_, v) = pcaVector(spark, sfDir)
    val loads = v
      .agg(expr("transform(array_sort(collect_list(struct(i, x))), c -> c.x)")
        .as("lx"))
    Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(loads))
      .select($"vec_id",
        rnd6(expr(
          s"""CAST(aggregate(
             |  zip_with(slice(embedding, 1, $PCA_DIM), lx,
             |    (a, b) -> CAST(CAST(a AS DOUBLE) * b AS DECIMAL(38,6))),
             |  CAST(0 AS DECIMAL(38,6)),
             |  (acc, t) -> CAST(acc + t AS DECIMAL(38,6))) AS DOUBLE)
             |  / CAST($PCA_VU AS DOUBLE)""".stripMargin)).as("pc1_score"))
      .orderBy($"vec_id")
  }

  /** Shared oracle CTE chain: moments → fixed-point covariance →
    * power iterations v1..v[[PCA_ITERS]] (the SQL twin of
    * [[pcaVector]]); suffix clauses differ per query. */
  private val pcaSqlCtes: String = {
    import graft.functions.Udfs.sqlRnd6
    val nd = "CAST(n AS DOUBLE)"
    val matvecT = truncDiv("cf.c * v.x", PCA_CU.toString, "//")
    // MATERIALIZED: DuckDB 1.0 inlines CTEs by default, and each vK
    // references wK twice (join + scalar MAX) — without the hint the
    // chain re-expands exponentially (~100 s at sf0.01 vs ~0.1 s).
    def iter(k: Int, prev: String) =
      s"""w$k AS MATERIALIZED (
         |  SELECT cf.i, SUM($matvecT) AS w
         |  FROM covf cf JOIN $prev v ON cf.j = v.i GROUP BY cf.i),
         |v$k AS MATERIALIZED (
         |  SELECT i, ${truncDiv(s"w * $PCA_VU", "m", "//")} AS x
         |  FROM w$k, (SELECT MAX(ABS(w)) AS m FROM w$k))"""
        .stripMargin
    val iters = (1 to PCA_ITERS)
      .map(k => iter(k, if (k == 1) "v0" else s"v${k - 1}"))
      .mkString(",\n")
    s"""pairs AS MATERIALIZED (
       |  SELECT e.vec_id, ri.i, rj.j,
       |    CAST(e.embedding[CAST(ri.i AS INTEGER)] AS DOUBLE) AS xi,
       |    CAST(e.embedding[CAST(rj.j AS INTEGER)] AS DOUBLE) AS xj
       |  FROM embeddings e, range(1, ${PCA_DIM + 1}) AS ri(i),
       |    range(1, ${PCA_DIM + 1}) AS rj(j)
       |  WHERE rj.j >= ri.i),
       |moments AS (
       |  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       |    COUNT(*) AS n,
       |    ${Exact.sqlXsum("xi")} AS sx, ${Exact.sqlXsum("xj")} AS sy,
       |    ${Exact.sqlXsum("xi * xj")} AS sxy
       |  FROM pairs GROUP BY 1, 2),
       |tri AS (
       |  SELECT i, j, CAST(round(
       |    ${sqlRnd6(s"($nd * sxy - sx * sy) / ($nd * $nd)")}
       |    * $PCA_CU) AS BIGINT) AS c
       |  FROM moments),
       |covf AS MATERIALIZED (
       |  SELECT i, j, c FROM tri
       |  UNION ALL SELECT j, i, c FROM tri WHERE i <> j),
       |v0 AS (
       |  SELECT CAST(i AS INTEGER) AS i, CAST($PCA_VU AS BIGINT) AS x
       |  FROM range(1, ${PCA_DIM + 1}) AS r(i)),
       |$iters""".stripMargin
  }

  val mlPcaPowerSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val last = s"v$PCA_ITERS"
    s"""WITH $pcaSqlCtes,
       |wf AS (
       |  SELECT cf.i, SUM(${truncDiv("cf.c * v.x", PCA_CU.toString, "//")})
       |    AS w
       |  FROM covf cf JOIN $last v ON cf.j = v.i GROUP BY cf.i),
       |ray AS (
       |  SELECT SUM(v.x * wf.w) AS num, SUM(v.x * v.x) AS den
       |  FROM $last v JOIN wf ON v.i = wf.i)
       |SELECT v.i,
       |  ${sqlRnd6(s"CAST(v.x AS DOUBLE) / $PCA_VU.0")} AS loading,
       |  ${sqlRnd6("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")}
       |    AS eigenvalue
       |FROM $last v, ray ORDER BY v.i""".stripMargin
  }

  /** IRLS constants: Newton iterations and the price→feature scale
    * (keeps |x| ≈ O(1) so exp never overflows and the Hessian is
    * well-conditioned). */
  private val LR_ITERS = 4
  private val LR_XS = 100000.0

  /** Logistic regression P(status = 'F' | totalprice) by NEWTON/IRLS,
    * fully distributed: each iteration broadcasts the 1-row (b0, b1)
    * state, scores every row map-side (clamped logit, sigmoid), and
    * reduces the gradient and 2×2 Hessian to ONE row of exact-decimal
    * sums; the Newton solve is closed-form on that row. Emits the
    * per-iteration coefficient trace (LR_ITERS rows).
    *
    * Determinism contract: the sigmoid is rnd6'd per row BEFORE the
    * moment sums (so libm exp differences die at the 6th decimal, the
    * same precedent as ln in [[TextOps]]), sums are decimal-exact and
    * order-independent ([[Exact.xsum]]), and the state is rnd6'd every
    * generation — iterations cannot compound drift. The clamp keeps
    * exp's argument in [−30, 30] in both engines.
    *
    * Scale shape: LR_ITERS passes over the facts, each a map-side
    * score + one partial-aggregated reduction to a single row; state
    * is eagerly checkpointed so generation k's plan does not re-embed
    * generation k−1 (the power-iteration discipline). At 100 TB this
    * is exactly LR_ITERS scans and nothing else. */
  def mlLogreg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    // materialize the training frame once: every Newton step scans it,
    // and without this each of the LR_ITERS sequential aggregations
    // re-ran the parquet scan + projection. Repartitioned BEFORE the
    // checkpoint (round 13): the orders fixture is one parquet split,
    // so the checkpointed frame had ONE partition and every Newton
    // pass ran as a single 0.5 s task — and the passes are strictly
    // sequential, so nothing hides that latency (guide §2.5; profiled
    // 4 × 0.52 s single-task stages at sf0.1). The one-time exchange
    // moves only the two projected doubles per row.
    val base = Tables.orders(spark, sfDir)
      .select(($"o_orderstatus" === "F").cast("double").as("y"),
        ($"o_totalprice" / lit(LR_XS)).as("x"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    var st = spark.range(1)
      .select(lit(0.0).as("b0"), lit(0.0).as("b1"))
    val trace = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to LR_ITERS) {
      val z = greatest(least($"b0" + $"b1" * $"x", lit(30.0)), lit(-30.0))
      val scored = base.crossJoin(broadcast(st))
        .select($"y", $"x", $"b0", $"b1",
          rnd6(lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val a = scored.agg(
        max($"b0").as("ob0"), max($"b1").as("ob1"),
        xsum($"y" - $"p").as("g0"),
        xsum($"x" * ($"y" - $"p")).as("g1"),
        xsum($"p" * (lit(1.0) - $"p")).as("h00"),
        xsum($"x" * $"p" * (lit(1.0) - $"p")).as("h01"),
        xsum($"x" * $"x" * $"p" * (lit(1.0) - $"p")).as("h11"))
      val det = $"h00" * $"h11" - $"h01" * $"h01"
      st = a.select(
        rnd6($"ob0" + ($"h11" * $"g0" - $"h01" * $"g1") / det).as("b0"),
        rnd6($"ob1" + ($"h00" * $"g1" - $"h01" * $"g0") / det).as("b1"))
        .localCheckpoint(true)
      trace += st.select(lit(it).as("iter"), $"b0", $"b1")
    }
    trace.reduce(_.unionAll(_)).orderBy($"iter")
  }

  val mlLogregSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val sigmoid = sqlRnd6("1.0 / (1.0 + exp(-(greatest(least(" +
      "b0 + b1 * x, CAST(30.0 AS DOUBLE)), CAST(-30.0 AS DOUBLE)))))")
    // MATERIALIZED for the same reason as pcaSqlCtes: the trace UNION
    // references every sK, so inlined CTEs re-expand the whole chain.
    def iter(k: Int, prev: String) =
      s"""p$k AS MATERIALIZED (
         |  SELECT y, x, b0, b1, $sigmoid AS p FROM base, $prev),
         |a$k AS MATERIALIZED (
         |  SELECT MAX(b0) AS ob0, MAX(b1) AS ob1,
         |    ${Exact.sqlXsum("y - p")} AS g0,
         |    ${Exact.sqlXsum("x * (y - p)")} AS g1,
         |    ${Exact.sqlXsum("p * (1.0 - p)")} AS h00,
         |    ${Exact.sqlXsum("x * p * (1.0 - p)")} AS h01,
         |    ${Exact.sqlXsum("x * x * p * (1.0 - p)")} AS h11
         |  FROM p$k),
         |s$k AS MATERIALIZED (
         |  SELECT ${sqlRnd6("ob0 + (h11 * g0 - h01 * g1)" +
        " / (h00 * h11 - h01 * h01)")} AS b0,
         |    ${sqlRnd6("ob1 + (h00 * g1 - h01 * g0)" +
        " / (h00 * h11 - h01 * h01)")} AS b1
         |  FROM a$k)""".stripMargin
    val iters = (1 to LR_ITERS)
      .map(k => iter(k, if (k == 1) "s0" else s"s${k - 1}"))
      .mkString(",\n")
    val union = (1 to LR_ITERS)
      .map(k => s"SELECT $k AS iter, b0, b1 FROM s$k")
      .mkString("\nUNION ALL\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT CASE WHEN o_orderstatus = 'F' THEN CAST(1.0 AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END AS y,
       |    o_totalprice / CAST($LR_XS AS DOUBLE) AS x
       |  FROM orders),
       |s0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
       |$iters
       |$union
       |ORDER BY iter""".stripMargin
  }

  val mlPcaScoresSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val last = s"v$PCA_ITERS"
    val term = "CAST(e.embedding[CAST(r.i AS INTEGER)] AS DOUBLE) * v.x"
    val score = s"CAST(SUM(CAST($term AS DECIMAL(38,6))) AS DOUBLE)" +
      s" / CAST($PCA_VU AS DOUBLE)"
    s"""WITH $pcaSqlCtes
       |SELECT e.vec_id,
       |  ${sqlRnd6(score)} AS pc1_score
       |FROM embeddings e
       |CROSS JOIN range(1, ${PCA_DIM + 1}) AS r(i)
       |JOIN $last v ON v.i = CAST(r.i AS INTEGER)
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
  }

  /** Cross-validation constants: fold count and the ridge λ grid.
    * λ is on the scale of Var(x) (quantity variance ≈ 208 for the
    * fixture's 1..50 uniform), so the grid spans "no shrinkage" to
    * "slope crushed toward 0" at ANY scale factor — the mean-scaled
    * loss (see [[mlRidgeCv]]) makes λ's effect independent of n. */
  private val CV_FOLDS = 5
  private val RIDGE_GRID: Seq[Double] = Seq(0.0, 50.0, 200.0, 1000.0)

  /** Decimal-preserving sum: like [[Exact.xsum]] but WITHOUT the final
    * cast back to double, so downstream decimal arithmetic (the
    * leave-one-fold-out subtraction) stays exact. */
  private def dsum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 6)))

  /** Ridge regression with a λ-grid × k-fold cross-validation sweep in
    * ONE plan — hyperparameter tuning as a query. y = extended price,
    * x = quantity; folds are the deterministic `l_orderkey % K`; the
    * loss is mean-scaled (Σ(y−ax−b)²/n + λa², intercept unpenalized),
    * giving the closed form a = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²+λn²).
    *
    * The entire sweep reduces the corpus to K moment rows in a single
    * partial-aggregated shuffle: train-fold moments are total − fold
    * (exact DECIMAL subtraction — [[dsum]] keeps the fold moments
    * decimal so leave-one-out is byte-exact), the held-out RMSE is
    * assembled from the SAME row's test moments via
    * SSE = Σy² − 2aΣxy − 2bΣy + a²Σx² + 2abΣx + nb², and the λ×K
    * model grid is a broadcast fan-out over those K rows. At 100 TB
    * this is still one scan + one exchange — model selection costs no
    * more than one fit ([[mlLinreg]] discipline, CV for free).
    *
    * Determinism: a and b are rnd6'd before entering the SSE tree, the
    * per-fold RMSE is rnd6'd before the cross-fold mean (6-dp doubles
    * sum exactly under [[Exact.xsum]]), and the winner is the
    * lexicographic (mean_rmse, λ) minimum — no float-boundary argmin. */
  def mlRidgeCv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val m = Tables.lineitem(spark, sfDir)
      .groupBy(($"l_orderkey" % CV_FOLDS).cast("int").as("fold"))
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("sx"),
        dsum($"l_extendedprice").as("sy"),
        dsum($"l_quantity" * $"l_extendedprice").as("sxy"),
        dsum($"l_quantity" * $"l_quantity").as("sxx"),
        dsum($"l_extendedprice" * $"l_extendedprice").as("syy"))
    val tot = m.agg(sum($"n").as("tn"), sum($"sx").as("tsx"),
      sum($"sy").as("tsy"), sum($"sxy").as("tsxy"),
      sum($"sxx").as("tsxx"), sum($"syy").as("tsyy"))
    val grid = m.crossJoin(broadcast(tot))
      .select($"fold", $"n", $"sx", $"sy", $"sxy", $"sxx", $"syy",
        ($"tn" - $"n").cast("double").as("nt"),
        ($"tsx" - $"sx").cast("double").as("sxt"),
        ($"tsy" - $"sy").cast("double").as("syt"),
        ($"tsxy" - $"sxy").cast("double").as("sxyt"),
        ($"tsxx" - $"sxx").cast("double").as("sxxt"))
      .select(col("*"),
        explode(array(RIDGE_GRID.map(lit(_)): _*)).as("lambda"))
    val aCol = rnd6(($"nt" * $"sxyt" - $"sxt" * $"syt") /
      ($"nt" * $"sxxt" - $"sxt" * $"sxt" + $"lambda" * $"nt" * $"nt"))
    val withA = grid.withColumn("a", aCol)
      .withColumn("b", rnd6(($"syt" - $"a" * $"sxt") / $"nt"))
    val nd = $"n".cast("double")
    val sse = $"syy".cast("double") - lit(2.0) * $"a" * $"sxy".cast("double") -
      lit(2.0) * $"b" * $"sy".cast("double") +
      $"a" * $"a" * $"sxx".cast("double") +
      lit(2.0) * $"a" * $"b" * $"sx".cast("double") + nd * $"b" * $"b"
    val perFold = withA.withColumn("rmse", rnd6(sqrt(sse / nd)))
    val perLambda = perFold.groupBy($"lambda")
      .agg(rnd6(xsum($"rmse") / CV_FOLDS).as("mean_rmse"))
    val best = perLambda
      .agg(min(struct($"mean_rmse", $"lambda")).as("bst"))
      .select($"bst.lambda".as("bl"))
    perLambda.crossJoin(broadcast(best))
      .select($"lambda", $"mean_rmse",
        ($"lambda" === $"bl").cast("int").as("is_best"))
      .orderBy($"lambda")
  }

  val mlRidgeCvSql: String = {
    import graft.functions.Udfs.sqlRnd6
    def dsumSql(e: String) = s"SUM(CAST(($e) AS DECIMAL(38,6)))"
    val a = sqlRnd6("(nt * sxyt - sxt * syt)" +
      " / (nt * sxxt - sxt * sxt + lambda * nt * nt)")
    val sse = "CAST(syy AS DOUBLE) - 2.0 * a * CAST(sxy AS DOUBLE)" +
      " - 2.0 * b * CAST(sy AS DOUBLE) + a * a * CAST(sxx AS DOUBLE)" +
      " + 2.0 * a * b * CAST(sx AS DOUBLE)" +
      " + CAST(n AS DOUBLE) * b * b"
    s"""WITH m AS (
       |  SELECT CAST(l_orderkey % $CV_FOLDS AS INTEGER) AS fold,
       |    COUNT(*) AS n,
       |    ${dsumSql("l_quantity")} AS sx,
       |    ${dsumSql("l_extendedprice")} AS sy,
       |    ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
       |    ${dsumSql("l_quantity * l_quantity")} AS sxx,
       |    ${dsumSql("l_extendedprice * l_extendedprice")} AS syy
       |  FROM lineitem GROUP BY 1),
       |tot AS (
       |  SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
       |    SUM(sxy) AS tsxy, SUM(sxx) AS tsxx, SUM(syy) AS tsyy
       |  FROM m),
       |g AS (
       |  SELECT m.fold, m.n, m.sx, m.sy, m.sxy, m.sxx, m.syy,
       |    CAST(tn - n AS DOUBLE) AS nt,
       |    CAST(tsx - sx AS DOUBLE) AS sxt,
       |    CAST(tsy - sy AS DOUBLE) AS syt,
       |    CAST(tsxy - sxy AS DOUBLE) AS sxyt,
       |    CAST(tsxx - sxx AS DOUBLE) AS sxxt,
       |    l.lambda
       |  FROM m, tot,
       |    (VALUES ${RIDGE_GRID.map(v => s"(CAST($v AS DOUBLE))")
        .mkString(", ")}) AS l(lambda)),
       |ab0 AS (SELECT *, $a AS a FROM g),
       |ab AS (SELECT *, ${sqlRnd6("(syt - a * sxt) / nt")} AS b FROM ab0),
       |perfold AS (
       |  SELECT lambda, fold,
       |    ${sqlRnd6(s"sqrt(($sse) / CAST(n AS DOUBLE))")} AS rmse
       |  FROM ab),
       |perlambda AS (
       |  SELECT lambda,
       |    ${sqlRnd6(s"${Exact.sqlXsum("rmse")} / $CV_FOLDS")} AS mean_rmse
       |  FROM perfold GROUP BY 1),
       |best AS (
       |  SELECT lambda AS bl FROM perlambda
       |  ORDER BY mean_rmse, lambda LIMIT 1)
       |SELECT lambda, mean_rmse,
       |  CAST(lambda = bl AS INTEGER) AS is_best
       |FROM perlambda, best ORDER BY lambda""".stripMargin
  }

  /** Frozen serving-side model for [[mlCalibration]]: a deployed
    * logistic model is a CONSTANT at scoring time, so calibration
    * measurement hard-codes its coefficients (the IRLS fit that would
    * produce them lives in [[mlLogreg]]). */
  private val CAL_B0 = -2.0
  private val CAL_B1 = 1.5

  /** Calibration / reliability diagram for a frozen classifier on
    * fresh data — the monitoring query behind "is the model's 0.7
    * really a 70 %?": score every order map-side with the frozen
    * sigmoid (same clamp + rnd6 discipline as [[mlLogreg]]), bucket
    * into probability deciles, and emit per-bin count, mean predicted
    * probability, observed positive rate, and Brier contribution.
    * ONE partial-aggregated shuffle of ≤ 11 bins; nothing about the
    * shape changes at 100 TB.
    *
    * Determinism: p is rnd6'd per row (libm exp dies at the 6th
    * decimal), the decile id is floor(p·10) on identical IEEE doubles,
    * and every per-bin statistic is an exact decimal sum divided by
    * the bin count ([[Exact.xsum]]). */
  def mlCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val z = greatest(least(lit(CAL_B0) +
      lit(CAL_B1) * ($"o_totalprice" / lit(LR_XS)), lit(30.0)), lit(-30.0))
    Tables.orders(spark, sfDir)
      .select(($"o_orderstatus" === "F").cast("double").as("y"),
        rnd6(lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      .withColumn("bin", floor($"p" * 10).cast("int"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        rnd6(xsum($"p") / count(lit(1))).as("avg_p"),
        rnd6(xsum($"y") / count(lit(1))).as("obs_rate"),
        rnd6(xsum(($"p" - $"y") * ($"p" - $"y")) / count(lit(1)))
          .as("brier"))
      .orderBy($"bin")
  }

  val mlCalibrationSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val p = sqlRnd6("1.0 / (1.0 + exp(-(greatest(least(" +
      s"$CAL_B0 + $CAL_B1 * (o_totalprice / CAST($LR_XS AS DOUBLE)), " +
      "CAST(30.0 AS DOUBLE)), CAST(-30.0 AS DOUBLE)))))")
    s"""WITH scored AS (
       |  SELECT CASE WHEN o_orderstatus = 'F' THEN CAST(1.0 AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END AS y,
       |    $p AS p
       |  FROM orders)
       |SELECT CAST(floor(p * 10) AS INTEGER) AS bin, COUNT(*) AS n,
       |  ${sqlRnd6(s"${Exact.sqlXsum("p")} / COUNT(*)")} AS avg_p,
       |  ${sqlRnd6(s"${Exact.sqlXsum("y")} / COUNT(*)")} AS obs_rate,
       |  ${sqlRnd6(s"${Exact.sqlXsum("(p - y) * (p - y)")} / COUNT(*)")}
       |    AS brier
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Mutual information I(X; Y) between quantity and return flag — the
    * model-free feature-relevance score a feature-selection pass ranks
    * columns by (what "does this column predict the label at all?"
    * means before any model is fit). The corpus collapses to the
    * |X|×|Y| contingency table in ONE partial-aggregated shuffle
    * (bounded by the value domains, not the data); marginals re-derive
    * from that table and everything downstream is arithmetic on
    * broadcast-sized rows — the [[mlAuc]] bounded-domain discipline.
    *
    * Determinism: each cell's ln argument is a ratio of exact BIGINT
    * products cast to double once ((c·n)/(cx·cy) — no accumulated
    * float marginals), ln is rnd6'd per cell before the exact-decimal
    * sum, and H(Y) follows the same per-term discipline, so
    * I and the uncertainty coefficient I/H(Y) are byte-stable. */
  def mlMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val cells = Tables.lineitem(spark, sfDir)
      .groupBy($"l_quantity".cast("int").as("x"), $"l_returnflag".as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy($"x").agg(sum($"c").as("cx"))
    val my = cells.groupBy($"y").agg(sum($"c").as("cy"))
    val n1 = cells.agg(sum($"c").as("n"))
    val mi = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(n1))
      .select(rnd6(($"c".cast("double") / $"n".cast("double")) *
        rnd6(log(($"c" * $"n").cast("double") /
          ($"cx" * $"cy").cast("double")))).as("term"))
      .agg(xsum($"term").as("mi"))
    val hy = my.crossJoin(broadcast(n1))
      .select(rnd6(-($"cy".cast("double") / $"n".cast("double")) *
        rnd6(log($"cy".cast("double") / $"n".cast("double")))).as("term"))
      .agg(xsum($"term").as("h_y"))
    mi.crossJoin(broadcast(hy)).crossJoin(broadcast(n1))
      .select($"n", rnd6($"mi").as("mi"), rnd6($"h_y").as("h_y"),
        rnd6($"mi" / $"h_y").as("uncertainty_coef"))
  }

  val mlMutualInfoSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val miTerm = sqlRnd6("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      sqlRnd6("ln(CAST(c * n AS DOUBLE) / CAST(cx * cy AS DOUBLE))"))
    val hyTerm = sqlRnd6("-(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      sqlRnd6("ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))"))
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS INTEGER) AS x, l_returnflag AS y,
       |    COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |mi AS (
       |  SELECT ${Exact.sqlXsum(miTerm)} AS mi
       |  FROM cells JOIN mx USING (x) JOIN my USING (y), n1),
       |hy AS (
       |  SELECT ${Exact.sqlXsum(hyTerm)} AS h_y FROM my, n1)
       |SELECT n, ${sqlRnd6("mi")} AS mi, ${sqlRnd6("h_y")} AS h_y,
       |  ${sqlRnd6("mi / h_y")} AS uncertainty_coef
       |FROM mi, hy, n1""".stripMargin
  }

  /** Bagging geometry for [[mlBaggedStumps]]: B replicas, Poisson(1)
    * weights from the integer CDF (same thresholds as the
    * [[SampleOps]] bootstrap — ×10⁶ cut points, pure int compares). */
  private val BAG_B = 8
  private val BAG_CDF = Seq(367879, 735759, 919699, 981012, 996340, 999406)

  /** Per-(row, replica) uniform draw — the house Knuth scatter of the
    * composite line key plus a replica salt. */
  private def bagU(b: String) =
    s"pmod(l_orderkey * 2654435761 + l_linenumber * 40503 + $b * 97003, 1000000)"
  private def bagUSql(b: String) =
    s"((l_orderkey * 2654435761 + l_linenumber * 40503 + $b * 97003) % 1000000 + 1000000) % 1000000"

  /** Bagged Gini stumps with OUT-OF-BAG ensemble evaluation (Breiman,
    * "Bagging Predictors", 1996) — the variance-reduction ensemble as
    * pure data engineering: [[BAG_B]] Poisson-bootstrap replicas each
    * fit the [[mlGiniStump]] rule on WEIGHTED counts (all B fits share
    * ONE corpus scan — the replica axis explodes map-side and
    * collapses to B×|qty-domain| rows in the same shuffle), and the
    * ensemble is scored on the rows each replica never saw (w = 0)
    * WITHOUT a per-row vote state: a stump's prediction depends only
    * on qty, and a row's out-of-bag set is a deterministic 8-bit mask
    * of the key scatter, so voting collapses to the (qty, label,
    * mask) contingency table — ≤ domain×2×2^B cells, broadcast-joined
    * with the B stumps. One corpus pass, bounded state everywhere,
    * exactly how a 100 TB ensemble eval has to be shaped. Ties vote
    * negative; per-replica argmin is (gini asc, thr asc) — both
    * deterministic, both mirrored in the oracle. */
  def mlBaggedStumps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val wCase = BAG_CDF.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${BAG_CDF.size} END")
    val base = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber",
        $"l_quantity".cast("int").as("qty"),
        ($"l_returnflag" === "R").as("flag"))
    // ---- training: B weighted stump fits off one scan
    val expl = base
      .select($"l_orderkey", $"l_linenumber", $"qty", $"flag",
        explode(sequence(lit(1), lit(BAG_B))).as("b"))
      .withColumn("u", expr(bagU("b")))
      .withColumn("w", expr(wCase))
    val byQty = expl.groupBy($"b", $"qty")
      .agg(sum($"w").as("n"),
        sum(when($"flag", $"w").otherwise(0)).as("pos"))
    val tot = byQty.groupBy($"b")
      .agg(sum($"n").as("tot_n"), sum($"pos").as("tot_pos"))
    val cum = byQty.select($"b".as("cb"), $"qty".as("thr"))
      .join(broadcast(byQty), $"cb" === $"b" && $"qty" <= $"thr")
      .groupBy($"b", $"thr")
      .agg(sum($"n").as("nl"), sum($"pos").as("pl"))
      .join(tot, "b")
      .filter($"nl" < $"tot_n")
    def gini(p: Column, n: Column): Column = {
      val pd = p.cast("double") / n.cast("double")
      val qd = (n - p).cast("double") / n.cast("double")
      lit(1.0) - pd * pd - qd * qd
    }
    val nr = $"tot_n" - $"nl"
    val pr = $"tot_pos" - $"pl"
    val weighted =
      ($"nl".cast("double") * gini($"pl", $"nl") +
        nr.cast("double") * gini(pr, nr)) / $"tot_n".cast("double")
    val wBest = Window.partitionBy($"b")
      .orderBy($"gini_split".asc, $"thr".asc)
    val stumps = cum
      .select($"b", $"thr", $"nl", $"pl", nr.as("nr"), pr.as("pr"),
        rnd6(weighted).as("gini_split"))
      .withColumn("rk", row_number().over(wBest))
      .filter($"rk" === 1)
      .select($"b", $"thr", $"gini_split",
        ($"pl" * 2 > $"nl").as("left_pos"),
        ($"pr" * 2 > $"nr").as("right_pos"))
    // ---- OOB: (qty, label, oob-mask) contingency × broadcast stumps
    val maskExpr = (1 to BAG_B)
      .map(b => s"CASE WHEN ${bagU(b.toString)} < ${BAG_CDF.head} THEN ${1 << (b - 1)} ELSE 0 END")
      .mkString(" + ")
    val cells = base.withColumn("mask", expr(maskExpr))
      .filter($"mask" =!= 0)
      .groupBy($"qty", $"flag", $"mask").agg(count(lit(1)).as("cnt"))
    val voted = cells.join(broadcast(stumps),
        expr("(mask div shiftleft(1, b - 1)) % 2 = 1"))
      .withColumn("pred_b",
        when($"qty" <= $"thr", $"left_pos").otherwise($"right_pos"))
      .groupBy($"qty", $"flag", $"mask", $"cnt")
      .agg(count(lit(1)).as("n_oob"),
        sum(when($"pred_b", 1L).otherwise(0L)).as("votes_pos"))
      .withColumn("pred", $"votes_pos" * 2 > $"n_oob")
    val acc = voted.agg(sum($"cnt").as("n_oob_rows"),
        sum(when($"pred" === $"flag", $"cnt").otherwise(0L)).as("ok"))
      .select($"n_oob_rows",
        rnd6($"ok".cast("double") / $"n_oob_rows".cast("double"))
          .as("oob_acc"))
    stumps.crossJoin(broadcast(acc))
      .select($"b", $"thr", $"gini_split", $"left_pos", $"right_pos",
        $"n_oob_rows", $"oob_acc")
      .orderBy($"b")
  }

  val mlBaggedStumpsSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val wCase = BAG_CDF.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${BAG_CDF.size} END")
    def gini(p: String, n: String): String = {
      val pd = s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))"
      val qd = s"(CAST(($n) - ($p) AS DOUBLE) / CAST($n AS DOUBLE))"
      s"(1.0 - $pd * $pd - $qd * $qd)"
    }
    val nr = "(tot_n - nl)"
    val pr = "(tot_pos - pl)"
    val weighted = s"((CAST(nl AS DOUBLE) * ${gini("pl", "nl")} + " +
      s"CAST($nr AS DOUBLE) * ${gini(pr, nr)}) / CAST(tot_n AS DOUBLE))"
    val maskExpr = (1 to BAG_B)
      .map(b => s"CASE WHEN ${bagUSql(b.toString)} < ${BAG_CDF.head} THEN ${1 << (b - 1)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(l_quantity AS INTEGER) AS qty,
       |    l_returnflag = 'R' AS flag
       |  FROM lineitem),
       |expl AS (
       |  SELECT qty, flag, CAST(b.range AS INTEGER) AS b,
       |    ${bagUSql("b.range")} AS u
       |  FROM base, range(1, ${BAG_B + 1}) b),
       |weighted AS (SELECT qty, flag, b, $wCase AS w FROM expl),
       |byqty AS (
       |  SELECT b, qty, CAST(SUM(w) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN flag THEN w ELSE 0 END) AS BIGINT) AS pos
       |  FROM weighted GROUP BY 1, 2),
       |tot AS (
       |  SELECT b, CAST(SUM(n) AS BIGINT) AS tot_n,
       |    CAST(SUM(pos) AS BIGINT) AS tot_pos
       |  FROM byqty GROUP BY 1),
       |cum AS (
       |  SELECT q.b, t.thr, CAST(SUM(q.n) AS BIGINT) AS nl,
       |    CAST(SUM(q.pos) AS BIGINT) AS pl
       |  FROM (SELECT b AS cb, qty AS thr FROM byqty) t
       |  JOIN byqty q ON t.cb = q.b AND q.qty <= t.thr
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.b, c.thr, c.nl, c.pl, $nr AS nrr, $pr AS prr,
       |    ${sqlRnd6(weighted)} AS gini_split
       |  FROM cum c JOIN tot USING (b)
       |  WHERE c.nl < tot_n),
       |stumps AS (
       |  SELECT b, thr, gini_split,
       |    pl * 2 > nl AS left_pos, prr * 2 > nrr AS right_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY b
       |    ORDER BY gini_split ASC, thr ASC) AS rk FROM scored)
       |  WHERE rk = 1),
       |cells AS (
       |  SELECT qty, flag, mask, COUNT(*) AS cnt FROM (
       |    SELECT qty, flag, $maskExpr AS mask FROM base)
       |  WHERE mask <> 0 GROUP BY 1, 2, 3),
       |voted AS (
       |  SELECT qty, flag, mask, cnt,
       |    COUNT(*) AS n_oob,
       |    CAST(SUM(CASE WHEN (CASE WHEN qty <= thr THEN left_pos
       |      ELSE right_pos END) THEN 1 ELSE 0 END) AS BIGINT) AS votes_pos
       |  FROM cells JOIN stumps
       |    ON (mask // (1 << (b - 1))) % 2 = 1
       |  GROUP BY 1, 2, 3, 4),
       |acc AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_oob_rows,
       |    ${sqlRnd6(
        "CAST(SUM(CASE WHEN (votes_pos * 2 > n_oob) = flag THEN cnt ELSE 0 END) AS DOUBLE)" +
          " / CAST(SUM(cnt) AS DOUBLE)")} AS oob_acc
       |  FROM voted)
       |SELECT s.b, s.thr, s.gini_split, s.left_pos, s.right_pos,
       |  a.n_oob_rows, a.oob_acc
       |FROM stumps s, acc a
       |ORDER BY s.b""".stripMargin
  }

  /** Pearson chi-square test of independence + Cramér's V between
    * market segment and nation over the customer base — the
    * categorical-association screen run before encoding a feature
    * ("are these columns redundant?"). The corpus collapses to the
    * 5×25 contingency table in one partial-aggregated shuffle;
    * marginals re-derive from the table and each cell's (observed −
    * expected)²/expected term is a ratio of exact BIGINT products
    * cast to double once, rnd6'd before the exact-decimal sum (the
    * [[mlMutualInfo]] discipline). Output is one row — n, dof, the
    * statistic, and V = sqrt(χ²/(n·min(r−1, c−1))). */
  def mlChi2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        $"c_nationkey" === $"n_nationkey")
    val cells = cust.groupBy($"c_mktsegment".as("x"), $"n_name".as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy($"x").agg(sum($"c").as("cx"))
    val my = cells.groupBy($"y").agg(sum($"c").as("cy"))
    val n1 = cells.agg(sum($"c").as("n"),
      countDistinct($"x").as("r"), countDistinct($"y").as("cc"))
    // the table is dense here, but a sparse table would silently drop
    // zero cells from the sum — reconstruct the full grid first
    val grid = mx.crossJoin(my)
    val chi = grid
      .join(cells, Seq("x", "y"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(n1))
      .select(rnd6(
        (($"c" * $"n" - $"cx" * $"cy").cast("double") *
          ($"c" * $"n" - $"cx" * $"cy").cast("double")) /
          (($"cx" * $"cy").cast("double") * $"n".cast("double")))
        .as("term"))
      .agg(xsum($"term").as("chi2"))
    chi.crossJoin(broadcast(n1))
      .select($"n", (($"r" - 1) * ($"cc" - 1)).as("dof"),
        rnd6($"chi2").as("chi2"),
        rnd6(sqrt($"chi2" / ($"n" * least($"r" - 1, $"cc" - 1))
          .cast("double"))).as("cramers_v"))
  }

  val mlChi2Sql: String = {
    import graft.functions.Udfs.sqlRnd6
    // (c*n - cx*cy)^2 / (cx*cy*n) == n*(c/n - cx*cy/n^2)^2 ... the
    // integer-product form sidesteps float marginals entirely
    val term = sqlRnd6(
      "(CAST(c * n - cx * cy AS DOUBLE) * CAST(c * n - cx * cy AS DOUBLE))" +
        " / (CAST(cx * cy AS DOUBLE) * CAST(n AS DOUBLE))")
    s"""WITH cust AS (
       |  SELECT c_mktsegment AS x, n_name AS y
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
       |cells AS (SELECT x, y, COUNT(*) AS c FROM cust GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |    COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS cc FROM cells),
       |grid AS (
       |  SELECT mx.x, my.y, cx, cy, COALESCE(c, 0) AS c
       |  FROM mx CROSS JOIN my
       |  LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y),
       |chi AS (SELECT ${Exact.sqlXsum(term)} AS chi2 FROM grid, n1)
       |SELECT n, (r - 1) * (cc - 1) AS dof, ${sqlRnd6("chi2")} AS chi2,
       |  ${sqlRnd6("sqrt(chi2 / CAST(n * least(r - 1, cc - 1) AS DOUBLE))")}
       |    AS cramers_v
       |FROM chi, n1""".stripMargin
  }

  /** Weight-of-evidence / information-value table of market segment
    * against urgent-priority orders — the credit-scoring-style
    * encoding + feature-strength report (IV < 0.02 ⇒ the feature is
    * useless; the table IS the encoder). Per-segment good/bad counts
    * come from one shuffle over orders⋈customer; WoE_i =
    * ln(g_i·B / (b_i·G)) is a ratio of exact BIGINT products cast to
    * double once, rnd6'd, and each IV contribution rides the same
    * per-term discipline, so the broadcast total IV is byte-stable.
    * Segments where either count is zero would blow up the log —
    * a LAPLACE +1 on both sides per segment (dense here, but the
    * guard is the production rule, stated in the oracle too). */
  def mlWoeIv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val scored = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        ($"o_orderpriority" === "1-URGENT").cast("long").as("y"))
    val per = scored.groupBy($"seg")
      .agg((sum($"y") + 1).as("g"), (count(lit(1)) - sum($"y") + 1).as("b"))
    val tot = per.agg(sum($"g").as("gt"), sum($"b").as("bt"))
    val woe = rnd6(log(($"g" * $"bt").cast("double") /
      ($"b" * $"gt").cast("double")))
    per.crossJoin(broadcast(tot))
      .select($"seg", ($"g" - 1 + $"b" - 1).as("n"), $"g", $"b",
        woe.as("woe"),
        rnd6(($"g".cast("double") / $"gt" - $"b".cast("double") / $"bt") *
          woe).as("iv_term"))
      .orderBy($"seg")
  }

  val mlWoeIvSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val woe = sqlRnd6("ln(CAST(g * bt AS DOUBLE) / CAST(b * gt AS DOUBLE))")
    s"""WITH scored AS (
       |  SELECT c_mktsegment AS seg,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |per AS (
       |  SELECT seg, CAST(SUM(y) + 1 AS BIGINT) AS g,
       |    CAST(COUNT(*) - SUM(y) + 1 AS BIGINT) AS b
       |  FROM scored GROUP BY 1),
       |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt,
       |    CAST(SUM(b) AS BIGINT) AS bt FROM per)
       |SELECT seg, g - 1 + b - 1 AS n, g, b, $woe AS woe,
       |  ${sqlRnd6(s"(CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt) * $woe")}
       |    AS iv_term
       |FROM per, tot ORDER BY seg""".stripMargin
  }

  /** Score-band lift table: order value as a ranking score for
    * urgent-priority response — the campaign-targeting report ("how
    * much denser are responders in the top band than in the base
    * rate"). Bands are VALUE-based (fixed 50k-wide buckets, capped at
    * band 9), not population deciles: a value bucket is a map-side
    * expression at any scale, where a true decile would need a global
    * rank — the same selection-over-window trade the house makes
    * everywhere. The base rate rides a broadcast 1-row aggregate;
    * every rate is integer-count division, rnd6'd once. */
  def mlLiftBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val scored = Tables.orders(spark, sfDir)
      .select(least(floor($"o_totalprice" / 50000), lit(9)).cast("int")
        .as("band"),
        ($"o_orderpriority" === "1-URGENT").cast("long").as("y"))
    val per = scored.groupBy($"band")
      .agg(count(lit(1)).as("n"), sum($"y").as("resp"))
    val tot = per.agg(sum($"n").as("nt"), sum($"resp").as("rt"))
    per.crossJoin(broadcast(tot))
      .select($"band", $"n", $"resp",
        rnd6($"resp".cast("double") / $"n".cast("double")).as("resp_rate"),
        rnd6(($"resp" * $"nt").cast("double") /
          ($"n" * $"rt").cast("double")).as("lift"))
      .orderBy($"band".desc)
  }

  val mlLiftBandsSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH scored AS (
       |  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER)
       |      AS band,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |per AS (
       |  SELECT band, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS resp
       |  FROM scored GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
       |    CAST(SUM(resp) AS BIGINT) AS rt FROM per)
       |SELECT band, n, resp,
       |  ${sqlRnd6("CAST(resp AS DOUBLE) / CAST(n AS DOUBLE)")} AS resp_rate,
       |  ${sqlRnd6("CAST(resp * nt AS DOUBLE) / CAST(n * rt AS DOUBLE)")}
       |    AS lift
       |FROM per, tot ORDER BY band DESC""".stripMargin
  }

  /** Point-in-time-correct feature assembly — the feature-store
    * pattern that makes offline training match online serving: for
    * every purchase event (the label row), every feature is computed
    * from STRICTLY EARLIER events only (frame `ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING` over the (ts, event_id) order), so a
    * row can never see its own or later activity — the leakage that
    * silently inflates offline metrics. Features: events-so-far,
    * purchases-so-far, exact-decimal spend-so-far, and seconds since
    * the previous event. All four windows share ONE user_id exchange
    * and sort; at 100 TB this is a single shuffle of the event
    * stream, the same cost as any sessionization pass. */
  def mlPitFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val D = org.apache.spark.sql.types.DecimalType(38, 6)
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val strictPast = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .withColumn("n_prior", count(lit(1)).over(strictPast))
      .withColumn("n_prior_purch",
        coalesce(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .over(strictPast), lit(0L))) // empty frame sums to NULL, not 0
      .withColumn("spend_prior",
        coalesce(sum(when($"event_type" === "purchase", $"value")
          .otherwise(0.0).cast(D)).over(strictPast),
          lit(0).cast(D)).cast("double"))
      .withColumn("secs_since_prev",
        (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)) / 1000000L)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id",
        rnd6($"value").as("label_value"),
        $"n_prior", $"n_prior_purch",
        rnd6($"spend_prior").as("spend_prior"),
        $"secs_since_prev".cast("long").as("secs_since_prev"))
      .orderBy($"user_id", $"event_id")
  }

  val mlPitFeaturesSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH feat AS (
       |  SELECT user_id, event_id, event_type, value,
       |    COUNT(*) OVER wp AS n_prior,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END) OVER wp, 0) AS BIGINT) AS n_prior_purch,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(value AS DECIMAL(38,6))
       |      ELSE CAST(0 AS DECIMAL(38,6)) END) OVER wp,
       |      0) AS DOUBLE) AS spend_prior,
       |    (epoch_us(ts) - lag(epoch_us(ts), 1) OVER w) // 1000000
       |      AS secs_since_prev
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
       |    wp AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, ${sqlRnd6("value")} AS label_value,
       |  n_prior, n_prior_purch,
       |  ${sqlRnd6("spend_prior")} AS spend_prior,
       |  CAST(secs_since_prev AS BIGINT) AS secs_since_prev
       |FROM feat WHERE event_type = 'purchase'
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Leave-one-out target encoding of a categorical feature — the
    * high-cardinality-safe replacement for one-hot in tree/linear
    * models: each
    * row's category is replaced by the mean target of the OTHER rows
    * in that category, (S_cat − own) / (n_cat − 1), which is the
    * standard leakage guard (plain per-category means let each row
    * see its own label — optimistic CV, the classic encoding bug).
    * Category = order priority, target = order value.
    *
    * One shuffle builds the per-category exact sums; the encoded
    * column is then a broadcast join-back + MAP-SIDE arithmetic —
    * at 100 TB the corpus is touched once and never re-sorted.
    * Exactness: S_cat and the per-row subtraction stay in
    * DECIMAL(38,6) (the target is 2-dp money, so decimal carries it
    * exactly); the single division is rnd6'd. Singleton categories
    * encode NULL explicitly (x/0 NULL-guard discipline). */
  def mlTargetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val D = org.apache.spark.sql.types.DecimalType(38, 6)
    val o = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority".as("cat"),
        $"o_totalprice".cast(D).as("y"))
    val stats = o.groupBy($"cat")
      .agg(sum($"y").as("s"), count(lit(1)).as("n"))
    o.join(broadcast(stats), "cat")
      .select($"o_orderkey", $"cat",
        $"y".cast("double").as("target"),
        when($"n" === 1, lit(null).cast("double"))
          .otherwise(rnd6(($"s" - $"y").cast("double") /
            ($"n" - 1).cast("double"))).as("loo_enc"))
      .orderBy($"o_orderkey")
  }

  val mlTargetEncodeSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderpriority AS cat,
       |    CAST(o_totalprice AS DECIMAL(38,6)) AS y
       |  FROM orders),
       |stats AS (
       |  SELECT cat, SUM(y) AS s, COUNT(*) AS n FROM o GROUP BY 1)
       |SELECT o_orderkey, cat, CAST(y AS DOUBLE) AS target,
       |  CASE WHEN n = 1 THEN NULL
       |    ELSE ${sqlRnd6(
      "CAST(s - y AS DOUBLE) / CAST(n - 1 AS DOUBLE)")} END AS loo_enc
       |FROM o JOIN stats USING (cat)
       |ORDER BY o_orderkey""".stripMargin
  }
}
