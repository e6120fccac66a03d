package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, Tables}
import graft.functions.Udfs
import graft.functions.Udfs.{rnd6, sqlRnd6}

/** Similarity search over the embedding column (north-star surface):
  * brute-force cosine top-k as the exactness baseline, and an
  * IVF-style coarse-quantized variant as the scale path.
  *
  * Scale notes (100 TB):
  * - Brute force is O(queries × corpus): correct baseline, not the
  *   scale path. The query set is broadcast; the corpus side streams
  *   through one scan, so the plan is scan → broadcast-NL-join →
  *   partial top-k per partition (window) — no corpus shuffle.
  * - IVF: centroids are a tiny table (n_lists rows) built in one
  *   aggregation pass, broadcast back; each query probes its nprobe
  *   nearest lists and scans ONLY vectors in those lists. At 100 TB
  *   the corpus would be written partitioned/bucketed BY list id so a
  *   probe prunes file-level partitions (partition pruning does the
  *   1000× fan-in cut); here the label column stands in as the
  *   pre-assigned list id.
  * - Similarity math runs in the native codegen'd
  *   [[graft.functions.CosineSim]] kernel: a fixed ascending-index
  *   IEEE-double fold, so plans, partitioning, and retries can never
  *   flip a rank (the oracle reproduces the identical fold via
  *   DuckDB's list_reduce).
  */
object SimOps {

  private val N_QUERIES = 8 // vec_id < 8 are the query vectors
  private val TOP_K = 5
  private val NPROBE = 3

  /** Brute-force exact top-k: every query vector against the whole
    * corpus (self excluded), rank by rounded cosine w/ id tiebreak. */
  def simsearchTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }

  val simsearchTopkSql: String = {
    val cos = Udfs.sqlCosSimDbl("e.embedding", "q.embedding")
    s"""WITH ranked AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    ${sqlRnd6(cos)} AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlRnd6(cos)} DESC, e.vec_id ASC) AS rk
       |  FROM embeddings e
       |  JOIN embeddings q ON q.vec_id < $N_QUERIES AND e.vec_id <> q.vec_id)
       |SELECT query_id, vec_id, cos_sim, rk
       |FROM ranked WHERE rk <= $TOP_K
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Similarity floor for [[simsearchRange]] — ~p97 of the corpus
    * cosine distribution, so each query returns the genuinely-similar
    * few percent rather than nothing or everything. */
  private val RANGE_THRESH = 0.25

  /** Range query: ALL corpus vectors with cosine ≥ [[RANGE_THRESH]]
    * of each query — the radius-search twin of top-k (dedup wants
    * "everything this close", not "the 5 closest"). Same broadcast
    * query fan and codegen'd cosine kernel as [[simsearchTopk]], but
    * no window: the threshold filter composes with the scan, so the
    * plan is scan → broadcast-nested-loop → filter with nothing
    * driver-side. At 100 TB the same predicate runs after an IVF/LSH
    * bucket prune ([[simsearchIvf]], [[simsearchLsh]]) — the
    * brute-force form here is the exactness baseline the pruned
    * variants are measured against. */
  def simsearchRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .filter($"cos_sim" >= RANGE_THRESH)
      .orderBy($"query_id", $"cos_sim".desc, $"vec_id".asc)
  }

  val simsearchRangeSql: String = {
    val cos = Udfs.sqlCosSimDbl("e.embedding", "q.embedding")
    s"""SELECT q.vec_id AS query_id, e.vec_id, ${sqlRnd6(cos)} AS cos_sim
       |FROM embeddings e
       |JOIN embeddings q ON q.vec_id < $N_QUERIES AND e.vec_id <> q.vec_id
       |WHERE ${sqlRnd6(cos)} >= $RANGE_THRESH
       |ORDER BY query_id, cos_sim DESC, e.vec_id ASC""".stripMargin
  }

  /** IVF-style search: label = pre-assigned coarse list; centroid per
    * list from one aggregation pass over exploded dims; each query
    * probes its NPROBE nearest centroids and scans only those lists.
    * Exact decimal math end to end, so this has a full SQL twin even
    * though it is an *approximate* search strategy (approximation is
    * in recall, not in determinism). */
  def simsearchIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    // centroids: avg per (label, dim) — decimal-exact mean
    val dims = e.select($"label", posexplode($"embedding").as(Seq("dim", "v")))
    val cent = dims.groupBy($"label", $"dim")
      .agg((graft.engine.Exact.xsum($"v".cast("double")) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"c"))).as("cs"))
      .select($"label".as("c_label"),
        expr("transform(cs, s -> cast(s.c as float))").as("centroid"))
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // probe: nprobe nearest centroids per query
    val wProbe = Window.partitionBy($"query_id").orderBy($"c_sim".desc, $"c_label".asc)
    val probed = q.crossJoin(broadcast(cent))
      .select($"query_id", $"qv", $"c_label",
        rnd6(expr("graft_cosine_sim(qv, centroid)")).as("c_sim"))
      .withColumn("prk", row_number().over(wProbe))
      .filter($"prk" <= NPROBE)
      .select($"query_id", $"qv", $"c_label")
    // scan only the probed lists
    val wK = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    e.join(broadcast(probed), $"label" === $"c_label" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"label",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .withColumn("rk", row_number().over(wK))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }

  val simsearchIvfSql: String = {
    val probeCos = Udfs.sqlCosSimDbl("q.embedding", "c.centroid")
    val scanCos = Udfs.sqlCosSimDbl("e.embedding", "q.embedding")
    s"""WITH cent AS (
       |  SELECT label, list_transform(
       |    list(c ORDER BY dim), v -> CAST(v AS FLOAT)) AS centroid
       |  FROM (
       |    SELECT label, CAST(i.range AS INT) AS dim,
       |      CAST(SUM(CAST(CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)
       |        AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
       |    FROM embeddings, range(1, 65) i GROUP BY 1, 2)
       |  GROUP BY label),
       |probed AS (
       |  SELECT query_id, c_label FROM (
       |    SELECT q.vec_id AS query_id, c.label AS c_label,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlRnd6(probeCos)} DESC, c.label ASC) AS prk
       |    FROM embeddings q, cent c
       |    WHERE q.vec_id < $N_QUERIES) WHERE prk <= $NPROBE),
       |ranked AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, e.label,
       |    ${sqlRnd6(scanCos)} AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlRnd6(scanCos)} DESC, e.vec_id ASC) AS rk
       |  FROM embeddings e
       |  JOIN embeddings q ON q.vec_id < $N_QUERIES AND e.vec_id <> q.vec_id
       |  JOIN probed p ON p.query_id = q.vec_id AND p.c_label = e.label)
       |SELECT query_id, vec_id, label, cos_sim, rk
       |FROM ranked WHERE rk <= $TOP_K
       |ORDER BY query_id, rk""".stripMargin
  }

  private val LSH_PLANES = 6 // 2^6 = 64 buckets; recall knob = more tables

  /** Signature expression shared by corpus and query sides: bit p of
    * the bucket id is the sign of the projection onto pseudo-random
    * hyperplane p. Plane weights are integer-hash-derived
    * (((p·1000003 + i·7919) mod 97) − 48 ∈ [−48, 48]) so both engines
    * construct identical planes with no RNG; projections accumulate in
    * DECIMAL(30,12) so the sign — and therefore the bucket — is exact
    * and engine-identical (approximation lives in recall only). */
  private def lshSigExpr(col: String): String =
    s"""aggregate(sequence(0, ${LSH_PLANES - 1}), cast(0 as bigint), (acc, p) ->
       |  acc + (CASE WHEN aggregate(sequence(1, 64), cast(0 as decimal(30,12)),
       |      (a, i) -> cast(a + cast(cast(element_at($col, i) as double)
       |        * cast(((p * 1000003 + i * 7919) % 97) - 48 as double)
       |        as decimal(30,12)) as decimal(30,12))) >= 0
       |    THEN shiftleft(cast(1 as bigint), p) ELSE cast(0 as bigint) END))""".stripMargin

  /** Random-hyperplane LSH search: bucket every vector by the sign
    * pattern of [[LSH_PLANES]] deterministic hyperplane projections
    * (one map-side pass, NO shuffle to build the index), then rank by
    * exact cosine only within the query's bucket. The scale story: at
    * 100 TB the corpus is written partitioned BY bucket, a query
    * touches 1/2^planes of the data, and recall is tuned by running R
    * independent plane sets (union of R bucket joins) — the same plan
    * shape R times. Complements [[simsearchIvf]]: LSH needs no
    * centroid training pass. */
  def simsearchLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("bucket", expr(lshSigExpr("embedding")))
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"bucket".as("q_bucket"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    e.join(broadcast(q), $"bucket" === $"q_bucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"bucket", $"vec_id",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }

  val simsearchLshSql: String = {
    val cos = Udfs.sqlCosSimDbl("e.embedding", "q.embedding")
    s"""WITH proj AS (
       |  SELECT vec_id, p.range AS p,
       |    SUM(CAST(CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)
       |      * (((p.range * 1000003 + i.range * 7919) % 97) - 48)
       |      AS DECIMAL(30,12))) AS s
       |  FROM embeddings, range(0, $LSH_PLANES) p, range(1, 65) i
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN s >= 0
       |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |ranked AS (
       |  SELECT q.vec_id AS query_id, sq.bucket, e.vec_id,
       |    ${sqlRnd6(cos)} AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlRnd6(cos)} DESC, e.vec_id ASC) AS rk
       |  FROM embeddings e
       |  JOIN sig se ON se.vec_id = e.vec_id
       |  JOIN embeddings q ON q.vec_id < $N_QUERIES AND e.vec_id <> q.vec_id
       |  JOIN sig sq ON sq.vec_id = q.vec_id AND se.bucket = sq.bucket)
       |SELECT query_id, bucket, vec_id, cos_sim, rk
       |FROM ranked WHERE rk <= $TOP_K
       |ORDER BY query_id, rk""".stripMargin
  }

  /** LSH search against a PHYSICALLY PARTITIONED corpus layout — the
    * demonstrated form of the 100 TB story [[simsearchLsh]] narrates.
    * The corpus is persisted ONCE partitioned BY bucket (directory per
    * bucket id, freshness-checked against the source like the bucketed
    * join layout), and the probe joins the broadcast query side on the
    * PARTITION column — so dynamic partition pruning injects the query
    * buckets into the scan's PartitionFilters and only the matching
    * bucket DIRECTORIES are read (asserted in PlanSpec). At 100 TB a
    * probe touches ~1/2^planes of the files instead of filtering
    * after a full scan; same results as the in-join LSH form — the
    * oracle is identical. */
  def simsearchLshPruned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val corpus = spark.read.parquet(lshLayoutDir(spark, sfDir))
    val q = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        expr(lshSigExpr("embedding")).as("q_bucket"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    corpus.join(broadcast(q),
        $"bucket" === $"q_bucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"bucket".cast("bigint").as("bucket"), $"vec_id",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }

  /** Write-once bucket-partitioned embedding layout under the local
    * warehouse (same freshness contract as the bucketed-join tables:
    * _SUCCESS newer than the source AND a _SPEC fingerprint matching
    * this build's layout definition, else rewrite). ≤ 2^LSH_PLANES
    * directories; at cluster scale this is the one-off write that
    * converts every later probe from full-scan+filter to a
    * partition-pruned read. */
  private[graft] def lshLayoutDir(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whPath = if (wh.contains(":")) new java.net.URI(wh).getPath else wh
    val dir = new java.io.File(whPath, s"emb_lsh$tag")
    val spec = s"vec_id,label,embedding|partitionBy(bucket)|planes=$LSH_PLANES"
    val marker = new java.io.File(dir, "_SUCCESS")
    val specFile = new java.io.File(dir, "_SPEC")
    val src = new java.io.File(s"$sfDir/embeddings.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && specFile.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      new String(java.nio.file.Files.readAllBytes(specFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == spec
    if (!fresh) {
      // repartition BY bucket before the partitioned write: one file
      // per bucket directory instead of (shuffle partitions × buckets)
      // fragments — file-listing and open() cost dominate small-probe
      // reads otherwise. At cluster scale this is the standard
      // write-shaping step for any partitioned layout.
      Tables.embeddings(spark, sfDir)
        .withColumn("bucket", expr(lshSigExpr("embedding")))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(dir.getAbsolutePath)
      java.nio.file.Files.write(specFile.toPath,
        spec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    dir.getAbsolutePath
  }

  /** Per-label stats over the array column ("multimodal columns"):
    * count, mean L2 norm, centroid L2 norm, mean of dim 1 — all via
    * higher-order functions + decimal-exact aggregation. */
  def multimodalStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("sq_sum", expr(
        """aggregate(
          |  transform(embedding, x -> cast(cast(x as double) * cast(x as double) as decimal(30,12))),
          |  cast(0 as decimal(30,12)),
          |  (a, x) -> cast(a + x as decimal(30,12)))""".stripMargin).cast("double"))
    val perVec = e.select($"label", $"vec_id", $"sq_sum",
      element_at($"embedding", 1).cast("double").as("d1"))
    val centDims = Tables.embeddings(spark, sfDir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg((xsum($"v".cast("double")) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(xsum($"c" * $"c").as("cent_sq"))
    perVec.groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        rnd6(xsum(sqrt($"sq_sum")) / count(lit(1))).as("mean_l2"),
        rnd6(xavg($"d1")).as("mean_d1"))
      .join(centDims.select($"label", rnd6(sqrt($"cent_sq")).as("centroid_l2")), "label")
      .select($"label", $"n_vecs", $"mean_l2", $"mean_d1", $"centroid_l2")
      .orderBy($"label")
  }

  val multimodalStatsSql: String = {
    import graft.engine.Exact._
    val v = "CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)"
    s"""WITH sq AS (
       |  SELECT vec_id, label,
       |    CAST(SUM(CAST($v * $v AS DECIMAL(38,12))) AS DOUBLE) AS sq_sum,
       |    CAST(MAX(CASE WHEN i.range = 1 THEN embedding[1] END) AS DOUBLE) AS d1
       |  FROM embeddings, range(1, 65) i GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, ${sqlXsum("c * c")} AS cent_sq FROM (
       |    SELECT label, CAST(i.range AS INT) AS dim,
       |      ${sqlXsum("CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)")} / COUNT(*) AS c
       |    FROM embeddings, range(1, 65) i GROUP BY 1, 2)
       |  GROUP BY label)
       |SELECT s.label, COUNT(*) AS n_vecs,
       |  ${sqlRnd6(s"${sqlXsum("sqrt(s.sq_sum)")} / COUNT(*)")} AS mean_l2,
       |  ${sqlRnd6(sqlXavg("s.d1"))} AS mean_d1,
       |  ${sqlRnd6("any_value(CAST(sqrt(c.cent_sq) AS DECIMAL(38,6)))")} AS centroid_l2
       |FROM sq s JOIN cent c ON s.label = c.label
       |GROUP BY s.label ORDER BY s.label""".stripMargin
  }

  /** Int8 scalar quantization of the embedding column (absmax per
    * vector: scale = max|vᵢ| / 127, qᵢ = ⌊vᵢ/scale + ½⌋) plus the
    * reconstruction-error audit a quantized ANN corpus ships with.
    *
    * The rounding is spelled `floor(x + 0.5)` deliberately: `round()`
    * on doubles is half-up in Spark and half-even in DuckDB, while
    * `floor` is a single exact IEEE operation in both — the same
    * reasoning as [[graft.functions.Udfs.rnd6]]. Every per-element op
    * (widen to double, divide by the per-vector scale, floor, int
    * cast, dequant-error) is order-free scalar arithmetic, so the
    * whole query is scan→project with zero shuffles and zero UDFs —
    * at 100 TB this runs at parquet-read speed and cuts ANN
    * storage/bandwidth 4× (the IVF-PQ-style scale path cited in
    * PAPERS.md quantizes exactly like this, just per-subvector). */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0"))
      .filter($"scale" > 0) // an all-zero vector has no absmax scale
      .select($"vec_id", $"label", rnd6($"scale").as("scale"),
        // '|'-joined, not array<int>: the driver comparator hashes
        // scalar cells only (same contract note as AggOps.aggCollect)
        expr("array_join(transform(v, x -> CAST(CAST(floor(x / scale + 0.5) AS INT) AS STRING)), '|')")
          .as("qvec"),
        rnd6(expr(
          "array_max(transform(v, x -> abs(CAST(floor(x / scale + 0.5) AS INT) * scale - x)))"))
          .as("max_err"),
        expr("CAST(size(filter(v, x -> abs(CAST(floor(x / scale + 0.5) AS INT)) >= 127)) AS INT)")
          .as("n_sat"))
      .orderBy($"vec_id")
  }

  val embedQuantizeSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH scaled AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings)
       |SELECT vec_id, label, ${sqlRnd6("scale")} AS scale,
       |  array_to_string(list_transform(v,
       |    x -> CAST(CAST(FLOOR(x / scale + 0.5) AS INTEGER) AS VARCHAR)), '|') AS qvec,
       |  ${sqlRnd6("list_max(list_transform(v, x -> abs(CAST(FLOOR(x / scale + 0.5) AS INTEGER) * scale - x)))")} AS max_err,
       |  CAST(length(list_filter(v, x -> abs(CAST(FLOOR(x / scale + 0.5) AS INTEGER)) >= 127)) AS INTEGER) AS n_sat
       |FROM scaled WHERE scale > 0 ORDER BY vec_id""".stripMargin
  }

  /** PQ geometry: 64 dims → [[PQ_M]] subspaces × [[PQ_SUBD]] dims,
    * [[PQ_K]] codewords per subspace, [[PQ_ITERS]] Lloyd rounds. */
  private val PQ_M = 4
  private val PQ_SUBD = 16
  private val PQ_K = 8
  private val PQ_ITERS = 2

  /** Product quantization (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI'11) — the IVF-PQ compression
    * stage: each vector splits into [[PQ_M]] subvectors, each subspace
    * learns its own [[PQ_K]]-codeword k-means codebook, and the vector
    * is stored as M small codes (here 64×float32 = 256 B → 4 codes =
    * 4 B, a 64× cut vs [[embedQuantize]]'s 4×) plus the reconstruction
    * error the index ships with. Runs as ONE distributed computation,
    * not M jobs: the corpus explodes map-side to (vec, subspace,
    * subvector) rows, all M codebooks train simultaneously —
    * assignment is the broadcast codebook fold of [[MlOps.mlKmeans]]
    * keyed by subspace (no corpus shuffle, no WindowExec), the update
    * collapses to M×K×SUBD decimal-exact means round-tripped through
    * float32 so per-round drift cannot compound. Distances are
    * rnd6'd with (d, cid) tiebreaks — the ITERATIVE fit bit-matches
    * the unrolled-CTE oracle like the kmeans/PageRank precedents. */
  /** (vec_id, sub, sv) — every vector sliced into its [[PQ_M]]
    * subvectors, map-side. */
  private def pqSubOf(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select($"vec_id", explode(expr(
        s"""transform(sequence(0, ${PQ_M - 1}), s -> named_struct(
           |  'sub', CAST(s AS INT),
           |  'sv', slice(v, CAST(s AS INT) * $PQ_SUBD + 1, $PQ_SUBD)))"""
          .stripMargin)).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
  }

  private def pqSub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pqSubOf(Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
  }

  /** Nearest-codeword fold over the cid-sorted broadcast codebook
    * array — rnd6'd distance, strict `<`, so the result is exactly
    * the (d asc, cid asc) ranking with no WindowExec and no corpus
    * shuffle (the [[MlOps.mlKmeans]] assignment discipline). */
  private val pqBestExpr =
    """aggregate(
      |  transform(cents, ct -> named_struct(
      |    'cid', ct.cid,
      |    'd', CAST(CAST(aggregate(zip_with(sv, ct.c, (x, y) -> (x - y) * (x - y)),
      |           cast(0 as double), (acc, t) -> acc + t) + 1e-12 AS DECIMAL(38,6)) AS DOUBLE))),
      |  named_struct('cid', cast(-1 as int), 'd', cast('Infinity' as double)),
      |  (acc, s) -> if(s.d < acc.d, s, acc))""".stripMargin

  private def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val spark = sub.sparkSession
    import spark.implicits._
    val cents1 = cent.groupBy($"sub")
      .agg(array_sort(collect_list(struct($"cid", $"c"))).as("cents"))
    sub.join(broadcast(cents1), "sub")
      .select($"vec_id", $"sub", $"sv", expr(pqBestExpr).as("best"))
      .select($"vec_id", $"sub", $"sv",
        $"best.cid".as("cid"), $"best.d".as("dist2"))
  }

  /** Trained codebooks (sub, cid, c) after [[PQ_ITERS]] Lloyd
    * rounds, session-cached. */
  private def pqCents(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "pqCents") {
      import spark.implicits._
      val sub = pqSub(spark, sfDir)
      var cent = sub.filter($"vec_id" < PQ_K)
        .select($"sub", $"vec_id".cast("int").as("cid"), $"sv".as("c"))
      for (_ <- 1 to PQ_ITERS) {
        cent = pqAssign(sub, cent)
          .select($"sub", $"cid", posexplode($"sv").as(Seq("dim", "x")))
          .groupBy($"sub", $"cid", $"dim")
          .agg((graft.engine.Exact.xsum($"x") / count(lit(1))).as("m"))
          .groupBy($"sub", $"cid")
          .agg(array_sort(collect_list(struct($"dim", $"m"))).as("ms"))
          .select($"sub", $"cid",
            expr("transform(ms, s -> CAST(CAST(s.m AS FLOAT) AS DOUBLE))").as("c"))
      }
      cent
    }

  /** Final assignment (vec_id, sub, cid, dist2), session-cached. */
  private def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "pqCodes") {
      pqAssign(pqSub(spark, sfDir), pqCents(spark, sfDir))
    }

  def embedPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pqCodes(spark, sfDir)
      .groupBy($"vec_id")
      .agg(
        max(when($"sub" === 0, $"cid")).as("c0"),
        max(when($"sub" === 1, $"cid")).as("c1"),
        max(when($"sub" === 2, $"cid")).as("c2"),
        max(when($"sub" === 3, $"cid")).as("c3"),
        rnd6(graft.engine.Exact.xsum($"dist2")).as("recon_err"))
      .orderBy($"vec_id")
  }

  /** Squared L2 between two lists, left-folded ascending — the SQL
    * twin of the [[pqBestExpr]] inner fold. */
  private def pqDistSql(v: String, c: String) =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($v, $c), s -> (s[1] - s[2]) * (s[1] - s[2]))), " +
      "(acc, t) -> acc + t)"

  /** Shared oracle CTE chain: subvector slices → c0 init →
    * [[PQ_ITERS]] unrolled assign/update rounds → `afinal`
    * assignment and `c$PQ_ITERS` codebooks. */
  private def pqCtesSql: String = {
    def assignCte(name: String, centCte: String) =
      s"""$name AS (
         |  SELECT vec_id, sub, sv, cid, dist2 FROM (
         |    SELECT t.vec_id, t.sub, t.sv, c.cid,
         |      ${sqlRnd6(pqDistSql("t.sv", "c.c"))} AS dist2,
         |      row_number() OVER (PARTITION BY t.vec_id, t.sub
         |        ORDER BY ${sqlRnd6(pqDistSql("t.sv", "c.c"))} ASC, c.cid ASC) AS rk
         |    FROM sub t JOIN $centCte c ON t.sub = c.sub) WHERE rk = 1)"""
    def updateCte(name: String, assignCteName: String) =
      s"""$name AS (
         |  SELECT sub, cid, list_transform(list(m ORDER BY dim),
         |    x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c
         |  FROM (
         |    SELECT sub, cid, CAST(i.range AS INT) AS dim,
         |      CAST(SUM(CAST(sv[CAST(i.range AS INT)] AS DECIMAL(38,6)))
         |        AS DOUBLE) / COUNT(*) AS m
         |    FROM $assignCteName, range(1, ${PQ_SUBD + 1}) i GROUP BY 1, 2, 3)
         |  GROUP BY sub, cid)"""
    val rounds = (1 to PQ_ITERS).map { k =>
      assignCte(s"a$k", s"c${k - 1}") + ",\n" + updateCte(s"c$k", s"a$k")
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(s.range AS INT) AS sub,
       |    v[CAST(s.range AS INT) * $PQ_SUBD + 1 :
       |      CAST(s.range AS INT) * $PQ_SUBD + $PQ_SUBD] AS sv
       |  FROM e, range(0, $PQ_M) s),
       |c0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS c
       |  FROM sub WHERE vec_id < $PQ_K),
       |$rounds,
       |${assignCte("afinal", s"c$PQ_ITERS")}""".stripMargin
  }

  val embedPqSql: String = {
    import graft.engine.Exact.sqlXsum
    s"""WITH $pqCtesSql
       |SELECT vec_id,
       |  max(CASE WHEN sub = 0 THEN cid END) AS c0,
       |  max(CASE WHEN sub = 1 THEN cid END) AS c1,
       |  max(CASE WHEN sub = 2 THEN cid END) AS c2,
       |  max(CASE WHEN sub = 3 THEN cid END) AS c3,
       |  ${sqlRnd6(sqlXsum("dist2"))} AS recon_err
       |FROM afinal GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** PQ asymmetric-distance search (ADC — Jégou et al. §IV): each
    * query keeps its EXACT subvectors; per (query, subspace,
    * codeword) squared distances form a lookup table of
    * N_QUERIES × M × K rows (here 256 — broadcast-sized at ANY corpus
    * scale, it depends only on query count and codebook geometry),
    * and scoring the corpus is M table lookups + an add per vector —
    * the memory-bandwidth shape that makes billion-vector search
    * feasible: the scan touches 4-byte codes, never the floats.
    * Ranking rides the native [[graft.plans.TopKPerKey]] partial-heap
    * operator, so the exchange carries ≤ k rows per query per map
    * partition. Approximate by construction (codes quantize the
    * corpus); [[simsearchRecall]]'s differential pattern applies
    * unchanged if a quality gate is wanted. */
  def simsearchPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qsub = pqSub(spark, sfDir).filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"sub".as("qsub"), $"sv".as("qsv"))
    val lut = qsub.join(pqCents(spark, sfDir), $"qsub" === $"sub")
      .select($"query_id", $"sub", $"cid",
        rnd6(expr(
          """aggregate(zip_with(qsv, c, (x, y) -> (x - y) * (x - y)),
            |  cast(0 as double), (acc, t) -> acc + t)""".stripMargin))
          .as("d2"))
    val scored = pqCodes(spark, sfDir)
      .select($"vec_id", $"sub", $"cid")
      .join(broadcast(lut), Seq("sub", "cid"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(rnd6(graft.engine.Exact.xsum($"d2")).as("adc_dist2"))
    graft.plans.TopKPerKey.topK(scored,
        keyCols = Seq("query_id"),
        orderSpec = Seq("adc_dist2" -> true, "vec_id" -> true),
        k = TOP_K, rankName = "rk")
      .select($"query_id", $"vec_id", $"adc_dist2", $"rk")
      .orderBy($"query_id", $"rk")
  }

  val simsearchPqSql: String = {
    import graft.engine.Exact.sqlXsum
    s"""WITH $pqCtesSql,
       |qsub AS (
       |  SELECT vec_id AS query_id, sub, sv AS qsv
       |  FROM sub WHERE vec_id < $N_QUERIES),
       |lut AS (
       |  SELECT q.query_id, c.sub, c.cid,
       |    ${sqlRnd6(pqDistSql("q.qsv", "c.c"))} AS d2
       |  FROM qsub q JOIN c$PQ_ITERS c ON q.sub = c.sub),
       |scored AS (
       |  SELECT l.query_id, a.vec_id,
       |    ${sqlRnd6(sqlXsum("l.d2"))} AS adc_dist2
       |  FROM afinal a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
       |  WHERE a.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, adc_dist2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist2 ASC, vec_id ASC) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, adc_dist2, rk
       |FROM ranked WHERE rk <= $TOP_K
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Candidate overfetch factor for [[simsearchQuantized]]: the int8
    * stage keeps TOP_K×4 per query before the exact re-rank. */
  private val OVERFETCH = 4

  /** Quantize-then-rerank ANN: rank candidates by the cosine of the
    * INT8 vectors from [[embedQuantize]], keep the top
    * TOP_K×[[OVERFETCH]] per query, then re-rank those few with the
    * exact float kernel. This is the production two-stage retrieval
    * shape: the scan stage touches 4×-smaller vectors (at 100 TB
    * that is the memory-bandwidth bound — int8 scan ≈ 4× the float32
    * scan rate), and the expensive exact kernel runs on a bounded
    * candidate set (TOP_K×OVERFETCH rows per query, not the corpus).
    *
    * Engine-exactness: cosine of the quantized vectors is
    * dot_int / (√ssq_q · √ssq_c) — the per-vector absmax scales
    * cancel, so the approximate score is built ONLY from exact
    * integer sums, two correctly-rounded sqrts, and one divide:
    * bit-identical in any IEEE engine, no fold-order hazard at all
    * (the int sums are order-free). Both rank stages tiebreak on
    * vec_id over rnd6'd scores. */
  def simsearchQuantized(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val qz = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0"))
      .filter($"scale" > 0)
      .select($"vec_id", $"embedding",
        expr("transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))").as("qv"))
      .withColumn("ssq",
        expr("aggregate(qv, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)"))
    val q = qz.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qemb"),
        $"qv".as("qqv"), $"ssq".as("qssq"))
    // Both ranking stages run through the library's own partial-heap
    // top-k operator (plans/TopKPerKey): per-partition bounded heaps
    // prune to ≤ k rows per query BEFORE the exchange — on a 100 TB
    // corpus the int8 stage's shuffle carries k×overfetch rows per
    // query per map partition instead of the whole scored corpus.
    val scored = qz.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"embedding", $"qemb",
        rnd6(
          expr("aggregate(zip_with(qv, qqv, (x, y) -> CAST(x AS BIGINT) * y), 0L, (acc, p) -> acc + p)")
            / (sqrt($"ssq".cast("double")) * sqrt($"qssq".cast("double"))))
          .as("approx_cos"))
    val cands = graft.plans.TopKPerKey.topK(scored,
        keyCols = Seq("query_id"),
        orderSpec = Seq("approx_cos" -> false, "vec_id" -> true),
        k = TOP_K * OVERFETCH, rankName = "ark")
      .select($"query_id", $"vec_id", $"approx_cos",
        rnd6(expr("graft_cosine_sim(embedding, qemb)")).as("cos_sim"))
    graft.plans.TopKPerKey.topK(cands,
        keyCols = Seq("query_id"),
        orderSpec = Seq("cos_sim" -> false, "vec_id" -> true),
        k = TOP_K, rankName = "rk")
      .select($"query_id", $"vec_id", $"approx_cos", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  val simsearchQuantizedSql: String = {
    val dot = "CAST(list_sum(list_transform(list_zip(e.qv, q.qv), " +
      "s -> CAST(s[1] AS BIGINT) * s[2])) AS DOUBLE)"
    val approx = sqlRnd6(
      s"$dot / (sqrt(CAST(e.ssq AS DOUBLE)) * sqrt(CAST(q.ssq AS DOUBLE)))")
    val cos = Udfs.sqlCosSimDbl("emb", "qemb")
    s"""WITH qz AS (
       |  SELECT vec_id, embedding,
       |    list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INTEGER)) AS qv
       |  FROM (
       |    SELECT vec_id, embedding,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |      list_max(list_transform(embedding,
       |        x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |    FROM embeddings) WHERE scale > 0),
       |qs AS (
       |  SELECT vec_id, embedding, qv,
       |    list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS ssq
       |  FROM qz),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      e.embedding AS emb, q.embedding AS qemb, $approx AS approx_cos,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $approx DESC, e.vec_id ASC) AS ark
       |    FROM qs e JOIN qs q ON q.vec_id < $N_QUERIES
       |      AND e.vec_id <> q.vec_id)
       |  WHERE ark <= ${TOP_K * OVERFETCH})
       |SELECT query_id, vec_id, approx_cos, cos_sim, rk FROM (
       |  SELECT query_id, vec_id, approx_cos,
       |    ${sqlRnd6(cos)} AS cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${sqlRnd6(cos)} DESC, vec_id ASC) AS rk
       |  FROM cand)
       |WHERE rk <= $TOP_K ORDER BY query_id, rk""".stripMargin
  }

  /** Recall@k of the IVF index against the brute-force ground truth —
    * the ANN quality gate: an approximate index is only shippable with
    * a measured recall number next to it. Both sides are the EXISTING
    * registered queries ([[simsearchTopk]], [[simsearchIvf]]), so this
    * is a differential evaluation: left-join truth against candidates,
    * count hits per query. At 100 TB the truth side runs on a sampled
    * query set (here: the fixed N_QUERIES probes — exactly how
    * production recall dashboards work) while the index side is the
    * pruned search, so the eval costs one brute-force pass over the
    * sample, not the corpus. Hits are exact integers; the only derived
    * column is hits/k, rnd6'd. */
  def simsearchRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val exact = simsearchTopk(spark, sfDir).select($"query_id", $"vec_id")
    val approx = simsearchIvf(spark, sfDir)
      .select($"query_id".as("a_qid"), $"vec_id".as("a_vid"))
    exact.join(broadcast(approx),
        $"query_id" === $"a_qid" && $"vec_id" === $"a_vid", "left")
      .groupBy($"query_id")
      .agg(count($"a_vid").as("hits"))
      .select($"query_id", $"hits",
        rnd6($"hits".cast("double") / TOP_K).as("recall"))
      .orderBy($"query_id")
  }

  val simsearchRecallSql: String =
    s"""WITH exact_s AS (
       |  SELECT query_id, vec_id FROM ($simsearchTopkSql) t),
       |approx_s AS (
       |  SELECT query_id, vec_id FROM ($simsearchIvfSql) t)
       |SELECT e.query_id, COUNT(a.vec_id) AS hits,
       |  ${Udfs.sqlRnd6(s"CAST(COUNT(a.vec_id) AS DOUBLE) / $TOP_K")}
       |    AS recall
       |FROM exact_s e LEFT JOIN approx_s a
       |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Recall@k of the PQ-ADC index ([[simsearchPq]]) against the exact
    * brute force — the lossy-COMPRESSION quality gate, completing the
    * PQ family the way [[simsearchRecall]] gates IVF's lossy
    * PARTITIONING: codes quantize the corpus, so ADC ranking can
    * genuinely miss true neighbors, and this differential query over
    * the two REGISTERED searches measures exactly how much. Same
    * shape, same 100 TB note: ground truth runs on the sampled query
    * set only. */
  def simsearchPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val exact = simsearchTopk(spark, sfDir).select($"query_id", $"vec_id")
    val approx = simsearchPq(spark, sfDir)
      .select($"query_id".as("a_qid"), $"vec_id".as("a_vid"))
    exact.join(broadcast(approx),
        $"query_id" === $"a_qid" && $"vec_id" === $"a_vid", "left")
      .groupBy($"query_id")
      .agg(count($"a_vid").as("hits"))
      .select($"query_id", $"hits",
        rnd6($"hits".cast("double") / TOP_K).as("recall"))
      .orderBy($"query_id")
  }

  val simsearchPqRecallSql: String =
    s"""WITH exact_s AS (
       |  SELECT query_id, vec_id FROM ($simsearchTopkSql) t),
       |approx_s AS (
       |  SELECT query_id, vec_id FROM ($simsearchPqSql) t)
       |SELECT e.query_id, COUNT(a.vec_id) AS hits,
       |  ${Udfs.sqlRnd6(s"CAST(COUNT(a.vec_id) AS DOUBLE) / $TOP_K")}
       |    AS recall
       |FROM exact_s e LEFT JOIN approx_s a
       |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Every 7th vector is the "new batch"; the rest are the indexed
    * base corpus. */
  private val BATCH_MOD = 7

  /** INCREMENTAL ANN INDEX MAINTENANCE — the "daily embedding batch
    * vs standing index" shape every production vector store runs:
    * IVF centroids are FROZEN from the base corpus (trained once;
    * here the decimal-exact per-label means of base vectors), and the
    * new batch is merged by ASSIGNING each new vector to its nearest
    * frozen centroid — one broadcast-centroid map-side pass costing
    * O(batch × n_lists), never a re-clustering of the corpus. Queries
    * probe the same centroids and scan the probed lists across base
    * AND batch members (`src` tags which index generation served each
    * hit). At 100 TB this is the entire economics of a vector index:
    * ingest cost scales with the batch, drift is handled by periodic
    * re-train (the base path already registered as
    * [[simsearchIvf]]), and the search plan is unchanged. Exact
    * decimal math + rnd6 + full tiebreaks keep the approximate
    * STRATEGY deterministic, so the whole composition has a SQL twin. */
  def simsearchIndexIncremental(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter($"vec_id" % BATCH_MOD =!= 0)
    val batch = e.filter($"vec_id" % BATCH_MOD === 0)
    // frozen centroids: decimal-exact per-label means of BASE vectors
    val cent = base
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg((graft.engine.Exact.xsum($"v".cast("double")) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"c"))).as("cs"))
      .select($"label".as("c_label"),
        expr("transform(cs, s -> cast(s.c as float))").as("centroid"))
    // batch ingestion: nearest frozen centroid, map-side
    val wAssign = Window.partitionBy($"vec_id")
      .orderBy($"a_sim".desc, $"c_label".asc)
    val assigned = batch.crossJoin(broadcast(cent))
      .select($"vec_id", $"embedding",
        rnd6(expr("graft_cosine_sim(embedding, centroid)")).as("a_sim"),
        $"c_label")
      .withColumn("ark", row_number().over(wAssign))
      .filter($"ark" === 1)
      .select($"vec_id", $"embedding", $"c_label".as("label"),
        lit("batch").as("src"))
    val index = base.select($"vec_id", $"embedding", $"label",
      lit("base").as("src")).unionByName(assigned)
    // search: probe NPROBE centroids, scan probed lists of the UNION
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"c_sim".desc, $"c_label".asc)
    val probed = q.crossJoin(broadcast(cent))
      .select($"query_id", $"qv", $"c_label",
        rnd6(expr("graft_cosine_sim(qv, centroid)")).as("c_sim"))
      .withColumn("prk", row_number().over(wProbe))
      .filter($"prk" <= NPROBE)
      .select($"query_id", $"qv", $"c_label")
    val wK = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
    index.join(broadcast(probed),
        $"label" === $"c_label" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"src",
        rnd6(expr("graft_cosine_sim(embedding, qv)")).as("cos_sim"))
      .withColumn("rk", row_number().over(wK))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }

  val simsearchIndexIncrementalSql: String = {
    val assignCos = Udfs.sqlCosSimDbl("b.embedding", "c.centroid")
    val probeCos = Udfs.sqlCosSimDbl("q.embedding", "c.centroid")
    val scanCos = Udfs.sqlCosSimDbl("i.embedding", "q.embedding")
    s"""WITH cent AS (
       |  SELECT label, list_transform(
       |    list(c ORDER BY dim), v -> CAST(v AS FLOAT)) AS centroid
       |  FROM (
       |    SELECT label, CAST(i.range AS INT) AS dim,
       |      CAST(SUM(CAST(CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)
       |        AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
       |    FROM embeddings, range(1, 65) i
       |    WHERE vec_id % $BATCH_MOD <> 0 GROUP BY 1, 2)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, embedding, c_label AS label, 'batch' AS src
       |  FROM (
       |    SELECT b.vec_id, b.embedding, c.label AS c_label,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${Udfs.sqlRnd6(assignCos)} DESC, c.label ASC) AS ark
       |    FROM embeddings b, cent c
       |    WHERE b.vec_id % $BATCH_MOD = 0)
       |  WHERE ark = 1),
       |idx AS (
       |  SELECT vec_id, embedding, label, 'base' AS src
       |  FROM embeddings WHERE vec_id % $BATCH_MOD <> 0
       |  UNION ALL SELECT vec_id, embedding, label, src FROM assigned),
       |probed AS (
       |  SELECT query_id, c_label FROM (
       |    SELECT q.vec_id AS query_id, c.label AS c_label,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Udfs.sqlRnd6(probeCos)} DESC, c.label ASC) AS prk
       |    FROM embeddings q, cent c
       |    WHERE q.vec_id < $N_QUERIES) WHERE prk <= $NPROBE),
       |ranked AS (
       |  SELECT q.vec_id AS query_id, i.vec_id, i.src,
       |    ${Udfs.sqlRnd6(scanCos)} AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${Udfs.sqlRnd6(scanCos)} DESC, i.vec_id ASC) AS rk
       |  FROM idx i
       |  JOIN embeddings q ON q.vec_id < $N_QUERIES AND i.vec_id <> q.vec_id
       |  JOIN probed p ON p.query_id = q.vec_id AND p.c_label = i.label)
       |SELECT query_id, vec_id, src, cos_sim, rk
       |FROM ranked WHERE rk <= $TOP_K
       |ORDER BY query_id, rk""".stripMargin
  }
  // ------------------------------------------------------------------
  // HNSW-class GRAPH ANN (SURVEY §2.13): a hierarchical navigable
  // small-world index built and searched with DataFrame algebra.
  // ------------------------------------------------------------------

  private val HNSW_M = 8            // neighbors kept per node per level
  private val HNSW_EF = 24          // beam width at the base layer
  private val HNSW_LEVELS = 3       // layers 0..2 (geometric occupancy)
  private val HNSW_ROUNDS = 3       // expansion rounds at the base layer
  // planes per level: fewer planes as layers thin, so candidate-
  // bucket occupancy stays roughly constant (the LSH invariant) —
  // a fixed plane count would leave upper layers ~1 node/bucket and
  // the hierarchy unnavigable
  private val HNSW_PLANES = Array(5, 4, 3)

  /** Seeded, plane-count-parameterized variant of [[lshSigExpr]] —
    * the graph build unions THREE independent plane sets per layer so
    * candidate edges are not hostage to one hashing accident (the
    * standard multi-table LSH recall knob). Unlike [[lshSigExpr]]
    * this one has NO cross-engine oracle to satisfy, so the
    * projection runs in fixed-point LONG arithmetic (values scaled by
    * 2^20, truncated deterministically; |sum| < 2^33, no overflow) —
    * two orders of magnitude cheaper than the decimal(30,12) fold the
    * oracle-paired LSH keys must use, and just as deterministic. */
  private def hnswSigExpr(col: String, seed: Int, planes: Int): String =
    s"""aggregate(sequence(0, ${planes - 1}), cast(0 as bigint), (acc, p) ->
       |  acc + (CASE WHEN aggregate(sequence(1, 64), cast(0 as bigint),
       |      (a, i) -> a + cast(cast(element_at($col, i) as double)
       |          * 1048576.0 as bigint)
       |        * (((p * 1000003 + i * 7919 + $seed * 31337) % 97) - 48)) >= 0
       |    THEN shiftleft(cast(1 as bigint), p) ELSE cast(0 as bigint) END))""".stripMargin

  /** Deterministic HNSW level of a vector: trailing-zero count of an
    * integer hash of vec_id, capped — the geometric level law (half
    * the nodes per extra layer) without RNG, so builds are
    * reproducible across runs and engines. */
  private def hnswLevelCol = {
    val h = expr("abs(hash(vec_id))")
    least(
      when(h % 8 === 0, lit(2)).when(h % 2 === 0, lit(1)).otherwise(lit(0)),
      lit(HNSW_LEVELS - 1)).as("level")
  }

  /** HNSW-CLASS GRAPH ANN — the graph-index family next to IVF
    * ([[simsearchIvf]]), LSH ([[simsearchLsh]]) and PQ
    * ([[simsearchPq]]). Spark-first construction:
    *
    *  - **Levels**: deterministic hash-geometric layer assignment
    *    (no RNG — rebuilds are identical).
    *  - **Edges**: per layer, candidate pairs come from TWO seeded
    *    LSH bucket equi-joins over that layer's members (never
    *    all-pairs — the same banded-candidate discipline as the
    *    dedup LSH), each node keeping its [[HNSW_M]] best neighbors
    *    by exact cosine; edges are then symmetrized. Build cost is
    *    one bucket join + one top-M window per layer.
    *  - **Search**: beam descent — enter at the top layer's global
    *    entry point, then per layer run [[HNSW_ROUNDS]] rounds of
    *    frontier-expand-score-prune (beam 1 above the base layer,
    *    [[HNSW_EF]] at layer 0), every step a frontier⋈edges join
    *    plus a per-query top-beam window. The driver loop carries
    *    only loop CONTROL; candidate sets live in DataFrames
    *    throughout (per-round localCheckpoint pins lineage).
    *
    * Scale notes (100 TB): the edge table is n×M rows partitioned by
    * source node — the search's frontier join shuffles the FRONTIER
    * (queries × beam), never the graph; layer sizes halve per level
    * so upper-layer joins are noise. Search latency is
    * O(levels + rounds) joins regardless of corpus size — the whole
    * point of the navigable-small-world family. Approximation lives
    * in recall only: the math is the codegen'd exact cosine with
    * rnd6 + vec_id tiebreaks, so results are deterministic and
    * Round14Spec gates mean recall@k against the brute-force truth
    * (the [[simsearchRecall]] pattern; no SQL oracle — a multi-round
    * graph traversal has no single-query DuckDB twin, the same class
    * as ALS).
    */
  def simsearchHnsw(spark: SparkSession, sfDir: String): DataFrame =
    // the build/search frames are (corpus × M) and (queries × EF)
    // rows — 32 shuffle partitions would be pure per-round fixed
    // overhead across the ~9 iterative jobs, and AQE would re-plan
    // every stage of the ~10 iterative jobs: pure driver latency on
    // frames this small (measured: the search is job-count-bound, not
    // data-bound). A 100 TB run wants AQE back ON for the build (skew
    // in bucket joins); the search's per-round frames stay beam-sized
    // at any corpus scale.
    graft.engine.QuerySession(spark,
        graft.engine.QuerySession.SmallIterative) { spark =>
      graft.functions.CosineSim.register(spark)
      simsearchHnswInner(spark, sfDir)
    }

  private def simsearchHnswInner(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    // NOT checkpointed: allSigs (below) carries vec_id/embedding/level
    // and is the single pinned corpus pass — a separate nodes pin was
    // one more sequential job for data allSigs already holds. The
    // repartition spreads the 9 signature folds across cores: the
    // fixture parquet arrives as ~1 input split, which would run the
    // build's only CPU-heavy expression single-threaded.
    val nodes0 = e.select($"vec_id", $"embedding")
      .repartition(32)
      .withColumn("level", hnswLevelCol)

    // --- build: per layer, LSH-candidate top-M edges, symmetrized.
    // ALL (level, seed) signatures — 9 fixed-point folds — project in
    // ONE pinned pass over the corpus (the build is JOB-COUNT-bound
    // at fixture scale: every localCheckpoint is a Spark job, so sigs
    // for every layer ride one job instead of three).
    val allSigs = nodes0.select(
      $"vec_id" +: $"embedding" +: $"level" +:
        (for (l <- 0 until HNSW_LEVELS; s <- 0 until 3) yield
          expr(hnswSigExpr("embedding", s, HNSW_PLANES(l)))
            .as(s"b_${l}_$s")): _*)
      .localCheckpoint(true)
    val nodes = allSigs.select($"vec_id", $"embedding", $"level")
    // every layer's edge list builds in ONE JOIN (round-10: the nine
    // per-(level, seed) bucket self-joins + unions were nine shuffle
    // stages on frames that key fine together — membership explodes
    // to (lvl, seed, bucket) rows and one equi-join on that composite
    // key produces every layer's candidate pairs; job count and stage
    // count, not data volume, are the fixture-scale cost, and at
    // 100 TB one wide shuffle beats nine narrow sequential ones)
    val mem = allSigs.select($"vec_id", $"level",
        explode(array((for (l <- 0 until HNSW_LEVELS; s <- 0 until 3)
          yield struct(lit(l).as("lvl"), lit(s).as("seed"),
            col(s"b_${l}_$s").as("b"))): _*)).as("k"))
      .filter($"level" >= $"k.lvl")
      .select($"vec_id", $"k.lvl".as("lvl"),
        $"k.seed".as("seed"), $"k.b".as("b"))
    // the bucket join moves IDS ONLY (no 64-float array ever rides
    // the candidate shuffle); the vectors come back for scoring via
    // two BROADCAST joins against the pinned corpus — at fixture
    // scale the corpus broadcasts whole, at 100 TB this becomes a
    // shuffle join by id (same plan shape, bigger exchange) while
    // the id-only candidate join stays narrow either way
    val embB = broadcast(allSigs.select($"vec_id", $"embedding"))
    val candAll = mem.select($"lvl", $"seed", $"b", $"vec_id".as("src"))
      .join(mem.select($"lvl", $"seed", $"b", $"vec_id".as("dst")),
        Seq("lvl", "seed", "b"))
      .filter($"src" =!= $"dst")
      .dropDuplicates("lvl", "src", "dst")
      .join(embB.select($"vec_id".as("src"), $"embedding".as("sv")),
        Seq("src"))
      .join(embB.select($"vec_id".as("dst"), $"embedding".as("dv")),
        Seq("dst"))
      .select($"lvl", $"src", $"dst",
        rnd6(expr("graft_cosine_sim(sv, dv)")).as("sim"))
    val wM = Window.partitionBy($"lvl", $"src")
      .orderBy($"sim".desc, $"dst".asc)
    val topM = candAll
      .withColumn("rk", row_number().over(wM))
      .filter($"rk" <= HNSW_M)
      .select($"src", $"dst", $"lvl")
    // symmetrize: HNSW links are bidirectional (at 100 TB re-cap
    // the reversed side at M too; fixture layers are small)
    val allEdges = topM
      .unionByName(topM.select($"dst".as("src"), $"src".as("dst"), $"lvl"))
      .dropDuplicates("lvl", "src", "dst")
      .localCheckpoint(true)
    val edgesByLevel: Map[Int, DataFrame] = (0 until HNSW_LEVELS)
      .map(l => l -> allEdges.filter($"lvl" === l).drop("lvl")).toMap

    // --- UPPER-LAYER DESCENT, DRIVER-LOCAL (round-10): levels ≥ 1
    // exist only to steer the search into the right region — exactly
    // the part of an HNSW index every real deployment keeps
    // MEMORY-RESIDENT next to the router (IVF's centroids-in-driver
    // analogue), while the base layer stays distributed. The collect
    // is CAPPED (deterministic lowest-vec_id subset), so entry cost
    // is O(cap), not O(corpus); the cap covers the fixture's upper
    // layers entirely and at 100 TB bounds the router's memory the
    // way a production index sizes its in-RAM top layers. This
    // replaced two distributed beam rounds (two Spark jobs) with
    // zero — the search now spends ALL its jobs at the base layer
    // where recall is won.
    // query vectors pin once; the same 8 rows broadcast into every
    // distributed scoring join and collect for the driver descent
    val q = e.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .localCheckpoint(true)
    val upperCap = 4096
    val upperNodes = nodes.filter($"level" >= 1)
      .orderBy($"vec_id").limit(upperCap)
      .select($"vec_id", $"level", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    val upperIds = upperNodes.map(_._1).toSet
    val upperVec = upperNodes.map(t => t._1 -> t._3).toMap
    // the cap is pushed INTO the edge collect (both endpoints must be
    // capped nodes), so driver memory is bounded by O(cap × M) even
    // when the upper layers far exceed the cap — collecting all upper
    // edges and filtering after would be O(upper-nodes × M)
    val upperIdSeq = upperNodes.map(_._1).toSeq
    val upperAdj: Map[Int, Map[Long, Seq[Long]]] =
      allEdges.filter($"lvl" >= 1 &&
          $"src".isInCollection(upperIdSeq) &&
          $"dst".isInCollection(upperIdSeq))
        .collect()
        .map(r => (r.getInt(2), r.getLong(0), r.getLong(1)))
        .groupBy(_._1)
        .map { case (l, es) =>
          l -> es.groupBy(_._2).map { case (s, ds) =>
            s -> ds.map(_._3).toSeq
          }
        }
    val qVecs = q.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val topEntries = upperNodes.filter(_._2 == HNSW_LEVELS - 1)
      .map(_._1).sorted.take(8).toSeq match {
      case Seq() => upperNodes.map(_._1).sorted.take(1).toSeq
      case es => es
    }
    // per query: one greedy beam hop per upper level (beam 4 — the
    // budget the distributed rounds spent), but EVERY candidate the
    // descent scored stays in the accumulated set and the best EF of
    // them seed the base layer — the distributed version kept its
    // upper-layer candidates in `visited` the same way, and recall
    // depends on that breadth
    val seeds: Seq[(Long, Long)] = qVecs.toSeq.flatMap { case (qid, qv) =>
      var beamSet: Seq[Long] = topEntries
      var scored: Map[Long, Double] =
        topEntries.map(n => n -> cosine(upperVec(n), qv)).toMap
      ((HNSW_LEVELS - 1) to 1 by -1).foreach { l =>
        val adj = upperAdj.getOrElse(l, Map.empty)
        val cand = (beamSet ++ beamSet.flatMap(n =>
          adj.getOrElse(n, Seq.empty))).distinct
        val ranked = cand
          .map(n => (n, scored.getOrElse(n, cosine(upperVec(n), qv))))
        scored = scored ++ ranked
        beamSet = ranked.sortBy { case (n, s) => (-s, n) }
          .take(4).map(_._1)
      }
      scored.toSeq.sortBy { case (n, s) => (-s, n) }
        .take(HNSW_EF).map(qid -> _._1)
    }

    // beam frames carry (query_id, node, sim) ONLY — the query
    // vectors join in at scoring time (broadcast: N_QUERIES rows),
    // so no 64-float array ever rides a beam shuffle
    val emb = nodes.select($"vec_id".as("nid"), $"embedding".as("nv"))
    def score(cands: DataFrame): DataFrame =
      cands.join(emb, $"node" === $"nid")
        .join(broadcast(q), Seq("query_id"))
        .select($"query_id", $"node",
          rnd6(expr("graft_cosine_sim(nv, qv)")).as("sim"))

    // --- base-layer search: EF-wide beam, all rounds distributed,
    // entered at the driver-descent seeds
    var visited = score(
      broadcast(seeds.toDF("query_id", "node")))
      .localCheckpoint(true)
    val wBeam = Window.partitionBy($"query_id")
      .orderBy($"sim".desc, $"node".asc)
    (1 to HNSW_ROUNDS).foreach { r =>
      val frontier = visited
        .withColumn("rk", row_number().over(wBeam))
        .filter($"rk" <= HNSW_EF)
        .select($"query_id", $"node")
      val expanded = frontier
        .join(edgesByLevel(0), $"node" === $"src")
        .select($"query_id", $"dst".as("node"))
        .dropDuplicates("query_id", "node")
      val _ = r
      // per-round pin: without it every later round (and the final
      // query) re-executes the whole prior search lineage — the
      // iterative-loop rule, measured: dropping these pins COST
      // time despite running fewer checkpoint jobs
      visited = score(expanded)
        .unionByName(visited)
        .dropDuplicates("query_id", "node")
        .withColumn("rk", row_number().over(wBeam))
        .filter($"rk" <= HNSW_EF)
        .select($"query_id", $"node", $"sim")
        .localCheckpoint(true)
    }
    val wK = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
    visited.filter($"node" =!= $"query_id")
      .select($"query_id", $"node".as("vec_id"), $"sim".as("cos_sim"))
      .withColumn("rk", row_number().over(wK))
      .filter($"rk" <= TOP_K)
      .orderBy($"query_id", $"rk")
  }
}
