package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, QuerySession, Tables}
import graft.functions.Udfs.{rnd6, sqlRnd6}

/** Deduplication family over `documents` (north-star LLM-pipeline
  * surface): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Cross-engine determinism: every hash is derived from md5 (identical
  * bytes in Spark and DuckDB) reduced to a 31/32-bit integer via
  * hex-prefix → integer, and every permutation is explicit integer
  * arithmetic mod 2^31−1 — no engine-native hash() anywhere, so each
  * operator has a full SQL twin.
  *
  * Scale notes (100 TB):
  * - Exact dedup is one hash-shuffle on the content key. At 100 TB,
  *   group on md5(text) instead of raw text so shuffle rows carry a
  *   16-byte key, not the document body.
  * - The n-gram/minhash self-joins are inverted-index joins: the join
  *   key is the shingle/band, so only docs sharing a key ever meet —
  *   never an all-pairs product. Hot shingles (stop-shingles) are the
  *   skew hazard: one corpus-universal trigram makes an O(df²) pair
  *   blowup on a single shuffle key. The cap is a doc-frequency
  *   ceiling — [[informativeShingles]] drops shingles present in more
  *   than half the corpus (df·2 > n_docs, integer-exact) from the
  *   dedup universe before any index join, mirrored in every dedup
  *   oracle CTE; AQE skew-join handles sub-ceiling residue.
  * - SimHash reduces each doc to 8 bytes map-side; near-pair search
  *   then bucketizes by bit-bands exactly like MinHash-LSH.
  */
object DedupOps {

  private val P31 = Int.MaxValue.toLong // 2^31 − 1, prime

  /** Spark-side token explode of lower(text) (whitespace tokens). */
  private def tokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
  }

  private val tokensCte =
    "toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)"

  /** Distinct 3-gram word shingles per doc with the hot-shingle
    * doc-frequency ceiling applied: shingles present in more than half
    * the corpus (df·2 > n_docs — integer arithmetic, so Spark and the
    * oracle agree exactly) are stop-shingles and are dropped from the
    * dedup universe, guarded by an absolute floor (df > 4) so a
    * handful-of-docs corpus — where every legitimately shared shingle
    * exceeds half the corpus — never loses its dup signal. A shingle
    * universe keeps LSH bands discriminative
    * even over a tiny vocabulary, where raw token sets would collide
    * almost everywhere; the ceiling is what keeps the inverted-index
    * self-join from exploding O(df²) on one corpus-universal trigram
    * at 100 TB. The hot list is by construction tiny (each hot shingle
    * needs > n_docs/2 occurrences, so there are < 2·(shingles/doc) of
    * them), so the exclusion is a broadcast anti-join — map-side, no
    * extra shuffle of the index. Takes the documents DataFrame (not a
    * path) so specs can feed a synthetic hot-shingle corpus. */
  /** Distinct 3-gram shingles per doc, NO frequency ceiling — the
    * universe for operators that must see common shingles too
    * (contamination scoring scores against a benchmark regardless of
    * how corpus-frequent an n-gram is). */
  private[graft] def rawShingles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", split(lower($"text"), " ").as("t"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(t) >= 3
          |  THEN transform(sequence(0, size(t) - 3),
          |         i -> concat_ws(' ', element_at(t, i+1), element_at(t, i+2), element_at(t, i+3)))
          |  ELSE cast(array() as array<string>) END""".stripMargin)).as("shingle"))
      .distinct()
  }

  private[graft] def informativeShingles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val raw = rawShingles(docs)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val hot = raw.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .crossJoin(nDocs) // 1-row broadcast
      .filter($"df" * 2 > $"n_docs" && $"df" > 4)
      .select($"shingle")
    raw.join(hot, Seq("shingle"), "left_anti")
      .select($"doc_id", $"shingle")
  }

  private def shingles(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "shingles") {
      informativeShingles(Tables.documents(spark, sfDir))
    }

  private val shinglesCte =
    """pt AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |  FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT a.doc_id,
      |    a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      |  FROM pt a
      |  JOIN pt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN pt c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
      |sh AS (
      |  SELECT doc_id, shingle FROM sh0
      |  WHERE shingle NOT IN (
      |    SELECT shingle FROM sh0 GROUP BY shingle
      |    HAVING count(*) * 2 > (SELECT count(*) FROM documents)
      |      AND count(*) > 4))""".stripMargin

  /** Exact dedup: deterministic survivor = min(doc_id) per content key
    * (the 100 TB form: group on md5, not the body). */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(md5(encode($"text", "UTF-8")).as("text_md5"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies", $"text_md5")
      .orderBy($"doc_id")
  }

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
      |  md5(text) AS text_md5
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** Exact dedup after TEXT NORMALIZATION (lowercase, strip
    * non-alphanumerics, collapse whitespace) — the first rung between
    * byte-exact and near-dup: catches re-capitalized / re-punctuated /
    * re-wrapped copies for the cost of a map-side projection on top of
    * [[dedupExact]]'s single hash-shuffle. The normalization regexes
    * stay in the RE2 ∩ Java common subset; DuckDB's replace needs the
    * 'g' flag to match Spark's replace-all default. */
  def dedupExactNorm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " ")))
      .groupBy(md5(encode($"norm", "UTF-8")).as("norm_md5"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies", $"norm_md5")
      .orderBy($"doc_id")
  }

  val dedupExactNormSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
      |FROM documents
      |GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
      |  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
      |ORDER BY doc_id""".stripMargin

  /** Pairs sharing ≥1 shingle, with shared count and each side's
    * shingle-set size — ONE inverted-index self-join feeding both the
    * Jaccard family ([[nearPairs]]) and the containment detector
    * ([[dedupContainment]], which needs pairs a Jaccard threshold
    * would discard: a small doc fully inside a big one). */
  private def sharedPairs(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "sharedPairs") {
      import spark.implicits._
      val sh = shingles(spark, sfDir)
      val counts = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val a = sh.select($"doc_id".as("doc_a"), $"shingle")
      val b = sh.select($"doc_id".as("doc_b"), $"shingle".as("sh_b"))
      a.join(b, $"shingle" === $"sh_b" && $"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
        .join(counts.select($"doc_id".as("doc_a"), $"n_sh".as("na")), "doc_a")
        .join(counts.select($"doc_id".as("doc_b"), $"n_sh".as("nb")), "doc_b")
        .select($"doc_a", $"doc_b", $"shared", $"na", $"nb")
    }

  /** Unsorted near-dup pair stream (3-gram Jaccard ≥ 0.1 through the
    * inverted shingle index) — shared by [[dedupNear]] and the
    * connected-components clustering in [[dedupCluster]]. */
  private def nearPairs(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "nearPairs") {
      import spark.implicits._
      sharedPairs(spark, sfDir)
        .select($"doc_a", $"doc_b", $"shared",
          rnd6($"shared" / ($"na" + $"nb" - $"shared")).as("jaccard"))
        .filter($"jaccard" >= 0.1)
    }

  /** Near-dup by exact 3-gram (word-shingle) Jaccard ≥ 0.1 via an
    * inverted shingle index (SURVEY.md §2.11 `q_dedup_near`). */
  def dedupNear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    nearPairs(spark, sfDir).orderBy($"doc_a", $"doc_b")
  }

  val dedupNearSql: String =
    s"""WITH $shinglesCte,
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b, s.shared,
       |  ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} AS jaccard
       |FROM shared s
       |JOIN counts ca ON s.doc_a = ca.doc_id
       |JOIN counts cb ON s.doc_b = cb.doc_id
       |WHERE ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} >= 0.1
       |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** Shingle containment (Broder's resemblance companion):
    * C = shared / min(|A|, |B|) ≥ 0.8 — catches a short document
    * embedded verbatim in a long one, which Jaccard structurally
    * misses (|A∩B|/|A∪B| stays small when |B| ≫ |A|). The standard
    * quote/boilerplate-inclusion detector in crawl pipelines, and at
    * 100 TB it is FREE given the Jaccard family: both read the same
    * [[sharedPairs]] self-join, so adding containment adds zero
    * shuffles. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sharedPairs(spark, sfDir)
      .select($"doc_a", $"doc_b", $"shared",
        rnd6($"shared" / least($"na", $"nb")).as("containment"))
      .filter($"containment" >= 0.8)
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupContainmentSql: String =
    s"""WITH $shinglesCte,
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b, s.shared,
       |  ${sqlRnd6("s.shared / least(ca.n_sh, cb.n_sh)")} AS containment
       |FROM shared s
       |JOIN counts ca ON s.doc_a = ca.doc_id
       |JOIN counts cb ON s.doc_b = cb.doc_id
       |WHERE ${sqlRnd6("s.shared / least(ca.n_sh, cb.n_sh)")} >= 0.8
       |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** MinHash(8 permutations) + LSH(4 bands × 2 rows) near-dup, fully
    * deterministic: 3-gram shingle → md5-hex-prefix → 31-bit int;
    * permutation j is (a_j·h + b_j) mod 2^31−1. Candidate pairs share
    * ≥1 band; verification is exact shingle Jaccard. */
  /** (doc_id, band, bkey) LSH band keys for an arbitrary
    * (doc_id, shingle) set — the 8-permutation MinHash signature
    * banded 4×2, shared by the self-join ([[dedupMinhashLsh]]) and
    * the asymmetric batch-vs-corpus join ([[dedupIncremental]]). */
  private def lshBands(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val toks = sh
      .withColumn("h", expr(s"cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint) % $P31"))
    // 8 permutations as pivoted min-hash columns m0..m7
    val perms = (0 until 8).map { j =>
      val a = (1103515245L * (j + 1)) % P31
      val b = (12345L * (j + 1)) % P31
      min(expr(s"($a * h + $b) % $P31")).as(s"m$j")
    }
    val sig = toks.groupBy($"doc_id").agg(perms.head, perms.tail: _*)
    sig.select($"doc_id", explode(expr(
      """array(
        |  named_struct('band', 0, 'key', concat(m0, '-', m1)),
        |  named_struct('band', 1, 'key', concat(m2, '-', m3)),
        |  named_struct('band', 2, 'key', concat(m4, '-', m5)),
        |  named_struct('band', 3, 'key', concat(m6, '-', m7)))""".stripMargin)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("bkey"))
  }

  def dedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = lshBands(shingles(spark, sfDir))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
    // verify candidates with exact shingle Jaccard
    val tk = shingles(spark, sfDir)
    val nTok = tk.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
    val shared = cand
      .join(tk.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
      .join(tk.select($"doc_id".as("doc_b"), $"shingle".as("sh_b")), "doc_b")
      .filter($"shingle" === $"sh_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
    shared
      .join(nTok.select($"doc_id".as("doc_a"), $"nt".as("na")), "doc_a")
      .join(nTok.select($"doc_id".as("doc_b"), $"nt".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b",
        rnd6($"shared" / ($"na" + $"nb" - $"shared")).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupMinhashLshSql: String = {
    val perms = (0 until 8).map { j =>
      val a = (1103515245L * (j + 1)) % P31
      val b = (12345L * (j + 1)) % P31
      s"min(($a * h + $b) % $P31) AS m$j"
    }.mkString(", ")
    s"""WITH $shinglesCte,
       |th AS (SELECT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $P31 AS h FROM sh),
       |sig AS (SELECT doc_id, $perms FROM th GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, m0 || '-' || m1 AS bkey FROM sig UNION ALL
       |  SELECT doc_id, 1, m2 || '-' || m3 FROM sig UNION ALL
       |  SELECT doc_id, 2, m4 || '-' || m5 FROM sig UNION ALL
       |  SELECT doc_id, 3, m6 || '-' || m7 FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |nt AS (SELECT doc_id, count(*) AS nt FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b,
       |  ${sqlRnd6("s.shared / (na.nt + nb.nt - s.shared)")} AS jaccard
       |FROM shared s
       |JOIN nt na ON s.doc_a = na.doc_id
       |JOIN nt nb ON s.doc_b = nb.doc_id
       |ORDER BY s.doc_a, s.doc_b""".stripMargin
  }

  /** 32-bit SimHash per document (tf-weighted ±1 votes per bit of the
    * md5-derived token hash). Near-pair search over the signatures is
    * band-bucketed exactly like MinHash-LSH; here the per-doc
    * signature is the verified output. */
  private def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "simhashSigs") {
      import spark.implicits._
      tokens(spark, sfDir)
        .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
        .select($"doc_id", $"h", explode(expr("sequence(0, 31)")).as("j"))
        .groupBy($"doc_id", $"j")
        .agg(sum(expr("CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END")).as("vote"))
        .groupBy($"doc_id")
        .agg(sum(expr("CASE WHEN vote > 0 THEN cast(pow(2, j) as bigint) ELSE 0 END")).as("simhash"))
    }

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    simhashSigs(spark, sfDir).orderBy($"doc_id")
  }

  /** Signature CTE chain shared by the SimHash query pair: per-doc
    * 32-bit signature as `sims(doc_id, simhash)`. */
  private val simhashCtesSql: String =
    s"""$tokensCte,
       |th AS (SELECT doc_id,
       |  CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, CAST(j.range AS INT) AS j,
       |    SUM(CASE WHEN (h >> CAST(j.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, range(0, 32) j GROUP BY 1, 2),
       |sims AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  val dedupSimhashSql: String =
    s"""WITH $simhashCtesSql
       |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin

  /** SimHash near-pair SEARCH (completing the signature step above,
    * which previously only promised it in prose): band the 32-bit
    * signature into 4 bytes; hamming distance ≤ 3 guarantees at least
    * one band byte equal (pigeonhole), so candidates are byte-bucket
    * collisions only — never an all-pairs product, the same
    * bucket-then-verify shape as MinHash-LSH but with a zero-shuffle
    * map-side signature. Verification is the exact popcount of the
    * XOR. */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sig = simhashSigs(spark, sfDir)
    val bands = sig.select($"doc_id", $"simhash",
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr("(simhash >> (8 * band)) & 255"))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        $"x.simhash".as("sa"), $"y.simhash".as("sb"))
      .distinct()
    cand.withColumn("hamming", expr("cast(bit_count(sa ^ sb) as int)"))
      .filter($"hamming" <= 3)
      .select($"doc_a", $"doc_b", $"hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupSimhashPairsSql: String =
    s"""WITH $simhashCtesSql,
       |bands AS (
       |  SELECT doc_id, simhash, CAST(b.range AS INT) AS band,
       |    (simhash >> (8 * CAST(b.range AS INT))) & 255 AS bkey
       |  FROM sims, range(0, 4) b),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over the near-dup graph: each document gets
    * a cluster_id = min(doc_id reachable through Jaccard ≥ 0.1 edges),
    * singletons map to themselves — the step that turns PAIRS into
    * dedup GROUPS (keep one survivor per cluster, not per pair: pair-
    * wise dedup alone would keep B of A~B and C of B~C even though
    * A~B~C is one duplicate family).
    *
    * Algorithm: hash-min label propagation — iterate "label :=
    * min(label, neighbors' labels)" to fixpoint. Each round is one
    * join + one min-aggregation, both shuffling on doc_id; rounds
    * needed = component diameter. Near-dup families are shallow (a
    * handful of variants of one document), so this converges in 2-3
    * rounds here. At 100 TB-with-deep-components scale the same
    * skeleton upgrades to the large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14), which converges in O(log n) rounds with the identical
    * join+min building blocks. The loop is DRIVER-side control flow
    * over DISTRIBUTED steps: the only driver-local value is the
    * converged? count, never data.
    *
    * The oracle computes the same fixpoint as a recursive-CTE
    * reachability closure + min — tractable because the closure is
    * bounded by component size, and exact because hash-min's fixpoint
    * IS min-over-reachable-set. */
  /** Converged hash-min labels, cached per (app, sfDir): the SAME
    * convergence loop feeds [[dedupCluster]] and [[dedupSurvivors]] —
    * without this each would pay its own fixpoint iteration. */
  private def clusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    DfCache(spark, sfDir, "clusterLabels") {
      import spark.implicits._
      hashMinLabels(
        Tables.documents(spark, sfDir).select($"doc_id"),
        nearPairs(spark, sfDir).select($"doc_a", $"doc_b"))
    }

  def dedupCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, sfDir).orderBy($"doc_id")
  }

  /** The hash-min propagation loop behind [[dedupCluster]], over an
    * arbitrary (docs, undirected pair) graph so specs can drive it with
    * synthetic deep components (a path graph needs diameter rounds —
    * the worst case the fixture's shallow dup families never reach).
    * Each generation is an EAGER localCheckpoint, not a plain persist:
    * every round references the previous labels twice (once in the
    * union, once under the edge join), so an un-truncated logical plan
    * DOUBLES per round — by round ~10 Catalyst analysis and AQE's plan
    * stringification dominate (and can OOM on) the actual data work,
    * which a persist alone does not prevent because persisted frames
    * keep their full lineage. localCheckpoint materializes to executor
    * storage (which the per-round convergence count pays for anyway)
    * and cuts the plan to a leaf; at cluster scale with flaky
    * executors, `checkpoint()` to reliable storage is the swap-in. */
  private[graft] def hashMinLabels(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = pairs.union(
      pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = docs.select($"doc_id", $"doc_id".as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var converged = false
      var rounds = 0
      while (!converged && rounds < 50) {
        val viaEdges = edges
          .join(labels.select($"doc_id".as("doc_a"), $"label"), "doc_a")
          .select($"doc_b".as("doc_id"), $"label")
        val next = labels.select($"doc_id", $"label").union(viaEdges)
          .groupBy($"doc_id").agg(min($"label").as("label"))
          .localCheckpoint(true)
        val changed = next.join(
            labels.select($"doc_id".as("od"), $"label".as("ol")),
            $"doc_id" === $"od")
          .filter($"label" =!= $"ol").count()
        labels.unpersist()
        labels = next
        converged = changed == 0
        rounds += 1
      }
      val sizes = labels.groupBy($"label".as("cl"))
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, $"label" === $"cl")
        .select($"doc_id", $"label".as("cluster_id"), $"cluster_size")
    } finally edges.unpersist()
  }

  /** Shared CTE chain for the clustering oracles: near-pair edges →
    * recursive reachability closure → min-label components + sizes. */
  private val clusterCtesSql: String =
    s"""WITH RECURSIVE $shinglesCte,
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT s.doc_a, s.doc_b
       |  FROM shared s
       |  JOIN counts ca ON s.doc_a = ca.doc_id
       |  JOIN counts cb ON s.doc_b = cb.doc_id
       |  WHERE ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} >= 0.1),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size
       |  FROM comp GROUP BY cluster_id)""".stripMargin

  val dedupClusterSql: String =
    s"""$clusterCtesSql
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c JOIN sizes s USING (cluster_id)
       |ORDER BY c.doc_id""".stripMargin

  /** Near-dup family size distribution — the corpus-health histogram
    * ("how much of the lake is boilerplate families vs singletons")
    * an ingestion dashboard tracks release over release. Rides the
    * SAME cached cluster labels as [[dedupCluster]]/[[dedupSurvivors]]
    * (no extra fixpoint); the distribution itself is two bounded
    * aggregations — per-cluster rows collapse to one row per DISTINCT
    * family size, so output is O(max family size) whatever the corpus
    * holds. */
  def dedupFamilySizes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, sfDir)
      .select($"cluster_id", $"cluster_size").distinct()
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"))
      .orderBy($"cluster_size")
  }

  val dedupFamilySizesSql: String =
    s"""$clusterCtesSql
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |  cluster_size * COUNT(*) AS n_docs
       |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the deep-component upgrade to
    * [[hashMinLabels]]: hash-min needs DIAMETER rounds (a 10M-doc
    * chain of pairwise near-dups — common in crawl data with rolling
    * boilerplate — needs 10M rounds), while star contraction converges
    * in O(log n) rounds regardless of diameter, using the same
    * join+min building blocks.
    *
    * Edges are kept canonical (hi > lo). Large-star: every node u
    * re-points its LARGER neighbors at m = min(Γ(u) ∪ {u}) — one
    * groupBy(u) + join, shuffling on u. Small-star: every hi re-points
    * its smaller neighbors (and itself) at m = min(its lo's). Both
    * preserve connectivity and monotonically pull components onto
    * their minimum; at the fixpoint every edge is (node, component
    * root) — a star. Convergence is detected with exact symmetric
    * set difference (two anti-joins), never a lossy checksum; the
    * only driver-side values are per-round counts. Per-round eager
    * localCheckpoints cut the doubling lineage exactly as in
    * [[hashMinLabels]].
    *
    * Registered as `q_dedup_cluster_star` against the SAME recursive-
    * CTE oracle as `q_dedup_cluster`: both must produce the identical
    * min-reachable labeling — an algorithm-level differential test,
    * not just a property check. */
  private[graft] def largeSmallStarLabels(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def canon(df: DataFrame): DataFrame = df
      .select(greatest($"doc_a", $"doc_b").as("hi"),
        least($"doc_a", $"doc_b").as("lo"))
      .filter($"hi" =!= $"lo").distinct()
    var edges = canon(pairs).localCheckpoint(true)
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged && rounds < 50) {
      // large-star: neighborhoods in both directions
      val nbrs = edges.select($"hi".as("u"), $"lo".as("v"))
        .union(edges.select($"lo".as("u"), $"hi".as("v")))
      val mins = nbrs.groupBy($"u")
        .agg(least(min($"v"), first($"u")).as("m"))
      val large = nbrs.join(mins, "u").filter($"v" > $"u")
        .select($"v".as("doc_a"), $"m".as("doc_b"))
      val afterLarge = canon(large).localCheckpoint(true)
      // small-star: each hi re-points {its lo's} ∪ {itself} at min(lo)
      val smins = afterLarge.groupBy($"hi").agg(min($"lo").as("m"))
      val small = afterLarge.join(smins, "hi")
        .select($"lo".as("doc_a"), $"m".as("doc_b"))
        .union(smins.select($"hi".as("doc_a"), $"m".as("doc_b")))
      val next = canon(small).localCheckpoint(true)
      val changed =
        next.join(edges, Seq("hi", "lo"), "left_anti").count() +
          edges.join(next, Seq("hi", "lo"), "left_anti").count()
      edges = next
      converged = changed == 0
      rounds += 1
    }
    val labels = docs.select($"doc_id")
      .join(edges.select($"hi".as("doc_id"), $"lo".as("root")), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"root", $"doc_id").as("label"))
    val sizes = labels.groupBy($"label".as("cl"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, $"label" === $"cl")
      .select($"doc_id", $"label".as("cluster_id"), $"cluster_size")
  }

  /** [[dedupCluster]] with the star-contraction backend — same pair
    * graph, same output contract, O(log n) rounds instead of
    * O(diameter). */
  def dedupClusterStar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val pairs = nearPairs(spark, sfDir).select($"doc_a", $"doc_b")
    largeSmallStarLabels(docs, pairs).orderBy($"doc_id")
  }

  val dedupClusterStarSql: String = dedupClusterSql

  /** The dedup pipeline's actual DELIVERABLE: the corpus after
    * near-dup removal — one survivor (the cluster minimum, matching
    * [[dedupExact]]'s deterministic min-id rule) per connected
    * component, annotated with how many near-dups it absorbed. At
    * 100 TB this is the query a training-data pipeline materializes;
    * everything upstream (shingles, LSH, clustering) exists to make
    * this one cheap and correct. Survivor selection is a filter on the
    * labels (doc_id == cluster_id), not another aggregation — the
    * component root IS the min by construction. */
  def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    clusterLabels(spark, sfDir).filter($"doc_id" === $"cluster_id")
      .select($"doc_id", ($"cluster_size" - 1).as("n_dups_removed"))
      .join(docs.select($"doc_id", $"lang", $"n_chars"), "doc_id")
      .select($"doc_id", $"lang", $"n_chars", $"n_dups_removed")
      .orderBy($"doc_id")
  }

  val dedupSurvivorsSql: String =
    s"""$clusterCtesSql
       |SELECT c.doc_id, d.lang, d.n_chars,
       |  s.cluster_size - 1 AS n_dups_removed
       |FROM comp c
       |JOIN sizes s USING (cluster_id)
       |JOIN documents d ON d.doc_id = c.doc_id
       |WHERE c.doc_id = c.cluster_id
       |ORDER BY c.doc_id""".stripMargin

  /** Embedding-cosine near-dup, blocked by label (the IVF-style
    * blocking that replaces the all-pairs product at scale): pairs
    * within a block with cosine ≥ 0.3. Decimal-exact sums as in
    * [[UdfOps.udfCosine]]. */
  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val a = e.select($"label", $"vec_id".as("vec_a"), $"embedding".as("ea"))
    val b = e.select($"label".as("lb"), $"vec_id".as("vec_b"), $"embedding".as("eb"))
    a.join(b, $"label" === $"lb" && $"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b",
        rnd6(graft.functions.CosineSim(col("ea"), col("eb"))).as("cos_sim"))
      .filter($"cos_sim" >= 0.3)
      .orderBy($"label", $"vec_a", $"vec_b")
  }

  val dedupEmbedSql: String = {
    val cos = graft.functions.Udfs.sqlCosSimDbl("a.embedding", "b.embedding")
    s"""SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${sqlRnd6(cos)} AS cos_sim
       |FROM embeddings a
       |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${sqlRnd6(cos)} >= 0.3
       |ORDER BY a.label, vec_a, vec_b""".stripMargin
  }

  /** Approximate-membership INCREMENTAL dedup — the bloom-filter gate
    * an ingest pipeline runs before admitting a new batch into a
    * 100 TB corpus, where the exact-dedup equi-join against the full
    * corpus would shuffle corpus-sized data per increment. The corpus
    * side collapses to ONE broadcastable bitset (`stat.bloomFilter`, a
    * distributed treeAggregate — the public API over the same
    * BloomFilterAggregate Spark's runtime join filters use); the
    * incoming batch probes it map-side. Demo batch = genuinely-new
    * docs (`doc_id % 10 = 0`) UNION replayed corpus docs
    * (`doc_id % 7 = 0`, the redelivery case); output is per-cohort
    * (n, n_flagged). The bloom guarantees NO false negatives — every
    * replayed doc is flagged, so nothing already ingested slips
    * through — at a capped false-positive cost on new docs (which for
    * dedup only means a few new docs get the expensive exact check).
    * No oracle: the bitset's Murmur3 layout is Spark-specific and not
    * reproducible in DuckDB; the no-false-negative guarantee, the FP
    * bound, and run-to-run determinism are pinned in Round5Spec. The
    * probe is a broadcast-closure UDF — acceptable off the hot path;
    * the native upgrade is Spark's internal BloomFilterMightContain
    * expression, which is not public API. */
  def dedupBloom(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bloom = corpus.stat.bloomFilter("text", 100000L, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val probe = udf((t: String) => bc.value.mightContain(t))
    val batch = docs.filter($"doc_id" % 10 === 0)
      .withColumn("is_replayed", lit(false))
      .unionByName(corpus.filter($"doc_id" % 7 === 0)
        .withColumn("is_replayed", lit(true)))
    batch.select($"doc_id", $"is_replayed", probe($"text").as("flagged"))
      .groupBy($"is_replayed")
      .agg(count(lit(1)).as("n"), sum($"flagged".cast("long")).as("n_flagged"))
      .orderBy($"is_replayed")
  }

  /** Quality cut for [[pipelineFunnel]] — the fixture's median
    * composite quality, so the gate rejects a real share. Compared on
    * the rnd6'd score (identical rounding both engines, no float
    * boundary hazard). */
  private val FUNNEL_QUALITY_MIN = 0.66

  /** The cleaning pipeline END TO END as one query — the per-source
    * funnel report a training-data run publishes: raw docs → near-dup
    * SURVIVORS (the [[dedupSurvivors]] clustering) → composite quality
    * gate ([[TextOps.textQuality]]'s exact formula, cut at the
    * median) → final token budget per source. This is the composition
    * story: every stage is an already-oracled operator, chained in
    * one plan with one funnel aggregation at the end — what a user
    * actually materializes before [[graft.operators.SampleOps
    * .mixSources]] apportions the result.
    *
    * Scale shape: survivor labels ride the session-cached clustering
    * (shingle index + bucketed joins — never all-pairs); the quality
    * score is map-side arithmetic on each doc; the funnel is one
    * #sources-row aggregation with conditional sums. Nothing beyond
    * the (already-bounded) dedup chain touches more than one pass
    * over the corpus. */
  def pipelineFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val surv = clusterLabels(spark, sfDir)
      .filter($"doc_id" === $"cluster_id").select($"doc_id", lit(1).as("sv"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text",
        length($"text").as("nc"),
        size(split($"text", " ")).cast("long").as("ntok"),
        size(array_distinct(split(lower($"text"), " "))).as("nu"),
        expr("length(regexp_replace(text, '[a-z0-9 ]', ''))").as("np"))
      .withColumn("quality", rnd6(
        ($"nu" / $"ntok") * 0.4
          + least($"ntok" / 100.0, lit(1.0)) * 0.3
          + (lit(1.0) - $"np" / $"nc") * 0.3))
      .join(surv, Seq("doc_id"), "left")
      .withColumn("keep_dedup", $"sv".isNotNull)
      .withColumn("keep_final",
        $"keep_dedup" && $"quality" >= FUNNEL_QUALITY_MIN)
      .groupBy($"source")
      .agg(count(lit(1)).as("docs_in"),
        sum(when($"keep_dedup", 1L).otherwise(0L)).as("after_dedup"),
        sum(when($"keep_final", 1L).otherwise(0L)).as("after_quality"),
        sum(when($"keep_final", $"ntok").otherwise(0L)).as("tokens_final"))
      .orderBy($"source")
  }

  val pipelineFunnelSql: String =
    s"""$clusterCtesSql,
       |surv AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
       |scored AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok,
       |    ${sqlRnd6(
         "(len(list_distinct(string_split(lower(d.text), ' '))) " +
           "/ len(string_split(d.text, ' '))) * 0.4 " +
           "+ least(len(string_split(d.text, ' ')) / 100.0, 1.0) * 0.3 " +
           "+ (1.0 - length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) " +
           "/ length(d.text)) * 0.3")} AS quality,
       |    s.doc_id IS NOT NULL AS keep_dedup
       |  FROM documents d LEFT JOIN surv s USING (doc_id))
       |SELECT source, COUNT(*) AS docs_in,
       |  CAST(SUM(CASE WHEN keep_dedup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS after_dedup,
       |  CAST(SUM(CASE WHEN keep_dedup AND quality >= $FUNNEL_QUALITY_MIN
       |    THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
       |  CAST(SUM(CASE WHEN keep_dedup AND quality >= $FUNNEL_QUALITY_MIN
       |    THEN ntok ELSE 0 END) AS BIGINT) AS tokens_final
       |FROM scored GROUP BY 1 ORDER BY source""".stripMargin

  /** Quality-weighted survivorship: [[dedupSurvivors]] keeps the
    * min-id doc per near-dup cluster; real cleaning pipelines keep the
    * BEST copy (a crawl usually holds one clean rendering and N
    * boilerplate-mangled ones of the same page). Survivor = the
    * cluster member maximizing the composite quality score (exact
    * [[TextOps.textQuality]] formula, rnd6'd so the ordering key is
    * bit-identical cross-engine), doc_id ascending on ties. Selection
    * is a per-cluster row_number window — partitioned by cluster_id,
    * so no single-task window at any corpus size; the quality pass is
    * map-side over the corpus scan. */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val quality = Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(array_distinct(split(lower($"text"), " "))).as("nu"),
        size(split($"text", " ")).cast("long").as("ntok"),
        expr("length(regexp_replace(text, '[a-z0-9 ]', ''))").as("np"),
        length($"text").as("nc"))
      .select($"doc_id", rnd6(
        ($"nu" / $"ntok") * 0.4
          + least($"ntok" / 100.0, lit(1.0)) * 0.3
          + (lit(1.0) - $"np" / $"nc") * 0.3).as("quality"))
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality".desc, $"doc_id".asc)
    clusterLabels(spark, sfDir).join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"cluster_id", $"doc_id", $"quality",
        ($"cluster_size" - 1).as("n_dups_removed"))
      .orderBy($"cluster_id")
  }

  val dedupKeepBestSql: String =
    s"""$clusterCtesSql,
       |quality AS (
       |  SELECT doc_id, ${sqlRnd6(
      "(len(list_distinct(string_split(lower(text), ' '))) " +
        "/ len(string_split(text, ' '))) * 0.4 " +
        "+ least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.3 " +
        "+ (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) " +
        "/ length(text)) * 0.3")} AS quality
       |  FROM documents),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, q.quality, s.cluster_size,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.doc_id ASC) AS rk
       |  FROM comp c
       |  JOIN sizes s USING (cluster_id)
       |  JOIN quality q USING (doc_id))
       |SELECT cluster_id, doc_id, quality,
       |  cluster_size - 1 AS n_dups_removed
       |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** Prefix-filtered exact similarity join (SSJoin/PPJoin family,
    * Chaudhuri et al. ICDE'06; Xiao et al. WWW'08): raw-shingle
    * Jaccard ≥ 0.5 where the candidate index holds only each doc's
    * PREFIX — its |A| − ⌈t·|A|⌉ + 1 globally-rarest shingles (df asc,
    * shingle asc — a total order both engines spell identically). Any
    * pair with J ≥ t must collide inside both prefixes, so the join is
    * lossless (the oracle below is the BRUTE-FORCE join — a
    * differential proof), while hot shingles are indexed by almost no
    * doc: this is the skew mitigation that, unlike the stop-shingle
    * ceiling in [[informativeShingles]], changes NO semantics — the
    * right tool when the threshold is high enough (t ≥ 0.5) for
    * prefixes to be short. Verification re-joins only the candidate
    * pairs to their two shingle sets — shuffle volume is bounded by
    * candidates × set size, never df². */
  def dedupPrefixFilter(spark: SparkSession, sfDir: String): DataFrame =
    // the chain is 6 sequential exchanges over a shingle stream that
    // is ~260k rows at sf0.1 — stage count, not data, is the cost;
    // 8 shuffle partitions halve the fixed per-exchange overhead and
    // at 100 TB this is the same per-query sizing decision as the
    // HNSW/streaming harness notes
    QuerySession(spark, Seq("spark.sql.shuffle.partitions" -> "8")) {
      spark => dedupPrefixFilterInner(spark, sfDir)
    }

  private def dedupPrefixFilterInner(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = DfCache(spark, sfDir, "rawShingleUniverse") {
      rawShingles(Tables.documents(spark, sfDir))
    }
    // dfreq (one row per distinct shingle), per-doc counts, and the
    // per-doc set table are all candidates for the build side of
    // their joins — but a bare broadcast() hint never self-degrades,
    // so each decision is made by Cbo.joinDerived from footer-stats
    // ESTIMATES of the derived frames: nDocs rows come straight from
    // the documents manifest; the shingle-string payload of dfreq and
    // sets is bounded by 3× the decompressed text (each token lands
    // in ≤ 3 shingles), with parquet text assumed to inflate ~4× in
    // memory. Under the budget the plan is byte-identical to the old
    // hinted one; a corpus that outgrows it degrades those joins to
    // shuffle (hint("merge")) with no semantic change instead of
    // OOMing the driver.
    val docStats = graft.plans.Cbo.analyzePath(s"$sfDir/documents.parquet")
    val shinglePayload = 3.0 * 4.0 * docStats.sizeBytes
    val countsBytes = docStats.nRows * 16.0
    val dfreqBytes = shinglePayload + docStats.nRows * 8.0
    val setsBytes = shinglePayload + docStats.nRows * 16.0
    val counts = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy($"doc_id")
      .orderBy($"df".asc, $"shingle".asc)
    // prefix is referenced twice by the candidate self-join and NOT
    // cached: it embeds two joinDerived (hint-bearing) decisions, and
    // Spark's CacheManager matches persisted plans with hints ERASED,
    // so a cached broadcast-shaped prefix would silently serve a
    // caller running under a different budget (measured: the tiny-
    // budget spec read back the 10 MB-budget plan). The duplicate
    // subtree costs one extra dfreq/counts pass; the heavy duplicate
    // (the collect_list set table) is cached below instead.
    val prefix = graft.plans.Cbo.joinDerived(
        graft.plans.Cbo.joinDerived(sh, dfreq, Seq("shingle"), dfreqBytes),
        counts, Seq("doc_id"), countsBytes)
      .withColumn("pos", row_number().over(wDoc))
      // ⌈0.5·n⌉ = (n+1) div 2 — integer-exact in both engines
      .filter(expr("pos <= n_sh - (n_sh + 1) div 2 + 1"))
      .select($"doc_id", $"shingle")
    val cand = prefix.as("pa").join(prefix.as("pb"),
        $"pa.shingle" === $"pb.shingle" && $"pa.doc_id" < $"pb.doc_id")
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"))
      .distinct()
      // size the VERIFY stage by cores, not bytes (round 13): the
      // set-intersection map below is CPU-bound (profiled 12.5 s of
      // CPU squeezed into the 6 tasks AQE's byte-based coalescing
      // left of this 8-partition chain — guide §2.5: byte advisories
      // starve compute-heavy stages). The candidate rows are skinny
      // (two ids), so this extra exchange is noise; an explicit
      // partition count is AQE-coalesce-proof, and defaultParallelism
      // scales with the session's cores rather than a local constant.
      .repartition(spark.sparkContext.defaultParallelism,
        $"doc_a", $"doc_b")
    // verification by SET INTERSECTION: one per-doc sorted shingle
    // set (|docs| rows), two stats-budgeted joins, and a map-side
    // array_intersect per candidate — candidates × set-size work,
    // where the old double equi-join re-shuffled the whole shingle
    // stream by (doc, shingle) to count the same overlaps (measured:
    // the single hottest stage in the fleet bench). Past the budget
    // the set table degrades to a shuffle join keyed by doc, same
    // shape — now decided by the stats, not by hand.
    val sets = DfCache(spark, sfDir, "prefixFilterSets") {
      sh.groupBy($"doc_id")
        .agg(sort_array(collect_list($"shingle")).as("shs"))
    }
    graft.plans.Cbo.joinDerived(
      graft.plans.Cbo.joinDerived(cand,
        sets.select($"doc_id".as("doc_a"),
          $"shs".as("sa"), size($"shs").as("na")),
        Seq("doc_a"), setsBytes),
      sets.select($"doc_id".as("doc_b"),
        $"shs".as("sb"), size($"shs").as("nb")),
      Seq("doc_b"), setsBytes)
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sa", $"sb")).cast("long").as("shared"),
        $"na", $"nb")
      .select($"doc_a", $"doc_b", $"shared",
        rnd6($"shared" / ($"na" + $"nb" - $"shared")).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle: the brute-force raw-shingle inverted-index join with NO
    * prefix pruning — identical results prove the prefix filter is
    * lossless at t = 0.5. */
  val dedupPrefixFilterSql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
       |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
       |  FROM documents),
       |shraw AS (
       |  SELECT DISTINCT a.doc_id,
       |    a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM pt a
       |  JOIN pt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN pt c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM shraw GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM shraw a JOIN shraw b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b, s.shared,
       |  ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} AS jaccard
       |FROM shared s
       |JOIN counts ca ON s.doc_a = ca.doc_id
       |JOIN counts cb ON s.doc_b = cb.doc_id
       |WHERE ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} >= 0.5
       |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** Cross-split contamination report — the leakage gate a training
    * pipeline runs AFTER splitting: near-dup pairs (the
    * [[dedupNear]] edge set) bucketed by which train/val/test split
    * each endpoint landed in. A pair with `leaky = true` is test/val
    * material the model effectively saw in training — the
    * split-then-dedup ordering bug this query exists to catch. The
    * split itself is the house key-scatter (Knuth multiplicative on
    * doc_id — deterministic, repartition/retry-stable, mirrored
    * exactly in the oracle): 80/10/10. Costs nothing beyond the
    * already-cached near-pair stream plus two broadcast-sized joins
    * of the (doc_id, split) map. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val splits = Tables.documents(spark, sfDir)
      .select($"doc_id",
        when(expr(s"pmod(doc_id * 2654435761, 1000)") < 800, "train")
          .when(expr(s"pmod(doc_id * 2654435761, 1000)") < 900, "val")
          .otherwise("test").as("split"))
    nearPairs(spark, sfDir)
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"), max($"jaccard").as("max_jaccard"))
      .withColumn("leaky", $"split_a" =!= $"split_b")
      .select($"split_a", $"split_b", $"n_pairs", $"max_jaccard", $"leaky")
      .orderBy($"split_a", $"split_b")
  }

  val splitLeakageSql: String =
    s"""WITH $shinglesCte,
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT s.doc_a, s.doc_b,
       |    ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} AS jaccard
       |  FROM shared s
       |  JOIN counts ca ON s.doc_a = ca.doc_id
       |  JOIN counts cb ON s.doc_b = cb.doc_id
       |  WHERE ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} >= 0.1),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ((doc_id * 2654435761) % 1000 + 1000) % 1000 < 800
       |      THEN 'train'
       |    WHEN ((doc_id * 2654435761) % 1000 + 1000) % 1000 < 900
       |      THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM documents)
       |SELECT sa.split AS split_a, sb.split AS split_b,
       |  count(*) AS n_pairs, max(n.jaccard) AS max_jaccard,
       |  sa.split <> sb.split AS leaky
       |FROM near n
       |JOIN sp sa ON n.doc_a = sa.doc_id
       |JOIN sp sb ON n.doc_b = sb.doc_id
       |GROUP BY 1, 2
       |ORDER BY split_a, split_b""".stripMargin

  /** Incremental-ingest near-dup admission — the daily-crawl-vs-lake
    * shape: every NEW doc (`source = 'src0'`, standing in for today's
    * batch) is LSH-probed against the EXISTING corpus (every other
    * source) and admitted only if no corpus doc verifies at Jaccard ≥
    * 0.1. Unlike the self-join family this is the ASYMMETRIC join a
    * production pipeline actually runs: corpus band keys are
    * precomputed once (here the shared cached shingle universe; at
    * 100 TB a bucket-partitioned table maintained across ingests) and
    * the small batch side probes them — candidate volume is
    * batch-bands × collisions, never corpus². The exact [[dedupBloom]]
    * gate is this operator's probabilistic little sibling; this one
    * pays one indexed join for zero false positives and a
    * per-rejection best-match attribution. Best match is selection,
    * not interpolation: max jaccard, then min corpus doc_id. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    // many small sequential stages over band/bucket frames — the
    // iterative-key sizing (8 partitions, AQE off) for the BUILD only:
    // the returned frame's 40-exchange plan over checkpointed inputs
    // runs under the caller's confs, where AQE coalesces its shuffles
    // (sf0.1, 4 cores: 9.2 → 5.2 s median, 5 of 5 alternating pairs)
    QuerySession.bind(QuerySession(spark, QuerySession.SmallIterative) { spark =>
      dedupIncrementalInner(spark, sfDir)
    }, spark)

  private def dedupIncrementalInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    // batch/corpus slices are each consumed three times (band keys,
    // set sizes, shared-shingle verification) — materialize the
    // source-tagged shingle set ONCE instead of re-running the
    // doc-source join per consumer (6× under the 8-partition
    // iterative tuning, all serialized with AQE off)
    val shSrc = shingles(spark, sfDir).join(docs, "doc_id")
      .select($"doc_id", $"shingle", $"source")
      .localCheckpoint(true)
    val batchSh = shSrc.filter($"source" === "src0")
      .select($"doc_id", $"shingle")
    val corpusSh = shSrc.filter($"source" =!= "src0")
      .select($"doc_id", $"shingle")
    val cand = lshBands(batchSh).as("x").join(lshBands(corpusSh).as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey")
      .select($"x.doc_id".as("new_id"), $"y.doc_id".as("old_id"))
      .distinct()
    val nCand = cand.groupBy($"new_id")
      .agg(count(lit(1)).as("n_candidates"))
    val na = batchSh.groupBy($"doc_id").agg(count(lit(1)).as("na"))
    val nb = corpusSh.groupBy($"doc_id").agg(count(lit(1)).as("nb"))
    val shared = cand
      .join(batchSh.select($"doc_id".as("new_id"), $"shingle"), "new_id")
      .join(corpusSh.select($"doc_id".as("old_id"),
        $"shingle".as("sh_b")), "old_id")
      .filter($"shingle" === $"sh_b")
      .groupBy($"new_id", $"old_id").agg(count(lit(1)).as("shared"))
    val verified = shared
      .join(na.select($"doc_id".as("new_id"), $"na"), "new_id")
      .join(nb.select($"doc_id".as("old_id"), $"nb"), "old_id")
      .select($"new_id", $"old_id",
        rnd6($"shared" / ($"na" + $"nb" - $"shared")).as("jaccard"))
      .filter($"jaccard" >= 0.1)
    val bestJ = verified.groupBy($"new_id")
      .agg(max($"jaccard").as("best_jaccard"))
    val best = verified.as("v").join(bestJ.as("bj"),
        col("v.new_id") === col("bj.new_id")
          && col("v.jaccard") === col("bj.best_jaccard"))
      .groupBy(col("v.new_id").as("bid"), col("bj.best_jaccard"))
      .agg(min(col("v.old_id")).as("best_match"))
    docs.filter($"source" === "src0").select($"doc_id")
      .join(nCand.select($"new_id".as("doc_id"), $"n_candidates"),
        Seq("doc_id"), "left")
      .join(best.select($"bid".as("doc_id"), $"best_match",
        $"best_jaccard"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        $"best_match", $"best_jaccard",
        $"best_match".isNull.as("admitted"))
      .orderBy($"doc_id")
  }

  val dedupIncrementalSql: String = {
    val perms = (0 until 8).map { j =>
      val a = (1103515245L * (j + 1)) % P31
      val b = (12345L * (j + 1)) % P31
      s"min(($a * h + $b) % $P31) AS m$j"
    }.mkString(", ")
    s"""WITH $shinglesCte,
       |shs AS (
       |  SELECT s.doc_id, s.shingle, d.source
       |  FROM sh s JOIN documents d USING (doc_id)),
       |bsh AS (SELECT doc_id, shingle FROM shs WHERE source = 'src0'),
       |csh AS (SELECT doc_id, shingle FROM shs WHERE source <> 'src0'),
       |bth AS (SELECT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $P31 AS h
       |  FROM bsh),
       |cth AS (SELECT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $P31 AS h
       |  FROM csh),
       |bsig AS (SELECT doc_id, $perms FROM bth GROUP BY doc_id),
       |csig AS (SELECT doc_id, $perms FROM cth GROUP BY doc_id),
       |bbands AS (
       |  SELECT doc_id, 0 AS band, m0 || '-' || m1 AS bkey FROM bsig UNION ALL
       |  SELECT doc_id, 1, m2 || '-' || m3 FROM bsig UNION ALL
       |  SELECT doc_id, 2, m4 || '-' || m5 FROM bsig UNION ALL
       |  SELECT doc_id, 3, m6 || '-' || m7 FROM bsig),
       |cbands AS (
       |  SELECT doc_id, 0 AS band, m0 || '-' || m1 AS bkey FROM csig UNION ALL
       |  SELECT doc_id, 1, m2 || '-' || m3 FROM csig UNION ALL
       |  SELECT doc_id, 2, m4 || '-' || m5 FROM csig UNION ALL
       |  SELECT doc_id, 3, m6 || '-' || m7 FROM csig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
       |  FROM bbands x JOIN cbands y
       |    ON x.band = y.band AND x.bkey = y.bkey),
       |ncand AS (
       |  SELECT new_id, count(*) AS n_candidates FROM cand GROUP BY 1),
       |na AS (SELECT doc_id, count(*) AS na FROM bsh GROUP BY 1),
       |nb AS (SELECT doc_id, count(*) AS nb FROM csh GROUP BY 1),
       |shared AS (
       |  SELECT c.new_id, c.old_id, count(*) AS shared
       |  FROM cand c
       |  JOIN bsh a ON a.doc_id = c.new_id
       |  JOIN csh b ON b.doc_id = c.old_id AND a.shingle = b.shingle
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT s.new_id, s.old_id,
       |    ${sqlRnd6("s.shared / (na.na + nb.nb - s.shared)")} AS jaccard
       |  FROM shared s
       |  JOIN na ON s.new_id = na.doc_id
       |  JOIN nb ON s.old_id = nb.doc_id
       |  WHERE ${sqlRnd6("s.shared / (na.na + nb.nb - s.shared)")} >= 0.1),
       |bestj AS (
       |  SELECT new_id, max(jaccard) AS best_jaccard
       |  FROM verified GROUP BY 1),
       |best AS (
       |  SELECT v.new_id, b.best_jaccard, min(v.old_id) AS best_match
       |  FROM verified v JOIN bestj b
       |    ON v.new_id = b.new_id AND v.jaccard = b.best_jaccard
       |  GROUP BY 1, 2)
       |SELECT d.doc_id,
       |  COALESCE(n.n_candidates, 0) AS n_candidates,
       |  b.best_match, b.best_jaccard,
       |  b.best_match IS NULL AS admitted
       |FROM documents d
       |LEFT JOIN ncand n ON n.new_id = d.doc_id
       |LEFT JOIN best b ON b.new_id = d.doc_id
       |WHERE d.source = 'src0'
       |ORDER BY d.doc_id""".stripMargin
  }

  /** FastSS deletion-neighborhood fuzzy join (Bocek et al. 2007): all
    * distinct vocabulary token pairs at edit distance ≤ 2, found
    * WITHOUT a triangular self-join. Each token (length ≥ 3 — shorter
    * tokens make everything a neighbor of everything) emits its
    * ≤ 2-deletion neighborhood (the token, every 1-deletion, every
    * 2-deletion). If d(a, b) ≤ 2 then deleting the ≤ 2 aligned edit
    * positions from each side yields a COMMON string in both
    * neighborhoods, so candidates are an EQUI-join on the variant key
    * and only candidates pay the O(len²) distance kernel; sharing a
    * variant only bounds the distance at 4, so candidates are
    * verified with true levenshtein ≤ 2.
    *
    * Scale notes (the 100 TB path [[graft.operators.FnOps.fnEditdist]]'s
    * doc comment promises): the index is near-linear — O(vocab ×
    * len²/2) rows, ~20 variants per 6-char token — and the per-key
    * fan-in of the variant join is BOUNDED BY CONSTRUCTION: a variant
    * v of length m is only producible by the ≤ 1 + (m+1)·|Σ| +
    * ((m+1)(m+2)/2)·|Σ|² strings that delete to it, so no variant
    * bucket can explode the way a hot shingle can. No broadcast
    * anywhere: both sides shuffle on the short variant key, which is
    * exactly what survives a vocabulary too large to broadcast.
    * Differential twin: must equal
    * [[graft.operators.FnOps.fnEditdist]]'s (tok_a, tok_b, dist)
    * restricted to length ≥ 3 (asserted in Round7Spec). */
  def dedupFastss(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(lower($"text"), " ")).as("tok"))
      .distinct()
      .filter(length($"tok") >= 3)
    def del(df: DataFrame, in: String, out: String): DataFrame =
      df.select($"tok", explode(expr(s"sequence(0, length($in))")).as("i"),
          col(in))
        .select($"tok",
          when($"i" === 0, col(in))
            .otherwise(concat(
              expr(s"substring($in, 1, i - 1)"),
              expr(s"substring($in, i + 1, length($in))"))).as(out))
        .distinct()
    val d1 = del(vocab.select($"tok", $"tok".as("v0")), "v0", "v1")
    val variants = del(d1, "v1", "v")
    variants.as("a")
      .join(variants.as("b"), $"a.v" === $"b.v" && $"a.tok" < $"b.tok")
      .select($"a.tok".as("tok_a"), $"b.tok".as("tok_b"))
      .distinct()
      .withColumn("dist", levenshtein($"tok_a", $"tok_b"))
      .filter($"dist" <= 2)
      .orderBy($"tok_a", $"tok_b")
  }

  val dedupFastssSql: String =
    """WITH vocab AS (
      |  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |v3 AS (SELECT tok FROM vocab WHERE length(tok) >= 3),
      |vars1 AS (
      |  SELECT DISTINCT tok, v FROM (
      |    SELECT tok, tok AS v FROM v3
      |    UNION ALL
      |    SELECT tok, substr(tok, 1, i - 1) || substr(tok, i + 1) AS v
      |    FROM (SELECT tok,
      |            unnest(generate_series(1, length(tok))) AS i
      |          FROM v3))),
      |vars AS (
      |  SELECT DISTINCT tok, v FROM (
      |    SELECT tok, v FROM vars1
      |    UNION ALL
      |    SELECT tok, substr(v, 1, j - 1) || substr(v, j + 1) AS v
      |    FROM (SELECT tok, v,
      |            unnest(generate_series(1, length(v))) AS j
      |          FROM vars1))),
      |cand AS (
      |  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok)
      |SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(tok_a, tok_b) <= 2
      |ORDER BY tok_a, tok_b""".stripMargin

  /** Recall audit of the MinHash-LSH candidate generator against the
    * exact-Jaccard ground truth — the ANN-style quality gate for the
    * DEDUP family (the twin of `q_simsearch_recall`): every truth
    * pair (exact shingle Jaccard ≥ 0.1, [[dedupNear]]'s output) is
    * checked for presence in the LSH band-collision candidate set,
    * bucketed by similarity band. The S-curve is the whole point of
    * banding — P(candidate | j) = 1 − (1 − j²)⁴ for 4 bands × 2 rows
    * — so recall MUST climb with j; a tuning pass reads this table to
    * pick bands×rows for a target similarity cutoff, which at 100 TB
    * is the difference between re-hashing the corpus twice and
    * shipping a dedup run that silently missed half its near-dups.
    *
    * Scale notes: both inputs are the cached intermediates the
    * registered dedup queries already compute (truth = the verified
    * inverted-index pairs, candidates = the band self-join); the
    * audit itself joins pair-key to pair-key and collapses to ≤ 4
    * rows. At 100 TB the truth side would run on a sampled doc subset
    * (exact all-pairs ground truth is what LSH exists to avoid) —
    * here the fixture corpus is small enough to audit in full. */
  def dedupRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = nearPairs(spark, sfDir)
    val bands = lshBands(shingles(spark, sfDir))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    truth
      .join(cand.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .withColumn("jband", expr(
        """CASE WHEN jaccard < 0.25 THEN 'j_010_025'
          |  WHEN jaccard < 0.50 THEN 'j_025_050'
          |  WHEN jaccard < 0.75 THEN 'j_050_075'
          |  ELSE 'j_075_100' END""".stripMargin))
      .groupBy($"jband")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce($"hit", lit(0))).as("n_caught"))
      .select($"jband", $"n_truth", $"n_caught",
        rnd6($"n_caught".cast("double") / $"n_truth".cast("double"))
          .as("recall"))
      .orderBy($"jband")
  }

  val dedupRecallSql: String = {
    val perms = (0 until 8).map { j =>
      val a = (1103515245L * (j + 1)) % P31
      val b = (12345L * (j + 1)) % P31
      s"min(($a * h + $b) % $P31) AS m$j"
    }.mkString(", ")
    s"""WITH $shinglesCte,
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT s.doc_a, s.doc_b,
       |    ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} AS jaccard
       |  FROM shared s
       |  JOIN counts ca ON s.doc_a = ca.doc_id
       |  JOIN counts cb ON s.doc_b = cb.doc_id
       |  WHERE ${sqlRnd6("s.shared / (ca.n_sh + cb.n_sh - s.shared)")} >= 0.1),
       |th AS (SELECT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $P31 AS h FROM sh),
       |sig AS (SELECT doc_id, $perms FROM th GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, m0 || '-' || m1 AS bkey FROM sig UNION ALL
       |  SELECT doc_id, 1, m2 || '-' || m3 FROM sig UNION ALL
       |  SELECT doc_id, 2, m4 || '-' || m5 FROM sig UNION ALL
       |  SELECT doc_id, 3, m6 || '-' || m7 FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT jband, COUNT(*) AS n_truth,
       |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_caught,
       |  ${sqlRnd6("CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS recall
       |FROM (
       |  SELECT t.*, CASE WHEN t.jaccard < 0.25 THEN 'j_010_025'
       |    WHEN t.jaccard < 0.50 THEN 'j_025_050'
       |    WHEN t.jaccard < 0.75 THEN 'j_050_075'
       |    ELSE 'j_075_100' END AS jband
       |  FROM truth t) t
       |LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
       |GROUP BY jband ORDER BY jband""".stripMargin
  }
}
