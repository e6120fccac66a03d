package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Exact, Tables}
import graft.functions.Udfs.{rnd6, sqlRnd6}

/** Text-analysis family over `documents` (north-star LLM-pipeline
  * surface): corpus stats, TF-IDF, language-ID, quality scoring, token
  * counting, and content fingerprinting.
  *
  * Scale notes (100 TB):
  * - Everything here is one or two hash-shuffles over (doc, token) or
  *   (lang, token) keys with map-side partial aggregation; no
  *   operator materializes per-corpus state on the driver.
  * - The language-ID profile (top tokens per lang) and the IDF table
  *   are small (vocabulary-sized) — broadcast to the scoring join.
  * - Fingerprints are computed map-side per row (no shuffle at all)
  *   via an in-order fold; at 100 TB they feed exact dedup as the
  *   16-byte group key.
  */
object TextOps {
  import Exact._

  private[operators] def tokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", explode(split(lower($"text"), " ")).as("tok"))
  }

  private[operators] val tokensCte =
    "toks AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents)"

  /** Per-language corpus stats + top-3 terms (count desc, term asc). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tk = tokens(spark, sfDir)
    val perLang = tk.groupBy($"lang").agg(
      countDistinct($"doc_id").as("n_docs"),
      count(lit(1)).as("n_tokens"),
      countDistinct($"tok").as("n_vocab"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok".asc)
    val top = tk.groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
    top.join(perLang, "lang")
      .select($"lang", $"rk", $"tok".as("term"), $"cnt",
        $"n_docs", $"n_tokens", $"n_vocab")
      .orderBy($"lang", $"rk")
  }

  val textStatsSql: String =
    s"""WITH $tokensCte,
       |per_lang AS (
       |  SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_vocab
       |  FROM toks GROUP BY lang),
       |top AS (
       |  SELECT lang, tok AS term, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY count(*) DESC, tok ASC) AS rk
       |  FROM toks GROUP BY lang, tok)
       |SELECT t.lang, t.rk, t.term, t.cnt, p.n_docs, p.n_tokens, p.n_vocab
       |FROM top t JOIN per_lang p ON t.lang = p.lang
       |WHERE t.rk <= 3 ORDER BY t.lang, t.rk""".stripMargin

  /** TF-IDF: tf·(ln((N+1)/(df+1))+1), idf rounded before the product
    * so last-ulp libm drift cannot cross a rounding boundary twice. */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tk = tokens(spark, sfDir)
    val nDf = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_total"))
    val tf = tk.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "tok").crossJoin(broadcast(nDf))
      .select($"doc_id", $"tok",
        $"tf", $"df",
        rnd6($"tf" * rnd6(log(($"n_total" + 1.0) / ($"df" + 1.0)) + 1.0)).as("tfidf"))
      .orderBy($"doc_id", $"tok")
  }

  val textTfidfSql: String =
    s"""WITH $tokensCte,
       |n AS (SELECT count(*) AS n FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
       |SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |  ${sqlRnd6(s"tf.tf * ${sqlRnd6("ln((n.n + 1.0) / (df.df + 1.0)) + 1.0")}")} AS tfidf
       |FROM tf JOIN df ON tf.tok = df.tok, n
       |ORDER BY tf.doc_id, tf.tok""".stripMargin

  /** Keyword extraction: the top-3 terms per document by TF-IDF —
    * [[textTfidf]]'s scores turned into the per-doc keyword list a
    * search/tagging pipeline actually consumes. Window partitioned by
    * doc_id (rank desc by rounded tfidf, term tiebreak), so the rank
    * filter is WindowGroupLimit-prunable and per-key bounded at any
    * corpus scale; scores are the already-oracled rnd6 values, so
    * ranking on them is engine-identical. */
  def textKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tk = tokens(spark, sfDir)
    val nDf = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_total"))
    val tf = tk.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "tok").crossJoin(broadcast(nDf))
      .select($"doc_id", $"tok",
        rnd6($"tf" * rnd6(log(($"n_total" + 1.0) / ($"df" + 1.0)) + 1.0)).as("tfidf"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok".asc)
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"tok".as("keyword"), $"tfidf")
      .orderBy($"doc_id", $"rk")
  }

  val textKeywordsSql: String =
    s"""WITH $tokensCte,
       |n AS (SELECT count(*) AS n FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok,
       |    ${sqlRnd6(s"tf.tf * ${sqlRnd6("ln((n.n + 1.0) / (df.df + 1.0)) + 1.0")}")} AS tfidf
       |  FROM tf JOIN df ON tf.tok = df.tok, n),
       |ranked AS (
       |  SELECT doc_id, tok AS keyword, tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY tfidf DESC, tok ASC) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, keyword, tfidf
       |FROM ranked WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  /** Bigram language-model perplexity per document — THE classic
    * corpus-quality filter (CCNet/Gopher-style: score every doc under
    * a corpus-trained LM, drop the high-perplexity tail). Train and
    * score in one query: bigrams are generated MAP-SIDE by an indexed
    * lambda over the token array (no per-doc window, no positions
    * shuffle); Laplace-smoothed conditionals P(w2|w1) =
    * (c12+1)/(c1+V) come from one bigram-count shuffle; the model —
    * O(distinct bigrams), broadcastable under a capped vocabulary
    * (the stop-token discipline used across this file) — joins back
    * map-side; one per-doc aggregation finishes. Determinism: each
    * ln term is rnd6'd before the decimal-exact sum; ppl =
    * exp(mean NLL) takes exp of an ALREADY-rounded double (identical
    * in both engines) and rnd6's the result, so libm's last ulp
    * cannot cross a boundary twice. */
  def textPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .select($"doc_id", split(lower($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
    val bi = d.select($"doc_id", explode(expr(
        """transform(sequence(1, size(ws) - 1), k ->
          |  struct(element_at(ws, k) AS w1,
          |         element_at(ws, k + 1) AS w2))""".stripMargin)).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val c12 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val vocab = tokens(spark, sfDir).agg(countDistinct($"tok").as("v"))
    val model = c12.join(broadcast(c1), "w1").crossJoin(broadcast(vocab))
      .select($"w1", $"w2",
        rnd6(log(($"c12" + 1.0) / ($"c1" + $"v"))).as("lp"))
    bi.join(broadcast(model), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.engine.Exact.xsum(-$"lp").as("snll"))
      .select($"doc_id", $"n_bigrams",
        rnd6($"snll" / $"n_bigrams").as("avg_nll"),
        rnd6(exp(rnd6($"snll" / $"n_bigrams"))).as("ppl"))
      .orderBy($"doc_id")
  }

  val textPerplexitySql: String = {
    val meanNll = sqlRnd6("snll / n_bigrams")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
       |ks AS (
       |  SELECT doc_id, ws,
       |    unnest(generate_series(1, len(ws) - 1)) AS k
       |  FROM d),
       |bi AS (
       |  SELECT doc_id, ws[k] AS w1, ws[k + 1] AS w2 FROM ks),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
       |vocab AS (
       |  SELECT COUNT(DISTINCT tok) AS v FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents)),
       |model AS (
       |  SELECT c12.w1, c12.w2,
       |    ${sqlRnd6("ln((c12.c12 + 1.0) / (c1.c1 + v.v))")} AS lp
       |  FROM c12 JOIN c1 ON c12.w1 = c1.w1, vocab v),
       |scored AS (
       |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |    ${graft.engine.Exact.sqlXsum("-m.lp")} AS snll
       |  FROM bi b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
       |  GROUP BY 1)
       |SELECT doc_id, n_bigrams, $meanNll AS avg_nll,
       |  ${sqlRnd6(s"exp($meanNll)")} AS ppl
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Data-driven language-ID: learn a top-10-token profile per lang
    * from the corpus, score each doc by how many of its tokens (with
    * multiplicity) fall in each profile, predict argmax (score desc,
    * lang asc). The n-gram-profile heuristic with the profile learned
    * in-query; profiles are vocabulary-sized → broadcast join. */
  def textLangid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tk = tokens(spark, sfDir)
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok".asc)
    val profile = tk.groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select($"lang".as("cand_lang"), $"tok".as("ptok"))
    val scores = tk.join(broadcast(profile), $"tok" === $"ptok")
      .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("score"))
    val w2 = Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand_lang".asc)
    val pred = scores.withColumn("rk", row_number().over(w2)).filter($"rk" === 1)
      .select($"doc_id", $"cand_lang".as("pred_lang"), $"score")
    pred.join(Tables.documents(spark, sfDir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"pred_lang", $"score", $"lang",
        ($"pred_lang" === $"lang").as("correct"))
      .orderBy($"doc_id")
  }

  val textLangidSql: String =
    s"""WITH $tokensCte,
       |profile AS (
       |  SELECT lang AS cand_lang, tok AS ptok FROM (
       |    SELECT lang, tok,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY count(*) DESC, tok ASC) AS rk
       |    FROM toks GROUP BY lang, tok) WHERE rk <= 10),
       |scores AS (
       |  SELECT t.doc_id, p.cand_lang, count(*) AS score
       |  FROM toks t JOIN profile p ON t.tok = p.ptok
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT doc_id, cand_lang AS pred_lang, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cand_lang ASC) AS rk
       |    FROM scores) WHERE rk = 1)
       |SELECT p.doc_id, p.pred_lang, p.score, d.lang,
       |  p.pred_lang = d.lang AS correct
       |FROM pred p JOIN documents d ON p.doc_id = d.doc_id
       |ORDER BY p.doc_id""".stripMargin

  /** Per-doc quality scoring: unique-token ratio, length saturation,
    * punctuation ratio — pure map-side arithmetic, no shuffle. */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        length($"text").as("n_chars2"),
        size(split($"text", " ")).as("n_tokens"),
        size(array_distinct(split(lower($"text"), " "))).as("n_uniq"),
        expr("length(regexp_replace(text, '[a-z0-9 ]', ''))").as("n_punct"))
      .select($"doc_id", $"n_chars2", $"n_tokens", $"n_uniq", $"n_punct",
        rnd6($"n_uniq" / $"n_tokens").as("uniq_ratio"),
        rnd6(least($"n_tokens" / 100.0, lit(1.0))).as("len_sat"),
        rnd6($"n_punct" / $"n_chars2").as("punct_ratio"),
        rnd6(
          ($"n_uniq" / $"n_tokens") * 0.4
            + least($"n_tokens" / 100.0, lit(1.0)) * 0.3
            + (lit(1.0) - $"n_punct" / $"n_chars2") * 0.3).as("quality"))
      .orderBy($"doc_id")
  }

  val textQualitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    length(text) AS n_chars2,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
       |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
       |  FROM documents)
       |SELECT doc_id, n_chars2, n_tokens, n_uniq, n_punct,
       |  ${sqlRnd6("n_uniq / n_tokens")} AS uniq_ratio,
       |  ${sqlRnd6("least(n_tokens / 100.0, 1.0)")} AS len_sat,
       |  ${sqlRnd6("n_punct / n_chars2")} AS punct_ratio,
       |  ${sqlRnd6("(n_uniq / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - n_punct / n_chars2) * 0.3")} AS quality
       |FROM base ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens vs a BPE-ish regex lexer
    * (`[a-z]+ | [0-9]+ | single other non-space`). */
  def textTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split($"text", " ")).as("n_ws"),
        expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')").as("n_bpe"),
        length($"text").as("n_len"))
      .orderBy($"doc_id")
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      |  length(text) AS n_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-language top-5 bigram counts (count desc, bigram asc). Bigram
    * assembly is a map-side higher-order transform over the token
    * array (1-based element_at to mirror the oracle's 1-based list
    * indexing); then one (lang, bigram) hash-agg + a vocabulary-sized
    * window for the top-k — the same shuffle shape as [[textStats]],
    * so the 100 TB notes there apply unchanged. */
  def textNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ws = Tables.documents(spark, sfDir)
      .select($"lang", split(lower($"text"), " ").as("ws"))
      .filter(size($"ws") >= 2)
    val bi = ws.select($"lang", explode(expr(
      """transform(sequence(1, size(ws) - 1),
        |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
      .as("bigram"))
    val cnt = bi.groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram".asc)
    cnt.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"lang", $"rk", $"bigram", $"n")
      .orderBy($"lang", $"rk")
  }

  val textNgramsSql: String =
    """WITH ws AS (
      |  SELECT lang, string_split(lower(text), ' ') AS ws FROM documents),
      |bi AS (
      |  SELECT lang, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bigram
      |  FROM ws WHERE len(ws) >= 2),
      |cnt AS (SELECT lang, bigram, count(*) AS n FROM bi GROUP BY 1, 2)
      |SELECT lang, rk, bigram, n FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY n DESC, bigram ASC) AS rk
      |  FROM cnt) WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** Gopher-style repetition features per document: duplicate-token
    * ratio, most-frequent-token share, most-frequent-bigram share —
    * the filters a pretraining pipeline uses to drop boilerplate/spam.
    * Two (doc, gram) hash-aggs, both with map-side partials; nothing
    * is corpus-global, so the operator scales linearly. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", split(lower($"text"), " ").as("ws"))
    val tc = docs.select($"doc_id", explode($"ws").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val t = tc.groupBy($"doc_id").agg(
      sum($"c").as("n_tokens"), count(lit(1)).as("n_uniq"),
      max($"c").as("max_tok_n"))
    val bc = docs.filter(size($"ws") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
        .as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
    val b = bc.groupBy($"doc_id").agg(
      sum($"c").as("n_bigrams"), max($"c").as("max_bigram_n"))
    t.join(b, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_uniq", $"max_tok_n",
        $"n_bigrams", $"max_bigram_n",
        rnd6(($"n_tokens" - $"n_uniq") / $"n_tokens").as("dup_tok_ratio"),
        rnd6($"max_tok_n" / $"n_tokens").as("rep_tok_ratio"),
        rnd6($"max_bigram_n" / $"n_bigrams").as("rep_bigram_ratio"))
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |tc AS (
       |  SELECT doc_id, unnest(ws) AS tok FROM ws),
       |tcc AS (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY 1, 2),
       |t AS (
       |  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_uniq,
       |    MAX(c) AS max_tok_n
       |  FROM tcc GROUP BY doc_id),
       |bi AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bigram
       |  FROM ws WHERE len(ws) >= 2),
       |bcc AS (SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY 1, 2),
       |b AS (
       |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS max_bigram_n
       |  FROM bcc GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(t.n_tokens AS BIGINT) AS n_tokens, t.n_uniq, t.max_tok_n,
       |  CAST(b.n_bigrams AS BIGINT) AS n_bigrams, b.max_bigram_n,
       |  ${sqlRnd6("(t.n_tokens - t.n_uniq) / t.n_tokens")} AS dup_tok_ratio,
       |  ${sqlRnd6("t.max_tok_n / t.n_tokens")} AS rep_tok_ratio,
       |  ${sqlRnd6("b.max_bigram_n / b.n_bigrams")} AS rep_bigram_ratio
       |FROM t JOIN b ON t.doc_id = b.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Content fingerprint: polynomial rolling hash over characters,
    * base 131 mod 1e9+7 — an in-order fold, map-side only, identical
    * integer arithmetic in both engines (no overflow: acc < 2^30·131
    * + 255 < 2^63). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // native codegen kernel — one primitive loop per row instead of a
    // per-character array + two interpreted lambdas (same fold, same
    // oracle; see RollingHashExpression)
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        graft.functions.RollingHash(col("text")).as("fingerprint"),
        length($"text").as("n_len"))
      .orderBy($"doc_id")
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint,
      |  length(text) AS n_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before a corpus ships. The fixture text is synthetic word
    * soup, so each doc first gets a deterministic email + phone
    * APPENDED (derived from doc_id, identically on both sides) and the
    * scrubber must remove exactly those; n_redacted is recovered from
    * the length delta, proving the regexes fired. Map-side only — a
    * regex projection in the scan stage, no shuffle, which is the whole
    * scale story: redaction cost is one codegen'd pass per row
    * regardless of corpus size. Patterns stay in the RE2 ∩ Java-regex
    * common subset so both engines match the same spans. */
  def textPiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+"
    val phoneRe = "\\+1-555-[0-9]{4}"
    Tables.documents(spark, sfDir)
      .withColumn("dirty",
        concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com or +1-555-"),
          lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
      .select($"doc_id",
        regexp_replace(regexp_replace($"dirty", emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]").as("clean_text"))
      .withColumn("n_len", length($"clean_text"))
      .orderBy($"doc_id")
  }

  val textPiiScrubSql: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      text || ' contact user' || doc_id || '@example.com or +1-555-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |      '[a-z0-9._]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
      |    '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS clean_text,
      |  length(regexp_replace(
      |    regexp_replace(
      |      text || ' contact user' || doc_id || '@example.com or +1-555-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |      '[a-z0-9._]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
      |    '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS n_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination score: 3-gram overlap of every corpus
    * document against a benchmark set (here: the `src0` docs — in
    * production, the eval suites). The GPT-3/PaLM-style n-gram
    * contamination check as one query: a doc whose shingles appear in
    * the benchmark is leaking eval data into training. RAW shingles
    * (no stop-shingle ceiling — common n-grams count as contamination
    * too, that's the point). Benchmarks are small by construction, so
    * the benchmark shingle set is a BROADCAST semi-join against the
    * corpus shingle stream — the corpus is scanned once, nothing
    * shuffles on the corpus side, at any corpus scale. Only docs with
    * ≥ 1 shared shingle are emitted (at 100 TB the clean majority
    * never leaves the executors). */
  def textContamination(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // shingle each side SEPARATELY (the benchmark side shingles only
    // its few docs), and fold totals + shared into ONE aggregation via
    // a marking left join — the corpus shingle stream is built exactly
    // once and scanned exactly once (Catalyst does not dedupe repeated
    // subtrees; a totals/shared two-subtree form builds it twice).
    val bench = DedupOps.rawShingles(docs.filter($"source" === "src0"))
      .select($"shingle").distinct().withColumn("hit", lit(1))
    val corpus = DedupOps.rawShingles(docs.filter($"source" =!= "src0"))
    corpus.join(broadcast(bench), Seq("shingle"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"), count($"hit").as("n_shared"))
      .filter($"n_shared" > 0)
      .select($"doc_id", $"n_shingles", $"n_shared",
        rnd6($"n_shared".cast("double") / $"n_shingles".cast("double"))
          .as("contamination"))
      .orderBy($"doc_id")
  }

  val textContaminationSql: String =
    s"""WITH bpt AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
       |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
       |  FROM documents WHERE source = 'src0'),
       |bench AS (
       |  SELECT DISTINCT a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM bpt a
       |  JOIN bpt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN bpt c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |cpt AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
       |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
       |  FROM documents WHERE source <> 'src0'),
       |corpus AS (
       |  SELECT DISTINCT a.doc_id,
       |    a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM cpt a
       |  JOIN cpt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN cpt c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |scored AS (
       |  SELECT c.doc_id, COUNT(*) AS n_shingles,
       |    COUNT(b.shingle) AS n_shared
       |  FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
       |  GROUP BY c.doc_id)
       |SELECT doc_id, n_shingles, n_shared,
       |  ${sqlRnd6("CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)")}
       |    AS contamination
       |FROM scored WHERE n_shared > 0
       |ORDER BY doc_id""".stripMargin

  /** Zipf view of the corpus vocabulary: top-100 terms by total
    * frequency with rank, document frequency, and cumulative share of
    * all tokens — the first question asked of any pretraining corpus
    * (how head-heavy is it? where do stopword cuts land?).
    *
    * tf and df come from one grouped count each (map-side combined);
    * the top-100 cut happens FIRST, via orderBy+limit — planned as
    * TakeOrderedAndProject (bounded per-partition heaps, no global
    * sort, no full-vocabulary window). The rank/cumulative window then
    * runs over the bounded 100-row result only, so its unpartitioned
    * WindowExec is O(100) at any corpus scale — billions of distinct
    * tokens never funnel through one task. Counts are exact integers;
    * the only float is the final share division, rnd6'd on identical
    * operands. Cutting before ranking is equivalent to ranking then
    * cutting because both use the same total order (tf desc, tok). */
  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val tk = tokens(spark, sfDir)
    val tf = tk.groupBy($"tok").agg(count(lit(1)).as("tf"),
      countDistinct($"doc_id").as("df"))
    val total = tf.agg(sum($"tf").as("total"))
    val top = tf.orderBy($"tf".desc, $"tok".asc).limit(100)
    val w = Window.orderBy($"tf".desc, $"tok".asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tf", sum($"tf").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"rank", $"tok", $"tf", $"df",
        rnd6($"cum_tf".cast("double") / $"total".cast("double")).as("cum_share"))
      .orderBy($"rank")
  }

  val textZipfSql: String =
    s"""WITH $tokensCte,
       |tf AS (
       |  SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY tok),
       |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf),
       |ranked AS (
       |  SELECT tok, tf, df,
       |    row_number() OVER (ORDER BY tf DESC, tok ASC) AS rank,
       |    SUM(tf) OVER (ORDER BY tf DESC, tok ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tf
       |  FROM tf)
       |SELECT rank, tok, tf, df,
       |  ${sqlRnd6("CAST(cum_tf AS DOUBLE) / CAST(total AS DOUBLE)")} AS cum_share
       |FROM ranked, t WHERE rank <= 100
       |ORDER BY rank""".stripMargin

  /** Pack shards and per-bin token budget for [[textPack]]. */
  private val PACK_SHARDS = 8
  private val PACK_BUDGET = 2048L

  /** Token-budget sequence packing: assign each document to a
    * fixed-budget training chunk ("which 2048-token bin does this doc
    * start in?"). Documents are first scattered across [[PACK_SHARDS]]
    * independent pack shards by the Knuth multiplicative hash (the
    * same scatter discipline as SampleOps), then chunk ids come from
    * the exclusive running token total within the shard.
    *
    * Scale shape: real packing is embarrassingly parallel ACROSS
    * output shards — a global running sum would serialize the corpus
    * through one task (the exact anti-pattern WindowGuardSpec bans),
    * so the cumulative window is partitioned by shard: one bounded
    * exchange, every shard packs independently, add shards to scale.
    * All integer arithmetic — exact in any engine. */
  def textPack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        expr("CAST(regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS BIGINT)")
          .as("n_tok"),
        expr(s"CAST(pmod(doc_id * 2654435761, $PACK_SHARDS) AS INT)").as("shard"))
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .select($"doc_id", $"shard", $"n_tok",
        expr(s"(cum_tok - n_tok) div $PACK_BUDGET").as("bin"))
      .orderBy($"doc_id")
  }

  val textPackSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok,
       |    CAST(((doc_id * 2654435761) % $PACK_SHARDS + $PACK_SHARDS)
       |      % $PACK_SHARDS AS INTEGER) AS shard
       |  FROM documents)
       |SELECT doc_id, shard, n_tok,
       |  CAST((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) - n_tok) // $PACK_BUDGET AS BIGINT) AS bin
       |FROM toks ORDER BY doc_id""".stripMargin

  /** Fixed keyword query for [[textBm25]] — deterministic, present in
    * the fixture vocabulary. */
  private val BM25_TERMS = Seq("spark", "merge", "window")
  private val BM25_K1 = 1.2
  private val BM25_B = 0.75

  /** BM25 (Okapi) relevance ranking of the corpus against a fixed
    * keyword query — the retrieval scorer behind classic search and
    * the usual lexical half of RAG hybrid retrieval. Per-term
    * idf·tf-saturation with length normalization
    * (k1=[[BM25_K1]], b=[[BM25_B]]), summed across query terms.
    *
    * Scale shape: the query-term filter lands on the (doc, tok) tf
    * stream BEFORE any join (only matching postings survive the
    * map side); df and avgdl are vocabulary-/corpus-scalar-sized
    * 1-row or term-count broadcasts; the top-20 cut is
    * orderBy+limit → TakeOrderedAndProject (bounded heaps, no global
    * sort). Ln is the one libm call — rnd6'd per term before the
    * product, like [[textTfidf]]; the cross-term sum is an exact
    * decimal fold, so partial-aggregation order cannot change bytes. */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tk = tokens(spark, sfDir)
    val dl = tk.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot_tok"))
    val tf = tk.filter($"tok".isin(BM25_TERMS: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(broadcast(df), "tok")
      .join(dl, "doc_id").crossJoin(broadcast(corpus))
      .withColumn("avgdl",
        $"tot_tok".cast("double") / $"n_docs".cast("double"))
      .withColumn("idf", rnd6(log(lit(1.0) +
        ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5))))
      .withColumn("score", rnd6($"idf" * $"tf" * (lit(BM25_K1) + 1.0) /
        ($"tf" + lit(BM25_K1) *
          (lit(1.0 - BM25_B) + lit(BM25_B) * $"dl" / $"avgdl"))))
    perTerm.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), xsum($"score").as("bm25"))
      .orderBy($"bm25".desc, $"doc_id".asc).limit(20)
  }

  val textBm25Sql: String = {
    val terms = BM25_TERMS.map(t => s"'$t'").mkString(", ")
    s"""WITH $tokensCte,
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_tok
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       |  WHERE tok IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |per_term AS (
       |  SELECT tf.doc_id,
       |    ${sqlRnd6(s"${sqlRnd6("ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))")}" +
      s" * tf.tf * ($BM25_K1 + 1.0) / (tf.tf + $BM25_K1 * ((1.0 - $BM25_B)" +
      s" + $BM25_B * dl.dl / (CAST(c.tot_tok AS DOUBLE) / CAST(c.n_docs AS DOUBLE))))")}
       |      AS score
       |  FROM tf JOIN df ON tf.tok = df.tok
       |  JOIN dl ON tf.doc_id = dl.doc_id, corpus c)
       |SELECT doc_id, COUNT(*) AS n_terms_hit,
       |  ${Exact.sqlXsum("score")} AS bm25
       |FROM per_term GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** Collocation support floor: a bigram must occur this often before
    * its PMI is meaningful (the classic low-count PMI blowup guard). */
  private val COLL_MIN_C = 5

  /** Top-50 collocations by pointwise mutual information:
    * PMI(w1,w2) = ln( P(w1 w2) / (P(w1)·P(w2)) ) with bigram
    * probability over total bigrams and unigram probabilities over
    * total tokens — the phrase detector a tokenizer-training pipeline
    * runs before merging multiword units.
    *
    * Shuffle shape: unigram and bigram counts are both map-side-
    * combined hash-aggs; attaching c1/c2 is two equi-joins on the
    * token (vocabulary-sized after counting — at 100 TB the vocab
    * table is MBs and AQE broadcasts it; if not, the join keys are
    * Zipf-skewed and the [[COLL_MIN_C]] pre-filter cuts the long tail
    * before the join). Top-50 via orderBy+limit compiles to
    * TakeOrderedAndProject — bounded heaps, no global sort (the
    * [[textZipf]] precedent). The ratio is assembled in ONE identical
    * left-associated double expression in both engines (counts are
    * exact integers; the only rounding is the final ln + rnd6,
    * covered by the fleet-wide boundary nudge).
    */
  def textCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val ws = Tables.documents(spark, sfDir)
      .select(split(lower($"text"), " ").as("ws"))
    val uni = ws.select(explode($"ws").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum($"c").as("t"))
    val bi = ws.filter(size($"ws") >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS w1,
          |              element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
    val bic = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .filter($"c12" >= COLL_MIN_C)
    val btot = bi.groupBy().agg(count(lit(1)).as("b"))
    val pmiArg =
      ($"c12".cast("double") * $"t".cast("double") * $"t".cast("double")) /
        ($"b".cast("double") * $"c1".cast("double") * $"c2".cast("double"))
    bic
      .join(uni.select($"tok".as("w1"), $"c".as("c1")), "w1")
      .join(uni.select($"tok".as("w2"), $"c".as("c2")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select($"w1", $"w2", $"c12", rnd6(log(pmiArg)).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2").limit(50)
  }

  val textCollocationsSql: String = {
    import graft.functions.Udfs.sqlRnd6
    val pmiArg = "(CAST(c12 AS DOUBLE) * CAST(t AS DOUBLE)" +
      " * CAST(t AS DOUBLE)) / (CAST(b AS DOUBLE) * CAST(u1.c AS DOUBLE)" +
      " * CAST(u2.c AS DOUBLE))"
    s"""WITH ws AS (
       |  SELECT string_split(lower(text), ' ') AS ws FROM documents),
       |uni AS (
       |  SELECT tok, COUNT(*) AS c
       |  FROM (SELECT unnest(ws) AS tok FROM ws) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
       |bi AS (
       |  SELECT string_split(bigram, ' ')[1] AS w1,
       |    string_split(bigram, ' ')[2] AS w2
       |  FROM (
       |    SELECT unnest(list_transform(range(1, len(ws)),
       |      i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]))
       |      AS bigram
       |    FROM ws WHERE len(ws) >= 2)),
       |bic AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2
       |  HAVING COUNT(*) >= $COLL_MIN_C),
       |btot AS (SELECT COUNT(*) AS b FROM bi)
       |SELECT bic.w1, bic.w2, bic.c12, ${sqlRnd6(s"ln($pmiArg)")} AS pmi
       |FROM bic
       |JOIN uni u1 ON bic.w1 = u1.tok
       |JOIN uni u2 ON bic.w2 = u2.tok, tot, btot
       |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin
  }

  /** Chunk width for [[textChunkDedup]] (tokens per span). */
  private val CHUNK_W = 5

  /** Exact SUBSTRING-level dedup (the C4/RefinedWeb "remove repeated
    * spans" pass, at chunk granularity): every document is cut into
    * consecutive [[CHUNK_W]]-token chunks, a chunk's FIRST occurrence
    * corpus-wide (min (doc_id, chunk_idx)) survives, and later
    * occurrences anywhere — other documents or later in the same one —
    * are dropped. Output: per-document token counts before/after and
    * the retained fraction, i.e. how much of each doc is novel text.
    * Doc-level exact/near dedup ([[graft.operators.DedupOps]]) misses
    * boilerplate REGIONS shared by otherwise-distinct pages; this is
    * the within-doc complement.
    *
    * Scale shape: chunking is map-side (one `transform` over the token
    * array, no per-word explode); first-occurrence is ONE hash shuffle
    * on the chunk text — at 100 TB, on a 16-byte chunk fingerprint
    * ([[graft.functions.RollingHash]]) instead of the text itself —
    * and the per-doc rollup shuffles on doc_id. Min-key survivorship
    * is an aggregation, not a window: no per-chunk-text sort, and
    * map-side partial mins collapse hot boilerplate chunks (the skew
    * case: a chunk repeated millions of times arrives at the reducer
    * as one row per map partition). */
  def textChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ch = Tables.documents(spark, sfDir)
      .select($"doc_id", split(lower($"text"), " ").as("toks"))
      .select($"doc_id", posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(toks) / ${CHUNK_W}.0) as int) - 1),
           |  i -> array_join(slice(toks, i * $CHUNK_W + 1, $CHUNK_W), ' '))"""
          .stripMargin)))
      .withColumnRenamed("pos", "cidx").withColumnRenamed("col", "ctext")
      .withColumn("ctok", size(split($"ctext", " ")))
      .withColumn("ckey", $"doc_id" * 100000L + $"cidx")
    val first = ch.groupBy($"ctext").agg(min($"ckey").as("first_key"))
    ch.join(first, "ctext")
      .withColumn("is_first", $"ckey" === $"first_key")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum($"ctok").as("n_tok"),
        sum(when($"is_first", 1L).otherwise(0L)).as("kept_chunks"),
        sum(when($"is_first", $"ctok").otherwise(0L)).as("kept_tok"))
      .withColumn("retained",
        rnd6($"kept_tok".cast("double") / $"n_tok".cast("double")))
      .orderBy($"doc_id")
  }

  val textChunkDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, i AS cidx,
       |    array_to_string(list_slice(toks,
       |      i * $CHUNK_W + 1, i * $CHUNK_W + $CHUNK_W), ' ') AS ctext,
       |    len(list_slice(toks,
       |      i * $CHUNK_W + 1, i * $CHUNK_W + $CHUNK_W)) AS ctok,
       |    doc_id * 100000 + i AS ckey
       |  FROM t, UNNEST(range(CAST(ceil(len(toks) / ${CHUNK_W}.0) AS BIGINT)))
       |    AS u(i)),
       |fst AS (SELECT ctext, MIN(ckey) AS first_key FROM ch GROUP BY 1)
       |SELECT ch.doc_id,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(ctok) AS BIGINT) AS n_tok,
       |  CAST(SUM(CASE WHEN ch.ckey = f.first_key THEN 1 ELSE 0 END)
       |    AS BIGINT) AS kept_chunks,
       |  CAST(SUM(CASE WHEN ch.ckey = f.first_key THEN ctok ELSE 0 END)
       |    AS BIGINT) AS kept_tok,
       |  ${sqlRnd6("CAST(SUM(CASE WHEN ch.ckey = f.first_key THEN ctok " +
         "ELSE 0 END) AS DOUBLE) / CAST(SUM(ctok) AS DOUBLE)")} AS retained
       |FROM ch JOIN fst f USING (ctext)
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  /** Merge rounds learned by [[textBpeMerges]]. */
  private val BPE_ROUNDS = 3

  /** Byte-pair-encoding merge learning (Sennrich et al. ACL'16) — the
    * tokenizer-training step itself, in-engine: the corpus collapses
    * to its tf-weighted VOCABULARY (the only state the algorithm ever
    * needs — all adjacent-pair counts are vocabulary-sized sums, the
    * corpus is touched exactly once), each word becomes its
    * character-symbol array + `</w>`, and each round counts adjacent
    * symbol pairs, takes the global argmax (cnt desc, pair asc — a
    * 1-row TakeOrderedAndProject, no window), and applies the merge
    * as a pure per-position array map (match-left emits the merged
    * symbol, match-right drops — exact greedy left-to-right because
    * self-pairs l = r are excluded from candidacy, the determinism
    * restriction that makes merge application order-free and
    * retry-stable; with l ≠ r, overlapping matches are impossible).
    * Output is the merge TABLE — the artifact a tokenizer ships. */
  /** The BPE learn loop shared by [[textBpeMerges]] (emits the merge
    * table) and [[textBpeApply]] (emits the final segmentation):
    * returns (per-round winning merges, vocabulary after all rounds). */
  private def bpeRun(spark: SparkSession, sfDir: String): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    val vocab = tokens(spark, sfDir)
      .groupBy($"tok").agg(count(lit(1)).as("tf"))
    var v = vocab.select($"tok", $"tf",
      expr("""concat(split(trim(regexp_replace(tok, '(.)', '$1 ')), ' '),
             |  array('</w>'))""".stripMargin).as("arr"))
    val mergeExpr =
      """filter(transform(sequence(1, size(arr)), i ->
        |  CASE WHEN element_at(arr, i) = l AND i < size(arr)
        |           AND element_at(arr, i + 1) = r THEN concat(l, r)
        |       WHEN element_at(arr, i) = r AND i > 1
        |           AND element_at(arr, i - 1) = l THEN CAST(NULL AS STRING)
        |       ELSE element_at(arr, i) END), x -> x IS NOT NULL)""".stripMargin
    val rounds = (1 to BPE_ROUNDS).map { rd =>
      val pairs = v.select($"tf", explode(expr(
          """transform(sequence(1, size(arr) - 1), i ->
            |  struct(element_at(arr, i) AS l,
            |         element_at(arr, i + 1) AS r))""".stripMargin)).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"tf").as("cnt"))
        .filter($"l" =!= $"r")
      val top = pairs.orderBy($"cnt".desc, $"l".asc, $"r".asc).limit(1)
      v = v.crossJoin(broadcast(top))
        .select($"tok", $"tf", expr(mergeExpr).as("arr"))
      top.select(lit(rd).as("round"), $"l", $"r",
        concat($"l", $"r").as("merged"), $"cnt")
    }
    (rounds, v)
  }

  def textBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bpeRun(spark, sfDir)._1.reduce(_ unionAll _).orderBy($"round")
  }

  /** BPE ENCODE: the vocabulary re-segmented by the learned merges —
    * what a tokenizer-export step ships after [[textBpeMerges]]
    * learns the table (pieces per token and the piece string itself,
    * so compression is inspectable per word). Runs the SAME
    * rank-ordered merge chain (each round's winner is a broadcast
    * 1-row frame applied map-side to every token's piece array — no
    * extra shuffle beyond the learn loop's pair counts), so encode
    * and learn cannot drift apart. */
  def textBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bpeRun(spark, sfDir)._2
      .select($"tok", $"tf",
        array_join($"arr", " ").as("pieces"),
        size($"arr").as("n_pieces"))
      .orderBy($"tok")
  }

  val textBpeMergesSql: String = {
    def pairCte(name: String, vCte: String) =
      s"""$name AS (
         |  SELECT l, r, cnt FROM (
         |    SELECT arr[i] AS l, arr[i + 1] AS r,
         |      CAST(SUM(tf) AS BIGINT) AS cnt
         |    FROM (SELECT tf, arr,
         |      unnest(generate_series(1, len(arr) - 1)) AS i FROM $vCte)
         |    GROUP BY 1, 2)
         |  WHERE l <> r
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
    def mergeCte(name: String, vCte: String, pCte: String) =
      s"""$name AS (
         |  SELECT tok, tf, list_filter(list_transform(
         |    generate_series(1, len(arr)), i ->
         |      CASE WHEN arr[i] = p.l AND i < len(arr)
         |               AND arr[i + 1] = p.r THEN p.l || p.r
         |           WHEN arr[i] = p.r AND i > 1
         |               AND arr[i - 1] = p.l THEN NULL
         |           ELSE arr[i] END), x -> x IS NOT NULL) AS arr
         |  FROM $vCte, $pCte p)"""
    val chain = (1 to BPE_ROUNDS).map { rd =>
      pairCte(s"p$rd", s"v${rd - 1}") +
        (if (rd < BPE_ROUNDS) ",\n" + mergeCte(s"v$rd", s"v${rd - 1}", s"p$rd")
         else "")
    }.mkString(",\n")
    val out = (1 to BPE_ROUNDS).map { rd =>
      s"SELECT $rd AS round, l, r, l || r AS merged, cnt FROM p$rd"
    }.mkString("\nUNION ALL ")
    s"""WITH $tokensCte,
       |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1),
       |v0 AS (
       |  SELECT tok, tf, list_append(string_split(
       |    trim(regexp_replace(tok, '(.)', '\\1 ', 'g')), ' '), '</w>') AS arr
       |  FROM vocab),
       |$chain
       |$out
       |ORDER BY round""".stripMargin
  }

  val textBpeApplySql: String = {
    def pairCte(name: String, vCte: String) =
      s"""$name AS (
         |  SELECT l, r, cnt FROM (
         |    SELECT arr[i] AS l, arr[i + 1] AS r,
         |      CAST(SUM(tf) AS BIGINT) AS cnt
         |    FROM (SELECT tf, arr,
         |      unnest(generate_series(1, len(arr) - 1)) AS i FROM $vCte)
         |    GROUP BY 1, 2)
         |  WHERE l <> r
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
    def mergeCte(name: String, vCte: String, pCte: String) =
      s"""$name AS (
         |  SELECT tok, tf, list_filter(list_transform(
         |    generate_series(1, len(arr)), i ->
         |      CASE WHEN arr[i] = p.l AND i < len(arr)
         |               AND arr[i + 1] = p.r THEN p.l || p.r
         |           WHEN arr[i] = p.r AND i > 1
         |               AND arr[i - 1] = p.l THEN NULL
         |           ELSE arr[i] END), x -> x IS NOT NULL) AS arr
         |  FROM $vCte, $pCte p)"""
    val chain = (1 to BPE_ROUNDS).map { rd =>
      pairCte(s"p$rd", s"v${rd - 1}") + ",\n" +
        mergeCte(s"v$rd", s"v${rd - 1}", s"p$rd")
    }.mkString(",\n")
    s"""WITH $tokensCte,
       |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1),
       |v0 AS (
       |  SELECT tok, tf, list_append(string_split(
       |    trim(regexp_replace(tok, '(.)', '\\1 ', 'g')), ' '), '</w>') AS arr
       |  FROM vocab),
       |$chain
       |SELECT tok, tf, array_to_string(arr, ' ') AS pieces,
       |  CAST(len(arr) AS INTEGER) AS n_pieces
       |FROM v$BPE_ROUNDS ORDER BY tok""".stripMargin
  }

  /** Flesch-style readability scoring rolled up per language — the
    * quality-floor heuristic a curation pipeline cuts on ("too dense
    * to be prose"). Syllables are the classic vowel-group estimate
    * (runs of [aeiouy], floor 1 per word — "sql" still costs a
    * syllable); the fixture's texts carry no sentence punctuation, so
    * each doc is scored as ONE sentence (stated, not inferred —
    * words/sentence ≡ words/doc). Per-doc integer (word, syllable)
    * counts collapse map-side off one explode; the Flesch formula is
    * a per-doc double rnd6'd BEFORE the exact-decimal language
    * rollup, so corpus-order cannot move the average. Output is
    * O(#languages). */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perDoc = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        explode(split(lower($"text"), " ")).as("tok"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("w"),
        sum(greatest(lit(1), regexp_count($"tok", lit("[aeiouy]+"))))
          .as("syl"))
    val flesch = rnd6(lit(206.835) -
      lit(1.015) * $"w".cast("double") -
      lit(84.6) * ($"syl".cast("double") / $"w".cast("double")))
    perDoc
      .select($"lang", $"w", $"syl", flesch.as("flesch"),
        rnd6($"syl".cast("double") / $"w".cast("double")).as("spw"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        rnd6(xavg($"w".cast("double"))).as("avg_words"),
        rnd6(xavg($"spw")).as("avg_syl_per_word"),
        rnd6(xavg($"flesch")).as("avg_flesch"))
      .orderBy($"lang")
  }

  val textReadabilitySql: String = {
    val flesch = sqlRnd6("206.835 - 1.015 * CAST(w AS DOUBLE) - " +
      "84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))")
    val spw = sqlRnd6("CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)")
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id, lang, COUNT(*) AS w,
       |    CAST(SUM(greatest(1,
       |      len(regexp_extract_all(tok, '[aeiouy]+')))) AS BIGINT) AS syl
       |  FROM toks GROUP BY 1, 2),
       |scored AS (
       |  SELECT lang, w, $flesch AS flesch, $spw AS spw
       |  FROM per_doc)
       |SELECT lang, COUNT(*) AS n_docs,
       |  ${sqlRnd6(sqlXavg("CAST(w AS DOUBLE)"))} AS avg_words,
       |  ${sqlRnd6(sqlXavg("spw"))} AS avg_syl_per_word,
       |  ${sqlRnd6(sqlXavg("flesch"))} AS avg_flesch
       |FROM scored GROUP BY 1 ORDER BY lang""".stripMargin
  }

  /** Suffix-stripping stemmer (Porter steps 1a + a 1b subset) over the
    * corpus vocabulary — the normalization pass that merges
    * inflectional variants (cats/cat, running/run) before TF-IDF /
    * dedup / retrieval, folding the index vocabulary without an
    * external dictionary. Rules, applied in order on each DISTINCT
    * token (so the corpus-sized token stream never re-runs the rule
    * chain — the stem map is vocabulary-sized and joins back by
    * broadcast at any corpus scale):
    * 1a: -sses→-ss, -ies→-i, -ss kept, -s dropped;
    * 1b: -ing / -ed dropped when a vowel precedes the suffix.
    * Pure string CASE + one anchored regex per suffix (RE2 ∩ Java
    * class, the [[textPiiScrub]] constraint), so both engines execute
    * the identical decision tree. Output is the stem table a search
    * pipeline materializes: per stem, variant count, document
    * frequency, and total term frequency. */
  def textStem(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = tokens(spark, sfDir)
      .groupBy($"tok").agg(count(lit(1)).as("tf"),
        countDistinct($"doc_id").as("df"))
    tf
      .withColumn("s1", expr(
        """CASE
          |  WHEN tok LIKE '%sses' THEN substr(tok, 1, length(tok) - 2)
          |  WHEN tok LIKE '%ies' THEN substr(tok, 1, length(tok) - 2)
          |  WHEN tok LIKE '%ss' THEN tok
          |  WHEN tok LIKE '%s' AND length(tok) > 1
          |    THEN substr(tok, 1, length(tok) - 1)
          |  ELSE tok END""".stripMargin))
      .withColumn("stem", expr(
        """CASE
          |  WHEN s1 rlike '[aeiou].*ing$' AND length(s1) >= 5
          |    THEN substr(s1, 1, length(s1) - 3)
          |  WHEN s1 rlike '[aeiou].*ed$' AND length(s1) >= 4
          |    THEN substr(s1, 1, length(s1) - 2)
          |  ELSE s1 END""".stripMargin))
      .groupBy($"stem")
      .agg(countDistinct($"tok").as("n_variants"),
        min($"tok").as("sample_tok"),
        sum($"tf").as("tf_total"), sum($"df").as("df_total"))
      .orderBy($"stem")
  }

  val textStemSql: String =
    s"""WITH $tokensCte,
       |tf AS (
       |  SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY 1),
       |s1t AS (
       |  SELECT *, CASE
       |    WHEN tok LIKE '%sses' THEN substr(tok, 1, length(tok) - 2)
       |    WHEN tok LIKE '%ies' THEN substr(tok, 1, length(tok) - 2)
       |    WHEN tok LIKE '%ss' THEN tok
       |    WHEN tok LIKE '%s' AND length(tok) > 1
       |      THEN substr(tok, 1, length(tok) - 1)
       |    ELSE tok END AS s1
       |  FROM tf),
       |stemmed AS (
       |  SELECT *, CASE
       |    WHEN regexp_matches(s1, '[aeiou].*ing$$') AND length(s1) >= 5
       |      THEN substr(s1, 1, length(s1) - 3)
       |    WHEN regexp_matches(s1, '[aeiou].*ed$$') AND length(s1) >= 4
       |      THEN substr(s1, 1, length(s1) - 2)
       |    ELSE s1 END AS stem
       |  FROM s1t)
       |SELECT stem, COUNT(DISTINCT tok) AS n_variants,
       |  min(tok) AS sample_tok,
       |  CAST(SUM(tf) AS BIGINT) AS tf_total,
       |  CAST(SUM(df) AS BIGINT) AS df_total
       |FROM stemmed GROUP BY 1 ORDER BY stem""".stripMargin

  /** Per-language evaluation of the registered language-ID heuristic
    * ([[textLangid]]) against the fixture's ground-truth labels — the
    * accuracy gate that belongs next to every classifier the engine
    * ships (the `q_simsearch_recall` / `q_dedup_recall` /
    * `q_ts_forecast_eval` discipline applied to langid): per language,
    * tp / fp / fn and precision / recall / F1, with docs the heuristic
    * could not score (no profile token) counted as misses, never
    * silently dropped. Composes the REGISTERED prediction query;
    * x/0 rates are explicitly NULL (the `q_ml_confusion` guard —
    * Spark's non-ANSI NULL vs DuckDB IEEE inf would diverge).
    * Expectation-setting: the fixture's five "languages" draw from
    * one shared synthetic vocabulary, so absolute scores are LOW by
    * construction (~0.2 precision) — the operator's value is the
    * measurement itself, exactly what it would report before anyone
    * shipped this heuristic on real multilingual data. */
  def textLangidEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val pred = textLangid(spark, sfDir)
      .select($"doc_id", $"pred_lang")
    val truth = Tables.documents(spark, sfDir).select($"doc_id", $"lang")
    val joined = truth.join(pred, Seq("doc_id"), "left")
      .localCheckpoint(true) // three per-language reductions below
    val tp = joined.filter($"pred_lang" === $"lang")
      .groupBy($"lang").agg(count(lit(1)).as("tp"))
    val fp = joined.filter($"pred_lang".isNotNull && $"pred_lang" =!= $"lang")
      .groupBy($"pred_lang".as("lang")).agg(count(lit(1)).as("fp"))
    val fn = joined.filter($"pred_lang".isNull || $"pred_lang" =!= $"lang")
      .groupBy($"lang").agg(count(lit(1)).as("fn"))
    truth.select($"lang").distinct()
      .join(tp, Seq("lang"), "left").join(fp, Seq("lang"), "left")
      .join(fn, Seq("lang"), "left")
      .select($"lang",
        coalesce($"tp", lit(0L)).as("tp"),
        coalesce($"fp", lit(0L)).as("fp"),
        coalesce($"fn", lit(0L)).as("fn"))
      .select($"lang", $"tp", $"fp", $"fn",
        when($"tp" + $"fp" === 0, lit(null).cast("double"))
          .otherwise(rnd6($"tp".cast("double") /
            ($"tp" + $"fp").cast("double"))).as("precision"),
        when($"tp" + $"fn" === 0, lit(null).cast("double"))
          .otherwise(rnd6($"tp".cast("double") /
            ($"tp" + $"fn").cast("double"))).as("recall"),
        when(lit(2L) * $"tp" + $"fp" + $"fn" === 0,
          lit(null).cast("double"))
          .otherwise(rnd6((lit(2.0) * $"tp".cast("double")) /
            (lit(2L) * $"tp" + $"fp" + $"fn").cast("double"))).as("f1"))
      .orderBy($"lang")
  }

  val textLangidEvalSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH pred0 AS (${textLangidSql}),
       |joined AS (
       |  SELECT d.doc_id, d.lang, p.pred_lang
       |  FROM documents d LEFT JOIN pred0 p ON d.doc_id = p.doc_id),
       |tp AS (SELECT lang, COUNT(*) AS tp FROM joined
       |  WHERE pred_lang = lang GROUP BY 1),
       |fp AS (SELECT pred_lang AS lang, COUNT(*) AS fp FROM joined
       |  WHERE pred_lang IS NOT NULL AND pred_lang <> lang GROUP BY 1),
       |fn AS (SELECT lang, COUNT(*) AS fn FROM joined
       |  WHERE pred_lang IS NULL OR pred_lang <> lang GROUP BY 1),
       |base AS (
       |  SELECT l.lang, COALESCE(tp.tp, 0) AS tp, COALESCE(fp.fp, 0) AS fp,
       |    COALESCE(fn.fn, 0) AS fn
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  LEFT JOIN tp USING (lang) LEFT JOIN fp USING (lang)
       |  LEFT JOIN fn USING (lang))
       |SELECT lang, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN NULL ELSE
       |    ${sqlRnd6("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)")} END
       |    AS precision,
       |  CASE WHEN tp + fn = 0 THEN NULL ELSE
       |    ${sqlRnd6("CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)")} END
       |    AS recall,
       |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE
       |    ${sqlRnd6(
      "2.0 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)")} END
       |    AS f1
       |FROM base ORDER BY lang""".stripMargin
  }

  /** Minimum token count for the [[pipelineCorpus]] quality gate. */
  private val PIPE_MIN_TOKENS = 12

  /** Near-dup absorption threshold for [[pipelineCorpus]]. */
  private val PIPE_NEAR_J = 0.5

  /** The corpus-curation FUNNEL end to end — the flagship deliverable
    * of the LLM-data families: every document flows quality gate →
    * exact dedup → near-dup removal, stages applied SEQUENTIALLY (a
    * later stage only sees earlier survivors, so e.g. an exact-dup
    * group whose min-id member failed quality keeps its next-smallest
    * survivor — the ordering a real pipeline has and a flag-only
    * formulation gets wrong), and the output is the per-language
    * accounting table a data lead reviews before a training run:
    * docs in, drops per stage, docs kept, tokens kept.
    *
    * Rules: quality = ≥ [[PIPE_MIN_TOKENS]] whitespace tokens; exact =
    * min-doc_id survivor per md5(text) (16-byte key, never the body —
    * the 100 TB shuffle rule); near = direct-pair absorption
    * doc_b→doc_a for verified shingle Jaccard ≥ [[PIPE_NEAR_J]]
    * between two survivors ([[graft.operators.DedupOps.dedupNear]]'s
    * REGISTERED output is the pair source — the funnel composes
    * audited operators, it does not re-derive them; transitive-chain
    * absorption is the registered clustering family's job). Everything
    * after the pair join is per-doc flags + ONE (lang) aggregation. */
  def pipelineCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        size(split(lower($"text"), " ")).as("n_toks"),
        md5($"text").as("ck"))
      .localCheckpoint(true) // base of every stage below
    val q = docs.filter($"n_toks" >= PIPE_MIN_TOKENS)
    val keepIds = q.groupBy($"ck").agg(min($"doc_id").as("keep_id"))
    val exactSurv = q.join(keepIds, "ck")
      .filter($"doc_id" === $"keep_id")
      .select($"doc_id").localCheckpoint(true) // both near-join sides
    val absorbed = DedupOps.dedupNear(spark, sfDir)
      .filter($"jaccard" >= PIPE_NEAR_J)
      .join(exactSurv.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(exactSurv.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select($"doc_b".as("doc_id")).distinct()
    val staged = docs
      .join(keepIds, Seq("ck"), "left")
      .join(absorbed.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select($"lang", $"n_toks",
        when($"n_toks" < PIPE_MIN_TOKENS, "quality")
          .when($"doc_id" =!= $"keep_id", "exact_dup")
          .when($"is_near" === 1, "near_dup")
          .otherwise("kept").as("stage"))
    staged.groupBy($"lang")
      .agg(count(lit(1)).as("n_in"),
        sum(when($"stage" === "quality", 1).otherwise(0))
          .as("drop_quality"),
        sum(when($"stage" === "exact_dup", 1).otherwise(0))
          .as("drop_exact"),
        sum(when($"stage" === "near_dup", 1).otherwise(0))
          .as("drop_near"),
        sum(when($"stage" === "kept", 1).otherwise(0)).as("n_kept"),
        sum(when($"stage" === "kept", $"n_toks").otherwise(0L))
          .as("kept_tokens"))
      .orderBy($"lang")
  }

  val pipelineCorpusSql: String = {
    import graft.operators.DedupOps
    s"""WITH docs AS (
       |  SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS n_toks,
       |    md5(text) AS ck
       |  FROM documents),
       |q AS (SELECT * FROM docs WHERE n_toks >= $PIPE_MIN_TOKENS),
       |keep_ids AS (SELECT ck, min(doc_id) AS keep_id FROM q GROUP BY 1),
       |exact_surv AS (
       |  SELECT doc_id FROM q JOIN keep_ids USING (ck)
       |  WHERE doc_id = keep_id),
       |near AS (SELECT * FROM (${DedupOps.dedupNearSql})
       |  WHERE jaccard >= $PIPE_NEAR_J),
       |absorbed AS (
       |  SELECT DISTINCT n.doc_b AS doc_id
       |  FROM near n
       |  JOIN exact_surv a ON n.doc_a = a.doc_id
       |  JOIN exact_surv b ON n.doc_b = b.doc_id),
       |staged AS (
       |  SELECT d.lang, d.n_toks,
       |    CASE WHEN d.n_toks < $PIPE_MIN_TOKENS THEN 'quality'
       |      WHEN d.doc_id <> k.keep_id THEN 'exact_dup'
       |      WHEN ab.doc_id IS NOT NULL THEN 'near_dup'
       |      ELSE 'kept' END AS stage
       |  FROM docs d
       |  LEFT JOIN keep_ids k USING (ck)
       |  LEFT JOIN absorbed ab ON d.doc_id = ab.doc_id)
       |SELECT lang, COUNT(*) AS n_in,
       |  CAST(SUM(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS drop_quality,
       |  CAST(SUM(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS drop_exact,
       |  CAST(SUM(CASE WHEN stage = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS drop_near,
       |  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END)
       |    AS BIGINT) AS kept_tokens
       |FROM staged GROUP BY 1 ORDER BY lang""".stripMargin
  }
}
