package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Fixed headline subset reported per-query in the JSON line — one
    * representative per operator family plus the known heavies, so the
    * per-query map stays comparable round-over-round AND the printed
    * line stays short: round 1's full 97-query map made the line ~3 KB,
    * which overflowed the driver's output tail capture and left the
    * bench unparsed (BENCH_r01.json "parsed": null). The TOTAL still
    * covers every query in [[SparkEntry.queries]].
    */
  private val headline = Seq(
    "q_agg_multi_key_pricing", "q_agg_hash_group", "q_agg_rollup",
    "q_scan_parquet", "q_filter_pred", "q_project_expr",
    "q_join_shuffle", "q_join_broadcast", "q_join_asof",
    "q_win_rank_topn", "q_sort_multi", "q_set_union_all",
    "q_subquery_scalar", "q_fn_string", "q_udtf_tokenize",
    "q_cf_item_cosine", "q_cf_item_pearson", "q_cf_predict_knn",
    "q_cf_als", "q_dedup_minhash_lsh", "q_dedup_near",
    "q_simsearch_topk", "q_simsearch_ivf", "q_text_tfidf",
    "q_stream_sliding", "q_stream_tws",
    "q_tpch_q5", "q_tpch_q18", "q_cf_slope_one",
    "q_dedup_cluster", "q_win_session")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to every core: the harness contract is local[32] on this
    // 32-cpu host, and the driver does not set SPARK_GRAFT_CPUS — the
    // old default of 4 would run the whole bench at 1/8 parallelism.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed session warm-up: JIT/codegen paths, Hadoop FS init, and
    // one parquet footer read. No query results are precomputed here —
    // it only removes JVM start-up cost from the first timed query.
    spark.range(1000000).selectExpr("sum(id) s", "count(1) c").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Sorted key order: Map iteration order is hash-arbitrary, so which
    // query happened to pay a shared one-time build (the CF chain's
    // pair moments, a table's first cold scan) changed per build and
    // made per-query numbers incomparable round-over-round. Sorted
    // order pins the assignment deterministically.
    // SPARK_GRAFT_BENCH_REPS (default 2): report the per-query MIN over
    // n reps so a single noisy draw on this shared host can't masquerade
    // as a regression — round 5's single-rep total ran 2.05× the clean
    // envelope purely from harness co-tenancy (BASELINE.md "driver vs
    // builder envelope"). Min-over-reps is the standard steady-state
    // convention; the "reps" field in the JSON line records which
    // convention produced the number. Reps run as full passes (rep 1
    // pays every one-time shared build) so the min reflects a warm
    // steady state, never a partially-built one.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    // A crashed query must never bench as a fast one: collect the keys
    // that threw (any rep) and surface them in the JSON line — round 7
    // shipped a throwing key that this loop silently timed as "0.02s".
    val errored = scala.collection.mutable.SortedSet[String]()
    val results = (1 to reps).map { _ =>
      sortedQueries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case _: Throwable => errored += name }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    // Locale.ROOT: f"%.3f" under a comma-decimal JVM locale would emit
    // 0,123 and break the JSON line.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val reported =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ALL")) results.keys.toSeq
      else headline.filter(results.contains)
    val qs = reported.map(k => s"\"" + k + "\":" + r3(results(k)))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Drift-adjudication artifact: the FULL per-key map goes to a file
    // unconditionally (the stdout line stays headline-only — the
    // driver's tail capture overflows past ~1 KB), so any future
    // per-key bench drift has complete same-run data without a rerun.
    val allQs = results.keys.toSeq.sorted
      .map(k => s"\"" + k + "\":" + r3(results(k)))
      .mkString("{", ",", "}")
    val benchAll = s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"n_queries":${results.size},"errors":$errs,"queries":$allQs,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_all.json"),
      benchAll.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // read-only cwd: keep benching
    // Print the contract line AFTER spark.stop(): SparkContext shutdown
    // logs WARN lines (e.g. DAGScheduler job-group cancels) that would
    // otherwise land between the JSON and process exit, so this keeps
    // the one-line JSON the process's final output for the driver's
    // extractor (r13 verdict item 1 — every BENCH_r*.json parsed null
    // because the line arrived sbt-"[info]"-prefixed and non-final).
    // The timed region and the line's content are unchanged. A
    // failing stop() must not swallow the line: the results are final.
    try spark.stop() catch { case scala.util.control.NonFatal(_) => () }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"n_queries":${results.size},"errors":$errs,"queries":$qs,"sf":"$sfDir"}""")
    Console.out.flush()
  }
}
