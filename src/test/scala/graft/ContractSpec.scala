package graft

import org.apache.spark.sql.types._

/** Driver-contract invariants over the whole SparkEntry surface.
  *
  * The external comparator hashes scalar cells only — an array/map/struct
  * output column crashes its sort (observed in CORRECTNESS_r01.json:
  * pandas "unhashable type: numpy.ndarray"). Nested payloads must be
  * serialized (array_join / to_json) before they leave a query.
  */
class ContractSpec extends SparkSpec {

  /** What a key may not change on the caller's session: its conf,
    * its temp views (name to view object, so a REPLACED view shows as
    * well as an added one), its temp functions and its optimizer and
    * planner extensions. [[graft.plans.TopKPerKeyStrategy]], the
    * planner for graft's own logical node, is the one strategy a key
    * may add: a frame holding that node plans on the caller's
    * session. */
  private final class Observed(val conf: Map[String, String],
      val views: Map[String, AnyRef], val functions: Set[String],
      val optimizations: Seq[AnyRef], val strategies: Seq[AnyRef])

  private def observe(): Observed = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val catalog = cs.sessionState.catalog
    new Observed(spark.conf.getAll,
      catalog.getTempViewNames().map(n => n -> catalog.getRawTempView(n).orNull)
        .toMap,
      cs.sessionState.functionRegistry.listFunction().map(_.unquotedString)
        .toSet,
      cs.experimental.extraOptimizations,
      cs.experimental.extraStrategies
        .filterNot(_ eq graft.plans.TopKPerKeyStrategy))
  }

  /** Every key built once at sf0.001: its schema (or the build's
    * failure) and the caller's session before and after the build.
    * Streaming queries execute eagerly even on schema access, so each
    * plan is built once (cheap at sf0.001) and shared by the tests. */
  private lazy val builds: Seq[(String, Either[Throwable, StructType],
      Observed, Observed)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = observe()
      val schema =
        try Right(fn(spark, sf).schema)
        catch { case e: Throwable => Left(e) }
      (name, schema, before, observe())
    }

  /** The changes from `before` to `after`, empty when there are none. */
  private def diff(before: Observed, after: Observed): String = {
    val conf = (before.conf.keySet ++ after.conf.keySet).toSeq.sorted
      .filter(k => before.conf.get(k) != after.conf.get(k))
      .map(k => s"conf $k: ${before.conf.get(k)} -> ${after.conf.get(k)}")
    val views = (before.views.keySet ++ after.views.keySet).toSeq.sorted
      .filter(n => !before.views.get(n).exists(v => after.views.get(n).exists(_ eq v)))
      .map(n => s"temp view $n " + (if (!after.views.contains(n)) "dropped"
        else if (before.views.contains(n)) "replaced" else "added"))
    val functions = (after.functions -- before.functions).toSeq.sorted
      .map(f => s"temp function $f added") ++
      (before.functions -- after.functions).toSeq.sorted
        .map(f => s"temp function $f dropped")
    val extensions =
      (if (before.optimizations == after.optimizations) Nil
       else Seq(s"extraOptimizations ${before.optimizations} -> " +
         s"${after.optimizations}")) ++
      (if (before.strategies == after.strategies) Nil
       else Seq(s"extraStrategies ${before.strategies} -> " +
         s"${after.strategies}"))
    (conf ++ views ++ functions ++ extensions).mkString(", ")
  }

  test("every query's output schema is atomic-only (comparator-hashable)") {
    val offenders = builds.flatMap { case (name, built, _, _) =>
      val schema = built.fold(e => fail(
        s"$name failed to build its plan at $sf: ${e.getMessage}", e), s => s)
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"non-atomic output columns (driver comparator crashes on these): " +
        offenders.mkString(", "))
  }

  test("no key's build or action changes the caller's session conf") {
    // conf, temp views, temp functions and optimizer/planner
    // extensions (see [[Observed]]): a key builds on a clone of the
    // caller's session when it needs any of them
    val writers = builds.flatMap { case (name, _, before, after) =>
      Some(diff(before, after)).filter(_.nonEmpty).map(d => s"$name ($d)")
    }
    assert(writers.isEmpty,
      s"keys whose build changed the caller's session: ${writers.mkString("; ")}")
    // one action each: the returned frame may plan under its own
    // session's confs, never by writing the caller's
    val actions = Seq("q_graph_pagerank", "q_cf_als", "q_simsearch_hnsw",
      "q_stream_session", "q_stream_file_source", "q_source_spj_join",
      "q_catalog_scan", "q_txn_commit", "q_sql_qualify",
      "q_win_rank_topn_auto").flatMap { name =>
      val before = observe()
      SparkEntry.queries(name)(spark, sf).collect()
      Some(diff(before, observe())).filter(_.nonEmpty).map(d => s"$name ($d)")
    }
    assert(actions.isEmpty,
      s"keys whose action changed the caller's session: ${actions.mkString("; ")}")
  }

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }
}
