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

  private def conf: Map[String, String] = spark.conf.getAll

  /** Every key built once at sf0.001: its schema (or the build's
    * failure) and the session conf before and after the build.
    * Streaming queries execute eagerly even on schema access, so each
    * plan is built once (cheap at sf0.001) and shared by the tests. */
  private lazy val builds: Seq[(String, Either[Throwable, StructType],
      Map[String, String], Map[String, String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = conf
      val schema =
        try Right(fn(spark, sf).schema)
        catch { case e: Throwable => Left(e) }
      (name, schema, before, conf)
    }

  private def confDiff(before: Map[String, String],
      after: Map[String, String]): String =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", ")

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
    val writers = builds.collect {
      case (name, _, before, after) if before != after =>
        s"$name (${confDiff(before, after)})"
    }
    assert(writers.isEmpty,
      s"keys whose build wrote session conf: ${writers.mkString("; ")}")
    // one action each: the returned frame may plan under its own
    // session's confs, never by writing the caller's
    val actions = Seq("q_graph_pagerank", "q_cf_als", "q_simsearch_hnsw",
      "q_stream_session", "q_stream_file_source", "q_source_spj_join",
      "q_catalog_scan", "q_txn_commit").flatMap { name =>
      val before = conf
      SparkEntry.queries(name)(spark, sf).collect()
      val after = conf
      if (before == after) None else Some(s"$name (${confDiff(before, after)})")
    }
    assert(actions.isEmpty,
      s"keys whose action wrote session conf: ${actions.mkString("; ")}")
  }

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }
}
