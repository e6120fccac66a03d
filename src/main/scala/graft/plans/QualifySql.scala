package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** SQL-TEXT front end for the `QUALIFY` clause (Snowflake / BigQuery /
  * DuckDB surface; filtering on window functions without a manual
  * subquery) — Spark's parser has no QUALIFY, so a query like
  *
  * {{{
  * SELECT o_custkey, o_orderkey, o_totalprice
  * FROM orders
  * QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
  *                            ORDER BY o_totalprice DESC) <= 3
  * ORDER BY o_custkey
  * }}}
  *
  * is rewritten to the standard-SQL equivalent: the predicate becomes
  * a computed select item of the inner query (window functions are
  * legal there), an outer filter keeps the qualifying rows, the
  * helper column is dropped, and any trailing ORDER BY / LIMIT is
  * applied on top. This is exactly the desugaring every engine with
  * QUALIFY performs internally, so semantics match the engines that
  * define the clause: the predicate is evaluated over the SELECT's
  * input after grouping/HAVING, per window partition.
  *
  * Grammar accepted (validated, loud on violation): one top-level
  * QUALIFY in a single SELECT statement, optionally followed by
  * top-level ORDER BY and/or LIMIT. Top-level means paren-depth 0 and
  * outside string literals — window parens, subqueries in the WHERE
  * clause, and quoted text never confuse the split. Scale note: the
  * rewrite adds nothing beyond the window the predicate already
  * demands; the plan is identical to the hand-written subquery form
  * (typically one shuffle on the window partition key, then a
  * stream-side filter — Spark's WindowGroupLimit rewrites the
  * rank-predicate shape into per-partition top-k heaps).
  */
object QualifySql {

  private val helper = "__graft_qualify"

  /** Index of each top-level (depth-0, unquoted) occurrence of
    * keyword `kw` (case-insensitive, word-bounded). */
  private def topLevelKeyword(s: String, kw: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var depth = 0
    var inStr = false
    var i = 0
    val upper = s.toUpperCase
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\'') inStr = false
      } else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith(kw, i) &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
            (i + kw.length >= s.length ||
              !Character.isLetterOrDigit(s.charAt(i + kw.length))))
            out += i
      }
      i += 1
    }
    out.result()
  }

  /** Rewrite and run `text` against `spark` (tables must already be
    * resolvable, e.g. inside [[graft.engine.Tables.withViews]]). A
    * trailing ORDER BY / LIMIT runs over a helper temp view created in
    * `spark`, so pass a session of your own, like that clone. Throws
    * IllegalArgumentException on anything outside the declared
    * grammar rather than guessing. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val quals = topLevelKeyword(text, "QUALIFY")
    require(quals.size == 1,
      s"expected exactly one top-level QUALIFY, found ${quals.size}")
    val qAt = quals.head
    val head = text.substring(0, qAt)
    require(topLevelKeyword(head, "SELECT").nonEmpty,
      "QUALIFY must follow a SELECT statement")
    require(topLevelKeyword(head, "UNION").isEmpty &&
      topLevelKeyword(head, "INTERSECT").isEmpty &&
      topLevelKeyword(head, "EXCEPT").isEmpty,
      "QUALIFY over set operations is not supported")
    val rest = text.substring(qAt + "QUALIFY".length)
    // the predicate runs to the next top-level ORDER BY / LIMIT (or EOF)
    val stops = (topLevelKeyword(rest, "ORDER") ++
      topLevelKeyword(rest, "LIMIT")).sorted
    val (pred, suffix) = stops.headOption match {
      case Some(at) => (rest.substring(0, at), rest.substring(at))
      case None => (rest, "")
    }
    require(pred.trim.nonEmpty, "QUALIFY predicate is empty")
    // Faithful scoping: QUALIFY sees the SELECT's own input (any FROM
    // column, grouped or windowed), not just the projected columns —
    // so the predicate is injected as an extra item of the ORIGINAL
    // select list (window functions are legal there), evaluated in
    // the identical scope, then filtered and dropped.
    val froms = topLevelKeyword(head, "FROM")
    require(froms.nonEmpty, "expected a top-level FROM before QUALIFY")
    require(topLevelKeyword(head.substring(0, froms.head), "DISTINCT").isEmpty,
      "QUALIFY over SELECT DISTINCT is not supported " +
        "(the helper column would change distinctness)")
    val inner = head.substring(0, froms.head) +
      s", ($pred) AS $helper " + head.substring(froms.head)
    val filtered = spark.sql(inner).filter(col(helper)).drop(helper)
    if (suffix.trim.isEmpty) filtered
    else {
      val view = s"${helper}_filtered"
      filtered.createOrReplaceTempView(view)
      spark.sql(s"SELECT * FROM $view $suffix")
    }
  }
}
