package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MATCH_RECOGNIZE-grade row-pattern matching (the SQL:2016 feature
  * Spark lacks), as a reusable operator: DEFINE predicates name
  * pattern VARIABLES, a PATTERN regex composes them, and each match
  * emits one row of per-match MEASURES.
  *
  * Semantics implemented (the load-bearing subset):
  *  - `PARTITION BY` one key, `ORDER BY` a total per-partition order.
  *  - `DEFINE`: each row is classified by the FIRST variable whose
  *    predicate it satisfies; a row satisfying none can never be part
  *    of a match (it hard-breaks patterns — SQL's undefined-row rule).
  *  - `PATTERN`: variables composed with regex operators
  *    (`*`, `+`, `?`, `|`, `()`, `{n,m}`) — e.g. `"V C* P"`. Matching
  *    is leftmost-greedy like the standard.
  *  - `AFTER MATCH SKIP PAST LAST ROW` (default, non-overlapping) and
  *    `AFTER MATCH SKIP TO NEXT ROW` (overlapping re-scan from the
  *    row after each match start).
  *  - Measures per match: 1-based match number, 1-based first/last
  *    row positions in the partition's order, total matched rows, and
  *    one `n_<variable>` count per defined variable (CLASSIFIER()
  *    aggregated — each row's variable is knowable because
  *    classification is per-row).
  *
  * Execution shape: rows classify map-side into one char per
  * variable (codegen'd CASE), each partition key's history collapses
  * to a bounded string (per-entity sessions, never the corpus — the
  * [[graft.operators.SnapshotOps.eventsPattern]] discipline this
  * generalizes), and `java.util.regex` walks each string once per
  * key in a flatMap. One shuffle on the partition key; the pattern
  * pass is embarrassingly parallel. At 100 TB the per-key bound is
  * the contract (same as any MATCH_RECOGNIZE engine: state is the
  * partition, not the table); a key whose history exceeds memory
  * needs session-windowing upstream, which the streaming family
  * provides.
  *
  * Determinism: the order columns must totally order each partition
  * (the caller includes a unique tiebreaker), making the collapsed
  * string — and every match position — partition-count-independent. */
object MatchRecognize {

  sealed trait AfterMatchSkip
  /** Resume scanning after the last row of the match (default). */
  case object SkipPastLastRow extends AfterMatchSkip
  /** Resume at the row after the match's FIRST row (overlapping). */
  case object SkipToNextRow extends AfterMatchSkip

  /** Variable chars 'a'..'z' in DEFINE order; rows matching no
    * variable get [[FILLER]], which no pattern can reference. */
  private val FILLER = '0'

  /** `measuresFor`: columns whose FIRST()/LAST() per-match values are
    * emitted as `first_<col>` / `last_<col>` (typed from the input
    * schema) — the SQL:2016 navigation measures. */
  def apply(df: DataFrame, partitionBy: String, orderBy: Seq[String],
      define: Seq[(String, Column)], pattern: String,
      afterMatch: AfterMatchSkip = SkipPastLastRow,
      measuresFor: Seq[String] = Nil): DataFrame = {
    require(define.nonEmpty && define.size <= 26, "1..26 variables")

    val varChar: Map[String, Char] =
      define.zipWithIndex.map { case ((n, _), i) =>
        n -> ('a' + i).toChar
      }.toMap
    // translate variable names in the pattern to their chars; pass
    // regex operators through; reject unknown identifiers loudly
    val rx = raw"[A-Za-z_][A-Za-z_0-9]*".r
    // tokenize BEFORE stripping whitespace — "V C" is two variables,
    // "VC" would be one unknown identifier
    val compiled = rx.replaceAllIn(pattern, m =>
      varChar.getOrElse(m.matched, throw new IllegalArgumentException(
        s"pattern variable ${m.matched} has no DEFINE")).toString)
      .replaceAll("\\s+", "")
    val javaPattern = java.util.regex.Pattern.compile(compiled)

    // per-row classification: FIRST satisfied DEFINE wins
    val codeCol = define.reverse.foldLeft(lit(FILLER.toString)) {
      case (acc, (n, pred)) => when(pred, lit(varChar(n).toString))
        .otherwise(acc)
    }

    val partField = df.schema(partitionBy)
    val outSchema = StructType(
      partField +:
        Seq(StructField("match_no", IntegerType),
          StructField("first_row", IntegerType),
          StructField("last_row", IntegerType),
          StructField("n_rows", IntegerType)) ++:
        define.map { case (n, _) =>
          StructField(s"n_${n.toLowerCase}", IntegerType)
        } ++:
        measuresFor.flatMap { c =>
          val dt = df.schema(c).dataType
          Seq(StructField(s"first_$c", dt), StructField(s"last_$c", dt))
        })
    val enc = RowEncoder.encoderFor(outSchema)

    // the sorted per-key row array keeps the measure columns so the
    // kernel can navigate FIRST()/LAST() by match position; struct
    // field order = orderBy ++ measures ++ code, sorted by the
    // leading orderBy fields (total order ⇒ measure fields never
    // influence the sort)
    val measureOffset = orderBy.size
    val ordered = df
      .select(col(partitionBy) +: orderBy.map(col) ++:
        measuresFor.map(col) :+ codeCol.as("__mr_code"): _*)
      .groupBy(col(partitionBy))
      .agg(array_sort(collect_list(struct(
        orderBy.map(col) ++: measuresFor.map(col) :+
          col("__mr_code"): _*))).as("__mr_rows"))

    val chars = define.map { case (n, _) => varChar(n) }
    val overlap = afterMatch == SkipToNextRow
    val nMeasures = measuresFor.size
    ordered.flatMap { r =>
      val part = r.get(0) // (partition, __mr_rows) — positional
      val rows = r.getSeq[Row](1)
      val sb = new java.lang.StringBuilder(rows.size)
      rows.foreach(x => sb.append(x.getString(measureOffset + nMeasures)))
      val seq = sb.toString
      val m = javaPattern.matcher(seq)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var from = 0
      var matchNo = 0
      while (from <= seq.length && m.find(from)) {
        val s = m.start(); val e = m.end()
        if (e == s) {
          // zero-width match from an empty-capable pattern (e.g.
          // `C*`): matches no rows, so there is nothing to emit and
          // no row to navigate (rows(s) at s == rows.size and
          // rows(e-1) at e == 0 are both out of range) — skip it and
          // advance one char so the scan still terminates
          from = s + 1
        } else {
          matchNo += 1
          val counts = chars.map { c =>
            var n = 0; var i = s
            while (i < e) { if (seq.charAt(i) == c) n += 1; i += 1 }
            Int.box(n)
          }
          val nav = (0 until nMeasures).flatMap { i =>
            Seq(rows(s).get(measureOffset + i),
              rows(e - 1).get(measureOffset + i))
          }
          out += Row.fromSeq(
            part +: Seq(Int.box(matchNo), Int.box(s + 1), Int.box(e),
              Int.box(e - s)) ++: counts ++: nav)
          from = if (overlap) s + 1 else e
        }
      }
      out
    }(enc)
  }
}
