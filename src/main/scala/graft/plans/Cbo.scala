package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

import graft.engine.FooterStats

/** Cost-based join planning grounded in the ENGINE'S OWN metadata:
  * ANALYZE reads a transactional table's footer stats (row count,
  * on-disk bytes, per-column min/max/nulls — the same numbers
  * `$files`/`$partitions` serve) and the join planner uses them to
  * decide broadcast-vs-shuffle instead of relying on hints or
  * Spark's file-size session estimate. This is the feedback loop a
  * lakehouse runs at scale: the manifest already knows how big each
  * side is; the planner should ask it. The decision is made at PLAN
  * time from O(files) footer metadata — no data is read to decide.
  *
  * Scale note (100 TB): broadcasting is a function of the BUILD
  * side's true size, which Spark's `autoBroadcastJoinThreshold`
  * estimates from raw file bytes — fine for full scans, misleading
  * after pruning/filters. A stats-backed decision from the table's
  * own manifest row counts is strictly better information, and the
  * threshold compares DECOMPRESSED estimated width, not compressed
  * parquet bytes. */
object Cbo {

  /** ANALYZE output for one table: totals plus per-column stats.
    * `ndv` (per-column distinct counts) is OPTIONAL and comes from
    * [[withNdv]], not the footer pass — parquet footers carry no
    * distinct counts, so NDV is the one statistic that costs a data
    * scan (the `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`
    * split every warehouse makes). */
  final case class TableStats(nRows: Long, sizeBytes: Long,
      cols: Map[String, FooterStats.ColStat],
      ndv: Map[String, Long] = Map.empty,
      avgRowBytes: Double = 0.0) {
    /** WIDTH-AWARE per-row size estimate: the footer's uncompressed
      * (decoded-codec, still parquet-encoded) bytes per row × an
      * encoding-expansion factor for the in-memory form, FLOORED at
      * the old 8 bytes/column integer estimate. The floor matters for
      * dictionary-crushed integer columns (encoded bytes/row can be
      * < 1); the measured width matters for text/array columns, where
      * 8 B/col under-counts by 2-3 orders of magnitude — a
      * documents-shaped dim small by ROW COUNT could otherwise sail
      * a multi-GB payload under a 10 MB broadcast budget. */
    def rowWidth: Double =
      math.max(avgRowBytes * ENCODING_EXPANSION,
        8.0 * math.max(cols.size, 1))
    /** PROJECTION-AWARE row width: when the frame being priced keeps
      * only a subset of the table's columns, price those columns'
      * measured footer bytes (per-column, 8 B floor each) — a 2-of-40
      * projection must not be priced at full-table width any more
      * than a text column should be priced at 8 bytes. `None` (or a
      * column the footer does not know) falls back conservatively. */
    def rowWidthFor(projected: Option[Seq[String]]): Double =
      projected match {
        case None => rowWidth
        case Some(cs) if cs.isEmpty => rowWidth
        case Some(cs) =>
          val known = cs.flatMap(cols.get)
          if (known.size < cs.size) rowWidth // unknown column → full width
          else known.map { s =>
            math.max(
              if (nRows > 0)
                s.rawBytes.toDouble / nRows * ENCODING_EXPANSION
              else 0.0,
              8.0)
          }.sum
      }
    /** Decompressed in-memory size estimate of a broadcast build. */
    def estBroadcastBytes: Long = (nRows * rowWidth).toLong
  }

  /** In-memory expansion over parquet's uncompressed-but-encoded
    * bytes (UnsafeRow word alignment, string/array headers, hash
    * table slack). 2× is the conservative middle of what Spark's own
    * size estimators assume; it only needs to be order-of-magnitude
    * right — the decision it feeds is broadcast-vs-shuffle, and the
    * 8 B/col floor bounds it from below. */
  val ENCODING_EXPANSION = 2.0

  /** Per-(path, freshness, column) NDV cache: pay the distinct-count
    * scan once per session, not once per plan. The FRESHNESS TOKEN in
    * the key (file count + total bytes + max mtime of the path's
    * parquet files) is what makes the cache safe against an in-session
    * rewrite: regenerating a fixture or overwriting a parquet dir at
    * the same path changes the token, so the stale entry can never be
    * served to a join-order decision. */
  private val ndvCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Long]

  /** Cheap rewrite detector for a plain parquet path — metadata-only
    * (same listing ANALYZE's footer pass walks; no data pages). */
  private def freshnessToken(path: String): String = {
    val f = new java.io.File(path).getCanonicalFile
    // RECURSIVE walk: a hive-partitioned layout keeps its part files
    // in key=value subdirectories — a top-level-only listing would
    // return a constant empty token there and silently disable the
    // rewrite detection this cache key exists for
    def walk(d: java.io.File): Array[java.io.File] =
      if (d.isFile) { if (d.getName.endsWith(".parquet")) Array(d) else Array.empty }
      else Option(d.listFiles()).getOrElse(Array.empty).flatMap(walk)
    val files = walk(f)
    s"${files.length}|${files.map(_.length).sum}|" +
      s"${files.map(_.lastModified).foldLeft(0L)(math.max)}"
  }

  /** Enrich footer stats with per-column NDV — one
    * approx_count_distinct aggregate over the table (a single
    * partial-aggregated job; HLL error ~2 % is far inside the
    * margins a join-order decision needs). Cached per
    * (path, freshness token, col). */
  def withNdv(stats: TableStats, spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String]): TableStats = {
    val token = freshnessToken(path)
    // evict superseded entries for this path so a long session that
    // rewrites tables cannot accumulate dead cache rows
    ndvCache.keys.filter(k => k._1 == path && k._2 != token)
      .foreach(ndvCache.remove)
    val missing = cols.filterNot(c => ndvCache.contains((path, token, c)))
    if (missing.nonEmpty) {
      import org.apache.spark.sql.functions.approx_count_distinct
      val row = spark.read.parquet(path)
        .agg(approx_count_distinct(missing.head),
          missing.tail.map(approx_count_distinct(_)): _*)
        .head()
      missing.zipWithIndex.foreach { case (c, i) =>
        ndvCache((path, token, c)) = row.getLong(i)
      }
    }
    stats.copy(ndv = stats.ndv ++
      cols.map(c => c -> ndvCache((path, token, c))))
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` on a
    * TRANSACTIONAL table: per-column NDV computed at the LATEST
    * committed snapshot and PERSISTED as a `vN.stats` artifact in the
    * txn log (graft.engine.TxnLog.writeColumnStats), next to the
    * version's schema/mapping artifacts. A FRESH session (or another
    * process) planning against the same table reads the artifact
    * before any data scan — join-order decisions then cost O(files)
    * footer metadata plus one artifact read, zero data pages. Keying
    * by snapshot version is the staleness fix: a rewrite at the same
    * path is a NEW commit, whose version has no artifact until it is
    * analyzed again — stale NDV is unreachable by construction. */
  def analyzeColumns(spark: org.apache.spark.sql.SparkSession,
      root: String, cols: Seq[String],
      exact: Boolean = false): TableStats = {
    import graft.engine.TxnLog
    val v = TxnLog.latestCommitted(root)
    require(v >= 0, s"$root: no committed version to analyze")
    val base = analyze(root)
    val persisted = TxnLog.readColumnStats(root, v)
    val missing = cols.filterNot(persisted.contains)
    val computed =
      if (missing.isEmpty) Map.empty[String, Long]
      else {
        import org.apache.spark.sql.functions.{approx_count_distinct,
          countDistinct, col}
        // approx (HLL, one partial-aggregated pass) is the 100 TB
        // default; `exact` (count distinct — an extra shuffle) is for
        // small dimensions and differential oracles, the same split
        // every warehouse's ANALYZE offers
        def agg(c: String) =
          if (exact) countDistinct(col(c)) else approx_count_distinct(c)
        val row = TxnLog.read(spark, root, v)
          .agg(agg(missing.head), missing.tail.map(agg): _*)
          .head()
        val m = missing.zipWithIndex
          .map { case (c, i) => c -> row.getLong(i) }.toMap
        TxnLog.writeColumnStats(root, v, m)
        m
      }
    base.copy(ndv = base.ndv ++ persisted ++ computed)
  }

  /** ANALYZE TABLE: one footer pass over the latest snapshot. */
  def analyze(root: String): TableStats =
    fromFiles(FooterStats.latestSnapshot(root))

  /** ANALYZE for a plain parquet table (single file or directory) —
    * the fixture tables and any non-transactional input. */
  def analyzePath(path: String): TableStats =
    fromFiles(FooterStats.read(new java.io.File(path)))

  private def fromFiles(files: Seq[FooterStats.FileStat]): TableStats = {
    val cols = files.flatMap(_.cols.keys).distinct.map { c =>
      val sts = files.flatMap(_.cols.get(c))
      c -> FooterStats.ColStat(
        sts.flatMap(_.min) match { case Nil => None; case ms => Some(ms.min) },
        sts.flatMap(_.max) match { case Nil => None; case ms => Some(ms.max) },
        sts.map(_.nulls).sum,
        sts.map(_.rawBytes).sum)
    }.toMap
    val nRows = files.map(_.nRows).sum
    val raw = files.map(_.rawBytes).sum
    TableStats(nRows, files.map(_.bytes).sum, cols,
      avgRowBytes = if (nRows > 0) raw.toDouble / nRows else 0.0)
  }

  /** Stats-driven equi-join of `left` against the transactional
    * table at `rightRoot` (already loaded as `right`): broadcast the
    * right side iff ANALYZE says its decompressed estimate fits
    * under `broadcastBytes`; otherwise leave the shuffle join. The
    * threshold deliberately defaults to Spark's own 10 MB so the
    * flip is about WHERE the size estimate comes from, not a
    * different policy. */
  def join(left: DataFrame, right: DataFrame, rightRoot: String,
      keys: Seq[String],
      broadcastBytes: Long = USE_CONF_BUDGET): DataFrame = {
    val stats = analyze(rightRoot)
    val budget = resolveBudget(left, broadcastBytes)
    val buildSide =
      if (stats.estBroadcastBytes <= budget) broadcast(right)
      // stats say too big to build: pin the scalable shuffle join
      // (merge) so Spark's file-size estimate cannot re-broadcast
      // what the manifest knows is large
      else right.hint("merge")
    left.join(buildSide, keys)
  }

  /** Sentinel default for broadcastBytes parameters: resolve from the
    * session conf at call time. */
  val USE_CONF_BUDGET: Long = -1L

  /** The broadcast budget of EVERY stats-driven join decision here
    * ([[join]], [[joinDerived]], [[reorderJoin]], [[reorderJoinBushy]])
    * unless a call passes its own: the session's
    * `spark.sql.autoBroadcastJoinThreshold`, so a session that tunes
    * Spark's threshold (a clone, for a spec forcing the shuffle
    * fallback) steers every stats-driven join identically, and one
    * that disables auto-broadcast with -1 disables them too. */
  def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    val t = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (t > 0L) t else 0L // -1 = broadcast disabled → budget 0
  }

  private def resolveBudget(anyFrame: DataFrame, explicit: Long): Long =
    if (explicit >= 0L) explicit else broadcastBudget(anyFrame.sparkSession)

  /** Stats-driven broadcast-vs-shuffle for a DERIVED build side — a
    * frame with no manifest of its own (a grouped shingle universe, a
    * distinct pair set), whose size the CALLER estimates from the
    * footer stats of the base table it derives from. This replaces
    * the bare `broadcast()` hint on such frames: the hint never
    * self-degrades, so the first corpus that outgrows the driver
    * turns it into an OOM; here the same estimate that would have
    * justified the hint instead FEEDS the decision, and an oversized
    * side degrades to the scalable shuffle join (hint("merge"), so
    * Spark's file-size estimate cannot re-broadcast it) with no
    * semantic change. */
  def joinDerived(left: DataFrame, right: DataFrame, keys: Seq[String],
      estBytes: Double, joinType: String = "inner"): DataFrame = {
    val spark = left.sparkSession
    val buildSide =
      if (estBytes <= broadcastBudget(spark).toDouble) broadcast(right)
      else right.hint("merge")
    left.join(buildSide, keys, joinType)
  }

  // ------------------------------------------------------------------
  // JOIN-ORDER CBO: greedy multi-way reorder with filter-selectivity
  // propagation through the footer stats — the decision that matters
  // at 100 TB TPC-H shapes is not just HOW each join runs
  // (broadcast/merge, above) but in WHAT ORDER the dimensions hit the
  // fact: the most selective dimension must shrink the intermediate
  // first, because every later join pays for the rows the earlier
  // ones let through. Estimates come from the same O(files) footer
  // metadata ANALYZE reads — no data is scanned to decide.
  // ------------------------------------------------------------------

  /** One reorderable join input: the dimension frame, its ANALYZE
    * stats, the equi-join column names (shared with the side already
    * joined — rename in the frame; a dim-dim edge is expressed by
    * keying on a column another DIMENSION exposes, which makes this a
    * join GRAPH: snowflake branches like supplier→nation route
    * through the availability constraint), and an optional `[lo, hi]`
    * range predicate on a stats-covered column. The predicate is BOTH
    * applied to the frame and fed to the cardinality estimate — the
    * "selectivity propagation" that plain table-size ordering lacks.
    * `pred` overrides the APPLIED form when the filter column is not
    * directly long-comparable (timestamps: estimate from the footer
    * micros range, apply the native timestamp predicate so pushdown
    * survives). `selOverride` feeds the estimate for predicates
    * footer ranges cannot see (string LIKE '%x%' — the default-match
    * magic constant every production CBO carries, or a
    * caller-measured fraction); it multiplies any range estimate.
    * `eqFilter` is an EQUALITY predicate col = v: estimated as 1/NDV
    * when the stats carry the column's NDV (see [[withNdv]]) — the
    * most common BI filter shape, which the range estimator cannot
    * see at all (a point predicate has no [lo, hi] span; without NDV
    * it used to default to 1.0 and could mis-order a chain). Falls
    * back to 1/(max−min+1) for an integer-ranged column, else 1.0.
    * All three estimate sources compose multiplicatively.
    * `priceCols` names the SOURCE-TABLE columns the dim frame
    * actually carries (pre-rename), so the broadcast price reflects
    * the projection's measured per-column footer bytes instead of
    * full-table width; omit to price the whole table
    * (conservative). */
  final case class Input(df: DataFrame, stats: TableStats,
      keys: Seq[String], filter: Option[(String, Long, Long)] = None,
      pred: Option[org.apache.spark.sql.Column] = None,
      selOverride: Option[Double] = None,
      eqFilter: Option[(String, Any)] = None,
      priceCols: Option[Seq[String]] = None)

  /** Uniform-assumption fraction of rows with `col` ∈ [lo, hi],
    * from the column's footer [min, max]. Unknown stats → 1.0 (the
    * conservative "doesn't shrink anything" estimate). */
  def selectivity(stats: TableStats, col: String, lo: Long,
      hi: Long): Double =
    stats.cols.get(col) match {
      case Some(FooterStats.ColStat(Some(mn), Some(mx), _, _)) =>
        val span = (mx - mn + 1).toDouble
        val keep =
          math.max(0L, math.min(hi, mx) - math.max(lo, mn) + 1).toDouble
        math.min(1.0, keep / span)
      case _ => 1.0
    }

  /** Uniform-assumption selectivity of `col = v`: 1/NDV when the
    * stats carry a distinct count, else 1/(max−min+1) from the footer
    * range of an integer column, else the conservative 1.0. */
  def eqSelectivity(stats: TableStats, col: String): Double =
    stats.ndv.get(col).filter(_ > 0).map(1.0 / _).getOrElse(
      stats.cols.get(col) match {
        case Some(FooterStats.ColStat(Some(mn), Some(mx), _, _)) if mx >= mn =>
          1.0 / (mx - mn + 1).toDouble
        case _ => 1.0
      })

  /** Estimated post-filter cardinality of one input. */
  def estRows(in: Input): Double =
    in.stats.nRows.toDouble * in.filter.map { case (c, lo, hi) =>
      selectivity(in.stats, c, lo, hi)
    }.getOrElse(1.0) * in.selOverride.getOrElse(1.0) *
      in.eqFilter.map { case (c, _) => eqSelectivity(in.stats, c) }
        .getOrElse(1.0)

  /** GREEDY JOIN-ORDER with CONNECTIVITY: at each step join the
    * smallest-estimated dimension whose join keys are already
    * available in the accumulated frame — a star picks purely by
    * estimated post-filter cardinality, a chain (fact→orders→
    * customer→nation) is ordered correctly by the availability
    * constraint. Each step reuses the stats-driven broadcast-vs-merge
    * decision (the broadcast estimate is also selectivity-scaled — a
    * 10% filter makes a 10×-too-big dimension broadcastable, which
    * file-size thresholds never see). Returns the joined frame plus
    * the chosen order (dim labels) so plan specs can pin that
    * inverting the stats flips the order. */
  def reorderJoin(fact: DataFrame, dims: Seq[(String, Input)],
      broadcastBytes: Long = USE_CONF_BUDGET): (DataFrame, Seq[String]) = {
    val budget = resolveBudget(fact, broadcastBytes)
    var acc = fact
    var remaining = dims
    val chosen = scala.collection.mutable.ListBuffer.empty[String]
    while (remaining.nonEmpty) {
      val available = acc.columns.toSet
      val eligible = remaining.filter(_._2.keys.forall(available))
      require(eligible.nonEmpty,
        s"join graph disconnected: none of " +
          s"${remaining.map(_._1)} joins on $available")
      val (label, in) = eligible.minBy { case (_, i) => estRows(i) }
      val applied = applyPredicates(in)
      // width-aware: estimated post-filter rows × the PROJECTION's
      // measured per-row byte width (per-column footer uncompressed
      // bytes when priceCols is given, 8 B floors throughout)
      val estBytes = estRows(in) * in.stats.rowWidthFor(in.priceCols)
      val side =
        if (estBytes <= budget.toDouble) broadcast(applied)
        else applied.hint("merge")
      acc = acc.join(side, in.keys)
      chosen += label
      remaining = remaining.filterNot(_._1 == label)
    }
    (acc, chosen.toSeq)
  }

  /** The APPLIED form of one input's predicates: the native `pred`
    * if given (pushdown-preserving), else the long-range filter,
    * then any equality predicate on top. Shared by the linear
    * greedy and the bushy branch pre-join. */
  def applyPredicates(in: Input): DataFrame = {
    val ranged = in.pred.map(in.df.filter).getOrElse(
      in.filter.fold(in.df) { case (c, lo, hi) =>
        in.df.filter(org.apache.spark.sql.functions.col(c) >= lo &&
          org.apache.spark.sql.functions.col(c) <= hi)
      })
    in.eqFilter.fold(ranged) { case (c, v) =>
      ranged.filter(org.apache.spark.sql.functions.col(c) ===
        org.apache.spark.sql.functions.lit(v))
    }
  }

  /** A dependent-dim BRANCH hanging off one head dimension: the tail
    * dims join the HEAD (directly or chained), not the fact — Q8's
    * orders→customer→nation→region is the canonical shape. */
  final case class Branch(head: String, tail: Seq[String])

  /** BUSHY JOIN TREES: decide per branch whether to PRE-JOIN the
    * branch into one composite subtree before it touches the fact
    * (bushy) or feed its dims one at a time into the left-deep
    * greedy (linear). The left-deep greedy alone cannot express the
    * winning Q8-class plan: when a branch's TAIL is selective (region
    * = 'AMERICA' prunes nation, which prunes customer, which prunes
    * orders), joining the branch internally first means the expensive
    * fact join meets an already-pruned stream — at 100 TB the
    * difference between probing lineitem×(all orders) and
    * lineitem×(orders of one region's customers), i.e. the shuffle
    * volume of the dominant exchange. When the tail is NOT selective,
    * pre-joining buys nothing and costs an extra shuffle, so the
    * decision is stats-driven: pre-join iff the tail's combined
    * FK-selectivity — Π estRows(tail)/nRows(tail), the uniform
    * foreign-key assumption every textbook CBO uses — clears
    * `bushyThreshold`. The composite subtree re-enters the linear
    * greedy as ONE input whose cardinality estimate carries the
    * branch pruning, so broadcast-vs-merge and its position in the
    * join order both see the real (post-branch) size.
    *
    * BIAS BOUND (uniform-FK assumption): the composite estimate
    * `estRows(head) × Π tailSel` assumes the head's foreign keys are
    * uniform over the tail's domain. Under FK skew it UNDER-estimates
    * by at most `max_freq / mean_freq` of the branch join key (tight
    * when one hot parent survives the tail filter — Round19Spec pins
    * the bound with a 90 %-hot-key fixture). Deployments with known
    * hot keys should leave that factor of margin between the
    * composite estimate and the broadcast budget, or pre-compute the
    * key's NDV-weighted histogram; the decision degrades to the
    * scalable merge join either way, never to a wrong result.
    *
    * Returns (joined frame, chosen linear order, bushy branch heads)
    * so specs can pin the stats→shape flip. */
  def reorderJoinBushy(fact: DataFrame, dims: Seq[(String, Input)],
      branches: Seq[Branch], broadcastBytes: Long = USE_CONF_BUDGET,
      bushyThreshold: Double = 0.5)
      : (DataFrame, Seq[String], Seq[String]) = {
    val byLabel = dims.toMap
    // branch sanity up front: a typo'd label or a dim claimed by two
    // branches would otherwise surface as an unkeyed lookup failure
    // or a silently duplicated join downstream
    val claimed = branches.flatMap(b => b.head +: b.tail)
    require(claimed.forall(byLabel.contains),
      s"branch labels ${claimed.filterNot(byLabel.contains)} not in " +
        s"dims ${dims.map(_._1)}")
    require(claimed.distinct.size == claimed.size,
      s"a dim may belong to at most one branch, got duplicates in " +
        s"$claimed")
    val taken = scala.collection.mutable.Set.empty[String]
    val bushyHeads = scala.collection.mutable.ListBuffer.empty[String]
    val composites = branches.flatMap { b =>
      val head = byLabel(b.head)
      val tail = b.tail.map(l => l -> byLabel(l))
      val tailSel = tail.map { case (_, t) =>
        estRows(t) / math.max(1.0, t.stats.nRows.toDouble) }.product
      if (tailSel > bushyThreshold) None
      else {
        val (sub, _) =
          reorderJoin(applyPredicates(head), tail, broadcastBytes)
        taken += b.head; taken ++= b.tail
        bushyHeads += b.head
        val estN = math.max(1L, (estRows(head) * tailSel).toLong)
        // synthetic stats for the composite: branch-pruned row count,
        // full joined width (the broadcast decision must price the
        // composite's actual columns, not just the head's). The
        // composite row width is the SUM of the members' measured
        // widths — a join concatenates rows — carried via avgRowBytes
        // so rowWidth() prices a text-heavy branch member correctly.
        val cols = head.stats.cols ++ tail.flatMap { case (l, t) =>
          t.stats.cols.map { case (c, cs) => s"$l.$c" -> cs } }
        val width = head.stats.rowWidthFor(head.priceCols) +
          tail.map { case (_, t) => t.stats.rowWidthFor(t.priceCols) }.sum
        Some(b.head -> Input(sub,
          TableStats(estN, (estN * width).toLong, cols,
            avgRowBytes = width / ENCODING_EXPANSION),
          head.keys))
      }
    }
    val rest = dims.filterNot { case (l, _) => taken(l) }
    val (joined, order) =
      reorderJoin(fact, rest ++ composites, broadcastBytes)
    (joined, order, bushyHeads.toList)
  }
}
