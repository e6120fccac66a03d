package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, MultimodalOps, SnapshotOps, TsOps,
  WorkloadOps}

/** Round-5 seventh session: pHash, Holt, seqmine, CDC apply, recall
  * audit, and the TPC-DS composites. */
class Round8Spec extends SparkSpec {

  test("phash kernel: block-mean bits match a hand-computed payload") {
    // 64 bytes, first half 'z' (122), second half 'a' (97): every
    // first-half block sum exceeds the payload mean, every second-half
    // block is below it → bands 0,1 = 0xFFFF and bands 2,3 = 0.
    val payload = (Array.fill(32)('z'.toByte) ++ Array.fill(32)('a'.toByte))
    val bv = MultimodalOps.phashKernel(payload)
    assert(bv.toSeq == Seq(0xFFFFL, 0xFFFFL, 0L, 0L),
      s"unexpected bands: ${bv.toSeq}")
    // 64 uniform bytes → every block holds exactly one byte, no block
    // exceeds the mean → all-zero signature (with a non-64-divisible
    // length the 2-byte blocks legitimately exceed the mean, so
    // uniformity alone does NOT imply zero bits)
    assert(MultimodalOps.phashKernel(Array.fill(64)('q'.toByte)).toSeq ==
      Seq(0L, 0L, 0L, 0L))
  }

  test("q_multimodal_phash: verified pairs stay within the pigeonhole radius") {
    val rows = MultimodalOps.multimodalPhash(spark, sf).collect()
    assert(rows.forall { r =>
      val h = r.getAs[Int]("hamming"); h >= 0 && h <= 3
    }, "output must be filtered to hamming <= 3")
    assert(rows.forall(r =>
      r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")),
      "pairs must be canonical (doc_a < doc_b)")
  }

  test("holt weights: level responds to a constant series with gain ~1, trend ~0") {
    // If the input series is constant y, level must equal y and trend
    // 0 — i.e. level weights (incl. the boundary init) sum to 1 and
    // trend weights to 0, up to the 2^-16 per-weight quantization.
    val (ws, init) = TsOps.holtWeights
    val tol = (TsOps.HOLT_K + 1) / math.pow(2, TsOps.HOLT_WBITS - 1)
    val lsum = ws.map(_._1).sum + init._1
    val bsum = ws.map(_._2).sum + init._2
    assert(math.abs(lsum - 1.0) < tol, s"level gain $lsum")
    assert(math.abs(bsum) < tol, s"trend gain $bsum")
  }

  test("q_events_seqmine: triple support never exceeds its component pairs") {
    val rows = SnapshotOps.eventsSeqmine(spark, sf).collect()
    val support = rows.map(r =>
      r.getAs[String]("pattern") -> r.getAs[Long]("n_users")).toMap
    val triples = rows.filter(_.getAs[Int]("plen") == 3)
    assert(triples.nonEmpty, "expected some length-3 patterns at this SF")
    triples.foreach { t =>
      val Array(a, b, c) = t.getAs[String]("pattern").split(">")
      val n = t.getAs[Long]("n_users")
      // a>b and b>c contain every user counted for a>b>c; the pair may
      // be absent from the REPORT only if it fell under min-support,
      // impossible when the triple itself is reported (n_triple <= n_pair).
      assert(support.get(s"$a>$b").forall(_ >= n), s"a>b vs ${t}")
      assert(support.get(s"$b>$c").forall(_ >= n), s"b>c vs ${t}")
      assert(support.contains(s"$a>$b") && support.contains(s"$b>$c"),
        s"component pairs of ${t.getAs[String]("pattern")} missing")
    }
  }

  test("q_stream_cdc_apply: re-running the stream is byte-idempotent") {
    val first = graft.streaming.StreamOps.streamCdcApply(spark, sf).collect()
    val second = graft.streaming.StreamOps.streamCdcApply(spark, sf).collect()
    assert(first.toSeq == second.toSeq,
      "versioned snapshot rebuild must be deterministic across runs")
    assert(first.nonEmpty)
  }

  test("q_dedup_recall: counts are consistent and recall bounded") {
    val rows = DedupOps.dedupRecall(spark, sf).collect()
    rows.foreach { r =>
      val t = r.getAs[Long]("n_truth"); val c = r.getAs[Long]("n_caught")
      val rec = r.getAs[Double]("recall")
      assert(c >= 0 && c <= t, s"caught out of range: $r")
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $r")
    }
  }

  test("tpcds composites: deviation ranking and YoY ordering hold") {
    val dev = WorkloadOps.tpcdsBrandDev(spark, sf).collect()
    assert(dev.length <= 50)
    val absDevs = dev.map(r => math.abs(r.getAs[Double]("dev")))
    assert(absDevs.zip(absDevs.tail).forall { case (a, b) => a >= b },
      "rows must be ranked by |dev| descending")
    val yoy = WorkloadOps.tpcdsYoy(spark, sf).collect()
    assert(yoy.length <= 25)
    val ratios = yoy.map(_.getAs[Double]("yoy_ratio"))
    assert(ratios.zip(ratios.tail).forall { case (a, b) => a <= b },
      "rows must be ranked by yoy_ratio ascending")
    yoy.foreach { r =>
      assert(r.getAs[Double]("rev_prev") > 0.0 &&
        r.getAs[Double]("rev_cur") > 0.0)
    }
  }

  test("q_tpcds_brand_dev: avg_rev is the exact monthly mean, HALF_UP at 6 places") {
    import spark.implicits._
    val dev = WorkloadOps.tpcdsBrandDev(spark, sf).collect()
    // row 3 at sf0.001 is the tie: Brand#8's monthly revenues average to
    // exactly 168372.9332525, whose double prints as …2525 but lies just
    // below it, so rounding the double split the engines (…253 / …252)
    val tie = dev(3)
    assert(tie.getAs[String]("p_brand") == "Brand#8" &&
      tie.getAs[java.sql.Date]("mon").toString == "1995-05-01", tie)
    assert(tie.getAs[Double]("avg_rev") == 168372.933253, tie)
    assert(tie.getAs[Double]("dev") == 2.205481, tie)
    // every row: the decimal mean of its brand's monthly revenue sums
    val monthly = graft.engine.Tables.lineitem(spark, sf)
      .join(graft.engine.Tables.part(spark, sf), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", date_trunc("month", $"l_shipdate"))
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(38,6)")).as("rev"))
      .collect().groupBy(_.getString(0))
      .map { case (b, rs) =>
        val revs = rs.map(_.getDecimal(2))
        b -> revs.reduce(_ add _).divide(java.math.BigDecimal.valueOf(revs.length.toLong),
          6, java.math.RoundingMode.HALF_UP).doubleValue
      }
    dev.foreach(r => assert(r.getAs[Double]("avg_rev") == monthly(r.getAs[String]("p_brand")), r))
  }

  test("q_text_stem: stemming only folds the vocabulary, never grows it") {
    import spark.implicits._
    val stems = graft.operators.TextOps.textStem(spark, sf)
    val nStems = stems.count()
    val nToks = graft.engine.Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), " ")).as("tok"))
      .distinct().count()
    assert(nStems <= nToks, s"stems $nStems > vocabulary $nToks")
    // token mass is conserved: total tf over stems == total token count
    val tfTotal = stems.agg(sum($"tf_total")).head.getLong(0)
    val corpus = graft.engine.Tables.documents(spark, sf)
      .select(size(split(lower($"text"), " ")).as("n"))
      .agg(sum($"n")).head.getLong(0)
    assert(tfTotal == corpus, s"tf mass $tfTotal != corpus tokens $corpus")
  }

  test("kmv sketch: partition-layout-proof, bounded error, mergeable state") {
    import spark.implicits._
    val base = graft.engine.Tables.lineitem(spark, sf)
      .select($"l_partkey",
        expr(s"CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % ${Int.MaxValue}")
          .as("h"))
    def minsOf(parts: Int): Seq[Long] =
      base.repartition(parts).agg(graft.functions.KmvAgg(col("h"), 64))
        .head.getSeq[Long](0)
    val m1 = minsOf(1)
    // different partitionings → different partial merges → same minima
    assert(m1 == minsOf(7), "KMV state must be partition-layout-proof")
    assert(m1 == m1.sorted && m1.size == 64)
    val exact = base.select($"l_partkey").distinct().count().toDouble
    val est = 63.0 * Int.MaxValue / m1.last.toDouble
    assert(math.abs(est - exact) / exact < 3.0 / math.sqrt(64.0),
      s"estimate $est vs exact $exact beyond 3/sqrt(k)")
  }

  test("q_ts_decompose: seasonal indices are centered and residuals near 1") {
    val rows = TsOps.tsDecompose(spark, sf).collect()
    assert(rows.nonEmpty)
    val sidx = rows.map(_.getAs[Double]("sidx")).distinct
    val mean = sidx.sum / sidx.length
    assert(math.abs(mean - 1.0) < 0.2,
      s"dow indices should center near 1, got $mean")
    // the sf0.001 daily series is thin, so individual residuals can
    // swing widely; positivity + a stable typical value is the claim
    val resid = rows.map(_.getAs[Double]("residual")).sorted
    assert(resid.forall(r => r > 0.0 && !r.isInfinite && !r.isNaN),
      "multiplicative residuals must be positive and finite")
    val median = resid(resid.length / 2)
    assert(median > 0.3 && median < 3.0,
      s"typical residual should be near 1, got median $median")
  }
}
