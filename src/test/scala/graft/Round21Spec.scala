package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-14 pins: the CF scoring rework (slope_one / predict_user_knn
  * fold their bounded per-key candidate sets locally) must stay
  * BIT-IDENTICAL to the join-then-decimal-aggregate plan it replaced.
  * Two layers of pin:
  *
  *  1. the scalar twins in [[graft.engine.Exact]] reproduce the exact
  *     Column arithmetic (double→DECIMAL(18,6) term quantization, the
  *     decimal→double descale, and rnd6's +1e-12 DECIMAL(38,6) round)
  *     across sign/magnitude/boundary cases;
  *  2. the reworked operators reproduce the OLD formulation
  *     row-for-row on the sf0.001 fixture (the DuckDB oracle pins the
  *     same thing externally at sf0.01/sf0.001).
  */
class Round21Spec extends SparkSpec {
  // SparkSpec: the SHARED suite session — an owned session stopped in
  // afterAll kills the JVM-wide session under later suites (observed:
  // GraftSpec's cache-clear NPE'd on the stopped driver endpoint).
  private val sfDir = sf

  private val probes: Seq[Double] = Seq(
    0.0, 1.0, -1.0, 2.675, -2.675, 3.3883295, 67.76659 / 20,
    0.0000004999, 0.0000005, -0.0000005, 123456.654321,
    -98765.1234565, 1.5e-7, 9.87654321e5, 1.0 / 3.0, -2.0 / 3.0,
    42.4242424242, 1e-12, -1e-12)

  test("Exact.quantize6 matches the Column DECIMAL(18,6) cast") {
    import spark.implicits._
    val fromSpark = probes.toDF("d")
      .select($"d".cast(DecimalType(18, 6)).as("q"))
      .collect().map(_.getDecimal(0))
    probes.zip(fromSpark).foreach { case (d, dec) =>
      assert(graft.engine.Exact.quantize6(d) ==
        dec.unscaledValue().longValueExact(),
        s"quantize6($d) != Spark cast $dec")
    }
  }

  test("Exact.fromMicros matches the Column decimal→double cast") {
    import spark.implicits._
    val micros = Seq(0L, 1L, -1L, 2675000L, -500L, 123456654321L,
      -98765123456L, 999999999999L)
    val fromSpark = micros.toDF("m")
      .select(($"m".cast(DecimalType(18, 0)) / lit(1000000)
        .cast(DecimalType(18, 0))).cast(DecimalType(18, 6))
        .cast(DoubleType).as("d"))
      .collect().map(_.getDouble(0))
    micros.zip(fromSpark).foreach { case (m, d) =>
      assert(java.lang.Double.doubleToLongBits(
        graft.engine.Exact.fromMicros(m)) ==
        java.lang.Double.doubleToLongBits(d),
        s"fromMicros($m) != Spark $d")
    }
  }

  test("Exact.rnd6Scalar matches the rnd6 Column chain") {
    import spark.implicits._
    val fromSpark = probes.toDF("d")
      .select(graft.functions.Udfs.rnd6($"d").as("r"))
      .collect().map(_.getDouble(0))
    probes.zip(fromSpark).foreach { case (d, r) =>
      assert(java.lang.Double.doubleToLongBits(
        graft.engine.Exact.rnd6Scalar(d)) ==
        java.lang.Double.doubleToLongBits(r),
        s"rnd6Scalar($d) != rnd6 column $r")
    }
  }

  test("the local folds' micro accumulators throw on overflow, not wrap") {
    val acc = new java.util.HashMap[Long, Array[Long]]()
    graft.operators.CfOps.foldMicros(acc, 7L, 2500000L, 3L)
    graft.operators.CfOps.foldMicros(acc, 7L, -500000L, 4L)
    assert(acc.get(7L).toSeq == Seq(2000000L, 7L))
    graft.operators.CfOps.foldMicros(acc, 9L, Long.MaxValue - 1L, 1L)
    intercept[ArithmeticException](
      graft.operators.CfOps.foldMicros(acc, 9L, 2L, 1L))
    intercept[ArithmeticException](
      graft.operators.CfOps.foldMicros(acc, 7L, 0L, Long.MaxValue))
  }

  test("reworked slope_one reproduces the join+aggregate formulation") {
    val got = graft.operators.CfOps.slopeOne(spark, sfDir).collect()
    // the OLD formulation, inlined: join ratings to the capped
    // deviation table, decimal-aggregate, anti-join, rank
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val r = graft.operators.CfOps.ratingsDerive(spark, sfDir)
      .select($"user_id", $"item_id", $"rating")
    // rebuild capped ratings exactly as the chain does (top-32/user)
    val capW = Window.partitionBy($"user_id")
      .orderBy($"rating".desc, $"item_id".asc)
    val capped = r.withColumn("urk", row_number().over(capW))
      .filter($"urk" <= 32).select($"user_id", $"item_id", $"rating")
    val m = capped.as("a").join(capped.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.item_id" < $"b.item_id")
      .groupBy($"a.item_id".as("item_a"), $"b.item_id".as("item_b"))
      .agg(count(lit(1)).as("n_common"),
        graft.engine.Exact.xsumFast($"a.rating").as("sx"),
        graft.engine.Exact.xsumFast($"b.rating").as("sy"))
      .filter($"n_common" >= 2)
    val devs = m.select($"item_a".as("i"), $"item_b".as("j"),
        ($"sy" - $"sx").as("diff"), $"n_common".as("c"))
      .union(m.select($"item_b".as("i"), $"item_a".as("j"),
        ($"sx" - $"sy").as("diff"), $"n_common".as("c")))
    val dw = Window.partitionBy($"i").orderBy($"c".desc, $"j".asc)
    val dcapped = devs.withColumn("drk", row_number().over(dw))
      .filter($"drk" <= 10).select($"i", $"j", $"diff", $"c")
    val scored = r.join(dcapped, $"item_id" === $"i")
      .groupBy($"user_id", $"j")
      .agg((graft.engine.Exact.xsumFast($"diff" + $"rating" * $"c")
        / sum($"c")).as("score_raw"))
    val unseen = scored.join(
      r.select($"user_id".as("su"), $"item_id".as("si")),
      $"user_id" === $"su" && $"j" === $"si", "left_anti")
    val rw = Window.partitionBy($"user_id")
      .orderBy(graft.functions.Udfs.rnd6($"score_raw").desc, $"j".asc)
    val want = unseen
      .withColumn("rk", row_number().over(rw))
      .filter($"rk" <= 5)
      .select($"user_id", $"j".as("item_id"),
        graft.functions.Udfs.rnd6($"score_raw").as("score"), $"rk")
      .orderBy($"user_id", $"rk")
      .collect()
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1)
        && java.lang.Double.doubleToLongBits(g.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(w.getDouble(2))
        && g.getInt(3) == w.getInt(3), s"row mismatch: $g vs $w")
    }
  }
}
