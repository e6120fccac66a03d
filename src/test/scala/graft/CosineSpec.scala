package graft

import org.apache.spark.sql.functions._
import graft.functions.Udfs

/** Properties of the similarity kernels (SURVEY.md §5.2(3)) and
  * agreement between the decimal UDF and the codegen'd double fold. */
class CosineSpec extends SparkSpec {

  private val rnd = new scala.util.Random(1234)
  private def vec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)

  test("cosine(v, v) ≈ 1 and range is [-1, 1]") {
    for (_ <- 1 to 20) {
      val v = vec(64)
      val self = Udfs.cosine(v, v)
      assert(math.abs(self - 1.0) < 1e-9)
      val w = vec(64)
      val c = Udfs.cosine(v, w)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(Udfs.cosine(v, w) === Udfs.cosine(w, v)) // symmetry
    }
  }

  test("zero vector yields 0, not NaN") {
    assert(Udfs.cosine(Seq.fill(4)(0f), vec(4)) === 0.0)
  }

  test("decimal UDF and double-fold expression agree to 1e-9 on real data") {
    import spark.implicits._
    val e = graft.engine.Tables.embeddings(spark, sf).limit(50)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val rows = e.crossJoin(broadcast(q))
      .select($"vec_id",
        Udfs.cosineUdf($"embedding", $"qv").as("dec"),
        expr(Udfs.cosSimDblExpr("embedding", "qv")).as("dbl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("native CosineSim expression matches the HOF double fold bit-for-bit") {
    import spark.implicits._
    val e = graft.engine.Tables.embeddings(spark, sf).limit(100)
    val q = e.filter($"vec_id" === 1).select($"embedding".as("qv"))
    val rows = e.crossJoin(broadcast(q))
      .select($"vec_id",
        graft.functions.CosineSim(col("embedding"), col("qv")).as("native"),
        expr(Udfs.cosSimDblExpr("embedding", "qv")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), // exact: same fold order+ops
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("native CosineSim propagates NULL for null array elements") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f, 2f)),
      (2L, Seq[java.lang.Float](1f, null), Seq[java.lang.Float](1f, 2f)),
      (3L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](null, 2f)))
      .toDF("id", "a", "b")
    val rows = df.select($"id", graft.functions.CosineSim(col("a"), col("b")).as("c"))
      .orderBy($"id").collect()
    assert(!rows(0).isNullAt(1) && math.abs(rows(0).getDouble(1) - 1.0) < 1e-9)
    assert(rows(1).isNullAt(1), "null element in left must propagate NULL")
    assert(rows(2).isNullAt(1), "null element in right must propagate NULL")
  }

  test("native RollingHash matches the interpreted HOF fold exactly") {
    import spark.implicits._
    val rows = graft.engine.Tables.documents(spark, sf).limit(200)
      .select($"doc_id",
        graft.functions.RollingHash(col("text")).as("native"),
        expr(
          """aggregate(transform(split(text, ''), c -> ascii(c)),
            |  cast(0 as bigint),
            |  (acc, x) -> (acc * 131 + x) % 1000000007)""".stripMargin).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: ${r.getLong(1)} != ${r.getLong(2)}")
    }
    // sanity on edge cases
    val edge = Seq("", "a", "ab", "aa bb").toDF("text")
    val e = edge.select(graft.functions.RollingHash(col("text")).as("h")).collect()
    assert(e(0).getLong(0) == 0L)           // empty string folds to 0
    assert(e(1).getLong(0) == 'a'.toLong)   // single char is its codepoint
  }

  test("RMSE aggregator: zero for perfect predictions, translation bound") {
    import spark.implicits._
    val perfect = Seq((1.0, 1.0), (2.0, 2.0)).toDF("p", "a")
      .agg(Udfs.rmse($"p", $"a")).collect()(0).getDouble(0)
    assert(perfect === 0.0)
    val shifted = Seq((1.0, 2.0), (3.0, 4.0), (5.0, 6.0)).toDF("p", "a")
      .agg(Udfs.rmse($"p", $"a")).collect()(0).getDouble(0)
    assert(math.abs(shifted - 1.0) < 1e-9) // constant offset 1 → RMSE 1
  }
}
