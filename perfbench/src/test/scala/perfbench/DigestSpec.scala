package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = spark.range(0, 200).select(
    col("id"), (col("id") % 7).as("g"), (col("id") / 3.0).as("x"),
    concat(lit("s"), col("id").cast("string")).as("s"))

  test("digest ignores row order and partitioning") {
    val a = Digest.of(sample)
    val b = Digest.of(sample.orderBy(col("x").desc).repartition(5))
    assert(a == b)
    assert(a.rows == 200)
  }

  test("digest sees a change in any column") {
    val a = Digest.of(sample)
    assert(Digest.of(sample.withColumn("s",
      when(col("id") === 17, lit("changed")).otherwise(col("s")))) != a)
    assert(Digest.of(sample.withColumn("x", col("x") + 1e-9)) != a)
    assert(Digest.of(sample.limit(199)).rows == 199)
  }

  test("digest of duplicate rows counts each copy") {
    val one = Digest.of(sample)
    val two = Digest.of(sample.union(sample))
    assert(two.rows == 400)
    assert(BigInt(two.hash) == BigInt(one.hash) * 2)
  }

  test("maps, repeated names and empty results have digests") {
    val m = sample.select(col("id"), map(col("g"), col("s")).as("m"), col("id"))
    assert(Digest.of(m).rows == 200)
    assert(Digest.of(sample.filter(lit(false))) == Digest.Value(0, "0"))
  }
}
