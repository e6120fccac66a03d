package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.ml.recommendation.ALS
import graft.engine.QuerySession

/** ALS block-count / partition-count adjudicator (r13 verdict item 2:
  * q_cf_als read slower at 32 cores than at 8 — an over-parallelization
  * smell). Times fit and recommendForAllUsers separately for a sweep of
  * block counts, with and without the small-iterative query session, at the
  * core count given by SPARK_GRAFT_CPUS (default 32).
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.ProfileAls [sfDir]"
  */
object ProfileAls {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val r = graft.operators.CfOps.ratingsDerive(spark, sfDir)
      .select($"user_id".cast("int").as("user"), $"item_id".cast("int").as("item"),
        $"rating".cast("float").as("rating")).cache()
    println(s"[als] cpus=$cpus n=${r.count()} partitions=${r.rdd.getNumPartitions}")
    def run(tag: String, blocks: Int, tuned: Boolean): Unit = {
      // tuned: fit and recommend on a query session with the
      // small-iterative confs, the way CfOps runs them
      val ratings = if (!tuned) r else QuerySession.bind(r,
        QuerySession.session(spark, QuerySession.SmallIterative))
      val t0 = System.nanoTime()
      val als = new ALS().setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setRank(8).setMaxIter(4).setRegParam(0.1).setSeed(42L)
        .setColdStartStrategy("drop")
      if (blocks > 0) { als.setNumUserBlocks(blocks); als.setNumItemBlocks(blocks) }
      val m = als.fit(ratings)
      val t1 = System.nanoTime()
      val n = m.recommendForAllUsers(10).count()
      println(f"[als] $tag%-16s fit=${(t1-t0)/1e9}%6.2f rec=${(System.nanoTime()-t1)/1e9}%6.2f rows=$n")
    }
    run("warmup", 8, tuned = false)
    for (rep <- 1 to 2; b <- Seq(1, 2, 3, 6, 12)) {
      run(s"blocks=$b", b, tuned = false)
      run(s"blocks=$b+tune", b, tuned = true)
      val _ = rep
    }
    spark.stop()
  }
}
