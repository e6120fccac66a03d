package graft

import org.apache.spark.sql.SparkSession

/** Pinned micro-benchmark of registered keys (test scope, not
  * shipped): per key, warm-up + N timed reps on one fresh session, for
  * verdicts about single-query regressions that the full-fleet bench
  * cannot separate from co-tenancy noise. Several keys may be given
  * comma-separated; they run one after another in the same session.
  *
  * Run: sbt "Test/runMain graft.ProfileMicro <key[,key…]> [sfDir] [reps]"
  */
object ProfileMicro {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse("q_agg_multi_key_pricing")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    // SPARK_GRAFT_CPUS lets the same micro adjudicate core-scaling
    // questions (e.g. the r13 q_cf_als 8-vs-32-core inversion) without
    // editing the tool; default stays the harness's local[32].
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2": ad-hoc conf overrides for
    // A/B probes (e.g. state-store provider) without editing the tool.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    key.split(",").foreach { key =>
      val fn = SparkEntry.queries(key)
      fn(spark, sfDir).count() // warm-up: JVM + codegen + IO cache
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"micro $key rep$i%d  $s%8.3f s")
        s
      }
      println(f"micro $key min=${times.min}%.3f s  " +
        f"median=${times.sorted.apply(reps / 2)}%.3f s")
    }
    spark.stop()
  }
}
