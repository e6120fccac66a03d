package graft

import org.apache.spark.sql.SparkSession

/** Back-to-back fleet soak (test scope, not shipped): the FULL
  * SparkEntry.queries sweep run TWICE in ONE JVM, with per-key
  * pass-1 vs pass-2 time diffs and driver-heap readings between
  * passes. Per-sweep JVMs (the driver's Bench/Verify) hide slow
  * leaks — registry scopes that never evict, spark-warehouse residue,
  * staged-layout directories accumulating, listener growth; running
  * the sweep twice in the same session surfaces them as pass-2
  * slowdowns or monotone heap growth.
  *
  * Run: sbt "Test/runMain graft.ProfileSoak [sfDir]"
  * Prints: heap after GC at start / between passes / end, per-pass
  * totals, the keys whose pass-2 time regressed >1.5x AND >0.5 s
  * (pass-2 is expected FASTER from warm caches — a regression is a
  * leak suspect), and cache/scratch inventory. Numbers land in
  * BASELINE.md round notes.
  */
object ProfileSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id) s").collect()

    def heapMb(): Long = {
      System.gc(); Thread.sleep(200L); System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    }
    def sweep(): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case t: Throwable =>
          println(s"soak ERROR $name: ${t.getMessage}") }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap

    println(f"soak heap_start_mb=${heapMb()}%d")
    val t1 = System.nanoTime()
    val p1 = sweep()
    val p1Sec = (System.nanoTime() - t1) / 1e9
    println(f"soak pass1_sec=$p1Sec%.1f heap_mid_mb=${heapMb()}%d")
    val t2 = System.nanoTime()
    val p2 = sweep()
    val p2Sec = (System.nanoTime() - t2) / 1e9
    println(f"soak pass2_sec=$p2Sec%.1f heap_end_mb=${heapMb()}%d")
    // pass 2 should be warm-or-equal; flag real regressions only
    val regressed = p1.keys.toSeq.sorted.flatMap { k =>
      val (a, b) = (p1(k), p2(k))
      if (b > a * 1.5 && b - a > 0.5) Some(f"$k p1=$a%.2f p2=$b%.2f")
      else None
    }
    println(s"soak regressed_keys=${regressed.size}")
    regressed.foreach(r => println(s"soak   $r"))
    // inventory: the scoped registry and streaming machinery
    val inv = graft.engine.DfCache.keys
    println(s"soak registry_entries=${inv.size}" +
      s" registry_scopes=${inv.map(_._1).size}" +
      s" registry_persisted=${graft.engine.DfCache.frames.size}")
    println(s"soak active_streams=${spark.streams.active.length}")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val scratch = Option(tmp.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("graft_"))
    println(s"soak tmp_graft_dirs=$scratch")
    spark.stop()
  }
}
