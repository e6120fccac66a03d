package graft

import org.apache.spark.sql.functions._

/** Scaling-evidence fixture builder (test scope, not shipped): writes
  * a ~sf1 fixture to /tmp by replicating sf0.1 N times with every KEY
  * column shifted by a per-replica stride, so each replica is a
  * disjoint but internally consistent universe — join fan-outs and
  * per-key structure match the original, total volume is N×. The
  * driver's fixtures are read-only and top out at sf0.1; the r13
  * verdict asked for per-key core-scaling evidence at a data-bound SF
  * (its item 7), which needs more rows than sf0.1's overhead-bound
  * sub-second keys. Synthetic-probe ONLY: no oracle exists for this
  * layout, nothing reads it but the scaling table in
  * OPTIMIZATION_r14.md.
  *
  * Run: sbt "Test/runMain graft.MakeScaledFixture [outDir] [copies]"
  */
object MakeScaledFixture {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val S = 100000000L // stride: far above any sf0.1 key
    val spark = LocalSession(Runtime.getRuntime.availableProcessors(), "graft.MakeScaledFixture")

    def replicate(table: String, keyCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val reps = (0 until copies).map { i =>
        keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * S)))
      }.reduce(_ unionByName _)
      reps.repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"wrote $table x$copies")
    }
    // region/nation: dimension tables referenced by unshifted
    // nationkeys — copy once, unscaled
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"wrote $t x1")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    spark.stop()
  }
}
