package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.engine.{DfCache, QueryMetrics, QuerySession}

/** The profiler (test scope, not shipped). One [[LocalSession]], one
  * [[QueryMetrics]] collector; every key runs under its name as a job
  * tag and prints its layer record (the fields of `bench_layers.json`).
  *
  * Run: sbt "Test/runMain graft.Prof <mode> <keys|section> [sfDir] [reps]"
  *
  * `keys`: comma-separated key names or name prefixes (`q_cf_`), or
  * `all`. `sfDir` defaults to `SPARK_GRAFT_SF_DIR` (the scale modes
  * read no fixture but take the same arguments); the session uses
  * `SPARK_GRAFT_CPUS` cores, else every core.
  *
  *  - `micro`: per key, one untimed warm-up run, then `reps` (default
  *    5) runs of factory call + `count()`; each rep's seconds and
  *    layers, then `min` and `median`.
  *  - `stages`: per key, a warm-up run, then one run listing every stage
  *    (duration, run and CPU time, input and shuffle records, spill,
  *    tasks, operator call site) and, for a stream key, each trigger's
  *    `durationMs` breakdown.
  *  - `plan`: per key, one run whose action executes the frame's own
  *    plan, then that final (AQE) plan with its operator counts.
  *  - `soak`: the keys swept twice in one session, to surface leaks:
  *    per pass its time, heap after GC, checkpoint MB and the
  *    [[DfCache]] / stream / scratch inventory; then the keys whose
  *    second pass is >1.5× and >0.5 s slower than the first.
  *  - `scale`: scale curves of the custom operators over synthetic rows
  *    from [[graft.sources.SynthSource]], section
  *    `topk|matchrec|dml|stream|lsh|all`.
  */
object Prof extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("micro")
    val sel = args.lift(1).getOrElse("all")
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("give the fixture dir as sfDir or SPARK_GRAFT_SF_DIR"))
    val reps = args.lift(3).map(_.toInt).getOrElse(5)
    val spark = LocalSession(
      LocalSession.envCores(Runtime.getRuntime.availableProcessors()), s"graft.Prof $mode")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    val metrics = QueryMetrics.install(spark)

    /** `key` built and acted on under its tag; its layer record. */
    def run(key: String)(action: DataFrame => Unit): QueryMetrics.Layers = {
      val s = QueryMetrics.tagged(spark, key) {
        val t0 = System.nanoTime()
        try action(SparkEntry.queries(key)(spark, sfDir))
        catch { case NonFatal(e) => println(s"ERROR $key: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      metrics.take(key, s)
    }
    def countRows(df: DataFrame): Unit = { df.count(); () }

    val all = SparkEntry.queries.keys.toSeq.sorted
    lazy val keys = sel.split(',').toSeq.flatMap { s =>
      if (s == "all") all
      else if (SparkEntry.queries.contains(s)) Seq(s)
      else all.filter(_.startsWith(s))
    }.distinct
    if (mode != "scale") require(keys.nonEmpty, s"no key matches $sel")

    try mode match {
      case "micro" => keys.foreach { key =>
        val cold = run(key)(countRows)
        println(f"micro $key warmup ${cold.wallS}%8.3f s  ${cold.json}")
        val times = (1 to reps).map { i =>
          val l = run(key)(countRows)
          println(f"micro $key rep$i%d  ${l.wallS}%8.3f s  ${l.json}")
          l.wallS
        }
        println(f"micro $key min=${times.min}%.3f s  " +
          f"median=${times.sorted.apply(reps / 2)}%.3f s")
      }

      case "stages" => keys.foreach { key =>
        run(key)(countRows)
        val l = run(key)(countRows)
        println(f"=== stages $key ${l.wallS}%.3f s  ${l.json}")
        l.stageList.foreach { s =>
          println(f"stage ${s.id}%4d ${s.secs}%7.3f s run=${s.runS}%7.2f cpu=${s.cpuS}%7.2f " +
            f"in=${s.inputRecords}%9d sh_r=${s.shuffleReadRecords}%9d " +
            f"sh_w=${s.shuffleWriteRecords}%9d spill=${s.spillBytes}%10d " +
            f"tasks=${s.tasks}%4d | ${s.name.take(48)} | ${s.site}")
        }
        l.progress.foreach { p =>
          println(s"trigger batch=${p.batchId} rows=${p.numInputRows} " +
            p.durationMs.asScala.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString(" "))
        }
      }

      case "plan" => keys.foreach { key =>
        var ran: Option[DataFrame] = None
        val l = run(key) { df =>
          df.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))
          ran = Some(df)
        }
        println(f"=== plan $key ${l.wallS}%.3f s  ${l.json}")
        ran.foreach { df =>
          val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
            case p => p.nodeName }
          println("nodes: " + nodes.groupBy(identity).toSeq.sortBy(_._1)
            .map { case (n, ns) => s"$n=${ns.size}" }.mkString(" "))
          println(df.queryExecution.explainString(FormattedMode))
        }
      }

      case "soak" =>
        def heapMb(): Long = {
          System.gc(); Thread.sleep(200L); System.gc()
          val rt = Runtime.getRuntime
          (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        }
        val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
        println(f"soak heap_start_mb=${heapMb()}%d")
        val passes = (1 to 2).map { pass =>
          val t0 = System.nanoTime()
          val p = keys.map(k => k -> run(k)(countRows)).toMap
          val inv = DfCache.keys
          println(f"soak pass$pass sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
            f"heap_mb=${heapMb()}%d " +
            f"checkpoint_mb=${p.values.map(_.checkpointBytes).sum / 1048576.0}%.1f " +
            s"cache_builds=${p.values.map(_.cacheBuilds).sum} " +
            s"registry_entries=${inv.size} registry_scopes=${inv.map(_._1).size} " +
            s"registry_persisted=${DfCache.frames.size} " +
            s"active_streams=${spark.streams.active.length} " +
            s"tmp_graft_dirs=${Option(tmp.listFiles()).getOrElse(Array.empty)
              .count(_.getName.startsWith("graft_"))}")
          p
        }
        val regressed = keys.flatMap { k =>
          val (a, b) = (passes(0)(k).wallS, passes(1)(k).wallS)
          if (b > a * 1.5 && b - a > 0.5) Some(f"$k p1=$a%.2f p2=$b%.2f") else None
        }
        println(s"soak regressed_keys=${regressed.size}")
        regressed.foreach(r => println(s"soak   $r"))
        println(s"soak untagged_jobs=${metrics.untaggedJobs}")

      case "scale" => scale(spark, sel)

      case other => sys.error(s"unknown mode $other: micro|stages|plan|soak|scale")
    } finally spark.stop()
  }

  /** Prints a curve's points, each with its log-log slope against the
    * previous one. */
  private final class Curve(label: String) {
    private var prev: Option[(Long, Double)] = None
    def point(rows: Long, sec: Double, extra: String): Unit = {
      val slope = prev.map { case (r0, s0) =>
        math.log(sec / s0) / math.log(rows.toDouble / r0) }
      println(f"$label rows=$rows%11d  sec=$sec%8.3f$extra" +
        slope.map(s => f"  slope=$s%5.2f").getOrElse(""))
      prev = Some((rows, sec))
    }
  }

  private def minTime(reps: Int)(f: => Long): (Double, Long) = {
    var best = Double.MaxValue; var n = 0L
    for (_ <- 1 to reps) {
      val t0 = System.nanoTime()
      n = f
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, n)
  }

  /** The `scale` mode: each section prints one line per (operator,
    * rows) with the min over its reps and the log-log slope against
    * the previous point (BASELINE.md §scale-curves). */
  private def scale(spark: SparkSession, only: String): Unit = {
    import spark.implicits._
    def sect(name: String): Boolean = only == "all" || only == name
    def synth(rows: Long, buckets: Int) =
      spark.read.format(classOf[graft.sources.SynthSource].getName)
        .option("rows", rows.toString)
        .option("buckets", buckets.toString).load()
    val scales = Seq(1000000L, 10000000L, 100000000L)

    if (sect("topk")) {
      println("== native TopKPerKey: top-10 per key by value desc, 1024 keys ==")
      val c = new Curve("topk")
      scales.foreach { rows =>
        val (sec, n) = minTime(2) {
          graft.plans.TopKPerKey.topK(synth(rows, 1024), Seq("bucket"),
            Seq(("value", false), ("id", true)), 10).count()
        }
        c.point(rows, sec, f"  out=$n%7d")
      }
    }

    // Capped at 30 M rows on one JVM: the operator's state contract is
    // "per-key history in memory", and ~100 M collected structs exceed
    // one heap; on a cluster the 1024 keys spread across executors.
    if (sect("matchrec")) {
      println("== MatchRecognize: V C* P over 1024 keys, value-class DEFINEs ==")
      val c = new Curve("matchrec")
      Seq(1000000L, 10000000L, 30000000L).foreach { rows =>
        val (sec, n) = minTime(2) {
          graft.plans.MatchRecognize(synth(rows, 1024), "bucket", Seq("id"),
            Seq("V" -> (col("value") < 0.2),
              "C" -> (col("value") >= 0.2 && col("value") < 0.8),
              "P" -> (col("value") >= 0.8)),
            "V C* P").count()
        }
        c.point(rows, sec, f"  matches=$n%9d")
      }
    }

    // The txn log materializes a full snapshot per commit, so MERGE and
    // OPTIMIZE are O(table) by design here (slope ≈ 1 expected); the
    // deletion-vector build follows the DELETED rows, not the table.
    // Capped at 30 M rows: each commit writes a full snapshot.
    if (sect("dml")) {
      println("== txn DML: MERGE-shaped delta commit / DV build / OPTIMIZE ==")
      val (cm, cd, co) = (new Curve("dml_merge"), new Curve("dml_dv   "),
        new Curve("dml_opt  "))
      Seq(1000000L, 10000000L, 30000000L).foreach { rows =>
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_scale_dml_$rows").getAbsolutePath
        graft.engine.TxnLog.destroy(root)
        graft.engine.TxnLog.init(root)
        val base = synth(rows, 32)
          .select($"id".as("key"), floor($"value" * 1000).cast("long").as("value"))
        graft.engine.TxnLog.commit(spark, root,
          _ => (base.withColumn("op", lit("upsert")), Seq((0L, rows - 1))))
        // MERGE-shaped commit: upsert 1% of the keys (spread evenly)
        val (mSec, _) = minTime(2) {
          val delta = spark.range(0, rows / 100)
            .select(($"id" * 100).as("key"), lit(7L).as("value"), lit("upsert").as("op"))
          graft.engine.TxnLog.commit(spark, root,
            _ => (delta, Seq((0L, rows - 1)))).version
        }
        cm.point(rows, mSec, "")
        // deletion-vector build over the current snapshot: the bitmap of
        // a 1% delete predicate, one aggregation with O(changes) output
        val (dSec, dvWords) = minTime(2) {
          graft.engine.TxnLog.read(spark, root, graft.engine.TxnLog.latestCommitted(root))
            .filter(pmod($"key", lit(100)) === 1)
            .groupBy(shiftright($"key", 6).as("word"))
            .agg(bit_or(expr("shiftleft(1L, cast(pmod(key, 64) as int))")).as("bits"))
            .count()
        }
        cd.point(rows, dSec, f"  words=$dvWords%9d")
        // OPTIMIZE: full-table re-layout commit
        val (oSec, _) = minTime(1) {
          graft.engine.TxnLog.optimize(spark, root, targetFiles = 32)
        }
        co.point(rows, oSec, "")
        graft.engine.TxnLog.destroy(root)
      }
    }

    // Streaming through the offset source: an events-shaped table staged
    // as batch-partitioned CSV, drained through a watermarked tumbling
    // aggregation. Varying batches at fixed rows prices one trigger's
    // machinery (state commit, offset log, planning); varying rows at
    // fixed batches gives the data-cost slope.
    if (sect("stream")) {
      println("== offset-source streaming: tumbling agg, rows x batches ==")
      import org.apache.spark.sql.streaming.OutputMode
      val baseUs = 1700000000000000L // fixed epoch micros (determinism)
      def stageStream(rows: Long, batches: Int): String = {
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_scale_stream_${rows}_$batches").getAbsolutePath
        graft.engine.TxnLog.destroy(dir)
        spark.range(rows).select(
            $"id".as("event_id"),
            (lit(baseUs) + $"id" * 100000L).as("ts"),
            pmod($"id", lit(9973L)).as("user_id"),
            concat(lit("t"), pmod($"id", lit(5L))).as("event_type"),
            (pmod($"id", lit(1000L)) / 10.0).as("value"),
            ($"id" * batches / rows).cast("long").as("batch"))
          .repartition(8, col("batch"))
          .write.mode("overwrite").partitionBy("batch").csv(dir)
        dir
      }
      var sinkN = 0
      def drainStream(staged: String): Long = {
        sinkN += 1
        val sink = s"graft_scale_sink_$sinkN"
        val s = QuerySession.session(spark, Seq("spark.sql.shuffle.partitions" -> "8"))
        val q = s.readStream
          .format(classOf[graft.streaming.EventsFileStreamProvider].getName)
          .option("path", staged)
          .option("maxBatchesPerTrigger", "1")
          .load()
          .withWatermark("ts", "10 minutes")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"), sum($"value").as("s"))
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
        s.table(sink).count()
      }
      // untimed warm-up: state-store and checkpoint-manager init and the
      // first micro-batch planning path
      drainStream(stageStream(10000L, 2))
      for (rows <- Seq(1000000L, 10000000L); batches <- Seq(1, 4, 16)) {
        val staged = stageStream(rows, batches)
        val (sec, n) = minTime(3) { drainStream(staged) }
        println(f"stream rows=$rows%11d  batches=$batches%3d  sec=$sec%8.3f  windows=$n%7d")
      }
    }

    if (sect("lsh")) {
      println("== banded-LSH candidate join: 4 bands, occupancy ~8/bucket ==")
      val c = new Curve("lshjoin")
      scales.foreach { rows =>
        // buckets ∝ rows keeps the expected occupancy constant (the LSH
        // invariant that makes banded dedup linear, not quadratic)
        val nBuckets = math.max(1L, rows / 8)
        val (sec, n) = minTime(2) {
          val bands = synth(rows, 32)
            .select($"id", ($"id" % 4).cast("int").as("band"),
              floor($"value" * nBuckets).cast("long").as("bval"))
          bands.as("x").join(bands.as("y"),
              $"x.band" === $"y.band" && $"x.bval" === $"y.bval" && $"x.id" < $"y.id")
            .count()
        }
        c.point(rows, sec, f"  pairs=$n%9d")
      }
    }
  }
}
