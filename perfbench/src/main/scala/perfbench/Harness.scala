package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by a plan file from run.py:
  * set the session up several times, run the first key order (the cold
  * pass) in the last, fresh session, then the following key orders:
  * settle passes, then measured warm passes until at least
  * `min_warm_passes` have run and `seconds` have passed. Keys run one after
  * another from this thread: the engine changes session-global confs
  * inside some queries, so concurrent keys are not safe.
  *
  * It writes raw records (setups, key spans, and in a traced run the
  * listener events) as JSON lines at the end; run.py turns them into
  * metrics.
  *
  * Usage: Harness <plan file> <record file>
  */
object Harness {

  final case class Plan(
      fixture: String, cores: Int, setups: Int, seconds: Double,
      settlePasses: Int, minWarmPasses: Int, trace: Boolean, workDir: String,
      passes: Vector[Vector[String]])

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toVector
    val (passLines, rest) = lines.partition(_.startsWith("pass="))
    val kv = rest.filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap
    Plan(kv("fixture"), kv("cores").toInt, kv("setups").toInt,
      kv("seconds").toDouble, kv("settle_passes").toInt,
      kv("min_warm_passes").toInt, kv("trace") == "1",
      kv("work_dir"), passLines.map(_.drop(5).split(',').toVector))
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(p: Plan): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.workDir}/warehouse")
    if (p.trace) b.config("spark.taskMetrics.trackUpdatedBlockStatuses", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val records = new ConcurrentLinkedQueue[String]()
    val queries = graft.SparkEntry.queries
    val absent = plan.passes.flatten.distinct.filterNot(queries.contains)
    if (absent.nonEmpty) {
      System.err.println("preflight: keys absent from SparkEntry.queries: " +
        absent.mkString(", "))
      sys.exit(3)
    }

    var spark: SparkSession = null
    for (i <- 0 until plan.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(plan)
      // The same warm-up as graft.Bench: JIT, codegen, Hadoop FS init
      // and one parquet footer. No query result is computed ahead.
      spark.range(1000000).selectExpr("sum(id) s", "count(1) c").collect()
      spark.read.parquet(s"${plan.fixture}/region.parquet").count()
      records.add(s"""{"kind":"setup","i":$i,"s":${secs(t0)}}""")
    }
    val tracer = if (plan.trace) Some(Tracer.install(spark, records)) else None
    val sc = spark.sparkContext

    def runKey(pass: Int, key: String): Unit = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildS = -1.0
      var buildEndMs = 0L
      val outcome =
        try {
          val df = queries(key)(spark, plan.fixture)
          buildS = secs(t0)
          buildEndMs = System.currentTimeMillis()
          val d = Digest.of(df)
          s""""rows":${d.rows},"digest":${str(d.hash)},"error":null"""
        } catch {
          case NonFatal(e) =>
            s""""rows":-1,"digest":null,"error":${str(e.toString.take(300))}"""
        }
      val totalS = secs(t0)
      if (buildS < 0) { buildS = totalS; buildEndMs = System.currentTimeMillis() }
      records.add(
        s"""{"kind":"span","pass":$pass,"key":${str(key)},"start_ms":$startMs,""" +
        s""""build_end_ms":$buildEndMs,"end_ms":${System.currentTimeMillis()},""" +
        s""""build_s":$buildS,"action_s":${totalS - buildS},$outcome}""")
    }

    def runPass(pass: Int): Unit = {
      val t0 = System.nanoTime()
      plan.passes(pass).foreach(runKey(pass, _))
      records.add(s"""{"kind":"pass","pass":$pass,"s":${secs(t0)}}""")
    }

    (0 to plan.settlePasses).foreach(runPass)
    val warmStart = System.nanoTime()
    var pass = plan.settlePasses + 1
    while (pass < plan.passes.size &&
        (pass <= plan.settlePasses + plan.minWarmPasses || secs(warmStart) < plan.seconds)) {
      runPass(pass)
      pass += 1
    }

    tracer.foreach(_.drain(spark))
    // Storage held by cached DataFrames at run end; checkpoint blocks
    // are left out because Spark's cleaner frees them at driver GCs.
    val cacheBytes = sc.getRDDStorageInfo
      .filterNot(i => Tracer.isCheckpoint(i.callSite))
      .map(i => i.memSize + i.diskSize).sum
    records.add(s"""{"kind":"end","cache_bytes":$cacheBytes,"cores":${plan.cores}}""")
    spark.stop()
    Files.write(Paths.get(args(1)), records.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
