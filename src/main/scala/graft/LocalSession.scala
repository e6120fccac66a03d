package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for the harnesses (Bench, Verify, the
  * test suites and the profiler): `local[cores]` with as many shuffle
  * partitions as cores, UTC session time zone (SURVEY.md §7.4: oracle
  * parity needs one zone) and no UI. `getOrCreate` semantics: in a JVM
  * that already has a session (the shared test JVM) it returns that
  * one. */
object LocalSession {
  def apply(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
