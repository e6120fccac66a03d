package graft
import graft.engine.QueryMetrics
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional args 3+: only run queries whose name starts with one of
    // these prefixes (local iteration speed-up; the driver passes none).
    val prefixes = args.drop(2)
    def selected(name: String): Boolean =
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    val spark = LocalSession(LocalSession.envCores(4), "graft.Verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try QueryMetrics.tagged(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __SFDIR__ lets a file-reading oracle (read_blob for the
    // binaryFile source) target the sweep's own fixture directory;
    // __SCRATCH__ resolves to the sweep's derived-layout scratch dir
    // (same tag rule as ScanOps.scratch) so a file-granular oracle
    // can read the layout the query itself derived. Table-only
    // oracles are unaffected.
    val scratchDir =
      "/tmp/graft_scratch/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__SFDIR__", sfDir)
          .replace("__SCRATCH__", scratchDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
