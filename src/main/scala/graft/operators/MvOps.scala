package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{DfCache, Tables}
import graft.plans.MvRewrite

/** Materialized-view (summary-table) operators — the consumption
  * side of [[graft.plans.MvRewrite]]. The MV is the classic
  * lineitem rollup by (l_returnflag, l_linestatus): COUNT plus the
  * DECIMAL(38,6) partial sums the library's exact-sum discipline
  * already uses everywhere, so any xsum-shaped query over a subset
  * of those keys re-aggregates the partials byte-exactly. */
object MvOps {

  private val XD = DecimalType(38, 6)

  /** Write-once summary table ([[graft.engine.DfCache.layout]]). One
    * row per (l_returnflag, l_linestatus) — metadata-scale at any
    * fact size, which is the entire point of aggregate navigation. */
  private[graft] def mvDir(spark: SparkSession, sfDir: String): String =
    DfCache.layout(sfDir, "lineitem_mv_flag_status",
        "v1|keys=l_returnflag,l_linestatus|cnt+sum_qty+sum_price dec(38,6)",
        Seq(s"$sfDir/lineitem.parquet")) { dir =>
      import spark.implicits._
      Tables.lineitem(spark, sfDir)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum($"l_quantity".cast(XD)).as("sum_qty"),
          sum($"l_extendedprice".cast(XD)).as("sum_price"))
        .coalesce(1)
        .write.parquet(dir)
    }

  private[graft] def mvDef(spark: SparkSession, sfDir: String)
      : MvRewrite.MvDef =
    MvRewrite.MvDef(
      // the FULL fact path, not the bare file name: a bare-suffix
      // match would let this corpus's MV answer ANOTHER corpus's fact
      // scan — wrong rows, found by the round-13 min-rows sweep
      // running sf0.01 keys in the same session as the sf0.001 specs
      factSuffix = s"$sfDir/lineitem.parquet",
      mvPath = mvDir(spark, sfDir),
      keys = Seq("l_returnflag", "l_linestatus"),
      cntCol = "cnt",
      sums = Map("l_quantity" -> "sum_qty",
        "l_extendedprice" -> "sum_price"))

  /** The VERBATIM idiomatic fact query (group lineitem by a subset
    * of the MV keys, count + exact sums), transparently answered by
    * the summary: [[MvRewrite]] rewrites the analyzed plan so
    * the scan reads |flag×status| MV rows instead of the fact — at
    * 100 TB that is the difference between a full fact pass and a
    * metadata-sized read, for zero change in what the user writes.
    * The require proves the rewrite actually fired (the key must
    * never silently regress to the fact scan); MvRewriteSpec pins
    * plan shape AND byte-equality against the un-rewritten twin. */
  def mvRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val raw = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        xsum($"l_quantity").as("sum_qty"),
        xsum($"l_extendedprice").as("sum_price"))
    val rewritten = MvRewrite(Seq(mvDef(spark, sfDir)))(
      raw.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed)
    require(
      MvRewrite.readsPath(rewritten, "lineitem_mv_flag_status"),
      "MV rewrite did not fire — the key would silently scan the fact")
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rewritten)
      .orderBy($"l_returnflag")
  }

  val mvRewriteSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty,
       |  ${graft.engine.Exact.sqlXsum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin
}
