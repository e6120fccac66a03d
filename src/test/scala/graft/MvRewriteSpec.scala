package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Exact, Tables}
import graft.operators.MvOps
import graft.plans.MvRewrite

/** Materialized-view rewrite semantics: byte-equality with the fact
  * query, plan actually reads the summary, the rewrite applied to an
  * idiomatic query, and the conservative bail-outs (filter / unknown
  * aggregate / non-key grouping must leave the plan untouched).
  * Detection everywhere via [[MvRewrite.readsPath]] — LogicalRelation.toString never
  * prints the scan path, so a toString grep is always false. */
class MvRewriteSpec extends SparkSpec {

  private def classic(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  test("rewritten query equals the fact query byte-for-byte") {
    import spark.implicits._
    import Exact._
    val viaMv = MvOps.mvRewrite(spark, sf).collect().toSeq
    val viaFact = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        xsum($"l_quantity").as("sum_qty"),
        xsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(viaMv == viaFact,
      "summary re-aggregation must be exact, not approximate")
  }

  test("the rewritten plan scans the MV, never the fact") {
    val df = MvOps.mvRewrite(spark, sf)
    val plan = classic(df).queryExecution.optimizedPlan
    assert(MvRewrite.readsPath(plan, "lineitem_mv_flag_status"))
    assert(!MvRewrite.readsPath(plan, "lineitem.parquet"),
      "the fact table must not appear anywhere in the rewritten plan")
  }

  test("direct application rewrites the idiomatic two-key query") {
    import spark.implicits._
    val q = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast(DecimalType(38, 6))).as("sq"))
    val rewritten = MvRewrite(Seq(MvOps.mvDef(spark, sf)))(
      classic(q).queryExecution.analyzed)
    assert(MvRewrite.readsPath(rewritten, "lineitem_mv_flag_status"),
      "the rewrite must fire on the idiomatic query")
    // the query's own plan is untouched: nothing rewrites it unasked
    assert(!MvRewrite.readsPath(classic(q).queryExecution.optimizedPlan,
      "lineitem_mv_flag_status"))
  }

  test("conservative bail-outs leave non-derivable queries untouched") {
    import spark.implicits._
    def fires(df: org.apache.spark.sql.DataFrame): Boolean =
      MvRewrite.readsPath(
        MvRewrite(Seq(MvOps.mvDef(spark, sf)))(classic(df).queryExecution.analyzed),
        "lineitem_mv_flag_status")
    val li = Tables.lineitem(spark, sf)
    // filter between aggregate and scan: MV rows cannot answer it
    assert(!fires(li.filter($"l_quantity" > 10)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))))
    // aggregate not derivable from the stored partials
    assert(!fires(li.groupBy($"l_returnflag")
      .agg(avg($"l_quantity").as("a"))))
    // grouping key the MV does not carry
    assert(!fires(li.groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"))))
    // double (non-decimal) sum: fold-order hazard, must NOT rewrite
    assert(!fires(li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"))))
    // COUNT(NULL) counts nothing — must never become SUM(cnt)
    assert(!fires(li.groupBy($"l_returnflag")
      .agg(count(lit(null).cast("int")).as("n"))))
    // global (no grouping keys) aggregate: empty-fact COUNT(*)=0 vs
    // SUM(cnt)=NULL divergence — rule bails outright
    assert(!fires(li.agg(count(lit(1)).as("n"))))
    // and the derivable shape DOES fire under the same helper
    assert(fires(li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"))))
  }
}
