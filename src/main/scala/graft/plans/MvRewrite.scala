package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** MATERIALIZED-VIEW REWRITE (aggregate navigation — the classic
  * OLAP summary-table answer, Calcite's `MaterializedViewRule`
  * family re-expressed as one conservative plan rewrite): an
  * `Aggregate` over a declared FACT scan whose grouping keys are
  * a SUBSET of a summary table's keys, and whose aggregates are all
  * derivable from the summary's partials (`COUNT(*)` → `SUM(cnt)`,
  * decimal-exact `SUM(col)` → `SUM(sum_col)`), is rewritten to
  * aggregate the summary instead — the 100 TB fact scan becomes a
  * scan of |key-domain| rows.
  *
  * Byte-exactness is BY CONSTRUCTION, not approximation: the rule
  * only matches sums in the library's exact-decimal shape
  * (`SUM(CAST(col AS DECIMAL(38,6)))` — [[graft.engine.Exact.xsum]]'s
  * inner aggregate), and the MV stores the same decimal partials, so
  * re-aggregation is associative with NO float fold-order hazard —
  * which is exactly why lakehouse rollup tables store decimal/long
  * partials, never doubles. COUNT re-sums exactly. Anything else in
  * the aggregate list (other functions, expressions the mapper does
  * not recognize, a Filter between aggregate and scan) bails to the
  * original plan untouched.
  *
  * Freshness is the declarer's contract (the demo builds the MV
  * write-once against the immutable fixture; a production table
  * format would pin the MV to a txn-log version and invalidate on
  * commit — see TxnLog's IVM key for the maintenance side).
  *
  * A plain function of the analyzed plan and the summaries it may
  * use: the key that wants the rewrite applies it (like
  * [[TopKRewrite]] and [[JoinElimination]]); no session's optimizer
  * runs it. */
object MvRewrite {

  /** A declared summary table: `mvPath` holds one row per `keys`
    * combination with `cntCol` = COUNT(*) and, per (factCol →
    * mvCol) in `sums`, SUM(CAST(factCol AS DECIMAL(38,6))). */
  final case class MvDef(
      factSuffix: String,
      mvPath: String,
      keys: Seq[String],
      cntCol: String,
      sums: Map[String, String])

  private val XD = DecimalType(38, 6)

  /** The scan under an aggregate, looking through column-pruning
    * projections and aliases only — a Filter (or anything else)
    * means the MV cannot answer the query. */
  private def bareScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      bareScan(ch)
    case SubqueryAlias(_, ch) => bareScan(ch)
    case _ => None
  }

  private def scansFact(lr: LogicalRelation, mv: MvDef): Boolean =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(_.toString.endsWith(mv.factSuffix))
      case _ => false
    }

  /** True iff some leaf of `plan` is a file scan whose root paths
    * mention `pathPart`. Detection MUST go through the relation's
    * FileIndex — `LogicalRelation.toString` prints `Relation [cols]
    * parquet` with no path, so a toString grep never matches. */
  private[graft] def readsPath(plan: LogicalPlan, pathPart: String): Boolean =
    plan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(pathPart))
        case _ => false
      }
      case _ => false
    }

  private def rewriteOne(agg: Aggregate, mv: MvDef): Option[LogicalPlan] = {
    val mvPlan = SparkSession.active.read.parquet(mv.mvPath)
      .queryExecution.analyzed
    val mvAttr: Map[String, Attribute] =
      mvPlan.output.map(a => a.name -> a).toMap
    val keyAttr = mv.keys.flatMap(mvAttr.get)
    if (keyAttr.size != mv.keys.size) return None
    val cnt = mvAttr.get(mv.cntCol).getOrElse(return None)

    // grouping keys must all be plain fact attributes ⊆ MV keys
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if mv.keys.contains(a.name) => a.name
      case _ => return None
    }

    // a GLOBAL aggregate over an empty fact yields one row either way,
    // but COUNT(*)=0 would rewrite to SUM(cnt)=NULL — bail outright
    if (agg.groupingExpressions.isEmpty) return None

    def rwAggFn(ae: AggregateExpression): Option[AggregateExpression] =
      if (ae.isDistinct || ae.filter.isDefined) None
      else ae.aggregateFunction match {
        // non-null literal only: COUNT(NULL) counts nothing and must
        // NOT become SUM(cnt), which would count every row
        case Count(Seq(Literal(v, IntegerType))) if v != null =>
          Some(ae.copy(aggregateFunction = Sum(cnt)))
        case Sum(c: Cast, _) => c.child match {
          case a: AttributeReference if c.dataType == XD &&
              mv.sums.contains(a.name) =>
            mvAttr.get(mv.sums(a.name))
              .map(m => ae.copy(aggregateFunction = Sum(m)))
          case _ => None
        }
        case _ => None
      }

    // conservative expression mapper: aggregates, grouping refs,
    // casts/literals and arithmetic over them — anything else bails
    def rw(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rwAggFn(ae)
      case a: AttributeReference if mv.keys.contains(a.name) =>
        mvAttr.get(a.name)
      case c: Cast => rw(c.child).map(ch => c.copy(child = ch))
      case l: Literal => Some(l)
      case b: BinaryArithmetic =>
        for (l <- rw(b.left); r <- rw(b.right)) yield
          b.withNewChildren(Seq(l, r))
      case _ => None
    }

    val outExprs = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        rw(child) match {
          case Some(ch) => Alias(ch, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val groupExprs: Seq[Expression] = groupNames.map(mvAttr(_))
    Some(Aggregate(groupExprs, outExprs, mvPlan))
  }

  /** `plan` with each aggregate over the fact scan of one of `mvs`
    * that its summary can answer rewritten to aggregate the summary
    * instead; any other plan comes back unchanged. */
  def apply(mvs: Seq[MvDef])(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg: Aggregate =>
        bareScan(agg.child) match {
          case Some(lr) =>
            mvs.find(scansFact(lr, _))
              .flatMap(rewriteOne(agg, _)).getOrElse(agg)
          case None => agg
        }
    }
}
