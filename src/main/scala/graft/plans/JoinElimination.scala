package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** PK-FK JOIN ELIMINATION (the classic constraint-based optimizer
  * rewrite — "join elimination on declared referential integrity",
  * what commercial engines do with RELY constraints): an INNER join
  * whose condition is the declared foreign key equated to the parent
  * table's primary key is a per-row NO-OP — the FK is total (every
  * value present, non-null) and the PK unique, so every left row
  * matches exactly once — and when nothing above the join uses the
  * parent's columns, the join is deleted outright.
  *
  * At 100 TB this rewrite removes the single most expensive thing a
  * query can do: the fact-to-dimension shuffle-and-probe that
  * produces exactly the input again. Star-schema queries generated
  * by BI tools join every dimension unconditionally; with declared
  * keys, the untouched dimensions cost zero.
  *
  * Conservative by construction — the rewrite fires only when ALL of:
  *  - the join is INNER with a single `fk = pk` equality condition
  *    matching a declared [[FkDef]] (the declaration is the RELY
  *    constraint: the engine trusts, and the fixture guarantees,
  *    totality + uniqueness + non-null);
  *  - the parent side is a BARE scan of the declared PK table
  *    (column-pruning projections and aliases only — any Filter
  *    makes the join selective and the rewrite invalid);
  *  - the consumer above the join (Project / Aggregate / Filter)
  *    references only child-side columns.
  * Anything else bails to the original plan untouched.
  *
  * A plain function of the analyzed plan and the declared edges,
  * applied by the key that wants it, like [[MvRewrite]]. */
object JoinElimination {

  /** A declared referential-integrity edge: `fkSuffix.fkCol`
    * references `pkSuffix.pkCol`, with the FK total and non-null and
    * the PK unique (the declarer's RELY contract). */
  final case class FkDef(fkSuffix: String, fkCol: String,
      pkSuffix: String, pkCol: String)

  /** Bare scan of a file relation whose path ends in `suffix`,
    * looking through pruning projections and aliases only. */
  private def isBareScanOf(p: LogicalPlan, suffix: String): Boolean =
    p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.endsWith(suffix))
        case _ => false
      }
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        isBareScanOf(ch, suffix)
      case SubqueryAlias(_, ch) => isBareScanOf(ch, suffix)
      case _ => false
    }

  /** Some leaf of the FK side scans the declared child table (the FK
    * side may carry filters/projections — they do not affect the
    * one-match-per-row property the declaration guarantees). */
  private def readsSuffix(p: LogicalPlan, suffix: String): Boolean =
    p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.endsWith(suffix))
        case _ => false
      }
      case _ => false
    }

  /** The child-side subtree iff `j` is a PK-FK join of one of `defs`
    * (either orientation, either condition order). */
  private def fkChildOf(defs: Seq[FkDef], j: Join): Option[LogicalPlan] =
    j match {
      case Join(l, r, Inner,
          Some(EqualTo(a: AttributeReference, b: AttributeReference)), _) =>
        def orient(fkSide: LogicalPlan, pkSide: LogicalPlan,
            fa: AttributeReference, pa: AttributeReference)
            : Option[LogicalPlan] =
          defs.collectFirst {
            case d if fa.name == d.fkCol && pa.name == d.pkCol &&
              fkSide.outputSet.contains(fa) && pkSide.outputSet.contains(pa) &&
              isBareScanOf(pkSide, d.pkSuffix) &&
              readsSuffix(fkSide, d.fkSuffix) => fkSide
          }
        orient(l, r, a, b).orElse(orient(l, r, b, a))
          .orElse(orient(r, l, a, b)).orElse(orient(r, l, b, a))
      case _ => None
    }

  /** `plan` with each join of a declared edge in `defs` that nothing
    * above it reads the parent side of replaced by its child side. */
  def apply(defs: Seq[FkDef])(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p @ Project(_, j: Join) =>
        fkChildOf(defs, j).filter(fk => p.references.subsetOf(fk.outputSet))
          .map(fk => p.copy(child = fk)).getOrElse(p)
      case a @ Aggregate(_, _, j: Join, _) =>
        fkChildOf(defs, j).filter(fk => a.references.subsetOf(fk.outputSet))
          .map(fk => a.copy(child = fk)).getOrElse(a)
      case f @ Filter(_, j: Join) =>
        fkChildOf(defs, j).filter(fk => f.references.subsetOf(fk.outputSet))
          .map(fk => f.copy(child = fk)).getOrElse(f)
    }
}
