package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.IntegerType

/** Plan rewrite completing the custom-operator ladder: rewrite the
  * ubiquitous `row_number() OVER (PARTITION BY k ORDER BY o) <= n`
  * filter-over-window pattern into [[TopKPerKeyPlan]], so the partial/
  * final bounded-heap operator kicks in TRANSPARENTLY — users keep
  * writing the idiomatic window query and the planner swaps in the
  * exchange-diet plan (map-side k-row heaps per key BEFORE the
  * shuffle), the same way Spark's own InferWindowGroupLimit inserts
  * its pruning node.
  *
  * Matched shape (conservatively — anything else is left untouched):
  *  - Filter whose condition contains a conjunct bounding the rank
  *    attribute: `rank <= n`, `rank < n`, `n >= rank`, or `n > rank`
  *    with an integer literal; remaining conjuncts stay in a Filter
  *    above the rewritten node.
  *  - directly (or through one Project) over a Window with EXACTLY
  *    one window expression, a RowNumber — rank/dense_rank ties can
  *    exceed n rows per key, which a size-n heap cannot honor.
  *  - non-empty PARTITION BY (global top-k belongs to
  *    TakeOrderedAndProject) and non-empty ORDER BY.
  *  - 0 < n <= MAX_K: the per-task state is O(keys/partition × n)
  *    on-heap rows (see [[TopKPerKey.heaps]]) — a huge n would trade
  *    a spillable sort for unbounded memory, so mirror the spirit of
  *    spark.sql.window.group.limit.threshold and bail out.
  *  - a WindowGroupLimit the built-in rule already inserted below the
  *    Window is stripped (the partial heap does that job).
  *
  * The rank attribute keeps its exprId, so downstream references
  * resolve unchanged; [[TopKPerKeyPlan]] output order (child.output
  * :+ rank) equals the Window's.
  *
  * A plain function of the analyzed plan, applied by the key that
  * wants it ([[graft.operators.WindowOps.rankTopNAuto]]): a silently
  * changed physical plan for every window query in a shared session
  * is the kind of surprise a library should not spring, so no
  * session's optimizer runs it. */
object TopKRewrite extends PredicateHelper {

  private[graft] val MAX_K = 1000

  private def bound(e: Expression, rank: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, IntegerType))
      if a.semanticEquals(rank) => Some(v)
    case LessThan(a: AttributeReference, Literal(v: Int, IntegerType))
      if a.semanticEquals(rank) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: AttributeReference)
      if a.semanticEquals(rank) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: AttributeReference)
      if a.semanticEquals(rank) => Some(v - 1)
    case _ => None
  }

  /** The Window node if `plan` is one, possibly under a chain of
    * Projects (the analyzer's ExtractWindowExpressions leaves TWO
    * stacked Projects above the Window it creates). Returns the
    * projects innermost-first so the caller can rebuild the stack on
    * top of the replacement node — every project in the chain reads
    * only Window.output, which equals the replacement's output. */
  private def asWindow(plan: LogicalPlan)
      : Option[(Window, List[Project])] = {
    @scala.annotation.tailrec
    def go(p: LogicalPlan, acc: List[Project]): Option[(Window, List[Project])] =
      p match {
        case w: Window => Some((w, acc))
        case pr: Project => go(pr.child, pr :: acc)
        case _ => None
      }
    go(plan, Nil)
  }

  private def rewrite(f: Filter): Option[LogicalPlan] = {
    val (w, projects) = asWindow(f.child) match {
      case Some(x) => x
      case None => return None
    }
    // exactly one window expression, a row_number
    val rankAlias = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(RowNumber(), _), _)) => al
      case _ => return None
    }
    if (w.partitionSpec.isEmpty || w.orderSpec.isEmpty) return None
    val rank = rankAlias.toAttribute
    val conjuncts = splitConjunctivePredicates(f.condition)
    val (bounds, rest) = conjuncts.partition(c => bound(c, rank).isDefined)
    if (bounds.isEmpty) return None
    val k = bounds.flatMap(bound(_, rank)).min
    if (k <= 0 || k > MAX_K) return None
    // strip a WindowGroupLimit the built-in rule inserted below
    val child = w.child match {
      case WindowGroupLimit(_, _, _, _, grandchild) => grandchild
      case c => c
    }
    val rankAttr = AttributeReference(rankAlias.name, IntegerType,
      nullable = false)(exprId = rankAlias.exprId)
    val topk: LogicalPlan =
      TopKPerKeyPlan(w.partitionSpec, w.orderSpec, k, rankAttr, child)
    val projected = projects.foldLeft(topk)((c, pr) => pr.copy(child = c))
    Some(if (rest.isEmpty) projected
         else Filter(rest.reduce(And), projected))
  }

  /** `plan` with each matched filter-over-window replaced by
    * [[TopKPerKeyPlan]]; plan it with [[TopKPerKey.frame]]. */
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f: Filter => rewrite(f).getOrElse(f)
    }
}
