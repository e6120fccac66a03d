package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * array<float> columns (SURVEY.md §4.3's sanctioned stretch: promote
  * the similarity kernel from UDF → codegen'd Expression).
  *
  * Generated code is a primitive double loop — no per-element lambda
  * dispatch (higher-order functions evaluate their lambda interpreted
  * per element), no Seq boxing (the Scala-UDF cost). Semantics are
  * identical to [[Udfs.cosSimDblExpr]]: ascending-index IEEE-double
  * fold, so the DuckDB twin remains [[Udfs.sqlCosSimDbl]].
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim"

  // A null ELEMENT (parquet list elements are containsNull=true even
  // when no nulls exist) propagates NULL — matching the SQL twin's
  // list_transform/list_reduce semantics — rather than silently
  // contributing 0 to the dot product.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $hasNull = true; break; }
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** `graft_cosine_sim(a, b)` over two array<float> columns. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(a, b)(e => new CosineSim(e(0), e(1)))
}
