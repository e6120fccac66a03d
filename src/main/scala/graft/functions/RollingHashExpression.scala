package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial rolling hash
  * (base 131 mod 1e9+7) over a string's unicode codepoints.
  *
  * Replaces the interpreted HOF pipeline
  * `aggregate(transform(split(text,''), ascii), …)`, which materializes
  * an array of single-character strings and dispatches two lambdas per
  * character — this is one codegen'd primitive loop per row. Semantics
  * are identical (per-character codepoint fold, no overflow:
  * acc < 2^30·131 + cp < 2^63), so the DuckDB `list_reduce` oracle in
  * [[graft.operators.TextOps.textFingerprintSql]] is unchanged.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string argument, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 131L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** `graft_rolling_hash(text)` over a string column. */
  def apply(text: Column): Column =
    Bridge.column(text)(e => new RollingHash(e(0)))
}
