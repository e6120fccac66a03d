package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression computing the Z-order (Morton) key of
  * two 8-bit coordinates: bit i of `x` lands at result bit 2i, bit i
  * of `y` at bit 2i+1, yielding a 16-bit interleaved key. Inputs are
  * masked to their low 8 bits so callers can pass any integral value
  * pre-reduced with `% 256`.
  *
  * This is the multi-dimensional clustering primitive: sorting or
  * directory-partitioning a table by the Z-key keeps rows that are
  * close in BOTH dimensions physically adjacent, so a 2-D box
  * predicate prunes to the few Z-ranges (directories) whose tiles
  * intersect the box instead of scanning everything — the layout trick
  * behind Delta/Iceberg Z-ordering. Computed once per row at write
  * time (the hot path), hence a codegen'd primitive rather than a
  * boxing UDF; the bit-spread uses the standard mask-shift doubling,
  * four ops per dimension, no loop.
  */
case class ZOrder(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l, r) if ZOrder.integral(l) && ZOrder.integral(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects integral arguments, got " +
          s"${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override protected def nullSafeEval(x: Any, y: Any): Any = {
    def asLong(v: Any): Long = v match {
      case i: Int => i.toLong
      case l: Long => l
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    ZOrder.interleave8(asLong(x), asLong(y))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      s"""
         |long $xs = ((long) $xc) & 0xFFL;
         |$xs = ($xs | $xs << 4) & 0x0F0FL;
         |$xs = ($xs | $xs << 2) & 0x3333L;
         |$xs = ($xs | $xs << 1) & 0x5555L;
         |long $ys = ((long) $yc) & 0xFFL;
         |$ys = ($ys | $ys << 4) & 0x0F0FL;
         |$ys = ($ys | $ys << 2) & 0x3333L;
         |$ys = ($ys | $ys << 1) & 0x5555L;
         |${ev.value} = $xs | ($ys << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder =
    copy(left = newLeft, right = newRight)
}

object ZOrder {
  /** `graft_zorder(x, y)` over two integral columns. */
  def apply(x: Column, y: Column): Column =
    Bridge.column(x, y)(e => new ZOrder(e(0), e(1)))

  private[functions] def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Reference implementation shared by eval and driver-side bucket
    * enumeration (values < 8 interleave entirely within the low 6
    * bits, so the same function maps (x>>5, y>>5) tile coordinates to
    * their directory id). */
  def interleave8(x: Long, y: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0xFFL
      v = (v | v << 4) & 0x0F0FL
      v = (v | v << 2) & 0x3333L
      v = (v | v << 1) & 0x5555L
      v
    }
    spread(x) | (spread(y) << 1)
  }
}
