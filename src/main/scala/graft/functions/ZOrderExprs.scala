package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleaving for multi-dimensional clustering.
  *
  * 1-D range clustering ([[graft.store.IndexLayout.materializeAvet]])
  * makes ONE key's predicates prunable; a layout queried by BOTH
  * user and time (the events table's two access paths) needs file
  * statistics tight in both dimensions at once. Interleaving the two
  * keys' bits gives a single sort key whose contiguous ranges are
  * small rectangles in (a, b) space — the standard lakehouse
  * Z-ORDER — so min/max stats per file stay narrow in EACH dimension
  * and a predicate on either one (or both) skips files.
  *
  * Bit budget: 32 bits per dimension (alternating even/odd bit
  * positions of the 64-bit result). Inputs are expected PRE-SCALED
  * to fit 32 bits — callers pass ranks or bucketed values, not raw
  * nanos. The expression is order-preserving per dimension within
  * the interleave, which is all clustering needs; it never crosses
  * the engine boundary (layouts are read back, not hash-compared),
  * so no oracle replay is required.
  */
object ZOrder {
  /** Interleave the low 32 bits of a (even positions) and b (odd). */
  def interleave(a: Long, b: Long): Long =
    spread(a & 0xffffffffL) | (spread(b & 0xffffffffL) << 1)

  /** Spread the low 32 bits of x to the even bit positions of a long
    * (the classic Morton "part" sequence). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
}

/** `zorder64(a, b)` → Morton-interleaved long of the two keys' low
  * 32 bits. Codegen'd (one static call per row in the build shuffle's
  * key projection). */
case class ZOrder64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder.interleave($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ZOrder64 = copy(left = l, right = r)
  override def prettyName: String = "zorder64"
}
