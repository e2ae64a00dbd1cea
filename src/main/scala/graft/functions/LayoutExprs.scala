package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Data-layout expressions: Z-order (Morton) interleaving for
  * multi-dimensional clustering. Sorting a table by the interleaved key
  * makes BOTH dimensions range-local within any contiguous slice — the
  * property that lets a 100 TB scan prune files on either predicate
  * column from parquet min/max footers, where a single-column sort only
  * prunes its own column. Native codegen'd expression (one static JVM
  * loop per row) for the same reason as [[HashImpl]]: the key is computed
  * corpus-wide in the write path.
  */
object LayoutImpl {
  /** Interleave the low 16 bits of x (even bit positions) and y (odd):
    * z = Σᵢ ((x>>i)&1)·2^(2i) + ((y>>i)&1)·2^(2i+1). Total order over the
    * 32-bit Morton curve of (x mod 2¹⁶, y mod 2¹⁶).
    */
  def interleave16(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Hilbert d-index of the low-16-bit point (x, y) — the standard xy2d
    * walk (Warren, Hacker's Delight §16-1 / the public-domain Wikipedia
    * formulation): descend the 16 bit levels, accumulate the quadrant
    * offset s²·((3·rx) xor ry), reflect+swap into the quadrant's frame.
    * Reflection at the FULL n−1 bound keeps coordinates in [0, n) at
    * every level (no negative intermediates to reason about in the SQL
    * mirror). Bijective on the 2¹⁶×2¹⁶ grid with UNIT-step adjacency
    * between consecutive indexes (asserted in LayoutSpec) — the stronger
    * locality than Morton's curve (whose diagonal jumps are what make
    * Hilbert the clustering key production table formats reach for).
    */
  def hilbert16(x0: Long, y0: Long): Long = {
    val n = 65536L
    var x = x0 & 0xffffL
    var y = y0 & 0xffffL
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** `zorder16(x, y)` → bigint Morton key of the two low-16-bit values. */
case class ZOrder16(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder16"
  override def inputTypes = Seq(LongType, LongType)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    LayoutImpl.interleave16(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LayoutImpl.interleave16($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder16 =
    copy(left = newLeft, right = newRight)
}

/** `hilbert16(x, y)` → bigint Hilbert index of the two low-16-bit values. */
case class Hilbert16(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert16"
  override def inputTypes = Seq(LongType, LongType)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    LayoutImpl.hilbert16(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LayoutImpl.hilbert16($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert16 =
    copy(left = newLeft, right = newRight)
}

object LayoutExprs {
  def zorder16(x: Column, y: Column): Column =
    ColumnShim.column(ZOrder16(ColumnShim.expression(x), ColumnShim.expression(y)))
  def hilbert16(x: Column, y: Column): Column =
    ColumnShim.column(Hilbert16(ColumnShim.expression(x), ColumnShim.expression(y)))
}
