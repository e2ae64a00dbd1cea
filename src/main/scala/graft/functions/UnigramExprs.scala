package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Viterbi segmentation for the unigram-LM family (tx35-tx37).
  *
  * Rationale (the [[HashImpl]] argument, measured on this exact query):
  * the higher-order-function formulation of the E-step — `aggregate`/
  * `transform` lambdas building the suffix-cost DP — is CodegenFallback,
  * and every piece-cost probe is `try_element_at` on a `MapType`, which
  * Spark evaluates as a LINEAR SCAN of the map (no hash): up to
  * n·MaxPiece·2 ≈ 64 probes × |model| ≈ 150 key comparisons per word,
  * per E-step pass. QueryProfile attributed most of tx36/tx37's task
  * time to exactly those stages (taskRun ≫ cpu, heavy GC from lambda
  * allocation). This expression runs the whole DP as ONE tight JVM loop
  * per word with a REAL hash map built once per (task, model) — same
  * fixed-point Long arithmetic, same tie-breaks, bit-identical output
  * (the tx35-37 DuckDB towers and UnigramSpec's hand cases pin it).
  *
  * Semantics mirrored from the HOF form (and the oracle CTEs):
  *  - suffix costs: best(n+1) = 0; best(i) = min over j in
  *    1..min(MaxPiece, n-i+1) of cost(w[i, j)) + best(i+j);
  *  - cost(s) = model(s), or the Big sentinel when absent;
  *  - path walk from position 1 taking the SMALLEST j whose step cost
  *    reproduces best(i) (the declared shortest-piece tie-break);
  *  - pieces are code-point substrings (UTF8String.substringSQL — the
  *    same routine Spark's `substring` uses, so multi-byte remapped
  *    whitespace symbols slice identically).
  */
object ViterbiImpl {
  /** (model MapData identity, built hash map) memo — one model per
    * micro-batch/stage in practice, so the build amortizes to once per
    * task. Keyed by reference identity: a miss only costs a rebuild
    * (|model| inserts), never correctness. ThreadLocal because tasks
    * share the JVM.
    */
  private val memo =
    new ThreadLocal[(AnyRef, java.util.HashMap[UTF8String, java.lang.Long])]()

  /** Unsafe rows hand out a FRESH UnsafeMapData wrapper per access, so
    * reference identity alone would miss every row; two unsafe views on
    * the same (buffer, offset, size) are byte-identical maps, which is
    * exactly the broadcast-model case this memo exists for.
    */
  private def sameModel(a: AnyRef, b: MapData): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.catalyst.expressions.UnsafeMapData,
          y: org.apache.spark.sql.catalyst.expressions.UnsafeMapData) =>
      (x.getBaseObject eq y.getBaseObject) &&
        x.getBaseOffset == y.getBaseOffset &&
        x.getSizeInBytes == y.getSizeInBytes
    case _ => a eq b
  }

  private def modelMap(md: MapData): java.util.HashMap[UTF8String, java.lang.Long] = {
    val c = memo.get()
    if (c != null && sameModel(c._1, md)) return c._2
    val m = new java.util.HashMap[UTF8String, java.lang.Long](md.numElements() * 2)
    val ks = md.keyArray(); val vs = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      // clone: unsafe map views point into a shared buffer; the memo can
      // outlive the current row's access window
      m.put(ks.getUTF8String(i).clone(), vs.getLong(i))
      i += 1
    }
    memo.set((md, m))
    m
  }

  def segment(w: UTF8String, md: MapData, maxPiece: Int, big: Long): InternalRow = {
    val model = modelMap(md)
    val n = w.numChars()
    def cost(pos: Int, len: Int): Long = {
      val v = model.get(w.substringSQL(pos, len))
      if (v == null) big else v.longValue()
    }
    // best(i) over 1..n+1, stored at index i
    val best = new Array[Long](n + 2)
    var i = n
    while (i >= 1) {
      val jMax = math.min(maxPiece, n - i + 1)
      var b = Long.MaxValue
      var j = 1
      while (j <= jMax) {
        val c = cost(i, j) + best(i + j)
        if (c < b) b = c
        j += 1
      }
      best(i) = b
      i -= 1
    }
    // walk: smallest j reproducing best(i) at each position
    val pieces = new java.util.ArrayList[UTF8String](n)
    i = 1
    while (i <= n) {
      val jMax = math.min(maxPiece, n - i + 1)
      var j = 1
      var step = jMax
      var found = false
      while (!found && j <= jMax) {
        if (cost(i, j) + best(i + j) == best(i)) { step = j; found = true }
        j += 1
      }
      pieces.add(w.substringSQL(i, step))
      i += step
    }
    new GenericInternalRow(Array[Any](
      if (n == 0) 0L else best(1),
      new GenericArrayData(pieces.toArray.asInstanceOf[Array[Any]])))
  }
}

/** `viterbi_segment(w, model)` → struct<best:bigint, pieces:array<string>>. */
case class ViterbiSegment(left: Expression, right: Expression,
    maxPiece: Int, big: Long) extends BinaryExpression with ExpectsInputTypes {
  require(maxPiece > 0, "maxPiece must be positive")
  override def dataType: DataType = StructType(Seq(
    StructField("best", LongType, nullable = false),
    StructField("pieces", ArrayType(StringType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "viterbi_segment"
  override def inputTypes =
    Seq(StringType, MapType(StringType, LongType))
  override protected def nullSafeEval(w: Any, m: Any): Any =
    ViterbiImpl.segment(w.asInstanceOf[UTF8String], m.asInstanceOf[MapData],
      maxPiece, big)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, m) =>
      s"graft.functions.ViterbiImpl.segment($w, $m, $maxPiece, ${big}L)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ViterbiSegment =
    copy(left = newLeft, right = newRight)
}

object UnigramExprs {
  def viterbiSegment(w: Column, model: Column, maxPiece: Int, big: Long): Column =
    ColumnShim.column(ViterbiSegment(
      ColumnShim.expression(w), ColumnShim.expression(model), maxPiece, big))
}
