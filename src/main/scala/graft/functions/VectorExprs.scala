package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Native vector kernels (cosine similarity, sign-random-projection LSH
  * buckets) — same rationale as [[HashExprs]]: the `zip_with`/`aggregate`
  * higher-order formulation is CodegenFallback and pays interpreted
  * lambda overhead per dimension; these run one JVM loop per row and keep
  * the projection inside whole-stage codegen.
  *
  * Numeric contract: all folds are left-to-right double accumulation —
  * bit-identical to the HOF formulation they replace and to DuckDB's
  * `list_cosine_similarity`, so oracle-gated results are unchanged.
  */
object VectorImpl {
  /** cosine(a, b) = Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²), left-to-right. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The (planeIdx, dim) hyperplane component used by [[srpBucket]] —
    * exposed so oracle SQL can be generated from the SAME deterministic
    * plane matrix (the values are interpolated as literals into the
    * ann02 DuckDB oracle). Must stay bit-in-sync with the srpBucket loop
    * below (both are two chained `XXH64.hashInt` calls, seed 42, folded
    * by Long.MaxValue).
    */
  def planeComponent(planeIdx: Int, d: Int): Double = {
    val seed = XXH64.hashInt(planeIdx, 42L)
    XXH64.hashInt(d, seed).toDouble / Long.MaxValue.toDouble
  }

  /** One bucket id from `nPlanes` pseudo-random hyperplane sign bits.
    * Plane component (p, d) = xxhash64(p, d) folded to [-1, 1) — identical
    * to the Column formulation it replaces (hash of two long columns,
    * seed 42, divided by Long.MaxValue).
    */
  def srpBucket(v: ArrayData, nPlanes: Int, planeOffset: Int): Long = {
    val dims = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      val seed = XXH64.hashInt(p + planeOffset, 42L)
      var d = 0
      while (d < dims) {
        // hashInt×2, seed 42: bit-identical to xxhash64(lit(p), i) over the
        // int-typed sequence() in the Column formulation this replaces
        val h = XXH64.hashInt(d, seed)
        proj += v.getDouble(d) * (h.toDouble / Long.MaxValue.toDouble)
        d += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Memoized ±1 JL sign matrices, keyed by (inDim, outDim): row j of the
    * flat array is the inDim signs of output dimension j, drawn from the
    * pinned hash ([[HashImpl.fnvMix64]] of `"jl:i:j"`, low bit) — fully
    * deterministic, so every executor (and the DuckDB oracle) regenerates
    * the identical matrix; the cache only avoids re-hashing 2 048 strings
    * per ROW.
    */
  private val jlSignCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  def jlSigns(inDim: Int, outDim: Int): Array[Double] =
    jlSignCache.computeIfAbsent((inDim, outDim), { case (in, out) =>
      val a = new Array[Double](in * out)
      var j = 0
      while (j < out) {
        var i = 0
        while (i < in) {
          val h = HashImpl.fnvMix64(
            org.apache.spark.unsafe.types.UTF8String.fromString(s"jl:$i:$j"))
          a(j * in + i) = if ((h & 1L) == 0L) 1.0 else -1.0
          i += 1
        }
        j += 1
      }
      a
    })

  /** JL ±1 projection of a double vector: out_j = Σ_i s(i,j)·q_i with the
    * input quantized to integer 2^-20 ticks (floor(x·2^20 + 0.5)) so every
    * output coordinate is exact integer arithmetic in doubles — order-free
    * and bit-identical cross-engine (see [[graft.operators.Similarity.jlProject]]).
    * One JVM loop per row: the literalized Column formulation this
    * replaces was a 2 048-node expression tree that fell out of
    * whole-stage codegen (measured 16 s for the sf0.1 ann15 pipeline;
    * this form runs it in ~1 s).
    */
  def jlProject(v: ArrayData, inDim: Int, outDim: Int): ArrayData = {
    val signs = jlSigns(inDim, outDim)
    val n = math.min(inDim, v.numElements())
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      val base = j * inDim
      var s = 0.0
      var i = 0
      while (i < n) {
        s += math.floor(v.getDouble(i) * 1048576.0 + 0.5) * signs(base + i)
        i += 1
      }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `cosine_sim(a, b)` over two array<double> columns. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `srp_bucket(vec, nPlanes, planeOffset)` → bigint LSH bucket id. */
case class SrpBucket(child: Expression, nPlanes: Int, planeOffset: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nPlanes > 0 && nPlanes <= 63, "nPlanes must be in [1, 63]")
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"
  override def inputTypes = Seq(ArrayType(DoubleType))
  override protected def nullSafeEval(input: Any): Any =
    VectorImpl.srpBucket(input.asInstanceOf[ArrayData], nPlanes, planeOffset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorImpl.srpBucket($c, $nPlanes, $planeOffset)")
  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

/** `jl_project(vec, inDim, outDim)` → array<double> JL projection. */
case class JlProject(child: Expression, inDim: Int, outDim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
    s"need 1 <= outDim <= inDim, got inDim=$inDim outDim=$outDim")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"
  override def inputTypes = Seq(ArrayType(DoubleType))
  override protected def nullSafeEval(input: Any): Any =
    VectorImpl.jlProject(input.asInstanceOf[ArrayData], inDim, outDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorImpl.jlProject($c, $inDim, $outDim)")
  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object VectorExprs {
  def cosineSim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSim(ColumnShim.expression(a), ColumnShim.expression(b)))
  def srpBucket(vec: Column, nPlanes: Int, planeOffset: Int): Column =
    ColumnShim.column(SrpBucket(ColumnShim.expression(vec), nPlanes, planeOffset))
  def jlProject(vec: Column, inDim: Int, outDim: Int): Column =
    ColumnShim.column(JlProject(ColumnShim.expression(vec), inDim, outDim))
}
