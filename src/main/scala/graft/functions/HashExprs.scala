package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketching hot path (MinHash / LSH /
  * SimHash over token arrays).
  *
  * Rationale (100 TB posture): the pure-`functions._` formulation — k
  * `transform`/`array_min` higher-order calls per row — is CodegenFallback
  * in Spark, so every one of the k·n lambda evaluations pays interpreted
  * expression overhead, and the tokenizer is re-evaluated per hash. These
  * expressions do the whole sketch in ONE tight JVM loop per row (xxhash64
  * each token twice, then k Kirsch–Mitzenmacher mul-adds), participate in
  * whole-stage codegen via a single static call, and keep the surrounding
  * projection codegen'd.
  *
  * `text_minhash_buckets` and `text_token_hashes` go one step further for
  * MinHash dedup: they read the text itself, not a token array, and
  * tokenize it in the same loop ([[StringImpl.textTokens]]), so no per-token
  * string exists. [[TextFunctions.tokenize]] (with `lower` and
  * `array_distinct`) is the specification of that tokenization.
  *
  * Hashing is Spark's own XXH64 (bit-identical to `functions.xxhash64`,
  * seed 42), so sketches are deterministic across JVMs and sessions.
  */
object HashImpl {
  final val Seed1 = 42L
  /** Second seed for double hashing (golden-ratio constant, odd). */
  final val Seed2 = 0x9e3779b97f4a7c15L

  private def xx(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** k-min signature: sig(i) = min over tokens of (h1 + i·h2) (double
    * hashing approximates k independent permutations — Kirsch &
    * Mitzenmacher 2006). Empty arrays yield Long.MaxValue sentinels.
    */
  def minhash(tokens: ArrayData, k: Int): ArrayData =
    new GenericArrayData(minhashSlots(tokens, k))

  private def minhashSlots(tokens: ArrayData, k: Int): Array[Long] = {
    val mins = newSlots(k)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) foldSlots(mins, xx(t, Seed1), xx(t, Seed2))
      i += 1
    }
    mins
  }

  private def newSlots(k: Int): Array[Long] = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    mins
  }

  private def foldSlots(mins: Array[Long], h1: Long, h2: Long): Unit = {
    var j = 0
    var v = h1
    while (j < mins.length) {
      if (v < mins(j)) mins(j) = v
      v += h2
      j += 1
    }
  }

  /** One LSH bucket key per band: fold the band's `rowsPerBand` signature
    * slots into a 64-bit key via chained `XXH64.hashLong`, seeded by the
    * band index (so identical slices in different bands never collide).
    */
  def minhashBuckets(tokens: ArrayData, bands: Int, rowsPerBand: Int): ArrayData =
    bandKeys(minhashSlots(tokens, bands * rowsPerBand), bands, rowsPerBand)

  private def bandKeys(sig: Array[Long], bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(sig(b * rowsPerBand + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[minhashBuckets]] of `array_distinct(tokenize(lower(text)))`, from
    * the text's bytes ([[StringImpl.textTokens]]); the seed-42 hash the
    * split already took is the signature's h1.
    */
  def textMinhashBuckets(text: UTF8String, bands: Int, rowsPerBand: Int,
      useICU: Boolean): ArrayData = {
    val toks = StringImpl.textTokens(text, useICU)
    val mins = newSlots(bands * rowsPerBand)
    var i = 0
    while (i < toks.n) {
      foldSlots(mins, toks.hash(i), toks.hashAt(i, Seed2))
      i += 1
    }
    bandKeys(mins, bands, rowsPerBand)
  }

  /** The sorted seed-42 xxhash64 values of the distinct non-empty tokens
    * of `tokenize(lower(text))`: the exact-Jaccard verification set.
    */
  def textTokenHashes(text: UTF8String, useICU: Boolean): ArrayData = {
    val toks = StringImpl.textTokens(text, useICU)
    val out = new Array[Long](toks.n)
    var n = 0
    var i = 0
    while (i < toks.n) {
      if (toks.end(i) > toks.start(i)) { out(n) = toks.hash(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(out, 0, n)
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, n, 8)
  }

  /** 0-based index of the first position where both long arrays agree;
    * -1 if none (or lengths differ before a match).
    */
  def firstEqIndex(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  /** |A ∩ B| of two SORTED long arrays via two-pointer merge — primitive
    * compares only, no per-row hash set, no object churn.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Exact Jaccard |A ∩ B| / |A ∪ B| of two SORTED distinct long sets, as
    * the double division `n / (|A| + |B| − n)` of int counts; NaN where
    * both sets are empty (0/0), which [[SortedJaccard]] returns as null.
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val n = sortedIntersectCount(a, b)
    val union = a.numElements() + b.numElements() - n
    if (union == 0) Double.NaN else n.toDouble / union.toDouble
  }

  final val FnvBasis = 0xcbf29ce484222325L // -3750763034362895579 signed
  final val FnvPrime = 0x100000001b3L

  /** 64-bit FNV-1a over the Unicode CODE POINTS of a string (decoded
    * straight from the UTF8String bytes — no String materialization).
    * Code points, not UTF-8 bytes, because the DuckDB oracle folds
    * `unicode(c)` per character — the two agree for all non-combining
    * text, and byte-level folds would not be SQL-expressible there.
    * Empty input returns the offset basis (no iterations).
    */
  def fnv64(s: org.apache.spark.unsafe.types.UTF8String): Long =
    fnv64(s, FnvBasis)

  /** [[fnv64]] finished with murmur3's fmix64 avalanche (public-domain
    * constants, Appleby 2011) — the sketch-domain hash; see [[FnvMix64]].
    * Java `*`/`^`/`>>>` wrap mod 2^64 regardless of session ANSI mode.
    */
  def fnvMix64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    var h = fnv64(s)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Same code-point fold with a caller-chosen offset basis — lets stubs
    * (e.g. [[graft.operators.Multimodal.FakeDecoder]]) share the decoder
    * and the oracle-parity guarantees while keeping a distinct constant.
    */
  def fnv64(s: org.apache.spark.unsafe.types.UTF8String, basis: Long): Long = {
    var h = basis
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      // width of the sequence, clamped to the remaining bytes: a truncated
      // or malformed tail (possible via binary→string casts) must not read
      // past the buffer — UTF8String.getByte is an unchecked unsafe read
      val len0 = if (b0 < 0x80) 1 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4
      val len = math.min(len0, n - i)
      var cp =
        if (len == 1) b0 & (if (b0 < 0x80) 0xFF else 0x3F)
        else b0 & (0x7F >> len)
      var k = 1
      while (k < len) {
        cp = (cp << 6) | (s.getByte(i + k) & 0x3F)
        k += 1
      }
      i += len
      h = (h ^ cp) * FnvPrime
    }
    h
  }

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken) in ONE pass:
    * FNV-1a hash of every k-token gram — folded token-by-token with an
    * explicit 0x20 (space) step between tokens, bit-identical to
    * `fnv64(array_join(slice(tokens, i, k), " "))` for null-free input —
    * then O(G) sliding-window minima via a monotonic deque, deduplicated
    * preserving first occurrence.
    *
    * This replaces the `transform(sequence, j -> array_min(slice(grams,
    * j, w)))` HOF formulation, which Catalyst's CollapseProject inlines so
    * the WHOLE gram array is recomputed per window reference — O(G²·k)
    * hashing per row, measured 5.7 s for 500 fixture docs (and the
    * downstream self-join re-evaluates the projection per branch, ~10
    * passes). This loop is O(chars + G) per row and codegen-friendly.
    *
    * Fewer than k tokens → empty; fewer than w grams → one window over
    * what exists (same contract as the HOF form).
    */
  def winnowFps(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val g = n - k + 1
    val gh = new Array[Long](g)
    var i = 0
    while (i < g) {
      var h = FnvBasis
      var j = 0
      while (j < k) {
        if (j > 0) h = (h ^ 0x20L) * FnvPrime
        val t = tokens.getUTF8String(i + j)
        if (t != null) h = fnv64(t, h)
        j += 1
      }
      gh(i) = h
      i += 1
    }
    // sliding minima over windows of w (one partial window when g < w):
    // deque holds indices with ascending hash values; head is the window min
    val deque = new Array[Int](g)
    var head = 0
    var tail = 0
    val out = new Array[Long](math.max(g - w, 0) + 1)
    var nOut = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    var p = 0
    while (p < g) {
      while (tail > head && gh(deque(tail - 1)) >= gh(p)) tail -= 1
      deque(tail) = p
      tail += 1
      if (deque(head) < p - w + 1) head += 1
      if (p >= w - 1 || p == g - 1) {
        val m = gh(deque(head))
        if (seen.add(m)) { out(nOut) = m; nOut += 1 }
      }
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  /** 64-bit SimHash: bit b of the output is 1 iff the majority of token
    * hashes have bit b set (sum of ±1 votes > 0). Token hash is
    * [[fnv64]] (FNV-1a over code points) — SQL-expressible, so the
    * simhash pair set is gated by the DuckDB oracle rather than rows-only
    * (the earlier xxhash64 form was engine-specific); MSB→LSB fold
    * acc*2+bit.
    */
  def simhash(tokens: ArrayData): Long = {
    val sums = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        val h = fnv64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var acc = 0L
    var b = 63
    while (b >= 0) {
      acc = acc * 2L + (if (sums(b) > 0) 1L else 0L)
      b -= 1
    }
    acc
  }
}

/** `first_eq_index(a, b)` → 0-based index of the first position where the
  * two bigint arrays are equal, or -1 if none. Used to deduplicate LSH
  * candidate pairs without a shuffle: a pair colliding in several bands is
  * kept only in the row whose band equals this index.
  */
case class FirstEqIndex(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_eq_index"
  // every `inputTypes` leaves its type to inference: `AbstractDataType` is private[sql]
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashImpl.firstEqIndex(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.firstEqIndex($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstEqIndex =
    copy(left = newLeft, right = newRight)
}

/** `sorted_intersect_size(a, b)` → |A ∩ B| for two sorted array<bigint>
  * columns. The workhorse of near-dup verification: candidate pairs carry
  * sorted token-hash sets, and the exact Jaccard numerator is a two-pointer
  * merge over primitive longs.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashImpl.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** `sorted_jaccard(a, b)` → exact Jaccard of two sorted distinct
  * array<bigint> sets ([[HashImpl.sortedJaccard]]), null where both are
  * empty. One merge yields the verify's value, so a `jaccard >= t` filter
  * pushed into a join condition evaluates it once per candidate.
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  // null for two empty sets even where both inputs are non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard"
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val j = HashImpl.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (j.isNaN) null else j
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.HashImpl.sortedJaccard($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(tokens, k)` → array<bigint> of length k. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def inputTypes = Seq(ArrayType(StringType))
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.minhash(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.minhash($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `minhash_buckets(tokens, bands, rowsPerBand)` → array<bigint> of one
  * LSH bucket key per band.
  */
case class MinHashBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_buckets"
  override def inputTypes = Seq(ArrayType(StringType))
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.minhashBuckets(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.minhashBuckets($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBuckets =
    copy(child = newChild)
}

/** Spark's case-mapping setting for the sketch kernels that read a text
  * column directly, read the way `Lower` reads it.
  */
trait TextKernelExpression extends UnaryExpression {
  protected lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

/** `text_minhash_buckets(text, bands, rowsPerBand)` → the LSH bucket keys
  * of `minhash_buckets(array_distinct(tokenize(lower(text))), bands,
  * rowsPerBand)`, bit for bit, straight from the text's bytes.
  */
case class TextMinHashBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends TextKernelExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_minhash_buckets"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.textMinhashBuckets(input.asInstanceOf[UTF8String], bands, rowsPerBand, useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashImpl.textMinhashBuckets($c, $bands, $rowsPerBand, $useICU)")
  override protected def withNewChildInternal(newChild: Expression): TextMinHashBuckets =
    copy(child = newChild)
}

/** `text_token_hashes(text)` → array<bigint> equal to
  * `sort_array(transform(filter(array_distinct(tokenize(lower(text))),
  * t -> length(t) > 0), t -> xxhash64(t)))`, straight from the text's bytes.
  */
case class TextTokenHashes(child: Expression) extends TextKernelExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_token_hashes"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.textTokenHashes(input.asInstanceOf[UTF8String], useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.textTokenHashes($c, $useICU)")
  override protected def withNewChildInternal(newChild: Expression): TextTokenHashes =
    copy(child = newChild)
}

/** `fnv64(text)` → bigint FNV-1a fingerprint over code points. One native
  * loop per row; replaces the interpreted per-character
  * `aggregate(transform(split(...)))` HOF fold (CodegenFallback, ~100×
  * slower) that the first fingerprint implementation used.
  */
case class Fnv64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.fnv64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.fnv64($c)")
  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

/** `fnv_mix64(text)` → bigint: [[Fnv64]] finished with murmur3's fmix64
  * avalanche — the sketch-domain hash (`operators/Sketches.scala`). FNV-1a
  * alone leaves the HIGH bits underdispersed on short keys (register
  * indexes collapse — measured in Sketches.mix64's doc); the finisher
  * fixes that. A native expression rather than Column arithmetic so the
  * 64-bit wraparound is Java semantics — independent of
  * `spark.sql.ansi.enabled` (Column `*` THROWS on overflow under ANSI,
  * which the failure drill's cluster session caught).
  */
case class FnvMix64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv_mix64"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.fnvMix64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.fnvMix64($c)")
  override protected def withNewChildInternal(newChild: Expression): FnvMix64 =
    copy(child = newChild)
}

/** `simhash64(tokens)` → bigint fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def inputTypes = Seq(ArrayType(StringType))
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `winnow_fps(tokens, k, w)` → array<bigint> winnowing fingerprint set
  * (distinct k-gram-hash window minima). One native loop per row; see
  * [[HashImpl.winnowFps]] for why the HOF formulation is quadratic.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && w > 0, "k and w must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override def inputTypes = Seq(ArrayType(StringType))
  override protected def nullSafeEval(input: Any): Any =
    HashImpl.winnowFps(input.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** Column-level wrappers. */
object HashExprs {
  def minhashSig(tokens: Column, k: Int): Column =
    ColumnShim.column(MinHashSig(ColumnShim.expression(tokens), k))
  def minhashBuckets(tokens: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnShim.column(MinHashBuckets(ColumnShim.expression(tokens), bands, rowsPerBand))
  def textMinhashBuckets(text: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnShim.column(TextMinHashBuckets(ColumnShim.expression(text), bands, rowsPerBand))
  def textTokenHashes(text: Column): Column =
    ColumnShim.column(TextTokenHashes(ColumnShim.expression(text)))
  def simhash64(tokens: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(tokens)))
  def winnowFps(tokens: Column, k: Int, w: Int): Column =
    ColumnShim.column(WinnowFps(ColumnShim.expression(tokens), k, w))
  def fnv64(text: Column): Column =
    ColumnShim.column(Fnv64(ColumnShim.expression(text)))
  def fnvMix64(text: Column): Column =
    ColumnShim.column(FnvMix64(ColumnShim.expression(text)))
  def firstEqIndex(a: Column, b: Column): Column =
    ColumnShim.column(FirstEqIndex(ColumnShim.expression(a), ColumnShim.expression(b)))
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnShim.column(SortedIntersectSize(ColumnShim.expression(a), ColumnShim.expression(b)))
  def sortedJaccard(a: Column, b: Column): Column =
    ColumnShim.column(SortedJaccard(ColumnShim.expression(a), ColumnShim.expression(b)))
}
