package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-normalization support for text pipelines: web-crawled corpora
  * mix composed (é, U+00E9) and decomposed (e + U+0301) forms of the same
  * text, which breaks exact dedup, token equality, and fingerprint joins.
  * Normalizing to NFC before hashing/deduping is the standard first pass.
  * Also home to the word-count tokenizer [[StringImpl.wordTokens]] and the
  * MinHash sketch's [[StringImpl.textTokens]].
  */
object StringImpl {
  /** NFC-normalize a UTF8String. The String round-trip is unavoidable
    * (java.text.Normalizer works on CharSequence), but the call stays a
    * single static hop inside whole-stage codegen — no UDF serialization,
    * no Row boxing. Returns the input object unchanged when already
    * normalized (the common case — zero allocation).
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Byte classes for [[wordTokens]]: -1 ends a token (`[\t\n\x0B\f\r ]`),
    * 0 is dropped, any other value is the byte kept (`A-Z` already
    * lower-cased). Every byte of a multi-byte UTF-8 sequence is >= 0x80,
    * so it is dropped, exactly as Java's ASCII `\W` drops the character.
    */
  private val TokenClass: Array[Byte] = {
    val t = new Array[Byte](256)
    "\t\n\u000B\f\r ".foreach(c => t(c) = -1)
    (('a' to 'z') ++ ('0' to '9') :+ '_').foreach(c => t(c) = c.toByte)
    ('A' to 'Z').foreach(c => t(c) = c.toLower.toByte)
    t
  }

  /** The reference's map step in one left-to-right pass over the UTF-8
    * bytes: split on `[\t\n\x0B\f\r ]`, keep `[A-Za-z0-9_]` lower-cased,
    * drop every other byte, emit only non-empty tokens. Equal to
    * `filter(transform(tokenize(s), normalizeToken), isNonEmptyToken)`
    * ([[TextFunctions]]) with no regex and no `String` decode. The kept
    * bytes go into one buffer that the output tokens share.
    */
  def wordTokens(s: UTF8String): ArrayData = {
    val cls = TokenClass
    val n = s.numBytes
    val buf = new Array[Byte](n)
    var out = new Array[Any](8)
    var nOut = 0
    var len = 0   // bytes kept so far
    var start = 0 // where the current token starts in buf
    var i = 0
    while (i <= n) {
      val c: Byte = if (i < n) cls(s.getByte(i) & 0xff) else -1
      if (c > 0) { buf(len) = c; len += 1 }
      else if (c < 0 && len > start) {
        if (nOut == out.length) out = Array.copyOf(out, nOut * 2)
        out(nOut) = UTF8String.fromBytes(buf, start, len - start)
        nOut += 1
        start = len
      }
      i += 1
    }
    new GenericArrayData(if (nOut == out.length) out else Array.copyOf(out, nOut))
  }

  /** The distinct tokens of one text: token `i` is
    * `bytes(start(i) until end(i))`, with seed-42 xxhash64 `hash(i)`, for
    * `i < n`, in first-occurrence order.
    */
  final class TextTokens(val bytes: Array[Byte], val start: Array[Int],
      val end: Array[Int], val hash: Array[Long], val n: Int) {
    def hashAt(i: Int, seed: Long): Long =
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start(i), end(i) - start(i), seed)
  }

  private def isSeparator(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r') // \t \n \x0B \f \r

  /** `array_distinct(tokenize(lower(s)))` ([[TextFunctions.tokenize]]) as
    * byte spans, with no regex, no `String` decode of ASCII text and no
    * per-token `UTF8String`:
    *  - lower: `A-Z` in a copy of the bytes; a text holding any non-ASCII
    *    byte is lower-cased whole by the call Spark's `lower` makes
    *    (`useICU` as `Lower` reads it), whose output is valid UTF-8, so
    *    `split`'s decode and re-encode change nothing;
    *  - trim: spaces only, so a leading tab still gives an empty token;
    *  - split: on each maximal run of `[\t\n\x0B\f\r ]`, keeping leading
    *    and trailing empty tokens as `split` does (limit -1);
    *  - distinct: probe on the token hash, then compare bytes, so tokens
    *    whose 64-bit hashes collide stay distinct.
    */
  def textTokens(s: UTF8String, useICU: Boolean): TextTokens = {
    val ascii = new Array[Byte](s.numBytes)
    var i = 0
    while (i < ascii.length && s.getByte(i) >= 0) {
      val b = s.getByte(i)
      ascii(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      i += 1
    }
    val bytes =
      if (i == ascii.length) ascii
      else CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).getBytes
    var n = bytes.length
    var from = 0
    while (from < n && bytes(from) == ' ') from += 1
    while (n > from && bytes(n - 1) == ' ') n -= 1
    // tokens = separator runs + 1, and runs are at least a byte apart
    val start = new Array[Int]((n - from) / 2 + 2)
    val end = new Array[Int](start.length)
    var nTok = 0
    var tok = from
    i = from
    while (i <= n) {
      if (i == n || isSeparator(bytes(i))) {
        start(nTok) = tok
        end(nTok) = i
        nTok += 1
        i += 1
        while (i < n && isSeparator(bytes(i))) i += 1
        tok = i
      } else i += 1
    }
    // open addressing over token indexes + 1 (0 = free), at most half full;
    // distinct tokens are compacted in place, keeping first occurrences
    val hash = new Array[Long](nTok)
    val table = new Array[Int](Integer.highestOneBit(nTok) * 4)
    val mask = table.length - 1
    var nDistinct = 0
    var t = 0
    while (t < nTok) {
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start(t),
        end(t) - start(t), HashImpl.Seed1)
      var slot = (h ^ (h >>> 32)).toInt & mask
      var seen = false
      while (!seen && table(slot) != 0) {
        val d = table(slot) - 1
        seen = hash(d) == h && java.util.Arrays.equals(
          bytes, start(d), end(d), bytes, start(t), end(t))
        slot = (slot + 1) & mask
      }
      if (!seen) {
        table(slot) = nDistinct + 1
        start(nDistinct) = start(t)
        end(nDistinct) = end(t)
        hash(nDistinct) = h
        nDistinct += 1
      }
      t += 1
    }
    new TextTokens(bytes, start, end, hash, nDistinct)
  }
}

/** `nfc_normalize(str)` → the NFC (canonical composition) form of `str`. */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(s: Any): Any =
    StringImpl.nfc(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringImpl.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `word_tokens(str)` → array<string> of the reference's normalized,
  * non-empty word tokens ([[StringImpl.wordTokens]]); NULL in, NULL out.
  */
case class WordTokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_tokens"
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(s: Any): Any =
    StringImpl.wordTokens(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringImpl.wordTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object StringExprs {
  def nfcNormalize(s: Column): Column =
    ColumnShim.column(NfcNormalize(ColumnShim.expression(s)))
}
