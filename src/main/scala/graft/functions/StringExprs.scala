package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-normalization support for text pipelines: web-crawled corpora
  * mix composed (é, U+00E9) and decomposed (e + U+0301) forms of the same
  * text, which breaks exact dedup, token equality, and fingerprint joins.
  * Normalizing to NFC before hashing/deduping is the standard first pass.
  * Also home to the word-count tokenizer [[StringImpl.wordTokens]].
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
}

/** `nfc_normalize(str)` → the NFC (canonical composition) form of `str`. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got $other")
  }
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
case class WordTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_tokens"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got $other")
  }
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
