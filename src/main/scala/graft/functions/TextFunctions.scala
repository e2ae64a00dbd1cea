package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/** Column-level text functions — the reference's scalar surface plus the
  * text-analysis extensions, all as compositions of codegen'd built-ins
  * (no Scala UDFs on hot paths).
  *
  * Reference semantics pinned here (SURVEY §2 O3-O5, §2.10):
  *  - tokenize: split on runs of whitespace (`WorkerNode.java:43`,
  *    `text.trim().split("\\s+")`) — the class is SPELLED OUT as
  *    `[\t\n\x0B\f\r ]` (== Java `\s`) on both the engine and the DuckDB
  *    oracle side, because RE2's `\s` EXCLUDES `\x0B` while Java's
  *    includes it: with a bare `\s+` the two engines silently diverge on
  *    vertical-tab input (ADVICE r7)
  *  - normalize: strip `\W` (ASCII-classed, so `don't` → `dont`, `co-op`
  *    → `coop`) THEN lower-case, as the DuckDB oracle does. The reference
  *    (`WorkerNode.java:45`) lower-cases first; the two orders differ only
  *    on characters whose lower case is ASCII (U+212A KELVIN SIGN → `k`
  *    there, dropped here; `İ` U+0130 → `i̇` there, so `"İx"` → `ix` there
  *    and `x` here). The oracle is the specification, so the engine keeps
  *    strip-then-lower
  *  - filter: drop tokens empty after normalization (`WorkerNode.java:46`)
  *
  * [[wordTokens]] is the engine's form of all three steps (one native
  * pass); [[tokenize]], [[normalizeToken]] and [[isNonEmptyToken]] are the
  * regex specification it is checked against.
  *
  * [[nonEmptyTokens]] (split + filter, no normalization) is the one
  * definition of a text's non-empty whitespace tokens that every query
  * calls; the native tokenizer of ROADMAP direction 2 replaces that one
  * definition rather than each call site.
  */
object TextFunctions {

  /** Whitespace tokenization of a text column → array<string>.
    * `split` on a trimmed string; a fully-blank input yields a single empty
    * token (same as Java's `"".split("\\s+")`), removed downstream by
    * [[isNonEmptyToken]]. The whitespace class is written out (see object
    * doc) so the DuckDB oracles can pin the identical RE2 class.
    * `array_distinct(tokenize(lower(text)))` is also the specification of
    * the MinHash kernels `text_minhash_buckets` and `text_token_hashes`
    * ([[HashExprs]]), which split the text's bytes natively.
    */
  def tokenize(text: Column): Column = split(trim(text), "[\\t\\n\\x0B\\f\\r ]+")

  /** Reference normalization: strip non-word chars, then lower-case.
    * Java `\W` == `[^a-zA-Z0-9_]` (ASCII) by default; Spark's
    * `regexp_replace` uses java.util.regex too, so semantics are identical.
    */
  def normalizeToken(token: Column): Column =
    lower(regexp_replace(token, "\\W", ""))

  /** Predicate: token survives normalization (non-empty). */
  def isNonEmptyToken(token: Column): Column = length(token) > 0

  /** The non-empty whitespace tokens of a text column → array<string>:
    * [[tokenize]] without the empty token a blank (or leading-tab) text
    * yields. NULL text gives NULL.
    */
  def nonEmptyTokens(text: Column): Column = filter(tokenize(text), isNonEmptyToken(_))

  /** `word_tokens(text)`: split, normalize and drop empty tokens in one
    * native pass over the UTF-8 bytes → array<string> with no null or
    * empty element; NULL text gives NULL. Equal to
    * `filter(transform(tokenize(text), normalizeToken), isNonEmptyToken)`.
    */
  def wordTokens(text: Column): Column =
    ColumnShim.column(WordTokens(ColumnShim.expression(text)))

  // ---------------------------------------------------------------------
  // Text analysis (LLM-pipeline extensions; no reference counterpart)
  // ---------------------------------------------------------------------

  /** Whitespace token count; 0 for blank/empty strings. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L)).otherwise(size(tokenize(text)).cast("long"))

  /** BPE-ish subword count: alphanumeric runs + each non-space symbol counts
    * as a token (a cheap proxy for byte-pair tokenizers; deterministic and
    * engine-portable). Whitespace class spelled out for the same RE2/Java
    * `\s`-vs-VT reason as [[tokenize]].
    */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(
        size(regexp_extract_all(text,
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]"), lit(0)))
          .cast("long"))

  /** GPT-2-style pretokenizer segmentation → array<string>. The classic
    * pattern minus its trailing-whitespace lookahead (`\s+(?!\S)`), which
    * RE2 — the oracle's regex engine — cannot express: contractions,
    * space-prefixed letter runs, space-prefixed digit runs, space-prefixed
    * symbol runs, then whitespace runs. Whitespace is the EXPLICIT class
    * `[\t\n\x0B\f\r ]`, not `\s`: java.util.regex counts U+000B
    * (vertical tab) as `\s` while RE2 — the oracle's engine — does not,
    * so a bare `\s` would segment VT-bearing text differently per
    * engine. With the class spelled out, alternation is leftmost-first in
    * both engines and segmentation is bit-identical cross-engine; every
    * input char lands in exactly one pretoken (concatenating the matches
    * reproduces the input).
    */
  val pretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+" +
      "| ?[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]+|[\\t\\n\\x0B\\f\\r ]+"

  def pretokenize(text: Column): Column =
    regexp_extract_all(text, lit(pretokenPattern), lit(0))

  /** Ratio of punctuation chars to total chars (0.0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"-]", "")).cast("double") /
        length(text).cast("double"))

  /** Ratio of tokens that are (English-ish) stopwords. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val toks  = tokenize(lower(text))
    val stops = filter(toks, t => t.isInCollection(stopwords))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks).cast("double"))
  }

  /** Mean token length in characters (0.0 for blank). */
  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(
        aggregate(tokenize(text), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / tokenCount(text).cast("double"))

  /** Composite quality score in [0,1]: long enough, low punctuation noise,
    * some but not all stopwords. Deterministic; used by `text_quality`.
    */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctPen  = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val stopScore = when(stopwordRatio(text) > 0.02, lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.5 + punctPen * 0.3 + stopScore * 0.2, 6)
  }

  /** 64-bit FNV-1a rolling hash over the Unicode code points of a string —
    * the document fingerprint. One native codegen'd loop per row
    * ([[graft.functions.Fnv64]]); h = basis, then h = (h ^ cp) * prime per
    * code point, 64-bit wraparound. Deterministic across JVMs and
    * SQL-expressible (the DuckDB oracle folds `unicode(c)` in HUGEINT mod
    * 2⁶⁴), so `tx04` is hash-gated. The empty string hashes to the basis.
    */
  def fingerprint64(text: Column): Column =
    graft.functions.HashExprs.fnv64(text)

  /** Remove (English-ish) stopwords: tokenize, drop tokens whose lower-case
    * form is in [[stopwords]], re-join with single spaces — the cleaning
    * pass before chunking/packing. Whitespace is normalized as a side
    * effect (any run → one space).
    */
  def removeStopwords(text: Column): Column =
    array_join(filter(tokenize(text), t => !lower(t).isInCollection(stopwords)), " ")

  /** Redact email addresses and phone-shaped digit runs. Regex uses
    * character classes and bounded repetition only — the subset that
    * behaves identically under java.util.regex (Spark) and RE2-family
    * engines (no backrefs, no lookaround), so the scrub is portable.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>")

  /** Character-n-gram shingles of a string (lower-cased), as array<string>. */
  def charShingles(text: Column, n: Int): Column = {
    val lowered = lower(text)
    val len     = length(lowered)
    when(len < n, array(lowered)).otherwise(
      transform(sequence(lit(1), len - n + 1), i => lowered.substr(i, lit(n))))
  }

  /** Word n-grams from whitespace tokens, joined by a single space. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokenize(text)
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }
}
