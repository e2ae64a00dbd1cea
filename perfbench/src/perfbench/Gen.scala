package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every generator tallies its own ground truth
  * while it writes, from how it built each token, so the checks never
  * re-run the engine's tokenizer to decide what the right answer is.
  */
object Gen {
  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Punct = ".,;:!?"

  /** Sampler over ranks 0 until n with P(rank k) proportional to 1/(k+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) > u) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  /** `n` distinct words over [a-z0-9_]: the characters the engine's
    * normalizer keeps, so a word's normalized form is the word itself.
    */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = 2 + r.nextInt(9)
      val sb = new StringBuilder(len + 1)
      var j = 0
      while (j < len) { sb.append(Letters.charAt(r.nextInt(26))); j += 1 }
      r.nextInt(40) match {
        case 0 => sb.append(r.nextInt(10))
        case 1 => sb.insert(1 + r.nextInt(len - 1), '_')
        case _ =>
      }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Renders `word` as a text token that the engine's normalizer
    * (strip [^A-Za-z0-9_], then lower-case) maps back to `word`: mixed case,
    * attached punctuation, quotes, brackets and inner apostrophes.
    */
  def decorate(word: String, r: SplittableRandom): String = r.nextInt(100) match {
    case k if k < 68 => word
    case k if k < 78 => word.capitalize
    case k if k < 81 => word.toUpperCase(java.util.Locale.ROOT)
    case k if k < 89 => word + Punct.charAt(r.nextInt(Punct.length))
    case k if k < 92 => "(" + word + ")"
    case k if k < 95 => "\"" + word.capitalize + "\","
    case _ =>
      val at = 1 + r.nextInt(math.max(1, word.length - 1))
      word.substring(0, at) + (if (r.nextBoolean()) "'" else "-") + word.substring(at)
  }

  private val One = java.lang.Long.valueOf(1L)

  /** Exact per-word counts. */
  final class Tally {
    val counts = new java.util.HashMap[String, java.lang.Long]()
    var tokens = 0L
    def add(w: String): Unit = {
      counts.merge(w, One, (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
      tokens += 1
    }
    /** The reference query's output in its global (cnt ASC, word ASC) order. */
    def sortedLines: Array[String] = {
      val es = new Array[(String, Long)](counts.size)
      var i = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); es(i) = (e.getKey, e.getValue.longValue); i += 1 }
      java.util.Arrays.sort(es, (a: (String, Long), b: (String, Long)) => {
        val c = java.lang.Long.compare(a._2, b._2)
        if (c != 0) c else a._1.compareTo(b._1)
      })
      es.map { case (w, c) => s"$w: $c" }
    }
  }

  /** Writes lines of tokens to `file` until it holds at least `bytes`
    * bytes. `next` returns (text token, normalized word or null when the
    * token normalizes to nothing); each kept word goes to `tally`.
    */
  def writeTokens(file: File, bytes: Long, r: SplittableRandom, tally: Tally)(
      next: () => (String, String)): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file),
      StandardCharsets.US_ASCII), 1 << 16)
    var written = 0L
    try {
      while (written < bytes) {
        val line = new StringBuilder(160)
        r.nextInt(50) match {
          case 0 => line.append("   ") // blank line: tokenizes to one empty token
          case 1 => line.append("  --  ... ") // punctuation only: normalizes to nothing
          case _ =>
            val n = 1 + r.nextInt(24)
            var i = 0
            while (i < n) {
              if (i > 0) line.append(r.nextInt(20) match {
                case 0 => "\t"
                case 1 => "  "
                case _ => " "
              })
              val (tok, word) = next()
              line.append(tok)
              if (word != null) tally.add(word)
              i += 1
            }
        }
        line.append('\n')
        w.write(line.toString)
        written += line.length
      }
    } finally w.close()
    written
  }

  /** Token source for Zipf-distributed natural-language-like text. */
  def zipfTokens(vocab: Array[String], zipf: Zipf, r: SplittableRandom): () => (String, String) =
    () => {
      if (r.nextInt(100) == 0) (if (r.nextBoolean()) "--" else "...", null)
      else {
        val w = vocab(zipf.sample(r))
        (decorate(w, r), w)
      }
    }

  /** Token source for crawl-style identifiers: 16-hex-digit IDs, each new
    * one unique by construction (a bijective 64-bit mix of a counter), with
    * `repeatShare` of tokens re-using an ID emitted earlier.
    */
  def idTokens(r: SplittableRandom, seed: Long, repeatShare: Double): () => (String, String) = {
    val emitted = mutable.ArrayBuffer.empty[String]
    var counter = 0L
    () => {
      val w =
        if (emitted.nonEmpty && r.nextDouble() < repeatShare)
          emitted(r.nextInt(emitted.size))
        else {
          counter += 1
          val id = f"${mix64(counter ^ (seed << 32))}%016x"
          emitted += id
          id
        }
      val tok = r.nextInt(10) match {
        case 0 | 1 => w.toUpperCase(java.util.Locale.ROOT)
        case 2 => w + Punct.charAt(r.nextInt(Punct.length))
        case _ => w
      }
      (tok, w)
    }
  }

  /** splitmix64 finalizer: a bijection on 64-bit values. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A near-duplicate document corpus with planted clusters. */
  final case class Corpus(
      docs: Array[(Long, String)],
      /** (id_a, id_b) -> exact token-set Jaccard, for every planted pair at
        * or above the threshold; id_a < id_b. */
      truePairs: Map[(Long, Long), Double],
      plantedPairs: Int,
      clusteredDocs: Int)

  /** Distinct lower-cased whitespace tokens: the set the engine's Jaccard
    * is defined over.
    */
  def tokenSet(text: String): Set[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[\\t\\n\\x0B\\f\\r ]+")
      .iterator.filter(_.nonEmpty).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common).toDouble
  }

  /** One vocabulary for every dedup corpus; the seed draws the documents.
    * Which words head the Zipf distribution sets how many pairs share an
    * LSH bucket: at 16,000 documents two vocabularies gave 65,694 and
    * 793,014 candidates, a 12x swing in the job's work from the seed alone.
    */
  val CorpusVocabularySeed = 0L

  /** `nDocs` documents of Zipf text; `clusterShare` of them sit in planted
    * clusters of 2-4 variants of one base document. Each variant replaces
    * distinct tokens of the base with fresh ones so that its Jaccard with
    * the base lands either just above `threshold` or just below it.
    * Unrelated documents share only head words (Jaccard near 0.1), far
    * below the threshold, so the planted pairs are the whole answer.
    */
  def corpus(r: SplittableRandom, nDocs: Int, clusterShare: Double,
      threshold: Double): Corpus = {
    val vocab = vocabulary(new SplittableRandom(CorpusVocabularySeed), 50000)
    val zipf = new Zipf(vocab.length, 1.0)
    var fresh = 0L
    def freshWord(): String = { fresh += 1; "x" + java.lang.Long.toString(mix64(fresh) & Long.MaxValue, 36) }
    def baseDoc(): Array[String] = Array.fill(60 + r.nextInt(60))(vocab(zipf.sample(r)))
    def render(toks: Array[String]): String =
      toks.iterator.map(t => if (r.nextInt(8) == 0) t.capitalize else t).mkString(" ")

    val texts = mutable.ArrayBuffer.empty[String]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    val clusterTarget = (nDocs * clusterShare).toInt
    var clustered = 0
    while (clustered < clusterTarget) {
      val base = baseDoc()
      val distinct = base.distinct
      val members = mutable.ArrayBuffer(texts.length)
      texts += render(base)
      val variants = 1 + r.nextInt(3)
      var v = 0
      while (v < variants) {
        // J = (m - k) / (m + k) when k distinct tokens are swapped for fresh ones
        val m = distinct.length
        val aim = if (r.nextInt(4) == 0) threshold - 0.01 - 0.04 * r.nextDouble()
                  else threshold + 0.12 * r.nextDouble()
        val k = math.max(0, math.min(m - 1, math.floor(m * (1 - aim) / (1 + aim)).toInt))
        val drop = mutable.HashSet.empty[String]
        while (drop.size < k) drop += distinct(r.nextInt(m))
        val kept = base.filterNot(drop.contains)
        val adds = Array.fill(k)(freshWord())
        val out = mutable.ArrayBuffer.from(kept)
        adds.foreach(a => out.insert(r.nextInt(out.length + 1), a))
        members += texts.length
        texts += render(out.toArray)
        v += 1
      }
      clusters += members.toSeq
      clustered += members.length
    }
    while (texts.length < nDocs) texts += render(baseDoc())

    // shuffled ids so cluster members are spread over files and partitions
    val ids = Array.tabulate(texts.length)(_.toLong)
    var i = ids.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val docs = Array.tabulate(texts.length)(k => (ids(k), texts(k)))

    val truth = mutable.HashMap.empty[(Long, Long), Double]
    var planted = 0
    for (c <- clusters; a <- c.indices; b <- c.indices if a < b) {
      planted += 1
      val j = jaccard(tokenSet(texts(c(a))), tokenSet(texts(c(b))))
      if (j >= threshold) {
        val (x, y) = (ids(c(a)), ids(c(b)))
        truth((math.min(x, y), math.max(x, y))) = j
      }
    }
    Corpus(docs, truth.toMap, planted, clustered)
  }
}
