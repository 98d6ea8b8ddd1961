package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data-pipeline surface:
  * tokenization, quality signals, language ID, SimHash, word n-grams
  * and rolling-hash fingerprints — all as pure Column expressions
  * (higher-order functions + built-ins), so every one of them stays inside
  * whole-stage codegen and distributes trivially: no UDFs, no driver-side
  * loops, each document processed independently at scan time.
  */
object TextFunctions {

  /** Whitespace tokenization, lowercased, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: split at letter/digit ↔ punctuation boundaries —
    * a deterministic stand-in for a real tokenizer's token count, same
    * columnar shape a Spark-side BPE would have.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "(?=[^a-z0-9 ])|(?<=[^a-z0-9 ])|\\s+"),
      t => length(trim(t)) > 0))

  /** Punctuation character ratio (0 when empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.!?,;:]", ""))
    when(length(text) === 0, 0.0).otherwise(punct.cast("double") / length(text))
  }

  private[graft] val stopwords = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it", "for", "on")

  /** Stopword hits among tokens — classic quality / fluency signal. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  /** Marker-word profiles for a tiny language-ID heuristic. Real pipelines
    * use fastText/CLD3; the Spark-side shape — score per language as a
    * column, argmax via greatest + case — is identical.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"))

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(tokens(text), t => t.isInCollection(markers)))
    }

  /** Predicted language = argmax marker-hit count (first wins on ties),
    * 'und' when all zero.
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** ±1 per bit of a 64-bit hash value (bit 0 first). The shift amounts are
    * Scala-level constants, so each lane is a plain literal-mask test.
    */
  private def bitSigns(h: Column): Column =
    array((0 until 64).map { i =>
      when(h.bitwiseAND(lit(1L << i)) =!= 0, lit(1L)).otherwise(lit(-1L))
    }: _*)

  /** 64-bit SimHash over token hashes: per bit, sum +1/-1 across tokens,
    * sign → bit; bits folded as two 32-bit halves recombined with shift/or
    * (bitwise ops, so ANSI overflow checking never fires). Pure column
    * expressions end to end.
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val signs = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitSigns(h), (a, b) => a + b))
    val bits = transform(signs, c => when(c > 0, lit(1L)).otherwise(lit(0L)))
    def fold32(half: Column): Column =
      aggregate(half, lit(0L), (acc, b) => acc * 2 + b)
    val hi = fold32(slice(bits, 1, 32))
    val lo = fold32(slice(bits, 33, 32))
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Base-31 fold over the CODE POINTS of `s`, modulo 1e9+7 — the shared
    * kernel of [[rollingFingerprint]] and [[portableSimhash32]]'s token
    * hash. The walk decodes via UTF-16BE bytes (`encode` supports no
    * UTF-32) and recombines surrogate pairs in the fold, so a
    * supplementary-plane character (emoji, rare CJK) contributes ONE
    * code point — exactly what the DuckDB oracle's
    * `string_split(s,'') → unicode(c)` walk yields — instead of two
    * surrogate halves (the pre-r12 BMP-only divergence). Unpaired
    * surrogates can't occur: parquet strings are valid UTF-8, and the
    * JVM encoder replaces any stray half with '?'. Pure built-ins
    * (encode/substr/conv/hex), stays inside whole-stage codegen; the
    * accumulator remains < 2^30 so ANSI arithmetic can't overflow.
    */
  private[functions] def codepointFold(s: Column): Column = {
    val mod = lit(1000000007L)
    val b = encode(s, "UTF-16BE")
    def unit(pos: Column): Column =
      conv(hex(b.substr(pos, lit(2))), 16, 10).cast("long")
    val folded = aggregate(
      sequence(lit(1), (octet_length(b) / 2).cast("int")),
      lit(0L),
      (acc, i) => {
        val u = unit(i * 2 - 1)
        val cp = lit(0x10000L) +
          shiftleft(u - lit(0xD800L), 10) + (unit(i * 2 + 1) - lit(0xDC00L))
        when(u >= lit(0xDC00L) && u <= lit(0xDFFFL), acc) // low half: consumed above
          .when(u >= lit(0xD800L) && u <= lit(0xDBFFL), (acc * 31 + cp) % mod)
          .otherwise((acc * 31 + u) % mod)
      })
    when(length(s) === 0, lit(0L)).otherwise(folded)
  }

  /** Polynomial rolling-hash fingerprint over the document's code
    * points: base-31 fold modulo 1e9+7, keeping the accumulator < 2^30
    * so `acc*31 + cp` never overflows a long — deterministic under ANSI
    * mode, and portable beyond the BMP ([[codepointFold]]). The classic
    * document fingerprint for exact/near-exact duplicate detection.
    */
  def rollingFingerprint(text: Column): Column = codepointFold(text)

  /** Per-lane multipliers for [[portableSimhash32]] — the ONE source of
    * truth shared with the DuckDB oracle (SparkEntry interpolates these
    * into the replay SQL), so both engines run literally the same
    * arithmetic. Knuth multiplicative constant spread over the lanes,
    * reduced mod 1e9+7 so `h * lane` stays < 2^63 (ANSI-safe).
    */
  private[graft] val simhashLanes: Seq[Long] =
    (1 to 32).map(j => Math.floorMod(2654435761L * j, 1000000007L))

  /** Portable 32-bit SimHash over base-31 token hashes — unlike
    * [[simhash64]] (xxhash64-based, engine-specific values), every step
    * is plain integer arithmetic mod 1e9+7 that any engine reproduces
    * bit-for-bit: token hash = the [[rollingFingerprint]] fold over the
    * token's chars; lane j votes +1 when (h·lane_j) mod M lands in the
    * top half; sign → bit, bits folded MSB-first. This is what makes
    * the q35 fingerprint panel hash-checkable against DuckDB rather
    * than rows-only.
    *
    * The per-token fold is [[codepointFold]] — CODE POINTS, not UTF-16
    * code units — so supplementary-plane characters (emoji, rare CJK)
    * hash identically to the oracle's `string_split(..., '')` +
    * `unicode()` walk. (Pre-r12 this was BMP-only: Spark's
    * `split(t, "") + ascii` walks code units and splits an astral char
    * into surrogate halves.)
    */
  def portableSimhash32(text: Column): Column = {
    val mod = lit(1000000007L)
    val hashes = transform(tokens(text), t => codepointFold(t))
    val laneSigns = (h: Column) => array(simhashLanes.map { p =>
      when((h * lit(p)) % mod >= lit(500000004L), lit(1L)).otherwise(lit(-1L))
    }: _*)
    val signs = aggregate(
      hashes,
      array_repeat(lit(0L), 32),
      (acc, h) => zip_with(acc, laneSigns(h), (a, b) => a + b))
    val bits = transform(signs, c => when(c > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, b) => acc * 2 + b)
  }

  /** Word n-grams (space-joined) for n-gram Jaccard similarity. */
  def wordNgrams(text: Column, n: Int = 3): Column = {
    val ts = tokens(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(ts) - n, lit(0))),
      i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
  }

  /** Jaccard similarity between two string-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, 0.0).otherwise(inter / uni)
  }
}
