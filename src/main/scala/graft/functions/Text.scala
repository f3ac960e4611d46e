package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for large-scale training-data pipelines.
 *
 * All of these are pure Catalyst column expressions (no UDFs): they stay
 * inside whole-stage codegen and scale as embarrassingly-parallel maps over
 * a 100 TB `documents` table. (The reference has no text pipeline; this is
 * the capability-surplus layer specified alongside SURVEY §2.)
 *
 * The two exceptions are [[casefold]] and [[normalize]] — Unicode kernels
 * Spark has no expression for. They are deliberate tiny UDFs (the same
 * boundary the reference draws: per-element Python str.casefold /
 * unicodedata.normalize, base QC:6234-6644); still map-shaped and
 * partition-parallel, just outside codegen.
 */
object Text {

  /** pandas `str.casefold` — aggressive Unicode case folding. The
    * upper→lower round-trip through Locale.ROOT realizes the common
    * one-to-many folds (ß→ss, ﬁ→fi after NFKC, Turkish dotless İ) that
    * plain lower() misses; full UCS CaseFolding.txt needs ICU, which this
    * environment doesn't ship (documented deviation, COVERAGE.md). */
  private val casefoldUdf =
    udf((s: String) => if (s == null) null
      else s.toUpperCase(java.util.Locale.ROOT).toLowerCase(java.util.Locale.ROOT))
  def casefold(text: Column): Column = casefoldUdf(text)

  /** pandas `str.normalize(form)` — java.text.Normalizer (NFC/NFD/NFKC/
    * NFKD), the JDK twin of Python's unicodedata.normalize. */
  def normalize(text: Column, form: String): Column = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val u = udf((s: String) =>
      if (s == null) null else java.text.Normalizer.normalize(s, f))
    u(text)
  }

  /** pandas `str.wrap(width)` — textwrap-style greedy reflow: collapse
    * whitespace runs, then break at the last space within each `width`
    * window. Pure regex (identical pattern runs in RE2 for the oracle).
    * Documented deviations: words longer than `width` are not broken
    * mid-word (pandas break_long_words=True), and whitespace RUNS
    * collapse to one space where textwrap's replace_whitespace=True maps
    * each whitespace char to a space preserving the run length. */
  def wrap(text: Column, width: Int): Column = {
    require(width > 0, s"wrap: width must be positive: $width")
    regexp_replace(
      regexp_replace(
        trim(regexp_replace(text, "\\s+", " ")),
        s"(.{1,$width})( |$$)", "$1\n"),
      "\n$", "")
  }

  /** pandas `str.index(sub)` — the RAISING variant of `str.find`
    * (reference series_utils.py str.index → python str.index): same
    * 0-based first-occurrence position, but a MISSING substring raises
    * ValueError("substring not found") instead of returning −1. The
    * raise rides Spark's `raise_error` inside a lazily-evaluated CASE,
    * so the hit path stays a pure codegen'd instr and the error fires
    * exactly on the first miss, matching python's per-element raise.
    * Nulls propagate (pandas: NaN in, NaN out). */
  def strIndex(text: Column, sub: String): Column = {
    val pos = (instr(text, sub) - 1).cast("long")
    when(text.isNull, lit(null).cast("long"))
      .when(pos >= 0, pos)
      .otherwise(raise_error(lit("substring not found")).cast("long"))
  }

  /** pandas `str.rindex(sub)` — raising variant of `str.rfind`: 0-based
    * LAST-occurrence position via the reversed-locate identity (the same
    * identity q238's rfind uses), raising on a miss like [[strIndex]].
    * Spark's `reverse`/`length`/`locate` operate on CODE POINTS, so the
    * needle is reversed with the surrogate-pair-aware StringBuilder
    * reverse (Scala's StringOps.reverse flips UTF-16 units and corrupts
    * non-BMP characters) and the offset uses codePointCount, keeping the
    * position math in code points on both sides. */
  def strRindex(text: Column, sub: String): Column = {
    val rp = locate(new java.lang.StringBuilder(sub).reverse.toString, reverse(text))
    val pos = (length(text) - rp - lit(sub.codePointCount(0, sub.length)) + 1).cast("long")
    when(text.isNull, lit(null).cast("long"))
      .when(rp > 0, pos)
      .otherwise(raise_error(lit("substring not found")).cast("long"))
  }

  /** Whitespace token count. `\S+` extraction, not split: splitting an
    * empty/whitespace-only string yields [""] (count 1) while the DuckDB
    * oracle's regexp_extract_all counts 0 — extraction agrees. */
  def tokenCountWs(text: Column): Column =
    size(regexp_extract_all(trim(text), lit("\\S+"), lit(0)))

  /** Word-regex token count (a BPE-ish `\w+` pre-tokenizer count). */
  def tokenCountWords(text: Column): Column = size(regexp_extract_all(text, lit("\\w+"), lit(0)))

  /** GPT-2-style pre-tokenizer count: English contractions, letter runs,
    * digit runs, and punctuation runs, each optionally space-prefixed —
    * the standard BPE token-count estimator (ASCII classes, so the regex
    * means the same thing in Java and RE2). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'[std]|'re|'ve|'ll|'m| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"), lit(0)))

  /** Whitespace word tokens, empties filtered: split("") yields [""] and
    * a leading tab/newline yields a leading "" (Spark trim strips only
    * 0x20) — phantom tokens that would add a spurious simhash vote and a
    * bogus leading shingle. */
  def wordTokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => t =!= "")

  // PII scrubbing (corpus-prep stage: mask contact data before training).
  // ASCII-only character classes and non-capturing groups so the patterns
  // mean the same thing in Java regex and RE2 (the DuckDB oracle).
  // Replacement order matters: emails first (their local part can look
  // like a phone), then IPv4 (dotted digit runs would otherwise match the
  // phone pattern), then phones over what remains.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private[graft] val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Mask emails / IPv4 addresses / phone-like digit runs with typed
    * placeholder tokens. A pure codegen'd regexp_replace chain — linear
    * scan, zero shuffles, so it composes into any corpus pipeline stage. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII hit counts (audit view of [[scrubPii]]). */
  def piiCounts(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))),
    size(regexp_extract_all(regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>"), lit(PhoneRe), lit(0))))

  /** Average token length; null for token-free text (0/0 would throw
    * under ANSI — same guard family as punctRatio). */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCountWs(text)
    when(n > 0, length(regexp_replace(text, "\\s+", "")).cast("double") / n)
  }

  /** Punctuation ratio — explicit char class (identical regex meaning in
    * Java regex and RE2, so the DuckDB oracle computes the same thing). */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Stopword-hit count for a language's stopword set (word-boundary regex). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit("\\b(" + stopwords.mkString("|") + ")\\b"), lit(0)))

  /** Tiny per-language stopword sets for the n-gram/stopword language-ID
    * heuristic. Deterministic, dependency-free. */
  val stopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "pas", "pour"))

  /** Language-ID: argmax over stopword-hit scores, 'und' when all zero.
    * Deterministic tie-break = first language in [[stopwordSets]] order. */
  def languageId(text: Column): Column = {
    val scores = stopwordSets.map { case (lang, words) => lang -> stopwordHits(text, words) }
    val best = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation excess. A deterministic stand-in for a model-based filter. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stopwordHits(text, stopwordSets.flatMap(_._2)).cast("double") / lit(10.0), lit(1.0))
    round((lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - punctRatio(text)) * 0.2), 6)
  }

  /** Canonicalizing document fingerprint: lower-case, collapse non-word
    * runs, md5. Identical duplicates after formatting noise collapse to one
    * fingerprint — the exact-dedup key. The class is UNICODE-aware
    * ([^\p{L}\p{N}_], same meaning in Java regex and RE2): ASCII \W
    * deletes every non-Latin letter, collapsing all pure-CJK/Cyrillic
    * documents onto ONE fingerprint (identical on ASCII corpora). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}_]+", " ")))

  /** Word n-gram shingles (arrays of n consecutive tokens joined by a
    * space). Pure expression: transform over an index sequence, with the
    * token array bound once per row ([[let]]). */
  def shingles(text: Column, n: Int): Column = let(wordTokens(text)) { w =>
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n), i =>
        concat_ws(" ", (0 until n).map(j => get(w, i + lit(j))): _*)))
      .otherwise(array(concat_ws(" ", w)))
  }

  /** MinHash signature over a shingle array: `numHashes` independent hash
    * functions (xxhash64 salted by the hash index), each contributing its
    * minimum — all inside codegen, no UDF. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    array((0 until numHashes).map { k =>
      array_min(transform(array_distinct(shingleArr), s => xxhash64(s, lit(k))))
    }: _*)

  /** 64-bit SimHash from a token array: per-bit vote of each token's
    * xxhash64, sign-summed, packed back into a long. Pure expressions. */
  def simhash(tokens: Column): Column = {
    def shr(x: Column, bits: Column): Column = call_function("shiftright", x, bits)
    def shl(x: Column, bits: Column): Column = call_function("shiftleft", x, bits)
    val votes = aggregate(
      tokens,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        transform(acc, (v, b) =>
          v + when(shr(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, b) =>
        when(v > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two simhashes (near-dup distance). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** ENGINE-PORTABLE 64-bit SimHash as a 64-element 0/1 int array: the
    * per-token hash is the first 16 hex chars of md5 (DuckDB computes
    * identical digests, unlike xxhash64), bit j (MSB-first within each
    * nibble) votes ±1, sign of the vote sum is the bit. One fold over the
    * token hashes carries all 64 running sums as an array accumulator —
    * no 64-pass rescan. Ties (sum == 0) vote 0, same rule both engines. */
  def simhashBitsMd5(tokens: Column): Column = {
    // nibble-value × bit-position lookup: entry(n*4 + m) = ±1 vote of bit
    // m (MSB-first) of nibble n — keeps the hex→bit step a constant-time
    // element_at instead of a per-bit shift tree
    val lut = typedLit((0 until 16).flatMap(n =>
      (0 until 4).map(m => ((n >> (3 - m)) & 1) * 2 - 1)))
    def voteVec(h: Column): Column =
      transform(sequence(lit(0), lit(63)), j => {
        val nib = conv(h.substr(shiftright(j, 2) + 1, lit(1)), 16, 10).cast("int")
        element_at(lut, nib * 4 + j.bitwiseAND(lit(3)) + 1)
      })
    val sums = aggregate(
      transform(tokens, t => md5(t)),
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, voteVec(h), (a, x) => a + x))
    transform(sums, s => when(s > 0, lit(1)).otherwise(lit(0)))
  }

  /** Character k-gram hashes for [[winnowFromHashes]]: canonicalize →
    * k-grams → portable hash (md5 hex, a uniform total order both engines
    * compute identically). The canonical string is bound once per row
    * ([[let]]), so the map is O(n·k). */
  def kgramHashes(text: Column, k: Int): Column =
    // unicode-aware class — see fingerprint
    let(trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}_]+", " "))) { t =>
      val nGrams = greatest(length(t) - (k - 1), lit(1))
      transform(sequence(lit(1), nGrams), i => md5(t.substr(i, lit(k))))
    }

  /** Winnowing document fingerprints (the MOSS rolling-hash scheme) from
    * a k-gram hash array: minimum per sliding window of `w` consecutive
    * hashes → sorted distinct set. Guarantees: any match of length ≥
    * k+w-1 shares a fingerprint; nothing shorter than k ever does. The
    * hash array is bound once per row ([[let]]), so `hs` may be an
    * unmaterialized expression such as [[kgramHashes]]; O(n·w) map per
    * document, no shuffle. */
  def winnowFromHashes(hs: Column, w: Int): Column = let(hs) { h =>
    val m = size(h) - (w - 1)
    val mins = when(m >= 1,
      transform(sequence(lit(1), m), j => array_min(slice(h, j, lit(w)))))
      .otherwise(array(array_min(h)))
    array_sort(array_distinct(mins))
  }
}
