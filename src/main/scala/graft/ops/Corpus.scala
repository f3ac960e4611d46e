package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.let

/**
 * Corpus-preparation operators a large-scale training-data pipeline needs
 * beyond near-dup detection: passage-level dedup (CCNet/Dolma-style),
 * Gopher-style repetition signals, benchmark decontamination, TF-IDF
 * keyword extraction, and context-length packing.
 *
 * Scale discipline shared by every operator here:
 *   - candidate/bucket keys are equi-join or hash-partition keys (AQE
 *     skew-split applies; no all-pairs, no driver materialization);
 *   - per-document signals are pure codegen'd column expressions — the
 *     plan is a map over the scan with zero exchanges;
 *   - global structure (packing offsets) reuses the two-phase parallel
 *     prefix from [[Cumulative]] — no single-partition window.
 */
object Corpus {

  /** Whitespace tokens, case preserved; empty strings filtered so an
    * empty/blank document yields [] (matching `regexp_extract_all(text,
    * '\S+')` in the oracle, where split-on-whitespace would yield [""]). */
  def wsTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  /** Lowercased whitespace tokens (the near-dup / decontamination key). */
  def wsTokensLower(text: Column): Column = wsTokens(lower(text))

  /** Fixed-width word segments: consecutive `segWords`-token chunks,
    * space-joined (the final chunk may be shorter). Pure column
    * expression over the token array bound once per row ([[let]]) —
    * segmentation never shuffles. */
  def segments(text: Column, segWords: Int): Column = let(wsTokens(text)) { toks =>
    when(size(toks) > 0,
      transform(sequence(lit(0), ((size(toks) - 1) / segWords).cast("int")),
        i => array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams (space-joined), [] when the document has fewer than
    * `n` tokens; the token array is bound once per row ([[let]]).
    * `sequence(0, size-n)` is guarded because Spark's sequence DESCENDS
    * when stop < start instead of returning []. */
  def wordNgrams(text: Column, n: Int): Column = let(wsTokensLower(text)) { toks =>
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /**
   * Corpus-wide passage-level exact dedup (the CCNet/Dolma shape): split
   * every document into `segWords`-token segments, keep only the FIRST
   * occurrence of each distinct segment corpus-wide (first = smallest
   * (id, segment-position)), and reassemble each document from its kept
   * segments in original order. Documents whose every segment already
   * appeared elsewhere vanish from the output.
   *
   * Plan shape: segmentation is a map over the scan (no shuffle); the
   * keep-first decision is ONE hash exchange partitioned by the segment
   * text (row_number per segment group — skewed hot segments split under
   * AQE because the duplicate copies are pure win-by-rank, any partition
   * order works); reassembly is ONE exchange partitioned by id
   * (collect_list + array_sort on (seg_idx, seg) structs). Each
   * segment's bytes cross an exchange at most twice — linear in corpus
   * size at any scale.
   */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10): DataFrame = {
    require(segWords > 0, s"segWords must be positive: $segWords")
    val segs = df
      .select(col(idCol), posexplode(segments(col(textCol), segWords)))
      .withColumnRenamed("pos", "__seg_idx__")
      .withColumnRenamed("col", "__seg__")
    val w = Window.partitionBy(col("__seg__"))
      .orderBy(col(idCol).asc, col("__seg_idx__").asc)
    segs.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__seg_idx__"), col("__seg__")))),
            s => s.getField("__seg__")),
          " ").as("text_dedup"))
  }

  /**
   * Exact duplicated-SPAN removal at arbitrary offsets — the
   * ExactSubstr modality of Lee et al. 2022 ("Deduplicating Training
   * Data Makes Language Models Better"), re-expressed for a shared-
   * nothing engine. Their single-node suffix array finds byte-level
   * duplicated substrings ≥ 50 chars; here the unit is the token-aligned
   * sliding `spanTokens`-gram: a token is removed iff it is covered by
   * some spanTokens-gram whose exact text occurs elsewhere in the corpus
   * EARLIER in (id, offset) order — keep-first, remove later copies.
   * Any duplicated run of ≥ spanTokens tokens is covered by its own
   * sliding grams, so long plagiarized spans are scrubbed end-to-end
   * while short accidental n-gram overlaps (< spanTokens) survive.
   *
   * Plan shape, engineered so gram TEXT never crosses an exchange:
   *   1. map-side: tokenize, build sliding grams, fold each to a 60-bit
   *      md5 key — occurrence rows are (id, start, hash60), 24 bytes;
   *   2. ONE hash exchange on hash60: row_number per gram group in
   *      (id, start) order; rank > 1 ⇒ that occurrence is a duplicate;
   *   3. ONE exchange on id: tokens left-join duplicate starts at their
   *      offset, then `max(start + L) over (order by pos)` — a running
   *      max per document — marks covered positions; interval merging
   *      collapses into the window, no per-span explode (a naive
   *      covered-position explode would blow rows up L×);
   *   4. reassembly is the segmentDedup collect_list + array_sort shape.
   * A 60-bit collision can only REMOVE a non-duplicated span (never keep
   * a duplicate); at 10^12 grams the expected collisions are ~0.4 — and
   * the DuckDB oracle computes the identical fold, so the gate pins the
   * exact semantics.
   *
   * Returns (id, n_tokens, n_removed, text_dedup); fully-covered
   * documents come back with empty text_dedup, blank documents pass
   * through untouched.
   */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens > 1, s"spanTokens must be > 1: $spanTokens")
    val L = spanTokens
    val toks = "__toks__"
    val base = df.select(col(idCol), wsTokens(col(textCol)).as(toks))
    val grams = base
      .select(col(idCol),
        explode(when(size(col(toks)) >= L,
          transform(sequence(lit(0), size(col(toks)) - L),
            i => struct(i.as("start"),
              conv(substring(md5(array_join(slice(col(toks), i + 1, lit(L)), " ")),
                1, 15), 16, 10).cast("long").as("h"))))
          .otherwise(array().cast("array<struct<start:int,h:bigint>>"))).as("g"))
      .select(col(idCol), col("g.start").as("__start__"), col("g.h").as("__h__"))
    val byGram = Window.partitionBy(col("__h__"))
      .orderBy(col(idCol).asc, col("__start__").asc)
    val dupStarts = grams
      .withColumn("__rn__", row_number().over(byGram))
      .filter(col("__rn__") > 1)
      .select(col(idCol), col("__start__"))
    val tokens = base.select(col(idCol), posexplode(col(toks)))
      .withColumnRenamed("pos", "__pos__").withColumnRenamed("col", "__tok__")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("__pos__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // (id, start) is unique per occurrence, so the left join marks each
    // token position that begins a duplicated span with __dup__ = 1
    val marked = tokens.join(
      dupStarts.select(col(idCol), col("__start__").as("__pos__"),
        lit(1).as("__dup__")),
      Seq(idCol, "__pos__"), "left_outer")
      .withColumn("__cover_end__",
        max(when(col("__dup__") === 1, col("__pos__") + L)).over(byPos))
      .withColumn("__covered__",
        col("__cover_end__").isNotNull && col("__pos__") < col("__cover_end__"))
    val rebuilt = marked.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("__covered__"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("__covered__"),
              struct(col("__pos__"), col("__tok__"))))),
            s => s.getField("__tok__")),
          " ").as("text_dedup"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /**
   * Gopher-style per-document repetition signals: duplicate-word
   * fraction, top-word fraction, duplicate-bigram fraction, top-bigram
   * fraction (Rae et al. 2021, "Scaling Language Models" §A1.1 quality
   * heuristics). Tokens are lowercased whitespace words.
   *
   * Entirely map-side and LINEARITHMIC per document: the top-element
   * count is the longest run in the sorted token array (one `aggregate`
   * pass over `array_sort`, O(n log n)), not a per-distinct rescan.
   * Token/bigram arrays are materialized as their own projections first:
   * each feeds several higher-order functions, and Catalyst shares no
   * subexpression across those. Embarrassingly parallel with ZERO exchanges,
   * which at corpus scale beats the explode + two-level aggregate
   * formulation that shuffles every token twice.
   */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // count of the most frequent element = longest equal-run in the
    // sorted array; one O(n) fold, each step O(1)
    def maxRunCount(arr: Column): Column = aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + lit(1))
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      _.getField("best"))
    def stats(arr: Column, prefix: String): Seq[Column] = {
      val total = size(arr)
      Seq(
        round(when(total > 0,
          lit(1.0) - size(array_distinct(arr)).cast("double") / total.cast("double"))
          .otherwise(lit(0.0)), 6).as(s"dup_${prefix}_frac"),
        round(when(total > 0, maxRunCount(arr).cast("double") / total.cast("double"))
          .otherwise(lit(0.0)), 6).as(s"top_${prefix}_frac"))
    }
    val toks = col("__toks__")
    // adjacent-pair bigrams via two slices zipped — O(n), no per-index
    // element_at against the token array
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), wsTokensLower(col(textCol)).as("__toks__"))
      .select(col(idCol), toks, bigrams.as("__bi__"))
      .select(col(idCol) +:
        (stats(toks, "word") ++ stats(col("__bi__"), "bigram")): _*)
  }

  /**
   * Benchmark decontamination: flag corpus documents sharing at least
   * one word `n`-gram with any benchmark document (the train/test
   * overlap check every LLM data pipeline runs before training).
   *
   * The benchmark side is collapsed to its DISTINCT n-gram set and
   * broadcast — benchmarks are small by construction (thousands of
   * documents), so the corpus side streams map-only through a broadcast
   * hash join: no corpus shuffle at all until the tiny per-hit
   * aggregation on (id, n_grams). Corpus n-grams are de-duplicated
   * per-document BEFORE the join, so overlap counts distinct
   * contaminated n-grams.
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(array_distinct(wordNgrams(col(textCol), n))).as("__g__"))
      .distinct()
    val corpusGrams = corpus
      .select(col(idCol),
        array_distinct(wordNgrams(col(textCol), n)).as("__gs__"))
      .select(col(idCol), size(col("__gs__")).as("n_grams"),
        explode(col("__gs__")).as("__g__"))
    corpusGrams
      .join(broadcast(benchGrams), Seq("__g__"))
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(idCol), col("n_hits"), col("n_grams"),
        round(col("n_hits").cast("double") / col("n_grams").cast("double"), 6)
          .as("hit_frac"))
  }

  /**
   * [[decontaminate]] for benchmark sets too large to broadcast as a
   * hash relation (a full eval-suite union can reach 10^8–10^9 distinct
   * n-grams — tens of GB as a broadcast join table, but ~1.2 GB as a
   * 1%-fpp Bloom filter). Two-phase:
   *
   *   1. PRUNE map-side through a broadcast Bloom filter built over the
   *      benchmark gram set (`df.stat.bloomFilter` — a distributed
   *      `BloomFilterAggregate`, driver holds only the finished bitmap).
   *      The corpus stream drops every gram the filter rejects — by the
   *      Bloom contract that is never a true hit, so pruning cannot
   *      change the answer.
   *   2. VERIFY the survivors (true hits + ~fpp false positives) with an
   *      exact SHUFFLE equi-join against the gram set. Deliberately not
   *      broadcast: this path exists precisely because the gram set
   *      doesn't fit a hash relation, and the shuffle now carries only
   *      the pruned sliver of the corpus.
   *
   * Result is bit-identical to [[decontaminate]] (same oracle applies).
   * `mightContain` is a Scala UDF over the broadcast sketch — one cheap
   * bitmap probe per gram; the heavy lifting (tokenize, n-gram, dedup)
   * stays codegen'd around it.
   */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5, fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    // materialized: read twice, by the bloom build and the verify join
    val benchGrams = materialize(benchmark
      .select(explode(array_distinct(wordNgrams(col(textCol), n))).as("__g__"))
      .distinct(), "decontaminate", eager = false)
    val nGrams = math.max(benchGrams.count(), 1L)
    val bloom = benchGrams.stat.bloomFilter("__g__", nGrams, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => g != null && bloomBc.value.mightContain(g))
    val corpusGrams = corpus
      .select(col(idCol),
        array_distinct(wordNgrams(col(textCol), n)).as("__gs__"))
      .select(col(idCol), size(col("__gs__")).as("n_grams"),
        explode(col("__gs__")).as("__g__"))
      .filter(mightContain(col("__g__")))
    corpusGrams
      .hint("shuffle_hash") // id+gram sliver vs gram set — never broadcast
      .join(benchGrams, Seq("__g__"))
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(idCol), col("n_hits"), col("n_grams"),
        round(col("n_hits").cast("double") / col("n_grams").cast("double"), 6)
          .as("hit_frac"))
  }

  /**
   * Per-document top-k keywords by smoothed TF-IDF
   * (idf = ln((1+N)/(1+df)) + 1, the sklearn smooth_idf variant).
   * Terms are `\w+` word tokens, lowercased.
   *
   * Plan: token explode → (doc, term) count (ONE exchange, partial
   * aggregation map-side) → document frequency from that same table
   * (second small exchange on term) → joined back on term (shuffle
   * join — the term table is NOT broadcast because vocabulary grows
   * with corpus size) → per-document top-k window (partitioned by doc).
   * N rides along as a 1-row broadcast cross join, never a driver
   * round-trip inside the plan.
   */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val terms = df.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)), lit("\\w+"), lit(0))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("__n__"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (log((lit(1) + col("__n__")) / (lit(1) + col("df"))) + lit(1.0)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), round(col("score"), 6).as("score"))
  }

  /**
   * Context-length packing: concatenate documents in `orderCol` order
   * and assign each to the fixed-`budget`-token chunk where it STARTS
   * (greedy sequential fill, splitting disallowed, overflow allowed —
   * the deterministic packing used when sequence order must be
   * reproducible). Returns per-chunk stats.
   *
   * The running token offset is [[Cumulative.globalRunning]]'s two-phase
   * parallel prefix — per-partition windows plus a broadcast of
   * partition totals — so there is no single-partition sort at any
   * scale; the chunk aggregation is one hash exchange on chunk_id.
   */
  def packChunks(df: DataFrame, orderCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val withTok = df.select(col(orderCol),
      size(wsTokens(col(textCol))).cast("long").as("__tok__"))
    val running = Cumulative.globalRunning(
      withTok, Seq(graft.api.SortKey.asc(orderCol)), "sum", Seq(("__tok__", "__cum__")))
    running
      .withColumn("chunk_id", ((col("__cum__") - col("__tok__")) / budget).cast("long"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok__")).as("n_tokens"),
        min(col(orderCol)).as("first_doc"),
        max(col(orderCol)).as("last_doc"))
  }

  /**
   * Gopher/C4 heuristic quality flags (Rae et al. 2021 §A.1.1; Raffel
   * et al. 2020 C4) — the standard pre-training text filters, each a
   * pure codegen'd expression over the scan (zero shuffles, composes
   * with any pipeline stage):
   *
   *   - alpha_word_ratio: fraction of whitespace words containing at
   *     least one ASCII letter (Gopher keeps ≥ 0.8);
   *   - mean_word_len: mean whitespace-word length (Gopher keeps 3–10);
   *   - bullet_line_ratio / ellipsis_line_ratio: fraction of lines
   *     starting with a bullet / ending with an ellipsis (Gopher drops
   *     > 0.9 bullets, > 0.3 ellipses);
   *   - has_lorem / has_brace: C4's boilerplate ("lorem ipsum") and
   *     code ("{") markers.
   *
   * `keep` applies the conjunction at the cited thresholds. ASCII-only
   * regex classes so the DuckDB oracle computes identical flags.
   */
  def qualityFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token/line arrays ONCE (the repetitionStats rule:
    // HOFs disable subexpression elimination, so each lambda reference
    // to an unmaterialized split re-tokenizes the text — a constant
    // ~3x per row here, pure waste on the corpus hot path)
    val (wArr, lArr) = ("__words__", "__lines__")
    val base = df.select(col(idCol), col(textCol),
      wsTokens(col(textCol)).as(wArr), split(col(textCol), "\n").as(lArr))
    val words = col(wArr)
    val lines = col(lArr)
    val nWords = greatest(size(words), lit(1)).cast("double")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val alphaRatio =
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWords
    val bulletRatio =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") / nLines
    val ellipsisRatio =
      size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$"))).cast("double") / nLines
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    val hasBrace = col(textCol).contains("{")
    base.select(col(idCol),
      alphaRatio.as("alpha_word_ratio"),
      meanLen.as("mean_word_len"),
      bulletRatio.as("bullet_line_ratio"),
      ellipsisRatio.as("ellipsis_line_ratio"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"))
      .withColumn("keep",
        col("alpha_word_ratio") >= 0.8 &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("bullet_line_ratio") <= 0.9 &&
          col("ellipsis_line_ratio") <= 0.3 &&
          !col("has_lorem") && !col("has_brace"))
  }

  /**
   * Corpus data card: the per-(domain, language) release-statistics
   * table every dataset ships with — document and token counts, length
   * distribution (mean + exact median tokens), Gopher/C4 quality-keep
   * rate, and exact-duplicate rate (1 − distinct fingerprints / docs).
   *
   * One pass over the text computes tokens + quality flags + fingerprint
   * as codegen'd expressions (zero pre-aggregation exchanges), then a
   * single hash aggregate on the (domain, lang) key — the group count is
   * catalog-sized, so the result broadcasts anywhere downstream. The
   * exact median rides percentile() inside the same aggregate.
   */
  def corpusReport(df: DataFrame, domainCol: String, langCol: String,
      idCol: String, textCol: String): DataFrame = {
    val flags = qualityFlags(df, idCol, textCol)
      .select(col(idCol), col("keep"))
    val base = df.select(col(domainCol), col(langCol), col(idCol),
      size(wsTokens(col(textCol))).cast("long").as("__tok__"),
      graft.functions.Text.fingerprint(col(textCol)).as("__fp__"))
    base.join(flags, Seq(idCol))
      .groupBy(col(domainCol), col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok__")).as("n_tokens"),
        round(avg(col("__tok__")), 4).as("mean_tokens"),
        percentile(col("__tok__"), lit(0.5)).as("median_tokens"),
        round(avg(when(col("keep"), 1.0).otherwise(0.0)), 6).as("keep_rate"),
        round(lit(1.0) - countDistinct(col("__fp__")).cast("double") /
          count(lit(1)), 6).as("dup_rate"))
  }

  /**
   * Temperature-flattened domain mixture sampling (the multinomial
   * α-sampling of XLM-R / mT5 / GPT-3 data mixing): given documents
   * tagged with a domain column, downsample each domain deterministically
   * so the kept mixture follows q_d ∝ p_d^α — α < 1 flattens the natural
   * distribution toward rare domains without upsampling. Rates solve
   * m_d = c·q_d with m_d ≤ n_d and c maximal, i.e. rate_d =
   * q_d/n_d · min_d'(n_d'/q_d'): at least one (rare) domain keeps rate
   * 1.0 and every other domain sheds rows to match the target shape.
   *
   * 100 TB shape: one partial-agg count shuffle over the domain key, a
   * two-window rate computation over the |domains|-row aggregate (tiny
   * by construction — the unpartitioned window never sees row-scale
   * data), and a broadcast join back onto the corpus with a codegen'd
   * md5-threshold filter. The per-row keep decision is pure and
   * deterministic (salt + id), so re-runs and incremental reprocessing
   * agree. Null-domain rows are dropped (no domain, no rate) — filter
   * or fill upstream to keep them.
   */
  def temperatureMixture(df: DataFrame, srcCol: String, idCol: String,
      alpha: Double, salt: String): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    val all = Window.partitionBy()
    val counts = df.filter(col(srcCol).isNotNull)
      .groupBy(col(srcCol)).agg(count(lit(1)).cast("double").as("__n__"))
    val rates = counts
      .withColumn("__w__", pow(col("__n__") / sum("__n__").over(all), alpha))
      .withColumn("__q__", col("__w__") / sum("__w__").over(all))
      .withColumn("__rate__", least(lit(1.0),
        col("__q__") / col("__n__") * min(col("__n__") / col("__q__")).over(all)))
      .select(col(srcCol).as("__src__"), col("__rate__"))
    val keep = conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("double") < col("__rate__") * 4294967296.0
    df.join(broadcast(rates), col(srcCol) === col("__src__"))
      .filter(keep)
      .drop("__src__", "__rate__")
  }

  /**
   * Sliding-window document chunking — the context-window preparation
   * step that turns documents into fixed-size training chunks with
   * overlap (stride < chunkWords ⇒ consecutive chunks share
   * chunkWords − stride tokens, the standard long-document strategy).
   * Chunk starts are 0, stride, 2·stride … while < n_tokens; the last
   * chunk may run short, and empty documents yield no chunks.
   *
   * 100 TB shape: tokenize + explode is map-only (zero exchanges, one
   * generated stage over the scan); output rows carry (id, chunk_id,
   * chunk_text, n_tokens) so downstream packing/sharding can hash- or
   * range-partition on (id, chunk_id) without revisiting the text.
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int, strideWords: Int): DataFrame = {
    require(chunkWords > 0 && strideWords > 0 && strideWords <= chunkWords,
      s"need 0 < strideWords <= chunkWords: chunk=$chunkWords stride=$strideWords")
    val toks = "__toks__"
    val nStarts = ((size(col(toks)) + strideWords - 1) / strideWords).cast("int")
    // empty documents: sequence(0, -1) THROWS (illegal boundaries) rather
    // than returning [], so gate it behind a when — the null array makes
    // explode (not explode_outer) drop the row entirely
    val chunkSlice = slice(col(toks), col("chunk_id") * strideWords + 1, lit(chunkWords))
    df.select(col(idCol), wsTokens(col(textCol)).as(toks))
      .select(col(idCol), col(toks),
        explode(when(size(col(toks)) > 0,
          sequence(lit(0), nStarts - 1, lit(1)))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(chunkSlice, " ").as("chunk_text"),
        size(chunkSlice).as("n_tokens"))
  }

  /** (id, w1, w2) adjacent lowercase-token bigrams of each document —
    * shared by the LM trainer and scorer so both sides tokenize and pair
    * identically (and so does the DuckDB oracle). Docs with < 2 tokens
    * contribute nothing. */
  private def docBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = "__lm_t__"
    df.select(col(idCol), wsTokensLower(col(textCol)).as(t))
      .filter(size(col(t)) >= 2)
      .select(col(idCol), explode(arrays_zip(
        slice(col(t), lit(1), size(col(t)) - 1).as("w1"),
        slice(col(t), lit(2), size(col(t)) - 1).as("w2"))).as("__bi__"))
      .select(col(idCol), col("__bi__.w1").as("w1"), col("__bi__.w2").as("w2"))
  }

  /**
   * CCNet-style language-model quality scoring (Wenzek et al. 2020 score
   * documents by LM perplexity and filter/bucket on it; public method,
   * reference analog: the quality-scoring stage of every LLM data
   * pipeline). In-engine stand-in for the external KenLM: an add-k
   * smoothed BIGRAM model trained on `reference` scores each `docs` row
   * with its per-token perplexity exp(−Σ ln p(w2|w1) / n).
   *
   *   p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)     (w1 seen)
   *            = 1 / V                                (w1 unseen)
   *
   * 100 TB shape: training is two vocab-sized count shuffles; scoring is
   * one bigram-keyed hash join of the docs' bigrams against the model
   * (both sides partition on the bigram — no broadcast assumption, the
   * model grows with the reference corpus) plus a per-doc aggregate. The
   * vocabulary size V is the one scalar anchor (same pattern as the
   * declared scalar folds elsewhere). Docs with < 2 tokens get ppl null.
   *
   * Returns (idCol, n_bigrams, ppl).
   */
  def perplexity(docs: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, k: Double = 0.1): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val refBi = docBigrams(reference, idCol, textCol)
    val c12 = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c12__"))
    val c1 = refBi.groupBy(col("w1")).agg(count(lit(1)).as("__c1__"))
    val vocab = reference
      .select(explode(wsTokensLower(col(textCol))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0).toDouble
    val scored = docBigrams(docs, idCol, textCol)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .withColumn("__p__",
        when(col("__c1__").isNotNull,
          (coalesce(col("__c12__"), lit(0L)).cast("double") + k) /
            (col("__c1__").cast("double") + k * vocab))
          .otherwise(lit(1.0 / vocab)))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        exp(-sum(log(col("__p__"))) / count(lit(1))).as("ppl"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
   * every document's LM perplexity ([[perplexity]], self-trained here),
   * cut EACH LANGUAGE's perplexity distribution into head/middle/tail
   * terciles, and label every document — the quality-split stage CCNet
   * runs before choosing which thirds to keep per language.
   *
   * The tercile boundaries ride the quantized-histogram quantile
   * ([[Sketch.quantileQuantizedBy]]) on ppl rounded to 4 decimals: the
   * per-language aggregate state is a span-bounded histogram, never the
   * score column — at corpus scale the boundary computation costs one
   * bounded aggregate, and the labels are a broadcast join of the
   * |languages|×2 cut table back onto the scored stream (map-side, no
   * extra data-sized exchange beyond [[perplexity]]'s own). Rank math is
   * exact-integer (q = 1/3, 2/3 as true rationals), so the cut values —
   * and therefore every label — are bit-identical cross-engine; the only
   * carried caveat is q236's round(ppl,4) half-ulp class. Boundary
   * convention: r_ppl ≤ b1 → head, ≤ b2 → middle, else tail (documents
   * tied with a cut value land low, deterministically).
   */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, k: Double = 0.1): DataFrame = {
    val scored = docs.select(col(idCol), col(langCol))
      .join(perplexity(docs, docs, idCol, textCol, k), Seq(idCol))
      .withColumn("r_ppl", round(col("ppl"), 4))
    val cuts = Sketch.quantileQuantizedBy(scored, Seq(langCol), "r_ppl",
        Seq((1L, 3L), (2L, 3L)), 4)
      .groupBy(col(langCol))
      .agg(min(when(col("q_num") === 1L, col("value"))).as("__b1__"),
        max(when(col("q_num") === 2L, col("value"))).as("__b2__"))
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("bucket",
        when(col("r_ppl") <= col("__b1__"), "head")
          .when(col("r_ppl") <= col("__b2__"), "middle")
          .otherwise("tail"))
      .select(col(idCol), col(langCol), col("r_ppl"), col("bucket"))
  }

  /**
   * GPT-style concat-and-split sequence packing: the corpus token stream
   * (docs concatenated in `orderCol` order) is cut into consecutive
   * sequences of EXACTLY `seqLen` tokens, documents splitting across
   * sequence boundaries — the causal-LM data layout, where
   * [[packChunks]]'s greedy whole-doc fill is the no-split variant.
   * Returns the span table (seq_id, orderCol, start_in_seq, n_toks): one
   * row per (sequence, document) overlap — the exact recipe a writer
   * needs to emit fixed-length rows with document-boundary masks.
   *
   * 100 TB shape: per-doc token counts fold through the two-phase
   * parallel prefix ([[Cumulative.globalRunning]] — partition-count-sized
   * state only), then a pure map + bounded explode (a doc overlaps
   * ⌈n/seqLen⌉+1 sequences, so output rows ≤ docs + tokens/seqLen).
   * Offsets use integer `div` end to end — exact at any stream length,
   * where a double floor would lose token positions past 2^53.
   * Zero-token docs contribute no spans.
   */
  def packSequences(df: DataFrame, orderCol: String, textCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val withTok = df.select(col(orderCol),
      size(wsTokens(col(textCol))).cast("long").as("__tok__"))
      .filter(col("__tok__") > 0)
    val running = Cumulative.globalRunning(
      withTok, Seq(graft.api.SortKey.asc(orderCol)), "sum",
      Seq(("__tok__", "__cum__")))
    running
      .withColumn("__start__", col("__cum__") - col("__tok__"))
      .withColumn("seq_id", explode(sequence(
        expr(s"__start__ div $seqLen"),
        expr(s"(__start__ + __tok__ - 1) div $seqLen"))))
      .select(col("seq_id"), col(orderCol),
        greatest(col("__start__") - col("seq_id") * seqLen, lit(0L))
          .as("start_in_seq"),
        (least((col("seq_id") + 1) * seqLen, col("__start__") + col("__tok__"))
          - greatest(col("seq_id") * seqLen, col("__start__"))).as("n_toks"))
  }

  /**
   * Deterministic seeded shuffle + balanced sharding — the write-out step
   * of a training-data pipeline: training wants documents in a reproducible
   * random order, split into `numShards` equal shards (one per output file
   * / data-loader worker). The permutation is sort-by-md5(seed:id) — a
   * pure function of (seed, id), so re-running the pipeline on the same
   * corpus reproduces byte-identical shards regardless of cluster layout,
   * partition count, or input file order. Shard assignment is round-robin
   * over the permuted sequence: shard sizes differ by at most 1 BY
   * CONSTRUCTION (a hash-mod split is only balanced in expectation), and
   * token counts are equalized in expectation by the randomization.
   *
   * 100 TB shape: one range exchange on the md5 key ([[RowOrder]]'s
   * two-pass global position — per-partition counts are the only driver
   * state) and nothing else. The returned (shard_id, pos_in_shard) pair
   * is the write recipe: `.repartition(numShards, $"shard_id")` +
   * `.sortWithinPartitions("pos_in_shard")` streams each shard to its
   * file in permutation order.
   *
   * Ties are impossible (id is unique per row and appended as the sort
   * tiebreak), so the permutation is total and both engines agree on it.
   */
  def shuffleShard(docs: DataFrame, idCol: String, seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val keyed = docs.select(col(idCol))
      .withColumn("__sk__", md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
    val pos = RowOrder.withRowOrder(keyed,
      Seq(graft.api.SortKey.asc("__sk__"), graft.api.SortKey.asc(idCol)))
    pos.select(col(idCol),
      (col(graft.api.Frame.RowOrder) % numShards).as("shard_id"),
      // integer div, not a double floor — exact at any stream length
      expr(s"`${graft.api.Frame.RowOrder}` div $numShards").as("pos_in_shard"))
  }

  /**
   * UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151): given
   * per-document token counts tagged with a domain/language column, a
   * total token `budget`, and a per-domain repeat cap `maxEpochs`, split
   * the budget as uniformly as possible across domains without repeating
   * any domain more than `maxEpochs` times — the fairer alternative to
   * temperature sampling ([[temperatureMixture]]) that never starves
   * head domains to over-repeat tail ones.
   *
   * Water-filling in closed form: sort domains by capacity
   * cap_d = maxEpochs·n_d ascending; with P_i = Σ caps before row i and
   * m domains, the uniform level is u = max_i (budget − P_i)/(m − i + 1)
   * and alloc_d = min(cap_d, u) — exactly the paper's sequential
   * "allocate min(cap, remaining/left)" loop, but as two window passes
   * over the |domains|-row aggregate (tiny by construction; the
   * unpartitioned windows never see row-scale data). One count shuffle
   * over the domain key is the only data-sized exchange.
   *
   * Returns (domain, n_tokens, cap, alloc, epochs = alloc/n_tokens).
   */
  def unimaxAllocation(df: DataFrame, domainCol: String, tokensCol: String,
      budget: Long, maxEpochs: Double): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    val all = Window.partitionBy()
    val byCap = Window.orderBy(col("cap").asc, col(domainCol).asc)
    df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
      .withColumn("__p__",
        coalesce(sum(col("cap")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0.0)))
      .withColumn("__i__", row_number().over(byCap))
      .withColumn("__m__", count(lit(1)).over(all))
      .withColumn("__u__",
        max((lit(budget.toDouble) - col("__p__")) /
          (col("__m__") - col("__i__") + 1)).over(all))
      .select(col(domainCol), col("n_tokens"), col("cap"),
        least(col("cap"), col("__u__")).as("alloc"))
      // a domain whose docs are all zero-token has alloc = cap = 0; its
      // 0/0 must read as 0 epochs, not an ANSI DIVIDE_BY_ZERO abort
      .withColumn("epochs",
        when(col("n_tokens") > 0, col("alloc") / col("n_tokens")).otherwise(lit(0.0)))
  }

  /**
   * UniMax sampling: materialize the [[unimaxAllocation]] plan as actual
   * training rows. Each domain replays ⌊alloc/n_d⌋ full epochs (every doc,
   * with an `epoch` index), plus one deterministic partial epoch: docs in
   * md5(salt)-permuted order while their running token count fits the
   * allocation remainder (the straddling doc is included — budgets are
   * honored to document granularity, both engines agree on the rule).
   *
   * 100 TB shape: the allocation table is |domains| rows and broadcasts
   * back onto the corpus; full-epoch replication is a map-side
   * `array_repeat`+explode (zero exchanges); the partial-epoch running
   * sum is [[Cumulative.groupedRunning]] — the hot-key-proof two-phase
   * prefix, NOT a per-domain window, so one dominant domain (the usual
   * English-web case) cannot serialize onto one task.
   *
   * Returns (domain, id, n_tokens, epoch) with epoch 0-based; the partial
   * epoch is the last index.
   */
  def unimaxSample(df: DataFrame, domainCol: String, idCol: String,
      tokensCol: String, budget: Long, maxEpochs: Double,
      salt: String): DataFrame = {
    val alloc = unimaxAllocation(df, domainCol, tokensCol, budget, maxEpochs)
      // same zero-token-domain guard as the epochs column above
      .withColumn("__full__",
        when(col("n_tokens") > 0, floor(col("alloc") / col("n_tokens")))
          .otherwise(lit(0L)).cast("int"))
      .withColumn("__rem__", col("alloc") - col("__full__") * col("n_tokens"))
      .select(col(domainCol).as("__dom__"), col("__full__"), col("__rem__"))
    val tagged = df.filter(col(domainCol).isNotNull)
      .select(col(domainCol), col(idCol), col(tokensCol).cast("long").as("n_tokens"))
      .join(broadcast(alloc), col(domainCol) === col("__dom__"))
    val fullEpochs = tagged.filter(col("__full__") >= 1)
      .select(col(domainCol), col(idCol), col("n_tokens"),
        posexplode(array_repeat(lit(1), col("__full__"))))
      .select(col(domainCol), col(idCol), col("n_tokens"), col("pos").as("epoch"))
    val hashed = tagged
      .withColumn("__h__", md5(concat(lit(salt + ":"), col(idCol).cast("string"))))
    val partial = Cumulative.groupedRunning(
      hashed, Seq(domainCol),
      Seq(graft.api.SortKey.asc("__h__"), graft.api.SortKey.asc(idCol)),
      "sum", Seq(("n_tokens", "__cum__")))
      .filter(col("__cum__") - col("n_tokens") < col("__rem__"))
      .select(col(domainCol), col(idCol), col("n_tokens"), col("__full__").cast("int").as("epoch"))
    fullEpochs.unionByName(partial)
  }
}
