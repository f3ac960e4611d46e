package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed byte-pair-encoding tokenizer training and application —
 * the vocabulary-building step of an LLM data pipeline (Sennrich et al.
 * 2016's algorithm, re-expressed over Spark aggregates).
 *
 * Scale design: everything iterates over the DISTINCT-WORD table, not
 * the corpus. A 100 TB corpus collapses to a vocabulary of 10^7–10^8
 * (word, freq) rows in ONE corpus-sized shuffle; each merge round is
 * then an aggregate + a map over that small table. Per round:
 *
 *   - pair counts: explode adjacent symbol pairs weighted by word
 *     frequency → groupBy(pair).sum — a vocabulary-sized exchange;
 *   - argmax: orderBy(count desc, pair asc).limit(1) — TakeOrdered, a
 *     driver merge of one candidate per partition (ties break
 *     lexicographically, making training fully deterministic);
 *   - merge: a codegen'd `aggregate` left fold over each word's symbol
 *     array — left-to-right non-overlapping replacement, exactly the
 *     reference algorithm's scan order;
 *   - the merged table is materialized each round ([[iterate]]) —
 *     without it the plan nests one `aggregate` per merge and codegen
 *     collapses around round ~40.
 *
 * The driver holds only the merge table itself (numMerges rows) — the
 * word table never leaves the cluster.
 */
object Bpe {

  /** One learned merge: `left + right` become one symbol at `rank`. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Single-character symbols of a word (regexp per-char match — `split`
    * on the empty pattern has trailing-empty edge cases across engines). */
  private def charSyms(w: Column): Column =
    regexp_extract_all(w, lit("."), lit(0))

  /** Adjacent (left, right) symbol pairs via two slices zipped — O(n)
    * with no per-index array probes. Words of one symbol yield []. */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      zip_with(slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("l"), b.as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** Left-to-right non-overlapping merge of the adjacent pair (l, r)
    * inside one symbol array, as a codegen'd fold: append each symbol,
    * except when the accumulator ends with `l` and the symbol is `r` —
    * then replace the tail with the merged symbol. `get` (not
    * `element_at`) reads the tail: it returns null on the empty
    * accumulator instead of raising under ANSI mode, and null === l is
    * false-y, so the first symbol always appends. */
  private[graft] def mergeAdjacent(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(get(acc, size(acc) - 1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** The distinct-word frequency table of a corpus: lowercased
    * whitespace tokens → (syms, freq). ONE corpus-sized shuffle; all
    * training iterations run over this result. */
  def wordFreqTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Corpus.wsTokensLower(col(textCol))).as("__w__"))
      .groupBy(col("__w__")).agg(count(lit(1)).as("freq"))
      .select(charSyms(col("__w__")).as("syms"), col("freq"))

  /** Weighted adjacent-pair counts of a word table — the quantity each
    * BPE round takes the argmax of, exposed for oracle checking. */
  def pairCounts(words: DataFrame): DataFrame =
    words.select(explode(adjacentPairs(col("syms"))).as("p"), col("freq"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Longest prefix of the sorted candidate rows that is PROVABLY the
    * next run of greedy merges without recounting between them.
    *
    * Greedy equivalence argument (each accepted pair pᵢ = (lᵢ, rᵢ) with
    * count cᵢ, rows sorted count desc / pair asc — the greedy order):
    *
    *   1. *Non-interaction.* Accepted pairs are pairwise symbol-disjoint
    *      and no accepted symbol equals an earlier accepted concatenation
    *      lⱼ+rⱼ. A merge pass replaces adjacent "lⱼ rⱼ" with one symbol:
    *      it never makes two OTHER symbols adjacent (neighbours become
    *      adjacent to the new symbol, not to each other) and never
    *      destroys an adjacency not involving lⱼ or rⱼ. So applying pⱼ
    *      leaves every later accepted pᵢ's count exactly cᵢ.
    *   2. *Dominance.* Every pair whose count a prior accepted merge CAN
    *      change — a pair containing lⱼ or rⱼ (count only decreases) or a
    *      brand-new pair containing lⱼ+rⱼ (its count is bounded by a
    *      pre-merge interacting pair's count: every "x lⱼrⱼ" adjacency
    *      comes from an "x lⱼ" one, every "lⱼrⱼ y" from "rⱼ y", and
    *      "lⱼrⱼ lⱼrⱼ" from "rⱼ lⱼ") — is a NON-accepted pair, hence
    *      ranked below the accepted prefix. The prefix is truncated to
    *      counts STRICTLY above the first non-accepted row's count, so at
    *      every intermediate step each remaining accepted pair outranks
    *      every changed/new pair outright — no tie-break ambiguity — and
    *      greedy picks exactly the accepted rows in order.
    *
    * A batch of one is greedy itself, so when the strict-dominance
    * truncation empties the prefix the head row is accepted alone. */
  private[graft] def greedyPrefix(rows: Array[(String, String, Long)],
      exhausted: Boolean, minCount: Long): Seq[(String, String, Long)] = {
    val eligible = rows.takeWhile(_._3 >= minCount)
    if (eligible.isEmpty) return Seq.empty
    // longest symbol-disjoint / concat-free prefix
    val syms = scala.collection.mutable.Set[String]()
    val concats = scala.collection.mutable.Set[String]()
    var m = 0
    var stop = false
    while (m < eligible.length && !stop) {
      val (l, r, _) = eligible(m)
      if (syms(l) || syms(r) || concats(l) || concats(r) ||
          syms(l + r) || concats(l + r)) stop = true
      else { syms += l; syms += r; concats += (l + r); m += 1 }
    }
    // strict count dominance over the first non-accepted row (if the
    // candidate list was exhausted and nothing was rejected, the table
    // holds no other pair at all, so no truncation is needed). When every
    // collected row was accepted but the table extends past the collect
    // limit, UNSEEN pairs can tie the last collected tier — so that tier
    // is the boundary and is itself excluded.
    val boundary: Option[Long] =
      if (m < rows.length) Some(rows(m)._3)
      else if (exhausted) None
      else Some(rows.last._3)
    val accepted = boundary match {
      case Some(b) => eligible.take(m).takeWhile(_._3 > b)
      case None => eligible.take(m)
    }
    if (accepted.isEmpty) eligible.take(1) else accepted
  }

  /** Train `numMerges` BPE merges over a corpus. Stops early when no
    * pair reaches `minCount`. Returns the ordered merge table.
    *
    * Each round collects the top `batchTopK` candidate pairs in one
    * TakeOrdered job and applies the longest prefix that is provably the
    * exact greedy sequence ([[greedyPrefix]] — symbol-disjoint + strict
    * count dominance, so recounting between them is a no-op). The accepted
    * merges fuse into one projection and one materialized copy per round,
    * and it can never accept a pair greedy would not have picked next. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L, batchTopK: Int = 8): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0: $numMerges")
    require(batchTopK >= 1, s"batchTopK must be >= 1: $batchTopK")
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    val table = materialize(wordFreqTable(docs, textCol), "bpe")
    release(iterate(table, "bpe", numMerges) { (words, _) =>
      val limit = math.min(batchTopK, numMerges - rank) + 1
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("left").asc, col("right").asc)
        .limit(limit).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      val batch = greedyPrefix(top, exhausted = top.length < limit, minCount)
        .take(numMerges - rank)
      batch.foreach { case (l, r, c) =>
        merges += Merge(rank, l, r, c)
        rank += 1
      }
      Option.when(batch.nonEmpty && rank < numMerges)(words.withColumn("syms",
        batch.foldLeft(col("syms")) { case (acc, (l, r, _)) => mergeAdjacent(acc, l, r) }))
    })
    merges.result()
  }

  /** Encode text with a trained merge table: per word, repeatedly merge
    * the adjacent pair with the LOWEST rank until none applies — the
    * standard BPE inference loop, a broadcast ranks map + one Scala UDF
    * per word (HF tokenizers apply merges exactly this way; the loop is
    * data-dependent, so no fixed-depth column expression expresses it).
    * Returns (idCol, tokens array, n_tokens). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val ranks: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val spark = docs.sparkSession
    val ranksBc = spark.sparkContext.broadcast(ranks)
    val encodeWord = (w: String) => {
      var syms = w.map(_.toString).toVector
      var cont = syms.size >= 2
      while (cont) {
        val rk = ranksBc.value
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.size - 1) {
          val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < bestRank) { bestRank = r; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) cont = false
        else {
          syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
            syms.drop(bestIdx + 2)
          cont = syms.size >= 2
        }
      }
      syms
    }
    val encodeUdf = udf((ws: Seq[String]) => ws.flatMap(encodeWord))
    docs.select(col(idCol),
        encodeUdf(Corpus.wsTokensLower(col(textCol))).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }
}
