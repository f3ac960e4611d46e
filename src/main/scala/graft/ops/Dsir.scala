package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data Selection via Importance Resampling (Xie et al. 2023,
 * arXiv:2302.03169) — select raw-corpus documents that look like a small
 * target corpus, the standard pre-training data-selection step the
 * reference's pipeline surface stops short of.
 *
 * The published recipe, re-expressed as three declarative stages:
 *
 *   1. hashed n-gram features: lowercase whitespace unigrams + adjacent
 *      bigrams, hashed into `buckets` buckets (the paper uses 10k);
 *   2. bag-of-buckets distributions with add-1 smoothing fit on the raw
 *      and target corpora; each document's log importance weight is
 *      log w(x) = Σ_b n_b(x) · (log p̂_target[b] − log p̂_raw[b]);
 *   3. Gumbel-top-k resampling: k docs with the largest
 *      log w(x) + g_x, g_x ~ Gumbel(0,1) — equivalent to sampling
 *      without replacement ∝ w(x) (Vieira 2014).
 *
 * 100 TB shape: the feature stream is a map-only explode over the scan
 * (no text column ever shuffles); fitting is one hash exchange on the
 * 32-bit bucket key per corpus; the B-row log-ratio table broadcasts;
 * per-document weights are one hash exchange on (id, bucket) + one on id;
 * the final selection is a TakeOrdered top-k, never a global sort. The
 * Gumbel noise is derived from md5(salt ‖ id), so selection is
 * deterministic and engine-portable (the DuckDB oracle computes the
 * identical fold), and re-runs are reproducible — the property a
 * production selection job needs for auditability.
 */
object Dsir {

  /** First 8 md5 hex chars as an unsigned 32-bit value — the repo's
    * engine-portable deterministic hash (same fold as the dedup band
    * keys and the sampler family). */
  private def fold32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** (id, bucket) hashed-feature stream: unigrams + adjacent bigrams of
    * the lowercase whitespace tokenization, md5-folded mod `buckets`.
    * Pure map-side: tokenize → explode → hash, zero exchanges. */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val toks = Corpus.wsTokensLower(col(textCol))
    val bis = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), explode(concat(toks, bis)).as("__f__"))
      .select(col(idCol),
        pmod(fold32(col("__f__")), lit(buckets.toLong)).as("bucket"))
  }

  /** B-row table of add-1-smoothed log bucket probabilities from a
    * (bucket, __c__) count table: ln((c[b]+1)/(total+B)). Unseen buckets
    * get the smoothing floor via the dense `range(B)` left join; the
    * total stays in-plan (no collect). */
  private def bucketLogProb(counts: DataFrame, buckets: Int,
      outCol: String): DataFrame = {
    val total = counts.agg(sum(col("__c__")).as("__tot__"))
    counts.sparkSession.range(buckets).withColumnRenamed("id", "bucket")
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("__c__"))
      .crossJoin(broadcast(coalesceTotal(total)))
      .select(col("bucket"),
        (log(col("__c__") + lit(1.0)) -
          log(col("__tot__") + lit(buckets.toDouble))).as(outCol))
  }

  /** An empty corpus has no count rows — sum() returns null; the
    * smoothing floor needs 0. */
  private def coalesceTotal(total: DataFrame): DataFrame =
    total.select(coalesce(col("__tot__"), lit(0L)).as("__tot__"))

  /** Per-raw-document importance weight: (id, n_feats, logw). Documents
    * with no features (empty/blank text) carry logw = 0 — no evidence
    * either way, matching the paper's w = 1.
    *
    * The raw corpus tokenizes ONCE: its feature stream reduces to the
    * (id, bucket, n) table first, and the raw bucket distribution is a
    * second tiny aggregate OVER that table — never a re-explode of the
    * text (md5 over every n-gram is the CPU cost at corpus scale, paid
    * a single time). */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    // materialized (lazily): the (id, bucket, n) table feeds both the raw
    // bucket distribution and the weight join, which would otherwise each
    // re-run the tokenize+md5 explode
    val perDocN = materialize(hashedFeatures(raw, idCol, textCol, buckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("__n__")), "dsir", eager = false)
    val rawCounts = perDocN.groupBy(col("bucket")).agg(sum(col("__n__")).as("__c__"))
    val targetCounts = hashedFeatures(target, idCol, textCol, buckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__c__"))
    val ratio = bucketLogProb(targetCounts, buckets, "__lt__")
      .join(bucketLogProb(rawCounts, buckets, "__lr__"), Seq("bucket"))
      .select(col("bucket"), (col("__lt__") - col("__lr__")).as("__ratio__"))
    val perDoc = perDocN
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("__n__")).as("n_feats"),
        sum(col("__n__").cast("double") * col("__ratio__")).as("logw"))
    raw.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** Gumbel-top-k selection: the k raw documents with the largest
    * logw + Gumbel(0,1) noise, noise keyed on md5(salt ‖ id) so the
    * draw is deterministic. Returns (id, n_feats, logw, score) ordered
    * by (score desc, id); the limit compiles to TakeOrdered — a
    * per-partition heap + driver merge of k rows, no global sort. */
  def resampleTopK(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, k: Int, salt: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u = (fold32(concat(lit(salt), col(idCol).cast("string"))) + lit(1.0)) /
      lit(4294967297.0) // (fold+1)/(2^32+1) ∈ (0,1): both log calls finite
    val gumbel = -log(-log(u))
    importanceWeights(raw, target, idCol, textCol, buckets)
      .withColumn("score", round(col("logw") + gumbel, 6) + lit(0.0)) // +0.0: canonicalize IEEE signed zero (QueryKit.roundz contract)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
