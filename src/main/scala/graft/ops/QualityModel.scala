package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Trainable quality classifier for corpus filtering — the fastText-style
 * model-based filter every modern LLM data pipeline runs (DCLM, FineWeb-Edu,
 * RedPajama-v2 all score documents with a cheap linear classifier over
 * hashed n-gram features and keep the top slice).
 *
 * Model: logistic regression over a hashing-trick bag of tokens —
 * bucket(t) = md5₃₂(t) mod dim, x_b = count_b / total tokens (so features
 * are a tf-normalized sparse vector; dim caps the model at a constant size
 * regardless of corpus vocabulary). Training is full-batch gradient descent
 * on log-loss for a FIXED number of iterations with a fixed rate —
 * deterministic by construction, so the whole fit is replayable (the DuckDB
 * oracle unrolls the same iterations in SQL). Weights are rounded to 8
 * decimals after each update: the round re-synchronizes cross-engine
 * float-summation-order drift every iteration instead of letting it
 * compound through the recurrence.
 *
 * 100 TB shape: the model lives as a `dim`-row DataFrame the whole time —
 * nothing model-sized ever touches the driver. Each iteration is
 *   margins:  features ⋈ weights on bucket (weights side is dim rows —
 *             Spark broadcasts it) → one per-doc aggregate;
 *   gradient: one per-bucket aggregate of err·x (≤ dim + 1 rows out);
 *   update:   weights left-join gradient (dim-row join).
 * Two data-sized shuffles per iteration, both keyed (doc, bucket) — AQE
 * skew handling applies; iteration count is a constant, not data-driven.
 * The doc count N is the one scalar anchor (same pattern as the vocabulary
 * size in [[Corpus.perplexity]]).
 *
 * Reference analog: modin has no trainable ops — this is part of the
 * training-data surplus surface (SURVEY §2 pipeline extensions), mirroring
 * the quality-scoring stage of CCNet/DCLM rather than any modin operator.
 */
object QualityModel {

  /** Engine-portable hashed bucket of a token: the first 32 bits of
    * md5(token) mod `dim`, non-negative in both engines
    * (DuckDB: `('0x' || substr(md5(t),1,8))::BIGINT % dim`). */
  def tokenBucket(tok: Column, dim: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % dim

  /** Sparse hashed features: (idCol, bucket, x). `presence = true` gives
    * x = 1 per distinct bucket in the doc (bag-of-words presence — the
    * well-conditioned default: every active feature has the same scale as
    * the bias, so one global rate fits all coordinates); `presence =
    * false` gives tf features x = bucket count / doc token count. Docs
    * with zero tokens contribute no rows (they can be neither trained on
    * nor scored). Pure map + one (doc, bucket) aggregate — no driver
    * state. */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
      dim: Int, presence: Boolean = true): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val exploded = docs
      .select(col(idCol), Corpus.wsTokensLower(col(textCol)).as("__t__"))
      .filter(size(col("__t__")) > 0)
      .select(col(idCol), size(col("__t__")).as("__n__"),
        explode(col("__t__")).as("__tok__"))
    if (presence)
      exploded
        .select(col(idCol), tokenBucket(col("__tok__"), dim).as("bucket"))
        .distinct()
        .withColumn("x", lit(1.0))
    else
      exploded
        .groupBy(col(idCol), tokenBucket(col("__tok__"), dim).as("bucket"))
        .agg((count(lit(1)).cast("double") / first(col("__n__"))).as("x"))
  }

  /** Bias term rides the weights table as bucket −1 with constant feature
    * value 1 — one update path for all dim+1 parameters. */
  val BiasBucket: Long = -1L

  /**
   * Full-batch logistic-regression fit. `feats` = [[hashedFeatures]]
   * output; `labels` = (idCol, y ∈ {0,1}). Returns the (bucket, w) model
   * of dim+1 rows (bucket −1 = bias). Iterations and rate are fixed so
   * the fit is a deterministic function of the inputs.
   */
  def trainLogReg(feats: DataFrame, labels: DataFrame, idCol: String,
      dim: Int, iters: Int, lr: Double): DataFrame = {
    require(iters >= 1 && lr > 0, s"bad hyperparams: iters=$iters lr=$lr")
    val spark = feats.sparkSession
    import spark.implicits._
    // features + bias pseudo-feature, labels attached once up front;
    // the bias spine comes from feats so zero-token docs stay excluded;
    // materialized: the count and every iteration read it
    val fx = materialize(feats.select(col(idCol), col("bucket"), col("x"))
      .unionByName(feats.select(col(idCol)).distinct()
        .select(col(idCol), lit(BiasBucket).as("bucket"), lit(1.0).as("x")))
      .join(labels.select(col(idCol), col("y").cast("double").as("__y__")), Seq(idCol)),
      "quality")
    // scalar anchor
    val n = described(fx, "graft:quality")(fx.select(col(idCol)).distinct().count().toDouble)
    val init = spark.range(-1, dim).select(col("id").as("bucket"), lit(0.0).as("w"))
    val weights = iterate(init, "quality", iters) { (weights, _) =>
      val grad = scoreMargin(fx, weights, idCol)
        .withColumn("__err__", sigmoid(col("__margin__")) - col("__y__"))
        .select(col(idCol), col("__err__"))
        .join(fx.select(col(idCol), col("bucket"), col("x")), Seq(idCol))
        .groupBy(col("bucket"))
        .agg((sum(col("__err__") * col("x")) / n).as("__g__"))
      Some(weights.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          round(col("w") - lit(lr) * coalesce(col("__g__"), lit(0.0)), 8).as("w")))
    }
    release(fx)
    weights
  }

  /** Per-doc probability the classifier assigns: (idCol, score). `docs`
    * rows with zero tokens get no score row. Weights side is dim+1 rows —
    * broadcast join; one per-doc aggregate. */
  def score(docs: DataFrame, weights: DataFrame, idCol: String,
      textCol: String, dim: Int): DataFrame = {
    val hf = hashedFeatures(docs, idCol, textCol, dim)
    val fx = hf.unionByName(hf.select(col(idCol)).distinct()
      .select(col(idCol), lit(BiasBucket).as("bucket"), lit(1.0).as("x")))
    scoreMargin(fx.withColumn("__y__", lit(0.0)), weights, idCol)
      .select(col(idCol), sigmoid(col("__margin__")).as("score"))
  }

  /** (idCol, __y__, __margin__): margin = Σ x·w over the doc's buckets
    * (bias included as the bucket −1 pseudo-feature). Inner join is
    * exact because `weights` covers every residue class mod dim. */
  private def scoreMargin(fx: DataFrame, weights: DataFrame,
      idCol: String): DataFrame =
    fx.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(first(col("__y__")).as("__y__"),
        sum(col("x") * col("w")).as("__margin__"))

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))
}
