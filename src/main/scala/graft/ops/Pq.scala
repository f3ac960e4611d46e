package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) for embedding columns — the memory-bound
 * scale path for similarity search once even an IVF scan of raw vectors
 * is too large: each d-dim float vector is split into `m` subvectors,
 * every subvector is snapped to the nearest of `ksub` per-subspace
 * centroids, and the vector is stored as `m` BYTES of centroid codes
 * (64-dim float32 → 256 B becomes m=8 B, a 32× compression). Search
 * runs against the codes alone via asymmetric distance computation
 * (ADC): the query precomputes an m×ksub lookup table of partial
 * squared-L2 distances against the codebooks, and a corpus row's
 * distance is m table lookups + adds — no vector arithmetic touches
 * the corpus at query time. (Jégou, Douze, Schmid, "Product
 * Quantization for Nearest Neighbor Search", TPAMI 2011 — public
 * method; reference analog: the embedding dedup/ANN surface of
 * modin-scale pipelines, same role as [[Kmeans.ivfTopK]]'s list
 * pruning but attacking bytes-per-vector instead of vectors-scanned.)
 *
 * Spark shape: codebooks are a tiny (m·ksub)-row DataFrame packed into
 * ONE broadcast row; encode is a single codegen'd projection over the
 * corpus (zero shuffles — the scan streams, the broadcast is bytes);
 * ADC search is the same broadcast-scored scan as
 * [[graft.functions.Similarity.topKBruteForce]] with the per-query
 * rank filter as the only exchange, and it reads the (32× smaller)
 * code column instead of the embedding column — at 100 TB of raw
 * vectors that is the difference between scanning 100 TB and 3 TB.
 *
 * Everything is `functions._` lambda expressions (zip_with/transform/
 * aggregate folds in dimension order, so an engine replaying the same
 * folds — the DuckDB oracle in q231 — reproduces the doubles exactly).
 */
object Pq {

  /** Squared L2 between two float-array columns: left fold in dimension
    * order, accumulated in double. Null/ragged inputs yield null (zip_with
    * pads the shorter side with nulls, which poison the fold) — callers
    * filter null distances rather than ranking garbage. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, x) => acc + x)

  /** Fixed data-derived codebooks — the deterministic, oracle-expressible
    * configuration (same convention as q109/q229's `vec_id < k`
    * centroids): subspace `sub` of codebook entry `cid` is the sub-th
    * slice of the cid-th corpus vector under `idCol` order. Returns
    * (sub, cid, cvec); `ksub ≤ 256` so codes fit a byte. The vector
    * dimension must divide evenly by `m` (checked against one sampled
    * row — a ragged corpus fails loudly at plan-build time, not with
    * null codes mid-job). */
  def codebooksFromRows(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): DataFrame = {
    require(m >= 1 && ksub >= 1 && ksub <= 256, s"need 1<=ksub<=256, m>=1: m=$m ksub=$ksub")
    val dim = described(corpus, "graft:pq")(corpus.select(size(col(vecCol)).as("__sz__"))
      .filter(col("__sz__") > 0).head(1).headOption.map(_.getInt(0)).getOrElse(0))
    require(dim > 0 && dim % m == 0, s"vector dim $dim not divisible by m=$m")
    val ds = dim / m
    corpus.orderBy(col(idCol)).limit(ksub)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1).as("cid"),
        col(vecCol).as("__v__"))
      .select(col("cid"), explode(transform(sequence(lit(0), lit(m - 1)),
        j => struct(j.as("sub"), slice(col("__v__"), j * ds + 1, lit(ds)).as("cvec")))).as("__e__"))
      .select(col("__e__.sub").as("sub"), col("cid"), col("__e__.cvec").as("cvec"))
  }

  /** Per-subspace Lloyd refinement under squared L2 — the quality path on
    * top of [[codebooksFromRows]] seeds. All m subspaces train inside the
    * SAME jobs: the corpus explodes once into (sub, subvector) rows, each
    * iteration is one broadcast-argmin scan + one (sub, cid, pos)-keyed
    * mean — never a per-subspace driver loop, never data on the driver.
    * An emptied cluster keeps its previous centroid (k never shrinks),
    * the standard Lloyd fix, as in [[Kmeans.train]]. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    val subs = corpus.select(col(idCol).as("__id__"),
      explode(transform(sequence(lit(0), lit(m - 1)),
        j => struct(j.as("sub"),
          slice(col(vecCol), j * (size(col(vecCol)) / m) + 1,
            size(col(vecCol)) / m).as("svec")))).as("__e__"))
      .select(col("__id__"), col("__e__.sub").as("sub"), col("__e__.svec").as("svec"))
    iterate(codebooksFromRows(corpus, idCol, vecCol, m, ksub), "pq", iters) { (cb, _) =>
      val cands = cb.groupBy(col("sub"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cands"))
      val assigned = subs.join(broadcast(cands), "sub")
        .withColumn("cid", array_min(transform(col("cands"),
          c => struct(l2sq(col("svec"), c.getField("cvec")).as("d"),
            c.getField("cid").as("cid")))).getField("cid"))
      val means = assigned
        .select(col("sub"), col("cid"), posexplode(col("svec")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(avg(col("col")).as("mv"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pairs"))
        .select(col("sub"), col("cid"),
          transform(col("pairs"), p => p.getField("mv").cast("float")).as("__new__"))
      Some(cb.join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("__new__"), col("cvec")).as("cvec")))
    }
  }

  /** (sub, cid, cvec) rows → ONE row holding `cbs[sub][cid] = cvec`
    * (both levels index-ordered) — the broadcast payload both encode and
    * search pin to the small side of a crossJoin. */
  private[graft] def packed(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cbj"))
      .agg(array_sort(collect_list(struct(col("sub"),
        col("cbj")))).as("pairs"))
      .select(transform(col("pairs"),
        p => transform(p.getField("cbj"), c => c.getField("cvec"))).as("__cbs__"))

  /** Encode the corpus to (idCol, codes array<byte>): one broadcast-fold
    * projection, zero shuffles. `codes[j]` = argmin over the subspace-j
    * codebook of squared L2 (tie → smaller cid, the house rule).
    * Computed by the native [[graft.plans.PqEncodeKernel]] — one fused
    * loop instead of m×ksub interpreted `l2sq` folds per row (the 64×
    * code scan fell 51 s → see OPTIMIZATION_r16.md §3); bit-identical to
    * the Column formulation it replaced, kept in PqKernelParitySpec as
    * the executable spec (that spec and the q231 oracle pin it). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    corpus.crossJoin(broadcast(packed(codebooks)))
      .select(col(idCol),
        call_function("graft_pq_encode", col(vecCol), col("__cbs__")).as("codes"))
  }

  /** ADC top-k: smallest summed table-lookup distance per query, over the
    * codes alone. Same plan skeleton as `topKBruteForce` — broadcast the
    * (LUT-ified) query set, scan, per-query rank filter — but the scan
    * side carries m bytes per row, not d floats. Distances are the exact
    * squared L2 to each row's QUANTIZED vector (the PQ approximation);
    * rows whose codes are null (null/ragged source vectors) are dropped
    * before ranking. Tie rule: dist asc, then corpus id asc. */
  def adcTopK(codes: DataFrame, corpusId: String, codesCol: String,
      queries: DataFrame, queryId: String, queryVec: String,
      codebooks: DataFrame, k: Int, maxQueries: Long = 100000L): DataFrame = {
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"adcTopK broadcasts the query LUTs: $nQ rows > maxQueries=$maxQueries; " +
        "raise maxQueries explicitly or pre-filter the query set")
    val luts = queries.crossJoin(broadcast(packed(codebooks)))
      .select(col(queryId),
        transform(col("__cbs__"), (cbj, j) => {
          val ds = size(element_at(cbj, 1))
          val sub = slice(col(queryVec), j * ds + 1, ds)
          transform(cbj, cvec => l2sq(sub, cvec))
        }).as("__lut__"))
    graft.plans.GraftExtensions.register(codes.sparkSession)
    val scored = codes.crossJoin(broadcast(luts))
      .withColumn("dist",
        call_function("graft_pq_adc", col(codesCol), col("__lut__")))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("dist").asc, col(corpusId).asc)
    scored.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("dist"),
        col("__rk__").cast("long").as("rank"))
  }

  /** Convenience: encode + ADC in one call (the codes are usually a
    * persisted table in a real pipeline — encode once, search many). */
  def topK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      codebooks: DataFrame, k: Int): DataFrame =
    adcTopK(encode(corpus, corpusId, corpusVec, codebooks), corpusId, "codes",
      queries, queryId, queryVec, codebooks, k)

  /** ADC shortlist + exact re-rank — the production PQ search shape:
    * the code scan nominates `shortlist` candidates per query (cheap,
    * bytes), then ONLY those rows' raw vectors are fetched and scored
    * exactly. The fetch is a broadcast semi-join on the candidate ids
    * (queries × shortlist rows — tiny), so the corpus is never shuffled
    * and the expensive column is read for a per-query handful of rows.
    * On random-Gaussian fixtures ADC@k alone ranks loosely (quantization
    * noise ≈ the distance gaps) but the shortlist retains the true
    * neighbors — PqSpec pins recall of this composed shape. */
  def topKRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      codebooks: DataFrame, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cand = topK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      codebooks, k = shortlist).select(col(queryId), col(corpusId))
    val exact = corpus.join(broadcast(cand), corpusId)
      .join(broadcast(queries), queryId)
      .withColumn("dist", l2sq(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("dist").asc, col(corpusId).asc)
    exact.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("dist"),
        col("__rk__").cast("long").as("rank"))
  }

  /** IVF-PQ: [[Kmeans]] coarse lists bound the rows scanned, PQ codes
    * bound the bytes per row — the two orthogonal reductions composed,
    * faiss's IndexIVFPQ layout. The corpus is assigned to coarse
    * centroids and encoded ONCE (both products persist in a real
    * pipeline); each query probes its `nprobe` nearest lists and ADC-
    * ranks only those lists' codes. The bucket equi-join replaces the
    * crossJoin: candidates are list-bounded, so the query side needs no
    * maxQueries valve here. */
  def ivfAdcTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      centroids: DataFrame, codebooks: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val assigned = Kmeans.assign(corpus, corpusVec, centroids)
    val encoded = encode(assigned.select(col(corpusId), col(corpusVec), col("centroid_id")),
      corpusId, corpusVec, codebooks)
      .join(assigned.select(col(corpusId), col("centroid_id")), corpusId)
    val qProbes = queries.crossJoin(broadcast(centroids))
      .withColumn("__qsim__",
        graft.functions.Similarity.cosine(col(queryVec), col("cvec")))
      .withColumn("__qrk__", row_number().over(
        Window.partitionBy(col(queryId)).orderBy(col("__qsim__").desc, col("centroid_id").asc)))
      .filter(col("__qrk__") <= nprobe)
      .select(col(queryId), col(queryVec), col("centroid_id"))
    val luts = qProbes.crossJoin(broadcast(packed(codebooks)))
      .select(col(queryId), col("centroid_id"),
        transform(col("__cbs__"), (cbj, j) => {
          val ds = size(element_at(cbj, 1))
          val sub = slice(col(queryVec), j * ds + 1, ds)
          transform(cbj, cvec => l2sq(sub, cvec))
        }).as("__lut__"))
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val scored = encoded.join(luts, "centroid_id")
      .withColumn("dist",
        call_function("graft_pq_adc", col("codes"), col("__lut__")))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("dist").asc, col(corpusId).asc)
    scored.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("dist"),
        col("__rk__").cast("long").as("rank"))
  }
}
