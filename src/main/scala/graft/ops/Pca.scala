package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.let

/**
 * Distributed PCA / whitening over an embedding column — the rotation
 * stage of retrieval stacks (OPQ preconditioning for product
 * quantization, whitening before cosine ANN, variance-ordered dimension
 * truncation). The reference has no analog; this is the linear-algebra
 * counterpart of [[Kmeans]]/[[Pq]] in the same embedding toolbox.
 *
 * Scale shape: PCA over n×d embeddings needs only the d-vector of sums
 * and the d²-matrix of second moments. Both come from ONE declarative
 * aggregation each — per-row outer products explode to (pos, x·y) rows,
 * but Spark's hash aggregate map-side-combines them to d² partials per
 * task before the exchange, so the shuffle carries tasks×d² doubles
 * regardless of n (d=64 → 32 KB/task). Only the d×d moment matrix
 * reaches the driver; the eigensolve is a 64×64 Jacobi sweep — O(d³)
 * driver math, independent of corpus size. Projection back over the
 * corpus is a codegen'd per-row expression (zero exchanges).
 */
object Pca {

  /** Fitted model: `mean` (d), `components` (k rows, each a d-vector,
    * variance-descending), `eigenvalues` (k, population variances along
    * each component), `n` rows fit. */
  final case class Model(mean: Array[Double], components: Array[Array[Double]],
      eigenvalues: Array[Double], n: Long) {
    def d: Int = mean.length
    def k: Int = components.length
  }

  /** (i, j, cov) long-form POPULATION covariance matrix of the vector
    * column — the oracle-checkable distributed stage of [[fit]].
    * One exchange of d² partial sums per task + one d-sized mean join.
    *
    * Determinism: a distributed double sum is order-dependent (the
    * partition combine order differs run to run and engine to engine), so
    * a value landing on a half-ulp rounding boundary of the displayed
    * precision can flip between engines. Instead each component is
    * quantized to integer units of 2⁻²⁰ — multiplying by a power of two is
    * IEEE-exact and `floor` is unambiguous, so every engine derives the
    * SAME long from the same double — and the moment sums run in exact
    * integer (decimal) arithmetic, which is associative: any partition or
    * combine order yields bit-identical totals. The single final division
    * back into a double is a fixed expression tree of correctly-rounded
    * IEEE ops over identical integers, hence bit-identical across engines.
    * The 2⁻²⁰ quantization shifts each covariance by O(2⁻²⁰·|x|) — far
    * below any use of the matrix (the eigensolve below, OPQ balancing). */
  def covarianceLong(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val d = size(v)
    // integer units of 2^-20 (floor(x·2^20) is a LongType column)
    val q = transform(v, x => floor(x.cast("double") * lit(1048576.0)))
    // flat outer product of quantized components: row-major (i*d + j) ->
    // q_i·q_j as exact decimal(37,0); sum -> decimal(38,0), associative
    val outer = flatten(transform(q, x =>
      transform(q, y => x.cast("decimal(18,0)") * y.cast("decimal(18,0)"))))
    val sums = df.select(posexplode(outer))
      .groupBy(col("pos")).agg(sum(col("col")).as("sxy"), count(lit(1)).as("n"))
    val dims = df.select(posexplode(q))
      .groupBy(col("pos").as("i"))
      .agg(sum(col("col").cast("decimal(38,0)")).as("si"))
    val dim = df.select(d.as("d")).limit(1)
    val nD = col("n").cast("double")
    sums.crossJoin(broadcast(dim))
      .select((col("pos") / col("d")).cast("int").as("i"),
        pmod(col("pos"), col("d")).cast("int").as("j"),
        col("sxy"), col("n"))
      .join(broadcast(dims), Seq("i"))
      .join(broadcast(dims.select(col("i").as("j"), col("si").as("sj"))), Seq("j"))
      .select(col("i"), col("j"),
        ((col("sxy").cast("double") / nD
          - (col("si").cast("double") / nD) * (col("sj").cast("double") / nD))
          / lit(1099511627776.0)).as("cov")) // 2^40 undoes the quantization
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix (in-place on a
    * copy): returns (eigenvalues, eigenvectors-as-rows), descending.
    * O(d³) per sweep, driver-side only — d is the embedding width. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 50 && {
      var off = 0.0
      for (i <- 0 until d; j <- i + 1 until d) off += a(i)(j) * a(i)(j)
      off > 1e-18
    }) {
      for (p <- 0 until d; q <- p + 1 until d; if math.abs(a(p)(q)) > 1e-30) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // sign(0) must be +1 here: theta = 0 is the exact-45° rotation
        // (equal diagonal entries), not a no-op
        val t = (if (theta >= 0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
          k += 1
        }
        k = 0
        while (k < d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
          val vpk = v(p)(k); val vqk = v(q)(k)
          v(p)(k) = c * vpk - s * vqk
          v(q)(k) = s * vpk + c * vqk
          k += 1
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray, order.map(i => v(i).clone()).toArray)
  }

  /** Fit top-`k` principal components. Two aggregation jobs (means +
    * second moments); the only driver state is the d×d moment matrix. */
  def fit(df: DataFrame, vecCol: String, k: Int): Model = {
    val moments = covarianceLong(df, vecCol).collect()
    require(moments.nonEmpty, "fit: empty input")
    val d = moments.map(_.getInt(0)).max + 1
    require(k >= 1 && k <= d, s"fit: k=$k out of range for d=$d")
    val cov = Array.ofDim[Double](d, d)
    moments.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val means = df.select(posexplode(col(vecCol)))
      .groupBy(col("pos")).agg(avg(col("col").cast("double")).as("mu"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val n = df.count()
    val (evals, evecs) = jacobiEigen(cov)
    // deterministic sign: make each component's largest-|coef| entry
    // positive, so fits are reproducible run to run
    val signed = evecs.take(k).map { comp =>
      val m = comp.maxBy(math.abs)
      if (m < 0) comp.map(-_) else comp
    }
    Model(means, signed, evals.take(k), n)
  }

  /** Projection expression: v ↦ [⟨v − μ, c₁⟩ … ⟨v − μ, c_k⟩], optionally
    * whitened (each coordinate scaled by 1/√λ so the projected cloud has
    * unit variance per axis). Pure per-row column arithmetic — zero
    * exchanges over the corpus. */
  def projectExpr(vecCol: Column, model: Model, whiten: Boolean = false,
      eps: Double = 1e-9): Column = {
    val mu = typedlit(model.mean.toSeq)
    val comps = typedlit(model.components.map(_.toSeq).toSeq)
    val scales = typedlit(model.eigenvalues.map(ev =>
      if (whiten) 1.0 / math.sqrt(ev + eps) else 1.0).toSeq)
    // v − μ is bound once per row, not rebuilt per component
    let(zip_with(vecCol, mu, (x, m) => x.cast("double") - m)) { centered =>
      transform(sequence(lit(0), lit(model.k - 1)), j =>
        aggregate(
          zip_with(centered, element_at(comps, j + 1), (x, c) => x * c),
          lit(0.0), (acc, t) => acc + t) * element_at(scales, j + 1))
    }
  }

  /** Project the corpus onto the model's components as `out`. */
  def project(df: DataFrame, vecCol: String, out: String, model: Model,
      whiten: Boolean = false): DataFrame =
    df.withColumn(out, projectExpr(col(vecCol), model, whiten))

  /** OPQ-parametric dimension allocation (Ge et al. 2013, "Optimized
    * Product Quantization", §4 — the closed-form variant): assign the
    * variance-descending principal components to the m product-quantizer
    * subspaces so the per-subspace eigenvalue PRODUCTS balance — each
    * next component goes to the emptiest-by-log-product subspace with
    * room. Balancing products (not sums) minimizes the parametric
    * distortion bound for independent Gaussian data; a plain PCA order
    * would concentrate all the energy in the first subspace, which a
    * fixed-ksub subquantizer then cannot represent. Returns the
    * component order: m consecutive blocks of d/m components. */
  def opqOrder(eigenvalues: Array[Double], m: Int): Array[Int] = {
    val d = eigenvalues.length
    require(m >= 1 && d % m == 0, s"opqOrder: d=$d not divisible by m=$m")
    val ds = d / m
    val buckets = Array.fill(m)(Vector.empty[Int])
    val logProd = Array.fill(m)(0.0)
    eigenvalues.indices.foreach { i => // fit() already sorts descending
      val open = (0 until m).filter(buckets(_).size < ds)
      val j = open.minBy(logProd)
      buckets(j) :+= i
      logProd(j) += math.log(math.max(eigenvalues(i), 1e-300))
    }
    buckets.flatten.toArray
  }

  /** The model with components permuted by [[opqOrder]] — project with
    * this before [[Pq.encode]] and each subspace sees a balanced share
    * of the spectrum. */
  def opqModel(model: Model, m: Int): Model = {
    val perm = opqOrder(model.eigenvalues, m)
    Model(model.mean, perm.map(model.components),
      perm.map(model.eigenvalues), model.n)
  }
}
