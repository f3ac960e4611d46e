package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/**
 * SparkSessionExtensions entry point: registers graft's native Catalyst
 * expressions as SQL functions. Two activation paths:
 *
 *   - config: `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
 *     at session build time (the production path);
 *   - [[GraftExtensions.register]] on a live session (tests, notebooks).
 *
 * Both read the one function table in the companion, so a function has
 * the same expression, arity check and error message on either path. After
 * either, `graft_simhash(array<string>) -> bigint` is callable from SQL
 * and via `call_function("graft_simhash", col)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SelfCosineRule)
  }
}

object GraftExtensions {
  /** One native function from its SQL signature: the name and the arity
    * check (with its message) derive from `signature`, so `build` always
    * sees exactly as many children as the signature names. */
  private def fn(signature: String, impl: Class[_])(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val name = signature.takeWhile(_ != '(')
    val arity = signature.count(_ == ',') + 1
    val args = Seq("one argument", "two arguments", "three arguments")(arity - 1)
    (FunctionIdentifier(name), new ExpressionInfo(impl.getName, name), children => {
      require(children.length == arity, s"$signature takes $args")
      build(children)
    })
  }

  /** The count arguments of the band-key and LSH kernels must be integer
    * literals: they shape the generated kernel (and memoize its tables). */
  private def litInt(name: String, e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name: $what must be an integer literal, got $other")
  }

  private def lshBucket(name: String, md5: Boolean): FunctionBuilder = c =>
    LshBucketKernel(c(0), litInt(name, c(1), "nPlanes"), litInt(name, c(2), "planeOffset"), md5)

  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_simhash(tokens)", classOf[SimHash64])(c => SimHash64(c(0))),
    fn("graft_cosine(a, b)", classOf[CosineSim])(c => CosineSim(c(0), c(1))),
    fn("graft_jaccard(a, b)", classOf[JaccardSim])(c => JaccardSim(c(0), c(1))),
    fn("graft_band_keys(digests, nBands, rowsPerBand)", classOf[LaneMinBandKeys])(c =>
      LaneMinBandKeys(c(0), litInt("graft_band_keys", c(1), "nBands"),
        litInt("graft_band_keys", c(2), "rowsPerBand"))),
    fn("graft_lsh_xx(vec, nPlanes, planeOffset)", classOf[LshBucketKernel])(
      lshBucket("graft_lsh_xx", md5 = false)),
    fn("graft_lsh_md5(vec, nPlanes, planeOffset)", classOf[LshBucketKernel])(
      lshBucket("graft_lsh_md5", md5 = true)),
    fn("graft_pq_encode(vec, cbs)", classOf[PqEncodeKernel])(c => PqEncodeKernel(c(0), c(1))),
    fn("graft_pq_adc(codes, lut)", classOf[PqAdcKernel])(c => PqAdcKernel(c(0), c(1))))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = functions.foreach { case (id, info, build) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, build)
  }
}
