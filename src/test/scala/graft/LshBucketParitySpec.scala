package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, Row}
import graft.functions.Similarity

/** Differential test: the native LshBucketKernel (graft_lsh_xx /
  * graft_lsh_md5) must be BIT-IDENTICAL to the Column lambda-tree
  * formulations it replaced (lshBucketRef / lshBucketMd5Ref) — including
  * the degenerate inputs whose semantics fall out of the fold (null
  * vector, empty vector, null element, NaN/Infinity elements, all-zero
  * vector). The bucket ids feed candidate-pair joins (q108, q148, q229,
  * the emb near-dup scale path), so any divergence changes query output.
  */
class LshBucketParitySpec extends SparkSuite {
  import LshBucketParitySpec._

  private val dims = Seq(1, 2, 3, 7, 12, 16)

  private def floatRows: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(20260818)
    val rand = dims.flatMap { d =>
      Seq.fill(6)(Seq.fill(d)((rnd.nextFloat() - 0.5f) * math.pow(10,
        rnd.nextInt(7) - 3).toFloat))
    }
    rand ++ Seq(
      Seq.empty[Float],                       // empty vec -> bucket 0
      Seq(0f, 0f, 0f),                        // zero vec -> proj 0.0, every bit set
      Seq(Float.NaN, 1f, 2f),                 // NaN proj -> bit set (Spark >=)
      Seq(Float.PositiveInfinity, -1f),       // +Inf proj
      Seq(Float.NegativeInfinity, 1f),        // -Inf proj
      Seq(1e30f, -1e30f, 1e-30f))
  }

  test("graft_lsh_xx and graft_lsh_md5 are bit-identical to the lambda-tree spec") {
    val schema = StructType(Seq(StructField("v", ArrayType(FloatType, containsNull = true))))
    import scala.jdk.CollectionConverters._
    val rows: Seq[Row] =
      floatRows.map(v => Row(v)) ++ Seq(
        Row(null),                            // null vec -> bucket 0
        Row(Seq[Any](1.0f, null, 2.0f)))      // null element -> bucket 0
    val df = spark.createDataFrame(rows.asJava, schema)
    for (nPlanes <- Seq(4, 8, 13); tbl <- Seq(0, 1, 3)) {
      val got = df.select(
        Similarity.lshBucket(col("v"), nPlanes, tbl).as("xx"),
        lshBucketRef(col("v"), nPlanes, tbl).as("xxRef"),
        Similarity.lshBucketMd5(col("v"), nPlanes, tbl).as("md5"),
        lshBucketMd5Ref(col("v"), nPlanes, tbl).as("md5Ref")).collect()
      got.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(0) == r.getLong(1),
          s"xx row $i nPlanes=$nPlanes table=$tbl: native ${r.getLong(0)} ref ${r.getLong(1)}")
        assert(r.getLong(2) == r.getLong(3),
          s"md5 row $i nPlanes=$nPlanes table=$tbl: native ${r.getLong(2)} ref ${r.getLong(3)}")
      }
    }
  }

  test("kernel parity holds for array<double> input and under interpreted eval") {
    val doubles = floatRows.map(_.map(_.toDouble))
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = true))))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(doubles.map(v => Row(v)).asJava, schema)
    val check = () => {
      val got = df.select(
        Similarity.lshBucket(col("v"), 8, 2).as("xx"),
        lshBucketRef(col("v"), 8, 2).as("xxRef"),
        Similarity.lshBucketMd5(col("v"), 8, 2).as("md5"),
        lshBucketMd5Ref(col("v"), 8, 2).as("md5Ref")).collect()
      got.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(0) == r.getLong(1), s"xx row $i (double)")
        assert(r.getLong(2) == r.getLong(3), s"md5 row $i (double)")
      }
    }
    check()
    // interpreted path: the kernel's eval() (used when codegen is off or
    // falls back) must agree too
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    try { spark.conf.set(key, "false"); check() }
    finally spark.conf.set(key, prev)
  }

  test("fixture buckets: native equals spec on sf0.001 embeddings (all tables)") {
    val emb = table("embeddings").select(col("vec_id"), col("embedding"))
    for (t <- 0 until 4) {
      val diff = emb.select(
        Similarity.lshBucket(col("embedding"), 8, t).as("a"),
        lshBucketRef(col("embedding"), 8, t).as("b"),
        Similarity.lshBucketMd5(col("embedding"), 8, t).as("c"),
        lshBucketMd5Ref(col("embedding"), 8, t).as("d"))
        .filter(col("a") =!= col("b") || col("c") =!= col("d")).count()
      assert(diff == 0L, s"table $t: $diff fixture rows diverge")
    }
  }
}

/** The Column formulations the native kernel replaced, kept as its
  * executable spec. */
object LshBucketParitySpec {

  /** Deterministic pseudo-random hyperplane component for plane `p`,
    * dimension `d`: xxhash64 folded into [-1, 1]. */
  private def planeComponent(p: Int, d: Column): Column =
    (pmod(xxhash64(lit(p), d), lit(2000001L)).cast("double") - lit(1000000.0)) / lit(1000000.0)

  /** The original formulation of [[Similarity.lshBucket]]. */
  def lshBucketRef(vec: Column, nPlanes: Int, table: Int = 0): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0L), size(vec).cast("long") - 1L),
          (x, d) => x.cast("double") * planeComponent(table * nPlanes + p, d)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The original formulation of [[Similarity.lshBucketMd5]]. */
  def lshBucketMd5Ref(vec: Column, nPlanes: Int, table: Int = 0): Column = {
    def sign(p: Int, d: Column): Column =
      when(conv(md5(concat(lit(s"$p:"), d.cast("string"))).substr(lit(1), lit(1)),
        16, 10).cast("int") < 8, lit(1.0)).otherwise(lit(-1.0))
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0L), size(vec).cast("long") - 1L),
          (x, d) => x.cast("double") * sign(table * nPlanes + p, d)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
