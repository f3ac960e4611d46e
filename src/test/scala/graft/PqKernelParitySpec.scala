package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}
import graft.ops.Pq

/** Differential test: the native PQ kernels (graft_pq_encode /
  * graft_pq_adc) must be BIT-IDENTICAL to the Column lambda-tree
  * formulations they replaced (encodeRef / adcDistRef, below) — including
  * the degenerate inputs whose semantics fall out of the folds: null and
  * ragged vectors (null distances sort FIRST in the argmin), NaN elements
  * (NaN distances sort LAST), null array elements, and codes shorter or
  * longer than the LUT. The composed search (encode + ADC + rank) is
  * additionally pinned by the q231 DuckDB oracle. */
class PqKernelParitySpec extends SparkSuite {
  import PqKernelParitySpec._

  private def fixtureEmb = table("embeddings").select(col("vec_id"), col("embedding"))

  test("graft_pq_encode equals encodeRef on the whole sf0.001 fixture (m=4/8, ksub=4/16)") {
    val emb = fixtureEmb
    for ((m, ksub) <- Seq((4, 4), (8, 16))) {
      val cb = Pq.codebooksFromRows(emb, "vec_id", "embedding", m, ksub)
      val a = Pq.encode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), col("codes").cast("array<int>").as("codes"))
      val b = encodeRef(emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), col("codes").cast("array<int>").as("codes"))
      val diff = a.join(b.withColumnRenamed("codes", "ref"), "vec_id")
        .filter(!(col("codes") <=> col("ref"))).count()
      assert(diff == 0L, s"m=$m ksub=$ksub: $diff rows diverge")
    }
  }

  test("graft_pq_encode degenerate vectors match the lambda-tree spec") {
    val emb = fixtureEmb
    val cb = Pq.codebooksFromRows(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val dim = 64
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    import scala.jdk.CollectionConverters._
    val degenerate = Seq[Row](
      Row(1L, null),                                       // null vec -> codes all 0
      Row(2L, Seq.empty[Float]),                           // empty vec
      Row(3L, Seq.fill(dim - 5)(0.25f)),                   // too short (last sub ragged)
      Row(4L, Seq.fill(dim + 7)(0.25f)),                   // too long (extra ignored)
      Row(5L, Seq.fill(dim)(Float.NaN)),                   // NaN distances sort last
      Row(6L, (0 until dim).map(i => if (i == 3) null else java.lang.Float.valueOf(0.5f))), // null element
      Row(7L, Seq.fill(7)(1.5f)))                          // shorter than one subspace
    val df = spark.createDataFrame(degenerate.asJava, schema)
    val a = Pq.encode(df, "vec_id", "embedding", cb)
      .select(col("vec_id"), col("codes").cast("array<int>").as("codes"))
    val b = encodeRef(df, "vec_id", "embedding", cb)
      .select(col("vec_id"), col("codes").cast("array<int>").as("ref"))
    val joined = a.join(b, "vec_id").collect()
    assert(joined.length == degenerate.length)
    joined.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"vec_id ${r.getLong(0)}: native ${r.getSeq[Any](1)} ref ${r.getSeq[Any](2)}")
    }
  }

  test("graft_pq_adc equals adcDistRef incl. null/ragged codes and null LUT cells") {
    import graft.plans.GraftExtensions
    GraftExtensions.register(spark)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("codes", ArrayType(ByteType, containsNull = true)),
      StructField("lut", ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true))))
    import scala.jdk.CollectionConverters._
    def bytes(xs: Int*): Seq[java.lang.Byte] = xs.map(x => java.lang.Byte.valueOf(x.toByte))
    val lut2x3: Seq[Seq[java.lang.Double]] = Seq(
      Seq(1.0, 2.0, 3.0).map(java.lang.Double.valueOf),
      Seq(10.0, 20.0, 30.0).map(java.lang.Double.valueOf))
    val rows = Seq[Row](
      Row(1L, bytes(0, 2), lut2x3),                        // plain: 1.0 + 30.0
      Row(2L, bytes(1), lut2x3),                           // codes shorter -> null
      Row(3L, bytes(0, 1, 2), lut2x3),                     // codes longer -> null
      Row(4L, Seq[Any](java.lang.Byte.valueOf(0.toByte), null), lut2x3), // null code -> null
      Row(5L, bytes(0, 0), Seq[Any](lut2x3.head, null)),   // null LUT row -> null
      Row(6L, bytes(0, 1),                                 // null LUT cell -> null
        Seq(Seq[Any](null, 2.0, 3.0), lut2x3(1))),
      Row(7L, null, lut2x3),                               // null codes -> null
      Row(8L, bytes(2, 2), null))                          // null lut -> null
    val df = spark.createDataFrame(rows.asJava, schema)
    val got = df.select(col("id"),
      call_function("graft_pq_adc", col("codes"), col("lut")).as("a"),
      adcDistRef(col("codes"), col("lut")).as("b")).collect()
    got.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getDouble(1)
      val b = if (r.isNullAt(2)) null else r.getDouble(2)
      assert(a == b, s"id ${r.getLong(0)}: native $a ref $b")
    }
    // the one value row really computed
    val v = got.find(_.getLong(0) == 1L).get
    assert(v.getDouble(1) == 31.0)
  }

  test("composed PQ search: native topK equals the ref-composed pipeline on the fixture") {
    val emb = fixtureEmb
    val cb = Pq.codebooksFromRows(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val native = Pq.topK(emb, "vec_id", "embedding", queries, "query_id", "qvec", cb, k = 5)
    // ref composition: encodeRef + the ref ADC fold through the same ranking
    val codesRef = encodeRef(emb, "vec_id", "embedding", cb)
    val luts = queries.crossJoin(broadcast(Pq.packed(cb)))
      .select(col("query_id"),
        transform(col("__cbs__"), (cbj, j) => {
          val ds = size(element_at(cbj, 1))
          val sub = slice(col("qvec"), j * ds + 1, ds)
          transform(cbj, cvec => Pq.l2sq(sub, cvec))
        }).as("__lut__"))
    val scoredRef = codesRef.crossJoin(broadcast(luts))
      .withColumn("dist", adcDistRef(col("codes"), col("__lut__")))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col("vec_id").asc)
    val refTop = scoredRef.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= 5)
      .select(col("query_id"), col("vec_id"), col("dist"), col("__rk__").cast("long").as("rank"))
    assertParity(native, refTop, tol = 0.0)
  }
}

/** The Column formulations the native PQ kernels replaced, kept as their
  * executable spec. */
object PqKernelParitySpec {

  /** The original formulation of [[Pq.encode]]. */
  def encodeRef(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(Pq.packed(codebooks)))
      .select(col(idCol),
        transform(col("__cbs__"), (cbj, j) => {
          val ds = size(element_at(cbj, 1))
          val sub = slice(col(vecCol), j * ds + 1, ds)
          array_min(transform(cbj, (cvec, c) =>
            struct(Pq.l2sq(sub, cvec).as("d"), c.as("cid"))))
            .getField("cid").cast("byte")
        }).as("codes"))

  /** The original ADC fold of [[graft.plans.PqAdcKernel]]. */
  def adcDistRef(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut,
        (c, lutj) => element_at(lutj, c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
}
