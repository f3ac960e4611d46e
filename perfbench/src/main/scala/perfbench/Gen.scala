package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Every column is a pure function of (row id,
  * seed), so one seed always yields the same tables, and the program only
  * ever sees the parquet files written here.
  *
  * The shapes follow the sf0.1 test fixtures: a TPC-H-like star schema,
  * an events stream, 31-word-vocabulary documents of 10-100 tokens and
  * unit-norm 64-d embeddings in 10 labelled clusters. Tables are written
  * as one file each, like the fixtures, except the near-dup and index
  * inputs, which are split one file per core so their heavy per-row hash
  * work can use every core. */
final class Gen(spark: SparkSession, seed: Long, val dir: String) {
  private val cores = spark.sparkContext.defaultParallelism

  private def h(id: Column, salt: Int): Column = xxhash64(id, lit(seed), lit(salt))
  private def pick(id: Column, salt: Int, n: Long): Column = pmod(h(id, salt), lit(n))
  private def oneOf(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(id, salt, xs.size.toLong) + 1).cast("int"))
  /** A 2-decimal money value in [lo, lo + span) cents, as a double. */
  private def money(id: Column, salt: Int, loCents: Long, spanCents: Long): Column =
    (pick(id, salt, spanCents) + lit(loCents)).cast("double") / lit(100.0)
  private def day(id: Column, salt: Int, from: String, days: Long): Column =
    (unix_timestamp(lit(from + " 00:00:00")) + pick(id, salt, days) * lit(86400L))
      .cast("timestamp").cast("timestamp_ntz")

  def path(table: String): String = s"$dir/$table.parquet"

  private def write(df: DataFrame, table: String, files: Int = 1): Unit =
    (if (files == 1) df.coalesce(1) else df.repartition(files))
      .write.mode("overwrite").parquet(path(table))

  def part(n: Long): Unit = {
    val id = col("id")
    write(spark.range(n).select(
      id.as("p_partkey"),
      concat(oneOf(id, 1, Seq("large", "hot", "blue", "old", "cold", "small", "red", "new")),
        lit(" "), oneOf(id, 2, Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "cap", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), (pick(id, 3, 25L) + 1).cast("string")).as("p_brand"),
      oneOf(id, 4, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")).as("p_type"),
      (pick(id, 5, 50L) + 1).cast("int").as("p_size"),
      ((pick(id, 6, 1000L) + 9000).cast("double") / lit(10.0)).as("p_retailprice")), "part")
  }

  def orders(n: Long, customers: Long): Unit = {
    val id = col("id")
    write(spark.range(n).select(
      id.as("o_orderkey"),
      pick(id, 1, customers).as("o_custkey"),
      oneOf(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(id, 3, 100191L, 49899128L).as("o_totalprice"),
      day(id, 4, "1995-01-01", 2404L).as("o_orderdate"),
      oneOf(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders")
  }

  def lineitem(n: Long, orders: Long, parts: Long): Unit = {
    val id = col("id")
    write(spark.range(n).select(
      pick(id, 1, orders).as("l_orderkey"),
      pick(id, 2, parts).as("l_partkey"),
      pick(id, 3, 1000L).as("l_suppkey"),
      (pick(id, 4, 7L) + 1).cast("int").as("l_linenumber"),
      (pick(id, 5, 50L) + 1).cast("double").as("l_quantity"),
      money(id, 6, 90068L, 10409924L).as("l_extendedprice"),
      (pick(id, 7, 11L).cast("double") / lit(100.0)).as("l_discount"),
      (pick(id, 8, 9L).cast("double") / lit(100.0)).as("l_tax"),
      oneOf(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(id, 10, Seq("O", "F")).as("l_linestatus"),
      day(id, 11, "1995-01-02", 2498L).as("l_shipdate")), "lineitem")
  }

  def events(n: Long): Unit = {
    val id = col("id")
    write(spark.range(n).select(
      id.as("event_id"),
      (unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) +
        pick(id, 1, 30L * 86400L * 1000000L)).cast("long")
        .as("__us__"),
      pick(id, 2, 1500L).as("user_id"),
      oneOf(id, 3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      money(id, 4, 0L, 56022L).as("value"),
      concat(lit("{\"k\": "), pick(id, 5, 100L).cast("string"), lit("}")).as("props"))
      .select(col("event_id"), timestamp_micros(col("__us__")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")), "events")
  }

  /** Spark's xxhash64 of longs, computed on the driver: the documents and
    * vectors are built here row by row, which is far cheaper than Spark's
    * interpreted higher-order functions for the same text and arrays. */
  private def xx(vs: Long*): Long = vs.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))
  private def draw(n: Long, vs: Long*): Long = Math.floorMod(xx(vs :+ seed: _*), n)

  private def word(vs: Long*): String = Gen.Vocab(draw(Gen.Vocab.size.toLong, vs: _*).toInt)
  /** Random document text: 10-100 vocabulary tokens. */
  private def docText(id: Long, salt: Long): String =
    (1L to 10L + draw(91L, id, salt)).map(i => word(id, salt, i)).mkString(" ")

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  private def doc(id: Long, text: String): Row = Row(id, text,
    Seq("en", "en", "en", "zh", "de", "fr", "es")(draw(7L, id, 2).toInt),
    s"src${id % 20}", text.length.toLong)
  private def writeDocs(rows: Seq[Row], table: String, files: Int): Unit =
    write(spark.createDataFrame(rows.asJava, docSchema), table, files)
  private def baseDocs(n: Long): Seq[Row] = (0L until n).map(id => doc(id, docText(id, 1)))

  /** The fixture-shaped documents table (q100 reads it). */
  def documents(n: Long): Unit = writeDocs(baseDocs(n), "documents", 1)

  /** Documents plus planted near-dup siblings: a doc is chosen when
    * xxhash64(doc_id, seed) mod 100 < dupPct, and its sibling is the same
    * text plus one extra vocabulary token, under id + SiblingOffset. */
  def docsWithSiblings(table: String, n: Long, dupPct: Int): Unit = {
    val base = baseDocs(n)
    val sibs = base.filter(r => draw(100L, r.getLong(0)) < dupPct).map(r =>
      doc(r.getLong(0) + Gen.SiblingOffset, r.getString(1) + " " + word(r.getLong(0), 7)))
    writeDocs(base ++ sibs, table, cores)
  }

  /** An arriving batch for the index probe: about 1/`every` of the
    * corpus; even-drawn picks are near-dups of a corpus doc (one extra
    * token), the rest fresh random text. */
  def linkBatch(n: Long, every: Long): Unit = {
    val rows = for (id <- 0L until n if draw(every, id, 20) == 0) yield {
      val text = if (draw(2L, id, 40) == 0) docText(id, 1) + " " + word(id, 60)
        else docText(id, 80)
      Row(id + Gen.BatchOffset, text)
    }
    write(spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))), "batch")
  }

  /** Unit-norm vectors around 10 seeded cluster centres, one per label. */
  private def vector(id: Long, dim: Int): (Array[Float], Int) = {
    val label = draw(10L, id, 1).toInt
    val raw = Array.tabulate(dim)(d => (draw(2001L, label, d, 11) - 1000) / 1000.0 +
      (draw(2001L, id, d, 2) - 1000) / 1250.0)
    val norm = math.sqrt(raw.map(x => x * x).sum)
    (raw.map(x => (x / norm).toFloat), label)
  }
  private val vecType = ArrayType(FloatType, containsNull = false)

  /** The fixture-shaped embeddings table. */
  def embeddings(n: Long, dim: Int): Unit = {
    val rows = (0L until n).map { id => val (v, l) = vector(id, dim); Row(id, v.toSeq, l) }
    write(spark.createDataFrame(rows.asJava, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", vecType), StructField("label", IntegerType)))), "embeddings")
  }

  private var amplified = Seq.empty[(Long, Array[Float])]

  /** Embeddings amplified `factor`x: each replica reweights every
    * (vector, dimension) by a seeded factor in [-1, 1], so replicas point
    * in unrelated directions, and a `dupPct`% shard of scaled copies
    * (x 1.0001) plants exact-cosine duplicates. */
  def embeddingsAmplified(n: Long, dim: Int, factor: Int, dupPct: Int): Unit = {
    val replicas = for (r <- 0 until factor; id <- 0L until n) yield {
      val rid = id + r * Gen.ReplicaOffset
      val v = vector(id, dim)._1
      rid -> (if (r == 0) v
        else Array.tabulate(dim)(d => (v(d) * ((draw(2001L, rid, d, r, 12) - 1000) / 1000.0)).toFloat))
    }
    val dups = replicas.filter { case (id, _) => draw(100L, id, 3) < dupPct }
      .map { case (id, v) => (id + Gen.SiblingOffset, v.map(_ * 1.0001f)) }
    amplified = replicas ++ dups
    write(spark.createDataFrame(amplified.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", vecType)))),
      "emb", cores)
  }

  /** Query sets for the ANN probes over the amplified corpus: `sets` x
    * about `per` corpus vectors, each nudged by seeded noise, under
    * query_id = set * 1000 + i. */
  def querySets(sets: Int, per: Int): Unit = {
    val every = math.max(1L, amplified.size.toLong / per)
    val rows = for (s <- 0 until sets) yield
      amplified.filter { case (id, _) => draw(every, id, 100 + s) == 0 }.sortBy(_._1)
        .zipWithIndex.map { case ((id, v), i) =>
          Row(s, s * 1000L + i + 1, v.indices.map(d =>
            (v(d) + (draw(2001L, id, d, 200 + s) - 1000) / 40000.0).toFloat))
        }
    write(spark.createDataFrame(rows.flatten.asJava, StructType(Seq(
      StructField("qset", IntegerType), StructField("query_id", LongType),
      StructField("qvec", vecType)))), "queries")
  }
}

object Gen {
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ").toIndexedSeq
  val SiblingOffset = 1000000000L
  val BatchOffset = 2000000000L
  val ReplicaOffset = 100000000L
}
