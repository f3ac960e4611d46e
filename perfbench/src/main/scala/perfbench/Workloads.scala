package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}
import graft.ops.{Dedup, Pq}
import graft.queries.Registry

/** The workloads. Each `setUp` generates its inputs from the seed into
  * `dir` and returns the workload over them. */
object Workloads {
  /** Share of the sf0.1 fixture sizes the headline tables are generated at. */
  val HeadlineScale = 0.1
  /** Base documents of the near-dup and index corpora (siblings come on top). */
  val CorpusDocs = 1000L
  /** Base embeddings of the index workload, amplified 4x. */
  val IndexVectors = 500L
  /** Query sets of about 20 vectors: set 0 is probed each pass, all of them
    * enter the recall check. */
  val QuerySets = 4
  val DupPct = 25

  def setUp(name: String, spark: SparkSession, seed: Long, dir: String): Workload = {
    val g = new Gen(spark, seed, dir)
    name match {
      case "headline" =>
        def n(base: Long) = math.max(1L, (base * HeadlineScale).toLong)
        g.part(n(20000)); g.orders(n(150000), n(15000)); g.lineitem(n(600000), n(150000), n(20000))
        g.events(n(100000)); g.documents(n(5000))
        new Headline(spark, g)
      case "neardup" =>
        g.docsWithSiblings("docs", CorpusDocs, DupPct)
        new NearDup(spark, g)
      case "index" =>
        g.docsWithSiblings("docs", CorpusDocs, DupPct)
        g.linkBatch(CorpusDocs, 25L)
        g.embeddingsAmplified(IndexVectors, 64, 4, DupPct)
        g.querySets(QuerySets, 20)
        new Index(spark, g)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** The fixture-sized embeddings, generated on first use: only the kernel
    * probes of a traced run read them outside the index workload. */
  def embeddingsFor(spark: SparkSession, g: Gen): DataFrame = {
    g.embeddings(2000, 64)
    spark.read.parquet(g.path("embeddings"))
  }

  /** Bytes on disk under a path. */
  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L else f.length
    walk(new java.io.File(path))
  }

  /** A check that cannot run because its warm-up step produced no rows. */
  def missing(step: String): (String, Boolean, String) =
    (step, false, "the warm-up pass produced no result")
}

/** The registry's headline queries at the generated scale, each forced
  * through its physical plan as graft.Bench forces it. */
final class Headline(spark: SparkSession, g: Gen) extends Workload {
  private val dir = g.dir
  /** q13_parquet_roundtrip writes to a fixed /tmp path, outside the
    * directory this benchmark may write to, so it is left out. */
  private val Excluded = Set("q13_parquet_roundtrip")
  val queries = Registry.all.filter(q => q.headline && !Excluded(q.name))

  val steps: Seq[Step] = queries.map(q => Step(q.name, op = true, ordered = true, ctx =>
    ctx.force(ctx.call("queries.fn")(q.fn(ctx.spark, dir)))))

  /** Dumps each warm-up result for the DuckDB oracle compare, which the
    * caller makes; every timed pass must match the warm-up's digest. */
  def check(run: Runner): Seq[(String, Boolean, String)] = {
    queries.foreach { q =>
      run.kept.get(q.name).foreach { case (schema, rows) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/../oracle/${q.name}")
      }
    }
    Nil
  }
  override def extra: Map[String, Any] = Map("tables" -> dir, "oracle" -> queries.map(q =>
    q.name -> Map("sql" -> q.sql.getOrElse(""), "dump" -> s"$dir/../oracle/${q.name}")).toMap)
  def kernelInputs: (DataFrame, DataFrame) =
    (spark.read.parquet(g.path("documents")), Workloads.embeddingsFor(spark, g))
}

/** Near-duplicate removal, one operation per pass: jaccard pairs at
  * shingle 2 / t = 0.8, then the connected-components drop. */
final class NearDup(spark: SparkSession, g: Gen) extends Workload {
  private def docs = spark.read.parquet(g.path("docs"))
  private def drop(d: DataFrame, pairs: DataFrame) =
    Dedup.dropNearDuplicates(d, "doc_id", pairs, "id_a", "id_b")
  private def pairs(d: DataFrame) =
    Dedup.jaccardPairs(d, "doc_id", "text", shingleN = 2, threshold = 0.8)

  val steps: Seq[Step] = Seq(Step("neardup.drop", op = true, ordered = false, ctx => {
    val d = docs
    ctx.force(ctx.call("dedup.dropNearDuplicates")(drop(d, pairs(d))))
  }))

  private var planted = 0.0

  /** Survivors must be unchanged input rows, no id twice, fewer than the
    * input, and must include every survivor of the reference dedup
    * ([[NearDup.referenceSurvivors]]): jaccardPairs' exact verify can miss
    * a pair but never add one, so a reference survivor that is missing was
    * dropped wrongly. Planted recall is the share of planted (original,
    * sibling) pairs of which exactly one document survives. */
  def check(run: Runner): Seq[(String, Boolean, String)] = run.kept.get("neardup.drop") match {
    case None => Seq(Workloads.missing("neardup.drop"))
    case Some((_, rows)) =>
      val inputRows = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
      val input = inputRows.toMap
      val out = rows.map(r =>
        r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("text")))
      val foreign = out.count { case (id, t) => !input.get(id).contains(t) }
      val kept = out.map(_._1).toSet
      val reference = NearDup.referenceSurvivors(inputRows.toSeq, 0.8)
      val overDropped = (reference -- kept).size
      val sibs = input.keys.filter(_ >= Gen.SiblingOffset)
      planted = sibs.count(s => kept(s) != kept(s - Gen.SiblingOffset)).toDouble / sibs.size
      Seq(("neardup.drop", foreign == 0 && kept.size == out.length && out.length < input.size &&
        overDropped == 0,
        s"${out.length} of ${input.size} survive (reference ${reference.size}), " +
          s"$foreign not in the input, $overDropped reference survivors dropped"))
  }
  override def quality: Map[String, Double] = Map("planted_recall" -> planted)

  /** Splits the pipeline into its public calls: pairs forced alone, the
    * components loop over the materialized pairs, the anti join. */
  override def probes(run: Runner): Unit = run.probe("neardup.decompose") { ctx =>
    val d = docs
    val p = ctx.call("dedup.jaccardPairs")(pairs(d).localCheckpoint())
    run.counts("ops.dedup.pairs") = p.count().toDouble
    val out = ctx.call("dedup.connectedComponents")(drop(d, p))
    ctx.call("dedup.antiJoin")(Digest.of(out))
  }
  def kernelInputs: (DataFrame, DataFrame) = (docs, Workloads.embeddingsFor(spark, g))
}

object NearDup {
  /** The documents a brute-force dedup keeps: distinct word bigrams per
    * text as Text.shingles(_, 2) forms them (lower-cased, split on
    * whitespace; a one-token text is one shingle), exact Jaccard over every
    * pair, components by union-find, and the smallest id of each component
    * kept, as Dedup.dropNearDuplicates keeps it. */
  def referenceSurvivors(docs: Seq[(Long, String)], threshold: Double): Set[Long] = {
    val ids = mutable.HashMap[String, Int]()
    val sets = docs.map { case (_, text) =>
      val w = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val sh = if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSeq else Seq(w.mkString(" "))
      sh.map(x => ids.getOrElseUpdate(x, ids.size)).distinct.sorted.toArray
    }.toArray
    val parent = Array.range(0, sets.length)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    def common(a: Array[Int], b: Array[Int]): Int = {
      var (i, j, n) = (0, 0, 0)
      while (i < a.length && j < b.length)
        if (a(i) < b(j)) i += 1 else if (a(i) > b(j)) j += 1 else { n += 1; i += 1; j += 1 }
      n
    }
    for (i <- sets.indices; j <- i + 1 until sets.length) {
      val (a, b) = (sets(i), sets(j))
      // Jaccard <= min size / max size, so this skips only pairs below it
      if (math.min(a.length, b.length).toDouble / math.max(a.length, b.length) >= threshold) {
        val n = common(a, b)
        if (n.toDouble / (a.length + b.length - n).toDouble >= threshold) parent(find(i)) = find(j)
      }
    }
    sets.indices.groupBy(find).values.map(_.map(docs(_)._1).min).toSet
  }
}

/** Build a band index and PQ codes, then probe them: link an arriving batch
  * against the index, and answer a query set by PQ ADC and by LSH. */
final class Index(spark: SparkSession, g: Gen) extends Workload {
  private val K = 5
  private val indexPath = g.path("band_index")
  private val codesPath = g.path("pq_codes")
  private def docs = spark.read.parquet(g.path("docs"))
  private def emb = spark.read.parquet(g.path("emb")).select("vec_id", "embedding")
  private def batch = spark.read.parquet(g.path("batch"))
  /** Query set `s`, or all of them when `s` is negative. */
  private def queries(s: Int) = {
    val all = spark.read.parquet(g.path("queries"))
    (if (s < 0) all else all.filter(col("qset") === s)).select("query_id", "qvec")
  }
  /** LSH planes for a target bucket of about 30 vectors, as the scale
    * benches tune them. */
  private val planes = math.max(6, math.ceil(math.log(emb.count() / 30.0) / math.log(2)).toInt)
  @volatile private var codebooks: DataFrame = _
  /** One warm-up: this pass is about twice as long as the others'. */
  override def warmups: Int = 1

  private def link = Dedup.linkAgainstIndex(batch, "doc_id", "text", indexPath,
    docs, "doc_id", "text")
  private def adc(s: Int) = Pq.adcTopK(spark.read.parquet(codesPath), "vec_id", "codes",
    queries(s), "query_id", "qvec", codebooks, k = K)
  private def lsh(s: Int) = Similarity.topKLsh(emb, "vec_id", "embedding",
    queries(s), "query_id", "qvec", k = K, nPlanes = planes, nTables = 4)
  private def probe(name: String, span: String, df: => DataFrame) =
    Step(name, op = true, ordered = false, ctx => ctx.span(span)(c => c.force(c.call("call")(df))))

  val steps: Seq[Step] = Seq(
    Step("index.build", op = false, ordered = false, ctx => {
      ctx.call("dedup.writeBandIndex")(
        Dedup.writeBandIndex(docs, "doc_id", "text", indexPath))
      codebooks = ctx.call("pq.codebooksFromRows")(
        Pq.codebooksFromRows(emb, "vec_id", "embedding", m = 16, ksub = 64).localCheckpoint())
      ctx.call("pq.encode+write")(Pq.encode(emb, "vec_id", "embedding", codebooks)
        .write.mode("overwrite").parquet(codesPath))
      Digest(0L, 0L, 0L) // the probes check what the build wrote
    }),
    probe("index.link", "dedup.linkAgainstIndex", link),
    probe("index.adc", "pq.adcTopK", adc(0)),
    probe("index.lsh", "similarity.topKLsh", lsh(0)))

  private var q = Map.empty[String, Double]

  /** linkAgainstIndex on the batch must equal crossCorpusPairsMd5 of the
    * batch against the corpus; recall@5 of both ANN paths is measured over
    * every query set against the exact cosine top-5 of topKBruteForce. */
  def check(run: Runner): Seq[(String, Boolean, String)] = {
    def pairSet(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => (r.getLong(
      r.fieldIndex("id_l")), r.getLong(r.fieldIndex("id_r")), r.getDouble(r.fieldIndex("jaccard")))).toSet
    def topk(df: DataFrame, id: String) = df.select(col("query_id"), col(id)).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val truth = topk(Similarity.topKBruteForce(emb, "vec_id", "embedding", queries(-1),
      "query_id", "qvec", k = K), "vec_id")
    def recall(found: Map[Long, Set[Long]]) =
      truth.map { case (k, t) => (t & found.getOrElse(k, Set.empty)).size }.sum.toDouble /
        truth.values.map(_.size).sum
    val input = Workloads.du(g.path("docs")) + Workloads.du(g.path("emb"))
    q = Map("lsh_recall_at_5" -> recall(topk(lsh(-1), "vec_id")),
      "stored_bytes_per_input_byte" ->
        (Workloads.du(indexPath) + Workloads.du(codesPath)).toDouble / input)
    if (codebooks != null) q += "pq_recall_at_5" -> recall(topk(adc(-1), "vec_id"))
    run.kept.get("index.link") match {
      case None => Seq(Workloads.missing("index.link"))
      case Some((_, rows)) =>
        val linked = pairSet(rows)
        val direct = pairSet(Dedup.crossCorpusPairsMd5(batch, "doc_id", "text",
          docs, "doc_id", "text").collect())
        Seq(("index.link", linked == direct && linked.nonEmpty,
          s"${linked.size} linked pairs, ${direct.size} crossCorpusPairsMd5 pairs"))
    }
  }
  override def quality: Map[String, Double] = q
  def kernelInputs: (DataFrame, DataFrame) = (docs, emb)
}
