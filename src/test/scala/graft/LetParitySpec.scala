package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text
import graft.ops.Corpus

/** Differential test: the text builders that bind their token array or
  * canonical string once per row ([[graft.functions.let]]) must be
  * BIT-IDENTICAL to the formulations they replaced, which captured that
  * value inside the lambda and so recomputed it per n-gram. The inputs are
  * a seeded corpus of 10–200 tokens per document (mixed case, non-ASCII
  * letters, punctuation, every whitespace separator) plus the degenerate
  * rows: null, empty, blank, a leading tab, newline/CRLF separators,
  * repeated spaces, non-ASCII upper case. */
class LetParitySpec extends SparkSuite {
  import LetParitySpec._

  private val edgeCases: Seq[String] = Seq(
    null, "", " ", "   ", "\ta b", "a\nb\r\nc", "a  b   c    d", "ÉCOLE Straße ΣΊΣΥΦΟΣ")

  private def corpus: Seq[String] = {
    val rnd = new scala.util.Random(20261017)
    val vocab = Seq("the", "Cat", "sat", "ON", "a", "mat", "naïve", "Ünïcode", "straße",
      "ΑΘΗΝΑ", "end.", "x-y", "42", "it's", "(ok)")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\r\n", " \t ")
    def doc(nTokens: Int): String =
      Seq.fill(nTokens)(vocab(rnd.nextInt(vocab.size)))
        .reduce((a, b) => a + seps(rnd.nextInt(seps.size)) + b)
    Seq(10, 25, 50, 100, 200).map(doc) ++ Seq.fill(60)(doc(10 + rnd.nextInt(191)))
  }

  private lazy val docs = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val rows = (corpus ++ edgeCases).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).cache()
  }

  /** Every (name, builder, reference) triple evaluated in one job; each
    * row's pair must be equal, and so must the result types. */
  private def assertBitIdentical(cases: Seq[(String, Column, Column)]): Unit = {
    val cols = cases.flatMap { case (name, fresh, ref) =>
      Seq(fresh.as(s"${name}_new"), ref.as(s"${name}_ref"))
    }
    val out = docs.select(col("text") +: cols: _*)
    cases.zipWithIndex.foreach { case ((name, _, _), k) =>
      assert(out.schema(2 * k + 1).dataType == out.schema(2 * k + 2).dataType, name)
    }
    val rows = out.collect()
    assert(rows.length == corpus.size + edgeCases.size)
    for (r <- rows; ((name, _, _), k) <- cases.zipWithIndex) {
      assert(r.get(2 * k + 1) == r.get(2 * k + 2),
        s"$name on ${Option(r.getString(0)).map(_.take(60))}: " +
          s"new ${r.get(2 * k + 1)} ref ${r.get(2 * k + 2)}")
    }
  }

  test("shingles and wordNgrams (n = 1..4) are bit-identical to the captured-array spec") {
    val t = col("text")
    assertBitIdentical((1 to 4).flatMap(n => Seq(
      (s"shingles$n", Text.shingles(t, n), shinglesRef(t, n)),
      (s"wordNgrams$n", Corpus.wordNgrams(t, n), wordNgramsRef(t, n)))))
  }

  test("segments (1, 5) and kgramHashes (k = 3, 7) are bit-identical to the captured spec") {
    val t = col("text")
    assertBitIdentical(Seq(1, 5).map(s => (s"segments$s", Corpus.segments(t, s), segmentsRef(t, s))) ++
      Seq(3, 7).map(k => (s"kgramHashes$k", Text.kgramHashes(t, k), kgramHashesRef(t, k))))
  }
}

/** The pre-[[graft.functions.let]] formulations, kept as the executable
  * spec: each captures its token array or canonical string in the lambda,
  * so it recomputes it per element — O(n²) per row. Test scope only;
  * LambdaCaptureSpec also uses them as its positive control. */
object LetParitySpec {

  def shinglesRef(text: Column, n: Int): Column = {
    val w = Text.wordTokens(text)
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n), i =>
        concat_ws(" ", (0 until n).map(j => get(w, i + lit(j))): _*)))
      .otherwise(array(concat_ws(" ", w)))
  }

  def kgramHashesRef(text: Column, k: Int): Column = {
    val t = trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}_]+", " "))
    val nGrams = greatest(length(t) - (k - 1), lit(1))
    transform(sequence(lit(1), nGrams), i => md5(t.substr(i, lit(k))))
  }

  def segmentsRef(text: Column, segWords: Int): Column = {
    val toks = Corpus.wsTokens(text)
    when(size(toks) > 0,
      transform(sequence(lit(0), ((size(toks) - 1) / segWords).cast("int")),
        i => array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  def wordNgramsRef(text: Column, n: Int): Column = {
    val toks = Corpus.wsTokensLower(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }
}
