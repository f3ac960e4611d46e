package graft

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.ops.Multimodal

/** Text-analysis expressions + multimodal plumbing. */
class TextSpec extends SparkSuite {

  private def one(text: String) = {
    import spark.implicits._
    Seq((1L, text)).toDF("id", "text")
  }

  test("casefold folds beyond lower(): sharp-s, uppercase accents") {
    import spark.implicits._
    val d = Seq((1L, "STRASSE straße"), (2L, "ÉCOLE École"), (3L, null: String))
      .toDF("id", "text")
    val out = d.select(col("id"), Text.casefold(col("text")).as("cf"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "strasse strasse") // ß → ss: lower() alone keeps ß
    assert(out(1).getString(1) == "école école")
    assert(out(2).isNullAt(1))
  }

  test("normalize NFC composes combining marks; NFKC folds compatibility forms") {
    import spark.implicits._
    val decomposed = "e\u0301cole" // e + COMBINING ACUTE, 6 code points
    val d = Seq((1L, decomposed), (2L, "ﬁle")).toDF("id", "text") // U+FB01 ligature
    val out = d.select(col("id"),
      Text.normalize(col("text"), "NFC").as("nfc"),
      Text.normalize(col("text"), "NFKC").as("nfkc")).orderBy("id").collect()
    assert(out(0).getString(1) == "école" && out(0).getString(1).length == 5)
    assert(out(1).getString(1) == "ﬁle")  // NFC keeps the ligature
    assert(out(1).getString(2) == "file") // NFKC expands it
  }

  test("wrap reflows at the last space within width and collapses whitespace") {
    import spark.implicits._
    val d = Seq((1L, "aa bb cc dd"), (2L, "one  two\t three"), (3L, "short"))
      .toDF("id", "text")
    val out = d.select(col("id"), Text.wrap(col("text"), 5).as("w"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "aa bb\ncc dd")
    assert(out(1) == "one\ntwo\nthree") // runs collapse before wrapping
    assert(out(2) == "short")           // no trailing newline
  }

  test("strIndex/strRindex: find/rfind positions on hits, null propagates") {
    import spark.implicits._
    val d = Seq((1L, "alphabetical"), (2L, null: String)).toDF("id", "text")
    val out = d.select(col("id"),
      Text.strIndex(col("text"), "al").as("i"),
      Text.strRindex(col("text"), "al").as("ri")).orderBy("id").collect()
    assert(out(0).getLong(1) == 0L)  // first "al"
    assert(out(0).getLong(2) == 10L) // last "al" in alphabetic-AL
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("strRindex: non-BMP needles survive the reversed-locate identity") {
    import spark.implicits._
    // 😀 is a surrogate PAIR in UTF-16: a code-unit reverse of the needle
    // (Scala's StringOps.reverse) corrupts it and `locate` then misses a
    // present substring — positions here are CODE POINTS, matching both
    // python str.rindex and Spark's reverse/length/locate semantics
    val d = Seq((1L, "a😀b😀c")).toDF("id", "text") // a😀b😀c
    val out = d.select(
      Text.strRindex(col("text"), "😀").as("last_emoji"),
      Text.strRindex(col("text"), "😀b").as("emoji_b"),
      Text.strRindex(col("text"), "b😀c").as("b_emoji_c")).head()
    assert(out.getLong(0) == 3L) // code points: a(0) 😀(1) b(2) 😀(3) c(4)
    assert(out.getLong(1) == 1L)
    assert(out.getLong(2) == 2L)
    // and a genuinely missing non-BMP needle still raises
    val err = intercept[Exception](
      d.select(Text.strRindex(col("text"), "😀x")).collect())
    assert(err.getMessage.contains("substring not found") ||
      Option(err.getCause).exists(_.getMessage.contains("substring not found")))
  }

  test("token counts: whitespace vs word-regex") {
    val r = one("hello, world  foo-bar").select(
      Text.tokenCountWs(col("text")),
      Text.tokenCountWords(col("text"))).head()
    assert(r.getInt(0) == 3)   // whitespace tokens
    assert(r.getInt(1) == 4)   // hello, world, foo, bar
  }

  test("shingles produce n-grams; short texts fall back to one shingle") {
    def sh(text: String, n: Int) =
      one(text).select(Text.shingles(col("text"), n)).head().getSeq[String](0)
    assert(sh("a b c d", 3) == Seq("a b c", "b c d"))
    assert(sh("a b", 3) == Seq("a b"))
    // tabs, newlines, CRLF and space runs all separate; no phantom empty
    // token; non-ASCII upper case lowers; token-free text is one empty shingle
    assert(sh("\ta b", 3) == Seq("a b"))
    assert(sh("a\nb\r\nc", 2) == Seq("a b", "b c"))
    assert(sh("A  b   C", 2) == Seq("a b", "b c"))
    assert(sh("ÉCOLE Straße", 1) == Seq("école", "straße"))
    Seq(null, "", " ").foreach(t => assert(sh(t, 2) == Seq(""), s"text=$t"))
  }

  test("languageId picks the dominant stopword set, und when none") {
    val cases = Seq(
      "the cat and the dog is in the house" -> "en",
      "el perro y la casa de los gatos en madrid" -> "es",
      "zzz qqq www" -> "und")
    cases.foreach { case (txt, want) =>
      val got = one(txt).select(Text.languageId(col("text"))).head().getString(0)
      assert(got == want, s"$txt -> $got (want $want)")
    }
  }

  test("simhash is deterministic and near-identical texts are close") {
    val h = (t: String) => one(t).select(Text.simhash(Text.wordTokens(col("text")))).head().getLong(0)
    val a = h("one two three four five six seven eight")
    val b = h("one two three four five six seven eight")
    val c = h("one two three four five six seven nine")
    val far = h("alpha beta gamma delta epsilon zeta")
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) < java.lang.Long.bitCount(a ^ far))
  }

  test("multimodal pack/extract: features derived from real bytes") {
    val packed = Multimodal.pack(one("AB c"), "id", "text")
    val meta = packed.select(col("meta.mime"), col("meta.n_bytes")).head()
    assert(meta.getString(0) == "text/plain" && meta.getInt(1) == 4)
    val f = Multimodal.extractFeatures(packed, "id").head()
    assert(f.getAs[Int]("n_bytes") == 4)
    assert(f.getAs[Long]("feat0") == 'A'.toLong)
    assert(f.getAs[Long]("feat1") == "AB c".getBytes("UTF-8").map(_ & 0xff).sum.toLong)
  }

  test("quality score stays in [0,1] on sf0.001 documents") {
    val r = table("documents")
      .select(Text.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
  }
}
