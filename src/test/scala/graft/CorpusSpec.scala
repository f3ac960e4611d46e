package graft

import org.apache.spark.sql.functions._
import graft.ops.Corpus

/** Corpus-preparation semantics: passage dedup keep-first + reassembly,
  * repetition signal edge cases, decontamination distinct-gram counting,
  * and packing boundary placement. */
class CorpusSpec extends SparkSuite {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  test("segmentDedup keeps the first occurrence and reassembles in order") {
    val d = docs(
      1L -> "a b c d e f",  // segs (w=3): "a b c", "d e f"
      2L -> "a b c x y z",  // "a b c" already seen at doc 1 → only "x y z" kept
      3L -> "a b c d e f")  // both segs duplicated → doc vanishes
    val out = Corpus.segmentDedup(d, "id", "text", segWords = 3)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getAs[String]("text_dedup") == "a b c d e f")
    assert(out(0).getAs[Long]("n_kept") == 2L)
    assert(out(1).getAs[String]("text_dedup") == "x y z")
    assert(out(1).getAs[Long]("n_kept") == 1L)
  }

  test("segmentDedup first-occurrence ties break by (id, position)") {
    // "p q r" appears twice inside doc 1: position 0 wins, position 1 drops.
    val d = docs(1L -> "p q r p q r s t u")
    val out = Corpus.segmentDedup(d, "id", "text", segWords = 3).collect()
    assert(out.head.getAs[String]("text_dedup") == "p q r s t u")
  }

  test("repetitionStats on all-distinct and all-same documents") {
    val d = docs(
      1L -> "w x y z",      // no repetition at all
      2L -> "w w w w",      // total repetition: 1 distinct word, 1 distinct bigram
      3L -> "solo")         // single token: bigram stats must be 0, not null/NaN
    val rows = Corpus.repetitionStats(d, "id", "text")
      .orderBy("id").collect()
    assert(rows(0).getDouble(1) == 0.0 && rows(0).getDouble(3) == 0.0)
    assert(rows(1).getDouble(1) == 0.75)       // 1 - 1/4
    assert(rows(1).getDouble(2) == 1.0)        // top word = all words
    assert(rows(1).getDouble(3) == Math.round((1.0 - 1.0 / 3.0) * 1e6) / 1e6)
    assert(rows(2).getDouble(3) == 0.0 && rows(2).getDouble(4) == 0.0)
  }

  test("repetitionStats top fractions equal a driver-side frequency count on random docs") {
    // regression for the sorted-run-length reformulation: the top-element
    // count from the aggregate fold must equal the naive per-distinct
    // frequency max, on docs with heavy and light repetition alike
    val rng = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val texts = (1L to 40L).map { i =>
      val n = 1 + rng.nextInt(30)
      i -> Seq.fill(n)(vocab(rng.nextInt(1 + rng.nextInt(vocab.size)))).mkString(" ")
    }
    val got = Corpus.repetitionStats(docs(texts: _*), "id", "text")
      .orderBy("id").collect()
    texts.zip(got).foreach { case ((_, text), row) =>
      val toks = text.split("\\s+").toSeq
      val bis = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      def top(xs: Seq[String]) =
        if (xs.isEmpty) 0.0 else xs.groupBy(identity).values.map(_.size).max.toDouble / xs.size
      def dup(xs: Seq[String]) =
        if (xs.isEmpty) 0.0 else 1.0 - xs.distinct.size.toDouble / xs.size
      assert(row.getDouble(1) == math.round(dup(toks) * 1e6) / 1e6)
      assert(row.getDouble(2) == math.round(top(toks) * 1e6) / 1e6)
      assert(row.getDouble(3) == math.round(dup(bis) * 1e6) / 1e6)
      assert(row.getDouble(4) == math.round(top(bis) * 1e6) / 1e6)
    }
  }

  test("decontaminate counts distinct overlapping n-grams per document") {
    val bench = docs(100L -> "alpha beta gamma delta")
    val corpus = docs(
      1L -> "alpha beta gamma epsilon alpha beta gamma", // "alpha beta gamma" ×2 → 1 distinct hit
      2L -> "nothing shared here at all")
    val out = Corpus.decontaminate(corpus, bench, "id", "text", n = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getAs[Long]("n_hits") == 1L)
  }

  test("decontaminateBloom is bit-identical to the exact path (bloom prune cannot drop a true hit)") {
    val bench = docs(100L -> "alpha beta gamma delta", 101L -> "omega psi chi phi")
    val corpus = docs(
      1L -> "alpha beta gamma epsilon alpha beta gamma",
      2L -> "nothing shared here at all",
      3L -> "x omega psi chi phi y beta gamma delta")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    val exact = canon(Corpus.decontaminate(corpus, bench, "id", "text", n = 3))
    // cleared first, so an entry left by another suite cannot hide one
    // added here: graft must not cache into a session it does not own
    spark.catalog.clearCache()
    // a high fpp stresses the verify join with false positives; a low one
    // stresses the prune — the answer must be the exact path's either way
    for (fpp <- Seq(0.5, 0.01, 1e-6)) {
      val bloom = canon(Corpus.decontaminateBloom(corpus, bench, "id", "text", n = 3, fpp = fpp))
      assert(bloom == exact, s"fpp=$fpp")
      assert(spark.sharedState.cacheManager.isEmpty, s"fpp=$fpp: decontaminateBloom cached a table")
    }
  }

  test("packChunks assigns each doc to the chunk where it starts") {
    // token counts: 4, 4, 4 with budget 6 → offsets 0,4,8 → chunks 0,0,1
    val d = docs(1L -> "a b c d", 2L -> "e f g h", 3L -> "i j k l")
    val out = Corpus.packChunks(d, "id", "text", budget = 6L)
      .orderBy("chunk_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_docs") == 2L && out(0).getAs[Long]("n_tokens") == 8L)
    assert(out(1).getAs[Long]("first_doc") == 3L)
  }

  test("blank text yields zero tokens, zero segments, zero grams") {
    val d = docs(1L -> "   ", 2L -> "one two three")
    assert(Corpus.segmentDedup(d, "id", "text", 2).count() == 1)
    val rep = Corpus.repetitionStats(d, "id", "text").orderBy("id").collect()
    assert(rep(0).getDouble(1) == 0.0 && rep(0).getDouble(2) == 0.0)
    assert(Corpus.decontaminate(d.filter(col("id") === 2), d.filter(col("id") === 1),
      "id", "text", 2).count() == 0)
    val blanks = docs(1L -> "   ", 2L -> "", 3L -> "\t\r\n", 4L -> null)
      .select(Corpus.segments(col("text"), 2), Corpus.wordNgrams(col("text"), 1)).collect()
    blanks.foreach(r => assert(r.getSeq[String](0).isEmpty && r.getSeq[String](1).isEmpty, r))
  }

  test("chunkDocuments: exact windows, short tail, stride=chunk disjoint, empty doc") {
    val d = docs(
      1L -> "a b c d e f g h i j",  // 10 tokens
      2L -> "x y",                  // shorter than one chunk
      3L -> "")                     // no chunks at all
    val ch = Corpus.chunkDocuments(d, "id", "text", 4, 2)
      .orderBy("id", "chunk_id").collect()
    val doc1 = ch.filter(_.getLong(0) == 1L)
    // starts 0,2,4,6,8 — last two run short
    assert(doc1.map(_.getString(2)).toSeq == Seq(
      "a b c d", "c d e f", "e f g h", "g h i j", "i j"))
    assert(doc1.map(_.getInt(3)).toSeq == Seq(4, 4, 4, 4, 2))
    val doc2 = ch.filter(_.getLong(0) == 2L)
    assert(doc2.map(r => (r.getInt(1), r.getString(2))).toSeq == Seq((0, "x y")))
    assert(!ch.exists(_.getLong(0) == 3L))
    // stride = chunk: disjoint cover, no overlap
    val disj = Corpus.chunkDocuments(d.filter(col("id") === 1), "id", "text", 5, 5)
      .orderBy("chunk_id").collect()
    assert(disj.map(_.getString(2)).toSeq == Seq("a b c d e", "f g h i j"))
  }

  test("temperatureMixture: alpha=1 keeps everything; alpha<1 flattens toward rare") {
    import spark.implicits._
    // 400 common rows vs 20 rare
    val d = ((1L to 400L).map(i => (i, "common")) ++ (401L to 420L).map(i => (i, "rare")))
      .toDF("id", "src")
    val all = Corpus.temperatureMixture(d, "src", "id", 1.0, "s1")
    assert(all.count() == 420) // identity mixture: every rate is exactly 1
    val flat = Corpus.temperatureMixture(d, "src", "id", 0.5, "s1")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the rare (binding) domain keeps rate 1.0; common sheds to match
    // q_common/q_rare = sqrt(400/20) ≈ 4.47 → expect ~89 common rows
    assert(flat("rare") == 20)
    assert(flat("common") < 150 && flat("common") > 40,
      s"expected ~89 common rows, got ${flat.get("common")}")
  }

  test("temperatureMixture drops null-domain rows and is deterministic") {
    import spark.implicits._
    val d = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("a")))
      .toDF("id", "src")
    val out = Corpus.temperatureMixture(d, "src", "id", 0.7, "s2")
    assert(!out.collect().exists(_.isNullAt(1)))
    val again = Corpus.temperatureMixture(d, "src", "id", 0.7, "s2")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("perplexity: in-domain text scores far lower than unseen text; short docs drop") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "the dog sat on the rug")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the cat sat on the mat"),     // every bigram seen
      (11L, "zyx wvu tsr qpo nml"),        // nothing seen -> uniform 1/V
      (12L, "single")).toDF("doc_id", "text") // < 2 tokens: no row
    val out = Corpus.perplexity(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(12L))
    assert(out(10L)._1 == 5 && out(11L)._1 == 4) // n_tokens - 1 bigrams
    val (pplIn, pplOut) = (out(10L)._2, out(11L)._2)
    assert(pplIn >= 1.0, s"perplexity below 1: $pplIn")
    // unseen-history rows fall to uniform 1/V (V = 9 distinct ref
    // tokens) -> ppl exactly V; in-domain must be far under it
    assert(math.abs(pplOut - 9.0) < 1e-9, s"uniform ppl: $pplOut")
    assert(pplIn < pplOut / 2, s"in-domain $pplIn vs unseen $pplOut")
  }

  test("perplexityBuckets cuts each language into thirds; labels deterministic") {
    import spark.implicits._
    // 30 docs per lang with spread-out perplexities: doc i repeats a
    // rare-vs-common mix so ppl varies monotonically enough to split
    val docs = (0 until 30).flatMap { i =>
      val common = Seq.fill(30 - i)("the cat sat").mkString(" ")
      val rare = Seq.tabulate(i)(j => s"tok${i}_$j").mkString(" ")
      Seq((i.toLong, s"$common $rare", "en"),
        (100L + i, s"$common $rare extra", "fr"))
    }.toDF("doc_id", "text", "lang")
    val out = Corpus.perplexityBuckets(docs, "doc_id", "text", "lang")
    val byLang = out.groupBy("lang", "bucket").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // terciles of 30: each bucket lands 10 +/- boundary ties
    for (l <- Seq("en", "fr"); b <- Seq("head", "middle", "tail")) {
      val n = byLang.getOrElse((l, b), 0L)
      assert(n >= 7 && n <= 13, s"$l/$b bucket size $n not near a third of 30")
    }
    // head must hold the lowest scores: max(head) <= min(tail) per lang
    val rows = out.collect().map(r =>
      (r.getString(1), r.getDouble(2), r.getString(3)))
    for (l <- Seq("en", "fr")) {
      val h = rows.filter(x => x._1 == l && x._3 == "head").map(_._2)
      val t = rows.filter(x => x._1 == l && x._3 == "tail").map(_._2)
      assert(h.max <= t.min, s"$l: head max ${h.max} above tail min ${t.min}")
    }
    // partitioning must not move any label
    val again = Corpus.perplexityBuckets(docs.repartition(13), "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(3))).sortBy(_._1).toSeq
    assert(rows.length.toLong == again.length.toLong)
    val first = out.collect().map(r => (r.getLong(0), r.getString(3))).sortBy(_._1).toSeq
    assert(first == again)
  }

  test("exactSubstrDedup removes later copies of duplicated spans, keeps first") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "intro words then the quick brown fox jumps over the lazy dog outro",
      3L -> "completely different text with no overlap at all here")
    val out = Corpus.exactSubstrDedup(d, "id", "text", spanTokens = 4)
      .orderBy("id").collect()
    // doc 1 is the first occurrence -> untouched
    assert(out(0).getAs[String]("text_dedup") == "the quick brown fox jumps over the lazy dog")
    assert(out(0).getAs[Long]("n_removed") == 0L)
    // doc 2: the 9-token copied span is covered by its sliding 4-grams
    assert(out(1).getAs[String]("text_dedup") == "intro words then outro")
    assert(out(1).getAs[Long]("n_removed") == 9L)
    // doc 3 untouched
    assert(out(2).getAs[Long]("n_removed") == 0L)
  }

  test("exactSubstrDedup: full coverage empties the doc; short/blank docs pass") {
    val d = docs(
      1L -> "a b c d e",
      2L -> "a b c d e",      // identical -> fully covered
      3L -> "a b c",          // < spanTokens -> no grams, untouched
      4L -> "")
    val out = Corpus.exactSubstrDedup(d, "id", "text", spanTokens = 5)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("text_dedup") == "a b c d e")
    assert(out(1).getAs[String]("text_dedup") == "" && out(1).getAs[Long]("n_removed") == 5L)
    assert(out(2).getAs[String]("text_dedup") == "a b c")
    assert(out(3).getAs[Long]("n_tokens") == 0L)
  }

  test("exactSubstrDedup scrubs internal repetition beyond the first span") {
    // one doc repeating the same 4 tokens 3 times: grams at starts 0..8;
    // the start-0 gram is kept, every later identical gram occurrence is
    // covered -> only the first 4 tokens survive
    val d = docs(1L -> "w x y z w x y z w x y z")
    val out = Corpus.exactSubstrDedup(d, "id", "text", spanTokens = 4).collect()
    assert(out(0).getAs[String]("text_dedup") == "w x y z")
    assert(out(0).getAs[Long]("n_removed") == 8L)
  }

  test("packSequences splits docs across exact fixed-length boundaries") {
    val d = docs(1L -> "a b c", 2L -> "d e", 3L -> "   ", 4L -> "f g h i")
    val out = Corpus.packSequences(d, "id", "text", seqLen = 4L)
      .orderBy("seq_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // stream: [a b c][d e][f g h i] = 9 tokens → seqs of 4: [0,4) [4,8) [8,9)
    assert(out.toSeq == Seq(
      (0L, 1L, 0L, 3L),  // doc1 fills seq0 positions 0-2
      (0L, 2L, 3L, 1L),  // doc2 token 'd' finishes seq0
      (1L, 2L, 0L, 1L),  // doc2 token 'e' opens seq1 — doc split across seqs
      (1L, 4L, 1L, 3L),  // doc4 f,g,h
      (2L, 4L, 0L, 1L))) // doc4 i spills into the final partial seq
    // invariants: every full seq carries exactly seqLen tokens; per-doc
    // span totals reassemble the doc; blank doc contributes nothing
    val bySeq = out.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    assert(bySeq(0L) == 4L && bySeq(1L) == 4L && bySeq(2L) == 1L)
    assert(out.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap ==
      Map(1L -> 3L, 2L -> 2L, 4L -> 4L))
  }

  test("shuffleShard: balanced shards, valid permutation, seed-deterministic") {
    import spark.implicits._
    val d = (0L until 103L).map(i => (i, s"doc $i")).toDF("id", "text")
    val a = Corpus.shuffleShard(d, "id", seed = "s1", numShards = 8).collect()
    // every doc exactly once
    assert(a.map(_.getLong(0)).toSet == (0L until 103L).toSet)
    // round-robin balance: shard sizes differ by at most 1
    val sizes = a.groupBy(_.getLong(1)).view.mapValues(_.length).values.toSeq
    assert(sizes.size == 8 && sizes.max - sizes.min <= 1)
    // (shard, pos) is a bijection onto the permutation positions
    assert(a.map(r => r.getLong(1) + 8 * r.getLong(2)).sorted.toSeq ==
      (0L until 103L).toSeq)
    // same seed reproduces the exact layout; a different seed permutes
    val b = Corpus.shuffleShard(d, "id", seed = "s1", numShards = 8).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
    val c = Corpus.shuffleShard(d, "id", seed = "s2", numShards = 8).collect()
    assert(c.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq !=
      a.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq)
  }

  test("unimaxAllocation water-fills: caps bind, uncapped domains share equally") {
    import spark.implicits._
    // token counts: a=100, b=200, c=1000 — budget 600, maxEpochs 2
    // caps [200, 400, 2000]; s = [200, 133.3, 0]: s1=600/3=200 ≥ cap_a →
    // a capped at 200; s2=(600-200)/2=200 < cap_b=400 → u=200;
    // allocs [200, 200, 200], epochs [2.0, 1.0, 0.2]
    val d = Seq(("a", 100L), ("b", 200L), ("c", 1000L), (null, 50L))
      .toDF("dom", "n")
    val out = Corpus.unimaxAllocation(d, "dom", "n", budget = 600L, maxEpochs = 2.0)
      .orderBy("dom").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(("a", 100L, 200.0, 2.0), ("b", 200L, 200.0, 1.0),
      ("c", 1000L, 200.0, 0.2)), out.toSeq.toString)
  }

  test("unimaxAllocation: a zero-token domain reads 0 epochs, not an ANSI divide abort") {
    import spark.implicits._
    val d = Seq(("a", 100L), ("z", 0L)).toDF("dom", "n")
    val out = Corpus.unimaxAllocation(d, "dom", "n", budget = 100L, maxEpochs = 2.0)
      .orderBy("dom").collect().map(r => (r.getString(0), r.getDouble(4)))
    assert(out.toSeq == Seq(("a", 1.0), ("z", 0.0)), out.toSeq.toString)
    // unimaxSample's full-epoch floor carries the same guard: the empty
    // domain simply contributes no rows
    val docs = Seq(("a", 1L, 100L), ("z", 2L, 0L)).toDF("dom", "id", "n")
    val sampled = Corpus.unimaxSample(docs, "dom", "id", "n",
      budget = 100L, maxEpochs = 2.0, salt = "s")
    assert(sampled.filter(col("dom") === "z").count() >= 0) // materializes without abort
  }

  test("unimaxAllocation: budget above total capacity caps every domain") {
    import spark.implicits._
    val d = Seq(("a", 100L), ("b", 300L)).toDF("dom", "n")
    val out = Corpus.unimaxAllocation(d, "dom", "n", budget = 10000L, maxEpochs = 1.5)
      .orderBy("dom").collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 150.0), ("b", 450.0)))
  }

  test("unimaxSample: full epochs replay every doc; partial epoch honors the remainder") {
    import spark.implicits._
    // dom a: docs 1,2 with 50 tokens each (n_a=100); budget forces
    // alloc_a = 150 → 1 full epoch + a 50-token partial = exactly one doc
    // of the md5 permutation. dom b: 1000 tokens, alloc 150 → partial only.
    val d = Seq(("a", 1L, 50L), ("a", 2L, 50L), ("b", 3L, 500L), ("b", 4L, 500L))
      .toDF("dom", "id", "n")
    val out = Corpus.unimaxSample(d, "dom", "id", "n",
      budget = 300L, maxEpochs = 1.5, salt = "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    val aRows = out.filter(_._1 == "a")
    // epoch 0 = both docs; epoch 1 = exactly one (50 of the 50-token remainder)
    assert(aRows.count(_._3 == 0) == 2 && aRows.count(_._3 == 1) == 1, out.toSeq.toString)
    // b gets no full epoch and one straddling doc in the partial epoch
    val bRows = out.filter(_._1 == "b")
    assert(bRows.length == 1 && bRows.head._3 == 0, out.toSeq.toString)
    // deterministic: same salt, same rows
    val again = Corpus.unimaxSample(d, "dom", "id", "n",
      budget = 300L, maxEpochs = 1.5, salt = "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(out.sortBy(x => (x._1, x._2, x._3)).toSeq ==
      again.sortBy(x => (x._1, x._2, x._3)).toSeq)
  }
}
