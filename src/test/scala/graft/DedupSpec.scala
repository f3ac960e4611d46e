package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.functions.Text

/** Near-dup semantics that have no SQL oracle (minhash/simhash are
  * xxhash64-based): invariants pinned here instead. */
class DedupSpec extends SparkSuite {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  /** The sf0.01 documents fixture, beside the suite's own scale factor:
    * 500 parquet rows (doc_id, text, ...). */
  private def fixtureDocs =
    spark.read.parquet(s"${new java.io.File(sfDir).getParent}/sf0.01/documents.parquet")

  test("exact dedup keeps the smallest id per fingerprint, formatting-insensitive") {
    val d = docs(
      1L -> "Hello,   World!",
      2L -> "hello world",   // same fingerprint after canonicalization
      3L -> "something else")
    val kept = Dedup.exact(d, "id", "text").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash LSH always pairs identical documents") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different words appear in this other document here")
    val pairs = Dedup.minhashLshPairs(d, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash banding finds all pairs within the Hamming bound") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota", // 1 token differs
      3L -> "totally unrelated text with other vocabulary entirely")
    val pairs = Dedup.simhashPairs(d, "id", "text", maxBits = 20)
      .select("id_a", "id_b", "hamming").collect()
    // the near-identical pair must be found; its hamming must respect the bound
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(pairs.forall(_.getAs[Number]("hamming").intValue <= 20))
  }

  test("simhash pigeonhole holds for arbitrary maxBits (chunk widths cover 64 bits)") {
    // construct ids whose simhashes we compare exhaustively vs banding
    val d = docs(
      1L -> "one two three four five six",
      2L -> "one two three four five seven",
      3L -> "one two three four eight nine")
    val sigs = d.select(col("id"),
      Text.simhash(Text.wordTokens(col("text"))).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = for {
      a <- sigs.keys; b <- sigs.keys if a < b
      ham = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if ham <= 12
    } yield (a, b)
    val found = Dedup.simhashPairs(d, "id", "text", maxBits = 12)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.toSet == found)
  }

  test("jaccardPairs respects threshold and buckets") {
    val d = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i k",   // high 2-gram overlap, same length band
      3L -> "z y x w v u t s r q")
    val pairs = Dedup.jaccardPairs(d, "id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("jaccardPairs finds near-dups whose lengths straddle a ÷10 word-count band") {
    // 9 vs 11 words — the old word-count÷10 bucket put these in different
    // bands (0 vs 1) and silently missed the pair; the MinHash band key is
    // length-independent, so high shingle overlap alone drives candidacy.
    val d = docs(
      1L -> "a b c d e f g h i",
      2L -> "a b c d e f g h i j k",
      3L -> "z y x w v u t s r q p")
    val pairs = Dedup.jaccardPairs(d, "id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("embedding LSH near-dup finds the clustered pairs the brute baseline finds") {
    import spark.implicits._
    // two tight clusters (base vector + tiny per-member noise) + isolated
    // noise vectors: within-cluster cosine ≈ 1, cross-cluster far below
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (v, i) => v + eps * (rnd.nextFloat() - 0.5f) }
    val baseA = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val baseB = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val rows =
      (0L to 2L).map(i => (i, jitter(baseA, 0.01f))) ++
      (3L to 5L).map(i => (i, jitter(baseB, 0.01f))) ++
      (6L to 9L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val d = rows.toDF("id", "vec")
    val brute = graft.ops.Dedup.embeddingPairsBrute(d, "id", "vec", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.ops.Dedup.embeddingPairsLsh(d, "id", "vec", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)))
    assert(lsh == brute) // exact verify ⇒ precision 1; clusters ⇒ full recall
  }

  test("embeddingPairsBrute refuses a corpus over its broadcast cap") {
    import spark.implicits._
    val d = (0L to 9L).map(i => (i, Array.fill(4)(i.toFloat + 1f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingPairsBrute(d, "id", "vec", 0.9, maxRows = 5L).collect()
    }
    assert(e.getMessage.contains("embeddingPairsLsh"))
    // the same corpus under the cap still computes (all parallel ⇒ cos 1 < 2)
    assert(Dedup.embeddingPairsBrute(d, "id", "vec", 2.0, maxRows = 10L).count() == 0)
  }

  test("zero-norm vectors (NaN cosine) never pass a near-dup threshold") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(0f, 0f, 0f)), (2L, Array(0f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f)), (4L, Array(1f, 0f, 0f))).toDF("id", "vec")
    val brute = Dedup.embeddingPairsBrute(d, "id", "vec", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((3L, 4L))) // without the isnan guard, (1,2) et al. leak in
    val lsh = Dedup.embeddingPairsLsh(d, "id", "vec", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(Set((3L, 4L))))
  }

  test("connectedComponents labels every cluster by its minimum member") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(none, "a", "b").collect().isEmpty)
  }

  /** Runs `body` in job group "cc-caller" with description "caller"; returns
    * its result and the (group, description) of every job it launched. */
  private def jobsOf[T](body: => T): (T, List[(String, String)]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cc-caller", "caller", interruptOnCancel = false)
      val out = body
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // listener events arrive asynchronously and in order: once this
      // marker job is seen, every job before it has been
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 20000000000L
      while (!jobs.asScala.exists(_._2 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = jobs.asScala.toList.takeWhile(_._2 != "marker")
      assert(seen.forall(_._1 == "cc-caller"), seen) // the job group is the caller's
      (out, seen)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("connectedComponents finishes near-dup shapes in one round and names its jobs") {
    import spark.implicits._
    // disjoint pairs, a triangle and a star centred on its minimum id: the
    // seed least(id, min(neighbour)) is already the fixpoint, so round 1
    // drops no label and the loop stops there
    val edges = Seq((1L, 2L), (4L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (22L, 20L), (20L, 23L), (24L, 20L)).toDF("a", "b")
    val (labels, seen) = jobsOf(Dedup.connectedComponents(edges, "a", "b", maxRounds = 1))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
        10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
    assert(seen.map(_._2).toSet == Set("graft:cc:edges", "graft:cc:round 1"), seen)
    // the other ops on the same loop name their rounds the same way, and
    // the jobs they run before their loop as `graft:<op>`: none runs under
    // the caller's description
    val named = Map(
      "bpe" -> (Set("graft:bpe") ++ (1 to 6).map(n => s"graft:bpe:round $n")),
      "kmeans" -> (1 to 3).map(n => s"graft:kmeans:round $n").toSet,
      "pq" -> (Set("graft:pq") ++ (1 to 3).map(n => s"graft:pq:round $n")),
      "quality" -> (Set("graft:quality") ++ (1 to 3).map(n => s"graft:quality:round $n")))
    for ((name, run) <- MaterializeSpec.iterativeOps(this) if name != "cc")
      assert(jobsOf(run())._2.map(_._2).toSet == named(name), name)
    // the md5 pair generators' one signature copy
    val d = fixtureDocs
    val (_, sig) = jobsOf(Dedup.jaccardPairs(d, "doc_id", "text", shingleN = 2, threshold = 0.5))
    assert(sig.map(_._2) == List("graft:signatures"), sig)
  }

  test("connectedComponents evaluates its edge input once") {
    // a counting identity on one id column: each evaluation of the caller's
    // edge plan adds one per edge row (nondeterministic, so the optimizer
    // can neither fold it at plan time nor duplicate it)
    val reads = spark.sparkContext.longAccumulator("cc edge reads")
    val tap = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
    val edges = spark.range(0, 50).select(tap(col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
    val (labels, seen) = jobsOf(Dedup.connectedComponents(edges, "a", "b", maxRounds = 1))
    assert(labels.collect().forall(r => r.getLong(1) == r.getLong(0) - r.getLong(0) % 2))
    assert(reads.value == 50L, s"the edge plan ran ${reads.value / 50.0} times")
    assert(seen.map(_._2).toSet == Set("graft:cc:edges", "graft:cc:round 1"), seen)
  }

  test("the md5 pair generators evaluate each document once per call") {
    // the counting identity of the edge case above, on the text: each
    // evaluation of the caller's document plan adds one per document
    val reads = spark.sparkContext.longAccumulator("document reads")
    val tap = udf { (t: String) => reads.add(1); t }.asNondeterministic()
    // tapped after the filter, so each side counts only its own rows
    def tapped(keep: Column) = fixtureDocs.filter(keep).select(col("doc_id"), tap(col("text")).as("text"))
    val n = fixtureDocs.count()
    val even = col("doc_id") % 2 === 0
    val calls = Seq[(String, () => DataFrame)](
      "jaccardPairs" -> (() => Dedup.jaccardPairs(tapped(lit(true)), "doc_id", "text", 2, 0.5)),
      "minhashLshPairsMd5" -> (() => Dedup.minhashLshPairsMd5(tapped(lit(true)), "doc_id", "text",
        shingleN = 2, numHashes = 8, bands = 4, threshold = 0.5)),
      "crossCorpusPairsMd5" -> (() => Dedup.crossCorpusPairsMd5(tapped(even), "doc_id", "text",
        tapped(!even), "doc_id", "text", shingleN = 2, numHashes = 4, bands = 4, threshold = 0.5)))
    for ((name, call) <- calls) {
      reads.reset()
      val pairs = call().collect()
      assert(pairs.nonEmpty, s"$name: a vacuous check")
      assert(reads.value == n, s"$name evaluated each document ${reads.value.toDouble / n} times")
    }
  }

  test("the signature's band keys and folded set are md5Bands' and the shingle-set fold, bit for bit") {
    val d = fixtureDocs
    for ((n, numHashes, bands) <- Seq((2, 4, 4), (3, 16, 4))) {
      val sig = Dedup.signatures(d, "doc_id", "text", n, numHashes, bands)
      // the per-shingle forms the signature replaced: band keys over the
      // md5 of each distinct shingle, and the fold of a second md5 of it
      val sh = array_distinct(Text.shingles(col("text"), n))
      val ref = d.select(col("doc_id"), size(sh).as("sz"),
        Dedup.md5BandKeysFromDigests(transform(sh, x => md5(x)), bands, numHashes / bands).as("keys"),
        sort_array(transform(sh, s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("hs"))
      val both = sig.join(ref, "doc_id")
      assert(both.count() == d.count())
      val same = col("__sz__") === col("sz") && col("__keys__") === col("keys") && col("__hs__") === col("hs")
      assert(both.filter(!same).count() == 0L, s"n=$n")
      // md5Bands' keyed rows are the signature's keys, exploded
      val keyed = Dedup.md5Bands(d, "text", n, bands, numHashes / bands, col("doc_id"))
      val exploded = sig.select(col("doc_id"), col("__sz__"), posexplode(col("__keys__")))
      assert(keyed.count() == d.count() * bands)
      assert(keyed.exceptAll(exploded).isEmpty && exploded.exceptAll(keyed).isEmpty, s"n=$n")
    }
  }

  test("dropNearDuplicates joins a small loser set without shuffling the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val d = fixtureDocs
    // the exchanges with the corpus scan below them, and CC's round-1 jobs
    def run(): (Int, Int) = {
      val pairs = Dedup.jaccardPairs(d, "doc_id", "text", shingleN = 2, threshold = 0.5)
      val (out, seen) = jobsOf(Dedup.dropNearDuplicates(d, "doc_id", pairs, "id_a", "id_b"))
      assert(out.count() < d.count())
      val shuffles = helper.collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if helper.find(e.child)(_.isInstanceOf[FileSourceScanExec]).isDefined => e
      }
      (shuffles.size, seen.count(_._2 == "graft:cc:round 1"))
    }
    // the loser set and CC's edge copy fit the broadcast threshold: no
    // shuffle of the corpus, and round 1 reads the edge copy through a
    // broadcast instead of shuffling it first
    assert(run() == ((0, 5)))
    // the decision follows the session's threshold: disabled, the anti
    // join stays a sort-merge join over a shuffled corpus
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assert(run()._1 == 1)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("connectedComponents raises rather than return partial labels at the round cap") {
    import spark.implicits._
    // 64-node path: pointer jumping reaches ~2^r nodes after r rounds, so
    // 2 rounds cannot label 64 — the cap must fire LOUDLY, never return
    // partial labels
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "a", "b", maxRounds = 2)
    }
    // and the same graph converges with headroom
    assert(Dedup.connectedComponents(chain, "a", "b", maxRounds = 20)
      .collect().map(_.getLong(1)).forall(_ == 1L))
  }

  test("connectedComponents converges on a 10k-node path graph inside the default cap") {
    import spark.implicits._
    // Adversarial worst case for plain hash-min label propagation
    // (diameter 9,999 ≫ the default 20-round cap): the pointer-jumping
    // step must carry it — O(log d) rounds, label-reach doubling per
    // round — or fail loudly. Silent wrong labels are impossible by
    // construction (the require guards non-convergence), so green here
    // means the halving argument actually holds at depth 10k.
    val n = 10000L
    val path = spark.range(1L, n).select(col("id").as("a"), (col("id") + 1L).as("b"))
    val labels = Dedup.connectedComponents(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n.toInt)
    assert(labels.forall(_._2 == 1L))
  }

  test("dropNearDuplicates keeps cluster minima and untouched singletons") {
    import spark.implicits._
    val corpus = (1L to 8L).toDF("id")
    // clusters {1,2,3} and {5,6}; 4,7,8 are singletons
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(corpus, "id", pairs, "id_a", "id_b")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("md5 minhash variant is the oracle-anchored twin of the xxhash64 fast path") {
    // Different hash families give different band collisions at middling
    // jaccard, but BOTH must (a) pair identical docs with certainty,
    // (b) report the identical exact-jaccard value for every pair they
    // agree on, and (c) never report a pair below threshold.
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "the quick brown fox jumps over the lazy dog tomorrow",
      4L -> "completely different words appear in this other document here")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fast = asMap(Dedup.minhashLshPairs(d, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3))
    val md5v = asMap(Dedup.minhashLshPairsMd5(d, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3))
    assert(fast.contains((1L, 2L)) && md5v.contains((1L, 2L)))
    assert(fast((1L, 2L)) == 1.0 && md5v((1L, 2L)) == 1.0)
    for (k <- fast.keySet intersect md5v.keySet) assert(fast(k) == md5v(k))
    assert(fast.values.forall(_ >= 0.3) && md5v.values.forall(_ >= 0.3))
  }

  test("md5 simhash banding finds exactly the pairs within the Hamming bound") {
    // exhaustive Hamming over the md5 bit signatures vs the banded join —
    // the same pigeonhole-completeness pin the xxhash64 path has
    val d = docs(
      1L -> "one two three four five six",
      2L -> "one two three four five seven",
      3L -> "one two three four eight nine",
      4L -> "ten eleven twelve thirteen fourteen fifteen")
    val sigs = d.select(col("id"),
      Text.simhashBitsMd5(Text.wordTokens(col("text"))).as("bits")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val all = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      ham = sigs(a).zip(sigs(b)).count { case (x, y) => x != y } if ham <= 3
    } yield (a, b)).toSet
    val found = Dedup.simhashPairsMd5(d, "id", "text", maxBits = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == all)
    // and identical docs are hamming-0 pairs under BOTH hash families
    val dup = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma")
    assert(Dedup.simhashPairsMd5(dup, "id", "text", maxBits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 0L)))
    assert(Dedup.simhashPairs(dup, "id", "text", maxBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 2L)))
  }

  test("fingerprint canonicalizes case and punctuation runs") {
    import spark.implicits._
    val out = Seq(("A!!B  c", "a b C")).toDF("x", "y")
      .select(Text.fingerprint(col("x")) === Text.fingerprint(col("y"))).head().getBoolean(0)
    assert(out)
  }

  test("semDedup keeps first per within-cluster dup set; cross-cluster twins both survive") {
    import spark.implicits._
    // centroids along +x and +y; ids 1/2/3 cluster on x, 4/5 on y
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)),   // near-dup of 2 (same cluster) -> keeps (first)
      (2L, Array(1.0f, 0.11f)),  // dropped (neighbor 1 has smaller id)
      (3L, Array(1.0f, -0.9f)),  // x-cluster but dissimilar -> kept
      (4L, Array(0.1f, 1.0f)),   // y cluster
      (5L, Array(0.1f, 1.0f)),   // exact twin of 4 in same cluster -> dropped
      (6L, Array(0.0f, 0.0f)))   // zero norm: NaN cosine never counts as dup
      .toDF("id", "vec")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "cvec")
    val kept = Dedup.semDedup(emb, "id", "vec", cents, "cid", "cvec", 0.95)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 6L))
    // identical twins in DIFFERENT clusters are invisible to semDedup by
    // design (the cluster partition IS the candidate bound)
    val split = Seq((10L, Array(1.0f, 0.02f)), (11L, Array(0.02f, 1.0f)))
      .toDF("id", "vec")
    val kept2 = Dedup.semDedup(split, "id", "vec", cents, "cid", "cvec", 0.0)
      .count()
    assert(kept2 == 2)
  }

  test("semDedupScalable with full probing equals exact semDedup on the fixture") {
    val emb = table("embeddings").select(col("vec_id"), col("embedding"))
    val cents = graft.ops.Kmeans.train(emb, "vec_id", "embedding", k = 16, iters = 1)
    val exact = Dedup.semDedup(emb, "vec_id", "embedding",
      cents, "centroid_id", "cvec", 0.45).select("vec_id")
    val scalable = Dedup.semDedupScalable(emb, "vec_id", "embedding",
      cents, 0.45, coarseK = 4, nProbe = 4).select("vec_id")
    assertParity(scalable, exact)
  }

  test("planBands: S-curve planning tracks the threshold and miss weight") {
    import graft.ops.Dedup
    // higher threshold -> more rows per band (steeper curve, fires later)
    val (_, rLow) = Dedup.planBands(64, 0.3)
    val (_, rHigh) = Dedup.planBands(64, 0.9)
    assert(rLow < rHigh)
    // the factorization always multiplies back to numHashes
    val (b, r) = Dedup.planBands(16, 0.5)
    assert(b * r == 16)
    // weighting misses higher pushes toward MORE bands (catch-everything)
    val (bHeavy, _) = Dedup.planBands(64, 0.7, fnWeight = 10.0)
    val (bLight, _) = Dedup.planBands(64, 0.7, fnWeight = 0.1)
    assert(bHeavy >= bLight)
    // the curve at the chosen plan actually separates: P(threshold+0.15)
    // well above P(threshold-0.15)
    val (b2, r2) = Dedup.planBands(128, 0.8)
    def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r2), b2)
    assert(p(0.95) > 0.9 && p(0.65) < 0.5)
  }

  test("editDistancePairs verifies banded candidates with exact Levenshtein") {
    // near-identical twins (distance 2), an exact dup (0), and an
    // unrelated doc that shares no shingles
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy cat tonight",
      3L -> "the quick brown fox jumps over the lazy dog tonight",
      4L -> "completely different content with no shared shingles at all")
    val out = Dedup.editDistancePairs(d, "id", "text",
        shingleN = 3, numHashes = 16, bands = 4, maxDist = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.contains((1L, 3L, 0L)), s"exact dup missing: ${out.toSeq}")
    assert(out.filter(p => Set(p._1, p._2) == Set(1L, 2L) || Set(p._1, p._2) == Set(2L, 3L))
      .forall(_._3 == 3L), s"twin distance wrong: ${out.toSeq}") // dog→cat = 3 subs
    assert(out.forall(p => p._1 != 4L && p._2 != 4L), "unrelated doc paired")
    assert(out.forall(_._3 <= 3L))
  }

  test("editDistancePairs maxDist cut rejects past-threshold candidates") {
    // Case-only difference: the lowercased shingle sets are IDENTICAL, so
    // the band keys collide deterministically in every band — but the raw
    // texts differ by 5 substitutions, past a maxDist=3 cut.
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "ALPHA beta gamma delta epsilon zeta")
    val strict = Dedup.editDistancePairs(d, "id", "text", maxDist = 3).collect()
    assert(strict.isEmpty)
    val loose = Dedup.editDistancePairs(d, "id", "text", maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(loose.toSeq == Seq((1L, 2L, 5L)))
  }

  test("crossCorpusPairsMd5 equals the self-join pairs restricted across the split") {
    // Identity: banding is per-document (same md5 keys no matter which
    // table a doc lives in), so cross-corpus pairs over a partition of one
    // corpus must be EXACTLY the self-join pairs whose endpoints straddle
    // the partition — same candidates, same exact-Jaccard verify.
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "the quick brown fox jumps over the lazy cat today",
      4L -> "completely different words appear in this other document here",
      5L -> "completely different words appear in this other document here")
    val self = Dedup.minhashLshPairsMd5(d, "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }.toSet
    val cross = Dedup.crossCorpusPairsMd5(
      d.filter(col("id") % 2 === 0), "id", "text",
      d.filter(col("id") % 2 === 1), "id", "text",
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cross == self && cross.nonEmpty, s"cross=$cross self=$self")
  }

  test("linkAgainstIndex over a persisted band index equals the direct cross join") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "the quick brown fox jumps over the lazy cat today",
      4L -> "completely different words appear in this other document here",
      5L -> "completely different words appear in this other document here")
    val batch = d.filter(col("id") % 2 === 0)
    val corpus = d.filter(col("id") % 2 === 1)
    val direct = Dedup.crossCorpusPairsMd5(batch, "id", "text",
      corpus, "id", "text", shingleN = 2, numHashes = 16, bands = 4,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val path = java.nio.file.Files.createTempDirectory("graft_bandidx")
      .resolve("idx").toString
    Dedup.writeBandIndex(corpus, "id", "text", path,
      shingleN = 2, numHashes = 16, bands = 4)
    val viaIndex = Dedup.linkAgainstIndex(batch, "id", "text", path,
      corpus, "id", "text", shingleN = 2, numHashes = 16, bands = 4,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty, s"index=$viaIndex direct=$direct")
  }

  test("every pair generator reports each pair once, with its plain-Scala reference score") {
    // Independent references written out in plain Scala: Text.shingles'
    // semantics (lowercase, whitespace tokens, space-joined n-grams, a doc
    // shorter than n is one shingle, distinct) with the exact set Jaccard;
    // the Hamming distance of the simhash signatures; Levenshtein; cosine.
    // The parity specs compare one generator with another; this one pins
    // every generator to a value computed without Spark, each pair once.
    def check(name: String, df: DataFrame, ref: (Long, Long) => Double,
        passes: Double => Boolean, certain: Seq[(Long, Long)]): Unit = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).doubleValue)
      val got = rows.toMap
      assert(got.size == rows.length, s"$name reports a pair more than once: ${rows.toSeq}")
      got.foreach { case ((a, b), v) =>
        assert(math.abs(v - ref(a, b)) <= 1e-12, s"$name ($a,$b): $v vs ${ref(a, b)}")
        assert(passes(v), s"$name ($a,$b): $v fails its threshold")
      }
      assert(certain.nonEmpty, s"$name: fixture needs pairs it must report")
      certain.foreach(p => assert(got.contains(p), s"$name missed pair $p"))
    }
    val n = 2
    val t = 0.3
    def shingleSet(text: String): Set[String] = {
      val w = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (w.size >= n) w.sliding(n).map(_.mkString(" ")).toSet else Set(w.mkString(" "))
    }
    val rows = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "The  quick brown fox jumps over the lazy dog near the river   bank",
      3L -> "the quick brown fox jumps over the lazy cat near the river bank",
      4L -> "the quick brown fox leaps over the lazy dog near the river bank",
      5L -> "a completely unrelated sentence about cooking pasta with garlic and oil",
      6L -> "a completely unrelated sentence about cooking pasta with garlic and oil",
      7L -> "stock markets rallied today as investors cheered the earnings reports",
      8L -> "stock markets rallied today as investors cheered the strong earnings reports",
      9L -> "hello",
      10L -> "HELLO",
      11L -> "rain rain rain go away come again another day",
      12L -> "rain rain go away come again another day",
      13L -> "winter is coming",
      14L -> "the quick brown fox jumps over the lazy dog near the river bank")
    val sets = rows.map { case (id, text) => id -> shingleSet(text) }.toMap
    def ref(a: Long, b: Long): Double =
      (sets(a) intersect sets(b)).size.toDouble / (sets(a) union sets(b)).size
    // identical sets collide in every band, so they are always reported
    def checkJaccard(name: String, df: DataFrame, candidates: Seq[(Long, Long)]): Unit =
      check(name, df, ref, _ >= t, candidates.filter { case (a, b) => ref(a, b) == 1.0 })
    val d = docs(rows: _*)
    val ids = rows.map(_._1)
    val selfPairs = for (a <- ids; b <- ids if a < b) yield (a, b)
    checkJaccard("minhashLshPairs", Dedup.minhashLshPairs(d, "id", "text",
      shingleN = n, numHashes = 16, bands = 4, threshold = t), selfPairs)
    checkJaccard("jaccardPairs", Dedup.jaccardPairs(d, "id", "text",
      shingleN = n, threshold = t), selfPairs)
    checkJaccard("minhashLshPairsMd5", Dedup.minhashLshPairsMd5(d, "id", "text",
      shingleN = n, numHashes = 16, bands = 4, threshold = t), selfPairs)

    val batch = d.filter(col("id") % 2 === 0)
    val corpus = d.filter(col("id") % 2 === 1)
    val crossPairs = for (l <- ids if l % 2 == 0; r <- ids if r % 2 == 1) yield (l, r)
    checkJaccard("crossCorpusPairsMd5", Dedup.crossCorpusPairsMd5(batch, "id", "text",
      corpus, "id", "text", shingleN = n, numHashes = 16, bands = 4, threshold = t),
      crossPairs)
    val path = java.nio.file.Files.createTempDirectory("graft_bandidx_ref")
      .resolve("idx").toString
    Dedup.writeBandIndex(corpus, "id", "text", path,
      shingleN = n, numHashes = 16, bands = 4)
    checkJaccard("linkAgainstIndex", Dedup.linkAgainstIndex(batch, "id", "text", path,
      corpus, "id", "text", shingleN = n, numHashes = 16, bands = 4, threshold = t),
      crossPairs)
    val claims = graft.streaming.EventStream.linkClaimsAgainstIndex(batch, "id", "text",
      spark.read.parquet(path), shingleN = n, numHashes = 16, bands = 4)
    checkJaccard("linksFromClaims", graft.streaming.EventStream.linksFromClaims(claims,
      batch, "id", "text", corpus, "id", "text", shingleN = n, threshold = t),
      crossPairs)

    // simhash: banding on the pigeonhole chunks is complete, so every
    // pair within the bound is reported
    val maxBits = 12
    val sims = d.select(col("id"), Text.simhash(Text.wordTokens(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def simRef(a: Long, b: Long) = java.lang.Long.bitCount(sims(a) ^ sims(b)).toDouble
    check("simhashPairs", Dedup.simhashPairs(d, "id", "text", maxBits),
      simRef, _ <= maxBits, selfPairs.filter { case (a, b) => simRef(a, b) <= maxBits })
    val bits = d.select(col("id"), Text.simhashBitsMd5(Text.wordTokens(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def bitsRef(a: Long, b: Long) = bits(a).zip(bits(b)).count { case (x, y) => x != y }.toDouble
    check("simhashPairsMd5", Dedup.simhashPairsMd5(d, "id", "text", maxBits),
      bitsRef, _ <= maxBits, selfPairs.filter { case (a, b) => bitsRef(a, b) <= maxBits })

    // edit distance: identical texts share every band key
    val text = rows.toMap
    def levRef(a: Long, b: Long): Double = {
      val (x, y) = (text(a), text(b))
      var prev = Array.tabulate(y.length + 1)(identity)
      for (i <- 1 to x.length) {
        val cur = Array.fill(y.length + 1)(i)
        for (j <- 1 to y.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        prev = cur
      }
      prev(y.length).toDouble
    }
    check("editDistancePairs", Dedup.editDistancePairs(d, "id", "text", maxDist = 5),
      levRef, _ <= 5, selfPairs.filter { case (a, b) => text(a) == text(b) })

    // embedding LSH: identical vectors share every bucket
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(3)(Array.fill(16)(rnd.nextFloat() - 0.5f))
    val vecs = Seq(1L -> base(0), 2L -> base(0), 3L -> base(1), 4L -> base(1), 5L -> base(2)) ++
      (6L to 9L).map(i => i -> base(0).map(_ + 0.02f * (rnd.nextFloat() - 0.5f))) ++
      (10L to 13L).map(i => i -> Array.fill(16)(rnd.nextFloat() - 0.5f))
    val byId = vecs.toMap
    def cosRef(a: Long, b: Long): Double = {
      val (x, y) = (byId(a).map(_.toDouble), byId(b).map(_.toDouble))
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    check("embeddingPairsLsh",
      Dedup.embeddingPairsLsh(vecs.toDF("id", "vec"), "id", "vec", threshold = 0.9),
      cosRef, _ >= 0.9, Seq((1L, 2L), (3L, 4L)))
  }

  test("embeddingPairsLsh drops vectors that can never verify before the bucket join") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // Each kind the LSH drops: all-zero (+0 and -0), null, empty, a null,
    // NaN or infinite element. Alone, 300 zero vectors would share the
    // all-ones bucket of every table — ~45k doomed candidates per table.
    val zeros = (0L until 300L).map(i => Row(i, Seq.fill(8)(if (i % 2 == 0) 0f else -0f)))
    val dropped = zeros ++ Seq(Row(300L, null), Row(301L, Seq.empty[Float]),
      Row(302L, Seq[Any](1f, null, 2f)), Row(303L, Seq(1f, Float.NaN, 2f)),
      Row(304L, Seq(Float.PositiveInfinity, 1f)), Row(305L, Seq(1f, Float.NegativeInfinity)))
    val rnd = new scala.util.Random(5)
    val twin = Seq.fill(8)(rnd.nextFloat() - 0.5f)
    val kept = Seq(Row(400L, twin), Row(401L, twin)) ++
      (402L until 412L).map(i => Row(i, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType, containsNull = true))))
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the brute baseline never reports a dropped kind, at any threshold
    val all = frame(dropped ++ kept)
    val brute = pairs(Dedup.embeddingPairsBrute(all, "id", "vec", threshold = -2.0))
    assert(brute.size == 12 * 11 / 2 && brute.forall { case (a, b) => a >= 400L && b >= 400L })
    assert(pairs(Dedup.embeddingPairsLsh(all, "id", "vec", threshold = 0.8)) ==
      pairs(Dedup.embeddingPairsBrute(all, "id", "vec", threshold = 0.8)))

    // and no dropped row reaches the bucket join: only the twins, once per table
    val lsh = Dedup.embeddingPairsLsh(frame(dropped ++ kept.take(2)), "id", "vec", threshold = 0.8)
    assert(pairs(lsh) == Set((400L, 401L)))
    // the bucket join is the one on two keys (band, bucket); the verify
    // joins are on one id each
    val joins = new AdaptiveSparkPlanHelper {}.collect(lsh.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.size == 2 => j
    }
    assert(joins.size == 1, s"one bucket join expected: $joins")
    assert(joins.head.metrics("numOutputRows").value == 8L)
  }
}
