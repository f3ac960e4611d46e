package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}

/**
 * Deduplication for training-data pipelines: exact, MinHash-LSH,
 * SimHash, and n-gram-Jaccard near-dup. All formulations are
 * shuffle-on-bucket joins/aggregations — no driver materialization, no
 * all-pairs cross product — so they hold at 100 TB (candidate volume is
 * governed by band/bucket width, and skewed buckets split under AQE).
 */
object Dedup {

  /** Exact dedup on a canonicalized content fingerprint: one hash shuffle on
    * the fingerprint, keep the smallest id per group (deterministic). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp__")).orderBy(col(idCol).asc)
    df.withColumn("__fp__", Text.fingerprint(col(textCol)))
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .drop("__fp__", "__rn__")
  }

  /** Per-fingerprint group stats (the audit view of exact dedup). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /**
   * LSH band planning (the MMDS S-curve rule, Leskovec/Rajaraman/Ullman
   * ch. 3): for `numHashes` minhashes split into b bands of r rows, the
   * candidate probability at Jaccard s is 1 − (1 − s^r)^b. Pick the
   * (bands, rowsPerBand) factorization whose S-curve best separates the
   * caller's `threshold`: minimize ∫₀ᵗ P(s) ds (false-candidate mass —
   * wasted verify joins) + ∫ᵗ¹ (1 − P(s)) ds (missed-duplicate mass),
   * with `fnWeight` scaling the miss term (dedup pipelines usually weight
   * misses ≥ candidates: a false candidate costs one exact-Jaccard
   * verify, a miss is a duplicate that ships to training).
   *
   * Driver-side arithmetic over the ≤ d(numHashes) factorizations — call
   * it once when configuring [[minhashLshPairs]], not per row.
   */
  def planBands(numHashes: Int, threshold: Double,
      fnWeight: Double = 2.0): (Int, Int) = {
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    val grid = 1000
    def cost(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < grid) {
        val s = (i + 0.5) / grid
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p else fn += (1.0 - p)
        i += 1
      }
      (fp + fnWeight * fn) / grid
    }
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) => cost(b, r) }
  }

  /**
   * MinHash-LSH near-duplicate pairs under an xxhash64 signature: a
   * `numHashes` minhash signature per document, split into `bands`
   * bands of `numHashes / bands` rows, each band hashed to one key
   * ([[bandRows]]); candidates come from the band-bucket self-join
   * ([[selfCandidates]]) and are verified with the exact shingle-set
   * Jaccard ([[verifyJaccard]]) over xxhash64-folded sets. No other
   * engine reproduces this signature; [[minhashLshPairsMd5]] is the
   * oracle-checked twin.
   */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val r = rowsPerBand(numHashes, bands)
    val banded = bandRows(df, textCol, shingleN, col(idCol))(
      Text.minhashSignature(_, numHashes),
      sig => transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(concat_ws(",", slice(sig, b * r + 1, lit(r)).cast("array<string>")), b)))
    // xxhash64 fold: the same 8 B/shingle and exactness argument as
    // [[foldedShingleSet]], in this path's hash family
    def sets(s: String) = df.select(col(idCol).as(s"id_$s"),
      transform(array_distinct(Text.shingles(col(textCol), shingleN)),
        x => xxhash64(x)).as(s"hs_$s"))
    verifyJaccard(selfCandidates(banded, idCol, threshold), sets("a"), sets("b"), threshold)
  }

  /** SimHash near-dup: pairs whose 64-bit simhashes differ in ≤ `maxBits`
    * bits. Candidates are generated by banding the simhash into
    * `maxBits + 1` chunks — by pigeonhole, any pair within Hamming
    * distance `maxBits` agrees on at least one full chunk, so the
    * guarantee holds for every `maxBits` in [0, 63], not just the
    * 4×16-bit special case. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxBits: Int = 3): DataFrame = {
    require(maxBits >= 0 && maxBits < 64, s"maxBits must be in [0, 64): $maxBits")
    val nChunks = maxBits + 1
    // Chunk i covers bits [bounds(i), bounds(i+1)) — widths differ by at
    // most one bit when nChunks does not divide 64.
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    // native codegen'd simhash (graft.plans.SimHash64) — identical bits
    // to Text.simhash, without the 64-wide lambda tree per token
    graft.plans.GraftExtensions.register(df.sparkSession)
    val hashed = df.select(col(idCol),
      call_function("graft_simhash", Text.wordTokens(col(textCol))).as("__sim__"))
    val chunked = hashed.select(col(idCol), col("__sim__"),
      posexplode(array((0 until nChunks).map { i =>
        val width = bounds(i + 1) - bounds(i)
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("__sim__"), bounds(i)).bitwiseAND(lit(mask))
      }: _*)))
      .withColumnRenamed("pos", "__chunk__").withColumnRenamed("col", "__key__")
    val a = chunked.select(col(idCol).as("id_a"), col("__sim__").as("sim_a"), col("__chunk__"), col("__key__"))
    val b = chunked.select(col(idCol).as("id_b"), col("__sim__").as("sim_b"), col("__chunk__"), col("__key__"))
    a.join(b, Seq("__chunk__", "__key__"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Text.hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxBits)
  }

  /** Exact n-gram Jaccard similarity over MinHash-banded candidate pairs —
    * the SQL-checkable near-dup.
    *
    * The candidate key for band b is a true MinHash under an
    * engine-portable random order: md5(b + ":" + shingle) minimized over
    * the doc's shingle set (md5 hex strings are a uniform total order both
    * Spark and DuckDB compute identically, unlike xxhash64). P(two docs
    * share band b's key) = their Jaccard, so candidate recall after
    * `nBands` bands is 1-(1-J)^nBands (≈0.94 at J=0.5 with 4 bands) and
    * keys are high-cardinality — bucket sizes track true near-dup cluster
    * sizes. This replaces the earlier word-count÷10 band, whose
    * low-cardinality length-clustered key degraded the self-join toward
    * quadratic on real corpora and silently missed near-dups straddling a
    * length-band edge. Pairs found by several bands dedupe before the
    * threshold filter; the reported jaccard is always the exact shingle-set
    * value. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, nBands: Int = 4): DataFrame =
    md5BandedPairs(df, idCol, textCol, shingleN, threshold, nBands, rowsPerBand = 1)

  /** MinHash-LSH near-dup pairs under the ENGINE-PORTABLE md5 hash order —
    * the independently-checkable twin of [[minhashLshPairs]] (whose
    * xxhash64 signature no other engine reproduces). Band b's key is the
    * concatenation of `rowsPerBand` true MinHashes, row r drawing its
    * random order from md5((b·rowsPerBand+r) + ":" + shingle) — so
    * P(key collision) = J^rowsPerBand per band and the S-curve matches the
    * classic (bands, rows) trade-off. Same steps as the xxhash64 path; it
    * anchors the family to a DuckDB oracle (q104b) and a parity spec.
    * It is not the slower path: one ScaleDedupBench run over sf0.01 on 4
    * cores (16 hashes, 4 bands, t = 0.2) timed it at 0.70 s (1×) and
    * 0.79 s (2×) against 0.98 s and 1.03 s for [[minhashLshPairs]] — one
    * md5 per shingle in the native band kernel costs less than the
    * signature's numHashes × (array_distinct + xxhash64) per document. */
  def minhashLshPairsMd5(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    md5BandedPairs(df, idCol, textCol, shingleN, threshold, bands,
      rowsPerBand(numHashes, bands))

  /** One md5 digest (32 hex chars) per shingle — the ONLY md5 work that
    * scales with shingle volume. Every MinHash order derives from this
    * digest via [[md5BandKeysFromDigests]] rotation lanes, so the
    * per-shingle hash cost is constant in numHashes (it used to be one
    * md5 per shingle PER HASH — numHashes× the work). Project this into a
    * column BEFORE banding so the digest array is provably computed once
    * (CollapseProject keeps a multi-referenced non-cheap alias
    * materialized). DuckDB twin: `md5(s)`. */
  def shingleDigests(shingleArr: Column): Column =
    transform(shingleArr, x => md5(x))

  /** The engine-portable md5 LSH band keys as one expression: an array of
    * `nBands` 8-byte binary keys over a [[shingleDigests]] column. Hash
    * h's random order over shingles is LEXICOGRAPHIC ON THE LANE
    * `substr(digest, h+1, 16)` — the 16-hex-char (64-bit) window at char
    * offset h of the 32-char digest — so one md5 serves all numHashes
    * hash functions. Each lane leads with a fresh digest char, so
    * per-lane argmins are ~independent and the classic (bands, rows)
    * S-curve is unchanged (measured: candidate volume identical to
    * per-index md5 within 0.1% on the 32× corpus); past 16 lanes the
    * window runs off the digest, hence the cap. Band b's raw key
    * concatenates its `rowsPerBand` lane-minima, folded to 8 bytes before
    * any exchange — see [[md5Bands]] for the collision-safety argument.
    * The whole computation is ONE native kernel
    * ([[graft.plans.LaneMinBandKeys]]): a single pass over the digest
    * array holding lane minima as views — the `transform`/`array_min`
    * tree walked the array once per hash with two allocations per
    * element, and THAT (not the md5 count) measured as the banding
    * floor. DuckDB reproduces every step (`substr(md5(s), b*rpb+r+1, 16)`
    * lanes, `md5`-fold, 8-byte `unhex(substr(…))`), so batch, stream,
    * index, and oracle all band identically. */
  def md5BandKeysFromDigests(digArr: Column, nBands: Int, rowsPerBand: Int): Column =
    call_function("graft_band_keys", digArr, lit(nBands), lit(rowsPerBand))

  /** [[md5BandKeysFromDigests]] over a raw shingle array — for one-shot
    * callers; when the keys feed several expressions, project
    * [[shingleDigests]] first so the md5 pass runs once. */
  def md5BandKeys(shingleArr: Column, nBands: Int, rowsPerBand: Int): Column =
    md5BandKeysFromDigests(shingleDigests(shingleArr), nBands, rowsPerBand)

  /** The exact-verify payload: each shingle folded to its 60-bit md5
    * prefix (`conv(substr(md5(s),1,15),16,10)` — DuckDB mirrors it as
    * `CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT)`). Jaccard over the
    * folded sets equals the raw shingle-set Jaccard unless two DISTINCT
    * shingles of the same PAIR collide at 60 bits — P ≈ m²/2^61 per pair
    * (m = shingles/doc), < 10⁻¹² even at m = 10³ — and both engines fold
    * identically, so the oracle gate is exact by construction. The point
    * is exchange/spill bytes: the verify join attaches 8 bytes/shingle
    * instead of the raw n-gram string (~20–40 B + offsets), which is the
    * stage that hit the single-node disk-spill wall at the 64× probe
    * (130M candidate pairs × ~4 KB attached arrays per side). */
  private[graft] def foldedShingleSet(text: Column, shingleN: Int): Column =
    transform(array_distinct(Text.shingles(text, shingleN)),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))

  /** EXACT candidate prefilter from distinct-shingle counts alone:
    * J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|) (the intersection can't
    * exceed the smaller set; the union can't undercut the larger), so a
    * pair whose size ratio is already below the threshold can NEVER
    * verify — dropping it loses nothing, unlike a lane-minima estimate
    * (which has false negatives). The comparison is the same double
    * division the exact verify performs (correctly-rounded division is
    * monotone, so bound < threshold in doubles ⇒ jaccard < threshold in
    * doubles) — the survivor set provably contains every output pair.
    * The sizes ride the band join at 8 B/side, filtering BEFORE the
    * pair-distinct exchange and the folded-set attach — this is the
    * first stage of the two-stage verify that pulled the 64× probe's
    * per-task sort memory back toward the default-heap operating point
    * (see SCALE_r12.json). Empty-set docs (size 0) yield NaN here and
    * NaN in the verify — dropped by both, consistently. */
  private def sizeRatioBound(szA: Column, szB: Column): Column =
    least(szA, szB).cast("double") / greatest(szA, szB).cast("double")

  /** `numHashes / bands`, the rows of each band. */
  private[graft] def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    numHashes / bands
  }

  // ---- The steps every MinHash pair generator is built from -----------
  //
  // band:        [[bandRows]] / [[md5Bands]], one row per (doc, band)
  // candidates:  [[selfCandidates]] (one table), [[bandCandidates]] (after
  //              any band join), [[indexCandidates]] (a persisted index)
  // verify:      [[foldedSets]] + [[verifyJaccard]]
  //
  // Exchange discipline, for all of them: the band join and the
  // candidate-pair `distinct` carry ONLY (band, key, id[, size]) and
  // (id, id) — never the shingle arrays (KBs/doc; the naive formulation
  // shuffles them 2×bands× plus once per matched pair). The folded sets
  // re-attach by id just before the exact verify, so each doc's set
  // crosses an exchange at most twice regardless of band count or bucket
  // skew. Shingles are recomputed on the re-attach branch (a codegen'd
  // map over the scan) on purpose: CPU is cheap next to exchange bytes at
  // corpus scale, and each pair is verified once, not once per band.
  //
  // The simhash, md5-simhash and embedding-LSH self-joins below keep their
  // own candidate joins: their keys are not shingle bands and they have no
  // set size to cull on, so sharing [[selfCandidates]] would branch on the
  // caller.

  /** Band step: one row per (document, band) with the `keep` columns,
    * the document's distinct-shingle count `__sz__` (for
    * [[sizeRatioBound]]), `__band__` and its key `__key__`. `summary`
    * maps the distinct shingle array to the per-document column the keys
    * read (md5 digests, or a minhash signature), projected on its own so
    * it is computed once; `keys` maps that column to the array of band
    * keys. */
  private def bandRows(df: DataFrame, textCol: String, shingleN: Int, keep: Column*)(
      summary: Column => Column, keys: Column => Column): DataFrame =
    df.select(keep :+ array_distinct(Text.shingles(col(textCol), shingleN)).as("__sh__"): _*)
      .withColumn("__dg__", summary(col("__sh__")))
      .select(col("*"), size(col("__sh__")).as("__sz__"), posexplode(keys(col("__dg__"))))
      .drop("__sh__", "__dg__")
      .withColumnRenamed("pos", "__band__")
      .withColumnRenamed("col", "__key__")

  /** [[bandRows]] under the engine-portable md5 band keys — the one band
    * step of the batch pairs, the persisted index and the stream. The raw
    * key is `rowsPerBand` md5 hex strings joined with '|' (up to 131
    * chars, shuffled twice in a band join); it is folded to 8 bytes
    * (unhex of the first 16 md5 hex chars — DuckDB reproduces the fold)
    * before any exchange. A 64-bit collision can only MERGE two buckets,
    * adding spurious candidates the exact verify filters; it can never
    * drop a true candidate, so the fold trades zero correctness for ~8×
    * narrower band-join exchanges. */
  private[graft] def md5Bands(df: DataFrame, textCol: String, shingleN: Int,
      nBands: Int, rowsPerBand: Int, keep: Column*): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    bandRows(df, textCol, shingleN, keep: _*)(
      shingleDigests, md5BandKeysFromDigests(_, nBands, rowsPerBand))
  }

  /** One side of a band join: a [[bandRows]] output with its id and size
    * renamed to `id_<s>` / `sz_<s>`. */
  private def bandSide(banded: DataFrame, idCol: String, s: String): DataFrame =
    banded.select(col(idCol).as(s"id_$s"), col("__sz__").as(s"sz_$s"),
      col("__band__"), col("__key__"))

  /** Candidate step after a band join of sides `a` and `b`: the exact
    * size-ratio cull ([[sizeRatioBound]]) before the distinct exchange
    * and the folded-set attach, then one row per distinct (id_a, id_b). */
  private def bandCandidates(joined: DataFrame, a: String, b: String,
      threshold: Double): DataFrame =
    joined.filter(sizeRatioBound(col(s"sz_$a"), col(s"sz_$b")) >= threshold)
      .select(s"id_$a", s"id_$b")
      .distinct()

  /** Candidate step of a self-join: band-bucket equi-join (hash-partitioned
    * on (band, key), so linear in bucket sizes), each unordered pair once
    * as `id_a < id_b`. The order filter is the caller's difference from the
    * two-table join (ids of two tables share no order), so it is applied
    * here, on the joined rows, not inside [[bandCandidates]]. */
  private def selfCandidates(banded: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    bandCandidates(bandSide(banded, idCol, "a")
      .join(bandSide(banded, idCol, "b"), Seq("__band__", "__key__"))
      .filter(col("id_a") < col("id_b")), "a", "b", threshold)

  /** Index-candidate step: `docs` banded map-side ([[md5Bands]]) and
    * equi-joined to a persisted [[writeBandIndex]] output on (band, key);
    * one (id_l, id_r) row per colliding band, NOT deduplicated (a stream
    * cannot `distinct` without unbounded state). No size cull: the index
    * carries only (band, key, id), and adding a size column is an
    * index-format version bump not taken for a path whose verify is
    * already candidate-driven. */
  private[graft] def indexCandidates(docs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, shingleN: Int, numHashes: Int, bands: Int): DataFrame =
    md5Bands(docs, textCol, shingleN, bands, rowsPerBand(numHashes, bands),
      col(idCol).as("id_l"))
      // partitionBy wrote __band__ as a partition column; __key__ stays binary
      .join(index.select(col("id_r"), col("__band__").cast("int"), col("__key__")),
        Seq("__band__", "__key__"))
      .select("id_l", "id_r")

  /** Verify payload of one side: (`id_<s>`, `hs_<s>`) with the
    * [[foldedShingleSet]] of each document. */
  private[graft] def foldedSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, s: String): DataFrame =
    df.select(col(idCol).as(s"id_$s"), foldedShingleSet(col(textCol), shingleN).as(s"hs_$s"))

  /** Verify step: re-attach each side's folded set to the candidate
    * pairs by two id-equi-joins, then the exact Jaccard
    * |A∩B| / |A∪B| and the `threshold` filter. `a` and `b` are two-column
    * (id, folded set) frames ([[foldedSets]]); their id columns name the
    * candidate columns they join on. Returns (idA, idB, jaccard). */
  private[graft] def verifyJaccard(candidates: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame = {
    val Array(idA, hsA) = a.columns
    val Array(idB, hsB) = b.columns
    candidates.join(a, Seq(idA)).join(b, Seq(idB))
      .select(col(idA), col(idB),
        (size(array_intersect(col(hsA), col(hsB))).cast("double") /
          size(array_union(col(hsA), col(hsB))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def md5BandedPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, nBands: Int, rowsPerBand: Int): DataFrame =
    verifyJaccard(
      selfCandidates(md5Bands(df, textCol, shingleN, nBands, rowsPerBand, col(idCol)),
        idCol, threshold),
      foldedSets(df, idCol, textCol, shingleN, "a"),
      foldedSets(df, idCol, textCol, shingleN, "b"), threshold)

  /**
   * Cross-corpus fuzzy join (record linkage / entity resolution): MinHash-
   * banded candidate pairs BETWEEN two tables, verified with the exact
   * shingle-set Jaccard. The two-table sibling of [[minhashLshPairsMd5]]
   * — same engine-portable md5 band keys ([[md5Bands]], so both sides
   * band identically no matter which table a document lives in), same
   * band-bucket equi-join, but left ⋈ right instead of a self-join and no
   * id ordering filter (ids come from different key spaces).
   *
   * This is the "which of these 10M new crawl docs already exist in the
   * 10B-doc corpus" / "link these two entity tables on fuzzy names" shape:
   * candidate volume is band-governed (linear in bucket sizes, never
   * |L|×|R|). When one side is dimension-sized its banded form
   * broadcasts under AQE automatically.
   */
  def crossCorpusPairsMd5(
      left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val r = rowsPerBand(numHashes, bands)
    def side(df: DataFrame, id: String, text: String, s: String) =
      bandSide(md5Bands(df, text, shingleN, bands, r, col(id)), id, s)
    verifyJaccard(
      bandCandidates(side(left, leftId, leftText, "l")
        .join(side(right, rightId, rightText, "r"), Seq("__band__", "__key__")),
        "l", "r", threshold),
      foldedSets(left, leftId, leftText, shingleN, "l"),
      foldedSets(right, rightId, rightText, shingleN, "r"), threshold)
  }

  /**
   * Persisted LSH band index — the incremental-ingestion half of
   * [[crossCorpusPairsMd5]]. At 100 TB the corpus's shingle/minhash pass
   * is the expensive stage; re-running it for every arriving batch is
   * O(corpus) per batch. Instead, materialize the banded keys ONCE
   * ((band, 8-byte key, id) — a few dozen bytes/doc, ~10⁻³ of the text)
   * and link each new batch against the stored index: per-batch cost
   * becomes O(batch + matched buckets).
   *
   * `writeBandIndex` computes and writes the index partitioned by
   * `__band__` (partition pruning applies when a probe targets specific
   * bands); [[linkAgainstIndex]] bands only the BATCH side, joins it to
   * the index on (band, key), and verifies candidates with the exact
   * shingle-set Jaccard — corpus text is touched only for the matched
   * candidate ids.
   *
   * Identity pinned in DedupSpec: linkAgainstIndex(batch, index(corpus))
   * ≡ crossCorpusPairsMd5(batch, corpus) — the index is a pure
   * materialization, not an approximation.
   */
  def writeBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4): Unit =
    md5Bands(corpus, textCol, shingleN, bands, rowsPerBand(numHashes, bands),
      col(idCol).as("id_r"))
      .drop("__sz__")
      .write.mode("overwrite").partitionBy("__band__").parquet(path)

  /** Link a new batch against a [[writeBandIndex]] output. `corpus` must
    * be the table the index was built from (its text re-attaches by id
    * for the exact-Jaccard verify of matched candidates only). Same
    * (shingleN, numHashes, bands) as the index build — the caller owns
    * that contract, exactly as with any persisted index. The size-ratio
    * cull does not run here ([[indexCandidates]]); the exact verify
    * filters the same pairs one join later. */
  def linkAgainstIndex(batch: DataFrame, batchId: String, batchText: String,
      indexPath: String, corpus: DataFrame, corpusId: String,
      corpusText: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    // localCheckpoint: candidates feed TWO branches (the id semi-join
    // below and the final verify join) — without it the narrow index
    // scan + band join would re-run per branch
    val candidates = indexCandidates(batch, batchId, batchText,
      batch.sparkSession.read.parquet(indexPath), shingleN, numHashes, bands)
      .distinct()
      .localCheckpoint()
    // Verify is candidate-driven: semi-join the corpus on the matched ids
    // FIRST (an O(matched)-row side AQE broadcasts), THEN shingle — the
    // per-row tokenize/shingle CPU, which dominates the text stage, runs
    // only for matched docs instead of the whole corpus (measured: the
    // full-corpus shingling made linking a constant batch cost 10× more
    // against a 32× index — O(corpus), exactly what this path exists to
    // avoid). The corpus SCAN still reads (id, text) bytes once; at
    // production scale an id-bucketed corpus layout (or a persisted
    // digest docstore) turns that into a bucket-pruned point lookup —
    // the scan is IO-bound and filter-pushed either way, never
    // shingle-CPU-bound.
    val candIds = candidates.select(col("id_r")).distinct()
    verifyJaccard(candidates,
      foldedSets(batch, batchId, batchText, shingleN, "l"),
      foldedSets(corpus.join(candIds, corpus(corpusId) === candIds("id_r"), "left_semi"),
        corpusId, corpusText, shingleN, "r"), threshold)
  }

  /** Edit-distance-verified near-dup pairs: MinHash-banded candidate
    * generation (engine-portable md5 path, NO jaccard cutoff — every
    * banded collision survives to the verify) followed by an exact
    * Levenshtein check on the raw text. The verify is the expensive step
    * at scale — three guards bound it: candidate volume is band-governed
    * (never all-pairs), a length prefilter skips pairs whose size gap
    * already exceeds `maxDist` (|len(a)−len(b)| is a Levenshtein lower
    * bound) without running the DP, and the DP itself is the banded
    * O(n·maxDist) threshold variant (`levenshtein(l, r, threshold)`),
    * not the full O(n·m) matrix. Returns (id_a, id_b, edit_dist ≤
    * maxDist). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val cand = minhashLshPairsMd5(df, idCol, textCol, shingleN, numHashes,
      bands, threshold = 0.0).select("id_a", "id_b")
    cand
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__ta__")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__tb__")), Seq("id_b"))
      .filter(abs(length(col("__ta__")) - length(col("__tb__"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta__"), col("__tb__"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0) // threshold variant returns -1 past maxDist
  }

  /** SimHash near-dup pairs under the ENGINE-PORTABLE md5 token hash —
    * the independently-checkable twin of [[simhashPairs]] (q105b). The
    * simhash is kept as a 64-element ±bit array ([[Text.simhashBitsMd5]]):
    * chunk keys are bit-substrings (pigeonhole guarantee identical to the
    * fast path), the candidate join carries only (id, chunk, key), and the
    * bit arrays (64 ints ≈ 0.3 KB) re-attach by id for the exact Hamming
    * verify. */
  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
      maxBits: Int = 3): DataFrame = {
    require(maxBits >= 0 && maxBits < 64, s"maxBits must be in [0, 64): $maxBits")
    val nChunks = maxBits + 1
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    val hashed = df.select(col(idCol),
      Text.simhashBitsMd5(Text.wordTokens(col(textCol))).as("__bits__"))
    val chunked = hashed.select(col(idCol),
      posexplode(array((0 until nChunks).map { i =>
        concat_ws("", slice(col("__bits__"), bounds(i) + 1, bounds(i + 1) - bounds(i))
          .cast("array<string>"))
      }: _*)))
      .withColumnRenamed("pos", "__chunk__").withColumnRenamed("col", "__key__")
    val a = chunked.select(col(idCol).as("id_a"), col("__chunk__"), col("__key__"))
    val b = chunked.select(col(idCol).as("id_b"), col("__chunk__"), col("__key__"))
    val candidates = a.join(b, Seq("__chunk__", "__key__"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(hashed.select(col(idCol).as("id_a"), col("__bits__").as("bits_a")), Seq("id_a"))
      .join(hashed.select(col(idCol).as("id_b"), col("__bits__").as("bits_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("bits_a"), col("bits_b"), (x, y) => abs(x - y)),
          lit(0), (acc, x) => acc + x).cast("long").as("hamming"))
      .filter(col("hamming") <= maxBits)
  }

  /** Embedding-cosine near-duplicate pairs — exact baseline: broadcast
    * self-join scoring every (i<j) pair with the codegen'd native cosine.
    * Quadratic by definition; the verify oracle for [[embeddingPairsLsh]]
    * and correct at any corpus size where n² pairs are acceptable.
    *
    * The whole corpus is broadcast, so `maxRows` caps it (same valve as
    * `Frame.transpose`'s maxCells) — a clear error beats a driver OOM.
    * Past the cap, [[embeddingPairsLsh]] is the scale path. */
  def embeddingPairsBrute(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"embeddingPairsBrute broadcasts the corpus and scores n² pairs: $n rows > " +
        s"maxRows=$maxRows; raise maxRows explicitly or use embeddingPairsLsh")
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va__"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb__"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.nativeCosine(df)(col("__va__"), col("__vb__")))
      // Spark orders NaN above every double, so a zero-norm vector (cosine
      // 0/0 = NaN) would pass ANY threshold — a pair with no defined angle
      // is not a near-dup
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-cosine near-dup at scale: multi-table random-hyperplane
    * LSH (deterministic planes — no broadcast state, the q108 machinery)
    * buckets the corpus, candidates come from the (table, bucket)
    * equi-self-join, and every candidate is verified with the exact
    * cosine — precision 1.0, recall ≈ 1-(1-p^nPlanes)^nTables with
    * p = 1 - θ/π. Sized for true near-dups (cos ≥ 0.9 → ~98% recall at
    * 6 planes × 8 tables); raise nTables for lower thresholds.
    *
    * Exchanges carry id/bucket columns only (table join + pair distinct);
    * the embedding vectors re-attach by id just before the exact-cosine
    * verify — the exchange discipline of the MinHash steps above. */
  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 6, nTables: Int = 8): DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol))
    val banded = vecs.select(col(idCol),
      posexplode(array((0 until nTables).map(t =>
        Similarity.lshBucket(col(vecCol), nPlanes, t)): _*)))
      .withColumnRenamed("pos", "__table__")
      .withColumnRenamed("col", "__bucket__")
    val a = banded.select(col(idCol).as("id_a"), col("__table__"), col("__bucket__"))
    val b = banded.select(col(idCol).as("id_b"), col("__table__"), col("__bucket__"))
    val candidates = a.join(b, Seq("__table__", "__bucket__"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va__")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb__")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.nativeCosine(df)(col("__va__"), col("__vb__")).as("cosine"))
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold) // see brute: NaN ≠ near-dup
  }

  /**
   * Near-dup clustering: connected components over a candidate-pair edge
   * list — the step after any pair generator above (a near-dups b, b
   * near-dups c ⇒ {a,b,c} is one duplicate cluster, keep one
   * representative). Hash-min label propagation with pointer jumping
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14): each round, a node's label drops to the minimum label among
   * itself and its neighbours; fixpoint = each component labelled by its
   * minimum member id.
   *
   * Seed: every node starts at `least(id, min(neighbour id))`, one
   * groupBy over the undirected edge list. That is exactly the state one
   * round of propagation reaches from identity labels, so the identity
   * pass is never run. Near-dup graphs (mostly pairs, small stars and
   * triangles) are already at their fixpoint after the seed, and finish
   * in one round whose only result is "no label dropped".
   *
   * One round = one job set: pointer jump (labels ⋈ labels on comp = id,
   * i.e. comp := min(comp, comp[comp])), neighbour propagation (edges ⋈
   * labels) and one groupBy-min, forced by one eager `localCheckpoint`
   * that also truncates the lineage (same discipline as
   * [[Kmeans.train]]). All linear in |E|+|V|. The jump doubles the label
   * pointer's reach every round, so rounds needed = O(log diameter), not
   * O(diameter) — a 10k-node adversarial PATH graph converges inside the
   * default cap (pinned by a DedupSpec case).
   *
   * Convergence: the round's groupBy also carries each id's previous
   * label as `max(__old__)`, and an [[Observation]] on the aggregate
   * counts ids whose label dropped (`comp < old`) inside the round's own
   * job — no second action per round. Labels are monotone
   * non-increasing and the id set is fixed by the seed, so a zero count
   * is the fixpoint. The count is an exact compare, so it holds for any
   * ordered id type (long, string, decimal, ...).
   *
   * `maxRounds` counts rounds after the seed; at the cap the call raises
   * rather than return partial labels. Spark jobs carry the description
   * `graft:cc:edges` / `graft:cc:round <n>`; the caller's description is
   * restored afterwards (the job group is left alone).
   *
   * Returns (id, component): one row per node that appears in an edge,
   * component = min node id in its cluster. Singletons (docs in no pair)
   * are their own trivial cluster — union them in from the corpus if the
   * caller needs total coverage.
   */
  def connectedComponents(edges: DataFrame, idACol: String, idBCol: String,
      maxRounds: Int = 20): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription("graft:cc:edges")
      // MATERIALIZE the undirected edge list before the loop. `und` is
      // read by every round, and each round is a separate action: without
      // the checkpoint every round re-executes the caller's whole
      // pair-generation plan (banding, shuffles, exact verify), because
      // Spark does not reuse shuffle output across query executions.
      //
      // SCALE TRADE (deliberate): localCheckpoint blocks are executor-local
      // and NOT replayable — lose an executor mid-loop and the job fails
      // instead of recomputing, and the whole CC pass retries from the
      // pair generator. If executor churn is real in a deployment, swap in
      // reliable `checkpoint()` against a checkpoint dir — same plan
      // shape, replayable blocks.
      val und = edges.select(col(idACol).as("__src__"), col(idBCol).as("__dst__"))
        .union(edges.select(col(idBCol).as("__src__"), col(idACol).as("__dst__")))
        .distinct()
        .localCheckpoint()
      // Left uncheckpointed: round 1 plans the seed aggregate once and
      // reuses its exchange for all three of its reads.
      var labels = und.groupBy(col("__src__").as("__id__"))
        .agg(min(col("__dst__")).as("__m__"))
        .select(col("__id__"), least(col("__id__"), col("__m__")).as("__comp__"))
      val noOld = lit(null).cast(und.schema("__src__").dataType)
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        round += 1
        sc.setJobDescription(s"graft:cc:round $round")
        // pointer jump FIRST, so the round ENDS in the groupBy(__id__)
        // aggregate: one row per id, the previous label at hand for the
        // drop count, and the table the caller's anti join reads (q168's
        // shuffle budget is pinned by PlanAuditSpec).
        val parents = labels
          .select(col("__id__").as("__pid__"), col("__comp__").as("__pcomp__"))
        val jumped = labels
          .join(parents, col("__comp__") === col("__pid__"), "left")
          .select(col("__id__"),
            least(col("__comp__"), coalesce(col("__pcomp__"), col("__comp__"))).as("__comp__"),
            col("__comp__").as("__old__"))
        // neighbour labels flow along edges; min with own label
        val incoming = und
          .join(jumped.withColumnRenamed("__id__", "__src__"), Seq("__src__"))
          .select(col("__dst__").as("__id__"), col("__comp__"), noOld.as("__old__"))
        val drops = new Observation()
        val next = jumped.union(incoming)
          .groupBy(col("__id__"))
          .agg(min(col("__comp__")).as("__comp__"), max(col("__old__")).as("__old__"))
          .observe(drops, count_if(col("__comp__") < col("__old__")).as("dropped"))
          .select(col("__id__"), col("__comp__"))
          .localCheckpoint()
        // Release the SUPERSEDED round's checkpoint blocks eagerly: each
        // localCheckpoint holds a full label-table copy in the block
        // manager, and only the async ContextCleaner (driver-GC-triggered)
        // would reclaim older copies — a race it loses under heap pressure
        // at large scale. `next` is already materialized, so memory per
        // round stays bounded by TWO label tables regardless of rounds.
        val superseded = labels
        labels = next
        superseded.unpersist(blocking = false)
        converged = drops.get("dropped") == 0L
      }
      require(converged, s"connectedComponents did not converge in $maxRounds rounds " +
        "(pathological chain graph — use a larger cap or a star-contraction scheme)")
      labels.select(col("__id__").as("id"), col("__comp__").as("component"))
    } finally sc.setJobDescription(callerDesc)
  }

  /**
   * End-to-end near-dup removal: given the corpus and a candidate-pair
   * edge list from any generator above, drop every clustered document
   * except its cluster's minimum-id representative. Singletons (no pair)
   * pass through untouched. One left-anti join of the corpus against the
   * non-representative id set — the components labels are tiny relative
   * to the corpus (only docs that appear in a pair), so the anti join
   * broadcasts in practice and the corpus never shuffles.
   */
  def dropNearDuplicates(corpus: DataFrame, idCol: String,
      pairs: DataFrame, idACol: String, idBCol: String,
      maxRounds: Int = 20): DataFrame = {
    val losers = connectedComponents(pairs, idACol, idBCol, maxRounds)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): assign every embedding to its nearest centroid,
   * score exact cosines only WITHIN each cluster, and drop any vector
   * whose cluster contains a ≥-threshold neighbor with a smaller id
   * (keep-first, the family's standard rule). Kept rows return
   * unchanged.
   *
   * The cluster partition bounds the pair space exactly the way LSH
   * bands do in [[embeddingPairsLsh]]: the within-cluster self-join is
   * an equi-join on centroid_id, so candidate volume is Σ|cluster|²
   * — at 100 TB the centroid count scales with the corpus (the paper
   * uses k ≈ n/expected-cluster-size), keeping |cluster| roughly
   * constant and the join linear in rows. Centroids arrive as a
   * DataFrame (trained via [[Kmeans.train]] or any fixed seed set) and
   * broadcast inside [[Similarity.assignCentroid]]; zero-norm vectors
   * (cosine NaN) never count as duplicates, matching the brute path.
   */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      threshold: Double): DataFrame = {
    val assigned = Similarity.assignCentroid(
      df.select(col(idCol), col(vecCol)), vecCol, centroids, centIdCol, centVecCol)
    df.join(semDropped(assigned, idCol, vecCol, threshold), Seq(idCol), "left_anti")
  }

  /** [[semDedup]] with the two-level assignment ([[Kmeans.assignTwoLevel]])
    * — the 100 TB path once the centroid count tracks the corpus (k ∝ n
    * makes exact assignment's n·k cosines quadratic; two-level is
    * ≈ n·√k). Same keep-first prune; assignment is approximate only at
    * coarse-group boundaries, and nProbe ≥ coarseK reproduces
    * [[semDedup]] exactly (DedupSpec pins the parity). Centroids follow
    * the Kmeans convention: columns (centroid_id, cvec). */
  def semDedupScalable(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double,
      coarseK: Int, nProbe: Int = 2): DataFrame = {
    val assigned = Kmeans.assignTwoLevel(
      df.select(col(idCol), col(vecCol)), idCol, vecCol, centroids, coarseK, nProbe)
    df.join(semDropped(assigned, idCol, vecCol, threshold), Seq(idCol), "left_anti")
  }

  /** Keep-first prune within clusters: ids having a >=-threshold
    * neighbor with a smaller id under the same centroid_id. */
  private def semDropped(assigned: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("centroid_id"),
      col(idCol).as("__ia__"), col(vecCol).as("__va__"))
    val b = assigned.select(col("centroid_id"),
      col(idCol).as("__ib__"), col(vecCol).as("__vb__"))
    a.join(b, Seq("centroid_id"))
      .filter(col("__ia__") > col("__ib__"))
      .withColumn("__cos__", Similarity.nativeCosine(assigned)(col("__va__"), col("__vb__")))
      .filter(!isnan(col("__cos__")) && col("__cos__") >= threshold)
      .select(col("__ia__").as(idCol)).distinct()
  }
}
