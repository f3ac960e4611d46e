package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.BenchKit.{Obj, force, json}
import graft.queries.{QueryKit, Registry}

/** Benchmark main: runs the headline queries (BASELINE.md's 10 workload
  * shapes) against SPARK_GRAFT_SF_DIR and prints one JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = BenchKit.sfDir
    val spark = BenchKit.session()
    // Untimed warmup: pay session init + first-scan codegen once, so the
    // per-query numbers measure the operators, not JVM startup.
    force(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    // Timed runs per query (default 5; AB_BENCH_r07.md measured ±25%
    // session drift on this sandbox, so min-of-3 can't separate a 20%
    // regression from noise). `value` stays MIN-based — the first run
    // pays whole-stage-codegen JIT, which a steady-state cluster
    // amortizes away, and keeping the same statistic keeps
    // round-over-round totals comparable — while median and spread
    // (p75−p25) are emitted alongside so a reader can tell a plan
    // regression (min moved beyond the spread) from sandbox drift.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val results = Registry.all.filter(_.headline).map { q =>
      q.name -> BenchKit.stats(
        BenchKit.timed(runs, s"[bench] ${q.name}")(force(q.fn(spark, sfDir))))
    }
    println(line(sfDir, results))
    spark.stop()
  }

  /** The bench's one-line JSON contract. A query whose every run failed
    * reads -1 in the per-query maps, is left out of the totals (it must
    * not subtract from the headline number) and is counted in `failed`. */
  private[graft] def line(sfDir: String,
      results: Seq[(String, Option[BenchKit.Stats])]): String = {
    def per(f: BenchKit.Stats => Double) =
      Obj(results.map { case (n, s) => n -> s.fold(-1.0)(f) }: _*)
    val ok = results.flatMap(_._2)
    json(Obj("metric" -> "total", "value" -> ok.map(_.min).sum,
      "value_median" -> ok.map(_.median).sum, "unit" -> "sec",
      "failed" -> results.count(_._2.isEmpty), "queries" -> per(_.min),
      "queries_median" -> per(_.median), "queries_spread" -> per(_.spread),
      "sf" -> sfDir))
  }
}

/**
 * Scale-slope smoke test: the suite otherwise never runs above sf0.1, so
 * this main amplifies the corpus ~8× (disjoint replicas — key columns
 * offset per replica, document text made replica-unique so join/group/
 * dedup cardinalities scale linearly, the way real corpus growth does)
 * and reports each headline query's time ratio divided by the row ratio.
 * A plan that holds at 100 TB has slope ≈ 1 (linear in rows).
 *
 * The other scale mains below are op tables over this object's shared
 * slope loop.
 */
object ScaleBench {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType

  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Disjoint-replica amplification: long key/id columns shift by a wide
    * per-replica stride, document text gets a replica token (so content
    * fingerprints stay unique per replica). Everything else copies. */
  private def amplify(df: DataFrame, table: String, factor: Int): DataFrame = {
    val keyish = df.schema.fields.collect {
      case f if f.dataType == LongType &&
        (f.name.endsWith("key") || f.name.endsWith("_id")) => f.name
    }
    val replicas = (0 until factor).map { r =>
      val shifted = keyish.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(r * 100000000000L)))
      if (table == "documents")
        shifted.withColumn("text", concat(col("text"), lit(s" replica$r")))
      else shifted
    }
    replicas.reduce(_ unionAll _)
  }

  private[graft] def factor: Int =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "8").toInt

  /** Writes `df` to `out` unless a committed copy is already there. */
  private[graft] def writeOnce(out: String)(df: => DataFrame): Unit =
    if (!new java.io.File(out, "_SUCCESS").exists())
      df.write.mode("overwrite").parquet(out)

  /** Write (once) and return the disjoint-replica amplified copy of every
    * table at `factor`×. The cache is keyed on the source dir as well as
    * the factor, so a rerun over another fixture never reuses stale rows. */
  private[graft] def ensureAmplified(spark: SparkSession, baseDir: String,
      factor: Int): String = {
    val bigDir = QueryKit.scratch("/tmp/graft_scale", baseDir, s"x$factor")
    Tables.foreach { t =>
      writeOnce(s"$bigDir/$t.parquet")(
        amplify(spark.read.parquet(s"$baseDir/$t.parquet"), t, factor))
    }
    bigDir
  }

  /** Optional comma-separated op filter, SPARK_GRAFT_SCALE_OPS: re-measure
    * one op after a fix without re-running the (expensive) whole family. */
  private[graft] def selected(op: String): Boolean =
    sys.env.get("SPARK_GRAFT_SCALE_OPS").forall(_.split(",").contains(op))

  /** The shared slope loop: warm both dirs' scans, time every selected
    * op min-of-2 at 1× and at factor×, and print the scale main's one
    * JSON line — `metric`, the `header` keys, each op's seconds and slope
    * (time ratio over row ratio), the ops flagged at slope > 1.5, and the
    * source dir. Fixed per-op overhead makes slope < 1 for fast ops, which
    * is fine; a flag means some stage is super-linear (all-pairs blowup,
    * driver funnel, single-partition sort) and would fall over at 1000×. */
  private[graft] def reportSlopes(metric: String, header: Seq[(String, Any)],
      source: String, oneDir: String, bigDir: String,
      warm: String => Seq[DataFrame], ops: Seq[(String, String => DataFrame)],
      rowRatio: String => Double): Unit = {
    Seq(oneDir, bigDir).foreach(d => warm(d).foreach(force))
    val rows = ops.filter { case (n, _) => selected(n) }.map { case (name, op) =>
      def t(dir: String) = BenchKit.timed(2, s"[scale] $name")(force(op(dir))).min
      val (tb, ts) = (t(oneDir), t(bigDir))
      val slope = (ts / tb) / rowRatio(name)
      (name, slope, Obj("base" -> tb, "scaled" -> ts, "slope" -> slope))
    }
    println(json(Obj(Seq("metric" -> metric) ++ header ++ Seq(
      "queries" -> Obj(rows.map { case (n, _, o) => n -> o }: _*),
      "flagged" -> rows.collect { case (n, slope, _) if slope > 1.5 => n },
      "base" -> source): _*)))
  }

  def main(args: Array[String]): Unit = {
    val (baseDir, f) = (BenchKit.sfDir, factor)
    val spark = BenchKit.session()
    val bigDir = ensureAmplified(spark, baseDir, f)
    reportSlopes("scale_slope", Seq("factor" -> f), baseDir, baseDir, bigDir,
      d => Seq(spark.read.parquet(s"$d/lineitem.parquet")),
      Registry.all.filter(_.headline).map(q => q.name -> (q.fn(spark, _: String))),
      _ => f)
    spark.stop()
  }
}

/**
 * Scale-slope test for the near-dup / ANN surface — the one plan family
 * whose worst case is quadratic (band/bucket self-joins), which the
 * headline ScaleBench never exercises.
 *
 * Amplification here is PARTIAL duplication, so candidate volume scales
 * the way a real growing corpus's does: every replica's tokens are
 * retagged (replicas of one doc share NO shingles — cross-replica docs
 * are not near-dups), and each replica carries a `dupPct`% shard of
 * true near-duplicate siblings (one extra token / a 1.0001× vector).
 * Duplicate clusters stay size-2 at every factor — the constant-dup-rate
 * model — so a healthy bucketed plan is linear in rows, and an all-pairs
 * regression shows up as slope ≫ 1.
 *
 * LSH plane counts follow log₂(corpus / target bucket size) — the tuning
 * a real deployment applies as the corpus grows; with planes held fixed
 * the bucket join is n²/2^planes by construction and no plan shape can
 * save it.
 */
object ScaleDedupBench {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import graft.ops.Dedup
  import graft.functions.Similarity

  /** Suffix every token with the replica tag: within-replica structure
    * (lengths, token stats) is preserved, across replicas no shingle or
    * token hash collides. */
  private def tokTag(text: Column, r: Int): Column =
    regexp_replace(text, "(\\S+)", s"$$1x$r")

  private[graft] def amplifyDocs(df: DataFrame, factor: Int, dupPct: Int): DataFrame = {
    val replicas = (0 until factor).map { r =>
      val base = df
        .withColumn("doc_id", col("doc_id") + lit(r * 100000000000L))
        .withColumn("text", if (r == 0) col("text") else tokTag(col("text"), r))
      val dups = base
        .filter(pmod(xxhash64(col("doc_id"), lit(r)), lit(100)) < dupPct)
        .withColumn("doc_id", col("doc_id") + lit(50000000000L))
        .withColumn("text", concat(col("text"), lit(" xtra")))
      base.unionAll(dups)
    }
    replicas.reduce(_ unionAll _)
  }

  private[graft] def amplifyEmb(df: DataFrame, factor: Int, dupPct: Int): DataFrame = {
    val replicas = (0 until factor).map { r =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(r * 100000000000L))
      // per-(replica, dim, id) signed reweighting in [-1, 1]: replicas of
      // one vector point in unrelated directions (E[cos] ≈ 0), so only
      // the dup shard below crosses a near-dup threshold
      val base = if (r == 0) shifted else shifted.withColumn("embedding",
        transform(col("embedding"), (x, d) =>
          x * ((pmod(xxhash64(col("vec_id"), d, lit(r)), lit(2001)) - 1000)
            .cast("double") / 1000.0))
          .cast("array<float>"))
      val dups = base
        .filter(pmod(xxhash64(col("vec_id"), lit(r + 7)), lit(100)) < dupPct)
        .withColumn("vec_id", col("vec_id") + lit(50000000000L))
        // pure scaling: cosine with the sibling is exactly 1, LSH signs identical
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.0001f)).cast("array<float>"))
      base.unionAll(dups)
    }
    replicas.reduce(_ unionAll _)
  }

  /** Write (once) and return the partial-dup amplified documents and
    * embeddings at `factor`×, cached per source dir, factor and dup %. */
  private[graft] def ensure(spark: SparkSession, baseDir: String, factor: Int,
      dupPct: Int): String = {
    val dir = QueryKit.scratch("/tmp/graft_scale_dedup", baseDir, s"x${factor}_dup$dupPct")
    Seq(
      "documents" -> (() => amplifyDocs(
        spark.read.parquet(s"$baseDir/documents.parquet"), factor, dupPct)),
      "embeddings" -> (() => amplifyEmb(
        spark.read.parquet(s"$baseDir/embeddings.parquet"), factor, dupPct))
    ).foreach { case (t, make) =>
      // pre-split into one file per core: the amplified corpus is only
      // MBs on disk but carries heavy per-row hash work, and a single
      // parquet file would make every op below a one-task (one-core)
      // measurement — the opposite of the many-split reality at scale
      ScaleBench.writeOnce(s"$dir/$t.parquet")(
        make().repartition(spark.sparkContext.defaultParallelism))
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    val (baseDir, factor) = (BenchKit.sfDir, ScaleBench.factor)
    val dupPct = sys.env.getOrElse("SPARK_GRAFT_DUP_PCT", "25").toInt
    // jaccard operating point for the jaccard/e2e rows: the committed
    // slope baseline is the permissive 0.3 (keeps every planted 25%-dup
    // pair); override to measure the production-threshold shape, where
    // the stage-1 size-ratio cull removes most of the candidate mass
    // before the pair-distinct exchange (t=0.8 culls ~67% — SCALE_r12
    // prefilter_selectivity)
    val jaccardT = sys.env.getOrElse("SPARK_GRAFT_JACCARD_T", "0.3").toDouble
    val spark = BenchKit.session()
    // 1× carries the same dup structure as f× — slope isolates growth,
    // not the presence of duplicates
    val oneDir = ensure(spark, baseDir, 1, dupPct)
    val bigDir = ensure(spark, baseDir, factor, dupPct)

    def docs(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
    def emb(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
    def planes(n: Long, targetBucket: Double = 30.0): Int =
      math.max(6, math.ceil(math.log(n / targetBucket) / math.log(2)).toInt)
    // plane counts (and the counts behind them) are tuning inputs, not
    // work: resolve them ONCE per dir so the timed closures measure only
    // the op — a count() inside the closure would add a scan job to both
    // sides and dampen exactly the super-linear signal the flag hunts
    val planesByDir: Map[String, Int] =
      Seq(oneDir, bigDir).map(d => d -> planes(emb(d).count())).toMap
    // PQ codebooks are tuning inputs too (m=16 subspaces × ksub=64,
    // data-derived seeds): built ONCE per dir so the timed closures
    // measure the code scan, not the (constant-size) codebook build
    val cbByDir: Map[String, DataFrame] =
      Seq(oneDir, bigDir).map { d =>
        d -> graft.ops.Pq.codebooksFromRows(
          emb(d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", m = 16, ksub = 64).cache()
      }.toMap
    cbByDir.values.foreach(_.count()) // materialize outside the timers

    val ops: Seq[(String, String => DataFrame)] = Seq(
      "minhash_lsh" -> (dir => Dedup.minhashLshPairs(
        docs(dir), "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        threshold = 0.2)),
      "minhash_lsh_md5" -> (dir => Dedup.minhashLshPairsMd5(
        docs(dir), "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        threshold = 0.2)),
      "simhash" -> (dir => Dedup.simhashPairs(docs(dir), "doc_id", "text", maxBits = 3)),
      // the " xtra" dup suffix is 5 edits away, so maxDist=5 keeps every
      // planted dup pair; candidates stay band-governed and the DP is the
      // banded threshold variant
      "neardup_editdist" -> (dir => Dedup.editDistancePairs(
        docs(dir), "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        maxDist = 5)),
      "jaccard" -> (dir => Dedup.jaccardPairs(
        docs(dir), "doc_id", "text", shingleN = 2, threshold = jaccardT)),
      // cross-corpus linkage over an id-parity split: both halves grow
      // with the corpus, so the slope measures the two-table band join
      // under the same duplication pressure as the self-join rows
      "crosscorpus_md5" -> (dir => Dedup.crossCorpusPairsMd5(
        docs(dir).filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs(dir).filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)),
      "neardup_drop_e2e" -> { dir =>
        val d = docs(dir)
        Dedup.dropNearDuplicates(d, "doc_id",
          Dedup.jaccardPairs(d, "doc_id", "text", shingleN = 2, threshold = jaccardT),
          "id_a", "id_b")
      },
      // same end-to-end removal through the SELECTIVE 4x4 banding (P =
      // J^4 per band): on template-heavy corpora the low-threshold
      // single-hash-band jaccard path above carries ~326 candidate pairs
      // per doc (linear mass, huge constant — its exact-verify array
      // attachment is what hits the single-node disk wall at 64x), while
      // this path carries ~1200x fewer candidates at identical corpus
      // scale — the recall/candidate-mass trade the (bands, rows) S-curve
      // governs (Dedup.planBands)
      "neardup_drop_e2e_minhash" -> { dir =>
        val d = docs(dir)
        Dedup.dropNearDuplicates(d, "doc_id",
          Dedup.minhashLshPairsMd5(d, "doc_id", "text",
            shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2),
          "id_a", "id_b")
      },
      "emb_neardup_lsh" -> { dir =>
        Dedup.embeddingPairsLsh(emb(dir), "vec_id", "embedding", threshold = 0.9,
          nPlanes = planesByDir(dir), nTables = 8)
      },
      "ann_lsh" -> { dir =>
        val e = emb(dir).select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Similarity.topKLsh(e, "vec_id", "embedding", q, "query_id", "qvec",
          k = 5, nPlanes = planesByDir(dir), nTables = 4)
      },
      "sem_dedup" -> { dir =>
        val e = emb(dir).select(col("vec_id"), col("embedding"))
        // centroid count scales with the corpus (SemDeDup's own tuning
        // rule, k ≈ n / cluster size) — same growth discipline as the
        // LSH plane counts above; 2^planes ≈ n/30 centroids
        val k = 1 << planesByDir(dir)
        val cents = e.limit(k)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        Dedup.semDedup(e, "vec_id", "embedding", cents, "centroid_id", "cvec", 0.9)
      },
      "pq_adc_topk" -> { dir =>
        // PQ discipline: the codebook does NOT grow with the corpus
        // (constant m×ksub lookup table), so the op's cost is the code
        // scan — the slope should track the row ratio and nothing else
        val e = emb(dir).select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        graft.ops.Pq.topK(e, "vec_id", "embedding", q, "query_id", "qvec",
          cbByDir(dir), k = 5)
      },
      "pq_rerank" -> { dir =>
        val e = emb(dir).select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        graft.ops.Pq.topKRerank(e, "vec_id", "embedding", q, "query_id", "qvec",
          cbByDir(dir), k = 5, shortlist = 25)
      },
      "sem_dedup_2level" -> { dir =>
        // same k-grows-with-n configuration through the two-level
        // assignment: exact path is n·k cosines (quadratic once k ∝ n),
        // this one is ≈ n·√k — the slope gap between the two rows IS the
        // measured claim
        val e = emb(dir).select(col("vec_id"), col("embedding"))
        val k = 1 << planesByDir(dir)
        val cents = e.limit(k)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        Dedup.semDedupScalable(e, "vec_id", "embedding", cents, 0.9,
          coarseK = math.max(2, math.sqrt(k.toDouble).toInt), nProbe = 2)
      },
      "pca_covariance" -> { dir =>
        // exchange is tasks×d² partials whatever n — the slope should be
        // the pure map-side outer-product cost, well under linear
        graft.ops.Pca.covarianceLong(
          emb(dir).select(col("vec_id"), col("embedding")), "embedding")
      })

    // row ratios are measured, not assumed — and PER TABLE: the dup
    // shards are chosen by different hash filters, so the documents and
    // embeddings ratios differ slightly and each op normalizes by the
    // table it actually scans
    val docRatio = docs(bigDir).count().toDouble / docs(oneDir).count()
    val embRatio = emb(bigDir).count().toDouble / emb(oneDir).count()
    val embOps = Set("emb_neardup_lsh", "ann_lsh", "sem_dedup", "sem_dedup_2level",
      "pq_adc_topk", "pq_rerank", "pca_covariance")
    ScaleBench.reportSlopes("scale_slope_dedup", Seq("factor" -> factor,
        "dup_pct" -> dupPct, "jaccard_t" -> jaccardT, "row_ratio_docs" -> docRatio,
        "row_ratio_emb" -> embRatio), baseDir, oneDir, bigDir,
      d => Seq(docs(d), emb(d)), ops, n => if (embOps(n)) embRatio else docRatio)

    // Persisted band index asymmetry — the feature's entire point: index
    // BUILD grows with the corpus (one banding pass, expected slope ≈ 1),
    // while LINKING a constant-size arriving batch against the stored
    // index must cost O(batch + matched buckets), NOT O(corpus) — so the
    // link ratio across a factor× corpus should stay near 1, far below
    // the corpus growth. Batch = the 1× documents table in both runs.
    if (ScaleBench.selected("band_index")) {
      val batch = docs(oneDir)
      def measure(dir: String): (Double, Double) = {
        val path = s"$dir/band_index"
        val build = BenchKit.timed(2, "[scale] band_index build")(Dedup.writeBandIndex(
          docs(dir), "doc_id", "text", path, shingleN = 3, numHashes = 16, bands = 4)).min
        val link = BenchKit.timed(2, "[scale] band_index link")(force(Dedup.linkAgainstIndex(
          batch, "doc_id", "text", path, docs(dir), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2))).min
        (build, link)
      }
      val (b1, l1) = measure(oneDir)
      val (bf, lf) = measure(bigDir)
      println(json(Obj("metric" -> "band_index_asymmetry", "factor" -> factor,
        "corpus_ratio" -> docRatio, "build_base" -> b1, "build_scaled" -> bf,
        "build_slope" -> (bf / b1) / docRatio, "link_base" -> l1,
        "link_scaled" -> lf, "link_ratio" -> lf / l1, "base" -> baseDir)))
    }
    spark.stop()
  }
}

/**
 * Scale-slope test for the round-10 sketch family. Two regimes on
 * purpose: heavy hitters amplify with user_id KEPT (each hitter's count
 * grows with n, so the φ-threshold answer is stable — the "one domain
 * grows" regime; the stock stride amplification would dilute every
 * value below φ and measure an empty verify), while the quantile
 * histograms ride the stock disjoint-replica amplification because
 * o_totalprice is untouched by the stride — the histogram stays
 * span-bounded as rows grow ×factor, which IS the claim: the
 * aggregate's state and the rank window are O(span·10^scale), only the
 * scan+partial-agg should scale.
 */
object ScaleSketchBench {
  import org.apache.spark.sql.functions._
  import graft.ops.Sketch

  def main(args: Array[String]): Unit = {
    val (baseDir, factor) = (BenchKit.sfDir, ScaleBench.factor)
    val spark = BenchKit.session()
    val bigDir = ScaleBench.ensureAmplified(spark, baseDir, factor)
    // keep-keys events replica: event_id shifts (stays unique), user_id
    // repeats — materialized once so generation cost never pollutes timing
    val keepDir = s"$bigDir/events_keepkeys.parquet"
    ScaleBench.writeOnce(keepDir)(spark.read.parquet(s"$baseDir/events.parquet")
      .withColumn("__r", explode(array((0 until factor).map(lit): _*)))
      .withColumn("event_id", col("event_id") + col("__r").cast("long") * 1000000000L)
      .drop("__r")
      .repartition(32))
    def events(dir: String) =
      if (dir == baseDir) spark.read.parquet(s"$dir/events.parquet")
      else spark.read.parquet(keepDir)
    def orders(dir: String) = spark.read.parquet(s"$dir/orders.parquet")
    val qs = Seq((250000L, 1000000L), (500000L, 1000000L),
      (750000L, 1000000L), (990000L, 1000000L))
    val shapes: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "heavy_hitters" -> (dir =>
        Sketch.heavyHitters(events(dir), "user_id", 8, 1000)),
      "quantile_hist" -> (dir =>
        Sketch.quantileQuantized(orders(dir), "o_totalprice", qs, -1)),
      "quantile_hist_grouped" -> (dir =>
        Sketch.quantileQuantizedBy(orders(dir), Seq("o_orderpriority"),
          "o_totalprice", qs.take(2), -1)),
      // the exact ops the sketches replace, same inputs — the A/B that
      // shows what the bounded state buys as n grows
      "quantile_exact_percentile" -> (dir =>
        orders(dir).groupBy(col("o_orderpriority"))
          .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
            percentile(col("o_totalprice"), lit(0.9)).as("p90"))),
      "value_counts_exact" -> (dir =>
        events(dir).groupBy(col("user_id")).count()),
      // per-lang frequent tokens (q268's shape): the token explode is the
      // data-sized cost; candidates/verify stay bounded per group
      "groupby_heavy_hitters" -> { dir =>
        val toks = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("lang"),
            explode(graft.ops.Corpus.wsTokensLower(col("text"))).as("token"))
        Sketch.heavyHittersByGroup(toks, Seq("lang"), "token", 1, 100)
      },
      // full describe in two bounded passes (q269's shape)
      "describe_sketch" -> (dir =>
        Sketch.describeQuantized(orders(dir), "o_totalprice", -1)),
      // weighted inverted-cdf cuts per group (q272's shape) over the
      // stride-amplified lineitem
      "weighted_quantile_grouped" -> (dir =>
        Sketch.weightedQuantileQuantizedBy(
          spark.read.parquet(s"$dir/lineitem.parquet"), Seq("l_returnflag"),
          "l_extendedprice", "l_quantity",
          Seq((500000L, 1000000L), (900000L, 1000000L)), -1)))
    ScaleBench.reportSlopes("scale_slope_sketch", Seq("factor" -> factor), baseDir,
      baseDir, bigDir, d => Seq(events(d), orders(d)), shapes, _ => factor)
    spark.stop()
  }
}

/**
 * Scale-slope test for the round-9 corpus additions: sliding-window
 * chunking (map-only — slope should track the scan, well under 1) and
 * temperature mixture sampling (count shuffle + broadcast rate join —
 * the domain count is CONSTANT as the corpus grows, so the rate stage
 * is O(1) and the slope is the scan+filter's). Uses the same
 * disjoint-replica amplification as ScaleBench; replica text is tagged,
 * which changes no token counts, so chunk volume scales exactly with
 * rows.
 */
object ScaleCorpusBench {
  import org.apache.spark.sql.functions._
  import graft.ops.Corpus

  def main(args: Array[String]): Unit = {
    val (baseDir, factor) = (BenchKit.sfDir, ScaleBench.factor)
    val spark = BenchKit.session()
    val bigDir = ScaleBench.ensureAmplified(spark, baseDir, factor)
    def docs(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
    val shapes: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "doc_chunking" -> (dir =>
        Corpus.chunkDocuments(docs(dir), "doc_id", "text", 16, 8)),
      "temperature_mixture" -> (dir =>
        Corpus.temperatureMixture(docs(dir), "source", "doc_id", 0.5, "mix9")),
      // model grows with the reference corpus (self-trained here), so
      // this measures BOTH train and score stages scaling together —
      // count shuffles + the bigram-keyed score join
      "lm_perplexity" -> (dir =>
        Corpus.perplexity(docs(dir), docs(dir), "doc_id", "text")),
      // worst-case duplication pressure: the amplified corpus repeats
      // every document ~factor times (replicas differ only in a suffix),
      // so nearly every sliding gram is a duplicate occurrence — this is
      // the op's adversarial regime, not its average one
      "exact_substr_dedup" -> (dir =>
        Corpus.exactSubstrDedup(docs(dir), "doc_id", "text", 8)),
      "dsir_weights" -> (dir => graft.ops.Dsir.importanceWeights(
        docs(dir), docs(dir).filter(col("lang") === "en"),
        "doc_id", "text", 1024)),
      // train (5 GD steps — per-step cost is what scales) + score; the
      // model stays a constant dim+1 rows at any corpus size, so the
      // slope should track the feature-explode row ratio and nothing else
      "quality_classifier" -> { dir =>
        val d = docs(dir)
        val labels = d.select(col("doc_id"),
          when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"))
        val feats = graft.ops.QualityModel.hashedFeatures(d, "doc_id", "text", 256)
        val w = graft.ops.QualityModel.trainLogReg(feats, labels, "doc_id",
          256, iters = 5, lr = 2.0)
        graft.ops.QualityModel.score(d, w, "doc_id", "text", 256)
      },
      // one range exchange on the md5 permutation key (two-pass RowOrder)
      "shuffle_shard" -> (dir =>
        Corpus.shuffleShard(docs(dir), "doc_id", "sb", 64)),
      // parallel-prefix offsets + bounded explode (spans ≤ docs + toks/L)
      "pack_sequences" -> (dir =>
        Corpus.packSequences(docs(dir), "doc_id", "text", 1000L)),
      // broadcast allocation join + map-side full-epoch explode +
      // groupedRunning partial-epoch prefix; budget fixed, so the cost
      // that scales is tokenization + the skew-safe per-domain prefix
      "unimax_sample" -> (dir =>
        Corpus.unimaxSample(
          docs(dir).withColumn("n_tok", size(Corpus.wsTokens(col("text")))),
          "lang", "doc_id", "n_tok", budget = 1000000L, maxEpochs = 1.5,
          salt = "ux")))
    ScaleBench.reportSlopes("scale_slope_corpus", Seq("factor" -> factor), baseDir,
      baseDir, bigDir, d => Seq(docs(d)), shapes, _ => factor)
    spark.stop()
  }
}
