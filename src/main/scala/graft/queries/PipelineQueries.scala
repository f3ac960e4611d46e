package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{Frame, SortKey}
import graft.functions.{Similarity, Text}
import graft.ops.Dedup
import QueryKit._

/**
 * Training-data pipeline operators over `documents` / `embeddings`:
 * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), text
 * analysis (token counts, quality, language-ID, fingerprints) and
 * embedding similarity search (brute-force + LSH ANN).
 *
 * Everything is shuffle-on-bucket or map-shaped — no driver
 * materialization, no all-pairs cross product — so each plan holds at
 * 100 TB. Hash-based ops (xxhash64 minhash/simhash) have no DuckDB
 * equivalent and register without an oracle: the driver records the
 * weaker rows-only check and the ScalaTest suite pins their semantics.
 */
object PipelineQueries {

  val all: Seq[Q] = Seq(

    // Exact dedup — audit view: fingerprint groups with doc counts
    // (one hash shuffle on the canonicalized content hash).
    Q("q100_dedup_exact_groups",
      (s, dir) => Frame(Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text"))
        .sortValues(Seq(SortKey.asc("fingerprint"))).df,
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g'))) AS fingerprint,
               count(*) AS n_docs, min(doc_id) AS keep_id
        FROM documents GROUP BY 1 ORDER BY 1"""),
      headline = true),

    // Exact dedup — kept rows (keep-first by doc_id per fingerprint).
    Q("q101_dedup_exact",
      (s, dir) => Frame(Dedup.exact(t(s, dir, "documents"), "doc_id", "text"))
        .select("doc_id", "lang", "source")
        .sortValues(Seq(SortKey.asc("doc_id"))).df,
      Some("""
        SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1 ORDER BY doc_id""")),

    // Text analysis: token counts, avg token length, punctuation ratio,
    // quality score — pure codegen'd expressions over every document.
    Q("q102_text_stats",
      (s, dir) => Frame(t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("n_tok_ws"),
        Text.tokenCountWords(col("text")).cast("long").as("n_tok_word"),
        round(Text.avgTokenLen(col("text")), 4).as("avg_tok_len"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(Text.qualityScore(col("text")), 6).as("quality")))
        .sortValues(Seq(SortKey.asc("doc_id"))).df,
      Some("""
        SELECT doc_id,
               len(regexp_extract_all(trim(text), '\S+')) AS n_tok_ws,
               len(regexp_extract_all(text, '\w+')) AS n_tok_word,
               round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                     / len(regexp_extract_all(trim(text), '\S+')), 4) AS avg_tok_len,
               round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                     / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio,
               round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
                     + least(CAST(len(regexp_extract_all(lower(text),
                         '\b(the|and|of|to|in|is|that|for|el|la|de|que|y|en|los|por|der|die|und|das|ist|nicht|ein|mit|le|les|et|est|pas|pour)\b')) AS DOUBLE) / 10.0, 1.0) * 0.3
                     + (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.2, 6) AS quality
        FROM documents ORDER BY doc_id""")),

    // Language-ID heuristic (stopword-hit argmax, first-wins ties) +
    // mean quality per detected language.
    Q("q103_lang_id",
      (s, dir) => f(s, dir, "documents")
        .withColumn("lang_pred", Text.languageId(col("text")))
        .groupby("lang_pred").agg(
          "n" -> count(lit(1)),
          "avg_quality" -> round(avg(Text.qualityScore(col("text"))), 6))
        .sortValues(Seq(SortKey.asc("lang_pred"))).df,
      Some("""
        WITH scored AS (
          SELECT text,
                 len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS s_en,
                 len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|por)\b')) AS s_es,
                 len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein|mit)\b')) AS s_de,
                 len(regexp_extract_all(lower(text), '\b(le|la|les|de|et|est|pas|pour)\b')) AS s_fr,
                 round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
                     + least(CAST(len(regexp_extract_all(lower(text),
                         '\b(the|and|of|to|in|is|that|for|el|la|de|que|y|en|los|por|der|die|und|das|ist|nicht|ein|mit|le|les|et|est|pas|pour)\b')) AS DOUBLE) / 10.0, 1.0) * 0.3
                     + (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.2, 6) AS q
          FROM documents)
        SELECT CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS lang_pred,
               count(*) AS n, round(avg(q), 6) AS avg_quality
        FROM scored GROUP BY 1 ORDER BY 1""")),

    // End-to-end training-data filter pipeline: exact dedup → language
    // gate → quality threshold → token-length band → per-language yield
    // stats. One declarative plan: dedup's hash shuffle is the only
    // exchange before the final aggregate — the whole filter chain is a
    // single codegen'd pass at any corpus scale.
    Q("q135_filter_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val deduped = Dedup.exact(docs, "doc_id", "text")
        val kept = deduped
          .withColumn("lang_pred", Text.languageId(col("text")))
          .filter(col("lang_pred").isin("en", "es", "de", "fr"))
          .withColumn("quality", Text.qualityScore(col("text")))
          .filter(col("quality") >= 0.3)
          .withColumn("n_tok", Text.tokenCountWs(col("text")))
          .filter(col("n_tok").between(50, 2000))
        Frame(kept.groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tok")).cast("long").as("total_tokens"),
            round(min(col("quality")), 6).as("min_quality")))
          .sortValues(Seq(SortKey.asc("lang_pred"))).df
      },
      Some("""
        WITH dedup AS (
          SELECT * FROM (
            SELECT doc_id, text,
                   row_number() OVER (
                     PARTITION BY md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')))
                     ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
        scored AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS s_en,
                 len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|por)\b')) AS s_es,
                 len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein|mit)\b')) AS s_de,
                 len(regexp_extract_all(lower(text), '\b(le|la|les|de|et|est|pas|pour)\b')) AS s_fr,
                 round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
                     + least(CAST(len(regexp_extract_all(lower(text),
                         '\b(the|and|of|to|in|is|that|for|el|la|de|que|y|en|los|por|der|die|und|das|ist|nicht|ein|mit|le|les|et|est|pas|pour)\b')) AS DOUBLE) / 10.0, 1.0) * 0.3
                     + (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.2, 6) AS quality,
                 len(regexp_extract_all(trim(text), '\S+')) AS n_tok
          FROM dedup),
        labeled AS (
          SELECT *,
                 CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                      WHEN s_de >= s_fr THEN 'de'
                      ELSE 'fr' END AS lang_pred
          FROM scored)
        SELECT lang_pred, count(*) AS n_kept,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               round(min(quality), 6) AS min_quality
        FROM labeled
        WHERE lang_pred IN ('en', 'es', 'de', 'fr')
          AND quality >= 0.3 AND n_tok BETWEEN 50 AND 2000
        GROUP BY lang_pred ORDER BY lang_pred""")),

    // MinHash-LSH near-dup candidate pairs (shingle → 16-hash signature →
    // 4 bands → bucket self-join → exact Jaccard verify). xxhash64-based:
    // no SQL oracle; semantics pinned in DedupSpec.
    Q("q104_minhash_pairs",
      (s, dir) => Frame(Dedup.minhashLshPairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      None),

    // MinHash-LSH under the engine-portable md5 hash order: same plan
    // shape and (bands × rows) S-curve as q104, but every stage — the
    // 4×4 minhash band keys, the bucket self-join, the exact-Jaccard
    // verify — is reproduced verbatim by the DuckDB oracle. This is the
    // independent check that anchors q104's xxhash64 fast path (plus the
    // DedupSpec parity test between the two variants).
    Q("q104b_minhash_pairs_md5",
      (s, dir) => Frame(Dedup.minhashLshPairsMd5(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 3
                      THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w) - 1)])
                      ELSE [array_to_string(w, ' ')] END AS sh
          FROM (SELECT doc_id, regexp_extract_all(trim(lower(text)), '\S+') AS w
                FROM documents)),
        e AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)) AS hs,
                 b,
                 unhex(substr(md5(array_to_string(
                   [list_min([substr(md5(s), b*4 + r + 1, 16)
                              for s in sh])
                    for r in range(0, 4)], '|')), 1, 16)) AS key
          FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b))
        SELECT DISTINCT id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.hs, b.hs))::DOUBLE
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS j
          FROM e a JOIN e b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        WHERE j >= 0.2 ORDER BY id_a, id_b""")),

    // SimHash near-dup pairs (Hamming ≤ 3 over 64-bit simhash, banded).
    Q("q105_simhash_pairs",
      (s, dir) => Frame(Dedup.simhashPairs(
        t(s, dir, "documents"), "doc_id", "text", maxBits = 16))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      None),

    // q105's compact derived gate: the 41k-row (sf0.01) / ~4M-row (sf0.1)
    // pair set folds to ONE row — pair count, an order-independent
    // 60-bit-hash checksum over (id_a, id_b, hamming), and the hamming
    // sum (decimal(38,0) sums: exact and permutation-invariant in any
    // partition order). The full per-pair fixture stays committed at
    // sf0.01; at sf0.1, where a 4M-row fixture cannot be committed, this
    // row pins the IDENTICAL content (any changed/added/dropped pair or
    // hamming value moves the checksum) for a few bytes of golden data.
    Q("q105c_simhash_checksum",
      (s, dir) => Dedup.simhashPairs(
        t(s, dir, "documents"), "doc_id", "text", maxBits = 16)
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(graft.ops.Sketch.hash60(concat_ws("|",
            col("id_a"), col("id_b"), col("hamming")))
            .cast("decimal(38,0)")).as("pair_checksum"),
          sum(col("hamming").cast("decimal(38,0)")).as("hamming_sum")),
      None),

    // SimHash under the engine-portable md5 token hash: the 64-bit
    // signature is a per-bit ±1 vote over md5(token) bits, chunked into 4
    // 16-bit pigeonhole keys; candidate join and exact-Hamming verify are
    // reproduced bit-for-bit by the DuckDB oracle (q105's xxhash64 fast
    // path is anchored to this variant by a DedupSpec parity test).
    Q("q105b_simhash_pairs_md5",
      (s, dir) => Frame(Dedup.simhashPairsMd5(
        t(s, dir, "documents"), "doc_id", "text", maxBits = 3))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 list_transform(regexp_extract_all(trim(lower(text)), '\S+'),
                                t -> md5(t)) AS hs
          FROM documents),
        bits AS (
          SELECT doc_id,
                 list_transform(range(0, 64), j ->
                   CASE WHEN list_sum(list_transform(hs, h ->
                          (((strpos('0123456789abcdef',
                                    substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
                            >> CAST(3 - (j % 4) AS INT)) & 1) * 2 - 1)) > 0
                        THEN 1 ELSE 0 END) AS bits
          FROM tok),
        e AS (
          SELECT doc_id, bits, c,
                 array_to_string(bits[c*16 + 1 : c*16 + 16], '') AS key
          FROM bits CROSS JOIN (VALUES (0), (1), (2), (3)) AS chunks(c)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.bits AS ba, b.bits AS bb
          FROM e a JOIN e b ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM (
          SELECT id_a, id_b,
                 CAST(list_sum(list_transform(range(1, 65),
                      i -> abs(ba[i] - bb[i]))) AS BIGINT) AS hamming
          FROM cand)
        WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    // Edit-distance-verified near-dup: the q104b md5 band candidates with
    // NO jaccard cutoff, verified by exact Levenshtein ≤ 5 on the raw
    // text (engine runs the banded O(n·maxDist) threshold DP behind a
    // length-gap prefilter; the oracle runs DuckDB's full levenshtein —
    // identical kept set because |len(a)−len(b)| lower-bounds the
    // distance). At sf0.01 this keeps 24 pairs and rejects one at
    // distance 8, so both sides of the cut are exercised.
    Q("q254_neardup_editdist",
      (s, dir) => Frame(Dedup.editDistancePairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, maxDist = 5))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      Some("""
        WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN len(w) >= 3
                      THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w) - 1)])
                      ELSE [array_to_string(w, ' ')] END AS sh
          FROM (SELECT doc_id, text,
                       regexp_extract_all(trim(lower(text)), '\S+') AS w
                FROM documents)),
        e AS (
          SELECT doc_id, b,
                 unhex(substr(md5(array_to_string(
                   [list_min([substr(md5(s), b*4 + r + 1, 16)
                              for s in sh])
                    for r in range(0, 4)], '|')), 1, 16)) AS key
          FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM e a JOIN e b ON a.b = b.b AND a.key = b.key
                           AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b, levenshtein(ta.text, tb.text) AS edit_dist
        FROM cand c
        JOIN t ta ON c.id_a = ta.doc_id
        JOIN t tb ON c.id_b = tb.doc_id
        WHERE levenshtein(ta.text, tb.text) <= 5
        ORDER BY id_a, id_b""")),

    // Cross-corpus fuzzy join (record linkage): MinHash-banded candidates
    // BETWEEN two tables (here: the even-id half of `documents` linked
    // against the odd-id half) under the same engine-portable md5 band
    // keys as q104b, verified with the exact shingle-set Jaccard. The
    // "dedup a new crawl against the existing corpus" shape — left ⋈
    // right on (band, 8-byte key), never |L|×|R|.
    Q("q256_crosscorpus_linkage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Frame(Dedup.crossCorpusPairsMd5(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
          .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard")))
          .sortValues(Seq(SortKey.asc("id_l"), SortKey.asc("id_r"))).df
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 3
                      THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w) - 1)])
                      ELSE [array_to_string(w, ' ')] END AS sh
          FROM (SELECT doc_id, regexp_extract_all(trim(lower(text)), '\S+') AS w
                FROM documents)),
        e AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)) AS hs,
                 b,
                 unhex(substr(md5(array_to_string(
                   [list_min([substr(md5(s), b*4 + r + 1, 16)
                              for s in sh])
                    for r in range(0, 4)], '|')), 1, 16)) AS key
          FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b))
        SELECT DISTINCT id_l, id_r, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                 len(list_intersect(a.hs, b.hs))::DOUBLE
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS j
          FROM e a JOIN e b ON a.b = b.b AND a.key = b.key
          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
        WHERE j >= 0.2 ORDER BY id_l, id_r""")),

    // Incremental ingestion: the SAME linkage as q256, but the corpus
    // (odd) side's band keys are materialized ONCE to a partitioned
    // parquet index (Dedup.writeBandIndex) and the batch (even) side
    // links against the stored index — per-batch cost O(batch + matched
    // buckets), never O(corpus). Identical oracle SQL to q256 (the index
    // is a pure materialization) with output ids swapped to match.
    Q("q259_incremental_linkage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val path = QueryKit.scratch("/tmp/graft_io", dir, "band_index")
        Dedup.writeBandIndex(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", path, shingleN = 3, numHashes = 16, bands = 4)
        Frame(Dedup.linkAgainstIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          path, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
          .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard")))
          .sortValues(Seq(SortKey.asc("id_l"), SortKey.asc("id_r"))).df
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 3
                      THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w) - 1)])
                      ELSE [array_to_string(w, ' ')] END AS sh
          FROM (SELECT doc_id, regexp_extract_all(trim(lower(text)), '\S+') AS w
                FROM documents)),
        e AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)) AS hs,
                 b,
                 unhex(substr(md5(array_to_string(
                   [list_min([substr(md5(s), b*4 + r + 1, 16)
                              for s in sh])
                    for r in range(0, 4)], '|')), 1, 16)) AS key
          FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b))
        SELECT DISTINCT id_l, id_r, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                 len(list_intersect(a.hs, b.hs))::DOUBLE
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS j
          FROM e a JOIN e b ON a.b = b.b AND a.key = b.key
          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
        WHERE j >= 0.2 ORDER BY id_l, id_r""")),

    // n-gram Jaccard near-dup with MinHash-banded candidates under an
    // engine-portable hash (md5 — both engines compute identical band
    // keys), so candidate generation AND the exact-Jaccard verify are
    // oracle-checked end to end.
    Q("q106_jaccard_pairs",
      (s, dir) => Frame(Dedup.jaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", shingleN = 2, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 2
                      THEN list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
                      ELSE [array_to_string(w, ' ')] END AS sh
          FROM (SELECT doc_id, regexp_extract_all(trim(lower(text)), '\S+') AS w
                FROM documents)),
        e AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)) AS hs,
                 b,
                 unhex(substr(md5(list_min([substr(md5(s), b + 1, 16)
                                            for s in sh])), 1, 16)) AS key
          FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b))
        SELECT DISTINCT id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.hs, b.hs))::DOUBLE
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS j
          FROM e a JOIN e b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        WHERE j >= 0.3 ORDER BY id_a, id_b""")),

    // Brute-force cosine top-k ANN baseline: broadcast 3 query vectors,
    // one corpus scan, per-query top-5 via rank filter.
    Q("q107_ann_brute",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Frame(Similarity.topKBruteForce(
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5)
          .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
            col("rank")))
          .sortValues(Seq(SortKey.asc("query_id"), SortKey.asc("rank"))).df
      },
      Some("""
        SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rank
          FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) q)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // LSH-bucketed ANN (random-hyperplane buckets, equi-join on bucket id):
    // approximate by design → no oracle; recall pinned in SimilaritySpec.
    Q("q108_ann_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Frame(Similarity.topKLsh(
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, nPlanes = 8)
          .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
            col("rank")))
          .sortValues(Seq(SortKey.asc("query_id"), SortKey.asc("rank"))).df
      },
      None),

    // LSH ANN under engine-portable md5 Rademacher (±1) hyperplanes: the
    // bucket bits, candidate join, exact-cosine scoring and per-query
    // top-5 are all reproduced by the DuckDB oracle (projection folds
    // left in dimension order on both engines, so the sign bits are
    // bit-identical). Anchors q108's xxhash64 fast path (plus the
    // SimilaritySpec parity test).
    Q("q108b_ann_lsh_md5",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Frame(Similarity.topKLsh(
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, nPlanes = 8, nTables = 4,
          bucketFn = Similarity.lshBucketMd5)
          .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
            col("rank")))
          .sortValues(Seq(SortKey.asc("query_id"), SortKey.asc("rank"))).df
      },
      Some("""
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bucketed AS (
          SELECT vec_id, t,
                 list_sum(list_transform(range(0, 8), p ->
                   CASE WHEN list_reduce(
                          list_transform(range(0, len(v)), d ->
                            v[d + 1] * CASE WHEN strpos('01234567',
                                substr(md5(CAST(t*8 + p AS VARCHAR) || ':'
                                           || CAST(d AS VARCHAR)), 1, 1)) > 0
                              THEN 1.0 ELSE -1.0 END),
                          (acc, x) -> acc + x) >= 0
                        THEN 1 << p ELSE 0 END)) AS bucket
          FROM base CROSS JOIN (VALUES (0), (1), (2), (3)) AS tables(t)),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
          FROM bucketed c
          JOIN (SELECT * FROM bucketed WHERE vec_id < 3) q
            ON c.t = q.t AND c.bucket = q.bucket),
        scored AS (
          SELECT cand.query_id, cand.vec_id,
                 list_cosine_similarity(c.v, q.v) AS cosine
          FROM cand
          JOIN base c ON c.vec_id = cand.vec_id
          JOIN base q ON q.vec_id = cand.query_id)
        SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank FROM (
          SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Stratified deterministic sampling over the documents corpus: keep
    // 100% of low-resource languages but downsample the dominant ones —
    // the language-rebalancing stage of a training-data pipeline, as one
    // codegen'd content-hash filter (Frame.sampleByHashStratified).
    Q("q157_stratified_sample",
      (s, dir) => f(s, dir, "documents")
        .sampleByHashStratified("doc_id", "lang",
          Map("en" -> 0.25, "es" -> 0.5), defaultFrac = 1.0, salt = "bal1")
        .groupby("lang").size("n_kept")
        .sortValues(Seq(SortKey.asc("lang"))).df,
      Some("""
        SELECT lang, count(*) AS n_kept
        FROM (SELECT lang, md5('bal1' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
        WHERE h < CASE lang WHEN 'en' THEN '40000000'
                            WHEN 'es' THEN '80000000'
                            ELSE 'g' END
        GROUP BY lang ORDER BY lang""")),

    // BPE-ish token counting (GPT-2-style pre-tokenizer regex) + winnowing
    // rolling-hash fingerprints (MOSS scheme, k=7 grams / w=8 windows,
    // portable md5 order so DuckDB reproduces the exact fingerprint set).
    Q("q149_token_stats_winnow",
      (s, dir) => {
        val staged = t(s, dir, "documents")
          .withColumn("__fp__", Text.winnowFromHashes(Text.kgramHashes(col("text"), 7), 8))
        Frame(staged.select(
          col("doc_id"),
          Text.tokenCountWs(col("text")).cast("long").as("n_ws"),
          Text.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          size(col("__fp__")).cast("long").as("n_fp"),
          element_at(col("__fp__"), 1).as("fp_min")))
          .sortValues(Seq(SortKey.asc("doc_id"))).df
      },
      Some("""
        WITH c AS (
          SELECT doc_id, text,
                 trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')) AS t
          FROM documents),
        g AS (
          SELECT doc_id, text,
                 [md5(t[i : i+6]) FOR i IN range(1, greatest(length(t) - 6, 1) + 1)] AS hs
          FROM c),
        wn AS (
          SELECT doc_id, text,
                 list_sort(list_distinct(
                   CASE WHEN len(hs) - 7 >= 1
                        THEN [list_min(hs[j : j+7]) FOR j IN range(1, len(hs) - 7 + 1)]
                        ELSE [list_min(hs)] END)) AS fps
          FROM g)
        SELECT doc_id,
               len(regexp_extract_all(trim(text), '\S+')) AS n_ws,
               len(regexp_extract_all(text,
                 '''[std]|''re|''ve|''ll|''m| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+'))
                 AS n_bpe,
               CAST(len(fps) AS BIGINT) AS n_fp,
               fps[1] AS fp_min
        FROM wn ORDER BY doc_id""")),

    // Embedding-cosine near-dup pairs, exact baseline: every (i<j) pair
    // with cosine >= 0.45 via broadcast self-join + native cosine. The
    // scale path (LSH-bucketed candidates + exact verify,
    // Dedup.embeddingPairsLsh) is pinned against this baseline in
    // DedupSpec — candidate recall is probabilistic, so only the exact
    // formulation is oracle-comparable.
    Q("q148_embedding_neardup",
      (s, dir) => Frame(Dedup.embeddingPairsBrute(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine")))
        .sortValues(Seq(SortKey.asc("id_a"), SortKey.asc("id_b"))).df,
      Some("""
        SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE cosine >= 0.45 ORDER BY id_a, id_b""")),

    // Full IVF ANN: k-means-trained coarse centroids (2 Lloyd iterations),
    // corpus assigned to inverted lists, queries probe lists, exact
    // re-rank inside. Probing ALL lists makes the result provably equal
    // to brute force, so the oracle applies end-to-end; the partial-probe
    // approximation (the actual 100 TB path — nprobe ≪ nlist) has its
    // recall pinned in KmeansSpec.
    Q("q134_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val cents = graft.ops.Kmeans.train(emb, "vec_id", "embedding", k = 4, iters = 1)
        Frame(graft.ops.Kmeans.ivfTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", cents, k = 5, nprobe = 4)
          .select(col("query_id"), col("vec_id"),
            round(col("cosine"), 6).as("cosine"), col("rank")))
          .sortValues(Seq(SortKey.asc("query_id"), SortKey.asc("rank"))).df
      },
      Some("""
        SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rank
          FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) q)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF-style centroid assignment: nearest of 8 broadcast centroids per
    // vector; output = cluster sizes.
    Q("q109_centroid_assign",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        Frame(Similarity.assignCentroid(
          emb.select(col("vec_id"), col("embedding")), "embedding",
          centroids, "centroid_id", "cvec"))
          .groupby("centroid_id").size("n")
          .sortValues(Seq(SortKey.asc("centroid_id"))).df
      },
      Some("""
        SELECT centroid_id, count(*) AS n FROM (
          SELECT vec_id, centroid_id FROM (
            SELECT c.vec_id, ct.vec_id AS centroid_id,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY list_cosine_similarity(c.embedding, ct.embedding) DESC,
                              ct.vec_id) AS rk
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) ct)
          WHERE rk = 1)
        GROUP BY centroid_id ORDER BY centroid_id""")),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    // nearest-centroid assignment bounds the exact-cosine pair space to
    // within-cluster self-joins, then keep-first drops any vector with a
    // >=-threshold smaller-id neighbor in its cluster. Centroids here
    // are the fixed data-derived set (vec_id < 8, the q109 oracle-
    // expressible configuration); the k-means-trained path is covered by
    // q134/KmeansSpec. Assignment tie-break (sim DESC, cid ASC) and the
    // q148-proven threshold comparison are mirrored verbatim.
    Q("q229_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val cents = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        val kept = graft.ops.Dedup.semDedup(
          emb, "vec_id", "embedding", cents, "centroid_id", "cvec", threshold = 0.45)
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).cast("long").as("id_sum"),
          min(col("vec_id")).cast("long").as("first_kept"))
      },
      Some("""
        WITH assigned AS (
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT c.vec_id, c.embedding, ct.vec_id AS centroid_id,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY list_cosine_similarity(c.embedding, ct.embedding) DESC,
                              ct.vec_id) AS rk
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) ct)
          WHERE rk = 1),
        dropped AS (
          SELECT DISTINCT a.vec_id
          FROM assigned a JOIN assigned b
            ON a.centroid_id = b.centroid_id AND a.vec_id > b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
            AND NOT isnan(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])))
        SELECT count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS id_sum,
               CAST(min(vec_id) AS BIGINT) AS first_kept
        FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""")),

    // Near-dup clustering: candidate pairs (exact cosine baseline) →
    // connected components via hash-min label propagation — the
    // transitive-closure step between pair generation and representative
    // selection. Oracle = recursive-CTE reachability in DuckDB; equality
    // means the distributed iteration found exactly the true components.
    Q("q162_neardup_components",
      (s, dir) => {
        val pairs = Dedup.embeddingPairsBrute(
          t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 0.45)
        Frame(Dedup.connectedComponents(pairs, "id_a", "id_b"))
          .sortValues(Seq(SortKey.asc("id"))).df
      },
      Some("""
        WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src)
        SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""")),

    // End-to-end near-dup removal: cosine pairs → components → keep each
    // cluster's min-id representative + all singletons. The corpus-side
    // anti join is the only touch on the full table.
    Q("q168_neardup_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val pairs = Dedup.embeddingPairsBrute(emb, "vec_id", "embedding", threshold = 0.45)
        Frame(Dedup.dropNearDuplicates(
          emb.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b"))
          .sortValues(Seq(SortKey.asc("vec_id"))).df
      },
      Some("""
        WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src),
        losers AS (
          SELECT id FROM reach GROUP BY id HAVING id <> min(r))
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM losers)
        ORDER BY vec_id""")),

    // Streaming ingestion-side dedup, oracle-checked against its batch
    // twin: the documents fixture replayed as a file-drop stream through
    // EventStream.dedupeByFingerprint (watermarked state, bounded), then
    // the kept set aggregated by language. Which duplicate survives is
    // arrival-order dependent, but no fingerprint group in the corpus
    // mixes languages (and event time is synthesized from doc_id), so
    // the by-lang counts are deterministic and SQL-expressible.
    Q("q160_streaming_dedup",
      (s, dir) => {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val stage = Paths.get(QueryKit.scratch("/tmp/graft_stream", dir, "q160_docs"))
        Files.createDirectories(stage)
        Files.copy(Paths.get(s"$dir/documents.parquet"),
          stage.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage.toString)
          // deterministic event time: one doc per second, offset +1 s —
          // a row AT the stream's initial watermark (epoch 0) is treated
          // as expired by dropDuplicatesWithinWatermark and silently
          // dropped, so doc_id=0 must not land exactly on it
          .withColumn("__ts__", timestamp_micros((col("doc_id") + 1) * 1000000L))
        val q = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.dedupeByFingerprint(stream, "__ts__", "text"),
          "q160_dedup_sink",
          org.apache.spark.sql.streaming.OutputMode.Append())
        try {
          // memory sink rows persist after stop; aggregate the kept set
          s.table("q160_dedup_sink")
            .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
            .orderBy(col("lang"))
        } finally q.stop()
      },
      Some("""
        SELECT lang, count(*) AS n_kept FROM (
          SELECT lang, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')))
            ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1 GROUP BY lang ORDER BY lang""")),

    // Product-quantization ADC search (Jégou et al. 2011): vectors snap
    // to per-subspace codebooks (m=4 subspaces × ksub=4 centroids — the
    // oracle-expressible data-derived configuration, codebooks = slices
    // of vec_id<4 as in q109's fixed centroids), search runs over the
    // 4-byte codes via lookup-table distance. The oracle recomputes the
    // identical dimension-ordered squared-L2 folds (list_transform over
    // generate_series), the same argmin tie rule (dist asc, cid asc),
    // and sums the m partials in subspace order — double-for-double the
    // engine's arithmetic. Scale story at ops/Pq.scala: encode is a
    // zero-shuffle projection, ADC scans 32× fewer bytes than raw.
    Q("q231_ann_pq",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val cb = graft.ops.Pq.codebooksFromRows(emb, "vec_id", "embedding", m = 4, ksub = 4)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Frame(graft.ops.Pq.topK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", cb, k = 5)
          .select(col("query_id"), col("vec_id"),
            round(col("dist"), 6).as("dist"), col("rank")))
          .sortValues(Seq(SortKey.asc("query_id"), SortKey.asc("rank"))).df
      },
      Some("""
        WITH cb AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 4),
        js AS (SELECT unnest(generate_series(0, 3)) AS j),
        codes AS (
          SELECT vec_id, j, code FROM (
            SELECT c.vec_id, js.j, b.cid AS code,
                   row_number() OVER (PARTITION BY c.vec_id, js.j ORDER BY
                     list_sum(list_transform(generate_series(1, 16), i ->
                       (c.embedding[js.j*16+i]::DOUBLE - b.embedding[js.j*16+i]::DOUBLE)
                     * (c.embedding[js.j*16+i]::DOUBLE - b.embedding[js.j*16+i]::DOUBLE))) ASC,
                     b.cid ASC) AS rk
            FROM embeddings c, js, cb b) WHERE rk = 1),
        lut AS (
          SELECT q.vec_id AS query_id, js.j, b.cid,
                 list_sum(list_transform(generate_series(1, 16), i ->
                   (q.embedding[js.j*16+i]::DOUBLE - b.embedding[js.j*16+i]::DOUBLE)
                 * (q.embedding[js.j*16+i]::DOUBLE - b.embedding[js.j*16+i]::DOUBLE))) AS pd
          FROM embeddings q, js, cb b WHERE q.vec_id < 3),
        dists AS (
          SELECT l.query_id, c.vec_id,
                 list_sum(list(l.pd ORDER BY l.j)) AS dist
          FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.code
          GROUP BY 1, 2)
        SELECT query_id, vec_id, round(dist, 6) AS dist, rank FROM (
          SELECT query_id, vec_id, dist,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dist ASC, vec_id ASC) AS rank
          FROM dists) WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Distributed PCA stage (ops/Pca): the long-form population covariance
    // of the embedding cloud — per-row outer products map-side-combine to
    // d² partials per task, so the exchange is tasks×d² partials no matter
    // the corpus size; only the d×d matrix ever reaches the driver (where
    // the 64×64 Jacobi eigensolve runs — PcaSpec pins eigenpairs,
    // orthonormality, and whitening). The oracle replays the first 12×12
    // block's moments with the SAME 2^-20 integer quantization, so both
    // engines accumulate bit-identical (associative) integer sums and the
    // final double is deterministic — no half-ulp rounding flips.
    Q("q248_embedding_covariance",
      (s, dir) => Frame(graft.ops.Pca.covarianceLong(
          t(s, dir, "embeddings"), "embedding")
        .filter(col("i") < 12 && col("j") < 12)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          QueryKit.roundz(col("cov"), 6).as("cov")))
        .sortValues(Seq(SortKey.asc("i"), SortKey.asc("j"))).df,
      Some("""
        WITH e AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 CAST(floor(unnest(embedding)::DOUBLE * 1048576) AS BIGINT) AS qx
          FROM embeddings),
        f AS (SELECT * FROM e WHERE i < 12),
        n AS (SELECT count(*)::DOUBLE AS nn FROM embeddings),
        s AS (SELECT i, sum(qx)::DOUBLE AS si FROM f GROUP BY 1),
        xy AS (SELECT a.i AS i, b.i AS j,
                      sum(a.qx::HUGEINT * b.qx::HUGEINT)::DOUBLE AS sxy
               FROM f a JOIN f b USING (vec_id) GROUP BY 1, 2)
        SELECT xy.i::BIGINT AS i, xy.j::BIGINT AS j,
               round((sxy / n.nn - (sa.si / n.nn) * (sb.si / n.nn))
                     / 1099511627776.0, 6) + 0.0 AS cov
        FROM xy CROSS JOIN n
        JOIN s sa ON sa.i = xy.i
        JOIN s sb ON sb.i = xy.j
        ORDER BY 1, 2""")))
}
