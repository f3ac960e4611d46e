package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.ops.Dedup

/**
 * Structured Streaming surplus layer (SURVEY §2.14 — the reference has no
 * streaming; its closest analogs are resample (§2.12) and the batch
 * pipeline API). The same `events` schema the batch engine processes is
 * exposed as a stream: file-source ingestion, watermarked tumbling-window
 * aggregation, and stateful sessionization via mapGroupsWithState — the
 * streaming twins of q90_resample_hour and q92_sessionize.
 */
object EventStream {

  /** File-source stream over an events-shaped directory (one parquet per
    * micro-batch discovery; at scale this is the standard file-drop
    * ingestion pattern — swap for Kafka by changing only this reader). */
  def read(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Tumbling 1h aggregate with a 2h watermark: late events beyond the
    * watermark drop; state per open window only — bounded regardless of
    * stream length. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("win.start").as("bucket"), col("n"), col("sum_value"), col("approx_users"))

  /** Streaming per-key NDV via the bottom-k KMV sketch
    * ([[graft.ops.Sketch]]) — `approx_count_distinct` with an exactly
    * reproducible answer. The sketch's merge is a commutative,
    * associative set-union of bottom-k hash sets, so the folded result
    * is IDENTICAL for every micro-batch arrival order — no watermark
    * buffering needed for exactness (unlike the Ooo twins, whose fold is
    * order-sensitive). State per key is the ≤ k-long sorted buffer; the
    * streaming state store holds exactly the same partial buffer a batch
    * partial-aggregate task would. The same q262 DuckDB oracle applies
    * verbatim: replaying ANY permutation of the stream equals the batch
    * sketch bit-for-bit. */
  def ndvSketch(events: DataFrame, keyCol: String, valueCol: String,
      k: Int): DataFrame = {
    import graft.ops.Sketch
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol), Sketch.hash60(col(valueCol)).as("__h60"))
      .groupBy(col(keyCol))
      .agg(Sketch.bottomKAgg(col("__h60"), k).as("__sk"))
      .select(col(keyCol),
        size(col("__sk")).cast("long").as("sketch_size"),
        Sketch.estimate(col("__sk"), k).as("ndv_est"))
  }

  /** Watermarked per-hour NDV sketches in APPEND mode — the production
    * shape of [[ndvSketch]]: state is one ≤ k-long buffer per OPEN
    * window (bounded by the watermark horizon, not stream length), and
    * each hour's final sketch emits exactly once when the watermark
    * passes it. Within-horizon out-of-order arrival cannot change the
    * emitted sketch (bottom-k union is order-immune); beyond-horizon
    * lates drop like any watermarked aggregate. Applied to a static
    * frame the same expression is the batch per-hour sketch — the
    * parity StreamingSpec pins. */
  def ndvSketchHourly(events: DataFrame, tsCol: String, valueCol: String,
      k: Int, delay: String): DataFrame = {
    import graft.ops.Sketch
    events
      .filter(col(valueCol).isNotNull)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(Sketch.bottomKAgg(Sketch.hash60(col(valueCol)), k).as("__sk"))
      .select(col("window.start").cast("timestamp_ntz").as("bucket"),
        size(col("__sk")).cast("long").as("sketch_size"),
        Sketch.estimate(col("__sk"), k).as("ndv_est"))
  }

  /** Per-user session state: (sessionCount, lastSeenMicros). */
  final case class SessionState(sessions: Long, lastMicros: Long)
  final case class SessionUpdate(userId: Long, sessions: Long)

  /** Gap-based sessionization (30 min) as explicit keyed state — the
    * streaming equivalent of ops.Resample.sessionize. State is one tuple
    * per user (constant size); ProcessingTimeTimeout would evict idle
    * users in production.
    *
    * Ordering contract: events are sorted within each micro-batch, but
    * an event arriving in a LATER batch with an EARLIER timestamp than
    * state.lastMicros is treated as in-session (its gap is negative).
    * Matching the batch result therefore requires per-user-ordered
    * arrival across batches (true for time-ordered file drops / a
    * by-user-keyed, time-ordered Kafka topic). For unordered transports
    * use [[sessionizeOoo]], which buffers under the event-time watermark
    * and folds in timestamp order — exact at the cost of `delay`
    * latency; this variant stays the zero-lag path for ordered input. */
  def sessionize(events: DataFrame): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val typed = events.select(
      col("user_id").cast("long"),
      unix_micros(col("ts").cast("timestamp")).as("micros"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[SessionState]) =>
          val sorted = batch.map(_._2).toArray.sorted
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          sorted.foreach { m =>
            val newSession = st.lastMicros == Long.MinValue || m - st.lastMicros > 1800L * 1000000L
            st = SessionState(st.sessions + (if (newSession) 1 else 0), m)
          }
          state.update(st)
          SessionUpdate(userId, st.sessions)
      }
  }

  private def toMicros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Buffered sessionization state for [[sessionizeOoo]]: events the
    * watermark has not yet finalized, plus the folded prefix. */
  final case class OooSessionState(pending: Seq[Long], sessions: Long, lastMicros: Long)

  /**
   * OUT-OF-ORDER-SAFE sessionization: the watermark-buffered variant of
   * [[sessionize]] (which requires per-key-ordered arrival across
   * micro-batches — deviation 6). Events buffer in keyed state until the
   * event-time watermark passes them; only then do they fold into the
   * gap-session count, in global per-key timestamp order — so ANY arrival
   * order within the allowed lateness produces exactly the batch result.
   *
   * Contract (the standard Structured Streaming trade):
   *   - events later than `delay` behind the stream's max event time are
   *     DROPPED (same rule as watermarked aggregations);
   *   - an event is folded only once the watermark passes it, so emission
   *     lags by `delay` — correctness buys latency;
   *   - state per key = session tuple + the ≤`delay`-deep pending buffer
   *     (bounded by the key's event rate × the lateness horizon).
   * Flush-on-watermark uses EventTimeTimeout: each invocation re-arms the
   * timeout at the earliest pending event, so a key folds its buffer even
   * if it never receives another row.
   *
   * `events` must carry the TIMESTAMP event-time column `ts` (watermark
   * metadata rides that attribute into the stateful operator).
   */
  def sessionizeOoo(events: DataFrame, delay: String = "2 hours",
      gapSeconds: Long = 1800L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    // cast BEFORE the watermark: casting after would mint a new attribute
    // and silently drop the watermark metadata the stateful operator needs
    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OooSessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, batch, state: GroupState[OooSessionState]) =>
          // 0 = no watermark established yet (first batches): nothing is
          // late, and pre-1970 (negative-micros) events must not be
          // mistaken for it
          val wmMs = state.getCurrentWatermarkMs()
          val wm = if (wmMs == 0L) Long.MinValue else wmMs * 1000L
          val st0 = state.getOption.getOrElse(OooSessionState(Vector.empty, 0L, Long.MinValue))
          // incoming rows STRICTLY behind the watermark are late beyond
          // the tolerance: drop them (folding them now would interleave
          // wrongly with the already-folded prefix). A row AT the
          // watermark is not late — it buffers and folds once the
          // watermark strictly passes it, so boundary-timed ties always
          // fold together in timestamp order regardless of arrival batch.
          val incoming = batch.map(t => toMicros(t._2)).filter(_ >= wm).toVector
          val (ready, still) = (st0.pending ++ incoming).sorted.partition(_ < wm)
          var sessions = st0.sessions
          var last = st0.lastMicros
          ready.foreach { m =>
            if (last == Long.MinValue || m - last > gapSeconds * 1000000L) sessions += 1
            last = m
          }
          state.update(OooSessionState(still, sessions, last))
          // re-arm: fire as soon as the watermark passes the earliest
          // pending event (must be strictly ahead of the current watermark)
          // clamp above the current watermark: a pre-1970 pending event
          // would otherwise arm a timeout Spark rejects as not-in-future
          if (still.nonEmpty) state.setTimeoutTimestamp(
            math.max(still.min / 1000L + 1L, wmMs + 1L))
          if (ready.nonEmpty) Iterator(SessionUpdate(userId, sessions)) else Iterator.empty
      }
  }

  /** One enrichment row: key = the by-key, micros = event time, isRight
    * marks state-carrying rows (e.g. purchases), id identifies left rows. */
  final case class EnrichInput(key: Long, micros: Long, isRight: Boolean,
      value: Double, id: Long)
  final case class EnrichOut(id: Long, value: Option[Double])

  /** Buffered enrichment state for [[enrichLatestOoo]]: rows awaiting the
    * watermark, plus the latest finalized right value. */
  final case class OooEnrichState(pending: Seq[EnrichInput], lastValue: Option[Double])

  /**
   * OUT-OF-ORDER-SAFE latest-value enrichment: the watermark-buffered
   * variant of [[enrichLatest]] (deviation 6). Left and right rows buffer
   * per key until the watermark passes them, then fold in (time,
   * right-before-left, id) order — a left row is emitted only once every
   * right row at-or-before it (within the lateness horizon) has arrived,
   * so arrival order across micro-batches cannot change the answer.
   * Same contract as [[sessionizeOoo]]: beyond-`delay` stragglers drop,
   * emission lags the watermark, state is the bounded pending buffer.
   *
   * `events` must carry (key, ts TIMESTAMP, isRight, value, id); the
   * watermark is applied to `ts` here so its metadata reaches the
   * stateful operator.
   */
  def enrichLatestOoo(events: DataFrame, delay: String = "2 hours"): Dataset[EnrichOut] = {
    import events.sparkSession.implicits._
    // cast BEFORE the watermark — see sessionizeOoo
    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", delay)
      .select(col("key").cast("long").as("key"), col("ts"),
        col("isRight").as("isRight"), col("value").cast("double").as("value"),
        col("id").cast("long").as("id"))
      .as[(Long, java.sql.Timestamp, Boolean, Double, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OooEnrichState, EnrichOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, batch, state: GroupState[OooEnrichState]) =>
          // 0 = no watermark established yet (first batches): nothing is
          // late, and pre-1970 (negative-micros) events must not be
          // mistaken for it
          val wmMs = state.getCurrentWatermarkMs()
          val wm = if (wmMs == 0L) Long.MinValue else wmMs * 1000L
          val st0 = state.getOption.getOrElse(OooEnrichState(Vector.empty, None))
          // same boundary rule as sessionizeOoo: at-watermark rows buffer
          // (they are not late), only strictly-passed rows fold
          val incoming = batch
            .map(t => EnrichInput(t._1, toMicros(t._2), t._3, t._4, t._5))
            .filter(_.micros >= wm).toVector
          val (ready, still) = (st0.pending ++ incoming)
            .sortBy(r => (r.micros, if (r.isRight) 0 else 1, r.id))
            .partition(_.micros < wm)
          var lastValue = st0.lastValue
          val out = scala.collection.mutable.ArrayBuffer.empty[EnrichOut]
          ready.foreach { r =>
            if (r.isRight) lastValue = Some(r.value)
            else out += EnrichOut(r.id, lastValue)
          }
          state.update(OooEnrichState(still, lastValue))
          if (still.nonEmpty) state.setTimeoutTimestamp(
            math.max(still.map(_.micros).min / 1000L + 1L, wmMs + 1L))
          out.iterator
      }
  }

  /** Streaming merge_asof(direction=backward): left rows are enriched
    * with the LATEST right value at-or-before their event time, as keyed
    * state — the streaming twin of [[graft.ops.Joins.asof]] and the
    * standard stream-enrichment shape (clicks stamped with the user's
    * last purchase). State per key is one double (constant size; an
    * event-time timeout would evict idle keys in production). Within a
    * micro-batch, rows process in (time, right-before-left, id) order,
    * so an exact-time right row is visible to the left row — the same
    * allow_exact_matches=true visibility rule the batch plan encodes in
    * its window sort. Same cross-batch ordering contract as
    * [[sessionize]]: per-key-ordered arrival — [[enrichLatestOoo]] is
    * the watermark-buffered variant for unordered transports. */
  def enrichLatest(ds: Dataset[EnrichInput]): Dataset[EnrichOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Double, EnrichOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Double]) =>
          val rows = batch.toArray.sortBy(r => (r.micros, if (r.isRight) 0 else 1, r.id))
          val out = scala.collection.mutable.ArrayBuffer.empty[EnrichOut]
          rows.foreach { r =>
            if (r.isRight) state.update(r.value)
            else out += EnrichOut(r.id, state.getOption)
          }
          out.iterator
      }
  }

  /** Streaming exact dedup on a canonicalized content fingerprint — the
    * streaming twin of [[graft.ops.Dedup.exact]] and the ingestion-side
    * dedup stage of a training-data pipeline (drop re-crawled/duplicate
    * documents before they ever land). State holds one fingerprint per
    * distinct document and is EVICTED once the event-time watermark
    * passes it — bounded state, unlike plain `dropDuplicates`, whose
    * fingerprint set grows without bound on an infinite stream. Keeps
    * the first arrival (batch `Dedup.exact` keeps the smallest id; on
    * per-fingerprint-time-ordered input the kept sets coincide). */
  def dedupeByFingerprint(docs: DataFrame, tsCol: String, textCol: String,
      horizon: String = "2 hours"): DataFrame =
    docs
      .withColumn("__fp__", graft.functions.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__fp__")
      .drop("__fp__")

  /** One first-claim of an LSH band bucket: `docId` was the earliest
    * arrival carrying this band's key ([[nearDupBandClaims]]). */
  final case class BandClaim(docId: Long, band: Int)

  /**
   * Streaming MinHash-LSH near-duplicate SUPPRESSION — the ingestion-side
   * twin of [[graft.ops.Dedup]]'s batch near-dup removal: drop a document
   * at arrival if it *probably* duplicates something already ingested,
   * without ever joining the stream against the corpus. Stage 1 (this
   * op): each document explodes into its `bands` engine-portable md5 band
   * keys (the batch band step [[graft.ops.Dedup.md5Bands]] — the SAME
   * keys the batch pair generator and the DuckDB oracle band with), and
   * keyed state per (band, key) bucket records the first arrival: the
   * first document to carry a bucket emits a [[BandClaim]]; later
   * carriers emit nothing.
   * Stage 2 ([[keptFromClaims]]): a document is kept iff it claimed EVERY
   * band — i.e. dropped iff ANY of its band keys was seen on an earlier
   * arrival, the pair-based keep-first rule (collision with an earlier
   * document suppresses even if that document was itself suppressed,
   * exactly as batch keep-first drops by smaller-id collision without
   * re-examining the dropped side).
   *
   * This is band-collision suppression, NOT Jaccard-verified dedup: per
   * band P(collision) = J^rowsPerBand, so false-positive suppression is
   * governed by the (bands, rowsPerBand) S-curve the batch family tunes.
   * The streaming trade is one pass, bounded memory, no verify join.
   *
   * State is one byte per band bucket seen within the horizon and is
   * EVICTED `horizonSeconds` of event time after a bucket's last sighting
   * (sliding window, EventTimeTimeout) — bounded on an infinite stream;
   * a re-crawl later than the horizon re-claims its buckets, the same
   * window contract as [[dedupeByFingerprint]]. Within a micro-batch,
   * bucket ownership is decided by (event time, docId) order, so a replay
   * that respects event-time order reproduces the batch rule exactly
   * (StreamingSpec pins the parity; q232 oracle-checks it end to end).
   */
  def nearDupBandClaims(docs: DataFrame, tsCol: String, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      delay: String = "2 hours", horizonSeconds: Long = 7200L): Dataset[BandClaim] = {
    import docs.sparkSession.implicits._
    // cast before the watermark (see sessionizeOoo); the band explode is
    // a narrow projection, so the watermark attribute rides through it
    val watermarked = docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
    val typed = Dedup.md5Bands(watermarked, textCol, shingleN, bands,
        Dedup.rowsPerBand(numHashes, bands),
        col(idCol).cast("long").as("__id__"), col(tsCol).as("__ts__"))
      .select(
        concat_ws(":", col("__band__").cast("string"), hex(col("__key__"))).as("_1"),
        col("__id__").as("_2"), col("__band__").cast("int").as("_3"), col("__ts__").as("_4"))
      .as[(String, Long, Int, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, BandClaim](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toVector
            val wmMs = state.getCurrentWatermarkMs()
            // sliding eviction horizon from the bucket's latest sighting,
            // clamped strictly ahead of the watermark (Spark rejects
            // not-in-future timeouts; pre-1970 fixtures otherwise trip it)
            val armAt = math.max(
              rs.map(r => toMicros(r._4) / 1000L).max + horizonSeconds * 1000L,
              wmMs + 1L)
            if (state.exists) { state.setTimeoutTimestamp(armAt); Iterator.empty }
            else {
              val w = rs.minBy(r => (toMicros(r._4), r._2))
              state.update(true)
              state.setTimeoutTimestamp(armAt)
              Iterator(BandClaim(w._2, w._3))
            }
          }
      }
  }

  /**
   * Stream-static incremental linkage (stage 1) — the ingestion-side twin
   * of [[graft.ops.Dedup.linkAgainstIndex]], and the same step
   * ([[graft.ops.Dedup.indexCandidates]]): each arriving document bands
   * map-side into its engine-portable md5 band keys and equi-joins the
   * PERSISTED band index ([[graft.ops.Dedup.writeBandIndex]] output,
   * loaded as a static DataFrame). A stream-static inner join is
   * STATELESS — no watermark, no state store; per-micro-batch cost is
   * O(batch + matched buckets), never O(corpus) — so this is the "is
   * this arriving doc already in the 10B-doc corpus" probe that runs at
   * ingestion rate.
   *
   * Emits (id_l, id_r) candidate hits, possibly repeated when several
   * bands collide for one pair (streaming `distinct` would need
   * unbounded state); [[linksFromClaims]] is the batch finisher that
   * dedupes and exact-Jaccard-verifies — the same two-stage contract as
   * [[nearDupBandClaims]]/[[keptFromClaims]].
   */
  def linkClaimsAgainstIndex(docs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    Dedup.indexCandidates(docs, idCol, textCol, index, shingleN, numHashes, bands)

  /** Stage-2 finisher over accumulated [[linkClaimsAgainstIndex]] hits (a
    * batch job over the sink): dedupe candidate pairs, then the batch
    * verify step ([[graft.ops.Dedup.verifyJaccard]] over folded shingle
    * sets) — byte-identical semantics to the batch
    * [[graft.ops.Dedup.linkAgainstIndex]]. */
  def linksFromClaims(claims: DataFrame,
      batch: DataFrame, batchId: String, batchText: String,
      corpus: DataFrame, corpusId: String, corpusText: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    Dedup.verifyJaccard(claims.distinct(),
      Dedup.foldedSets(batch, batchId, batchText, shingleN, "l"),
      Dedup.foldedSets(corpus, corpusId, corpusText, shingleN, "r"), threshold)

  /** Stage-2 finisher over accumulated [[BandClaim]]s (a batch aggregate —
    * run it per sink table or inside foreachBatch): a document survives
    * iff it claimed all `bands` of its band buckets first. */
  def keptFromClaims(claims: DataFrame, bands: Int): DataFrame =
    claims.groupBy(col("docId"))
      .agg(count(lit(1)).as("__n__"))
      .filter(col("__n__") === bands)
      .select(col("docId"))

  /** Watermarked stream-stream interval join: each left event (e.g. a
    * click) pairs with every right event (e.g. a view) of the SAME user
    * within `lookbackSeconds` BEFORE it. The event-time bound plus both
    * watermarks let Spark evict buffered rows once the watermark passes
    * `lookback + delay` — bounded state on an infinite stream, the
    * property a raw stream-stream join lacks. Inner join: unmatched rows
    * drop (Spark requires the time bound for outer variants too; same
    * shape). The batch twin is a plain self-join with the identical
    * range predicate (StreamingSpec pins equality). */
  def joinRecent(events: DataFrame, leftType: String, rightType: String,
      lookbackSeconds: Long, delay: String = "2 hours"): DataFrame = {
    val left = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_id").as("l_id"), col("value").as("l_value"))
      .withWatermark("l_ts", delay)
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"), col("value").as("r_value"))
      .withWatermark("r_ts", delay)
    left.join(right,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col("r_ts") < col("l_ts"))
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_value"), col("r_value"))
  }

  /** Run a stream to a named in-memory sink until all source files are
    * consumed; returns the query (caller reads `spark.table(name)`). */
  def runToMemory(df: Dataset[_], name: String, outputMode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q
  }
}
