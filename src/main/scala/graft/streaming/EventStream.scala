package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming restatement of the reference's incremental
  * patterns (SURVEY.md §2.9): the reference is pure batch with manual
  * chunk loops + mergeable accumulators (ST1) and resume markers (ST3);
  * here the same aggregations run incrementally with event-time
  * watermarks — the shape that absorbs a continuous AFC/event feed at
  * scale without re-reading history.
  */
object EventStream {

  /** Tumbling event-time window aggregation with a late-data watermark:
    * the streaming twin of the per-day batch aggregates (EP2). State is
    * bounded by the watermark horizon — required at 100 TB/day feeds. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      // exact cents sum: streaming partial-state addition order is even
      // less deterministic than batch — integer cents make the running
      // total exact and the q37 stream==batch contract bit-identical
      .agg(count(lit(1)).as("n_events"),
           graft.ops.Cleaning.sumExact2(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization via the built-in `session_window` — the
    * streaming form of [[graft.ops.Journeys.sessionize]] (q05), with
    * watermark-bounded state: a session closes once the watermark
    * passes its end, so state never grows with total users, only with
    * concurrently-open sessions. Boundary semantics vs the batch
    * running-sum form: `session_window` opens a NEW session at a gap of
    * exactly `gap`; `sessionize` keeps it (strict `>`). Identical for
    * every non-boundary gap (StreamingSpec asserts equality on data
    * verified free of exact-boundary gaps). Note `session_window.end`
    * is last-event + gap; the emitted `duration_us` is therefore
    * computed as max(ts) − min(ts) — the q05 span — NOT from the
    * window bounds. */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
                        watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("duration_us"))

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** ST4-style custom state: running per-user totals via
    * `flatMapGroupsWithState` — the streaming form of the reference's
    * first-seen/accumulator upserts
    * (`scripts/ads_passenger_travel_distance_di.py:26-52`).
    *
    * State is BOUNDED by an event-time timeout keyed to the watermark:
    * a user idle past `idleTimeout` (measured in event time) has its
    * state evicted on the next trigger after the watermark passes. A
    * `NoTimeout` variant would grow one state entry per user forever —
    * an OOM guarantee on a continuous 100 TB feed. StreamingSpec
    * asserts the eviction (a returning user restarts from zero). */
  def runningUserTotals(events: DataFrame, watermark: String = "2 hours",
                        idleTimeout: String = "24 hours"): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("value"), col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         st: GroupState[UserRunning]) =>
          if (st.hasTimedOut) {
            st.remove()
            Iterator.empty
          } else {
            // flatMapGroupsWithState does NOT drop late rows for us: a
            // row behind the watermark must be skipped here, both for
            // semantics (the aggregate paths drop it) and because a
            // timeout computed from its old event time would be behind
            // the watermark and setTimeoutTimestamp would throw,
            // crashing the whole query on one straggler.
            val wm = st.getCurrentWatermarkMs()
            val prev = st.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
            var n = prev.n_events; var tot = prev.total_value
            var maxTs = Long.MinValue
            rows.foreach { r =>
              val t = r._3.getTime
              if (t >= wm) { n += 1; tot += r._2; maxTs = math.max(maxTs, t) }
            }
            if (maxTs == Long.MinValue) Iterator.empty // every row was late
            else {
              val next = UserRunning(uid, n, tot)
              st.update(next)
              st.setTimeoutTimestamp(maxTs, idleTimeout)
              Iterator.single(next)
            }
          }
      }
  }

  /** Streaming exact dedup — the continuous-ingest twin of the batch
    * fingerprint dedup ([[graft.llm.Dedup.exactDupGroups]]): documents
    * arriving on a stream are emitted once per canonical fingerprint,
    * using Spark's built-in `dropDuplicatesWithinWatermark` state store
    * (no custom state code needed — the Spark-first form). State is
    * bounded by the watermark horizon: a fingerprint not re-seen within
    * it is evicted, which is the right contract for crawl feeds where
    * duplicates cluster in time (exact global dedup over unbounded
    * history belongs to the batch path / a compaction job).
    *
    * Takes any streaming DataFrame with a text column and an event-time
    * column already present. */
  def streamingExactDedup(docs: DataFrame, textCol: String, tsCol: String,
                          watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("fp", graft.llm.TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** One near-dup bucket's state: `(id, payload)` members seen inside
    * the horizon — the payload is what the twin's pair rule compares —
    * plus the member COUNT including members dropped after overflow:
    * the cap must keep counting or a hot bucket would re-arm below the
    * cap the moment its list is cleared. */
  final case class BucketState(members: List[(Long, Array[Long])], n: Int,
                               overflowed: Boolean)

  /** The bucket operator both near-dup twins run: `keyed` rows
    * `(id, ts, key_index, key, payload: array<bigint>)` are grouped by
    * `(key_index, key)` in `flatMapGroupsWithState`, and a new member
    * emits `(id_a < id_b, v)` against each existing member for which
    * `pair(key_index, mine, theirs)` returns `v >= 0`. The rule is what
    * makes each pair come out once, from ONE of the buckets it shares.
    *  - Late rows (behind the watermark) are dropped here — the engine
    *    does not filter them for this operator, and a timeout computed
    *    from a straggler's event time would be behind the watermark,
    *    so `setTimeoutTimestamp` would throw and kill the query.
    *  - Replay guard: a member already in the bucket emits nothing
    *    again (the batch input is one row per id).
    *  - `maxBucketSize` is the batch cap's degenerate-bucket guard: the
    *    member that overflows a bucket drops its member list (state
    *    stays O(cap)), emits ONE sentinel `(-1, key, -1)` and the bucket
    *    goes quiet until eviction — recall loss is announced, not
    *    silent (filter `id_a >= 0` for the pair stream). Below the cap
    *    the pair set equals the batch set. Above it the MinHash batch
    *    path drops the WHOLE bucket, which a stream cannot do after the
    *    fact (it cannot unemit); the Hamming batch cap follows this
    *    operator instead ([[graft.llm.Dedup.hammingCandidatesFromFp]]).
    *    A pair is emitted only from its rule's bucket, so when THAT
    *    bucket overflows the pair is lost even if both members share
    *    another, clean bucket: recovering it would need each bucket to
    *    see the other buckets' overflow state, which no per-key state
    *    store can.
    *  - A bucket is evicted once the watermark passes `idleTimeout`
    *    past its last arrival: near-dups cluster in time on crawl feeds
    *    (the [[streamingExactDedup]] contract); global history belongs
    *    to the batch path.
    *
    * The state schema is [[BucketState]]'s, so a checkpoint written by
    * an operator with another state class cannot be resumed. */
  private def bucketPairs(keyed: DataFrame, valueCol: String,
                          maxBucketSize: Int, watermark: String,
                          idleTimeout: String)(
      pair: (Int, Array[Long], Array[Long]) => Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int, Long, Array[Long])]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bucket: (Int, Long),
         arrivals: Iterator[(Long, java.sql.Timestamp, Int, Long, Array[Long])],
         st: GroupState[BucketState]) =>
          if (st.hasTimedOut) {
            st.remove()
            Iterator.empty
          } else {
            val wm = st.getCurrentWatermarkMs()
            var s = st.getOption.getOrElse(BucketState(Nil, 0, false))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            var maxTs = Long.MinValue
            arrivals.foreach { case (id, ts, _, _, mine) =>
              if (ts.getTime >= wm) {
                maxTs = math.max(maxTs, ts.getTime)
                if (!s.overflowed && !s.members.exists(_._1 == id)) {
                  if (s.n + 1 > maxBucketSize) {
                    s = BucketState(Nil, s.n + 1, overflowed = true)
                    out += ((-1L, bucket._2, -1))
                  } else {
                    s.members.foreach { case (other, theirs) =>
                      val v = pair(bucket._1, mine, theirs)
                      if (v >= 0)
                        out += ((math.min(id, other), math.max(id, other), v))
                    }
                    s = BucketState((id, mine) :: s.members, s.n + 1,
                      overflowed = false)
                  }
                }
              }
            }
            if (maxTs == Long.MinValue) Iterator.empty // all arrivals late
            else {
              st.update(s)
              st.setTimeoutTimestamp(maxTs, idleTimeout)
              out.iterator
            }
          }
      }
      .toDF("id_a", "id_b", valueCol)
  }

  /** Streaming MinHash-LSH near-dup candidate generation — the
    * continuous-ingest twin of [[graft.llm.Dedup.minhashLshCandidates]]
    * (q30's operator): documents arriving on a stream emit candidate
    * pairs against every document that shares an LSH band bucket
    * within the watermark horizon.
    *
    * Construction: the shingle set and the band rows come from the
    * IDENTICAL batch expressions — [[graft.llm.Dedup.shingles]], then a
    * `posexplode` of [[graft.llm.Dedup.bandHashes]], the per-row
    * banding kernel the batch index uses — so stream and batch band
    * hashes agree bit for bit. Buckets are keyed (band, band_hash) in
    * [[bucketPairs]], whose cap, sentinel `(-1, band_hash, -1)`, replay
    * guard and eviction apply as stated there. Each band row carries
    * the hashes of the bands BEFORE it, and a pair is emitted only if
    * it shares none of them: each pair comes out once, from its first
    * shared band, which is the batch path's cross-band `distinct()`
    * without a second stateful operator. Below the cap the raw output
    * equals the batch candidate set, once per pair (StreamingSpec pins
    * it on the documents corpus). A member holds half the band hashes
    * on average. */
  def streamingMinhashCandidates(docs: DataFrame, idCol: String,
                                 textCol: String, tsCol: String,
                                 shingleN: Int = 2, bands: Int = 16,
                                 rows: Int = 4, maxBucketSize: Int = 500,
                                 watermark: String = "2 hours",
                                 idleTimeout: String = "24 hours"): DataFrame = {
    // parity with the batch banding: a null text (null shingle array)
    // or an empty shingle set has null band hashes, so the posexplode
    // emits no rows for it; a null/uncastable id or a null ts is
    // dropped up front, since the typed bucket state decodes both as
    // non-null
    val keyed = docs
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        graft.llm.Dedup.bandHashes(
          graft.llm.Dedup.shingles(col(textCol), shingleN), bands, rows).as("bh"))
      .where(col("id").isNotNull && col("ts").isNotNull)
      .select(col("id"), col("ts"), col("bh"),
        posexplode(col("bh")).as(Seq("band", "band_hash")))
      .select(col("id"), col("ts"), col("band"), col("band_hash"),
        slice(col("bh"), lit(1), col("band")).as("earlier"))
    bucketPairs(keyed, "band", maxBucketSize, watermark, idleTimeout) {
      (band, mine, theirs) =>
        if ((0 until band).exists(i => mine(i) == theirs(i))) -1 else band
    }
  }

  /** Streaming perceptual-hash image near-dup — the continuous-ingest
    * twin of [[graft.llm.Multimodal.imageNearDupPairs]] (q80's
    * operator): media payloads arriving on a stream are fingerprinted
    * by the SAME codegen'd dHash kernel and emit VERIFIED near-dup
    * pairs (hamming <= maxHamming) against every image sharing a
    * multi-block combination key within the watermark horizon. Key
    * construction is [[graft.llm.Dedup.comboKeyExprs]] — bit-identical
    * with the batch join's buckets — and emission applies the SAME
    * canonical-combo filter as the batch join, with the masks of
    * [[graft.llm.Dedup.comboMasks]] (both fingerprints are in hand at
    * emission, so the first-all-clean-combination index is computable
    * per pair): below the bucket cap the emitted pair MULTISET equals
    * the batch output exactly, once per pair, no downstream distinct
    * needed (StreamingSpec pins it). Non-decodable payloads hash to
    * NULL and drop out, as in batch. Cap, sentinel
    * `(-1, <bucket key>, -1)`, replay guard and eviction are
    * [[bucketPairs]]'s. */
  def streamingImageNearDupCandidates(media: DataFrame, idCol: String,
                                      payloadCol: String, tsCol: String,
                                      blocks: Int = 0, maxHamming: Int = 7,
                                      keyBlocks: Int = 0,
                                      maxBucketSize: Int = 500,
                                      watermark: String = "2 hours",
                                      idleTimeout: String = "24 hours"): DataFrame =
    streamingHammingNearDup(media, idCol, tsCol,
      graft.functions.PerceptualHash.d_hash(col(payloadCol)),
      blocks, maxHamming, keyBlocks, maxBucketSize, watermark, idleTimeout)

  /** The audio twin — same bucket machinery over the acoustic
    * fingerprint ([[graft.functions.AudioFingerprint]], q84's
    * operator); everything in [[streamingImageNearDupCandidates]]'s
    * contract (canonical-combo once-per-pair emission, overflow
    * sentinel, eviction) applies verbatim. */
  def streamingAudioNearDupCandidates(media: DataFrame, idCol: String,
                                      payloadCol: String, tsCol: String,
                                      blocks: Int = 0, maxHamming: Int = 7,
                                      keyBlocks: Int = 0,
                                      maxBucketSize: Int = 500,
                                      watermark: String = "2 hours",
                                      idleTimeout: String = "24 hours"): DataFrame =
    streamingHammingNearDup(media, idCol, tsCol,
      graft.functions.AudioFingerprint.audio_fp(col(payloadCol)),
      blocks, maxHamming, keyBlocks, maxBucketSize, watermark, idleTimeout)

  private def streamingHammingNearDup(media: DataFrame, idCol: String,
                                      tsCol: String, fpExpr: Column,
                                      blocks: Int, maxHamming: Int,
                                      keyBlocks: Int, maxBucketSize: Int,
                                      watermark: String,
                                      idleTimeout: String): DataFrame = {
    // the batch twin's resolver (Dedup.geometry): the same auto-sizing
    // at blocks=0/keyBlocks=0, so stream==batch bucket keys hold at
    // every threshold, and the same checks on an explicit geometry,
    // so a non-exhaustive one throws here instead of silently
    // missing pairs once the stream runs
    val (nBlocks, kb, _) =
      graft.llm.Dedup.geometry(1, blocks, maxHamming, keyBlocks)
    // C(blocks, keyBlocks) longs, riding the closure to every executor
    val comboMasks = graft.llm.Dedup.comboMasks(nBlocks, kb)
    val keyed = media
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        fpExpr.as("sh"))
      .where(col("id").isNotNull && col("ts").isNotNull && col("sh").isNotNull)
      .select(col("id"), col("ts"), col("sh"),
        posexplode(array(
          graft.llm.Dedup.comboKeyExprs(Seq(col("sh")), nBlocks, kb): _*))
          .as(Seq("combo", "key")))
      .select(col("id"), col("ts"), col("combo"), col("key"),
        array(col("sh")).as("fp"))
    bucketPairs(keyed, "hamming", maxBucketSize, watermark, idleTimeout) {
      (combo, mine, theirs) =>
        val x = mine(0) ^ theirs(0)
        val h = java.lang.Long.bitCount(x)
        // the batch join's canonical-combo filter: emit only from the
        // pair's FIRST all-clean combination (this bucket is clean, so
        // one exists at an index <= combo)
        if (h <= maxHamming && comboMasks.indexWhere(m => (x & m) == 0L) == combo) h
        else -1
    }
  }

  /** Stream-stream INTERVAL join: each tap (left) enriched with the
    * same user's follow-up events (right) arriving within `horizon`
    * after it — the continuous form of the reference's
    * inspection-to-trip matching (fare checks joined to the journeys
    * they audited). Both sides carry watermarks and the join condition
    * bounds event time in BOTH directions, so Spark can evict buffered
    * rows once the watermark passes their match window — without the
    * time bound a stream-stream join buffers each side FOREVER, the
    * classic production state leak. State ≈ horizon + watermark worth
    * of rows per side regardless of stream age: the 100 TB/day shape.
    *
    * `joinType`:
    *  - `inner` (default), append mode: a result row is emitted once
    *    both sides have arrived; rows with no match inside the horizon
    *    simply never emit.
    *  - `left_outer`: same two-sided bounds and state story; a tap with
    *    NO follow-up inside the horizon additionally emits once with
    *    null fu_* columns — but only after the watermark closes its
    *    match window (the engine must be sure no matching right row can
    *    still arrive), so unmatched output trails matched output by up
    *    to horizon + watermark event time. This is the reference's
    *    inspections-without-matched-journey audit reporting
    *    (`scripts/ads_fare_revenue_region_mi.R:33-36`): unmatched
    *    checks must surface, not vanish. */
  def intervalJoin(taps: DataFrame, followUps: DataFrame,
                   watermark: String = "2 hours",
                   horizon: String = "30 minutes",
                   joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"intervalJoin supports inner | left_outer, got $joinType")
    val l = taps
      .select(col("user_id"), col("ts").as("tap_ts"),
        col("event_id").as("tap_id"), col("event_type").as("route"))
      .withWatermark("tap_ts", watermark)
    val r = followUps
      .select(col("user_id").as("fu_user"), col("ts").as("fu_ts"),
        col("event_id").as("fu_id"), col("event_type").as("fu_type"))
      .withWatermark("fu_ts", watermark)
    l.join(r,
        col("user_id") === col("fu_user") &&
        col("fu_ts") > col("tap_ts") &&
        col("fu_ts") <= col("tap_ts") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("user_id"), col("tap_id"), col("route"),
        col("tap_ts"), col("fu_id"), col("fu_type"), col("fu_ts"))
  }

  final case class FirstSeen(key: String, n_rows: Long,
                             create_us: Long, update_us: Long)

  /** ST4 streaming twin — the keyed get-or-create FIRST-SEEN store as
    * a continuous operator (reference:
    * `scripts/ads_passenger_travel_distance_di.py:26-52` keeps a
    * SQLite store stamping `create_time` at a key's first insert and
    * `update_time` on every later one; the batch form is q21's
    * snapshot join with `coalesce(prev.create_time, now)`).
    *
    * Contract (the distributed-native restatement of that store):
    *  - `create_us`: the key's OWN data watermark — max event-time µs
    *    of its rows — within the microbatch that FIRST contained it.
    *    NEVER changes afterwards, across microbatches AND across
    *    checkpoint kill-resume (the preserve-first-seen contract;
    *    StreamingSpec pins both). The reference stamps the run's wall
    *    clock, which no replay can reproduce; the key-scoped data
    *    watermark is its deterministic analogue, and equals the q21
    *    snapshot-join recurrence replayed per microbatch (spec-pinned:
    *    a key first seen in batch i has no earlier snapshot row, so
    *    the coalesce falls through to batch i's watermark for it).
    *  - `update_us`: running max event-time µs across all batches.
    *  - `n_rows`: accumulated non-late row count.
    *
    * Update mode: one row per TOUCHED key per microbatch (the upsert
    * feed a sink applies; the latest row per key is the store state).
    * State is bounded by the event-time idle timeout: a key idle past
    * it is evicted and would be RE-created on return — the same
    * horizon contract as [[streamingExactDedup]]; unbounded-history
    * first-seen belongs to the batch snapshot-join form (q21), which
    * a periodic compaction reconciles. Late rows (behind the
    * watermark) are skipped, matching the aggregate paths. */
  def firstSeenAggregates(rows: DataFrame, keyCol: String,
                          watermark: String = "2 hours",
                          idleTimeout: String = "7 days"): Dataset[FirstSeen] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .withWatermark("ts", watermark)
      .select(col(keyCol).cast("string").as("key"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, it: Iterator[(String, java.sql.Timestamp, Long)],
         st: GroupState[FirstSeen]) =>
          if (st.hasTimedOut) {
            st.remove()
            Iterator.empty
          } else {
            val wm = st.getCurrentWatermarkMs()
            var n = 0L
            var maxUs = Long.MinValue
            var maxMs = Long.MinValue
            it.foreach { r =>
              val ms = r._2.getTime
              if (ms >= wm) { // skip late rows (see runningUserTotals)
                n += 1
                if (r._3 > maxUs) maxUs = r._3
                if (ms > maxMs) maxMs = ms
              }
            }
            if (n == 0L) Iterator.empty // every row was late
            else {
              val prev = st.getOption
              val next = FirstSeen(key,
                prev.map(_.n_rows).getOrElse(0L) + n,
                prev.map(_.create_us).getOrElse(maxUs), // first batch stamps
                math.max(prev.map(_.update_us).getOrElse(Long.MinValue), maxUs))
              st.update(next)
              st.setTimeoutTimestamp(maxMs, idleTimeout)
              Iterator.single(next)
            }
          }
      }
  }

  /** Drive a streaming query to completion over the (static) test
    * directory via a memory sink — how StreamingSpec observes results
    * synchronously. Returns the collected sink table. */
  def runToMemorySink(spark: SparkSession, agg: DataFrame,
                      queryName: String, outputMode: OutputMode): DataFrame = {
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
