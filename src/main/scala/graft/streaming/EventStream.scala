package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming restatement of the reference's incremental
  * patterns (SURVEY.md §2.9): the reference is pure batch with manual
  * chunk loops + mergeable accumulators (ST1) and resume markers (ST3);
  * here the same aggregations run incrementally with event-time
  * watermarks — the shape that absorbs a continuous AFC/event feed at
  * scale without re-reading history.
  */
object EventStream {

  /** Parquet schema of the events table as written (ts = nanos int64,
    * read under nanosAsLong — see graft.core.Tables.events). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files,
    * normalized to a proper event-time column. */
  def readEvents(spark: SparkSession, dir: String,
                 glob: String = "events.parquet"): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", glob)
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

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

  /** One LSH band-bucket's state: member ids seen inside the horizon,
    * plus the member COUNT including members dropped after overflow —
    * the cap must keep counting or a hot bucket would re-arm below the
    * cap the moment its list is cleared. */
  final case class BucketState(ids: List[Long], n: Int, overflowed: Boolean)

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
    * hashes agree bit for bit. Buckets live in
    * `flatMapGroupsWithState` keyed by (band, band_hash):
    *  - a new member emits one (id_a < id_b) pair per existing member
    *    — per band exactly once; a pair sharing several bands emits
    *    once per band (the batch path's cross-band `distinct()` needs
    *    a second stateful operator here; callers dedup downstream or
    *    compare distinct sets, as StreamingSpec does);
    *  - `maxBucketSize` is the same degenerate-bucket guard as the
    *    batch cap: a bucket past the cap stops emitting AND drops its
    *    member list (state stays O(cap) per bucket), keeping only the
    *    poisoned count. Below the cap the pair set equals the batch
    *    pair set (StreamingSpec pins set equality on the documents
    *    corpus); above it the two sides legitimately diverge — batch
    *    retroactively drops the WHOLE bucket, a stream cannot unemit.
    *  - state is evicted once the watermark passes `idleTimeout` past
    *    a bucket's last arrival — near-dups cluster in time on crawl
    *    feeds (same contract as [[streamingExactDedup]]); global
    *    history belongs to the batch path.
    */
  def streamingMinhashCandidates(docs: DataFrame, idCol: String,
                                 textCol: String, tsCol: String,
                                 shingleN: Int = 2, bands: Int = 16,
                                 rows: Int = 4, maxBucketSize: Int = 500,
                                 watermark: String = "2 hours",
                                 idleTimeout: String = "24 hours"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // parity with the batch banding: a null text (null shingle array)
    // or an empty shingle set has null band hashes, so the posexplode
    // emits no rows for it; a null/uncastable id or a null ts is
    // dropped up front, since the typed bucket state below decodes
    // both as non-null
    val banded = docs
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        graft.llm.Dedup.shingles(col(textCol), shingleN).as("sh"))
      .where(col("id").isNotNull && col("ts").isNotNull)
      .select(col("id"), col("ts"),
        posexplode(graft.llm.Dedup.bandHashes(col("sh"), bands, rows))
          .as(Seq("band", "band_hash")))
    banded
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Long),
         arrivals: Iterator[(Long, java.sql.Timestamp, Int, Long)],
         st: GroupState[BucketState]) =>
          if (st.hasTimedOut) {
            st.remove()
            Iterator.empty
          } else {
            // drop arrivals already behind the watermark (the engine
            // does not filter them for this operator): they would both
            // diverge from batch semantics and — worse — drag maxTs
            // behind the watermark, making setTimeoutTimestamp throw
            // and kill the query on a single straggler doc
            val wm = st.getCurrentWatermarkMs()
            var s = st.getOption.getOrElse(BucketState(Nil, 0, false))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            var maxTs = Long.MinValue
            arrivals.foreach { case (id, ts, band, _) =>
              if (ts.getTime >= wm) {
                maxTs = math.max(maxTs, ts.getTime)
                // replay/duplicate-delivery guard: a member already in
                // the bucket re-emits nothing (batch input is one row
                // per id by construction)
                if (!s.overflowed && !s.ids.contains(id)) {
                  if (s.n + 1 > maxBucketSize)
                    s = BucketState(Nil, s.n + 1, overflowed = true)
                  else {
                    s.ids.foreach { other =>
                      out += ((math.min(id, other), math.max(id, other), band))
                    }
                    s = BucketState(id :: s.ids, s.n + 1, overflowed = false)
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
      .toDF("id_a", "id_b", "band")
  }

  /** One Hamming-bucket's state: (id, fingerprint) members inside the
    * horizon — the fingerprint rides along so the EXACT Hamming
    * verification happens at emission (the streaming twin has no
    * post-hoc verify join to lean on). */
  final case class HashBucketState(members: List[(Long, Long)], n: Int,
                                   overflowed: Boolean)

  /** Streaming perceptual-hash image near-dup — the continuous-ingest
    * twin of [[graft.llm.Multimodal.imageNearDupPairs]] (q80's
    * operator): media payloads arriving on a stream are fingerprinted
    * by the SAME codegen'd dHash kernel and emit VERIFIED near-dup
    * pairs (hamming <= maxHamming) against every image sharing a
    * multi-block combination key within the watermark horizon. Key
    * construction is [[graft.llm.Dedup.comboKeyExprs]] — bit-identical
    * with the batch join's buckets — and emission applies the SAME
    * canonical-combo filter as the batch join (both fingerprints are
    * in hand at emission, so the first-all-clean-combination index is
    * computable per pair): below the bucket cap the emitted pair
    * MULTISET equals the batch output exactly, once per pair, no
    * downstream distinct needed (StreamingSpec pins it). Non-decodable
    * payloads hash to NULL and drop out, as in batch. A bucket that
    * exceeds `maxBucketSize` stops emitting pairs until watermark
    * eviction — and says so loudly with ONE sentinel row
    * `(id_a = -1, id_b = <bucket key>, hamming = -1)` at the overflow
    * transition, so a downstream consumer can alert on recall loss
    * instead of silently missing pairs (filter `id_a >= 0` for the
    * pair stream). State and eviction follow the MinHash twin: O(cap)
    * per bucket, idle buckets evicted once the watermark passes
    * `idleTimeout` past their last arrival. */
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
    val spark = media.sparkSession
    import spark.implicits._
    // Per-combination clean masks, SAME enumeration order as
    // comboKeyExprs: canonical combo of a pair = first index whose
    // masked XOR is zero. Tiny (C(blocks, keyBlocks) longs), rides the
    // closure to every executor.
    val comboMasks: Array[Long] = locally {
      val (widths, offsets) = graft.llm.Dedup.blockLayout(nBlocks)
      def widthMask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1
      (0 until nBlocks).combinations(kb).map(
        _.map(b => widthMask(widths(b)) << offsets(b)).reduce(_ | _)).toArray
    }
    val fp = media.select(col(idCol).cast("long").as("id"),
        col(tsCol).as("ts"), fpExpr.as("sh"))
      .where(col("id").isNotNull && col("ts").isNotNull && col("sh").isNotNull)
    val banded = fp.select(col("id"), col("ts"), col("sh"),
        posexplode(array(
          graft.llm.Dedup.comboKeyExprs(Seq(col("sh")), nBlocks, kb): _*))
          .as(Seq("combo", "key")))
    banded
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Long, Int, Long)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bucket: (Int, Long),
         arrivals: Iterator[(Long, java.sql.Timestamp, Long, Int, Long)],
         st: GroupState[HashBucketState]) =>
          if (st.hasTimedOut) {
            st.remove()
            Iterator.empty
          } else {
            val wm = st.getCurrentWatermarkMs()
            var s = st.getOption.getOrElse(HashBucketState(Nil, 0, false))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            var maxTs = Long.MinValue
            arrivals.foreach { case (id, ts, sh, _, _) =>
              if (ts.getTime >= wm) {
                maxTs = math.max(maxTs, ts.getTime)
                if (!s.overflowed && !s.members.exists(_._1 == id)) {
                  if (s.n + 1 > maxBucketSize) {
                    s = HashBucketState(Nil, s.n + 1, overflowed = true)
                    // loud cap: one sentinel at the overflow transition
                    out += ((-1L, bucket._2, -1))
                  } else {
                    s.members.foreach { case (otherId, otherSh) =>
                      val x = sh ^ otherSh
                      val h = java.lang.Long.bitCount(x)
                      // canonical-combo filter, identical to the batch
                      // join's: emit only from the pair's FIRST
                      // all-clean combination, so each verified pair
                      // appears exactly once across all its shared
                      // buckets (this bucket is clean, so a canonical
                      // one always exists at index <= bucket._1).
                      // ABOVE-CAP RECALL, explicitly narrowed: a pair
                      // is emitted only from its canonical combo's
                      // bucket — if THAT bucket overflows, the pair is
                      // dropped even when both members co-exist in
                      // another clean combo bucket (the pre-round-9
                      // emit-everywhere+distinct shape would have
                      // caught it, at the cost of duplicate state in
                      // every shared bucket). Recovering those pairs
                      // would need each bucket to know the OTHER
                      // combos' overflow state, which no per-key state
                      // store can see; the loss is announced by the
                      // bucket's sentinel row, and below every cap the
                      // two shapes emit identical pair sets (pinned in
                      // StreamingSpec).
                      if (h <= maxHamming &&
                          comboMasks.indexWhere(m => (x & m) == 0L) == bucket._1)
                        out += ((math.min(id, otherId),
                          math.max(id, otherId), h))
                    }
                    s = HashBucketState((id, sh) :: s.members, s.n + 1,
                      overflowed = false)
                  }
                }
              }
            }
            if (maxTs == Long.MinValue) Iterator.empty
            else {
              st.update(s)
              st.setTimeoutTimestamp(maxTs, idleTimeout)
              out.iterator
            }
          }
      }
      .toDF("id_a", "id_b", "hamming")
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

  /** Drive a streaming query to completion over the (static) test
    * directory via a memory sink — how StreamingSpec observes results
    * synchronously. Returns the collected sink table. */
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
