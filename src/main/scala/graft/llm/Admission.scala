package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental corpus admission — the per-document decision a growing
  * corpus makes on arrival (the library form of q98; see
  * `queries/LlmPipelines.q98` for the oracle-checked registration):
  * learned quality gate ([[Quality.scored]], map-side) → exact-dup
  * against the seen corpus's fingerprints (semi-join; intra-batch
  * first-keeper via a BATCH-sized min-window) → near-dup against the
  * corpus's persisted band index ([[Dedup.minhashProbePairs]]: corpus
  * signatures never recompute, only batch-hit buckets shuffle) →
  * admitted iff all three clear.
  *
  * Every entry point — the one-shot audits and the service's
  * micro-batch steps — materializes the arriving batch ONCE, as one
  * cached [[arrivalFrame]] carrying every per-row artifact, and every
  * leg (and every store append) reads a projection of it: one audit
  * path, no batch-sized cache beside it.
  *
  * The near-dup rule is the conservative monotone one: a batch doc is
  * flagged if it pairs with ANY seen doc or any smaller-id batch doc,
  * regardless of that partner's own admission — order-independent
  * within a batch, so the audit replays identically under any arrival
  * interleaving of a batch's contents. */
object Admission {

  /** A batch that carries one id on more than one row. Admission keys
    * every per-row artifact by id (audit rows, band-index rows, media
    * fingerprints), and MinHash banding folds each row on its own, so
    * a repeated id would enter the stores with one band set and one
    * audit verdict per row. Such a batch is rejected before any store
    * or audit row is written. */
  final class RepeatedIdException(val idCol: String, val id: Any)
    extends IllegalArgumentException(
      s"arriving batch repeats $idCol = $id; admission needs one row per id")

  // arrival-frame media columns: (id, fingerprint) per modality
  private val ImageFp = "__img"
  private val AudioFp = "__aud"

  /** The arriving batch as ONE cached frame, built from a single read
    * of `batch`: the id and text columns plus every per-row artifact
    * the audit legs and the store appends read — `gate_pass`
    * ([[Quality.scored]]), `fp` ([[TextStats.fingerprint]]), `__sh`
    * (order-2 shingles, the probe's declared order) and `__bands`
    * ([[Dedup.bandHashes]] over them), plus one fingerprint column per
    * entry of `media` (name → kernel over the batch's payload column).
    *
    * One materialization per arrival: every consumer below is a
    * projection of cached batch-sized rows, so the batch plan (for a
    * stream source, one source read) runs once, and the band hashes
    * are folded per row instead of by a signature shuffle. The
    * materializing job collects the ids for the repeated-id check
    * ([[RepeatedIdException]]); their number is the row count
    * returned. The ids land on the driver, which the audit's batch-id
    * broadcast needs anyway. Registers in the caller's
    * `Caching.scoped` block. */
  private def arrivalFrame(batch: DataFrame, idCol: String, textCol: String,
                           media: Seq[(String, Column)] = Nil): (DataFrame, Long) = {
    val frame = Quality.scored(batch.select(
        Seq(col(idCol), col(textCol)) ++ media.map { case (n, e) => e.as(n) }: _*),
        textCol)
      .select(Seq(col(idCol), col(textCol),
        col("quality_kept").as("gate_pass"),
        TextStats.fingerprint(col(textCol)).as("fp"),
        Dedup.shingles(col(textCol), 2).as("__sh")) ++
        media.map { case (n, _) => col(n) }: _*)
      .withColumn("__bands", Dedup.bandHashes(col("__sh")))
    // persisted directly, not by Caching.eager: the materializing job
    // collects the ids instead of counting them, so the check below
    // costs no second job over the cache
    val b = frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = b.select(col(idCol)).collect().map(_.get(0))
    graft.core.Caching.register(b)
    val distinct = new java.util.HashSet[Any]()
    ids.find(!distinct.add(_)).foreach { id =>
      b.unpersist(false)
      throw new RepeatedIdException(idCol, id)
    }
    (b, ids.length.toLong)
  }

  /** The media fingerprint columns of [[arrivalFrame]] for the image
    * and audio payload columns (the codegen kernels). */
  private def mediaColumns(imageCol: String,
                           audioCol: String): Seq[(String, Column)] = Seq(
    ImageFp -> graft.functions.PerceptualHash.d_hash(col(imageCol)),
    AudioFp -> graft.functions.AudioFingerprint.audio_fp(col(audioCol)))

  /** `(id: long, sh)` media fingerprint rows of `df`, null
    * fingerprints (undecodable or absent media) dropped. */
  private def mediaFp(df: DataFrame, idCol: String, fp: Column): DataFrame =
    df.select(col(idCol).cast("long").as("id"), fp.as("sh"))
      .where(col("sh").isNotNull)

  /** The per-doc audit table for one arriving batch against a frozen
    * `seen` corpus (id + text) and its band `index`
    * ([[Dedup.minhashBandIndex]] rows over exactly `seen`):
    * (id, gate_pass, exact_dup, near_dup, admitted). Computes the
    * seen fingerprints inline — the one-shot form. The service path
    * reads a PERSISTED fingerprint store instead
    * ([[processMicroBatch]]): recomputing md5 over the whole seen
    * corpus per arriving batch is an O(corpus)-per-batch term the
    * stored artifact exists to avoid. The batch must carry each id
    * once ([[RepeatedIdException]]). */
  def audit(seen: DataFrame, batch: DataFrame, idCol: String,
            textCol: String, index: DataFrame,
            threshold: Double = 0.8): DataFrame =
    auditArrival(seen, arrivalFrame(batch, idCol, textCol)._1, idCol,
      textCol, index, seen.select(TextStats.fingerprint(col(textCol)).as("fp")),
      threshold)

  /** The audit body every entry point shares, over an [[arrivalFrame]]
    * `b`, with the seen fingerprints `fps` as a table (column `fp`;
    * duplicates fine — membership is a semi-join). Each leg reads a
    * bare projection of `b`: the gate and fingerprint columns feed the
    * membership broadcast and the exact leg, the shingles and band
    * hashes feed the probe, and the ids feed the near-dup flag joins.
    * No leg re-reads the batch plan or adds a batch-sized cache.
    * `seen` texts are read ONLY for the probe's hot-bucket candidates
    * (semi-join-restricted), never fingerprint-scanned. */
  private def auditArrival(seen: DataFrame, b: DataFrame, idCol: String,
                           textCol: String, index: DataFrame, fps: DataFrame,
                           threshold: Double): DataFrame = {
    // Membership the scan-shaped way: the store is read ONCE and
    // semi-joined against the BROADCAST batch fingerprints, so the
    // corpus side is never shuffled (the distinct-then-left-join form
    // sort-merges, i.e. exchanges O(corpus) rows per arrival); the
    // surviving hit set is ≤ batch-sized and broadcasts back.
    // inner build side NOT deduped (r18): it feeds a left_semi build,
    // where duplicate fps only pad the hash relation (≤ batch rows) —
    // the distinct cost an exchange+agg stage inside the hits
    // broadcast build. The OUTER distinct stays: `hits` feeds a LEFT
    // join whose duplicate build rows would duplicate audit rows.
    val hits = fps.select(col("fp"))
      .join(broadcast(b.select(col("fp"))), Seq("fp"), "left_semi")
      .distinct()
    val wFp = Window.partitionBy(col("fp"))
    val exact = b.select(col(idCol), col("gate_pass"), col("fp"))
      .join(broadcast(hits.withColumn("__in_seen", lit(true))),
        Seq("fp"), "left")
      .withColumn("exact_dup",
        coalesce(col("__in_seen"), lit(false)) ||
          col(idCol) > min(col(idCol)).over(wFp))
    // the probe reads the batch shingles and band hashes from the SAME
    // cache; shingle order 2 is the probe's declared contract
    val pairs = Dedup.minhashProbePairs(seen,
      b.select(col(idCol).cast("long").as("id"), col("__sh").as("sh"),
        col("__bands").as("bands")), idCol, textCol, index, threshold)
    val batchIds = b.select(col(idCol).cast("long").as("__bid"))
    // both pair orientations from ONE pass over `pairs` (an uncached
    // verify-join subtree — the two-leg union form re-ran it per leg;
    // r17, same rewrite in q95's expansion)
    val touches = pairs
      .select(explode(array(
        struct(col("id_a").as("d"), col("id_b").as("o")),
        struct(col("id_b").as("d"), col("id_a").as("o")))).as("t"))
      .select(col("t.d").as("d"), col("t.o").as("o"))
      .join(broadcast(batchIds), col("d") === col("__bid"), "left_semi")
    val ndFlag = touches
      .join(broadcast(batchIds.withColumn("__in_batch", lit(true))),
        col("o") === col("__bid"), "left")
      .where(!coalesce(col("__in_batch"), lit(false)) || col("o") < col("d"))
      .select(col("d")).distinct()
      .withColumn("__nd", lit(true))
    // probe ids are long — cast the audit side explicitly (an implicit
    // string==long comparison goes through double and can misflag)
    exact
      .join(broadcast(ndFlag), col(idCol).cast("long") === col("d"), "left")
      .withColumn("near_dup", coalesce(col("__nd"), lit(false)))
      .withColumn("admitted",
        col("gate_pass") && !col("exact_dup") && !col("near_dup"))
      .select(col(idCol), col("gate_pass"), col("exact_dup"),
        col("near_dup"), col("admitted"))
  }

  /** [[audit]] extended to the MULTIMODAL admission decision — the
    * per-document audit a corpus with image/audio payloads makes on
    * arrival, with every seen-side artifact supplied as a table: the
    * three text legs (gate, exact fingerprint against `fps`, LSH
    * near-dup probe) plus one Hamming-membership probe per media
    * modality against that modality's PERSISTED fingerprint store
    * ([[Dedup.hammingProbeTouch]]: store scanned once, batch-hot
    * buckets only, exhaustive by pigeonhole). `batchImageFp` /
    * `batchAudioFp` are the arriving batch's `(id, sh)` fingerprints
    * with non-null sh (a doc with undecodable — or absent — media
    * never media-flags; it can still fail the text legs); the store
    * frames have the same shape over the seen corpus.
    *
    * The batch fingerprints are left-joined onto the batch by id and
    * become the [[arrivalFrame]]'s media columns, so the batch is
    * materialized once, as on the service path. Fingerprint rows whose
    * id is not in the batch are ignored, and a fingerprint frame that
    * repeats an id repeats that batch row, which the frame rejects
    * ([[RepeatedIdException]]). Media legs use the SAME conservative
    * monotone rule as the text near-dup leg: a batch doc flags if any
    * seen doc or any smaller-id batch doc sits within `maxHamming`, so
    * the audit replays identically under any arrival interleaving.
    * Output: (id, gate_pass, exact_dup, near_dup, image_dup,
    * audio_dup, admitted), admitted iff all five clear.
    *
    * STALENESS TRIGGER for [[Dedup.ProbeBroadcastKeyedRows]]: that
    * bound (250k) was set by an A/B run with the probe EMBEDDED in
    * exactly this consumption shape — the probe output collected
    * under the explicit `broadcast(img/aud)` flag joins of
    * [[withMediaFlags]]. If those joins (or any new consumer) stop
    * consuming the probe under a broadcast flag join, the embedded
    * measurement no longer describes the plan; re-run the A/B (both
    * q103-at-sf10 legs, bound scaladoc has the numbers) before
    * trusting the bound. */
  def auditMultimodalWithFps(seen: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             index: DataFrame, fps: DataFrame,
                             imageFps: DataFrame, audioFps: DataFrame,
                             batchImageFp: DataFrame,
                             batchAudioFp: DataFrame,
                             threshold: Double = 0.8,
                             maxHamming: Int = 7): DataFrame = {
    // batch-bounded fingerprint frames → broadcast; ids cast explicitly
    // on both sides, as in withMediaFlags
    val withFps = Seq(ImageFp -> batchImageFp, AudioFp -> batchAudioFp)
      .foldLeft(batch) { case (df, (name, fp)) =>
        df.join(broadcast(fp.select(col("id").cast("long").as(s"${name}_id"),
            col("sh").cast("long").as(name))),
          col(idCol).cast("long") === col(s"${name}_id"), "left")
      }
    val (b, n) = mediaArrivalFrame(withFps, idCol, textCol,
      Seq(ImageFp -> col(ImageFp), AudioFp -> col(AudioFp)), maxHamming)
    auditMultimodalArrival(seen, b, n, idCol, textCol, index, fps,
      imageFps, audioFps, threshold, maxHamming)
  }

  /** [[arrivalFrame]] for the multimodal audits, after the media
    * probes' geometry is resolved: a rejected `maxHamming` fails here,
    * before any job runs or any cache is made. */
  private def mediaArrivalFrame(batch: DataFrame, idCol: String,
                                textCol: String, media: Seq[(String, Column)],
                                maxHamming: Int): (DataFrame, Long) = {
    Dedup.geometry(1, 0, maxHamming, 0)
    arrivalFrame(batch, idCol, textCol, media)
  }

  /** The multimodal audit body over a [[mediaArrivalFrame]] `b` and its
    * row count `n`: both media probes read their batch fingerprints
    * from `b` (`n` is the upper bound [[Dedup.hammingProbeTouch]]
    * takes), so no leg adds a batch-sized cache. */
  private def auditMultimodalArrival(seen: DataFrame, b: DataFrame, n: Long,
                                     idCol: String, textCol: String,
                                     index: DataFrame, fps: DataFrame,
                                     imageFps: DataFrame, audioFps: DataFrame,
                                     threshold: Double,
                                     maxHamming: Int): DataFrame =
    withMediaFlags(auditArrival(seen, b, idCol, textCol, index, fps,
        threshold), idCol,
      Dedup.hammingProbeTouch(imageFps, mediaFp(b, idCol, col(ImageFp)), n,
        maxHamming = maxHamming),
      Dedup.hammingProbeTouch(audioFps, mediaFp(b, idCol, col(AudioFp)), n,
        maxHamming = maxHamming))

  /** The text audit plus the two media flags from the probes' touched
    * ids; admitted iff all five legs clear. */
  private def withMediaFlags(textAudit: DataFrame, idCol: String,
                             imgTouched: DataFrame,
                             audTouched: DataFrame): DataFrame = {
    def flag(touched: DataFrame, name: String): DataFrame =
      touched.select(col("id").as(s"__${name}_id"))
        .withColumn(s"__$name", lit(true))
    // both flag sets are batch-bounded → broadcast, never a shuffle of
    // the audit side. The probe ids are long (the fingerprint builders
    // cast the doc id), so cast the audit side explicitly — an implicit
    // string==long comparison can null out and silently drop flags.
    textAudit
      .join(broadcast(flag(imgTouched, "img")),
        col(idCol).cast("long") === col("__img_id"), "left")
      .join(broadcast(flag(audTouched, "aud")),
        col(idCol).cast("long") === col("__aud_id"), "left")
      .withColumn("image_dup", coalesce(col("__img"), lit(false)))
      .withColumn("audio_dup", coalesce(col("__aud"), lit(false)))
      .withColumn("admitted",
        col("admitted") && !col("image_dup") && !col("audio_dup"))
      .select(col(idCol), col("gate_pass"), col("exact_dup"),
        col("near_dup"), col("image_dup"), col("audio_dup"),
        col("admitted"))
  }

  /** One-shot [[auditMultimodalWithFps]] over payload columns: media
    * fingerprints for BOTH sides are computed inline (image dHash,
    * audio energy-gradient fp — the codegen kernels), the form a
    * single frozen audit takes; the batch side hashes its payloads
    * into the same arrival frame the service path uses. The service
    * path persists the media fingerprint stores instead
    * ([[processMultimodalMicroBatch]]): re-hashing every seen payload
    * per arriving batch is the O(corpus)-per-batch term the stores
    * exist to avoid. */
  def auditMultimodal(seen: DataFrame, batch: DataFrame, idCol: String,
                      textCol: String, imageCol: String, audioCol: String,
                      index: DataFrame, threshold: Double = 0.8,
                      maxHamming: Int = 7): DataFrame = {
    val media = mediaColumns(imageCol, audioCol)
    val Seq(imgFps, audFps) = media.map { case (_, kernel) =>
      mediaFp(seen, idCol, kernel) }
    val (b, n) = mediaArrivalFrame(batch, idCol, textCol, media, maxHamming)
    auditMultimodalArrival(seen, b, n, idCol, textCol, index,
      seen.select(TextStats.fingerprint(col(textCol)).as("fp")),
      imgFps, audFps, threshold, maxHamming)
  }

  /** ONE micro-batch step of the streaming admission service — the
    * `foreachBatch` body of the continuous twin: audit the arriving
    * batch against the PERSISTED artifacts (seen-docs parquet under
    * `seenDir`, band index under `indexDir`, fingerprints under
    * `fpsDir`), write the audit rows under `auditDir`, then write the
    * batch's own doc, banded, and fingerprint rows into the stores —
    * the incremental-append law pinned in LlmSpec (index(a ∪ b) ==
    * index(a) ∪ index(b), per-doc purity), so the store after N
    * micro-batches equals a from-scratch rebuild. The fingerprint
    * store is what keeps exact-dup O(batch) per arrival: without it
    * every micro-batch would md5-scan the whole seen corpus again.
    *
    * REPLAY-SAFE: Structured Streaming replays a micro-batch after a
    * crash, and `foreachBatch` leaves idempotence to the body — a
    * plain append would duplicate every row the first attempt already
    * landed. Each write therefore goes to a `mb_<batchId>` SUBDIR in
    * OVERWRITE mode: a replay rewrites the same four subdirs and the
    * union over subdirs is unchanged. Readers (this method and any
    * consumer) list one level of subdirs (via the store's Hadoop
    * FileSystem, so HDFS/S3 stores work the same as local paths) and
    * read them with recursiveFileLookup. Seed each store by writing
    * the initial corpus under a subdir of its own (e.g. `mb_init`).
    *
    * Everything is engine-side parquet I/O: no driver materialization
    * of any corpus-sized set. The audit write is an action, so the
    * audit is fully computed BEFORE the stores mutate (a batch never
    * pairs with its own appended copy — and on replay, where the
    * batch's own rows from the first attempt ARE already in the
    * stores, the audit must not see them: subdir isolation makes the
    * exclusion explicit by reading everything EXCEPT this batchId's
    * subdirs). A batch that repeats an id throws
    * [[RepeatedIdException]] before anything is written.
    *
    * Equality contract, stated exactly: with ids monotone ACROSS
    * micro-batches, the cumulative audits equal the one-shot [[audit]]
    * of the concatenated batch (spec-pinned incl. a kill-resume)
    * PROVIDED no LSH bucket crosses `maxBucketSize` between the
    * per-batch and one-shot runs — the probe's cap counts bucket
    * members as of each call, so a bucket that fills DURING the
    * arrival sequence can flag pairs a one-shot run (seeing the full
    * bucket at once) would have dropped, and vice versa. Below the
    * cap the two are identical; within a micro-batch order never
    * matters. */
  def processMicroBatch(batch: DataFrame, batchId: Long,
                        idCol: String, textCol: String,
                        seenDir: String, indexDir: String, fpsDir: String,
                        auditDir: String,
                        threshold: Double = 0.8): Unit = {
    val s = batch.sparkSession
    val seen = readStoreExceptSelf(s, seenDir, batchId)
    val index = readStoreExceptSelf(s, indexDir, batchId)
    val fps = readStoreExceptSelf(s, fpsDir, batchId)
    // Caching.scoped: the arrival frame and the probe's candidate
    // caches are per-arrival; a long-running service calls this once
    // per arrival, so without the scope each arrival would leak its
    // MEMORY_AND_DISK blocks for the service's lifetime. Every write
    // below is an action, so everything the caches feed is fully
    // materialized before the scope releases them. The audit and the
    // three appends all read the ONE arrival frame, so the batch plan
    // (a foreachBatch source read) runs once per arrival, however
    // expensive it is.
    graft.core.Caching.scoped {
      val (b, _) = arrivalFrame(batch, idCol, textCol)
      auditArrival(seen, b, idCol, textCol, index, fps, threshold)
        .write.mode("overwrite").parquet(s"$auditDir/mb_$batchId")
      appendText(b, batchId, idCol, textCol, seenDir, indexDir, fpsDir)
    }
  }

  /** The text stores' appends from an arrival frame: the seen docs, the
    * band-index rows (the frame's per-row bands, unfolded map-side —
    * the [[Dedup.minhashBandIndex]] row set, no re-shingling) and the
    * fingerprints, each `mb_<batchId>` overwrite-idempotent. */
  private def appendText(b: DataFrame, batchId: Long, idCol: String,
                         textCol: String, seenDir: String,
                         indexDir: String, fpsDir: String): Unit = {
    b.select(col(idCol), col(textCol))
      .write.mode("overwrite").parquet(s"$seenDir/mb_$batchId")
    Dedup.bandRows(b, idCol, "__bands")
      .write.mode("overwrite").parquet(s"$indexDir/mb_$batchId")
    b.select(col("fp"))
      .write.mode("overwrite").parquet(s"$fpsDir/mb_$batchId")
  }

  /** ONE micro-batch step of the MULTIMODAL admission service — the
    * `foreachBatch` body of the [[auditMultimodal]] twin, shaped
    * exactly like [[processMicroBatch]] (same `mb_<batchId>` overwrite
    * idempotence, same store listing, same [[compactStore]]
    * maintenance) with two more persisted artifacts: an image and an
    * audio fingerprint store (`(id, sh)` parquet under `imgFpDir` /
    * `audFpDir`, seeded like the others under e.g. `mb_init`). Media
    * payloads are hashed ONCE, on arrival, by the codegen kernels —
    * the stores keep per-arrival cost O(batch + store-scan) and the
    * payloads themselves are never persisted here (the caller owns
    * payload storage; dedup needs only the 64-bit fingerprints, which
    * is what makes the stores ~16 bytes/doc/modality at any corpus
    * size). Undecodable media contribute no store rows and never flag
    * — mirroring the one-shot form. Audit rows land under `auditDir`
    * BEFORE any store mutates, and every write is `mb_<batchId>`
    * overwrite-idempotent, so a crash-replay neither double-audits nor
    * pairs a batch with its own first-attempt rows.
    *
    * Equality contract (spec-pinned incl. kill-resume): with ids
    * monotone across micro-batches, cumulative audits equal the
    * one-shot [[auditMultimodal]] of the concatenated batch, under the
    * same LSH bucket-cap proviso as [[processMicroBatch]] (Hamming
    * probes are cap-free — exhaustive by pigeonhole — so the media
    * legs carry no proviso at all). */
  def processMultimodalMicroBatch(batch: DataFrame, batchId: Long,
                                  idCol: String, textCol: String,
                                  imageCol: String, audioCol: String,
                                  seenDir: String, indexDir: String,
                                  fpsDir: String, imgFpDir: String,
                                  audFpDir: String, auditDir: String,
                                  threshold: Double = 0.8,
                                  maxHamming: Int = 7): Unit = {
    val s = batch.sparkSession
    val seen = readStoreExceptSelf(s, seenDir, batchId)
    val index = readStoreExceptSelf(s, indexDir, batchId)
    val fps = readStoreExceptSelf(s, fpsDir, batchId)
    val imgFps = readStoreExceptSelf(s, imgFpDir, batchId)
    val audFps = readStoreExceptSelf(s, audFpDir, batchId)
    // per-arrival cache scope ([[processMicroBatch]]'s reasoning); the
    // media kernels run inside the arrival frame's one materialization,
    // so each payload is hashed once per arrival and the fingerprints
    // feed both the audit probes and the store appends from it
    graft.core.Caching.scoped {
      val (b, n) = mediaArrivalFrame(batch, idCol, textCol,
        mediaColumns(imageCol, audioCol), maxHamming)
      auditMultimodalArrival(seen, b, n, idCol, textCol, index, fps,
          imgFps, audFps, threshold, maxHamming)
        .write.mode("overwrite").parquet(s"$auditDir/mb_$batchId")
      appendText(b, batchId, idCol, textCol, seenDir, indexDir, fpsDir)
      mediaFp(b, idCol, col(ImageFp))
        .write.mode("overwrite").parquet(s"$imgFpDir/mb_$batchId")
      mediaFp(b, idCol, col(AudioFp))
        .write.mode("overwrite").parquet(s"$audFpDir/mb_$batchId")
    }
  }

  /** The readable view of an mb_ store for batch `batchId`: every
    * committed subdir EXCEPT the current batch's own (a crash-replay
    * must not see its first attempt's rows) and except compaction
    * scratch (dot-dirs, [[compactStore]]) — with ONE dot-dir exception:
    * `.folded_<gen>_*` dirs whose generation has NO matching
    * `mb_compact_<gen>` belong to a compaction that crashed between its
    * fold-renames and its final rename, so their data is folded into no
    * compact dir and they remain the store of record. Including them
    * keeps the store complete through the crash window; the next
    * [[compactStore]] run renames them back. */
  private[graft] def readStoreExceptSelf(
      s: org.apache.spark.sql.SparkSession,
      root: String, batchId: Long): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    val dirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
    val compactGens = dirs.map(_.getName)
      .filter(_.startsWith("mb_compact_"))
      .map(_.stripPrefix("mb_compact_")).toSet
    val keep = dirs.filter { p =>
      val n = p.getName
      if (n == s"mb_$batchId") false
      else if (!n.startsWith(".")) true
      else if (n.startsWith(".folded_")) {
        val gen = n.stripPrefix(".folded_").takeWhile(_ != '_')
        val orig = n.stripPrefix(s".folded_${gen}_")
        !compactGens.contains(gen) && orig != s"mb_$batchId"
      } else false
    }.map(_.toString)
    require(keep.nonEmpty, s"no seeded store under $root (write the " +
      "initial corpus under a subdir, e.g. mb_init)")
    graft.core.Tables.readParquet(s, keep.toSeq, recursive = true)
  }

  /** ONE micro-batch step of the streaming PARAGRAPH-CLEANING service
    * — the continuous twin of q102, shaped exactly like
    * [[processMicroBatch]] (same `mb_<batchId>` overwrite idempotence,
    * same store listing, same [[compactStore]] maintenance): clean the
    * arriving batch against the persisted paragraph-hash store
    * ([[Spans.paragraphHashStore]] rows under `storeDir`, seeded with
    * the initial corpus under e.g. `mb_init`), write the cleaned docs
    * under `cleanedDir/mb_<batchId>`, then append the batch's OWN
    * paragraph hashes to the store — the RAW batch's, not the cleaned
    * output's, because the one-shot rule compares every occurrence
    * against all earlier occurrences including removed ones.
    *
    * Equality contract (spec-pinned with a crash-replay leg): with ids
    * monotone across micro-batches, the cumulative cleaned output
    * equals the one-shot [[Spans.removeDuplicateParagraphs]] over the
    * concatenated corpus restricted to the batches' docs — batch k's
    * earlier occurrences are exactly the seed corpus, batches < k, and
    * its own earlier slots, which is precisely what the store plus the
    * operator's intra-batch keeper see. */
  def processCleaningMicroBatch(batch: DataFrame, batchId: Long,
                                idCol: String, textCol: String,
                                storeDir: String, cleanedDir: String,
                                sep: String = "\n\n"): Unit = {
    val s = batch.sparkSession
    val store = readStoreExceptSelf(s, storeDir, batchId)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-arrival cache scope, same reasoning as [[processMicroBatch]]
    try graft.core.Caching.scoped {
      Spans.removeDuplicateParagraphsIncremental(b, idCol, textCol,
          store, sep)
        .write.mode("overwrite").parquet(s"$cleanedDir/mb_$batchId")
      Spans.paragraphHashStore(b, idCol, textCol, sep)
        .write.mode("overwrite").parquet(s"$storeDir/mb_$batchId")
    } finally b.unpersist()
  }

  /** Store maintenance for a long-running service: fold the per-batch
    * `mb_<id>` subdirs into one compacted subdir, so arrival K stops
    * paying listing + parquet-footer overhead proportional to K (each
    * micro-batch append leaves its own small files — the 25- and
    * 100-arrival q98 service runs, SCALE.md r10 and r13).
    *
    * REPLAY-SAFETY: a subdir may be rewritten by a crash-replay of its
    * batch ([[processMicroBatch]]'s idempotence contract), so a folded
    * batch must never be replayed — Structured Streaming replays at
    * most the newest uncommitted batch, so callers pass `safeBelow` =
    * the current batch id and only numeric `mb_<id>` subdirs with
    * id < safeBelow (plus `mb_init` seeds and earlier `mb_compact_*`
    * generations) are folded.
    *
    * Crash-safety (single maintenance writer, no concurrent reader —
    * run it BETWEEN arrivals, exactly where a stream's foreachBatch
    * would call it): the compacted data is fully written under a
    * dot-hidden temp dir first; folded dirs are then renamed into
    * dot-hidden `.folded_*` names (invisible to parquet readers, though
    * [[readStoreExceptSelf]] deliberately re-includes a crashed
    * generation's — see there); the temp dir is renamed to its final
    * `mb_compact_<gen>` name LAST, and only then are the `.folded_*`
    * dirs deleted. A crash before the final rename is RECOVERED at the
    * start of the next run: `.folded_<gen>_*` dirs with no matching
    * `mb_compact_<gen>` are renamed back to their original names and
    * the orphaned `.compact_tmp_<gen>` is deleted — never silently
    * discarded, because their data was folded into no compact dir. A
    * crash after the final rename leaves only redundant `.folded_*`
    * dirs, already invisible, deleted by the next compaction. The
    * generation counter is derived from the max across `mb_compact_*`,
    * `.compact_tmp_*` AND `.folded_*` names, so a crashed generation
    * number is never reused for different contents. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, root: String,
                   safeBelow: Long): Unit = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return
    val dirs0 = fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
    // .folded_* housekeeping: a generation WITH its mb_compact dir
    // completed — its folded dirs are redundant copies, remove; a
    // generation WITHOUT one crashed mid-compaction — its folded dirs
    // are the only copy of their rows, so RECOVER them (rename back)
    // and drop that generation's orphaned tmp
    dirs0.filter(_.getName.startsWith(".folded_")).foreach { p =>
      val gen = p.getName.stripPrefix(".folded_").takeWhile(_ != '_')
      if (fs.exists(new org.apache.hadoop.fs.Path(root, s"mb_compact_$gen")))
        fs.delete(p, true)
      else {
        val orig = new org.apache.hadoop.fs.Path(root,
          p.getName.stripPrefix(s".folded_${gen}_"))
        require(!fs.exists(orig),
          s"cannot recover crashed compaction: both $p and $orig exist")
        require(fs.rename(p, orig), s"recovery rename failed: $p -> $orig")
      }
    }
    dirs0.filter(_.getName.startsWith(".compact_tmp_")).foreach { p =>
      val gen = p.getName.stripPrefix(".compact_tmp_")
      if (!fs.exists(new org.apache.hadoop.fs.Path(root, s"mb_compact_$gen")))
        fs.delete(p, true)
    }
    val dirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
    def numericId(name: String): Option[Long] =
      if (name.startsWith("mb_") && name.drop(3).forall(_.isDigit))
        Some(name.drop(3).toLong)
      else None
    val fold = dirs.filter { p =>
      val n = p.getName
      n == "mb_init" || n.startsWith("mb_compact_") ||
        numericId(n).exists(_ < safeBelow)
    }
    if (fold.length < 2) return
    // max over ALL generation-bearing names (completed compacts,
    // orphaned tmps, crashed/leftover folds) so a generation number is
    // never reused — recovery above normally clears the latter two, but
    // a delete that itself failed must still not cause reuse
    val gen = dirs0.map(_.getName).flatMap { n =>
      if (n.startsWith("mb_compact_")) Some(n.stripPrefix("mb_compact_"))
      else if (n.startsWith(".compact_tmp_")) Some(n.stripPrefix(".compact_tmp_"))
      else if (n.startsWith(".folded_"))
        Some(n.stripPrefix(".folded_").takeWhile(_ != '_'))
      else None
    }.flatMap(s => scala.util.Try(s.toLong).toOption)
      .foldLeft(-1L)(math.max) + 1
    val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_$gen")
    graft.core.Tables.readParquet(spark, fold.map(_.toString).toSeq,
        recursive = true)
      .write.mode("overwrite").parquet(tmp.toString)
    // every rename is checked: a `false` that went unnoticed would let
    // the deletes below drop the only readable copy of the folded rows.
    // A failure throws inside the crash window, which
    // readStoreExceptSelf and the next run's recovery already handle.
    fold.foreach { p =>
      val folded = new org.apache.hadoop.fs.Path(root,
        s".folded_${gen}_${p.getName}")
      require(fs.rename(p, folded), s"fold rename failed: $p -> $folded")
    }
    val compact = new org.apache.hadoop.fs.Path(root, s"mb_compact_$gen")
    require(fs.rename(tmp, compact),
      s"compaction rename failed: $tmp -> $compact")
    fold.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s".folded_${gen}_${p.getName}"), true)
    }
  }
}
