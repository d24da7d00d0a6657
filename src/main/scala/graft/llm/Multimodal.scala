package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads as opaque `binary` columns with typed metadata, batched
  * decode / feature-extraction / resize / frame-sampling stages.
  *
  * Decode strategy: self-describing headers (BMP, WAV) are parsed FOR
  * REAL — pure byte arithmetic. Codec-requiring formats (JPEG/PNG/
  * H.264…) fall through to a clearly-marked deterministic stub, since
  * no image/audio codec ships in this container. Everything around the
  * kernels is real and load-bearing: the schema contract, the
  * `mapPartitions` batching shape (the Scala twin of PySpark's
  * `mapInPandas` — one iterator per partition, amortized per-batch
  * setup).
  */
object Multimodal {

  /** One media object: payload plus source metadata. */
  final case class MediaRow(media_id: Long, kind: String,
                            payload: Array[Byte], source: String)

  /** Decoded/extracted features (fixed schema regardless of kind). */
  final case class MediaFeatures(media_id: Long, kind: String,
                                 byte_len: Int, width: Int, height: Int,
                                 n_frames: Int, feature_hash: Long)

  /** Wrap any table with a binary payload column into the media
    * contract (here text bytes stand in for image/audio/video bytes). */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   kindCol: org.apache.spark.sql.Column,
                   sourceCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      kindCol.as("kind"),
      col(payloadCol).cast("binary").as("payload"),
      col(sourceCol).as("source"))

  // ---- DECODE KERNELS --------------------------------------------------
  // Self-describing headers (BMP, WAV) are parsed FOR REAL — pure byte
  // arithmetic, no codec required. Compressed formats (JPEG/PNG/H.264…)
  // would need an image/audio codec (javax.imageio / ffmpeg bindings),
  // none of which ship in this container — those fall through to a
  // clearly-marked deterministic stub. Signatures and batch shape are
  // the real contract either way.

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
    ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /** REAL decode of a BMP header: (width, height) from the
    * BITMAPINFOHEADER at offsets 18/22 (little-endian); height may be
    * negative for top-down bitmaps — absolute value is the pixel
    * height. Returns None unless the 'BM' magic matches. */
  private[graft] def decodeBmp(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 26 && b(0) == 'B'.toByte && b(1) == 'M'.toByte)
      Some((leInt(b, 18), math.abs(leInt(b, 22))))
    else None

  /** REAL decode of a WAV (RIFF/WAVE + fmt chunk at offset 12) header:
    * (channels, sampleRate, approxFrames) where frames ≈ data bytes /
    * block align. Returns None unless the RIFF/WAVE magic matches. */
  private[graft] def decodeWav(b: Array[Byte]): Option[(Int, Int, Int)] =
    if (b.length >= 44 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      val channels = leShort(b, 22)
      val sampleRate = leInt(b, 24)
      val blockAlign = math.max(1, leShort(b, 32))
      val dataBytes = math.max(0, b.length - 44)
      Some((channels, sampleRate, dataBytes / blockAlign))
    } else None

  /** STUB decode for codec-requiring payloads: deterministic dimensions
    * derived from a byte hash. */
  private def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    var h = 1125899906842597L
    var i = 0
    while (i < math.min(payload.length, 256)) { h = 31 * h + payload(i); i += 1 }
    val w = 64 + math.floorMod(h, 1024).toInt
    val ht = 64 + math.floorMod(h >> 10, 1024).toInt
    val frames = 1 + math.floorMod(h >> 20, 32).toInt
    (w, ht, frames)
  }

  /** One decode outcome: dims plus WHICH kernel produced them, so
    * callers on the hot path never re-parse the header just to learn
    * whether the parse was real (the flag is the single source of
    * truth for the audio frame-count policy below). */
  private[graft] final case class Decoded(width: Int, height: Int,
                                          frames: Int, wavParsed: Boolean)

  /** Dispatch: real header parse when the payload is self-describing,
    * stub otherwise. width=channels, height=sampleRate for WAV by
    * convention. */
  private[graft] def decode(payload: Array[Byte]): Decoded =
    decodeBmp(payload).map { case (w, h) => Decoded(w, h, 1, wavParsed = false) }
      .orElse(decodeWav(payload).map { case (ch, rate, frames) =>
        Decoded(ch, rate, frames, wavParsed = true) })
      .getOrElse {
        val (w, h, f) = decodeStub(payload)
        Decoded(w, h, f, wavParsed = false)
      }

  /** Deterministic self-describing payload: a REAL BMP or WAV byte
    * stream whose header fields are arithmetic functions of the id —
    * so a decode of the bytes is independently recomputable from the
    * id alone (the property q36's SQL oracle checks end-to-end).
    * Video uses a WAV container as its frame-indexed stand-in: the
    * real header parse then yields a real frame count without a codec. */
  private[graft] def syntheticPayload(id: Long, kind: String): Array[Byte] = {
    def putLeInt(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def putLeShort(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def wav(channels: Int, rate: Int, blockAlign: Int, dataLen: Int): Array[Byte] = {
      val b = new Array[Byte](44 + dataLen)
      "RIFF".getBytes.copyToArray(b, 0); "WAVE".getBytes.copyToArray(b, 8)
      putLeShort(b, 22, channels); putLeInt(b, 24, rate); putLeShort(b, 32, blockAlign)
      b
    }
    kind match {
      case "image" =>
        val b = new Array[Byte]((26 + id % 7).toInt)
        b(0) = 'B'; b(1) = 'M'
        putLeInt(b, 18, (16 + (id % 32) * 4).toInt) // width
        putLeInt(b, 22, (8 + id % 24).toInt)        // height
        b
      case "audio" =>
        val ch = (1 + id % 2).toInt
        wav(ch, (8000 + (id % 4) * 1000).toInt, 2 * ch, ((id % 50) * 4).toInt)
      case _ => // video: blockAlign 4 => frames = dataBytes/4 = id % 40
        wav(2, 24, 4, ((id % 40) * 4).toInt)
    }
  }

  /** Media fixture table over any id-bearing input: kind round-robins
    * image/audio/video on id % 3, payload from [[syntheticPayload]].
    * Built in the batched `mapPartitions` shape like the decode side. */
  def syntheticMediaTable(df: DataFrame, idCol: String, sourceCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(sourceCol).as("src"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video" }
        MediaRow(id, kind, syntheticPayload(id, kind), src)
      })
      .toDF()
  }

  /** Gray level of the deterministic synthetic image: pixel (x, y) of
    * doc `id`'s 9×8 test pattern. Families of 100 CONSECUTIVE ids
    * (id / 100) share a base gradient (same dHash backbone); a sparse
    * per-id perturbation ((id·31 + x·17 + y·7) mod 97 < 2 → +60)
    * flips a few comparisons, so same-family images are near-dups at
    * small Hamming distance. Family size is BOUNDED by construction —
    * dup-clique size must not grow with corpus size, or near-dup PAIR
    * output (inherently quadratic in clique size) goes quadratic in n;
    * the per-family slope and offset terms decorrelate different
    * families' wrap-line bit patterns. Pure integer arithmetic — the
    * q80 DuckDB oracle replays it term for term. */
  private[graft] def synthGray(id: Long, x: Int, y: Int): Int =
    grayFromFam(id / 100L, id, x, y)

  /** Family key of the SPARSE media fixtures
    * ([[syntheticImageTableSparse]] / [[syntheticAudioTableSparse]]):
    * docs whose 100-wide id block lands on `phase` (mod 4) keep the
    * block family — they have ~99 near partners, like the dense
    * fixture — while every other doc gets a SINGLETON key derived from
    * its own id, so its backbone decorrelates from everything else's
    * (measured min cross-family fingerprint distance is 6-9, far above
    * small probe thresholds). Giving image and audio DIFFERENT phases
    * makes the two modalities' partnered sets DISJOINT — the
    * discriminating fixture the all-flagged dense one isn't: a known
    * ~25% minority of any batch has a near partner per modality, and
    * the modalities disagree on which docs.
    *
    * The singleton domain (10^9 + id mod (2^31−1)) is disjoint from
    * block families (id/100 stays below 10^9 for every fixture in the
    * repo — GenScaleDocs ids top out near 9·10^10) and keeps
    * fam·2654435761 < 2^63, the kernels' no-overflow contract
    * (fam ≤ 10^9 + 2^31 < 3.3·10^9). At driver scale factors ids sit
    * below 2^31, so the mod reduction is the identity and singleton
    * keys are collision-free; on replicated scale fixtures a
    * wraparound collision needs an id gap of exactly k·(2^31−1) —
    * immaterial for a timing fixture, and the SQL oracle replays the
    * rule exactly either way. Pure integer arithmetic (//, %, CASE). */
  private[graft] def sparseFam(id: Long, phase: Long): Long =
    if (Math.floorMod(id / 100L, 4L) == phase) id / 100L
    else 1000000000L + Math.floorMod(id, 2147483647L)

  /** [[sparseFam]] phase of each sparse modality — distinct, so the
    * partnered block sets (and hence the media-dup flags) are disjoint
    * between image and audio. */
  private[graft] val SparseImagePhase = 0L
  private[graft] val SparseAudioPhase = 2L

  /** Sparse image gray: partnered blocks keep the DENSE kernel
    * bit-for-bit (so their near-dup structure is q80's); singleton ids
    * get CONTINUOUS gray levels (30 + avalanche % 100) instead of the
    * binary {30,130} backbone. The continuous levels matter at scale:
    * binary levels make the dHash comparison bits BIASED
    * (P(bit)=¼ — a tie compares false), so two singleton backbones sit
    * at expected Hamming 24 with enough variance that a 5M-doc corpus
    * gives each singleton a ~50% chance of an accidental ≤7 partner
    * (measured: 81% of batch docs image-flagged in the first sparse
    * 5M sweep). Near-uniform levels make the comparison fair
    * (P ≈ ½, ties ~1%), pushing the accidental-pair probability to
    * ~5·10⁻¹⁰ — a known strict minority stays a minority at 10⁷ docs. */
  private[graft] def synthGraySparse(id: Long, x: Int, y: Int): Int =
    if (Math.floorMod(id / 100L, 4L) == SparseImagePhase)
      grayFromFam(id / 100L, id, x, y)
    else
      (30L + avalanche(sparseFam(id, SparseImagePhase),
        (9L * y + x + 1L) * 40503L) % 100L).toInt

  /** The murmur-style xor-shift-multiply avalanche over a
    * Mersenne-prime domain shared by every synthetic-media kernel —
    * pure %, *, xor, >> with intermediates under 2^63 (fam must stay
    * below ~3.4·10⁹), so ANSI SQL replays it term for term. */
  private def avalanche(fam: Long, c: Long): Long = {
    var v = Math.floorMod(fam * 2654435761L + c, 2147483647L)
    v = Math.floorMod((v ^ (v >> 15)) * 2246822519L, 2147483647L)
    v = Math.floorMod((v ^ (v >> 13)) * 3266489917L, 2147483647L)
    v ^ (v >> 16)
  }

  private def grayFromFam(fam: Long, id: Long, x: Int, y: Int): Int = {
    // per-pixel PSEUDO-RANDOM parity keyed by the family, through a
    // murmur-style xor-shift-multiply avalanche over a Mersenne-prime
    // domain — every step stays under 2^63 and uses only %, *, xor,
    // >> so ANSI SQL replays it exactly. Each family's 72-pixel
    // high/low grid is then effectively unique (measured: min
    // cross-family dHash Hamming 6-9 over 5000 families, mean ~23),
    // so cliques are BOUNDED at the 100-id family width under ANY
    // corpus replication. Weaker extractors measurably fail here:
    // gradient patterns alias under scale-generator id strides, and
    // parity-of-modular-linear leaves Θ(F²) family pairs within
    // Hamming 7 — both silently rebuild the unbounded-clique
    // quadratic this fixture exists to rule out.
    val par = {
      var v = Math.floorMod(fam * 2654435761L + (9L * y + x + 1L) * 40503L,
        2147483647L)
      v = Math.floorMod((v ^ (v >> 15)) * 2246822519L, 2147483647L)
      v = Math.floorMod((v ^ (v >> 13)) * 3266489917L, 2147483647L)
      (v ^ (v >> 16)) % 2L
    }
    val bump = if (Math.floorMod(id * 31L + x * 17L + y * 7L, 97L) < 2L) 60L else 0L
    (30L + 100L * par + bump).toInt
  }

  /** A REAL 9×8 24bpp bottom-up BMP whose gray levels are
    * [[synthGray]] — every pixel BGR = (g, g, g), so channel-sum
    * grayscale is 3g and every perceptual-hash comparison reduces to
    * comparing g, which the SQL oracle recomputes from id alone. */
  private[graft] def syntheticBmpSparse(id: Long): Array[Byte] =
    syntheticBmp(id, synthGraySparse)

  private[graft] def syntheticBmp(
      id: Long,
      gray: (Long, Int, Int) => Int = synthGray): Array[Byte] = {
    def putLeInt(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    val w = 9; val h = 8
    val rowStride = ((w * 3 + 3) / 4) * 4
    val b = new Array[Byte](54 + rowStride * h)
    b(0) = 'B'; b(1) = 'M'
    putLeInt(b, 2, b.length)
    putLeInt(b, 10, 54)
    putLeInt(b, 14, 40)
    putLeInt(b, 18, w)
    putLeInt(b, 22, h)          // positive height: bottom-up storage
    b(26) = 1
    b(28) = 24                  // bits per pixel
    putLeInt(b, 34, rowStride * h)
    var yImg = 0
    while (yImg < h) {
      val fileRow = h - 1 - yImg
      var x = 0
      while (x < w) {
        val g = gray(id, x, yImg).toByte
        val o = 54 + fileRow * rowStride + x * 3
        b(o) = g; b(o + 1) = g; b(o + 2) = g
        x += 1
      }
      yImg += 1
    }
    b
  }

  /** Deterministic image fixture table: (media_id, payload) with a
    * real decodable BMP per input id (see [[syntheticBmp]]). */
  def syntheticImageTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticBmp(id))))
      .toDF("media_id", "payload")
  }

  /** The SPARSE image fixture ([[sparseFam]]): only ids in every
    * fourth 100-wide block (phase [[SparseImagePhase]]) share a family
    * backbone — a known ~25% minority has near partners; everyone else
    * is a singleton. Discriminates admission selectivity where the
    * dense fixture flags every doc. */
  def syntheticImageTableSparse(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticBmpSparse(id))))
      .toDF("media_id", "payload")
  }

  /** Image near-dup candidate pairs by perceptual dHash + Hamming
    * banding: fingerprint once through the codegen'd
    * [[graft.functions.PerceptualHash]] kernel (non-decodable
    * payloads drop out as NULL), then the multi-block Hamming banding
    * ([[Dedup.hammingCandidatesFromFp]]) — EXHAUSTIVE for hamming <=
    * maxHamming by pigeonhole, one equi-join keyed on (combination,
    * key bits), never all-pairs. Geometry defaults to
    * [[Dedup.autoGeometry]] (`blocks = keyBlocks = 0`), which sizes
    * the combination count to `maxHamming`: (9, 2) at the default
    * h≤7 — C(9,2)=36 probe keys of ~15 bits, holding bucket occupancy
    * flat well past 10^6 images where the single-block 8-band form
    * saturates its 2^8 buckets by ~10^5 (measured: q80 at sf10 went
    * quadratic, 391 s) — and (4, 1) at h≤3, the measured 19× pair-gen
    * win (SCALE.md r14/r15). The two geometry parameters are sized
    * jointly ([[Dedup.geometry]], shared by every banding entry
    * point): pass both or neither. Output: (id_a, id_b, hamming). */
  def imageNearDupPairs(media: DataFrame, idCol: String,
                        payloadCol: String, blocks: Int = 0,
                        maxHamming: Int = 7, keyBlocks: Int = 0,
                        maxBucketSize: Int = 0): DataFrame = {
    Dedup.cachedHammingCandidates(media.select(
        col(idCol).cast("long").as("id"),
        graft.functions.PerceptualHash.d_hash(col(payloadCol)).as("sh"))
      .where(col("sh").isNotNull), blocks, maxHamming, keyBlocks,
      maxBucketSize)
  }

  /** Image near-dup pairs over the WIDE (128-bit) fingerprint —
    * dHash ‖ aHash from ONE decode ([[graft.functions.PerceptualHash
    * .d_a_hash]]) as the two words `(lo, hi)` of
    * [[Dedup.hammingCandidatesFromFp]]: the escape from the 64-bit
    * key-space ceiling ([[Dedup.autoGeometry]]) — the default (10, 2)
    * carries 45 keys of ≥24 bits, a collision term ~2^13 smaller by
    * arithmetic (no wide-path decade table was recorded).
    *
    * DIFFERENT SIMILARITY CONTRACT, measured before shipping
    * (r17, SCALE.md r22): pairs at combined dHash+aHash Hamming <=
    * `maxHamming` over 128 bits. The default 8 is the measured
    * operating point matching the 64-bit h≤7 one on every fixture
    * family: true 64-bit pairs all sit at h128 ≤ 8 (dense AND sparse
    * image fixtures, 2000 ids brute-forced), JPEG re-encode twins at
    * h128 = 0, and the closest non-pair at 27 — so at the defaults
    * the two operators emit IDENTICAL pair sets on the fixtures
    * (spec-pinned), while the wide key space holds bucket occupancy
    * flat three decades further. Output: (id_a, id_b, hamming) with
    * `hamming` the 128-bit distance. */
  def imageNearDupPairsWide(media: DataFrame, idCol: String,
                            payloadCol: String, blocks: Int = 0,
                            maxHamming: Int = 8, keyBlocks: Int = 0,
                            maxBucketSize: Int = 0): DataFrame = {
    Dedup.cachedHammingCandidates(media.select(
        col(idCol).cast("long").as("id"),
        graft.functions.PerceptualHash.d_a_hash(col(payloadCol)).as("h"))
      .where(col("h").isNotNull)
      .select(col("id"), col("h.dh").as("lo"), col("h.ah").as("hi")),
      blocks, maxHamming, keyBlocks, maxBucketSize)
  }

  /** Per-sample value of doc `id`'s synthetic PCM stream — the audio
    * analogue of [[synthGray]], same family structure (families of 100
    * consecutive ids share a pseudo-random base waveform; a sparse
    * per-id bump perturbs a few samples) and the same
    * murmur-style avalanche over a Mersenne-prime domain, so ANSI SQL
    * replays it exactly and cliques stay BOUNDED at the family width
    * under corpus replication (the q80 scale argument, verbatim).
    * Values are {200, 1000} + bump 500 — positive, far under 2^15. */
  private[graft] def synthSample(id: Long, i: Int): Int =
    sampleFromFam(id / 100L, id, i)

  /** Sparse audio sample — [[synthGraySparse]]'s reasoning verbatim:
    * partnered blocks keep the dense kernel; singletons get continuous
    * levels (200 + avalanche % 800) so their energy-gradient bits are
    * fair and accidental ≤7 partners stay negligible at 10⁷ docs. */
  private[graft] def synthSampleSparse(id: Long, i: Int): Int =
    if (Math.floorMod(id / 100L, 4L) == SparseAudioPhase)
      sampleFromFam(id / 100L, id, i)
    else
      (200L + avalanche(sparseFam(id, SparseAudioPhase),
        (i + 1L) * 48271L) % 800L).toInt

  private def sampleFromFam(fam: Long, id: Long, i: Int): Int = {
    val par = {
      var v = Math.floorMod(fam * 2654435761L + (i + 1L) * 48271L,
        2147483647L)
      v = Math.floorMod((v ^ (v >> 15)) * 2246822519L, 2147483647L)
      v = Math.floorMod((v ^ (v >> 13)) * 3266489917L, 2147483647L)
      (v ^ (v >> 16)) % 2L
    }
    val bump = if (Math.floorMod(id * 31L + i * 17L, 97L) < 2L) 500L else 0L
    (200L + 800L * par + bump).toInt
  }

  /** How many PCM frames [[syntheticPcmWav]] carries: 2 per energy
    * cell, so the q84 oracle knows cell k = s(2k)² + s(2k+1)². */
  private[graft] val SynthPcmFrames = 144

  /** A REAL canonical-layout 16-bit PCM mono WAV whose 144 samples are
    * [[synthSample]] — strict 44-byte header (RIFF/WAVE, "fmt " PCM16,
    * "data" with exact length), so the fingerprint kernel's decode
    * contract holds and any external WAV reader accepts the file. */
  private[graft] def syntheticPcmWavSparse(id: Long): Array[Byte] =
    syntheticPcmWav(id, synthSampleSparse)

  private[graft] def syntheticPcmWav(
      id: Long,
      sample: (Long, Int) => Int = synthSample): Array[Byte] = {
    def putLeInt(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def putLeShort(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    val n = SynthPcmFrames
    val dataLen = n * 2
    val b = new Array[Byte](44 + dataLen)
    "RIFF".getBytes.copyToArray(b, 0)
    putLeInt(b, 4, 36 + dataLen)
    "WAVE".getBytes.copyToArray(b, 8)
    "fmt ".getBytes.copyToArray(b, 12)
    putLeInt(b, 16, 16)            // fmt chunk size
    putLeShort(b, 20, 1)           // PCM
    putLeShort(b, 22, 1)           // mono
    putLeInt(b, 24, 8000)          // sample rate
    putLeInt(b, 28, 16000)         // byte rate
    putLeShort(b, 32, 2)           // block align
    putLeShort(b, 34, 16)          // bits per sample
    "data".getBytes.copyToArray(b, 36)
    putLeInt(b, 40, dataLen)
    var i = 0
    while (i < n) {
      putLeShort(b, 44 + i * 2, sample(id, i) & 0xFFFF)
      i += 1
    }
    b
  }

  /** Deterministic audio fixture table: (media_id, payload) with a
    * real decodable PCM16 WAV per input id (see [[syntheticPcmWav]]). */
  def syntheticAudioTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPcmWav(id))))
      .toDF("media_id", "payload")
  }

  /** The SPARSE audio fixture — [[syntheticImageTableSparse]]'s twin
    * at phase [[SparseAudioPhase]], so the audio-partnered block set is
    * DISJOINT from the image-partnered one and the two modalities
    * disagree on which docs have near partners. */
  def syntheticAudioTableSparse(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPcmWavSparse(id))))
      .toDF("media_id", "payload")
  }

  /** Audio near-dup candidate pairs by acoustic fingerprint + Hamming
    * banding — the WAV twin of [[imageNearDupPairs]]: fingerprint once
    * through the codegen'd [[graft.functions.AudioFingerprint]] kernel
    * (non-PCM16 payloads drop out as NULL), then the SAME multi-block
    * Hamming banding, exhaustive for hamming <= maxHamming by
    * pigeonhole, one equi-join keyed on (combination, key bits), never
    * all-pairs. Geometry as in [[imageNearDupPairs]]. */
  def audioNearDupPairs(media: DataFrame, idCol: String,
                        payloadCol: String, blocks: Int = 0,
                        maxHamming: Int = 7, keyBlocks: Int = 0,
                        maxBucketSize: Int = 0): DataFrame = {
    Dedup.cachedHammingCandidates(media.select(
        col(idCol).cast("long").as("id"),
        graft.functions.AudioFingerprint.audio_fp(col(payloadCol)).as("sh"))
      .where(col("sh").isNotNull), blocks, maxHamming, keyBlocks,
      maxBucketSize)
  }

  /** Audio near-dup pairs over the WIDE (128-bit) fingerprint — the
    * DOUBLED 17×8 energy grid ([[graft.functions.AudioFingerprint
    * .fpWide]], one pass) as the two words `(lo, hi)` of
    * [[Dedup.hammingCandidatesFromFp]]: the audio leg of the
    * r17 wide-banding escape (see [[imageNearDupPairsWide]] for the
    * 64-bit ceiling it escapes). DIFFERENT SIMILARITY CONTRACT,
    * measured before shipping (r17, SCALE.md r22; family-membership
    * truth): pairs at Hamming <= `maxHamming` over the 128 grid
    * bits. The default 7 is the measured operating point — dense
    * fixture same-family pairs all at h ≤ 7, sparse at h ≤ 6, the
    * closest cross-family pair at 31/35 — so at the defaults the
    * wide pair set IS the family-clique truth on the fixtures, a
    * strict superset of the 64-bit operator's (whose coarse 72-cell
    * grid pushes ~0.2% of family pairs past h64=7; spec-pinned both
    * ways), while the default geometry (9, 2) carries the SAME 36
    * combination keys at ~28 bits instead of ~15: key space
    * ×~8000. Payloads under 136 frames fingerprint
    * NULL here (too short for the doubled grid) though the 64-bit
    * operator accepts them at 72+ — callers with sub-second 8kHz
    * clips keep [[audioNearDupPairs]]. Output: (id_a, id_b,
    * hamming) with `hamming` the 128-bit distance. */
  def audioNearDupPairsWide(media: DataFrame, idCol: String,
                            payloadCol: String, blocks: Int = 0,
                            maxHamming: Int = 7, keyBlocks: Int = 0,
                            maxBucketSize: Int = 0): DataFrame = {
    Dedup.cachedHammingCandidates(media.select(
        col(idCol).cast("long").as("id"),
        graft.functions.AudioFingerprint.audio_fp_wide(col(payloadCol))
          .as("h"))
      .where(col("h").isNotNull)
      .select(col("id"), col("h.lo").as("lo"), col("h.hi").as("hi")),
      blocks, maxHamming, keyBlocks, maxBucketSize)
  }

  /** STUB feature hash: stands in for an embedding/perceptual hash. */
  private def featureHashStub(payload: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    payload.foreach { b => h ^= (b & 0xFFL); h *= 0x100000001B3L }
    h
  }
  // ---------------------------------------------------------------------

  /** Batched decode + feature extraction: `mapPartitions` so per-batch
    * decoder setup is paid once per partition, not per row (the
    * `mapInPandas` execution shape in Scala). */
  def decodeAndExtract(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      // per-partition decoder init would go here (once, not per row)
      it.map { m =>
        val d = decode(m.payload)
        // frames are meaningful for video (stub or real) and for audio
        // whose WAV header REALLY parsed — discarding the latter would
        // make the one non-stub decode output unreachable. Audio that
        // fell through to the stub (non-RIFF payloads) reports 1: a
        // hash-derived frame count would be noise presented as signal.
        val nFrames =
          if (m.kind == "video") d.frames
          else if (m.kind == "audio" && d.wavParsed) d.frames
          else 1
        MediaFeatures(m.media_id, m.kind, m.payload.length, d.width, d.height,
          nFrames, featureHashStub(m.payload))
      }
    }
  }

  /** REAL nearest-neighbor resample of an uncompressed 24bpp BMP —
    * pure byte arithmetic, no codec: parses the BITMAPINFOHEADER,
    * maps each target pixel (x, y) to source pixel
    * (x·w/tw, y·h/th) in stored-row order (bottom-up stays
    * bottom-up, top-down stays top-down — the height sign is
    * preserved), and emits a standard 54-byte-header BMP with
    * 4-byte-aligned rows. Returns None for anything that isn't a
    * plain uncompressed 24bpp BMP with a complete pixel array —
    * those formats need a codec this container doesn't have
    * (callers fall back to pass-through, the documented stub path).
    */
  private[graft] def resizeBmpBytes(src: Array[Byte], tw: Int,
                                    th: Int): Option[Array[Byte]] = {
    require(tw > 0 && th > 0, s"target dims must be positive: ${tw}x$th")
    if (src.length < 54 || src(0) != 'B'.toByte || src(1) != 'M'.toByte)
      return None
    val dataOff = leInt(src, 10)
    val w = leInt(src, 18)
    val hRaw = leInt(src, 22)
    val h = math.abs(hRaw)
    val bitCount = leShort(src, 28)
    val compression = leInt(src, 30)
    if (w <= 0 || h == 0 || bitCount != 24 || compression != 0) return None
    val srcRow = ((w * 3 + 3) / 4) * 4
    if (dataOff < 54 || src.length < dataOff.toLong + srcRow.toLong * h)
      return None
    // row stride in LONG: tw*3+3 itself overflows Int near tw ~ 7e8,
    // which would slip a negative stride past the size guard below
    val dstRowL = (tw.toLong * 3 + 3) / 4 * 4
    // oversized target dims would overflow the Int array size (and the
    // header's image-size field) into a NegativeArraySizeException;
    // an un-materializable BMP is a None, not a crash
    if (54L + dstRowL * th > Int.MaxValue.toLong) return None
    val dstRow = dstRowL.toInt
    val out = new Array[Byte](54 + dstRow * th)
    out(0) = 'B'; out(1) = 'M'
    def putLeInt(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    putLeInt(out, 2, out.length) // file size
    putLeInt(out, 10, 54)        // pixel data offset
    putLeInt(out, 14, 40)        // BITMAPINFOHEADER size
    putLeInt(out, 18, tw)
    putLeInt(out, 22, if (hRaw < 0) -th else th)
    out(26) = 1                  // planes
    out(28) = 24                 // bits per pixel
    putLeInt(out, 34, dstRow * th) // image size
    var y = 0
    while (y < th) {
      val sy = (y.toLong * h / th).toInt
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * w / tw).toInt
        val s = dataOff + sy * srcRow + sx * 3
        val d = 54 + y * dstRow + x * 3
        out(d) = src(s); out(d + 1) = src(s + 1); out(d + 2) = src(s + 2)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** Resize stage: the BMP kernel is REAL ([[resizeBmpBytes]] — NN
    * resample in plain byte arithmetic); payloads any other kernel
    * would need a codec for pass through unchanged (the documented
    * stub path). Only a `payload` binary column is required — every
    * other input column passes through untouched (a `withColumn` on
    * the payload, not a typed re-projection, so callers keep whatever
    * metadata they carry). A null payload stays null. */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val kernel = udf { payload: Array[Byte] =>
      if (payload == null) null
      else resizeBmpBytes(payload, targetW, targetH).getOrElse(payload)
    }
    media
      .withColumn("resized_payload", kernel(col("payload")))
      .withColumn("target_w", lit(targetW))
      .withColumn("target_h", lit(targetH))
  }

  /** Frame sampling for video rows: every `stride`-th frame index up to
    * the decoded frame count — generates (media_id, frame_no) rows; the
    * stub "samples" indexes only, a real kernel would emit frame bytes. */
  def sampleFrames(features: Dataset[MediaFeatures], stride: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features.filter(_.kind == "video")
      .flatMap(f => (0 until f.n_frames by stride)
        .map(i => (f.media_id, i, f.n_frames)))
      .toDF("media_id", "frame_no", "n_frames")
  }
}
