package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.llm.Multimodal
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing (q36's hard signal — the query is rows-only in
  * CORRECTNESS): schema contract, stub-decoder determinism, frame
  * sampling arithmetic, and the q36 aggregate against a driver-side
  * recomputation from the feature rows.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("BMP and WAV headers are decoded for real (not stubbed)") {
    // minimal BMP: 'BM' magic, width=640 @18, height=-480 @22 (top-down)
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    def putLe(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    putLe(bmp, 18, 640); putLe(bmp, 22, -480)
    assert(Multimodal.decodeBmp(bmp).contains((640, 480)))
    assert(Multimodal.decodeBmp("not a bmp".getBytes).isEmpty)
    // minimal WAV: RIFF/WAVE, 2ch @22, 44100 Hz @24, blockAlign 4 @32,
    // 44-byte header + 400 data bytes -> 100 frames
    val wav = new Array[Byte](44 + 400)
    "RIFF".getBytes.copyToArray(wav, 0); "WAVE".getBytes.copyToArray(wav, 8)
    wav(22) = 2; putLe(wav, 24, 44100); wav(32) = 4
    assert(Multimodal.decodeWav(wav).contains((2, 44100, 100)))
    // dispatch: real parse for magic payloads, stub fallback otherwise;
    // the wavParsed flag is how the hot path learns which kernel ran
    assert(Multimodal.decode(bmp) == Multimodal.Decoded(640, 480, 1, wavParsed = false))
    assert(Multimodal.decode(wav) == Multimodal.Decoded(2, 44100, 100, wavParsed = true))
    val stubbed = Multimodal.decode("zzz".getBytes)
    assert(stubbed.width >= 64 && !stubbed.wavParsed) // stub range
  }

  test("BMP resize kernel resamples pixels for real (round-trips the decoder)") {
    def putLe(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    // real 4x2 24bpp bottom-up BMP, each pixel a distinct BGR triple
    // (value = 10*x + y); width 4 → row size 12, no padding
    def pix(x: Int, y: Int): Byte = (10 * x + y).toByte
    val w = 4; val h = 2
    val rowSize = ((w * 3 + 3) / 4) * 4
    val src = new Array[Byte](54 + rowSize * h)
    src(0) = 'B'; src(1) = 'M'
    putLe(src, 10, 54); putLe(src, 14, 40)
    putLe(src, 18, w); putLe(src, 22, h)
    src(28) = 24
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      src(54 + y * rowSize + x * 3 + c) = pix(x, y)
    // 2x1: NN maps target x∈{0,1} → source x∈{0,2}, y=0 → source y=0
    val out = Multimodal.resizeBmpBytes(src, 2, 1).get
    assert(Multimodal.decodeBmp(out).contains((2, 1)), "decoder round-trip")
    assert(out.length == 54 + 8, "2px row pads to 8 bytes")     // 6 data + 2 pad
    assert(out(54) == pix(0, 0) && out(57) == pix(2, 0), "NN source pixels")
    // upscale works too (pixel replication)
    val up = Multimodal.resizeBmpBytes(src, 8, 4).get
    assert(Multimodal.decodeBmp(up).contains((8, 4)))
    assert(up(54) == pix(0, 0) && up(54 + 3) == pix(0, 0), "x=0,1 replicate src x=0")
    // un-materializable target dims (incl. tw*3 Int-overflow territory)
    // are a None, not a NegativeArraySizeException
    assert(Multimodal.resizeBmpBytes(src, 800000000, 2).isEmpty)
    assert(Multimodal.resizeBmpBytes(src, 30000, 30000).isEmpty)
    // top-down orientation (negative height) is preserved
    val td = src.clone(); putLe(td, 22, -h)
    val tdOut = Multimodal.resizeBmpBytes(td, 2, 1).get
    assert(Multimodal.decodeBmp(tdOut).contains((2, 1)))
    assert((tdOut(25) & 0x80) != 0, "height stays negative (top-down)")
    // codec-requiring payloads are refused: header-only synthetic BMPs
    // (no pixel array), non-BMP bytes — the DataFrame stage passes them
    // through unchanged
    assert(Multimodal.resizeBmpBytes(
      Multimodal.syntheticPayload(5, "image"), 2, 1).isEmpty)
    assert(Multimodal.resizeBmpBytes("RIFFxxxx".getBytes, 2, 1).isEmpty)
  }

  test("resize stage resamples parsable BMPs and passes others through") {
    def putLe(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    val w = 4; val h = 4
    val rowSize = ((w * 3 + 3) / 4) * 4
    val real = new Array[Byte](54 + rowSize * h)
    real(0) = 'B'; real(1) = 'M'
    putLe(real, 10, 54); putLe(real, 14, 40)
    putLe(real, 18, w); putLe(real, 22, h)
    real(28) = 24
    val media = Seq(
      Multimodal.MediaRow(1L, "image", real, "s"),
      Multimodal.MediaRow(2L, "audio", Multimodal.syntheticPayload(7, "audio"), "s"))
      .toDF()
    val out = Multimodal.resize(media, 2, 2)
      .select($"media_id", $"resized_payload", $"target_w")
      .as[(Long, Array[Byte], Int)].collect().sortBy(_._1)
    assert(Multimodal.decodeBmp(out(0)._2).contains((2, 2)), "BMP resampled")
    assert(out(1)._2.sameElements(Multimodal.syntheticPayload(7, "audio")),
      "non-BMP passes through byte-identical")
    assert(out.forall(_._3 == 2))
  }

  test("decodeAndExtract is deterministic and byte_len is exact") {
    val media = Seq(
      (1L, "image", "payload-one", "src"),
      (2L, "video", "payload-two-longer", "src"),
      (3L, "image", "payload-one", "src")) // same payload as 1
      .toDF("media_id", "kind", "payload_str", "source")
    val m = Multimodal.asMediaTable(media, "media_id", "payload_str",
      kindCol = col("kind"), sourceCol = "source")
    val feats = Multimodal.decodeAndExtract(m).collect().sortBy(_.media_id)
    assert(feats.map(_.byte_len).toSeq ==
      Seq("payload-one".length, "payload-two-longer".length, "payload-one".length))
    // identical payloads → identical decoded dims + feature hash
    assert(feats(0).width == feats(2).width &&
      feats(0).feature_hash == feats(2).feature_hash)
    // images are single-frame; audio keeps frames only from a REAL WAV
    // header parse (these text-byte payloads are not RIFF, so 1)
    assert(feats(0).n_frames == 1 && feats(1).n_frames >= 1)
  }

  test("sampleFrames emits every stride-th index for video rows only") {
    val media = Seq((1L, "video", "vvv", "s"), (2L, "image", "iii", "s"))
      .toDF("media_id", "kind", "p", "source")
    val feats = Multimodal.decodeAndExtract(
      Multimodal.asMediaTable(media, "media_id", "p", col("kind"), "source"))
    val nFrames = feats.collect().find(_.media_id == 1L).get.n_frames
    val sampled = Multimodal.sampleFrames(feats, stride = 4)
      .select($"media_id", $"frame_no").as[(Long, Int)].collect()
    assert(sampled.forall(_._1 == 1L), "only video rows sampled")
    assert(sampled.map(_._2).sorted.toSeq == (0 until nFrames by 4).toSeq)
  }

  test("q36 aggregate equals a driver-side recomputation") {
    val got = graft.SparkEntry.queries("q36_multimodal_features")(spark, SparkTestBase.sf)
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    val docs = graft.core.Tables.documents(spark, SparkTestBase.sf)
    val media = Multimodal.syntheticMediaTable(docs, "doc_id", "source")
    val feats = Multimodal.decodeAndExtract(media).collect()
    val want = feats.groupBy(_.kind).map { case (k, g) =>
      val sampled = g.filter(_.kind == "video")
        .map(f => (0 until f.n_frames by 4).size.toLong).sum
      (k, g.length.toLong, g.map(_.byte_len.toLong).sum,
        g.map(_.width.toDouble).sum / g.length, sampled)
    }.toSeq.sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._5)) ==
      want.map(r => (r._1, r._2, r._3, r._5)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-9, s"avg_width ${g._1}") }
  }

  test("perceptual hashes match a direct reference implementation") {
    import graft.functions.PerceptualHash
    // reference: recompute both hashes straight from synthGray —
    // independent of the BMP builder AND the byte-walk kernel
    def refDhash(id: Long): Long = {
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (Multimodal.synthGray(id, x, y) > Multimodal.synthGray(id, x + 1, y))
          h |= 1L << (y * 8 + x)
      h
    }
    def refAhash(id: Long): Long = {
      val g = for (y <- 0 until 8; x <- 0 until 8)
        yield Multimodal.synthGray(id, x, y)
      val s = g.map(_.toLong).sum
      var h = 0L
      for (k <- 0 until 64) if (64L * g(k) > s) h |= 1L << k
      h
    }
    (0L until 200L).foreach { id =>
      val b = Multimodal.syntheticBmp(id)
      assert(PerceptualHash.isHashable(b))
      assert(PerceptualHash.dhash64(b) == refDhash(id), s"dhash id=$id")
      assert(PerceptualHash.ahash64(b) == refAhash(id), s"ahash id=$id")
    }
    // adversarial headers: an Int-overflowing width (w*3 wraps) and
    // the |Int.MinValue| height must fail the size guard, not wrap
    // into a bounds-check bypass
    def hdr(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](64)
      b(0) = 'B'; b(1) = 'M'
      def putLe(off: Int, v: Int): Unit = {
        b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
        b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
      }
      putLe(10, 54); putLe(18, w); putLe(22, h); b(28) = 24
      b
    }
    assert(!PerceptualHash.isHashable(hdr(0x40000000, 1)))
    assert(!PerceptualHash.isHashable(hdr(4, Int.MinValue)))
    assert(PerceptualHash.isHashable(Multimodal.syntheticBmp(1L)))
    // bit 63 is reachable (the BIGINT-overflow corner the oracle's
    // disagreement-count form exists to avoid)
    assert((0L until 500L).exists(id => refDhash(id) < 0L),
      "fixture population should exercise the sign bit")
  }

  test("perceptual hashes are invariant under NN 2x upscale and brightness shift") {
    import graft.functions.PerceptualHash
    (1L to 40L).foreach { id =>
      val b = Multimodal.syntheticBmp(id)
      // 2x NN upscale: the downsample grid lands on the same source
      // pixels, so both hashes are bit-identical
      val up = Multimodal.resizeBmpBytes(b, 18, 16).get
      assert(PerceptualHash.dhash64(up) == PerceptualHash.dhash64(b), s"id=$id")
      assert(PerceptualHash.ahash64(up) == PerceptualHash.ahash64(b), s"id=$id")
      // uniform brightness lift (no wrap): every comparison unchanged
      val lifted = b.clone()
      var o = 54
      while (o < lifted.length) {
        lifted(o) = math.min(255, (lifted(o) & 0xFF) + 1).toByte; o += 1
      }
      if (!(54 until b.length).exists(i => (b(i) & 0xFF) == 255)) {
        assert(PerceptualHash.dhash64(lifted) == PerceptualHash.dhash64(b))
        assert(PerceptualHash.ahash64(lifted) == PerceptualHash.ahash64(b))
      }
    }
  }

  test("audio fingerprint matches a direct reference implementation") {
    import graft.functions.AudioFingerprint
    // reference: recompute the fingerprint straight from synthSample —
    // independent of the WAV builder AND the byte-walk kernel
    def refFp(id: Long): Long = {
      val n = Multimodal.SynthPcmFrames
      val e = Array.tabulate(72) { k =>
        ((k * n / 72) until ((k + 1) * n / 72)).map { i =>
          val s = Multimodal.synthSample(id, i).toLong; s * s
        }.sum
      }
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (e(y * 9 + x) > e(y * 9 + x + 1)) h |= 1L << (y * 8 + x)
      h
    }
    (0L until 200L).foreach { id =>
      val b = Multimodal.syntheticPcmWav(id)
      assert(AudioFingerprint.isFingerprintable(b), s"id=$id")
      assert(AudioFingerprint.fp64(b) == refFp(id), s"fp id=$id")
    }
    assert((0L until 500L).exists(id => refFp(id) < 0L),
      "fixture population should exercise the sign bit")
    // decode-contract rejections: junk, image, truncated, short
    assert(AudioFingerprint.fp64Boxed("RIFFnope".getBytes) == null)
    assert(AudioFingerprint.fp64Boxed(Multimodal.syntheticBmp(1L)) == null)
    assert(AudioFingerprint.fp64Boxed(
      Multimodal.syntheticPcmWav(1L).take(44 + 100)) == null) // 50 frames < 72
    assert(AudioFingerprint.fp64Boxed(null) == null)
  }

  test("audio fingerprint is invariant under volume scaling and sign flip") {
    import graft.functions.AudioFingerprint
    def mapSamples(b: Array[Byte], f: Int => Int): Array[Byte] = {
      val out = b.clone()
      var i = 0
      while (44 + i * 2 + 1 < out.length) {
        val s = ((out(44 + i * 2) & 0xFF) | (out(45 + i * 2) << 8)).toShort.toInt
        val v = f(s)
        out(44 + i * 2) = (v & 0xFF).toByte
        out(45 + i * 2) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      out
    }
    (1L to 40L).foreach { id =>
      val b = Multimodal.syntheticPcmWav(id)
      val fp = AudioFingerprint.fp64(b)
      // 2x gain: every energy scales by 4, comparisons unchanged
      assert(AudioFingerprint.fp64(mapSamples(b, _ * 2)) == fp, s"gain id=$id")
      // polarity inversion: energy is even in s
      assert(AudioFingerprint.fp64(mapSamples(b, s => -s)) == fp, s"flip id=$id")
    }
  }

  test("audio near-dup banding: full recall vs brute force, perturbed twins found") {
    import graft.functions.AudioFingerprint
    val ids = (0L until 300L).toSeq
    val wavs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticAudioTable(_, "doc_id"))
    val got = Multimodal.audioNearDupPairs(wavs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    val fps = ids.map(id =>
      id -> AudioFingerprint.fp64(Multimodal.syntheticPcmWav(id))).toMap
    val want = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 7
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture families must produce near-dup pairs")
    // perturbation recall: a lightly noised re-encode of each waveform
    // (±1 LSB on every 11th sample — dithering/requantization noise)
    // must land within the banding radius of its original and be FOUND
    val perturbed = ids.take(50).map { id =>
      val b = Multimodal.syntheticPcmWav(id)
      var i = 0
      while (44 + i * 2 + 1 < b.length) {
        if (i % 11 == 0) {
          val s = ((b(44 + i * 2) & 0xFF) | (b(45 + i * 2) << 8)).toShort.toInt
          val v = s + (if (i % 22 == 0) 1 else -1)
          b(44 + i * 2) = (v & 0xFF).toByte
          b(45 + i * 2) = ((v >> 8) & 0xFF).toByte
        }
        i += 1
      }
      (id + 1000000L, b)
    }
    val mixed = wavs.union(perturbed.toDF("media_id", "payload"))
    val pairs = Multimodal.audioNearDupPairs(mixed, "media_id", "payload")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    ids.take(50).foreach { id =>
      assert(pairs.contains((id, id + 1000000L)),
        s"perturbed twin pair missing for id=$id")
    }
  }

  test("codec'd payloads (PNG/JPEG/GIF) hash through the same grid as BMP") {
    import graft.functions.PerceptualHash
    def decode(b: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      assert(img != null, "ImageIO must decode the fixture")
      img
    }
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    def jpegEncode(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose(); ios.close()
      out.toByteArray
    }
    (0L until 60L).foreach { id =>
      val b = Multimodal.syntheticBmp(id)
      // PNG/GIF are lossless AND ImageIO is an INDEPENDENT second BMP
      // decoder — exact hash equality cross-checks the raw byte-walk
      // parser against a decoder we didn't write
      val png = encode(decode(b), "png")
      assert(PerceptualHash.looksLikeCodec(png) && !PerceptualHash.isHashable(png))
      assert(PerceptualHash.hash64(png, true).longValue() ==
        PerceptualHash.dhash64(b), s"png dhash id=$id")
      assert(PerceptualHash.hash64(png, false).longValue() ==
        PerceptualHash.ahash64(b), s"png ahash id=$id")
      val gif = encode(decode(b), "gif")
      assert(PerceptualHash.hash64(gif, true).longValue() ==
        PerceptualHash.dhash64(b), s"gif dhash id=$id")
    }
    // JPEG is lossy: at real image sizes the hash sits within the
    // banding radius of the uncompressed twin. Measured (SCALE.md r22):
    // 72x64 → Hamming 0 at every quality 0.75-1.0; the pathological
    // 9x8 native size → ≤7 only at quality 1.0. Pin both regimes.
    (0L until 60L).foreach { id =>
      val b = Multimodal.syntheticBmp(id)
      val up = Multimodal.resizeBmpBytes(b, 72, 64).get
      Seq(0.75f, 0.9f).foreach { q =>
        val jpg = jpegEncode(decode(up), q)
        assert(PerceptualHash.looksLikeCodec(jpg))
        val hj = PerceptualHash.hash64(jpg, true)
        assert(hj != null, s"jpeg must hash, id=$id q=$q")
        val d = java.lang.Long.bitCount(hj.longValue() ^ PerceptualHash.dhash64(b))
        assert(d <= 7, s"jpeg q=$q id=$id hamming=$d exceeds banding radius")
      }
      val tiny = jpegEncode(decode(b), 1.0f)
      val dTiny = java.lang.Long.bitCount(
        PerceptualHash.hash64(tiny, true).longValue() ^ PerceptualHash.dhash64(b))
      assert(dTiny <= 7, s"9x8 q=1.0 id=$id hamming=$dTiny")
    }
    // within-JDK determinism: same pixels → identical encoded bytes →
    // identical hash (the fixture-stability contract; cross-JDK JPEG
    // decode is documented as unpinned)
    locally {
      val img = decode(Multimodal.resizeBmpBytes(Multimodal.syntheticBmp(7L), 72, 64).get)
      val j1 = jpegEncode(img, 0.9f)
      val j2 = jpegEncode(decode(Multimodal.resizeBmpBytes(Multimodal.syntheticBmp(7L), 72, 64).get), 0.9f)
      assert(java.util.Arrays.equals(j1, j2), "JPEG encode must be deterministic")
      assert(PerceptualHash.hash64(j1, true) == PerceptualHash.hash64(j2, true))
    }
    // corrupt codec payloads: magic sniff passes, decode fails → NULL,
    // never an exception up the scan
    val junkPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 1, 2, 3)
    val junkJpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 9, 9, 9, 9)
    assert(PerceptualHash.hash64(junkPng, true) == null)
    assert(PerceptualHash.hash64(junkJpg, true) == null)
    assert(PerceptualHash.hash64("GIF8 but nope".getBytes, true) == null)
  }

  test("decompression bombs: header-declared huge dimensions hash NULL without allocating") {
    import graft.functions.PerceptualHash
    // a VALID PNG whose IHDR declares 100000x100000 (a ~40 GB ARGB
    // raster) from a few hundred bytes of payload: resource
    // exhaustion, not parse failure — the guard must reject it from
    // the HEADER, before any pixel buffer exists. Build it by
    // re-writing the IHDR of a real 1x1 PNG with bomb dimensions and
    // a recomputed CRC so header parsing genuinely succeeds.
    def pngWithDims(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(1, 1,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      val b = out.toByteArray
      // IHDR data starts at offset 16 (8 sig + 4 len + 4 "IHDR")
      def put(off: Int, v: Int): Unit = {
        b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
        b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
      }
      put(16, w); put(20, h)
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 4 + 13) // "IHDR" + 13 data bytes
      put(12 + 4 + 13, crc.getValue.toInt)
      b
    }
    val bomb = pngWithDims(100000, 100000)
    assert(PerceptualHash.looksLikeCodec(bomb), "bomb must pass the sniff")
    val before = Runtime.getRuntime.totalMemory()
    assert(PerceptualHash.hash64(bomb, true) == null, "bomb must hash NULL")
    assert(PerceptualHash.hash64(bomb, false) == null)
    // sanity: the guard didn't grow the heap by a raster's worth
    assert(Runtime.getRuntime.totalMemory() - before < 512L * 1024 * 1024)
    // the same rewrite at sane dimensions still DECODES (the guard is
    // a cap, not a new failure mode): an honest 1x1 PNG hashes non-null
    assert(PerceptualHash.hash64(pngWithDims(1, 1), true) != null)
    // and a just-over-cap square is rejected while just-under passes
    // the dimension check (it then fails decode on truncated data,
    // also NULL — so pin only the over-cap rejection path's speed)
    val t0 = System.nanoTime()
    assert(PerceptualHash.hash64(pngWithDims(9000, 9000), true) == null)
    assert((System.nanoTime() - t0) / 1e9 < 5.0,
      "over-cap rejection must be header-fast, not a decode attempt")
  }

  test("image near-dup banding finds BMP/JPEG re-encode twins end to end") {
    import graft.functions.PerceptualHash
    // the judge's 'Done' condition: a corpus mixing raw BMPs with
    // JPEG re-encodes of the SAME images — every (bmp, jpeg) twin
    // must surface through the codegen'd kernel + Hamming banding,
    // exactly as a real mixed-format corpus would dedup
    val ids = (0L until 80L).toSeq
    def jpegOf(id: Long): Array[Byte] = {
      val up = Multimodal.resizeBmpBytes(Multimodal.syntheticBmp(id), 72, 64).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.75f)
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose(); ios.close()
      out.toByteArray
    }
    val corpus =
      ids.map(id => (id, Multimodal.syntheticBmp(id))) ++
      ids.map(id => (id + 1000000L, jpegOf(id)))
    val pairs = Multimodal.imageNearDupPairs(
        corpus.toDF("media_id", "payload"), "media_id", "payload")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    ids.foreach { id =>
      assert(pairs.contains((id, id + 1000000L)),
        s"bmp/jpeg twin pair missing for id=$id")
    }
  }

  test("image near-dup banding: full recall vs brute force, perturbed images close") {
    import graft.functions.PerceptualHash
    val ids = (0L until 300L).toSeq
    val imgs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticImageTable(_, "doc_id"))
    val got = Multimodal.imageNearDupPairs(imgs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    // brute force over the driver-side hashes
    val hashes = ids.map(id =>
      id -> PerceptualHash.dhash64(Multimodal.syntheticBmp(id))).toMap
    val want = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 7
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture families must produce near-dup pairs")
    // same-family perturbed twins sit close; a cross-family pair is
    // typically far — the signal the perceptual hash exists to carry
    val sameFam = want.filter { case (a, b, _) => a / 100 == b / 100 }
    assert(sameFam.size >= want.size / 2,
      s"family cliques should dominate: ${sameFam.size}/${want.size}")
    // undecodable payloads fingerprint to NULL and drop out
    val withJunk = imgs.union(Seq((9999L, "not a bmp".getBytes))
      .toDF("media_id", "payload"))
    val gotJunk = Multimodal.imageNearDupPairs(withJunk, "media_id",
        "payload")
      .where($"id_a" === 9999L || $"id_b" === 9999L).count()
    assert(gotJunk == 0L)
  }

  test("Hamming banding geometry: narrow/auto forms == blocks=9/keyBlocks=2 at h<=3 and h<=7") {
    // the SCALE.md round-14/15 claim, pinned: geometry is a
    // performance knob only — every exhaustive-by-pigeonhole choice,
    // including the operator's auto-sizing (blocks = keyBlocks = 0),
    // emits EXACTLY the same verified pair set at both measured
    // thresholds (h<=3: 4/1 vs 9/2; h<=7: 8/1 vs 9/2 vs auto=9/2)
    val ids = (0L until 600L).toSeq
    val imgs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticImageTable(_, "doc_id"))
    def pairs(blocks: Int, keyBlocks: Int, maxHamming: Int) =
      Multimodal.imageNearDupPairs(imgs, "media_id", "payload",
          blocks = blocks, maxHamming = maxHamming, keyBlocks = keyBlocks)
        .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
        .collect().toSet
    for (h <- Seq(3, 7)) {
      val wide = pairs(9, 2, h)
      assert(wide.nonEmpty)
      val alts = Seq(graft.llm.Dedup.autoGeometry(h), (h + 1, 1))
      for ((b, k) <- alts.distinct) {
        val alt = pairs(b, k, h)
        assert(alt == wide, s"h=$h blocks=$b keyBlocks=$k diverged: " +
          s"${alt.diff(wide).take(3)} vs ${wide.diff(alt).take(3)}")
      }
      // the zero-sentinel default routes through the same auto sizing
      assert(pairs(0, 0, h) == wide, s"auto default diverged at h=$h")
    }
  }

  test("sparse media fixture: minority partnered, modalities disjoint, exact recall") {
    import graft.functions.{AudioFingerprint, PerceptualHash}
    // 12 blocks of 100 ids: image-partnered blocks are phase 0 (0,4,8),
    // audio-partnered phase 2 (2,6,10) — disjoint by construction
    val ids = (0L until 1200L).toSeq
    val imgs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticImageTableSparse(_, "doc_id"))
    val wavs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticAudioTableSparse(_, "doc_id"))
    val gotImg = Multimodal.imageNearDupPairs(imgs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    val gotAud = Multimodal.audioNearDupPairs(wavs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    // exact recall vs driver-side brute force of the sparse kernels
    val iHash = ids.map(id =>
      id -> PerceptualHash.dhash64(Multimodal.syntheticBmpSparse(id))).toMap
    val aHash = ids.map(id =>
      id -> AudioFingerprint.fp64(Multimodal.syntheticPcmWavSparse(id))).toMap
    def brute(h: Map[Long, Long]) = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= 7
    } yield (a, b, d)).toSet
    assert(gotImg == brute(iHash))
    assert(gotAud == brute(aHash))
    // each modality's partnered ids are a strict minority, confined to
    // that modality's phase blocks, and the two modalities DISAGREE
    def touched(p: Set[(Long, Long, Int)]) = p.flatMap(t => Seq(t._1, t._2))
    val (ti, ta) = (touched(gotImg), touched(gotAud))
    assert(ti.nonEmpty && ta.nonEmpty)
    assert(ti.size <= ids.size / 3 && ta.size <= ids.size / 3,
      s"minority contract: img=${ti.size} aud=${ta.size} of ${ids.size}")
    assert(ti.forall(id => (id / 100) % 4 == Multimodal.SparseImagePhase))
    assert(ta.forall(id => (id / 100) % 4 == Multimodal.SparseAudioPhase))
    assert(ti.intersect(ta).isEmpty, "modalities must disagree")
    // sparse and dense fixtures AGREE on partnered blocks' payloads —
    // the sparse fixture only rewrites the singleton majority
    val inPhase = ids.filter(id => (id / 100) % 4 == 0)
    assert(inPhase.forall(id =>
      java.util.Arrays.equals(Multimodal.syntheticBmpSparse(id),
        Multimodal.syntheticBmp(id))))
  }

  test("wide kernels: hash128 == both narrow hashes from one decode; fpWide matches a reference") {
    import graft.functions.{AudioFingerprint, PerceptualHash}
    // image: the single-decode wide kernel must be bit-identical to
    // the two narrow kernels on BOTH decode paths (raw BMP and codec)
    val bmp = Multimodal.syntheticBmp(42L)
    val up = Multimodal.resizeBmpBytes(bmp, 72, 64).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
    def encode(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    for (payload <- Seq(bmp, up, encode("png"), encode("gif"))) {
      val wide = PerceptualHash.hash128(payload)
      assert(wide != null)
      assert(wide(0) == PerceptualHash.hash64(payload, true).longValue())
      assert(wide(1) == PerceptualHash.hash64(payload, false).longValue())
    }
    assert(PerceptualHash.hash128("junk".getBytes) == null)
    assert(PerceptualHash.hash128(null) == null)
    // audio: fpWide vs an INDEPENDENT recomputation from the synth
    // sample kernel (not the byte walk): 136 cells over 144 frames
    val id = 123L
    val wav = Multimodal.syntheticPcmWav(id)
    val e = Array.tabulate(136) { k =>
      val start = k * 144 / 136; val end = (k + 1) * 144 / 136
      (start until end).map { i =>
        val s = Multimodal.synthSample(id, i).toLong; s * s
      }.sum
    }
    var lo = 0L; var hi = 0L
    for (y <- 0 until 8; x <- 0 until 16)
      if (e(y * 17 + x) > e(y * 17 + x + 1)) {
        val idx = y * 16 + x
        if (idx < 64) lo |= 1L << idx else hi |= 1L << (idx - 64)
      }
    assert(AudioFingerprint.fpWide(wav).toSeq == Seq(lo, hi))
    // wide decode contract: a 100-frame clip 64-fingerprints but is
    // too short for the doubled grid (needs 136)
    val short = java.util.Arrays.copyOf(wav, 44 + 100 * 2)
    def putLe(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    putLe(short, 40, 200)
    assert(AudioFingerprint.fp64Boxed(short) != null)
    assert(AudioFingerprint.fpWideRow(short) == null)
    assert(AudioFingerprint.fpWideRow("junk".getBytes) == null)
  }

  test("wide image banding: brute force equality; pair set == 64-bit operator at the measured defaults") {
    import graft.functions.PerceptualHash
    val ids = (0L until 600L).toSeq
    val imgs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticImageTable(_, "doc_id"))
    val got = Multimodal.imageNearDupPairsWide(imgs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    // brute force over the driver-side wide hashes at the wide
    // contract (combined dHash+aHash Hamming <= 8)
    val hashes = ids.map(id =>
      id -> PerceptualHash.hash128(Multimodal.syntheticBmp(id))).toMap
    val want = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(hashes(a)(0) ^ hashes(b)(0)) +
        java.lang.Long.bitCount(hashes(a)(1) ^ hashes(b)(1)) if h <= 8
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture families must produce near-dup pairs")
    // the r17 operating-point claim (SCALE.md r22), end to end: the wide
    // contract at h<=8 emits EXACTLY the 64-bit h<=7 pair set on the
    // fixture (true pairs all within 8; closest non-pair at 27)
    val narrow = Multimodal.imageNearDupPairs(imgs, "media_id", "payload")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == narrow,
      "wide pair set diverged from the 64-bit operating point")
    // undecodable payloads drop out of the wide path too
    val withJunk = imgs.union(Seq((9999L, "not a bmp".getBytes))
      .toDF("media_id", "payload"))
    assert(Multimodal.imageNearDupPairsWide(withJunk, "media_id", "payload")
      .where($"id_a" === 9999L || $"id_b" === 9999L).count() == 0L)
    spark.catalog.clearCache()
  }

  test("wide image banding finds BMP/JPEG re-encode twins end to end") {
    // the r9 JPEG discipline applied to the wide contract: the r17
    // measurement (SCALE.md r22) put the re-encode twins at h128 = 0,
    // so every (bmp, jpeg) twin must surface through the single-decode
    // kernel + wide banding
    val ids = (0L until 80L).toSeq
    def jpegOf(id: Long): Array[Byte] = {
      val up = Multimodal.resizeBmpBytes(Multimodal.syntheticBmp(id), 72, 64).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.75f)
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose(); ios.close()
      out.toByteArray
    }
    val corpus =
      ids.map(id => (id, Multimodal.syntheticBmp(id))) ++
      ids.map(id => (id + 1000000L, jpegOf(id)))
    val pairs = Multimodal.imageNearDupPairsWide(
        corpus.toDF("media_id", "payload"), "media_id", "payload")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    ids.foreach { id =>
      assert(pairs.contains((id, id + 1000000L)),
        s"bmp/jpeg twin pair missing for id=$id")
    }
    spark.catalog.clearCache()
  }

  test("wide audio banding: brute force equality; pair set == family truth, strictly beyond 64-bit") {
    import graft.functions.AudioFingerprint
    val ids = (0L until 600L).toSeq
    val wavs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticAudioTable(_, "doc_id"))
    val got = Multimodal.audioNearDupPairsWide(wavs, "media_id", "payload")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    val hashes = ids.map(id =>
      id -> AudioFingerprint.fpWide(Multimodal.syntheticPcmWav(id))).toMap
    val want = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(hashes(a)(0) ^ hashes(b)(0)) +
        java.lang.Long.bitCount(hashes(a)(1) ^ hashes(b)(1)) if h <= 7
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture families must produce near-dup pairs")
    // the r17 family-truth claim (SCALE.md r22), end to end: at h<=7 over
    // the doubled grid the wide pair set IS the family-clique truth —
    // every same-family pair (max measured distance 7), zero
    // cross-family pairs (closest measured at 31)
    val famTruth = (for {
      a <- ids; b <- ids if a < b && a / 100 == b / 100
    } yield (a, b)).toSet
    val gotIds = got.map(p => (p._1, p._2))
    assert(gotIds == famTruth,
      s"wide pair set != family cliques: missed=${(famTruth -- gotIds).take(3)} " +
        s"extra=${(gotIds -- famTruth).take(3)}")
    // and it's a strict IMPROVEMENT on the 64-bit operator, not a
    // restatement: the coarse 72-cell grid pushes some family pairs
    // past h64=7 (51 of 29700 at these 600 ids), which the wide
    // contract recovers — narrow ⊊ wide, both free of cross-family
    // accidentals here
    val narrow = Multimodal.audioNearDupPairs(wavs, "media_id", "payload")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(narrow.subsetOf(gotIds) && narrow.size < gotIds.size,
      s"expected narrow (${narrow.size}) strictly inside wide (${gotIds.size})")
    spark.catalog.clearCache()
  }

  test("wide banding geometry: auto table, explicit equivalence, loud failures, capped sentinels") {
    import graft.llm.Dedup
    // the measured dispatch points of the two-word search (SCALE.md r22)
    assert(Dedup.autoGeometry(7, words = 2) == (9, 2))   // 36 keys of >=28 bits
    assert(Dedup.autoGeometry(8, words = 2) == (10, 2))  // 45 keys of >=24 bits
    assert(Dedup.autoGeometry(3, words = 2) == (4, 1))   // 4 keys of 32 bits
    // the whole two-word table over its satisfiable range
    val expect = Map(0 -> (2, 1), 1 -> (2, 1), 2 -> (3, 1), 3 -> (4, 1),
      4 -> (5, 1), 5 -> (7, 2), 6 -> (8, 2), 7 -> (9, 2), 8 -> (10, 2),
      9 -> (12, 3), 10 -> (13, 3), 11 -> (14, 3), 12 -> (15, 3),
      13 -> (16, 3), 14 -> (18, 4), 15 -> (19, 4))
    expect.foreach { case (h, g) =>
      assert(Dedup.autoGeometry(h, words = 2) == g,
        s"h=$h: got ${Dedup.autoGeometry(h, words = 2)}, want $g")
    }
    // every auto choice satisfies pigeonhole, the 24-bit floor, the
    // combo cap, and the one-Long key constraint
    (0 to 12).foreach { h =>
      val (b, k) = Dedup.autoGeometry(h, words = 2)
      assert(k >= 1 && k <= b - h, s"pigeonhole violated at h=$h: ($b,$k)")
      assert(k * (128 / b) >= 24, s"key-width floor violated at h=$h: ($b,$k)")
      assert((0 until b).combinations(k).size <= Dedup.ComboCap,
        s"combination cap violated at h=$h: ($b,$k)")
      assert(k * (128 / b + (if (128 % b == 0) 0 else 1)) <= 64,
        s"one-Long key constraint violated at h=$h: ($b,$k)")
    }
    // past the feasible range the failure is loud
    intercept[IllegalArgumentException] { Dedup.autoGeometry(16, words = 2) }
    // half-specified geometry is rejected like the 64-bit path
    intercept[IllegalArgumentException] {
      Dedup.hammingCandidatesFromFp(
        Seq((1L, 1L, 1L)).toDF("id", "lo", "hi"), blocks = 10,
        maxHamming = 8, keyBlocks = 0)
    }
    // a key that cannot fit one Long is rejected loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingCandidatesFromFp(
        Seq((1L, 1L, 1L)).toDF("id", "lo", "hi"), blocks = 3,
        maxHamming = 1, keyBlocks = 2)
    }
    assert(e.getMessage.contains("fit one Long"), e.getMessage)
    // no key-bit floor is measured past two words: a third is rejected
    intercept[IllegalArgumentException] {
      Dedup.hammingCandidatesFromFp(
        Seq((1L, 1L, 1L, 1L)).toDF("id", "lo", "mid", "hi"), blocks = 0,
        maxHamming = 8, keyBlocks = 0)
    }
    // geometry is a performance knob only: every exhaustive choice
    // emits the same verified pair set
    val ids = (0L until 400L).toSeq
    val imgs = ids.toDF("doc_id")
      .transform(Multimodal.syntheticImageTable(_, "doc_id"))
    def pairs(blocks: Int, keyBlocks: Int) =
      Multimodal.imageNearDupPairsWide(imgs, "media_id", "payload",
          blocks = blocks, maxHamming = 8, keyBlocks = keyBlocks)
        .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
        .collect().toSet
    val auto = pairs(0, 0)
    assert(auto.nonEmpty)
    assert(pairs(10, 2) == auto, "explicit (10,2) diverged from auto")
    assert(pairs(9, 1) == auto, "explicit (9,1) diverged")
    assert(pairs(12, 2) == auto, "explicit (12,2) diverged")
    // capped path: 4 identical images, cap 3 — pairs among the 3
    // lowest ids once each plus one loud sentinel per over-cap
    // bucket, with the two-word bucket keys of comboKeyExprs exactly
    val media = Seq(1L, 2L, 3L, 4L)
      .map(id => (id, Multimodal.syntheticBmp(7L)))
      .toDF("media_id", "payload")
    val rows = Multimodal.imageNearDupPairsWide(media, "media_id",
        "payload", maxBucketSize = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val (sentinels, capped) = rows.partition(_._1 < 0)
    assert(capped.toSet == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)) &&
      capped.size == 3, s"pairs=$capped")
    assert(sentinels.size == 45 &&
      sentinels.forall(r => r._1 == -1L && r._3 == -1),
      s"sentinels=${sentinels.size}: ${sentinels.take(5)}")
    val h128 = media.limit(1).select(
      graft.functions.PerceptualHash.d_a_hash($"payload").as("h"))
      .select($"h.dh".as("lo"), $"h.ah".as("hi"))
    val expectedKeys = h128.select(posexplode(array(
        Dedup.comboKeyExprs(Seq($"lo", $"hi"), 10, 2): _*)).as(Seq("c", "k")))
      .select($"k").as[Long].collect().toSeq.sorted
    assert(sentinels.map(_._2).sorted == expectedKeys,
      "sentinel bucket keys diverged from comboKeyExprs")
    spark.catalog.clearCache()
  }

  test("pair entry points reject a bad geometry before any job or cache") {
    import graft.llm.Dedup
    val sc = spark.sparkContext
    val media = Seq(1L, 2L).map(id => (id, Multimodal.syntheticBmp(id)))
      .toDF("media_id", "payload")
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // h<=7 over 9 blocks leaves 2 clean blocks, so 3 key blocks break
    // pigeonhole; simhash's 9 bands do not divide 64
    val calls = Seq[(String, () => Any)](
      "imageNearDupPairs" -> (() => Multimodal.imageNearDupPairs(media,
        "media_id", "payload", blocks = 9, maxHamming = 7, keyBlocks = 3)),
      "imageNearDupPairsWide" -> (() => Multimodal.imageNearDupPairsWide(
        media, "media_id", "payload", blocks = 9, maxHamming = 7,
        keyBlocks = 3)),
      "audioNearDupPairs" -> (() => Multimodal.audioNearDupPairs(media,
        "media_id", "payload", blocks = 9, maxHamming = 7, keyBlocks = 3)),
      "audioNearDupPairsWide" -> (() => Multimodal.audioNearDupPairsWide(
        media, "media_id", "payload", blocks = 9, maxHamming = 7,
        keyBlocks = 3)),
      "simhashCandidates" -> (() => Dedup.simhashCandidates(docs, "doc_id",
        "text", bands = 9, maxHamming = 7)))
    val faults = calls.flatMap { case (name, call) =>
      spark.catalog.clearCache()
      GraftTestBridge.drain(sc)
      val jobs = new AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      sc.addSparkListener(l)
      try {
        intercept[IllegalArgumentException] { call() }
        GraftTestBridge.drain(sc)
      } finally sc.removeSparkListener(l)
      Seq(s"$name ran ${jobs.get} job(s)" -> (jobs.get != 0),
        s"$name left a cached block" ->
          !spark.sharedState.cacheManager.isEmpty)
        .collect { case (fault, true) => fault }
    }
    spark.catalog.clearCache()
    assert(faults.isEmpty, faults.mkString("; "))
  }
}
