package graft

import graft.core.Tables
import graft.functions.{DmsToDecimalDegrees, RollingHash64, SimHash64, VectorKernels}
import graft.llm.{Dedup, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every custom Catalyst expression must produce identical results under
  * generated code and interpreted evaluation (factoryMode NO_CODEGEN +
  * whole-stage off) — the contract that makes `doGenCode` trustworthy.
  */
class CodegenParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def runAll(): (Seq[(Long, Long)], Seq[(Long, Double)],
      Seq[(Long, Double, Double, Long)], Seq[(Long, Seq[Long])]) = {
    val docs = Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 50)
    val sim = docs.select($"doc_id",
        SimHash64.simhash64(TextStats.tokens($"text"))
          .bitwiseXOR(RollingHash64.rollingHash64(TextStats.tokens($"text")))
          .as("h"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val dms = spark.range(20).select($"id",
        DmsToDecimalDegrees.dmsToDecimalDegrees(
          lit(541234567L) + $"id" * 997L).as("d"))
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val emb = Tables.embeddings(spark, SparkTestBase.sf).where($"vec_id" < 20)
      .select($"vec_id", $"embedding",
        transform($"embedding", x => round(x * 1000).cast("long")).as("qv"))
    val vec = emb.select($"vec_id",
        VectorKernels.float_dot($"embedding", $"embedding").as("fd"),
        VectorKernels.float_cosine($"embedding", $"embedding").as("fc"),
        VectorKernels.long_dot($"qv", $"qv").as("ld"))
      .as[(Long, Double, Double, Long)].collect().toSeq.sortBy(_._1)
    // MinHash band hashes, with null and empty shingle sets mixed in
    val mh = docs.select($"doc_id", Dedup.bandHashes(
        when($"doc_id" % 10 === 3, lit(null).cast("array<string>"))
          .when($"doc_id" % 10 === 4, typedLit(Seq.empty[String]))
          .otherwise(Dedup.shingles($"text", 2))).as("bands"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    (sim, dms, vec, mh)
  }

  // deterministic planes: 3 bands x 4 bits over dim 64
  private val parityPlanes: Array[Long] = {
    val rnd = new java.util.Random(99L)
    Array.fill(3 * 4 * 64)(math.round(rnd.nextGaussian() * 1000.0))
  }

  private def runSignBands(): Seq[(Long, Seq[Int])] = {
    val emb = Tables.embeddings(spark, SparkTestBase.sf).where($"vec_id" < 20)
      .select($"vec_id",
        transform($"embedding", x => round(x * 1000).cast("long")).as("qv"))
    emb.select($"vec_id",
        VectorKernels.sign_bands($"qv", parityPlanes, 3, 4, 64).as("sigs"))
      .as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
  }

  test("SignBandSignatures: codegen == interpreted == per-plane long_dot signs") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runSignBands())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runSignBands())
    assert(generated == interpreted)
    assert(generated.nonEmpty)
    // semantic ground truth: bit k of band b is sign(qv · plane[b*4+k]),
    // recomputed through the independently-tested long_dot kernel
    val viaDots = {
      val emb = Tables.embeddings(spark, SparkTestBase.sf).where($"vec_id" < 20)
        .select($"vec_id",
          transform($"embedding", x => round(x * 1000).cast("long")).as("qv"))
      val sigCols = (0 until 3).map { b =>
        (0 until 4).map { k =>
          val plane = typedLit(parityPlanes.slice((b * 4 + k) * 64, (b * 4 + k + 1) * 64).toSeq)
          when(VectorKernels.long_dot($"qv", plane) >= 0, lit(1 << k)).otherwise(lit(0))
        }.reduce(_ + _)
      }
      emb.select($"vec_id", array(sigCols: _*).as("sigs"))
        .as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
    }
    assert(generated == viaDots)
  }

  // deterministic unit-norm centroids: 5 centroids over dim 64
  private val parityCents: Array[Float] = {
    val rnd = new java.util.Random(101L)
    Array.fill(5)(Array.fill(64)(rnd.nextGaussian())).flatMap { cv =>
      val norm = math.sqrt(cv.map(x => x * x).sum)
      cv.map(x => (x / norm).toFloat)
    }
  }

  private def runNearestCentroid(): Seq[(Long, Int)] =
    Tables.embeddings(spark, SparkTestBase.sf).where($"vec_id" < 20)
      .select($"vec_id",
        VectorKernels.nearest_centroid($"embedding", parityCents, 5, 64).as("cid"))
      .as[(Long, Int)].collect().toSeq.sortBy(_._1)

  test("NearestCentroid: codegen == interpreted == per-centroid float_dot argmax") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runNearestCentroid())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runNearestCentroid())
    assert(generated == interpreted)
    assert(generated.nonEmpty)
    assert(generated.map(_._2).distinct.size > 1,
      "fixture should spread across centroids")
    // ground truth: argmax of per-centroid float_dot columns (strict >,
    // so ties break to the lowest cid — the kernel's contract)
    val viaDots = Tables.embeddings(spark, SparkTestBase.sf)
      .where($"vec_id" < 20)
      .select($"vec_id", array((0 until 5).map { c =>
        VectorKernels.float_dot($"embedding",
          typedLit(parityCents.slice(c * 64, (c + 1) * 64).toSeq))
      }: _*).as("dots"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      .map { case (id, dots) => (id, dots.indexOf(dots.max)) }
    assert(generated == viaDots)
  }

  private val parityRegions = Seq(
    "donut" -> "POLYGON ((54.0 24.0, 55.0 24.0, 55.0 25.0, 54.0 25.0, 54.0 24.0), (54.3 24.3, 54.7 24.3, 54.7 24.7, 54.3 24.7, 54.3 24.3))",
    "isles" -> "MULTIPOLYGON (((52.0 23.0, 53.0 23.0, 53.0 23.5, 52.0 23.5, 52.0 23.0)), ((55.5 24.5, 56.0 24.5, 56.0 25.0, 55.5 25.0, 55.5 24.5)))",
    "tri"   -> "POLYGON ((53.0 24.0, 54.0 24.2, 53.5 25.0, 53.0 24.0))")

  private def runPointRegion(): Seq[(Long, String)] =
    Tables.customer(spark, SparkTestBase.sf).where($"c_custkey" < 400)
      .select($"c_custkey",
        (lit(52.0) + ($"c_custkey" % 41) * 0.1).as("lon"),
        (lit(23.0) + ($"c_custkey" % 21) * 0.1).as("lat"))
      .transform(graft.ops.Geo.assignRegion(_, "lon", "lat", parityRegions))
      .select($"c_custkey", $"region_id")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)

  test("PointRegionIndex: codegen == interpreted == boxed-UDF twin") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runPointRegion())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runPointRegion())
    assert(generated == interpreted)
    assert(generated.nonEmpty)
    // spread across regions AND the hole/no-match null branch
    val byRegion = generated.groupBy(_._2)
    assert(Seq("donut", "isles", "tri", null).forall(byRegion.contains),
      s"fixture must hit every region + null, got ${byRegion.keySet}")
    // the boxed-UDF twin (same rings, collectFirst) decides identically
    val viaUdf = Tables.customer(spark, SparkTestBase.sf)
      .where($"c_custkey" < 400)
      .select($"c_custkey",
        (lit(52.0) + ($"c_custkey" % 41) * 0.1).as("lon"),
        (lit(23.0) + ($"c_custkey" % 21) * 0.1).as("lat"))
      .transform(graft.ops.Geo.assignRegionUdf(_, "lon", "lat", parityRegions))
      .select($"c_custkey", $"region_id")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(generated == viaUdf)
  }

  private def runBmpHashes(): Seq[(Long, Option[Long], Option[Long])] =
    Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 120)
      .select($"doc_id")
      .transform(graft.llm.Multimodal.syntheticImageTable(_, "doc_id"))
      // one junk payload exercises the null branch under both modes
      .union(Seq((999999L, "jpeg-shaped junk".getBytes))
        .toDF("media_id", "payload"))
      .select($"media_id",
        graft.functions.PerceptualHash.d_hash($"payload").as("dh"),
        graft.functions.PerceptualHash.a_hash($"payload").as("ah"))
      .as[(Long, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)

  test("BmpHash64 (dHash/aHash): codegen == interpreted, incl. null branch") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runBmpHashes())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runBmpHashes())
    assert(generated == interpreted)
    assert(generated.nonEmpty)
    assert(generated.find(_._1 == 999999L).exists(r =>
      r._2.isEmpty && r._3.isEmpty), "junk payload must hash to NULL")
    // and both agree with the driver-side kernels
    generated.filter(_._1 < 120).foreach { case (id, dh, ah) =>
      val b = graft.llm.Multimodal.syntheticBmp(id)
      assert(dh.contains(graft.functions.PerceptualHash.dhash64(b)))
      assert(ah.contains(graft.functions.PerceptualHash.ahash64(b)))
    }
  }

  private def runAudioFps(): Seq[(Long, Option[Long])] =
    Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 120)
      .select($"doc_id")
      .transform(graft.llm.Multimodal.syntheticAudioTable(_, "doc_id"))
      // junk + a too-short WAV exercise both null branches
      .union(Seq(
          (999998L, "RIFF-shaped junk".getBytes),
          (999999L, graft.llm.Multimodal.syntheticPcmWav(1L).take(80)))
        .toDF("media_id", "payload"))
      .select($"media_id",
        graft.functions.AudioFingerprint.audio_fp($"payload").as("fp"))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)

  test("WavFp64 (acoustic fingerprint): codegen == interpreted, incl. null branch") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runAudioFps())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runAudioFps())
    assert(generated == interpreted)
    assert(generated.count(_._2.isDefined) == 120)
    assert(generated.filter(_._1 >= 999998L).forall(_._2.isEmpty),
      "junk/truncated payloads must fingerprint to NULL")
    generated.filter(_._1 < 120).foreach { case (id, fp) =>
      assert(fp.contains(graft.functions.AudioFingerprint.fp64(
        graft.llm.Multimodal.syntheticPcmWav(id))))
    }
  }

  private def runHammingTouched(): Seq[(Long, Seq[Long])] = {
    import graft.functions.HammingKernels.hamming_touched_ids
    val fps = Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 120)
      .select($"doc_id".as("id"),
        graft.functions.SimHash64.simhash64(
          graft.llm.TextStats.tokens($"text")).as("sh"))
    val arr = fps
      .agg(sort_array(collect_list(struct($"id", $"sh"))).as("bp"))
      .select(transform($"bp", x => x("id")).as("ids"),
        transform($"bp", x => x("sh")).as("shs"))
    fps.crossJoin(broadcast(arr))
      .select($"id",
        sort_array(hamming_touched_ids($"sh", $"ids", $"shs", 7)).as("touched"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
  }

  test("HammingTouchedIds: codegen == interpreted == driver popcount loop") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runHammingTouched())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runHammingTouched())
    assert(generated == interpreted)
    // every row touches at least itself (distance 0)
    assert(generated.forall { case (id, touched) => touched.contains(id) })
    // agree with a driver-side recomputation
    val fps = Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 120)
      .select($"doc_id", graft.functions.SimHash64.simhash64(
        graft.llm.TextStats.tokens($"text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    generated.foreach { case (id, touched) =>
      val want = fps.filter { case (_, sh) =>
        java.lang.Long.bitCount(sh ^ fps(id)) <= 7
      }.keys.toSeq.sorted
      assert(touched == want, s"doc $id: $touched != $want")
    }
  }

  private def runQualityScores(): Seq[(Long, Seq[Long])] =
    Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 120)
      .select($"doc_id", graft.functions.QualityScore64.quality_score(
        graft.llm.Bpe.alnumTokens($"text")).as("qs"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)

  test("QualityScoreExpr: codegen == interpreted") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runQualityScores())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runQualityScores())
    assert(generated == interpreted)
    assert(generated.nonEmpty && generated.forall(_._2.size == 2))
    // both weight signs appear across the fixture (the scorer carries
    // signal, not a constant)
    assert(generated.exists(_._2.head > 0) && generated.exists(_._2.head < 0))
  }

  private def runPolyHash(): Seq[(Long, Option[Long])] =
    Tables.documents(spark, SparkTestBase.sf)
      .select($"doc_id",
        graft.functions.PolyHash31.poly_hash31($"text").as("h"))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)

  test("PolyHash31: codegen == interpreted == HOF char-fold; edge cases") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runPolyHash())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runPolyHash())
    assert(generated == interpreted)
    // the kernel IS the oracle-replayable HOF chain, element for element
    val viaHof = Tables.documents(spark, SparkTestBase.sf)
      .select($"doc_id", aggregate(
        when($"text".isNull, lit(null).cast("array<long>"))
          .when(length($"text") > 0,
            transform(sequence(lit(1), length($"text")),
              i => ascii($"text".substr(i, lit(1))).cast("long")))
          .otherwise(array().cast("array<long>")),
        lit(7L), (acc, c) => (acc * 31L + c) % 2147483647L).as("h"))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(generated == viaHof)
    // edges: empty string folds to the seed, NULL stays NULL
    val edge = Seq(Some(""), None, Some("a")).toDF("s")
      .select(graft.functions.PolyHash31.poly_hash31($"s"))
      .collect().toSeq
    assert(edge(0).getLong(0) == 7L)
    assert(edge(1).isNullAt(0))
    assert(edge(2).getLong(0) == 7L * 31 + 'a'.toLong)
  }

  private def runNgramHashes(): Seq[(Long, Seq[Long])] =
    Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 30)
      .select($"doc_id", graft.functions.NgramHashes.ngram_hashes(
        filter(split(lower(trim($"text")), "\\s+"), w => length(w) > 0), 3)
        .as("hs"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)

  test("NgramHashes: codegen == interpreted; equality structure == string grams") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runNgramHashes())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runNgramHashes())
    assert(generated == interpreted)
    assert(generated.nonEmpty && generated.exists(_._2.nonEmpty))
    // two windows collide in the kernel iff their gram STRINGS match:
    // group positions by kernel hash and by gram text — same classes
    val strGrams = Tables.documents(spark, SparkTestBase.sf)
      .where($"doc_id" < 30)
      .select($"doc_id", graft.llm.Spans.positionalNgrams($"text", 3).as("gs"))
      .as[(Long, Seq[String])].collect().toSeq.sortBy(_._1)
    val byHash = generated.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, i) => (id, i) -> h } }.toMap
    val byStr = strGrams.flatMap { case (id, gs) =>
      gs.zipWithIndex.map { case (g, i) => (id, i) -> g } }.toMap
    assert(byHash.keySet == byStr.keySet)
    byHash.keySet.foreach { a =>
      byHash.keySet.foreach { b =>
        assert((byHash(a) == byHash(b)) == (byStr(a) == byStr(b)),
          s"equality structure diverges at $a vs $b")
      }
    }
  }

  private def runTextKernels(): (Seq[(Long, Seq[Long])], Seq[(Long, Seq[Long])], Seq[(Long, Seq[Long])]) = {
    import graft.functions.{RepetitionStats64, TextStats64, TrigramCounts}
    val d = Tables.documents(spark, SparkTestBase.sf).where($"doc_id" < 40)
    val toks = filter(split(lower(trim($"text")), "\\s+"), w => length(w) > 0)
    val ts = d.select($"doc_id", TextStats64.text_stats($"text").as("a"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val tc = d.select($"doc_id", TrigramCounts.trigram_counts($"text",
        graft.llm.TextStats.profileTrigrams).as("a"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val rs = d.select($"doc_id", RepetitionStats64.repetition_stats(toks).as("a"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    (ts, tc, rs)
  }

  test("TextStats64 / TrigramCounts / RepetitionStats64: codegen == interpreted") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runTextKernels())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runTextKernels())
    assert(generated == interpreted)
    assert(generated._1.nonEmpty && generated._1.exists(_._2.exists(_ > 0)))
  }

  /** Adversarial strings aimed at every backtracking corner the fused
    * scanner claims to reproduce (see ScrubStats's equivalence
    * argument): greedy-domain backtracks, punctuation-tail URLs,
    * octet lengths and word boundaries, digit-run subsets, stage
    * interactions (URL absorbing an IP; email inside a URL). */
  private val scrubEdgeStrings = Seq(
    "plain text no pii at all",
    "a@b.co", "a@.co", "a@@b.co", "x a@b.cd.e-f.gh y", "a@b.cd.e1 tail",
    "user.name+tag%x@sub.domain-x.example.org.",
    "-@a.bc", "..@..ab", "a@b.c", "a@b.cde@f.gh",
    "http://", "http://...", "http://x", "https://example.org/p.",
    "see https://en.wikipedia.org/wiki/Foo_(bar) end",
    "httpss://x http://a@b.com tail", "HTTP://nope http://ok?q=1!",
    "http://a http://b", "pre.http://tail.x.",
    "1.2.3.4", "1234.1.2.3.4", "1.2.3.4.5", "1.2.3.4a", "a1.2.3.4",
    "x 10.0.0.1, y", "256.256.256.256", "1.2.3.4567", "_1.2.3.4 1.2.3.4_",
    "+12345678901", "12345678", "123456789", "123+45678901",
    "12-34567", "--123456789--", "050-1234567 now",
    "+1-800-555-0199 and 123456789012345678 twice?",
    "a@b.co http://1.2.3.4/x 1.2.3.4 +123456789 done",
    "contact a@b.co or http://c.de/f?g=+123456789 else 9.9.9.9",
    "", " ", "+", "++123456789", "émé@b.co café 1.2.3.4",
    "😀 a@b.co 😀 http://x😀y end")

  private def runScrub(): Seq[(Long, String, Long, Long, Long, Long)] = {
    val corpus = Tables.documents(spark, SparkTestBase.sf)
      .where($"doc_id" < 60)
      .select($"doc_id", concat($"text",
        lit(" u"), $"doc_id", lit("@ex.org http://h/"), $"doc_id",
        lit(". 10.1."), ($"doc_id" % 256).cast("string"),
        lit(".9 +0501234"), $"doc_id").as("t"))
      .union(scrubEdgeStrings.zipWithIndex
        .map { case (s, i) => (1000L + i, s) }.toDF("doc_id", "t"))
    graft.llm.Scrub.scrubWithCountsFused(corpus, "t")
      .select($"doc_id", $"scrubbed_t", $"n_email".cast("long"),
        $"n_url".cast("long"), $"n_ip".cast("long"), $"n_phone".cast("long"))
      .as[(Long, String, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
  }

  test("ScrubStats: codegen == interpreted == 8-pass regex twin, corpus + adversarial edges") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runScrub())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runScrub())
    assert(generated == interpreted)
    assert(generated.nonEmpty)
    // the regex twin (which the DuckDB oracle replays) decides identically,
    // computed driver-side straight through java.util.regex so the
    // comparison does not share one line of scanner code
    val sources: Map[Long, String] = Tables.documents(spark, SparkTestBase.sf)
      .where($"doc_id" < 60)
      .select($"doc_id", concat($"text",
        lit(" u"), $"doc_id", lit("@ex.org http://h/"), $"doc_id",
        lit(". 10.1."), ($"doc_id" % 256).cast("string"),
        lit(".9 +0501234"), $"doc_id").as("t"))
      .as[(Long, String)].collect().toMap ++
      scrubEdgeStrings.zipWithIndex.map { case (s, i) => (1000L + i, s) }
    generated.foreach { case (id, scrubbed, ne, nu, ni, np) =>
      val src = sources(id)
      var t = src
      val counts = graft.llm.Scrub.patterns.map { case (_, p, r) =>
        val m = java.util.regex.Pattern.compile(p).matcher(t)
        var n = 0L
        val sb = new java.lang.StringBuffer
        while (m.find()) { n += 1; m.appendReplacement(sb,
          java.util.regex.Matcher.quoteReplacement(r)) }
        m.appendTail(sb)
        t = sb.toString
        n
      }
      assert(t == scrubbed, s"scrubbed text diverges on doc $id: [$src]")
      assert(Seq(ne, nu, ni, np) == counts,
        s"counts diverge on doc $id: [$src] kernel=(${Seq(ne, nu, ni, np)}) regex=($counts)")
    }
    // the fixture actually exercises all four patterns
    assert(generated.exists(_._3 > 0) && generated.exists(_._4 > 0) &&
      generated.exists(_._5 > 0) && generated.exists(_._6 > 0))
  }

  /** The one deliberate dialect split (ScrubStats scaladoc, IP
    * bullet): `\b` is ASCII in RE2 (the DuckDB oracle engine — a
    * multibyte UTF-8 unit is never a word byte) but Unicode-aware in
    * Java even without UNICODE_CHARACTER_CLASS. The fused kernel
    * follows RE2 — i.e. the engine the q83 oracle replays — so an IP
    * abutting a non-ASCII letter/digit IS redacted by the kernel and
    * is NOT by the java.util.regex twin. Pin BOTH directions so a
    * change to either semantics is loud. */
  test("ScrubStats: \\b dialect — fused follows RE2 ASCII word boundary, Java \\b diverges on Unicode adjacency") {
    val ipPat = java.util.regex.Pattern.compile(
      graft.llm.Scrub.patterns.find(_._1 == "ip").get._2)
    val divergent = Seq("café1.2.3.4", "1.2.3.4µ", "ип1.2.3.4", "1.2.3.4é")
    val agree = Seq("café 1.2.3.4", "x1.2.3.4", "1.2.3.4_", "(1.2.3.4)")
    val fused = graft.llm.Scrub.scrubWithCountsFused(
        (divergent ++ agree).zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "t"), "t")
      .select($"doc_id", $"scrubbed_t", $"n_ip".cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    divergent.zipWithIndex.foreach { case (s, i) =>
      assert(!ipPat.matcher(s).find(), s"Java \\b unexpectedly matched [$s]")
      val (_, scrubbed, nIp) = fused(i)
      assert(nIp == 1L && scrubbed.contains("<IP>") && !scrubbed.contains("1.2.3.4"),
        s"fused kernel must follow RE2 ASCII \\b on [$s], got [$scrubbed]")
    }
    agree.zipWithIndex.foreach { case (s, i) =>
      val (_, scrubbed, nIp) = fused(divergent.length + i)
      val javaMatches = ipPat.matcher(s).find()
      assert((nIp > 0L) == javaMatches,
        s"dialects must agree on ASCII neighborhood [$s]: fused=$nIp java=$javaMatches")
      if (javaMatches) assert(scrubbed.contains("<IP>"))
    }
  }

  test("SimHash64 / DmsToDecimalDegrees / vector kernels: codegen == interpreted") {
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runAll())
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(runAll())
    assert(generated == interpreted)
    assert(generated._1.nonEmpty && generated._2.nonEmpty && generated._3.nonEmpty)
    assert(generated._4.count(_._2 == null) == generated._4.count(_._1 % 10 == 3) +
      generated._4.count(_._1 % 10 == 4))
    assert(generated._4.exists(r => r._2 != null && r._2.size == 16))
  }
}
