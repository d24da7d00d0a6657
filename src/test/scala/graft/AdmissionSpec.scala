package graft

import java.nio.file.{Files, Path}

import graft.core.Tables
import graft.llm.{Admission, Dedup, Multimodal, TextStats}
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The admission service's per-arrival structure (one batch
  * materialization, a fixed number of SQL executions), the one-shot
  * audit's single batch cache, the media geometry check before any
  * job, its band-index appends against the batch banding, its
  * repeated-id rejection, and `compactStore` under a file system whose
  * final rename fails. */
class AdmissionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, SparkTestBase.sf)

  private def withTempDir[T](prefix: String)(f: Path => T): T = {
    val root = Files.createTempDirectory(prefix)
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  private def withMedia(df: DataFrame): DataFrame = {
    val imgs = Multimodal.syntheticImageTableSparse(df.select($"doc_id"), "doc_id")
      .select($"media_id".as("__iid"), $"payload".as("img"))
    val wavs = Multimodal.syntheticAudioTableSparse(df.select($"doc_id"), "doc_id")
      .select($"media_id".as("__aid"), $"payload".as("wav"))
    df.select($"doc_id", $"text")
      .join(imgs, $"doc_id" === $"__iid").drop("__iid")
      .join(wavs, $"doc_id" === $"__aid").drop("__aid")
  }

  /** Seed the three text stores (and, with media, the two media
    * stores) from `corpus` under `root`; returns the store dirs. */
  private def seed(root: Path, corpus: DataFrame,
                   media: Boolean): Map[String, String] = {
    val dirs = Seq("seen", "index", "fps", "imgfp", "audfp", "audit")
      .map(n => n -> root.resolve(n).toString).toMap
    corpus.select($"doc_id", $"text").write.parquet(s"${dirs("seen")}/mb_init")
    Dedup.minhashBandIndex(corpus, "doc_id", "text")
      .write.parquet(s"${dirs("index")}/mb_init")
    corpus.select(TextStats.fingerprint($"text").as("fp"))
      .write.parquet(s"${dirs("fps")}/mb_init")
    if (media) {
      corpus.select($"doc_id".cast("long").as("id"),
          graft.functions.PerceptualHash.d_hash($"img").as("sh"))
        .where($"sh".isNotNull).write.parquet(s"${dirs("imgfp")}/mb_init")
      corpus.select($"doc_id".cast("long").as("id"),
          graft.functions.AudioFingerprint.audio_fp($"wav").as("sh"))
        .where($"sh".isNotNull).write.parquet(s"${dirs("audfp")}/mb_init")
    }
    dirs
  }

  /** What one call launched: SQL executions, and the cached RDDs it
    * materialized (ids → RDD name, which carries the cached plan). */
  private def observe(f: => Unit): (Int, Map[Int, String]) = {
    val sc = spark.sparkContext
    GraftTestBridge.drain(sc)
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val cached = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid)
          cached.add(b.blockId.asRDDId.get.rddId)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => names.put(r.id, r.name))
    }
    sc.addSparkListener(l)
    try {
      f
      GraftTestBridge.drain(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (execs.get(), cached.asScala.map(id => id -> names.getOrDefault(id, "")).toMap)
  }

  test("one arrival materializes its batch once: SQL executions per arrival are pinned") {
    val full = withMedia(docs)
    val corpus = full.where($"doc_id" % 10 =!= 7)
    withTempDir("graft_adm_shape") { root =>
      // the batch lands as parquet, as a stream source would deliver it
      full.where($"doc_id" % 10 === 7).write.parquet(s"$root/landed")
      val batch = spark.read.parquet(s"$root/landed")
      val mm = seed(root.resolve("mm"), corpus, media = true)
      val (mmExecs, mmCached) = observe {
        Admission.processMultimodalMicroBatch(batch, 0L, "doc_id", "text",
          "img", "wav", mm("seen"), mm("index"), mm("fps"), mm("imgfp"),
          mm("audfp"), mm("audit"))
      }
      val tx = seed(root.resolve("tx"), corpus, media = false)
      val (txExecs, txCached) = observe {
        Admission.processMicroBatch(batch.select($"doc_id", $"text"), 0L,
          "doc_id", "text", tx("seen"), tx("index"), tx("fps"), tx("audit"))
      }
      // the arrival frame is the one cache that holds every per-row
      // artifact; the other two are the probe's fan-out barriers over
      // store-sized candidates (cand: 3 consumers, oldSh: 2)
      def frames(cached: Map[Int, String], cols: Seq[String]) =
        cached.values.count { n =>
          val root = n.linesIterator.next()
          cols.forall(root.contains)
        }
      val text = Seq("gate_pass", "fp", "__sh", "__bands")
      assert(mmCached.size == 3, s"multimodal caches: ${mmCached.values}")
      assert(frames(mmCached, text ++ Seq("__img", "__aud")) == 1)
      assert(mmCached.values.exists(_.contains("new_a")))
      assert(txCached.size == 3, s"text-only caches: ${txCached.values}")
      assert(frames(txCached, text) == 1)
      // one materialization + cand + oldSh + the audit write + the
      // appends (five multimodal, three text-only)
      assert(mmExecs == 9, s"multimodal arrival ran $mmExecs SQL executions")
      assert(txExecs == 7, s"text-only arrival ran $txExecs SQL executions")
    }
  }

  /** q103's fingerprint frames: `(id, sh)` from one modality's
    * synthetic payload table over `ids`, null fingerprints dropped. */
  private def q103Fp(ids: DataFrame, table: (DataFrame, String) => DataFrame,
                     kernel: Column => Column): DataFrame =
    table(ids.select($"doc_id"), "doc_id")
      .select($"media_id".cast("long").as("id"), kernel($"payload").as("sh"))
      .where($"sh".isNotNull)

  private def imageFp(ids: DataFrame) = q103Fp(ids,
    Multimodal.syntheticImageTable, graft.functions.PerceptualHash.d_hash)
  private def audioFp(ids: DataFrame) = q103Fp(ids,
    Multimodal.syntheticAudioTable, graft.functions.AudioFingerprint.audio_fp)

  test("a one-shot audit with caller fingerprints caches one batch-sized frame") {
    // q103's shape: text legs over the documents, each modality's
    // fingerprints computed from its payload table, per side
    val d = docs.select($"doc_id", $"text")
    val batch = d.where($"doc_id" % 10 === 7)
    val corpus = d.where($"doc_id" % 10 =!= 7)
    val nBatch = batch.count()
    spark.catalog.clearCache()
    val (_, cached) = observe {
      Admission.auditMultimodalWithFps(corpus, batch, "doc_id", "text",
          Dedup.minhashBandIndex(corpus, "doc_id", "text"),
          corpus.select(TextStats.fingerprint($"text").as("fp")),
          imageFp(corpus), audioFp(corpus), imageFp(batch), audioFp(batch))
        .collect()
    }
    // rows per cache the call materialized
    val rows = cached.keys.toSeq.map { id =>
      spark.sparkContext.getPersistentRDDs(id)
        .asInstanceOf[org.apache.spark.rdd.RDD[CachedBatch]]
        .map(_.numRows.toLong).sum().toLong
    }
    spark.catalog.clearCache()
    assert(nBatch > 0 && rows.count(_ == nBatch) == 1,
      s"caches holding $nBatch batch rows: rows per cache = $rows")
  }

  test("multimodal audits reject a bad media geometry before any job or cache") {
    val full = withMedia(docs)
    val corpus = full.where($"doc_id" % 10 =!= 7)
    val batch = full.where($"doc_id" % 10 === 7)
    val sc = spark.sparkContext
    withTempDir("graft_adm_geometry") { root =>
      val mm = seed(root, corpus, media = true)
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      val fps = corpus.select(TextStats.fingerprint($"text").as("fp"))
      // h = 13 fits no one-word geometry under the combination cap
      val calls = Seq[(String, () => Any)](
        "auditMultimodal" -> (() => Admission.auditMultimodal(corpus, batch,
          "doc_id", "text", "img", "wav", index, maxHamming = 13)),
        "auditMultimodalWithFps" -> (() => Admission.auditMultimodalWithFps(
          corpus, batch, "doc_id", "text", index, fps, imageFp(corpus),
          audioFp(corpus), imageFp(batch), audioFp(batch), maxHamming = 13)),
        "processMultimodalMicroBatch" -> (() =>
          Admission.processMultimodalMicroBatch(batch, 0L, "doc_id", "text",
            "img", "wav", mm("seen"), mm("index"), mm("fps"), mm("imgfp"),
            mm("audfp"), mm("audit"), maxHamming = 13)))
      val faults = calls.flatMap { case (name, call) =>
        spark.catalog.clearCache()
        GraftTestBridge.drain(sc)
        val jobs = new java.util.concurrent.atomic.AtomicInteger
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

  test("arrival index rows equal minhashBandIndex of the batch (null text, one word, string ids)") {
    val corpus = docs.where($"doc_id" % 10 =!= 7).select($"doc_id", $"text")
    val Big = 1000000000000L
    val extra = Seq((Big + 1, null: String), (Big + 2, "word"),
      (Big + 3, "")).toDF("doc_id", "text")
    val batch = docs.where($"doc_id" % 10 === 7).select($"doc_id", $"text")
      .unionByName(extra)
    val want = Dedup.minhashBandIndex(batch, "doc_id", "text")
      .as[(Long, Int, Long)].collect().toSet
    assert(want.exists(_._1 == Big + 2), "one-word doc has band rows")
    def arrive(b: DataFrame): (Set[(Long, Int, Long)], Map[Long, Seq[Boolean]]) =
      withTempDir("graft_adm_index") { root =>
        val d = seed(root, corpus, media = false)
        Admission.processMicroBatch(b, 0L, "doc_id", "text", d("seen"),
          d("index"), d("fps"), d("audit"))
        val index = spark.read.parquet(s"${d("index")}/mb_0")
          .as[(Long, Int, Long)].collect().toSet
        val audit = spark.read.parquet(s"${d("audit")}/mb_0")
          .select($"doc_id".cast("long"), $"gate_pass", $"exact_dup",
            $"near_dup", $"admitted").collect()
          .map(r => r.getLong(0) -> (1 to 4).map(r.getBoolean)).toMap
        (index, audit)
      }
    val (longIndex, longAudit) = arrive(batch)
    assert(longIndex == want,
      s"missing=${(want -- longIndex).take(3)} extra=${(longIndex -- want).take(3)}")
    val (strIndex, strAudit) =
      arrive(batch.select($"doc_id".cast("string").as("doc_id"), $"text"))
    assert(strIndex == want, "string id column changed the index rows")
    assert(strAudit == longAudit, "string id column changed the audit")
  }

  test("a batch repeating an id is rejected with a typed error before any write") {
    val corpus = docs.where($"doc_id" % 10 =!= 7).select($"doc_id", $"text")
    val batch = docs.where($"doc_id" % 10 === 7).select($"doc_id", $"text")
    val id = batch.select($"doc_id").as[Long].head()
    // the repeated id carries a different text: the corpus index's
    // groupBy(id) banding would merge the two shingle sets, the
    // arrival frame's per-row fold would not
    val repeated = batch.unionByName(
      Seq((id, "a different text under the same id")).toDF("doc_id", "text"))
    withTempDir("graft_adm_repeat") { root =>
      val d = seed(root, corpus, media = false)
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.size
      val err = intercept[Admission.RepeatedIdException] {
        Admission.processMicroBatch(repeated, 0L, "doc_id", "text",
          d("seen"), d("index"), d("fps"), d("audit"))
      }
      assert(err.id == id && err.idCol == "doc_id")
      Seq("seen", "index", "fps", "audit").foreach { n =>
        assert(!Files.exists(Path.of(d(n), "mb_0")), s"$n/mb_0 was written")
      }
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "the rejected arrival leaked its cache")
      // the one-shot audit shares the arrival frame, so it rejects too
      intercept[Admission.RepeatedIdException] {
        Admission.audit(corpus, repeated, "doc_id", "text",
          Dedup.minhashBandIndex(corpus, "doc_id", "text"))
      }
    }
  }

  test("compactStore throws when its final rename fails, keeps every row readable, and the next run recovers") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingCompactRenameFs].getName)
    conf.setBoolean("fs.failrename.impl.disable.cache", true)
    withTempDir("graft_adm_rename") { root =>
      val store = s"$root/store"
      Seq("mb_init" -> (0L until 10L), "mb_0" -> (10L until 15L),
        "mb_1" -> (15L until 20L)).foreach { case (n, ids) =>
        ids.toDF("id").write.parquet(s"$store/$n")
      }
      def rows(): Seq[Long] = Admission.readStoreExceptSelf(spark, store, 2L)
        .as[Long].collect().toSeq.sorted
      def names(): Set[String] = Files.list(Path.of(store)).toArray
        .map(_.asInstanceOf[Path].getFileName.toString).toSet
      val err = intercept[IllegalArgumentException] {
        Admission.compactStore(spark, s"failrename://$store", 2L)
      }
      assert(err.getMessage.contains("compaction rename failed"), err.getMessage)
      assert(!names().contains("mb_compact_0"), s"names: ${names()}")
      assert(rows() == (0L until 20L), "the failed compaction lost rows")
      Admission.compactStore(spark, store, 2L)
      assert(names() == Set("mb_compact_1"),
        s"recovery left ${names()} (generation 0 must not be reused)")
      assert(rows() == (0L until 20L), "recovery lost rows")
    }
  }
}

/** The local file system under its own scheme, with a rename into an
  * `mb_compact_*` name that reports failure and moves nothing. */
class FailingCompactRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("mb_compact_") && super.rename(src, dst)
}
