package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.core.Tables
import graft.io.Sinks
import graft.llm.{Admission, Dedup, Multimodal, TextStats}
import graft.queries.AdsPipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A measured workload. `setup` is what `setup_s` times after each
  * session build; `prepare` lands inputs once, after the first set-up
  * (not part of set-up time); `step` runs the next unit(s); `check`
  * verifies every unit's output outside the timed region. */
trait Workload {
  def name: String
  /** untimed units before the timed loop */
  def warmUnits: Int
  /** fewest timed units, whatever `--seconds` says */
  def minUnits(trace: Boolean): Int
  /** timed units come in whole cycles of this many (admission: one
    * compaction and the arrivals up to the next), so a run's mix of
    * unit kinds does not depend on how many units fit in `--seconds` */
  def cycle: Int = 1
  def prepare(ctx: Ctx): Map[String, Any] = Map.empty
  def setup(ctx: Ctx, rep: Int): Unit
  def step(ctx: Ctx, i: Int, timed: Boolean): Seq[UnitRun]
  def hasNext(i: Int): Boolean = true
  /** Indices of units (by `index`) whose output failed its check. */
  def check(ctx: Ctx, units: Seq[UnitRun]): (Set[Int], Map[String, Any])
  /** Kernel micro-measurements on this workload's inputs (traced runs). */
  def kernels(ctx: Ctx): Map[String, Double] = Map.empty
}

object AdsRefresh {
  /** The tables one refresh builds and publishes: 4 of the registry's
    * 17 ads/dwd/dim tables, so that two warm-up refreshes and two timed
    * ones fit the run budget (README.md). They cover the input families:
    * events (q39, q47), lineitem/orders/part (q44), none (q48, the date
    * dimension). */
  val Tables: Seq[String] = Seq("q39_ads_travel_info_pipeline", "q44_ads_sales_revenue_pipeline",
    "q47_ads_fare_revenue_pipeline", "q48_dim_date_info")
}

/** One refresh = the `AdsRefresh.Tables` of the registry
  * (`AdsPipelines.all`), each built and published with
  * `Sinks.publishAtomic` to its live path, as a scheduled refresh
  * overwrites the warehouse. The first two refreshes in the JVM warm it
  * up (the second still runs ~25% slower than the third); a traced run
  * times four, so two are traced and two are not. */
final class AdsRefresh(val name: String, dataDir: String, work: String) extends Workload {
  val warmUnits = 2
  def minUnits(trace: Boolean) = if (trace) 4 else 2
  private val tables = AdsRefresh.Tables.map(n =>
    AdsPipelines.all.find(_.name == n).getOrElse(sys.error(s"no ads table named $n")))
  private val out = s"$work/warehouse"
  val inputTables = Seq("region", "part", "orders", "lineitem", "events")
  lazy val inputRows: Long = inputTables.map(t => Disk.parquetRows(s"$dataDir/$t.parquet")).sum
  lazy val inputBytes: Long = inputTables.map(t => Disk.size(s"$dataDir/$t.parquet")._1).sum
  /** per refresh: table -> (rows, digest) of what it published */
  val published = ArrayBuffer.empty[(Int, Map[String, (Long, String)])]

  override def prepare(ctx: Ctx): Map[String, Any] = Map(
    "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "tables" -> tables.map(_.name))

  /** Register the inputs: footers and schemas of every table read. */
  def setup(ctx: Ctx, rep: Int): Unit =
    inputTables.foreach(t => Tables.load(ctx.spark, dataDir, t).schema)

  def step(ctx: Ctx, i: Int, timed: Boolean): Seq[UnitRun] = {
    val unit = s"refresh-$i"
    val t0 = Clock.now
    val attempt = scala.util.Try {
      ctx.span(unit, "unit", unit) {
        tables.foreach { q =>
          ctx.group(s"$unit/${q.name}")
          val df = ctx.span(s"build:${q.name}", "pipelines", unit)(q.fn(ctx.spark, dataDir))
          ctx.span(s"publish:${q.name}", "io", unit)(Sinks.publishAtomic(df, s"$out/${q.name}"))
          ctx.spark.catalog.clearCache()
        }
      }
    }
    val t1 = Clock.now
    ctx.spark.sparkContext.clearJobGroup()
    val (bytes, files) = tables.map(q => Disk.size(s"$out/${q.name}"))
      .foldLeft((0L, 0L)) { case ((b, f), (x, y)) => (b + x, f + y) }
    if (attempt.isSuccess)
      published += i -> tables.map(q => q.name -> Disk.digest(s"$out/${q.name}")).toMap
    Seq(UnitRun("refresh", i, unit, t0, t1, attempt.isSuccess, timed, ctx.tracing,
      inputRows, inputBytes, bytes, files, attempt.failed.toOption.map(_.toString)))
  }

  /** Every refresh must have published exactly what the last one did;
    * the last one is checked against the DuckDB oracles by run.py, from
    * the manifest written here. */
  def check(ctx: Ctx, units: Seq[UnitRun]): (Set[Int], Map[String, Any]) = {
    val last = published.lastOption.map(_._2).getOrElse(Map.empty)
    val differ = published.collect { case (i, m) if m != last => i }.toSet
    val oracles = graft.SparkEntry.oracleSql
    (differ, Map(
      "published_dir" -> out,
      "oracle_tables" -> tables.map(q => Map(
        "name" -> q.name, "sql" -> oracles.get(q.name),
        "rows" -> last.get(q.name).map(_._1))),
      "refreshes_differing_from_last" -> differ.toSeq.sorted))
  }
}

object CorpusAdmission {
  /** a seeded 1/ArriveMod of the documents arrives, the rest seeds the stores */
  val ArriveMod = 5
  val BatchDocs = 100
  /** fold the five stores before every CompactEvery-th arrival */
  val CompactEvery = 2
}

/** One arrival = one `Admission.processMultimodalMicroBatch` call for
  * a batch of documents with image and audio payloads (the sparse,
  * discriminating media fixture), audited against the five persisted
  * stores and then appended to them; `Admission.compactStore` folds the
  * five stores every `CompactEvery` arrivals. The arriving documents
  * are landed as parquet in id order, so arrival ids are monotone; the
  * rest seeds the stores. The first two arrivals are the warm-up; a
  * traced run times four, so two are traced and two are not. */
final class CorpusAdmission(dataDir: String, work: String, seed: Long) extends Workload {
  import CorpusAdmission._
  val name = "corpus_admission"
  val warmUnits = 2
  def minUnits(trace: Boolean) = if (trace) 4 else 2
  override def cycle: Int = CompactEvery
  private val landed = s"$work/landed"
  private def stores(rep: Int) = s"$work/stores-$rep"
  private var root = stores(0)
  private def seen = s"$root/seen"
  private def index = s"$root/index"
  private def fps = s"$root/fps"
  private def imgFp = s"$root/imgfp"
  private def audFp = s"$root/audfp"
  private def audit = s"$root/audit"
  private def storeRoots = Seq(seen, index, fps, imgFp, audFp)
  private var arrivals = 0
  private var compactions = 0

  private def withMedia(df: DataFrame): DataFrame = {
    val ids = df.select(col("doc_id"))
    val imgs = Multimodal.syntheticImageTableSparse(ids, "doc_id")
      .select(col("media_id").as("__iid"), col("payload").as("img"))
    val wavs = Multimodal.syntheticAudioTableSparse(ids, "doc_id")
      .select(col("media_id").as("__aid"), col("payload").as("wav"))
    df.join(imgs, col("doc_id") === col("__iid")).drop("__iid")
      .join(wavs, col("doc_id") === col("__aid")).drop("__aid")
  }

  private def docs(s: SparkSession) = Tables.documents(s, dataDir).select(col("doc_id"), col("text"))
  private val arriving = pmod(xxhash64(col("doc_id"), lit(seed)), lit(ArriveMod)) === 0

  /** The base corpus with its media payloads, generated in-plan. */
  private def corpus(s: SparkSession) = withMedia(docs(s).where(!arriving))
  private def batch(s: SparkSession, k: Int) = s.read.parquet(s"$landed/arrivals/arrival=$k")

  override def prepare(ctx: Ctx): Map[String, Any] = {
    val d = docs(ctx.spark)
    val ids = d.where(arriving).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    arrivals = ids.length / BatchDocs
    val bounds = (0 to arrivals).map(k => ids.lift(k * BatchDocs).getOrElse(Long.MaxValue))
    val arrivalOf = bounds.zipWithIndex.tail.foldRight(lit(-1)) { case ((hi, k), acc) =>
      when(col("doc_id") < hi, lit(k - 1)).otherwise(acc)
    }
    withMedia(d.where(arriving && col("doc_id") >= ids.head)
        .withColumn("arrival", arrivalOf).where(col("arrival") >= 0))
      .write.mode("overwrite").partitionBy("arrival").parquet(s"$landed/arrivals")
    Map("corpus_docs" -> Disk.parquetRows(s"$seen/mb_init"), "arrivals_landed" -> arrivals,
      "docs_per_arrival" -> BatchDocs, "arrivals_bytes" -> Disk.size(s"$landed/arrivals")._1)
  }

  /** Seed the five stores from the base corpus into a fresh root. */
  def setup(ctx: Ctx, rep: Int): Unit = {
    Disk.delete(root)
    root = stores(rep)
    Disk.delete(root)
    val c = corpus(ctx.spark)
    c.select(col("doc_id"), col("text")).write.parquet(s"$seen/mb_init")
    Dedup.minhashBandIndex(c, "doc_id", "text").write.parquet(s"$index/mb_init")
    c.select(TextStats.fingerprint(col("text")).as("fp")).write.parquet(s"$fps/mb_init")
    c.select(col("doc_id").cast("long").as("id"),
        graft.functions.PerceptualHash.d_hash(col("img")).as("sh"))
      .where(col("sh").isNotNull).write.parquet(s"$imgFp/mb_init")
    c.select(col("doc_id").cast("long").as("id"),
        graft.functions.AudioFingerprint.audio_fp(col("wav")).as("sh"))
      .where(col("sh").isNotNull).write.parquet(s"$audFp/mb_init")
  }

  override def hasNext(i: Int): Boolean = i < arrivals

  private def written(k: String): (Long, Long) =
    (storeRoots :+ audit).map(r => Disk.size(s"$r/$k"))
      .foldLeft((0L, 0L)) { case ((b, f), (x, y)) => (b + x, f + y) }

  def step(ctx: Ctx, k: Int, timed: Boolean): Seq[UnitRun] = {
    val s = ctx.spark
    val compaction =
      if (k > 0 && k % CompactEvery == 0) {
        val unit = s"compact-$k"
        val before = storeRoots.flatMap(r => Disk.listFiles(r).map(_.getPath)).toSet
        ctx.group(unit)
        val t0 = Clock.now
        val attempt = scala.util.Try(ctx.span(unit, "unit", unit) {
          storeRoots.foreach { r =>
            ctx.span(s"compact:${r.split('/').last}", "llm", unit)(Admission.compactStore(s, r, k))
          }
        })
        val t1 = Clock.now
        compactions += 1
        val created = storeRoots.flatMap(r => Disk.listFiles(r)).filterNot(f => before(f.getPath))
        Seq(UnitRun("compaction", k, unit, t0, t1, attempt.isSuccess, timed, ctx.tracing,
          0L, 0L, created.map(_.length).sum, created.length.toLong,
          attempt.failed.toOption.map(_.toString)))
      } else Nil
    val unit = s"arrival-$k"
    val b = batch(s, k)
    val docs = Disk.parquetRows(s"$landed/arrivals/arrival=$k")
    val inBytes = Disk.size(s"$landed/arrivals/arrival=$k")._1
    ctx.group(unit)
    val t0 = Clock.now
    val attempt = scala.util.Try(ctx.span(unit, "unit", unit) {
      ctx.span("processMultimodalMicroBatch", "llm", unit) {
        Admission.processMultimodalMicroBatch(b, k.toLong, "doc_id", "text", "img", "wav",
          seen, index, fps, imgFp, audFp, audit)
      }
    })
    val t1 = Clock.now
    s.sparkContext.clearJobGroup()
    val (bytes, files) = written(s"mb_$k")
    compaction :+ UnitRun("arrival", k, unit, t0, t1, attempt.isSuccess, timed, ctx.tracing,
      docs, inBytes, bytes, files, attempt.failed.toOption.map(_.toString))
  }

  /** Cumulative audits == the one-shot `Admission.auditMultimodal` of
    * the concatenated arrivals against the base corpus (the contract
    * StreamingSpec pins). An arrival fails if any of its docs' audit
    * rows differ or are missing. */
  def check(ctx: Ctx, units: Seq[UnitRun]): (Set[Int], Map[String, Any]) = {
    val s = ctx.spark
    val done = units.filter(_.kind == "arrival").map(_.index)
    if (done.isEmpty) return (Set.empty, Map.empty)
    val arrived = s.read.parquet(s"$landed/arrivals").where(col("arrival").isin(done: _*))
    val c = corpus(s)
    def rows(df: DataFrame): Map[Long, Seq[Boolean]] =
      df.select(col("doc_id").cast("long"), col("gate_pass"), col("exact_dup"), col("near_dup"),
          col("image_dup"), col("audio_dup"), col("admitted")).collect()
        .map(r => r.getLong(0) -> (1 to 6).map(r.getBoolean)).toMap
    val oneShot = rows(Admission.auditMultimodal(c, arrived.drop("arrival"), "doc_id", "text",
      "img", "wav", Dedup.minhashBandIndex(c, "doc_id", "text")))
    val streamed = rows(s.read.option("recursiveFileLookup", "true").parquet(audit))
    val arrivalOfDoc = arrived.select(col("doc_id"), col("arrival")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bad = arrivalOfDoc.collect {
      case (id, k) if streamed.get(id) != oneShot.get(id) => k
    }.toSet
    val admitted = streamed.values.count(_(5))
    (bad, Map("audited_docs" -> streamed.size, "admitted_docs" -> admitted,
      "image_dup_docs" -> streamed.values.count(_(3)),
      "audio_dup_docs" -> streamed.values.count(_(4)),
      "near_dup_docs" -> streamed.values.count(_(2)),
      "exact_dup_docs" -> streamed.values.count(_(1)),
      "store_bytes" -> storeRoots.map(r => Disk.size(r)._1).sum,
      "store_docs" -> Disk.parquetRows(seen),
      "compactions" -> compactions))
  }

  /** ns per row of each kernel over the base corpus twice over, cached
    * first: the kernel select minus a passthrough select of
    * its input column, both forced through the noop sink, median of
    * three. */
  override def kernels(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val c = corpus(s).crossJoin(s.range(2).select(col("id").as("__copy"))).persist()
    val n = c.count().toDouble
    def t(df: => DataFrame): Double = {
      val xs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      xs.sorted.apply(1).toDouble
    }
    ctx.group("kernels")
    val passText = t(c.select(col("doc_id"), col("text")))
    val passImg = t(c.select(col("img")))
    val passWav = t(c.select(col("wav")))
    val sh = t(c.select(col("doc_id"), Dedup.shingles(col("text"), 2)))
    val mh = t(Dedup.minhashBandIndex(c, "doc_id", "text"))
    val fp = t(c.select(col("doc_id"), TextStats.fingerprint(col("text"))))
    val dh = t(c.select(graft.functions.PerceptualHash.d_hash(col("img"))))
    val au = t(c.select(graft.functions.AudioFingerprint.audio_fp(col("wav"))))
    s.sparkContext.clearJobGroup()
    c.unpersist()
    Map("shingles" -> (sh - passText) / n, "minhash" -> (mh - sh) / n,
      "text_fp" -> (fp - passText) / n, "dhash" -> (dh - passImg) / n,
      "audio_fp" -> (au - passWav) / n)
  }
}
