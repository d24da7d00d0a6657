package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.llm.{Admission, Dedup, LangModel, Quality, TextStats}

/** Dev probe (r18): SAME-JVM interleaved A/B of this round's dataflow
  * rewrites against the r17 shapes, reconstructed inline — the only
  * timing comparison that survives the sandbox's ambient drift.
  * Shapes:
  *  - q100: two independent trainBigramLm subtrees (old) vs
  *    trainBigramLmPair shared aggregations (new)
  *  - q98: r17 auditWithFps with its own probe newSh cache (old) vs
  *    the merged gate+shingle cache (new, the registered path)
  * Usage: runMain graft.tools.ProbeShapes [sfDir] [rounds]
  */
object ProbeShapes {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val s = Sessions.build("probe-shapes")
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val d = Tables.documents(s, dir)
    val batch = d.where(col("doc_id") % 10 === 7)
    val corpus = d.where(col("doc_id") % 10 =!= 7)

    // ---- q100 shapes ----
    def q100With(tgt: (DataFrame, DataFrame, DataFrame),
                 src: (DataFrame, DataFrame, DataFrame)): DataFrame = {
      val imp = LangModel.importance(batch, "doc_id", "text", tgt, src)
      val ranked = graft.ops.Sampling.topFractionByRate(
          imp.where(col("n_bigrams") > 0)
            .withColumn("__rate",
              col("importance_bits").cast("double") / col("n_bigrams")),
          "__rate", "doc_id", 1, 4, exactBelow = 0)
        .select(col("doc_id"), col("n_bigrams"),
          col("importance_bits"), col("kept"))
      batch.select(col("doc_id"), col("lang"))
        .join(ranked, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
          sum(coalesce(col("importance_bits"), lit(0L))).as("sum_importance"),
          sum(coalesce(col("n_bigrams"), lit(0L))).as("sum_bigrams"))
        .orderBy(col("lang"))
    }
    // r17 trainer, reconstructed: total = toks.agg(count(*)) — its own
    // tokenize pass (the shape total-from-uni replaced)
    def trainR17(ref: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val w0 = graft.llm.Bpe.alnumTokens(col("text"))
      val big = when(size(w0) >= 2,
        zip_with(slice(w0, lit(1), size(w0) - 1), slice(w0, lit(2), size(w0) - 1),
          (a, b) => struct(a.as("prev"), b.as("w"))))
        .otherwise(array().cast("array<struct<prev:string,w:string>>"))
      val toks = ref.select(explode(w0).as("w"))
      val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val bi = ref.select(explode(big).as("g"))
        .groupBy(col("g.prev").as("prev"), col("g.w").as("w"))
        .agg(count(lit(1)).as("cb"))
      val total = toks.agg(count(lit(1)).as("t_tokens"))
      (uni, bi, total)
    }
    def q100R17(): DataFrame = q100With(
      trainR17(corpus.where(col("lang") === "en")), trainR17(corpus))
    def q100TotUni(): DataFrame = q100With(
      LangModel.trainBigramLm(corpus.where(col("lang") === "en"), "text"),
      LangModel.trainBigramLm(corpus, "text"))
    // the REFUTED r18 shared-aggregation pair trainer, kept here as
    // the measured-and-rejected shape (SCALE.md, "Round-18
    // refinements"): one (all, en-slice) conditional count per n-gram
    // order feeds both LMs; loses the en-slice scan pushdown and won
    // nothing locally
    def q100Pair(): DataFrame = {
      val slice = col("lang") === "en"
      val w0 = graft.llm.Bpe.alnumTokens(col("text"))
      val big = when(size(w0) >= 2,
        zip_with(slice1(w0, 1), slice2(w0),
          (a, b) => struct(a.as("prev"), b.as("w"))))
        .otherwise(array().cast("array<struct<prev:string,w:string>>"))
      val uniB = corpus
        .select(explode(w0).as("w"), slice.as("__sl"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("cu_all"),
          count(when(col("__sl"), lit(1))).as("cu_sl"))
      val biB = corpus
        .select(explode(big).as("g"), slice.as("__sl"))
        .groupBy(col("g.prev").as("prev"), col("g.w").as("w"))
        .agg(count(lit(1)).as("cb_all"),
          count(when(col("__sl"), lit(1))).as("cb_sl"))
      val tgt = (
        uniB.where(col("cu_sl") >= 1L).select(col("w"), col("cu_sl").as("cu")),
        biB.where(col("cb_sl") >= 1L)
          .select(col("prev"), col("w"), col("cb_sl").as("cb")),
        uniB.agg(coalesce(sum(col("cu_sl")), lit(0L)).as("t_tokens")))
      val src = (
        uniB.select(col("w"), col("cu_all").as("cu")),
        biB.select(col("prev"), col("w"), col("cb_all").as("cb")),
        uniB.agg(coalesce(sum(col("cu_all")), lit(0L)).as("t_tokens")))
      q100With(tgt, src)
    }
    def slice1(w: org.apache.spark.sql.Column, k: Int) =
      slice(w, lit(k), size(w) - 1)
    def slice2(w: org.apache.spark.sql.Column) =
      slice(w, lit(2), size(w) - 1)

    // ---- q98 shapes ----
    def q98Old(): DataFrame = {
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      val fps = corpus.select(TextStats.fingerprint(col("text")).as("fp"))
      val idCol = "doc_id"
      val gated = graft.core.Caching.eager(Quality.scored(
          batch.select(col(idCol), col("text")), "text")
        .select(col(idCol), col("text"), col("quality_kept").as("gate_pass"))
        .withColumn("fp", TextStats.fingerprint(col("text"))))
      val hits = fps.select(col("fp"))
        .join(broadcast(gated.select(col("fp")).distinct()), Seq("fp"), "left_semi")
        .distinct()
      val wFp = Window.partitionBy(col("fp"))
      val exact = gated
        .join(broadcast(hits.withColumn("__in_seen", lit(true))), Seq("fp"), "left")
        .withColumn("exact_dup",
          coalesce(col("__in_seen"), lit(false)) ||
            col(idCol) > min(col(idCol)).over(wFp))
      val pairs = Dedup.minhashProbePairs(corpus, batch, idCol, "text",
        index, 0.8)
      val batchIds = gated.select(col(idCol).cast("long").as("__bid"))
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
      exact
        .join(broadcast(ndFlag), col(idCol).cast("long") === col("d"), "left")
        .withColumn("near_dup", coalesce(col("__nd"), lit(false)))
        .withColumn("admitted",
          col("gate_pass") && !col("exact_dup") && !col("near_dup"))
        .select(col(idCol), col("gate_pass"), col("exact_dup"),
          col("near_dup"), col("admitted"))
        .orderBy(col(idCol))
    }
    def q98New(): DataFrame = {
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      Admission.audit(corpus, batch, "doc_id", "text", index)
        .orderBy(col("doc_id"))
    }
    // q98 with ONLY the index-build input rebalanced (the subtree that
    // is executed exactly once, into the cand cache job) — the
    // loader-level rebalance was refuted because UNCACHED scan
    // subtrees re-execute per job and re-pay the exchange; this one
    // does not
    def q98IdxR(): DataFrame = {
      val par = s.sparkContext.defaultParallelism
      val index = Dedup.minhashBandIndex(
        corpus.repartition(par, col("doc_id")), "doc_id", "text")
      Admission.audit(corpus, batch, "doc_id", "text", index)
        .orderBy(col("doc_id"))
    }

    val shapes: Seq[(String, () => DataFrame)] = Seq(
      ("q98  NEW", () => q98New()), ("q98  IDXR", () => q98IdxR()))

    // deterministic work metrics, robust to ambient scheduling noise:
    // jobs/stages/tasks + summed executor CPU time per shape execution
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val traceJobs = sys.env.get("PROBE_TRACE_JOBS").isDefined
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val site = Option(e.properties.getProperty("callSite.short")).getOrElse("?")
          println(s"JOB ${e.jobId} stages=${e.stageInfos.size} " +
            s"tasks=${e.stageInfos.map(_.numTasks).sum} $site")
        }
      }
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) {
          cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
          runMs.addAndGet(e.taskMetrics.executorRunTime)
        }
      }
    })
    def measured(n: String, f: () => DataFrame): Unit = {
      s.sparkContext.setJobDescription(n)
      jobs.set(0); stages.set(0); tasks.set(0); cpuNs.set(0); runMs.set(0)
      val t0 = System.nanoTime(); noop(f())
      val sec = (System.nanoTime() - t0) / 1e9
      s.catalog.clearCache(); System.gc()
      // listener events are async; give the bus a beat to drain
      Thread.sleep(300)
      println(f"WORK  $n%-12s wall $sec%7.2f s  jobs ${jobs.get}%3d  " +
        f"stages ${stages.get}%3d  tasks ${tasks.get}%5d  " +
        f"cpu ${cpuNs.get / 1e9}%7.2f s  run ${runMs.get / 1e3}%7.2f s")
    }
    // warmup each
    shapes.foreach { case (_, f) => noop(f()); s.catalog.clearCache() }
    (1 to rounds).foreach { _ => shapes.foreach { case (n, f) => measured(n, f) } }
    s.stop()
  }
}
