package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** Benchmark program, started by `perfbench/run.py` on one JVM with
  * `local[nproc]`. One client thread runs the workload's units in a
  * closed loop for `--seconds`, then checks their outputs, and writes
  * every measurement to the `--out` JSON file.
  *
  * Arguments (all `--name value`): workload, data, work, out, seed,
  * seconds, trace (0|1).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val result = new Runner(o).run()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(o("out")), result)
    sys.exit(0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach)
      else (acc + e - math.max(s, reach), e)
    }._1
}

final class Runner(o: Map[String, String]) {
  /** set-ups per run; `setup_s` is their median */
  private val SetupReps = 3
  private val workloadName = o("workload")
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val trace = o.get("trace").contains("1")
  private val work = o("work")

  private val workload: Workload = workloadName match {
    case "corpus_admission" => new CorpusAdmission(o("data"), work, seed)
    case other              => new AdsRefresh(other, o("data"), work)
  }
  private val mainKind = if (workloadName == "corpus_admission") "arrival" else "refresh"

  /** A trivial one-stage job: the per-job floor of this session. */
  private def jobFloor(spark: SparkSession, n: Int): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup("job-floor", "job-floor", interruptOnCancel = false)
    val xs = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(0 until sc.defaultParallelism, sc.defaultParallelism).count()
      (System.nanoTime() - t0) / 1e9
    }
    sc.clearJobGroup()
    Stats.median(xs.drop(n / 3))
  }

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation occupancy after the last collection the JVM ran on
    * its own, in MB: reading it forces no collection. */
  private def oldGenAfterGcMb(): Double =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Old-generation occupancy after a forced full collection, in MB;
    * only called outside the timed loop. */
  private def liveHeapMb(): Double = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / 1048576.0
  }

  def run(): Map[String, Any] = {
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: Map[String, Any] = Map.empty
    var prepareS = 0.0
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.build(s"perfbench-$workloadName")
      val t1 = System.nanoTime()
      workload.setup(new Ctx(spark, None), rep)
      jobFloor(spark, 1)
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      if (rep == 0) {
        prepared = workload.prepare(new Ctx(spark, None))
        prepareS = (System.nanoTime() - t2) / 1e9
      }
    }
    val rec = if (trace) Some(new Recorder(spark)) else None
    val ctx = new Ctx(spark, rec)
    val floorStart = jobFloor(spark, 9)

    val units = ArrayBuffer.empty[UnitRun]
    val heap = ArrayBuffer.empty[Double]
    val warm = workload.warmUnits
    var i = 0
    val tWarm = System.nanoTime()
    while (i < warm && workload.hasNext(i)) {
      units ++= workload.step(ctx, i, timed = false)
      i += 1
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val minUnits = workload.minUnits(trace)
    val loopStart = System.nanoTime()
    var timed = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (workload.hasNext(i) &&
        (elapsed < seconds || timed < minUnits || timed % workload.cycle != 0)) {
      // traced runs time units in the order traced, untraced, untraced,
      // traced: the tracing overhead is measured in the same JVM with a
      // steady warm-up drift cancelled, and on admission (compaction
      // before every second arrival) each set holds one arrival right
      // after a compaction and one that is not
      ctx.tracing = trace && (timed % 4 == 0 || timed % 4 == 3)
      rec.foreach(r => if (ctx.tracing) r.attach() else r.detach())
      val baseline = rec.filter(_ => ctx.tracing).map(_.resetCachedPeak())
      val u = workload.step(ctx, i, timed = true)
      val peak = for (r <- rec; b <- baseline) yield r.cachedPeakBytes - b
      u.foreach(x => peak.foreach(p => cachedPeak(x.group) = p))
      units ++= u
      heap += oldGenAfterGcMb()
      timed += 1
      i += 1
    }
    rec.foreach(_.detach())
    val loopS = elapsed
    heap += liveHeapMb()
    val floorEnd = jobFloor(spark, 9)
    val tKernels = System.nanoTime()
    val kernels = if (trace) workload.kernels(ctx) else Map.empty[String, Double]
    val tCheck = System.nanoTime()
    val (bad, checkInfo) = workload.check(ctx, units.toSeq)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val failed = units.filter(u => !u.ok || (u.kind == mainKind && bad(u.index)))

    val result = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "cores" -> ctx.cores, "seconds" -> seconds, "cycle" -> workload.cycle,
      "setup_s" -> setupS.toSeq, "session_start_s" -> sessionS.toSeq,
      "prepare_s" -> prepareS, "warmup_s" -> warmS, "loop_s" -> loopS,
      "kernels_s" -> (tCheck - tKernels) / 1e9, "check_s" -> checkS,
      "job_floor_start_s" -> floorStart, "job_floor_end_s" -> floorEnd,
      "live_heap_mb" -> heap.toSeq,
      "prepared" -> prepared, "check" -> checkInfo,
      "attempted" -> units.length, "failed" -> failed.length,
      "failed_units" -> failed.map(u => Map("group" -> u.group, "error" -> u.error)),
      "units" -> units.map(u => Map(
        "kind" -> u.kind, "index" -> u.index, "group" -> u.group, "seconds" -> u.seconds,
        "ok" -> (u.ok && !(u.kind == mainKind && bad(u.index))),
        "timed" -> u.timed, "traced" -> u.traced, "rows" -> u.rows,
        "input_bytes" -> u.inputBytes, "bytes_written" -> u.bytesWritten,
        "files_written" -> u.filesWritten)))
    val traced = rec.map(r => layers(r, ctx, units.toSeq, kernels, checkInfo, sessionS.toSeq,
      floorStart, floorEnd)).getOrElse(Map.empty)
    spark.stop()
    result ++ traced
  }

  private val cachedPeak = scala.collection.mutable.Map.empty[String, Long]

  /** Per-layer metrics of a traced run: the median over traced units of
    * each unit's figures, plus the raw spans, jobs and executions. */
  private def layers(r: Recorder, ctx: Ctx, units: Seq[UnitRun],
                     kernels: Map[String, Double], checkInfo: Map[String, Any],
                     sessionS: Seq[Double], floorStart: Double,
                     floorEnd: Double): Map[String, Any] = {
    val jobs = r.jobs
    val execs = r.execs
    val execById = execs.map(e => e.id -> e).toMap
    val spans = r.spans.toSeq
    val cores = ctx.cores
    def jobsOf(group: String) = jobs.filter(j => j.group == group || j.group.startsWith(group + "/"))
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(r.stage)
    def wall(js: Seq[JobRec]) = Stats.unionLength(js.map(j => (j.start.toDouble, j.end.toDouble))) / 1000.0
    def isWrite(j: JobRec) = execById.get(j.execId).exists(_.output.isDefined)
    def planS(es: Seq[ExecRec]) = es.map(_.phasesMs.values.sum).sum / 1000.0
    val kernelNs = kernels.values.sum

    def unitMetrics(u: UnitRun): Map[String, Double] = {
      val js = jobsOf(u.group)
      val st = stagesOf(js)
      val uExecs = js.map(_.execId).distinct.flatMap(execById.get)
      val writes = uExecs.filter(_.output.isDefined)
      val barrier = js.filterNot(isWrite)
      val busy = st.map(_.runMs).sum / 1000.0
      val jobWall = wall(js)
      val commit =
        if (u.kind == "refresh")
          spans.filter(s => s.unit == u.group && s.name.startsWith("publish:")).map { s =>
            val q = s.name.stripPrefix("publish:")
            val wj = jobsOf(s"${u.group}/$q").filter(isWrite)
            val we = wj.map(_.execId).distinct.flatMap(execById.get)
            s.seconds - wall(wj) - planS(we)
          }.sum
        else
          writes.map { e =>
            (e.end - e.start) / 1000.0 - wall(js.filter(_.execId == e.id)) - planS(Seq(e))
          }.sum
      val core = wall(barrier)
      val functions = if (u.kind == "arrival") u.rows * kernelNs / 1e9 else 0.0
      val owner = u.seconds - core - commit - functions
      val auditEnd = writes.filter(_.output.exists(_.contains("/audit/"))).map(_.end.toDouble)
        .headOption.getOrElse(u.end)
      val base = Map(
        "jobs" -> js.length.toDouble, "stages" -> st.length.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "shuffle_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> st.map(_.spill).sum.toDouble,
        "broadcast_bytes" -> uExecs.map(_.broadcastBytes).sum.toDouble,
        "executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gcMs).sum / 1000.0,
        "exec_s" -> jobWall,
        "plan_s" -> planS(uExecs),
        "slot_busy_frac" -> (if (jobWall > 0) busy / (jobWall * cores) else 0.0),
        "eager_jobs" -> barrier.length.toDouble,
        "cached_peak_bytes" -> cachedPeak.getOrElse(u.group, 0L).toDouble,
        "commit_s" -> commit,
        "files_written" -> u.filesWritten.toDouble, "bytes_written" -> u.bytesWritten.toDouble,
        "scan_bytes" -> st.map(_.inBytes).sum.toDouble,
        "scan_rows_per_output_row" ->
          st.map(_.inRecords).sum.toDouble / math.max(1L, st.map(_.outRecords).sum),
        "core_self_s" -> core, "io_self_s" -> commit, "functions_self_s" -> functions,
        "owner_self_s" -> owner,
        "audit_s" -> (auditEnd - u.start) / 1000.0,
        "store_append_s" -> (u.end - auditEnd) / 1000.0,
        "build_s" -> spans.filter(s => s.unit == u.group && s.name.startsWith("build:"))
          .map(_.seconds).sum)
      base
    }

    val main = units.filter(u => u.kind == mainKind && u.timed && u.traced && u.ok)
    val per = main.map(unitMetrics)
    def med(k: String) = Stats.median(per.map(_(k)))
    val ads = mainKind == "refresh"
    def when(cond: Boolean)(v: => Double) = if (cond) v else 0.0
    val compacts = units.filter(u => u.kind == "compaction" && u.ok)
    // same-JVM A/B: traced against untraced timed units
    val timedMain = units.filter(u => u.kind == mainKind && u.timed && u.ok)
    val tracedS = Stats.median(timedMain.filter(_.traced).map(_.seconds))
    val plainS = Stats.median(timedMain.filterNot(_.traced).map(_.seconds))

    val perTable = AdsRefresh.Tables.flatMap { q =>
      val byUnit = main.map(u => jobsOf(s"${u.group}/$q"))
      Seq(s"pipelines.$q.exec_s" -> when(ads)(Stats.median(byUnit.map(wall))),
        s"pipelines.$q.jobs" -> when(ads)(Stats.median(byUnit.map(_.length.toDouble))))
    }
    val storeBytes = checkInfo.get("store_bytes").map(_.toString.toDouble).getOrElse(0.0)
    val storeDocs = checkInfo.get("store_docs").map(_.toString.toDouble).getOrElse(0.0)

    // structural counts per traced unit: identical across refreshes of
    // one run and across runs of one seed, or they are not evidence
    val structuralKeys = Seq("jobs", "stages", "tasks", "shuffle_bytes", "files_written", "bytes_written")
    val structural = main.zip(per).map { case (u, m) => u.group -> structuralKeys.map(k => k -> m(k)).toMap }
    val unsteadyWithin =
      if (ads) structuralKeys.filter(k => per.map(_(k)).distinct.length > 1) else Nil

    val metrics = Map[String, Double](
      "core.session_start_s" -> Stats.median(sessionS),
      "core.job_floor_s" -> floorStart,
      "core.job_floor_end_s" -> floorEnd,
      "core.eager_jobs" -> med("eager_jobs"),
      "core.cached_peak_bytes" -> med("cached_peak_bytes"),
      "core.self_s" -> med("core_self_s"),
      "pipelines.build_s" -> when(ads)(med("build_s")),
      "pipelines.plan_s" -> when(ads)(med("plan_s")),
      "pipelines.jobs" -> when(ads)(med("jobs")),
      "pipelines.stages" -> when(ads)(med("stages")),
      "pipelines.tasks" -> when(ads)(med("tasks")),
      "pipelines.slot_busy_frac" -> when(ads)(med("slot_busy_frac")),
      "pipelines.exec_s" -> when(ads)(med("exec_s")),
      "pipelines.shuffle_bytes" -> when(ads)(med("shuffle_bytes")),
      "pipelines.spill_bytes" -> when(ads)(med("spill_bytes")),
      "pipelines.broadcast_bytes" -> when(ads)(med("broadcast_bytes")),
      "pipelines.executor_cpu_s" -> when(ads)(med("executor_cpu_s")),
      "pipelines.gc_s" -> when(ads)(med("gc_s")),
      "pipelines.self_s" -> when(ads)(med("owner_self_s")),
      "io.commit_s" -> med("commit_s"),
      "io.files_written" -> med("files_written"),
      "io.bytes_written" -> med("bytes_written"),
      "io.scan_bytes" -> med("scan_bytes"),
      "io.scan_rows_per_output_row" -> med("scan_rows_per_output_row"),
      "io.self_s" -> med("io_self_s"),
      "llm.audit_s" -> when(!ads)(med("audit_s")),
      "llm.store_append_s" -> when(!ads)(med("store_append_s")),
      "llm.store_scan_bytes" -> when(!ads)(med("scan_bytes")),
      "llm.arrival_jobs" -> when(!ads)(med("jobs")),
      "llm.arrival_stages" -> when(!ads)(med("stages")),
      "llm.shuffle_bytes" -> when(!ads)(med("shuffle_bytes")),
      "llm.executor_cpu_s" -> when(!ads)(med("executor_cpu_s")),
      "llm.compact_s" -> Stats.median(compacts.map(_.seconds)),
      "llm.compact_bytes_rewritten" -> Stats.median(compacts.map(_.bytesWritten.toDouble)),
      "llm.store_bytes_per_doc" -> (if (storeDocs > 0) storeBytes / storeDocs else 0.0),
      "llm.self_s" -> when(!ads)(med("owner_self_s")),
      "functions.shingles_ns_per_row" -> kernels.getOrElse("shingles", 0.0),
      "functions.minhash_ns_per_row" -> kernels.getOrElse("minhash", 0.0),
      "functions.text_fp_ns_per_row" -> kernels.getOrElse("text_fp", 0.0),
      "functions.dhash_ns_per_row" -> kernels.getOrElse("dhash", 0.0),
      "functions.audio_fp_ns_per_row" -> kernels.getOrElse("audio_fp", 0.0),
      "functions.self_s" -> med("functions_self_s"),
      "trace.unit_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - plainS),
      "structural.unsteady_within_run" -> unsteadyWithin.length.toDouble) ++ perTable

    Map("layers" -> metrics, "structural" -> structural.toMap,
      "unsteady_within_run" -> unsteadyWithin,
      "traced_units" -> main.length, "untraced_units" ->
        units.count(u => u.kind == mainKind && u.timed && !u.traced),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "unit" -> s.unit, "parent" -> s.parent, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "group" -> j.group, "exec" -> j.execId,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stageIds, "ok" -> j.succeeded)),
      "execs" -> execs.map(e => Map("id" -> e.id, "start" -> e.start,
        "end" -> e.end, "phases_ms" -> e.phasesMs, "output" -> e.output,
        "broadcast_bytes" -> e.broadcastBytes)))
  }
}
