package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** One traced interval. Times are epoch milliseconds with sub-ms
  * precision; `parent` is the id of the enclosing span (-1 at the top);
  * `unit` is the refresh, arrival or compaction the span belongs to. */
final case class Span(id: Int, name: String, layer: String, unit: String,
                      parent: Int, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

final case class JobRec(id: Int, group: String, execId: Long, start: Long,
                        end: Long, stageIds: Seq[Int], succeeded: Boolean)

final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, shuffleWrite: Long, spill: Long,
                          inBytes: Long, inRecords: Long, outRecords: Long)

/** One SQL execution: its start and end (epoch ms), the planner phase
  * durations from its QueryPlanningTracker, the output path when it is
  * a file write, and the broadcast bytes of its final plan. */
final case class ExecRec(id: Long, start: Long, end: Long,
                         phasesMs: Map[String, Long], output: Option[String],
                         broadcastBytes: Long)

/** The traced run's recorder: spans on the calling thread around every
  * call the benchmark makes into the engine, plus a SparkListener it
  * registers on the session for jobs, stages, cached blocks and SQL
  * executions (each execution's QueryExecution comes with its end
  * event). Everything stays in memory until the run ends. Jobs map to
  * the unit that launched them through the job group the benchmark sets
  * before each call, and to their SQL execution through its id. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private val jobStarts = new ConcurrentHashMap[Int, (String, Long, Long, Seq[Int])]()
  private val jobsDone = new ConcurrentHashMap[Int, JobRec]()
  private val stagesDone = new ConcurrentHashMap[Int, StageRec]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execInfo = new ConcurrentHashMap[Long, ExecRec]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachedNow = new AtomicLong(0L)
  private val cachedPeak = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobStarts.put(e.jobId, (prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (group, exec, start, stages) = Option(jobStarts.get(e.jobId))
        .getOrElse(("", -1L, e.time, Seq.empty[Int]))
      jobsDone.put(e.jobId, JobRec(e.jobId, group, exec, start, e.time, stages,
        e.jobResult == JobSucceeded))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stagesDone.put(i.stageId, StageRec(i.stageId,
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val prev = Option(blockBytes.put(b.blockId.name, size)).map(_.longValue)
          .getOrElse(0L)
        val cur = cachedNow.addAndGet(size - prev)
        cachedPeak.accumulateAndGet(cur, (a, c) => math.max(a, c))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Bridge.queryExecution(s).foreach(qe => record(s.executionId, s.time, qe))
      case _ =>
    }
  }

  private def record(id: Long, end: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val plan: Option[SparkPlan] = scala.util.Try(qe.executedPlan).toOption
    val output = plan.flatMap(p => collectFirst(p) {
      case d: DataWritingCommandExec => d.cmd
    }).collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    val bcast = plan.map(p => collect(p) {
      case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
    val start = Option(execStart.get(id)).map(_.longValue).getOrElse(end)
    execInfo.put(id, ExecRec(id, start, end, phases.toMap, output, bcast))
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    attached = false
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = Bridge.drain(spark.sparkContext)

  /** Start a new cached-bytes peak window; returns its baseline. */
  def resetCachedPeak(): Long = { drain(); val b = cachedNow.get(); cachedPeak.set(b); b }
  def cachedPeakBytes: Long = { drain(); cachedPeak.get() }

  /** Run `body` inside a span; spans nest on the calling thread. */
  def span[T](name: String, layer: String, unit: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, layer, unit, parent, Clock.now, Double.NaN)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = Clock.now)
    }
  }

  /** Jobs, stages and SQL executions collected so far. */
  def jobs: Seq[JobRec] = { drain(); jobsDone.values.asScala.toSeq.sortBy(_.id) }
  def stage(id: Int): Option[StageRec] = Option(stagesDone.get(id))
  def execs: Seq[ExecRec] = { drain(); execInfo.values.asScala.toSeq.sortBy(_.id) }
}
