package perfbench

import java.io.File
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** One measured unit: a refresh, an arrival or a compaction. `start`
  * and `end` are epoch milliseconds; `rows` is the input rows (ads) or
  * documents audited (admission) the unit processed. */
final case class UnitRun(kind: String, index: Int, group: String,
                         start: Double, end: Double, ok: Boolean,
                         timed: Boolean, traced: Boolean,
                         rows: Long, inputBytes: Long,
                         bytesWritten: Long, filesWritten: Long,
                         error: Option[String] = None) {
  def seconds: Double = (end - start) / 1000.0
}

/** Epoch milliseconds with sub-millisecond precision: comparable with
  * the listener's event times, monotone within a run. */
object Clock {
  private val originNanos = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def now: Double = originMs + (System.nanoTime() - originNanos) / 1e6
}

/** Per-run context handed to the workloads: the session and the
  * recorder (traced runs only). */
final class Ctx(val spark: SparkSession, val rec: Option[Recorder]) {
  /** Whether the current unit records spans (traced runs alternate). */
  var tracing: Boolean = false

  def span[T](name: String, layer: String, unit: String)(body: => T): T =
    rec match {
      case Some(r) if tracing => r.span(name, layer, unit)(body)
      case _                  => body
    }

  /** Tag every job launched by the next calls with `group`. */
  def group(g: String): Unit =
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  def cores: Int = spark.sparkContext.defaultParallelism
}

/** File-system accounting for what a unit wrote and read. */
object Disk {
  /** Every file under `path`, or the file itself. */
  def listFiles(path: String): Seq[File] = {
    val root = new File(path)
    if (root.isDirectory) FileUtils.listFiles(root, null, true).asScala.toSeq
    else if (root.isFile) Seq(root)
    else Nil
  }

  /** (bytes, files) under `dir`, checksum and marker files included. */
  def size(dir: String): (Long, Long) = {
    val fs = listFiles(dir)
    (fs.map(_.length).sum, fs.length.toLong)
  }

  def parquetFiles(dir: String): Seq[File] =
    listFiles(dir).filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getPath)

  /** Row count from the parquet footers, without a Spark job. */
  def parquetRows(dir: String): Long = {
    val conf = new Configuration()
    parquetFiles(dir).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** (rows, md5 over the data files' bytes in part order) of one
    * published table: two refreshes that wrote the same rows in the
    * same order give the same digest. */
  def digest(dir: String): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    parquetFiles(dir).foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    (parquetRows(dir), md.digest().map("%02x".format(_)).mkString)
  }

  def delete(dir: String): Unit = FileUtils.deleteQuietly(new File(dir))
}
