package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Parquet table loaders for the driver-provided star schema
  * (TESTDATA.md). Every `SparkEntry.queries` entry receives an `sfDir`
  * and resolves tables through here so scans stay uniform. Every engine
  * parquet read goes through [[readParquet]], which resolves the schema
  * from one footer on the driver and hands it to the reader, so opening
  * a table launches no Spark job; column pruning and predicate pushdown
  * are left to Catalyst (SURVEY.md §2.1 S1-S3: the reference hand-codes
  * projection/pushdown at scan time, Spark derives them from the plan).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, Seq(s"$dir/$name.parquet"), recursive = false)

  /** `spark.read.parquet(paths: _*)` (with `recursiveFileLookup` when
    * `recursive`) without the one-task job Spark runs to infer the
    * schema — inference reads a single footer even with `mergeSchema`
    * off, so the job is pure scheduling cost. Mirrors that inference on
    * the driver: lists the roots the way Spark's file index does
    * (hidden `_`/`.` children skipped, explicit roots kept whatever
    * their name), picks the same file (first data file by path), and
    * converts its footer with Spark's own converter and session flags
    * ([[GraftParquetBridge]]). Layouts whose inference it does not
    * mirror — partition directories in a non-recursive read, `_metadata`
    * / `_common_metadata` summary files, no data file, and any root or
    * footer it cannot read (a missing path, a glob) — fall back to the
    * plain read, so they get Spark's own schema or Spark's own error. */
  def readParquet(spark: SparkSession, paths: Seq[String],
                  recursive: Boolean): DataFrame = {
    val options =
      if (recursive) Map("recursiveFileLookup" -> "true")
      else Map.empty[String, String]
    val schema =
      try firstDataFile(spark, paths, recursive)
        .flatMap(GraftParquetBridge.footerSchema(spark, _, options))
      catch { case scala.util.control.NonFatal(_) => None }
    val reader = spark.read.options(options)
    schema.fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  /** The file Spark's parquet inference would read under `paths`, or
    * None for a layout [[readParquet]] leaves to Spark. */
  private def firstDataFile(spark: SparkSession, paths: Seq[String],
                            recursive: Boolean): Option[FileStatus] = {
    // HadoopFSUtils.shouldFilterOutPathName: applies to children only
    def visible(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")) ||
        name.startsWith("_common_metadata") || name.startsWith("_metadata")
    val conf = spark.sessionState.newHadoopConf()
    def children(dir: FileStatus): Seq[FileStatus] =
      dir.getPath.getFileSystem(conf).listStatus(dir.getPath).toSeq
        .filter(c => visible(c.getPath.getName))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) children(st).flatMap(leaves) else Seq(st)
    val top = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val root = fs.getFileStatus(fs.makeQualified(path))
      if (root.isDirectory) children(root) else Seq(root)
    }
    val files =
      if (recursive) top.flatMap(leaves)
      else if (top.exists(_.isDirectory)) return None
      else top
    // summary files take precedence in Spark's inference
    if (files.exists(_.getPath.getName.startsWith("_"))) None
    else files.sortBy(_.getPath.toString).headOption
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Smallest value of an id column — the TRANSLATION-INVARIANT anchor
    * for fixture-window predicates. Queries that bound a demo subset
    * by absolute id (`l_orderkey < 400`, `vec_id < 50`) silently go
    * EMPTY on id-translated twins of the fixture (GenOffset's big-id
    * gate, SCALE.md r16), so they anchor at `minId(...) + K` instead:
    * identical results wherever ids start at 0 (every driver fixture
    * and GenScale replica set), the same translated window at any
    * offset. One column-min aggregation job per call — driver-side
    * scalar by contract (the CC limit-probe rule); callers embed the
    * result as a literal so the predicate still pushes down to the
    * scan. Empty input returns Long.MinValue (the window predicate
    * then selects nothing, matching an empty scan). */
  def minId(df: DataFrame, column: String): Long = {
    import org.apache.spark.sql.functions.min
    val row = df.agg(min(column)).head()
    if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
  }

  /** `events.ts` is written as parquet TIMESTAMP(NANOS) which Spark's
    * vectorized reader cannot represent as TimestampType; reading via
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in [[Sessions]])
    * yields a LongType of nanos-since-epoch. We normalize to a proper
    * TimestampType column (microsecond precision) here so downstream
    * operators see an event-time column, matching DuckDB's
    * `ts` truncated to micros.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: double division of ~1.7e18 nanos loses
        // precision (ulp 256 ns) and shifts ~1 in 8 rows by a microsecond
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
}
