package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.readParquet`: driver-side schema resolution must give
  * exactly Spark's inferred schema with zero Spark jobs on every layout
  * the engine reads (the fixture tables, the admission stores including
  * a crashed compaction's `.folded_*` root), and Spark's own schema or
  * error on the layouts it leaves to Spark. Plus the `Tables.events`
  * TIMESTAMP(NANOS) path, which no fixture exercises.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Spark jobs launched while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftTestBridge.drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = f
      GraftTestBridge.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  private def sparkRead(paths: Seq[String], recursive: Boolean): DataFrame =
    spark.read.option("recursiveFileLookup", recursive.toString)
      .parquet(paths: _*)

  /** The one data file a `coalesce(1)` write left in `dir`. */
  private def partFile(dir: String): java.nio.file.Path =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get

  /** Schema parity with Spark's inference, resolved with zero jobs (and
    * Spark's own read really does launch one, so zero is not vacuous). */
  private def assertParity(paths: Seq[String], recursive: Boolean): Unit = {
    val (got, n) = jobsDuring(Tables.readParquet(spark, paths, recursive).schema)
    val (want, m) = jobsDuring(sparkRead(paths, recursive).schema)
    assert(got == want, s"schema mismatch on $paths")
    assert(n == 0, s"$n Spark jobs while resolving $paths")
    assert(m >= 1, s"Spark's own read of $paths launched no job")
  }

  test("readParquet: the 10 fixture tables match Spark's schema with 0 jobs") {
    Tables.names.foreach(t =>
      assertParity(Seq(s"${SparkTestBase.sf}/$t.parquet"), recursive = false))
  }

  test("readParquet: an admission store, crash window included, matches Spark with 0 jobs") {
    val root = Files.createTempDirectory("graft_tables_store").toString
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val docs = spark.range(0, 40).select($"id".as("doc_id"),
      concat(lit("doc "), $"id".cast("string")).as("text"))
    docs.where($"doc_id" < 10).write.parquet(s"$root/mb_init")
    docs.where($"doc_id".between(10, 19)).write.parquet(s"$root/mb_2")
    docs.where($"doc_id".between(20, 29)).write.parquet(s"$root/mb_compact_0")
    // StreamingSpec's crash-window layout: a fold renamed into a
    // generation whose mb_compact dir was never written
    docs.where($"doc_id" >= 30).write.parquet(s"$root/mb_3")
    assert(fs.rename(new Path(root, "mb_3"), new Path(root, ".folded_1_mb_3")))
    val roots = Seq("mb_init", "mb_2", "mb_compact_0", ".folded_1_mb_3")
      .map(n => s"$root/$n")
    assertParity(roots, recursive = true)
    assert(Tables.readParquet(spark, roots, recursive = true).count() == 40)
    val (store, n) = jobsDuring(
      graft.llm.Admission.readStoreExceptSelf(spark, root, 9L).schema)
    assert(n == 0 && store == sparkRead(roots, recursive = true).schema)
  }

  test("readParquet: footers that differ resolve from the file Spark picks") {
    val root = Files.createTempDirectory("graft_tables_pick").toString
    Seq(1).toDF("a").coalesce(1).write.parquet(s"$root/a_dir")
    Seq((1, "s")).toDF("a", "b").coalesce(1).write.parquet(s"$root/b_dir")
    // across roots Spark takes the first data file by path, not by
    // argument order: a_dir's footer wins
    assertParity(Seq(s"$root/b_dir", s"$root/a_dir"), recursive = true)
    assert(Tables.readParquet(spark, Seq(s"$root/b_dir", s"$root/a_dir"),
      recursive = true).schema.fieldNames.toSeq == Seq("a"))
    // within one directory too: p0 (a, b) sorts before p1 (a)
    Files.createDirectories(Paths.get(s"$root/mixed"))
    Seq("a_dir" -> "p1.parquet", "b_dir" -> "p0.parquet").foreach { case (d, n) =>
      Files.copy(partFile(s"$root/$d"), Paths.get(s"$root/mixed/$n"))
    }
    assertParity(Seq(s"$root/mixed"), recursive = false)
    assert(Tables.readParquet(spark, Seq(s"$root/mixed"), recursive = false)
      .schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("readParquet: layouts it leaves to Spark give Spark's schema or error") {
    val root = Files.createTempDirectory("graft_tables_fallback").toString
    // partition directories in a non-recursive read: Spark adds `k`
    spark.range(0, 6).select($"id", ($"id" % 2).as("k"))
      .write.partitionBy("k").parquet(s"$root/part")
    assert(Tables.readParquet(spark, Seq(s"$root/part"), recursive = false)
      .schema == sparkRead(Seq(s"$root/part"), recursive = false).schema)
    assert(Tables.readParquet(spark, Seq(s"$root/part"), recursive = false)
      .schema.fieldNames.contains("k"))
    // a `_common_metadata` summary wins over the data footers in
    // Spark's inference: give it a different schema so the fallback
    // shows, and name the data file so it sorts before the summary
    Seq(1, 2).toDF("a").coalesce(1).write.parquet(s"$root/a")
    Seq("x").toDF("b").coalesce(1).write.parquet(s"$root/other")
    Files.createDirectories(Paths.get(s"$root/summ"))
    Files.copy(partFile(s"$root/a"), Paths.get(s"$root/summ/0.parquet"))
    Files.copy(partFile(s"$root/other"), Paths.get(s"$root/summ/_common_metadata"))
    val summ = Tables.readParquet(spark, Seq(s"$root/summ"), recursive = false)
    assert(summ.schema == sparkRead(Seq(s"$root/summ"), recursive = false).schema)
    assert(summ.schema.fieldNames.toSeq == Seq("b"))
    // no data file (only hidden and marker files), and a missing root:
    // Spark's own exception, same class and message
    Files.createDirectories(Paths.get(s"$root/empty/.hidden"))
    Files.write(Paths.get(s"$root/empty/_SUCCESS"), Array.emptyByteArray)
    Seq(false, true).foreach { rec =>
      Seq(s"$root/empty", s"$root/missing").foreach { p =>
        val mine = intercept[Exception](
          Tables.readParquet(spark, Seq(p), rec).schema)
        val theirs = intercept[Exception](sparkRead(Seq(p), rec).schema)
        assert(mine.getClass == theirs.getClass &&
          mine.getMessage == theirs.getMessage, s"$p recursive=$rec")
      }
    }
  }

  test("events: INT64 TIMESTAMP(NANOS) is div-truncated to TimestampType micros") {
    val dir = Files.createTempDirectory("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    // the last value's double quotient (…457.024) rounds UP to …457;
    // integer div truncates to …456, as DuckDB's ns -> us read does
    val nanos = Seq(0L, 1700000000123456789L, 1700000000123456999L)
    assert(math.round(nanos(2) / 1000.0) != nanos(2) / 1000)
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()

    val path = Seq(s"$dir/events.parquet")
    val resolved = Tables.readParquet(spark, path, recursive = false).schema
    assert(resolved == sparkRead(path, recursive = false).schema)
    assert(resolved("ts").dataType == LongType)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros($"ts"))
      .as[Long].collect().toSeq
    assert(micros == nanos.map(_ / 1000))
  }
}
