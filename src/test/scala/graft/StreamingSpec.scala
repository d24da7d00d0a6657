package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import graft.core.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming correctness: stream==batch for the tumbling
  * aggregation (q37's incremental twin), watermark late-data drops, and
  * event-time state eviction in the custom-state operator.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Write `rows` as ONE flat parquet file `name` under `dir`, with a
    * controlled modification time so the file stream picks files up in
    * write order under maxFilesPerTrigger=1. */
  private def writeEventFile(dir: Path, name: String, seq: Int,
                             rows: Seq[(String, Long, String, Double)]): Unit = {
    val tmp = Files.createTempDirectory("graft_stream_part")
    rows.toDF("ts_str", "user_id", "event_type", "value")
      .select(to_timestamp($"ts_str").as("ts"), $"user_id", $"event_type", $"value")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val target = dir.resolve(name)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, FileTime.fromMillis(1700000000000L + seq * 60000L))
  }

  private def streamFrom(dir: Path): DataFrame =
    spark.readStream
      .schema("ts timestamp, user_id long, event_type string, value double")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)

  test("session_window stream equals batch, and batch equals sessionize") {
    val ev = Tables.events(spark, SparkTestBase.sf)
      .select($"ts", $"user_id", $"event_type", $"value")
    // boundary-semantics precondition (see sessionAggregates doc): the
    // two forms may only differ on a gap of EXACTLY 30 minutes — verify
    // the fixture has none, so the equalities below are meaningful
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val boundaryGaps = ev
      .withColumn("gap_us", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(wOrd)))
      .where($"gap_us" === 1800000000L).count()
    assert(boundaryGaps == 0L, "fixture has an exact-30min gap; pick another gap")

    // THREE time-ordered files under maxFilesPerTrigger=1 (streamFrom)
    // → three microbatches, so sessions spanning a file boundary are
    // MERGED across batches — the incremental state path a
    // single-batch run would never exercise
    val rows = ev.orderBy($"ts")
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        $"user_id", $"event_type", $"value")
      .as[(String, Long, String, Double)].collect().toSeq
    val dir = Files.createTempDirectory("graft_stream_sess")
    val chunk = (rows.length + 2) / 3
    rows.grouped(chunk).zipWithIndex.foreach { case (part, i) =>
      writeEventFile(dir, s"part$i.parquet", i, part)
    }
    val got = EventStream.runToMemorySink(spark,
        EventStream.sessionAggregates(streamFrom(dir)), "q05_stream",
        OutputMode.Complete())
      .select($"user_id", $"session_start", $"n_events", $"duration_us")
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    // stream == the SAME session_window aggregation run as one batch
    val batch = EventStream.sessionAggregates(ev)
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    assert(got == batch,
      s"stream vs batch: ${(got diff batch).take(3)} / ${(batch diff got).take(3)}")
    // ...and the batch session set matches the running-sum sessionize
    // (q05) on (n_events, duration) multisets per user
    val viaSessionize = graft.ops.Journeys
      .sessionize(ev, Seq($"user_id"), $"ts", 30.0, "sid")
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros($"ts")) - min(unix_micros($"ts"))).as("duration_us"))
      .select($"user_id", $"n_events", $"duration_us")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val viaWindow = batch.toSeq.map(r => (r._1, r._3, r._4)).sorted
    assert(viaWindow == viaSessionize)
    assert(got.nonEmpty)
  }

  test("tumblingCounts stream equals the q37 batch aggregation") {
    val ev = Tables.events(spark, SparkTestBase.sf)
      .select($"ts", $"user_id", $"event_type", $"value")
    // Static-source stream: complete mode emits the full aggregate.
    val dir = Files.createTempDirectory("graft_stream_q37")
    ev.write.mode(SaveMode.Overwrite).parquet(dir.resolve("events").toString)
    val stream = spark.readStream
      .schema("ts timestamp, user_id long, event_type string, value double")
      .parquet(dir.resolve("events").toString)
    val got = EventStream.runToMemorySink(spark,
        EventStream.tumblingCounts(stream), "q37_stream", OutputMode.Complete())
      .select($"window_start", $"event_type", $"n_events",
        round($"total_value", 2).as("total_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val want = ev.groupBy(window($"ts", "1 hour"), $"event_type")
      // same exact-cents expression as tumblingCounts — equality is
      // bit-exact, not up-to-double-summation-order
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Cleaning.sumExact2($"value").as("total_value"))
      .select($"window.start", $"event_type", $"n_events", $"total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got == want, s"stream vs batch: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    assert(got.nonEmpty)
  }

  test("watermark drops late events in update mode") {
    val dir = Files.createTempDirectory("graft_stream_late")
    writeEventFile(dir, "f1.parquet", 1, Seq(
      ("2025-01-01 10:00:00", 1L, "x", 1.0),
      ("2025-01-01 10:30:00", 2L, "x", 1.0),
      ("2025-01-01 12:00:00", 3L, "x", 1.0)))
    // Late-record filtering uses the watermark of the batch BEFORE the
    // one that commits (StateStoreSave carries (lateEventsWm, evictionWm)
    // — one batch of propagation delay), so the late row goes in its own
    // third batch: f1 advances the watermark to 10:00 after batch 0, f2
    // commits it for filtering, f3's 05:00 row is then dropped.
    writeEventFile(dir, "f2.parquet", 2, Seq(
      ("2025-01-01 13:00:00", 5L, "x", 1.0)))
    writeEventFile(dir, "f3.parquet", 3, Seq(
      ("2025-01-01 05:00:00", 4L, "x", 1.0),
      ("2025-01-01 14:00:00", 6L, "x", 1.0)))
    val out = EventStream.runToMemorySink(spark,
        EventStream.tumblingCounts(streamFrom(dir), "1 hour", "2 hours"),
        "late_drop", OutputMode.Update())
      .select(date_format($"window_start", "HH:mm").as("w"), $"n_events")
      .as[(String, Long)].collect()
    assert(!out.map(_._1).contains("05:00"),
      s"late event must be dropped at the watermark, got $out")
    assert(out.contains(("13:00", 1L)), s"fresh event missing: $out")
  }

  test("checkpointed AvailableNow runs resume without reprocessing (ST3)") {
    // The streaming form of the reference's `.imported` resume markers
    // (`data_ingestion/folder_import.R:68-91`): the checkpoint IS the
    // marker. Three runs over a file sink: initial load, an idempotent
    // re-run with no new input, and an incremental run that picks up
    // only the new file.
    val src = Files.createTempDirectory("graft_stream_resume")
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    def runOnce(): Long = {
      val q = streamFrom(src)
        .select($"ts", $"user_id", $"event_type", $"value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    writeEventFile(src, "f1.parquet", 1, Seq(
      ("2025-01-01 10:00:00", 1L, "x", 1.0),
      ("2025-01-01 11:00:00", 2L, "x", 2.0)))
    assert(runOnce() == 2L)
    assert(runOnce() == 2L, "re-run with no new files must add nothing")
    writeEventFile(src, "f2.parquet", 2, Seq(
      ("2025-01-01 12:00:00", 3L, "x", 3.0)))
    assert(runOnce() == 3L, "resume processes only the new file")
  }

  test("kill mid-run, resumed output identical to an uninterrupted run (ST3 e2e)") {
    // The continuous twin of the batch folder-import resume
    // (`data_ingestion/folder_import.R:68-91`): a file-sink query is
    // STOPPED while AvailableNow is still draining its 8 one-row
    // microbatches, then restarted on the same checkpoint. Exactly-once
    // requires the resumed run to (a) emit every input row exactly once
    // — no loss before the kill point, no replay after it — and (b)
    // produce the same row set as a never-interrupted control run on a
    // fresh sink+checkpoint.
    val src = Files.createTempDirectory("graft_stream_kill")
    val rows = (0 until 8).map { i =>
      (f"2025-01-01 ${10 + i}%02d:00:00", (i + 1).toLong, s"t$i", i * 1.5)
    }
    rows.zipWithIndex.foreach { case (r, i) =>
      writeEventFile(src, s"f$i.parquet", i, Seq(r))
    }
    def drain(out: String, ckpt: String, killEarly: Boolean): Unit = {
      val q = streamFrom(src)
        .select($"ts", $"user_id", $"event_type", $"value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (killEarly) {
        // stop as soon as at least one microbatch has committed — the
        // stop lands between/inside later microbatches, which is the
        // point: the checkpoint must make the cut position irrelevant
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (q.recentProgress.map(_.numInputRows).sum < 1 &&
               q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
        q.stop()
        q.awaitTermination()
      } else q.awaitTermination()
    }
    def collectOut(out: String) =
      spark.read.parquet(out)
        .select(date_format($"ts", "HH:mm").as("h"), $"user_id", $"event_type", $"value")
        .as[(String, Long, String, Double)].collect().sorted.toSeq

    val outA = Files.createTempDirectory("graft_stream_kill_outA").toString
    val ckptA = Files.createTempDirectory("graft_stream_kill_ckptA").toString
    drain(outA, ckptA, killEarly = true)  // interrupted...
    drain(outA, ckptA, killEarly = false) // ...then resumed to completion

    val outB = Files.createTempDirectory("graft_stream_kill_outB").toString
    val ckptB = Files.createTempDirectory("graft_stream_kill_ckptB").toString
    drain(outB, ckptB, killEarly = false) // uninterrupted control

    val resumed = collectOut(outA)
    assert(resumed.map(_._2).distinct.size == 8, s"exactly-once violated: $resumed")
    assert(resumed == collectOut(outB),
      "resumed output must equal the uninterrupted run")
  }

  test("firstSeenAggregates: create_time preserved across microbatches == q21 snapshot-join replay (ST4)") {
    // FOUR time-ordered one-file microbatches; keys re-appear across
    // batches so the preserve-first-seen path is exercised, new keys
    // appear mid-stream, and one key (D) arrives only in the last.
    val dir = Files.createTempDirectory("graft_stream_st4")
    val batches: Seq[Seq[(String, Long, String, Double)]] = Seq(
      Seq(("2025-01-01 10:00:00", 1L, "A", 1.0),
          ("2025-01-01 10:30:00", 2L, "A", 1.0),
          ("2025-01-01 10:45:00", 3L, "B", 1.0)),
      Seq(("2025-01-01 11:00:00", 4L, "B", 1.0),
          ("2025-01-01 11:15:00", 5L, "C", 1.0)),
      Seq(("2025-01-01 12:00:00", 6L, "A", 1.0),
          ("2025-01-01 12:10:00", 7L, "C", 1.0)),
      Seq(("2025-01-01 13:00:00", 8L, "D", 1.0),
          ("2025-01-01 13:05:00", 9L, "A", 1.0)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeEventFile(dir, s"f$i.parquet", i, rows)
    }
    val emissions = EventStream.runToMemorySink(spark,
        EventStream.firstSeenAggregates(streamFrom(dir), "event_type").toDF(),
        "st4_stream", OutputMode.Update())
      .as[(String, Long, Long, Long)].collect().toSeq
    // final store state = the latest upsert per key (n_rows is strictly
    // increasing per key, so max-by-n picks it)
    val finalState = emissions.groupBy(_._1)
      .map { case (k, rs) => k -> rs.maxBy(_._2) }
      .map { case (k, r) => k -> (r._2, r._3, r._4) }

    // q21's snapshot-join recurrence, replayed batch-by-batch over the
    // same files: the new snapshot takes coalesce(prev.create, batch
    // watermark-of-the-key) — exactly the batch operator's
    // `coalesce(prev_ts, now_ts)` per key
    def us(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    var snap = Map.empty[String, (Long, Long, Long)] // n, create, update
    batches.foreach { rows =>
      rows.groupBy(_._3).foreach { case (k, rs) =>
        val bn = rs.size.toLong
        val bmax = rs.map(r => us(r._1)).max
        snap += k -> snap.get(k)
          .map { case (n, c, u) => (n + bn, c, math.max(u, bmax)) }
          .getOrElse((bn, bmax, bmax))
      }
    }
    assert(finalState == snap,
      s"stream state vs snapshot-join replay:\n $finalState\n vs $snap")
    // the headline property, spelled out: A's create_time is batch 0's
    // A-watermark and survives being touched in batches 2 and 3
    assert(finalState("A") == ((4L, us("2025-01-01 10:30:00"),
      us("2025-01-01 13:05:00"))))
  }

  test("firstSeenAggregates: create_time survives kill-resume on the checkpoint (ST4 e2e)") {
    val src = Files.createTempDirectory("graft_stream_st4_kill")
    // six one-row microbatches, key X first seen in batch 0 and touched
    // in every later batch — whatever batch the kill lands in, the
    // resumed run must carry X's original create stamp forward
    (0 until 6).foreach { i =>
      writeEventFile(src, s"f$i.parquet", i,
        Seq((f"2025-01-01 ${10 + i}%02d:00:00", i.toLong, "X", 1.0)))
    }
    def drain(out: String, ckpt: String, killEarly: Boolean): Unit = {
      val q = EventStream.firstSeenAggregates(streamFrom(src), "event_type")
        .toDF()
        .writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode(SaveMode.Append).parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (killEarly) {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (q.recentProgress.map(_.numInputRows).sum < 2 &&
               q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
        q.stop()
        q.awaitTermination()
      } else q.awaitTermination()
    }
    // a killed batch can replay into the append sink; same batch_id →
    // identical rows, so distinct restores exactly-once
    def finalRow(out: String): (Long, Long, Long) =
      spark.read.parquet(out).distinct()
        .orderBy($"batch_id".desc).limit(1)
        .select($"n_rows", $"create_us", $"update_us")
        .as[(Long, Long, Long)].collect().head

    val outA = Files.createTempDirectory("graft_st4_outA").toString
    val ckptA = Files.createTempDirectory("graft_st4_ckptA").toString
    drain(outA, ckptA, killEarly = true)  // interrupted mid-drain...
    drain(outA, ckptA, killEarly = false) // ...resumed to completion
    val outB = Files.createTempDirectory("graft_st4_outB").toString
    val ckptB = Files.createTempDirectory("graft_st4_ckptB").toString
    drain(outB, ckptB, killEarly = false) // uninterrupted control

    val resumed = finalRow(outA)
    val control = finalRow(outB)
    assert(resumed == control,
      s"kill-resume state diverged: $resumed vs $control")
    val createUs = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
      .getTime * 1000L
    assert(resumed == ((6L, createUs,
      java.sql.Timestamp.valueOf("2025-01-01 15:00:00").getTime * 1000L)))
  }

  test("runningUserTotals evicts idle state at the event-time timeout") {
    val dir = Files.createTempDirectory("graft_stream_evict")
    // u1 active early with two events...
    writeEventFile(dir, "f1.parquet", 1, Seq(
      ("2025-01-01 10:00:00", 1L, "x", 5.0),
      ("2025-01-01 11:00:00", 1L, "x", 7.0)))
    // ...then 10 days of other-user traffic advances the watermark far
    // past u1's 24 h idle timeout...
    writeEventFile(dir, "f2.parquet", 2, Seq(
      ("2025-01-11 10:00:00", 2L, "x", 1.0)))
    writeEventFile(dir, "f3.parquet", 3, Seq(
      ("2025-01-11 11:00:00", 2L, "x", 1.0)))
    // ...and when u1 returns, its counter must restart from zero.
    writeEventFile(dir, "f4.parquet", 4, Seq(
      ("2025-01-11 12:00:00", 1L, "x", 9.0)))
    val rows = EventStream.runToMemorySink(spark,
        EventStream.runningUserTotals(streamFrom(dir),
          watermark = "2 hours", idleTimeout = "24 hours").toDF(),
        "evict", OutputMode.Update())
      .as[(Long, Long, Double)].collect()
    val u1 = rows.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet
    assert(u1 == Set((2L, 12.0), (1L, 9.0)),
      s"expected counter reset after eviction (2 then 1), got $u1")
  }

  test("intervalJoin stream-stream equals the batch join, state bounded by horizon") {
    val tapsDir = Files.createTempDirectory("graft_stream_taps")
    val fusDir = Files.createTempDirectory("graft_stream_fus")
    // taps for users 1..3; follow-ups: u1 inside the 30 min horizon,
    // u2 outside it, u3 exactly at the boundary (inclusive), u1 again
    // BEFORE its tap (must not match — strict fu_ts > tap_ts), and a
    // follow-up for an unknown user
    writeEventFile(tapsDir, "t1.parquet", 1, Seq(
      ("2025-01-01 10:00:00", 1L, "r1", 11.0),
      ("2025-01-01 10:00:00", 2L, "r2", 12.0),
      ("2025-01-01 10:00:00", 3L, "r3", 13.0)))
    writeEventFile(fusDir, "f1.parquet", 1, Seq(
      ("2025-01-01 10:10:00", 1L, "check", 21.0),
      ("2025-01-01 10:45:00", 2L, "check", 22.0),   // 45 min — outside
      ("2025-01-01 10:30:00", 3L, "check", 23.0),   // boundary — inside
      ("2025-01-01 09:59:00", 1L, "check", 24.0),   // before tap — no match
      ("2025-01-01 10:05:00", 9L, "check", 25.0)))  // unknown user
    // the fixture schema has no event_id; derive one from `value`
    // (distinct per row) identically on the stream and batch sides
    def withId(df: DataFrame): DataFrame =
      df.withColumn("event_id", $"value".cast("long"))
    def shape(df: DataFrame) =
      df.select($"user_id", $"tap_id", $"fu_id").as[(Long, Long, Long)]
        .collect().toSet
    val got = shape(EventStream.runToMemorySink(spark,
      EventStream.intervalJoin(withId(streamFrom(tapsDir)), withId(streamFrom(fusDir))),
      "ssjoin", OutputMode.Append()))
    // batch twin: identical join over static reads
    val want = {
      val t = withId(spark.read.parquet(tapsDir.toString))
        .select($"user_id", $"ts".as("tap_ts"), $"event_id".as("tap_id"))
      val f = withId(spark.read.parquet(fusDir.toString))
        .select($"user_id".as("fu_user"), $"ts".as("fu_ts"), $"event_id".as("fu_id"))
      shape(t.join(f, $"user_id" === $"fu_user" &&
          $"fu_ts" > $"tap_ts" &&
          $"fu_ts" <= $"tap_ts" + expr("INTERVAL 30 minutes"))
        .select($"user_id", $"tap_id", $"fu_id"))
    }
    assert(got == want, s"got=$got want=$want")
    assert(got.map(_._1) == Set(1L, 3L), "u1 in-horizon and u3 boundary only")
  }

  test("left-outer intervalJoin equals batch incl. unmatched rows, across 3+ microbatches") {
    val tapsDir = Files.createTempDirectory("graft_stream_lotaps")
    val fusDir = Files.createTempDirectory("graft_stream_lofus")
    // three time-ordered tap files (maxFilesPerTrigger=1 → ≥3
    // microbatches): u1 will match, u2's follow-up is outside the
    // horizon (unmatched), u3 has NO follow-up (unmatched), u4 matches
    // from a later batch
    writeEventFile(tapsDir, "t1.parquet", 1, Seq(
      ("2025-01-01 10:00:00", 1L, "r1", 11.0),
      ("2025-01-01 10:00:00", 2L, "r2", 12.0)))
    writeEventFile(tapsDir, "t2.parquet", 2, Seq(
      ("2025-01-01 10:05:00", 3L, "r3", 13.0)))
    writeEventFile(tapsDir, "t3.parquet", 3, Seq(
      ("2025-01-01 10:06:00", 4L, "r4", 14.0)))
    writeEventFile(fusDir, "f1.parquet", 1, Seq(
      ("2025-01-01 10:10:00", 1L, "check", 21.0),
      ("2025-01-01 10:45:00", 2L, "check", 22.0))) // 45 min — outside
    writeEventFile(fusDir, "f2.parquet", 2, Seq(
      ("2025-01-01 10:20:00", 4L, "check", 23.0)))
    // flush rows far past every open window on BOTH sides: the global
    // watermark is the MIN across inputs, and unmatched (null) rows
    // only emit once the watermark closes their match window
    writeEventFile(tapsDir, "t9.parquet", 9, Seq(
      ("2025-01-02 12:00:00", 999L, "rX", 91.0)))
    writeEventFile(fusDir, "f9.parquet", 9, Seq(
      ("2025-01-02 12:00:00", 999L, "check", 92.0)))
    def withId(df: DataFrame): DataFrame =
      df.withColumn("event_id", $"value".cast("long"))
    def shape(df: DataFrame) =
      df.where($"user_id" =!= 999L)
        .select($"user_id", $"tap_id", $"fu_id")
        .as[(Long, Long, Option[Long])].collect().toSet
    val got = shape(EventStream.runToMemorySink(spark,
      EventStream.intervalJoin(withId(streamFrom(tapsDir)),
        withId(streamFrom(fusDir)), joinType = "left_outer"),
      "ssjoin_lo", OutputMode.Append()))
    val want = {
      val t = withId(spark.read.parquet(tapsDir.toString))
        .select($"user_id", $"ts".as("tap_ts"), $"event_id".as("tap_id"))
      val f = withId(spark.read.parquet(fusDir.toString))
        .select($"user_id".as("fu_user"), $"ts".as("fu_ts"), $"event_id".as("fu_id"))
      shape(t.join(f, $"user_id" === $"fu_user" &&
          $"fu_ts" > $"tap_ts" &&
          $"fu_ts" <= $"tap_ts" + expr("INTERVAL 30 minutes"), "left_outer")
        .select($"user_id", $"tap_id", $"fu_id"))
    }
    assert(got == want, s"got=$got want=$want")
    // the unmatched taps surface with null follow-up columns
    assert(got.collect { case (u, _, None) => u } == Set(2L, 3L),
      s"expected u2 (outside horizon) and u3 (no follow-up) unmatched: $got")
    assert(got.collect { case (u, _, Some(_)) => u } == Set(1L, 4L))
  }

  test("stream-static decontamination equals the batch operator per doc") {
    // the one-aggregation shape of Spans.decontaminationStats runs
    // unchanged on a streaming corpus: static broadcast gram set +
    // one streaming groupBy (Complete mode)
    val sfDir = SparkTestBase.sf
    val docSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val bench = Tables.documents(spark, sfDir).where($"doc_id" % 50 === 0)
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .where($"doc_id" % 50 =!= 0)
    val got = EventStream.runToMemorySink(spark,
        graft.llm.Spans.decontaminationStats(stream, bench, "doc_id", "text",
          n = 8),
        "decon_stream", OutputMode.Complete())
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val want = graft.llm.Spans.decontaminationStats(
        Tables.documents(spark, sfDir).where($"doc_id" % 50 =!= 0),
        bench, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(want.exists(_._4), "fixture must contain contaminated docs")
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streaming MinHash banding emits exactly the batch candidate pair set") {
    // the continuous-ingest twin of q30's operator: same shingle
    // expression, the same band hashes (Dedup.bandHashes, the one
    // banding kernel), band buckets in flatMapGroupsWithState, each
    // pair emitted from its first shared band only — so the RAW output
    // is once per pair, no downstream distinct. Equality against the
    // batch generator over the whole corpus is the end-to-end parity
    // proof — a single diverging hash value moves a document to a
    // different bucket and breaks it. LlmSpec's brute-force test
    // already proves the batch set correct.
    val sfDir = SparkTestBase.sf
    val docSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    // synthetic event time from doc_id: deterministic, all rows well
    // inside one watermark horizon (arrival order is irrelevant to the
    // set contract — buckets accumulate)
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    val raw = EventStream.runToMemorySink(spark,
        EventStream.streamingMinhashCandidates(stream, "doc_id", "text", "ts"),
        "minhash_stream", OutputMode.Append())
      .select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq
    assert(!raw.exists(_._1 < 0), "no overflow sentinels expected at cap 500")
    assert(raw.size == raw.toSet.size,
      s"duplicate emissions: ${raw.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
    val got = raw.toSet
    val want = graft.llm.Dedup
      .minhashLshCandidates(Tables.documents(spark, sfDir), "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture must contain near-dup candidates")
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming perceptual-hash dedup emits exactly the batch pair set") {
    // the continuous-ingest twin of q80: same codegen'd dHash kernel,
    // bit-identical multi-block combination keys (Dedup.comboKeyExprs),
    // exact Hamming verification AT EMISSION (both hashes live in the
    // bucket state), and the batch join's canonical-combo filter
    // replayed at emission — so the raw output is once-per-pair, NO
    // downstream distinct. Multiset equality against the batch
    // operator, which MultimodalSpec already proves equal to brute
    // force.
    val sfDir = SparkTestBase.sf
    val dir = Files.createTempDirectory("graft_stream_phash")
    val ids = Tables.documents(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSeq
    // media parquet: payload bytes + synthetic event time from the id
    ids.grouped(ids.length / 2 + 1).foreach { chunk =>
      chunk.map(id => (id,
          new java.sql.Timestamp(1700000000000L + id * 1000L),
          graft.llm.Multimodal.syntheticBmp(id)))
        .toDF("media_id", "ts", "payload")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val raw = EventStream.runToMemorySink(spark,
        EventStream.streamingImageNearDupCandidates(stream,
          "media_id", "payload", "ts"),
        "phash_stream", OutputMode.Append())
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSeq
    assert(!raw.exists(_._1 < 0), "no overflow sentinels expected at cap 500")
    // canonical-combo emission: each pair appears EXACTLY once
    assert(raw.size == raw.toSet.size,
      s"duplicate emissions: ${raw.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
    val got = raw.toSet
    val want = graft.llm.Multimodal.imageNearDupPairs(
        ids.toDF("doc_id").transform(
          graft.llm.Multimodal.syntheticImageTable(_, "doc_id")),
        "media_id", "payload")
      .as[(Long, Long, Int)].collect().toSet
    assert(want.nonEmpty, "fixture must contain image near-dups")
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming Hamming twin rejects an explicit geometry the batch twin rejects") {
    // the twin shares the batch operator's geometry resolver: a
    // non-exhaustive explicit geometry (keyBlocks 3 > blocks 9 −
    // maxHamming 7) or one past 64 blocks throws while the query is
    // BUILT, before any stream starts — instead of running and
    // silently missing pairs (or banding zero-width blocks)
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_stream_geom")
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("media_id", LongType), StructField("ts", TimestampType),
        StructField("payload", BinaryType))))
      .parquet(dir.toString)
    val e = intercept[IllegalArgumentException] {
      EventStream.streamingImageNearDupCandidates(stream, "media_id",
        "payload", "ts", blocks = 9, maxHamming = 7, keyBlocks = 3)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
    intercept[IllegalArgumentException] {
      EventStream.streamingAudioNearDupCandidates(stream, "media_id",
        "payload", "ts", blocks = 65, maxHamming = 7, keyBlocks = 1)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("streaming audio near-dup emits exactly the batch pair set") {
    // the WAV twin of the image stream test: same bucket machinery,
    // acoustic fingerprint kernel; once-per-pair raw output equals the
    // batch operator (itself brute-force-pinned in MultimodalSpec)
    val sfDir = SparkTestBase.sf
    val dir = Files.createTempDirectory("graft_stream_afp")
    val ids = Tables.documents(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSeq
    ids.grouped(ids.length / 2 + 1).foreach { chunk =>
      chunk.map(id => (id,
          new java.sql.Timestamp(1700000000000L + id * 1000L),
          graft.llm.Multimodal.syntheticPcmWav(id)))
        .toDF("media_id", "ts", "payload")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val raw = EventStream.runToMemorySink(spark,
        EventStream.streamingAudioNearDupCandidates(stream,
          "media_id", "payload", "ts"),
        "afp_stream", OutputMode.Append())
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSeq
    assert(!raw.exists(_._1 < 0), "no overflow sentinels expected at cap 500")
    assert(raw.size == raw.toSet.size,
      s"duplicate emissions: ${raw.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
    val want = graft.llm.Multimodal.audioNearDupPairs(
        ids.toDF("doc_id").transform(
          graft.llm.Multimodal.syntheticAudioTable(_, "doc_id")),
        "media_id", "payload")
      .as[(Long, Long, Int)].collect().toSet
    assert(want.nonEmpty, "fixture must contain audio near-dups")
    assert(raw.toSet == want,
      s"missed=${(want -- raw.toSet).take(5)} extra=${(raw.toSet -- want).take(5)}")
  }

  test("streaming perceptual-hash bucket cap emits a loud sentinel") {
    // identical payloads over cap: members up to the cap emit their
    // canonical pairs; the row that overflows the bucket emits ONE
    // (-1, key, -1) sentinel per overflowed bucket and the bucket goes
    // quiet until eviction — recall loss is announced, not silent.
    val dir = Files.createTempDirectory("graft_stream_phash_cap")
    val mk = (id: Long) => (id,
      new java.sql.Timestamp(1700000000000L + id * 1000L),
      graft.llm.Multimodal.syntheticBmp(7L)) // same image -> same hash
    // two files with ordered mtimes + maxFilesPerTrigger=1 → member 4
    // arrives in a SECOND microbatch, after the bucket holds {1,2,3}
    def writeMediaFile(name: String, seq: Int, ids: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("graft_phash_part")
      ids.map(mk).toDF("media_id", "ts", "payload")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val target = dir.resolve(name)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(1700000000000L + seq * 60000L))
    }
    writeMediaFile("m0.parquet", 0, Seq(1L, 2L, 3L))
    writeMediaFile("m1.parquet", 1, Seq(4L))
    val stream = spark.readStream
      .schema("media_id long, ts timestamp, payload binary")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val rows = EventStream.runToMemorySink(spark,
        EventStream.streamingImageNearDupCandidates(stream,
          "media_id", "payload", "ts", maxBucketSize = 3),
        "phash_cap_stream", OutputMode.Append())
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSeq
    val (sentinels, pairs) = rows.partition(_._1 < 0)
    // identical hashes share ALL combos; canonical filter keeps combo 0
    assert(pairs.toSet == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      s"pairs=$pairs")
    assert(pairs.size == 3, s"once per pair, got $pairs")
    // every combo bucket of the shared hash overflows on member 4:
    // C(9,2) = 36 sentinels, one per bucket
    assert(sentinels.size == 36 &&
        sentinels.forall(r => r._1 == -1L && r._3 == -1),
      s"sentinels=${sentinels.size}: ${sentinels.take(5)}")
  }

  test("batch Hamming bucket cap matches the streaming twin: capped pairs + loud sentinels, exhaustive with cap off") {
    // the batch form of the streaming cap test above: same 4 identical
    // images, cap 3. With ids in order (the twin's arrival order) the
    // batch output must equal the stream's — pairs among the 3
    // lowest-id members once each (canonical combo), plus ONE
    // (-1, key, -1) sentinel per over-cap bucket with the SAME bucket
    // keys the streaming state keys on (both sides use comboKeyExprs).
    val media = Seq(1L, 2L, 3L, 4L)
      .map(id => (id, graft.llm.Multimodal.syntheticBmp(7L)))
      .toDF("media_id", "payload")
    val rows = graft.llm.Multimodal.imageNearDupPairs(media, "media_id",
        "payload", maxBucketSize = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val (sentinels, pairs) = rows.partition(_._1 < 0)
    assert(pairs.toSet == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)) &&
      pairs.size == 3, s"pairs=$pairs")
    assert(sentinels.size == 36 &&
      sentinels.forall(r => r._1 == -1L && r._3 == -1),
      s"sentinels=${sentinels.size}: ${sentinels.take(5)}")
    // bucket-key parity with the streaming twin, pinned exactly: the
    // sentinel keys must be the 36 combination keys of the shared hash
    val sh = media.limit(1).select(
      graft.functions.PerceptualHash.d_hash($"payload").as("sh"))
    val expectedKeys = sh.select(posexplode(array(
        graft.llm.Dedup.comboKeyExprs(Seq($"sh"), 9, 2): _*)).as(Seq("c", "k")))
      .select($"k").as[Long].collect().toSeq.sorted
    assert(sentinels.map(_._2).sorted == expectedKeys,
      "sentinel bucket keys diverged from comboKeyExprs")
    // cap off (the default): exhaustive, no sentinels — the registered
    // q80/q84/q101 plans are unchanged
    val off = graft.llm.Multimodal.imageNearDupPairs(media, "media_id",
        "payload")
      .as[(Long, Long, Int)].collect().toSeq
    assert(off.size == 6 && off.forall(_._1 >= 0), s"off=$off")
    spark.catalog.clearCache()
  }

  test("streaming MinHash bucket cap poisons hot buckets and bounds state") {
    // 4 identical docs with cap 3: members 1..3 emit C(3,2)=3 pairs,
    // once each from their first shared band (band 0); member 4
    // overflows — no new pairs, list dropped. Identical docs share
    // EVERY band, so each of the 16 band buckets overflows and says so
    // with one (-1, band_hash, -1) sentinel.
    val dir = Files.createTempDirectory("graft_stream_mh")
    writeEventFile(dir, "p0.parquet", 0, Seq(
      ("2024-01-01 10:00:00", 1L, "alpha beta gamma delta", 1.0),
      ("2024-01-01 10:01:00", 2L, "alpha beta gamma delta", 1.0),
      ("2024-01-01 10:02:00", 3L, "alpha beta gamma delta", 1.0)))
    writeEventFile(dir, "p1.parquet", 1, Seq(
      ("2024-01-01 10:03:00", 4L, "alpha beta gamma delta", 1.0)))
    val got = EventStream.runToMemorySink(spark,
        EventStream.streamingMinhashCandidates(streamFrom(dir),
          "user_id", "event_type", "ts", maxBucketSize = 3),
        "minhash_cap_stream", OutputMode.Append())
      .select($"id_a", $"id_b", $"band").as[(Long, Long, Int)].collect()
    val (sentinels, pairs) = got.toSeq.partition(_._1 < 0)
    assert(pairs.sorted == Seq((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      s"3 pairs once each from band 0, doc 4 none after the poison: $pairs")
    val bandHashes = Seq("alpha beta gamma delta").toDF("t")
      .select(graft.llm.Dedup.bandHashes(graft.llm.Dedup.shingles($"t", 2)))
      .as[Seq[Long]].head()
    assert(sentinels.map(_._2).sorted == bandHashes.sorted &&
      sentinels.forall(r => r._1 == -1L && r._3 == -1),
      s"one sentinel per band bucket: ${sentinels.toSeq}")
  }

  test("streamingExactDedup emits one row per canonical fingerprint") {
    val dir = Files.createTempDirectory("graft_stream_dedup")
    // event_type plays the document text; "A b" / " a  B " canonicalize
    // to the same fingerprint, "c" is distinct.
    writeEventFile(dir, "p0.parquet", 0, Seq(
      ("2024-01-01 10:00:00", 1L, "A b", 1.0),
      ("2024-01-01 10:01:00", 2L, " a  B ", 1.0),
      ("2024-01-01 10:02:00", 3L, "c", 1.0)))
    writeEventFile(dir, "p1.parquet", 1, Seq(
      ("2024-01-01 10:30:00", 4L, "a B", 1.0), // dup inside watermark
      ("2024-01-01 10:31:00", 5L, "d", 1.0)))
    val got = EventStream.runToMemorySink(spark,
        EventStream.streamingExactDedup(streamFrom(dir), "event_type", "ts"),
        "dedup_stream", OutputMode.Append())
      .select($"event_type").as[String].collect().toSeq
    // exactly one representative for the {A b} group, plus c and d
    assert(got.size == 3, s"expected 3 unique docs, got $got")
    assert(got.map(_.toLowerCase.replaceAll("\\s+", " ").trim).toSet ==
      Set("a b", "c", "d"))
  }

  test("streaming admission: kill-resume microbatch audits == one-shot audit over growing artifacts") {
    import graft.llm.{Admission, Dedup}
    val d = Tables.documents(spark, SparkTestBase.sf)
    val batch = d.where($"doc_id" % 10 === 7)
    val corpus = d.where($"doc_id" % 10 =!= 7)

    val root = Files.createTempDirectory("graft_admission")
    val (seenDir, indexDir, fpsDir, auditDir, srcDir, ckpt) =
      (root.resolve("seen"), root.resolve("index"), root.resolve("fps"),
        root.resolve("audit"), root.resolve("src"), root.resolve("ckpt"))
    Files.createDirectories(srcDir)
    try {
      // freeze the corpus artifacts: seen docs, their band index, and
      // their fingerprints, seeded under their own store subdirs (the
      // service layout)
      corpus.select($"doc_id", $"text")
        .write.parquet(seenDir.resolve("mb_init").toString)
      Dedup.minhashBandIndex(corpus, "doc_id", "text")
        .write.parquet(indexDir.resolve("mb_init").toString)
      corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
        .write.parquet(fpsDir.resolve("mb_init").toString)

      // the batch arrives as FIVE id-ordered micro-batches (ids
      // monotone ACROSS batches — the documented arrival contract)
      val ids = batch.select($"doc_id").as[Long].collect().sorted
      val n = 5
      val bounds = (1 until n).map(i => ids(i * ids.length / n))
      val parts = (0 until n).map { i =>
        val lo = if (i == 0) Long.MinValue else bounds(i - 1)
        val hi = if (i == n - 1) Long.MaxValue else bounds(i)
        batch.where($"doc_id" >= lo && $"doc_id" < hi)
      }
      parts.zipWithIndex.foreach { case (p, i) =>
        val tmp = Files.createTempDirectory("graft_adm_part")
        p.select($"doc_id", $"text").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val target = srcDir.resolve(f"b$i%02d.parquet")
        Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(target,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }

      def drain(killEarly: Boolean): Unit = {
        val q = spark.readStream
          .schema("doc_id long, text string")
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            Admission.processMicroBatch(b, id, "doc_id", "text",
              seenDir.toString, indexDir.toString, fpsDir.toString,
              auditDir.toString)
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        if (killEarly) {
          // stop once at least one micro-batch committed: the restart
          // must overwrite (not duplicate) any partially-landed subdir
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                 q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
          q.stop(); q.awaitTermination()
        } else q.awaitTermination()
      }
      drain(killEarly = true)  // interrupted...
      drain(killEarly = false) // ...resumed on the same checkpoint

      def rows(df: DataFrame): Seq[(Long, Boolean, Boolean, Boolean, Boolean)] =
        df.select($"doc_id", $"gate_pass", $"exact_dup", $"near_dup",
            $"admitted")
          .as[(Long, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSeq.sortBy(_._1)
      val streamed = rows(spark.read
        .option("recursiveFileLookup", "true").parquet(auditDir.toString))
      // exactly-once first: a replayed batch must not double-audit
      assert(streamed.map(_._1).distinct.size == streamed.size,
        "duplicate audit rows after kill-resume")
      val oneShot = rows(Admission.audit(corpus, batch, "doc_id", "text",
        Dedup.minhashBandIndex(corpus, "doc_id", "text")))
      assert(streamed == oneShot,
        s"streamed audit diverged: ${streamed.diff(oneShot).take(5)} vs " +
          s"${oneShot.diff(streamed).take(5)}")

      // and the grown store equals a from-scratch rebuild (append law,
      // end to end through the service path, across the kill)
      val grown = spark.read
        .option("recursiveFileLookup", "true").parquet(indexDir.toString)
        .select($"id", $"band", $"band_hash")
        .as[(Long, Int, Long)].collect().toSet
      val rebuilt = Dedup.minhashBandIndex(d, "doc_id", "text")
        .select($"id", $"band", $"band_hash")
        .as[(Long, Int, Long)].collect().toSet
      assert(grown == rebuilt, "grown index != from-scratch rebuild")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("auditMultimodalWithFps media flags survive a string id column") {
    // caller-typed doc ids (numeric strings) must not null out the
    // long-keyed media probe joins — the join casts explicitly
    import graft.llm.{Admission, Dedup}
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus text about spark aggregation"))
      .toDF("doc_id", "text")
    val batch = Seq(
      ("100", "one fresh arriving document with its own unique words"),
      ("101", "another fresh arriving document carrying different words"),
      ("102", "a third clean arriving document nothing matches it at all"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(seen, "doc_id", "text")
    val fps = seen.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
    val imageFps = Seq((1L, 0L)).toDF("id", "sh")
    val audioFps = Seq((2L, -1L)).toDF("id", "sh")
    val batchImageFp = Seq((100L, 3L)).toDF("id", "sh")   // hamming 2 from store
    val batchAudioFp = Seq((101L, -2L)).toDF("id", "sh")  // hamming 1 from store
    val got = Admission.auditMultimodalWithFps(seen, batch, "doc_id",
        "text", index, fps, imageFps, audioFps, batchImageFp, batchAudioFp)
      .select($"doc_id", $"image_dup", $"audio_dup")
      .as[(String, Boolean, Boolean)].collect()
      .map { case (k, i, a) => (k, (i, a)) }.toMap
    assert(got("100") == ((true, false)), s"got $got")
    assert(got("101") == ((false, true)), s"got $got")
    assert(got("102") == ((false, false)), s"got $got")
  }

  test("multimodal admission service: kill-resume microbatch audits == one-shot multimodal audit") {
    import graft.llm.{Admission, Dedup, Multimodal}
    val d = Tables.documents(spark, SparkTestBase.sf)
    def withMedia(df: DataFrame): DataFrame = {
      val imgs = Multimodal.syntheticImageTable(df.select($"doc_id"), "doc_id")
        .select($"media_id".as("__iid"), $"payload".as("img"))
      val wavs = Multimodal.syntheticAudioTable(df.select($"doc_id"), "doc_id")
        .select($"media_id".as("__aid"), $"payload".as("wav"))
      df.select($"doc_id", $"text")
        .join(imgs, $"doc_id" === $"__iid").drop("__iid")
        .join(wavs, $"doc_id" === $"__aid").drop("__aid")
    }
    val full = withMedia(d)
    val batch = full.where($"doc_id" % 10 === 7)
    val corpus = full.where($"doc_id" % 10 =!= 7)

    val root = Files.createTempDirectory("graft_mm_admission")
    val dirs = Seq("seen", "index", "fps", "imgfp", "audfp", "audit",
      "src", "ckpt").map(root.resolve)
    val Seq(seenDir, indexDir, fpsDir, imgFpDir, audFpDir, auditDir,
      srcDir, ckpt) = dirs
    Files.createDirectories(srcDir)
    try {
      corpus.select($"doc_id", $"text")
        .write.parquet(seenDir.resolve("mb_init").toString)
      Dedup.minhashBandIndex(corpus, "doc_id", "text")
        .write.parquet(indexDir.resolve("mb_init").toString)
      corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
        .write.parquet(fpsDir.resolve("mb_init").toString)
      corpus.select($"doc_id".cast("long").as("id"),
          graft.functions.PerceptualHash.d_hash($"img").as("sh"))
        .where($"sh".isNotNull)
        .write.parquet(imgFpDir.resolve("mb_init").toString)
      corpus.select($"doc_id".cast("long").as("id"),
          graft.functions.AudioFingerprint.audio_fp($"wav").as("sh"))
        .where($"sh".isNotNull)
        .write.parquet(audFpDir.resolve("mb_init").toString)

      // THREE id-ordered micro-batches (ids monotone across batches)
      val ids = batch.select($"doc_id").as[Long].collect().sorted
      val n = 3
      val bounds = (1 until n).map(i => ids(i * ids.length / n))
      val parts = (0 until n).map { i =>
        val lo = if (i == 0) Long.MinValue else bounds(i - 1)
        val hi = if (i == n - 1) Long.MaxValue else bounds(i)
        batch.where($"doc_id" >= lo && $"doc_id" < hi)
      }
      parts.zipWithIndex.foreach { case (p, i) =>
        val tmp = Files.createTempDirectory("graft_mm_part")
        p.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val target = srcDir.resolve(f"b$i%02d.parquet")
        Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(target,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }

      def drain(killEarly: Boolean): Unit = {
        val q = spark.readStream
          .schema("doc_id long, text string, img binary, wav binary")
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            Admission.processMultimodalMicroBatch(b, id, "doc_id",
              "text", "img", "wav", seenDir.toString, indexDir.toString,
              fpsDir.toString, imgFpDir.toString, audFpDir.toString,
              auditDir.toString)
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        if (killEarly) {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                 q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
          q.stop(); q.awaitTermination()
        } else q.awaitTermination()
      }
      drain(killEarly = true)
      drain(killEarly = false)

      def rows(df: DataFrame) =
        df.select($"doc_id", $"gate_pass", $"exact_dup", $"near_dup",
            $"image_dup", $"audio_dup", $"admitted")
          .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSeq.sortBy(_._1)
      val streamed = rows(spark.read
        .option("recursiveFileLookup", "true").parquet(auditDir.toString))
      assert(streamed.map(_._1).distinct.size == streamed.size,
        "duplicate audit rows after kill-resume")
      val oneShot = rows(Admission.auditMultimodal(corpus, batch,
        "doc_id", "text", "img", "wav",
        Dedup.minhashBandIndex(corpus, "doc_id", "text")))
      assert(streamed == oneShot,
        s"streamed multimodal audit diverged: " +
          s"${streamed.diff(oneShot).take(5)} vs ${oneShot.diff(streamed).take(5)}")
      // media stores grew by exactly the batch's fingerprints: grown
      // store == from-scratch rebuild over corpus + batch
      val grownImg = spark.read.option("recursiveFileLookup", "true")
        .parquet(imgFpDir.toString).as[(Long, Long)].collect().toSet
      val rebuiltImg = withMedia(d)
        .select($"doc_id".cast("long").as("id"),
          graft.functions.PerceptualHash.d_hash($"img").as("sh"))
        .where($"sh".isNotNull).as[(Long, Long)].collect().toSet
      assert(grownImg == rebuiltImg, "grown image-fp store != rebuild")
      val grownAud = spark.read.option("recursiveFileLookup", "true")
        .parquet(audFpDir.toString).as[(Long, Long)].collect().toSet
      val rebuiltAud = withMedia(d)
        .select($"doc_id".cast("long").as("id"),
          graft.functions.AudioFingerprint.audio_fp($"wav").as("sh"))
        .where($"sh".isNotNull).as[(Long, Long)].collect().toSet
      assert(grownAud == rebuiltAud, "grown audio-fp store != rebuild")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("paragraph-cleaning service: cumulative micro-batch output == one-shot restriction; crash-replay idempotent") {
    import graft.llm.{Admission, Spans}
    val sep = "\n\n"
    val d = Tables.documents(spark, SparkTestBase.sf)
    // q94-style second paragraph: corpus-wide boilerplate + unique tails
    val para = when($"doc_id" % 3 === 0,
        lit("subscribe to our newsletter for updates"))
      .when($"doc_id" % 3 === 1, lit("copyright all rights reserved worldwide"))
      .otherwise(concat(lit("unique footnote ref "), $"doc_id".cast("string")))
    val Big = 1000000000000L
    val docs = d.select(
      when($"doc_id" % 10 === 7, $"doc_id" + Big).otherwise($"doc_id")
        .as("doc_id"),
      concat($"text", lit(sep), para).as("t"))
    val corpus = docs.where($"doc_id" < Big)
    val arriving = docs.where($"doc_id" >= Big)
    val ids = arriving.select($"doc_id").as[Long].collect().sorted
    val parts = (0 until 3).map { i =>
      val lo = ids(i * ids.length / 3)
      val hi = if (i == 2) Long.MaxValue else ids((i + 1) * ids.length / 3)
      arriving.where($"doc_id" >= lo && $"doc_id" < hi)
    }
    val root = Files.createTempDirectory("graft_para_svc")
    try {
      val (store, cleaned) = (s"$root/store", s"$root/cleaned")
      Spans.paragraphHashStore(corpus, "doc_id", "t")
        .write.parquet(s"$store/mb_init")
      parts.zipWithIndex.foreach { case (p, i) =>
        Admission.processCleaningMicroBatch(p, i.toLong, "doc_id", "t",
          store, cleaned)
      }
      // crash-replay of the LAST batch: its subdirs rewrite, not append
      Admission.processCleaningMicroBatch(parts(2), 2L, "doc_id", "t",
        store, cleaned)
      def rows(df: DataFrame) = df
        .select($"doc_id", $"cleaned", $"paras_before", $"paras_removed",
          $"changed")
        .as[(Long, String, Long, Long, Boolean)]
        .collect().toSeq.sortBy(_._1)
      val streamed = rows(spark.read
        .option("recursiveFileLookup", "true").parquet(cleaned))
      assert(streamed.map(_._1).distinct.size == streamed.size,
        "duplicate cleaned rows after replay")
      val oneShot = rows(Spans.removeDuplicateParagraphs(
          corpus.unionByName(arriving), "doc_id", "t")
        .where($"doc_id" >= Big))
      assert(streamed == oneShot,
        s"service diverged from one-shot restriction: " +
          s"${streamed.diff(oneShot).take(3)} vs ${oneShot.diff(streamed).take(3)}")
      // the fixture provably exercises both rules: store hits AND
      // batch-internal keepers
      assert(streamed.exists(_._4 > 0))
      assert(streamed.exists(!_._5))
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("admission compaction: audits and stores identical with and without compactStore; replay after compaction stays idempotent") {
    import graft.llm.{Admission, Dedup}
    val d = Tables.documents(spark, SparkTestBase.sf)
    val corpus = d.where($"doc_id" % 10 =!= 7)
    val all = d.where($"doc_id" % 10 === 7)
      .select($"doc_id", $"text").orderBy($"doc_id")
    val ids = all.select($"doc_id").as[Long].collect()
    val parts = (0 until 4).map { i =>
      val lo = ids(i * ids.length / 4)
      val hi = if (i == 3) Long.MaxValue else ids((i + 1) * ids.length / 4)
      all.where($"doc_id" >= lo && $"doc_id" < hi)
    }

    def run(compact: Boolean): (Seq[(Long, Boolean, Boolean, Boolean, Boolean)], Set[(Long, Int, Long)]) = {
      val root = Files.createTempDirectory("graft_adm_compact")
      val (seen, index, fps, audit) = (s"$root/seen", s"$root/index",
        s"$root/fps", s"$root/audit")
      try {
        corpus.select($"doc_id", $"text").write.parquet(s"$seen/mb_init")
        Dedup.minhashBandIndex(corpus, "doc_id", "text")
          .write.parquet(s"$index/mb_init")
        corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
          .write.parquet(s"$fps/mb_init")
        parts.zipWithIndex.foreach { case (p, i) =>
          Admission.processMicroBatch(p, i.toLong, "doc_id", "text",
            seen, index, fps, audit)
          if (compact && i == 2) {
            // fold mb_init + mb_0..mb_1 (safeBelow = the current batch
            // id, so the possibly-replayable mb_2 stays unfolded)
            Seq(seen, index, fps)
              .foreach(Admission.compactStore(spark, _, 2L))
            // crash-replay of batch 2 AFTER compaction: its subdir was
            // not folded, so the overwrite stays idempotent
            Admission.processMicroBatch(parts(2), 2L, "doc_id", "text",
              seen, index, fps, audit)
          }
        }
        val audits = spark.read.option("recursiveFileLookup", "true")
          .parquet(audit)
          .select($"doc_id", $"gate_pass", $"exact_dup", $"near_dup",
            $"admitted")
          .as[(Long, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSeq.sortBy(_._1)
        val store = spark.read.option("recursiveFileLookup", "true")
          .parquet(index).select($"id", $"band", $"band_hash")
          .as[(Long, Int, Long)].collect().toSet
        (audits, store)
      } finally {
        import scala.jdk.CollectionConverters._
        Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    val (plainAudit, plainStore) = run(compact = false)
    val (compAudit, compStore) = run(compact = true)
    assert(plainAudit.nonEmpty && plainAudit.map(_._1).distinct.size ==
      plainAudit.size)
    assert(compAudit == plainAudit,
      s"audits diverged under compaction: " +
        s"${compAudit.diff(plainAudit).take(5)}")
    assert(compStore == plainStore, "index store diverged under compaction")
  }

  test("multimodal admission compaction: audits and all five stores identical with and without compactStore") {
    import graft.llm.{Admission, Dedup, Multimodal}
    // ids spread x10 across five 100-wide blocks so the SPARSE media
    // fixtures' phases (image blocks = 0 mod 4, audio = 2 mod 4) are
    // all populated at this SF; batch = original id % 10 == 7
    val d = Tables.documents(spark, SparkTestBase.sf)
      .select(($"doc_id" * 10).as("doc_id"), $"text")
    def withMedia(df: DataFrame): DataFrame = {
      val imgs = Multimodal.syntheticImageTableSparse(
          df.select($"doc_id"), "doc_id")
        .select($"media_id".as("__iid"), $"payload".as("img"))
      val wavs = Multimodal.syntheticAudioTableSparse(
          df.select($"doc_id"), "doc_id")
        .select($"media_id".as("__aid"), $"payload".as("wav"))
      df.select($"doc_id", $"text")
        .join(imgs, $"doc_id" === $"__iid").drop("__iid")
        .join(wavs, $"doc_id" === $"__aid").drop("__aid")
    }
    val full = withMedia(d)
    val corpus = full.where($"doc_id" % 100 =!= 70)
    val all = full.where($"doc_id" % 100 === 70).orderBy($"doc_id")
    val ids = all.select($"doc_id").as[Long].collect()
    val parts = (0 until 4).map { i =>
      val lo = ids(i * ids.length / 4)
      val hi = if (i == 3) Long.MaxValue else ids((i + 1) * ids.length / 4)
      all.where($"doc_id" >= lo && $"doc_id" < hi)
    }

    type Audit = (Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)
    def run(compact: Boolean)
        : (Seq[Audit], Set[(Long, Long)], Set[(Long, Long)]) = {
      val root = Files.createTempDirectory("graft_mm_compact")
      val (seen, index, fps, imgFp, audFp, audit) =
        (s"$root/seen", s"$root/index", s"$root/fps",
          s"$root/imgfp", s"$root/audfp", s"$root/audit")
      try {
        corpus.select($"doc_id", $"text").write.parquet(s"$seen/mb_init")
        Dedup.minhashBandIndex(corpus, "doc_id", "text")
          .write.parquet(s"$index/mb_init")
        corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
          .write.parquet(s"$fps/mb_init")
        corpus.select($"doc_id".cast("long").as("id"),
            graft.functions.PerceptualHash.d_hash($"img").as("sh"))
          .where($"sh".isNotNull).write.parquet(s"$imgFp/mb_init")
        corpus.select($"doc_id".cast("long").as("id"),
            graft.functions.AudioFingerprint.audio_fp($"wav").as("sh"))
          .where($"sh".isNotNull).write.parquet(s"$audFp/mb_init")
        parts.zipWithIndex.foreach { case (p, i) =>
          Admission.processMultimodalMicroBatch(p, i.toLong, "doc_id",
            "text", "img", "wav", seen, index, fps, imgFp, audFp, audit)
          if (compact && i == 2) {
            // fold mb_init + mb_0..mb_1 in ALL FIVE stores (safeBelow =
            // the current batch id, so replayable mb_2 stays unfolded)
            Seq(seen, index, fps, imgFp, audFp)
              .foreach(Admission.compactStore(spark, _, 2L))
            // crash-replay of batch 2 AFTER compaction stays idempotent
            Admission.processMultimodalMicroBatch(parts(2), 2L, "doc_id",
              "text", "img", "wav", seen, index, fps, imgFp, audFp, audit)
          }
        }
        val audits = spark.read.option("recursiveFileLookup", "true")
          .parquet(audit)
          .select($"doc_id", $"gate_pass", $"exact_dup", $"near_dup",
            $"image_dup", $"audio_dup", $"admitted")
          .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSeq.sortBy(_._1)
        def fpStore(dir: String) =
          spark.read.option("recursiveFileLookup", "true").parquet(dir)
            .select($"id", $"sh").as[(Long, Long)].collect().toSet
        (audits, fpStore(imgFp), fpStore(audFp))
      } finally {
        import scala.jdk.CollectionConverters._
        Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    val (plainAudit, plainImg, plainAud) = run(compact = false)
    val (compAudit, compImg, compAud) = run(compact = true)
    assert(plainAudit.nonEmpty && plainAudit.map(_._1).distinct.size ==
      plainAudit.size)
    assert(compAudit == plainAudit,
      s"audits diverged under compaction: " +
        s"${compAudit.diff(plainAudit).take(5)}")
    assert(compImg == plainImg, "image-fp store diverged under compaction")
    assert(compAud == plainAud, "audio-fp store diverged under compaction")
    // the sparse fixture discriminates here too: each media flag marks
    // a nonempty strict minority, and the two modalities disagree
    val img = plainAudit.filter(_._5).map(_._1).toSet
    val aud = plainAudit.filter(_._6).map(_._1).toSet
    assert(img.nonEmpty && img.size < plainAudit.size)
    assert(aud.nonEmpty && aud.size < plainAudit.size)
    assert(img.intersect(aud).isEmpty, "modalities must disagree")
  }

  test("compaction fold-then-crash window: store stays complete, recovery loses nothing, crashed generation never reused") {
    import graft.llm.{Admission, Dedup}
    import org.apache.hadoop.fs.Path
    val d = Tables.documents(spark, SparkTestBase.sf)
    val corpus = d.where($"doc_id" % 10 =!= 7)
    val all = d.where($"doc_id" % 10 === 7)
      .select($"doc_id", $"text").orderBy($"doc_id")
    val ids = all.select($"doc_id").as[Long].collect()
    val parts = (0 until 4).map { i =>
      val lo = ids(i * ids.length / 4)
      val hi = if (i == 3) Long.MaxValue else ids((i + 1) * ids.length / 4)
      all.where($"doc_id" >= lo && $"doc_id" < hi)
    }

    // replicate compactStore's steps UP TO the crash point: compacted
    // tmp written, fold dirs renamed into .folded_<gen>_*, then crash
    // (no final rename, no deletes) — the exact window the generation
    // counter and readStoreExceptSelf must survive
    def crashMidCompaction(root: String): Unit = {
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val fold = Seq("mb_init", "mb_0", "mb_1")
      spark.read.option("recursiveFileLookup", "true")
        .parquet(fold.map(n => s"$root/$n"): _*)
        .write.mode("overwrite").parquet(s"$root/.compact_tmp_0")
      fold.foreach(n =>
        assert(fs.rename(new Path(root, n), new Path(root, s".folded_0_$n"))))
    }

    def run(crash: Boolean): (Seq[(Long, Boolean, Boolean, Boolean, Boolean)], Set[(Long, Int, Long)]) = {
      val root = Files.createTempDirectory("graft_adm_crash")
      val (seen, index, fps, audit) = (s"$root/seen", s"$root/index",
        s"$root/fps", s"$root/audit")
      try {
        corpus.select($"doc_id", $"text").write.parquet(s"$seen/mb_init")
        Dedup.minhashBandIndex(corpus, "doc_id", "text")
          .write.parquet(s"$index/mb_init")
        corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
          .write.parquet(s"$fps/mb_init")
        parts.zipWithIndex.foreach { case (p, i) =>
          if (crash && i == 2) {
            Seq(seen, index, fps).foreach(crashMidCompaction)
            // crash-window read must serve the FULL store: folded-but-
            // uncommitted dirs are the store of record
            val visible = Admission
              .readStoreExceptSelf(spark, seen, 2L).count()
            val expected = corpus.count() +
              parts(0).count() + parts(1).count()
            assert(visible == expected,
              s"crash window dropped rows: $visible != $expected")
          }
          Admission.processMicroBatch(p, i.toLong, "doc_id", "text",
            seen, index, fps, audit)
          if (crash && i == 2) {
            // next maintenance run: must RECOVER the crashed fold (not
            // delete it) and never reuse its generation number
            Seq(seen, index, fps)
              .foreach(Admission.compactStore(spark, _, 3L))
            val fs = new Path(seen)
              .getFileSystem(spark.sessionState.newHadoopConf())
            val names = fs.listStatus(new Path(seen))
              .filter(_.isDirectory).map(_.getPath.getName).toSet
            assert(!names.exists(_.startsWith(".folded_")),
              s"unrecovered fold dirs: $names")
            assert(!names.exists(_.startsWith(".compact_tmp_")),
              s"orphaned tmp dirs: $names")
            assert(!names.contains("mb_compact_0") &&
              names.contains("mb_compact_1"),
              s"crashed generation 0 was reused: $names")
          }
        }
        val audits = spark.read.option("recursiveFileLookup", "true")
          .parquet(audit)
          .select($"doc_id", $"gate_pass", $"exact_dup", $"near_dup",
            $"admitted")
          .as[(Long, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSeq.sortBy(_._1)
        val store = spark.read.option("recursiveFileLookup", "true")
          .parquet(index).select($"id", $"band", $"band_hash")
          .as[(Long, Int, Long)].collect().toSet
        (audits, store)
      } finally {
        import scala.jdk.CollectionConverters._
        Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    val (plainAudit, plainStore) = run(crash = false)
    val (crashAudit, crashStore) = run(crash = true)
    assert(plainAudit.nonEmpty)
    assert(crashAudit == plainAudit,
      s"audits diverged across crash+recovery: " +
        s"${crashAudit.diff(plainAudit).take(5)}")
    assert(crashStore == plainStore,
      "index store lost rows across crash+recovery")
  }

  test("admission service leaks no caches: per-arrival scope releases every internal persist") {
    import graft.llm.{Admission, Dedup}
    val d = Tables.documents(spark, SparkTestBase.sf)
    val corpus = d.where($"doc_id" % 10 =!= 7)
    val batch = d.where($"doc_id" % 10 === 7).select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft_adm_leak")
    val (seen, index, fps, audit) = (s"$root/seen", s"$root/index",
      s"$root/fps", s"$root/audit")
    try {
      corpus.select($"doc_id", $"text").write.parquet(s"$seen/mb_init")
      Dedup.minhashBandIndex(corpus, "doc_id", "text")
        .write.parquet(s"$index/mb_init")
      corpus.select(graft.llm.TextStats.fingerprint($"text").as("fp"))
        .write.parquet(s"$fps/mb_init")
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.size
      // a long-running service calls this once PER ARRIVAL: any cache
      // surviving a call accumulates for the service's lifetime
      Admission.processMicroBatch(batch, 0L, "doc_id", "text",
        seen, index, fps, audit)
      Admission.processMicroBatch(batch.where($"doc_id" % 2 === 1), 1L,
        "doc_id", "text", seen, index, fps, audit)
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after == before,
        s"admission arrivals leaked ${after - before} persisted RDDs")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
