package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkTestBase

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

class StreamOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, uid: Long = 1L,
                 typ: String = "click", v: Double = 1.0) =
    Ev(id, ts(t), uid, typ, v)

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          name: String, mode: OutputMode): Unit = {
    val cp = java.nio.file.Files.createTempDirectory(s"cp-$name").toString
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("tumbling window aggregates batch and stream identically") {
    val rows = Seq(
      ev(1, "2024-01-01 00:01:00"), ev(2, "2024-01-01 00:04:00"),
      ev(3, "2024-01-01 00:07:00"), ev(4, "2024-01-01 00:11:00"))
    // batch path
    val batch = StreamOps.tumblingCounts(rows.toDF(), "ts", "5 minutes")
      .select($"window.start".cast("string"), $"n").as[(String, Long)]
      .collect().toMap
    assert(batch("2024-01-01 00:00:00") == 2)
    assert(batch("2024-01-01 00:05:00") == 1)
    assert(batch("2024-01-01 00:10:00") == 1)
    // streaming path over the same rows
    val mem = MemoryStream[Ev](spark)
    mem.addData(rows: _*)
    runToMemory(
      StreamOps.tumblingCounts(mem.toDF(), "ts", "5 minutes"),
      "tumbling", OutputMode.Complete())
    val stream = spark.sql(
      "SELECT CAST(window.start AS STRING), n FROM tumbling")
      .as[(String, Long)].collect().toMap
    assert(stream == batch)
  }

  test("watermark drops events later than the allowed lateness") {
    val mem = MemoryStream[Ev](spark)
    val agg = StreamOps.tumblingCounts(
      StreamOps.withLateness(mem.toDF(), "ts", "5 minutes"),
      "ts", "10 minutes")
    // batch 1 advances the watermark to 00:55; batch 2's straggler at
    // 00:05 lands before the watermark → dropped in append mode
    val cp = java.nio.file.Files.createTempDirectory("cp-wm").toString
    val q = agg.writeStream.format("memory").queryName("wm")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", cp).start()
    mem.addData(ev(1, "2024-01-01 00:05:00"), ev(2, "2024-01-01 01:00:00"))
    q.processAllAvailable()
    mem.addData(ev(3, "2024-01-01 00:05:00"), ev(4, "2024-01-01 01:01:00"))
    q.processAllAvailable()
    q.stop()
    val finalized = spark.sql("SELECT CAST(window.start AS STRING), n FROM wm")
      .as[(String, Long)].collect().toMap
    // the 00:00 window finalized with ONLY the on-time event (id 1);
    // the late id-3 event was dropped by the watermark
    assert(finalized.get("2024-01-01 00:00:00") == Some(1L))
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    val mem = MemoryStream[Ev](spark)
    mem.addData(
      ev(1, "2024-01-01 00:01:00"), ev(1, "2024-01-01 00:02:00"),
      ev(2, "2024-01-01 00:03:00"))
    runToMemory(
      StreamOps.dedupWithinWatermark(mem.toDF(), "ts", "10 minutes"),
      "dedup", OutputMode.Append())
    val ids = spark.sql("SELECT event_id FROM dedup").as[Long]
      .collect().sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("session windows close after the gap") {
    val rows = Seq(
      ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:02:00"),
      ev(3, "2024-01-01 00:20:00")) // > 5 min gap → second session
    val out = StreamOps.sessionCounts(rows.toDF(), "ts", "5 minutes")
      .select($"n_events").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("mapGroupsWithState accumulates per-user running totals") {
    val mem = MemoryStream[StreamOps.UserEvent](spark)
    mem.addData(
      StreamOps.UserEvent(1L, ts("2024-01-01 00:00:00"), 2.0),
      StreamOps.UserEvent(1L, ts("2024-01-01 00:01:00"), 3.0),
      StreamOps.UserEvent(2L, ts("2024-01-01 00:02:00"), 5.0))
    runToMemory(StreamOps.runningTotals(mem.toDS()).toDF(),
      "running", OutputMode.Update())
    val out = spark.sql("SELECT user_id, n, total FROM running")
      .as[(Long, Long, Double)].collect().toMap2
    assert(out(1L) == ((2L, 5.0)))
    assert(out(2L) == ((1L, 5.0)))
  }

  test("staticEnrich: broadcast dim join, streamed == batch") {
    val dim = Seq((1L, "AL"), (2L, "BE")).toDF("dk", "region")
    // batch form: the plan must broadcast the dimension (stream side
    // never shuffles) and match a plain join
    val batch = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val enrichedBatch = StreamOps.staticEnrich(batch, dim, "k", "dk")
    assert(enrichedBatch.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(enrichedBatch.count() == 2) // k=3 has no dim row (inner)
    // streamed form over the same rows
    val mem = MemoryStream[(Long, Double)](spark)
    mem.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    val stream = mem.toDF().toDF("k", "v")
    runToMemory(StreamOps.staticEnrich(stream, dim, "k", "dk")
      .select($"k", $"region"), "enriched", OutputMode.Append())
    val out = spark.sql("SELECT k, region FROM enriched")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "AL", 2L -> "BE"))
  }

  implicit private class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("scratch dirs share one per-JVM root") {
    val a = StreamOps.scratchDir("spec_a")
    val b = StreamOps.scratchDir("spec_b")
    assert(a.getParent == b.getParent && a != b)
    assert(a.getParent.getFileName.toString.startsWith("graft-scratch-"))
  }
}
