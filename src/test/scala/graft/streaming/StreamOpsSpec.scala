package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.SparkSpec

case class Ev(ts: Timestamp, kind: String, value: Double)

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** `df` on a foreachBatch → parquet sink under a fresh temp dir, the
    * sink the streaming gates drain into: every micro-batch's rows
    * append to the returned path.
    */
  private def toParquet(df: DataFrame): (DataStreamWriter[Row], String) = {
    val dir = java.nio.file.Files.createTempDirectory("sosink").toString
    (df.writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$dir/out")
      }, s"$dir/out")
  }

  test("streaming dedup keeps first occurrence, bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dedup = StreamOps.streamingDedup(mem.toDF(), "kind", "ts", "1 hour")
    mem.addData(
      Ev(ts("2024-01-01 10:00:00"), "docA", 1.0),
      Ev(ts("2024-01-01 10:05:00"), "docA", 2.0), // dup within watermark
      Ev(ts("2024-01-01 10:10:00"), "docB", 3.0))
    val (sink, sdedup) = toParquet(dedup)
    val q = sink.outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // exactly one survivor per content key (which of the two docA
    // rows survives within a micro-batch is partition-order dependent)
    val got = spark.read.parquet(sdedup).select("kind", "value")
      .as[(String, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).sameElements(Array("docA", "docB")))
  }

  test("tumbling window agg with watermark finalizes closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 10:05:00"), "a", 1.0),
      Ev(ts("2024-01-01 10:55:00"), "a", 2.0),
      Ev(ts("2024-01-01 11:10:00"), "b", 5.0),
      // event far ahead pushes the watermark past the 10:00 window
      Ev(ts("2024-01-01 13:00:00"), "a", 9.0))
    val agg = StreamOps.tumblingAgg(mem.toDF(), "ts", "1 hour", "10 minutes",
      Seq(col("kind")), Seq(count(lit(1)).as("n"), sum($"value").as("s")))
    val (sink, tumbling) = toParquet(agg)
    val q = sink.outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // append mode emits only windows the watermark has passed:
    // the 10:00 and 11:00 windows are final; 13:00 is still open
    val rows = spark.read.parquet(tumbling)
      .select(col("window.start").cast("string"), $"kind", $"n", $"s")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(rows.sameElements(Array(
      ("2024-01-01 10:00:00", "a", 2L, 3.0),
      ("2024-01-01 11:00:00", "b", 1L, 5.0))))
  }

  test("scene state machine: keyed custom state folds steps, expires idle") {
    import StreamOps.StepEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StepEvent]
    mem.addData(
      StepEvent("A", "download", ts("2024-01-01 10:00:00")),
      StepEvent("B", "download", ts("2024-01-01 10:05:00")),
      StepEvent("A", "ard", ts("2024-01-01 11:00:00")))
    val out = StreamOps.sceneStateMachine(mem.toDS(), "10 minutes",
      idleGapMs = 3600L * 1000)
    val cp = java.nio.file.Files.createTempDirectory("smcp").toString
    // memory sink can't recover a checkpoint; foreachBatch can — and
    // the function runs on the driver, so a local buffer is a sink
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(String, Boolean, Boolean, Boolean, Int)]
    def drain(): Unit = {
      val q = out.writeStream
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamOps.SceneProgress], _: Long) =>
            sink ++= b.collect().map(p =>
              (p.scene_id, p.downloaded, p.ard, p.dcloaded, p.n_events))
            ()
        }.start()
      q.awaitTermination(60000)
    }
    drain()
    // one consolidated row per scene: A folded both steps in-batch
    assert(sink.sortBy(_._1) == Seq(
      ("A", true, true, false, 2), ("B", true, false, false, 1)))
    // second delivery: A progresses (state restored from checkpoint);
    // a far-future event drives the watermark past B's idle timeout
    sink.clear()
    mem.addData(
      StepEvent("A", "dcload", ts("2024-01-01 11:30:00")),
      StepEvent("C", "download", ts("2024-01-02 09:00:00")))
    drain()
    assert(sink.filter(_._1 == "A") == Seq(("A", true, true, true, 3)))
    // idle B expired from the store (timeout emits nothing, state freed)
    assert(!sink.exists(_._1 == "B"))
  }

  test("streaming obs-date rollup matches the batch rollup shape") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 10:00:00"), "a", 1.0),
      Ev(ts("2024-01-01 22:00:00"), "a", 1.0),
      Ev(ts("2024-01-02 01:00:00"), "b", 1.0),
      Ev(ts("2024-01-05 00:00:00"), "a", 1.0)) // advances watermark
    val roll = StreamOps.obsDateRollup(mem.toDF(), "ts", "1 hour",
      Seq(col("kind")))
    val (sink, obsroll) = toParquet(roll)
    val q = sink.outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.read.parquet(obsroll)
      .select($"obs_date".cast("string"), $"kind", $"n_events")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(rows.sameElements(Array(
      ("2024-01-01", "a", 2L),
      ("2024-01-02", "b", 1L))))
  }

  test("streaming as-of enrich: facts get the dim version at their event time") {
    import StreamOps.AsofInput
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsofInput]
    def dim(k: Long, t: String, v: String) = AsofInput(k, ts(t), 0, v, -1L)
    def fact(id: Long, k: Long, t: String) = AsofInput(k, ts(t), 1, null, id)
    // intra-batch disorder on purpose: the fact at 10:30 arrives
    // before the 10:00 dim it must match
    mem.addData(
      fact(11L, 1L, "2024-01-01 10:30:00"),
      dim(1L, "2024-01-01 10:00:00", "v1"),
      dim(1L, "2024-01-01 11:00:00", "v2"),
      fact(10L, 1L, "2024-01-01 09:30:00"), // before any dim -> null
      fact(12L, 1L, "2024-01-01 11:00:00"), // == dim ts -> v2 (<=)
      fact(13L, 2L, "2024-01-01 10:30:00")) // key with no dims -> null
    // lateness wide enough that the batch-3 same-ts dim replay is not
    // dropped as late data — this test pins replace semantics, not
    // watermark filtering
    val out = StreamOps.streamingAsofEnrich(mem.toDS(), "10 hours",
      retainVersions = 4, idleGapMs = 36000000L)
    val (sink, sasof) = toParquet(out.toDF())
    val q = sink.outputMode("append").start()
    q.processAllAvailable()
    // second batch: a fact later than every retained version — the
    // dim state must survive across micro-batches
    mem.addData(fact(14L, 1L, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    // third batch: a same-ts dim update REPLACES v2 (idempotent
    // re-delivery contract), so later facts see the replacement
    mem.addData(dim(1L, "2024-01-01 11:00:00", "v2b"),
      fact(15L, 1L, "2024-01-01 12:30:00"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(sasof)
      .select("event_id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(got.sameElements(Array(
      10L -> None, 11L -> Some("v1"), 12L -> Some("v2"),
      13L -> None, 14L -> Some("v2"), 15L -> Some("v2b"))))
  }
}
