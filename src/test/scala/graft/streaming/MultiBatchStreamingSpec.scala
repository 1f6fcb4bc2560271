package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.StreamingQueries

/** The cross-batch streaming harness (round-6 verdict item 1):
  * [[StreamingQueries.drain]] must (a) really drain the
  * input in the requested number of SEPARATE micro-batches — one
  * staged file per trigger — and (b) produce the batch-semantics
  * result anyway, which is only possible if keyed state / the dedup
  * store survive each batch boundary through the checkpointed state
  * store. The q97/q98/q99 CORRECTNESS rows gate the same property at
  * sf scale against DuckDB; this pins the harness mechanics (batch
  * count, slice ordering, final-state consolidation) on inputs small
  * enough to reason about by hand.
  */
class MultiBatchStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")

  test("state machine folds across 3 micro-batches (state survives boundaries)") {
    // scene A steps on days 1/2/3 — each lands in a DIFFERENT
    // event-time slice, so A's final row is only right if batch 2 and
    // 3 fold onto state retained from batch 1. B/C pad the slices.
    val events = Seq(
      ("A", "download", ts(1)), ("B", "download", ts(1)),
      ("A", "ard", ts(2)), ("C", "download", ts(2)),
      ("A", "dcload", ts(3)), ("B", "ard", ts(3)))
      .toDF("scene_id", "step", "ts")
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_sm",
      Seq(events -> Seq(col("ts"), col("scene_id"), col("step"))),
      batches = 3) { case Seq(in) =>
      StreamOps.sceneStateMachine(in.as[StreamOps.StepEvent],
        lateness = "36500 days", idleGapMs = Long.MaxValue / 4).toDF()
    }
    val nBatches = progress.size
    assert(nBatches >= 3, s"drained in $nBatches batches, wanted >= 3")
    // one row per touched key PER BATCH: A appears 3x, B 2x, C 1x
    assert(out.count() === 6)
    val fin = out.groupBy("scene_id")
      .agg(max_by(struct(col("downloaded"), col("ard"), col("dcloaded"),
        col("n_events")), col("n_events")).as("f"))
      .select(col("scene_id"), col("f.downloaded"), col("f.ard"),
        col("f.dcloaded"), col("f.n_events"))
      .as[(String, Boolean, Boolean, Boolean, Int)]
      .collect().sortBy(_._1).toSeq
    assert(fin === Seq(
      ("A", true, true, true, 3),
      ("B", true, true, false, 2),
      ("C", true, false, false, 1)))
  }

  test("dedup store survives batch boundaries (replica dropped 2 slices later)") {
    // content X at day 1 and its replay at day 3: the original drains
    // in batch 1, the replica in batch 3 — it is only dropped if the
    // content-hash state survived two boundaries. Y/Z fill the middle
    // slice so the replay genuinely sits 2 batches later.
    val rows = Seq(
      (1L, "X", ts(1)), (2L, "Y", ts(1)),
      (3L, "Z", ts(2)), (4L, "Y", ts(2)),
      (5L, "X", ts(3)), (6L, "W", ts(3)))
      .toDF("id", "text", "ts")
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_dd", Seq(rows -> Seq(col("ts"), col("id"))),
      batches = 3) { case Seq(in) =>
      StreamOps.streamingDedup(in, "text", "ts", "36500 days")
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val survivors = out.select("text").as[String].collect().sorted.toSeq
    assert(survivors === Seq("W", "X", "Y", "Z"))
    // the surviving X/Y are the FIRST arrivals (streaming keeps the
    // row already admitted; later replicas hit existing state)
    val ids = out.select("id").as[Long].collect().toSet
    assert(ids.contains(1L) && ids.contains(2L) &&
      !ids.contains(5L) && !ids.contains(4L))
  }

  test("stream-stream join matches a purchase 2 batches after its click " +
    "(both sides' state survives boundaries)") {
    // clicks slice by ts (c1 drains in batch 1); the matching purchase
    // pC (same user, ts 30min after c1) is FORCED into purchase slice
    // 3 by id-ordered staging — so the pair only appears if c1's
    // buffered join state survived two checkpointed boundaries.
    val clicks = Seq(
      (1L, ts(1), 101L), (2L, ts(2), 102L), (3L, ts(3), 103L))
      .toDF("c_user", "c_ts", "click_id")
    val purchases = Seq(
      (2L, Timestamp.valueOf("2024-01-02 00:10:00"), 11L),
      (3L, Timestamp.valueOf("2024-01-03 00:20:00"), 12L),
      (1L, Timestamp.valueOf("2024-01-01 00:30:00"), 13L))
      .toDF("p_user", "p_ts", "purchase_id")
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_ssj",
      Seq(clicks -> Seq(col("c_ts")),
        purchases -> Seq(col("purchase_id"))), // pC (id 13) lands in slice 3
      batches = 3) { case Seq(cs, ps) =>
      cs.withWatermark("c_ts", "36500 days")
        .join(ps.withWatermark("p_ts", "36500 days"),
          expr("c_user = p_user AND p_ts >= c_ts AND " +
            "p_ts <= c_ts + interval 1 hour"))
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val pairs = out.select("click_id", "purchase_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(pairs === Seq((101L, 13L), (102L, 11L), (103L, 12L)))
  }

  test("scd2 run opened in batch 1 closes from state in batch 3, " +
    "open tail never emits") {
    // user 1 is 'on' at days 1 and 2 (slices 1 and 2) and flips to
    // 'off' at day 3 (slice 3): the closed interval [day1, day3) with
    // n_events=2 is only correct if the run survived two batch
    // boundaries. The 'off' run stays open — nothing else may emit.
    // user 2 pads each slice with a constant status (never closes).
    val events = Seq(
      (1L, ts(1), 10L, "on"), (2L, ts(1), 11L, "idle"),
      (1L, ts(2), 20L, "on"), (2L, ts(2), 21L, "idle"),
      (1L, ts(3), 30L, "off"), (2L, ts(3), 31L, "idle"))
      .toDF("user_id", "ts", "event_id", "status")
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_scd", Seq(events -> Seq(col("ts"), col("event_id"))),
      batches = 3) { case Seq(in) =>
      StreamOps.scdIntervals(in.as[StreamOps.StatusEvent],
        lateness = "36500 days", idleGapMs = Long.MaxValue / 4).toDF()
    }
    val nBatches = progress.size
    assert(nBatches >= 3, s"drained in $nBatches batches, wanted >= 3")
    val rows = out.select("user_id", "status", "valid_from", "valid_to",
      "n_events").as[(Long, String, Timestamp, Timestamp, Long)]
      .collect().toSeq
    assert(rows === Seq((1L, "on", ts(1), ts(3), 2L)))
  }

  test("scd2 long same-status run with a SMALL idle gap survives while " +
    "events keep arriving (timeout anchored to last event, not run start)") {
    // user 1 stays 'on' for two days — far longer than the 18h idle
    // gap — but every inter-event gap is 12h, within bounds once the
    // gap is measured from the LAST absorbed event. Anchoring the
    // timeout to the run START (the round-8 bug) would throw from
    // setTimeoutTimestamp once the watermark passed since+gap,
    // killing the query in batch 3.
    def at(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, at("2024-01-01 00:00:00"), 10L, "on"),
      (1L, at("2024-01-01 12:00:00"), 20L, "on"),
      (1L, at("2024-01-02 00:00:00"), 30L, "on"),
      (1L, at("2024-01-02 12:00:00"), 40L, "on"),
      (1L, at("2024-01-03 00:00:00"), 50L, "off"))
      .toDF("user_id", "ts", "event_id", "status")
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_scd_gap", Seq(events -> Seq(col("ts"), col("event_id"))),
      batches = 3) { case Seq(in) =>
      StreamOps.scdIntervals(in.as[StreamOps.StatusEvent],
        lateness = "0 seconds", idleGapMs = 18L * 3600 * 1000).toDF()
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val rows = out.select("user_id", "status", "valid_from", "valid_to",
      "n_events").as[(Long, String, Timestamp, Timestamp, Long)]
      .collect().toSeq
    assert(rows === Seq(
      (1L, "on", at("2024-01-01 00:00:00"), at("2024-01-03 00:00:00"), 4L)))
  }

  test("complete-mode drain returns the final result table once: one row " +
    "per group with its final count") {
    // every slice (one day) touches both kinds, so every micro-batch
    // republishes both groups with a grown count: the sink must keep
    // only the last table — appending would return each group 3 times
    val rows = (1 to 3).flatMap(d => Seq(
      (d * 10L, ts(d), "a"), (d * 10L + 1, ts(d), "a"),
      (d * 10L + 2, ts(d), "b"))).toDF("id", "ts", "kind")
    def counts(df: DataFrame) =
      df.groupBy(window(col("ts"), "7 days"), col("kind"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("kind"), col("n"))
    val (out, progress) = StreamingQueries.drain(
      spark, "mbspec_cm", Seq(rows -> Seq(col("ts"), col("id"))),
      batches = 3, mode = "complete") { case Seq(in) => counts(in) }
    assert(progress.size >= 3)
    assert(spark.streams.active.isEmpty)
    val got = out.as[(Timestamp, String, Long)].collect().sortBy(_._2).toSeq
    assert(got === counts(rows).as[(Timestamp, String, Long)]
      .collect().sortBy(_._2).toSeq)
    assert(got.map(r => r._2 -> r._3) === Seq("a" -> 6L, "b" -> 3L))
  }

  test("drain fails loudly when asked for fewer than 2 batches") {
    val rows = Seq((1L, "X", ts(1))).toDF("id", "text", "ts")
    intercept[IllegalArgumentException] {
      StreamingQueries.drain(
        spark, "mbspec_bad", Seq(rows -> Seq(col("ts"))), batches = 1) {
        case Seq(in) => StreamOps.streamingDedup(in, "text", "ts", "36500 days")
      }
    }
  }

  test("foreachBatch drain commits one CoW version per micro-batch") {
    // q126's shape on a hand stream: per-batch latest-per-user upsert
    // into a CowTable; later batches (later event times) supersede
    val rows = Seq(
      (1L, ts(1), 10L, "a"), (2L, ts(2), 10L, "b"),
      (3L, ts(3), 20L, "c"), (4L, ts(4), 10L, "d"),
      (5L, ts(5), 20L, "e"), (6L, ts(6), 30L, "f"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val root = tempDir("mbspec_cow") + "/t"
    val table = new graft.sources.CowTable(root, spark)
    val n = StreamingQueries.drainEach(
      spark, "mbspec_fe", rows,
      orderCols = Seq(col("ts"), col("event_id")), batches = 3) { (b, _) =>
      val latest = b.groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
          .as("m"))
        .select(col("user_id"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type"))
      table.upsert(latest, Seq("user_id"))
    }
    assert(n >= 3)
    val out = table.read().select("user_id", "event_id", "event_type")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(out === Map(10L -> ((4L, "d")), 20L -> ((5L, "e")),
      30L -> ((6L, "f"))))
    // one committed version per micro-batch: the upsert ran 3 times
    val versions = new java.io.File(root).listFiles()
      .map(_.getName).count(_.startsWith("v_"))
    assert(versions === 3)
  }
}
