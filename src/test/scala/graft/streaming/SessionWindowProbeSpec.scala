package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.StreamingQueries

/** Emission-semantics probe for streaming `session_window` under
  * Trigger.AvailableNow — pins exactly WHICH sessions a drained
  * append-mode query emits, because the q176 gate's oracle must
  * reproduce that cutoff closed-form: a session emits once the event-
  * time watermark (max event time seen minus the delay) passes its
  * window end (last event + gap); later sessions stay in state and are
  * NOT flushed by stream end. If a Spark upgrade changes this, the
  * probe fails before the driver gate does.
  */
class SessionWindowProbeSpec extends SparkSpec {
  import spark.implicits._

  test("append-mode session_window emits exactly the watermark-closed " +
    "sessions, cross-batch merges included") {
    val t = (h: Int, m: Int) =>
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1, gap 15m, watermark delay 30m:
    //  session A: 00:00, 00:10 (ends 00:25)
    //  session B: 01:00 (ends 01:15)
    //  session C: 23:00 (ends 23:15) — final watermark 22:30 < end
    // session A's two events land in DIFFERENT slices (ordered by ts,
    // 3 slices of 2) so A only merges if session state crosses the
    // batch boundary.
    val rows = Seq(
      (1L, t(0, 0)), (1L, t(0, 10)),
      (1L, t(1, 0)), (2L, t(2, 0)),
      (1L, t(23, 0)), (2L, t(23, 0)))
      .toDF("user_id", "ts")
    val (out, progress) = StreamingQueries.drain(
      spark, "swprobe", Seq(rows -> Seq(col("ts"), col("user_id"))),
      batches = 3) { case Seq(in) =>
      in.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "15 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("start"),
          col("session_window.end").as("end"), col("n_events"))
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val got = out.select("user_id", "start", "end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().sorted.toSeq
    // expected: A merged (2 events, end = 00:10 + 15m) and B emitted;
    // user 2's 02:00 session (ends 02:15 < 22:30) emitted; both 23:00
    // sessions unflushed
    assert(got === Seq(
      (1L, t(0, 0), t(0, 25), 2L),
      (1L, t(1, 0), t(1, 15), 1L),
      (2L, t(2, 0), t(2, 15), 1L)))
  }

  test("left-outer stream-stream join: unmatched clicks null-emit only " +
    "after the watermark passes their join window") {
    val t = (h: Int, m: Int) =>
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // watermark delay 30m on both sides; join window [c_ts, c_ts+1h].
    // global wm at drain end = min(22:50, 23:00) - 30m = 22:20:
    //  c1 (00:00, no purchase): window expired 01:00 -> null-emits
    //  c2 (01:00) matches p1 (01:30) -> inner row
    //  c3 (22:50, no purchase): window open until 23:50 -> WITHHELD
    val clicks = Seq((1L, t(0, 0), 101L), (2L, t(1, 0), 102L),
      (3L, t(22, 50), 103L)).toDF("c_user", "c_ts", "click_id")
    val purchases = Seq((2L, t(1, 30), 11L), (8L, t(2, 0), 12L),
      (9L, t(23, 0), 13L)).toDF("p_user", "p_ts", "purchase_id")
    val (out, progress) = StreamingQueries.drain(
      spark, "lojprobe",
      Seq(clicks -> Seq(col("c_ts")), purchases -> Seq(col("p_ts"))),
      batches = 3) { case Seq(cs, ps) =>
      cs.withWatermark("c_ts", "30 minutes")
        .join(ps.withWatermark("p_ts", "30 minutes"),
          expr("c_user = p_user AND p_ts >= c_ts AND " +
            "p_ts <= c_ts + interval 1 hour"), "left_outer")
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val got = out.select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(got === Seq((101L, -1L), (102L, 11L)))
  }

  test("full-outer stream-stream join: BOTH sides null-emit under " +
    "watermark proof; open windows withheld on both sides") {
    val t = (h: Int, m: Int) =>
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // same corpus as the left-outer probe; global wm at drain end =
    // min(22:50, 23:00) - 30m = 22:20:
    //  c1 (00:00, no purchase): window expired 01:00 -> null-emits
    //  c2 (01:00) matches p1 (01:30) -> inner row
    //  c3 (22:50, no purchase): window open until 23:50 -> WITHHELD
    //  p2 (02:00, no click): can only match clicks <= 02:00, and
    //    wm 22:20 > 02:00 proves none is coming -> null-emits
    //  p3 (23:00, no click): 23:00 > wm -> WITHHELD in state
    val clicks = Seq((1L, t(0, 0), 101L), (2L, t(1, 0), 102L),
      (3L, t(22, 50), 103L)).toDF("c_user", "c_ts", "click_id")
    val purchases = Seq((2L, t(1, 30), 11L), (8L, t(2, 0), 12L),
      (9L, t(23, 0), 13L)).toDF("p_user", "p_ts", "purchase_id")
    val (out, progress) = StreamingQueries.drain(
      spark, "fojprobe",
      Seq(clicks -> Seq(col("c_ts")), purchases -> Seq(col("p_ts"))),
      batches = 3) { case Seq(cs, ps) =>
      cs.withWatermark("c_ts", "30 minutes")
        .join(ps.withWatermark("p_ts", "30 minutes"),
          expr("c_user = p_user AND p_ts >= c_ts AND " +
            "p_ts <= c_ts + interval 1 hour"), "full_outer")
    }
    val nBatches = progress.size
    assert(nBatches >= 3)
    val got = out.select(col("click_id"), col("purchase_id"))
      .collect().map(r => (
        if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(got === Seq((-1L, 12L), (101L, -1L), (102L, 11L)))
  }

  test("full-outer join per-batch STATE curve: rises while both sides " +
    "buffer, falls as the watermark evicts closed intervals — the " +
    "closed-form model the q283 oracle replays") {
    val t = (h: Int, m: Int) =>
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // 3-hour-spaced singles, minute offsets so no comparison ever
    // lands exactly on a watermark boundary; users all distinct so
    // every row is pure buffered state (matches would not change
    // eviction — state management is identical across join modes).
    // Slice b's watermark-in-force for EVICTION derives from slices
    // < b on both sides (min across sides, each minus its 1h delay):
    //   b1: none        -> 1c + 1p buffered            = 2
    //   b2: 23:10 (-1d) -> nothing evictable           = 4
    //   b3: 02:10       -> c(00:10) closed, p(00:20) passed -> 6-2 = 4
    //   b4: 05:10       -> c(03:10), p(03:20) also out -> 8-4     = 4
    val clicks = Seq((1L, t(0, 10), 101L), (2L, t(3, 10), 102L),
      (3L, t(6, 10), 103L), (4L, t(9, 10), 104L))
      .toDF("c_user", "c_ts", "click_id")
    val purchases = Seq((5L, t(0, 20), 11L), (6L, t(3, 20), 12L),
      (7L, t(6, 20), 13L), (8L, t(9, 20), 14L))
      .toDF("p_user", "p_ts", "purchase_id")
    val (out, progress) = StreamingQueries.drain(
      spark, "fojcurve",
      Seq(clicks -> Seq(col("c_ts")), purchases -> Seq(col("p_ts"))),
      batches = 4) { case Seq(cs, ps) =>
      cs.withWatermark("c_ts", "1 hour")
        .join(ps.withWatermark("p_ts", "1 hour"),
          expr("c_user = p_user AND p_ts >= c_ts AND " +
            "p_ts <= c_ts + interval 1 hour"), "full_outer")
    }
    val curve = progress.map(StreamingQueries.stateRows)
    assert(curve === Seq(2L, 4L, 4L, 4L), s"observed state curve: $curve")
    // final watermark min(09:10, 09:20) - 1h = 08:10: everything but
    // the last slice pair null-emitted (all rows are unmatched)
    assert(out.count() === 6)
  }
}
