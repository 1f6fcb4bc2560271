package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Ordering semantics of the event-analytics queries (q84/q85) on
  * hand-built event streams. `ts` is written as epoch NANOS in a
  * plain int64 column — the same decode path Tables.load applies to
  * the driver's TIMESTAMP(NANOS) events table.
  */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000 * 1000 * 1000 // one hour in nanos
  // 2024-01-01T00:00Z in epoch nanos — q85 anchors week indexes there
  private val T0 = 1704067200L * 1000 * 1000 * 1000

  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    val dir = tempDir("events")
    rows.zipWithIndex.map { case ((uid, t, typ), i) =>
      (i.toLong, T0 + t, uid, typ, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q84 funnel: stages require STRICT event order per user") {
    // user 1: click BEFORE the first view -> never reaches stage 2;
    // user 2: view < click < purchase -> reaches all three
    val dir = eventsDir(Seq(
      (1L, 1 * H, "click"), (1L, 2 * H, "view"),
      (1L, 3 * H, "purchase"), // purchase without a post-view click
      (2L, 1 * H, "view"), (2L, 2 * H, "click"),
      (2L, 3 * H, "purchase")))
    val out = SparkEntry.queries("q84_funnel")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 1.0)))
    assert(out(2L) === ((1L, 0.5)))
    assert(out(3L) === ((1L, 0.5)))
  }

  test("q84 funnel: a purchase at the exact click instant does not count") {
    val dir = eventsDir(Seq(
      (1L, 1 * H, "view"), (1L, 2 * H, "click"),
      (1L, 2 * H, "purchase"))) // ts == t2, strict > excludes it
    val out = SparkEntry.queries("q84_funnel")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(3L) === 0L)
  }

  test("q86 trailing DAU: window carries users forward 7 days, dedups within day") {
    val D = 24 * H
    val dir = eventsDir(Seq(
      (1L, 1 * H, "view"), (1L, 2 * H, "click"), // same user, same day
      (2L, 3 * D + H, "view")))
    val out = SparkEntry.queries("q86_trailing_dau")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // user 1 active on day 0 counts in windows 0..6; user 2 on day 3
    // counts in 3..9; overlap days 3..6 see both
    val expect = (0L to 9L).map { day =>
      val u1 = day <= 6
      val u2 = day >= 3
      (day, (if (u1) 1L else 0L) + (if (u2) 1L else 0L),
        (if (day == 0) 1L else 0L) + (if (day == 3) 1L else 0L))
    }
    assert(out === expect)
  }

  test("q90 anomalies: a planted spike is flagged, a flat series is not") {
    // 'view': alternating 1/2 events per hour (nonzero variance), then
    // a 50-event spike; 'click': perfectly flat — its trailing sd is 0
    // everywhere, so it must contribute NO baseline rows at all
    val steady = (0 until 30).flatMap(h =>
      Seq.fill(1 + h % 2)((1L, h * H, "view")))
    val spike = (0 until 50).map(_ => (1L, 30 * H, "view"))
    val clicks = (0 until 30).map(h => (2L, h * H, "click"))
    val dir = eventsDir(steady ++ spike ++ clicks)
    val out = SparkEntry.queries("q90_hourly_anomalies")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val (_, anomalies, maxZ) = out("view")
    assert(anomalies === 1L)   // exactly the spike hour
    assert(maxZ > 3.0)
    // the flat series has zero variance -> every window filtered out
    assert(!out.contains("click"))
  }

  test("q85 retention: offsets measured from each user's own cohort week") {
    val wk = 7 * 24 * H
    val dir = eventsDir(Seq(
      (1L, 1 * H, "view"),          // user 1 cohort week 0
      (1L, 2 * wk + H, "click"),    // returns in week 2
      (2L, 1 * wk + H, "view")))    // user 2 cohort week 1
    val out = SparkEntry.queries("q85_retention_cohorts")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }
}
