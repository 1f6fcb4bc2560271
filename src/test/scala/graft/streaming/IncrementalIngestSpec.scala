package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{CowTable, PartitionedCowTable}

case class CatRow(scene_id: String, product_id: String, ts: Timestamp, v: Int)

class IncrementalIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def tmp(p: String) = tempDir(p)

  test("ingestBatch: in-batch dedup + anti-join append, idempotent") {
    val t = new CowTable(tmp("ing") + "/t", spark)
    val order = Seq(col("product_id").desc)
    val b1 = Seq(
      CatRow("A", "P1", ts("2020-01-01 00:00:00"), 1),
      CatRow("A", "P2", ts("2020-01-02 00:00:00"), 2), // in-batch dup, newer
      CatRow("B", "P1", ts("2020-01-03 00:00:00"), 3)).toDF
    IncrementalIngest.ingestBatch(t, b1, Seq("scene_id"), order)
    assert(t.read().count() == 2)
    assert(t.read().filter($"scene_id" === "A").select("product_id")
      .as[String].head() == "P2")
    // replay the same batch -> no change (exactly-once-ish by key)
    IncrementalIngest.ingestBatch(t, b1, Seq("scene_id"), order)
    assert(t.read().count() == 2)
    // new batch with one dup key and one new key
    val b2 = Seq(
      CatRow("B", "P9", ts("2020-01-04 00:00:00"), 9), // dup key, dropped
      CatRow("C", "P1", ts("2020-01-05 00:00:00"), 5)).toDF
    IncrementalIngest.ingestBatch(t, b2, Seq("scene_id"), order)
    assert(t.read().count() == 3)
    assert(t.read().filter($"scene_id" === "B").select("v").as[Int].head() == 3)
  }

  test("watermark: None on absent table, max ts otherwise") {
    val t = new CowTable(tmp("wm") + "/t", spark)
    assert(IncrementalIngest.watermark(t, "ts").isEmpty)
    IncrementalIngest.ingestBatch(t,
      Seq(CatRow("A", "P1", ts("2020-01-02 00:00:00"), 1),
        CatRow("B", "P1", ts("2020-01-07 00:00:00"), 2)).toDF,
      Seq("scene_id"), Seq(col("product_id").desc))
    assert(IncrementalIngest.watermark(t, "ts")
      .contains(ts("2020-01-07 00:00:00")))
  }

  test("watermarkPerKey: empty on absent table, keyed maxes otherwise") {
    val t = new CowTable(tmp("wmk") + "/t", spark)
    assert(IncrementalIngest.watermarkPerKey(t, "product_id", "ts").isEmpty)
    IncrementalIngest.ingestBatch(t,
      Seq(CatRow("A", "ATL03", ts("2020-01-02 00:00:00"), 1),
        CatRow("B", "ATL03", ts("2020-01-07 00:00:00"), 2),
        CatRow("C", "ATL08", ts("2020-01-05 00:00:00"), 3)).toDF,
      Seq("scene_id"), Seq(col("ts").desc))
    val wm = IncrementalIngest.watermarkPerKey(t, "product_id", "ts")
    assert(wm == Map(
      "ATL03" -> ts("2020-01-07 00:00:00"),
      "ATL08" -> ts("2020-01-05 00:00:00")))
  }

  test("streaming source -> foreachBatch ingest with checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CatRow]
    val t = new CowTable(tmp("str") + "/t", spark)
    val cp = tmp("strcp")
    mem.addData(
      CatRow("A", "P1", ts("2020-01-01 00:00:00"), 1),
      CatRow("A", "P1", ts("2020-01-01 00:00:00"), 1), // duplicate row
      CatRow("B", "P1", ts("2020-01-02 00:00:00"), 2))
    val q1 = IncrementalIngest.stream(mem.toDF(), t, Seq("scene_id"),
      Seq(col("product_id").desc, col("v").desc), cp)
    q1.awaitTermination(30000)
    assert(t.read().count() == 2)
    // second incremental delivery, same checkpoint
    mem.addData(CatRow("C", "P1", ts("2020-01-03 00:00:00"), 3),
      CatRow("B", "P8", ts("2020-01-09 00:00:00"), 8))
    val q2 = IncrementalIngest.stream(mem.toDF(), t, Seq("scene_id"),
      Seq(col("product_id").desc, col("v").desc), cp)
    q2.awaitTermination(30000)
    assert(t.read().count() == 3)
    assert(t.read().filter($"scene_id" === "B").select("v").as[Int].head() == 2)
  }

  test("ingestBatch's key anti-join reads the table's in-memory copy, " +
    "not the version's files") {
    val t = new PartitionedCowTable(tmp("ingcopy") + "/t", "day", spark)
    val order = Seq(col("product_id").desc)
    def page(ids: Seq[(String, String)]) = ids.map { case (id, d) =>
      (id, "P1", ts(d + " 00:00:00"), 1, Date.valueOf(d)) }
      .toDF("scene_id", "product_id", "ts", "v", "day")
    IncrementalIngest.ingestBatch(t, page((1 to 40).map(i =>
      (s"S$i", f"2020-01-${i % 8 + 1}%02d"))), Seq("scene_id"), order)
    assert(t.snapshot().isRight)
    // one re-delivery and one new scene on a new day: the anti-join
    // reads the copy (one cached batch), the append no existing day
    val (_, read) = org.apache.spark.JobCount.recordsRead(spark.sparkContext)(
      IncrementalIngest.ingestBatch(t,
        page(Seq("S3" -> "2020-01-04", "S99" -> "2020-01-20")),
        Seq("scene_id"), order))
    assert(read < 40, s"$read records read")
    assert(t.read().count() == 41)
    assert(t.read().filter($"scene_id" === "S3").count() == 1)
  }
}
