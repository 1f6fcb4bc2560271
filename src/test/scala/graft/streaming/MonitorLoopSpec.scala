package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.SceneCatalog
import graft.model.Scene
import graft.pipeline.AuditLog
import graft.pipeline.StepRunner.{SceneStep, StepResult}
import graft.sources.{CowTable, PartitionedCowTable}

/** Top-level (ships to executors; must not capture the suite). */
private[streaming] class MonitorDownloadStep extends SceneStep {
  val name = "download"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedDownload()
  def process(pid: Long): StepResult = StepResult(pid, success = true, s"dl $pid")
  def onSuccess = Map("Downloaded" -> lit(true))
}

/** The reference's cron loop end-to-end: new catalogue rows stream in,
  * the key anti-join drops replays, the step sequence drains the
  * work-list, the audit log records each tick — and a replayed/late
  * batch leaves the table unchanged.
  */
class MonitorLoopSpec extends SparkSpec {
  import spark.implicits._

  private def scene(pid: Long, sceneId: String, date: String): Scene =
    Scene(pid, sceneId, s"P$pid", "LANDSAT_8",
      Timestamp.valueOf(date + " 10:00:00"), Date.valueOf(date), 10.0,
      52, 50, 2, 0, 1000, "gs://x",
      Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, Downloaded = false, None, None, ARDProduct = false,
      DCLoaded = false, Invalid = false, Archived = false,
      ExtendedInfo = None)

  test("monitoring loop: stream -> dedup ingest -> steps -> audit") {
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("mon")
    val cat = new SceneCatalog(new CowTable(s"$root/scenes", spark), spark)
    val audit = new AuditLog(s"$root/audit", spark)
    val mem = MemoryStream[Scene]
    val order = Seq(col("Product_ID").desc)
    // tick 1: two scenes, one duplicated inside the batch
    mem.addData(scene(1, "S1", "2020-03-01"), scene(1, "S1", "2020-03-01"),
      scene(2, "S2", "2020-03-02"))
    val q1 = MonitorLoop.stream(spark, mem.toDF(), cat, Seq("PID"), order,
      Seq(new MonitorDownloadStep), parallelism = 2,
      checkpoint = s"$root/cp", audit = Some(audit))
    q1.awaitTermination(60000)
    assert(cat.scenes.count() == 2)
    assert(cat.scnlistNeedDownload().isEmpty) // steps ran in the tick
    // tick 2: one genuinely new scene + a replay of scene 1, which the
    // anti-join must drop WITHOUT resetting its processed flag
    mem.addData(scene(3, "S3", "2020-03-03"), scene(1, "S1", "2020-03-01"))
    val q2 = MonitorLoop.stream(spark, mem.toDF(), cat, Seq("PID"), order,
      Seq(new MonitorDownloadStep), parallelism = 2,
      checkpoint = s"$root/cp", audit = Some(audit))
    q2.awaitTermination(60000)
    assert(cat.scenes.count() == 3)
    assert(cat.scenes.filter($"Downloaded").count() == 3)
    // audit recorded both ticks' step runs (2 queries × 1 step), with
    // the second tick touching only the new scene
    val log = audit.entries().select("Description").as[String].collect()
    assert(log.count(_.startsWith("download:")) == 2)
    assert(log.exists(_.contains("processed=2 ok=2")))
    assert(log.exists(_.contains("processed=1 ok=1")))
  }

  test("five ticks, each with a mergeSync and a deleteWhereDV, leave no " +
    "persistent RDD but the table's in-memory copy") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t = new PartitionedCowTable(tempDir("montick") + "/scenes",
      "Date_Acquired", spark)
    val cat = new SceneCatalog(t, spark)
    for (tick <- 1 to 5) {
      val day = f"2020-03-$tick%02d"
      MonitorLoop.tick(spark, cat,
        Seq(scene(tick, s"S$tick", day), scene(10 + tick, s"S${10 + tick}", day))
          .toDF(), Seq("PID"), Seq(col("Product_ID").desc),
        Seq(new MonitorDownloadStep), parallelism = 2)
      // write back the tick's new cloud cover, then retire the extra scene
      assert(t.mergeSync(t.read().withColumn("Cloud_Cover",
        when(col("PID") === tick, lit(50.0)).otherwise(col("Cloud_Cover"))),
        Seq("PID"))._2 === 1L)
      t.deleteWhereDV(col("PID") === 10L + tick, Seq("PID"))
      assert(cat.scnlistNeedDownload().isEmpty)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.size <= 1, s"tick $tick left RDDs $left")
    }
    assert(cat.scenes.select("PID").as[Long].collect().sorted ===
      (1L to 5L).toArray)
  }
}
