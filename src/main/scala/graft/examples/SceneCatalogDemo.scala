package graft.examples

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.Harness
import graft.catalog.SceneCatalog
import graft.model.Scene
import graft.sources.CowTable
import graft.streaming.IncrementalIngest

/** End-to-end walkthrough of the reference-style catalogue lifecycle
  * (SURVEY.md §3): seed → dedup → work-list → status write-back →
  * reset → incremental ingest with watermark. Run:
  * `sbt "runMain graft.examples.SceneCatalogDemo"`.
  */
object SceneCatalogDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._

    def sc(pid: Long, sid: String, prod: String, d: String,
           dl: Boolean, ard: Boolean) =
      Scene(pid, sid, prod, "LANDSAT_8", Timestamp.valueOf(d + " 10:00:00"),
        Date.valueOf(d), 12.0, 52, 50, 2, 0, 1000, "gs://x",
        Timestamp.valueOf("2020-01-01 00:00:00"),
        None, None, dl, None, None, ard, false, false, false, None)

    val root = java.nio.file.Files.createTempDirectory("demo").toString
    // the scale backend: partition-level COW keyed on acquisition date
    val scenesTable = graft.sources.PartitionedCowTable(
      root + "/scenes", "Date_Acquired")(spark)
    val cat = new SceneCatalog(scenesTable, spark)
    cat.table.overwrite(Seq(
      sc(1, "A", "P1", "2020-03-01", dl = true, ard = true),
      sc(2, "B", "P1", "2020-03-02", dl = false, ard = false),
      sc(3, "B", "P2", "2020-03-02", dl = false, ard = false)).toDF)

    println("NEED_DOWNLOAD=" +
      cat.scnlistNeedDownload().as[Long].collect().mkString(","))
    cat.rmDuplicateScenes()
    println("AFTER_DEDUP=" + cat.scenes.select("PID", "Product_ID")
      .as[(Long, String)].collect().sortBy(_._1).mkString(";"))
    cat.upsertScenes(
      cat.scenes.filter($"PID" === 3L).withColumn("Downloaded", lit(true)))
    println("AFTER_UPSERT_NEED_DL=" +
      cat.scnlistNeedDownload().as[Long].collect().mkString(",") +
      "|count=" + cat.scenes.count())
    cat.resetScene(3L)
    println("AFTER_RESET_NEED_DL=" +
      cat.scnlistNeedDownload().as[Long].collect().mkString(","))
    // the upsert+reset touched only 2020-03-02's partition; 03-01's
    // directory is still the one written by the initial load
    println("MANIFEST=" + scenesTable.manifest.toSeq.sorted
      .map { case (d, dir) => s"$d->${dir.split('/').head}" }.mkString(","))

    val ing = new CowTable(root + "/ing", spark)
    println("WATERMARK_EMPTY=" + IncrementalIngest.watermark(ing, "Sensing_Time"))
    IncrementalIngest.ingestBatch(ing,
      Seq(sc(10, "X", "P1", "2021-05-05", dl = false, ard = false)).toDF,
      Seq("Scene_ID"), Seq(col("Product_ID").desc))
    IncrementalIngest.ingestBatch(ing,
      Seq(sc(10, "X", "P1", "2021-05-05", dl = false, ard = false),
        sc(11, "Y", "P1", "2021-06-06", dl = false, ard = false)).toDF,
      Seq("Scene_ID"), Seq(col("Product_ID").desc))
    println("INGESTED=" + ing.read().count() +
      " WM=" + IncrementalIngest.watermark(ing, "Sensing_Time"))

    try new CowTable(root + "/nothere", spark).read()
    catch { case e: IllegalStateException =>
      println("EMPTY_READ_ERR=" + e.getMessage)
    }

    // state-machine pipeline: download (PID 3 fails once) → ard; retry
    val audit = new graft.pipeline.AuditLog(root + "/audit", spark)
    val res1 = graft.pipeline.StepRunner.runAll(spark, cat,
      Seq(new DemoDownloadStep(failPid = 3L), new DemoArdStep),
      parallelism = 2, Some(audit))
    println("PIPELINE_RUN1=" + res1.mkString(";"))
    val res2 = graft.pipeline.StepRunner.runAll(spark, cat,
      Seq(new DemoDownloadStep(failPid = -1L), new DemoArdStep),
      parallelism = 2, Some(audit))
    println("PIPELINE_RUN2=" + res2.mkString(";"))
    println("AUDIT_ROWS=" + audit.entries().count())
    spark.stop()
  }
}

private class DemoDownloadStep(failPid: Long)
    extends graft.pipeline.StepRunner.SceneStep {
  val name = "download"
  def workList(cat: SceneCatalog) = cat.scnlistNeedDownload()
  def process(pid: Long) =
    graft.pipeline.StepRunner.StepResult(pid, pid != failPid, s"dl $pid")
  def onSuccess = Map("Downloaded" -> lit(true))
}

private class DemoArdStep extends graft.pipeline.StepRunner.SceneStep {
  val name = "ard"
  def workList(cat: SceneCatalog) = cat.scnlistNeedArd()
  def process(pid: Long) =
    graft.pipeline.StepRunner.StepResult(pid, success = true, s"ard $pid")
  def onSuccess = Map("ARDProduct" -> lit(true))
}
