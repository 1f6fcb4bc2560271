package graft.pipeline

import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.SceneCatalog
import graft.model.Scene
import graft.pipeline.StepRunner.{SceneStep, StepResult}
import graft.sources.{CowTable, PartitionedCowTable}

/** Top-level (not inner) classes: steps ship to executors and must not
  * capture the test suite.
  */
private[pipeline] class DownloadStep(failMod: Long) extends SceneStep {
  val name = "download"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedDownload()
  def process(pid: Long): StepResult =
    StepResult(pid, success = failMod == 0 || pid % failMod != 0, s"dl $pid")
  def onSuccess = Map("Downloaded" -> lit(true))
}

private[pipeline] class ArdStep extends SceneStep {
  val name = "ard"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedArd()
  def process(pid: Long): StepResult = StepResult(pid, success = true, s"ard $pid")
  def onSuccess = Map("ARDProduct" -> lit(true))
}

/** A capped work-list: the sort under the limit decides WHICH scenes
  * run, so the step runner must keep it.
  */
private[pipeline] class FirstNDownloadStep(n: Int) extends SceneStep {
  val name = "first-n-download"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedDownload().limit(n)
  def process(pid: Long): StepResult = StepResult(pid, success = true, s"dl $pid")
  def onSuccess = Map("Downloaded" -> lit(true))
}

/** Counts partition-level inits (local mode: executors share the JVM,
  * so a static counter observes them all).
  */
private[pipeline] object BatchInitCounter {
  val inits = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Batched step: one "client init" per PARTITION, rows streamed through
  * the shared client; the row-wise path must never run.
  */
private[pipeline] class BatchedDownloadStep extends SceneStep {
  val name = "batched-download"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedDownload()
  def process(pid: Long): StepResult =
    throw new IllegalStateException("row path must not be used")
  override def processPartition(pids: Iterator[Long]): Iterator[StepResult] = {
    val client = BatchInitCounter.inits.incrementAndGet() // expensive setup, once
    pids.map(p => StepResult(p, success = true, s"dl $p via client $client"))
  }
  def onSuccess = Map("Downloaded" -> lit(true))
}

/** A download step that succeeds for the scenes of one round
  * (`PID % 4 == round`) and stamps them with `at`.
  */
private[pipeline] class StampStep(round: Int, at: Timestamp) extends SceneStep {
  val name = "stamp"
  def workList(cat: SceneCatalog): DataFrame = cat.scnlistNeedDownload()
  def process(pid: Long): StepResult = StepResult(pid, pid % 4 == round, "")
  def onSuccess = Map("Downloaded" -> lit(true),
    "Download_Start_Date" -> lit(at), "Download_End_Date" -> lit(at))
}

class StepRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def scene(pid: Long, date: String): Scene =
    Scene(pid, s"S$pid", s"P$pid", "LANDSAT_8",
      Timestamp.valueOf(date + " 10:00:00"), Date.valueOf(date), 10.0,
      52, 50, 2, 0, 1000, "gs://x", Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, Downloaded = false, None, None, ARDProduct = false,
      DCLoaded = false, Invalid = false, Archived = false, ExtendedInfo = None)

  private def mkCatalog(n: Int): SceneCatalog = {
    val root = tempDir("pipe") + "/scenes"
    val cat = new SceneCatalog(new CowTable(root, spark), spark)
    cat.table.overwrite((1 to n).map(i => scene(i.toLong, "2020-03-01")).toDF())
    cat
  }

  test("step run updates only succeeded rows; retry picks up failures") {
    val cat = mkCatalog(10)
    val step = new DownloadStep(3) // 3, 6, 9 fail first time
    val (n1, ok1) = StepRunner.runStep(spark, cat, step, parallelism = 4)
    assert(n1 == 10 && ok1 == 7)
    assert(cat.scnlistNeedDownload().as[Long].collect().toSet == Set(3L, 6L, 9L))
    // second run: only the 3 pending scenes are selected; all pass now
    val (n2, ok2) = StepRunner.runStep(spark, cat, new DownloadStep(0), 4)
    assert(n2 == 3 && ok2 == 3)
    assert(cat.scnlistNeedDownload().isEmpty)
  }

  test("runStep job count is pinned on a date-partitioned catalogue: " +
    "the work-list sort is dropped, the write-back stages its delta " +
    "once; the catalogue's own work-lists keep their order") {
    val root = tempDir("pipe_pcow") + "/scenes"
    val cat = new SceneCatalog(
      new PartitionedCowTable(root, "Date_Acquired", spark), spark)
    cat.table.overwrite((1 to 12).map(i =>
      scene(i.toLong, f"2020-03-${i % 3 + 1}%02d")).toDF())
    val ((n, ok), jobs) = org.apache.spark.JobCount(spark.sparkContext)(
      StepRunner.runStep(spark, cat, new DownloadStep(4), parallelism = 4))
    assert(n == 12 && ok == 9)
    // the fill of the table's in-memory copy of the new version (one
    // job: the copy is one partition, so no exchange), the tallies
    // over the cached results, then the upsert's two stage writes (the
    // flagged rows, then the touched dates' others); 8 with no copy
    assert(jobs == 9)
    // failures 12 (03-01), 4 (03-02), 8 (03-03): date order, then PID
    assert(cat.scnlistNeedDownload().as[Long].collect().toSeq ==
      Seq(12L, 4L, 8L))
  }

  test("a work-list sort under a limit is kept: the step processes " +
    "the first scenes in catalogue order, not the first rows stored") {
    val root = tempDir("pipe_lim") + "/scenes"
    val cat = new SceneCatalog(new CowTable(root, spark), spark)
    cat.table.overwrite((10 to 1 by -1).map(i =>
      scene(i.toLong, "2020-03-01")).toDF().coalesce(1))
    val (n, ok) = StepRunner.runStep(spark, cat, new FirstNDownloadStep(3), 4)
    assert(n == 3 && ok == 3)
    assert(cat.scnlistNeedDownload().as[Long].collect().toSeq == (4L to 10L))
  }

  test("batched step: one init per partition, results identical") {
    val cat = mkCatalog(10)
    BatchInitCounter.inits.set(0)
    val (n, ok) = StepRunner.runStep(spark, cat, new BatchedDownloadStep,
      parallelism = 4)
    assert(n == 10 && ok == 10)
    // one client per partition — NOT one per scene (would be 10)
    assert(BatchInitCounter.inits.get() == 4)
    assert(cat.scnlistNeedDownload().isEmpty)
  }

  test("cross-sensor date-ordered work list keeps timestamp collisions") {
    import graft.model.SensorSchemas
    // landsat catalog: PIDs 1..3, Date_Acquired 2020-03-01 (date →
    // midnight timestamp, like the reference's date promotion)
    val l8 = mkCatalog(3)
    // sentinel-1-shaped catalog: one scene at EXACTLY the colliding
    // midnight timestamp, one later the same day
    val s1root = tempDir("pipe_s1") + "/scenes"
    val s1 = new SceneCatalog(new CowTable(s1root, spark), spark,
      SensorSchemas.sentinel1)
    s1.table.overwrite(Seq(
      (101L, Timestamp.valueOf("2020-03-01 00:00:00"), false, false),
      (102L, Timestamp.valueOf("2020-03-01 09:30:00"), false, false)
    ).toDF("PID", "Acquisition_Date", "Downloaded", "Invalid"))
    val merged = MultiSensorRunner.scenesNeedProcessingDateOrder(
      Seq("LandsatGOOG" -> l8, "Sentinel1ASF" -> s1),
      Seq(new DownloadStep(0)))
      .select("sensor", "PID").as[(String, Long)].collect().toSeq
    // the reference's datetime-keyed dict would drop 3 of the 4
    // midnight-colliding rows; all 5 must survive, date-ordered with
    // the deterministic (obs_dt, sensor, PID) tiebreak
    assert(merged == Seq(
      ("LandsatGOOG", 1L), ("LandsatGOOG", 2L), ("LandsatGOOG", 3L),
      ("Sentinel1ASF", 101L), ("Sentinel1ASF", 102L)))
    // a scene needing several steps appears once
    val multi = MultiSensorRunner.scenesNeedProcessing(
      Seq("LandsatGOOG" -> l8), Seq(new DownloadStep(0), new ArdStep))
    assert(multi.count() == 3)
    // driving the steps per sensor drains both catalogs' work lists
    val res = MultiSensorRunner.runAllSensors(spark,
      Seq("LandsatGOOG" -> l8, "Sentinel1ASF" -> s1),
      Seq(new DownloadStep(0)), parallelism = 2)
    assert(res == Seq(("LandsatGOOG", "download", 3L, 3L),
      ("Sentinel1ASF", "download", 2L, 2L)))
    assert(l8.scnlistNeedDownload().isEmpty && s1.scnlistNeedDownload().isEmpty)
  }

  test("ordered multi-step run honors state-machine ordering + audit") {
    val cat = mkCatalog(5)
    val audit = new AuditLog(
      tempDir("audit") + "/log", spark)
    val res = StepRunner.runAll(spark, cat,
      Seq(new DownloadStep(0), new ArdStep), parallelism = 2, Some(audit))
    assert(res == Seq(("download", 5L, 5L), ("ard", 5L, 5L)))
    assert(cat.scnlistNeedArd().isEmpty)
    val log = audit.entries().select("Description").as[String].collect()
    assert(log.length == 2)
    assert(log.exists(_.startsWith("download:")) && log.exists(_.startsWith("ard:")))
  }

  test("a step whose onSuccess timestamp is new compiles no more classes " +
    "than one that repeats it") {
    val cat = new SceneCatalog(new PartitionedCowTable(
      tempDir("pipe_stamp") + "/scenes", "Date_Acquired", spark), spark)
    cat.table.overwrite((1 to 16).map(i =>
      scene(i.toLong, f"2020-03-${i % 3 + 1}%02d")).toDF())
    val t1 = Timestamp.valueOf("2020-03-10 12:00:00")
    def compiles(round: Int, at: Timestamp): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (n, ok) = StepRunner.runStep(spark, cat, new StampStep(round, at), 4)
      assert(ok == 4 && n == 16 - 4 * round)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    compiles(0, t1)
    compiles(1, t1)
    val repeated = compiles(2, t1)
    val renewed = compiles(3, Timestamp.valueOf("2020-03-11 12:00:00"))
    assert(renewed <= repeated, s"new timestamp $renewed, repeated $repeated")
    assert(cat.scenes.filter(col("PID") === 3L)
      .select("Download_Start_Date").as[Timestamp].head() ===
      Timestamp.valueOf("2020-03-11 12:00:00"))
  }
}
