package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Scene
import graft.sources.CowTable

class ObsDatePluginSpec extends SparkSpec {
  import spark.implicits._

  private def scene(pid: Long, platform: String, date: String,
                    invalid: Boolean = false, extInfo: Option[String] = None): Scene =
    Scene(pid, s"S$pid", s"P$pid", platform,
      Timestamp.valueOf(date + " 10:00:00"), Date.valueOf(date), 10.0,
      52, 50, 2, 0, 1000, s"/data/raw/s$pid.zip",
      Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, Downloaded = true, None, None, ARDProduct = true,
      DCLoaded = false, Invalid = invalid, Archived = false,
      ExtendedInfo = extInfo)

  private def mkScenes() = Seq(
    scene(1, "L8", "2020-03-01"),
    scene(2, "L8", "2020-03-01"),
    scene(3, "L9", "2020-03-02"),
    scene(4, "L8", "2020-03-03", invalid = true),
    scene(5, "L9", "2020-03-02", extInfo = Some("""{"quicklook":{"p":"x"}}""")))

  test("obs-date refresh derives both tables; flags survive refresh") {
    implicit val s = spark
    val root = tempDir("obs")
    val cat = ObsDateCatalog("LandsatGOOG", root)
    cat.refresh(mkScenes().toDF())
    // invalid scene 4 excluded -> 2 distinct (platform, date) rows
    assert(cat.obsDates.count() == 2)
    assert(cat.scenesFor("L8", "2020-03-01").select("Scene_PID")
      .as[Long].collect().sameElements(Array(1L, 2L)))
    assert(cat.needProcessing().count() == 2)
    cat.markProcessed("L8", "2020-03-01")
    assert(cat.needProcessing().count() == 1)
    // refresh with a new scene on a new date: processed flag preserved
    cat.refresh((mkScenes() :+ scene(6, "L8", "2020-03-05")).toDF())
    assert(cat.obsDates.count() == 3)
    assert(cat.obsDates.filter($"OverviewCreated").count() == 1)
    assert(cat.needProcessing().count() == 2)
  }

  test("refresh on a date-partitioned backend rewrites only touched dates") {
    import graft.sources.PartitionedCowTable
    val root = tempDir("obsp")
    val scns = new PartitionedCowTable(s"$root/obs_date_scns", "ObsDate", spark)
    val cat = new ObsDateCatalog(graft.model.SensorSchemas.landsat,
      new CowTable(s"$root/obs_dates", spark), scns, spark)
    cat.refresh(mkScenes().toDF())
    val before = scns.manifest
    assert(before.keySet == Set("2020-03-01", "2020-03-02"))
    // second refresh touches only the new date: the 03-01/03-02
    // partitions must be carried by reference (same dirs), not rewritten
    cat.refresh(Seq(scene(6, "L8", "2020-03-05")).toDF())
    val after = scns.manifest
    assert(after.keySet ==
      Set("2020-03-01", "2020-03-02", "2020-03-05"))
    assert(after("2020-03-01") == before("2020-03-01"))
    assert(after("2020-03-02") == before("2020-03-02"))
    assert(cat.scenesFor("L8", "2020-03-05").count() == 1)
  }

  test("obs-date catalog is sensor-generic: S1/S2 schemas, timestamp cast, window") {
    import graft.model.SensorSchemas
    implicit val s = spark
    // Sentinel-1: platform col `Platform`, obs date cast from the
    // `Acquisition_Date` TIMESTAMP (the generic obsDate expression)
    val s1 = Seq(
      (1L, "Sentinel-1A", Timestamp.valueOf("2020-03-01 05:00:00"), false),
      (2L, "Sentinel-1A", Timestamp.valueOf("2020-03-01 06:10:00"), false),
      (3L, "Sentinel-1B", Timestamp.valueOf("2020-03-02 05:00:00"), false),
      (4L, "Sentinel-1A", Timestamp.valueOf("2020-03-03 05:00:00"), true)
    ).toDF("PID", "Platform", "Acquisition_Date", "Invalid")
    val c1 = ObsDateCatalog(SensorSchemas.sentinel1,
      tempDir("obs_s1"))
    c1.refresh(s1)
    assert(c1.obsDates.count() == 2) // invalid 4 excluded
    assert(c1.scenesFor("Sentinel-1A", "2020-03-01").select("Scene_PID")
      .as[Long].collect().sameElements(Array(1L, 2L)))
    assert(c1.obsDates.select("SensorID").distinct().as[String].head() ==
      "Sentinel1ASF")
    // Sentinel-2: platform col `Platform_ID`, obs date from Sensing_Time
    val s2 = Seq(
      (10L, "Sentinel-2A", Timestamp.valueOf("2020-04-01 10:00:00"), false),
      (11L, "Sentinel-2B", Timestamp.valueOf("2020-04-02 10:00:00"), false)
    ).toDF("PID", "Platform_ID", "Sensing_Time", "Invalid")
    val c2 = ObsDateCatalog(SensorSchemas.sentinel2,
      tempDir("obs_s2"))
    // inclusive refresh window (the reference's start/end args)
    c2.refresh(s2, startIncl = Some("2020-04-02"))
    assert(c2.obsDates.count() == 1)
    assert(c2.scenesFor("Sentinel-2B", "2020-04-02").count() == 1)
    // a sensor with no platform column fails loudly, like the
    // reference's unimplemented find_unique_platforms
    val g = Seq((20L, Date.valueOf("2020-05-01"), false))
      .toDF("PID", "Date_Acquired", "Invalid")
    val cg = ObsDateCatalog(SensorSchemas.gedi,
      tempDir("obs_g"))
    intercept[UnsupportedOperationException] { cg.refresh(g) }
  }

  test("overviews JSON: write-back, path rewrite, export/import roundtrip") {
    implicit val s = spark
    val root = tempDir("obs3")
    val cat = ObsDateCatalog("LandsatGOOG", root)
    cat.refresh(mkScenes().toDF())
    cat.markProcessed("L8", "2020-03-01",
      Some("""{"mosaic":"/data/vis/l8_0301.png"}"""))
    assert(cat.obsDates.filter($"Overviews".isNotNull).count() == 1)
    cat.updateOverviewPathPrefix("/data/vis", "/archive/vis")
    assert(cat.obsDates.filter($"Overviews".contains("/archive/vis")).count() == 1)
    // export -> import into a fresh catalog with a path rewrite
    cat.exportJson(s"$root/dates.json", s"$root/scns.json")
    val cat2 = ObsDateCatalog("LandsatGOOG",
      tempDir("obs4"))
    cat2.importJson(s"$root/dates.json", s"$root/scns.json",
      pathRewrites = Map("/archive/vis" -> "/new/vis"))
    assert(cat2.obsDates.count() == 2 && cat2.obsDateScns.count() == 4)
    assert(cat2.obsDates.filter($"Overviews".contains("/new/vis")).count() == 1)
    assert(cat2.obsDates.filter($"OverviewCreated").count() == 1)
  }

  test("strict obs-date range uses open bounds") {
    implicit val s = spark
    val cat = ObsDateCatalog("LandsatGOOG",
      tempDir("obs2"))
    cat.refresh(mkScenes().toDF())
    // (2020-03-01, 2020-03-02) strictly between -> nothing
    assert(cat.datesInRangeStrict("2020-03-01", "2020-03-02").count() == 0)
    assert(cat.datesInRangeStrict("2020-02-28", "2020-03-02").count() == 1)
  }

  test("plugin catalog: need-list, upsert, reset, summary") {
    implicit val s = spark
    val plug = PluginCatalog(tempDir("plug") + "/t")
    val scenes = mkScenes().toDF().filter(!$"Invalid")
    // nothing recorded yet -> all 4 eligible scenes need the plugin
    assert(plug.scenesNeedingPlugin(scenes, "ndvi").as[Long].collect().length == 4)
    val t0 = Timestamp.valueOf("2020-03-10 00:00:00")
    val t1 = Timestamp.valueOf("2020-03-10 00:01:40")
    plug.upsert(Seq(
      plug.mkResult(1L, "ndvi", success = true, t0, t1, Some("""{"v":1}""")),
      plug.mkResult(2L, "ndvi", success = false, t0, t1)).toDS().toDF())
    assert(plug.scenesNeedingPlugin(scenes, "ndvi").as[Long].collect()
      .sameElements(Array(3L, 5L)))
    // composite key: same scene, different plugin is independent
    assert(plug.scenesNeedingPlugin(scenes, "evi").as[Long].collect().length == 4)
    val sum = plug.summary().collect().head
    assert(sum.getAs[Long]("n_completed") == 2 &&
      sum.getAs[Long]("n_success") == 1 &&
      sum.getAs[Double]("avg_duration_s") == 100.0)
    plug.reset("ndvi", Some(Seq(2L)))
    assert(plug.scenesNeedingPlugin(scenes, "ndvi").as[Long].collect()
      .sameElements(Array(2L, 3L, 5L)))
  }

  test("scene catalog: json work-lists, date query toggles, path rewrite") {
    val root = tempDir("sc") + "/scenes"
    val cat = new SceneCatalog(new CowTable(root, spark), spark)
    cat.table.overwrite(mkScenes().toDF())
    // scene 5 has a quicklook key; 4 is invalid -> 1,2,3 need quicklook
    assert(cat.scnlistNeedQuicklook().as[Long].collect()
      .sameElements(Array(1L, 2L, 3L)))
    assert(cat.scnlistNeedTilecache().as[Long].collect()
      .sameElements(Array(1L, 2L, 3L, 5L)))
    // independent toggles: valid=false includes the invalid scene
    assert(cat.scenesForDate("2020-03-03", valid = false, ardProd = false)
      .select("PID").as[Long].collect().sameElements(Array(4L)))
    assert(cat.scenesForDate("2020-03-03").count() == 0)
    assert(cat.scenesForDate("2020-03-02", platform = Some("L9"))
      .count() == 2)
    assert(cat.hasScnFlag(1L, "Downloaded") && !cat.isScnInvalid(1L))
    assert(cat.isScnInvalid(4L))
    assert(cat.sceneBySceneId("S3").select("PID").as[Long].head() == 3L)
    cat.updatePathPrefix("Remote_URL", "/data/raw", "/archive")
    assert(cat.scenes.filter($"Remote_URL".startsWith("/archive")).count() == 5)
    cat.markArchived(Seq(1L, 4L))
    // 4 is not Downloaded=false... scene 4 IS downloaded; both archived
    assert(cat.scenes.filter($"Archived").count() == 2)
    assert(cat.countScenesForDateRange("2020-03-03", "2020-03-01",
      validOnly = false) == 5)
    assert(cat.scenesForDateRangeBBox("2020-03-03", "2020-03-01",
      60, 45, 10, -5, validOnly = false).count() == 5)
  }
}
