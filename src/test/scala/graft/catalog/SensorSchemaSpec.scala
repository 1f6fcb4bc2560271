package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{Icesat2Scene, Sentinel1Scene, SensorSchemas}
import graft.sources.CowTable

/** The shared catalogue API over NON-Landsat sensor schemas: identity,
  * obs-date and platform columns differ per sensor (SURVEY §1.1; the
  * reference re-declares the whole table five times), and the
  * sensor-specific metadata lives as typed columns — filterable and
  * pushdown-friendly, never JSON.
  */
class SensorSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def s1(pid: Long, sceneId: String, product: String, date: String,
                 platform: String, incidence: Double, orbit: Int,
                 dl: Boolean = false): Sentinel1Scene =
    Sentinel1Scene(pid, sceneId, product, s"$product-file", Some(orbit),
      Some(orbit % 175), Some("ASCENDING"), Some(incidence), Some("R"),
      Some(platform), Some("VV VH"),
      Timestamp.valueOf(date + " 05:30:00"), None, None,
      52, 50, 2, 0, None, None, None, Some(1000L + pid),
      Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, dl, None, None, ARDProduct = false,
      DCLoaded = false, Invalid = false, Archived = false,
      ExtendedInfo = None)

  private def is2(pid: Long, granule: String, version: String, start: String,
                  orbit: Int): Icesat2Scene =
    Icesat2Scene(pid, s"prod$pid", granule, s"title$pid",
      Timestamp.valueOf(start + " 01:00:00"),
      Timestamp.valueOf(start + " 02:00:00"),
      Timestamp.valueOf(start + " 03:00:00"),
      "ATL03", version, Online = true, None, None, None, None, None,
      None, None, Some(orbit), Some(52.0), Some(50.0), Some(2.0), Some(0.0),
      Some(9.5), None, "https://example.org/d",
      Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, Downloaded = false, None, None, ARDProduct = false,
      DCLoaded = false, Invalid = false, Archived = false,
      ExtendedInfo = None)

  private def mkS1(): SceneCatalog = {
    val root = tempDir("s1cat") + "/scenes"
    val cat = new SceneCatalog(new CowTable(root, spark), spark,
      SensorSchemas.sentinel1)
    cat.table.overwrite(Seq(
      s1(1, "S1A_A", "PROD_001", "2020-03-01", "Sentinel-1A", 33.9, 10, dl = true),
      s1(2, "S1A_B", "PROD_002", "2020-03-02", "Sentinel-1A", 42.1, 11),
      s1(3, "S1B_A", "PROD_003", "2020-03-03", "Sentinel-1B", 29.4, 12),
      s1(4, "S1B_A", "PROD_004", "2020-03-03", "Sentinel-1B", 29.4, 12)
    ).toDF())
    cat
  }

  test("S1: work-lists, watermark, dedup and lookup use S1 columns") {
    val cat = mkS1()
    assert(cat.scnlistNeedDownload().as[Long].collect()
      .sameElements(Array(2L, 3L, 4L)))
    assert(cat.watermark().as[Date].head() == Date.valueOf("2020-03-03"))
    assert(cat.distinctPlatforms().as[String].collect()
      .sameElements(Array("Sentinel-1A", "Sentinel-1B")))
    // J6 dedup: group by Scene_ID, newest Product_Name wins
    cat.rmDuplicateScenes()
    assert(cat.scenes.count() == 3)
    assert(cat.sceneBySceneId("S1B_A").select("Product_Name")
      .as[String].head() == "PROD_004")
  }

  test("S1: date range over Acquisition_Date; cloud threshold rejected") {
    val cat = mkS1()
    val pids = cat.scenesForDateRange("2020-03-02", "2020-03-01",
      validOnly = false).select("PID").as[Long].collect()
    assert(pids.sameElements(Array(2L, 1L)))
    intercept[IllegalArgumentException] {
      cat.scenesForDateRange("2020-03-02", "2020-03-01",
        cloudThres = Some(50.0))
    }
  }

  test("S1: sensor-specific typed columns filter directly") {
    val cat = mkS1()
    // the S1 user query the JSON fallback could never push down:
    // incidence-angle range + orbit equality on typed columns
    val hits = cat.scenes
      .filter(col("Incidence_Angle").between(29.0, 35.0) &&
        col("Flight_Direction") === "ASCENDING")
      .select("PID").as[Long].collect().sorted
    assert(hits.sameElements(Array(1L, 3L, 4L)))
  }

  test("ICESAT2: date derives from Start_Time; no platform column") {
    val root = tempDir("is2cat") + "/scenes"
    val cat = new SceneCatalog(new CowTable(root, spark), spark,
      SensorSchemas.icesat2)
    cat.table.overwrite(Seq(
      is2(1, "GR_1", "002", "2020-05-01", 700),
      is2(2, "GR_1", "003", "2020-05-01", 700),
      is2(3, "GR_2", "002", "2020-05-04", 701)).toDF())
    assert(cat.watermark().as[Date].head() == Date.valueOf("2020-05-04"))
    assert(cat.distinctObsDates(validOnly = true).count() == 2)
    intercept[IllegalArgumentException] { cat.distinctPlatforms() }
    // J6: Granule_ID groups, newest Version wins
    cat.rmDuplicateScenes()
    assert(cat.sceneBySceneId("GR_1").select("Version")
      .as[String].head() == "003")
    // state-machine mutation works unchanged (shared columns)
    cat.resetScene(3)
    assert(cat.scnlistNeedDownload().count() == 2)
  }
}
