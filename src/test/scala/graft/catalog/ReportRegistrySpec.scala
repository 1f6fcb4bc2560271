package graft.catalog

import java.sql.Date

import graft.SparkSpec
import graft.sources.CowTable

class ReportRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def mk(): (ReportRegistry, String) = {
    val root = tempDir("rpt") + "/reports"
    (new ReportRegistry(new CowTable(root, spark), spark), root)
  }

  test("fresh registry lists empty with the full schema; PIDs allocate 1,2,3") {
    val (reg, _) = mk()
    assert(reg.reports.count() == 0)
    assert(reg.reports.columns.toSeq == Seq("PID", "File_Path", "Start_Date",
      "End_Date", "Production_Date", "Sensor", "Platform", "Scn_Images",
      "ExtendedInfo"))
    val p1 = reg.record("/out/r1.pdf", Date.valueOf("2020-03-10"),
      Date.valueOf("2020-03-01"), "LandsatGOOG", "LANDSAT_8")
    val p2 = reg.record("/out/r2.pdf", Date.valueOf("2020-04-10"),
      Date.valueOf("2020-04-01"), "Sentinel2GOOG", "Sentinel-2A",
      scnImagesJson = Some("""{"20200401_S2":"img.png"}"""))
    val p3 = reg.record("/out/r3.pdf", Date.valueOf("2020-03-20"),
      Date.valueOf("2020-03-05"), "LandsatGOOG", "LANDSAT_7")
    assert((p1, p2, p3) == ((1L, 2L, 3L)))
  }

  test("list filters by sensor/platform; reportsForDate uses closed bounds") {
    val (reg, _) = mk()
    reg.record("/out/r1.pdf", Date.valueOf("2020-03-10"),
      Date.valueOf("2020-03-01"), "LandsatGOOG", "LANDSAT_8")
    reg.record("/out/r2.pdf", Date.valueOf("2020-04-10"),
      Date.valueOf("2020-04-01"), "Sentinel2GOOG", "Sentinel-2A")
    reg.record("/out/r3.pdf", Date.valueOf("2020-03-20"),
      Date.valueOf("2020-03-05"), "LandsatGOOG", "LANDSAT_7")
    assert(reg.list(sensor = Some("LandsatGOOG")).count() == 2)
    assert(reg.list(sensor = Some("LandsatGOOG"),
      platform = Some("LANDSAT_7")).select("File_Path")
      .as[String].head() == "/out/r3.pdf")
    // 2020-03-07 is inside r1 [03-01..03-10] and r3 [03-05..03-20]
    assert(reg.reportsForDate(Date.valueOf("2020-03-07"))
      .select("PID").as[Long].collect().toSet == Set(1L, 3L))
    // boundary date is included (closed range)
    assert(reg.reportsForDate(Date.valueOf("2020-04-10"))
      .select("PID").as[Long].collect().toSeq == Seq(2L))
    // inverted range fails loudly (Start_Date is the most recent date)
    intercept[IllegalArgumentException] {
      reg.record("/out/bad.pdf", Date.valueOf("2020-03-01"),
        Date.valueOf("2020-03-10"), "LandsatGOOG", "LANDSAT_8")
    }
  }

  test("registry rows round-trip through the CoW backend across reopen") {
    val (reg, root) = mk()
    reg.record("/out/r1.pdf", Date.valueOf("2020-03-10"),
      Date.valueOf("2020-03-01"), "LandsatGOOG", "LANDSAT_8",
      extendedInfo = Some("""{"pages":4}"""))
    reg.record("/out/r2.pdf", Date.valueOf("2020-04-10"),
      Date.valueOf("2020-04-01"), "Sentinel2GOOG", "Sentinel-2A")
    reg.remove(1L)
    // reopen the same root: the surviving row and the PID watermark
    // both come back from disk — next PID continues past the removed 1
    val again = new ReportRegistry(new CowTable(root, spark), spark)
    assert(again.reports.select("PID").as[Long].collect().toSeq == Seq(2L))
    val p = again.record("/out/r3.pdf", Date.valueOf("2020-05-10"),
      Date.valueOf("2020-05-01"), "GEDI", "GEDI")
    assert(p == 3L)
    assert(again.reports.count() == 2)
    // remove on an empty/missing table is a no-op, not a crash
    val (fresh, _) = mk()
    fresh.remove(99L)
    assert(fresh.reports.count() == 0)
  }
}
