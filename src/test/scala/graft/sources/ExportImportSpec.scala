package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._

import graft.SparkSpec

class ExportImportSpec extends SparkSpec {
  import spark.implicits._

  test("json round trip with legacy-typo rename and path rewrite") {
    val df = Seq(
      (1L, "catA", "/old/root/scene1.tif"),
      (2L, "catB", "/old/root/scene2.tif")).toDF("id", "category", "path")
    val dir = tempDir("ei") + "/t"
    // export under the legacy (typo) column name, as the reference did
    ExportImport.exportJson(df.withColumnRenamed("category", "Catagory"), dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("category", StringType),
      StructField("path", StringType)))
    val back = ExportImport.importJson(spark, dir, schema,
      renames = Map("Catagory" -> "category"),
      pathRewrites = Map("path" -> ("/old/root", "/new/base")))
    val rows = back.orderBy("id").as[(Long, String, String)].collect()
    assert(rows.sameElements(Array(
      (1L, "catA", "/new/base/scene1.tif"),
      (2L, "catB", "/new/base/scene2.tif"))))
  }

  test("GeoJSON footprint export: valid FeatureCollection, closed rings") {
    import java.sql.Date
    val scenes = Seq(
      (1L, "S1", Date.valueOf("2020-03-01"), Some(12.5), 52.0, 50.0, 2.0, 0.0),
      (2L, "S2", Date.valueOf("2020-03-02"), None, 10.0, 8.0, -10.0, -12.0))
      .toDF("PID", "Scene_ID", "Date_Acquired", "Cloud_Cover",
        "North_Lat", "South_Lat", "East_Lon", "West_Lon")
    val file = tempDir("gj") + "/scenes.geojson"
    ExportImport.exportGeoJson(scenes, file,
      props = Seq("PID", "Scene_ID", "Date_Acquired", "Cloud_Cover"))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
    assert(tree.get("type").asText() == "FeatureCollection")
    val feats = tree.get("features")
    assert(feats.size() == 2)
    val f1 = feats.get(0)
    assert(f1.get("type").asText() == "Feature")
    assert(f1.get("geometry").get("type").asText() == "Polygon")
    val ring = f1.get("geometry").get("coordinates").get(0)
    // closed ring, 5 points, [lon, lat] order, bbox corners
    assert(ring.size() == 5)
    assert(ring.get(0).get(0).asDouble() == 0.0) // west
    assert(ring.get(0).get(1).asDouble() == 50.0) // south
    assert(ring.get(2).get(0).asDouble() == 2.0) // east
    assert(ring.get(2).get(1).asDouble() == 52.0) // north
    assert(ring.get(0).toString == ring.get(4).toString)
    assert(f1.get("properties").get("Scene_ID").asText() == "S1")
    assert(f1.get("properties").get("Date_Acquired").asText() == "2020-03-01")
    // None attribute survives as JSON null, not a dropped key
    assert(feats.get(1).get("properties").has("Cloud_Cover"))
    assert(feats.get(1).get("properties").get("Cloud_Cover").isNull)
  }

  test("sharded GeoJSON export round-trips; manifest published LAST; bare shards refused") {
    import org.apache.spark.sql.types._
    // spread enough rows across partitions that more than one shard is
    // plausible; values exercise negatives and fractional coords
    val scenes = (1 to 40).map(i =>
      (i.toLong, s"S$i", 50.0 + i * 0.1, 48.0 + i * 0.1,
        2.0 + i * 0.05, -1.0 + i * 0.05))
      .toDF("PID", "Scene_ID", "North_Lat", "South_Lat",
        "East_Lon", "West_Lon")
      .repartition(4)
    val dir = tempDir("gjs") + "/export"
    val n = ExportImport.exportGeoJsonSharded(scenes, dir,
      props = Seq("PID", "Scene_ID"))
    assert(n === 40L)
    // manifest: published, counts match, shards listed
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "manifest.json")))
    assert(m.get("n_features").asLong() === 40L)
    assert(m.get("shards").size() >= 1)
    assert(m.get("crs").asText() === "EPSG:4326")
    // round trip: properties AND the bbox reconstructed from the ring
    val propsSchema = StructType(Seq(
      StructField("PID", LongType), StructField("Scene_ID", StringType)))
    val back = ExportImport.importGeoJsonSharded(spark, dir, propsSchema)
      .orderBy("PID")
      .as[(Long, String, Double, Double, Double, Double)]
      .collect().toSeq
    val expected = (1 to 40).map(i =>
      (i.toLong, s"S$i", 50.0 + i * 0.1, 48.0 + i * 0.1,
        2.0 + i * 0.05, -1.0 + i * 0.05))
    assert(back === expected)
    // CoW discipline: a dir with shards but NO manifest (writer died
    // before publish) must refuse to load, not half-load
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "manifest.json"))
    intercept[IllegalArgumentException] {
      ExportImport.importGeoJsonSharded(spark, dir, propsSchema)
    }
  }

  test("single-file dump: reference shape, null dates, plugin section") {
    import java.sql.{Date, Timestamp}
    import org.apache.spark.sql.functions.col
    val scenes = Seq(
      (1L, "S1", Date.valueOf("2020-03-01"),
        Some(Timestamp.valueOf("2020-03-02 10:30:00")), Some("""{"k":1}""")),
      (2L, "S2", Date.valueOf("2020-03-05"), None, None))
      .toDF("PID", "Scene_ID", "Date_Acquired", "Download_End_Date",
        "ExtendedInfo")
    val plugins = Seq(
      (1L, "ndvi", true), (2L, "ndvi", false), (1L, "water", true))
      .toDF("Scene_PID", "PlugInName", "Completed")
    val file = tempDir("ei3") + "/dump.json"
    ExportImport.exportJsonSingleFile(scenes, file, Some(plugins))
    // exactly ONE file, with the reference's nesting and ISO strings
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file)), "UTF-8")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(tree.get("scn_db").fieldNames().asScala.toSet == Set("1", "2"))
    assert(tree.get("scn_db").get("1").get("Download_End_Date").asText()
      == "2020-03-02T10:30:00")
    assert(tree.get("scn_db").get("2").get("Download_End_Date").asText() == "")
    // null NON-date columns must still be present (as JSON null), like
    // the reference's json.dump of None — not silently dropped keys
    assert(tree.get("scn_db").get("2").has("ExtendedInfo"))
    assert(tree.get("scn_db").get("2").get("ExtendedInfo").isNull)
    assert(tree.get("plgin_db").fieldNames().asScala.toSet ==
      Set("ndvi", "water"))
    assert(tree.get("plgin_db").get("ndvi").fieldNames().asScala.toSet ==
      Set("1", "2"))
    // round trip back to typed DataFrames
    val back = ExportImport.importJsonSingleFile(spark, file, scenes.schema)
      .select(scenes.columns.map(col): _*)
    assert(back.orderBy("PID").collect().toSeq ==
      scenes.orderBy("PID").collect().toSeq)
    val backPl = ExportImport.importJsonSingleFile(spark, file,
      plugins.schema, section = "plgin_db", plugin = Some("ndvi"))
      .select(plugins.columns.map(col): _*)
    assert(backPl.count() == 2)
  }

  test("single-file exports enforce their driver-scale row contract") {
    import java.sql.Date
    val scenes = (1L to 50L).map(i =>
      (i, s"S$i", Date.valueOf("2020-03-01"), 52.0, 50.0, 2.0, 0.0))
      .toDF("PID", "Scene_ID", "Date_Acquired",
        "North_Lat", "South_Lat", "East_Lon", "West_Lon")
    val dir = tempDir("guard")
    // over the cap: both single-file paths fail loudly, naming the
    // distributed alternative, and write nothing
    val e1 = intercept[IllegalArgumentException] {
      ExportImport.exportGeoJson(scenes, s"$dir/a.geojson",
        props = Seq("PID"), maxRows = 10)
    }
    assert(e1.getMessage.contains("exportGeoJsonSharded"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/a.geojson")))
    val e2 = intercept[IllegalArgumentException] {
      ExportImport.exportJsonSingleFile(scenes, s"$dir/b.json", maxRows = 10)
    }
    assert(e2.getMessage.contains("exportJson"))
    // at the cap exactly: allowed
    ExportImport.exportGeoJson(scenes, s"$dir/c.geojson",
      props = Seq("PID"), maxRows = 50)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/c.geojson")))
    // empty props is a caller bug, refused before any job runs
    val e3 = intercept[IllegalArgumentException] {
      ExportImport.exportGeoJson(scenes, s"$dir/d.geojson", props = Nil)
    }
    assert(e3.getMessage.contains("props"))
  }

  test("typed columns survive the round trip (schema-on-read)") {
    val df = Seq((1L, 2.5, java.sql.Date.valueOf("2020-05-05"), true))
      .toDF("k", "x", "d", "b")
    val dir = tempDir("ei2") + "/t"
    ExportImport.exportJson(df, dir)
    val back = ExportImport.importJson(spark, dir, df.schema)
    // JSON read is always nullable; names+types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, Double, java.sql.Date, Boolean)].head() ==
      ((1L, 2.5, java.sql.Date.valueOf("2020-05-05"), true)))
  }
  test("uuid5Url matches RFC 4122 / python uuid.uuid5(NAMESPACE_URL, .)") {
    import org.apache.spark.sql.functions._
    val out = Seq("/data/ard/LC08_scene_001", "x").toDF("p")
      .select(ExportImport.uuid5Url(col("p")).as("u"))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("90c677f1-7148-5dc6-b04d-204f42e45559",
      "4cd605e7-afa2-5360-b5b9-c5e9fb5c76f4"))
  }

  test("datacubeYamlDocs: one YAML doc per ARD-not-loaded scene (S10)") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val rows = Seq(
      (1L, "LC08_SC1", "LANDSAT_8", "OLI_TIRS",
        Timestamp.valueOf("2020-03-01 10:30:00"),
        Option(Timestamp.valueOf("2020-03-02 01:02:03")),
        true, false, 52.0, 50.0, 3.0, 0.5,
        "/data/ard/LC08_scene_001", "/d/img.tif", "/d/cld.tif", "/d/val.tif",
        32631, 100000.0, 300000.0, 5500000.0, 5700000.0),
      // Sentinel-2 path: 6-band map, no coastal
      (2L, "S2A_SC2", "SENTINEL2A", "MSI",
        Timestamp.valueOf("2020-04-01 10:30:00"),
        Option(Timestamp.valueOf("2020-04-02 01:02:03")),
        true, false, 52.0, 50.0, 3.0, 0.5,
        "/data/ard/S2A_scene_002", "/d/s2.tif", "/d/s2c.tif", "/d/s2v.tif",
        32631, 100000.0, 300000.0, 5500000.0, 5700000.0),
      // already loaded: excluded
      (3L, "LC08_SC3", "LANDSAT_8", "OLI_TIRS",
        Timestamp.valueOf("2020-03-01 10:30:00"),
        Option(Timestamp.valueOf("2020-03-02 01:02:03")),
        true, true, 52.0, 50.0, 3.0, 0.5,
        "/data/ard/LC08_scene_003", "/d/i3.tif", "/d/c3.tif", "/d/v3.tif",
        32631, 100000.0, 300000.0, 5500000.0, 5700000.0))
      .toDF("PID", "Scene_ID", "Spacecraft_ID", "Sensor_ID",
        "Sensing_Time", "ARDProduct_End_Date", "ARDProduct", "DCLoaded",
        "North_Lat", "South_Lat", "East_Lon", "West_Lon",
        "ARDProduct_Path", "img_path", "cmsk_path", "vmsk_path",
        "epsg", "proj_minx", "proj_maxx", "proj_miny", "proj_maxy")
    val docs = ExportImport.datacubeYamlDocs(rows)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.keySet === Set(1L, 2L)) // DCLoaded excluded
    val y = docs(1L)
    // pyyaml-sorted top-level keys, reference field content
    assert(y.startsWith("creation_dt: '2020-03-02 01:02:03'\n"))
    assert(y.contains("id: 90c677f1-7148-5dc6-b04d-204f42e45559\n"))
    assert(y.contains("label: LC08_SC1\n"))
    assert(y.contains("platform:\n  code: LANDSAT_8\n"))
    assert(y.contains("instrument:\n  name: OLI_TIRS\n"))
    assert(y.contains("spatial_reference: EPSG:32631\n"))
    assert(y.contains("center_dt: '2020-03-01 10:30:00'"))
    assert(y.contains(
      "    ll:\n      lat: 50.0\n      lon: 0.5\n"))
    assert(y.contains(
      "      ur:\n        x: 300000.0\n        y: 5700000.0\n"))
    // LANDSAT_8 gets the 7-band + mask map, bands pyyaml-sorted
    assert(y.contains("    coastal:\n      layer: 1\n      path: /d/img.tif\n"))
    assert(y.contains("    swir2:\n      layer: 7\n"))
    assert(y.contains("    fmask:\n      layer: 1\n      path: /d/cld.tif\n"))
    val topKeys = y.split("\n").filter(l => l.nonEmpty && !l.startsWith(" "))
      .map(_.takeWhile(_ != ':')).toSeq
    assert(topKeys === topKeys.sorted) // pyyaml sort_keys layout
    // non-Landsat band map: blue is layer 1, no coastal band
    assert(docs(2L).contains("    blue:\n      layer: 1\n"))
    assert(!docs(2L).contains("coastal"))
  }

  test("datacubeYamlDocs: numerics stay plain-decimal (no scientific notation)") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // Southern-hemisphere UTM northing (1e7 m) is the real-world value
    // that Java's Double.toString renders as '1.0E7' — pyyaml's float
    // resolver requires a SIGNED exponent, so that parses as a STRING
    // and the document diverges from the reference dump (round-6
    // advice). Sub-milli lat exercises the small end of %s's switch.
    val rows = Seq(
      (9L, "S2A_S", "SENTINEL2A", "MSI",
        Timestamp.valueOf("2020-04-01 10:30:00"),
        Option(Timestamp.valueOf("2020-04-02 01:02:03")),
        true, false, -33.25, -34.0, 19.125, 0.0001,
        "/data/ard/S2A_scene_s", "/d/a.tif", "/d/b.tif", "/d/c.tif",
        32734, 250000.0, 410000.0, 6230000.0, 10000000.0))
      .toDF("PID", "Scene_ID", "Spacecraft_ID", "Sensor_ID",
        "Sensing_Time", "ARDProduct_End_Date", "ARDProduct", "DCLoaded",
        "North_Lat", "South_Lat", "East_Lon", "West_Lon",
        "ARDProduct_Path", "img_path", "cmsk_path", "vmsk_path",
        "epsg", "proj_minx", "proj_maxx", "proj_miny", "proj_maxy")
    val y = ExportImport.datacubeYamlDocs(rows)
      .collect().map(r => r.getString(1)).head
    assert(y.contains("y: 10000000.0\n"), y.linesIterator
      .filter(_.contains("y:")).mkString("|"))
    assert(y.contains("lon: 0.0001\n"))
    assert(y.contains("lat: -34.0\n"))
    // every coordinate line is plain-decimal (the uuid's hex can
    // legitimately contain 'e7', so scan only the numeric lines)
    val numLines = y.linesIterator.filter(l =>
      Seq("x:", "y:", "lat:", "lon:").exists(k => l.trim.startsWith(k))).toSeq
    assert(numLines.nonEmpty &&
      numLines.forall(l => !l.toUpperCase.contains("E")),
      s"scientific notation leaked into YAML numerics: $numLines")
  }
}
