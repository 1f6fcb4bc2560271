package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{load => t}
import graft.functions.{GraftFunctions => G}
import graft.operators.{SceneQueryOps => S}

/** Spatial/bbox operator queries (SURVEY.md §2.3 J2, §2.8 C8–C10).
  * The synthetic tables carry no geometry, so scene-like footprints are
  * derived from integer keys with exact arithmetic — identical in
  * Spark and the DuckDB oracle — and the custom WKT expressions are
  * exercised against that arithmetic oracle.
  */
object GeoQueries {

  /** Derived integer footprint per customer (exact in both engines):
    * south = key%160-80, north = south+1+key%7,
    * west = (key*7)%340-170, east = west+1+key%11.
    */
  private def footprints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      (col("c_custkey") % 160 - 80).cast("double").as("south0"),
      ((col("c_custkey") * 7) % 340 - 170).cast("double").as("west0"))
      .select(
        col("c_custkey"),
        (col("south0") + lit(1.0) + (col("c_custkey") % 7).cast("double")).as("north"),
        col("south0").as("south"),
        (col("west0") + lit(1.0) + (col("c_custkey") % 11).cast("double")).as("east"),
        col("west0").as("west"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C8 + F7 + J2: WKT round-trip through the custom Catalyst
    // expressions, then strict-overlap semi-filter against a query
    // window (the broadcast spatial-join probe side). The WKT string is
    // built, parsed back to a bbox, and the parsed values are both
    // filtered and returned — so the oracle checks parse correctness.
    "q23_bbox_overlap_wkt" -> { (s, dir) =>
      val fp = footprints(s, dir)
      val wkt = concat(
        lit("POLYGON(("),
        col("west"), lit(" "), col("south"), lit(", "),
        col("east"), lit(" "), col("south"), lit(", "),
        col("east"), lit(" "), col("north"), lit(", "),
        col("west"), lit(" "), col("north"), lit(", "),
        col("west"), lit(" "), col("south"), lit("))"))
      fp.withColumn("bbox", G.bboxFromWkt(wkt))
        .filter(G.bboxIntersects(
          col("bbox"),
          G.bbox(lit(30.0), lit(-10.0), lit(60.0), lit(0.0))))
        .select(
          col("c_custkey"),
          col("bbox.north").as("north"), col("bbox.south").as("south"),
          col("bbox.east").as("east"), col("bbox.west").as("west"))
        .orderBy("c_custkey")
    },

    // C9: antimeridian-style split — wide boxes explode into ≤90°
    // slices; count parts and check span conservation per row.
    "q24_bbox_split" -> { (s, dir) =>
      val wide = t(s, dir, "supplier").select(
        col("s_suppkey"),
        lit(10.0).as("north"), lit(0.0).as("south"),
        ((col("s_suppkey") % 5) * 67 - 160).cast("double").as("west"))
        .withColumn("east", col("west") + lit(140.0) + (col("s_suppkey") % 3).cast("double") * 50)
      wide
        .select(col("s_suppkey"), col("east"), col("west"),
          explode(G.bboxSplit(G.bbox(col("north"), col("south"), col("east"), col("west")), 90.0)).as("p"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("p.east") - col("p.west")), 6).as("span_sum"),
          round(max(col("p.east") - col("p.west")), 6).as("max_width"))
        .orderBy("s_suppkey")
    },

    // C9 proper: the reference's wrong-way-wrap cut — spans over 90°
    // emit their COMPLEMENT boxes (lon parts × lat parts; see
    // BBox.cutWrap). Synthetic boxes hit all four branches: no cut,
    // lon-only, lat-only, both.
    "q48_bbox_wrap_cut" -> { (s, dir) =>
      val b = t(s, dir, "supplier").select(
        col("s_suppkey"),
        ((col("s_suppkey") % 4) * 20 - 60).cast("double").as("south"),
        ((col("s_suppkey") % 5) * 30 - 100).cast("double").as("west"))
        .withColumn("north",
          col("south") + lit(40.0) + (col("s_suppkey") % 3).cast("double") * 30)
        .withColumn("east",
          col("west") + lit(60.0) + (col("s_suppkey") % 4).cast("double") * 40)
      b.select(col("s_suppkey"),
          explode(G.bboxCutWrap(
            G.bbox(col("north"), col("south"), col("east"), col("west")),
            90.0)).as("p"))
        .select(col("s_suppkey"),
          col("p.north").as("north"), col("p.south").as("south"),
          col("p.east").as("east"), col("p.west").as("west"))
        .orderBy("s_suppkey", "west", "south")
    },

    // C11 under the driver gate: UTM forward∘inverse closure on
    // integer-derived coords — the Snyder series' total roundtrip error
    // is ~1e-9° inside a zone, which vanishes under the 6-decimal
    // round, so the oracle states the identity directly — plus the
    // web-mercator forward mirrored formula-for-formula in DuckDB.
    // Every row picks the UTM zone (and hemisphere EPSG family) from
    // its own coordinates, so all 60 north + south codes are exercised
    // via the per-row EPSG expression path.
    "q51_utm_roundtrip" -> { (s, dir) =>
      val lon = (col("p_partkey") % 360).cast("double") - 180.0 + 0.5
      val lat = (col("p_partkey") % 160).cast("double") - 80.0 + 0.25
      val zone = (floor((lon + lit(180.0)) / 6) + 1).cast("int")
      val epsg = when(lat < 0, lit(32700) + zone).otherwise(lit(32600) + zone)
      val inv = G.utmInverse(
        G.utmForward(struct(lon.as("lon"), lat.as("lat")), epsg), epsg)
      t(s, dir, "part").select(col("p_partkey"), epsg.as("epsg"),
          round(inv.getField("lon"), 6).as("lon_rt"),
          round(inv.getField("lat"), 6).as("lat_rt"),
          round(G.mercX(lon), 3).as("merc_x"),
          round(G.mercY(lat), 3).as("merc_y"))
        .orderBy("p_partkey")
    },

    // J2/J3 second stage: exact polygon intersection after the closed
    // envelope prefilter. The engine runs the GENERAL even-odd +
    // segment-test expression; the oracle replays each layer geometry
    // in closed form (SAT for the convex shapes, rect-union for the
    // L). Rows are envelope-stage survivors; `env_only` marks the ones
    // the exact test rejects — that divergence IS the test: a
    // bbox-only engine would emit env_only = false everywhere.
    "q47_polygon_intersect" -> { (s, dir) =>
      val fp = footprints(s, dir)
      val layer = s.createDataFrame(Seq(
        ("tri", "POLYGON((0 0, 40 0, 0 40, 0 0))"),
        ("lshape", "POLYGON((-60 -60, -30 -60, -30 -45, -45 -45, -45 -30, -60 -30, -60 -60))"),
        ("diamond", "POLYGON((100 0, 110 10, 100 20, 90 10, 100 0))"))
      ).toDF("geom", "wkt")
      val env = G.bboxFromWkt(col("wkt"))
      fp.crossJoin(broadcast(layer))
        .filter(col("east") >= env.getField("west") &&
          col("west") <= env.getField("east") &&
          col("north") >= env.getField("south") &&
          col("south") <= env.getField("north"))
        .withColumn("exact", G.polygonIntersects(
          G.bbox(col("north"), col("south"), col("east"), col("west")),
          col("wkt")))
        .select(col("geom"), col("c_custkey"), (!col("exact")).as("env_only"))
        .orderBy("geom", "c_custkey")
    },

    // C11 polar family under the driver gate: polar stereographic
    // (EPSG:3413 Arctic / 3031 Antarctic) forward mirrored
    // formula-for-formula in DuckDB (Snyder §21 is all tan/pow/sin —
    // DuckDB-expressible like q51's mercator), plus the
    // forward∘inverse closure stated as an identity (series error
    // ~1e-11 rad << the 6-decimal round). Rows alternate hemispheres,
    // so both EPSG branches of the per-row dispatch are exercised,
    // including |λ−λ0|>180 wraps for 3413 (λ0=−45°).
    "q53_polar_roundtrip" -> { (s, dir) =>
      val lon = (col("p_partkey") % 360).cast("double") - 180.0 + 0.5
      val latAbs = (col("p_partkey") % 28).cast("double") + 60.25
      val isN = col("p_partkey") % 2 === 0
      val epsg = when(isN, 3413).otherwise(3031)
      val lat = when(isN, latAbs).otherwise(-latAbs)
      val fwd = G.psForward(struct(lon.as("lon"), lat.as("lat")), epsg)
      val inv = G.psInverse(fwd, epsg)
      t(s, dir, "part").select(col("p_partkey"), epsg.as("epsg"),
          round(inv.getField("lon"), 6).as("lon_rt"),
          round(inv.getField("lat"), 6).as("lat_rt"),
          round(fwd.getField("x"), 1).as("ps_x"),
          round(fwd.getField("y"), 1).as("ps_y"))
        .orderBy("p_partkey")
    },

    // C11 OSGB family under the driver gate: a vector layer authored
    // in EPSG:27700 (National Grid — the reference's home CRS,
    // eodatadownlandsatgoogsensor.py:723-725 reprojects arbitrary
    // layer EPSGs) normalizes through the Airy-TM + Helmert inverse
    // and joins footprints exactly like a 4326 layer; the oracle runs
    // the SAME spatial predicate on the ORIGINAL 4326 triangle via
    // closed-form SAT — so a mis-georeferenced inverse (wrong false
    // origin, dropped datum shift) flips membership rows and fails
    // the hash. The OS published worked example rides along cm-
    // rounded as the absolute georeferencing anchor (651409.903 /
    // 313177.270 — OS guide Annexe C).
    "q279_osgb_layer_join" -> { (s, dir) =>
      import graft.functions.expressions.ProjImpl
      val fp = footprints(s, dir)
      // GB triangle; vertices off the integer lattice so footprint
      // corners never sit ON an edge (round-trip wobble is ~1e-8 deg,
      // margins are >= 1e-2)
      val tri = Seq((-5.9, 50.1), (1.7, 51.3), (-2.3, 57.9),
        (-5.9, 50.1))
      val wkt27700 = "POLYGON ((" + tri.map { case (lon, lat) =>
        val r = ProjImpl.osgbForward(lon, lat)
        String.format(java.util.Locale.ROOT, "%.3f %.3f",
          Double.box(r.getDouble(0)), Double.box(r.getDouble(1)))
      }.mkString(", ") + "))"
      val Seq((_, wkt)) = graft.catalog.SceneCatalog
        .normalizeLayerTo4326(Seq(("gb", wkt27700)), 27700)
      val (exE, exN) = ProjImpl.osgbTmForward(
        1.0 + 43.0 / 60 + 4.5177 / 3600,
        52.0 + 39.0 / 60 + 27.2531 / 3600)
      fp.filter(G.polygonIntersects(
          G.bbox(col("north"), col("south"), col("east"), col("west")),
          lit(wkt)))
        .agg(count(lit(1)).as("n_hits"),
          sum("c_custkey").as("sum_keys"))
        .withColumn("example_e_cm", lit(math.round(exE * 100)))
        .withColumn("example_n_cm", lit(math.round(exN * 100)))
    },

    // S9 under the driver gate: GeoJSON FeatureCollection round trip.
    // Footprints export through the real single-file writer
    // (ExportImport.exportGeoJson — distributed feature build,
    // driver-streamed container), then read back as a
    // FeatureCollection (multiLine JSON → explode(features)) and the
    // ring corners are compared against the closed-form footprint
    // arithmetic in DuckDB. Pins ring orientation/closure and the
    // [lon, lat] coordinate order — a transposed writer or unclosed
    // ring fails the hash, not just a spec.
    "q56_geojson_roundtrip" -> { (s, dir) =>
      val fp = footprints(s, dir)
      val path = s"${Tables.scratchDir(s, "q56")}/fp.geojson"
      graft.sources.ExportImport.exportGeoJson(fp, path,
        props = Seq("c_custkey"),
        north = "north", south = "south", east = "east", west = "west")
      val ring = col("f.geometry.coordinates").getItem(0)
      s.read.option("multiLine", "true").json(path)
        .select(explode(col("features")).as("f"))
        .select(
          col("f.properties.c_custkey").as("c_custkey"),
          ring.getItem(2).getItem(1).as("north"),
          ring.getItem(0).getItem(1).as("south"),
          ring.getItem(2).getItem(0).as("east"),
          ring.getItem(0).getItem(0).as("west"),
          size(ring).as("n_points"),
          (ring.getItem(0) === ring.getItem(4)).as("ring_closed"))
        .orderBy("c_custkey")
    },

    // The DISTRIBUTED footprint export under the driver gate (round-6
    // verdict item 5; q56's single-file twin): the same footprints go
    // out through exportGeoJsonSharded — part-file GeoJSONSeq shards,
    // manifest published last — and come back through
    // importGeoJsonSharded (manifest-checked, ring → bbox). The oracle
    // recomputes the footprints directly, so a transposed ring, a
    // dropped shard, or a manifest/shard count drift all fail the
    // hash. No driver funnel anywhere: this is the path a 100 TB
    // catalog's layer export takes.
    "q101_geojson_sharded" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val fp = footprints(s, dir)
      val out = s"${Tables.scratchDir(s, "q101")}/export"
      graft.sources.ExportImport.exportGeoJsonSharded(fp, out,
        props = Seq("c_custkey"),
        north = "north", south = "south", east = "east", west = "west")
      graft.sources.ExportImport.importGeoJsonSharded(s, out,
          StructType(Seq(StructField("c_custkey", LongType))),
          north = "north", south = "south", east = "east", west = "west")
        .orderBy("c_custkey")
    },

    // S9's CONTAINER half under the driver gate (r13 verdict item
    // 7): the same footprints export through the self-contained
    // GeoPackage writer (GeoPackage.exportGeoPackage — sqlite file
    // built from scratch, GeoPackageBinary POLYGON blobs) and come
    // back through the format-level reader; corners, fid ordering and
    // the header stamps (application_id 'GPKG', user_version 10300)
    // are all hash-gated against the closed-form footprints. The
    // round-trip is driver-streamed like q56 BY DESIGN (one sqlite
    // file is inherently single-writer; the sharded GeoJSONSeq path
    // q101 is the beyond-guard contract), and GeoPackageSpec
    // additionally reads the same container back through CPython's
    // independent sqlite3.
    "q294_geopackage_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val fp = footprints(s, dir)
      val path = s"${Tables.scratchDir(s, "q294")}/fp.gpkg"
      graft.sources.GeoPackage.exportGeoPackage(fp, path, "scenes",
        props = Seq("c_custkey"),
        north = "north", south = "south", east = "east", west = "west")
      val head = java.nio.ByteBuffer.wrap(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      val appId = new String(Array(
        head.get(68), head.get(69), head.get(70), head.get(71)), "UTF-8")
      val userVersion = head.getInt(60)
      val feats = graft.sources.SqliteFile
        .readTableWithRowids(path, "scenes")
        .map { f =>
          val (w, so, e, n) = graft.sources.GeoPackage.parseBbox(
            f(2).asInstanceOf[Array[Byte]])
          (f(3).asInstanceOf[Long], n, so, e, w)
        }
      s.createDataset(feats)
        .toDF("c_custkey", "north", "south", "east", "west")
        .withColumn("app_id", lit(appId))
        .withColumn("gpkg_version", lit(userVersion))
        .orderBy("c_custkey")
    },

    // J3: ROI→tile-list LUT (SceneCatalog.tilesForRoi; findSensorROI,
    // eodatadownutils.py:1735-1794). Footprints carry a WRS-like
    // (path, row) grid id; per ROI polygon, the sorted distinct tile
    // ids intersecting the EXACT geometry come back as one list —
    // the reference's landsat PATH/ROW + dedup'd sentinel2 Name lists.
    // The oracle replays the same closed-form intersections as q47 and
    // aggregates with list(DISTINCT); an ROI with no tiles must still
    // report an empty list.
    "q52_roi_tile_lut" -> { (s, dir) =>
      val fp = footprints(s, dir)
        .withColumn("tile_path", floor((col("west") + 170.0) / 20.0).cast("int"))
        .withColumn("tile_row", floor((col("south") + 80.0) / 20.0).cast("int"))
      val layer = Seq(
        ("tri", "POLYGON((0 0, 40 0, 0 40, 0 0))"),
        ("lshape", "POLYGON((-60 -60, -30 -60, -30 -45, -45 -45, -45 -30, -60 -30, -60 -60))"),
        ("diamond", "POLYGON((100 0, 110 10, 100 20, 90 10, 100 0))"))
      graft.catalog.SceneCatalog.tilesForRoi(s, fp, layer,
          tileCols = Seq("tile_path", "tile_row"),
          north = "north", south = "south", east = "east", west = "west")
        .select(col("roi"), array_join(col("tiles"), ",").as("tiles"),
          col("n_tiles"))
        .orderBy("roi")
    }
  )

  val oracleSql: Map[String, String] = Map(
    // roundtrip closure: the oracle asserts the identity (series error
    // ~1e-9° << the 6-decimal round); web-mercator is the same closed
    // form evaluated by DuckDB's own math functions (ulp-level engine
    // differences << the 3-decimal round)
    "q51_utm_roundtrip" ->
      """WITH d AS (
        |  SELECT p_partkey,
        |    (p_partkey % 360)::DOUBLE - 180.0 + 0.5 AS lon,
        |    (p_partkey % 160)::DOUBLE - 80.0 + 0.25 AS lat
        |  FROM part),
        |z AS (
        |  SELECT p_partkey, lon, lat,
        |    CAST(floor((lon + 180.0) / 6) + 1 AS INT) AS zone
        |  FROM d)
        |SELECT p_partkey,
        |  CAST(CASE WHEN lat < 0 THEN 32700 + zone
        |            ELSE 32600 + zone END AS INT) AS epsg,
        |  round(lon, 6) AS lon_rt,
        |  round(lat, 6) AS lat_rt,
        |  round(radians(lon) * 6378137.0, 3) AS merc_x,
        |  round(ln(tan(radians(lat) / 2 + pi() / 4)) * 6378137.0, 3) AS merc_y
        |FROM z ORDER BY p_partkey""".stripMargin,

    "q23_bbox_overlap_wkt" ->
      """WITH fp AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |    CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |    CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |    CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |  FROM customer)
        |SELECT c_custkey, north, south, east, west FROM fp
        |WHERE 60.0 > west AND east > 0.0 AND 30.0 > south AND north > -10.0
        |ORDER BY c_custkey""".stripMargin,

    // split into ceil(width/90) equal parts: n_parts, conserved span,
    // max single width = width / n_parts
    "q24_bbox_split" ->
      """WITH wide AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey % 5) * 67 - 160 AS DOUBLE) AS west,
        |    CAST((s_suppkey % 5) * 67 - 160 + 140 + (s_suppkey % 3) * 50 AS DOUBLE) AS east
        |  FROM supplier)
        |SELECT s_suppkey,
        |  CAST(ceil((east - west) / 90.0) AS BIGINT) AS n_parts,
        |  round(east - west, 6) AS span_sum,
        |  round((east - west) / ceil((east - west) / 90.0), 6) AS max_width
        |FROM wide ORDER BY s_suppkey""".stripMargin,

    // The wrap cut is a cross product of independent per-axis parts:
    // lon → {original} or {[-180,w],[e,180]}, lat → {original} or
    // {[n,90],[-90,s]} — the join reconstructs 1, 2 or 4 boxes per row.
    "q48_bbox_wrap_cut" ->
      """WITH b AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey % 4) * 20 - 60 AS DOUBLE) AS south,
        |    CAST((s_suppkey % 5) * 30 - 100 AS DOUBLE) AS west,
        |    CAST((s_suppkey % 4) * 20 - 60 + 40 + (s_suppkey % 3) * 30
        |      AS DOUBLE) AS north,
        |    CAST((s_suppkey % 5) * 30 - 100 + 60 + (s_suppkey % 4) * 40
        |      AS DOUBLE) AS east
        |  FROM supplier),
        |lon AS (
        |  SELECT s_suppkey, west AS w2, east AS e2 FROM b
        |  WHERE east - west <= 90
        |  UNION ALL SELECT s_suppkey, -180.0, west FROM b WHERE east - west > 90
        |  UNION ALL SELECT s_suppkey, east, 180.0 FROM b WHERE east - west > 90),
        |lat AS (
        |  SELECT s_suppkey, south AS s2, north AS n2 FROM b
        |  WHERE north - south <= 90
        |  UNION ALL SELECT s_suppkey, north, 90.0 FROM b WHERE north - south > 90
        |  UNION ALL SELECT s_suppkey, -90.0, south FROM b WHERE north - south > 90)
        |SELECT lon.s_suppkey AS s_suppkey, n2 AS north, s2 AS south,
        |  e2 AS east, w2 AS west
        |FROM lon JOIN lat ON lon.s_suppkey = lat.s_suppkey
        |ORDER BY s_suppkey, west, south""".stripMargin,

    // Closed-form exact intersection per geometry:
    //  tri     — SAT over axes x, y and the hypotenuse normal (1,1)
    //  lshape  — union of rects [-60,-30]x[-60,-45] and [-60,-45]x[-45,-30]
    //  diamond — SAT over axes x, y, (1,1) and (1,-1)
    // (separating-axis conditions are exact for convex shapes; closed
    // inequalities everywhere = boundary touch intersects)
    "q47_polygon_intersect" ->
      """WITH fp AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |    CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |    CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |    CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |  FROM customer),
        |layer(geom, env_w, env_e, env_s, env_n) AS (
        |  VALUES ('tri', 0.0, 40.0, 0.0, 40.0),
        |         ('lshape', -60.0, -30.0, -60.0, -30.0),
        |         ('diamond', 90.0, 110.0, 0.0, 20.0))
        |SELECT geom, c_custkey,
        |  NOT (CASE geom
        |    WHEN 'tri' THEN
        |      east >= 0 AND west <= 40 AND north >= 0 AND south <= 40
        |      AND west + south <= 40 AND east + north >= 0
        |    WHEN 'lshape' THEN
        |      (east >= -60 AND west <= -30 AND north >= -60 AND south <= -45)
        |      OR (east >= -60 AND west <= -45 AND north >= -45 AND south <= -30)
        |    ELSE
        |      east >= 90 AND west <= 110 AND north >= 0 AND south <= 20
        |      AND west + south <= 120 AND east + north >= 100
        |      AND west - north <= 100 AND east - south >= 80
        |    END) AS env_only
        |FROM fp CROSS JOIN layer
        |WHERE east >= env_w AND west <= env_e
        |  AND north >= env_s AND south <= env_n
        |ORDER BY geom, c_custkey""".stripMargin,

    // membership from the ORIGINAL 4326 triangle via closed-form SAT
    // (exact for convex shapes): bbox overlap + the three edge-normal
    // axes, rect projections taken corner-wise by normal sign. The
    // worked-example anchor is the OS PUBLISHED grid value, cm-rounded
    // (the engine's series is mm-exact, so the cm digits must agree).
    "q279_osgb_layer_join" ->
      """WITH fp AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |    CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |    CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |    CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |  FROM customer),
        |axes(nx, ny) AS (
        |  VALUES (1.2, -7.6), (6.6, 4.0), (-7.8, 3.6)),
        |proj AS (
        |  SELECT nx, ny,
        |    least(nx * (-5.9) + ny * 50.1, nx * 1.7 + ny * 51.3,
        |      nx * (-2.3) + ny * 57.9) AS tmin,
        |    greatest(nx * (-5.9) + ny * 50.1, nx * 1.7 + ny * 51.3,
        |      nx * (-2.3) + ny * 57.9) AS tmax
        |  FROM axes),
        |hits AS (
        |  SELECT c_custkey FROM fp
        |  WHERE east >= -5.9 AND west <= 1.7
        |    AND north >= 50.1 AND south <= 57.9
        |    AND NOT EXISTS (
        |      SELECT 1 FROM proj
        |      WHERE NOT (
        |        (CASE WHEN nx >= 0 THEN nx * east ELSE nx * west END +
        |         CASE WHEN ny >= 0 THEN ny * north ELSE ny * south END)
        |          >= tmin
        |        AND
        |        (CASE WHEN nx >= 0 THEN nx * west ELSE nx * east END +
        |         CASE WHEN ny >= 0 THEN ny * south ELSE ny * north END)
        |          <= tmax)))
        |SELECT count(*) AS n_hits,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys,
        |  CAST(65140990 AS BIGINT) AS example_e_cm,
        |  CAST(31317727 AS BIGINT) AS example_n_cm
        |FROM hits""".stripMargin,

    // Forward mirrored term-for-term (Snyder §21 / EPSG variant B;
    // the south aspect is the north formulas on |lat| with flipped
    // x/y composition, so ONE t/ρ pipeline covers both hemispheres);
    // the roundtrip columns assert the identity directly.
    "q53_polar_roundtrip" ->
      """WITH d AS (
        |  SELECT p_partkey,
        |    (p_partkey % 360)::DOUBLE - 180.0 + 0.5 AS lon,
        |    (p_partkey % 28)::DOUBLE + 60.25 AS alat,
        |    p_partkey % 2 = 0 AS north,
        |    sqrt((1.0/298.257223563) * (2 - 1.0/298.257223563)) AS es,
        |    6378137.0 AS aa
        |  FROM part),
        |c AS (
        |  SELECT *,
        |    CASE WHEN north THEN radians(70.0) ELSE radians(71.0) END AS phic,
        |    CASE WHEN north THEN lon + 45.0 ELSE lon END AS dlam
        |  FROM d),
        |p AS (
        |  SELECT *,
        |    aa * (cos(phic) / sqrt(1 - es*es*sin(phic)*sin(phic)))
        |      * (tan(pi()/4 - radians(alat)/2) *
        |         pow((1 + es*sin(radians(alat))) /
        |             (1 - es*sin(radians(alat))), es/2))
        |      / (tan(pi()/4 - phic/2) *
        |         pow((1 + es*sin(phic)) / (1 - es*sin(phic)), es/2)) AS rho
        |  FROM c)
        |SELECT p_partkey,
        |  CAST(CASE WHEN north THEN 3413 ELSE 3031 END AS INT) AS epsg,
        |  round(lon, 6) AS lon_rt,
        |  round(CASE WHEN north THEN alat ELSE -alat END, 6) AS lat_rt,
        |  round(rho * sin(radians(dlam)), 1) AS ps_x,
        |  round(CASE WHEN north THEN -rho * cos(radians(dlam))
        |             ELSE rho * cos(radians(dlam)) END, 1) AS ps_y
        |FROM p ORDER BY p_partkey""".stripMargin,

    // The oracle recomputes the footprints directly — the engine side
    // must reproduce them THROUGH the GeoJSON file format.
    "q56_geojson_roundtrip" ->
      """WITH fp AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |    CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |    CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |    CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |  FROM customer)
        |SELECT c_custkey, north, south, east, west,
        |  CAST(5 AS INT) AS n_points, true AS ring_closed
        |FROM fp ORDER BY c_custkey""".stripMargin,

    // Same recomputation again — the GeoPackage writer must reproduce
    // the footprints THROUGH the sqlite container, and the header
    // stamps are pinned as literals.
    "q294_geopackage_roundtrip" ->
      """SELECT c_custkey,
        |  CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |  CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |  CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |  CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west,
        |  'GPKG' AS app_id, CAST(10300 AS INT) AS gpkg_version
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Same recomputation as q56's oracle — the sharded writer must
    // reproduce the footprints THROUGH the part-file format + manifest.
    "q101_geojson_sharded" ->
      """SELECT c_custkey,
        |  CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |  CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |  CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |  CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Same closed-form exact intersections as q47 (SAT / rect-union),
    // aggregated to per-ROI distinct sorted tile lists; the rois LEFT
    // JOIN keeps an ROI with zero tiles as ('', 0) exactly like the
    // engine's empty-array branch.
    "q52_roi_tile_lut" ->
      """WITH fp AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS north,
        |    CAST(c_custkey % 160 - 80 AS DOUBLE) AS south,
        |    CAST((c_custkey * 7) % 340 - 170 + 1 + c_custkey % 11 AS DOUBLE) AS east,
        |    CAST((c_custkey * 7) % 340 - 170 AS DOUBLE) AS west
        |  FROM customer),
        |tiles AS (
        |  SELECT *,
        |    CAST(CAST(floor((west + 170.0) / 20.0) AS INT) AS VARCHAR)
        |      || '_' ||
        |    CAST(CAST(floor((south + 80.0) / 20.0) AS INT) AS VARCHAR)
        |      AS tile_id
        |  FROM fp),
        |hits AS (
        |  SELECT 'tri' AS roi, tile_id FROM tiles
        |  WHERE east >= 0 AND west <= 40 AND north >= 0 AND south <= 40
        |    AND west + south <= 40 AND east + north >= 0
        |  UNION ALL
        |  SELECT 'lshape', tile_id FROM tiles
        |  WHERE (east >= -60 AND west <= -30 AND north >= -60 AND south <= -45)
        |     OR (east >= -60 AND west <= -45 AND north >= -45 AND south <= -30)
        |  UNION ALL
        |  SELECT 'diamond', tile_id FROM tiles
        |  WHERE east >= 90 AND west <= 110 AND north >= 0 AND south <= 20
        |    AND west + south <= 120 AND east + north >= 100
        |    AND west - north <= 100 AND east - south >= 80),
        |rois(roi) AS (VALUES ('tri'), ('lshape'), ('diamond')),
        |agg AS (
        |  SELECT roi,
        |    array_to_string(list_sort(list(DISTINCT tile_id)), ',') AS tiles,
        |    CAST(count(DISTINCT tile_id) AS INT) AS n_tiles
        |  FROM hits GROUP BY roi)
        |SELECT rois.roi AS roi, coalesce(agg.tiles, '') AS tiles,
        |  coalesce(agg.n_tiles, 0) AS n_tiles
        |FROM rois LEFT JOIN agg ON rois.roi = agg.roi
        |ORDER BY roi""".stripMargin
  )
}
