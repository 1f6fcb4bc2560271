package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SqliteFile]] + [[GeoPackage]] round-trips. The independent
  * second path (r13 verdict item 7): when a `python3` interpreter is
  * present (it is in the dev container), the written container is
  * ALSO read back through CPython's bundled sqlite3 — a fully
  * independent SQLite implementation — and must agree row-for-row.
  * Absent python, the spec still verifies via [[SqliteFile.readTable]]
  * (format-level reader) and the GeoPackageBinary parse.
  */
class GeoPackageSpec extends SparkSpec {
  import SqliteFile._
  import spark.implicits._

  test("sqlite varint round-trips the full value range") {
    val vals = Seq(0L, 1L, 127L, 128L, 255L, 16383L, 16384L,
      (1L << 21) - 1, 1L << 21, (1L << 56) - 1, 1L << 56,
      Long.MaxValue, -1L, Long.MinValue)
    vals.foreach { v =>
      val enc = varint(v)
      val (dec, len) = readVarint(enc, 0)
      assert(dec == v && len == enc.length, s"varint($v)")
    }
  }

  test("single-page table round-trips all value types") {
    val dir = tempDir("sqlite")
    val path = s"$dir/t.db"
    SqliteFile.write(path, Seq(Table("t",
      "CREATE TABLE t (a INTEGER, b REAL, c TEXT, d BLOB, e TEXT)",
      Iterator(
        Seq(VInt(42L), VReal(3.5), VText("héllo"),
          VBlob(Array[Byte](1, 2, 3)), VNull),
        Seq(VInt(Long.MaxValue), VReal(-0.0), VText(""),
          VBlob(Array.empty[Byte]), VText("x"))))))
    val rows = SqliteFile.readTable(path, "t")
    assert(rows.size == 2)
    assert(rows(0)(0) == 42L && rows(0)(1) == 3.5 &&
      rows(0)(2) == "héllo")
    assert(rows(0)(3).asInstanceOf[Array[Byte]].toSeq == Seq(1, 2, 3))
    assert(rows(0)(4) == null)
    assert(rows(1)(0) == Long.MaxValue && rows(1)(2) == "")
  }

  test("multi-page + multi-level interior + overflow chains: 20k rows " +
    "and a 100 KB blob both round-trip") {
    val dir = tempDir("sqlite")
    val path = s"$dir/big.db"
    val bigBlob = Array.tabulate[Byte](100000)(i => (i % 251).toByte)
    SqliteFile.write(path, Seq(Table("big",
      "CREATE TABLE big (i INTEGER, s TEXT, b BLOB)",
      (1 to 20000).iterator.map(i =>
        Seq(VInt(i.toLong), VText(s"row-$i-" + "x" * (i % 37)),
          if (i == 7777) VBlob(bigBlob) else VNull)))))
    val rows = SqliteFile.readTable(path, "big")
    assert(rows.size == 20000)
    assert(rows(0)(0) == 1L && rows(19999)(0) == 20000L)
    assert(rows(123)(1) == s"row-124-" + "x" * (124 % 37))
    assert(rows(7776)(2).asInstanceOf[Array[Byte]].toSeq ==
      bigBlob.toSeq)
  }

  test("GeoPackageBinary bbox blob round-trips through its parser") {
    val blob = GeoPackage.gpkgBbox(-80.5, -25.0, -60.0, -15.25, 4326)
    assert(GeoPackage.parseBbox(blob) == ((-80.5, -25.0, -60.0, -15.25)))
    // header stamps: magic, version 0, LE + XY-envelope flags
    assert(blob(0) == 'G'.toByte && blob(1) == 'P'.toByte)
    assert(blob(2) == 0.toByte && blob(3) == 0x03.toByte)
  }

  test("exportGeoPackage writes a complete container: required " +
    "metadata tables, GPKG header stamps, features readable back " +
    "with exact bboxes and typed attributes") {
    val dir = tempDir("gpkg")
    val path = s"$dir/scenes.gpkg"
    val df = Seq(
      (1L, "LS8_A", 0.75, -24.0, -26.0, -59.0, -61.0, true),
      (2L, "LS8_B", 0.25, 10.0, 8.0, 21.0, 19.0, false))
      .toDF("pid", "scene", "cloud", "North_Lat", "South_Lat",
        "East_Lon", "West_Lon", "good")
    val n = GeoPackage.exportGeoPackage(df, path, "scenes",
      props = Seq("pid", "scene", "cloud", "good"))
    assert(n == 2)
    // header stamps: application_id GPKG, user_version 10300
    val head = Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(head)
    assert(bb.getInt(68) == 0x47504B47)
    assert(bb.getInt(60) == 10300)
    assert(SqliteFile.tableNames(path).toSet == Set(
      "gpkg_spatial_ref_sys", "gpkg_contents", "gpkg_geometry_columns",
      "scenes"))
    // gpkg_contents envelope = union of both bboxes
    val contents = SqliteFile.readTable(path, "gpkg_contents").head
    assert(contents(0) == "scenes" && contents(1) == "features")
    assert(contents(5) == -61.0 && contents(6) == -26.0 &&
      contents(7) == 21.0 && contents(8) == 10.0)
    val geomCols = SqliteFile.readTable(path, "gpkg_geometry_columns")
    assert(geomCols.head.take(4) ==
      Seq("scenes", "geom", "POLYGON", 4326L))
    // srs ids live in the ROWID (srs_id is an INTEGER PRIMARY KEY
    // alias — stored NULL, valued by rowid)
    val srs = SqliteFile.readTableWithRowids(path, "gpkg_spatial_ref_sys")
    assert(srs.map(_.head) == Seq(-1L, 0L, 4326L))
    // features: fid rowid-aliased, geometry + typed attributes
    val feats = SqliteFile.readTableWithRowids(path, "scenes")
    assert(feats.size == 2)
    val f1 = feats.head
    assert(f1(0) == 1L && f1(1) == null) // fid=rowid, alias slot NULL
    assert(GeoPackage.parseBbox(f1(2).asInstanceOf[Array[Byte]]) ==
      ((-61.0, -26.0, -59.0, -24.0)))
    assert(f1(3) == 1L && f1(4) == "LS8_A" && f1(5) == 0.75 &&
      f1(6) == 1L)
  }

  test("independent read-back via CPython's sqlite3 (second " +
    "implementation): schema and rows agree") {
    val python = Seq("/usr/bin/python3", "/usr/local/bin/python3")
      .find(p => Files.isExecutable(java.nio.file.Paths.get(p)))
    assume(python.isDefined, "python3 not present")
    val dir = tempDir("gpkg")
    val path = s"$dir/scenes.gpkg"
    val df = (1 to 500).map(i =>
      (i.toLong, s"S$i", i / 100.0, i % 50 - 24.0, i % 50 - 25.0,
        i % 160 - 79.0, i % 160 - 80.0))
      .toDF("pid", "scene", "cloud", "North_Lat", "South_Lat",
        "East_Lon", "West_Lon")
    GeoPackage.exportGeoPackage(df, path, "scenes",
      props = Seq("pid", "scene", "cloud"))
    val script =
      s"""import sqlite3, sys
         |c = sqlite3.connect("$path")
         |rows = c.execute("select pid, scene, cloud from scenes "
         |                 "order by pid").fetchall()
         |print(len(rows))
         |print(rows[0]); print(rows[499])
         |print(sorted(r[0] for r in c.execute(
         |  "select srs_id from gpkg_spatial_ref_sys")))
         |tabs = sorted(r[0] for r in c.execute(
         |  "select name from sqlite_master where type='table'"))
         |print(tabs)
         |env = c.execute("select min_x, min_y, max_x, max_y from "
         |                "gpkg_contents").fetchone()
         |print(env)
         |g = c.execute("select geom from scenes where pid=1").fetchone()[0]
         |print(g[:2] == b'GP', len(g))
         |""".stripMargin
    val proc = new ProcessBuilder(python.get, "-c", script)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"python failed:\n$out")
    val lines = out.trim.split("\n")
    assert(lines(0) == "500")
    assert(lines(1) == "(1, 'S1', 0.01)")
    assert(lines(2) == "(500, 'S500', 5.0)")
    assert(lines(3) == "[-1, 0, 4326]")
    assert(lines(4) == "['gpkg_contents', 'gpkg_geometry_columns', " +
      "'gpkg_spatial_ref_sys', 'scenes']")
    assert(lines(6).startsWith("True"))
  }
}
