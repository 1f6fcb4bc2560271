package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalRollupSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): (PartitionedCowTable, IncrementalRollup, String) = {
    implicit val s = spark
    val root = tempDir("rollup")
    val t = PartitionedCowTable(s"$root/b", "month")
    t.overwrite(Seq(
      (1L, "2020-03", 10L), (2L, "2020-03", 20L),
      (3L, "2020-04", 100L), (4L, "2020-05", 1000L))
      .toDF("pid", "month", "cents"))
    val ru = new IncrementalRollup(t, s"$root/s", Seq("month"),
      Seq("n" -> count(lit(1)), "cents" -> sum(col("cents"))))
    (t, ru, root)
  }

  private def state(ru: IncrementalRollup): Map[String, (Long, Long)] =
    ru.summary.read().collect()
      .map(r => r.getAs[String]("month") ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap

  test("full build, then incremental refreshes re-aggregate ONLY " +
    "touched base partitions; deletes and DV-empties fall out; no-op " +
    "refresh commits nothing") {
    implicit val s = spark
    val (t, ru, _) = mk()
    val (f0, rec0, rem0, _) = ru.refresh()
    assert(f0 == -1 && rec0 == 3 && rem0 == 0)
    assert(state(ru) === Map("2020-03" -> (2L, 30L),
      "2020-04" -> (1L, 100L), "2020-05" -> (1L, 1000L)))
    assert(ru.syncedVersion.contains(t.version))
    // append a new month + upsert one existing month, one refresh
    t.append(Seq((9L, "2020-06", 5L)).toDF("pid", "month", "cents"))
    t.upsert(Seq((3L, "2020-04", 150L)).toDF("pid", "month", "cents"),
      Seq("pid"))
    val v1 = ru.summary.version
    val (f1, rec1, rem1, (ins1, upd1, del1)) = ru.refresh()
    assert(f1 == 0 && rec1 == 2 && rem1 == 0)
    assert((ins1, upd1, del1) === ((1L, 1L, 0L)))
    assert(state(ru) === Map("2020-03" -> (2L, 30L),
      "2020-04" -> (1L, 150L), "2020-05" -> (1L, 1000L),
      "2020-06" -> (1L, 5L)))
    assert(ru.summary.version == v1 + 1) // ONE commit per refresh
    // hard delete empties a month entirely -> summary row falls out
    t.deleteWhere(col("month") === "2020-05")
    // DV-delete empties another logically (dir stays, rows gone)
    t.deleteWhereDV(col("pid") === 9L, Seq("pid"))
    val (_, rec2, rem2, (ins2, upd2, del2)) = ru.refresh()
    assert(rec2 == 1 && rem2 == 1) // DV month changed; 2020-05 removed
    assert((ins2, upd2, del2) === ((0L, 0L, 2L)))
    assert(state(ru) === Map("2020-03" -> (2L, 30L),
      "2020-04" -> (1L, 150L)))
    // no-op: base unchanged -> nothing recomputed, nothing committed
    val v2 = ru.summary.version
    assert(ru.refresh() === ((t.version, 0, 0, (0L, 0L, 0L))))
    assert(ru.summary.version == v2)
  }

  test("lost checkpoint re-runs the refresh idempotently: the " +
    "reconcile finds nothing to change and commits nothing") {
    implicit val s = spark
    val (t, ru, root) = mk()
    ru.refresh()
    t.append(Seq((9L, "2020-06", 5L)).toDF("pid", "month", "cents"))
    ru.refresh()
    val v = ru.summary.version
    // crash between commit and checkpoint: sync file gone, summary
    // already reflects the base — the re-run must reconcile to the
    // identical state with zero row changes and no commit
    Files.delete(Paths.get(s"$root/s", "_rollup_sync.json"))
    val (f, rec, _, (ins, upd, del)) = ru.refresh()
    assert(f == -1 && rec == 4) // full reconcile path
    assert((ins, upd, del) === ((0L, 0L, 0L)))
    assert(ru.summary.version == v)
    assert(ru.syncedVersion.contains(t.version))
  }

  test("the sync checkpoint is written atomically over a torn file and " +
    "read as JSON; a torn file fails loudly, naming it") {
    implicit val s = spark
    val (t, ru, root) = mk()
    ru.refresh()
    val sync = Paths.get(s"$root/s", "_rollup_sync.json")
    // what a crash in the middle of a plain write could leave behind
    Files.write(sync, "{\"ba".getBytes("UTF-8"))
    val err = intercept[IllegalStateException](ru.syncedVersion)
    assert(err.getMessage.contains(sync.toString))
    CowTable.syncBase(sync, t.version)
    assert(ru.syncedVersion.contains(t.version))
    assert(new String(Files.readAllBytes(sync), "UTF-8") ===
      s"""{"base":${t.version}}""")
    import scala.jdk.CollectionConverters._
    val listing = Files.list(sync.getParent)
    try assert(!listing.iterator().asScala
      .exists(_.getFileName.toString.contains(".tmp.")))
    finally listing.close()
    // the refresh reads the rewritten checkpoint: nothing to do
    assert(ru.refresh() === ((t.version, 0, 0, (0L, 0L, 0L))))
  }

  test("multi-dim rollup (partition col + another dim): groups stay " +
    "partition-confined, a refresh re-aggregates one month's groups " +
    "and leaves the rest carried") {
    implicit val s = spark
    val root = tempDir("rollup_md")
    val t = PartitionedCowTable(s"$root/b", "month")
    t.overwrite(Seq(
      (1L, "2020-03", "a", 10L), (2L, "2020-03", "b", 20L),
      (3L, "2020-04", "a", 100L), (4L, "2020-04", "a", 40L))
      .toDF("pid", "month", "typ", "cents"))
    val ru = new IncrementalRollup(t, s"$root/s", Seq("month", "typ"),
      Seq("n" -> count(lit(1)), "cents" -> sum(col("cents"))))
    ru.refresh()
    def st = ru.summary.read().collect().map(r =>
      (r.getAs[String]("month"), r.getAs[String]("typ")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    assert(st === Map(("2020-03", "a") -> (1L, 10L),
      ("2020-03", "b") -> (1L, 20L), ("2020-04", "a") -> (2L, 140L)))
    // a group VANISHES within a changed month (typ b rewritten to a):
    // the partition-local re-aggregate replaces ALL of that month's
    // groups, including dropping the dead one
    t.upsert(Seq((2L, "2020-03", "a", 25L))
      .toDF("pid", "month", "typ", "cents"), Seq("pid"))
    val (_, rec, _, (ins, upd, del)) = ru.refresh()
    assert(rec == 1) // only 2020-03 re-aggregated
    assert((ins, upd, del) === ((0L, 1L, 1L))) // a updated, b deleted
    assert(st === Map(("2020-03", "a") -> (2L, 35L),
      ("2020-04", "a") -> (2L, 140L)))
  }

  test("dims must include the base partition column") {
    implicit val s = spark
    val (t, _, root) = mk()
    val err = intercept[IllegalArgumentException] {
      new IncrementalRollup(t, s"$root/s2", Seq("pid"),
        Seq("n" -> count(lit(1))))
    }
    assert(err.getMessage.contains("partition column"))
  }
}
