package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SnapshotCatalog: cross-table snapshot resolution semantics — the
  * at-or-before step lookup, per-table latest-wins, and the crash
  * contract (table commits without a log advance stay INVISIBLE to
  * snapshot readers — the property that makes a multi-table step
  * atomic to them).
  */
class SnapshotCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): (PartitionedCowTable, PartitionedCowTable,
      SnapshotCatalog) = {
    implicit val s = spark
    val base = tempDir("snapcat")
    val a = PartitionedCowTable(s"$base/a", "m")
    val b = PartitionedCowTable(s"$base/b", "m")
    a.overwrite(Seq((1L, "x", 10L)).toDF("pid", "m", "v"))
    b.overwrite(Seq((1L, "x", 100L)).toDF("pid", "m", "v"))
    val snap = new SnapshotCatalog(s"$base/log", spark)
    snap.record(0, Map("a" -> a.version, "b" -> b.version))
    (a, b, snap)
  }

  test("versionsAt resolves at-or-before; latest recorded step wins " +
    "per table") {
    val (a, b, snap) = mk()
    a.upsert(Seq((1L, "x", 11L)).toDF("pid", "m", "v"), Seq("pid"))
    snap.record(1, Map("a" -> a.version, "b" -> b.version))
    b.upsert(Seq((1L, "x", 101L)).toDF("pid", "m", "v"), Seq("pid"))
    snap.record(2, Map("a" -> a.version, "b" -> b.version))
    assert(snap.versionsAt(0) == Map("a" -> 0, "b" -> 0))
    assert(snap.versionsAt(1) == Map("a" -> 1, "b" -> 0))
    assert(snap.versionsAt(2) == Map("a" -> 1, "b" -> 1))
    // beyond the last step: the latest state
    assert(snap.versionsAt(99) == Map("a" -> 1, "b" -> 1))
    assert(snap.currentStep == 2L)
    // the resolved snapshot reads the right table states
    val vs = snap.versionsAt(1)
    assert(a.readVersion(vs("a")).select("v").as[Long].head() == 11L)
    assert(b.readVersion(vs("b")).select("v").as[Long].head() == 100L)
  }

  test("a crashed multi-table step (commits landed, log unadvanced) " +
    "is invisible to snapshot readers") {
    val (a, b, snap) = mk()
    // step 1 crashes after A's commit, before B's and before record():
    a.upsert(Seq((1L, "x", 99L)).toDF("pid", "m", "v"), Seq("pid"))
    // the snapshot world still resolves to the step-0 pair
    assert(snap.currentStep == 0L)
    val vs = snap.versionsAt(snap.currentStep)
    assert(a.readVersion(vs("a")).select("v").as[Long].head() == 10L)
    assert(b.readVersion(vs("b")).select("v").as[Long].head() == 100L)
    // the re-run completes the pair and publishes once
    b.upsert(Seq((1L, "x", 999L)).toDF("pid", "m", "v"), Seq("pid"))
    snap.record(1, Map("a" -> a.version, "b" -> b.version))
    val vs1 = snap.versionsAt(1)
    assert(a.readVersion(vs1("a")).select("v").as[Long].head() == 99L)
    assert(b.readVersion(vs1("b")).select("v").as[Long].head() == 999L)
  }

  test("a table first recorded later is absent from earlier snapshots") {
    implicit val s = spark
    val (a, _, snap) = mk()
    val base = tempDir("snapcat2")
    val c = PartitionedCowTable(s"$base/c", "m")
    c.overwrite(Seq((1L, "x", 7L)).toDF("pid", "m", "v"))
    snap.record(5, Map("a" -> a.version, "c" -> c.version))
    assert(!snap.versionsAt(0).contains("c"))
    assert(snap.versionsAt(5)("c") == 0)
  }
}
