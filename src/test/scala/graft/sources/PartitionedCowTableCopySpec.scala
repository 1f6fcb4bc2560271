package graft.sources

import java.nio.file.Paths
import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The table's in-memory copy of a small version: after every kind of
  * commit it equals a file read of the new version, it advances by the
  * manifest diff (reading only the changed partitions' files), and its
  * lineage never reaches back to an earlier version.
  */
class PartitionedCowTableCopySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def rows(ps: Seq[(Long, String, String)]): DataFrame =
    ps.map { case (p, d, v) => (p, Date.valueOf(d), v, p % 2 == 0) }
      .toDF("pid", "day", "v", "flag")

  private def mk(): PartitionedCowTable = {
    val t = new PartitionedCowTable(tempDir("copy") + "/t", "day", spark)
    t.overwrite(rows((1 to 12).map(i =>
      (i.toLong, f"2020-03-0${i % 4 + 1}", s"v$i"))))
    t
  }

  private def copyOf(t: PartitionedCowTable): DataFrame =
    t.snapshot().getOrElse(fail("a small version is served from memory"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def relationOf(copy: DataFrame): InMemoryRelation =
    copy.queryExecution.analyzed.collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail("not an in-memory copy"))

  /** The data dirs a copy's fill read: the file scans in its cached plan. */
  private def filesRead(copy: DataFrame): Set[String] =
    collect(relationOf(copy).cacheBuilder.cachedPlan) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten.map(f => Paths.get(new java.net.URI(f)).getParent.toString)
      .filter(_.contains("/w_")).toSet

  /** The current dirs of the partition values that changed since `v0`. */
  private def changedDirs(t: PartitionedCowTable, v0: Int): Set[String] = {
    val (changed, _) = t.changedPartitionValuesSince(v0)
    changed.map(c => Paths.get(t.root, t.manifest(c)).toString)
  }

  private def planOf(copy: DataFrame): String =
    relationOf(copy).cacheBuilder.cachedPlan.treeString

  /** Commit with `body`, then check the copy of the new version against
    * a file read. When `reads`, the copy was refilled from exactly the
    * changed partitions' dirs; otherwise it was carried over with no job.
    */
  private def advancesOver(t: PartitionedCowTable, reads: Boolean = true)
                          (body: => Unit): Unit = {
    copyOf(t)
    val v0 = t.version
    body
    assert(t.version > v0)
    val (copy, jobs) = org.apache.spark.JobCount(spark.sparkContext)(copyOf(t))
    assert(sorted(copy) === sorted(t.read()))
    if (reads) assert(filesRead(copy) === changedDirs(t, v0), planOf(copy))
    else assert(jobs === 0)
  }

  test("after each kind of commit the advanced copy equals a file read " +
    "and read only the changed partitions") {
    val t = mk()
    advancesOver(t)(t.append(rows(Seq((20L, "2020-03-05", "new")))))
    advancesOver(t)(t.upsert(rows(Seq((2L, "2020-03-03", "up"))), Seq("pid")))
    // a whole-day delete is metadata-only: the copy drops the day
    advancesOver(t, reads = false)(
      t.deleteWhere(col("day") === lit(Date.valueOf("2020-03-05"))))
    advancesOver(t)(t.deleteWhere(col("pid") === 5L))
    advancesOver(t)(t.updateWhere(col("pid") === 4L, Map("v" -> lit("upd"))))
    advancesOver(t)(t.mergeApply(rows(Seq((6L, "2020-03-03", "m")))
      .withColumn("op", lit("U")), Seq("pid")))
    val now = t.read().select("pid", "day", "v", "flag")
    advancesOver(t)(t.mergeSync(now.filter($"pid" =!= 8L)
      .union(rows(Seq((30L, "2020-03-02", "s")))), Seq("pid")))
    // compaction keeps the rows: the copy is carried over to its dirs
    advancesOver(t, reads = false)(t.compact())
    advancesOver(t)(t.deleteWhereDV(col("pid") === 9L, Seq("pid")))
    val back = t.version - 3
    advancesOver(t)(t.restore(back))
    // a vacuum between two advances, as a monitoring tick runs it: the
    // next advance reads the live dirs only
    t.vacuum()
    advancesOver(t, reads = false) {
      t.deleteWhere(col("day") === lit(Date.valueOf("2020-03-04")))
      t.compact()
    }
    t.vacuum()
    advancesOver(t)(t.append(rows(Seq((21L, "2020-03-01", "late")))))
  }

  test("a commit by a second table on the same root is seen") {
    val t = mk()
    copyOf(t)
    val other = new PartitionedCowTable(t.root, "day", spark)
    other.upsert(rows(Seq((3L, "2020-03-04", "other"))), Seq("pid"))
    assert(sorted(copyOf(t)) === sorted(t.read()))
    assert(copyOf(t).filter($"pid" === 3L).select("v").as[String].head() === "other")
  }

  test("overwrite, evolveSchema and evolvePartitioning rebuild the copy " +
    "from every dir") {
    val t = mk()
    def allDirs = (t.manifest.values ++ t.legacyEntries.map(_._3))
      .map(d => Paths.get(t.root, d).toString).toSet
    copyOf(t)
    t.overwrite(rows(Seq((1L, "2020-04-01", "a"), (2L, "2020-04-02", "b"))))
    assert(sorted(copyOf(t)) === sorted(t.read()))
    assert(filesRead(copyOf(t)) === allDirs)
    t.evolveSchema("score", "INT", Some("7"))
    assert(sorted(copyOf(t)) === sorted(t.read()))
    assert(filesRead(copyOf(t)) === allDirs)
    t.evolvePartitioning("v")
    t.append(Seq((3L, Date.valueOf("2020-04-03"), "c", false, 1))
      .toDF("pid", "day", "v", "flag", "score"))
    assert(sorted(copyOf(t)) === sorted(t.read()))
    assert(filesRead(copyOf(t)) === allDirs)
  }

  test("after 50 advances the copy's plan has not grown, and it reads " +
    "after the dirs it was built from are vacuumed") {
    val t = mk()
    def planSize(copy: DataFrame): Int =
      collect(relationOf(copy).cacheBuilder.cachedPlan) { case p => p }.size
    copyOf(t)
    t.append(rows(Seq((100L, "2020-03-02", "x"))))
    val first = planSize(copyOf(t))
    for (i <- 1 to 50) {
      t.upsert(rows(Seq((100L + i, f"2020-03-0${i % 4 + 1}", s"x$i"))), Seq("pid"))
      assert(planSize(copyOf(t)) <= first, s"advance $i")
      t.vacuum()
    }
    t.compact()
    val copy = copyOf(t)
    t.vacuum()
    assert(sorted(copy) === sorted(t.read()))
    assert(copy.count() === 12 + 51)
  }

  test("a lost block is read again from the files") {
    val t = mk()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    copyOf(t).count()
    val mine = sc.getPersistentRDDs.keySet -- before
    assert(mine.size === 1)
    mine.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    t.append(rows(Seq((40L, "2020-03-01", "after"))))
    assert(sorted(copyOf(t)) === sorted(t.read()))
    assert(filesRead(copyOf(t)) ===
      t.manifest.values.map(d => Paths.get(t.root, d).toString).toSet)
  }

  test("the table holds at most one copy, none at threshold -1 or above " +
    "the threshold") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def heldNow: Int = (sc.getPersistentRDDs.keySet -- before).size
    def withThreshold[T](v: String)(body: => T): T = {
      val prev = spark.conf.getOption(threshold)
      spark.conf.set(threshold, v)
      try body
      finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
    val t = mk()
    copyOf(t)
    assert(heldNow === 1)
    for (i <- 1 to 3) {
      t.append(rows(Seq((50L + i, "2020-03-02", "a"))))
      copyOf(t)
      assert(heldNow === 1, s"after append $i")
    }
    val size = t.read().queryExecution.optimizedPlan.stats.sizeInBytes
    withThreshold((size - 1).toString) {
      assert(t.snapshot().isLeft)
      assert(heldNow === 0)
    }
    withThreshold("-1")(assert(t.snapshot().isLeft))
    assert(heldNow === 0)
    copyOf(t)
    assert(heldNow === 1)
  }
}
