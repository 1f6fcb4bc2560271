package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Scene
import graft.plans.BoundValue
import graft.sources.PartitionedCowTable
import graft.streaming.IncrementalIngest

/** The catalogue over a small PartitionedCowTable version reads the
  * table's in-memory copy: every read after a commit sees the new
  * version, whichever writer made it, and a table never holds more than
  * one copy — none when the version does not fit the threshold.
  * Per-call values reach the copy's generated code as references.
  */
class SceneCatalogSnapshotSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def scene(pid: Long, date: String, dl: Boolean = false): Scene =
    Scene(pid, s"S$pid", s"P$pid", "LANDSAT_8",
      Timestamp.valueOf(date + " 10:00:00"), Date.valueOf(date), 10.0,
      52, 50, 2, 0, 1000L + pid, "gs://x",
      Timestamp.valueOf("2020-01-01 00:00:00"),
      None, None, Downloaded = dl, None, None, ARDProduct = false,
      DCLoaded = false, Invalid = false, Archived = false,
      ExtendedInfo = None)

  private def mk(): (SceneCatalog, PartitionedCowTable, String) = {
    val root = tempDir("snap") + "/scenes"
    val t = new PartitionedCowTable(root, "Date_Acquired", spark)
    t.overwrite((1 to 6).map(i => scene(i.toLong, f"2020-03-0${i % 3 + 1}")).toDF())
    (new SceneCatalog(t, spark), t, root)
  }

  private def pids(df: DataFrame): Set[Long] =
    df.select("PID").as[Long].collect().toSet

  /** The catalogue's answer equals a fresh file read of the version. */
  private def sameAsFiles(cat: SceneCatalog, t: PartitionedCowTable): Unit = {
    val want = t.read().collect().map(_.toString).sorted.toSeq
    assert(cat.scenes.collect().map(_.toString).sorted.toSeq === want)
  }

  private def scans(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size
  }

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, v)
    try body
    finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("a read after each kind of commit returns the new version's rows") {
    val (cat, t, _) = mk()
    assert(pids(cat.scenes) === (1L to 6L).toSet)
    // append and upsert through the catalogue
    cat.table.append(Seq(scene(7, "2020-03-04")).toDF())
    assert(pids(cat.scenes) === (1L to 7L).toSet)
    cat.upsertScenes(cat.scenes.filter($"PID" === 2L)
      .withColumn("Downloaded", lit(true)))
    assert(cat.scnlistNeedDownload().as[Long].collect().toSet ===
      (1L to 7L).toSet - 2L)
    sameAsFiles(cat, t)
    // a whole-day retire is a metadata-only commit
    val v = t.version
    t.deleteWhere(col("Date_Acquired") === lit(Date.valueOf("2020-03-04")))
    assert(t.version === v + 1)
    assert(pids(cat.scenes) === (1L to 6L).toSet)
    // compaction rewrites the layout, not the rows
    cat.table.asInstanceOf[PartitionedCowTable].compact()
    assert(t.version === v + 2)
    sameAsFiles(cat, t)
    // ingest through the table: one new scene, one re-delivery
    IncrementalIngest.ingestBatch(cat.table,
      Seq(scene(8, "2020-03-05"), scene(3, "2020-03-01")).toDF(),
      Seq("Scene_ID"), Seq(col("Product_ID").desc))
    assert(pids(cat.scenes) === (1L to 6L).toSet + 8L)
    assert(cat.scenesForDateRange("2020-03-05", "2020-03-05",
      validOnly = false).select("PID").as[Long].collect().toSeq === Seq(8L))
    assert(cat.stateSummary().head().getLong(0) === 1L)
    sameAsFiles(cat, t)
  }

  test("a commit by a second table on the same root moves the catalogue on") {
    val (cat, _, root) = mk()
    assert(pids(cat.scenes) === (1L to 6L).toSet)
    val other = new PartitionedCowTable(root, "Date_Acquired", spark)
    other.upsert(Seq(scene(4, "2020-03-02", dl = true)).toDF(), Seq("PID"))
    assert(cat.scnlistNeedDownload().as[Long].collect().toSet ===
      (1L to 6L).toSet - 4L)
    other.deleteWhere(col("PID") === 5L)
    assert(pids(cat.scenes) === (1L to 6L).toSet - 5L)
  }

  test("a repeat read of one version opens no parquet file") {
    val (cat, t, _) = mk()
    cat.scenes.count()
    assert(scans(cat.scenesForDateRange("2020-03-02", "2020-03-01",
      validOnly = false)) === 0)
    assert(scans(cat.stateSummary()) === 0)
    assert(scans(cat.scenesPage(1, 2)) === 0)
    withThreshold("-1") {
      assert(scans(cat.scenesPage(1, 2)) > 0)
    }
    assert(cat.scenesPage(1, 2).collect().toSeq ===
      graft.operators.RelationalOps.paginate(t.read(),
        Seq(col("Date_Acquired").desc, col("PID")), 1, 2).collect().toSeq)
  }

  test("at most one snapshot per table; none at threshold -1 or " +
    "above the threshold") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def heldNow: Int = (sc.getPersistentRDDs.keySet -- before).size
    val (cat, t, _) = mk()
    val (cat2, _, _) = mk()
    cat.scenes.count()
    assert(heldNow === 1)
    cat.scenes.count()
    cat2.scenes.count()
    assert(heldNow === 2)
    for (i <- 10 to 12) {
      cat.table.append(Seq(scene(i.toLong, "2020-03-05")).toDF())
      cat.scenes.count()
      assert(heldNow === 2, s"after append $i")
    }
    val plan = t.read().queryExecution.optimizedPlan.stats.sizeInBytes
    withThreshold((plan - 1).toString) {
      assert(pids(cat.scenes).size === 9)
      assert(heldNow === 1)
    }
    withThreshold("-1") {
      cat.scenes.count()
      cat2.scenes.count()
      assert(heldNow === 0)
    }
    cat.scenes.count()
    assert(heldNow === 1)
    cat.table.append(Seq(scene(13, "2020-03-05")).toDF())
    withThreshold("-1")(cat.scenes.count())
    assert(heldNow === 0)
  }

  test("new date-range and bbox values reuse the copy's compiled classes; " +
    "each answer equals the file path's, which keeps plain literals") {
    val (cat, _, _) = mk()
    def compiles[T](body: => T): (T, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val r = body
      (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    def rowsOf(df: DataFrame) = df.collect().map(_.toString).toSeq
    val reads: Seq[Int => DataFrame] = Seq(
      i => cat.scenesForDateRange(f"2020-03-0${i % 3 + 2}", "2020-03-01",
        Some(8.0 + i), validOnly = false),
      i => cat.scenesIntersectBBox(60.0 + i, 40.0 - i, 10.0 + i, 1.0 + 0.3 * i))
    for (read <- reads) {
      val (got, counts) = (1 to 4).map(i => compiles(rowsOf(read(i)))).unzip
      // the file path releases the copy: read it after the copy's calls
      withThreshold("-1") {
        for (i <- 1 to 4) {
          val files = read(i)
          val plan = files.queryExecution.executedPlan
          assert(collect(plan) { case s: FileSourceScanExec => s }.nonEmpty)
          assert(!plan.exists(_.expressions.exists(_.exists(
            _.isInstanceOf[BoundValue]))))
          assert(got(i - 1) === rowsOf(files), s"call $i")
        }
      }
      assert(counts.tail === Seq(0L, 0L, 0L), s"compiles per call: $counts")
    }
  }
}
