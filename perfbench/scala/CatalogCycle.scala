package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.SceneCatalog
import graft.pipeline.StepRunner
import graft.sources.PartitionedCowTable
import graft.streaming.IncrementalIngest

/** A step whose processing is a no-op that fails for a seeded share of
  * scenes; failed scenes keep their flag unset and are retried.
  */
final case class NoopStep(name: String, stage: Int, gen: SceneGen, tick: Int,
                          failPct: Int, at: Timestamp) extends StepRunner.SceneStep {
  def workList(cat: SceneCatalog): DataFrame =
    if (stage == 1) cat.scnlistNeedDownload() else cat.scnlistNeedArd()
  def process(pid: Long): StepRunner.StepResult =
    StepRunner.StepResult(pid, !StepState.fails(gen, stage, pid, tick, failPct), "")
  def onSuccess: Map[String, Column] =
    if (stage == 1) Map("Downloaded" -> lit(true),
      "Download_Start_Date" -> lit(at), "Download_End_Date" -> lit(at))
    else Map("ARDProduct" -> lit(true),
      "ARDProduct_Start_Date" -> lit(at), "ARDProduct_End_Date" -> lit(at))
}

/** The eodatadown monitoring cycle on a date-partitioned scene table.
  *
  * Set-up seeds 90 acquisition days and runs two checked warm-up ticks.
  * Each timed tick ingests the next day's page, runs download then
  * ARD, makes five reads with seeded parameters, and retires the
  * oldest day, so the table keeps its size; then it compacts the last
  * week's partitions and vacuums. Every op is checked against
  * [[CatalogModel]].
  */
final class CatalogCycle(spark: SparkSession, rec: Recorder, seed: Long,
                         outDir: String, parallelism: Int) {
  import spark.implicits._

  /** Retained days. Assumption: a full year would make set-up and every
    * tick's reads about four times larger, past a run's time budget.
    */
  val days = 90
  /** Share of step attempts that fail and are retried next tick
    * (StepRunner.runStep leaves their flag unset). Assumption: the
    * reference publishes no failure rate.
    */
  val failPct = 10
  val warmTicks = 2

  private val gen = SceneGen(seed)
  private val root = s"$outDir/catalog"
  private val table = new PartitionedCowTable(root, "Date_Acquired", spark)
  private val cat = new SceneCatalog(table, spark)
  private val model = new CatalogModel
  private var tick = 0
  private var commitsExpected = 0

  def run(seconds: Double): Unit = {
    val history = gen.history(days)
    rec.op("seed", "setup") {
      table.overwrite(history.toDS().toDF())
      model.load(history)
      commitsExpected = table.version
      (history.size.toLong, "")
    }
    (0 until warmTicks).foreach(_ => runTick())
    rec.startTiming()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var units = 0
    while (System.nanoTime() < deadline || units < rec.minUnits) {
      rec.unit("tick")(runTick())
      units += 1
    }
    rec.op("final_state", "check")(finalCheck())
    val (total, live) = (treeBytes(Paths.get(root)), liveBytes())
    rec.meta("table_bytes" -> total, "live_bytes" -> live,
      "live_rows" -> model.rows.size, "ticks" -> tick)
  }

  private def runTick(): Unit = {
    val k = tick
    val newDay = days + k
    val at = Timestamp.valueOf(gen.date(newDay).atTime(12, 0))
    val rng = new scala.util.Random(gen.hash(8, k.toLong))

    // the model answers first, outside the timed op
    val page = gen.page(k, newDay, k)
    val added = model.ingest(page)
    write("ingest", 1) {
      rec.span("IncrementalIngest.ingestBatch", "streaming") {
        IncrementalIngest.ingestBatch(table, page.toDS().toDF(), Seq("Scene_ID"),
          Seq(col("Product_ID").desc))
      }
      rec.opFacts("page_rows" -> page.size, "new_rows" -> added)
      (added.toLong, "")
    }
    Seq(("download", 1, () => model.needDownload), ("ard", 2, () => model.needArd)).foreach {
      case (name, stage, workList) =>
        val want = model.step(workList(), stage,
          pid => StepState.fails(gen, stage, pid, k, failPct), at)
        write("step_" + name, if (want._2 > 0) 1 else 0) {
          val got = rec.span("StepRunner.runStep:" + name, "pipeline") {
            StepRunner.runStep(spark, cat, NoopStep(name, stage, gen, k, failPct, at),
              parallelism)
          }
          rec.opFacts("processed" -> got._1, "succeeded" -> got._2)
          (got._1, if (got == want) "" else s"step $name: got $got, model $want")
        }
    }

    val needDownload = model.needDownload
    read("read_need_download")(cat.scnlistNeedDownload()) { rows =>
      expectSeq(rows.map(_.getLong(0)).toSeq, needDownload)
    }
    val start = gen.date(newDay - rng.nextInt(60))
    val end = start.minusDays(3L + rng.nextInt(28))
    val cloud = 20.0 + rng.nextInt(61)
    val inRange = model.dateRange(start, end, cloud)
    read("read_date_range")(cat.scenesForDateRange(start.toString, end.toString,
        Some(cloud))) { rows => expectSeq(pids(rows), inRange) }
    val (lat, lon) = (-60.0 + rng.nextDouble() * 120.0, -170.0 + rng.nextDouble() * 340.0)
    val (h, w) = (10.0 + rng.nextDouble() * 20.0, 10.0 + rng.nextDouble() * 20.0)
    val box = (lat + h / 2, lat - h / 2, lon + w / 2, lon - w / 2)
    val inBox = model.bbox(box._1, box._2, box._3, box._4)
    read("read_bbox")(cat.scenesIntersectBBox(box._1, box._2, box._3, box._4)) { rows =>
      val got = pids(rows).toSet
      if (got == inBox) "" else s"bbox: ${got.size} rows, model ${inBox.size}"
    }
    val summary = model.stateSummary
    read("read_state_summary")(cat.stateSummary()) { rows =>
      expectSeq(rows.head.toSeq.map(_.asInstanceOf[Long]), summary)
    }
    val offset = rng.nextInt(2000)
    val onPage = model.page(offset, 50)
    read("read_page")(cat.scenesPage(offset, 50)) { rows =>
      expectSeq(pids(rows), onPage)
    }

    val oldest = gen.date(k)
    val gone = model.retire(oldest)
    write("retire", 1) {
      rec.span("PartitionedCowTable.deleteWhere", "sources") {
        table.deleteWhere(col("Date_Acquired") === lit(Date.valueOf(oldest)))
      }
      (gone.toLong, "")
    }
    // the last week's partitions took this tick's writes; older ones
    // keep the small files late scenes leave until they are retired
    val recent = gen.date(newDay - 6).toString
    write("compact", 1) {
      rec.span("PartitionedCowTable.compact", "sources")(table.compact(_ >= recent))
      (0L, "")
    }
    write("vacuum", 0) {
      rec.span("PartitionedCowTable.vacuum", "sources")(table.vacuum())
      (0L, "")
    }
    tick += 1
  }

  private def pids(rows: Array[Row]): Seq[Long] =
    rows.map(_.getAs[Long]("PID")).toSeq

  private def expectSeq[T](got: Seq[T], want: Seq[T]): String =
    if (got == want) ""
    else s"${got.size} rows, model ${want.size}; first difference at " +
      s"${got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }}"

  /** A read op: build the DataFrame, collect it, check it. */
  private def read(kind: String)(build: => DataFrame)(check: Array[Row] => String): Unit =
    rec.op(kind, "read") {
      val df = rec.span("SceneCatalog." + kind.stripPrefix("read_"), "catalog")(build)
      val rows = rec.span("action:collect", "action")(df.collect())
      if (rec.tracing) {
        val (dirs, listed) = table.autoPruneLedger
        rec.opFacts("dirs_total" -> dirs, "dirs_listed" -> listed)
      }
      (rows.length.toLong, check(rows))
    }

  /** A mutating op: `body` returns (rows affected, error); the table
    * must advance by exactly `commits` versions. In traced units the
    * files and bytes the op added under the root are counted.
    */
  private def write(kind: String, commits: Int)(body: => (Long, String)): Unit = {
    val before = if (rec.tracing) treeFiles(Paths.get(root)) else Map.empty[String, Long]
    val v0 = table.version
    commitsExpected += commits
    rec.op(kind, "write") {
      val (rows, err) = body
      val v = table.version
      (rows, if (err.nonEmpty) err else if (v == commitsExpected) ""
        else s"table at version $v, expected $commitsExpected after $kind")
    }
    if (rec.tracing) {
      val after = treeFiles(Paths.get(root))
      val added = after.filter { case (p, _) => !before.contains(p) }
      rec.opFacts("commits" -> (table.version - v0), "files_added" -> added.size,
        "bytes_added" -> added.values.sum, "table_bytes" -> after.values.sum)
    }
  }

  /** Whole-table check against the model. */
  private def finalCheck(): (Long, String) = {
    val rows = table.read().select("PID", "Scene_ID", "Downloaded", "ARDProduct",
      "Invalid").collect()
    val got = rows.map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2),
      r.getBoolean(3), r.getBoolean(4))).toMap
    val want = model.rows.map { case (p, s) =>
      p -> (s.Scene_ID, s.Downloaded, s.ARDProduct, s.Invalid) }.toMap
    val dupIds = rows.length - rows.map(_.getString(1)).distinct.length
    val err =
      if (rows.length != got.size) s"${rows.length - got.size} duplicate PIDs"
      else if (dupIds > 0) s"$dupIds duplicate Scene_IDs"
      else if (got != want) s"table has ${got.size} rows, model ${want.size}; " +
        s"${(got.keySet ++ want.keySet).count(p => got.get(p) != want.get(p))} differ"
      else ""
    (rows.length.toLong, err)
  }

  private def treeFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  private def treeBytes(p: Path): Long = treeFiles(p).values.sum

  /** Bytes of the data files the current version references. */
  private def liveBytes(): Long =
    (table.manifest.values ++ table.legacyEntries.map(_._3)).toSeq.distinct
      .map(d => treeBytes(Paths.get(root, d))).sum
}
