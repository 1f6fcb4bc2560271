package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable

import graft.model.Scene

/** Seeded Landsat-shaped scene generator for the catalogue workload,
  * with the columns of FIXTURES.md §B.1 (see [[SceneGen$]] for the
  * traffic figures and where each comes from).
  *
  * Day `d` (0-based) is `base + d` where `base` moves with the seed.
  * Every scene is a pure function of (seed, day, slot), so the page a
  * tick ingests and the model that checks it agree without sharing
  * state. Ids are disjoint by construction:
  *  - regular scene: PID `d * 1000 + j` (j < perDay), WRS path <= 200;
  *  - re-processed version `v` (1 or 2) of a regular scene: PID
  *    `d * 1000 + 850 + 50 * v + j`, same Scene_ID, a later processing
  *    date in Product_ID;
  *  - late scene delivered at tick `k`: PID `1e9 + k * 10 + m`, path > 200.
  */
final case class SceneGen(seed: Long) {
  import SceneGen._

  val base: LocalDate = LocalDate.of(2019, 1, 1).plusDays(Math.floorMod(seed, 365L))

  def date(day: Int): LocalDate = base.plusDays(day.toLong)

  /** SplitMix64 finaliser over the seed and `parts`. */
  def hash(parts: Long*): Long =
    parts.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, p) =>
      var z = h + p * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def ymd(d: LocalDate): String =
    f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"

  private def ts(d: LocalDate, secondOfDay: Long): Timestamp =
    Timestamp.valueOf(d.atStartOfDay().plusSeconds(secondOfDay))

  /** One scene at (path, row) on `day`; `procDays` sets the processing
    * date written into Product_ID, so a larger value is a newer version.
    */
  private def scene(pid: Long, day: Int, path: Int, row: Int, procDays: Int,
                    h: Long): Scene = {
    val d = date(day)
    val u = (i: Int) => unit(hash(h, i.toLong))
    val lat = 80.0 - row * (160.0 / 248.0) + (u(1) - 0.5)
    val lon = -180.0 + path * (360.0 / 233.0) + (u(2) - 0.5)
    // about 2 % of footprints are stored the antimeridian-crossing way:
    // west/east swapped round the dateline, so east - west > 90
    val (west, east) =
      if (u(3) < 0.02) (-179.0 - u(4) * 0.9, 179.0 + u(4) * 0.9)
      else (lon - 1.0, lon + 1.0)
    val invalid = u(5) * 100 < invalidPct
    Scene(
      PID = pid,
      Scene_ID = f"LC8$path%03d$row%03d${d.getYear}%04d${d.getDayOfYear}%03dLGN00",
      Product_ID = f"LC08_L1TP_$path%03d$row%03d_${ymd(d)}_${ymd(d.plusDays(procDays.toLong))}_01_T1",
      Spacecraft_ID = if (u(6) < 0.5) "LANDSAT_8" else "LANDSAT_7",
      Sensing_Time = ts(d, (u(7) * 86400).toLong),
      Date_Acquired = Date.valueOf(d),
      Cloud_Cover = math.rint(100.0 * u(8) * u(8) * 100.0) / 100.0,
      North_Lat = lat + 1.0,
      South_Lat = lat - 1.0,
      East_Lon = east,
      West_Lon = west,
      // never null, unlike FIXTURES.md §B.1: the engine's Scene holds a
      // non-null Long here
      Total_Size = 500000000L + (u(9) * 5e8).toLong,
      Remote_URL = f"gs://gcp-public-data-landsat/LC08/01/$path%03d/$row%03d/$pid",
      Query_Date = ts(d.plusDays(1), 3600),
      Download_Start_Date = None,
      Download_End_Date = None,
      Downloaded = false,
      ARDProduct_Start_Date = None,
      ARDProduct_End_Date = None,
      ARDProduct = false,
      DCLoaded = false,
      Invalid = invalid,
      Archived = false,
      ExtendedInfo = if (u(10) < 0.5) None else Some("""{"quicklook":{"done":true}}"""))
  }

  private def regularAt(pid: Long, day: Int, j: Int, procDays: Int): Scene = {
    val h = hash(1, day.toLong, j.toLong)
    scene(pid, day, 1 + j * 5 + Math.floorMod(h, 5L).toInt,
      1 + Math.floorMod(h >>> 8, 248L).toInt, procDays, h)
  }

  /** Regular scene `j` of `day`. */
  def regular(day: Int, j: Int): Scene = regularAt(day * 1000L + j, day, j, 2)

  /** Newer processing `v` (1 or 2) of regular scene `j` of `day`. */
  def reprocessed(day: Int, j: Int, v: Int): Scene =
    regularAt(day * 1000L + 850 + 50 * v + j, day, j, 30 * v)

  /** Scene `m` of `day` delivered late, at tick `tick`. */
  def late(tick: Int, day: Int, m: Int): Scene = {
    val h = hash(2, tick.toLong, m.toLong)
    scene(1000000000L + tick * 10L + m, day,
      201 + Math.floorMod(h, 33L).toInt, 1 + Math.floorMod(h >>> 8, 248L).toInt,
      2, h)
  }

  /** The seeded history: `days` days of regular scenes, processed as a
    * catalogue that has kept up — older than 5 days fully processed,
    * the last 5 days part way, invalid scenes never touched. Each step
    * takes its whole work-list every run (SURVEY.md §3.2,
    * eodatadownrun.py:768-788), so a daily cycle leaves only retries
    * behind; FIXTURES.md §B.1's ~60 % downloaded / ~40 % ARD mix is a
    * part-processed query fixture, which one such tick would work off.
    * The 5-day window is an assumption that gives the warm-up ticks
    * work.
    */
  def history(days: Int): Seq[Scene] =
    for { day <- 0 until days; j <- 0 until perDay } yield {
      val s = regular(day, j)
      val age = days - 1 - day
      val stage = if (s.Invalid) 0 else if (age > 5) 2
        else Math.floorMod(hash(3, s.PID), 3L).toInt
      StepState.advance(s, stage, ts(date(day).plusDays(1), 7200))
    }

  /** The catalogue page delivered at tick `tick` (new day `newDay`):
    * the day's scenes; newer versions of two of them, the first
    * re-processed twice, so one Scene_ID comes three times and one
    * twice; re-deliveries from the previous day; and late scenes for
    * older retained days (`oldestLive` is the oldest day still in the
    * table).
    */
  def page(tick: Int, newDay: Int, oldestLive: Int): Seq[Scene] = {
    val today = (0 until perDay).map(regular(newDay, _))
    val (a, b) = (Math.floorMod(hash(4, tick.toLong, 0L), perDay.toLong).toInt,
      Math.floorMod(hash(4, tick.toLong, 1L), perDay.toLong).toInt)
    val reproc = Seq(reprocessed(newDay, a, 1), reprocessed(newDay, a, 2)) ++
      (if (b != a) Seq(reprocessed(newDay, b, 1)) else Nil)
    val redelivered = (0 until redeliveredPerPage).map(i =>
      regular(newDay - 1, Math.floorMod(hash(5, tick.toLong, i.toLong), perDay.toLong).toInt))
      .distinctBy(_.PID)
    val span = newDay - 1 - (oldestLive + 1)
    val lateRows = (0 until latePerPage).map { m =>
      val day = oldestLive + 1 + Math.floorMod(hash(6, tick.toLong, m.toLong), span.toLong).toInt
      late(tick, day, m)
    }
    today ++ reproc ++ redelivered ++ lateRows
  }
}

/** The catalogue traffic. The reference publishes no volumes or failure
  * rates (SURVEY.md §6), so where FIXTURES.md §B.1 gives no figure the
  * number is an assumption, named as such.
  */
object SceneGen {
  /** Scenes acquired a day over the monitored area. Assumption: sized so
    * a 90-day table (3600 rows) keeps a tick, writes included, to a few
    * seconds on 4 cores, and a run measures whole ticks.
    */
  val perDay = 40

  /** Share of scenes flagged invalid: FIXTURES.md §B.1 (~10 %). */
  val invalidPct = 10

  /** Rows of the previous day a page delivers again. The reference's
    * ingest anti-joins each index query on Scene_ID (SURVEY.md J1,
    * eodatadownlandsatgoogsensor.py:637-639) because queries return rows
    * the catalogue holds; the count (10 % of a day) is an assumption.
    */
  val redeliveredPerPage = 4

  /** Scenes a page delivers for older days, which reach the index after
    * the watermark passed them (FIXTURES.md §B.7); the count is an
    * assumption.
    */
  val latePerPage = 3
}

/** The processing state machine a step applies to one scene. */
object StepState {
  /** Stage 0: new; 1: downloaded; 2: downloaded and ARD produced. */
  def advance(s: Scene, stage: Int, at: Timestamp): Scene = stage match {
    case 0 => s
    case 1 => s.copy(Downloaded = true, Download_Start_Date = Some(at),
      Download_End_Date = Some(at))
    case _ => advance(s, 1, at).copy(ARDProduct = true,
      ARDProduct_Start_Date = Some(at), ARDProduct_End_Date = Some(at))
  }

  /** Whether a step's no-op processing of `pid` fails at `tick`: a
    * seeded share `failPct` of attempts, different on every retry.
    */
  def fails(gen: SceneGen, step: Int, pid: Long, tick: Int, failPct: Int): Boolean =
    Math.floorMod(gen.hash(7, step.toLong, pid, tick.toLong), 100L) < failPct
}

/** In-memory model of the scene catalogue: the expected answer for
  * every read and write the catalogue workload makes, under the
  * engine's documented semantics (key anti-join ingest keeping the
  * newest Product_ID per Scene_ID, flag-driven work-lists, closed date
  * ranges, strict bbox overlap, newest-first paging).
  */
final class CatalogModel {
  val rows: mutable.Map[Long, Scene] = mutable.HashMap.empty

  def load(scenes: Seq[Scene]): Unit = scenes.foreach(s => rows(s.PID) = s)

  /** Apply one ingest page; returns the number of rows appended. */
  def ingest(page: Seq[Scene]): Int = {
    val newest = page.groupBy(_.Scene_ID).values.map(_.maxBy(_.Product_ID))
    val present = rows.valuesIterator.map(_.Scene_ID).toSet
    val added = newest.filterNot(s => present.contains(s.Scene_ID)).toSeq
    load(added)
    added.size
  }

  private def byDateThenPid(a: Scene, b: Scene): Boolean = {
    val c = a.Date_Acquired.compareTo(b.Date_Acquired)
    if (c != 0) c < 0 else a.PID < b.PID
  }

  private def newestFirst(a: Scene, b: Scene): Boolean = {
    val c = a.Date_Acquired.compareTo(b.Date_Acquired)
    if (c != 0) c > 0 else a.PID < b.PID
  }

  def needDownload: Seq[Long] =
    rows.values.filter(s => !s.Downloaded && !s.Invalid).toSeq
      .sortWith(byDateThenPid).map(_.PID)

  def needArd: Seq[Long] =
    rows.values.filter(s => s.Downloaded && !s.ARDProduct && !s.Invalid).toSeq
      .sortWith(byDateThenPid).map(_.PID)

  /** Run a step over its work-list; returns (processed, succeeded). */
  def step(work: Seq[Long], stage: Int, failed: Long => Boolean,
           at: Timestamp): (Long, Long) = {
    val ok = work.filterNot(failed)
    ok.foreach(p => rows(p) = StepState.advance(rows(p), stage, at))
    (work.size.toLong, ok.size.toLong)
  }

  def retire(day: LocalDate): Int = {
    val gone = rows.values.filter(_.Date_Acquired.toLocalDate == day).map(_.PID).toSeq
    gone.foreach(rows.remove)
    gone.size
  }

  /** `start` is the most recent day of the closed range. */
  def dateRange(start: LocalDate, end: LocalDate, cloud: Double): Seq[Long] =
    rows.values.filter { s =>
      val d = s.Date_Acquired.toLocalDate
      !d.isBefore(end) && !d.isAfter(start) && s.Cloud_Cover <= cloud &&
        !s.Invalid && s.ARDProduct
    }.toSeq.sortWith(newestFirst).map(_.PID)

  def bbox(north: Double, south: Double, east: Double, west: Double): Set[Long] =
    rows.values.filter(s => east > s.West_Lon && s.East_Lon > west &&
      north > s.South_Lat && s.North_Lat > south).map(_.PID).toSet

  /** (downloaded, ard, dcloaded, invalid, archived, total) counts. */
  def stateSummary: Seq[Long] = {
    val v = rows.values
    Seq(v.count(_.Downloaded), v.count(_.ARDProduct), v.count(_.DCLoaded),
      v.count(_.Invalid), v.count(_.Archived), v.size).map(_.toLong)
  }

  def page(offset: Int, n: Int): Seq[Long] =
    rows.values.toSeq.sortWith(newestFirst).slice(offset, offset + n).map(_.PID)
}
