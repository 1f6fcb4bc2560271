package perfbench

import java.sql.Timestamp
import java.time.LocalDate

/** Checks of the benchmark's own pure Scala parts (the scene generator
  * and the catalogue model), run without Spark:
  *
  * {{{ java -cp <classpath> perfbench.SelfTest }}}
  *
  * Prints one line per check and exits 1 if any fails.
  */
object SelfTest {
  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    if (!pass) failed += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val gen = SceneGen(7)
    val at = new Timestamp(0L)

    check("generator: same seed, same history and pages") {
      SceneGen(7).history(30) == gen.history(30) &&
        SceneGen(7).page(4, 34, 4) == gen.page(4, 34, 4)
    }
    check("generator: another seed gives other scenes") {
      SceneGen(8).history(5).map(_.Scene_ID) != gen.history(5).map(_.Scene_ID)
    }
    check("generator: PIDs unique, Scene_IDs unique per day") {
      val h = gen.history(30)
      h.map(_.PID).distinct.size == h.size && h.map(_.Scene_ID).distinct.size == h.size
    }
    check("generator: a page holds new, re-processed, re-delivered and late scenes") {
      val p = gen.page(4, 34, 4)
      val today = gen.date(34)
      p.count(_.Date_Acquired.toLocalDate == today) >= SceneGen.perDay &&
        p.exists(_.Date_Acquired.toLocalDate == gen.date(33)) &&
        p.exists(s => s.PID >= 1000000000L && s.Date_Acquired.toLocalDate.isBefore(gen.date(33)))
    }

    check("generator: pages repeat Scene_IDs 2-3 times with newer Product_IDs (B.1)") {
      (0 until 20).forall { k =>
        val sizes = gen.page(k, 30 + k, k).groupBy(_.Scene_ID).values
          .filter(_.size > 1).map(_.size).toSeq.sorted
        sizes == Seq(3) || sizes == Seq(2, 3)
      }
    }
    check("generator: about 10 % of scenes are invalid (B.1)") {
      val share = gen.history(90).count(_.Invalid).toDouble / (90 * SceneGen.perDay)
      share > 0.08 && share < 0.12
    }

    check("model: ingest keeps the newest Product_ID and drops known Scene_IDs") {
      val m = new CatalogModel
      m.load(gen.history(30))
      val page = gen.page(0, 30, 0)
      val added = m.ingest(page)
      val groups = page.groupBy(_.Scene_ID).values.filter(_.size > 1).toSeq
      val kept = groups.map(_.maxBy(_.Product_ID))
      val dropped = groups.flatMap(g => g.filterNot(kept.contains))
      groups.nonEmpty && kept.forall(r => m.rows.contains(r.PID) && r.PID % 1000 >= 900) &&
        dropped.forall(s => !m.rows.contains(s.PID)) &&
        added == page.map(_.Scene_ID).distinct.count(id => !gen.history(30).exists(_.Scene_ID == id)) &&
        m.ingest(page) == 0
    }
    check("model: steps advance the work-list, failures stay for retry") {
      val m = new CatalogModel
      m.load(gen.history(30))
      val work = m.needDownload
      val (n, ok) = m.step(work, 1, pid => pid % 2 == 0, at)
      n == work.size && ok == work.count(_ % 2 != 0) && m.needDownload == work.filter(_ % 2 == 0)
    }
    check("model: retire removes exactly one day") {
      val m = new CatalogModel
      m.load(gen.history(30))
      m.retire(gen.date(0)) == SceneGen.perDay && m.rows.size == 29 * SceneGen.perDay
    }
    check("model: date range is closed, newest first, ARD and valid only") {
      val m = new CatalogModel
      m.load(gen.history(30))
      val (start, end) = (gen.date(20), gen.date(10))
      val got = m.dateRange(start, end, 50.0).map(m.rows)
      got.nonEmpty && got.forall { s =>
        val d = s.Date_Acquired.toLocalDate
        !d.isBefore(end) && !d.isAfter(start) && s.ARDProduct && !s.Invalid && s.Cloud_Cover <= 50.0
      } && got.map(_.Date_Acquired.toLocalDate).sliding(2).forall {
        case Seq(a, b) => !a.isBefore(b)
        case _ => true
      } && got.exists(_.Date_Acquired.toLocalDate == end) &&
        got.exists(_.Date_Acquired.toLocalDate == start)
    }
    check("model: bbox overlap is strict") {
      val m = new CatalogModel
      val s = gen.regular(0, 0)
      m.load(Seq(s))
      m.bbox(s.North_Lat + 1, s.North_Lat, s.East_Lon, s.West_Lon).isEmpty &&
        m.bbox(s.North_Lat, s.South_Lat, s.East_Lon, s.West_Lon) == Set(s.PID)
    }
    check("model: pages are newest first then by PID, without overlap") {
      val m = new CatalogModel
      m.load(gen.history(30))
      val all = (0 until 30 * SceneGen.perDay by 50).flatMap(m.page(_, 50))
      all.distinct.size == 30 * SceneGen.perDay &&
        m.rows(all.head).Date_Acquired.toLocalDate == gen.date(29)
    }
    check("model: state summary counts flags and rows") {
      val m = new CatalogModel
      val h = gen.history(30)
      m.load(h)
      m.stateSummary == Seq(h.count(_.Downloaded), h.count(_.ARDProduct), 0, h.count(_.Invalid),
        0, h.size).map(_.toLong)
    }
    check("state machine: a seeded share of attempts fails, differently per tick") {
      val pids = (0L until 2000L)
      val f0 = pids.filter(StepState.fails(gen, 1, _, 0, 10))
      val f1 = pids.filter(StepState.fails(gen, 1, _, 1, 10))
      f0.size > 120 && f0.size < 280 && f0 != f1
    }
    check("dates: day 0 moves with the seed") {
      SceneGen(0).base == LocalDate.of(2019, 1, 1) && SceneGen(1).base == LocalDate.of(2019, 1, 2)
    }

    if (failed > 0) {
      println(s"$failed check(s) failed")
      sys.exit(1)
    }
  }
}
