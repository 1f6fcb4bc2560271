package graft

import graft.Harness.Json

object Bench {
  /** What to publish for one query given its suite (median, min) and
    * steady-state reference → (published median, published min,
    * contended?). The median is substituted with the steady number
    * ONLY when the median looks contended (>3× steady) AND the
    * contention is corroborated — either this run's own suite min is
    * near steady (≤1.5× — the plan is fine, the box wasn't), or the
    * steady reference itself IS this run's post-suite solo re-measure
    * (`steadyIsThisRun`): 3 back-to-back reps of the same plan just
    * ran fast, which is stronger evidence than any single suite rep,
    * so an all-reps-contended suite row cannot leak a contended
    * median OR min into the headline sums the driver's rep planner
    * feeds on. The published MIN is a real measurement from this run
    * in every branch (the suite min, or the solo re-measure's min);
    * a genuine ≥3× plan regression moves the suite AND the solo
    * re-measure, fails both gates, and reaches the headline unmasked.
    * The substituted median is clamped to >= the published min (a
    * median strictly below its own min would be an internally
    * inconsistent artifact row). Pinned by BenchSpec.
    */
  private[graft] def publish(med: Double, mn: Double,
                             steady: Option[Double],
                             steadyIsThisRun: Boolean = false)
      : (Double, Double, Boolean) = steady match {
    case Some(st) if med > 3 * st && (mn <= 1.5 * st || steadyIsThisRun) =>
      val pmin = if (steadyIsThisRun) math.min(mn, st) else mn
      (math.max(st, pmin), pmin, true)
    case _ => (med, mn, false)
  }

  /** Wall-budget reservation for the post-suite solo re-measure
    * phase (r14 verdict item 1): the r14 32-core sitting spent its
    * whole budget in the suite (wall 1499/1500 s), the solo phase
    * never ran, and the two heavies published contended in-suite
    * medians ~2x their steady state — ~30 s of headline that was
    * measurement mode, not code. Reserve the estimated solo cost up
    * front, the same way per-rep reservation already protects the
    * suite tail: the phase re-runs drifted >1 s queries 3x
    * back-to-back, and in practice only the costliest few qualify,
    * so the reserve is 3 reps of the 8 largest >1 s estimates,
    * capped at 15% of the budget. A hot sitting now degrades a few
    * tail REPS (the cheap, already-designed path) instead of
    * silently dropping the numbers that carry the heavies' headline.
    */
  private[graft] def soloReserve(ests: Seq[Double], budget: Double): Double =
    math.min(0.15 * budget,
      ests.filter(_ > 1.0).sorted.takeRight(8).map(_ * 3).sum)

  /** One bench_progress.jsonl row — the incremental artifact's unit
    * (r13 verdict item 2: a hung query must never erase a sitting's
    * completed measurements, so every row lands on disk the moment
    * its query finishes). Pure so BenchSpec can pin the shape and the
    * failure-message escaping.
    */
  private[graft] def progressRow(name: String, median: Double,
                                 min: Double, reps: Int,
                                 elapsed: Double,
                                 failure: Option[String]): String =
    Json.line(Seq("q" -> name, "median" -> median, "min" -> min,
      "reps" -> reps, "elapsed" -> elapsed) ++
      failure.map(f => "failed" -> oneLine(f)): _*)

  /** A failure message on one line: the artifacts are read line-wise. */
  private def oneLine(msg: String): String = msg.replaceAll("[\\n\\r\\t]", " ")

  /** The sitting's one JSON line, headline metric LAST: log captures
    * keep the tail of long output, and with 250+ queries the per-query
    * map alone exceeds 2000 chars — a leading "value" would be
    * truncated away. `published` is (name, (median, min)) in board
    * order; the headline sums skip failed (negative) rows. The sum of
    * per-query minima is the cost of the plan; the median is the cost
    * of the box that day. Both are reported.
    */
  private[graft] def resultLine(published: Seq[(String, (Double, Double))],
      solo: Seq[(String, Double)], soloPrev: Seq[(String, Double)],
      soloSkipped: Seq[String], soloReserveSec: Double,
      contended: Seq[(String, Double)], suiteSlow: Seq[(String, Double)],
      failed: Seq[(String, String)], skipped: Seq[String], sf: String,
      budget: Double, wall: Double, degraded: Int): String =
    Json.line("queries" -> Json.obj(published.map { case (k, (med, _)) =>
        k -> med }),
      "solo" -> Json.obj(solo), "solo_prev" -> Json.obj(soloPrev),
      "solo_skipped" -> Json.arr(soloSkipped),
      "solo_reserve_sec" -> soloReserveSec,
      "contended" -> Json.obj(contended), "suite_slow" -> Json.obj(suiteSlow),
      "failed" -> Json.obj(failed.map { case (k, v) => k -> oneLine(v) }),
      "skipped" -> Json.arr(skipped), "sf" -> sf, "budget_sec" -> budget,
      "wall_sec" -> wall, "degraded_reps" -> degraded,
      "value_min_sum" -> published.map(_._2._2).filter(_ >= 0).sum,
      "metric" -> "total", "value" -> published.map(_._2._1).filter(_ >= 0).sum,
      "unit" -> "sec")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Wall budget for the WHOLE run (suite + solo), in seconds. The
    // round-9 driver bench timed out (rc=124) running a flat 5 reps
    // over 253 queries plus an uncapped solo ledger; a budget that
    // plans rep counts against per-query cost estimates keeps the
    // artifact inside the driver's wall clock no matter how many
    // queries the board grows to.
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500")
      .toDouble
    // Flat rep-count override (dev use); default is cost-tiered.
    val flatReps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt)
    // Dev-sitting skip list (comma-separated name prefixes) for the
    // chunked big-SF sittings: a query whose cost at the target SF is
    // hours (the by-design quadratic verification arms) is measured
    // in its OWN sitting instead of stalling this one. NEVER silent:
    // skipped names ship in the artifact's `skipped` list, so a
    // sitting that excluded anything is self-describing.
    val skip: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .flatMap(Harness.prefixes).getOrElse(Set.empty)
    // Dev-sitting ONLY list (comma-separated name prefixes): the dual
    // of SKIP, for the complement sittings — e.g. re-measuring exactly
    // the 81 queries a bounded board excluded without enumerating the
    // other 213 as skips. A query runs iff it matches ONLY (when set)
    // and does not match SKIP; everything not run ships in `skipped`.
    val onlySel: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .flatMap(Harness.prefixes)
    val spark = Harness.session()
    // Neutral warmup: first job in a fresh session pays ~4s of codegen/
    // reader initialization that would otherwise be attributed to
    // whichever query happens to run first.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // One timed rep, in seconds: the query's build and its `.count()`
    // in one staging scope ([[Harness.scoped]]), whose blocks are
    // freed after the clock stops. A leak goes into the query's
    // `failed` entry; its timing still counts.
    def timed(name: String): Double = {
      val (secs, leaked) = Harness.scoped(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      if (leaked.nonEmpty)
        failures.getOrElseUpdate(name, Harness.leakMessage(leaked))
      secs
    }
    // Read BEFORE this round's bench_full.json write, so the file still
    // holds last round's ledger. The medians seed the per-query cost
    // ESTIMATES that the wall budget plans with; the solo map is
    // re-emitted as `solo_prev` so a phantom regression (box contention
    // vs plan change) is visible in the artifact itself.
    val (prevMed, prevSolo) = Harness.prevBoard()
    // Cost estimate per query: last round's suite median, else its
    // solo number, else 2 s. The never-seen default is deliberately
    // PESSIMISTIC: round 11's first sitting estimated 5 new queries
    // at 0.5 s each while they cost ~37 s together (streaming gates),
    // and the under-reserved tail pushed the wall 6.8 s past budget;
    // a high guess only costs a cheap new query some reps (tier 3
    // instead of 5) for its first sitting, after which the recorded
    // median takes over.
    def est(name: String): Double =
      prevMed.get(name).orElse(prevSolo.get(name)).filter(_ > 0)
        .getOrElse(2.0)
    // Rep tiers by estimated cost: medians of 5 keep sub-second
    // queries robust to two contended reps (their spread dominates
    // round-over-round noise); 1-5 s queries get 3; heavies get 2 —
    // their steady state comes from the solo ledger, not the suite.
    def tier(e: Double): Int =
      if (e < 1.0) 5 else if (e < 5.0) 3 else 2
    val all = SparkEntry.queries.keys.toSeq.sorted
    val (names, skipped) = Harness.selectNames(all, skip, onlySel)
    val wall0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - wall0) / 1e9
    // Budget invariant: before query i runs, reserve one rep's
    // estimated cost for every query after it; if the planned reps
    // don't fit in what's left, degrade (possibly to 1). Every query
    // always gets at least one rep, so the artifact is complete even
    // when estimates undershoot.
    val estTail = names.scanRight(0.0)((n, acc) => acc + est(n))
    // solo-phase reservation (r14 verdict item 1; see soloReserve)
    val soloReserveSec = Bench.soloReserve(names.map(est), budget)
    var degraded = 0
    // Incremental artifact (round-13 lesson: the sf10 sitting that
    // deadlocked inside q293 erased 2 h of completed measurements
    // because the artifact was only written at loop end). Every
    // query APPENDS its row here the moment it completes, fsync'd
    // per line, so a hung or killed sitting still leaves every
    // finished number on disk.
    val progressPath = java.nio.file.Paths.get("bench_progress.jsonl")
    try java.nio.file.Files.deleteIfExists(progressPath)
    catch { case _: Throwable => }
    def logProgress(row: String): Unit =
      try java.nio.file.Files.writeString(progressPath, row + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[bench] progress write failed: $e") }
    val results = names.zipWithIndex.map { case (name, i) =>
      val e = est(name)
      val planned = flatReps.getOrElse(tier(e))
      val room = budget - soloReserveSec - elapsed() - estTail(i + 1)
      val reps = math.max(1, math.min(planned,
        if (e <= 0) planned else math.floor(room / e).toInt))
      if (reps < planned) degraded += 1
      val times = (1 to reps).flatMap { _ =>
        try Some(timed(name)) catch { case ex: Throwable =>
          failures.getOrElseUpdate(name,
            s"${ex.getClass.getSimpleName}: ${Option(ex.getMessage).getOrElse("").take(200)}")
          // a dead context fails every remaining query vacuously —
          // abort LOUDLY; bench_progress.jsonl already holds every
          // completed row, so the sitting is partial, not poisoned
          if (spark.sparkContext.isStopped) {
            logProgress(progressRow(name, -1.0, -1.0, 0, elapsed(),
              failures.get(name)))
            System.err.println(s"[bench] SparkContext DIED during " +
              s"$name — aborting the sitting; completed rows are in " +
              "bench_progress.jsonl")
            sys.exit(2)
          }
          None
        }
      }
      val row = if (times.isEmpty) (-1.0, -1.0)
        else (median(times), times.min)
      logProgress(progressRow(name, row._1, row._2, times.size,
        elapsed(), failures.get(name)))
      name -> row
    }
    // Solo steady-state re-measure AFTER the suite, budget-gated and
    // deviation-gated: a heavy query's in-suite median rides whatever
    // the box and the suite's own JVM churn were doing that minute
    // (±40% observed). Re-run back-to-back and keep the min — but
    // only for queries that NEED it: >1 s queries with no prior solo
    // number, or whose suite median drifted >1.5x from solo_prev
    // (the uncapped every->1s ledger is what blew the round-9 driver
    // wall). Worst drift first so a budget cut drops the least
    // informative entries.
    // drift reference: last round's solo number, else its suite
    // median — a heavy whose median is stable round-over-round needs
    // no solo re-measure even if it was never solo'd (without the
    // median fallback the stream-stream heavies re-soloed every
    // sitting and ate ~150 s of budget for numbers that never moved)
    def steadyRef(n: String): Option[Double] =
      prevSolo.get(n).filter(_ > 0).orElse(prevMed.get(n).filter(_ > 0))
    val soloCandidates = results
      .filter { case (n, (med, _)) =>
        med > 1.0 && steadyRef(n).forall(p => med > 1.5 * p) }
      .sortBy { case (n, (med, _)) =>
        -steadyRef(n).map(med / _).getOrElse(med) }
    // candidates the budget could not accommodate, shipped in the
    // artifact so a skipped solo phase is explicit, never silent
    // (r14 verdict item 2 — the reservation above should make this
    // list empty in a full-budget sitting)
    val soloSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val solo = soloCandidates.flatMap { case (name, (med, _)) =>
      if (elapsed() + 3 * med > budget) { soloSkipped += name; None }
      else {
        val times = (1 to 3).flatMap { _ =>
          try Some(timed(name)) catch { case _: Throwable => None }
        }
        val v = if (times.isEmpty) -1.0 else times.min
        logProgress(Json.line("q" -> name, "solo" -> v, "elapsed" -> elapsed()))
        Some(name -> v)
      }
    }
    val soloMap = solo.toMap
    // Don't ship contention outliers (round-9 verdict item 3): when a
    // query's suite median is >3x its solo steady state (this run's
    // re-measure, else last round's ledger) AND this run's own MIN
    // corroborates contention (min near steady — the plan is fine,
    // the box wasn't), publish the steady number as the median and
    // record the outlier in `contended`. The published MIN is always
    // this run's real min: a genuine >=3x plan regression moves BOTH
    // median and min, fails the min gate, and lands in the headline
    // unmasked instead of surviving only in the side map.
    val contended = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Rows where the suite MIN was also >3x steady (every rep slow,
    // not one contended rep): the steadyIsThisRun substitution still
    // publishes the solo number, but systematic suite-context
    // slowness (cold cache / memory pressure from interleaved
    // queries) is a real workload effect — ship the raw suite min in
    // `suite_slow` so the artifact distinguishes all-reps-slow from
    // single-rep contention instead of silently biasing the headline
    // toward warm back-to-back solo numbers.
    val suiteSlow = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val published = results.map { case (name, (med, mn)) =>
      val thisRun = soloMap.get(name).filter(_ > 0)
      val steady = thisRun.orElse(prevSolo.get(name).filter(_ > 0))
      Bench.publish(med, mn, steady, thisRun.isDefined) match {
        case (pm, pmin, true) =>
          contended(name) = med
          if (steady.exists(st => mn > 3 * st)) suiteSlow(name) = mn
          name -> ((pm, pmin))
        case (pm, pmin, false) => name -> ((pm, pmin))
      }
    }
    val line = resultLine(published, solo,
      solo.flatMap { case (k, _) => prevSolo.get(k).map(k -> _) },
      soloSkipped.toSeq, soloReserveSec, contended.toSeq, suiteSlow.toSeq,
      failures.toSeq, skipped, sfDir, budget, elapsed(), degraded)
    println(line)
    // Persist the COMPLETE line to a file the driver copies whole —
    // round-over-round comparisons should not depend on what survives
    // a ~2 KB tail capture.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_full.json write failed: $e") }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    }
  }
}
