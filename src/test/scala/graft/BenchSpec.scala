package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's contended-median substitution (round-10 ADVICE): the
  * published MIN is always this run's real min, and the median is
  * substituted only when the min corroborates contention — a genuine
  * ≥3× plan regression must reach the headline, not survive only in
  * the contended side map.
  */
class BenchSpec extends AnyFunSuite {

  test("no steady reference: published as measured") {
    assert(Bench.publish(4.0, 3.5, None) === ((4.0, 3.5, false)))
  }

  test("steady + clean run: published as measured") {
    assert(Bench.publish(1.2, 1.0, Some(1.0)) === ((1.2, 1.0, false)))
  }

  test("contended median with corroborating min: median substituted, " +
    "real min kept, annotated") {
    // median 9 s vs steady 1 s, but min 1.1 s — the box, not the plan;
    // the substituted median clamps to >= the published min so the
    // artifact row stays internally consistent (median >= min always)
    assert(Bench.publish(9.0, 1.1, Some(1.0)) === ((1.1, 1.1, true)))
    assert(Bench.publish(9.0, 0.8, Some(1.0)) === ((1.0, 0.8, true)))
  }

  test("genuine regression (median AND min up): published unmasked") {
    // both 4× the steady reference — a plan change, not contention;
    // the old behavior would have erased this from the headline
    assert(Bench.publish(4.0, 4.0, Some(1.0)) === ((4.0, 4.0, false)))
    // min just over the 1.5× corroboration bound also publishes raw
    assert(Bench.publish(9.0, 1.6, Some(1.0)) === ((9.0, 1.6, false)))
  }

  test("this-run solo re-measure is authoritative: an all-reps-" +
    "contended suite row substitutes BOTH median and min (r12 " +
    "verdict item 7)") {
    // every suite rep contended (min 6.4 vs solo steady 1.7 — the
    // q58 shape): the post-suite 3-rep solo just re-proved the plan,
    // so neither the contended median nor the contended min may
    // reach the headline sums the next round's rep planner reads
    assert(Bench.publish(6.4, 6.4, Some(1.7), steadyIsThisRun = true)
      === ((1.7, 1.7, true)))
    // the same numbers against only LAST round's ledger stay raw —
    // nothing this run corroborates the contention claim
    assert(Bench.publish(6.4, 6.4, Some(1.7)) === ((6.4, 6.4, false)))
    // a genuine regression moves the solo re-measure too (steady is
    // this run's re-run of the SAME slow plan): med <= 3*st, raw
    assert(Bench.publish(6.4, 6.0, Some(5.9), steadyIsThisRun = true)
      === ((6.4, 6.0, false)))
    // suite min in (st, 1.5st]: publish the better real measurement
    assert(Bench.publish(9.0, 2.2, Some(1.7), steadyIsThisRun = true)
      === ((1.7, 1.7, true)))
  }

  test("incremental progress rows (r13 verdict item 2): valid " +
    "single-line JSON per completed query, failure messages escaped") {
    val ok = Bench.progressRow("q95_streaming_rollup", 3.5, 3.1, 2,
      120.25, None)
    assert(ok == """{"q":"q95_streaming_rollup","median":3.5,""" +
      """"min":3.1,"reps":2,"elapsed":120.25}""")
    // a failure message with quotes, backslashes and newlines must
    // stay one parseable JSON line (the artifact is read line-wise
    // after a killed sitting)
    val bad = Bench.progressRow("q293_x", -1.0, -1.0, 0, 7.0,
      Some("IOException: path \"a\\b\"\nline2\ttab"))
    assert(!bad.contains("\n") && !bad.contains("\t"))
    assert(bad.contains("\"failed\":\"IOException: "))
    // round-trips through a strict JSON parser
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n1 = mapper.readTree(ok)
    assert(n1.get("q").asText() == "q95_streaming_rollup" &&
      n1.get("median").asDouble() == 3.5)
    val n2 = mapper.readTree(bad)
    assert(n2.get("failed").asText().startsWith("IOException"))
  }

  test("sitting selection: SKIP and ONLY are exact complements, " +
    "SKIP wins on conflict, order preserved") {
    val all = Seq("q01_a", "q02_b", "q100_c", "q10_d")
    // no filters: everything runs
    assert(Harness.selectNames(all, Set.empty, None) ===
      ((all, Seq.empty)))
    // prefix semantics: "q10" skips q100_c AND q10_d
    assert(Harness.selectNames(all, Set("q10"), None) ===
      ((Seq("q01_a", "q02_b"), Seq("q100_c", "q10_d"))))
    // the complement sitting: ONLY the names the first one skipped —
    // together the two sittings cover every query exactly once
    assert(Harness.selectNames(all, Set.empty, Some(Set("q10"))) ===
      ((Seq("q100_c", "q10_d"), Seq("q01_a", "q02_b"))))
    // SKIP beats ONLY when both match (a quadratic arm stays out of
    // the complement sitting even though ONLY names its family)
    assert(Harness.selectNames(all, Set("q100"), Some(Set("q10"))) ===
      ((Seq("q10_d"), Seq("q01_a", "q02_b", "q100_c"))))
    // empty ONLY set is "not set", not "run nothing"
    assert(Harness.selectNames(all, Set.empty, None)._1 === all)
  }

  test("solo-phase reservation (r14 verdict item 1): 3 reps of the 8 " +
    "largest >1 s estimates, capped at 15% of budget") {
    // nothing over 1 s → nothing to re-measure → no reservation
    assert(Bench.soloReserve(Seq(0.2, 0.9, 1.0), 1500.0) === 0.0)
    // a handful of heavies: 3 reps each
    assert(Bench.soloReserve(Seq(0.5, 2.0, 10.0), 1500.0) === 36.0)
    // only the 8 largest count (the phase itself is budget-gated, so
    // the reserve covers the worst drifters, not every mid-tier query)
    val many = Seq.fill(20)(2.0) ++ Seq(10.0, 20.0)
    assert(Bench.soloReserve(many, 1500.0) ===
      3 * (10.0 + 20.0 + 6 * 2.0))
    // the 15% cap keeps a heavy-tailed board from starving the suite
    assert(Bench.soloReserve(Seq.fill(8)(100.0), 1500.0) === 225.0)
  }

  test("every string is escaped: a control character in a failure " +
    "message or a quote or backslash in the sf dir keeps the progress " +
    "row and the bench line valid JSON") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val msg = "IllegalStateException: bad \u0001 byte"
    val row = Bench.progressRow("q01_a", -1.0, -1.0, 0, 1.5, Some(msg))
    assert(mapper.readTree(row).get("failed").asText() === msg)
    val sf = "/data/sf \"0.1\" \\ copy"
    val line = Bench.resultLine(Seq("q01_a" -> ((-1.0, -1.0))), Nil, Nil,
      Nil, 0.0, Nil, Nil, Seq("q01_a" -> msg), Nil, sf, 1500.0, 2.0, 0)
    val n = mapper.readTree(line)
    assert(n.get("sf").asText() === sf)
    assert(n.get("failed").get("q01_a").asText() === msg)
  }

  /** The bench line as it was built by hand before the shared codec —
    * the reference the codec's output must equal byte for byte.
    */
  private def handBuiltLine(published: Seq[(String, (Double, Double))],
      solo: Seq[(String, Double)], soloPrev: Seq[(String, Double)],
      soloSkipped: Seq[String], soloReserveSec: Double,
      contended: Seq[(String, Double)], suiteSlow: Seq[(String, Double)],
      failures: Seq[(String, String)], skipped: Seq[String], sfDir: String,
      budget: Double, wall: Double, degraded: Int): String = {
    def js(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = js(published.map { case (k, (med, _)) => k -> med })
    val failedJs = failures.map { case (k, v) =>
      s"\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = published.map(_._2._1).filter(_ >= 0).sum
    val totalMin = published.map(_._2._2).filter(_ >= 0).sum
    val skippedJs = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val soloSkippedJs = soloSkipped.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    s"""{"queries":$qs,"solo":${js(solo)},"solo_prev":${js(soloPrev)},"solo_skipped":$soloSkippedJs,"solo_reserve_sec":$soloReserveSec,"contended":${js(contended)},"suite_slow":${js(suiteSlow)},"failed":$failedJs,"skipped":$skippedJs,"sf":"$sfDir","budget_sec":$budget,"wall_sec":$wall,"degraded_reps":$degraded,"value_min_sum":$totalMin,"metric":"total","value":$total,"unit":"sec"}"""
  }

  test("the codec's bench line equals the hand-built line byte for byte: " +
    "same keys, same order, doubles as Double.toString, headline last") {
    val published = Seq("q01_a" -> ((0.682584021, 0.61)),
      "q02_b" -> ((-1.0, -1.0)), "q100_c" -> ((12.5, 1.0e-4)),
      "q10_d" -> ((4.468389757000001, 3.0e7)))
    val args = (published, Seq("q100_c" -> 1.25, "q10_d" -> -1.0),
      Seq("q100_c" -> 2.0), Seq("q293_x"), 225.0,
      Seq("q100_c" -> 40.0), Seq("q100_c" -> 9.5),
      Seq("q02_b" -> "IOException: path \"a\\b\"\nline2\ttab"),
      Seq("q9_skip", "q8_skip"), "/data/sf0.1", 1500.0, 812.3456, 3)
    assert((Bench.resultLine _).tupled(args) ===
      (handBuiltLine _).tupled(args))
    val empty = (Seq.empty[(String, (Double, Double))], Nil, Nil, Nil, 0.0,
      Nil, Nil, Nil, Nil, "sf", 1500.0, 0.5, 0)
    assert((Bench.resultLine _).tupled(empty) ===
      (handBuiltLine _).tupled(empty))
    val keys = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree((Bench.resultLine _).tupled(args)).fieldNames()
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(keys).asScala
      .toSeq.last === "unit")
  }
}
