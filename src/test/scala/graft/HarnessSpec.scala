package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The entry points' shared core: the session settings every main runs
  * with, and the previous-board reader that seeds Bench's cost
  * estimates and Verify's cheapest-first order.
  */
class HarnessSpec extends AnyFunSuite {

  test("session settings: local[N], N shuffle partitions, UTC, no " +
    "serialization debugger, UI off, log WARN; N defaults to 32") {
    def expected(n: String) = Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.serializer.extraDebugInfo" -> "false",
      "spark.ui.enabled" -> "false")
    assert(Harness.settings(Some("8")) === expected("8"))
    assert(Harness.settings(None) === expected("32"))
    assert(Harness.logLevel === "WARN")
  }

  test("name selection: prefix lists drop blanks, an empty list is unset") {
    assert(Harness.prefixes(" q01, ,q1 ") === Some(Set("q01", "q1")))
    assert(Harness.prefixes(" , ") === None)
  }

  /** [[Harness.prevBoard]] over a temp dir holding `files`. */
  private def board(files: (String, String)*) = {
    val d = Files.createTempDirectory("graft-harness")
    files.foreach { case (n, body) => Files.writeString(d.resolve(n), body) }
    try Harness.prevBoard(d.toString)
    finally graft.sources.CowTable.walkDelete(d)
  }

  private val none = (Map.empty[String, Double], Map.empty[String, Double])

  test("previous board: bench_full.json wins over the BENCH_r files") {
    assert(board(
      "bench_full.json" ->
        """{"queries":{"q01":0.5,"q02":-1.0},"solo":{"q02":7.25},"value":1}""",
      "BENCH_r15.json" -> """{"parsed":{"queries":{"q01":9.0}}}""") ===
      ((Map("q01" -> 0.5, "q02" -> -1.0), Map("q02" -> 7.25))))
  }

  test("previous board: without bench_full.json the newest BENCH_r " +
    "file's parsed object is read") {
    assert(board(
      "BENCH_r14.json" ->
        """{"n":14,"tail":"…","parsed":{"queries":{"q01":1.0},"solo":{}}}""",
      "BENCH_r15.json" ->
        """{"n":15,"tail":"…","parsed":{"queries":{"q01":2.0},"solo":{"q09":3.0}}}""",
      "BENCH_r15_c8.json" -> """{"parsed":{"queries":{"q01":8.0}}}""") ===
      ((Map("q01" -> 2.0), Map("q09" -> 3.0))))
  }

  test("previous board: a BENCH_r file with parsed null gives empty maps") {
    assert(board("BENCH_r13.json" ->
      """{"n":13,"tail":"{\"queries\":{\"q01\":1.0}}","parsed":null}""") ===
      none)
  }

  test("previous board: malformed files give empty maps, never throw") {
    assert(board("bench_full.json" -> """{"queries":{"q01":0.5""",
      "BENCH_r15.json" -> "not json") === none)
    assert(board() === none)
  }
}
