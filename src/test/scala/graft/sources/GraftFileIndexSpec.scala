package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[GraftFileIndex.eval]]'s TYPE-GUARDED three-valued logic —
  * pure expression-level tests (no Spark session): pruning decisions
  * must be provably sound per literal dataType, and a unit mismatch
  * must degrade to Unknown (kept), never to a wrong prune.
  */
class GraftFileIndexSpec extends AnyFunSuite {
  import GraftFileIndex._

  private def attr(n: String, dt: DataType) = AttributeReference(n, dt)()

  /** Runs `body` on a fresh temp dir, deleted with its contents after. */
  private def withTempDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally CowTable.walkDelete(dir)
  }

  test("timestamp literal vs a plain-long zone map NEVER prunes " +
    "(the round-11 seconds-vs-micros hazard, closed)") {
    // a dir whose bounds were recorded in SECONDS (kind defaults to
    // "long" — exactly what a pre-upgrade manifest would hold)
    val d = ScanDir("p", Map.empty,
      ranges = Map("ts" -> (1704153600L, 1704240000L)))
    // a pushed TimestampType literal inside the dir — in MICROS it is
    // 10^6 larger than the recorded bounds, so a unit-blind compare
    // would declare the dir disjoint and silently drop its rows
    val inside = Literal(1704196800L * 1000000L, TimestampType)
    assert(eval(GreaterThanOrEqual(attr("ts", TimestampType), inside), d)
      == Unknown)
    assert(eval(EqualTo(attr("ts", TimestampType), inside), d) == Unknown)
    // even a wildly disjoint micros literal stays Unknown: with the
    // units mismatched the comparison is meaningless either way
    assert(eval(LessThan(attr("ts", TimestampType),
      Literal(1L, TimestampType)), d) == Unknown)
  }

  test("micros-kind zone map prunes timestamp literals by interval " +
    "disjointness; integral literals never touch it") {
    val lo = 1704153600L * 1000000L
    val hi = 1704240000L * 1000000L
    val d = ScanDir("p", Map.empty, ranges = Map("ts" -> (lo, hi)),
      kinds = Map("ts" -> "micros"))
    val below = Literal(lo - 1L, TimestampType)
    val inside = Literal(lo + 5L, TimestampType)
    // ts >= (above the max) → disjoint → prune
    assert(eval(GreaterThan(attr("ts", TimestampType),
      Literal(hi, TimestampType)), d) == False)
    assert(eval(LessThan(attr("ts", TimestampType), below), d) == False)
    assert(eval(EqualTo(attr("ts", TimestampType), inside), d) == Unknown)
    // a plain LongType literal against a micros-kind map: mismatch →
    // Unknown (a long column and a timestamp column can't be the
    // same column, but the guard must not trust that)
    assert(eval(EqualTo(attr("ts", LongType), Literal(1L, LongType)), d)
      == Unknown)
  }

  test("days-kind zone map prunes DateType literals") {
    val mar1 = java.time.LocalDate.of(2020, 3, 1).toEpochDay
    val mar31 = java.time.LocalDate.of(2020, 3, 31).toEpochDay
    val d = ScanDir("p", Map.empty,
      ranges = Map("d" -> (mar1, mar31)), kinds = Map("d" -> "days"))
    val july = Literal(
      java.time.LocalDate.of(2020, 7, 4).toEpochDay.toInt, DateType)
    val inMarch = Literal(
      java.time.LocalDate.of(2020, 3, 15).toEpochDay.toInt, DateType)
    assert(eval(EqualTo(attr("d", DateType), july), d) == False)
    assert(eval(GreaterThanOrEqual(attr("d", DateType), july), d) == False)
    assert(eval(LessThanOrEqual(attr("d", DateType), inMarch), d)
      == Unknown)
  }

  test("double zone maps prune double/float literals; NaN never prunes") {
    val d = ScanDir("p", Map.empty, Map.empty,
      dranges = Map("lat" -> (10.0, 19.9)))
    assert(eval(GreaterThanOrEqual(attr("lat", DoubleType),
      Literal(30.0, DoubleType)), d) == False)
    assert(eval(LessThan(attr("lat", DoubleType),
      Literal(5.0, DoubleType)), d) == False)
    assert(eval(LessThanOrEqual(attr("lat", DoubleType),
      Literal(15.0, DoubleType)), d) == Unknown)
    // float literals compare through exact double widening
    assert(eval(EqualTo(attr("lat", FloatType),
      Literal(50.0f, FloatType)), d) == False)
    // NaN on the literal side: never a pruning decision
    assert(eval(EqualTo(attr("lat", DoubleType),
      Literal(Double.NaN, DoubleType)), d) == Unknown)
    // a 4-way bbox conjunction prunes when ANY conjunct is False
    val dir2 = ScanDir("p", Map.empty, Map.empty,
      dranges = Map("lat" -> (10.0, 19.9), "lon" -> (-120.0, -60.1)))
    val bbox = And(
      And(GreaterThanOrEqual(attr("lat", DoubleType),
        Literal(5.0, DoubleType)),
        LessThanOrEqual(attr("lat", DoubleType),
          Literal(25.0, DoubleType))),
      And(GreaterThanOrEqual(attr("lon", DoubleType),
        Literal(-30.0, DoubleType)),
        LessThanOrEqual(attr("lon", DoubleType),
          Literal(-10.0, DoubleType))))
    assert(eval(bbox, dir2) == False) // lon bands disjoint
  }

  test("DateType literal compares against an exactly-known ISO date " +
    "partition value (days render to the ISO string, zone-free)") {
    val d = ScanDir("p", Map("d" -> "1996-03-04"), Map.empty)
    val mar4 = Literal(
      java.time.LocalDate.of(1996, 3, 4).toEpochDay.toInt, DateType)
    val jan1 = Literal(
      java.time.LocalDate.of(1996, 1, 1).toEpochDay.toInt, DateType)
    assert(eval(EqualTo(attr("d", DateType), mar4), d) == True)
    assert(eval(EqualTo(attr("d", DateType), jan1), d) == False)
    assert(eval(GreaterThanOrEqual(attr("d", DateType), jan1), d) == True)
    assert(eval(LessThan(attr("d", DateType), jan1), d) == False)
  }

  test("non-ASCII exact values: ordering comparisons stay Unknown, " +
    "equality still decides (r11 ADVICE)") {
    // U+10400 is a supplementary character — Java UTF-16 order and
    // Spark UTF-8 byte order DISAGREE around it
    val v = "a" + new String(Character.toChars(0x10400))
    val d = ScanDir("p", Map("k" -> v), Map.empty)
    val lit = Literal(UTF8String.fromString("z"), StringType)
    assert(eval(LessThan(attr("k", StringType), lit), d) == Unknown)
    assert(eval(GreaterThan(attr("k", StringType), lit), d) == Unknown)
    // byte equality and code-unit equality coincide: '=' decides
    assert(eval(EqualTo(attr("k", StringType),
      Literal(UTF8String.fromString(v), StringType)), d) == True)
    assert(eval(EqualTo(attr("k", StringType), lit), d) == False)
  }

  test("bloom sidecar eval: EQUALITY prunes on definite absence, " +
    "keeps on maybe; ranges, unsupported literal types, and missing " +
    "sidecars stay Unknown") {
    withTempDir("gfi_bloom") { dir =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 4096L)
      Seq("42", "hello").foreach(v =>
        bf.putBinary(v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val side = dir.resolve("_bloom_k.bf")
      val out = java.nio.file.Files.newOutputStream(side)
      try bf.writeTo(out) finally out.close()
      val d = ScanDir("p", Map.empty, Map.empty,
        blooms = Map("k" -> side.toString))
      // integral literal probes its decimal render
      assert(eval(EqualTo(attr("k", LongType), Literal(42L, LongType)), d)
        == Unknown) // maybe present — never a prune
      assert(eval(EqualTo(attr("k", LongType), Literal(43L, LongType)), d)
        == False) // definitely absent
      // string literal probes itself; null-safe equality routes the same
      val hello = Literal(UTF8String.fromString("hello"), StringType)
      val nope = Literal(UTF8String.fromString("nope"), StringType)
      assert(eval(EqualTo(attr("k", StringType), hello), d) == Unknown)
      assert(eval(EqualNullSafe(attr("k", StringType), nope), d) == False)
      // IN decomposes per element: one maybe keeps the dir
      assert(eval(In(attr("k", LongType),
        Seq(Literal(43L, LongType), Literal(42L, LongType))), d) == Unknown)
      assert(eval(In(attr("k", LongType),
        Seq(Literal(43L, LongType), Literal(44L, LongType))), d) == False)
      // ranges never consult the bloom
      assert(eval(LessThan(attr("k", LongType), Literal(43L, LongType)), d)
        == Unknown)
      // a double literal has no canonical byte render — not modeled
      assert(eval(EqualTo(attr("k", DoubleType),
        Literal(42.0, DoubleType)), d) == Unknown)
      // missing sidecar file: conservative keep
      val dMissing = ScanDir("p", Map.empty, Map.empty,
        blooms = Map("k" -> dir.resolve("absent.bf").toString))
      assert(eval(EqualTo(attr("k", LongType), Literal(43L, LongType)),
        dMissing) == Unknown)
    }
  }

  test("bloom cache invalidation on out-of-band restore: a sidecar " +
    "REWRITTEN AT THE SAME PATH (table deleted and recreated / " +
    "restored) misses the (path, size, mtime) cache and reloads — a " +
    "stale cached filter would wrongly prune the restored key") {
    withTempDir("gfi_bloom_inv") { dir =>
      val side = dir.resolve("_bloom_k.bf")
      def writeFilter(keys: Seq[String]): Unit = {
        val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 4096L)
        keys.foreach(v =>
          bf.putBinary(v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val out = java.nio.file.Files.newOutputStream(side)
        try bf.writeTo(out) finally out.close()
      }
      writeFilter(Seq("1"))
      val d = ScanDir("p", Map.empty, Map.empty,
        blooms = Map("k" -> side.toString))
      // prime the cache: 7 definitely absent under the original filter
      assert(eval(EqualTo(attr("k", LongType), Literal(7L, LongType)), d)
        == False)
      // out-of-band restore: same path, new content CONTAINING 7 —
      // bump mtime explicitly (same-millisecond rewrites are the
      // adversarial case a wall-clock test can't rely on dodging)
      writeFilter(Seq("7"))
      val attrs = java.nio.file.Files.readAttributes(side,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      java.nio.file.Files.setLastModifiedTime(side,
        java.nio.file.attribute.FileTime.fromMillis(
          attrs.lastModifiedTime().toMillis + 2000))
      // the restored filter must be consulted: 7 is now maybe-present
      assert(eval(EqualTo(attr("k", LongType), Literal(7L, LongType)), d)
        == Unknown)
      // and the old key is now definitely absent under the new filter
      assert(eval(EqualTo(attr("k", LongType), Literal(1L, LongType)), d)
        == False)
    }
  }

  test("shared listing pool really runs up to 32 tasks CONCURRENTLY " +
    "(r13 advice: core=0 over an unbounded queue silently serialized " +
    "the parallel listing path to one thread)") {
    import java.util.concurrent.{Callable, CyclicBarrier, TimeUnit}
    // 8 tasks that each wait at a shared barrier: they can only ALL
    // finish if 8 pool threads run at once — a serialized pool parks
    // task 1 at the barrier forever and this times out loudly
    val barrier = new CyclicBarrier(8)
    val fs = (1 to 8).map { _ =>
      GraftFileIndex.listPool.submit(new Callable[Unit] {
        override def call(): Unit = {
          barrier.await(20, TimeUnit.SECONDS); ()
        }
      })
    }
    fs.foreach(_.get(30, TimeUnit.SECONDS))
  }
}
