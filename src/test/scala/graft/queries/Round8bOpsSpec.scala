package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Hand-computed expectations for q127–q130 on adversarial
  * micro-corpora, driven through the exact SparkEntry query functions
  * the driver gate runs. The DuckDB oracles re-prove these on the
  * synthetic corpus; these pin the SEMANTICS — the sorted-neighborhood
  * window/recall contract, AUC tie handling, the edit-distance
  * threshold boundary, and incremental-view = full-recompute — where
  * the right answer is computable by hand.
  */
class Round8bOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("r8bops")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def eventsDir(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("r8bev")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  /** The query's 60-bit gram hash (first 15 hex chars of md5 as a
    * long) — independent JVM reimplementation, the SelfOracleSpec
    * device, used here to CONSTRUCT fingerprint-stable suffixes.
    */
  private def gramHash(gram: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(gram.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private def minGramFp(text: String): Long = {
    val t = text.trim.toLowerCase.split("\\s+")
    t.sliding(3).map(g => gramHash(g.mkString(" "))).min
  }

  // ---- q127 sorted neighborhood ----

  test("q127: exact-copy cluster fully paired within the window") {
    // three byte-identical docs sort adjacent on both keys -> all
    // three pairs within w=4, jac exactly 1.0
    val dir = docsDir(Seq(
      (10L, "m m m m m", "en", "s"), (11L, "m m m m m", "en", "s"),
      (12L, "m m m m m", "en", "s"), (20L, "z z z z q", "en", "s")))
    val out = q("q127_sorted_neighborhood", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSet === Set((10L, 11L, 1.0), (10L, 12L, 1.0),
      (11L, 12L, 1.0)))
  }

  test("q127: two-pass union never reports a pair twice") {
    // identical docs are adjacent in BOTH sort orders; the pair list
    // must still be distinct
    val dir = docsDir(Seq(
      (1L, "a a a a", "en", "s"), (2L, "a a a a", "en", "s")))
    val out = q("q127_sorted_neighborhood", dir).collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1)) === ((1L, 2L)))
  }

  test("q127: window-bounded recall — a same-set pair >w apart in both " +
    "orders is missed (the documented trade vs q30)") {
    // A1/A2 share the token SET (jac = 1) but reverse the SEQUENCE, so
    // A1 sorts first on the head key and last on the tail key; four
    // fillers sit strictly between them in BOTH orders, pushing the
    // pair w=4 apart twice over
    val a1 = "aa bb cc dd zz"
    val a2 = "zz dd cc bb aa"
    val fillers = Seq(
      "ee ff cc bb bb", "ff gg cc bb cc", "gg hh cc cc aa",
      "hh ii cc dd aa")
    val dir = docsDir(
      (Seq(a1) ++ fillers ++ Seq(a2)).zipWithIndex.map {
        case (t, i) => (i.toLong, t, "en", "s")
      })
    val out = q("q127_sorted_neighborhood", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.contains((0L, 5L)),
      s"A1/A2 should be outside both windows, got $out")
    // sanity: the pair IS a real near-dup the exact path would find
    val ws1 = a1.split(" ").toSet
    assert(ws1 === a2.split(" ").toSet)
  }

  test("q127: short docs (<=3 tokens) use the whole token list as both keys") {
    val dir = docsDir(Seq(
      (1L, "x y", "en", "s"), (2L, "x y", "en", "s")))
    val out = q("q127_sorted_neighborhood", dir).collect()
    assert(out.length === 1 && out.head.getDouble(2) === 1.0)
  }

  // ---- q128 classifier AUC ----

  test("q128: perfect separation scores 1.0; tied positives get half " +
    "credit against tied negatives") {
    // en docs: score 1.0 (all stopwords); de and fr: score 0.
    // en vs rest: both positives above all 4 negatives -> AUC 1.
    // de vs rest: positives tie the 2 fr negatives (half credit each),
    // sit below the 2 en negatives -> AUC = 2*(0 + 2/2) / (2*4) = 0.25
    val dir = docsDir(Seq(
      (1L, "the the the", "en", "s"), (2L, "of of of", "en", "s"),
      (3L, "x y z", "de", "s"), (4L, "u v w", "de", "s"),
      (5L, "p q r", "fr", "s"), (6L, "s t u", "fr", "s")))
    val out = q("q128_classifier_auc", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("en") === ((2L, 4L, 1.0)))
    assert(out("de") === ((2L, 4L, 0.25)))
    assert(out("fr") === ((2L, 4L, 0.25)))
  }

  test("q128: an uninformative score (all docs tie) scores 0.5 everywhere") {
    val dir = docsDir(Seq(
      (1L, "x y", "en", "s"), (2L, "p q", "de", "s"),
      (3L, "u v", "fr", "s")))
    val out = q("q128_classifier_auc", dir).collect()
    assert(out.length === 3)
    out.foreach(r => assert(r.getDouble(3) === 0.5, r.toString))
  }

  // ---- q129 edit-distance near-dup ----

  /** A suffix word whose trailing gram hashes ABOVE the base text's
    * fingerprint, so appending it provably preserves the min-gram
    * family (append only adds grams; the added gram is larger).
    */
  private def fpStableSuffix(base: String, candidates: Seq[String]): String = {
    val t = base.trim.toLowerCase.split("\\s+")
    val fp = minGramFp(base)
    candidates.find { w =>
      gramHash(s"${t(t.length - 2)} ${t.last} $w") > fp
    }.getOrElse(fail(s"no fp-stable suffix among $candidates"))
  }

  test("q129: exact copies, a small suffix edit, and an over-threshold " +
    "edit classify on the 20% boundary") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8" // 23 chars
    val small = fpStableSuffix(base, Seq("ax", "bx", "cx", "dx", "ex"))
    val bigWords = Seq.tabulate(8)(i => s"long$i")
    val big = bigWords.find { w0 =>
      // a 24-char suffix " w0 w0 w0 w0" built from one stable word:
      // appending adds grams (w7 w8 w0), (w8 w0 w0), (w0 w0 w0) — all
      // must hash above the base fingerprint to preserve the family
      val fp = minGramFp(base)
      gramHash(s"w7 w8 $w0") > fp && gramHash(s"w8 $w0 $w0") > fp &&
        gramHash(s"$w0 $w0 $w0") > fp
    }.getOrElse(fail("no stable big suffix"))
    val docB = s"$base $small"              // dist 3 vs 26-char max
    val docC = s"$base $big $big $big $big" // dist 24 vs 47-char max
    assert(minGramFp(docB) === minGramFp(base))
    assert(minGramFp(docC) === minGramFp(base))
    val dir = docsDir(Seq(
      (1L, base, "en", "s"), (2L, base, "en", "s"),
      (3L, docB, "en", "s"), (4L, docC, "en", "s")))
    val out = q("q129_editdist_neardup", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact pair at dist 0; base->B within 20% (3 <= 0.2*26); every
    // pair involving C exceeds it (24 > 0.2*47 = 9.4)
    assert(out.get((1L, 2L)) === Some(0L))
    assert(out.get((1L, 3L)) === Some((small.length + 1).toLong))
    assert(out.get((2L, 3L)) === Some((small.length + 1).toLong))
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"over-threshold doc leaked into $out")
  }

  test("q129: rel_dist is dist over the longer text") {
    val base = "aa bb cc dd ee"
    val suf = fpStableSuffix(base, Seq("zz", "zy", "zx", "zw", "zv"))
    val dir = docsDir(Seq(
      (1L, base, "en", "s"), (2L, s"$base $suf", "en", "s")))
    val out = q("q129_editdist_neardup", dir).collect()
    assert(out.length === 1)
    val mx = base.length + suf.length + 1
    assert(out.head.getDouble(3) ===
      BigDecimal((suf.length + 1).toDouble / mx)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // ---- q130 incremental materialized view ----

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  test("q130: maintained view equals full recompute; only pre-cutoff " +
    "click days count as changed") {
    val dir = eventsDir(Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L, "click", 1.00),
      (2L, ts("2024-01-05 11:00:00"), 1L, "view", 2.00),
      (3L, ts("2024-01-08 10:00:00"), 2L, "view", 4.00),
      (4L, ts("2024-01-20 10:00:00"), 2L, "click", 8.00),
      (5L, ts("2024-01-20 11:00:00"), 3L, "click", 16.00)))
    val out = q("q130_incremental_agg", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // clicks on 01-05 double (100 -> 200 cents); 01-20 clicks are past
    // the cutoff and keep 800 + 1600; exactly ONE partition changed
    assert(out("click") === ((3L, 200L + 800L + 1600L, 2L, 1L)))
    assert(out("view") === ((2L, 200L + 400L, 2L, 1L)))
  }

  test("q131: every version of the mutation history reads back exactly") {
    val dir = eventsDir(Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L, "click", 1.00),
      (2L, ts("2024-01-05 11:00:00"), 1L, "error", 2.00),
      (3L, ts("2024-01-20 10:00:00"), 2L, "click", 4.00)))
    val out = q("q131_time_travel", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("v1_loaded") === ((3L, 100L + 200L + 400L, 2L)))
    // v2: the 01-05 click doubled, error/late click untouched
    assert(out("v2_updated") === ((3L, 200L + 200L + 400L, 2L)))
    // v3: the error row deleted; its day survives via the click
    assert(out("v3_deleted") === ((2L, 200L + 400L, 2L)))
  }

  test("q132: checksum is row-order independent and flips on one edit") {
    val base = Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L, "click", 1.00),
      (2L, ts("2024-01-05 11:00:00"), 2L, "view", 2.00),
      (3L, ts("2024-01-06 10:00:00"), 3L, "click", 4.00))
    val a = q("q132_table_checksum", eventsDir(base)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = q("q132_table_checksum", eventsDir(base.reverse)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq === b.toSeq, "XOR fold must not see row order")
    // one changed value flips exactly that day's hash
    val edited = base.updated(0,
      (1L, ts("2024-01-05 10:00:00"), 1L, "click", 1.01))
    val c = q("q132_table_checksum", eventsDir(edited)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(c(0)._3 !== a(0)._3)
    assert(c(1) === a(1))
  }

  test("q133: clamp at the top bucket, hand-counted positive rates") {
    // "the the" -> score 1.0 -> bucket floor(10)=10 clamped to 9;
    // "x y the" -> 1/3 -> bucket 3; "x y" -> 0 -> bucket 0
    val dir = docsDir(Seq(
      (1L, "the the", "en", "s"), (2L, "the the", "de", "s"),
      (3L, "x y the", "en", "s"), (4L, "x y", "fr", "s")))
    val out = q("q133_calibration", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(9L) === ((2L, 1L, 0.95, 0.5)))
    assert(out(3L) === ((1L, 1L, 0.35, 1.0)))
    assert(out(0L) === ((1L, 0L, 0.05, 0.0)))
  }

  private def lineitemDir(rows: Seq[(Long, Long)]): String = {
    val dir = tempDir("r8bli")
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q134: uniform rank is a fixed point on a regular graph") {
    // triangle: every node has in-degree = out-degree = 2, so 1/3
    // stays 1/3 through every power iteration
    val dir = lineitemDir(Seq(
      (1L, 10L), (1L, 20L), (1L, 30L)))
    val out = q("q134_pagerank", dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val third = BigDecimal(1000.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Map(10L -> third, 20L -> third, 30L -> third))
  }

  test("q134: star graph concentrates rank at the hub (independent " +
    "recomputation of all three iterations)") {
    // two orders: (hub, leaf1) and (hub, leaf2) -> edges hub<->each
    // leaf; hub outdeg 2, leaves 1
    val dir = lineitemDir(Seq(
      (1L, 100L), (1L, 200L), (2L, 100L), (2L, 300L)))
    // independent reimplementation of the exact arithmetic
    var (c, l) = (1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 3) {
      val (nc, nl) = ((1 - 0.85) / 3 + 0.85 * (l + l),
        (1 - 0.85) / 3 + 0.85 * (c / 2))
      c = nc; l = nl
    }
    def r6(v: Double) = BigDecimal(v * 1000)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = q("q134_pagerank", dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(100L -> r6(c), 200L -> r6(l), 300L -> r6(l)))
    assert(out(100L) > out(200L))
  }

  private def customerDir(keys: Seq[Long]): String = {
    val dir = tempDir("r8bcu")
    keys.toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("q135: the Morton interleave puts x bits even, y bits odd") {
    // c_custkey=1 -> x=(7)%340=7 (0b111), y=1%160=1 (0b1)
    // z = spread(7) | spread(1)<<1 = 0b010101 | 0b000010 = 23
    val out = q("q135_zorder_layout", customerDir(Seq(1L))).collect()
    assert(out.length === 1)
    assert((out.head.getLong(6), out.head.getLong(7)) === ((23L, 23L)))
  }

  test("q135: z-ordered files cover tighter x AND y extents than key " +
    "order (the pruning win)") {
    val keys = (1L to 500L)
    val out = q("q135_zorder_layout", customerDir(keys)).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // the comparison baseline: the same 16-way split in custkey order
    val cells = keys.map(k => (k, (k * 7) % 340, k % 160)).sortBy(_._1)
    val naive = cells.grouped(
      (cells.length + 15) / 16).toSeq.map { g =>
      val (xs, ys) = (g.map(_._2), g.map(_._3))
      (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
    }
    val zArea = out.map(f => (f._3 - f._2 + 1) * (f._5 - f._4 + 1)).sum
    assert(zArea < naive.sum,
      s"z total cell area $zArea should beat key-order ${naive.sum}")
  }

  test("q136: single user lands in one bucket; linear-counting estimate") {
    val dir = eventsDir(Seq(
      (1L, ts("2024-01-03 10:00:00"), 42L, "click", 1.0)))
    val out = q("q136_hll_sketch", dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 1L) // n_buckets
    val lc = BigDecimal(64.0 * math.log(64.0 / 63.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(3) === lc)
    assert(out.head.getLong(4) === 1L)
  }

  test("q136: independent JVM HLL reimplementation matches every column") {
    // 300 users in 'click', 40 (a subset) in 'view' — enough mass that
    // click takes the raw-estimate branch and view the linear-counting
    // branch, covering both estimator arms
    val rows = (1L to 300L).map(u =>
      (u, ts("2024-01-03 10:00:00"), u * 17 + 3, "click", 1.0)) ++
      (1L to 40L).map(u =>
        (300 + u, ts("2024-01-04 10:00:00"), u * 17 + 3, "view", 1.0))
    val dir = eventsDir(rows)
    // reimplementation from the Flajolet definition, not the query code
    def sketch(users: Seq[Long]): (Long, Long, Double, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val regs = scala.collection.mutable.Map[Long, Long]()
      users.distinct.foreach { u =>
        val hex = md.digest(u.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        val h32 = java.lang.Long.parseLong(hex, 16)
        val (bucket, w) = (h32 % 64, h32 / 64)
        val rho = if (w == 0) 27L
          else 26L - (63 - java.lang.Long.numberOfLeadingZeros(w))
        regs(bucket) = math.max(regs.getOrElse(bucket, 0L), rho)
      }
      val nb = regs.size.toLong
      val xor = regs.map { case (b, r) => b * 100 + r }
        .foldLeft(0L)(_ ^ _)
      val ssum = regs.values.map(r => math.pow(2.0, -r.toDouble)).sum
      val v = 64.0 - nb
      val raw = 0.709 * 64 * 64 / (ssum + v)
      val est = if (v > 0 && raw <= 160.0) 64.0 * math.log(64.0 / v)
        else raw
      (nb, xor, BigDecimal(est)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        users.distinct.size.toLong)
    }
    val expected = Map(
      "click" -> sketch((1L to 300L).map(_ * 17 + 3)),
      "view" -> sketch((1L to 40L).map(_ * 17 + 3)))
    val out = q("q136_hll_sketch", dir).collect().map(r =>
      r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out === expected)
    // estimate lands within the ~13% (1.04/sqrt(64)) standard error
    assert(math.abs(out("click")._3 - 300.0) / 300.0 < 0.3)
  }

  test("q130: deterministic under re-runs (bench reps rebuild the table)") {
    val dir = eventsDir(Seq(
      (1L, ts("2024-01-03 10:00:00"), 1L, "click", 3.50),
      (2L, ts("2024-01-12 10:00:00"), 1L, "click", 5.25)))
    val first = q("q130_incremental_agg", dir).collect().toSeq
    val second = q("q130_incremental_agg", dir).collect().toSeq
    assert(first === second)
    // pre-cutoff click doubles (350 -> 700), post-cutoff stays 525
    assert(first.head.getLong(2) === 700L + 525L)
  }
}
