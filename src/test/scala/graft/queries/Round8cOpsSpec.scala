package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Hand-computed expectations for q137–q140 on adversarial
  * micro-fixtures, driven through the exact SparkEntry query functions
  * the driver gate runs: the CMS no-underestimate guarantee, triangle
  * counts on constructed graphs (within-order K4 and a triangle whose
  * three edges come from three different orders), skyline dominance
  * edge cases (duplicate frontier points, equal-price domination), and
  * the BPE encode merge chain traced by hand.
  */
class Round8cOpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  private def eventsDir(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("r8cev")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def lineitemDir(rows: Seq[(Long, Long)]): String = {
    val dir = tempDir("r8cli")
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def partDir(rows: Seq[(Long, Double, Int)]): String = {
    val dir = tempDir("r8cpt")
    rows.toDF("p_partkey", "p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("r8cdoc")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** The queries' 60-bit gram hash (first 15 hex chars of md5 as a
    * long) — independent JVM reimplementation (the SelfOracleSpec
    * device), used to hand-compute q155's winnowing selection.
    */
  private def gramHash(gram: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(gram.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  // ---- q137 count-min sketch ----

  test("q137: single-key stream estimates exactly (no collisions possible)") {
    val dir = eventsDir((1L to 7L).map(i => (i, t0, 42L, "view", 1.0)))
    val out = q("q137_countmin_sketch", dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 42L)
    assert(out.head.getLong(1) === 7L) // exact
    assert(out.head.getLong(2) === 7L) // cms estimate
    assert(out.head.getLong(3) === 0L) // overestimate
  }

  test("q137: estimates NEVER underestimate, heaviest key probes first") {
    // 200 distinct users over 64 columns forces collisions in every
    // hash row; the CMS guarantee is one-sided: est >= exact, always
    val rows = (1L to 200L).flatMap { u =>
      val n = if (u == 7L) 50L else 1L + (u % 3)
      (1L to n).map(i => (u * 1000 + i, t0, u, "view", 1.0))
    }
    val out = q("q137_countmin_sketch", eventsDir(rows)).collect()
    assert(out.length === 10)
    assert(out.head.getLong(0) === 7L) // unique heaviest user leads
    assert(out.head.getLong(1) === 50L)
    out.foreach { r =>
      assert(r.getLong(3) >= 0L,
        s"user ${r.getLong(0)} underestimated: ${r.getLong(2)} < ${r.getLong(1)}")
      assert(r.getLong(2) === r.getLong(1) + r.getLong(3))
    }
  }

  // ---- q138 triangle counting ----

  test("q138: K4 within one order yields 4 triangles, 3 per node") {
    val dir = lineitemDir(
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), // K4
        (2L, 5L), (2L, 6L))) // lone edge, no triangle
    val out = q("q138_triangle_count", dir).collect()
    assert(out.length === 4) // nodes 5,6 participate in none
    assert(out.map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
    out.foreach { r =>
      assert(r.getLong(1) === 3L) // each K4 node is in 3 triangles
      assert(r.getLong(2) === 4L) // C(4,3) total
    }
  }

  test("q138: a triangle assembled from three DIFFERENT orders counts") {
    val dir = lineitemDir(Seq(
      (10L, 7L), (10L, 8L), // edge 7-8
      (11L, 8L), (11L, 9L), // edge 8-9
      (12L, 7L), (12L, 9L), // edge 7-9 -> closes {7,8,9}
      (13L, 7L), (13L, 8L))) // duplicate edge must not double-count
    val out = q("q138_triangle_count", dir).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getLong(1) === 1L)
      assert(r.getLong(2) === 1L)
    }
  }

  // ---- q139 skyline ----

  test("q139: dominance edge cases — duplicates survive, ties resolve") {
    val dir = partDir(Seq(
      (1L, 1.0, 5), // frontier: nothing cheaper
      (2L, 2.0, 7), // frontier (duplicate point)
      (3L, 2.0, 7), // frontier (duplicate point — neither dominates)
      (4L, 2.0, 6), // dominated by 2/3 at the same price
      (5L, 3.0, 9), // frontier: global max size
      (6L, 3.0, 1), // dominated by 1 (cheaper AND taller)
      (7L, 4.0, 9))) // dominated by 5 (same size, strictly pricier)
    val out = q("q139_skyline", dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 5L))
  }

  test("q139: a single point is its own skyline") {
    val out = q("q139_skyline", partDir(Seq((9L, 5.0, 3)))).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(9L))
  }

  // ---- q140 BPE encode ----

  test("q140: merge chain traced by hand — the/and collapse, thin = 3") {
    // the: t h e </w> -> th e </w> -> th e</w> -> the</w>  (1 token)
    // and: a n d </w> -> an d </w> -> an d</w> -> and</w>  (1 token)
    // thin: t h i n </w> -> th i n </w> -> th in </w>      (3 tokens)
    val dir = docsDir(Seq((1L, "the and thin", "en", "s")))
    val out = q("q140_bpe_encode", dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 3L) // n_words
    assert(out.head.getLong(2) === 5L) // n_bpe_tokens
    assert(out.head.getDouble(3) === 1.666667)
  }

  test("q140: greedy-leftmost — anan pairs as (an)(an), aan as a(an)") {
    val dir = docsDir(Seq((1L, "anan aan", "en", "s")))
    val out = q("q140_bpe_encode", dir).collect()
    // anan: a n a n </w> -> an an </w> (3); aan: a a n </w> -> a an </w> (3)
    assert(out.head.getLong(1) === 2L)
    assert(out.head.getLong(2) === 6L)
    assert(out.head.getDouble(3) === 3.0)
  }

  test("q140: a word repeated across docs is encoded once, counted per doc") {
    val dir = docsDir(Seq(
      (1L, "the the the", "en", "s"), (2L, "the", "en", "s")))
    val out = q("q140_bpe_encode", dir).collect().sortBy(_.getLong(0))
    assert(out(0).getLong(2) === 3L) // 3 occurrences x 1 token
    assert(out(1).getLong(2) === 1L)
  }

  // ---- q141 semantic decontamination ----

  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("r8cemb")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q141: scaled copy of an eval vector flags, orthogonal stays clean") {
    val dir = embDir(Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 9), // eval (vec_id % 50 == 0)
      (1L, Seq(2f, 0f, 0f, 0f), 1), // cos 1.0 with eval -> contaminated
      (2L, Seq(0f, 1f, 0f, 0f), 2), // cos 0.0 -> clean
      (3L, Seq(1f, 1f, 0f, 0f), 2))) // cos 0.707107 -> contaminated
    val out = q("q141_semantic_decontam", dir).collect()
    assert(out.length === 2)
    val byLabel = out.map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byLabel(1) === ((1L, 1L, 1.0)))
    assert(byLabel(2) === ((2L, 1L, 0.707107)))
  }

  // ---- q142 association rules ----

  test("q142: hand-counted baskets — support, confidence, lift exact") {
    // baskets: {1,2}, {1,2}, {1,2,3} -> pair (1,2) x3 survives the
    // floor; (1,3)/(2,3) x1 pruned. N=3, n1=n2=3 => everything 1.0
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 3L)))
    val out = q("q142_assoc_rules", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 2L, 3L)))
    assert(r.getDouble(3) === 1.0) // support
    assert(r.getDouble(4) === 1.0) // conf a->b
    assert(r.getDouble(5) === 1.0) // conf b->a
    assert(r.getDouble(6) === 1.0) // lift
  }

  test("q142: negatively-associated pair lifts below 1") {
    // 1 and 2 co-occur once but each appears in 3 of 4 baskets:
    // lift = 1*4 / (3*3) = 0.444444
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 9L), (2L, 1L), (2L, 9L),
      (3L, 1L), (3L, 9L), (4L, 2L), (4L, 9L), (5L, 2L), (5L, 9L)))
    val out = q("q142_assoc_rules", dir).collect()
    val r12 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r12.isEmpty) // co-count 1 is under the floor
    val r19 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 9L).get
    assert(r19.getLong(2) === 3L)
    assert(r19.getDouble(6) === (3.0 * 5) / (3 * 5)) // lift 1.0
  }

  // ---- q143 token entropy ----

  test("q143: hand-computed entropy and TTR") {
    val dir = docsDir(Seq((1L, "a a b", "en", "s"), (2L, "x", "en", "s")))
    val out = q("q143_token_entropy", dir).collect().sortBy(_.getLong(0))
    // doc 1: n=3, types=2, H = ln3 - (2 ln2)/3 = 0.636514
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getLong(2) === 2L)
    assert(out(0).getDouble(3) === 0.666667)
    assert(out(0).getDouble(4) === 0.636514)
    // doc 2: single token -> zero entropy, TTR 1
    assert(out(1).getDouble(3) === 1.0)
    assert(out(1).getDouble(4) === 0.0)
  }

  test("q143: uniform vocabulary maximizes entropy at ln(n)") {
    val dir = docsDir(Seq((1L, "p q r s", "en", "s")))
    val out = q("q143_token_entropy", dir).collect()
    assert(out.head.getDouble(4) === 1.386294) // ln 4
    assert(out.head.getDouble(3) === 1.0)
  }

  // ---- q144 SRM check ----

  test("q144: single converting user — counts and chi-square by hand") {
    val dir = eventsDir(Seq(
      (1L, t0, 42L, "view", 1.0), (2L, t0, 42L, "purchase", 5.0)))
    val out = q("q144_srm_check", dir).collect()
    assert(out.length === 1) // only one arm materializes
    val r = out.head
    assert(r.getLong(1) === 1L) // n_users
    assert(r.getLong(2) === 2L) // n_events
    assert(r.getLong(3) === 1L) // n_converted
    assert(r.getDouble(4) === 1.0) // conv_rate
    assert(r.getDouble(5) === 0.5) // (2*1-1)^2 / (2*1)
  }

  test("q144: balanced hash split — contributions non-negative, users add up") {
    val rows = (1L to 200L).map(u => (u, t0, u, "view", 1.0))
    val out = q("q144_srm_check", eventsDir(rows)).collect()
    assert(out.length === 2)
    assert(out.map(_.getLong(1)).sum === 200L)
    out.foreach(r => assert(r.getDouble(5) >= 0.0))
    // both contributions are equal by symmetry: (2*o0-n)² == (2*o1-n)²
    assert(out(0).getDouble(5) === out(1).getDouble(5))
  }

  // ---- q145 peak concurrency ----

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("q145: overlapping windows stack, the [start, end) boundary does not") {
    val dir = eventsDir(Seq(
      // a and b overlap (100s apart, 300s windows) -> peak 2
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 00:01:40"), 2L, "view", 1.0),
      // c starts exactly when a's window expires -> never 3 deep
      (3L, ts("2024-01-01 00:05:00"), 3L, "view", 1.0),
      // a lone click far away -> its own peak of 1
      (4L, ts("2024-01-02 00:00:00"), 4L, "click", 1.0)))
    val out = q("q145_peak_concurrency", dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // offsets are relative to the table-wide min(ts) (a's start)
    assert(out("view") === ((2L, 100000000L))) // peak 2 at b's start
    assert(out("click")._1 === 1L)
    assert(out("click")._2 === 86400000000L)   // next day's lone click
  }

  test("q145: simultaneous starts count together") {
    val dir = eventsDir(Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 00:00:00"), 2L, "view", 1.0),
      (3L, ts("2024-01-01 00:00:00"), 3L, "view", 1.0)))
    val out = q("q145_peak_concurrency", dir).collect()
    assert(out.head.getLong(1) === 3L)
    assert(out.head.getLong(2) === 0L) // at the corpus epoch itself
  }

  // ---- q146 last-touch attribution ----

  test("q146: in-window click attributes, stale click nulls to sentinel") {
    val dir = eventsDir(Seq(
      // user 1: click 1 day before purchase -> attributed, age 86400
      (10L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (11L, ts("2024-01-02 00:00:00"), 1L, "purchase", 9.0),
      // user 2: click 8 days before -> matched but OUT of tolerance
      (20L, ts("2024-01-01 00:00:00"), 2L, "click", 1.0),
      (21L, ts("2024-01-09 00:00:01"), 2L, "purchase", 9.0),
      // user 3: click only AFTER the purchase -> no prior match
      (31L, ts("2024-01-05 00:00:00"), 3L, "purchase", 9.0),
      (30L, ts("2024-01-06 00:00:00"), 3L, "click", 1.0)))
    val out = q("q146_last_touch_attribution", dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(11L) === ((10L, 86400L)))
    assert(out(21L) === ((-1L, -1L)))
    assert(out(31L) === ((-1L, -1L)))
  }

  test("q146: latest of several clicks wins; same-instant click matches") {
    val dir = eventsDir(Seq(
      (10L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (12L, ts("2024-01-03 00:00:00"), 1L, "click", 1.0),
      (13L, ts("2024-01-04 00:00:00"), 1L, "purchase", 9.0),
      // user 2: click at the exact purchase instant -> age 0
      (20L, ts("2024-01-01 00:00:00"), 2L, "click", 1.0),
      (21L, ts("2024-01-01 00:00:00"), 2L, "purchase", 9.0)))
    val out = q("q146_last_touch_attribution", dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(13L) === ((12L, 86400L)))
    assert(out(21L) === ((20L, 0L)))
  }

  // ---- q148 Cohen's kappa ----

  test("q148: chance-level agreement scores kappa 0, perfect scores 1") {
    // source sA: po = pe = 0.5 -> kappa 0 by hand
    //   "the cat"/en      -> pred 1, ref 1 (n11)
    //   "of x y z"/de     -> pred 1 (ratio 0.25), ref 0 (n10)
    //   "x y"/en          -> pred 0, ref 1 (n01)
    //   "perro grande"/es -> pred 0, ref 0 (n00)
    // source sB: both docs classified correctly -> kappa 1
    val dir = docsDir(Seq(
      (1L, "the cat", "en", "sA"), (2L, "of x y z", "de", "sA"),
      (3L, "x y", "en", "sA"), (4L, "perro grande", "es", "sA"),
      (5L, "the dog", "en", "sB"), (6L, "hund katze", "de", "sB")))
    val out = q("q148_classifier_kappa", dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("sA")
    assert((a.getLong(2), a.getLong(3), a.getLong(4), a.getLong(5)) ===
      ((1L, 1L, 1L, 1L)))
    assert(a.getDouble(6) === 0.5) // po
    assert(a.getDouble(7) === 0.5) // pe
    assert(a.getDouble(8) === 0.0) // kappa
    assert(out("sB").getDouble(8) === 1.0)
  }

  // ---- q149 BM25 ----

  test("q149: scores match an independent JVM BM25 computation") {
    val dir = docsDir(Seq(
      (1L, "join join x", "en", "s"), (2L, "join y", "en", "s"),
      (3L, "z z z", "en", "s")))
    // independent reimplementation: N=3 docs, avglen = 8/3,
    // df(join)=2, both scoring docs share idf
    val n = 3.0; val avglen = 8.0 / 3.0; val df = 2.0
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def bm25(tf: Double, len: Double) =
      BigDecimal(idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * len / avglen)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = q("q149_bm25_topk", dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L)) // doc 3 matches no query term
    assert(out(1L) === bm25(2, 3))
    assert(out(2L) === bm25(1, 2))
    assert(out(1L) > out(2L)) // higher tf wins at comparable length
  }

  // ---- q150 multi-batch streaming CMS ----

  test("q150: the streamed sketch answers exactly like the batch build") {
    val rows = (1L to 60L).map { i =>
      (i, new java.sql.Timestamp(t0.getTime + i * 60000L), i % 7, "view", 1.0)
    }
    val dir = eventsDir(rows)
    val streamed = q("q150_multibatch_cms", dir).collect().toSeq
    val batch = q("q137_countmin_sketch", dir).collect().toSeq
    assert(streamed === batch)
  }

  // ---- q151 Markov transitions ----

  test("q151: per-user sequences, hand-counted transition probabilities") {
    val dir = eventsDir(Seq(
      // user 1: view -> click -> view
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 00:02:00"), 1L, "view", 1.0),
      // user 2: view -> purchase (no cross-user transition to user 1)
      (4L, ts("2024-01-01 00:00:30"), 2L, "view", 1.0),
      (5L, ts("2024-01-01 00:03:00"), 2L, "purchase", 1.0)))
    val out = q("q151_markov_transitions", dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size === 3)
    assert(out(("view", "click")) === ((1L, 0.5)))
    assert(out(("view", "purchase")) === ((1L, 0.5)))
    assert(out(("click", "view")) === ((1L, 1.0)))
  }

  test("q151: same-instant events order by event_id") {
    val dir = eventsDir(Seq(
      (1L, t0, 1L, "view", 1.0), (2L, t0, 1L, "click", 1.0)))
    val out = q("q151_markov_transitions", dir).collect()
    assert(out.length === 1)
    assert((out.head.getString(0), out.head.getString(1)) ===
      (("view", "click")))
  }

  // ---- q152 TWAP ----

  test("q152: holding-time weighting beats event-count weighting") {
    val dir = eventsDir(Seq(
      // 1.00 held 10s, 3.00 held 20s, last event drops out
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 00:00:10"), 1L, "view", 3.0),
      (3L, ts("2024-01-01 00:00:30"), 1L, "view", 99.0)))
    val out = q("q152_twap", dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 2L)
    // (100*10 + 300*20) / 30 = 233.333333 cents — NOT the naive
    // mean of (100, 300, 9900)
    assert(out.head.getDouble(2) === 233.333333)
  }

  test("q152: a single-event user has no holding interval and no row") {
    val dir = eventsDir(Seq(
      (1L, t0, 1L, "view", 5.0),
      (2L, t0, 2L, "view", 1.0),
      (3L, ts("2024-01-01 01:00:00"), 2L, "view", 2.0)))
    val out = q("q152_twap", dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L))
    assert(out.head.getDouble(2) === 100.0) // 1.00 held the whole hour
  }

  // ---- q153 record linkage ----

  test("q153: all-agree pair classifies match, all-disagree non-match") {
    // docs share the first token "x" -> one block, three pairs
    // 1-2: identical on every field -> score = sum of agree weights
    //      = ln(.95/.30)+ln(.90/.25)+ln(.85/.10)+ln(.80/.01) ≈ 9.0 -> match
    // 1-3/2-3: same first token but different lang/source/length/fp
    //      -> all four disagree weights ≈ -9.0 -> non_match
    val dir = docsDir(Seq(
      (1L, "x y z", "en", "web"),
      (2L, "x y z", "en", "web"),
      (3L, "x a b c d e f g h i j k l m n o p q r s t u v w " * 5, "de",
        "book")))
    val out = q("q153_record_linkage", dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("match" -> 1L, "non_match" -> 2L))
  }

  test("q153: scores equal an independent JVM log-odds computation") {
    // one pair agreeing on lang+source+length band, differing on fp
    val dir = docsDir(Seq(
      (1L, "x y z", "en", "web"), (2L, "x y q", "en", "web")))
    val out = q("q153_record_linkage", dir).collect()
    assert(out.length === 1)
    val expected = BigDecimal(
      math.log(0.95 / 0.30) + math.log(0.90 / 0.25) +
        math.log(0.85 / 0.10) + math.log((1 - 0.80) / (1 - 0.01)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(2) === expected)
    // ≈ 2.974: three agreements minus the fp penalty sits just UNDER
    // the 3.0 match cut — the "possible" band doing its job
    assert(out.head.getString(0) === "possible")
  }

  // ---- q154 OLS trend ----

  test("q154: perfect linear growth recovers slope/intercept/r2 exactly") {
    // day x = 0..3 with counts 5,7,9,11 -> y = 2x + 5, r2 = 1
    val rows = (0 to 3).flatMap { d =>
      (1 to (5 + 2 * d)).map { i =>
        ((d * 100 + i).toLong,
          ts(f"2024-01-${d + 1}%02d 00:00:00"), i.toLong, "view", 1.0)
      }
    }
    val out = q("q154_ols_trend", eventsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 4L)
    assert(r.getDouble(2) === 2.0)
    assert(r.getDouble(3) === 5.0)
    assert(r.getDouble(4) === 1.0)
  }

  test("q154: constant volume scores slope 0 with r2 0 (zero variance guard)") {
    val rows = (0 to 3).flatMap { d =>
      (1 to 6).map { i =>
        ((d * 100 + i).toLong,
          ts(f"2024-01-${d + 1}%02d 00:00:00"), i.toLong, "view", 1.0)
      }
    }
    val out = q("q154_ols_trend", eventsDir(rows)).collect()
    assert(out.head.getDouble(2) === 0.0)
    assert(out.head.getDouble(4) === 0.0)
  }

  // ---- q155 winnowing ----

  test("q155: selection matches an independent JVM winnowing pass") {
    val text = "a b c d e f g h"
    val dir = docsDir(Seq((1L, text, "en", "s"), (2L, "x y z", "en", "s"),
      (3L, "m m m m m m", "en", "s")))
    val toksOf = text.split(" ")
    val gh = toksOf.sliding(3).map(g => gramHash(g.mkString(" "))).toSeq
    val expected = (0 to gh.length - 4).map(i => gh.slice(i, i + 4).min)
      .distinct.length
    val out = q("q155_winnowing", dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((6L, expected.toLong)))
    assert(out(2L) === ((1L, 1L))) // 3 tokens -> 1 gram -> 1 fp
    assert(out(3L) === ((4L, 1L))) // identical grams collapse to 1 fp
  }

  test("q155: a shared 6-token run forces a shared fingerprint") {
    // winnowing guarantee at w=4, k=3: matches of length >= w+k-1 = 6
    // tokens always share a selected fingerprint
    val shared = "p q r s t u"
    val dir = docsDir(Seq(
      (1L, s"a b c $shared", "en", "s"),
      (2L, s"$shared x y z", "en", "s")))
    def fps(text: String): Set[Long] = {
      val gh = text.split(" ").sliding(3)
        .map(g => gramHash(g.mkString(" "))).toSeq
      if (gh.length <= 4) Set(gh.min)
      else (0 to gh.length - 4).map(i => gh.slice(i, i + 4).min).toSet
    }
    assert(fps(s"a b c $shared").intersect(fps(s"$shared x y z")).nonEmpty)
    // and the query's counts agree with the same selection
    val out = q("q155_winnowing", dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === fps(s"a b c $shared").size.toLong)
    assert(out(2L) === fps(s"$shared x y z").size.toLong)
  }

  // ---- q156 Wasserstein ----

  test("q156: two-bucket shift costs exactly 2, identical costs 0") {
    // srcA docs ~10 chars (bucket 0), srcB docs ~120 chars (bucket 2):
    // CDFs [1,1,1] vs [0,0,1] -> W1 = 2 bucket widths exactly;
    // srcC mirrors srcA -> W1(A, C) = 0
    val long120 = ("x" * 119) + "y"
    val dir = docsDir(Seq(
      (1L, "a" * 10, "en", "srcA"), (2L, "b" * 10, "en", "srcA"),
      (3L, long120, "en", "srcB"), (4L, long120, "en", "srcB"),
      (5L, "c" * 10, "en", "srcC")))
    val out = q("q156_wasserstein", dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("srcA", "srcB")) === 2.0)
    assert(out(("srcA", "srcC")) === 0.0)
    assert(out(("srcB", "srcC")) === 2.0)
  }

  test("q156: half the mass moving one bucket costs 0.5") {
    val dir = docsDir(Seq(
      (1L, "a" * 10, "en", "sA"), (2L, "b" * 10, "en", "sA"),
      (3L, "c" * 10, "en", "sB"), (4L, "d" * 60, "en", "sB")))
    val out = q("q156_wasserstein", dir).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(3) === 0.5)
  }

  // ---- q157 lagged correlation ----

  test("q157: a one-day-shifted copy correlates perfectly at lag 1") {
    // type A: counts 2,4,6 on days 1-3; type B: 2,4,6 on days 2-4
    // -> corr(A, B, lag=1) = 1.0 over the full 3-day overlap;
    //    corr(A, A, lag=0) = 1.0 (autocorrelation sanity)
    def burst(tpe: String, day: Int, n: Int, idBase: Long) =
      (1 to n).map(i => (idBase + i,
        ts(f"2024-01-$day%02d 00:00:00"), i.toLong, tpe, 1.0))
    val rows =
      burst("aa", 1, 2, 100) ++ burst("aa", 2, 4, 200) ++
        burst("aa", 3, 6, 300) ++
        burst("bb", 2, 2, 1100) ++ burst("bb", 3, 4, 1200) ++
        burst("bb", 4, 6, 1300)
    val out = q("q157_lagged_corr", eventsDir(rows)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(out(("aa", "bb", 1)) === ((3L, 1.0)))
    assert(out(("aa", "aa", 0)) === ((3L, 1.0)))
    // at lag 0 the overlap is days 2-3 with A=(4,6) vs B=(2,4):
    // both strictly increasing -> corr 1.0 there too, but over 2 days
    assert(out(("aa", "bb", 0))._1 === 2L)
  }

  test("q157: a constant series has zero variance and corr 0 by guard") {
    def burst(tpe: String, day: Int, n: Int, idBase: Long) =
      (1 to n).map(i => (idBase + i,
        ts(f"2024-01-$day%02d 00:00:00"), i.toLong, tpe, 1.0))
    val rows = burst("cc", 1, 3, 100) ++ burst("cc", 2, 3, 200) ++
      burst("dd", 1, 1, 1100) ++ burst("dd", 2, 5, 1200)
    val out = q("q157_lagged_corr", eventsDir(rows)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getDouble(4)).toMap
    assert(out(("cc", "dd", 0)) === 0.0) // cc flat -> dxx = 0
  }

  // ---- q158 Gini ----

  test("q158: perfect equality scores 0, total concentration (n-1)/n") {
    val rows =
      // type "eq": 4 users x 3 events each -> G = 0
      (1L to 4L).flatMap(u => (1 to 3).map(i =>
        (u * 10 + i, t0, u, "eq", 1.0))) ++
        // type "mono": user 9 has 8 events, users 1-3 have 0... they
        // must EXIST with >=1 event to be part of the distribution
        (1L to 3L).map(u => (800 + u, t0, u, "mono", 1.0)) ++
        (1 to 9).map(i => (900L + i, t0, 9L, "mono", 1.0))
    val out = q("q158_gini", eventsDir(rows)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(("eq")) === ((4L, 0.0)))
    // mono: shares (1,1,1,9)/12, ranks 1..4:
    // num = (2-5)*1 + (4-5)*1 + (6-5)*1 + (8-5)*9 = -3-1+1+27 = 24
    // G = 24 / (4*12) = 0.5
    assert(out(("mono")) === ((4L, 0.5)))
  }

  // ---- q159 Benford ----

  private def ordersDir(rows: Seq[(Long, Double)]): String = {
    val dir = tempDir("r8cord")
    rows.toDF("o_orderkey", "o_totalprice")
      .withColumn("o_custkey", lit(1L))
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_orderdate", lit(t0))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("q159: digits come from integer cents, not float log10") {
    // 100.00 -> cents 10000 -> digit 1 (a float log10 at an exact
    // power of ten is the classic flip case); 0.09 -> cents 9 -> 9
    val dir = ordersDir(Seq(
      (1L, 100.0), (2L, 0.09), (3L, 250.0), (4L, 2.5), (5L, 999.99)))
    val out = q("q159_benford", dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(1 -> 1L, 2 -> 2L, 9 -> 2L))
  }

  test("q159: a perfectly Benford sample scores near-zero chi2") {
    // counts proportional to log10(1+1/d) out of 1000
    val counts = (1 to 9).map(d =>
      d -> math.round(1000 * math.log10(1.0 + 1.0 / d)))
    val rows = counts.flatMap { case (d, n) =>
      (1L to n).map(i => (d * 10000L + i, d * 100.0 + 1.0))
    }
    val out = q("q159_benford", ordersDir(rows)).collect()
    assert(out.length === 9)
    out.foreach(r => assert(r.getDouble(4) < 0.05,
      s"digit ${r.getInt(0)} chi2 ${r.getDouble(4)}"))
  }

  // ---- q147 grouped split ----

  test("q147: a duplicate family lands whole in one fold") {
    // docs 1 and 2 share the word SET {a, b} -> one family of 2;
    // doc 3 is its own family
    val dir = docsDir(Seq(
      (1L, "a b", "en", "s"), (2L, "b a b", "en", "s"),
      (3L, "c d e", "en", "s")))
    val out = q("q147_grouped_split", dir).collect()
    assert(out.map(_.getLong(1)).sum === 3L) // all docs assigned
    assert(out.map(_.getLong(2)).sum === 2L) // two families
    assert(out.map(_.getLong(3)).sum === 2L) // the dup pair, together
    // the fold holding the dup family holds BOTH its docs
    val dupFold = out.find(_.getLong(3) === 2L).get
    assert(dupFold.getLong(1) >= 2L)
  }
}
