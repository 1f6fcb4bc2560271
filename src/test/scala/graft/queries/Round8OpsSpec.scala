package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Hand-computed expectations for the round-8 additions (q117–q122)
  * on adversarial micro-corpora, driven through the exact SparkEntry
  * query functions the driver gate runs. The DuckDB mirrors re-prove
  * these on the synthetic corpus; these pin the SEMANTICS (status
  * classification, caps, tie-breaks, bucket edges) where the right
  * answer is computable by hand.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("r8ops")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  test("q117 delta: every status classified from the derived snapshot") {
    // doc 7: 7%101==7  -> dropped in v2        -> removed
    // doc 3: 3%97==3   -> text revised in v2   -> changed
    // doc 5: 5%103==5  -> spawns added id 10000005; itself unchanged
    // doc 1: untouched                          -> unchanged
    val dir = docsDir(Seq(
      (1L, "alpha", "en", "s"), (3L, "beta", "en", "s"),
      (5L, "gamma", "en", "s"), (7L, "delta", "en", "s")))
    val out = q("q117_corpus_delta", dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("added", "s") -> 1L, ("changed", "s") -> 1L,
      ("removed", "s") -> 1L, ("unchanged", "s") -> 2L))
  }

  test("q118 index: df band drops hapax phrases, tf desc tie doc asc") {
    // "a b c" occurs twice in doc 0, once in doc 1 -> df 2, cf 3,
    // postings 0 before 1 (tf 2 > 1). Every other 3-gram is df=1.
    val dir = docsDir(Seq(
      (0L, "a b c a b c", "en", "s"),
      (1L, "a b c x y z", "en", "s"),
      (2L, "q r s t", "en", "s")))
    val out = q("q118_inverted_index", dir).collect()
    assert(out.length === 1, out.mkString("; "))
    val r = out.head
    assert(r.getString(0) === "a b c")
    assert((r.getLong(1), r.getLong(2), r.getString(3)) === ((2L, 3L, "0,1")))
  }

  test("q118 index: postings capped at 5 even when df exceeds 5") {
    val dir = docsDir((0L to 6L).map(i => (i, "a b c filler" + i, "en", "s")))
    val out = q("q118_inverted_index", dir).collect()
      .filter(_.getString(0) == "a b c")
    assert(out.length === 1)
    // all seven docs tie at tf=1 -> doc_id ascending, first five kept
    assert(out.head.getString(3) === "0,1,2,3,4")
  }

  test("q120 impact: min-id copy survives, dropped chars billed per source") {
    val dir = docsDir(Seq(
      (0L, "w1 w2 w3 w4", "sA", "sA"), (1L, "w1 w2 w3 w4", "sB", "sB"),
      (2L, "u1 u2 u3", "sB", "sB")))
    val out = q("q120_dedup_impact", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("sA") === ((1L, 1L, 0L, 0.0)))
    // doc 1 is the duplicate copy: 11 chars reclaimed, half the source
    assert(out("sB") === ((2L, 1L, 11L, 0.5)))
  }

  test("q121 novelty: exact duplicate pair scores 0, unique doc scores 1") {
    val dup = "a b c d e f g h i" // 9 tokens -> two 8-gram shingles
    val dir = docsDir(Seq(
      (0L, dup, "en", "s"), (1L, dup, "en", "s"),
      (2L, "p q r s t u v w", "en", "s"), // 8 tokens -> one unique gram
      (3L, "too short", "en", "s")))
    val out = q("q121_novelty_rate", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      0L -> ((2L, 0L, 0.0)), 1L -> ((2L, 0L, 0.0)),
      2L -> ((1L, 1L, 1.0))))
  }

  test("q119 profile: seeds self-assign, off-axis vector lands on axis 0") {
    def unit(i: Int): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = 1f; a
    }
    val rows = (0 until 8).map(i => (i.toLong, unit(i), 1)) ++ Seq(
      (8L, Array(1f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f), 2))
    val dir = tempDir("r8ops")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q119_cluster_profile", dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // every seed is its own nearest centroid (cos 1 with itself, 0 off)
    (0 until 8).foreach { i =>
      assert(out((i.toLong, 1))._1 === 1L, s"cluster $i")
    }
    // vec 8: cos with c0 = 1/sqrt(1.01) ~ 0.995037
    assert(out((0L, 2)) === ((1L, 0.995037, 0.995037)))
  }

  test("q123 pmi: hand corpus matches the closed-form ln ratio") {
    // 5x "x y" + 1x "f g": totU=12, totB=6; only "x y" reaches cb>=5
    // pmi = ln((5/6) / ((5/12)^2)) = ln(4.8)
    val dir = docsDir((0L to 4L).map(i => (i, "x y", "en", "s")) :+
      (5L, "f g", "en", "s"))
    val out = q("q123_pmi_bigrams", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getString(0), r.getLong(1)) === (("x y", 5L)))
    assert(math.abs(r.getDouble(2) - math.log(4.8)) < 1e-6)
  }

  test("q124 sessions: gap splits, buckets and durations are exact") {
    val T0 = 1704067200L * 1000 * 1000 * 1000
    val S = 1000L * 1000 * 1000 // one second in nanos
    // user 1: [0s, 100s] then 5000s (gap 4900 > 1800 -> new session);
    // user 2: one event
    val rows = Seq((1L, 0L), (1L, 100L), (1L, 5000L), (2L, 0L))
      .zipWithIndex.map { case ((uid, t), i) =>
        (i.toLong, T0 + t * S, uid, "view", 1.0, "{}")
      }
    val dir = tempDir("r8ops")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q124_session_stats", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // bucket 0: the two 1-event sessions; bucket 1: the 2-event one
    assert(out === Map(
      0L -> ((2L, 2L, 0L, 0L)), 1L -> ((1L, 2L, 100L, 100L))))
  }

  test("q125 packing: pad and overflow are exact integer math") {
    def toks(n: Int) = Seq.fill(n)("w").mkString(" ")
    val dir = docsDir(Seq(
      (0L, toks(600), "en", "s"), (1L, toks(100), "en", "s")))
    val r = q("q125_packing_efficiency", dir).collect().head
    // 600 toks -> 2 seqs (424 pad, overflow); 100 -> 1 seq (412 pad)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((2L, 700L, 3L, 836L, 1L, 2L)))
    assert(math.abs(r.getDouble(7) - 836.0 / 1536) < 1e-6)
  }

  test("q122 skew: log2 buckets are exact at powers of two") {
    val T0 = 1704067200L * 1000 * 1000 * 1000
    val rows = (Seq.fill(1)(1L) ++ Seq.fill(2)(2L) ++ Seq.fill(3)(3L) ++
      Seq.fill(8)(4L)).zipWithIndex.map { case (uid, i) =>
      (i.toLong, T0 + i * 1000L, uid, "view", 1.0, "{}")
    }
    val dir = tempDir("r8ops")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q122_key_skew_histogram", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // count 1 -> bucket 0; counts 2,3 -> bucket 1; count 8 -> bucket 3
    assert(out(0L) === ((1L, 1L, 1L, 0.071429)))
    assert(out(1L) === ((2L, 5L, 3L, 0.357143)))
    assert(out(3L) === ((1L, 8L, 8L, 0.571429)))
  }
}
