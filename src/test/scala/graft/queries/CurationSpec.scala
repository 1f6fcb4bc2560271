package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkEntry, SparkSpec}

/** Closed-form expectations for the round-5 corpus-curation operators
  * (q70-q76), driven through the exact SparkEntry query functions the
  * driver gate runs, on hand-built tables where the right answer is
  * computable by hand. The DuckDB mirrors re-prove these on the
  * synthetic corpus; these tests pin the SEMANTICS (model math, tie
  * breaks, blocking behavior, strictness edges) on adversarial
  * micro-corpora the synthetic tables don't contain.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** Write a documents table into a temp dir and return the dir. */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("curation")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = tempDir("curation")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("q70 bigram LM: MLE cross-entropy is exact on a hand corpus") {
    // corpus bigrams: doc0 "a a b" -> (a,a),(a,b); doc1 "a b" -> (a,b)
    // counts: c(a,a)=1 c(a,b)=2 c1(a)=3  =>
    //   doc0 xent = -(ln(1/3) + ln(2/3))/2 ; doc1 xent = -ln(2/3)
    val dir = docsDir(Seq(
      (0L, "a a b", "en", "s"), (1L, "a b", "en", "s")))
    val out = q("q70_bigram_lm_score", dir).collect()
    val exp0 = -(math.log(1.0 / 3) + math.log(2.0 / 3)) / 2
    val exp1 = -math.log(2.0 / 3)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 2L), (1L, 1L)))
    assert(math.abs(out(0).getDouble(2) - exp0) < 1e-6)
    assert(math.abs(out(1).getDouble(2) - exp1) < 1e-6)
  }

  test("q70 bigram LM: single-token and empty docs are excluded") {
    val dir = docsDir(Seq(
      (0L, "solo", "en", "s"), (1L, "a b a b", "en", "s")))
    val ids = q("q70_bigram_lm_score", dir).select("doc_id")
      .as[Long].collect().toSeq
    assert(ids === Seq(1L))
  }

  test("q81 trigram LM: interpolated probabilities are exact on a hand corpus") {
    // docs share the (a,b,c) opening, then diverge. Hand counts:
    //   p(abc) = .7*(2/2) + .25*(2/2) + .05*(2/4) = 0.975
    //   p(bcd) = .7*(1/2) + .25*(1/2) + .05*(1/4) = 0.4875 (bce identical)
    val dir = docsDir(Seq(
      (0L, "a b c d", "en", "s"), (1L, "a b c e", "en", "s")))
    val out = q("q81_trigram_lm_score", dir).collect()
    val exp = -(math.log(0.975) + math.log(0.4875)) / 2
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 2L), (1L, 2L)))
    out.foreach(r => assert(math.abs(r.getDouble(2) - exp) < 1e-6))
    // a corpus whose every context is deterministic scores xent = 0
    val solo = docsDir(Seq((0L, "a b c", "en", "s")))
    val s0 = q("q81_trigram_lm_score", solo).collect()
    assert(s0.head.getDouble(2) === 0.0)
  }

  /** Independent reference BPE (Sennrich-style, greedy-leftmost merge,
    * count-desc then lexicographic tie-break) — the self-oracle for
    * q82's dataflow formulation.
    */
  private def refBpe(wordCounts: Map[String, Long],
                     steps: Int): Seq[(String, String, Long)] = {
    var syms = wordCounts.map { case (w, n) =>
      (w.map(_.toString).toVector :+ "</w>", n)
    }.toSeq
    (1 to steps).map { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (ss, n) =>
        ss.sliding(2).foreach { p =>
          if (p.length == 2)
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      val ((a, b), f) = counts.toSeq
        .sortBy { case ((a, b), f) => (-f, a, b) }.head
      syms = syms.map { case (ss, n) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < ss.length) {
          if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += ss(i); i += 1 }
        }
        (out.toVector, n)
      }
      (a, b, f)
    }
  }

  test("q82 bpe: dataflow merges equal an independent reference implementation") {
    // 'banana' makes the winning pair occur back-to-back inside one
    // word ('a n a n'): a single non-overlapping replace merges only
    // the first occurrence, so this corpus distinguishes the exact
    // greedy-leftmost fold from the buggy one-pass-replace form.
    val docs = Seq(
      (0L, "low low low low low lower lower", "en", "s"),
      (1L, "newest newest newest newest newest newest", "en", "s"),
      (2L, "widest widest widest", "en", "s"),
      (3L, "banana banana banana banana banana banana banana", "en", "s"))
    val dir = docsDir(docs)
    val wordCounts = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    val expected = refBpe(wordCounts, 3)
    val out = q("q82_bpe_merges", dir).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(out === expected)
  }

  test("q83 keep-best: the least-repetitive copy wins, not the lowest id") {
    // doc0 and doc1 share the word set {a,b}; doc0 is the repetitive
    // realization (dup_frac 0.6), doc1 the clean one (0.0) -> doc1 kept
    val dir = docsDir(Seq(
      (0L, "a b a b a b", "en", "s"),
      (1L, "a b", "en", "s"),
      (2L, "x y z", "en", "s")))   // singleton group: not reported
    val out = q("q83_dedup_keep_best", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 0L)         // group identified by min id
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 1L)         // but the CLEAN copy is kept
    assert(r.getDouble(3) === 0.0)
  }

  test("curation tier tolerates null and whitespace-only documents") {
    val dir = docsDir(Seq(
      (0L, "a b c d e f g h i j k l m n", "en", "s"),
      (1L, "a b c d e f g h i j k l m n", "en", "s"),
      (2L, null, "en", "s"),
      (3L, "   ", "en", "s"),
      (4L, "solo", "en", "s")))
    // none of these operators may throw on null/blank text, and the
    // null doc must never appear in any output
    for (name <- Seq("q70_bigram_lm_score", "q71_tfidf_topk",
        "q72_vocab_coverage", "q73_subset_containment",
        "q79_cdc_chunk_dedup", "q80_containment_sketch",
        "q81_trigram_lm_score", "q82_bpe_merges", "q83_dedup_keep_best")) {
      val out = q(name, dir).collect()
      val idCols = out.headOption.map(_.schema.fieldNames.toSeq)
        .getOrElse(Nil).filter(Seq("doc_id", "da", "db", "keep_id",
          "min_container").contains)
      idCols.foreach { c =>
        assert(!out.exists(_.getAs[Long](c) == 2L),
          s"$name leaked null doc via $c")
      }
    }
  }

  test("q71 tf-idf: a term present in every doc scores 0; rarer beats common") {
    // 'x' in all 4 docs => idf=0 => never a top term when positives exist.
    // doc0's distinguishing term 'rare' (df=1): score 2*ln(4) tops tf=1
    // common terms.
    val dir = docsDir(Seq(
      (0L, "x rare rare y", "en", "s"), (1L, "x y", "en", "s"),
      (2L, "x y", "en", "s"), (3L, "x z", "en", "s")))
    val out = q("q71_tfidf_topk", dir)
      .filter(col("doc_id") === 0 && col("rank") === 1).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("term") === "rare")
    assert(math.abs(out(0).getAs[Double]("score") - 2 * math.log(4.0)) < 1e-5)
    // the everywhere-term scores exactly 0 wherever it appears
    val xs = q("q71_tfidf_topk", dir).filter(col("term") === "x")
      .select("score").as[Double].collect()
    assert(xs.forall(_ === 0.0))
  }

  test("q72 vocab coverage: ranks by count desc then token, cum_cov ends at 1") {
    val dir = docsDir(Seq(
      (0L, "b b b a a c", "en", "s"), (1L, "a", "en", "s")))
    // counts: a=3 b=3 c=1; tie a/b broken by token asc
    val out = q("q72_vocab_coverage", dir).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "a", 3L), (2L, "b", 3L), (3L, "c", 1L)))
    val cov = out.map(_.getDouble(3)).toSeq
    assert(cov === cov.sorted)
    assert(math.abs(cov.last - 1.0) < 1e-9)
  }

  test("q73 containment: strict subsets only, 2x size band, doc fan-out") {
    val dir = docsDir(Seq(
      (0L, "a b", "en", "s"),             // ws {a,b}: subset of doc3's set
      (1L, "b a a b", "en", "s"),         // same SET as doc0 -> fans out
      (2L, "a b c", "en", "s"),           // subset of doc3 but 3*2 > 6? sz 3*2=6 == sz_b 6 -> kept
      (3L, "a b c d e f", "en", "s"),     // the container
      (4L, "a z", "en", "s")))            // z not in doc3 -> not contained
    val out = q("q73_subset_containment", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // sets {a,b} (docs 0,1) and {a,b,c} (doc 2) are contained in set(doc3);
    // {a,z} is not; doc3 itself is not (equal set excluded by strict size)
    assert(out === Seq((0L, 1L, 3L), (1L, 1L, 3L), (2L, 1L, 3L)))
  }

  /** 16 one-hot 64-dim centroids + crafted tail vectors. */
  private def oneHot(i: Int, extra: Seq[(Int, Float)] = Nil): Array[Float] = {
    val a = Array.fill(64)(0f)
    a(i) = 1f
    extra.foreach { case (j, v) => a(j) = v }
    a
  }

  test("q74 semdedup: near-dups group within a cluster, never across") {
    // 19 vectors -> nlist = ceil(sqrt(19)) = 5 cells (centroids = the
    // one-hot vectors 0..4). The orthogonal tail 5..15 ties at cos 0 to
    // every centroid and lands in cell 0 (smaller-cid tie-break) —
    // mutually orthogonal, so nothing groups there. 16,17 sit near
    // centroid 3 (cos≈1 -> grouped with vec 3); 18 leans to centroid 4
    // but has cos 0.74 to vec 16 — cross-cluster, so SemDeDup must NOT
    // pair them (that's the blocking semantics).
    val base = (0 until 16).map(i => (i.toLong, oneHot(i), i))
    val tail = Seq(
      (16L, oneHot(3, Seq(4 -> 0.1f)), 0),
      (17L, oneHot(3, Seq(4 -> 0.12f)), 0),
      (18L, oneHot(4, Seq(3 -> 0.9f)), 0))
    val dir = embDir(base ++ tail)
    val out = q("q74_semdedup_groups", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 4L)) // 5 = ceil(sqrt(19)) cells
    assert(out(0L) === ((12L, 0L, 0L, 0L))) // {0,5..15}: orthogonal, no pairs
    assert(out(3L) === ((3L, 3L, 1L, 2L)))  // {3,16,17}: one group, 2 dropped
    assert(out(4L) === ((2L, 2L, 1L, 1L)))  // {4,18}: one group, 1 dropped
    Seq(1L, 2L).foreach { c => assert(out(c) === ((1L, 0L, 0L, 0L))) }
  }

  test("q75 int8 quantization: error bounded by scale/2, cosine preserved") {
    val dir = "/root/testdata/sf0.001"
    val out = q("q75_quantize_int8", dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // max|x| for these embeddings is ~O(1) => scale ~ 1/127, and the
      // per-component error bound is scale/2 ~ 0.004
      assert(r.getAs[Double]("max_abs_err") < 0.01)
      assert(r.getAs[Double]("avg_cos") > 0.999)
      assert(r.getAs[Double]("avg_l2_err") > 0)
    }
  }

  test("q77 domain mix: temperature flattens the mix; sample is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = q("q77_domain_mix", dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // T=2 weights sit between uniform and proportional: the largest
    // stratum's quota share must be BELOW its data share, the smallest
    // stratum's above its data share (that's what "temperature
    // sampling" buys), and quotas never exceed availability.
    val nAvail = out.values.map(_._1).sum.toDouble
    val nQuota = out.values.map(_._2).sum.toDouble
    val (maxLang, minLang) =
      (out.maxBy(_._2._1)._1, out.minBy(_._2._1)._1)
    assert(out(maxLang)._2 / nQuota < out(maxLang)._1 / nAvail)
    assert(out(minLang)._2 / nQuota > out(minLang)._1 / nAvail)
    out.values.foreach { case (avail, target, taken, _) =>
      assert(target <= avail)
      assert(taken === target) // quota below availability on this corpus
    }
    // determinism: running twice yields the identical sample checksum
    val again = q("q77_domain_mix", dir).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    out.foreach { case (l, (_, _, _, ck)) => assert(again(l) === ck) }
  }

  test("q78 bloom prefilter: no false negatives at every SF tested") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = q("q78_bloom_prefilter", dir).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (probed, maybe, seen, fp) = (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))
        // Bloom guarantee: every exactly-seen doc is maybe-seen
        assert(maybe >= seen, r.toString)
        // and false positives are exactly the excess
        assert(fp === maybe - seen, r.toString)
        assert(probed >= maybe)
      }
      // the seen set is non-degenerate on this corpus: some true hits
      assert(rows.map(_.getLong(3)).sum > 0)
    }
  }

  test("q79 cdc: identical docs dedup fully; chunks re-sync after an insertion") {
    val words = (0 until 200).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, words, "en", "s"),
      (1L, words, "en", "s"),            // exact copy: keeps nothing
      (2L, "x y z " + words, "en", "s"))) // shifted copy: re-syncs
    val out = q("q79_cdc_chunk_dedup", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(out(0L)._1 === out(0L)._2)    // first doc keeps every chunk
    assert(out(1L)._2 === 0L)            // exact copy keeps nothing
    assert(out(1L)._3 === "")
    // THE content-defined property: after the 3-token insertion the
    // rolling boundaries re-synchronize, so most of doc2's chunks are
    // literal repeats of doc0's and dedup away — fixed windows (q61)
    // would keep every one of them.
    val (chunks2, kept2, _) = out(2L)
    assert(kept2 < chunks2 / 2, out(2L).toString)
    assert(kept2 >= 1L) // the shifted head itself is novel
  }

  test("q80 containment sketch: an exact excerpt is found with est = cont = 1") {
    val body = (0 until 80).map(i => s"t${(i * 11) % 37}").mkString(" ")
    val excerpt = body.split(" ").take(20).mkString(" ")
    val other = (0 until 40).map(i => s"z${i % 13}").mkString(" ")
    val dir = docsDir(Seq(
      (0L, excerpt, "en", "s"), (1L, body, "en", "s"),
      (2L, other, "en", "s")))
    val rows = q("q80_containment_sketch", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    // the excerpt's whole sketch lands in the body -> est 1.0, and the
    // exact verify confirms cont 1.0
    val hit = rows.filter(t => t._1 == 0L && t._2 == 1L)
    assert(hit.length === 1, rows.mkString(";"))
    assert(hit.head._3 === 1.0)
    assert(hit.head._4 === 1.0)
    // the unrelated doc never pairs
    assert(!rows.exists(t => t._1 == 2L || t._2 == 2L))
  }

  test("q76 pq/adc: a vector equal to a codebook entry gets its exact distance") {
    // Magnitude-scaled one-hots keep every ADC distinct: vector i has
    // value 1+0.1*i at position i. Vec 20 duplicates codebook vector 5
    // exactly, so its sub-0 code is cid=5 (distance 0) and its zero
    // subvectors code to the zero slices of cid 0 — every looked-up
    // distance except sub 0's is 0, and ADC(20) telescopes to
    // ||q - c5||^2 = 1^2 + 1.5^2 = 3.25 (q = vec 0). Vec 5 itself must
    // land on the identical value, and both fit in the top-10.
    def scaled(i: Int): Array[Float] = {
      val a = Array.fill(64)(0f)
      a(i) = 1f + 0.1f * i
      a
    }
    val base = (0 until 16).map(i => (i.toLong, scaled(i), i))
    val dup = Seq((20L, scaled(5), 0))
    val dir = embDir(base ++ dup)
    val out = q("q76_pq_adc", dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(20L) - 3.25) < 1e-9)
    assert(math.abs(out(5L) - 3.25) < 1e-9)
  }
}
