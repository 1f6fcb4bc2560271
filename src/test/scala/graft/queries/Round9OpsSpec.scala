package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Round-9 operators on constructed micro-fixtures, driven through the
  * exact SparkEntry query functions the driver gate runs. The DIMSUM
  * tests pin the arm's two defining properties on hand-built corpora:
  * the exact regime (rare pairs keep p = 1, so their cosines equal the
  * exact arm's), and the whale regime (popular-pair emissions are
  * down-sampled to ~γ·|items| — the sub-quadratic shuffle DIMSUM
  * exists for).
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  private def basketDir(baskets: Seq[(Long, Seq[Long])]): String = {
    // one order per customer; basket items via lineitem
    val dir = tempDir("r9cf")
    baskets.map { case (u, _) => (u * 100, u) }
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    baskets.flatMap { case (u, ps) => ps.map(p => (u * 100, p)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  // ---- q214 DIMSUM-sampled CF ----

  test("q214: rare pairs (sqrt(n1*n2) <= gamma) are never sampled away " +
    "and their estimates equal the exact arm's cosines") {
    // every item appears in <= 3 baskets -> sqrt(n1*n2) <= 3 < 8 = γ,
    // so p = 1 for every pair: DIMSUM must equal exact CF verbatim.
    val dir = basketDir(Seq(
      1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 3L)))
    val dimsum = q("q214_item_item_cf_dimsum", dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("similar"), r.getAs[Double]("cosine_est")))).toMap
    // same fixture as the q199 spec: n=(3,2,1); co(1,2)=2, co(1,3)=1
    assert(dimsum((1L, 1)) === ((2L, 0.816497))) // 2/sqrt(3*2)
    assert(dimsum((1L, 2)) === ((3L, 0.57735)))  // 1/sqrt(3*1)
    assert(dimsum((2L, 1)) === ((1L, 0.816497)))
    assert(dimsum((3L, 1)) === ((1L, 0.57735)))
    assert(dimsum.size === 4)
  }

  test("q214: whale-popular pairs are down-sampled sub-quadratically " +
    "while the estimator stays centered") {
    // 400 customers all buying the same 2 blockbuster items: the
    // exact arm ships 400 co-count rows for the pair; DIMSUM's
    // emission probability is γ/√(400·400) = 8/400 = 0.02, so the
    // expected emitted count is 8 — two orders of magnitude below the
    // exact exchange. The estimator divides the sampling back out, so
    // the estimate must still land near cosine = 1 (the draw is the
    // deterministic md5 sequence — this asserts the REALIZED count,
    // not a tolerance band).
    val dir = basketDir((1L to 400L).map(u => u -> Seq(1L, 2L)))
    val out = q("q214_item_item_cf_dimsum", dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("similar")) ->
        r.getAs[Double]("cosine_est")).toMap
    // realized emissions under the md5 draw: c = round(est * 400 / 2^20
    // * pq) — recover it from the estimate and pin the bound
    val est = out((1L, 2L))
    val pq = math.round(math.min(1.0, 8.0 / 400.0) * (1L << 20))
    val c = math.round(est * math.sqrt(400.0 * 400.0) * pq / (1L << 20))
    assert(c >= 1L && c <= 32L, // binomial(400, 0.02): far below 400
      s"emitted $c pairs; expected ~8, far below the 400 exact rows")
    // unbiasedness sanity: the estimate reconstructs toward 1.0
    assert(est > 0.2 && est < 3.0, s"estimate $est too far from 1.0")
    // symmetric direction carries the identical estimate
    assert(out((2L, 1L)) === est)
  }

  test("q214: estimates are deterministic across runs (md5 draw, " +
    "no RNG state)") {
    val dir = basketDir((1L to 50L).map(u =>
      u -> (1L to 6L).filter(p => (u + p) % 3 != 0).map(identity)))
    val a = q("q214_item_item_cf_dimsum", dir).collect().toSeq
    val b = q("q214_item_item_cf_dimsum", dir).collect().toSeq
    assert(a === b)
  }

  // ---- q215 CoW step interleave ----

  private def ordersDateDir(n: Int): String = {
    val dir = tempDir("r9cow")
    (1 to n).map(i => (i.toLong, f"2024-${i % 3 + 1}%02d-15"))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("q215: sibling JSONB keys survive two step commits; the overlap " +
    "group carries both payloads") {
    val out = q("q215_cow_step_interleave", ordersDateDir(24)).collect()
      .map(r => (r.getAs[Boolean]("has_ql"), r.getAs[Boolean]("has_tc"))
        -> r).toMap
    // PIDs 1..24: evens get quicklook, %3 get tilecache, %6 get BOTH
    val both = out((true, true))
    assert(both.getAs[Long]("n") === 4L) // 6, 12, 18, 24
    assert(both.getAs[Long]("sum_qf") === Seq(6L, 12L, 18L, 24L)
      .map(_ % 97).sum) // quicklook payload intact after step 2
    assert(both.getAs[Long]("sum_tf") === Seq(6L, 12L, 18L, 24L)
      .map(_ % 89).sum)
    assert(out((true, false)).getAs[Long]("n") === 8L)  // evens not %3
    assert(out((false, true)).getAs[Long]("n") === 4L)  // 3, 9, 15, 21
    assert(out((false, false)).getAs[Long]("n") === 8L)
    // exactly three commits: overwrite + two step updates
    assert(out.values.forall(_.getAs[Long]("versions") === 3L))
  }

  // ---- q216 monitor-loop drain ----

  test("q216: the 3-batch drain ingests once per key (poison replay " +
    "dies in the anti-join), steps retry deterministically, audit " +
    "counts 2 steps x 3 ticks") {
    val out = q("q216_monitor_loop_drain", ordersDateDir(60)).collect()
      .map(r => (r.getAs[Boolean]("Downloaded"),
        r.getAs[Boolean]("ARDProduct")) -> r).toMap
    // PIDs 1..60: download fails %7 (8 scenes), ard additionally %5
    val dlFail = (1 to 60).count(_ % 7 == 0)
    val ardOk = (1 to 60).count(p => p % 7 != 0 && p % 5 != 0)
    assert(out((false, false)).getAs[Long]("n") === dlFail.toLong)
    assert(out((true, true)).getAs[Long]("n") === ardOk.toLong)
    assert(out((true, false)).getAs[Long]("n") === (60 - dlFail - ardOk).toLong)
    // no replay survived: every group reports zero Invalid rows
    assert(out.values.forall(_.getAs[Long]("n_invalid") === 0L))
    assert(out.values.forall(_.getAs[Long]("audit_rows") === 6L))
  }

  // ---- q217 KMV set overlap ----

  test("q217: sets smaller than k take the exact path — estimate " +
    "equals exact and Jaccard is the true ratio") {
    // two event types over hand-built user-days: A = users 1..6 on one
    // day, B = users 4..9 -> |A∩B| = 3, |A∪B| = 9, J = 1/3. Both sets
    // are far below k = 1024, so kk < k and the estimator must
    // degrade to EXACT set algebra.
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val dir = tempDir("r9kmv")
    ((1L to 6L).map(u => (u, ts, u, "view", 1.0)) ++
      (4L to 9L).map(u => (u + 100, ts, u, "click", 1.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = q("q217_kmv_set_overlap", dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[String]("et_a") === "click")
    assert(row.getAs[Long]("n_a") === 6L)
    assert(row.getAs[Long]("exact_common") === 3L)
    assert(row.getAs[Long]("est_common") === 3L)  // exact path
    assert(row.getAs[Double]("est_jaccard") === 0.333333)
    assert(row.getAs[Boolean]("within_tol"))
  }

  // ---- q220 temperature resample ----

  test("q220: alpha=0.5 up-weights the low-resource source relative " +
    "to its corpus share") {
    // 96 docs from 'big', 4 from 'small': shares 96% / 4%, but
    // sqrt-weights are sqrt(96)=9.8 vs 2 -> small gets ~17% of the
    // budget (capped at its own size here) instead of 4%
    val dir = tempDir("r9tmp")
    ((1L to 96L).map(i => (i, "big")) ++
      (97L to 100L).map(i => (i, "small")))
      .toDF("doc_id", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q220_temperature_resample", dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // quota_small = min(4, round(500 * 2 / 11.798)) = 4 (capped)
    assert(out("small").getAs[Long]("quota") === 4L)
    assert(out("small").getAs[Long]("taken") === 4L)
    // quota_big = min(96, round(500 * 9.798 / 11.798)) = 96 (capped)
    assert(out("big").getAs[Long]("quota") === 96L)
    // the un-capped RATIO is the point: 2/11.8 = 17% >> 4% share
    assert(out("small").getAs[Long]("n") === 4L)
    assert(out("big").getAs[Long]("n") === 96L)
  }

  // ---- q221 hard-negative mining ----

  test("q221: the mined negative is the nearest WRONG-label vector, " +
    "same-label near-duplicates are skipped") {
    implicit val s = spark
    val dir = tempDir("r9hnm")
    // anchor 0 (label A) at (1,0); 11 = same label, nearly identical
    // (must be SKIPPED); 12 = label B at 45 degrees (the hard
    // negative); 13 = label B, orthogonal (rank 2)
    Seq(
      (0L, "A", Seq(1.0, 0.0)), (11L, "A", Seq(0.99, 0.01)),
      (12L, "B", Seq(1.0, 1.0)), (13L, "B", Seq(0.0, 1.0)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q221_hard_negative_mining", dir).collect()
      .map(r => (r.getAs[Long]("anchor"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("negative"), r.getAs[Long]("cos_micro")))).toMap
    assert(out((0L, 1)) === ((12L, 707107L))) // cos 45 deg
    assert(out((0L, 2)) === ((13L, 0L)))      // orthogonal
    // exactly anchor 0's two rows; the same-label near-dup 11 is
    // never mined as a negative
    assert(out.size === 2)
    assert(out.values.map(_._1).toSet === Set(12L, 13L))
  }

  // ---- q227 capped + DIMSUM composed CF ----

  test("q227: with every capped item count below gamma (p = 1), the " +
    "composed arm equals q211's capped-exact output verbatim") {
    // 6 customers x small baskets: capped sets = full sets (baskets
    // <= 8) and every n_i <= 6 so sqrt(n1*n2) <= 6 < 8 = gamma -> the
    // Bernoulli draw always passes and the estimator is exact under
    // the cap's contract: the two arms must agree bit-for-bit.
    val dir = basketDir((1L to 6L).map(u =>
      u -> (1L to 5L).filter(p => (u + p) % 2 == 0)))
    val composed = q("q227_item_item_cf_capped_dimsum", dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("similar"), r.getAs[Double]("cosine_est")))).toMap
    val cappedOnly = q("q211_item_item_cf_capped", dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("similar"), r.getAs[Double]("cosine")))).toMap
    assert(composed === cappedOnly)
  }

  test("q227: a whale basket is capped before pair enumeration — no " +
    "uncapped item ever appears in the output") {
    // one customer buys 40 items: the cap keeps 8, so any similar/part
    // id outside the md5-capped set proves the explode ran uncapped
    val dir = basketDir(Seq(1L -> (1L to 40L)))
    val out = q("q227_item_item_cf_capped_dimsum", dir).collect()
    val ids = out.flatMap(r => Seq(r.getAs[Long]("part"),
      r.getAs[Long]("similar"))).toSet
    assert(ids.size <= 8, s"${ids.size} distinct items in output")
    // and the capped set still produces rankings (8 items, cosines 1)
    assert(out.nonEmpty)
  }

  // ---- q224 diff-in-diff ----

  private def md5Arm(u: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(u.toString.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(8)
    (java.lang.Long.parseLong(hex, 16) % 2).toInt
  }

  test("q224: a treatment-only post-period lift nets out the shared " +
    "trend exactly") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val pre = at("2024-01-10 00:00:00")
    val post = at("2024-01-20 00:00:00")
    // every user: pre 10, post 30 (shared trend +20); treated users
    // get +100 cents more post -> did = +100 exactly
    val users = (1L to 12L)
    val rows = users.zipWithIndex.flatMap { case (u, i) =>
      val lift = if (md5Arm(u) == 1) 1.0 else 0.0
      Seq((i * 2 + 1L, pre, u, "view", 0.10),
        (i * 2 + 2L, post, u, "view", 0.30 + lift))
    }
    val dir = eventsDir(rows)
    val r = q("q224_diff_in_diff", dir).collect().head
    val nT = users.count(md5Arm(_) == 1)
    assert(r.getAs[Long]("n_treat") === nT.toLong)
    assert(r.getAs[Long]("n_ctrl") === (12L - nT))
    assert(r.getAs[Double]("mean_pre_t") === 10.0)
    assert(r.getAs[Double]("mean_pre_c") === 10.0)
    assert(r.getAs[Double]("mean_post_c") === 30.0)
    assert(r.getAs[Double]("mean_post_t") === 130.0)
    assert(r.getAs[Double]("did_cents") === 100.0)
  }

  private def eventsDir(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("r9ev")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // ---- q225 winsorized metrics ----

  test("q225: nearest-rank p05/p95 clip exactly one value each on " +
    "1..20, shifting the mean by -0.05") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = (1 to 20).map(i =>
      (i.toLong, at("2024-01-01 10:00:00"), i.toLong, "view", i.toDouble))
    val r = q("q225_winsorized_metrics", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("n") === 20L)
    assert(r.getAs[Long]("p05_micro") === 1000000L)  // rank ceil(1) = 1st
    assert(r.getAs[Long]("p95_micro") === 19000000L) // rank ceil(19) = 19th
    // clamp(20 -> 19): sum 210 - 1 = 209 -> mean 10.45 (raw 10.5)
    assert(r.getAs[Double]("winsorized_mean") === 10.45)
    assert(r.getAs[Double]("raw_mean") === 10.5)
  }

  // ---- q222 trailing HLL distinct ----

  test("q222: the 7-day register merge window includes day T-6 and " +
    "excludes older days (exact side pins the calendar)") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tempDir("r9hll")
    Seq(
      (1L, at("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (2L, at("2024-01-01 11:00:00"), 2L, "view", 1.0),
      (3L, at("2024-01-03 10:00:00"), 3L, "view", 1.0),
      (4L, at("2024-01-10 10:00:00"), 9L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q222_hll_trailing_distinct", dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    assert(out("2024-01-01").getAs[Long]("exact_distinct") === 2L)
    // day 3's window reaches back to day 1: all three users
    assert(out("2024-01-03").getAs[Long]("exact_distinct") === 3L)
    // day 10's window starts at day 4: only user 9
    assert(out("2024-01-10").getAs[Long]("exact_distinct") === 1L)
    // estimates exist and are positive for every grid day
    assert(out.values.forall(_.getAs[Double]("est_distinct") > 0.0))
  }

  // ---- q223 curation pipeline ----

  test("q223: dedup drops the copy, quality floors drop short and " +
    "stopword-free docs, survivors all reach the manifest") {
    val dir = tempDir("r9cur")
    Seq(
      (1L, "the cat sat on a mat", "en", "A"),
      (2L, "the cat sat on a mat", "en", "A"), // exact dup -> dropped
      (3L, "x y z", "en", "B"),                // < 5 tokens -> dropped
      (4L, "w1 w2 w3 w4 w5 w6", "en", "B"),    // 0 stopwords -> dropped
      (5L, "to be or not to be today", "en", "B"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q223_curation_pipeline", dir).collect()
    // survivors: doc 1 (6 tokens) + doc 5 (7 tokens), quotas cover both
    assert(out.map(_.getAs[Long]("n_docs")).sum === 2L)
    assert(out.map(_.getAs[Long]("sum_tokens")).sum === 13L)
    // every manifest row names a real split
    assert(out.map(_.getAs[String]("split")).toSet
      .subsetOf(Set("train", "val", "test")))
  }

  // ---- q219 HITS ----

  test("q219: two-round unnormalized HITS equals hand-computed " +
    "integer path counts") {
    // u1 buys {1,2}, u2 buys {2}: h1 = (2,1); a1(1)=2, a1(2)=3;
    // h2(u1)=5, h2(u2)=3; a2(1)=5, a2(2)=8
    val dir = basketDir(Seq(1L -> Seq(1L, 2L), 2L -> Seq(2L)))
    val out = q("q219_hits", dir).collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("id")) ->
        ((r.getAs[Long]("raw"), r.getAs[Double]("score")))).toMap
    assert(out(("authority", 2L)) === ((8L, 1.0)))
    assert(out(("authority", 1L)) === ((5L, 0.625)))
    assert(out(("hub", 1L)) === ((5L, 1.0)))
    assert(out(("hub", 2L)) === ((3L, 0.6)))
  }

  // ---- q228 MMR diversified top-k ----

  test("q228: MMR prefers a diverse lower-relevance candidate over a " +
    "redundant higher-relevance one, and drains small pools early") {
    implicit val s = spark
    val dir = tempDir("r9mmr")
    // query q=(1,0,0). B=(2.1,1,0) has top relevance (step 1).
    // A=(2.05,1,0) outranks C=(2,0,1) on relevance (898768 > 894427
    // micro) but is nearly identical to B (sim ~0.99996), so MMR's
    // 7·rel − 3·msim scores C ~3.84e6 > A ~3.29e6: step 2 must pick
    // the DIVERSE C — the flip pure top-k cannot produce.
    Seq(
      (0L, "q", Seq(1.0, 0.0, 0.0)), (1L, "x", Seq(2.05, 1.0, 0.0)),
      (2L, "x", Seq(2.1, 1.0, 0.0)), (3L, "x", Seq(2.0, 0.0, 1.0)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q228_mmr_diversified_topk", dir).collect()
      .map(r => r.getAs[Int]("step") ->
        ((r.getAs[Long]("vec_id"), r.getAs[Long]("rel_micro")))).toMap
    assert(out(1) === ((2L, 902861L))) // highest relevance seeds
    assert(out(2)._1 === 3L)           // diverse beats redundant
    assert(out(3)._1 === 1L)           // redundant last
    // 3 candidates < k=8: the greedy loop stops when the pool drains
    // (matching the oracle's empty LIMIT-1 steps) instead of crashing
    assert(out.size === 3)
  }

  // ---- q229 feature-hashing linear scorer ----

  test("q229: logits are exactly linear in token occurrences and " +
    "weights stay on the md5 integer grid") {
    implicit val s = spark
    val dir = tempDir("r9fh")
    // same token repeated: doc y's logit must be EXACTLY 2x doc x's
    // (the hashing trick is a linear map of the count vector)
    Seq((1L, "x", "alpha"), (2L, "y", "alpha alpha"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q229_hashed_linear_score", dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val w = out("x").getAs[Long]("sum_logit_micro")
    assert(out("y").getAs[Long]("sum_logit_micro") === 2 * w)
    assert(w >= -1000L && w <= 1000L) // md5 % 2001 - 1000 grid
    // band is the 20000-micro floor of the per-doc logit
    assert(out("x").getAs[Long]("band") ===
      math.floor(w.toDouble / 20000.0).toLong)
    assert(out.values.map(_.getAs[Long]("n_docs")).sum === 2L)
  }

  // ---- q230 Bradley–Terry ----

  test("q230: two-item MM fixpoint recovers the w_a/w_b strength " +
    "ratio in floored micro units") {
    // u1: a>b, u2: a>b, u3: b>a  ->  n_ab=3, w_a=2, w_b=1.
    // Round 1: term = 3e12 div 2e6 = 1.5e6 both; s_a = 2e12 div
    // 1.5e6 = 1333333, s_b = 666666; rounds 2..5 are a fixpoint
    // (term = 3e12 div 1999999 = 1500000). BT MLE: p(a beats b) =
    // s_a/(s_a+s_b) = 2/3 exactly.
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      (1L, "a"), (2L, "a"), (3L, "b"),            // u1: a twice, b once
      (4L, "a"), (5L, "a"), (6L, "a"), (7L, "b"), // u2
      (8L, "b"), (9L, "b"), (10L, "a"))           // u3: b wins
        .zipWithIndex.map { case ((id, ty), i) =>
          val u = if (id <= 3) 1L else if (id <= 7) 2L else 3L
          (id, ts(i), u, ty, 1.0)
        }
    val out = q("q230_bradley_terry", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("a").getAs[Long]("strength_micro") === 1333333L)
    assert(out("b").getAs[Long]("strength_micro") === 666666L)
    assert(out("a").getAs[Int]("rank") === 1)
    assert(out("a").getAs[Long]("wins") === 2L)
    assert(out("b").getAs[Long]("matches") === 3L)
  }

  // ---- q231 quantile normalization ----

  test("q231: equal within-source quantiles map to the same global " +
    "score regardless of each source's raw scale") {
    implicit val s = spark
    val dir = tempDir("r9qn")
    // srcA scores {1,2}, srcB scores {10,20}: global order 1,2,10,20.
    // Both sources' medians (k/n = 1/2 -> gr = 2) normalize to 2 and
    // both maxima (gr = 4) to 20 — srcB's inflated raw scale cancels.
    Seq((1L, "srcA", "w"), (2L, "srcA", "w w"),
      (3L, "srcB", Seq.fill(10)("w").mkString(" ")),
      (4L, "srcB", Seq.fill(20)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q231_quantile_normalize", dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("score")) ->
        r.getAs[Long]("normalized")).toMap
    assert(out(("srcA", 1L)) === 2L)
    assert(out(("srcB", 10L)) === 2L)  // same quantile, same output
    assert(out(("srcA", 2L)) === 20L)
    assert(out(("srcB", 20L)) === 20L)
  }

  // ---- q232 k-center coreset ----

  test("q232: farthest-point traversal picks the antipode, then the " +
    "orthogonal, and leaves the near-duplicate of the seed for last") {
    implicit val s = spark
    val dir = tempDir("r9kc")
    // seed 0=(1,0); 1=(1,0.01) is a near-dup of the seed (dist 50
    // micro); 2=(-1,0) is the antipode (dist 2e6); 3=(0,1) is
    // orthogonal to both 0 and 2 (dist 1e6)
    Seq((0L, "s", Seq(1.0, 0.0)), (1L, "s", Seq(1.0, 0.01)),
      (2L, "s", Seq(-1.0, 0.0)), (3L, "s", Seq(0.0, 1.0)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q232_kcenter_coreset", dir).collect()
    assert(out.length === 1)
    val r = out.head
    // pool drained before k=8: all 4 vectors become centers
    assert(r.getAs[Long]("k_centers") === 4L)
    // first greedy pick is the antipode at the metric's full distance
    assert(r.getAs[Long]("d2_micro") === 2000000L)
    // the greedy ORDER is pinned through the monotonicity flag: had
    // the traversal picked the near-dup (dist 50) before the antipode
    // (2e6) or the orthogonal (1e6), the distance sequence would not
    // be non-increasing and this flag would read 0
    assert(r.getAs[Long]("dist_monotone") === 1L)
    assert(r.getAs[Long]("radius_le_last") === 1L)
    assert(r.getAs[Long]("centers_separated") === 1L)
  }

  // ---- q233 nucleus (top-p) selection ----

  private def srcDocsDir(docs: Seq[(Long, String, Int)]): String = {
    implicit val s = spark
    val dir = tempDir("r9np")
    docs.map { case (id, src, nTok) =>
      (id, src, Seq.fill(nTok)("w").mkString(" ")) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q233: the cut stops at the first score crossing 80% of the " +
    "mass, and ties at the cutoff are all kept") {
    // srcA masses desc: 10, 15, 19 vs thr ceil(0.8*20)=16 -> cutoff 4
    // keeps 3 docs / 19 mass; srcB {3,3,2,2}: thr 8, sc=3 carries
    // only 6, so the cut lands on 2 and BOTH sc=2 docs stay
    val dir = srcDocsDir(Seq(
      (1L, "srcA", 10), (2L, "srcA", 5), (3L, "srcA", 4),
      (4L, "srcA", 1),
      (5L, "srcB", 3), (6L, "srcB", 3), (7L, "srcB", 2),
      (8L, "srcB", 2)))
    val out = q("q233_nucleus_select", dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("srcA").getAs[Long]("cutoff_score") === 4L)
    assert(out("srcA").getAs[Long]("n_kept") === 3L)
    assert(out("srcA").getAs[Long]("mass_kept") === 19L)
    assert(out("srcA").getAs[Long]("share_micro") === 950000L)
    assert(out("srcB").getAs[Long]("cutoff_score") === 2L)
    assert(out("srcB").getAs[Long]("n_kept") === 4L) // ties kept
    assert(out("srcB").getAs[Long]("share_micro") === 1000000L)
  }

  // ---- q234 split conformal calibration ----

  test("q234: the gated row matches an independent JVM-side replay " +
    "of the md5 split and nearest-rank quantile") {
    // 100 docs with token counts 1..100; the expectation below
    // re-derives the split with java MessageDigest (not Spark md5)
    // and the quantile with plain Scala — an independent oracle
    val docs = (1L to 100L).map(i => (i, "s", i.toInt))
    val out = q("q234_conformal_calibration", srcDocsDir(docs)).head()
    def isCal(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cal:$id".getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString // first 8 chars
      java.lang.Long.parseLong(hex, 16) % 5 == 0
    }
    val cal = docs.filter(d => isCal(d._1)).map(_._3.toLong).sorted
    val test = docs.filterNot(d => isCal(d._1)).map(_._3.toLong)
    val idx = (9 * (cal.size + 1) + 9) / 10 // ceil((n+1)*0.9)
    val qhat = cal(idx - 1)
    val covered = test.count(_ <= qhat).toLong
    assert(out.getAs[Long]("n_cal") === cal.size.toLong)
    assert(out.getAs[Long]("qhat") === qhat)
    assert(out.getAs[Long]("n_test") === test.size.toLong)
    assert(out.getAs[Long]("n_covered") === covered)
    assert(out.getAs[Long]("coverage_micro") ===
      covered * 1000000L / test.size)
    // the conformal promise itself on this realization
    assert(out.getAs[Long]("coverage_micro") >= 850000L)
  }

  // ---- q235 l-diversity ----

  test("q235: a group is risky when its distinct sensitive values " +
    "fall below l, and coarsening can repair it") {
    implicit val s = spark
    val dir = tempDir("r9ld")
    // (nat=1, balb=0): segs A,B,C -> safe; (1,1): A,A -> risky(2 rows);
    // (2,0): A,B -> risky(2 rows). Coarsened to nat alone: nat=1 has
    // {A,B,C} (repaired), nat=2 still {A,B}.
    Seq((1L, 500.0, "A"), (1L, 500.0, "B"), (1L, 500.0, "C"),
      (1L, 1500.0, "A"), (1L, 1500.0, "A"),
      (2L, 500.0, "A"), (2L, 500.0, "B"))
      .toDF("c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = q("q235_l_diversity", dir).collect()
      .map(r => r.getAs[Int]("level") -> r).toMap
    assert(out(0).getAs[Long]("n_groups") === 3L)
    assert(out(0).getAs[Long]("risky_groups") === 2L)
    assert(out(0).getAs[Long]("risky_rows") === 4L)
    assert(out(1).getAs[Long]("n_groups") === 2L)
    assert(out(1).getAs[Long]("risky_groups") === 1L)
    assert(out(1).getAs[Long]("risky_rows") === 2L)
  }

  // ---- q236 budget waterfilling ----

  test("q236: the waterline clips big sources, keeps small ones " +
    "whole, and spends the budget exactly when it divides evenly") {
    // caps A=10, B=2, C=8; budget = 60% of 20 = 12. Ranked (2,8,10):
    // only i=1 fits (2 + 2*2 = 6 <= 12), so L = (12-2) div 2 = 5 ->
    // quotas B=2 (whole), C=5, A=5; sum = 12 = budget.
    val dir = srcDocsDir(
      (1L to 10L).map(i => (i, "A", 1)) ++
        (11L to 12L).map(i => (i, "B", 1)) ++
        (13L to 20L).map(i => (i, "C", 1)))
    val out = q("q236_budget_waterfill", dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("quota"), r.getAs[Long]("level")))).toMap
    assert(out("A") === ((5L, 5L)))
    assert(out("B") === ((2L, 5L)))
    assert(out("C") === ((5L, 5L)))
  }

  // ---- q237 nearest as-of join ----

  test("q237: nearest click wins in either direction, exact ties " +
    "prefer the earlier side, tolerance excludes, same-ts dedups") {
    def ts(sec: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val rows = Seq(
      // u1 p100 @1000: clicks @400 (|600|) vs @1500 (|500|) -> fwd
      (100L, ts(1000), 1L, "purchase", 0.0),
      (1L, ts(400), 1L, "click", 0.0), (2L, ts(1500), 1L, "click", 0.0),
      // u1 p101 @2000: @1500 (|500|) vs @2600 (|600|) -> backward
      (101L, ts(2000), 1L, "purchase", 0.0),
      (7L, ts(2600), 1L, "click", 0.0),
      // u2 exact tie |500| both sides -> earlier (backward) wins
      (200L, ts(1000), 2L, "purchase", 0.0),
      (3L, ts(500), 2L, "click", 0.0), (4L, ts(1500), 2L, "click", 0.0),
      // u3: only click is 9000s away -> outside the 30 min tolerance
      (300L, ts(1000), 3L, "purchase", 0.0),
      (8L, ts(10000), 3L, "click", 0.0),
      // u4: two clicks at the purchase's own ts -> min id, delta 0
      (400L, ts(1000), 4L, "purchase", 0.0),
      (5L, ts(1000), 4L, "click", 0.0), (6L, ts(1000), 4L, "click", 0.0),
      // u5: ADJACENT purchases — the later one must still see the
      // click BEHIND the earlier purchase. A struct(null,null) from
      // the neighboring purchase row is non-null, so a naive
      // last(..., ignoreNulls) would return it instead of skipping
      // to the real click (round-9 ADVICE bug).
      (500L, ts(1400), 5L, "purchase", 0.0),
      (501L, ts(1200), 5L, "purchase", 0.0),
      (9L, ts(1000), 5L, "click", 0.0),
      // u6: forward mirror — the earlier purchase sees the click
      // AHEAD of the later purchase
      (600L, ts(1000), 6L, "purchase", 0.0),
      (601L, ts(1200), 6L, "purchase", 0.0),
      (10L, ts(1400), 6L, "click", 0.0))
    val out = q("q237_nearest_asof", eventsDir(rows)).collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        ((r.getAs[Long]("click_id"), r.getAs[Long]("delta_us")))).toMap
    assert(out(100L) === ((2L, 500000000L)))
    assert(out(101L) === ((2L, -500000000L))) // click 2 serves both
    assert(out(200L) === ((3L, -500000000L))) // tie -> earlier
    assert(out(400L) === ((5L, 0L)))          // same-ts min id
    assert(!out.contains(300L))               // tolerance excludes
    assert(out(500L) === ((9L, -400000000L))) // skips adjacent purchase
    assert(out(501L) === ((9L, -200000000L)))
    assert(out(600L) === ((10L, 400000000L))) // forward mirror
    assert(out(601L) === ((10L, 200000000L)))
    assert(out.size === 8)
  }

  // ---- q238 data-constrained epoch allocation ----

  test("q238: a 4x budget splits by sqrt-weights and flags the " +
    "source pushed past 4 epochs") {
    // A: 9 tokens (w=3e6), B: 16 (w=4e6); corpus 25, budget 100.
    // alloc_A = 300e6 div 7e6 = 42 -> epochs 42e6 div 9 = 4666666
    // (> 4e6, flagged); alloc_B = 57 -> 3562500 (unflagged). The
    // sqrt temperature UP-weights the small source into repetition.
    val dir = srcDocsDir(Seq(
      (1L, "A", 3), (2L, "A", 3), (3L, "A", 3),
      (4L, "B", 8), (5L, "B", 8)))
    val out = q("q238_epoch_allocation", dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("A").getAs[Long]("alloc") === 42L)
    assert(out("A").getAs[Long]("epochs_micro") === 4666666L)
    assert(out("A").getAs[Int]("repeat_heavy") === 1)
    assert(out("B").getAs[Long]("alloc") === 57L)
    assert(out("B").getAs[Long]("epochs_micro") === 3562500L)
    assert(out("B").getAs[Int]("repeat_heavy") === 0)
  }

  // ---- q239 matryoshka truncation audit ----

  test("q239: truncation to the 16-dim prefix flips a rank the " +
    "audit must report as displacement, not loss") {
    implicit val s = spark
    val dir = tempDir("r9mk")
    def vec(parts: (Int, Double)*): Seq[Double] = {
      val a = Array.fill(20)(0.0); parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // q0 = e0 + e16. A = e0: full cos 0.707, prefix cos 1.0 (rank 1
    // truncated). B = 0.1·e0 + 0.1·e1 + e16: full cos 0.770 (rank 1
    // full), prefix cos 0.707 (rank 2 truncated) -> both survive
    // (overlap 2) but swap ranks (displacement 2)
    Seq((0L, "q", vec(0 -> 1.0, 16 -> 1.0)),
      (5L, "c", vec(0 -> 1.0)),
      (6L, "c", vec(0 -> 0.1, 1 -> 0.1, 16 -> 1.0)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q239_matryoshka_audit", dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("qid") === 0L)
    assert(out.head.getAs[Long]("overlap_at_10") === 2L)
    assert(out.head.getAs[Long]("rank_displacement") === 2L)
  }

  // ---- q240 ANN recall audit ----

  test("q240: a probe that skips the cell holding no true neighbors " +
    "keeps recall 1.0 at a sub-full scanned share") {
    implicit val s = spark
    val dir = tempDir("r9ra")
    // cents 1 = e1; cents 0 and 2..15 all = e0 (duplicate directions
    // tie-break to the smallest cid, so cell 0 holds every e0-ish
    // vector and cells 2..15 stay empty). Corpus (ids >= 5, which by
    // the q35 convention includes the duplicate-centroid rows 5..15):
    // eleven e0 copies + 16/17 near e0 (cell 0), 18/19 near e1
    // (cell 1). Query 0 = e0 probes cells {0, 2}: cell 1 is SKIPPED,
    // yet its 2 vectors are nowhere near the true top-10 -> recall
    // 1.0 while scanning 13 of 15. Query 1 = e1 probes {1, 0} = all.
    val rows = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))) ++
      (2L to 15L).map(i => (i, Seq(1.0, 0.0))) ++
      Seq((16L, Seq(1.0, 0.1)), (17L, Seq(1.0, 0.2)),
        (18L, Seq(0.1, 1.0)), (19L, Seq(0.2, 1.0)))
    rows.map { case (id, v) => (id, "x", v) }
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q240_ann_recall_audit", dir).collect()
      .map(r => r.getAs[Long]("qid") -> r).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 4L)) // 2-4 dup query 0
    assert(out(0L).getAs[Long]("recall_micro") === 1000000L)
    assert(out(0L).getAs[Long]("n_scanned") === 13L)
    assert(out(0L).getAs[Long]("scanned_micro") === 866666L) // 13/15
    assert(out(1L).getAs[Long]("recall_micro") === 1000000L)
    assert(out(1L).getAs[Long]("n_scanned") === 15L)
    assert(out(1L).getAs[Long]("scanned_micro") === 1000000L)
  }

  // ---- q243 top-k + OTHER rollup ----

  test("q243: the two biggest languages stay named, the tail folds " +
    "into OTHER, ties break on language") {
    implicit val s = spark
    val dir = tempDir("r9to")
    Seq((1L, "srcA", "en", 10L), (2L, "srcA", "en", 10L),
      (3L, "srcA", "en", 10L), (4L, "srcA", "fr", 20L),
      (5L, "srcA", "fr", 20L), (6L, "srcA", "de", 30L),
      (7L, "srcA", "es", 40L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q243_topk_other_rollup", dir).collect()
      .map(r => r.getAs[String]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars")))).toMap
    assert(out("en") === ((3L, 30L)))
    assert(out("fr") === ((2L, 40L)))
    assert(out("OTHER") === ((2L, 70L))) // de + es fold
    assert(out.size === 3)               // width is k+1, not |langs|
  }

  // ---- q244 Markov removal-effect attribution ----

  test("q244: removal effects match the hand-solved absorbing chain " +
    "and absent channels get zero effect") {
    // u1: view -> purchase; u2: view -> (null); u3: click -> purchase.
    // P: start->{view 2/3, click 1/3}; view->{conv 1/2, null 1/2};
    // click->conv 1. base = 666666 micro. Removing view OR click
    // each drops start-conversion to 333333 -> equal effects, shares
    // 500000 each; error/signup never occur -> effect 0.
    def ts(sec: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val rows = Seq(
      (1L, ts(10), 1L, "view", 0.0), (2L, ts(20), 1L, "purchase", 0.0),
      (3L, ts(10), 2L, "view", 0.0),
      (4L, ts(10), 3L, "click", 0.0), (5L, ts(20), 3L, "purchase", 0.0))
    val out = q("q244_markov_removal_attribution", eventsDir(rows))
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(out("view").getAs[Long]("base_micro") === 666666L)
    assert(out("view").getAs[Long]("effect_micro") === 333333L)
    assert(out("click").getAs[Long]("effect_micro") === 333333L)
    assert(out("view").getAs[Long]("share_micro") === 500000L)
    assert(out("click").getAs[Long]("share_micro") === 500000L)
    assert(out("error").getAs[Long]("effect_micro") === 0L)
    assert(out("signup").getAs[Long]("share_micro") === 0L)
  }

  // ---- q245 cascade audit ----

  test("q245: cheap stage routes the clear cases, only the " +
    "borderline band reaches the expensive scorer") {
    implicit val s = spark
    val dir = tempDir("r9ca")
    Seq(
      (1L, "s", "a b c"),                            // n=3 -> reject_cheap
      (2L, "s", Seq.fill(60)("w").mkString(" ")),    // n=60 -> accept_cheap
      (3L, "s", "the " + Seq.fill(9)("w").mkString(" ")), // 1/10 stop -> acc_exp
      (4L, "s", Seq.fill(10)("w").mkString(" ")))    // 0/10 -> rej_exp
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q245_cascade_audit", dir).collect()
      .map(r => r.getAs[String]("decision") ->
        ((r.getAs[Long]("n_docs"),
          r.getAs[Long]("expensive_frac_micro")))).toMap
    assert(out("reject_cheap")._1 === 1L)
    assert(out("accept_cheap")._1 === 1L)
    assert(out("accept_expensive")._1 === 1L)
    assert(out("reject_expensive")._1 === 1L)
    assert(out.values.head._2 === 500000L) // 2 of 4 scored expensively
  }

  // ---- q246 trending tokens ----

  test("q246: smoothed growth ranks a fresh token above a stable " +
    "one, and the df floor drops one-off noise") {
    implicit val s = spark
    val dir = tempDir("r9tt")
    // odd doc_ids = newer epoch. 'hot': 5 newer / 0 older (growth
    // 6e6); 'old': 5 newer / 10 older (545454); 'rare': 4 newer
    // (below the df floor, must vanish)
    val docs =
      Seq((1L, "s", "hot hot hot hot hot old old old old old"),
        (3L, "s", "rare rare rare rare"),
        (2L, "s", Seq.fill(10)("old").mkString(" ")))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q246_trending_tokens", dir).collect()
      .map(r => r.getAs[String]("token") ->
        ((r.getAs[Int]("rk"), r.getAs[Long]("growth_micro")))).toMap
    assert(out("hot") === ((1, 6000000L)))
    assert(out("old") === ((2, 545454L))) // (5+1)*1e6 div (10+1)
    assert(!out.contains("rare"))
  }

  // ---- q247 centroid drift ----

  test("q247: orthogonal half-centroids read as full drift, " +
    "identical halves as zero") {
    implicit val s = spark
    val dir = tempDir("r9cd")
    // label x: even half on e0, odd half on e1 -> cos 0 -> drift 1e6;
    // label y: both halves identical -> drift 0
    Seq((0L, "x", Seq(1.0, 0.0)), (2L, "x", Seq(1.0, 0.0)),
      (1L, "x", Seq(0.0, 1.0)), (3L, "x", Seq(0.0, 1.0)),
      (10L, "y", Seq(0.5, 0.5)), (11L, "y", Seq(0.5, 0.5)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q247_centroid_drift", dir).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    assert(out("x").getAs[Long]("drift_micro") === 1000000L)
    assert(out("x").getAs[Long]("n_a") === 2L)
    assert(out("x").getAs[Long]("n_b") === 2L)
    assert(out("y").getAs[Long]("drift_micro") === 0L)
  }

  // ---- q248 weak supervision ----

  private def langDocsDir(docs: Seq[(Long, String, String)]): String = {
    implicit val s = spark
    val dir = tempDir("r9ws")
    docs.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q248: two agreeing labelers decide regardless of the noise " +
    "vote; short docs fall to the md5 labeler (replayed with " +
    "MessageDigest)") {
    def v3(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lf:$id".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16) % 2).toInt
    }
    val docs = Seq(
      // v1=1 (2/50 stop), v2=1 (n>=40) -> 'en' whatever v3 says
      (1L, "en", "the a " + Seq.fill(48)("w").mkString(" ")),
      // v1=0, v2=0 (30<=n<40, no stopwords) -> 'other' whatever v3
      (2L, "fr", Seq.fill(35)("w").mkString(" ")),
      // short (v2 abstains), v1=1: yes=1+v3 of 2 votes ->
      // v3=1 -> 'en', v3=0 -> tie -> 'abstain'
      (3L, "en", "the " + Seq.fill(9)("w").mkString(" ")),
      // short, v1=0: yes=v3 -> v3=1 tie 'abstain', v3=0 'other'
      (4L, "fr", Seq.fill(10)("w").mkString(" ")))
    val p3 = if (v3(3L) == 1) "en" else "abstain"
    val p4 = if (v3(4L) == 1) "abstain" else "other"
    val preds = Map(1L -> "en", 2L -> "other", 3L -> p3, 4L -> p4)
    val actual = Map(1L -> true, 2L -> false, 3L -> true, 4L -> false)
    val covered = preds.count(_._2 != "abstain").toLong
    val correct = preds.count { case (id, p) =>
      (p == "en" && actual(id)) || (p == "other" && !actual(id)) }.toLong
    val out = q("q248_weak_supervision", langDocsDir(docs)).collect()
    val got = out.map(r => (r.getAs[String]("pred"),
      r.getAs[Boolean]("actual")) -> r.getAs[Long]("n_docs")).toMap
    val want = preds.toSeq.map { case (id, p) => (p, actual(id)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got === want)
    assert(out.head.getAs[Long]("coverage_micro") ===
      covered * 1000000L / 4)
    assert(out.head.getAs[Long]("accuracy_micro") ===
      correct * 1000000L / covered)
  }

  // ---- q249 F1 threshold sweep ----

  test("q249: the sweep lands on the cutoff that trades one false " +
    "positive for zero false negatives") {
    // scores: en x3 at 500000, fr x2 at 0, fr x1 at 500000.
    // t=500000: tp=3 fp=1 fn=0 -> f1 = 6e6 div 7 = 857142;
    // t=0: fp=3 -> 666666. Best = the higher cutoff.
    val docs = Seq(
      (1L, "en", "the w"), (2L, "en", "the w"), (3L, "en", "the w"),
      (4L, "fr", "w w"), (5L, "fr", "w w"), (6L, "fr", "the w"))
    val out = q("q249_f1_threshold", langDocsDir(docs)).head()
    assert(out.getAs[Long]("threshold_micro") === 500000L)
    assert(out.getAs[Long]("tp") === 3L)
    assert(out.getAs[Long]("fp") === 1L)
    assert(out.getAs[Long]("fn") === 0L)
    assert(out.getAs[Long]("f1_micro") === 857142L)
    assert(out.getAs[Long]("n_thresholds") === 2L)
  }

  // ---- q250 dataset card ----

  test("q250: the one-row datasheet counts exactly") {
    implicit val s = spark
    val dir = tempDir("r9dc")
    Seq((1L, "en", "s1", "w w"), (2L, "en", "s1", "w w"), // exact dup
      (3L, "fr", "s2", "w w w"), (4L, "de", "s2", "w w w w w"))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q250_dataset_card", dir).head()
    assert(out.getAs[Long]("n_docs") === 4L)
    assert(out.getAs[Long]("n_tokens") === 12L)
    assert(out.getAs[Long]("n_langs") === 3L)
    assert(out.getAs[Long]("n_sources") === 2L)
    assert(out.getAs[Long]("dup_rate_micro") === 250000L)
    assert(out.getAs[Long]("mean_tokens_micro") === 3000000L)
    assert(out.getAs[Long]("en_share_micro") === 500000L)
  }

  // ---- q252 retention audit ----

  test("q252: the horizon anchors to the table's own max ts and " +
    "splits months exactly") {
    def ts(str: String) = java.sql.Timestamp.valueOf(str)
    // max = 2024-02-15; 10-day horizon = 2024-02-05: both January
    // rows expired, both February rows fresh
    val rows = Seq(
      (1L, ts("2024-02-15 12:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-02-10 12:00:00"), 1L, "view", 0.0),
      (3L, ts("2024-01-20 12:00:00"), 2L, "view", 0.0),
      (4L, ts("2024-01-01 12:00:00"), 2L, "view", 0.0))
    val out = q("q252_retention_audit", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("month") -> r).toMap
    assert(out("2024-01").getAs[Long]("n_expired") === 2L)
    assert(out("2024-02").getAs[Long]("n_expired") === 0L)
    assert(out("2024-01").getAs[Long]("expired_share_micro")
      === 500000L)
  }

  // ---- q253 rate-limit simulation ----

  test("q253: the per-(user, hour) cap admits first-come and the " +
    "report splits by type") {
    def ts(str: String) = java.sql.Timestamp.valueOf(str)
    // u1 10:00 hour: 2 clicks admitted, 2 later views throttled;
    // u1 11:00 and u2 10:00 stay under the cap
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 10:00:01"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:00:02"), 1L, "view", 0.0),
      (4L, ts("2024-01-01 10:00:03"), 1L, "view", 0.0),
      (5L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0),
      (6L, ts("2024-01-01 10:30:00"), 2L, "click", 0.0),
      (7L, ts("2024-01-01 10:30:01"), 2L, "click", 0.0))
    val out = q("q253_rate_limit_sim", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("click").getAs[Long]("n_admitted") === 5L)
    assert(out("click").getAs[Long]("n_throttled") === 0L)
    assert(out("view").getAs[Long]("n_admitted") === 0L)
    assert(out("view").getAs[Long]("n_throttled") === 2L)
    assert(out("view").getAs[Long]("throttled_share_micro")
      === 285714L) // 2 of 7
  }
}
