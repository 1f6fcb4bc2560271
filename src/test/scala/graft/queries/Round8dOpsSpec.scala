package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Hand-computed expectations for the round-8d experimentation
  * operators on constructed micro-fixtures, driven through the exact
  * SparkEntry query functions the driver gate runs: CUPED's closed
  * form on perfectly-correlated and uncorrelated covariates, and the
  * Poisson bootstrap's degenerate (constant-metric) and ordering
  * invariants.
  */
class Round8dOpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  private val t0 = java.sql.Timestamp.valueOf("2024-01-05 00:00:00") // pre
  private val t1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00") // post

  private def eventsDir(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("r8dev")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ordersDir(rows: Seq[(Long, Double)]): String = {
    val dir = tempDir("r8dor")
    rows.toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  // ---- q160 CUPED ----

  test("q160: perfectly-correlated covariate gives theta=2, rho2=1, " +
    "and both arms' adjusted means collapse to the pooled 2*mean(x)") {
    // y = 2x exactly (in cents): cov = 2 var, so theta = 2 and the
    // adjustment removes ALL between-arm pre-period difference.
    val rows = (1L to 8L).flatMap { u =>
      val pre = u.toDouble // dollars; cents = 100u
      Seq((u * 10 + 1, t0, u, "view", pre),
        (u * 10 + 2, t1, u, "view", pre * 2))
    }
    val out = q("q160_cuped", eventsDir(rows)).collect()
    assert(out.length === 2)
    val theta = out.map(_.getAs[Double]("theta")).distinct
    assert(theta === Array(2.0))
    assert(out.map(_.getAs[Double]("rho2")).distinct === Array(1.0))
    // pooled mean(x) in cents = 100 * mean(1..8) = 450
    val adj = out.map(_.getAs[Double]("mean_post_adj")).distinct
    assert(adj === Array(900.0))
  }

  test("q160: uncorrelated (constant) post metric gives theta=0 and " +
    "adjusted == raw post mean") {
    val rows = (1L to 8L).flatMap { u =>
      Seq((u * 10 + 1, t0, u, "view", u.toDouble),
        (u * 10 + 2, t1, u, "view", 7.0))
    }
    val out = q("q160_cuped", eventsDir(rows)).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("theta") === 0.0)
      assert(r.getAs[Double]("rho2") === 0.0)
      assert(r.getAs[Double]("mean_post_adj") ===
        r.getAs[Double]("mean_post"))
    }
  }

  // ---- q161 Poisson bootstrap ----

  test("q161: constant metric collapses the CI to the point estimate") {
    // every replicate mean over a constant column IS the constant,
    // whatever weights were drawn (sum w*c / sum w = c)
    val out = q("q161_poisson_bootstrap",
      ordersDir((1L to 300L).map(k => (k, 123.45)))).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Double]("point_mean") === 12345.0)
    assert(r.getAs[Double]("ci_lo") === 12345.0)
    assert(r.getAs[Double]("ci_hi") === 12345.0)
    assert(r.getAs[Long]("n_orders") === 300L)
    assert(r.getAs[Int]("n_reps") === 32)
  }

  test("q161: CI brackets the point estimate and is deterministic") {
    val dir = ordersDir((1L to 500L).map(k => (k, (k % 97).toDouble + 1)))
    val a = q("q161_poisson_bootstrap", dir).collect().head
    val (lo, pt, hi) = (a.getAs[Double]("ci_lo"),
      a.getAs[Double]("point_mean"), a.getAs[Double]("ci_hi"))
    assert(lo < hi)
    assert(lo <= pt && pt <= hi)
    // md5-seeded weights: a re-run draws byte-identical replicates
    val b = q("q161_poisson_bootstrap", dir).collect().head
    assert(a === b)
  }

  /** The queries' arm assignment (md5 first-8-hex % 2) — independent
    * JVM reimplementation for constructing arm-aware fixtures.
    */
  private def arm(userId: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(userId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(8), 16) % 2).toInt
  }

  // ---- q162 changepoint ----

  test("q162: a constructed level shift is located exactly") {
    // 2/day for Jan 1-10, then 10/day for Jan 11-20: the CUSUM argmax
    // must land on Jan 10 with the exact segment means
    val rows = (1 to 20).flatMap { d =>
      val n = if (d <= 10) 2 else 10
      val ts = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
      (1 to n).map(i => ((d * 100 + i).toLong, ts, 1L, "view", 1.0))
    }
    val out = q("q162_changepoint", eventsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[java.sql.Date]("split_day").toString === "2024-01-10")
    assert(r.getAs[Double]("mean_before") === 2.0)
    assert(r.getAs[Double]("mean_after") === 10.0)
    assert(r.getAs[Long]("n_days") === 20L)
  }

  test("q162: a flat series ties at g=0 and tie-breaks to the first day") {
    val rows = (1 to 10).flatMap { d =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
      (1 to 3).map(i => ((d * 100 + i).toLong, ts, 1L, "view", 1.0))
    }
    val r = q("q162_changepoint", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("g_stat") === 0L)
    assert(r.getAs[java.sql.Date]("split_day").toString === "2024-01-01")
    assert(r.getAs[Double]("mean_before") ===
      r.getAs[Double]("mean_after"))
  }

  // ---- q163 schema evolution ----

  test("q163: legacy-generation rows read back with NULL for the " +
    "added column, new-generation rows keep it") {
    val dir = tempDir("r8ddoc")
    (1L to 10L).map(i => (i, s"doc $i", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q163_schema_evolution", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_rows") === 10L)
    assert(r.getAs[Long]("n_with_lang") === 5L) // odd doc_ids
    assert(r.getAs[Long]("n_legacy") === 5L)    // even doc_ids, lang NULL
  }

  // ---- q164 Mann-Whitney ----

  test("q164: perfect separation gives 2U = 2*n0*n1 and a positive z") {
    // arm 1 users spend strictly more than every arm 0 user: every
    // (arm1, arm0) pair counts fully toward U
    val users = (1L to 40L)
    val rows = users.map { u =>
      val spend = if (arm(u) == 1) 100.0 + u else 1.0 + u % 3
      (u, t1, u, "purchase", spend)
    }
    val r = q("q164_mann_whitney", eventsDir(rows.toSeq)).collect().head
    val (n0, n1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"))
    assert(n0 + n1 === 40L)
    assert(r.getAs[Long]("u2x") === 2 * n0 * n1)
    assert(r.getAs[Double]("z") > 3.0)
  }

  test("q164: identical single-valued arms give z = 0 exactly") {
    // every user ties at one value: U = n0*n1/2 = its mean, z = 0
    val rows = (1L to 30L).map(u => (u, t1, u, "purchase", 50.0))
    val r = q("q164_mann_whitney", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("u2x") ===
      r.getAs[Long]("n0") * r.getAs[Long]("n1"))
    assert(r.getAs[Double]("z") === 0.0)
  }

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("r8ddoc2")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- q166 golden record ----

  test("q166: transitivity merges A~B~C into ONE entity even though " +
    "A-C alone scores below the match cut") {
    // same text everywhere (fp/lenb/block agree); A-B disagree only
    // lang (score 5.16), B-C only source (5.66), A-C disagree both
    // (1.87 < 3) — the entity exists only through B
    val txt = "alpha beta gamma delta"
    val dir = docsDir(Seq(
      (1L, txt, "en", "web"),
      (2L, txt, "de", "web"),
      (3L, txt, "de", "crawl"),
      (50L, "totally different words here", "fr", "web")))
    val out = q("q166_golden_record", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("golden_id") === 1L)
    assert(r.getAs[Long]("n_members") === 3L)
    assert(r.getAs[Long]("n_sources") === 2L)
    assert(r.getAs[String]("lang") === "de") // deterministic min rule
    assert(r.getAs[Long]("sum_chars") === 3L * txt.length)
  }

  // ---- q167 linear attribution ----

  test("q167: equal split across in-window clicks, 7-day boundary " +
    "inclusive") {
    val c1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val c2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val rows = Seq(
      (1L, c1, 7L, "click", 1.0),
      (2L, c2, 7L, "click", 1.0),
      // both clicks in window: each purchase splits 500000/500000
      (3L, Timestamp.valueOf("2024-01-02 12:00:00"), 7L, "purchase", 9.0),
      // exactly 7 days after c1: boundary click still credits
      (4L, Timestamp.valueOf("2024-01-08 00:00:00"), 7L, "purchase", 9.0))
    val out = q("q167_linear_attribution", eventsDir(rows))
      .collect().sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("credit_ppm") === 1000000L) // 2 × 500000
      assert(r.getAs[Long]("n_touches") === 2L)
      assert(r.getAs[Long]("n_purchases") === 2L)
    }
  }

  // ---- q168 k-core ----

  test("q168: peel strips pendant and triangle, keeps the K4") {
    // order 10 = K4 over parts 1-4; order 20 hangs part 5 off part 4
    // (degree 1, peeled); order 30 = triangle 6-7-8 (degree 2, peeled
    // — BELOW k even though connected)
    val dir = tempDir("r8dli")
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
      (20L, 4L), (20L, 5L),
      (30L, 6L), (30L, 7L), (30L, 8L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q168_kcore", dir).collect()
    assert(out.length === 4)
    assert(out.map(_.getAs[Long]("part")).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    out.foreach { r =>
      assert(r.getAs[Long]("core_degree") === 3L)
      assert(r.getAs[Long]("n_core_nodes") === 4L)
      assert(r.getAs[Long]("deg_sum") === 12L)
    }
  }

  // ---- q169 time to convert ----

  test("q169: only at-or-after-first-click purchases convert; exact " +
    "median microseconds") {
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "purchase", 9.0),
      (3L, Timestamp.valueOf("2024-01-01 00:00:00"), 2L, "click", 1.0),
      // user 3's only purchase PRECEDES their first click: unconverted
      (4L, Timestamp.valueOf("2024-01-01 01:00:00"), 3L, "purchase", 9.0),
      (5L, Timestamp.valueOf("2024-01-01 02:00:00"), 3L, "click", 1.0))
    val r = q("q169_time_to_convert", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("n_clicked") === 3L)
    assert(r.getAs[Long]("n_converted") === 1L)
    assert(r.getAs[Double]("conv_rate") === 0.333333)
    assert(r.getAs[Double]("p50_us") === 3600000000.0)
  }

  // ---- q170 PSI ----

  test("q170: identical windows give psi = 0/stable; a moved " +
    "distribution trips the 0.25 'shifted' threshold") {
    val ref = Timestamp.valueOf("2024-01-05 00:00:00")
    val cur = Timestamp.valueOf("2024-01-20 00:00:00")
    val rows =
      // type a: same $10 spike in both windows -> pr == pc -> psi 0
      (1L to 50L).flatMap(i => Seq(
        (i, ref, i, "a", 10.0), (1000 + i, cur, i, "a", 10.0))) ++
      // type b: $1 reference mass moves to $100 -> psi >> 0.25
      (1L to 50L).flatMap(i => Seq(
        (2000 + i, ref, i, "b", 1.0), (3000 + i, cur, i, "b", 100.0)))
    val out = q("q170_psi", eventsDir(rows))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("psi"), r.getAs[String]("verdict"))).toMap
    assert(out("a")._1 === 0.0)
    assert(out("a")._2 === "stable")
    assert(out("b")._1 > 0.25)
    assert(out("b")._2 === "shifted")
  }

  // ---- q171 MASE ----

  test("q171: an exact weekly cycle forecasts itself (mase = 0); a " +
    "flat series leaves MASE undefined, not NaN") {
    // 21 days, count = dow index + 1: y_t == y_{t-7} exactly
    val rows = (0 until 21).flatMap { d =>
      val ts = Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")
      val n = d % 7 + 1
      (1 to n).map(i => ((d * 100 + i).toLong, ts, 1L, "cyc", 1.0)) ++
        Seq(((d * 100 + 50).toLong, ts, 2L, "flat", 1.0))
    }
    val out = q("q171_mase", eventsDir(rows))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("cyc").getAs[Double]("mase") === 0.0)
    assert(out("cyc").getAs[Double]("mae7") === 0.0)
    assert(out("cyc").getAs[Double]("mae1") > 0.0)
    assert(out("flat").isNullAt(out("flat").fieldIndex("mase")))
  }

  // ---- q172 cohort LTV ----

  test("q172: cumulative cents per cohort user, non-purchasers " +
    "dilute the denominator") {
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "purchase", 1.0),
      (2L, Timestamp.valueOf("2024-01-16 00:00:00"), 1L, "purchase", 2.0),
      // user 2: same cohort week, views only
      (3L, Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "view", 5.0))
    val out = q("q172_cohort_ltv", eventsDir(rows)).collect()
    assert(out.length === 2)
    val byK = out.map(r => r.getAs[Long]("k") -> r).toMap
    assert(byK(0L).getAs[Long]("n_users") === 2L)
    assert(byK(0L).getAs[Long]("cum_cents") === 100L)
    assert(byK(0L).getAs[Double]("ltv_cents_per_user") === 50.0)
    assert(byK(2L).getAs[Long]("wk_cents") === 200L)
    assert(byK(2L).getAs[Long]("cum_cents") === 300L)
    assert(byK(2L).getAs[Double]("ltv_cents_per_user") === 150.0)
  }

  // ---- q173 MAD outliers ----

  test("q173: a 10x spike flags against median/MAD; a constant series " +
    "leaves z undefined with zero outliers") {
    val rows = (1 to 16).flatMap { d =>
      val ts = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
      val n = if (d == 16) 100 else d // ramp 1..15 then the spike
      (1 to n).map(i => ((d * 1000 + i).toLong, ts, 1L, "x", 1.0)) ++
        (1 to 5).map(i => ((d * 1000 + 500 + i).toLong, ts, 2L, "flat", 1.0))
    }
    val out = q("q173_mad_outliers", eventsDir(rows))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val x = out("x")
    // med = 8.5, mad = 4.0, z_spike = 0.6745*91.5/4 = 15.429188
    assert(x.getAs[Double]("med_c") === 8.5)
    assert(x.getAs[Double]("mad_c") === 4.0)
    assert(x.getAs[Long]("n_outliers") === 1L)
    assert(x.getAs[java.sql.Date]("worst_day").toString === "2024-01-16")
    assert(x.getAs[Double]("worst_z") === 15.429188)
    val f = out("flat")
    assert(f.getAs[Long]("n_outliers") === 0L)
    assert(f.isNullAt(f.fieldIndex("worst_z"))) // mad = 0
  }

  // ---- q174 KS test ----

  test("q174: disjoint supports give D = 1 (reject); identical " +
    "single-point arms give D = 0") {
    val users = (1L to 40L)
    val sep = users.map { u =>
      if (arm(u) == 1) (u, t1, u, "purchase", 100.0 + u)
      else (u, t1, u, "view", 1.0) // v = 0 for every arm-0 user
    }
    val r1 = q("q174_ks_test", eventsDir(sep.toSeq)).collect().head
    assert(r1.getAs[Long]("d_num") ===
      r1.getAs[Long]("n0") * r1.getAs[Long]("n1"))
    assert(r1.getAs[Double]("d") === 1.0)
    assert(r1.getAs[Boolean]("reject"))
    val same = users.map(u => (u, t1, u, "purchase", 50.0))
    val r2 = q("q174_ks_test", eventsDir(same.toSeq)).collect().head
    assert(r2.getAs[Long]("d_num") === 0L)
    assert(!r2.getAs[Boolean]("reject"))
  }

  // ---- q175 survival hazard ----

  test("q175: life-table hazards with the final week flagged censored") {
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "view", 1.0),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "view", 1.0),
      (3L, Timestamp.valueOf("2024-01-16 00:00:00"), 2L, "view", 1.0),
      (4L, Timestamp.valueOf("2024-01-03 00:00:00"), 3L, "view", 1.0),
      (5L, Timestamp.valueOf("2024-01-17 00:00:00"), 3L, "view", 1.0))
    val out = q("q175_survival_hazard", eventsDir(rows)).collect()
    assert(out.length === 2)
    val byK = out.map(r => r.getAs[Long]("k") -> r).toMap
    assert(byK(0L).getAs[Long]("n_at_risk") === 3L)
    assert(byK(0L).getAs[Long]("n_last_seen") === 1L)
    assert(byK(0L).getAs[Double]("hazard") === 0.333333)
    assert(!byK(0L).getAs[Boolean]("censored"))
    assert(byK(2L).getAs[Long]("n_at_risk") === 2L)
    assert(byK(2L).getAs[Double]("hazard") === 1.0)
    assert(byK(2L).getAs[Boolean]("censored"))
  }

  // ---- q178 BFS ----

  test("q178: hop distances along a path graph; disconnected component " +
    "reported as unreachable") {
    val dir = tempDir("r8dli2")
    // path 1-2-3-4 via pairwise orders; 8-9 disconnected
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L), (30L, 3L), (30L, 4L),
      (40L, 8L), (40L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q178_sssp", dir).collect()
      .map(r => r.getAs[Int]("dist") -> r.getAs[Long]("n_nodes")).toMap
    assert(out === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, -1 -> 2L))
  }

  // ---- q179 RRF ----

  test("q179: a doc leading BOTH rankings fuses to 2/(60+1); " +
    "single-list docs carry one term") {
    val filler = (1 to 5).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(
      // top bm25 (dense query terms) AND longest (17*25 > 6*60)
      (1L, ("join hash vector " * 25) + filler, "en", "web"),
      // bm25 only, short
      (2L, s"join hash vector $filler", "en", "web"),
      // long, no query terms
      (3L, "lorem " * 60, "en", "web"),
      (4L, filler, "en", "web")))
    val out = q("q179_rrf_fusion", dir).collect()
    val top = out.head
    assert(top.getAs[Long]("doc_id") === 1L)
    assert(top.getAs[Int]("ra") === 1 && top.getAs[Int]("rb") === 1)
    assert(top.getAs[Double]("rrf") === 0.032787) // round(2/61, 6)
    val d3 = out.find(_.getAs[Long]("doc_id") === 3L).get
    assert(d3.isNullAt(d3.fieldIndex("ra"))) // absent from the bm25 list
    assert(d3.getAs[Int]("rb") <= 2)
  }

  // ---- q181 revenue waterfall ----

  test("q181: new/expansion/churned classes with exact cent deltas") {
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "purchase", 1.0),
      (2L, Timestamp.valueOf("2024-01-09 00:00:00"), 1L, "purchase", 2.0),
      (3L, Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "purchase", 5.0),
      (4L, Timestamp.valueOf("2024-01-09 00:00:00"), 3L, "purchase", 3.0))
    val out = q("q181_revenue_waterfall", eventsDir(rows)).collect()
      .map(r => (r.getAs[Long]("wk"), r.getAs[String]("cls")) -> r).toMap
    val w0new = out((0L, "new"))
    assert(w0new.getAs[Long]("n_users") === 2L)
    assert(w0new.getAs[Long]("delta_cents") === 600L)
    assert(out((1L, "expansion")).getAs[Long]("delta_cents") === 100L)
    assert(out((1L, "churned")).getAs[Long]("delta_cents") === -500L)
    assert(out((1L, "new")).getAs[Long]("cents") === 300L)
    // no ghost week past the last observed one
    assert(out.keys.map(_._1).max === 1L)
  }

  // ---- q182 density clusters ----

  test("q182: adjacent dense cells merge, separated blob stays its " +
    "own cluster, sparse points drop") {
    val dir = tempDir("r8demb")
    def pt(id: Long, x: Float, y: Float) = (id, Seq(x, y, 0.0f), 0)
    val rows =
      (1L to 12L).map(i => pt(i, 0.01f + i.toFloat / 10000, 0.01f)) ++ // cell (0,0)
        (21L to 30L).map(i => pt(i, 0.15f, 0.01f)) ++ // cell (1,0), adjacent
        (41L to 51L).map(i => pt(i, -0.3f, -0.3f)) ++ // cell (-3,-3), separate
        Seq(pt(99L, 0.3f, -0.3f)) // sparse: below minPts, dropped
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("q182_density_clusters", dir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_cells"), r.getAs[Long]("n_points"))).toMap
    assert(out.size === 2)
    // merged blob: cells (0,0) and (1,0) -> rep = (0+100)*1000+100
    assert(out(100100L) === ((2L, 22L)))
    // isolated blob: cell (-3,-3) -> (97)*1000+97
    assert(out(97097L) === ((1L, 11L)))
  }

  // ---- q183 top paths ----

  test("q183: trigram paths counted over the per-user event order") {
    val rows = (0 until 4).map { i =>
      val ts = Timestamp.valueOf(f"2024-01-01 0$i:00:00")
      ((i + 1).toLong, ts, 1L, Seq("view", "click", "purchase", "view")(i),
        1.0)
    }
    val out = q("q183_top_paths", eventsDir(rows)).collect()
    assert(out.length === 2) // 4 events -> 2 trigrams
    val paths = out.map(r => r.getAs[String]("path") ->
      r.getAs[Double]("share")).toMap
    assert(paths === Map(
      "view>click>purchase" -> 0.5, "click>purchase>view" -> 0.5))
  }

  // ---- q184 negative sampling ----

  test("q184: kept set matches an independent JVM replay of the draws " +
    "(rejection, keep-2, order-independent checksum)") {
    val dir = tempDir("r8dns")
    // user 1 buys parts 1,2 (order 10); user 2 buys part 3 (order 20)
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (10L, 2L), (20L, 3L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 5L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = q("q184_negative_sampling", dir).collect().head
    // independent JVM replay
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val positives = Seq((1L, 1L), (1L, 2L), (2L, 3L))
    val posByU = positives.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    var nKept = 0L
    var setHash = 0L
    positives.foreach { case (u, p) =>
      val kept = (0 to 3).map(i => h60(s"ns:$u:$p:$i") % 5 + 1)
        .filterNot(posByU(u).contains).take(2)
      kept.foreach { c => nKept += 1; setHash ^= h60(s"$u:$p:$c") }
    }
    assert(out.getAs[Long]("n_positives") === 3L)
    assert(out.getAs[Long]("n_kept") === nKept)
    assert(out.getAs[Long]("set_hash") === setHash)
  }

  // ---- q185 isotonic calibration ----

  test("q185: the minimax fit pools adjacent violators exactly") {
    // raw bucket rates [b0: 0/4, b5: 3/3, b9: 2/4] -> PAVA pools the
    // decreasing tail: iso = [0, 5/7, 5/7]
    val stop2 = "the x"   // ratio 0.5 -> bucket 5
    val stop1 = "the"     // ratio 1.0 -> bucket 9 (capped)
    val plain = "x y"     // ratio 0   -> bucket 0
    val docs =
      (1L to 4L).map(i => (i, plain, "de", "web")) ++
        (11L to 13L).map(i => (i, stop2, "en", "web")) ++
        Seq((21L, stop1, "en", "web"), (22L, stop1, "en", "web"),
          (23L, stop1, "fr", "web"), (24L, stop1, "fr", "web"))
    val out = q("q185_isotonic_calibration", docsDir(docs.toSeq))
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(out(0L).getAs[Double]("raw_rate") === 0.0)
    assert(out(0L).getAs[Double]("iso_rate") === 0.0)
    assert(out(5L).getAs[Double]("raw_rate") === 1.0)
    assert(out(5L).getAs[Double]("iso_rate") === 0.714286) // 5/7
    assert(out(9L).getAs[Double]("raw_rate") === 0.5)
    assert(out(9L).getAs[Double]("iso_rate") === 0.714286)
    // monotone non-decreasing across buckets
    val iso = out.toSeq.sortBy(_._1).map(_._2.getAs[Double]("iso_rate"))
    assert(iso === iso.sorted)
  }

  // ---- q186 gap fill ----

  test("q186: missing days resample to n=0 and LOCF carries the last " +
    "rounded mean; days before first observation stay null") {
    // type a: day1 (mean 1.5), hole on day2, day3 (2.5);
    // type b: day2 only (4.0) — null before, carried after
    val d1 = Timestamp.valueOf("2024-01-01 10:00:00")
    val d2 = Timestamp.valueOf("2024-01-02 10:00:00")
    val d3 = Timestamp.valueOf("2024-01-03 10:00:00")
    val rows = Seq(
      (1L, d1, 1L, "a", 1.0), (2L, d1, 1L, "a", 2.0),
      (3L, d3, 1L, "a", 2.5), (4L, d2, 2L, "b", 4.0))
    val out = q("q186_gap_fill", eventsDir(rows)).collect()
      .map(r => (r.getAs[String]("etype"),
        r.getAs[java.sql.Date]("day").toString) -> r).toMap
    assert(out.size === 6) // 2 types x 3 calendar days
    val a2 = out(("a", "2024-01-02"))
    assert(a2.getAs[Long]("n") === 0L)
    assert(a2.getAs[Boolean]("filled"))
    assert(a2.getAs[Double]("v_locf") === 1.5)
    val a3 = out(("a", "2024-01-03"))
    assert(!a3.getAs[Boolean]("filled"))
    assert(a3.getAs[Double]("v_locf") === 2.5)
    val b1 = out(("b", "2024-01-01"))
    assert(b1.getAs[Long]("n") === 0L)
    assert(b1.isNullAt(b1.fieldIndex("v_locf")))
    val b3 = out(("b", "2024-01-03"))
    assert(b3.getAs[Boolean]("filled"))
    assert(b3.getAs[Double]("v_locf") === 4.0)
  }

  // ---- q187 partition diff ----

  private def ordersStDir(rows: Seq[(Long, Double, String)]): String = {
    val dir = tempDir("r8dos")
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("q187: digest-pruned diff equals an independent JVM replay of " +
    "the full row diff") {
    val rows = (1L to 500L).map(k =>
      (k, k * 1.25, if (k % 3 == 0) "F" else "O"))
    val out = q("q187_partition_diff", ordersStDir(rows)).collect()
      .map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("key_hash")))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    case class R(k: Long, cents: Long, st: String)
    val a = rows.map { case (k, p, st) => R(k, math.round(p * 100), st) }
    val b = a.flatMap { r =>
      val h = h60(s"mut:${r.k}")
      val kept =
        if (h % 89 == 1) Nil
        else Seq(r.copy(cents =
          if (h % 97 == 0) r.cents + 100 else r.cents))
      val ins =
        if (h % 83 == 2) Seq(r.copy(k = r.k + 1000000000L)) else Nil
      kept ++ ins
    }
    val amap = a.map(r => r.k -> r).toMap
    val bmap = b.map(r => r.k -> r).toMap
    val statuses = (amap.keySet ++ bmap.keySet).toSeq.flatMap { k =>
      (amap.get(k), bmap.get(k)) match {
        case (Some(_), None) => Some(k -> "missing_in_b")
        case (None, Some(_)) => Some(k -> "missing_in_a")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _ => None
      }
    }
    val expected = statuses.groupBy(_._2).map { case (st, ks) =>
      st -> ((ks.size.toLong, ks.map(kv => h60(kv._1.toString))
        .reduce(_ ^ _)))
    }
    // the fixture must exercise all three statuses to mean anything
    assert(expected.keySet === Set("missing_in_a", "missing_in_b", "changed"))
    assert(out === expected)
  }

  // ---- q188 random walks ----

  test("q188: walks follow the md5-argmin neighbor at every step " +
    "(JVM replay on a micro-graph)") {
    val dir = tempDir("r8dwk")
    // customer 1 buys parts 100,200; customer 2 buys part 100
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 100L), (10L, 200L), (20L, 100L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q188_random_walks", dir).collect()
      .map(r => (r.getAs[Long]("walk"), r.getAs[Int]("step")) ->
        r.getAs[String]("node")).toMap
    assert(out.size === 10) // 2 walks x 5 nodes
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val custOf = Map(100L -> Seq(1L, 2L), 200L -> Seq(1L))
    val partOf = Map(1L -> Seq(100L, 200L), 2L -> Seq(100L))
    for (start <- Seq(100L, 200L)) {
      var cur = start
      assert(out((start, 0)) === s"p:$start")
      for (step <- 1 to 4) {
        val fromPart = step % 2 == 1
        val cands = if (fromPart) custOf(cur) else partOf(cur)
        cur = cands.minBy(c => (h60(s"walk:$start:$step:$c"), c))
        assert(out((start, step)) ===
          (if (fromPart) s"c:$cur" else s"p:$cur"))
      }
    }
  }

  // ---- q189 chunk overlap ----

  test("q189: window/stride arithmetic and per-chunk hashes match a " +
    "JVM replay (tail chunks shorter, overlap preserved)") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" "), "en", "web"),
      (2L, (1 to 8).map(i => s"t$i").mkString(" "), "en", "web"),
      (3L, "solo", "en", "web"),
      (4L, (1 to 6).map(i => s"t$i").mkString(" "), "en", "web"))
    val out = q("q189_chunk_overlap", docsDir(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def replay(text: String): (Int, Int, Long) = {
      val tks = text.split(" ").toSeq
      val starts = 0 until tks.length by 6
      val hash = starts.map(st =>
        h60(tks.slice(st, st + 8).mkString(" "))).foldLeft(0L)(_ ^ _)
      (tks.length, starts.length, hash)
    }
    docs.foreach { case (id, text, _, _) =>
      val (nt, nc, hsh) = replay(text)
      val r = out(id)
      assert(r.getAs[Int]("n_toks") === nt, s"doc $id n_toks")
      assert(r.getAs[Int]("n_chunks") === nc, s"doc $id n_chunks")
      assert(r.getAs[Long]("chunk_hash") === hsh, s"doc $id hash")
    }
    // the 10-token doc must have produced an overlapping tail window
    assert(out(1L).getAs[Int]("n_chunks") === 2)
  }

  // ---- q190 LPA communities ----

  test("q190: two triangles joined by one bridge converge to two " +
    "communities (hand-traced 5 synchronous rounds)") {
    // each order holds exactly one edge's two parts
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (11L, 12L), (11L, 13L), (12L, 13L), (3L, 11L))
    val li = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i.toLong + 1, a), (i.toLong + 1, b))
    }
    val dir = tempDir("r8dlpa")
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q190_lpa_communities", dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("community")).toMap
    // hand trace: round 2 settles {1,2,3}->1; round 3 settles
    // {11,12,13}->3; rounds 4-5 are stable fixpoint
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  // ---- q191 approx percentile ----

  test("q191: exact interpolated percentiles on 1..100 and a small-n " +
    "sketch that is exact, so tolerance holds") {
    val rows = (1 to 100).map(i =>
      (i.toLong, t0, 1L, "view", i.toDouble))
    val out = q("q191_approx_percentile", eventsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    // 1 + 0.5*(100-1) = rank 50.5 -> 50.5; 1 + 0.95*99 = 95.05
    assert(r.getAs[Double]("p50_exact") === 50.5)
    assert(r.getAs[Double]("p95_exact") === 95.05)
    assert(r.getAs[Boolean]("p50_within_tol"))
    assert(r.getAs[Boolean]("p95_within_tol"))
  }

  // ---- q192 Theil-Sen ----

  test("q192: median-of-slopes ignores a 25x outlier month that would " +
    "wreck OLS (hand-computed pair medians)") {
    // monthly cents [1000,2000,3000,4000,100000] at x=0..4:
    // 6 of 10 pairwise slopes are exactly 1000 -> median 1000;
    // intercept = median(y - 1000x) = 1000
    val dir = tempDir("r8dts")
    Seq((1L, 10.0, "2024-01-15"), (2L, 20.0, "2024-02-15"),
      (3L, 30.0, "2024-03-15"), (4L, 40.0, "2024-04-15"),
      (5L, 1000.0, "2024-05-15"))
      .toDF("o_orderkey", "o_totalprice", "d")
      .select(col("o_orderkey"), col("o_totalprice"),
        to_date(col("d")).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = q("q192_theil_sen", dir).collect().head
    assert(r.getAs[Double]("slope_cents_per_month") === 1000.0)
    assert(r.getAs[Double]("intercept_cents") === 1000.0)
  }

  // ---- q193 k-anonymity ----

  test("q193: the generalization ladder absorbs one risky group per " +
    "level (hand-counted)") {
    val dir = tempDir("r8dka")
    val rows =
      (1 to 6).map(i => (i.toLong, 1, 500.0, "A")) ++   // safe everywhere
        (7 to 8).map(i => (i.toLong, 1, 1500.0, "A")) ++ // risky at L0 only
        (9 to 11).map(i => (i.toLong, 2, 500.0, "B"))    // risky at all
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = q("q193_k_anonymity", dir).collect()
      .map(r => r.getAs[Int]("level") ->
        ((r.getAs[Long]("n_groups"), r.getAs[Long]("risky_groups"),
          r.getAs[Long]("risky_rows")))).toMap
    assert(out(0) === ((3L, 2L, 5L)))
    assert(out(1) === ((2L, 1L, 3L)))
    assert(out(2) === ((2L, 1L, 3L)))
  }

  // ---- q194 pivot ----

  test("q194: explicit-value pivot produces stable wide columns with " +
    "0 for absent cells") {
    val d2 = Timestamp.valueOf("2024-01-06 09:00:00")
    val rows = Seq(
      (1L, t0, 1L, "click", 1.0), (2L, t0, 2L, "click", 1.0),
      (3L, t0, 1L, "view", 1.0), (4L, d2, 1L, "purchase", 1.0))
    val out = q("q194_pivot", eventsDir(rows)).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    assert(out.size === 2)
    val day1 = out("2024-01-05")
    assert(day1.getAs[Long]("click") === 2L)
    assert(day1.getAs[Long]("view") === 1L)
    assert(day1.getAs[Long]("purchase") === 0L)
    assert(day1.getAs[Long]("signup") === 0L)
    val day2 = out("2024-01-06")
    assert(day2.getAs[Long]("purchase") === 1L)
    assert(day2.getAs[Long]("click") === 0L)
  }

  // ---- q195 DP counts ----

  test("q195: the deterministic Laplace release matches a JVM replay " +
    "of the exact dyadic inverse-CDF") {
    val rows = Seq(
      (1L, t0, 1L, "view", 1.0), (2L, t0, 2L, "view", 1.0),
      (3L, t0, 3L, "view", 1.0), (4L, t0, 1L, "click", 1.0),
      (5L, t0, 2L, "click", 1.0))
    val out = q("q195_dp_counts", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("noisy_n")))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def replay(etype: String, n: Long): Double = {
      val u = ((h60(s"dp:$etype") % 9007199254740992L).toDouble + 0.5) /
        9007199254740992.0
      val noise =
        if (u < 0.5) math.log(u * 2) else -math.log((1.0 - u) * 2)
      BigDecimal(n + noise)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out("view") === ((3L, replay("view", 3L))))
    assert(out("click") === ((2L, replay("click", 2L))))
    // noise is nonzero but bounded (b=1 -> |noise| < 40 whp)
    assert(math.abs(out("view")._2 - 3.0) > 0.0)
  }

  // ---- q196 Shapley attribution ----

  test("q196: hand-computed Shapley on a 2-observed-channel game, " +
    "with the efficiency property") {
    // v({click}) = v({view}) = 0.5, every other coalition unobserved
    // (v=0). phi_click = (3*0.5 + 1*(-0.5))/12 = 1/12; view symmetric;
    // error/signup each get two -0.5 coef-1 terms -> -1/12.
    val rows = Seq(
      (1L, t0, 1L, "click", 1.0), (2L, t1, 1L, "purchase", 1.0),
      (3L, t0, 2L, "click", 1.0),
      (4L, t0, 3L, "view", 1.0), (5L, t1, 3L, "purchase", 1.0),
      (6L, t0, 4L, "view", 1.0))
    val out = q("q196_shapley_attribution", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Double]("phi")).toMap
    assert(out("click") === 0.083333)
    assert(out("view") === 0.083333)
    assert(out("error") === -0.083333)
    assert(out("signup") === -0.083333)
    // efficiency: sum of credits = v(full) - v(empty) = 0
    assert(math.abs(out.values.sum) < 1e-9)
  }

  // ---- q197 SCD2 intervals ----

  test("q197: consecutive same-status runs collapse to intervals with " +
    "valid_to = next run's start, null for the open run") {
    val ts = (1 to 4).map(i => Timestamp.valueOf(s"2024-01-0$i 00:00:00"))
    val rows = Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(1), 1L, "view", 1.0),
      (3L, ts(2), 1L, "click", 1.0), (4L, ts(3), 1L, "view", 1.0),
      (5L, ts(0), 2L, "error", 1.0))
    val out = q("q197_scd2_intervals", eventsDir(rows)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("valid_from"))
        -> r)
    val u1 = out.filter(_._1._1 == 1L).map(_._2)
    assert(u1.length === 3)
    assert(u1(0).getAs[String]("status") === "view")
    assert(u1(0).getAs[Long]("n_events") === 2L)
    assert(u1(0).getAs[Timestamp]("valid_to") === ts(2))
    assert(u1(1).getAs[String]("status") === "click")
    assert(u1(1).getAs[Timestamp]("valid_to") === ts(3))
    assert(u1(2).getAs[String]("status") === "view")
    assert(u1(2).isNullAt(u1(2).fieldIndex("valid_to"))) // open run
    val u2 = out.filter(_._1._1 == 2L).map(_._2)
    assert(u2.length === 1)
    assert(u2(0).isNullAt(u2(0).fieldIndex("valid_to")))
  }

  // ---- q198 Brier decomposition ----

  test("q198: hand-computed Murphy decomposition; identity " +
    "brier = REL - RES + UNC holds when within-bucket variance is 0") {
    // bucket 0: scores 0 with outcomes (0,1); bucket 9: scores 1 with
    // outcomes (1,1) -> brier .25, REL .125, RES .0625, UNC .1875
    val docs = Seq(
      (1L, "x y", "de", "web"), (2L, "x y", "en", "web"),
      (3L, "the", "en", "web"), (4L, "the", "en", "web"))
    val r = q("q198_brier_decomposition", docsDir(docs)).collect().head
    assert(r.getAs[Double]("brier") === 0.25)
    assert(r.getAs[Double]("reliability") === 0.125)
    assert(r.getAs[Double]("resolution") === 0.0625)
    assert(r.getAs[Double]("uncertainty") === 0.1875)
  }

  // ---- q199 item-item CF ----

  test("q199: cosine over customer sets, hand-computed on a 3-item " +
    "catalog") {
    val dir = tempDir("r8dcf")
    // u1:{1,2} u2:{1,2} u3:{1,3} -> n=(3,2,1); co(1,2)=2, co(1,3)=1
    Seq((10L, 1L), (20L, 2L), (30L, 3L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (30L, 1L), (30L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q199_item_item_cf", dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("similar"), r.getAs[Double]("cosine")))).toMap
    assert(out((1L, 1)) === ((2L, 0.816497))) // 2/sqrt(3*2)
    assert(out((1L, 2)) === ((3L, 0.57735)))  // 1/sqrt(3*1)
    assert(out((2L, 1)) === ((1L, 0.816497)))
    assert(out((3L, 1)) === ((1L, 0.57735)))
    assert(out.size === 4)
  }

  // ---- q200 referential integrity ----

  test("q200: orphans and null keys classified per FK edge") {
    val dir = tempDir("r8dri")
    Seq((0, "r")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    Seq((0, 0, "n")).toDF("n_nationkey", "n_regionkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, 0), (2L, 0)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq(100L.asInstanceOf[java.lang.Long], null)
      .toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((10L, 1L), (20L, 9L)) // order 20 -> orphan customer 9
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // one good row, one orphan order, one null order key, one orphan part
    Seq[(java.lang.Long, java.lang.Long)]((10L, 100L), (99L, 100L),
      (null, 100L), (10L, 555L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q200_referential_integrity", dir).collect()
      .map(r => r.getAs[String]("relation") ->
        ((r.getAs[Long]("n_child"), r.getAs[Long]("n_null"),
          r.getAs[Long]("n_orphans")))).toMap
    assert(out("lineitem.l_orderkey->orders") === ((4L, 1L, 1L)))
    assert(out("lineitem.l_partkey->part") === ((4L, 0L, 1L)))
    assert(out("orders.o_custkey->customer") === ((2L, 0L, 1L)))
    assert(out("customer.c_nationkey->nation") === ((2L, 0L, 0L)))
    assert(out("nation.n_regionkey->region") === ((1L, 0L, 0L)))
  }

  // ---- q201 EB shrinkage ----

  test("q201: shrinkage demotes a 3/3 part below a 40/45 part and " +
    "matches a JVM replay of the method-of-moments fit") {
    val dir = tempDir("r8deb")
    // part 1: 3/3 returns; part 2: 40/45; parts 3..10: 10 each with
    // varied return counts so the prior variance is positive
    val tail = Seq(1, 2, 3, 2, 1, 3, 2, 2)
    val rows =
      (1 to 3).map(i => (i.toLong, 1L, "R")) ++
        (1 to 45).map(i => (100L + i, 2L, if (i <= 40) "R" else "N")) ++
        tail.zipWithIndex.flatMap { case (x, pi) =>
          (1 to 10).map(i => (1000L + pi * 100 + i, 3L + pi,
            if (i <= x) "R" else "N"))
        }
    rows.toDF("l_orderkey", "l_partkey", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q201_eb_shrinkage", dir).collect()
    assert(out.head.getAs[Long]("part") === 2L) // 40/45 wins post-shrink
    assert(out(1).getAs[Long]("part") === 1L)
    // JVM replay of the fit (tolerance: double-sum order differs)
    val grid = Seq((1L, 3L, 3L), (2L, 45L, 40L)) ++
      tail.zipWithIndex.map { case (x, pi) => (3L + pi, 10L, x.toLong) }
    val prior = grid.filter(_._2 >= 5).map(g => g._3.toDouble / g._2)
    val m = prior.sum / prior.size
    val v = prior.map(r => (r - m) * (r - m)).sum / (prior.size - 1)
    val k = m * (1 - m) / v - 1
    val expect = grid.map { case (p, n, x) =>
      p -> (x + m * k) / (n + k)
    }.toMap
    out.foreach { r =>
      val p = r.getAs[Long]("part")
      assert(math.abs(r.getAs[Double]("shrunk_rate") - expect(p)) < 1e-5,
        s"part $p")
    }
  }

  // ---- q202 Markov accuracy ----

  test("q202: per-user positional split trains an argmax model that " +
    "scores hand-checkable accuracy on the held-out half") {
    def e(id: Long, day: Int, u: Long, et: String) =
      (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), u, et, 1.0)
    // u1: a,b,a,b,a,b -> train pairs (a>b),(b>a),(a>b); test (b>a),(a>b)
    // u2: c,c,d -> train (c>c); test (c>d) miss
    val rows = Seq(
      e(1, 1, 1, "a"), e(2, 2, 1, "b"), e(3, 3, 1, "a"),
      e(4, 4, 1, "b"), e(5, 5, 1, "a"), e(6, 6, 1, "b"),
      e(7, 1, 2, "c"), e(8, 2, 2, "c"), e(9, 3, 2, "d"))
    val out = q("q202_markov_accuracy", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("true_next") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("accuracy")))).toMap
    assert(out("a") === ((1L, 1.0)))
    assert(out("b") === ((1L, 1.0)))
    assert(out("d") === ((1L, 0.0)))
    assert(out("__overall__") === ((3L, 0.666667)))
  }

  // ---- q203 seasonal decomposition ----

  test("q203: flat weekly profile with two Monday deviations — " +
    "indexes 1.0, residual days ranked by deseasonalized deviation") {
    // Mon 01-01: 2 events, Tue..Sun: 3 each, Mon 01-08: 4
    // grand mean 3; every dow index 1.0; residuals 2/3 and 4/3
    var id = 0L
    val rows = (1 to 8).flatMap { day =>
      val n = if (day == 1) 2 else if (day == 8) 4 else 3
      (1 to n).map { _ =>
        id += 1
        (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id, "view", 1.0)
      }
    }
    val out = q("q203_seasonal_decomposition", eventsDir(rows)).collect()
      .map(r => r.getAs[String]("key") ->
        ((Option(r.get(r.fieldIndex("n"))), r.getAs[Double]("value"))))
      .toMap
    assert(out.size === 12) // 7 dow rows + 5 residual days
    (1 to 7).foreach(d => assert(out(s"dow:$d") === ((None, 1.0))))
    assert(out("2024-01-01") === ((Some(2L), 0.666667)))
    assert(out("2024-01-08") === ((Some(4L), 1.333333)))
    // the three zero-deviation fillers are the earliest dates
    assert(out.contains("2024-01-02") && out.contains("2024-01-03") &&
      out.contains("2024-01-04"))
  }

  // ---- q204 Neyman allocation ----

  test("q204: zero-variance stratum gets zero quota; the volatile " +
    "stratum takes its full population with the replayed checksum") {
    val dir = tempDir("r8dny")
    // stratum 1 (custkey 1): sigma > 0; stratum 2 (custkey 2): constant
    Seq((11L, 1L, 10.0), (12L, 1L, 20.0), (13L, 1L, 30.0),
      (21L, 2L, 50.0), (22L, 2L, 50.0), (23L, 2L, 50.0), (24L, 2L, 50.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = q("q204_neyman_allocation", dir).collect()
    assert(out.length === 1) // the sigma=0 stratum allocates nothing
    val r = out.head
    assert(r.getAs[Long]("stratum") === 1L)
    assert(r.getAs[Long]("nh") === 3L)
    assert(r.getAs[Long]("quota") === 3L) // capped at the population
    assert(r.getAs[Long]("taken") === 3L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    assert(r.getAs[Long]("sample_hash") ===
      Seq(11L, 12L, 13L).map(k => h60(k.toString)).reduce(_ ^ _))
  }

  // ---- q205 window rank family ----

  test("q205: tie semantics — rank gaps, dense_rank doesn't, " +
    "percent_rank/cume_dist tie-aware, ntile deterministic") {
    val dir = tempDir("r8dwr")
    // nations 1,2 tie at 300 cents; nation 3 trails at 100
    Seq((1L, 1), (2L, 2), (3L, 3))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 3.0), (20L, 2L, 3.0), (30L, 3L, 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = q("q205_window_rank_family", dir).collect()
      .map(r => r.getAs[Long]("nation") -> r).toMap
    assert(out(1L).getAs[Long]("rnk") === 1L)
    assert(out(2L).getAs[Long]("rnk") === 1L)
    assert(out(3L).getAs[Long]("rnk") === 3L)  // gap after the tie
    assert(out(3L).getAs[Long]("drnk") === 2L) // no gap
    assert(out(1L).getAs[Long]("prnk_micro") === 0L)
    assert(out(3L).getAs[Long]("prnk_micro") === 1000000L)
    assert(out(1L).getAs[Long]("cdist_micro") === 666667L)
    assert(out(3L).getAs[Long]("cdist_micro") === 1000000L)
    // ntile over the deterministic order: 3 rows into 4 buckets
    assert(out(1L).getAs[Int]("quartile") === 1)
    assert(out(2L).getAs[Int]("quartile") === 2)
    assert(out(3L).getAs[Int]("quartile") === 3)
  }

  // ---- q206 null-safe join ----

  test("q206: null keys match null keys; one-sided keys survive the " +
    "full outer with zero pairs") {
    def e(id: Long, et: String, k: Int) =
      (id, t0, id, et, 1.0, s"""{"k": $k}""")
    val rows = Seq(
      e(1, "view", 3), e(2, "view", 3), e(3, "view", 7), e(4, "view", 5),
      e(5, "click", 3), e(6, "click", 3), e(7, "click", 3),
      e(8, "click", 7), e(9, "click", 14))
    val dir = tempDir("r8dns2")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q206_null_safe_join", dir).collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Long]("n_pairs")))).toMap
    assert(out("3") === ((2L, 3L, 6L)))
    assert(out("null") === ((1L, 2L, 2L))) // k=7 view x (k=7, k=14) clicks
    assert(out("5") === ((1L, 0L, 0L)))    // view-only key kept by full outer
    assert(out.size === 3)
  }

  // ---- q207 exponential smoothing ----

  test("q207: constant series forecasts itself; a final-day jump " +
    "shows up only as that day's error") {
    // days 1-7: 10 events; day 8: 20 events
    var id = 0L
    val rows = (1 to 8).flatMap { day =>
      val n = if (day == 8) 20 else 10
      (1 to n).map { _ =>
        id += 1
        (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id, "view", 1.0)
      }
    }
    val out = q("q207_exp_smoothing", eventsDir(rows)).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        ((r.getAs[Long]("y"), r.getAs[Double]("forecast"),
          r.getAs[Double]("err")))).toMap
    assert(out.size === 6) // last 6 days have a prior level
    (3 to 7).foreach { d =>
      assert(out(f"2024-01-$d%02d") === ((10L, 10.0, 0.0)))
    }
    assert(out("2024-01-08") === ((20L, 10.0, 10.0)))
  }

  // ---- q210 weighted median ----

  test("q210: the crossing rule lands where half the WEIGHT sits, " +
    "lower median on an exact split") {
    val dir = tempDir("r8dwm")
    // flag A: qty 1 (w 1.00), qty 2 (w 1.00), qty 3 (w 5.00)
    //   -> half of 700 cents sits at qty 3 despite 2/3 of ROWS below
    // flag B: qty 5 and 7, equal weight -> exact split, lower wins
    Seq(("A", 1.0, 1.0), ("A", 2.0, 1.0), ("A", 3.0, 5.0),
      ("B", 5.0, 1.0), ("B", 7.0, 1.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q210_weighted_median", dir).collect()
      .map(r => r.getAs[String]("flag") ->
        ((r.getAs[Long]("weighted_median_qty"),
          r.getAs[Long]("total_weight_cents")))).toMap
    assert(out("A") === ((3L, 700L)))
    assert(out("B") === ((5L, 200L)))
  }

  // ---- q211 capped item-item CF ----

  test("q211: a 12-item whale basket is capped to the 8 md5-smallest " +
    "items; dropped items vanish from the graph (JVM replay)") {
    val dir = tempDir("r8dcc")
    Seq((10L, 1L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1L to 12L).map(p => (10L, p)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sd: String): Long = {
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val kept = (1L to 12L).sortBy(p => (h60(s"cap:1:$p"), p)).take(8).toSet
    val out = q("q211_item_item_cf_capped", dir).collect()
      .groupBy(_.getAs[Long]("part"))
    assert(out.keySet === kept)
    // within one basket every surviving pair has cosine 1; top-3 are
    // the 3 smallest other surviving ids
    kept.foreach { p =>
      val rows = out(p).sortBy(_.getAs[Int]("rank"))
      assert(rows.map(_.getAs[Long]("similar")).toSeq ===
        (kept - p).toSeq.sorted.take(3), s"part $p")
      assert(rows.forall(_.getAs[Double]("cosine") === 1.0))
    }
  }

  // ---- q212 chi-square ----

  test("q212: hand-computed 2x2 independence test — chi2 = 100/15, " +
    "dof 1, Cramer's V = 1/3") {
    // Mon: a=10, b=20; Tue: a=20, b=10 -> all E=15, chi2 = 4*25/15
    var id = 0L
    def es(n: Int, day: Int, et: String) = (1 to n).map { _ =>
      id += 1
      (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id, et, 1.0)
    }
    val rows = es(10, 1, "a") ++ es(20, 1, "b") ++
      es(20, 2, "a") ++ es(10, 2, "b")
    val r = q("q212_chi_square", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("n_obs") === 60L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 6.666667)
    assert(r.getAs[Double]("cramers_v") === 0.333333)
  }

  // ---- q213 Kendall tau ----

  test("q213: hand-computed tau-b — one discordant pair out of three, " +
    "no ties") {
    // days (x=views, y=purchases): (1,1), (2,3), (3,2)
    // pairs: (d1,d2) C, (d1,d3) C, (d2,d3) D -> tau = (2-1)/3
    var id = 0L
    def es(day: Int, views: Int, purchases: Int) = {
      val v = (1 to views).map { _ =>
        id += 1
        (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id, "view", 1.0)
      }
      val pch = (1 to purchases).map { _ =>
        id += 1
        (id, Timestamp.valueOf(f"2024-01-$day%02d 13:00:00"), id,
          "purchase", 1.0)
      }
      v ++ pch
    }
    val rows = es(1, 1, 1) ++ es(2, 2, 3) ++ es(3, 3, 2)
    val r = q("q213_kendall_tau", eventsDir(rows)).collect().head
    assert(r.getAs[Long]("n0") === 3L)
    assert(r.getAs[Long]("concordant") === 2L)
    assert(r.getAs[Long]("discordant") === 1L)
    assert(r.getAs[Double]("tau_b") === 0.333333)
  }

  // ---- q180 equal-frequency binning ----

  test("q180: 100 uniform distinct values land 10 per decile bin") {
    val dir = tempDir("r8dor2")
    (1L to 100L).map(k => (k, k / 100.0)) // cents = 1..100
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = q("q180_equal_freq_binning", dir).collect()
    assert(out.length === 10)
    out.foreach(r => assert(r.getAs[Long]("n") === 10L))
    val b0 = out.find(_.getAs[Int]("bin") === 0).get
    assert(b0.getAs[Long]("min_cents") === 1L)
    assert(b0.getAs[Long]("max_cents") === 10L)
  }
}
