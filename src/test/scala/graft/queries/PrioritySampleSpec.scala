package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Pins for q104's priority-sampling semantics (Duffield–Lund–Thorup):
  * sample = top-K priorities w/u, τ = the (K+1)-th, est_w = max(w, τ)
  * — checked against an INDEPENDENT JVM reimplementation of the
  * priority math (MessageDigest md5, not Spark's), plus the small-
  * corpus identity (n ≤ K ⇒ τ = 0, est = w exactly) and weight
  * monotonicity. K is fixed at 50 in the query, so the hand-checkable
  * cases build corpora around that size.
  */
class PrioritySampleSpec extends SparkSpec {
  import spark.implicits._

  private def dir(rows: Seq[(Long, Long)]): String = {
    val d = tempDir("psample")
    rows.map { case (id, nc) => (id, "x", "en", "s", nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(d: String): DataFrame =
    SparkEntry.queries("q104_priority_sample")(spark, d)

  /** The query's priority formula, independently: u = (first 10 hex
    * chars of md5("ps:" + id) + 1) / 2^40, priority = w / u.
    */
  private def priority(id: Long, w: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"ps:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 10)
    val u = (java.lang.Long.parseLong(hex, 16) + 1L) / 1099511627776.0
    w / u
  }

  test("sample, tau and est_w match an independent reimplementation") {
    val rows = (0L until 120L).map(i => (i, 50L + (i * 37) % 400))
    val byPr = rows.map { case (id, w) => (id, w, priority(id, w)) }
      .sortBy { case (id, _, pr) => (-pr, id) }
    val tau = byPr(50)._3 // the 51st priority
    val expected = byPr.take(50)
      .map { case (id, w, pr) => (id, w, math.max(w.toDouble, tau)) }
      .sortBy(_._1)
    val got = run(dir(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got.map(t => (t._1, t._2)) === expected.map(t => (t._1, t._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"est_w for doc ${g._1}") }
  }

  test("n <= K: everything sampled, tau = 0, est_w = w exactly") {
    val rows = (0L until 20L).map(i => (i, 100L + i))
    val got = run(dir(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got.size === 20)
    got.foreach { case (_, w, est) => assert(est === w.toDouble) }
  }

  test("weight monotonicity: a dominant weight is always sampled") {
    // 200 unit-weight docs + one doc whose weight exceeds any
    // possible unit priority (u >= 2^-40 so priority < w * 2^40).
    val rows = (0L until 200L).map(i => (i, 1L)) :+ (999L, 3L << 40)
    val ids = run(dir(rows)).select("doc_id").as[Long].collect()
    assert(ids.contains(999L))
  }

  test("estimator sums near the corpus total on the synthetic table") {
    // Deterministic given the fixed hash — not a statistical test:
    // pins that the estimator is on the right SCALE (an unbiased
    // estimator drawn once; the 500-doc sf0.001 draw lands within
    // 25% of the true total, and regressions that break tau or the
    // max(w, tau) form land far outside).
    val out = run("/root/testdata/sf0.001")
    val est = out.agg(sum("est_w")).collect()(0).getDouble(0)
    val total = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .agg(sum("n_chars")).collect()(0).getLong(0).toDouble
    assert(math.abs(est - total) / total < 0.25,
      s"estimate $est vs total $total")
  }
}
