package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Closed-form pins for q106's KL(batch ‖ corpus) drift report on
  * hand corpora: the exact smoothed-KL value, the zero-drift identity,
  * per-token contribution ranking, and the rounded-tie token order.
  * doc_id % 10 == 0 is the batch side, as in q105.
  */
class VocabDriftSpec extends SparkSpec {
  import spark.implicits._

  private def dir(rows: Seq[(Long, String)]): String = {
    val d = tempDir("drift")
    rows.map { case (id, tx) => (id, tx, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(d: String): DataFrame =
    SparkEntry.queries("q106_vocab_drift")(spark, d)

  test("smoothed KL and per-token contributions are exact by hand") {
    // batch (id 10): a a b — corpus (id 1): a b b b
    // cn: a=2 b=1; co: a=1 b=3; t_new=3 t_old=4 v=2
    // p_a=3/5 p_b=2/5; q_a=2/6 q_b=4/6
    val d = dir(Seq((10L, "a a b"), (1L, "a b b b")))
    val pA = 3.0 / 5; val pB = 2.0 / 5
    val cA = pA * math.log(pA / (2.0 / 6))
    val cB = pB * math.log(pB / (4.0 / 6))
    val out = run(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.size === 3)
    assert(out(0)._1 === "" && out(0)._2 === 0L)
    assert(math.abs(out(0)._3 - (cA + cB)) < 2e-6)
    // a drifts UP (over-represented in the batch), b down
    assert(out(1) === (("a", 1L,
      BigDecimal(cA).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(2)._1 === "b" && out(2)._2 === 2L && out(2)._3 < 0)
  }

  test("identical distributions report zero drift everywhere") {
    val d = dir(Seq((10L, "a b c"), (1L, "a b c")))
    val out = run(d).collect().map(_.getDouble(2))
    out.foreach(c => assert(c === 0.0))
  }

  test("rounded-contribution ties rank in token order") {
    // x and y are symmetric (same counts both sides) -> identical
    // contributions -> rank must fall back to token ascending.
    val d = dir(Seq((10L, "x y"), (1L, "x y x y")))
    val rows = run(d).filter(col("drift_rank") > 0).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("x", 1L), ("y", 2L)))
  }
}
