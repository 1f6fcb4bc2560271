package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Pins for q105's incremental (batch-vs-corpus) near-dup semantics on
  * hand-built corpora: doc_id % 10 == 0 is the new batch, everything
  * else the existing corpus. The cases the synthetic tables can't
  * isolate: exact copy into the corpus, a just-over-threshold
  * near-dup, a just-under one, batch-internal duplicates (must NOT
  * flag — only new×existing connectivity counts here), and best-match
  * selection across several qualifying corpus docs.
  */
class IncrementalNeardupSpec extends SparkSpec {
  import spark.implicits._

  private def dir(rows: Seq[(Long, String)]): String = {
    val d = tempDir("incdup")
    rows.map { case (id, tx) => (id, tx, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(d: String): DataFrame =
    SparkEntry.queries("q105_incremental_neardup")(spark, d)

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("an exact copy of a corpus doc is flagged at jac 1.0 against " +
    "the minimal corpus holder") {
    val tx = words("a", 12)
    // corpus holds the text twice (ids 3, 7); batch doc 10 copies it.
    val d = dir(Seq((3L, tx), (7L, tx), (10L, tx), (11L, words("z", 5))))
    val out = run(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((10L, 3L, 1.0)))
  }

  test("threshold is exact: 19/21 shared fails, 19/20 (subset) passes") {
    // batch doc 20: 20 tokens, corpus doc 1 shares 19 of them plus 1
    // extra -> union 21, jac 19/21 ~ 0.905 >= 0.9 passes;
    // corpus doc 2 shares 17 plus 3 extra -> 17/23 fails.
    val shared = words("w", 19)
    val d = dir(Seq(
      (20L, s"$shared x1"),
      (1L, s"$shared y1"),
      (2L, s"${words("w", 17)} y1 y2 y3")))
    val out = run(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.size === 1)
    assert(out.head._1 === 20L && out.head._2 === 1L)
    assert(math.abs(out.head._3 - 19.0 / 21) < 1e-6)
  }

  test("batch-internal duplicates are NOT flagged") {
    val tx = words("b", 10)
    val d = dir(Seq((10L, tx), (20L, tx), (1L, words("c", 10))))
    assert(run(d).count() === 0)
  }

  test("best match: highest jac wins, minimal corpus id breaks ties") {
    val base = words("m", 30)
    val d = dir(Seq(
      (10L, base),              // the batch doc
      (5L, s"$base extra1"),    // jac 30/31
      (2L, base), (8L, base)))  // jac 1.0 twice -> match_id 2
    val out = run(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((10L, 2L, 1.0)))
  }

  test("a batch doc with no corpus relative is absent from the report") {
    val d = dir(Seq((10L, words("q", 15)), (1L, words("r", 15))))
    assert(run(d).count() === 0)
  }
}
