package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Closed-form pins for q103's repeated-span semantics (L=8 windows,
  * corpus-wide occurrence count, per-doc island merge, span mask) on
  * micro-corpora where the right answer is countable by hand — the
  * cases the synthetic corpus can't isolate: cross-doc single span,
  * overlapping-window merge, within-doc self-repeat, full-coverage
  * masking, and the no-repeat identity.
  */
class SubstringSpanSpec extends SparkSpec {
  import spark.implicits._

  private def dir(rows: Seq[(Long, String)]): String = {
    val d = tempDir("spanspec")
    rows.map { case (id, tx) => (id, tx, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(d: String): DataFrame =
    SparkEntry.queries("q103_substring_spans")(spark, d)

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("a shared 8-gram marks exactly one 8-token span in both docs") {
    // docB embeds docA's tokens a5..a12 between otherwise-unique words.
    val shared = (5 to 12).map(i => s"a$i").mkString(" ")
    val d = dir(Seq(
      (0L, toks("a", 20)),
      (1L, s"${toks("b", 4)} $shared ${toks("c", 4)}")))
    val out = run(d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === Seq((0L, 20L, 8L, 1L), (1L, 16L, 8L, 1L)))
    val kept = run(d).select("kept_text").as[String].collect()
    assert(kept(0) === ((1 to 4) ++ (13 to 20)).map(i => s"a$i")
      .mkString(" "))
    assert(kept(1) === s"${toks("b", 4)} ${toks("c", 4)}")
  }

  test("overlapping windows merge into one island, not two") {
    // 9 shared tokens = two overlapping 8-grams (pos 0 and 1) -> one
    // island covering all 9.
    val d = dir(Seq((0L, toks("a", 9)), (1L, toks("a", 9))))
    val out = run(d).collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[String]("kept_text"))).toSeq
    assert(out === Seq((9L, 9L, 1L, ""), (9L, 9L, 1L, "")))
  }

  test("a within-doc self-repeat is a duplicate; the gap survives") {
    // x1..x8 y x1..x8: the 8-gram occurs twice in ONE doc ->
    // islands [0,7] and [9,16], only "y" survives the mask.
    val x = toks("x", 8)
    val d = dir(Seq((0L, s"$x y $x")))
    val r = run(d).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((17L, 16L, 2L)))
    assert(r.getAs[String]("kept_text") === "y")
    assert(math.abs(r.getDouble(4) - 16.0 / 17) < 1e-6)
  }

  test("unique docs and sub-L docs report zero and keep full text") {
    val d = dir(Seq((0L, toks("u", 12)), (1L, "short doc only")))
    val out = run(d).collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getAs[String]("kept_text"))).toSeq
    assert(out === Seq(
      (0L, 0L, 0L, toks("u", 12)),
      (1L, 0L, 0L, "short doc only")))
  }

  test("adjacent-but-disjoint repeats stay two spans; coverage is exact") {
    // doc0 repeats p1..p8 and q1..q8 back-to-back from two different
    // partners -> spans [0,7] and [8,15] touch but never overlap: two
    // islands whose summed coverage equals the merged-coverage answer.
    val p = toks("p", 8); val q = toks("q", 8)
    val d = dir(Seq(
      (0L, s"$p $q"),
      (1L, s"${toks("m", 3)} $p ${toks("n", 3)}"),
      (2L, s"${toks("v", 3)} $q ${toks("w", 3)}")))
    val r0 = run(d).filter(col("doc_id") === 0).collect()(0)
    assert((r0.getLong(1), r0.getLong(2), r0.getLong(3)) ===
      ((16L, 16L, 2L)))
    assert(r0.getAs[String]("kept_text") === "")
  }
}
