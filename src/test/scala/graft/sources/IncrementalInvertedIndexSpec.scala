package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the incremental inverted-index maintenance contract (r12
  * verdict item 6): refresh after an append touches only the changed
  * base partitions' partials, re-merges only affected terms, and the
  * result ALWAYS equals a from-scratch rebuild; removals propagate;
  * refresh is idempotent.
  */
class IncrementalInvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase(rows: Seq[(Long, String, String)])
      : PartitionedCowTable = {
    implicit val s: SparkSession = spark
    val t = PartitionedCowTable(
      tempDir("iix_base") + "/t", "src")
    t.overwrite(rows.toDF("doc_id", "src", "text"))
    t
  }

  private def mkIndex(base: PartitionedCowTable): IncrementalInvertedIndex = {
    implicit val s: SparkSession = spark
    new IncrementalInvertedIndex(base,
      tempDir("iix_idx"),
      "doc_id", "text", graft.functions.GraftFunctions.tokens(_),
      ngram = 2, topK = 3, buckets = 8)
  }

  /** From-scratch q118-shaped rebuild over the base's CURRENT rows —
    * the equality oracle for every incremental state.
    */
  private def rebuild(base: PartitionedCowTable): DataFrame = {
    val tf = base.read()
      .select(col("doc_id"),
        graft.functions.GraftFunctions.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.wordShingles(col("tk"), 2))
        .as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(transform(
          slice(array_sort(collect_list(
            struct((-col("tf")).as("ntf"), col("doc_id")))), 1, 3),
          x => x.getField("doc_id").cast("string")), ",").as("top_docs"))
  }

  private def assertEqualsRebuild(idx: IncrementalInvertedIndex,
                                  base: PartitionedCowTable): Unit = {
    val got = idx.index.read().select("term", "df", "cf", "top_docs")
    val want = rebuild(base)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  private val seed = Seq(
    (1L, "web", "a b c a b"),
    (2L, "web", "a b x y"),
    (3L, "book", "a b c d"),
    (4L, "book", "z z z z z"),
    (5L, "news", "c d c d c d"))

  test("full build, then an append refreshes ONLY the touched " +
    "partition's partials and equals a from-scratch rebuild") {
    val base = mkBase(seed)
    val idx = mkIndex(base)
    val (from0, parts0, terms0, _) = idx.refresh()
    assert(from0 === -1 && parts0 === 3)
    assertEqualsRebuild(idx, base)
    val termsTotal = idx.index.read().count()
    assert(terms0 > 0 && terms0 === termsTotal)
    // append into ONE partition; note 'a b' df and top lists shift
    val newsDirBefore = idx.partials.manifest("news")
    val bookDirBefore = idx.partials.manifest("book")
    base.append(Seq((6L, "web", "a b a b a b"))
      .toDF("doc_id", "src", "text"))
    val (_, parts1, terms1, (ins, upd, del)) = idx.refresh()
    assert(parts1 === 1) // only 'web' recomputed
    // affected terms = web's vocabulary (before ∪ after), strictly
    // fewer than the whole index
    assert(terms1 > 0 && terms1 < termsTotal)
    assertEqualsRebuild(idx, base)
    // untouched partials partitions carried by reference, not rewritten
    assert(idx.partials.manifest("news") === newsDirBefore)
    assert(idx.partials.manifest("book") === bookDirBefore)
    // ledger: doc 6 ("a b a b a b") inserts exactly one new term
    // ('b a' — no prior doc has it), updates the rows it
    // strengthens ('a b'), deletes nothing
    assert(del === 0L && ins === 1L && upd > 0L)
    // idempotent: a second refresh at the same version commits nothing
    val v = idx.index.version
    assert(idx.refresh() === ((base.version, 0, 0L, (0L, 0L, 0L))))
    assert(idx.index.version === v)
  }

  test("a NEW term inserts; a partition delete drops its hapax terms " +
    "out of the serving tier") {
    val base = mkBase(seed)
    val idx = mkIndex(base)
    idx.refresh()
    base.append(Seq((7L, "news", "q r q r")).toDF("doc_id", "src", "text"))
    val (_, _, _, (ins1, _, del1)) = idx.refresh()
    assert(ins1 >= 2L && del1 === 0L) // 'q r', 'r q' are new terms
    assertEqualsRebuild(idx, base)
    // delete the whole 'book' partition: 'c d' survives (news),
    // 'z z' (book-only) must fall out
    base.deleteWhere(col("src") === "book")
    val (_, parts2, _, (_, _, del2)) = idx.refresh()
    assert(del2 > 0L)
    assert(parts2 === 0) // no changed partitions, one removed
    assertEqualsRebuild(idx, base)
    assert(idx.index.read().filter(col("term") === "z z").isEmpty)
    // 'c d' lived in docs 3 (book, deleted) and 5 (news): df 2 → 1
    assert(idx.index.read().filter(col("term") === "c d")
      .select("df").as[Long].head() === 1L)
  }

  test("banded serving read applies the q118 df band at read time") {
    val base = mkBase(seed)
    val idx = mkIndex(base)
    idx.refresh()
    val banded = idx.read(dfMin = 2, dfMax = 100)
    assert(banded.filter(col("df") < 2).isEmpty)
    // 'a b' appears in docs 1, 2, 3 → df 3, inside the band
    assert(banded.filter(col("term") === "a b")
      .select("df").as[Long].head() === 3L)
  }

  test("point lookup prunes to ONE bucket dir of the serving tier") {
    val base = mkBase(seed)
    val idx = mkIndex(base)
    idx.refresh()
    val nBuckets = idx.index.manifest.size
    assert(nBuckets > 1) // the prune has something to prune
    val hit = idx.lookup("a b")
    assert(hit.select("df").as[Long].head() === 3L)
    val (total, opened) = idx.index.autoPruneLedger
    assert(total === nBuckets && opened === 1)
    // absent term: zero rows, still ≤ 1 dir opened
    assert(idx.lookup("never seen").isEmpty)
    assert(idx.index.autoPruneLedger._2 <= 1)
  }
}
