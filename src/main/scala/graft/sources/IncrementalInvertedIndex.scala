package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained inverted PHRASE index (r12 verdict item
  * 6): q118 builds its index from scratch on every run; this pairs
  * the same index contract — per k-gram phrase its document
  * frequency, collection frequency and the top-K postings by
  * (tf desc, doc_id) — with [[IncrementalRollup]]'s manifest-diff
  * maintenance, so an append re-derives only what the touched base
  * partitions contribute (the persisted-index product shape q110
  * already has for vectors).
  *
  * Two tiers, both versioned [[PartitionedCowTable]]s:
  *
  *  - '''partials''' — partitioned BY THE BASE'S partition column:
  *    one row per (base partition, term) holding that partition's df
  *    and cf contributions and its own top-K posting structs. This
  *    tier is partition-ALIGNED with the base, so the manifest diff
  *    ([[PartitionedCowTable.changedPartitionValuesSince]]) names
  *    exactly the partial partitions to recompute — the
  *    IncrementalRollup argument verbatim. A per-partition top-K is
  *    LOSSLESS for the global top-K: each doc lives in exactly one
  *    base partition, and every global winner by (tf desc, doc_id)
  *    is at least as good within its own partition, so it survives
  *    the partial cap.
  *  - '''index''' — the serving tier, partitioned by a term-hash
  *    bucket: one row per term with the GLOBAL df/cf/top-K. Per
  *    refresh only AFFECTED terms (terms the touched partitions
  *    contribute now or contributed before) are re-merged, and
  *    [[PartitionedCowTable.mergeSync]] rewrites only the buckets
  *    whose rows changed.
  *
  * Refresh cost at 100 TB: O(changed partitions' TEXT) to re-derive
  * their partials — the expensive tokenize/shingle pass runs over
  * only the delta — plus one columnar scan of the partials tier for
  * the affected-term merge (vocabulary-scale, orders of magnitude
  * under the corpus), plus the bucket-scoped index rewrite. Never a
  * corpus re-scan, never a full-index rewrite. Checkpoint discipline
  * is IncrementalRollup's: `_index_sync.json` is written AFTER the
  * commits, so a crash replays an idempotent refresh (the serving
  * tier's mergeSync no-ops on identical state; the partials tier's
  * replacePartitions re-commits identical content — version bumps,
  * content fixpoint).
  */
class IncrementalInvertedIndex(val base: PartitionedCowTable,
                               indexRoot: String,
                               idCol: String, textCol: String,
                               tokenizer: Column => Column,
                               ngram: Int = 3, topK: Int = 5,
                               buckets: Int = 64)
                              (implicit spark: SparkSession) {

  val partials = new PartitionedCowTable(
    s"$indexRoot/partials", base.currentPartCol, spark)
  val index = new PartitionedCowTable(
    s"$indexRoot/index", "term_bucket", spark)

  private def syncFile = Paths.get(indexRoot, "_index_sync.json")

  def syncedVersion: Option[Int] = CowTable.syncedBase(syncFile)

  private val pcol = base.currentPartCol

  /** (partition, term) partials for the given base rows: df/cf
    * contributions and the partition-local top-K postings. One
    * (partition, term, doc) shuffle + one (partition, term) shuffle —
    * both keyed wide, no corpus-wide window; a boilerplate phrase
    * spreads over partitions instead of one hot reducer.
    */
  private def buildPartials(rows: DataFrame): DataFrame =
    rows
      .select(col(pcol), col(idCol).as("doc_id"),
        tokenizer(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= ngram)
      .select(col(pcol), col("doc_id"),
        explode(graft.functions.GraftFunctions
          .wordShingles(col("tk"), ngram)).as("term"))
      .groupBy(col(pcol), col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col(pcol), col("term"))
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        slice(array_sort(collect_list(
          struct((-col("tf")).as("ntf"), col("doc_id")))), 1, topK)
          .as("postings"))

  /** Partial rows → global per-term serving rows. The re-sort is
    * per-term over ≤ K·|contributing partitions| structs — metadata.
    */
  private def mergePartials(parts: DataFrame): DataFrame =
    parts.groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"),
        slice(array_sort(flatten(collect_list(col("postings")))),
          1, topK).as("postings"))
      .select(col("term"),
        pmod(xxhash64(col("term")), lit(buckets.toLong))
          .as("term_bucket"),
        col("df"), col("cf"),
        array_join(transform(col("postings"),
          x => x.getField("doc_id").cast("string")), ",").as("top_docs"))

  /** The q118 serving read: df band applied at read time (df moves
    * as the corpus grows; the stored index is unbanded so terms can
    * enter and leave the band without index rewrites).
    */
  def read(dfMin: Long = 2L, dfMax: Long = 100L): DataFrame =
    index.read().filter(col("df").between(dfMin, dfMax))
      .select("term", "df", "cf", "top_docs")

  /** Point lookup for one phrase: the bucket literal is derived
    * driver-side from the same hash the writer used, so the manifest
    * index prunes the read to ONE bucket dir of `buckets` — the
    * excerpt-audit probe stays dir-count-bounded no matter how large
    * the vocabulary grows.
    */
  def lookup(term: String): DataFrame = {
    val bucket = spark.range(1)
      .select(pmod(xxhash64(lit(term)), lit(buckets.toLong)))
      .head().getLong(0)
    index.read()
      .filter(col("term_bucket") === bucket && col("term") === term)
      .select("term", "df", "cf", "top_docs")
  }

  /** One maintenance cycle. Returns (syncedFrom (-1 = full build),
    * recomputed base partitions, affected terms, (inserted, updated,
    * deleted) index rows). No-op (zeros, no commit) when the index is
    * already at the base version.
    */
  def refresh(): (Int, Int, Long, (Long, Long, Long)) = {
    val cur = base.version
    val last = syncedVersion
    if (last.contains(cur)) return (cur, 0, 0L, (0L, 0L, 0L))
    val (changed, removed) = last match {
      case Some(v) => base.changedPartitionValuesSince(v)
      case None => (base.manifest.keySet, Set.empty[String])
    }
    val touched = changed ++ removed
    // Materialize reused intermediates to SCRATCH PARQUET, not
    // localCheckpoint: local-checkpoint blocks live in the block
    // manager, and in a long session under memory pressure the
    // block/task-result path java-serializes posting structs — the
    // r13 sf10 board died exactly there (a task result failed Java
    // serialization, SerializationDebugger then crashed on a JDK17
    // module-access error and the stage hung forever,
    // BASELINE.md r13 sitting notes). Parquet scratch is spillable,
    // survives block eviction, and is the pattern a 100 TB refresh
    // needs anyway (the partials delta can exceed executor memory).
    val scratch = Paths.get(indexRoot,
      s"_refresh_${java.util.UUID.randomUUID().toString.take(8)}")
    def materialize(df: DataFrame, tag: String): DataFrame = {
      val p = scratch.resolve(tag).toString
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    try {
      val fresh = materialize(
        buildPartials(base.readWhere(changed.contains)),
        "fresh") // reused: affected probe + both reconciles
      // affected terms = what the touched partitions contribute NOW ∪
      // what they contributed BEFORE (read from the partials tier
      // before it is reconciled — a term whose last posting vanished
      // must be re-merged so it falls out of the serving tier)
      val oldTerms =
        if (!partials.exists) fresh.select("term").limit(0)
        else partials.readWhere(touched.contains).select("term")
      val affected = materialize(
        fresh.select("term").unionByName(oldTerms).distinct(), "affected")
      val nAffected = affected.count()
      // 1. partials tier: partition-aligned reconcile — touched base
      //    partitions replaced wholesale, untouched carried by
      //    reference. replacePartitions, not mergeSync (r15, guide
      //    §1.2): the touched set is KNOWN and fresh is their full
      //    replacement content, so the declarative route's two full
      //    partials reads + keyed full-outer diff (O(partition×term
      //    rows), the r15 probe's largest partials-side cost) derived
      //    nothing the manifest diff hadn't already said. One commit,
      //    no read of superseded partials at all.
      if (!partials.exists) partials.overwrite(fresh)
      else partials.replacePartitions(touched, fresh)
      // 2. serving tier: re-merge ONLY affected terms from the updated
      //    partials, reconcile — mergeSync rewrites only buckets whose
      //    rows changed, and an affected-but-unchanged term diffs
      //    equal and costs nothing
      val recomputed = mergePartials(
        partials.read().join(affected, Seq("term"), "left_semi"))
      val iud =
        if (!index.exists) { index.overwrite(recomputed); (-1L, -1L, -1L) }
        else index.mergeSync(
          index.read().join(affected, Seq("term"), "left_anti")
            .unionByName(recomputed),
          Seq("term"))
      CowTable.syncBase(syncFile, cur)
      (last.getOrElse(-1), changed.size, nAffected, iud)
    } finally {
      // every consumer above ran eagerly (commits + count), so the
      // scratch is dead here; a crash leaves it for the next refresh's
      // fresh uuid — nothing reads a stale dir
      try CowTable.walkDelete(scratch)
      catch { case _: java.io.IOException => }
    }
  }
}
