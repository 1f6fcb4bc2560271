package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate — the "keep the
  * corpus stats table fresh without re-aggregating the lake" op
  * (Materialize/Delta-Live-Tables territory, partition-aligned
  * flavor): `summary = base.groupBy(dims).agg(aggs)` is maintained by
  * re-aggregating ONLY the partitions a commit actually touched.
  *
  * Requirements: `dims` must contain the base table's partition
  * column (checked loudly) — that alignment is what makes a
  * partition-local re-aggregate complete for every group it touches
  * (a group never spans two base partitions).
  *
  * [[refresh]] flow, all increments derived from the base MANIFEST
  * diff ([[PartitionedCowTable.changedPartitionValuesSince]] — the
  * same sharing argument as changedSince: untouched partitions keep
  * their dirs, so the diff IS the change list):
  *  1. read only CHANGED base partitions (pruned read) and
  *     re-aggregate them;
  *  2. reconcile the summary's touched partitions declaratively with
  *     `mergeSyncInPartitions`: source = the fresh aggregate, the new
  *     content of exactly those partitions, so summary partitions
  *     rewrite only where a value changed, in ONE commit
  *     (inserts for new base partitions, updates for re-aggregated
  *     ones, deletes for base partitions that vanished or emptied —
  *     a DV-emptied partition yields no aggregate row and falls out
  *     naturally);
  *  3. checkpoint the synced base version in `_rollup_sync.json`
  *     beside the summary manifest. The checkpoint is written AFTER
  *     the commit, so a crash between them re-runs the same refresh —
  *     which reconciles to the identical state and commits nothing
  *     (mergeSync's no-op contract): idempotent, never lossy.
  *
  * At 100 TB the refresh cost is O(changed partitions' bytes) +
  * O(summary size) — the summary is an aggregate (metadata-scale
  * next to the base), and the base read opens only touched dirs
  * through the manifest index.
  */
class IncrementalRollup(val base: PartitionedCowTable,
                        val summaryRoot: String,
                        dims: Seq[String],
                        aggs: Seq[(String, Column)])
                       (implicit spark: SparkSession) {

  require(dims.contains(base.currentPartCol),
    s"IncrementalRollup: dims must include the base partition column " +
      s"'${base.currentPartCol}' — partition-aligned maintenance " +
      s"needs every group confined to one base partition")

  val summary = new PartitionedCowTable(
    summaryRoot, base.currentPartCol, spark)

  private def syncFile = Paths.get(summaryRoot, "_rollup_sync.json")

  /** The base version the summary reflects, if any. */
  def syncedVersion: Option[Int] = CowTable.syncedBase(syncFile)

  private def aggregate(rows: DataFrame): DataFrame =
    rows.groupBy(dims.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)

  /** One maintenance cycle. Returns (syncedFrom (-1 = full build),
    * recomputed partitions, removed partitions, (inserted, updated,
    * deleted) summary rows). No-op (all zeros, no commit) when the
    * summary is already at the base version.
    */
  def refresh(): (Int, Int, Int, (Long, Long, Long)) = {
    val cur = base.version
    val last = syncedVersion
    if (last.contains(cur)) return (cur, 0, 0, (0L, 0L, 0L))
    val (changed, removed) = last match {
      case Some(v) => base.changedPartitionValuesSince(v)
      case None => (base.manifest.keySet, Set.empty[String])
    }
    val touched = changed ++ removed
    val fresh = aggregate(base.readWhere(changed.contains))
    val iud =
      if (!summary.exists) { summary.overwrite(fresh); (-1L, -1L, -1L) }
      // partition-scoped diff (r15, guide §1.2): every other summary
      // partition is unchanged by construction, so only the touched
      // ones are diffed (manifest-pruned on the table side) — the
      // unrestricted mergeSync would hash and full-outer-join the
      // WHOLE summary to re-discover a change set this refresh
      // derived from the manifest diff in the first place
      else summary.mergeSyncInPartitions(touched, fresh, dims)
    CowTable.syncBase(syncFile, cur)
    (last.getOrElse(-1), changed.size, removed.size, iud)
  }
}
