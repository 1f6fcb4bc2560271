package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write versioned Parquet table: the storage contract behind
  * the reference's constantly-UPDATEd/DELETEd catalogue rows
  * (J7 update join-back eodatadownlandsatgoogsensor.py:186-206,
  * J2 deletes 685-732, reset_scn 2847-2901) re-expressed on immutable
  * files (SURVEY.md §7.5 hard part #1).
  *
  * Layout: `<root>/v_<n>/part-*.parquet` + `<root>/_current` pointer.
  * A writer materializes the next full version directory, then
  * atomically moves the pointer — readers only ever follow `_current`,
  * so a crashed writer leaves garbage versions but never a torn table,
  * and re-running a step is idempotent (the reference's recovery
  * story).
  *
  * Scale: this implementation rewrites the whole table per commit —
  * right for small metadata tables (plugin results, obs-dates,
  * usage log). The 100 TB scene-table path is [[PartitionedCowTable]]
  * (same [[VersionedTable]] contract, partition-level rewrite).
  */
class CowTable(val root: String, spark: SparkSession) extends VersionedTable {

  private def pointer = Paths.get(root, "_current")

  private def currentVersion: Option[String] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), UTF_8).trim)
    else None

  def exists: Boolean = currentVersion.isDefined

  def read(): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    spark.read.parquet(s"$root/$v")
  }

  private def commit(df: DataFrame): Unit = {
    val base = currentVersion
    val next = "v_%06d".format(base.map(_.drop(2).toInt + 1).getOrElse(0))
    // stage under a writer-unique name: two writers racing from the
    // same base would otherwise BOTH target v_<next>, and the loser's
    // mode=overwrite could delete the winner's already-committed files
    // mid-write. Each writer materializes privately, then claims the
    // version directory with a no-replace rename — the dir-name
    // collision itself fails the loser before any shared state is
    // touched.
    val stage = s"_stage_${next}_${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(s"$root/$stage")
    // Files.move without options is check-then-rename: the
    // FileAlreadyExistsException comes from a pre-rename existence
    // stat, so two racers passing the check together fall through to
    // raw rename(2), which surfaces as DirectoryNotEmptyException (or
    // another FileSystemException) on a non-empty target. Catch the
    // whole family — any rename failure here means the version dir was
    // claimed by a competing writer.
    try {
      Files.move(Paths.get(root, stage), Paths.get(root, next))
    } catch {
      case e: java.nio.file.FileSystemException =>
        // best-effort cleanup: a cleanup failure (e.g. read-only FS —
        // the same condition that failed the rename) must not replace
        // the rename diagnosis
        try deleteRecursively(stage)
        catch { case c: Exception => e.addSuppressed(c) }
        val cme = new java.util.ConcurrentModificationException(
          s"concurrent commit detected at $root: version dir $next " +
            s"already claimed (competing writer from base " +
            s"${base.getOrElse("<none>")}; rename failed with " +
            s"${e.getClass.getSimpleName})")
        cme.initCause(e) // keep path/message/stack for non-race failures
        throw cme
    }
    // second line of defense: if another writer advanced the pointer
    // while this commit materialized, flipping it would silently THROW
    // AWAY the competing commit (the data just written derives from a
    // stale read). Fail loudly instead — the caller re-reads and
    // retries. (A race inside the check-then-move window remains
    // possible; single-writer-per-table is still the deployment rule,
    // this guard just turns most violations into errors.)
    if (currentVersion != base) {
      // the claimed dir is ours (the rename succeeded) and the pointer
      // never referenced it — remove it so a clean retry from the new
      // base isn't blocked by the orphan; keep it only in the corrupt
      // state where the pointer somehow already names it
      if (!currentVersion.contains(next)) deleteRecursively(next)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit detected at $root: expected base " +
          s"${base.getOrElse("<none>")}, found " +
          s"${currentVersion.getOrElse("<none>")}")
    }
    val tmp = Paths.get(root, s"_current.tmp.$next")
    Files.write(tmp, next.getBytes(UTF_8))
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(name: String): Unit =
    CowTable.walkDelete(Paths.get(root, name))

  /** Create or fully replace the table. */
  def overwrite(df: DataFrame): Unit = commit(df)

  /** Append rows as-is (ingest path; key discipline is the caller's
    * anti-join, see IncrementalIngest).
    */
  def append(df: DataFrame): Unit =
    if (!exists) commit(df) else commit(read().unionByName(df))

  /** PK upsert (J7): incoming rows replace current rows with the same
    * key; everything else is carried over. One anti-join + union —
    * both sides shuffle on the key once.
    */
  def upsert(updates: DataFrame, keys: Seq[String]): Unit =
    if (!exists) commit(updates)
    else commit(
      read().join(updates.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(updates))

  /** Targeted column update (the reference's row.field = x; commit()):
    * for rows matching `pred`, set each column to its new expression.
    */
  def updateWhere(pred: org.apache.spark.sql.Column,
                  sets: Map[String, org.apache.spark.sql.Column]): Unit = {
    val updated = sets.foldLeft(read()) { case (df, (name, value)) =>
      df.withColumn(name, when(pred, value).otherwise(col(name)))
    }
    commit(updated)
  }

  /** Anti-delete (J2 rm_scns_intersect shape): drop rows matching pred. */
  def deleteWhere(pred: org.apache.spark.sql.Column): Unit =
    commit(read().filter(!pred))

  /** OPTIMIZE-style small-file compaction: re-commit the current
    * contents coalesced into at most `targetFiles` files. Content is
    * identical by construction — only the layout changes — and
    * coalesce (not repartition) keeps the rewrite SHUFFLE-FREE: at
    * scale it streams existing files into wider ones with no
    * exchange. Readers on the old version are untouched (CoW);
    * [[vacuum]] reclaims it once they drain.
    */
  def compact(targetFiles: Int): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    commit(read().coalesce(targetFiles))
  }

  /** Number of data files in the current version — the metric
    * compaction exists to drive down. */
  def dataFileCount: Long = currentVersion.map { v =>
    val listing = Files.list(Paths.get(root, v))
    try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .count()
    finally listing.close()
  }.getOrElse(0L)

  /** Garbage-collect uncommitted/old version dirs and abandoned
    * staging dirs (keep current).
    */
  def vacuum(): Unit = currentVersion.foreach { cur =>
    val dir = Paths.get(root)
    if (Files.exists(dir)) {
      val listing = Files.list(dir)
      try {
        listing.forEach { p =>
          val n = p.getFileName.toString
          if ((n.startsWith("v_") && n != cur) || n.startsWith("_stage_"))
            CowTable.walkDelete(p)
        }
      } finally listing.close()
    }
  }
}

object CowTable {
  def apply(root: String)(implicit spark: SparkSession): CowTable =
    new CowTable(root, spark)

  /** Depth-first delete of `p` if it exists, closing the walk stream
    * (an unclosed `Files.walk` leaks a directory fd until GC —
    * repeated commit-collision retries in a long-lived JVM add up).
    */
  private[graft] def walkDelete(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
