package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampNTZType, TimestampType}

/** Partition-level copy-on-write table — the 100 TB layout promised by
  * [[CowTable]]'s scaladoc, implemented. A version is a MANIFEST
  * (JSON: partition value → data directory) rather than a data
  * directory: committing an update writes ONLY the partitions
  * containing touched rows into a fresh `w_<n>/` dir and re-references
  * every untouched partition's existing directory. A catalogue update
  * that touches one acquisition month rewrites that month, not the
  * table — unchanged bytes are shared across versions, the same
  * file-re-listing idea as Delta/Iceberg, without the dependency.
  *
  * Layout: `<root>/w_<n>/__part=<value>/part-*.parquet` (data,
  * written by `partitionBy` into a `_stage_<uuid>` dir and renamed
  * into place — a write stages its delta first and reads the touched
  * partitions off the stage's listing, see [[commit]]),
  * `<root>/v_<n>.json`
  * (the version's manifest: schema, spec, partitions and per-dir
  * metadata; `PartitionedCowTable.Manifest` is the one description of
  * its format), `<root>/_current` (atomic pointer). Readers follow
  * `_current` → manifest → dirs, so a crashed writer never tears the
  * table and re-runs are idempotent (the reference's recovery story,
  * SURVEY.md §7.5 #1).
  *
  * Constraints (pinned in PartitionedCowTableSpec): `partCol` values
  * must be non-null and path-safe (dates/months are); a key's
  * partition value must not change across upserts (the reference
  * never rewrites `Date_Acquired`). Rows keep `partCol` as a normal
  * column — each partition dir has a constant value for it, so
  * parquet min/max stats prune it even on full-table reads.
  *
  * PARTITION EVOLUTION (Iceberg-style): [[evolvePartitioning]] is a
  * metadata-only commit that switches the spec column for FUTURE
  * writes. Dirs written under an older spec become `legacy` manifest
  * entries: still read by every query (correctness never depends on
  * the spec), never prunable by the new spec (exactly Iceberg's
  * contract — old files keep their old spec), and migrated
  * PROGRESSIVELY — an upsert/merge that touches keys living in a
  * legacy dir rewrites that whole dir's rows under the current spec,
  * so hot data migrates itself and cold data is never rewritten
  * until [[compact]] (which migrates all remaining legacy dirs).
  */
class PartitionedCowTable(val root: String, val partCol: String,
                          spark: SparkSession,
                          val statsColumns: Seq[String] = Seq.empty,
                          val bloomColumns: Seq[String] = Seq.empty)
    extends VersionedTable {

  import PartitionedCowTable.{DirMeta, Entry, HiveSentinel, Manifest,
    mapper}

  /** Decoded-manifest cache. Manifest files are IMMUTABLE per version
    * (a commit writes v_N exactly once; vacuum deletes, never
    * rewrites), but a table deleted and recreated — or restored
    * out-of-band — at the same root reuses version numbers, so the
    * key pins (version, file size, mtime) like the bloom sidecar
    * cache: a recreated manifest misses and reloads. Why it exists:
    * every metadata read used to re-read + re-parse the manifest from
    * disk, and the manifest grows with the table's DIR COUNT — worse,
    * some call sites read it once per ENTRY inside a filter, making
    * the metadata work of a mutation O(dirs · parse(dirs)).
    * At sf10 (3000 dirs) that was 16 s of repeated JSON parsing per
    * updateWhere — the q130/q126 r13 signature; at 100k dirs it would
    * be the driver wall. With the cache a commit parses each manifest
    * version once per content, and the per-entry sites become map
    * lookups. Bounded (cleared wholesale past 64 versions) — manifests
    * are metadata-sized and sessions touch a handful of versions.
    */
  private val nodeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Long, Long), Manifest]()

  /** Manifest parses actually performed (cache misses) — the ledger
    * the O(touched-dirs) commit spec reads: a mutation's metadata
    * work must not scale with the table's TOTAL dir count, and
    * re-parses were exactly how it used to.
    */
  private[sources] val manifestParses =
    new java.util.concurrent.atomic.AtomicLong()

  private def versionFile(v: Int) = Paths.get(root, f"v_$v%06d.json")

  /** Version `v`'s manifest, decoded once per file identity. */
  private def manifestAt(v: Int): Manifest = {
    val p = versionFile(v)
    val attrs = Files.readAttributes(
      p, classOf[java.nio.file.attribute.BasicFileAttributes])
    if (nodeCache.size > 64) nodeCache.clear()
    nodeCache.computeIfAbsent(
      (v, attrs.size(), attrs.lastModifiedTime().toMillis),
      _ => { manifestParses.incrementAndGet()
        Manifest.decode(Files.readAllBytes(p), partCol) })
  }
  private def pointer = Paths.get(root, "_current")

  private def currentVersion: Option[Int] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), UTF_8).trim.toInt)
    else None

  override def exists: Boolean = currentVersion.isDefined

  private def requireVersion: Int = currentVersion.getOrElse(
    throw new IllegalStateException(s"no committed version at $root"))

  /** partition value → data dir relative to root (current version,
    * CURRENT spec only) — public introspection, the `DESCRIBE DETAIL`
    * analogue. Legacy-spec dirs are listed by [[legacyEntries]].
    */
  def manifest: Map[String, String] = {
    val m = manifestAt(requireVersion)
    m.entries.filter(_.pcol == m.spec).map(e => e.value -> e.dir).toMap
  }

  /** (specCol, value, dir) of every dir still on an older spec. */
  def legacyEntries: Seq[(String, String, String)] = {
    val m = manifestAt(requireVersion)
    m.entries.filter(_.pcol != m.spec).map(e => (e.pcol, e.value, e.dir))
  }

  /** The spec column NEW commits partition by — the constructor's
    * `partCol` until [[evolvePartitioning]] changes it.
    */
  def currentPartCol: String =
    currentVersion.map(manifestAt(_).spec).getOrElse(partCol)

  /** Align a caller frame to version `v`'s committed schema: columns
    * added by [[evolveSchema]] that the frame lacks materialize their
    * default (or null); a column of another type is cast to the
    * committed one (ANSI casts fail loudly on a value that does not
    * fit); columns the schema doesn't know fail loudly. Applied at
    * every mutation entry point, so the delta a commit stages and the
    * table rows it carries beside it share one file schema.
    */
  private def conformInput(v: Int, df: DataFrame): DataFrame = {
    val m = manifestAt(v)
    val target = m.schema
    val extra = df.columns.filterNot(target.fieldNames.contains)
    require(extra.isEmpty,
      s"commit: columns ${extra.mkString(", ")} not in the " +
        s"committed schema — use overwrite() to change the schema" +
        s" or evolveSchema() to add columns")
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.map { f =>
      have.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => m.defaults.get(f.name).map(d => expr(d._1))
          .getOrElse(lit(null))
          .cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** The scans of the most recent [[readConformed]], for
    * [[autoPruneLedger]]. Published ONCE per read build (a complete
    * immutable Seq swapped in after all of the read's scans are
    * constructed), never appended in place — concurrent builds can
    * interleave but neither ever observes a torn half-ledger.
    */
  @volatile private var lastIndexes: Seq[GraftFileIndex] = Seq.empty

  /** (dirs total, dirs opened) across the most recent BUILT read's
    * scans, AFTER an action forced them — the plan-automatic pruning
    * ledger: a plain `read().filter(...)` consults the manifest's
    * partition values and zone maps through [[GraftFileIndex]], and
    * this reports how many directories the scan actually listed.
    *
    * HARD PRECONDITION (pinned in PartitionedCowTableSpec): the
    * ledger attributes to the most recently BUILT read, so the
    * caller must build → execute → query the ledger before building
    * the NEXT read on this table. Interleaving two lazily-built
    * reads (build A, build B, execute A, query) misattributes the
    * ledger to B's scans; gates and specs follow the sequential
    * protocol.
    */
  def autoPruneLedger: (Int, Int) = {
    val l = lastIndexes.map(_.lastPrune)
    (l.map(_._1).sum, l.map(_._2).sum)
  }

  /** Every dir path the most recent BUILT read's indexes resolved
    * with a filesystem listing — the METADATA-plane twin of
    * [[autoPruneLedger]]: listing is lazy in [[GraftFileIndex]], so
    * a pruned dir must never appear here (pinned in spec). Same
    * build-execute-query sequential precondition as the prune ledger.
    */
  def autoListedDirs: Set[String] =
    lastIndexes.flatMap(_.listedDirPaths).toSet

  /** One manifest-aware scan over `ds`: a [[GraftFileIndex]] carrying
    * each dir's partition value + zone maps, so Spark's own pushed
    * filters prune directories at plan time (no bespoke readWhere
    * needed). Explicit-schema semantics identical to
    * `spark.read.schema(sch).parquet(ds)`. Appends its index to the
    * caller's per-read buffer — shared ledger state is only touched
    * by the one publish at the end of [[readConformed]].
    */
  private def indexedScan(v: Int, sch: StructType, ds: Seq[String],
                          info: Map[String, GraftFileIndex.ScanDir],
                          buf: scala.collection.mutable.Buffer[GraftFileIndex])
      : DataFrame = {
    val (df, idx) = GraftFileIndex.scan(spark, sch, ds.map(p =>
      info.getOrElse(p,
        GraftFileIndex.ScanDir(p, Map.empty, Map.empty))))
    buf += idx
    df
  }

  /** Read dirs through version `v`'s committed schema: columns a dir
    * predates come back null (Spark's explicit-schema parquet read),
    * then declared defaults fill them — the metadata-only add-column
    * contract. Iceberg's initial-default scoping: the default fills
    * ONLY dirs written before the column existed; a dir written after
    * the evolve stored the column physically, so its explicit NULLs
    * read back as NULL. Every data dir name embeds its commit version
    * (w_NNNNNN), so the pre/post split needs no extra metadata — dirs
    * are grouped by which defaults apply and each group is one scan.
    */
  private def readConformed(v: Int, dirs: Seq[String]): DataFrame = {
    val m = manifestAt(v)
    val sch = m.schema
    val dfl = m.defaults.filter { case (c, _) => sch.fieldNames.contains(c) }
    val info: Map[String, GraftFileIndex.ScanDir] =
      m.entries.map { e =>
        val p = s"$root/${e.dir}"
        val d = m.dir(e.dir)
        p -> GraftFileIndex.ScanDir(p, Map(e.pcol -> e.value), d.stats,
          d.sstats, d.dstats, m.kinds, d.bytes.getOrElse(-1L),
          d.blooms.map(c => c -> s"$p/_bloom_$c.bf").toMap)
      }.toMap
    val buf = scala.collection.mutable.ArrayBuffer.empty[GraftFileIndex]
    if (dfl.isEmpty && m.dirs.values.forall(_.dvs.isEmpty)) {
      val df = indexedScan(v, sch, dirs, info, buf)
      lastIndexes = buf.toSeq
      return df
    }
    val wv = "(?:^|/)w_(\\d{6})/".r
    def writeVer(d: String): Int =
      wv.findFirstMatchIn(d).map(_.group(1).toInt).getOrElse(Int.MaxValue)
    def relDir(d: String): String = d.stripPrefix(s"$root/")
    // one scan per (defaults, deletion-vector) signature: dirs with
    // identical conformance needs read together
    val out = dirs.groupBy(d => (
        dfl.filter(_._2._2 > writeVer(d)).keys.toSeq.sorted,
        m.dir(relDir(d)).dvs.sorted))
      .map { case ((cols, dvFiles), ds) =>
        val base = indexedScan(v, sch, ds, info, buf)
        val defaulted = cols.foldLeft(base)((df, c) =>
          df.withColumn(c, coalesce(col(c), expr(dfl(c)._1))))
        // deletion vectors: anti-join each key file — a vector can
        // reference keys not present in this group harmlessly (the
        // anti-join is a no-op for them). NULL-SAFE equality: a
        // deleted row whose key column is null must still match its
        // vector entry (plain = never matches NULL, which would make
        // an erasure path silently skip such rows)
        dvFiles.foldLeft(defaulted) { (df, f) =>
          val dv = spark.read.parquet(s"$root/$f")
          val dvA = dv.toDF(dv.columns.map("__dv_" + _): _*)
          val cond = dv.columns.map(c => df(c) <=> dvA("__dv_" + c))
            .reduce(_ && _)
          df.join(dvA, cond, "left_anti")
        }
      }.reduce(_.unionByName(_))
    lastIndexes = buf.toSeq
    out
  }

  override def read(): DataFrame = readWhere(_ => true)

  /** Manifest-level partition pruning: only matching partitions' dirs
    * are listed, opened, or scheduled — the reader never touches the
    * rest (the watermark/date-range scan path at scale).
    */
  def readWhere(partFilter: String => Boolean): DataFrame =
    readVersionWhere(requireVersion, partFilter)

  /** Time travel: the table exactly as version `v` committed it.
    * A version is a manifest, so reading one is just following ITS
    * partition→dir map — superseded versions stay readable until
    * [[vacuum]] reclaims their unshared directories (the Delta-style
    * retention contract; a vacuumed version raises on read because
    * its manifest file is gone).
    */
  def readVersion(v: Int): DataFrame = readVersionWhere(v, _ => true)

  /** [[readVersion]] with manifest-level partition pruning. The
    * explicit partFilter applies only to dirs on that version's
    * CURRENT spec; legacy-spec dirs cannot be pruned by the new
    * spec's values and are always listed (the Iceberg contract) —
    * but every returned frame still scans through [[GraftFileIndex]],
    * so plain Column filters ALSO prune any dir (legacy included) by
    * its own recorded partition value and zone maps at plan time.
    */
  def readVersionWhere(v: Int,
                       partFilter: String => Boolean): DataFrame = {
    require(Files.exists(versionFile(v)),
      s"no version $v at $root (never committed, or vacuumed away)")
    val m = manifestAt(v)
    val dirs = m.entries
      .filter(e => e.pcol != m.spec || partFilter(e.value))
      .map(e => s"$root/${e.dir}")
    if (dirs.isEmpty) emptyLike(v) else readConformed(v, dirs)
  }

  /** ZONE-MAP pruned read: only dirs whose recorded [min, max] for
    * `c` intersects [lo, hi] are listed, opened, or scheduled — the
    * per-file-stats pruning [[readWhere]]'s scaladoc promises, for
    * predicates on a NON-partition column that correlates with the
    * layout (dates inside month dirs, monotone keys inside ingest
    * batches — the classic zone-map win). Dirs without recorded
    * stats for `c` (table built without [[statsColumns]], legacy
    * dirs predating it) are kept CONSERVATIVELY: pruning is an
    * optimization, never a filter — callers still apply their
    * predicate to the returned rows.
    */
  def readWhereStats(c: String, lo: Long, hi: Long): DataFrame = {
    val v = requireVersion
    val dirs = statsKept(v, c, lo, hi).map(e => s"$root/${e.dir}")
    if (dirs.isEmpty) emptyLike(v) else readConformed(v, dirs)
  }

  /** (total dirs, dirs kept) for a [[readWhereStats]] predicate —
    * the pruning ledger an I/O audit gates on.
    */
  def pruneLedger(c: String, lo: Long, hi: Long): (Int, Int) = {
    val v = requireVersion
    (manifestAt(v).entries.size, statsKept(v, c, lo, hi).size)
  }

  private def statsKept(v: Int, c: String, lo: Long, hi: Long)
      : Seq[Entry] = {
    val m = manifestAt(v)
    m.entries.filter { e =>
      m.dir(e.dir).stats.get(c) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats -> never prune
      }
    }
  }

  /** Current committed version number (for [[changedSince]]). */
  def version: Int = requireVersion

  /** [[changedSince]] at PARTITION-VALUE grain: (changed, removed) —
    * `changed` holds current-manifest values whose (dir, deletion
    * vectors) identity differs from `sinceVersion`'s (rewritten,
    * newly created, re-created, or DV-touched), `removed` holds
    * values `sinceVersion` referenced that the current manifest no
    * longer does (deleted empty, or dropped by overwrite). This is
    * the change LIST a downstream incremental consumer keys its work
    * on ([[IncrementalRollup]] re-aggregates exactly these); the
    * row-level feed is [[changedSince]]. Requires a single-spec
    * table across the window (no partition evolution, no legacy
    * dirs) — a value under another spec column is not attributable
    * to this one, so the diff refuses loudly rather than guessing.
    */
  def changedPartitionValuesSince(sinceVersion: Int)
      : (Set[String], Set[String]) = {
    val cur = manifestAt(requireVersion)
    require(Files.exists(versionFile(sinceVersion)),
      s"changedPartitionValuesSince: no version $sinceVersion at " +
        s"$root (never committed, or vacuumed)")
    val old = manifestAt(sinceVersion)
    val spec = cur.spec
    require(old.spec == spec,
      s"changedPartitionValuesSince: partition spec changed " +
        s"(${old.spec} -> $spec) across the window — " +
        s"value-grain diff undefined")
    require(old.entries.forall(_.pcol == spec) &&
      cur.entries.forall(_.pcol == spec),
      s"changedPartitionValuesSince: legacy-spec dirs present — " +
        s"migrate (compact) before value-grain diffing")
    def byValue(m: Manifest) =
      m.entries.map(e => e.value -> (e.dir, m.dir(e.dir).dvs)).toMap
    val om = byValue(old)
    val cm = byValue(cur)
    val changed = cm.collect {
      case (v, s) if !om.get(v).contains(s) => v }.toSet
    (changed, om.keySet -- cm.keySet)
  }

  /** CDC-lite: rows of every partition whose data directory differs
    * from version `sinceVersion`'s manifest (rewritten, newly created,
    * or re-created). Untouched partitions share their directory across
    * versions by construction, so the manifest diff IS the change set —
    * a downstream consumer checkpoints the version number and
    * re-processes only rewritten partitions, never the table.
    * `sinceVersion < 0` means everything. Note `vacuum()` retention:
    * a vacuumed-away base version can no longer be diffed against
    * (same contract as Delta-style time travel).
    */
  def changedSince(sinceVersion: Int): DataFrame = {
    val cur = requireVersion
    // diff on (DIRECTORY, deletion vectors): an evolve commit relabels
    // entries (spec moves to legacy) without touching a byte — its
    // dirs are unchanged, so it must produce an empty change set; a
    // deleteWhereDV commit changes a dir's CONTENT without touching
    // its bytes, so the dv list is part of the identity
    val old: Map[String, Seq[String]] =
      if (sinceVersion < 0) Map.empty
      else {
        val m0 = manifestAt(sinceVersion)
        m0.entries.map(e => e.dir -> m0.dir(e.dir).dvs).toMap
      }
    val m = manifestAt(cur)
    val dirs = m.entries
      .filter { e =>
        if (sinceVersion < 0) true
        else old.get(e.dir) match {
          case Some(prevDv) => m.dir(e.dir).dvs != prevDv
          case None => true
        }
      }
      .map(e => s"$root/${e.dir}")
    if (dirs.isEmpty) emptyLike(cur) else readConformed(cur, dirs)
  }

  /** DELETION-VECTOR delete: commit the matching rows' KEYS as a tiny
    * sidecar file instead of rewriting any data dir — the Delta
    * deletion-vector / Iceberg delete-file shape, the only delete
    * whose cost is proportional to the DELETED rows, not the touched
    * partitions. Readers anti-join the vector ([[readConformed]]);
    * any later rewrite of a dir reads through its vectors and drops
    * them (the rewrite materializes the deletion), so upserting a
    * deleted key re-inserts it — exactly the engine-native semantics.
    * [[changedSince]] treats a new vector as changing every dir it
    * attaches to; [[compact]] materializes all vectors; [[vacuum]]
    * reclaims unreferenced vector files. Deleting already-DV-deleted
    * rows is a no-op (the matching read applies existing vectors).
    *
    * SCOPED ATTACH: the new vector is attached ONLY to dirs whose
    * partition value actually held a matching row (legacy-spec dirs
    * attach conservatively — the new spec's values say nothing about
    * them). Untouched dirs keep their exact dv list, so
    * [[changedSince]] reports only the dirs that really changed and
    * their reads carry no anti-join — read cost stays proportional
    * to the deleted rows, as the contract above claims.
    *
    * SHARDED KEY FILE: the vector is written as
    * ceil(keys / shardRows) part files instead of a forced single
    * file — a billion-key erasure must not funnel through one task.
    */
  /** Test seam: invoked at the commit-race window (after a mutation
    * derived its state from the current version, before it publishes)
    * so specs can interleave a competing writer DETERMINISTICALLY —
    * real double-thread races are flaky by construction. No-op in
    * production; a test sets it and the body self-clears (the
    * interleaved mutation re-enters the same window).
    */
  private[sources] var raceSeam: () => Unit = () => ()

  def deleteWhereDV(pred: Column, keys: Seq[String],
                    shardRows: Long = 8L * 1024 * 1024): Unit = {
    val cur = requireVersion
    val m = manifestAt(cur)
    val spec = m.spec
    val selCols = (keys :+ spec).distinct
    val hit = read().filter(pred).select(selCols.map(col): _*)
      .localCheckpoint() // reused: key projection + touched values
    val matches = hit.select(keys.map(col): _*).distinct()
    val nKeys = matches.count()
    if (nKeys == 0) return
    val touched = hit.select(col(spec).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val rel = f"dv/dv_${cur + 1}%06d_" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val shards = math.max(1, math.ceil(nKeys.toDouble / shardRows).toInt)
    (if (shards == 1) matches.coalesce(1) else matches.repartition(shards))
      .write.parquet(s"$root/$rel")
    val attached = m.entries
      .filter(e => e.pcol != spec || touched.contains(e.value))
      .map { e => val d = m.dir(e.dir); e.dir -> d.copy(dvs = d.dvs :+ rel) }
    raceSeam()
    try publish(cur + 1, m.copy(dirs = m.dirs ++ attached))
    catch {
      case e: java.util.ConcurrentModificationException =>
        // the just-written vector file is ours and no manifest
        // references it — reclaim it in the same failure path, the
        // commit() symmetry (an orphan would otherwise linger until
        // vacuum)
        try CowTable.walkDelete(Paths.get(root, rel))
        catch { case c: Exception => e.addSuppressed(c) }
        throw e
    }
  }

  /** Deletion-vector files the current version references (audit). */
  def liveDvFiles: Seq[String] =
    manifestAt(requireVersion).dirs.values.flatMap(_.dvs).toSeq
      .distinct.sorted

  // ---- named refs (Iceberg-style tags) ----

  private def refsFile = Paths.get(root, "refs.json")

  /** name → version for every named ref. Tags are RETENTION ANCHORS:
    * [[vacuum]] keeps every tagged version's manifest, data dirs and
    * deletion vectors alive alongside the current version, so a
    * release consumer reading `readTag("release-x")` survives any
    * amount of later mutation + vacuuming until the tag is dropped —
    * the Iceberg ref-retention contract.
    */
  def tags: Map[String, Int] =
    if (!Files.exists(refsFile)) Map.empty
    else mapper.readTree(Files.readAllBytes(refsFile)).fields().asScala
      .map(e => e.getKey -> e.getValue.asInt()).toMap

  /** Pin `name` to version `v` (default: the current version).
    * Re-tagging an existing name moves it (Iceberg's replace-tag).
    */
  def tag(name: String, v: Int = -1): Unit = {
    val target = if (v < 0) requireVersion else v
    require(Files.exists(versionFile(target)),
      s"tag: no version $target at $root")
    writeRefs(tags + (name -> target))
  }

  def dropTag(name: String): Unit = writeRefs(tags - name)

  /** The table exactly as the tagged version committed it. */
  def readTag(name: String): DataFrame = {
    val t = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))
    readVersion(t)
  }

  private def writeRefs(m: Map[String, Int]): Unit = {
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val tmp = Paths.get(root, s"_refs.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, refsFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The distinct partition values present in a DataFrame — small by
    * construction (a commit touches few partitions), so the collect is
    * bounded by partition count, not data size. Only for mutations
    * whose touched set is NOT the data they write (a predicate's hits,
    * an ops log's keys, migrated legacy rows); a written delta's
    * touched set comes from its staged listing ([[stagedValues]]).
    */
  private def touchedValues(df: DataFrame, spec: String): Set[String] = {
    // each task dedups its own values and the driver merges the sets:
    // one job, where distinct() is two under AQE (its map stage, then
    // its result stage)
    val vals = df.select(col(spec).cast("string")).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().toSet
    refuseUnroundtrippable(vals)
    vals
  }

  // Path-unsafe values ROUND-TRIP: partitionBy percent-escapes them
  // into the dir name and the staged listing unescapes them back into
  // Entry.value (escapePathName/unescapePathName are exact inverses —
  // '%' itself is escaped), so 'a:b' or 'x%y' are fine. What can NOT
  // round-trip is null and the empty string — Spark writes BOTH as the
  // __HIVE_DEFAULT_PARTITION__ sentinel dir, so the raw value is
  // unrecoverable (and a literal sentinel string would collide with
  // it). Reject those loudly.
  private def refuseUnroundtrippable(vals: Set[String]): Unit =
    vals.foreach { v =>
      require(v != null,
        s"partition column '$partCol' contains null — not supported")
      require(v.nonEmpty,
        s"partition column '$partCol' contains an empty string — " +
          s"Spark writes it as the default-partition sentinel dir, " +
          s"which cannot round-trip; not supported")
      require(v != HiveSentinel,
        s"partition value collides with Spark's default-partition " +
          s"sentinel — not supported")
    }

  /** Run one stage-first mutation: `body` gets a fresh writer-unique
    * `_stage_<uuid>` name, stages the commit's rows there and ends in
    * [[commit]], which claims the dir. A failure before the claim — a
    * refused partition value, a failed job — deletes the stage, so a
    * write that does not commit leaves nothing behind.
    */
  private def staging(body: String => Unit): Unit = {
    val stage = s"_stage_${java.util.UUID.randomUUID()}"
    try body(stage)
    catch {
      case e: Throwable =>
        val p = Paths.get(root, stage)
        if (Files.exists(p))
          try CowTable.walkDelete(p)
          catch { case c: Exception => e.addSuppressed(c) }
        throw e
    }
  }

  /** Append `rows` to the stage, one `__part=<value>` dir per value of
    * the spec column. The first call is the ONLY evaluation of the
    * caller's plan; a second call adds the rows that carry forward
    * from the touched partitions (a fresh job id names each call's
    * files, so they never collide).
    *
    * (Optimization-round probe, kept as a finding: hash-clustering
    * this write by (__part, content-salt) — Iceberg's distribution-
    * mode=hash — was measured SLOWER at gate scale (q226 5.7 → 9.6 s
    * steady): the stage-write phase is dominated by the commit's
    * input-side compute (the touched partitions' post-image
    * read/union/filter), not by file fan-out, and the extra exchange
    * + per-task writer setup cost more than the serial dynamic write
    * saved. File-count layout remains [[compact]]'s job (targetBytes
    * sizing), where the rewrite IS the point.)
    */
  private def stageRows(rows: DataFrame, spec: String, stage: String): Unit =
    rows.withColumn("__part", col(spec).cast("string"))
      .write.partitionBy("__part").mode("append").parquet(s"$root/$stage")

  /** The raw partition values of `dir`'s `__part=` children — no job.
    * Entry.value is ALWAYS the RAW partition value: partitionBy
    * percent-escapes path-unsafe chars into the dir name (':' →
    * '%3A'), so the listed name is UNESCAPED back before it is
    * compared to anything literal-side — `touched` membership,
    * GraftFileIndex exact pruning, deleteWhereDV's scoped attach and
    * the zone-map stats lookup all compare raw values (a value kept
    * escaped would silently miss every one of them). Entry.dir keeps
    * the on-disk (escaped) name.
    */
  private def listParts(dir: String, spec: String): Seq[Entry] = {
    val listing = Files.list(Paths.get(root, dir))
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("__part="))
      .map(n => Entry(spec,
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix("__part=")),
        s"$dir/$n")).toSeq
    finally listing.close()
  }

  /** The partition values staged so far: the stage's listing, with
    * [[touchedValues]]' refusals. Null, '' and a literal sentinel all
    * land in the one sentinel dir; only then are that dir's rows read
    * back, so the refusal can name which it was.
    */
  private def stagedValues(stage: String, spec: String): Set[String] = {
    val vals = listParts(stage, spec).map(_.value).toSet
    if (vals.contains(HiveSentinel))
      touchedValues(spark.read.parquet(s"$root/$stage/__part=$HiveSentinel"),
        spec)
    refuseUnroundtrippable(vals)
    vals
  }

  /** The staged delta's rows as written (files listed now, so rows a
    * later [[stageRows]] call adds are not part of it).
    */
  private def stagedDelta(stage: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("recursiveFileLookup", "true")
      .parquet(s"$root/$stage")

  /** Test seam: fires after the commit's data is staged, before the
    * claim/publish loop — the window where a competing writer's full
    * commit lands between this writer's base snapshot and its pointer
    * flip. Self-clearing overrides (the raceSeam pattern) let specs
    * engineer a deterministic race.
    */
  private[sources] var commitSeam: () => Unit = () => ()

  /** Can a commit based on `base` rebase onto `cur` (a competing
    * writer's result) instead of aborting? Yes iff the winner left
    * the table's METADATA contract intact (schema, partition spec,
    * defaults, stats kinds — our staged data was conformed against
    * base's versions of all four) AND every entry the winner changed
    * — added, removed, re-pointed, or DV-touched — is DISJOINT from
    * `affected`, the (specCol, value) pairs this commit read-modifies
    * or drops. Delta's WriteSerializable reconcile, at partition
    * grain: disjoint-partition appends compose in either order, so
    * replaying ours on the winner's manifest commits both.
    */
  private def rebaseCompatible(b: Int, c: Int,
                               affected: Set[(String, String)]): Boolean =
    winnerDelta(b, c, affected).isDefined

  /** The winner's NEW-CONTENT delta when a rebase from `b` onto `c`
    * is metadata-compatible and entry-disjoint from `affected`:
    * Some(entries in `c` that are new or re-pointed vs `b` — the dirs
    * whose content the loser's read snapshot never saw), None when
    * the rebase is ineligible. DV-only changes are excluded from the
    * returned delta (a deletion vector only SHRINKS a dir's effective
    * content, and shrinkage can't introduce rows the loser's
    * key-disjointness proof would have needed to see) but still count
    * as changes for the disjointness test itself.
    */
  private def winnerDelta(b: Int, c: Int,
                          affected: Set[(String, String)])
      : Option[Seq[Entry]] = {
    val (mb, mc) = (manifestAt(b), manifestAt(c))
    if (mc.schema.toDDL != mb.schema.toDDL) return None
    if (mc.spec != mb.spec) return None
    if (mc.defaults != mb.defaults) return None
    if (mc.kinds != mb.kinds) return None
    val eb = mb.entries.map(e => (e.pcol, e.value) -> e.dir).toMap
    val ec = mc.entries.map(e => (e.pcol, e.value) -> e.dir).toMap
    val changed = (eb.keySet ++ ec.keySet).filter { k =>
      eb.get(k) != ec.get(k) ||
        eb.get(k).map(mb.dir(_).dvs) != ec.get(k).map(mc.dir(_).dvs)
    }
    if ((changed & affected).nonEmpty) None
    else Some(mc.entries.filter(e =>
      changed((e.pcol, e.value)) &&
        !eb.get((e.pcol, e.value)).contains(e.dir)))
  }

  /** Core commit: publish the rows staged in `stage` as the new
    * content of exactly the partitions in `touched` (a touched
    * partition absent from the stage is dropped — it became empty);
    * carry every untouched partition from `carried`.
    *
    * STAGE-FIRST: the caller has already written every row of the
    * touched partitions into `stage` (see [[staging]]) — usually the
    * delta first, read back by listing for the touched set, then the
    * rows that carry forward — so the caller's plan is evaluated once
    * and this method starts no job of its own except the optional
    * zone-map and bloom passes over the written dirs.
    *
    * PINNED BASE: `base0` is the version the mutation snapshotted when
    * it started; its read, its carried entries and the schema the
    * stage was conformed to all come from that one version, and this
    * commit publishes as its successor. A writer that commits while
    * this one stages therefore surfaces as a version race below —
    * rebased when sound, aborted otherwise — never as a silent
    * overwrite.
    *
    * `schema` is set only by a commit that SETS the table's schema
    * (overwrite); every other commit keeps `base0`'s schema and
    * defaults.
    *
    * `narrowRead` declares the commit's READ SCOPE: true means the
    * caller read only the partitions it rewrites or drops (append,
    * compact), so when a competing writer wins the version race with
    * changes DISJOINT from that scope, this commit REBASES — re-reads
    * the winner's manifest, re-derives its carried entries from it,
    * and re-publishes under the next version — instead of aborting
    * (bounded retries; a genuine overlap still fails loudly).
    *
    * `keyProbe` is the KEY-SCOPED middle ground for commits whose
    * read scan covered the whole table but whose RESULT depends only
    * on rows carrying specific keys (upsert, mergeApply): on a
    * version race with entry-disjoint winner changes, the probe
    * receives the winner's new-content entries and returns true iff
    * none of their rows carry this commit's keys — exactly the
    * condition under which the loser's staged result is still what a
    * serial replay on the winner's table would have produced (the
    * winner neither touched the loser's partitions — entry
    * disjointness — nor introduced rows the loser's key-dedup scan
    * should have seen — the probe). Predicate-scoped commits
    * (updateWhere, deleteWhere, mergeSync) pass neither flag and
    * still never rebase: any concurrent change could invalidate what
    * they computed.
    */
  private def commit(base0: Option[Int], stage: String,
                     touched: Set[String], carried: Seq[Entry],
                     schema: Option[StructType] = None,
                     narrowRead: Boolean = false,
                     keyProbe: Option[(Seq[Entry], String) => Boolean] =
                       None)
      : Unit = {
    val m0 = base0.map(manifestAt)
    val spec = m0.map(_.spec).getOrElse(partCol)
    val dataSchema = schema.getOrElse(m0.get.schema)
    val defaults =
      if (schema.isDefined) Map.empty[String, (String, Int)]
      else m0.get.defaults
    // this commit's affected scope: the partitions it rewrites plus
    // every entry the caller deliberately dropped (migrated legacy
    // dirs) — a rebase is sound only when the winner touched none
    val affected: Set[(String, String)] =
      touched.map(v => (spec, v)) ++
        (m0.map(_.entries).getOrElse(Seq.empty)
          .map(e => (e.pcol, e.value)).toSet --
          carried.map(e => (e.pcol, e.value)).toSet)
    // the stage has a writer-unique name; claim w_<next> with a
    // no-replace rename (see CowTable.commit): two writers racing from
    // the same base both target w_<next>, and the loser's overwrite
    // could delete the winner's committed files mid-write — the
    // dir-name collision fails the loser before shared state is touched
    commitSeam()
    var base = base0
    var curCarried = carried
    var src = stage // where the staged data dir currently lives
    var attempts = 0
    // On a version race: rebase when eligible (narrow scope, winner
    // disjoint, bounded attempts), abort loudly otherwise — cleaning
    // up our staged/claimed dir, never the winner's.
    def rebaseOrAbort(err: Throwable, cleanup: String): Unit = {
      val cur = currentVersion
      val eligible = (narrowRead || keyProbe.isDefined) &&
        attempts < 4 && cur != base && base.isDefined && cur.isDefined
      val delta: Option[Seq[Entry]] =
        if (eligible) winnerDelta(base.get, cur.get, affected) else None
      // narrow-read commits rebase on entry disjointness alone;
      // key-scoped commits additionally prove the winner's new
      // content carries none of their keys (one job over ONLY the
      // winner's delta dirs, never a table rescan)
      // `src` is wherever this commit's staged data currently lives
      // (the _stage_ dir, or the claimed w_ dir after a rename) —
      // the probe reads its OWN keys from there, never from the
      // caller's (possibly table-derived) input plan
      val ok = delta.exists(d =>
        narrowRead || d.isEmpty || keyProbe.get(d, s"$root/$src"))
      if (!ok) {
        try CowTable.walkDelete(Paths.get(root, cleanup))
        catch { case c: Exception => err.addSuppressed(c) }
        err match {
          case cme: java.util.ConcurrentModificationException => throw cme
          case e =>
            val cme = new java.util.ConcurrentModificationException(
              s"concurrent commit detected at $root: data dir " +
                s"already claimed (competing writer from the same " +
                s"base; rename failed with ${e.getClass.getSimpleName})")
            cme.initCause(e)
            throw cme
        }
      }
      curCarried = manifestAt(cur.get).entries
        .filterNot(en => affected((en.pcol, en.value)))
      base = cur
      attempts += 1
    }
    // The whole publish step for one claimed data dir: list written
    // entries, aggregate zone maps and byte counts, write the
    // manifest. Returns true when committed; a version race inside
    // publish rebases (when sound) and returns false so the
    // claim/publish loop below re-claims under the new base.
    def publishAttempt(wdir: String): Boolean = {
      val next = base.map(_ + 1).getOrElse(0)
      val written: Seq[Entry] = listParts(wdir, spec)
      // carried minus current-spec entries being replaced (an evolved
      // table's legacy entries are dropped only when explicitly absent
      // from `carried` — the migration paths pass them pre-filtered;
      // after a rebase, curCarried is the winner's manifest minus this
      // commit's affected scope)
      val kept = curCarried.filterNot(e =>
        e.pcol == spec && touched.contains(e.value))
      // carried dirs keep their records verbatim: zone maps, bytes and
      // blooms (unchanged bytes, unchanged metadata), and deletion
      // vectors (rewritten dirs read THROUGH their vectors above, so
      // the rewrite materialized them); freshly-written dirs get ONE
      // footer-sized aggregate over the new files. Zero jobs when
      // statsColumns is empty. Read from `base` — the version this
      // attempt publishes against.
      val bm = base.map(manifestAt)
        .getOrElse(Manifest(dataSchema, spec, Seq.empty))
      // per-dir data bytes from the just-written local files (the same
      // name filter the index's listing applies) — recorded so plan-time
      // sizeInBytes never needs a listing
      val writtenBytes: Map[String, Long] = {
        def sizeOf(dir: String): Long = {
          val listing = Files.list(Paths.get(root, dir))
          try listing.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith("."))
            .map(Files.size).sum
          finally listing.close()
        }
        // wide commits (overwrite/compact at 100k dirs) fan the per-
        // dir listing through the shared I/O pool — serial driver
        // listings at ~50 ms/dir on object storage would make the
        // byte ledger the commit wall; narrow commits stay serial
        if (written.size <= 32) written.map(e => e.dir -> sizeOf(e.dir)).toMap
        else {
          val fs = written.map(e => e.dir ->
            GraftFileIndex.listPool.submit(
              new java.util.concurrent.Callable[Long] {
                override def call(): Long = sizeOf(e.dir)
              }))
          fs.map { case (d, f) =>
            try d -> f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }.toMap
        }
      }
      // Bloom sidecars for declared bloomColumns: ONE executor-side
      // pass over the just-written dirs builds a per-(dir, column)
      // filter (per-partition HashMap build, then a (dir,col)-keyed
      // merge — never a collect of values), each written as
      // `_bloom_<col>.bf` INSIDE its data dir. Values are inserted as
      // their cast-to-string UTF-8 bytes (the rendering the read side
      // probes); nulls are skipped (equality with null never matches,
      // so absence stays sound). Bits per filter are sized for fpp
      // 1e-6 and CAPPED at 2^22 (512 KiB) — a huge dir degrades to a
      // higher false-positive rate, never to an unbounded sidecar.
      val writtenBlooms: Map[String, Seq[String]] =
        if (bloomColumns.isEmpty || written.isEmpty) Map.empty
        else {
          val cols = bloomColumns.filter(dataSchema.fieldNames.contains)
          cols.foreach { c =>
            dataSchema(c).dataType match {
              case StringType | ByteType | ShortType | IntegerType |
                   LongType => ()
              case other => throw new IllegalArgumentException(
                s"bloomColumns: column '$c' has unsupported type " +
                  s"${other.simpleString} — supported: integral, string" +
                  s" (equality point-lookups; ranges belong to " +
                  s"statsColumns)")
            }
          }
          if (cols.isEmpty) Map.empty
          else {
            val infKey =
              "spark.sql.sources.partitionColumnTypeInference.enabled"
            val infPrev = spark.conf.get(infKey, "true")
            val writtenKeys: Array[(String, Int)] =
              try {
                spark.conf.set(infKey, "false")
                val src = spark.read.parquet(s"$root/$wdir")
                  .select((col("__part").cast("string").as("__part") +:
                    cols.map(c => col(c).cast("string").as(c))): _*)
                val sizes = src.groupBy("__part")
                  .agg(count(lit(1)).as("n")).collect()
                  .map(r => r.getString(0) -> r.getLong(1)).toMap
                val bSizes = spark.sparkContext.broadcast(sizes)
                // value -> dir for the sidecar write; tiny (touched
                // dirs only), broadcast so EXECUTORS write each
                // filter straight into its dir — the merged filters
                // never visit the driver (an overwrite of 100k dirs
                // would otherwise collect 100k × 512 KiB there), only
                // the (dir, column) key list comes back
                val bDirs = spark.sparkContext.broadcast(
                  written.map(e => e.value -> e.dir).toMap)
                val bCols = spark.sparkContext.broadcast(cols)
                val rootStr = root
                val nCols = cols.size
                src.rdd.mapPartitions { it =>
                  val acc = scala.collection.mutable.HashMap.empty[
                    (String, Int),
                    org.apache.spark.util.sketch.BloomFilter]
                  it.foreach { r =>
                    val part = r.getString(0)
                    var i = 0
                    while (i < nCols) {
                      if (!r.isNullAt(i + 1)) {
                        val bf = acc.getOrElseUpdate((part, i), {
                          val n = math.max(1L,
                            bSizes.value.getOrElse(part, 1L))
                          // m = -n ln(p) / (ln 2)^2, p = 1e-9 — sized
                          // a thousandfold under the usual 1e-6: the
                          // sketch's 32-bit double hashing runs above
                          // its theoretical rate on small filters, and
                          // bits are cheap at metadata grain
                          val bits = math.min(1L << 22, math.max(64L,
                            math.ceil(n * 43.133).toLong))
                          org.apache.spark.util.sketch.BloomFilter
                            .create(n, bits)
                        })
                        bf.putBinary(r.getString(i + 1)
                          .getBytes(UTF_8))
                      }
                      i += 1
                    }
                  }
                  acc.iterator
                }.reduceByKey { (a, b) => a.mergeInPlace(b); a }
                  .map { case ((part, ci), bf) =>
                    // idempotent (create+truncate): a task retry or a
                    // speculative twin rewrites identical bytes
                    bDirs.value.get(part).foreach { d =>
                      val out = Files.newOutputStream(Paths.get(
                        rootStr, d, s"_bloom_${bCols.value(ci)}.bf"))
                      try bf.writeTo(out) finally out.close()
                    }
                    (part, ci)
                  }.collect()
              } finally spark.conf.set(infKey, infPrev)
            // flag per (dir, column) actually written — an all-null
            // column in a dir has no filter and stays unflagged
            val presentCols: Map[String, Seq[String]] =
              writtenKeys.groupBy(_._1).map { case (p, ks) =>
                p -> ks.map(k => cols(k._2)).toSeq.sorted }
            written.flatMap(e =>
              presentCols.get(e.value).map(e.dir -> _)).toMap
          }
        }
      // Each stats column records its bounds in the family its SCHEMA
      // TYPE picks — and in Catalyst INTERNAL units for the long
      // family, so a pushed literal's raw value compares directly:
      //   string       → lexicographic (min, max) strings
      //   float/double → (min, max) doubles
      //   timestamp    → (min, max) micros-since-epoch ("micros")
      //   date         → (min, max) days-since-epoch  ("days")
      //   integral     → (min, max) longs             ("long")
      // Anything else is REFUSED LOUDLY at commit (the EPSG precedent):
      // a silently mis-unit'd zone map is a wrong-prune hazard, not a
      // perf miss. One footer-sized aggregate covers all families.
      def statFamily(c: String): String = {
        val f = dataSchema(c)
        f.dataType match {
          case StringType => "str"
          case DoubleType | FloatType => "dbl"
          case TimestampType => "micros"
          // TIMESTAMP_NTZ's internal value IS naive micros-since-epoch
          // — same unit as a pushed NTZ literal; recorded through a
          // UTC-pinned cast below so the stats job is session-zone-
          // independent
          case TimestampNTZType => "ntzmicros"
          case DateType => "days"
          case ByteType | ShortType | IntegerType | LongType => "long"
          case other => throw new IllegalArgumentException(
            s"statsColumns: column '$c' has unsupported type " +
              s"${other.simpleString} — supported: integral, string, " +
              s"float/double, date, timestamp")
        }
      }
      // (partition value → its zone maps, column → recorded kind)
      val (zones, writtenKinds)
          : (Map[String, DirMeta], Map[String, String]) =
        if (statsColumns.isEmpty || written.isEmpty) (Map.empty, Map.empty)
        else {
          val cols = statsColumns.filter(dataSchema.fieldNames.contains)
          val fam = cols.map(c => c -> statFamily(c)).toMap
          if (cols.isEmpty) (Map.empty, Map.empty)
          else {
            val aggs = cols.flatMap { c =>
              val e = fam(c) match {
                case "str" => col(c)
                case "dbl" => col(c).cast("double")
                case "micros" => expr(s"unix_micros(`$c`)")
                // the UTC-pinned session tz (set around the job below)
                // makes cast(ntz as timestamp) preserve the naive
                // micros exactly — the unit a pushed NTZ literal carries
                case "ntzmicros" =>
                  expr(s"unix_micros(cast(`$c` as timestamp))")
                case "days" => expr(s"unix_date(`$c`)").cast("long")
                case _ => col(c).cast("long")
              }
              Seq(min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c"))
            }
            // partition-type inference must be OFF for this read: the
            // stats rows key on the RAW __part string (matched against
            // Entry.value), and inference would coerce e.g. '0123' to
            // int 123 or an ISO date to DateType — a normalized
            // rendering that never matches the raw value, silently
            // dropping the dir's zone map. Toggle the conf just around
            // the (eagerly collected) job.
            val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
            val infPrev = spark.conf.get(infKey, "true")
            val tzKey = "spark.sql.session.timeZone"
            val tzPrev = spark.conf.get(tzKey)
            val rows =
              try {
                spark.conf.set(infKey, "false")
                // UTC-pin the NTZ→timestamp cast (no-op for every other
                // family): recorded ntz bounds must be session-zone-
                // independent or a reader in another zone wrong-prunes
                spark.conf.set(tzKey, "UTC")
                spark.read.parquet(s"$root/$wdir")
                  .groupBy(col("__part").cast("string").as("__part"))
                  .agg(aggs.head, aggs.tail: _*)
                  .collect()
              } finally {
                spark.conf.set(infKey, infPrev)
                spark.conf.set(tzKey, tzPrev)
              }
            (rows.map { r =>
              // one (min, max) per non-null column of the given families
              def bounds[A](fs: String*): Map[String, (A, A)] =
                cols.filter(c => fs.contains(fam(c)) &&
                    !r.isNullAt(r.fieldIndex(s"__mn_$c")))
                  .map(c => c -> (r.getAs[A](s"__mn_$c"),
                    r.getAs[A](s"__mx_$c"))).toMap
              r.getAs[String]("__part") -> DirMeta(
                stats = bounds[Long]("long", "micros", "ntzmicros", "days"),
                sstats = bounds[String]("str"),
                dstats = bounds[Double]("dbl"))
            }.toMap,
             cols.flatMap(c => fam(c) match {
               case k @ ("micros" | "days") => Some(c -> k)
               // both timestamp flavors record micros; the literal a
               // reader pushes for the column carries the SAME flavor
               // as the column's (fixed) schema type, so one persisted
               // kind serves both
               case "ntzmicros" => Some(c -> "micros")
               case _ => None
             }).toMap)
          }
        }
      val writtenDirs = written.map { e =>
        e.dir -> zones.getOrElse(e.value, DirMeta()).copy(
          bytes = Some(writtenBytes(e.dir)),
          blooms = writtenBlooms.getOrElse(e.dir, Seq.empty))
      }
      try {
        publish(next, bm.copy(schema = dataSchema, spec = spec,
          entries = kept ++ written, defaults = defaults,
          kinds = bm.kinds ++ writtenKinds, dirs = bm.dirs ++ writtenDirs))
        true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // the claimed data dir is ours (the rename succeeded) and no
          // manifest references it: on ABORT rebaseOrAbort removes it
          // (a clean retry from the new base isn't blocked by the
          // orphan); on REBASE the next claim renames it into place
          // under the new version number — the w_NNNNNN name must match
          // the commit version (initial-default scoping parses it)
          src = wdir
          rebaseOrAbort(e, wdir)
          false
      }
    }
    var committed = false
    while (!committed) {
      var wdir: String = null
      var claimed = false
      while (!claimed) {
        wdir = f"w_${base.map(_ + 1).getOrElse(0)}%06d"
        // catch the whole FileSystemException family, not just the
        // pre-rename existence stat's FileAlreadyExistsException: two
        // racers passing that check together fall through to raw
        // rename(2), which surfaces as DirectoryNotEmptyException on a
        // non-empty claimed target (see CowTable.commit)
        try {
          Files.move(Paths.get(root, src), Paths.get(root, wdir))
          claimed = true
        } catch {
          case e: java.nio.file.FileSystemException =>
            rebaseOrAbort(e, src) // throws unless rebase is sound
        }
      }
      committed = publishAttempt(wdir)
    }
  }

  /** Write `m` as version `v` and flip the pointer to it. Only dirs
    * `m`'s entries reference keep their records.
    */
  private def publish(v: Int, m: Manifest): Unit = {
    // optimistic concurrency (see CowTable.commit): a competing writer
    // advancing the pointer mid-commit means this manifest's carried
    // partitions derive from a stale read — fail loudly, don't
    // silently drop the other commit
    val expected = if (v == 0) None else Some(v - 1)
    if (currentVersion != expected)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit detected at $root: expected base " +
          s"${expected.getOrElse("<none>")}, found " +
          s"${currentVersion.getOrElse("<none>")}")
    val live = m.entries.map(_.dir).toSet
    Files.write(versionFile(v),
      m.copy(dirs = m.dirs.filter { case (d, _) => live(d) }).encode)
    val tmp = Paths.get(root, s"_current.tmp.$v")
    Files.write(tmp, v.toString.getBytes(UTF_8))
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Switch the partition spec for future writes — a METADATA-ONLY
    * commit (no data job, no byte rewritten): every existing dir
    * becomes a legacy entry under its own spec. `newPartCol` must be
    * an existing column; reads are unaffected (legacy dirs are always
    * included), [[changedSince]] across the evolve is empty by
    * construction, and migration happens progressively (upsert/merge
    * touching a legacy dir rewrites it, [[compact]] migrates the
    * rest).
    */
  def evolvePartitioning(newPartCol: String): Unit = {
    val cur = requireVersion
    val m = manifestAt(cur)
    require(m.schema.fieldNames.contains(newPartCol),
      s"evolvePartitioning: column '$newPartCol' not in schema")
    if (newPartCol == m.spec) return
    publish(cur + 1, m.copy(spec = newPartCol))
  }

  /** Delta-style RESTORE (`RESTORE TABLE ... TO VERSION AS OF v`):
    * make the CURRENT state equal version `v`'s by re-publishing v's
    * manifest under the next version number — a METADATA-ONLY commit,
    * no data job, nothing deleted. CoW-safe roll-back: the undone
    * versions stay time-travelable until [[vacuum]] reclaims them.
    * This is the crash-recovery primitive for [[SnapshotCatalog]]'s
    * orphaned-step contract: restore each table to its last LOGGED
    * version, vacuum the orphan commits, redo the step, publish.
    */
  def restore(v: Int): Unit = {
    val cur = requireVersion
    require(Files.exists(versionFile(v)),
      s"restore: no version $v at $root (never committed, or vacuumed)")
    if (v == cur) return
    publish(cur + 1, manifestAt(v))
  }

  /** Add a column — a METADATA-ONLY commit (Iceberg's add-column
    * contract: no data file is touched): the committed schema gains
    * the field, dirs that predate it read back null, and
    * `defaultSql` (a SQL literal, e.g. "'pending'") fills those
    * nulls on every read until writes materialize it. Subsequent
    * commits conform automatically: a caller frame without the new
    * column gets the default written in.
    */
  def evolveSchema(name: String, sqlType: String,
                   defaultSql: Option[String] = None): Unit = {
    val cur = requireVersion
    val m = manifestAt(cur)
    require(!m.schema.fieldNames.contains(name),
      s"evolveSchema: column '$name' already exists")
    // the column exists from version cur+1 onward: dirs whose embedded
    // write version is < cur+1 predate it and get the default on read;
    // dirs written by later commits store the column physically
    publish(cur + 1, m.copy(
      schema = StructType.fromDDL(s"${m.schema.toDDL}, `$name` $sqlType"),
      defaults = m.defaults ++ defaultSql.map(d => name -> (d, cur + 1))))
  }

  /** An empty DataFrame with version `v`'s committed schema (safe to
    * unionByName against any read of this table).
    */
  private def emptyLike(v: Int): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], manifestAt(v).schema)

  /** Version `v`'s CURRENT-SPEC dirs holding `values`. */
  private def specDirs(v: Int, values: Set[String]): Seq[String] = {
    val m = manifestAt(v)
    m.entries.filter(e => e.pcol == m.spec && values.contains(e.value))
      .map(e => s"$root/${e.dir}")
  }

  /** Pruned read over version `v`'s CURRENT-SPEC dirs only — the
    * mutation paths' base read. Legacy dirs are handled explicitly by
    * migration; using the legacy-inclusive [[readWhere]] here would
    * double-count their rows into a commit.
    */
  private def readSpec(v: Int, values: Set[String]): DataFrame = {
    val dirs = specDirs(v, values)
    if (dirs.isEmpty) emptyLike(v) else readConformed(v, dirs)
  }

  /** Version `v`'s legacy dirs containing at least one row `mark`
    * keeps (for upsert/merge that is a KEY semi-join — a dir migrates
    * because a touched key lives there, never because it merely
    * shares a partition value), found by one pass over legacy data only
    * (shrinks as migration proceeds; each dir's scan goes through
    * [[GraftFileIndex]], so pushable key predicates in `mark` prune
    * legacy dirs by their zone maps too). Returns (their entries, ALL
    * rows of those dirs, those rows' current-spec values) — migration
    * rewrites whole dirs, so unrelated rows ride along. A table with
    * no legacy dirs, or none hit, costs no job.
    */
  private def legacyTouching(v: Int, mark: DataFrame => DataFrame)
      : (Seq[Entry], DataFrame, Set[String]) = {
    val m = manifestAt(v)
    val spec = m.spec
    val legacy = m.entries.filter(_.pcol != spec)
    if (legacy.isEmpty) return (Seq.empty, emptyLike(v), Set.empty)
    // each dir's rows carry its manifest name: input_file_name() fails
    // analysis once a deletion vector's anti-join joins the scan
    val tagged = legacy.map(e => readConformed(v, Seq(s"$root/${e.dir}"))
      .withColumn("__d", lit(e.dir))).reduce(_.unionByName(_))
    val hitDirs = mark(tagged).select("__d").distinct()
      .collect().map(_.getString(0)).toSet
    val hit = legacy.filter(e => hitDirs(e.dir))
    if (hit.isEmpty) (Seq.empty, emptyLike(v), Set.empty)
    else {
      val rows = readConformed(v, hit.map(e => s"$root/${e.dir}"))
      (hit, rows, touchedValues(rows, spec))
    }
  }

  /** Create or fully replace the table (every partition rewritten,
    * legacy dirs dropped — a full rewrite is also a full migration).
    * Stage-first: `df` is written once into the stage and the
    * published partitions are exactly its listing.
    */
  override def overwrite(df: DataFrame): Unit = staging { stage =>
    val base = currentVersion
    val spec = base.map(manifestAt(_).spec).getOrElse(partCol)
    stageRows(df, spec, stage)
    commit(base, stage, stagedValues(stage, spec), Seq.empty,
      schema = Some(df.schema))
  }

  /** Append rows: only the partitions the batch lands in are
    * rewritten (existing rows of those partitions union the batch).
    * Needs no legacy migration — appends never replace keys, and
    * reads union legacy dirs regardless.
    *
    * Stage-first against one pinned base version: the batch is staged
    * once, its `__part=` listing names the touched partitions, their
    * existing rows are appended to the same stage, and the stage is
    * published as the base's successor (see [[commit]]).
    */
  override def append(df0: DataFrame): Unit =
    if (!exists) overwrite(df0)
    else staging { stage =>
      val base = requireVersion
      val bm = manifestAt(base)
      val spec = bm.spec
      stageRows(conformInput(base, df0), spec, stage)
      val touched = stagedValues(stage, spec)
      if (specDirs(base, touched).nonEmpty)
        stageRows(readSpec(base, touched), spec, stage)
      commit(Some(base), stage, touched, bm.entries, narrowRead = true)
    }

  /** Wholesale partition replacement — ONE commit that makes the
    * named current-spec partitions' content equal `rows` (a value in
    * `values` contributing no rows is dropped from the manifest; a
    * partition value appearing in `rows` but not in `values` is
    * replaced too — the staged listing names it, so the committed
    * scope always covers the staged data), carrying every other
    * partition by reference. The partition-ALIGNED maintenance
    * reconcile (r15, guide §1.2; IncrementalInvertedIndex's partials
    * tier): the caller already KNOWS which partitions are superseded
    * and has their full replacement content in hand, so the
    * declarative [[mergeSync]] route — two full table reads, a
    * keyed full-outer diff with row hashing, two driver collects —
    * re-derives information the caller started with, at a cost that
    * grows with TABLE size instead of delta size. No diff, no read
    * of superseded data at all: one stage write of `rows`. Refuses
    * tables with legacy-spec dirs (replacement scope is defined in
    * current-spec values; legacy rows would silently survive
    * alongside the replacement).
    */
  def replacePartitions(values: Set[String], rows: DataFrame): Unit =
    if (!exists) overwrite(rows)
    else staging { stage =>
      val base = requireVersion
      val bm = manifestAt(base)
      val spec = bm.spec
      require(bm.entries.forall(_.pcol == spec),
        s"replacePartitions: $root has legacy-spec dirs — wholesale " +
          "replacement is defined over current-spec values only; " +
          "compact() first or use mergeSync")
      stageRows(conformInput(base, rows), spec, stage)
      // narrowRead: like append, the commit's affected scope IS the
      // touched partitions, so an entry-disjoint winner can rebase
      commit(Some(base), stage, values ++ stagedValues(stage, spec),
        bm.entries, narrowRead = true)
    }

  /** PK upsert (J7): incoming rows replace same-key rows; untouched
    * PARTITIONS (not just rows) are carried by reference. On an
    * evolved table, legacy dirs holding touched keys are migrated
    * whole to the current spec in the same commit (their unrelated
    * rows ride along — progressive migration, never key duplication).
    *
    * Stage-first against one pinned base version: the updates are
    * staged once (the only evaluation of the caller's plan), the
    * stage's `__part=` listing names the touched partitions, and
    * those partitions' other rows — the base's rows anti-joined on the
    * keys read back from the staged delta — are appended to the same
    * stage before [[commit]] publishes it as the base's successor.
    *
    * Concurrency: losing a version race to an entry-disjoint winner
    * REBASES when the winner's new content provably carries none of
    * this upsert's keys (the [[commit]] keyProbe — one semi-join over
    * only the winner's delta dirs); interleaved upserts on different
    * partitions therefore both land, while a same-partition or
    * same-key race still aborts loudly.
    */
  override def upsert(updates0: DataFrame, keys: Seq[String]): Unit =
    if (!exists) overwrite(updates0)
    else staging { stage =>
      val base = requireVersion
      val bm = manifestAt(base)
      val spec = bm.spec
      val updates = conformInput(base, updates0)
      stageRows(updates, spec, stage)
      val staged = stagedValues(stage, spec)
      val stagedKeys = stagedDelta(stage, updates.schema)
        .select(keys.map(col): _*)
      val (mig, migRows, migTouched) = legacyTouching(base,
        _.join(stagedKeys, keys, "left_semi"))
      val touched = staged ++ migTouched
      if (specDirs(base, touched).nonEmpty || mig.nonEmpty)
        stageRows(readSpec(base, touched).unionByName(migRows)
          .join(stagedKeys, keys, "left_anti"), spec, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(mig.contains),
        keyProbe = Some(keyDisjointProbe(keys)))
    }

  /** keyProbe body shared by the key-scoped mutators: true iff the
    * winner's new-content dirs hold NO row matching this commit's
    * keys. Reads only the delta dirs (raw, ignoring any winner DVs —
    * a DV only removes rows, so reading through it could only make
    * this check PASS more often; ignoring it is the conservative
    * side).
    *
    * The key set is read from the commit's STAGED parquet
    * (`stagedPath`), never by re-evaluating the caller's input plan:
    * the probe fires AFTER a winner committed, and a read-modify-
    * write input (updates derived from this very table) or a
    * nondeterministic one would re-evaluate against the winner's
    * state and could probe a different key set than the one actually
    * staged — letting a rebase pass on the wrong keys (r13 advice).
    * The staged keys are a SUPERSET of the mutator's own keys (the
    * staged data is the touched partitions' full post-image), so the
    * probe is conservative: it can only refuse more rebases, never
    * admit one the exact key set would refuse. Delete-op keys
    * (mergeApply) are absent from the staged image, but by the
    * never-rewrites-the-partition-column contract they live in
    * TOUCHED partitions, where entry disjointness already refuses
    * any winner overlap. Costs nothing off the race path: the staged
    * files are only opened when a probe actually runs.
    */
  private def keyDisjointProbe(keys: Seq[String])
      (delta: Seq[Entry], stagedPath: String): Boolean =
    readConformed(requireVersion, delta.map(e => s"$root/${e.dir}"))
      .join(spark.read.parquet(stagedPath).select(keys.map(col): _*),
        keys, "left_semi")
      .isEmpty

  /** Targeted column update: partitions containing matching rows are
    * found first (pruned scan), then only those are rewritten; legacy
    * dirs with matching rows migrate to the current spec.
    */
  override def updateWhere(pred: Column,
                           sets: Map[String, Column]): Unit = {
    val base = requireVersion
    val bm = manifestAt(base)
    val spec = bm.spec
    val (mig, migRows, migTouched) = legacyTouching(base, _.filter(pred))
    val touched =
      touchedValues(readVersion(base).filter(pred), spec) ++ migTouched
    if (touched.nonEmpty) staging { stage =>
      stageRows(sets.foldLeft(readSpec(base, touched).unionByName(migRows)) {
        case (df, (name, value)) =>
          df.withColumn(name, when(pred, value).otherwise(col(name)))
      }, spec, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(mig.contains))
    }
  }

  /** Anti-delete: only partitions containing matching rows are
    * rewritten; a partition deleted empty leaves the manifest; legacy
    * dirs with matching rows migrate to the current spec.
    */
  override def deleteWhere(pred: Column): Unit = {
    val base = requireVersion
    val bm = manifestAt(base)
    val spec = bm.spec
    val (mig, migRows, migTouched) = legacyTouching(base, _.filter(pred))
    val touched =
      touchedValues(readVersion(base).filter(pred), spec) ++ migTouched
    if (touched.nonEmpty) staging { stage =>
      stageRows(readSpec(base, touched).unionByName(migRows).filter(!pred),
        spec, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(mig.contains))
    }
  }

  /** Single-commit CDC apply — MERGE INTO semantics over an ops log:
    * `ops` carries the table's columns plus `opCol` ∈ {'I','U','D'}.
    * Inserts and updates land as a PK upsert, deletes drop their
    * keys, and ALL of it commits as ONE version — the shape a
    * downstream consumer of [[changedSince]] (or any Debezium-style
    * feed) replays a batch with, where upsert-then-delete as two
    * commits would publish a state no upstream transaction ever held.
    * Only partitions containing op rows are rewritten (delete rows
    * must carry their partition value — the same never-rewrites-the-
    * partition-column contract as [[upsert]]). A batch with two ops
    * for one key has no defined order and fails loudly (the probe is
    * a limit-1 existence job, not a full count); callers consolidate
    * to final-state-per-key first (the q126 latest-per-key device).
    */
  def mergeApply(ops: DataFrame, keys: Seq[String],
                 opCol: String = "op"): Unit = {
    val dup = ops.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).count()
    require(dup == 0,
      s"mergeApply: multiple ops for one key — consolidate the batch " +
        s"to final state per key before applying")
    val upserts = ops.filter(col(opCol) =!= "D").drop(opCol)
    if (!exists) { overwrite(upserts); return }
    val base = requireVersion
    val bm = manifestAt(base)
    val spec = bm.spec
    val data = conformInput(base, upserts)
    val touched0 = touchedValues(ops, spec)
    val touchedKeys = ops.select(keys.map(col): _*)
    val (mig, migRows, migTouched) = legacyTouching(base,
      _.join(touchedKeys, keys, "left_semi"))
    val touched = touched0 ++ migTouched
    staging { stage =>
      stageRows(readSpec(base, touched).unionByName(migRows)
        .join(touchedKeys, keys, "left_anti")
        .unionByName(data), spec, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(mig.contains),
        // same key-scoped result as upsert (I/U/D all key-addressed):
        // rebase past an entry-disjoint winner whose new content holds
        // none of this batch's keys
        keyProbe = Some(keyDisjointProbe(keys)))
    }
  }

  /** Declarative reconcile — make the table's content EQUAL `source`
    * in one commit (the "sync from system-of-record" op; q218's
    * mergeApply replays an ops LOG, this derives the ops itself).
    * Inserts, updates (any column differing) and deletes are detected
    * by a keyed full-outer diff; only partitions containing a change
    * are rewritten, unchanged partitions (and unchanged legacy dirs)
    * carry by reference; legacy dirs holding changed keys migrate
    * (the [[upsert]] rule). Returns (inserted, updated, deleted).
    * Same contract as upsert: a key's partition value never changes.
    */
  def mergeSync(source0: DataFrame,
                keys: Seq[String]): (Long, Long, Long) =
    mergeSyncImpl(source0, keys, None)

  /** [[mergeSync]] with the keyed diff RESTRICTED to the named
    * partitions — the partition-aligned maintenance fast path (r15,
    * guide §1.2/§2.3: don't hash and join rows that cannot have
    * changed). Callers like [[IncrementalRollup]] build their source
    * as `table.read().filter(untouched).unionByName(fresh)`: outside
    * `values` the source rows ARE the table's rows by construction,
    * so diffing them is pure overhead that grows with TABLE size
    * instead of delta size. Here both diff sides restrict to
    * `values` — the table side through manifest pruning
    * ([[readWhere]], so untouched dirs are never even listed) — and
    * the I/U/D counts, touched set and committed content are
    * IDENTICAL to the unrestricted form exactly when the caller's
    * assertion holds. Refuses tables with legacy-spec dirs (their
    * rows cannot be partition-pruned, so the assertion is
    * unverifiable); those callers use plain [[mergeSync]].
    */
  def mergeSyncInPartitions(values: Set[String], source0: DataFrame,
                            keys: Seq[String]): (Long, Long, Long) = {
    require(!exists || legacyEntries.isEmpty,
      s"mergeSyncInPartitions: $root has legacy-spec dirs — the " +
        "partition-scoped diff cannot prove them unchanged; use " +
        "mergeSync")
    mergeSyncImpl(source0, keys, Some(values))
  }

  private def mergeSyncImpl(source0: DataFrame, keys: Seq[String],
                            scope: Option[Set[String]])
      : (Long, Long, Long) = {
    if (!exists) { overwrite(source0); return (source0.count(), 0L, 0L) }
    val base = requireVersion
    val bm = manifestAt(base)
    val spec = bm.spec
    val source = conformInput(base, source0)
    val cols = bm.schema.fieldNames.sorted.toSeq
    // 64-bit row hash: at billions of changed keys a 32-bit hash
    // WOULD silently miss ~n/2^32 updates; 64-bit pushes that past
    // any realistic sync volume
    def hashed(df: DataFrame, tag: String) =
      df.select(keys.map(col) :+
        col(spec).cast("string").as(s"__v_$tag") :+
        xxhash64(cols.map(col): _*).as(s"__h_$tag"): _*)
    val (srcSide, tgtSide) = scope match {
      case Some(vs) =>
        (source.filter(col(spec).cast("string")
          .isInCollection(vs.toSeq)), readVersionWhere(base, vs.contains))
      case None => (source, readVersion(base))
    }
    val diff = hashed(srcSide, "s")
      .join(hashed(tgtSide, "t"), keys, "full_outer")
      .withColumn("__st",
        when(col("__h_t").isNull, "I")
          .when(col("__h_s").isNull, "D")
          .when(col("__h_s") =!= col("__h_t"), "U"))
      .filter(col("__st").isNotNull)
      .localCheckpoint() // changed keys only; reused 4×
    val counts = diff.groupBy("__st").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (diff.isEmpty) return (0L, 0L, 0L)
    val touched0 = diff
      .select(coalesce(col("__v_s"), col("__v_t")).as("v"))
      .distinct().collect().map(_.getString(0)).toSet
    val changedKeys = diff.select(keys.map(col): _*)
    val (mig, migRows, migTouched) = legacyTouching(base,
      _.join(changedKeys, keys, "left_semi"))
    val touched = touched0 ++ migTouched
    // keys that stay behind in NON-migrated legacy dirs are unchanged
    // by construction (their dirs held no changed key) — exclude them
    // from the rewritten partitions so they aren't duplicated
    val remain = bm.entries
      .filter(e => e.pcol != spec && !mig.contains(e))
    val remainKeys =
      if (remain.isEmpty) emptyLike(base).select(keys.map(col): _*)
      else readConformed(base,
        remain.map(e => s"$root/${e.dir}")).select(keys.map(col): _*)
    staging { stage =>
      stageRows(source.filter(col(spec).cast("string")
          .isInCollection(touched.toSeq))
        .join(remainKeys, keys, "left_anti"), spec, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(mig.contains))
    }
    (counts.getOrElse("I", 0L), counts.getOrElse("U", 0L),
      counts.getOrElse("D", 0L))
  }

  /** Compact the selected partitions: rewrite each as a single task's
    * output (one file per partition dir), carrying everything else by
    * reference. The small-file antidote for long-lived tables — every
    * upsert rewrites whole partitions with the writer's parallelism,
    * so file counts grow with commit history; compaction is the same
    * commit path with a hash repartition on the partition column, so
    * each partition's rows land in exactly one task. Row content is
    * unchanged (a pure layout commit); old dirs become vacuumable.
    */
  def compact(partFilter: String => Boolean = _ => true,
              targetBytes: Long = 0L): Unit = {
    // compaction is also the full-migration vehicle: every remaining
    // legacy dir is rewritten under the current spec alongside the
    // selected partitions (one layout commit, row content unchanged)
    val base = requireVersion
    val bm = manifestAt(base)
    val spec0 = bm.spec
    val legacy = bm.entries.filter(_.pcol != spec0)
    val (migRows, migTouched) =
      if (legacy.isEmpty) (emptyLike(base), Set.empty[String])
      else {
        val rows = readConformed(base, legacy.map(e => s"$root/${e.dir}"))
        (rows, touchedValues(rows, spec0))
      }
    val touched = bm.entries.filter(_.pcol == spec0).map(_.value)
      .filter(partFilter).toSet ++ migTouched
    if (touched.isEmpty) return
    val rows = readSpec(base, touched).unionByName(migRows)
    // With no target, one partition = one RDD partition = ~one file
    // (the small-file collapse). With targetBytes > 0, a partition's
    // manifest-recorded byte count sizes its FILE FAN-OUT — a 500 GB
    // partition must not become one 500 GB file: each row salts into
    // one of ceil(bytes / target) buckets (a deterministic full-row
    // hash — content decides placement, never execution order), and
    // the (partition, salt) repartition yields ~that many files per
    // dir. Approximate like Delta's OPTIMIZE bin-packing: hash-salt
    // balance and shuffle-partition co-residence can merge a bucket,
    // never split one, so file count per dir ∈ [1, ceil(b/target)].
    // Dirs without recorded bytes (pre-upgrade) collapse to 1.
    val shaped =
      if (targetBytes <= 0L) rows.repartition(col(spec0))
      else {
        import spark.implicits._
        // current-spec entries ONLY: a legacy entry whose value string
        // collides with a live partition value would duplicate the
        // __pv join key and double every matching row in the rewrite.
        // Legacy rows joining to no key fall to the coalesce(1) arm.
        val nfSeq = bm.entries
          .filter(_.pcol == spec0)
          .map(e => e.value -> math.max(1L, math.ceil(
            bm.dir(e.dir).bytes.getOrElse(0L).toDouble / targetBytes)
            .toLong))
        val nf = nfSeq.toDF("__pv", "__nf")
        val dataCols = rows.columns.map(col)
        // EXPLICIT partition count (AQE coalesces a keys-only
        // repartition of small data back to one partition, which
        // would undo the fan-out): the total requested file count IS
        // the right shuffle width for the rewrite
        val width = math.min(math.max(32L, nfSeq.map(_._2).sum),
          1000000L).toInt
        rows.join(broadcast(nf),
            col(spec0).cast("string") === col("__pv"), "left")
          .withColumn("__salt",
            pmod(xxhash64(dataCols: _*), coalesce(col("__nf"), lit(1L))))
          .repartition(width, col(spec0), col("__salt"))
          .drop("__pv", "__nf", "__salt")
      }
    staging { stage =>
      stageRows(shaped, spec0, stage)
      commit(Some(base), stage, touched,
        bm.entries.filterNot(legacy.contains), narrowRead = true)
    }
  }

  /** OPTIMIZE ZORDER BY for an EXISTING table (q285 demonstrates the
    * layout's pruning win on fresh tables; this migrates one in
    * place): derive a [[graft.functions.ZOrder]] prefix cell from two
    * numeric columns, evolve the schema and partition spec to it
    * (both metadata-only commits), then rewrite the data ONCE under
    * the new layout — after which a bbox filter on (x, y) prunes to
    * the quadtree tiles the box intersects instead of opening every
    * ingest-keyed dir. Three commits total, one data job; every prior
    * version stays time-travelable in its old shape.
    *
    * Rows where either coordinate is NULL land in sentinel cell -1
    * (a partition value must be non-null); zone maps on the
    * coordinate columns, declared via statsColumns, are recomputed
    * per new cell dir by the rewrite commit, which is what makes the
    * layout prune.
    */
  def zOrderRelayout(xCol: String, yCol: String, bits: Int,
                     cellCol: String = "z_cell"): Unit = {
    val sch = manifestAt(requireVersion).schema
    require(sch.fieldNames.contains(xCol) &&
      sch.fieldNames.contains(yCol),
      s"zOrderRelayout: columns '$xCol'/'$yCol' not in schema")
    require(!sch.fieldNames.contains(cellCol),
      s"zOrderRelayout: cell column '$cellCol' already exists")
    // NaN is a sentinel like NULL, not data: Spark's max() ranks NaN
    // above every double, so one NaN row would make the global bounds
    // NaN, every norm16 NaN, and cast-to-long place all rows in cell 0
    // with NaN zone-map bounds. Mask NaN out of the bounds aggregate
    // and route NaN rows to the -1 cell with the NULLs.
    def finite(c: String) = {
      val d = col(c).cast("double")
      when(isnan(d), lit(null)).otherwise(d)
    }
    val b = read().agg(
      min(finite(xCol)), max(finite(xCol)),
      min(finite(yCol)), max(finite(yCol)))
      .collect()(0)
    require(!b.anyNull,
      s"zOrderRelayout: '$xCol'/'$yCol' have no finite values")
    val cell = when(col(xCol).isNull || col(yCol).isNull ||
        isnan(col(xCol).cast("double")) ||
        isnan(col(yCol).cast("double")), lit(-1L))
      .otherwise(graft.functions.ZOrder.zCell(
        col(xCol), col(yCol),
        lit(b.getDouble(0)), lit(b.getDouble(1)),
        lit(b.getDouble(2)), lit(b.getDouble(3)), bits))
    evolveSchema(cellCol, "BIGINT")
    evolvePartitioning(cellCol)
    // the one data job: every row rewritten under its cell; carried
    // is empty because every pre-relayout entry (now legacy under the
    // old spec) is superseded by this commit
    staging { stage =>
      val base = requireVersion
      stageRows(read().withColumn(cellCol, cell), cellCol, stage)
      commit(Some(base), stage, stagedValues(stage, cellCol), Seq.empty)
    }
  }

  /** Drop every `w_*` dir and `v_*.json` no longer reachable from the
    * current manifest; shared dirs it still references survive.
    */
  /** The PROTECTED versions — current, every tagged version that
    * still has a manifest, and (when `minAgeMillis` > 0) every
    * version whose manifest is YOUNGER than the retention horizon —
    * and the disk footprint they pin. The age guard is the
    * concurrent-reader grace period (Delta's
    * `deletedFileRetentionDuration` analogue): a reader that resolved
    * its manifest just before a new commit is still streaming that
    * version's files; reclaiming them out from under it turns a
    * consistent snapshot read into FileNotFound mid-job. A version
    * older than the horizon has had minAge for any in-flight reader
    * to drain, so reclaiming it is safe for any reader whose job
    * runtime is bounded by the horizon.
    */
  private def protectedState(cur: Int, minAgeMillis: Long = 0L)
      : (Set[Int], Set[String], Set[String]) = {
    val anchored = (tags.values.toSet + cur).filter(v =>
      Files.exists(versionFile(v)))
    val young: Set[Int] =
      if (minAgeMillis <= 0L) Set.empty
      else {
        val horizon = System.currentTimeMillis() - minAgeMillis
        val listing = Files.list(Paths.get(root))
        try listing.iterator().asScala
          .filter(p => p.getFileName.toString.matches("v_\\d{6}\\.json"))
          .filter(p => Files.getLastModifiedTime(p).toMillis > horizon)
          .map(_.getFileName.toString.stripPrefix("v_")
            .stripSuffix(".json").toInt)
          .toSet
        finally listing.close()
      }
    val versions = anchored ++ young
    val ms = versions.toSeq.map(manifestAt)
    val dirs = ms.flatMap(_.entries.map(_.dir.split('/').head)).toSet
    val dvFiles = ms.flatMap(_.dirs.values.flatMap(_.dvs)
      .map(_.stripPrefix("dv/"))).toSet
    (versions, dirs, dvFiles)
  }

  /** What [[vacuum]] WOULD reclaim, without touching anything — the
    * pre-flight health check (a crashed writer's claimed-but-
    * unreferenced data dir, an interrupted stage, superseded
    * manifests, materialized deletion vectors). Returns
    * (data dirs, manifests, stage dirs, dv files).
    */
  def orphanReport: (Long, Long, Long, Long) =
    currentVersion.map { cur =>
      val (versions, live, liveDv) = protectedState(cur)
      val entries = {
        val listing = Files.list(Paths.get(root))
        try listing.iterator().asScala.toSeq finally listing.close()
      }
      var (dd, dm, ds) = (0L, 0L, 0L)
      entries.foreach { p =>
        val n = p.getFileName.toString
        // only OUR manifest names (v_NNNNNN.json) parse — a foreign
        // file like v_backup.json must be left untouched, not crash
        // the audit on toInt
        if (n.startsWith("w_") && !live.contains(n)) dd += 1
        else if (n.matches("v_\\d{6}\\.json") &&
          !versions.contains(n.stripPrefix("v_").stripSuffix(".json")
            .toInt)) dm += 1
        else if (n.startsWith("_stage_")) ds += 1
      }
      val dvDir = Paths.get(root, "dv")
      val dvDead =
        if (!Files.exists(dvDir)) 0L
        else {
          val listing = Files.list(dvDir)
          try listing.iterator().asScala
            .count(p => !liveDv.contains(p.getFileName.toString)).toLong
          finally listing.close()
        }
      (dd, dm, ds, dvDead)
    }.getOrElse((0L, 0L, 0L, 0L))

  override def vacuum(): Unit = vacuum(0L)

  /** [[vacuum]] with a concurrent-reader grace period: versions whose
    * manifest is younger than `minAgeMillis` are NOT reclaimed (their
    * manifests, data dirs and deletion vectors all survive), and
    * neither are `_stage_` dirs younger than the horizon — a young
    * stage dir may be an IN-FLIGHT writer's parquet job, not a crash
    * leftover. `minAgeMillis = 0` is the test-friendly immediate
    * reclaim; production callers pass their max expected reader/job
    * runtime (Delta defaults the analogous knob to 7 days).
    */
  def vacuum(minAgeMillis: Long): Unit = currentVersion.foreach { cur =>
    // tagged versions are retention anchors: their manifests, data
    // dirs and deletion vectors survive vacuum until the tag drops
    val (versions, live, liveDv) = protectedState(cur, minAgeMillis)
    val horizon = System.currentTimeMillis() - minAgeMillis
    val entries = {
      val listing = Files.list(Paths.get(root))
      try listing.iterator().asScala.toSeq finally listing.close()
    }
    entries.foreach { p =>
      val n = p.getFileName.toString
      val deadData = n.startsWith("w_") && !live.contains(n)
      // strict v_NNNNNN.json match: a foreign v_*.json (backup, torn
      // copy) must never abort vacuum mid-delete on toInt — treat it
      // as not ours and leave it alone
      val deadManifest = n.matches("v_\\d{6}\\.json") &&
        !versions.contains(
          n.stripPrefix("v_").stripSuffix(".json").toInt)
      val deadStage = n.startsWith("_stage_") &&
        (minAgeMillis <= 0L ||
          Files.getLastModifiedTime(p).toMillis <= horizon)
      if (deadData || deadManifest || deadStage) CowTable.walkDelete(p)
    }
    val dvDir = Paths.get(root, "dv")
    if (Files.exists(dvDir)) {
      val listing = Files.list(dvDir)
      val children = try listing.iterator().asScala.toSeq
        finally listing.close()
      children.foreach { p =>
        if (!liveDv.contains(p.getFileName.toString))
          CowTable.walkDelete(p)
      }
    }
  }
}

object PartitionedCowTable {
  /** One manifest entry: the spec column the dir was written under,
    * its partition value, and the data dir relative to root.
    */
  private[sources] case class Entry(pcol: String, value: String,
                                    dir: String)

  private val mapper = new ObjectMapper()

  /** What a manifest records about one data dir. Every field is
    * written at the commit that writes the dir and carried with the
    * dir across versions (an untouched dir's bytes don't change, so
    * neither does its record — the same sharing as the data itself).
    *
    * @param stats  integral ZONE MAPS: column → (min, max) for the
    *   [[statsColumns]] of integral, timestamp and date type, in
    *   Catalyst INTERNAL units (see [[Manifest.kinds]]). One extra
    *   aggregate over just-written dirs — zero cost when statsColumns
    *   is empty. [[readWhereStats]] and [[GraftFileIndex]] prune on
    *   them; a dir with no recorded stats for a column is kept
    *   conservatively.
    * @param sstats STRING zone maps (ISO dates, month keys, status
    *   codes); [[GraftFileIndex]] prunes on them with byte-order-safe
    *   lexicographic bounds.
    * @param dstats DOUBLE zone maps for float/double columns (lat/lon
    *   bbox bounds, measurements) — the reference's date+bbox hot path
    *   opens only intersecting dirs.
    * @param bytes  total DATA bytes of the dir. Serves
    *   [[GraftFileIndex.sizeInBytes]] at plan time so Catalyst's
    *   join-strategy stats need no filesystem listing (the Delta
    *   AddFile.size contract); absent (pre-upgrade manifest), the
    *   index falls back to a cached listing.
    * @param blooms columns with a BLOOM sidecar (`_bloom_<col>.bf`
    *   inside the data dir, so vacuum reclaims it with the dir and a
    *   rebase's rename carries it along). [[GraftFileIndex]] prunes
    *   EQUALITY literals on them: the PK point-lookup that zone maps
    *   can't help opens only dirs that might contain the key, and a
    *   lookup of an ABSENT key opens nothing (the Iceberg-Puffin /
    *   Delta-bloom-index contract).
    * @param dvs    DELETION-VECTOR files (paths relative to root) in
    *   force for the dir — the Delta-DV/Iceberg-delete-file idea at
    *   key grain: [[deleteWhereDV]] commits a tiny key file instead of
    *   rewriting data dirs, readers anti-join it, and any REWRITE of a
    *   dir (upsert, compact, merge) reads through the vector and drops
    *   it — the rewrite materializes the deletion, so re-inserted keys
    *   live again (new dirs never reference old vectors).
    */
  private case class DirMeta(
      stats: Map[String, (Long, Long)] = Map.empty,
      sstats: Map[String, (String, String)] = Map.empty,
      dstats: Map[String, (Double, Double)] = Map.empty,
      bytes: Option[Long] = None,
      blooms: Seq[String] = Seq.empty,
      dvs: Seq[String] = Seq.empty)

  /** One version's manifest, `<root>/v_NNNNNN.json` — the one place its
    * format is known: [[Manifest.decode]] reads it and [[encode]]
    * writes it, and every reader and writer of the table goes through
    * this record.
    *
    * On disk it is one JSON object with these keys, in this order,
    * sections with nothing to record left out and every map sorted by
    * key: `schema` (DDL), `partcol` (the spec column), `defaults`,
    * the per-dir sections `dvs`, `stats`, `sstats`, `dstats`, then
    * `statskinds`, the per-dir `bytes` and `blooms`, `partitions`
    * (current-spec value → dir) and `legacy` (an array of
    * {col, value, dir}, sorted by col then value). Older forms still
    * decode: no `partcol` means the constructor's column, a bare-string
    * default has no `since`, absent sections are empty.
    *
    * @param entries  every data dir: current-spec and legacy entries.
    * @param defaults column → (SQL default literal, version the column
    *   was ADDED at) for columns added by [[evolveSchema]] with a
    *   default. The `since` version scopes the default to dirs that
    *   PREDATE the column (Iceberg's initial-default contract): a dir
    *   written at version >= since stored the column physically —
    *   including explicit NULLs — and must read back verbatim. The
    *   legacy bare-string form decodes as since=MaxValue, the old
    *   fill-everywhere behavior.
    * @param kinds    column → UNIT of its long-family zone maps
    *   ("micros" for timestamps, "days" for DateType; plain integral
    *   columns are implicit "long" and not persisted).
    *   [[GraftFileIndex]] prunes only when a literal's dataType matches
    *   the recorded kind — a manifest without it (pre-upgrade,
    *   integral-only) defaults every column to "long", which a
    *   timestamp/date literal never matches: stale zone maps go
    *   conservative, never wrong.
    * @param dirs     dir → its record; dirs with nothing recorded are
    *   absent.
    */
  private case class Manifest(schema: StructType, spec: String,
                              entries: Seq[Entry],
                              defaults: Map[String, (String, Int)] =
                                Map.empty,
                              kinds: Map[String, String] = Map.empty,
                              dirs: Map[String, DirMeta] = Map.empty) {
    def dir(d: String): DirMeta = dirs.getOrElse(d, DirMeta())

    def encode: Array[Byte] = {
      val node = mapper.createObjectNode()
      node.put("schema", schema.toDDL)
      node.put("partcol", spec)
      if (defaults.nonEmpty) {
        val o = node.putObject("defaults")
        defaults.toSeq.sortBy(_._1).foreach { case (c, (sql, since)) =>
          val d = o.putObject(c)
          d.put("sql", sql); d.put("since", since)
        }
      }
      val sorted = dirs.toSeq.sortBy(_._1)
      def perDir[A](key: String, get: DirMeta => Option[A])
                   (put: (ObjectNode, String, A) => Unit): Unit = {
        val recs = sorted.flatMap { case (d, m) => get(m).map(d -> _) }
        if (recs.nonEmpty) {
          val o = node.putObject(key)
          recs.foreach { case (d, a) => put(o, d, a) }
        }
      }
      def list(key: String, get: DirMeta => Seq[String]): Unit =
        perDir(key, m => Some(get(m)).filter(_.nonEmpty)) { (o, d, xs) =>
          val a = o.putArray(d)
          xs.foreach(a.add)
        }
      def ranges[A](key: String, get: DirMeta => Map[String, (A, A)])
                   (add: (ArrayNode, A) => Unit): Unit =
        perDir(key, m => Some(get(m)).filter(_.nonEmpty)) { (o, d, cols) =>
          val c = o.putObject(d)
          cols.toSeq.sortBy(_._1).foreach { case (k, (lo, hi)) =>
            val a = c.putArray(k)
            add(a, lo); add(a, hi)
          }
        }
      list("dvs", _.dvs)
      ranges[Long]("stats", _.stats)(_.add(_))
      ranges[String]("sstats", _.sstats)(_.add(_))
      ranges[Double]("dstats", _.dstats)(_.add(_))
      if (kinds.nonEmpty) {
        val o = node.putObject("statskinds")
        kinds.toSeq.sortBy(_._1).foreach { case (c, k) => o.put(c, k) }
      }
      perDir[Long]("bytes", _.bytes)((o, d, b) => o.put(d, b))
      list("blooms", _.blooms.sorted)
      val parts = node.putObject("partitions")
      entries.filter(_.pcol == spec).sortBy(_.value)
        .foreach(e => parts.put(e.value, e.dir))
      val legacy = entries.filter(_.pcol != spec)
      if (legacy.nonEmpty) {
        val a = node.putArray("legacy")
        legacy.sortBy(e => (e.pcol, e.value)).foreach { e =>
          val n = a.addObject()
          n.put("col", e.pcol); n.put("value", e.value); n.put("dir", e.dir)
        }
      }
      mapper.writeValueAsBytes(node)
    }
  }

  private object Manifest {
    /** Decode a manifest file; `defaultSpec` is the spec column of a
      * manifest that does not record one.
      */
    def decode(json: Array[Byte], defaultSpec: String): Manifest = {
      val node = mapper.readTree(json)
      def fields(key: String): Seq[(String, JsonNode)] =
        if (!node.has(key)) Seq.empty
        else node.get(key).fields().asScala
          .map(e => e.getKey -> e.getValue).toSeq
      def strs(n: JsonNode): Seq[String] =
        n.elements().asScala.map(_.asText()).toSeq
      def ranges[A](key: String)(f: JsonNode => A)
          : Map[String, Map[String, (A, A)]] =
        fields(key).map { case (d, cols) =>
          d -> cols.fields().asScala.map { c =>
            c.getKey -> (f(c.getValue.get(0)), f(c.getValue.get(1)))
          }.toMap
        }.toMap
      val spec =
        if (node.has("partcol")) node.get("partcol").asText() else defaultSpec
      val legacy =
        if (!node.has("legacy")) Seq.empty
        else node.get("legacy").elements().asScala.map { n =>
          Entry(n.get("col").asText(), n.get("value").asText(),
            n.get("dir").asText())
        }.toSeq
      val stats = ranges("stats")(_.asLong())
      val sstats = ranges("sstats")(_.asText())
      val dstats = ranges("dstats")(_.asDouble())
      val bytes = fields("bytes").map { case (d, b) => d -> b.asLong() }.toMap
      val blooms = fields("blooms").map { case (d, a) => d -> strs(a) }.toMap
      val dvs = fields("dvs").map { case (d, a) => d -> strs(a) }.toMap
      val dirs = (stats.keySet ++ sstats.keySet ++ dstats.keySet ++
        bytes.keySet ++ blooms.keySet ++ dvs.keySet).map { d =>
        d -> DirMeta(stats.getOrElse(d, Map.empty),
          sstats.getOrElse(d, Map.empty), dstats.getOrElse(d, Map.empty),
          bytes.get(d), blooms.getOrElse(d, Seq.empty),
          dvs.getOrElse(d, Seq.empty))
      }.toMap
      Manifest(StructType.fromDDL(node.get("schema").asText()), spec,
        fields("partitions").map { case (v, d) => Entry(spec, v, d.asText()) }
          ++ legacy,
        fields("defaults").map { case (c, n) =>
          c -> (if (n.isObject) (n.get("sql").asText(), n.get("since").asInt())
            else (n.asText(), Int.MaxValue))
        }.toMap,
        fields("statskinds").map { case (c, k) => c -> k.asText() }.toMap,
        dirs)
    }
  }

  /** The dir name Spark writes null and '' partition values under. */
  private val HiveSentinel = "__HIVE_DEFAULT_PARTITION__"

  def apply(root: String, partCol: String)
           (implicit spark: SparkSession): PartitionedCowTable =
    new PartitionedCowTable(root, partCol, spark)
}
