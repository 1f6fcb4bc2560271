package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed [[FileIndex]]: the read path that makes
  * [[PartitionedCowTable]] pruning PLAN-AUTOMATIC. Spark's
  * `FileSourceScanExec` hands every pushed-down data filter to
  * `listFiles(partitionFilters, dataFilters)`; this index evaluates
  * them against what the manifest already knows about each directory —
  * its partition VALUE (exact, from the `__part=` layout) and its
  * zone-map [min, max] per stats column (recorded at commit) — and
  * lists only directories the filter could match. A plain
  * `table.read().filter($"o_orderdate" between ...)` therefore opens
  * only intersecting dirs, with no bespoke `readWhere` call — the
  * Delta/Iceberg read contract (their file-skipping sits on exactly
  * this hook).
  *
  * Three-valued evaluation: per directory a predicate is TRUE (every
  * row matches), FALSE (no row can match — prune), or UNKNOWN (keep).
  * Pruning is an optimization, never a filter: Spark still applies the
  * full predicate to the surviving rows, so an UNKNOWN-heavy filter
  * degrades to a full scan, never a wrong answer.
  *
  * All columns are exposed as DATA columns (empty partitionSchema):
  * the partition column is physically present in every file (constant
  * per dir), so no partition-value reconstruction is needed and the
  * same filter prunes whether it targets the partition column or a
  * zone-mapped one.
  */
class GraftFileIndex(spark: SparkSession, sch: StructType,
                     dirs: Seq[GraftFileIndex.ScanDir])
    extends FileIndex {
  import GraftFileIndex._

  private val hadoopConf = spark.sessionState.newHadoopConf()

  // LAZY listing: the manifest is the listing authority, so pruning
  // needs NO filesystem I/O at all — only the dirs [[listFiles]] KEEPS
  // are ever resolved to concrete FileStatus objects, and each at most
  // once (cached). At 100k dirs on object storage (~50 ms per list) an
  // eager per-dir listing would cost over an hour of serial driver
  // time per read regardless of how well the scan prunes; here the
  // metadata plane prunes with the data plane.
  private val listedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[FileStatus]]()

  private def listDir(d: ScanDir): Array[FileStatus] =
    listedCache.computeIfAbsent(d.path, { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      fs.listStatus(p).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    })

  /** List the dirs of `ds` not listed yet ([[inParallel]]). */
  private def listDirs(ds: Seq[ScanDir]): Unit =
    inParallel(spark, ds.filterNot(d => listedCache.containsKey(d.path)))(listDir)

  /** (dirs total, dirs listed) of the most recent [[listFiles]] — the
    * pruning ledger an I/O gate reads after forcing the scan.
    */
  @volatile var lastPrune: (Int, Int) = (dirs.size, dirs.size)

  /** Every dir path this index has EVER resolved with a filesystem
    * listing — the metadata-plane ledger: a spec proves pruned dirs
    * are never listed by checking their absence here after the scan.
    * All listings route through the one cache, so the key set IS the
    * complete listing history.
    */
  def listedDirPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    listedCache.keySet().asScala.toSet
  }

  override def rootPaths: Seq[Path] = dirs.map(d => new Path(d.path))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val preds = partitionFilters ++ dataFilters
    // prune BEFORE listing: eval consults only manifest metadata
    val kept = dirs.filter(d => preds.forall(p => eval(p, d) != False))
    lastPrune = (dirs.size, kept.size)
    listDirs(kept)
    kept.map(d => PartitionDirectory(InternalRow.empty, listDir(d)))
  }

  override def inputFiles: Array[String] = {
    listDirs(dirs)
    dirs.flatMap(d => listDir(d).map(_.getPath.toString)).toArray
  }

  override def refresh(): Unit = ()

  /** Catalyst asks for this at PLAN time (join-strategy stats), so it
    * must not trigger the full listing the lazy path just avoided:
    * dirs whose manifest recorded a byte count (every commit since the
    * `bytes` node landed) are served from metadata; only pre-upgrade
    * dirs with no recorded size fall back to a (cached) listing.
    */
  override lazy val sizeInBytes: Long = {
    val (known, unknown) = dirs.partition(_.bytes >= 0L)
    listDirs(unknown)
    known.map(_.bytes).sum +
      unknown.map(d => listDir(d).map(_.getLen).sum).sum
  }

  override def partitionSchema: StructType = StructType(Nil)
}

object GraftFileIndex {

  /** One SHARED listing pool for every index in the JVM (daemon
    * threads, 60 s idle reclaim): listing is pure I/O wait, and a
    * fresh 32-thread pool per listFiles call would churn threads on
    * every query over a wide table. Cached, not fixed: the pool
    * shrinks to zero between scans.
    */
  private[sources] lazy val listPool
      : java.util.concurrent.ExecutorService = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-dir-list-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    // core=32 + allowCoreThreadTimeOut, NOT core=0/max=32: a TPE only
    // grows past corePoolSize when the queue REJECTS, and an unbounded
    // LinkedBlockingQueue never rejects — core=0 would therefore run
    // every listing on a single thread, silently serializing the
    // parallel path. With core=32 each submit spawns a worker until 32
    // exist (queueing only beyond that), and the timeout still shrinks
    // the pool to zero between scans.
    val pool = new java.util.concurrent.ThreadPoolExecutor(32, 32, 60L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** `f` of each of `xs` — a per-dir listing — run through [[listPool]]
    * above the threshold Spark's `InMemoryFileIndex` uses for parallel
    * partition discovery (`spark.sql.sources.parallelPartitionDiscovery
    * .threshold`, default 32), serially at or below it: listing is pure
    * I/O wait, so a local thread pool collapses the metadata wall-clock
    * by its width without touching executors (serial listings at
    * ~50 ms/dir on object storage would make a 100k-dir read or commit
    * wait on them). A failure surfaces as what `f` threw, not the
    * pool's ExecutionException wrapper, so callers see the same
    * exception either way.
    */
  private[sources] def inParallel[A, B](spark: SparkSession, xs: Seq[A])
                                       (f: A => B): Seq[B] =
    if (xs.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
      xs.map(f)
    else xs.map(x => listPool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    })).map { r =>
      try r.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

  /** What the manifest knows about one data directory: `exact` holds
    * columns with a CONSTANT known value in the dir (the partition
    * column it was written under), `ranges` holds zone-map [min, max]
    * per long-family stats column, `sranges` per STRING stats column
    * (lexicographic bounds — pruned only for all-ASCII comparisons,
    * where Java's UTF-16 order and Spark's UTF-8 binary order agree),
    * `dranges` per DOUBLE-family stats column (the bbox hot path).
    *
    * `kinds` records each long-family column's UNIT — the Catalyst
    * internal representation the commit side recorded: "long" (plain
    * integral), "micros" (TimestampType — microseconds since epoch),
    * "days" (DateType — days since epoch). [[eval]] prunes a range
    * ONLY when the pushed literal's dataType matches the recorded
    * kind: a TimestampType literal carries micros, and comparing it
    * against bounds recorded in any other unit would silently prune
    * matching dirs (wrong answers, not a perf miss). A column absent
    * from `kinds` defaults to "long" — pre-upgrade manifests only
    * ever recorded plain integral bounds, so a timestamp literal
    * against such a column stays Unknown (kept), never wrongly
    * pruned.
    *
    * `bytes` is the dir's manifest-recorded total data size (-1 =
    * unknown, pre-upgrade manifests) — it serves [[GraftFileIndex
    * .sizeInBytes]] at plan time without a filesystem listing, the
    * Delta AddFile.size idea.
    *
    * `blooms` maps each Bloom-indexed column to the dir's sidecar
    * filter file (the Iceberg-Puffin / Delta-bloom-index idea):
    * EQUALITY literals that zone maps can't decide — a high-
    * cardinality key uncorrelated with the layout, the PK point-
    * lookup shape — prune to the dirs whose filter might contain the
    * key. A Bloom answers "definitely absent" or "maybe present", so
    * False stays sound and a false positive only costs an extra dir.
    */
  case class ScanDir(path: String, exact: Map[String, String],
                     ranges: Map[String, (Long, Long)],
                     sranges: Map[String, (String, String)] = Map.empty,
                     dranges: Map[String, (Double, Double)] = Map.empty,
                     kinds: Map[String, String] = Map.empty,
                     bytes: Long = -1L,
                     blooms: Map[String, String] = Map.empty)

  /** Build the DataFrame: a parquet HadoopFsRelation over the index,
    * with the committed schema as the data schema (missing columns in
    * old dirs read back null — the same explicit-schema contract as
    * `spark.read.schema(sch).parquet`).
    */
  def scan(spark: SparkSession, sch: StructType,
           dirs: Seq[ScanDir]): (DataFrame, GraftFileIndex) = {
    val idx = new GraftFileIndex(spark, sch, dirs)
    val rel = HadoopFsRelation(idx, StructType(Nil), sch, None,
      new ParquetFileFormat(), Map.empty[String, String])(spark)
    (GraftPlanBridge.ofRows(spark, LogicalRelation(rel, isStreaming = false)),
      idx)
  }

  // ---- three-valued predicate evaluation over dir metadata ----

  sealed trait Tri
  case object True extends Tri
  case object False extends Tri
  case object Unknown extends Tri

  private def and3(a: Tri, b: Tri): Tri =
    if (a == False || b == False) False
    else if (a == True && b == True) True else Unknown
  private def or3(a: Tri, b: Tri): Tri =
    if (a == True || b == True) True
    else if (a == False && b == False) False else Unknown
  private def not3(a: Tri): Tri = a match {
    case True => False; case False => True; case Unknown => Unknown
  }

  private def litLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  private def litDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None
  }

  /** The zone-map UNIT a literal of this dataType compares against:
    * Catalyst carries TimestampType as micros-since-epoch (a plain
    * Long) and DateType as days-since-epoch (a plain Int) — the
    * VALUE alone cannot distinguish them from integral longs, so the
    * recorded kind must match the literal's type or the comparison
    * is meaningless (the round-11 seconds-vs-micros hazard).
    */
  private def kindOf(dt: DataType): Option[String] = dt match {
    case TimestampType | TimestampNTZType => Some("micros")
    case DateType => Some("days")
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case _ => None
  }

  private def litStr(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** Compare an exactly-known string value against a literal under
    * `op` ∈ {<, <=, =, >=, >}. The literal's DATATYPE picks the
    * comparison domain:
    *  - integral → numeric, when the value parses as Long;
    *  - DateType → the literal's days-since-epoch render to the ISO
    *    date string (zone-free and deterministic), compared
    *    lexicographically — ISO dates order chronologically, so a
    *    date filter prunes date-valued partition dirs;
    *  - double/float → numeric, when the value parses as Double (a
    *    double partition value's string form round-trips exactly —
    *    Spark renders shortest-roundtrip);
    *  - string → lexicographic;
    *  - timestamp → Unknown (its string render is session-zone-
    *    dependent; never sound to compare).
    * Lexicographic ORDERING comparisons carry the same ASCII guard as
    * the string zone maps in [[cmp]] — Java compares UTF-16 code units
    * while Spark compares UTF-8 bytes, and the two orders disagree for
    * supplementary characters; EQUALITY is order-free (byte equality
    * and code-unit equality coincide for any valid string), so `=`
    * stays unguarded.
    */
  private def cmpExact(value: String, lit: Any, dt: DataType,
                       op: String): Tri = {
    val c: Option[Int] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        litLong(lit).flatMap(l => value.toLongOption.map(_.compareTo(l)))
      case DateType =>
        litLong(lit).map { days =>
          val iso = java.time.LocalDate.ofEpochDay(days).toString
          if (op == "=" || isAscii(value)) Some(value.compareTo(iso))
          else None
        }.getOrElse(None)
      case DoubleType | FloatType =>
        litDouble(lit).flatMap(d =>
          value.toDoubleOption.map(_.compareTo(d)))
      case StringType =>
        litStr(lit).flatMap { s =>
          if (op == "=" || (isAscii(value) && isAscii(s)))
            Some(value.compareTo(s))
          else None
        }
      case _ => None
    }
    c match {
      case None => Unknown
      case Some(n) =>
        val r = op match {
          case "<" => n < 0
          case "<=" => n <= 0
          case "=" => n == 0
          case ">=" => n >= 0
          case ">" => n > 0
        }
        if (r) True else False
    }
  }

  /** Compare a zone-map interval [mn, mx] against the literal `v`:
    * False when NO value in the interval can satisfy `op` (prune),
    * Unknown otherwise (keep). Never True: the zone map doesn't track
    * nulls, and a pruning decision only needs False to be sound — a
    * null never satisfies a comparison, so disjointness stays sound.
    * Each family's guard stays at its call site in [[cmp]].
    */
  private def cmpRange[A](mn: A, mx: A, v: A, op: String)
                         (implicit ord: Ordering[A]): Tri = {
    import ord._
    val disjoint = op match {
      case "=" => v < mn || v > mx
      case "<" => mn >= v
      case "<=" => mn > v
      case ">" => mx <= v
      case ">=" => mx < v
    }
    if (disjoint) False else Unknown
  }

  private def isAscii(s: String): Boolean = s.forall(_ < 128)

  /** Driver-side cache of loaded Bloom sidecars, keyed by
    * (path, size, mtime). Sidecar files are copy-on-write like the
    * data dirs they sit in (a rewrite makes a NEW dir with a new
    * sidecar path), but path alone is not a sound identity across a
    * table that is DELETED and recreated (or restored out-of-band) at
    * the same root — a stale filter would return a wrong "definitely
    * absent" and silently drop rows. The stat tuple pins the exact
    * file version; a recreated sidecar misses the cache and reloads.
    * Cleared wholesale past a size bound — each filter is
    * metadata-sized (bits capped at commit), the bound just keeps a
    * very long session from pinning thousands of them.
    */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.util.sketch.BloomFilter]()

  private def loadBloom(path: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = java.nio.file.Paths.get(path)
    val attrs =
      try java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return None } // conservative
    if (bloomCache.size > 4096) bloomCache.clear()
    Some(bloomCache.computeIfAbsent(
      (path, attrs.size(), attrs.lastModifiedTime().toMillis), { _ =>
        val in = java.nio.file.Files.newInputStream(p)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }))
  }

  /** The canonical byte rendering a Bloom records and probes — the
    * commit side inserts `cast(col as string)` in UTF-8, so an
    * integral literal probes its decimal render and a string literal
    * probes itself; any other literal type is not modeled (Unknown).
    */
  private def bloomKey(lit: Any, dt: DataType): Option[Array[Byte]] =
    (dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        litLong(lit).map(_.toString)
      case StringType => litStr(lit)
      case _ => None
    }).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Bloom verdict for `attr = lit` over dir `d`: False when the
    * dir's sidecar filter proves the key absent, Unknown otherwise
    * (might contain, no sidecar, unreadable literal type). Nulls are
    * never inserted at commit, and a null literal never reaches here
    * (EqualNullSafe guards v != null), so absence stays sound.
    */
  private def bloomCmp(d: ScanDir, attr: String, lit: Any,
                       dt: DataType): Tri =
    d.blooms.get(attr).flatMap(loadBloom).flatMap { bf =>
      bloomKey(lit, dt).map(k =>
        if (bf.mightContainBinary(k)) Unknown else False)
    }.getOrElse(Unknown)

  /** Route a comparison to the dir's metadata for `attr`, keyed by
    * the LITERAL's dataType: exact partition values compare in the
    * literal's domain; long-family ranges prune ONLY when the
    * recorded kind matches the literal's unit (micros/days/long —
    * the type guard that makes a stale or foreign-unit zone map
    * conservative instead of wrong); double ranges serve
    * double/float literals; string ranges serve string literals.
    * EQUALITY additionally consults the dir's Bloom sidecar when the
    * zone map couldn't already disprove the match — the point-lookup
    * path where [min, max] says nothing useful.
    */
  private def cmp(d: ScanDir, attr: String, lit: Any, dt: DataType,
                  op: String): Tri = {
    val r = d.exact.get(attr) match {
      case Some(v) => cmpExact(v, lit, dt, op)
      case None => dt match {
        // NaN disables pruning: a NaN literal satisfies no comparison
        // anyway, and NaN bounds mean the dir holds NaNs whose ordering
        // Spark defines but a prune must not guess about. IEEE order,
        // so -0.0 and 0.0 compare equal as they do in Spark
        case DoubleType | FloatType => (d.dranges.get(attr), litDouble(lit)) match {
          case (Some((mn, mx)), Some(v)) if !v.isNaN && !mn.isNaN && !mx.isNaN =>
            cmpRange(mn, mx, v, op)(Ordering.Double.IeeeOrdering)
          case _ => Unknown
        }
        // ASCII only: Java String ordering is UTF-16 code-unit order
        // while Spark compares UTF-8 bytes, and the two disagree for
        // supplementary characters; on ASCII they coincide exactly
        case StringType => (d.sranges.get(attr), litStr(lit)) match {
          case (Some((mn, mx)), Some(v)) if isAscii(v) && isAscii(mn) && isAscii(mx) =>
            cmpRange(mn, mx, v, op)
          case _ => Unknown
        }
        case _ => (d.ranges.get(attr), litLong(lit)) match {
          case (Some((mn, mx)), Some(v))
            if kindOf(dt).contains(d.kinds.getOrElse(attr, "long")) =>
            cmpRange(mn, mx, v, op)
          case _ => Unknown
        }
      }
    }
    if (op == "=" && r == Unknown) bloomCmp(d, attr, lit, dt) else r
  }

  def eval(e: Expression, d: ScanDir): Tri = e match {
    case And(l, r) => and3(eval(l, d), eval(r, d))
    case Or(l, r) => or3(eval(l, d), eval(r, d))
    case Not(c) => not3(eval(c, d))
    case EqualTo(a: AttributeReference, Literal(v, dt)) => cmp(d, a.name, v, dt, "=")
    case EqualTo(Literal(v, dt), a: AttributeReference) => cmp(d, a.name, v, dt, "=")
    // null-safe equality against a NON-null literal prunes like plain
    // equality: null rows never satisfy it, so interval disjointness
    // stays sound; a null literal (isnull probe) stays Unknown — zone
    // maps don't track nulls
    case EqualNullSafe(a: AttributeReference, Literal(v, dt)) if v != null =>
      cmp(d, a.name, v, dt, "=")
    case EqualNullSafe(Literal(v, dt), a: AttributeReference) if v != null =>
      cmp(d, a.name, v, dt, "=")
    case GreaterThan(a: AttributeReference, Literal(v, dt)) => cmp(d, a.name, v, dt, ">")
    case GreaterThan(Literal(v, dt), a: AttributeReference) => cmp(d, a.name, v, dt, "<")
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) => cmp(d, a.name, v, dt, ">=")
    case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) => cmp(d, a.name, v, dt, "<=")
    case LessThan(a: AttributeReference, Literal(v, dt)) => cmp(d, a.name, v, dt, "<")
    case LessThan(Literal(v, dt), a: AttributeReference) => cmp(d, a.name, v, dt, ">")
    case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) => cmp(d, a.name, v, dt, "<=")
    case LessThanOrEqual(Literal(v, dt), a: AttributeReference) => cmp(d, a.name, v, dt, ">=")
    // prefix filter (col LIKE 'p%' / startsWith): strings with prefix
    // p form the interval [p, succ(p)) where succ bumps p's last char
    // — exact on a known partition value, interval-disjointness on
    // string zone maps (ASCII-only, same order-agreement guard)
    case StartsWith(a: AttributeReference, Literal(v, _)) =>
      litStr(v) match {
        case Some(p) if p.nonEmpty && isAscii(p) =>
          d.exact.get(a.name) match {
            case Some(ev) => if (ev.startsWith(p)) True else False
            case None => d.sranges.get(a.name) match {
              case Some((mn, mx)) if isAscii(mn) && isAscii(mx) =>
                if (p.last >= 127) Unknown
                else {
                  val succ = p.init + (p.last + 1).toChar
                  if (mx < p || mn >= succ) False else Unknown
                }
              case _ => Unknown
            }
          }
        case _ => Unknown
      }
    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.map { case Literal(v, dt) => cmp(d, a.name, v, dt, "=") }
        .foldLeft(False: Tri)(or3)
    // InSet's values carry no per-element type — they share the
    // attribute's dataType by construction
    case InSet(a: AttributeReference, set) =>
      set.map(v => cmp(d, a.name, v, a.dataType, "=")).foldLeft(False: Tri)(or3)
    // a pruning decision needs FALSE to be sound; anything we don't
    // model (casts, UDFs, null probes, column-column compares) keeps
    // the dir
    case _ => Unknown
  }
}
