package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Table registry over the driver-generated parquet test tables
  * (TESTDATA.md). At production scale these would be date-partitioned
  * Parquet/Delta catalogues (SURVEY.md §1.1); loading stays a plain
  * columnar scan either way, so filters/projections push down to the
  * parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scratch base for queries that exercise real file/table I/O
    * (q44/q56/q57/q58): tmpfs when present — those queries measure
    * operator shape, not the scratch disk.
    */
  def scratchBase: String =
    if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm"
    else System.getProperty("java.io.tmpdir")

  /** The one owner of query scratch: `graft_<tag>_<appId>_pid<pid>`
    * under [[scratchBase]], plus a fresh UUID leaf when `fresh` (a root
    * reused across reps would accumulate table versions, or make a
    * stream checkpoint see "no new data"). Every per-app dir handed
    * out is walk-deleted at JVM exit and never before: lazily returned
    * results and the stage cache read their roots across reps. A JVM
    * that dies without running its exit hooks (SIGKILL, an OOM kill)
    * leaves its roots; the first call in a later JVM deletes those
    * ([[reclaimDead]]).
    */
  def scratchDir(s: SparkSession, tag: String, fresh: Boolean = false): String = {
    val root = Paths.get(scratchBase,
      s"graft_${tag}_${s.sparkContext.applicationId}_pid${ProcessHandle.current().pid()}")
    scratchRoots.synchronized(scratchRoots += root)
    if (fresh) root.resolve(java.util.UUID.randomUUID().toString).toString
    else root.toString
  }

  private val PidTagged = "graft_.+_pid(\\d+)".r

  /** Walk-deletes the scratch roots under `base` whose owning JVM is
    * no longer alive → the roots deleted. A root names its JVM by the
    * `_pid<pid>` suffix; roots without one (written before roots were
    * tagged) are left alone, since nothing tells whether their JVM
    * still runs. A dead JVM's pid reused by a live process keeps its
    * root until that process ends too.
    */
  private[graft] def reclaimDead(base: Path): Seq[Path] = {
    val names = Option(base.toFile.list()).map(_.toSeq).getOrElse(Nil)
    names.sorted.collect {
      case n @ PidTagged(pid) if !ProcessHandle.of(pid.toLong).isPresent =>
        base.resolve(n)
    }.filter { p =>
      try { graft.sources.CowTable.walkDelete(p); true }
      catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => false
      }
    }
  }

  private[graft] lazy val scratchRoots = {
    reclaimDead(Paths.get(scratchBase))
    val roots = scala.collection.mutable.LinkedHashSet.empty[Path]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      roots.synchronized(roots.toList).foreach { p =>
        try graft.sources.CowTable.walkDelete(p)
        catch { case _: java.io.IOException => }
      }))
    roots
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The events table has shipped under two physical encodings of `ts`:
    * TIMESTAMP(NANOS) (which Spark 4 rejects unless read as a raw long)
    * and plain timestamp[us]. Branch on the schema actually present in
    * the file rather than hard-coding either generation — contract
    * tables outlive any one materialization.
    */
  private[graft] def loadEvents(spark: SparkSession, path: String): DataFrame = {
    // `nanosAsLong` only affects how a NANOS column is surfaced; with it
    // set, a nanos file reads `ts` as LongType while a micros file still
    // reads a proper TimestampType. One schema probe decides the branch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Legacy nanos file: truncate to micros. Integer `div`, not `/`,
        // because epoch-nanos (~1.7e18) overflows a double's 53-bit
        // mantissa.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampType => raw
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other at $path")
    }
  }
}
