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

  /** The one owner of query scratch: `graft_<tag>_<appId>` under
    * [[scratchBase]], plus a fresh UUID leaf when `fresh` (a root
    * reused across reps would accumulate table versions, or make a
    * stream checkpoint see "no new data"). Every per-app dir handed
    * out is walk-deleted at JVM exit and never before: lazily returned
    * results and the stage cache read their roots across reps.
    */
  def scratchDir(s: SparkSession, tag: String, fresh: Boolean = false): String = {
    val root = Paths.get(scratchBase, s"graft_${tag}_${s.sparkContext.applicationId}")
    scratchRoots.synchronized(scratchRoots += root)
    if (fresh) root.resolve(java.util.UUID.randomUUID().toString).toString
    else root.toString
  }

  private[graft] lazy val scratchRoots = {
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
