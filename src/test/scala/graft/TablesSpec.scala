package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events table's `ts` column has shipped under two physical parquet
  * encodings across driver-side re-materializations: TIMESTAMP(NANOS)
  * (r1–r6 data; Spark 4 rejects it unless surfaced as a raw long) and
  * plain timestamp[us] (r7+ data). `Tables.loadEvents` must branch on
  * the schema actually present — round 7 lost 14 driver gates because
  * the loader hard-coded the nanos generation. This spec stages BOTH
  * encodings and asserts they load to identical timestamp values, so a
  * future re-materialization can't silently un-gate the events family.
  */
class TablesSpec extends SparkSpec {

  private val base = tempDir("graft-tables")

  // Three instants with sub-second precision that survives micros.
  private val micros = Seq(
    1696118400000000L, // 2023-10-01 00:00:00 UTC
    1696118401234567L,
    1696204799999999L)

  private def rows(f: Long => Any, tpe: DataType) = {
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", tpe)))
    val data = micros.zipWithIndex.map { case (us, i) => Row(i.toLong, f(us)) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  test("loadEvents handles a timestamp[us] file (current driver encoding)") {
    val path = s"$base/events_us.parquet"
    rows(tsOf, TimestampType).write.mode("overwrite").parquet(path)
    val got = Tables.loadEvents(spark, path)
    assert(got.schema("ts").dataType.isInstanceOf[TimestampType]
      || got.schema("ts").dataType.isInstanceOf[TimestampNTZType])
    val vals = got.orderBy("user_id")
      .select(unix_micros(col("ts").cast(TimestampType))).collect().map(_.getLong(0))
    assert(vals.toSeq == micros)
  }

  test("loadEvents handles a legacy long-nanos file (nanosAsLong shim)") {
    // Spark can't WRITE TIMESTAMP(NANOS); a plain int64 column is what a
    // NANOS column surfaces as under nanosAsLong, so staging int64 nanos
    // exercises exactly the branch the legacy files take.
    val path = s"$base/events_nanos.parquet"
    rows(us => us * 1000L, LongType).write.mode("overwrite").parquet(path)
    val got = Tables.loadEvents(spark, path)
    assert(got.schema("ts").dataType == TimestampType)
    val vals = got.orderBy("user_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(vals.toSeq == micros)
  }

  test("loadEvents refuses an unsupported ts type loudly") {
    val path = s"$base/events_bad.parquet"
    rows(us => us.toString, StringType).write.mode("overwrite").parquet(path)
    val e = intercept[IllegalStateException](Tables.loadEvents(spark, path))
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("the real testdata events table loads with a usable ts") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val ev = Tables.load(spark, dir, "events")
    val n = ev.filter(col("ts").isNotNull).count()
    assert(n > 0)
    // ts must be orderable and within a sane epoch range (not 1970 junk
    // from a mis-scaled shim).
    val mx = ev.agg(max(col("ts").cast(TimestampType))).collect()(0)
      .getTimestamp(0)
    assert(mx.after(Timestamp.valueOf("2000-01-01 00:00:00")))
  }

  test("scratch dirs: one per-app root per tag, fresh leaves under it, " +
    "every root registered for the exit-time reclaim") {
    val a = Tables.scratchDir(spark, "spec")
    val b = Tables.scratchDir(spark, "spec", fresh = true)
    assert(a === s"${Tables.scratchBase}/graft_spec_" +
      spark.sparkContext.applicationId + s"_pid${ProcessHandle.current().pid()}")
    assert(java.nio.file.Paths.get(b).getParent.toString === a)
    assert(Tables.scratchDir(spark, "spec", fresh = true) !== b)
    assert(Tables.scratchRoots.synchronized(
      Tables.scratchRoots.contains(java.nio.file.Paths.get(a))))
  }

  test("scratch roots of dead JVMs are reclaimed; the live JVM's roots " +
    "and untagged roots stay") {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(tempDir("graft-scratch"))
    // the highest pid not alive below Linux's ceiling (2^22); no
    // process is started to find it
    val dead = Iterator.iterate(4194303L)(_ - 1)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val live = ProcessHandle.current().pid()
    def plant(name: String) = {
      val root = base.resolve(name)
      Files.createDirectories(root.resolve("leaf"))
      Files.writeString(root.resolve("leaf/part-0.parquet"), "x")
      root
    }
    val gone = plant(s"graft_q44_local-1_pid$dead")
    val kept = Seq(plant(s"graft_q44_local-2_pid$live"),
      plant("graft_q44_local-3"), plant(s"other_pid$dead"))
    assert(Tables.reclaimDead(base) === Seq(gone))
    assert(!Files.exists(gone))
    kept.foreach(k => assert(Files.exists(k.resolve("leaf/part-0.parquet")), k))
    assert(Tables.reclaimDead(base.resolve("absent")).isEmpty)
  }
}
