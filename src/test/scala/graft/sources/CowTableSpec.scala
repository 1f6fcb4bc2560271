package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CowTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = tempDir("cow") + "/t"

  test("overwrite/read round trip and versioning") {
    val t = new CowTable(tmp(), spark)
    assert(!t.exists)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.read().count() == 2)
    t.overwrite(Seq((3L, "c")).toDF("id", "v"))
    assert(t.read().as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("upsert replaces matching keys and keeps the rest") {
    val t = new CowTable(tmp(), spark)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), Seq("id"))
    val got = t.read().as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("upsert is idempotent under re-run (recovery semantics)") {
    val t = new CowTable(tmp(), spark)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val upd = Seq((2L, "B")).toDF("id", "v")
    t.upsert(upd, Seq("id"))
    val once = t.read().as[(Long, String)].collect().toMap
    t.upsert(upd, Seq("id"))
    assert(t.read().as[(Long, String)].collect().toMap == once)
  }

  test("updateWhere mutates only matching rows; deleteWhere drops them") {
    val t = new CowTable(tmp(), spark)
    t.overwrite(Seq((1L, false), (2L, false), (3L, true)).toDF("id", "flag"))
    t.updateWhere(col("id") === 2L, Map("flag" -> lit(true)))
    assert(t.read().filter($"flag").count() == 2)
    t.deleteWhere(col("flag"))
    assert(t.read().as[(Long, Boolean)].collect().toSet == Set((1L, false)))
  }

  test("a commit racing a concurrent pointer advance fails loudly") {
    val root = tmp()
    val t = new CowTable(root, spark)
    t.overwrite(Seq((1L, "a")).toDF("id", "v")) // v0
    // a side-effecting UDF advances the pointer WHILE the commit's
    // parquet write executes — i.e. after commit snapshots its base
    // version, before the pointer flip: the in-flight data derives
    // from a stale read and must not clobber the competing commit
    RacingWriter.target = root + "/_current"
    val race = udf(RacingWriter.fire)
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((2L, "b")).toDF("id", "v")
        .withColumn("id", race($"id")))
    }
    // a clean retry from the (new) current version then succeeds
    java.nio.file.Files.write(java.nio.file.Paths.get(RacingWriter.target),
      "v_000000".getBytes("UTF-8"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.read().count() == 2)
  }

  test("version-dir collision fails the loser without touching the winner's data") {
    val root = tmp()
    val t = new CowTable(root, spark)
    t.overwrite(Seq((1L, "a")).toDF("id", "v")) // v0
    // a competing writer from the same base has already claimed
    // v_000001 (renamed into place, pointer flip still in flight):
    // the loser must fail on the name collision and must NOT delete
    // or overwrite the winner's files
    val winner = java.nio.file.Paths.get(root, "v_000001")
    java.nio.file.Files.createDirectory(winner)
    java.nio.file.Files.write(winner.resolve("part-winner.parquet"),
      "winner-bytes".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((2L, "b")).toDF("id", "v"))
    }
    assert(java.nio.file.Files.exists(winner.resolve("part-winner.parquet")))
    // and no staging garbage is left behind after vacuum
    t.vacuum()
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .iterator().asScala.exists(_.getFileName.toString.startsWith("_stage_")))
  }

  test("compact shrinks the file count to the target and preserves " +
    "content exactly") {
    val t = new CowTable(tmp(), spark)
    t.overwrite(spark.range(0, 100).toDF("id").repartition(10))
    t.append(spark.range(100, 200).toDF("id").repartition(10))
    val before = t.dataFileCount
    assert(before > 4, s"fixture not fragmented: $before files")
    t.compact(4)
    assert(t.dataFileCount <= 4)
    assert(t.dataFileCount >= 1)
    assert(t.read().as[Long].collect().sorted.toSeq === (0L until 200L))
    // the pre-compaction version is still readable until vacuum
    t.vacuum()
    assert(t.read().count() === 200)
  }

  test("compact rejects a non-positive file target") {
    val t = new CowTable(tmp(), spark)
    t.overwrite(spark.range(0, 10).toDF("id"))
    intercept[IllegalArgumentException](t.compact(0))
  }

  test("vacuum keeps only the current version; read unaffected") {
    val root = tmp()
    val t = new CowTable(root, spark)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.overwrite(Seq((2L, "b")).toDF("id", "v"))
    t.vacuum()
    assert(t.read().as[(Long, String)].head() == ((2L, "b")))
    val dirs = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("v_"))
    assert(dirs.length == 1)
  }
}

/** Simulates a competing writer from inside a running commit: the UDF
  * fires on executors during the parquet write (local mode shares the
  * JVM/filesystem) and advances `_current` before the pointer flip.
  * Top-level so the closure doesn't capture the suite.
  */
object RacingWriter extends Serializable {
  @volatile var target: String = _
  val fire: Long => Long = { x =>
    java.nio.file.Files.write(java.nio.file.Paths.get(target),
      "v_000042".getBytes("UTF-8"))
    x
  }
}
