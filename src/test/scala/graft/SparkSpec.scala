package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks a single JVM). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", {
        val wh = Files.createTempDirectory("graft-wh")
        sys.addShutdownHook(graft.sources.CowTable.walkDelete(wh))
        wh.toString
      })
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark

  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir, deleted with
    * everything under it when the suite ends.
    */
  protected def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  override protected def afterAll(): Unit =
    try tempRoots.forEach(p => graft.sources.CowTable.walkDelete(p))
    finally super.afterAll()
}
