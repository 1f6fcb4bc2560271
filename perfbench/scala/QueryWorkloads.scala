package perfbench

import java.nio.file.{Files, Paths}
import java.time.ZoneOffset

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The two query workloads. An op is `SparkEntry.queries(name)(spark,
  * dir).count()`: the query function (its own eager jobs included) and
  * the final action, as `graft.Bench` times it.
  *
  * Set-up runs a verification pass: every query runs once, collected,
  * and its result is written to `<out>/results/<name>.json` for the
  * DuckDB oracle comparison. With `warmCounts` a pass of the timed
  * action follows, so the first timed pass starts warm.
  */
object QueryWorkloads {
  /** Short read-only analyst queries (fixed cost dominates). */
  val reportMix: Seq[String] = Seq(
    "q01_pricing_summary", "q02_work_list", "q03_revenue_by_nation",
    "q07_pagination", "q10_summary_stats", "q19_obsdate_rollup",
    "q23_bbox_overlap_wkt", "q65_range_join")

  /** Multi-job operators (shuffles, iterations, driver job sequences). */
  val pipelineHeavy: Seq[String] = Seq(
    "q59_embedding_dedup_groups", "q211_item_item_cf_capped")

  private val mapper = new ObjectMapper()

  /** A result as JSON: column names, rows and the query's oracle SQL,
    * with dates and timestamps as ISO strings (timestamps in UTC), which
    * the oracle check normalises the same way as the DuckDB side.
    */
  private def writeResult(path: java.nio.file.Path, columns: Seq[String],
                          rows: Array[Row], oracleSql: String): Unit = {
    def cell(v: Any): Any = v match {
      case d: java.sql.Date => d.toLocalDate.toString
      case t: java.sql.Timestamp => iso(t.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime)
      case t: java.time.LocalDateTime => iso(t)
      case other => other
    }
    val out = Map("columns" -> columns.asJava, "oracle_sql" -> oracleSql,
      "rows" -> rows.map(r => r.toSeq.map(cell).asJava).toSeq.asJava).asJava
    mapper.writeValue(path.toFile, out)
  }

  /** `yyyy-MM-dd HH:mm:ss[.ffffff]`, as Python prints a datetime. */
  private def iso(t: java.time.LocalDateTime): String = {
    val base = t.withNano(0).toString.replace('T', ' ')
    val secs = if (t.getSecond == 0 && base.length == 16) base + ":00" else base
    if (t.getNano == 0) secs else f"$secs.${t.getNano / 1000}%06d"
  }

  /** Run `names` closed-loop with one client, in whole passes, until
    * `seconds` have passed and at least [[Recorder.minUnits]] passes
    * ran. Each pass takes a fresh seeded shuffle of `names` when
    * `shuffle` is set.
    */
  def run(spark: SparkSession, rec: Recorder, names: Seq[String], dataDir: String,
          outDir: String, seed: Long, seconds: Double, shuffle: Boolean,
          warmCounts: Boolean): Unit = {
    Files.createDirectories(Paths.get(outDir, "results"))
    names.foreach { name =>
      rec.op(name, "verify") {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val rows = df.collect()
        writeResult(Paths.get(outDir, "results", s"$name.json"), df.columns.toSeq, rows,
          SparkEntry.oracleSql.get(name).orNull)
        (rows.length.toLong, "")
      }
    }
    if (warmCounts) names.foreach { name =>
      rec.op(name, "warm")((SparkEntry.queries(name)(spark, dataDir).count(), ""))
    }
    val rng = new scala.util.Random(seed)
    rec.startTiming()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    while (System.nanoTime() < deadline || passes < rec.minUnits) {
      val order = if (shuffle) rng.shuffle(names) else names
      rec.unit("pass") {
        order.foreach { name =>
          rec.op(name, "read") {
            val df = rec.span("build:" + name, "queries") {
              SparkEntry.queries(name)(spark, dataDir)
            }
            (rec.span("action:" + name, "action")(df.count()), "")
          }
        }
      }
      passes += 1
    }
  }
}
