package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM:
  *
  * {{{
  * perfbench.Main --workload <report_mix|catalog_cycle|pipeline_heavy>
  *   --seed <n> --seconds <s> --trace <0|1> --data <tables dir>
  *   --out <run dir> --cores <n>
  * }}}
  *
  * It drives the engine only through its public functions and writes
  * every op, span and listener record to `<out>/records.jsonl`; the
  * Python side turns those into metrics and checks the query results.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $other")
    }
    val out = Paths.get(opt("out")).toAbsolutePath.toString
    val cores = opt("cores").toInt
    Files.createDirectories(Paths.get(out))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, trace)
    rec.meta("workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000L)
    try workload match {
      case "report_mix" =>
        QueryWorkloads.run(spark, rec, QueryWorkloads.reportMix, opt("data"), out, seed,
          seconds, shuffle = true, warmCounts = true)
      case "pipeline_heavy" =>
        QueryWorkloads.run(spark, rec, QueryWorkloads.pipelineHeavy, opt("data"), out, seed,
          seconds, shuffle = false, warmCounts = false)
      case "catalog_cycle" =>
        new CatalogCycle(spark, rec, seed, out, cores).run(seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      rec.meta("peak_rss_kb" -> peakRssKb())
      rec.write(s"$out/records.jsonl")
      spark.stop()
    }
  }

  /** The JVM's resident-set high-water mark (VmHWM), in KiB. */
  private def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}
