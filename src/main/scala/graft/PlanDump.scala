package graft

/** Dev-only: dump `.explain("formatted")` for named queries to files —
  * the optimization rounds' plan evidence (plans/r14/<q>_before|after.txt).
  * Not part of the driver contract; never run by the driver.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <prefix1,prefix2,...>
  * Writes <outDir>/<queryName>_<suffix>.txt for every query whose name
  * starts with one of the prefixes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, sel) = args.take(4)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    Harness.selectNames(queries.keys.toSeq.sorted, Set.empty,
        Harness.prefixes(sel))._1.foreach { name =>
      try {
        val plan = queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
