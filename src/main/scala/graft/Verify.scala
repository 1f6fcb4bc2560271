package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode

import graft.Harness.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline (round-7 lesson: a silent stderr line cost 14
  * driver gates for a full round):
  *  - per-query exceptions land in `_errors.json` (name → message) next
  *    to oracle_sql.json, and the process exits non-zero if any query
  *    failed — a broken query poisons the round's artifact visibly
  *    instead of vanishing; so does a query that leaves persistent
  *    RDDs behind ([[Harness.scoped]]), whose ids the message names;
  *  - queries run cheapest-first (by the previous bench board's
  *    medians, [[Harness.prevBoard]]; name-sort fallback), so if a
  *    time limit ever cuts the run short, only the most expensive
  *    tail is lost — and `_manifest.json` (attempted vs completed,
  *    rewritten after every query) records exactly where it stopped.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only): comma-separated query-name prefixes to
    // run a subset locally; the driver always passes exactly 2 args.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).flatMap(Harness.prefixes)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    def write(file: String, json: JsonNode): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), Json.render(json))

    // Write the oracle SQL FIRST: it is pure metadata and must survive
    // even if the very first query crashes the JVM.
    write("oracle_sql.json", Json.obj(SparkEntry.oracleSql))

    val (medians, solo) = Harness.prevBoard()
    val cost = medians ++ solo
    val queries = SparkEntry.queries
    val attempted = Harness.selectNames(queries.keys.toSeq, Set.empty, only)._1
      .sortBy(name => (cost.getOrElse(name, Double.MaxValue), name))
    val completed = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def writeManifest(): Unit = write("_manifest.json", Json.obj(Seq(
      "attempted" -> Json.arr(attempted), "completed" -> Json.arr(completed),
      "failed" -> Json.arr(errors.keys))))
    writeManifest()

    attempted.foreach { name =>
      try {
        val (_, leaked) = Harness.scoped(spark) {
          queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        completed += name
        if (leaked.nonEmpty) {
          System.err.println(s"[verify] $name ${Harness.leakMessage(leaked)}")
          errors(name) = Harness.leakMessage(leaked)
        }
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = s"${e.getClass.getSimpleName}: $msg"
      }
      writeManifest()
      write("_errors.json", Json.obj(errors))
    }
    write("_errors.json", Json.obj(errors))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size}/${attempted.size} queries FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
