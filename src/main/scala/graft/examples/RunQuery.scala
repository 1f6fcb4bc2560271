package graft.examples

import graft.{Harness, SparkEntry}

/** Dev utility: run one named SparkEntry query with repeated timings
  * and an optional formatted plan dump.
  * `sbt "runMain graft.examples.RunQuery <name> <sfDir> [reps] [explain]"`
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 3
    val doExplain = args.contains("explain")
    val spark = Harness.session()
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[runquery] $name rep=$i rows=$n time=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
