package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Sort}
import org.apache.spark.sql.functions._

import graft.catalog.SceneCatalog
import graft.model.UsageLog
import graft.plans.BoundValues

/** The reference's per-scene processing state machine
  * (`process_scenes_all_steps`, eodatadownrun.py:768-788 → SURVEY.md
  * §3.2) as explicit dataflow: work-list query → partition-parallel
  * step execution → join-back upsert → audit append. Re-running a
  * step is idempotent: the work-list only selects rows whose flag is
  * still unset (the reference's "continues where it left off",
  * eodatadownlandsatgoogsensor.py:206).
  *
  * A step's heavy lifting (download, ARD, quicklook — external tools
  * in the reference) is a pluggable [[SceneStep.process]] executed
  * inside `mapPartitions`: one executor task per partition of the
  * work-list, no driver-side loops, results joined back by PID. At
  * 1000 executors the work-list repartitions to the cluster width and
  * each scene is processed exactly once per run.
  */
object StepRunner {

  /** Outcome of one scene-step execution. */
  case class StepResult(PID: Long, success: Boolean, info: String)

  /** A per-scene processing step (the reference's sensor methods /
    * user-analysis plugins, eodatadownuseranalysis.py:40-173).
    * Implementations must be Serializable — they ship to executors.
    */
  trait SceneStep extends Serializable {
    def name: String
    /** Work-list selector: which scenes still need this step. */
    def workList(cat: SceneCatalog): DataFrame
    /** Row-local processing; runs on executors. */
    def process(pid: Long): StepResult
    /** Partition-batched processing: override to amortize per-task
      * setup (an HTTP client, a GDAL/ARCSI process, a DB connection)
      * over every scene in the partition — the same per-worker
      * amortization the reference gets from its multiprocessing Pool
      * (eodatadownrun.py:786-787, one process reused across scenes).
      * The default delegates row-wise to [[process]]. Implementations
      * must consume lazily (return a mapped iterator, not a
      * materialized list) so results stream.
      */
    def processPartition(pids: Iterator[Long]): Iterator[StepResult] =
      pids.map(process)
    /** Column updates applied to rows whose step succeeded. */
    def onSuccess: Map[String, org.apache.spark.sql.Column]
  }

  /** Run one step over its work-list: returns (nProcessed, nSucceeded).
    * Failures leave the flag unset, so the next run retries them.
    */
  def runStep(spark: SparkSession, cat: SceneCatalog, step: SceneStep,
              parallelism: Int, audit: Option[AuditLog] = None): (Long, Long) = {
    import spark.implicits._
    val work = unordered(spark, step.workList(cat).select("PID")).as[Long]
    val results = work
      .repartition(parallelism)
      .mapPartitions { pids => step.processPartition(pids) }
      .cache()
    // one action for both tallies (total, succeeded) instead of two
    // full passes — the loop pays per-job driver constants 2 steps ×
    // N ticks times, so fused counts halve that phase's job count
    val cnt = results.toDF().agg(count(lit(1)),
      coalesce(sum(when(col("success"), 1L).otherwise(0L)), lit(0L)))
      .head()
    val (nTotal, nOk) = (cnt.getLong(0), cnt.getLong(1))
    val ok = results.filter(_.success)
    if (nOk > 0) {
      val okPids = ok.toDF().select(col("PID"))
      val updated = cat.scenes.join(okPids, Seq("PID"), "left_semi")
      // a tick's timestamps are new values, not a new query: bound,
      // they reuse the write-back's compiled classes
      val withFlags = step.onSuccess.foldLeft(updated) {
        case (df, (c, v)) => df.withColumn(c, BoundValues.bind(df, v))
      }
      cat.upsertScenes(withFlags)
    }
    audit.foreach(_.append(step.name, s"processed=$nTotal ok=$nOk"))
    results.unpersist()
    (nTotal, nOk)
  }

  /** `df` without the global sorts at the top of its plan: the
    * work-list selectors keep the reference's order for callers that
    * read them (SceneCatalog.scnlist*), but [[runStep]] repartitions
    * the list round-robin, which discards any order — and a global
    * sort costs a range-partition sampling job plus a shuffle. Only
    * sorts reached through deterministic projections and filters are
    * dropped; a sort under a limit or an aggregate keeps deciding
    * which rows the list holds.
    */
  private def unordered(spark: SparkSession, df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort if s.global => strip(s.child)
      case u @ (_: Project | _: Filter) if u.expressions.forall(_.deterministic) =>
        u.withNewChildren(Seq(strip(u.children.head)))
      case other => other
    }
    GraftPlanBridge.ofRows(spark, strip(df.queryExecution.analyzed))
  }

  /** Ordered multi-step run (download → ard → … as in
    * run_scn_analysis, eodatadownrun.py:699-765).
    */
  def runAll(spark: SparkSession, cat: SceneCatalog, steps: Seq[SceneStep],
             parallelism: Int, audit: Option[AuditLog] = None): Seq[(String, Long, Long)] =
    steps.map { s =>
      val (n, ok) = runStep(spark, cat, s, parallelism, audit)
      (s.name, n, ok)
    }
}

/** Append-only usage/audit log (S12, eodatadownusagedb.py:86-114). */
class AuditLog(root: String, spark: SparkSession) extends Serializable {
  private val table = new graft.sources.CowTable(root, spark)

  def append(step: String, description: String): Unit = {
    import spark.implicits._
    table.append(Seq(UsageLog(root, new Timestamp(System.currentTimeMillis()),
      None, s"$step: $description")).toDS().toDF())
  }

  def entries(): DataFrame = table.read()
}
