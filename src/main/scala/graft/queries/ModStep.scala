package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.SceneCatalog
import graft.pipeline.StepRunner.{SceneStep, StepResult}

/** Deterministic scene step for q58 and q216: succeeds unless
  * PID % failMod == 0, work-list = rows with `flagCol` unset (and
  * `preCol` set, for ordered pipelines). Top-level case class with
  * primitive fields only — ships to executors without capturing a
  * query object (SceneStep is Serializable).
  */
private[queries] final case class ModStep(stepName: String,
    preCol: Option[String], flagCol: String, failMod: Int)
    extends SceneStep {
  override def name: String = stepName
  override def workList(cat: SceneCatalog): DataFrame = {
    val pre = preCol.map(col(_)).getOrElse(lit(true))
    cat.scenes.filter(pre && !col(flagCol) && !col("Invalid"))
      .orderBy(col("Date_Acquired"), col("PID")).select("PID")
  }
  override def process(pid: Long): StepResult =
    StepResult(pid, pid % failMod != 0, "")
  override def onSuccess: Map[String, Column] = Map(flagCol -> lit(true))
}
