package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** The mutable-catalogue storage contract (SURVEY.md §7.5 #1): the
  * update/delete surface the reference's ORM exercises, over immutable
  * files with atomic version commits. Implementations: [[CowTable]]
  * (whole-table rewrite — right for small dimension/metadata tables)
  * and [[PartitionedCowTable]] (partition-level rewrite — the 100 TB
  * scene-table path).
  */
trait VersionedTable {
  def exists: Boolean
  def read(): DataFrame
  /** The current version's rows: Right when they are served from an
    * in-memory copy the table holds, Left when they are a file read.
    * Only [[PartitionedCowTable]] holds a copy.
    */
  def snapshot(): Either[DataFrame, DataFrame] = Left(read())
  def overwrite(df: DataFrame): Unit
  def append(df: DataFrame): Unit
  def upsert(updates: DataFrame, keys: Seq[String]): Unit
  def updateWhere(pred: Column, sets: Map[String, Column]): Unit
  def deleteWhere(pred: Column): Unit
  def vacuum(): Unit
}
