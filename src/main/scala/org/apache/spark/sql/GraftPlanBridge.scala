package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.{BlockRDD, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** Bridge to the `private[sql]` Dataset.ofRows that Spark 4 keeps out
  * of the public API. Lives in the `org.apache.spark.sql` package
  * solely to let graft materialize a DataFrame from a hand-built
  * LogicalPlan (the manifest-backed HadoopFsRelation scan, the vector
  * kernels' row passes, a table's in-memory copy); no Spark internals
  * are modified.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an executor-side `InternalRow` pass (a
    * `LogicalRDD`): rows stay in Catalyst's format, so columns of any
    * type pass through unconverted.
    */
  def ofInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
                     schema: StructType): DataFrame =
    ofRows(spark, LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
      spark.asInstanceOf[classic.SparkSession]))

  /** A DataFrame over driver-side `InternalRow`s (a `LocalRelation`). */
  def ofLocalRows(spark: SparkSession, rows: Seq[InternalRow],
                  schema: StructType): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Drops RDD `rddId`'s blocks. Not through `RDD.unpersist`, which
    * warns that a locally checkpointed RDD cannot be recomputed: the
    * callers free blocks nothing reads again.
    */
  def unpersist(spark: SparkSession, rddId: Int): Unit =
    spark.sparkContext.unpersistRDD(rddId, blocking = false)
}

/** One partition of Spark's columnar cache, filled from `source` by one
  * job when it is made, and cut from `source`'s lineage by a local
  * checkpoint: once filled, no read of it evaluates `source` again, so
  * the files `source` read may be deleted. `rows` plans as an
  * in-memory scan of one partition, so sorts and aggregates over it
  * need no exchange; its planned size is `sizeInBytes` until it is
  * filled, then the cache's own measure.
  *
  * A block can still be lost (an unpersist by someone else, a removed
  * executor); `held` says whether it is there, and a caller must not
  * read a copy that is not held.
  */
final class InMemoryCopy(source: DataFrame, sizeInBytes: BigInt) {
  private val session =
    source.sparkSession.asInstanceOf[classic.SparkSession]
  private val relation = {
    val qe = source.coalesce(1).asInstanceOf[classic.Dataset[Row]].queryExecution
    val r = InMemoryRelation(StorageLevel.MEMORY_AND_DISK, qe, None)
    r.statsOfPlanToCache = Statistics(sizeInBytes)
    r
  }
  private val blocks: RDD[CachedBatch] = {
    val b = relation.cacheBuilder.cachedColumnBuffers
    b.localCheckpoint()
    b.count()
    b
  }
  private def blockIds: Array[BlockId] =
    blocks.partitions.indices.map(i => RDDBlockId(blocks.id, i): BlockId).toArray

  /** The copy's rows, served from memory. */
  val rows: DataFrame = GraftPlanBridge.ofRows(session, relation)

  def held: Boolean = {
    val master = SparkEnv.get.blockManager.master
    blockIds.forall(master.contains)
  }

  /** The copy's rows read by block id alone, for building the next
    * copy: unlike [[rows]], the result keeps no reference to this
    * copy's plan, so a chain of copies built one from another never
    * grows.
    */
  def rowsByBlock: DataFrame = {
    val batches = new BlockRDD[CachedBatch](session.sparkContext, blockIds)
    GraftPlanBridge.ofInternalRows(session,
      relation.cacheBuilder.serializer.convertCachedBatchToInternalRow(
        batches, relation.output, relation.output, session.sessionState.conf),
      rows.schema)
  }

  /** Drops the blocks. This copy is never recomputed: a caller that
    * finds it not [[held]] reads its files.
    */
  def release(): Unit = GraftPlanBridge.unpersist(session, blocks.id)
}
