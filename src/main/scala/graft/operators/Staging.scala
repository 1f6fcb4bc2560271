package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of lineage cuts. A staged frame is an eager local
  * checkpoint (Spark's default level): its rows are computed once into
  * the block store and every later read of it starts from those
  * blocks, so a frame read by several actions, or an iteration's state,
  * is not re-derived from its sources.
  *
  * Scope rule: [[scope]] frees every block staged inside it when it
  * ends, on success and on failure, so one long-lived session that
  * serves query after query (Bench, Verify, a monitoring loop) does not
  * accumulate the blocks of queries already answered. A query's lazily
  * returned result may read blocks staged while it was built, so the
  * scope belongs to whoever runs both the build and the action; query
  * bodies and operators that return lazy frames open none. An eager
  * caller that is done with its blocks before it returns frees them
  * itself, with a nested scope or [[release]]. A frame staged outside
  * any scope is never freed by this object.
  *
  * The innermost open scope travels as a `SparkContext` local
  * property, which a thread inherits from the thread that creates it,
  * so blocks staged by a thread a query starts (a streaming batch, for
  * one) belong to the query's scope.
  */
object Staging {
  private val ScopeKey = "graft.staging.scope"
  private val nextScope = new AtomicLong()

  /** The RDD ids a scope holds, and the most it held at once. */
  private final class Held {
    private val ids = mutable.Set.empty[Int]
    private var most = 0
    def add(id: Int): Unit = synchronized {
      ids += id
      most = most max ids.size
    }
    def remove(id: Int): Unit = synchronized { ids -= id }
    def peak: Int = synchronized(most)
    def drain(): Seq[Int] = synchronized {
      val out = ids.toSeq
      ids.clear()
      out
    }
  }

  private val open = new ConcurrentHashMap[String, Held]()

  private def innermost(spark: SparkSession): Option[Held] =
    Option(spark.sparkContext.getLocalProperty(ScopeKey))
      .flatMap(k => Option(open.get(k)))

  /** The RDD whose blocks hold a staged frame's rows: the one under its
    * `LogicalRDD`. `Dataset.unpersist` does not reach it, because a
    * checkpointed frame is not in the cache manager.
    */
  private def rddId(ds: Dataset[_]): Int = ds.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.id
    case p => throw new IllegalArgumentException(
      s"not a staged frame (its plan is a ${p.nodeName}, not a LogicalRDD)")
  }

  /** `ds` computed now into the block store, its lineage cut; the
    * blocks belong to the innermost open [[scope]].
    */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val staged = ds.localCheckpoint()
    innermost(ds.sparkSession).foreach(_.add(rddId(staged)))
    staged
  }

  /** Runs `body`, then frees every block staged inside it (in nested
    * scopes too, which free theirs first), however `body` ends.
    */
  def scope[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(ScopeKey)
    val key = nextScope.incrementAndGet().toString
    val held = new Held
    open.put(key, held)
    sc.setLocalProperty(ScopeKey, key)
    try body
    finally {
      sc.setLocalProperty(ScopeKey, outer)
      open.remove(key)
      held.drain().foreach(GraftPlanBridge.unpersist(spark, _))
    }
  }

  /** Frees one staged frame's blocks now. */
  def release(ds: Dataset[_]): Unit = {
    val id = rddId(ds)
    open.values.forEach(_.remove(id))
    GraftPlanBridge.unpersist(ds.sparkSession, id)
  }

  /** The most blocks the innermost open scope has held at once (0
    * outside any scope). A block counts from its staging until its
    * [[release]].
    */
  private[graft] def peak(spark: SparkSession): Int =
    innermost(spark).map(_.peak).getOrElse(0)
}
