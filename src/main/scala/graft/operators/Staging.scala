package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

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
  *
  * Loop rule: an iteration whose state is staged every round runs
  * through [[iterate]], which frees each generation once its successor
  * is staged, so a loop holds its fixed inputs plus at most two
  * generations, and one when it ends.
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

  /** Runs a staged loop from `init`: each round stages `step` of the
    * current generation, asks `fixed(previous, staged)` whether the
    * loop reached its fixpoint, then frees the previous generation. A
    * step that returns its input unchanged (a search with nothing left
    * to do) is a fixpoint found with no job. Stops at a fixpoint or
    * after `maxRounds` rounds → (the last generation, converged?).
    *
    * `init` becomes the loop's: when it is a staged frame it is freed
    * once replaced; a lazily built one has no blocks to free. The last
    * generation belongs to the caller's scope, like any staged frame.
    * Without `fixed` the loop runs all `maxRounds` rounds.
    */
  def iterate[T](init: Dataset[T], maxRounds: Int)(
      step: Dataset[T] => Dataset[T])(
      fixed: (Dataset[T], Dataset[T]) => Boolean = (_: Any, _: Any) => false)
      : (Dataset[T], Boolean) = {
    var cur = init
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val built = step(cur)
      if (built eq cur) converged = true
      else {
        val next = apply(built)
        converged = fixed(cur, next)
        if (staged(cur)) release(cur)
        cur = next
      }
      round += 1
    }
    (cur, converged)
  }

  /** An [[iterate]] fixpoint test: `measure` of the staged generation
    * equals that of the one it replaces. Each generation is measured
    * once; a round reuses its predecessor's measure.
    */
  def unchanged[T, M](measure: Dataset[T] => M)
      : (Dataset[T], Dataset[T]) => Boolean = {
    var last: Option[(Dataset[T], M)] = None
    (prev, next) => {
      val before = last.collect { case (g, m) if g eq prev => m }
        .getOrElse(measure(prev))
      val after = measure(next)
      last = Some((next, after))
      before == after
    }
  }

  /** Whether `ds` is a staged frame whose blocks are still held. */
  private def staged(ds: Dataset[_]): Boolean = ds.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
    case _ => false
  }

  /** The most blocks the innermost open scope has held at once (0
    * outside any scope). A block counts from its staging until its
    * [[release]].
    */
  private[graft] def peak(spark: SparkSession): Int =
    innermost(spark).map(_.peak).getOrElse(0)
}
