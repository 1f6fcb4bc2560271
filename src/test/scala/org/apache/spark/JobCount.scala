package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Exact count of the Spark jobs a block starts, through a
  * SparkListener. Jobs are attributed by a thread-local property that
  * Spark hands on to the threads it starts for a query (broadcasts,
  * subqueries), so jobs of anything else running in the session are
  * not counted. Lives in this package only to drain the listener bus,
  * which is private to Spark, so no event is still in flight when the
  * count is read.
  */
object JobCount {
  private val key = "graft.test.jobcount"

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (r, js) = jobs(sc)(body)
    (r, js.size)
  }

  /** The input records the tasks of `body`'s jobs read, attributed as
    * above: a parquet row counts one, a cached partition's block one
    * per stored element.
    */
  def recordsRead[T](sc: SparkContext)(body: => T): (T, Long) = {
    val ends = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          ends.add(e.stageId -> e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      val (r, js) = jobs(sc)(body)
      val stages = js.flatMap(_.stageIds).toSet
      (r, ends.asScala.collect { case (st, n) if stages(st) => n }.sum)
    } finally sc.removeSparkListener(listener)
  }

  /** The start events of the jobs `body` starts, attributed as above;
    * their stage infos name the RDDs each job reads and writes.
    */
  def jobs[T](sc: SparkContext)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val token = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty(key) == token))
          seen.add(e)
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, token)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (r, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
