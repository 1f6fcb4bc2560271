package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one run records: an op record for every op (always), and in
  * traced units also spans around each call the benchmark makes into a
  * layer, plus job, stage, query-execution and streaming records from
  * listeners the benchmark registers itself. Everything is held in
  * memory and written as JSONL by [[write]] when the run ends.
  *
  * Times are epoch microseconds: a nanoTime offset from one anchor, so
  * spans line up with the listeners' epoch-millisecond event times.
  */
final class Recorder(spark: SparkSession, val traceMode: Boolean) {
  private val sc = spark.sparkContext
  private val anchorMicros = System.currentTimeMillis() * 1000L
  private val anchorNanos = System.nanoTime()
  def nowMicros: Long = anchorMicros + (System.nanoTime() - anchorNanos) / 1000L

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (driver, executor threads, JIT, GC). */
  private def cpuMicros: Long = osBean.getProcessCpuTime / 1000L

  private val records = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private def emit(kind: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("type", kind)
    fields.foreach { case (k, v) => m.put(k, v) }
    records.add(m)
  }

  def meta(fields: (String, Any)*): Unit = emit("meta", fields: _*)

  // ---- units: traced units alternate with untraced ones in trace mode

  private var unitId = -1
  /** The unit an op belongs to; -1 outside [[unit]], so set-up and
    * final checks are never counted as timed ops.
    */
  private var opUnit = -1
  private var unitTraced = false
  private var nextSpan = 0L
  private var spanStack: List[Long] = Nil
  private var opId = -1
  private var opKind = ""

  /** Whether the current unit is traced. */
  def tracing: Boolean = unitTraced

  /** Units a run measures at least: in trace mode four, untraced,
    * traced, traced, untraced, so a drift along the run (the JIT still
    * warming) cancels out of the measured tracing overhead.
    */
  def minUnits: Int = if (traceMode) 4 else 1

  /** End of set-up: the timed units start. */
  def startTiming(): Unit = meta("setup_end" -> nowMicros)

  /** Run one unit (a pass or a tick); see [[minUnits]] for which are
    * traced in trace mode.
    */
  def unit(kind: String)(body: => Unit): Unit = {
    unitId += 1
    opUnit = unitId
    unitTraced = traceMode && (unitId % 4 == 1 || unitId % 4 == 2)
    if (unitTraced) listeners.register()
    val t0 = nowMicros
    try body
    finally {
      val t1 = nowMicros
      if (unitTraced) listeners.unregister()
      emit("unit", "unit" -> unitId, "kind" -> kind, "traced" -> unitTraced,
        "start" -> t0, "end" -> t1)
      unitTraced = false
      opUnit = -1
    }
  }

  /** Time one op: a call plus its action. `body` returns (rows, error):
    * a non-empty error marks the op failed (a wrong answer); a thrown
    * exception does too.
    */
  def op(kind: String, cls: String)(body: => (Long, String)): Unit = {
    opId += 1
    opKind = kind
    val t0 = nowMicros
    val c0 = cpuMicros
    val sid = if (unitTraced) Some(openSpan("op:" + kind, "bench")) else None
    val (rows, err) =
      try body
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        (-1L, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    sid.foreach(closeSpan(_, "op:" + kind, "bench", t0))
    val t1 = nowMicros
    val c1 = cpuMicros
    val staged = if (unitTraced) stagedBytes() else -1L
    emit("op", "op" -> opId, "unit" -> opUnit,
      "kind" -> kind, "cls" -> cls,
      "traced" -> unitTraced, "start" -> t0, "end" -> t1, "cpu" -> (c1 - c0), "rows" -> rows,
      "ok" -> err.isEmpty, "err" -> err, "staged_bytes" -> staged)
  }

  /** Extra per-op facts (commits, files, step tallies) for the trace. */
  def opFacts(fields: (String, Any)*): Unit =
    emit("fact", (Seq("op" -> opId, "kind" -> opKind) ++ fields): _*)

  /** A span around a call into `layer`; no-op outside traced units. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!unitTraced) body
    else {
      val t0 = nowMicros
      val id = openSpan(name, layer)
      try body finally closeSpan(id, name, layer, t0)
    }

  private def openSpan(name: String, layer: String): Long = {
    nextSpan += 1
    spanStack = nextSpan :: spanStack
    sc.setLocalProperty("perfbench.span", nextSpan.toString)
    sc.setLocalProperty("perfbench.op", opId.toString)
    nextSpan
  }

  private def closeSpan(id: Long, name: String, layer: String, t0: Long): Unit = {
    spanStack = spanStack.tail
    val parent = spanStack.headOption.getOrElse(0L)
    sc.setLocalProperty("perfbench.span", if (parent == 0L) null else parent.toString)
    emit("span", "id" -> id, "parent" -> parent, "op" -> opId, "name" -> name,
      "layer" -> layer, "start" -> t0, "end" -> nowMicros)
  }

  /** Bytes held by persisted or checkpointed blocks right now. */
  private def stagedBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  // ---- listeners (registered for traced units only)

  private object listeners {
    private val jobs = new SparkListener {
      private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      private val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val prop = (k: String) => p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val last = e.stageInfos.maxBy(_.stageId)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        emit("job", "job" -> e.jobId, "start" -> e.time * 1000L,
          "span" -> prop("perfbench.span"), "op" -> prop("perfbench.op"),
          "site" -> userFrame(last.details), "sql_exec" -> prop("spark.sql.execution.id"),
          "stages" -> e.stageIds.size)
      }

      // SQL jobs that run on Spark's own threads carry no user frame in
      // their stages; their query execution's call site names the caller
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          emit("sql", "exec" -> s.executionId.toString, "site" -> userFrame(s.details))
        case _ => ()
      }

      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        emit("job_end", "job" -> e.jobId, "end" -> e.time * 1000L,
          "ok" -> (e.jobResult == JobSucceeded))

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val agg = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
        agg.synchronized {
          agg.durations += e.taskInfo.duration
          if (!e.taskInfo.successful) agg.failed += 1
          Option(e.taskMetrics).foreach { m =>
            agg.gcMs += m.jvmGCTime
            agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            agg.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val agg = Option(tasks.remove((i.stageId, i.attemptNumber()))).getOrElse(new TaskAgg)
        val d = agg.durations.sorted
        emit("stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "job" -> stageJob.getOrDefault(i.stageId, -1),
          "name" -> i.name, "tasks" -> d.size, "failed_tasks" -> agg.failed,
          "task_ms" -> d.sum, "task_max_ms" -> d.lastOption.getOrElse(0L),
          "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)),
          "gc_ms" -> agg.gcMs, "shuffle_read_bytes" -> agg.shuffleRead,
          "shuffle_write_bytes" -> agg.shuffleWrite, "spill_bytes" -> agg.spill,
          "records_read" -> agg.recordsRead)
      }
    }

    private val qe = new QueryExecutionListener {
      override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit =
        phases(funcName, q, durationNs, ok = true)
      override def onFailure(funcName: String, q: QueryExecution, e: Exception): Unit =
        phases(funcName, q, 0L, ok = false)
      private def phases(funcName: String, q: QueryExecution, durationNs: Long,
                         ok: Boolean): Unit = {
        val ph = q.tracker.phases
        val ms = (k: String) => ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
        emit("qe", "func" -> funcName, "start" -> start * 1000L, "ok" -> ok,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "duration_ms" -> durationNs / 1e6)
      }
    }

    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        emit("stream", "batch" -> p.batchId, "input_rows" -> p.numInputRows,
          "batch_ms" -> p.batchDuration,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
    }

    def register(): Unit = {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(qe)
      spark.streams.addListener(streams)
    }

    def unregister(): Unit = {
      // every event of the unit must reach the listeners before they go
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(qe)
      spark.streams.removeListener(streams)
    }
  }

  /** The innermost frame of this repository's code in a call-site
    * stack (`graft.…` for the engine, `perfbench.…` for this benchmark).
    */
  private def userFrame(details: String): String =
    Option(details).getOrElse("").split("\n").map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")).getOrElse("")

  private final class TaskAgg {
    val durations = mutable.ArrayBuffer.empty[Long]
    var failed, gcMs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
  }

  /** Write every record, one JSON object a line. */
  def write(path: String): Unit = {
    val mapper = new ObjectMapper()
    val w = new BufferedWriter(new FileWriter(path))
    try records.asScala.foreach { r =>
      w.write(mapper.writeValueAsString(r)); w.newLine()
    } finally w.close()
  }
}
