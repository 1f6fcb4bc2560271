package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.Tables.{load => t}
import graft.sources.CowTable
import graft.operators.{ScaleOps, Staging}
import graft.streaming.StreamOps

/** SURVEY.md §2.9 under the DRIVER GATE (round-5 verdict item 3):
  * streaming was the one yes-component verified only by ScalaTest, so
  * these queries run the REAL Structured Streaming operators —
  * `flatMapGroupsWithState` custom keyed state, watermarks, the state
  * machine — over a finite file stream and hash-compare the result
  * against an independent DuckDB oracle, exactly like every batch
  * query.
  *
  * Determinism contract (what makes a streaming operator gateable):
  *  - the input is staged to scratch parquet and drained to its end.
  *    q91/q92/q94/q95 read it in ONE `Trigger.Once` micro-batch
  *    ([[runOnce]]), so per-batch emission (flatMapGroupsWithState
  *    emits one consolidated row per key per batch) yields exactly one
  *    final row per key, and intra-batch event-time sorting corrects
  *    all input disorder. Every other gate drains `batches` >= 2
  *    event-time slices, one per micro-batch ([[drain]],
  *    [[drainEach]]), whose contract extends this one across batch
  *    boundaries;
  *  - lateness is set far beyond the data's time span, so the
  *    watermark never finalizes state mid-stream and event-time
  *    timeouts never fire — nothing depends on arrival timing. The
  *    gates that test watermark semantics on purpose (q176, q177,
  *    q260, q265, q277, q278, q283) instead pin the micro-batch
  *    watermark protocol, which their oracles replay closed-form;
  *  - every fold in the operators is order-independent (bool OR, max,
  *    count) or explicitly event-time-sorted.
  * Under that contract the streaming result equals the batch
  * semantics, which is precisely what the oracle states in SQL.
  */
object StreamingQueries {

  /** Scale-adaptive shuffle/state partition count for one streaming
    * drain (guide §2: derive partitioning from the input, never from a
    * core-count constant). Stateful operators pay a FIXED per-partition
    * per-micro-batch cost — every HDFSBackedStateStore instance writes
    * a delta file + bookkeeping per commit, and a stream-stream join
    * keeps four stores per partition — so with `spark.sql.shuffle
    * .partitions` pinned to the session's core count the gates paid
    * 32 (×4 for joins) store commits per micro-batch to move a few
    * hundred KB; AQE cannot help because it is disabled in stateful
    * workloads. Sized from the staged slice bytes at
    * `spark.graft.stream.bytesPerStatePartition` (default 8 MB of
    * compressed parquet input per partition), clamped to [1, session
    * shuffle partitions]: a cluster sitting with shuffle partitions in
    * the thousands and TB-scale batches scales up automatically, and
    * the cap means this can only ever REMOVE per-partition constants
    * relative to the session default, never oversubscribe it.
    * State-partition count is pinned per checkpoint; every harness run
    * uses a fresh checkpoint, so re-sizing between calls is safe.
    */
  private[graft] def statePartitionsFor(s: SparkSession,
                                        stagedDirs: Seq[String]): Int =
    ScaleOps.partitionsFor(s, "spark.graft.stream.bytesPerStatePartition",
      stagedDirs.map(ScaleOps.pathBytes).sum)

  /** Run `body` (a streaming start + awaitTermination) with the
    * session's shuffle partitions temporarily set to the drain-sized
    * value, restoring the session default afterwards — the number of
    * state partitions is captured from this conf when the fresh
    * checkpoint is created. Results are partition-count-invariant
    * (keyed state and `numRowsTotal` curves sum across partitions);
    * only the per-batch constant changes.
    *
    * SEQUENTIAL-HARNESS ASSUMPTION (r14 advice): this mutates the
    * shared session's `spark.sql.shuffle.partitions` around the drain
    * — a concurrent query on the same SparkSession could plan with
    * the shrunk value, and nesting would restore the inner value.
    * Bench and Verify run one query at a time and no gate nests
    * drains, so the set/restore is sound here; a concurrent caller
    * must clone the session (`s.cloneSession()`) and drain there.
    */
  private def withStatePartitions[T](s: SparkSession,
                                     stagedDirs: Seq[String])(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitionsFor(s, stagedDirs).toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The result sink of [[runOnce]] and [[drain]]: foreachBatch →
    * parquet at `dir`, NOT a memory sink. The memory sink collects
    * every result row to the driver and decodes it through a row
    * encoder — at sf10 the q95 complete-mode rollup died there with
    * EXPRESSION_DECODING_FAILED in the r13 board sitting (and pinned a
    * full result copy per rep besides). Executors write the parquet
    * directly; the driver never holds rows. Append mode appends each
    * micro-batch's new rows; complete mode delivers the FULL result
    * table every micro-batch, so each one overwrites the last.
    */
  private def parquetSink(out: DataFrame, mode: String,
                          dir: String): DataStreamWriter[Row] =
    out.writeStream.outputMode(mode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(if (mode == "complete") "overwrite" else "append")
          .parquet(dir)
      }

  /** Read back the [[parquetSink]] under `base`. The returned DataFrame
    * reads it lazily, so it must outlive the call; its fresh root is
    * reclaimed at JVM exit ([[Tables.scratchDir]]). A degenerate run
    * with zero triggered batches writes no sink dir; surface the
    * operator's (empty) result, not a read error.
    */
  private def readSink(s: SparkSession, base: String,
                       schema: StructType): DataFrame =
    if (Files.exists(Paths.get(s"$base/out"))) s.read.parquet(s"$base/out")
    else s.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** The single-batch form (q91/q92/q94/q95): stage `input` as a file
    * stream and drain it through `build` into the [[parquetSink]] in
    * ONE `Trigger.Once` micro-batch, releasing the staging and
    * checkpoint dirs before returning. `mode`: "append" for
    * row-emitting operators (dedup, flatMap state); "complete" for
    * windowed AGGREGATIONS — under the never-advancing watermark no
    * window ever finalizes, so append mode would emit NOTHING for them
    * (the one Structured Streaming trap this harness has to dodge).
    */
  private def runOnce(s: SparkSession, tag: String, input: DataFrame,
                      build: DataFrame => DataFrame,
                      mode: String = "append"): DataFrame = {
    val base = Tables.scratchDir(s, tag, fresh = true)
    input.write.mode("overwrite").parquet(s"$base/in")
    val out = build(s.readStream.schema(input.schema).parquet(s"$base/in"))
    withStatePartitions(s, Seq(s"$base/in")) {
      parquetSink(out, mode, s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.Once())
        .start()
        .awaitTermination()
    }
    CowTable.walkDelete(Paths.get(s"$base/in"))
    CowTable.walkDelete(Paths.get(s"$base/ckpt"))
    readSink(s, base, out.schema)
  }

  /** The multi-batch core behind [[drain]] and [[drainEach]] — the
    * CROSS-BATCH twin of [[runOnce]] (round-6 verdict item 1: the
    * Trigger.Once harness never exercises state carried ACROSS
    * micro-batches, the thing `flatMapGroupsWithState` exists for).
    * Each input is split into `batches` CONTIGUOUS slices sorted by
    * its order columns, each staged as ONE parquet file with strictly
    * increasing modification times ([[stagedSlices]]), and read as its
    * own file stream with `maxFilesPerTrigger=1`. The query `sink`
    * builds over those streams drains under `Trigger.AvailableNow`
    * from a fresh checkpoint, so every file source admits exactly one
    * slice per micro-batch, oldest first, and keyed state / the dedup
    * store / watermarks must SURVIVE from batch to batch for the
    * result to come out right. With two inputs (the stream-STREAM
    * join shape) every micro-batch carries a slice of EACH side, and
    * cross-batch matches (side A's batch-0 rows joining side B's
    * batch-2 rows) exercise the buffered join state.
    *
    * Determinism contract, extended from [[runOnce]]:
    *  - slices are contiguous in order-column order, so anything a
    *    later event depends on (a dimension version, a first
    *    occurrence) is drained in the same or an earlier batch — the
    *    cross-batch disorder the operators explicitly do NOT
    *    retro-correct never occurs;
    *  - per-batch emitters (flatMapGroupsWithState emits one
    *    consolidated row per touched key per batch) emit one row per
    *    key PER TOUCHED BATCH here; callers that want only the final
    *    state consolidate with max_by over a monotonic field
    *    (n_events) — order-independent, so the result is
    *    batch-count-invariant;
    *  - the run FAILS LOUDLY when asked for fewer than 2 batches, and
    *    when the progress log shows fewer than `batches` non-empty
    *    micro-batches: a silent fall-back to one batch would gate
    *    nothing.
    *
    * Returns the non-empty micro-batches' progress in trigger order.
    * `sizeState` runs the query under [[withStatePartitions]] sized
    * from the staged slices.
    *
    * The global-window ntile sort is staging machinery (drives the
    * slicing of a finite replay corpus), not operator cost — a real
    * deployment's batches arrive pre-sliced by time.
    */
  private def drainCore(s: SparkSession, tag: String, base: String,
      inputs: Seq[(DataFrame, Seq[Column])], batches: Int,
      sizeState: Boolean)(
      sink: Seq[DataFrame] => DataStreamWriter[Row])
      : Seq[StreamingQueryProgress] = {
    require(batches >= 2,
      s"drain($tag): need >= 2 batches to exercise cross-batch state, " +
        s"got $batches — use runOnce for the single-batch form")
    val dirs = inputs.zipWithIndex.map { case ((in, order), i) =>
      stagedSlices(s, tag, in, order, batches, s"in$i")
    }
    val streams = inputs.zip(dirs).map { case ((in, _), dir) =>
      s.readStream.schema(in.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
    }
    def run(): Seq[StreamingQueryProgress] = {
      val q = sink(streams)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    val progress =
      try if (sizeState) withStatePartitions(s, dirs)(run()) else run()
      finally CowTable.walkDelete(Paths.get(s"$base/ckpt"))
    require(progress.size >= batches,
      s"drain($tag): expected >= $batches non-empty micro-batches, " +
        s"progress log shows ${progress.size} — the cross-batch " +
        "contract was not exercised")
    progress
  }

  /** Drain `inputs` — each with the columns its slices are ordered by —
    * over `batches` micro-batches through `build`, which gets one
    * stream per input in the same order, into the [[parquetSink]]
    * (`mode` as in [[runOnce]]). Returns the sink's rows and the
    * non-empty micro-batches' progress ([[drainCore]]): its size is the
    * observed batch count, and `progress.map(stateRows)` the per-batch
    * state curve. State partitions are sized from the staged slices.
    */
  private[graft] def drain(s: SparkSession, tag: String,
      inputs: Seq[(DataFrame, Seq[Column])], batches: Int = 3,
      mode: String = "append")(build: Seq[DataFrame] => DataFrame)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val base = Tables.scratchDir(s, tag, fresh = true)
    var schema = new StructType()
    val progress = drainCore(s, tag, base, inputs, batches,
        sizeState = true) { streams =>
      val out = build(streams)
      schema = out.schema
      parquetSink(out, mode, s"$base/out")
    }
    (readSink(s, base, schema), progress)
  }

  /** State-store rows after one micro-batch (`numRowsTotal` of the
    * query's first stateful operator, 0 without one) — the observable
    * that PROVES a bounded-state claim: dropDuplicatesWithinWatermark's
    * curve must plateau as the watermark evicts, while plain
    * dropDuplicates grows monotonically with every key ever seen.
    */
  private[graft] def stateRows(p: StreamingQueryProgress): Long =
    p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)

  /** Drain `input` over `batches` micro-batches like [[drain]], but hand
    * each micro-batch and Spark's batchId to `perBatch` to COMMIT
    * somewhere external (a CoW table version, an export) — the
    * streaming-ingest-into-storage shape (continuous q57). The batchId
    * is the exactly-once ingredient: an idempotent sink records the id
    * with its commit and skips replays (q266 gates that recipe).
    * Returns the observed non-empty micro-batch count.
    *
    * NO state-partition sizing here (deliberate asymmetry with
    * [[drain]]): this drain has no stateful operator — the per-batch
    * work is EXTERNAL batch jobs (CoW commits, rollup refreshes)
    * executed inside `perBatch`, and shrinking the session shuffle
    * partitions around them serializes that batch work for zero
    * state-store savings (measured: q288 8.1 → 13.3 s in-suite with
    * the sizing applied here; reverted to the session value).
    */
  private[graft] def drainEach(s: SparkSession, tag: String,
      input: DataFrame, orderCols: Seq[Column], batches: Int = 3)(
      perBatch: (DataFrame, Long) => Unit): Int = {
    val base = Tables.scratchDir(s, tag, fresh = true)
    val progress = drainCore(s, tag, base, Seq(input -> orderCols),
        batches, sizeState = false) { streams =>
      streams.head.writeStream.foreachBatch(perBatch)
    }
    CowTable.walkDelete(Paths.get(base))
    progress.size
  }

  /** Session-scoped cache of staged slice dirs: (tag, input
    * fingerprint, batches) → the staged `in` dir. The staging job
    * (a global-window ntile sort + parquet write) costs a multi-batch
    * gate ~2-5 s PER REP while producing byte-identical slices every
    * time — under the 5-rep bench it was ~20% of the whole board's
    * wall (round-9 verdict item 7). The fingerprint is the input's
    * ANALYZED plan plus the slice ORDER columns, with expression IDs
    * normalized out: two calls with the same query shape, source
    * paths and arrival order hit; a unit test replaying the same tag
    * over different synthetic input (or a different slice order)
    * misses and stages its own dir. Cached dirs are reclaimed at JVM exit, never
    * mid-session (reps re-read them).
    */
  private val stageCache =
    scala.collection.mutable.HashMap.empty[String, String]

  private def stagedSlices(s: SparkSession, tag: String,
                           input: DataFrame,
                           orderCols: Seq[Column],
                           batches: Int,
                           inSub: String): String = {
    // orderCols are part of the identity: the same input plan sliced
    // in a different order is DIFFERENT staged data (arrival order is
    // what multi-batch gates test) — it must not hit a cached dir
    val planNorm = (input.queryExecution.analyzed.toString +
      orderCols.map(_.toString).mkString("\u0000"))
      .replaceAll("#\\d+", "#")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(planNorm.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val key = s"${tag}_${inSub}_${batches}_$fp"
    stageCache.synchronized {
      stageCache.get(key) match {
        case Some(dir) if Files.exists(Paths.get(dir)) => return dir
        case _ =>
      }
    }
    val root = Tables.scratchDir(s, "stagecache")
    val inDir0 = s"$root/$key"
    stageSliceFiles(s, tag, s"$root/_build_$key", input, orderCols,
      batches, inSub)
    Files.move(Paths.get(s"$root/_build_$key/$inSub"), Paths.get(inDir0))
    CowTable.walkDelete(Paths.get(s"$root/_build_$key"))
    stageCache.synchronized { stageCache(key) = inDir0 }
    inDir0
  }

  /** Stage `input` into `base/inSub` as `batches` contiguous
    * `orderCols`-sorted slice files with strictly increasing mtimes —
    * the build step behind [[stagedSlices]]. ONE staging job: the
    * global-window ntile leaves the data in a single partition, so
    * partitionBy writes exactly one part file per slice in one pass
    * (a per-slice filter+write loop would re-run the window sort
    * `batches` times — measured ~2× on the staging-dominated q97/q98).
    */
  private def stageSliceFiles(s: SparkSession, tag: String, base: String,
                              input: DataFrame,
                              orderCols: Seq[Column],
                              batches: Int, inSub: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val inDir = Paths.get(s"$base/$inSub")
    Files.createDirectories(inDir)
    val stage = s"$base/stage"
    input.withColumn("__b",
        ntile(batches).over(Window.orderBy(orderCols: _*)) - 1)
      .write.partitionBy("__b").parquet(stage)
    for (b <- 0 until batches) {
      val sliceDir = Paths.get(s"$stage/__b=$b")
      val parts = {
        val walk = Files.list(sliceDir)
        try {
          val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
          walk.forEach { p =>
            val n = p.getFileName.toString
            if (n.startsWith("part-") && n.endsWith(".parquet")) buf += p
          }
          buf.toSeq
        } finally walk.close()
      }
      require(parts.length == 1,
        s"drain($tag): slice $b staged ${parts.length} part " +
          "files (expected 1 from the single-partition window)")
      val target = inDir.resolve(f"batch$b%03d.parquet")
      Files.move(parts.head, target)
      // strictly increasing mtimes: the file source admits oldest
      // first (latestFirst=false default), so slice order == batch
      // order deterministically, independent of staging wall-clock
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000L))
    }
    CowTable.walkDelete(Paths.get(stage))
  }

  /** q91/q98 shared input: dimension updates (per-user latest order
    * per day) and fact events unioned into ONE merged as-of stream.
    */
  private def asofInput(s: SparkSession, dir: String): DataFrame = {
    val facts = t(s, dir, "events")
      .select(col("user_id").as("key"), col("ts"),
        lit(1).as("side"), lit(null).cast("string").as("payload"),
        col("event_id"))
    val dims = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("key"),
        col("o_orderdate").cast("timestamp").as("ts"))
      .agg(max("o_orderkey").as("k"))
      .select(col("key"), col("ts"), lit(0).as("side"),
        col("k").cast("string").as("payload"),
        lit(-1L).as("event_id"))
    facts.unionByName(dims)
  }

  /** q92/q97 shared input: step events derived deterministically from
    * orders (q49's device) — every scene downloads; half build ARD a
    * day later; a quarter load the datacube a day after that.
    * Selectors divide by 10 FIRST: every key in `base` is already
    * ≡0 (mod 10), so a plain %2/%4 would be vacuous and the
    * partial-progress state (downloaded without ard) — the state the
    * machine exists to consolidate — would occur for no scene.
    */
  private def stepEvents(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("t0"))
      .filter(col("o_orderkey") % 10 === 0) // bounded key space
    val dl = base.select(concat(lit("S"), col("o_orderkey")).as("scene_id"),
      lit("download").as("step"), col("t0").as("ts"))
    val ard = base.filter((col("o_orderkey") / 10).cast("long") % 2 === 0)
      .select(concat(lit("S"), col("o_orderkey")).as("scene_id"),
        lit("ard").as("step"),
        (col("t0") + expr("INTERVAL 1 DAY")).as("ts"))
    val dc = base.filter((col("o_orderkey") / 10).cast("long") % 4 === 0)
      .select(concat(lit("S"), col("o_orderkey")).as("scene_id"),
        lit("dcload").as("step"),
        (col("t0") + expr("INTERVAL 2 DAY")).as("ts"))
    dl.unionByName(ard).unionByName(dc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming as-of enrichment (the continuous twin of q62, same
    // DuckDB native-ASOF oracle shape): dimension updates (per-user
    // latest order per day) and fact events union into ONE stream;
    // per-key custom state retains the version history and enriches
    // each fact with the version in force at its event time.
    "q91_streaming_asof" -> { (s, dir) =>
      import s.implicits._
      runOnce(s, "q91", asofInput(s, dir), in =>
        StreamOps.streamingAsofEnrich(in.as[StreamOps.AsofInput],
            lateness = "36500 days", retainVersions = 8,
            idleGapMs = Long.MaxValue / 4).toDF())
        .select(col("event_id"), col("key").as("user_id"),
          col("asof_payload").cast("long").as("as_of_orderkey"),
          to_date(col("asof_ts")).as("as_of_date"))
        .orderBy("event_id")
    },

    // The reference's per-scene state machine (Downloaded → ARDProduct
    // → DCLoaded) as keyed custom state over a step-event stream —
    // the q43/q58 family's streaming form, gated. Step events derive
    // deterministically from orders (q49's device): every scene
    // downloads; half build ARD a day later; a quarter load the
    // datacube a day after that.
    "q92_streaming_state_machine" -> { (s, dir) =>
      import s.implicits._
      runOnce(s, "q92", stepEvents(s, dir), in =>
        StreamOps.sceneStateMachine(in.as[StreamOps.StepEvent],
            lateness = "36500 days", idleGapMs = Long.MaxValue / 4).toDF())
        .select(col("scene_id"), col("downloaded"), col("ard"),
          col("dcloaded"), col("last_ts"), col("n_events"))
        .orderBy("scene_id")
    },

    // Streaming exact dedup (dropDuplicatesWithinWatermark) gated:
    // WHICH physical row survives a dedup group is partition-order
    // dependent (documented in StreamOps), so the gated output is the
    // deterministic part of the contract — the surviving CONTENT set:
    // exactly one row per distinct text, reported as its hash. The
    // corpus texts are all distinct, so the stream is the corpus PLUS
    // a full replayed copy (the at-least-once re-delivery dedup
    // exists for): 2n rows in, n hashes out — the drop path carries
    // half the stream, and a dedup regression doubles the row count
    // before it can touch the hash.
    "q94_streaming_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 1000000L))
        .withColumn("ts", expr(
          "timestampadd(SECOND, doc_id, TIMESTAMP'2024-01-01 00:00:00')"))
      runOnce(s, "q94", input, in =>
        StreamOps.streamingDedup(in, "text", "ts", "36500 days"))
        .select(md5(col("text")).as("content_hash"))
        .orderBy("content_hash")
    },

    // The obs-date rollup (A6/J4) maintained BY THE STREAMING operator
    // (1-day event-time windows + key), gated in complete mode — the
    // continuously-maintained form of q43's batch rollup.
    "q95_streaming_rollup" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"))
      runOnce(s, "q95", ev, in =>
        StreamOps.obsDateRollup(in, "ts", "36500 days",
          Seq(col("event_type"))), mode = "complete")
        .select(col("obs_date"), col("event_type"), col("n_events"))
        .orderBy("obs_date", "event_type")
    },

    // ---- CROSS-BATCH gates (round-6 verdict item 1): the same
    // operators as q91/q92/q94, drained over >= 3 micro-batches with
    // maxFilesPerTrigger=1 — keyed custom state, the as-of version
    // history, and the dedup store must all SURVIVE batch boundaries
    // (checkpointed state store reload) for these rows to hash-match
    // their batch-semantics oracles. ----

    // State machine across batches: a scene's download/ard/dcload
    // steps land in DIFFERENT time-slices (they are 1 day apart, and
    // slices are event-time-contiguous), so its consolidated row can
    // only be right if the state from earlier batches is still there.
    // flatMapGroupsWithState emits one row per touched key PER BATCH;
    // n_events is strictly monotone per key, so max_by(·, n_events)
    // picks the FINAL state — batch-count-invariant by construction.
    "q97_multibatch_state_machine" -> { (s, dir) =>
      import s.implicits._
      val (out, _) = drain(s, "q97", Seq(stepEvents(s, dir) ->
          Seq(col("ts"), col("scene_id"), col("step")))) { case Seq(in) =>
        StreamOps.sceneStateMachine(in.as[StreamOps.StepEvent],
          lateness = "36500 days", idleGapMs = Long.MaxValue / 4).toDF()
      }
      out.groupBy("scene_id")
        .agg(max_by(struct(col("downloaded"), col("ard"), col("dcloaded"),
          col("last_ts"), col("n_events")), col("n_events")).as("fin"))
        .select(col("scene_id"), col("fin.downloaded").as("downloaded"),
          col("fin.ard").as("ard"), col("fin.dcloaded").as("dcloaded"),
          col("fin.last_ts").as("last_ts"), col("fin.n_events").as("n_events"))
        .orderBy("scene_id")
    },

    // As-of enrichment across batches: dimension versions installed in
    // batch b must still be in the per-key version state when facts
    // arrive in batch b+2. Slices sort by (ts, side) — dims before
    // facts at equal ts — so the determinism contract's "no
    // cross-batch disorder" precondition holds by construction; every
    // fact emits exactly once (in its arrival batch), so the union of
    // batch outputs IS the batch-semantics answer, no consolidation.
    "q98_multibatch_asof" -> { (s, dir) =>
      import s.implicits._
      drain(s, "q98", Seq(asofInput(s, dir) ->
          Seq(col("ts"), col("side"), col("event_id")))) { case Seq(in) =>
        StreamOps.streamingAsofEnrich(in.as[StreamOps.AsofInput],
          lateness = "36500 days", retainVersions = 8,
          idleGapMs = Long.MaxValue / 4).toDF()
      }._1
        .select(col("event_id"), col("key").as("user_id"),
          col("asof_payload").cast("long").as("as_of_orderkey"),
          to_date(col("asof_ts")).as("as_of_date"))
        .orderBy("event_id")
    },

    // Dedup across batches: the corpus plus a full replayed copy
    // (replica ts = original + ~11.6 days), sliced by ts — so most
    // replicas arrive BATCHES after their originals and are only
    // dropped if the content-hash state store survived the boundary.
    // 2n rows in, n hashes out, like q94.
    "q99_multibatch_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 1000000L))
        .withColumn("ts", expr(
          "timestampadd(SECOND, doc_id, TIMESTAMP'2024-01-01 00:00:00')"))
      drain(s, "q99", Seq(input -> Seq(col("ts"), col("doc_id")))) {
        case Seq(in) => StreamOps.streamingDedup(in, "text", "ts", "36500 days")
      }._1
        .select(md5(col("text")).as("content_hash"))
        .orderBy("content_hash")
    },

    // The batch SCD2 build (q197) AS A STREAM: per-user status runs
    // live in flatMapGroupsWithState; a status change closes the run
    // and emits its [valid_from, valid_to) interval append-only.
    // The 3-batch drain slices user streams ACROSS micro-batch
    // boundaries, so runs opened in batch 0 must close correctly
    // from state in batch 2 — the cross-batch property the gate
    // exists for. Oracle: q197's SQL restricted to closed intervals
    // (the stream never emits the open tail; batch's null-valid_to
    // rows are exactly that tail).
    "q208_multibatch_scd2" -> { (s, dir) =>
      import s.implicits._
      val input = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("status"))
      drain(s, "q208", Seq(input -> Seq(col("ts"), col("event_id")))) {
        case Seq(in) => StreamOps.scdIntervals(in.as[StreamOps.StatusEvent],
          lateness = "36500 days", idleGapMs = Long.MaxValue / 4).toDF()
      }._1
        .select("user_id", "status", "valid_from", "valid_to", "n_events")
        .orderBy("user_id", "valid_from")
    },

    // The q105 ingest probe AS A STREAM: new docs arrive in
    // micro-batches and near-dup-probe the PERSISTED corpus band
    // index via a STREAM-STATIC equi-join on (band, bucket) — the
    // production deployment shape of incremental dedup, where the
    // index is a table (IndexPersistSpec) and each day's batch is a
    // trigger. Per-doc banded signatures are stateless scan math on
    // the stream side; the verify joins the static set table; the
    // single streaming aggregation (complete mode) takes each doc's
    // best match. Band-collision duplicates are NOT pre-deduped —
    // that would be a second aggregation, which Structured Streaming
    // forbids in one query; the max_by is idempotent under them, so
    // correctness is untouched and the verify pays ≤ bands× on
    // colliding pairs (the q105 batch form stays the thrifty shape;
    // this gate proves the STREAMING semantics). Oracle: the q105
    // all-pairs SQL verbatim — the stream must equal the batch answer.
    "q114_streaming_neardup_probe" -> { (s, dir) =>
      import graft.functions.{GraftFunctions => G}
      import graft.operators.IncrementalDedup
      val d = t(s, dir, "documents")
        .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
      val corpusSets = d.filter(col("doc_id") % 10 =!= 0)
        .groupBy("ws").agg(min("doc_id").as("osid"))
        .transform(Staging(_))
      // Spread the k=128 signature pass (r15, guide §2.5): AQE
      // coalesces the distinct-set exchange to ~1 block at gate scale
      // and the checkpoint freezes it, so the corpus index build (the
      // expensive per-set minhash) ran as ONE task. The sets blocks
      // are already materialized (MBs), so when they arrive narrower
      // than the session width the re-spread is ~free; a corpus-scale
      // frame arrives pre-split and skips it (block-count gate, no
      // extra exchange at 100 TB).
      val nShuf = s.conf.get("spark.sql.shuffle.partitions").toInt
      val corpusWide =
        if (corpusSets.rdd.getNumPartitions >= nShuf) corpusSets
        else corpusSets.repartition(nShuf, col("osid"))
      val corpusIdx = IncrementalDedup.bandIndex(corpusWide, "osid", 128, 16)
        .transform(Staging(_))
      val input = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      drain(s, "q114", Seq(input -> Seq(col("doc_id"))),
          mode = "complete") { case Seq(in) =>
        val k = 128; val bands = 16; val rows = k / bands
        val sets = in
          .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
          .filter(size(col("ws")) > 0)
        val banded = sets
          .select(col("doc_id"), col("ws"),
            G.minhashSig(col("ws"), k).as("sig"))
          .select(col("doc_id"), col("ws"),
            posexplode(transform(sequence(lit(0), lit(bands - 1)),
              i => xxhash64(i, slice(col("sig"), i * lit(rows) + lit(1),
                lit(rows))))))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bucket")
        banded.join(corpusIdx, Seq("band", "bucket"))
          .join(corpusSets.select(col("osid"), col("ws").as("ws_o")),
            Seq("osid"))
          .filter(least(size(col("ws")), size(col("ws_o"))) >=
            greatest(size(col("ws")), size(col("ws_o"))) * 0.9)
          .withColumn("jac", G.sortedJaccard(col("ws"), col("ws_o")))
          .filter(col("jac") >= 0.9)
          .groupBy("doc_id")
          .agg(max_by(col("osid"), struct(col("jac"), -col("osid")))
              .as("match_id"),
            max("jac").as("jac"))
      }._1
        .select(col("doc_id"), col("match_id"),
          round(col("jac"), 6).as("jac"))
        .orderBy("doc_id")
    },

    // Streaming ingest INTO versioned storage: the event stream
    // drains in 3 event-time micro-batches, and each batch UPSERTS
    // its per-user latest row into a copy-on-write table
    // (foreachBatch → CowTable.upsert — the continuous form of q57's
    // batch upsert, and the reference's downloader loop as a stream).
    // The gate reads the FINAL table version: it equals q06's global
    // latest-event-per-user exactly iff (a) every batch committed,
    // (b) upsert replace semantics held across versions, (c) the
    // checkpointed source admitted each slice once — so the oracle
    // gates streaming, storage and exactly-once bookkeeping together.
    // Batch slices are event-time-contiguous, so a later batch's
    // per-user argmax always supersedes an earlier one; the per-batch
    // struct-max reduces each slice BEFORE the upsert join (batch
    // shuffles its own users only, the table shuffles on the pk).
    "q126_streaming_cow_upsert" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      val root = Tables.scratchDir(s, "q126", fresh = true)
      val table = new graft.sources.CowTable(root, s)
      drainEach(s, "q126", ev,
        orderCols = Seq(col("ts"), col("event_id"))) { (batch, _) =>
        val latest = batch
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("m"))
          .select(col("user_id"), col("m.ts").as("ts"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"))
        table.upsert(latest, Seq("user_id"))
      }
      table.read()
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
        .transform(Staging(_))
    },

    // q137's count-min sketch BUILT AS A STREAM — the proof that
    // "mergeable" means "streamable": the ≤256-cell table is the
    // streaming aggregation state, counts accumulate across ≥3
    // checkpointed micro-batches (complete mode — the sketch is the
    // state, each trigger republishes it), and the final sketch must
    // answer point queries IDENTICALLY to the batch build — the
    // oracle is q137's SQL verbatim. Per-batch work is stateless scan
    // math (the d-row explode + cell hash) feeding one bounded-state
    // aggregation; this is the per-day dashboard-sketch deployment
    // shape, where yesterday's state plus today's batch IS the
    // rollup. Probes/exact counts are batch-side companions (the
    // oracle-bearing arm, q136's discipline).
    "q150_multibatch_cms" -> { (s, dir) =>
      val d = 4
      val w = 64
      def cellOf(r: org.apache.spark.sql.Column,
                 key: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(r.cast("string"), lit(":"),
          key.cast("string"))), 1, 8), 16, 10).cast("long") % w
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      val cells = drain(s, "q150", Seq(ev -> Seq(col("ts"), col("event_id"))),
          mode = "complete") { case Seq(in) =>
        in.select(col("user_id"),
            explode(sequence(lit(0), lit(d - 1))).as("r"))
          .withColumn("c", cellOf(col("r"), col("user_id")))
          .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
      }._1.transform(Staging(_))
      val exact = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      exact.orderBy(col("exact_n").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("exact_n"),
          explode(sequence(lit(0), lit(d - 1))).as("r"))
        .withColumn("c", cellOf(col("r"), col("user_id")))
        .join(broadcast(cells), Seq("r", "c"))
        .groupBy("user_id", "exact_n")
        .agg(min("cnt").as("cms_est"))
        .withColumn("overest", col("cms_est") - col("exact_n"))
        .select("user_id", "exact_n", "cms_est", "overest")
        .orderBy(col("exact_n").desc, col("user_id"))
    },

    // Stream-STREAM interval join — the join family the streaming tier
    // had not gated: BOTH sides unbounded (q91 enriches a stream
    // against dimension rows in the same stream; q114 probes a static
    // index). The engine must buffer each side's keyed state across
    // micro-batches — a click in batch 0 matching a purchase in batch
    // 2 only pairs if the click survived two checkpointed boundaries —
    // and the interval condition (purchase within 1h after the click)
    // is what bounds that buffer in production: state retention is
    // join-range + watermark, not the whole stream. The gate's
    // watermark spans the replay corpus (720h) so NOTHING is evicted
    // and the drained result must equal the batch interval join
    // row-for-row (the oracle); a production deployment would tighten
    // it to ~1h and accept late-click eviction. Both sources admit one
    // sliced file per trigger, so every micro-batch carries a slice of
    // EACH side; ≥3 non-empty batches enforced by the harness.
    "q165_stream_stream_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      drain(s, "q165", Seq(clicks -> Seq(col("c_ts"), col("click_id")),
          purchases -> Seq(col("p_ts"), col("purchase_id")))) {
        case Seq(cs, ps) => cs.withWatermark("c_ts", "720 hours")
          .join(ps.withWatermark("p_ts", "720 hours"),
            expr("c_user = p_user AND p_ts >= c_ts AND " +
              "p_ts <= c_ts + interval 1 hour"))
      }._1
        .select(col("c_user").as("user_id"), col("click_id"),
          col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // Streaming SESSIONIZATION — `session_window` as a streaming
    // aggregation: gap-based sessions built incrementally across
    // micro-batches (an open session in state MERGES with next
    // batch's events — q124's batch form recomputed per day can't
    // serve a live dashboard). Append mode emits a session only once
    // the event-time watermark passes its end (last event + gap), so
    // the drained output is the WATERMARK-CLOSED prefix — exactly
    // what the oracle reproduces closed-form: batch sessionization
    // filtered to end < max(ts) − delay. Sessions still open at
    // stream end stay in state, NOT flushed — pinned by
    // SessionWindowProbeSpec so a Spark-upgrade semantics change
    // fails the probe before the driver gate.
    "q176_streaming_sessions" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      drain(s, "q176", Seq(ev -> Seq(col("ts"), col("event_id")))) {
        case Seq(in) => in.withWatermark("ts", "1 hour")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"))
      }._1
        .orderBy("user_id", "session_start")
    },

    // LEFT-OUTER stream-stream join — q165's semantically harder
    // sibling: the null side can only emit once the watermark PROVES
    // no match can still arrive (an unmatched click null-emits when
    // the watermark passes its 1h join window; a still-open window is
    // withheld in state, not emitted as null — the correctness
    // property batch left joins get for free and streaming must earn
    // via state + time). Watermark delay = join-window length, which
    // guarantees no match is ever missed to early eviction on a
    // time-ordered replay: when a purchase arrives, the watermark
    // trails it by the full window, so its candidate clicks are still
    // buffered. The oracle reproduces the cutoff closed-form: matches
    // always; null rows only for clicks with c_ts + 1h <
    // min(max click ts, max purchase ts) − 1h (the final global
    // watermark — min across sources). Pinned by
    // SessionWindowProbeSpec's left-outer probe.
    "q177_stream_stream_left_outer" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      drain(s, "q177", Seq(clicks -> Seq(col("c_ts"), col("click_id")),
          purchases -> Seq(col("p_ts"), col("purchase_id")))) {
        case Seq(cs, ps) => cs.withWatermark("c_ts", "1 hour")
          .join(ps.withWatermark("p_ts", "1 hour"),
            expr("c_user = p_user AND p_ts >= c_ts AND " +
              "p_ts <= c_ts + interval 1 hour"), "left_outer")
      }._1
        .select(col("c_user").as("user_id"), col("click_id"),
          col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // The reference's WHOLE monitoring loop under the driver gate
    // (round-9 verdict item 7; bin/eoddrunmonitoring.py:88-89):
    // catalogue rows → keyed ingest (J6 in-batch dedup + J1
    // anti-join) → ordered two-step state machine → audit append, run
    // as MonitorLoop.tick per micro-batch across a ≥3-batch drain —
    // the composition MonitorLoopSpec pins on a hand stream, here
    // hash-gated end to end at sf scale. The drain stages a POISON
    // REPLAY: every 4th scene of the first half re-arrives in the
    // LAST batch flagged Invalid — if the ingest anti-join ever let a
    // replay through, those scenes would drop out of the step
    // work-lists and flip the rollup. Failures are deterministic
    // (PID%7 download, PID%5 ard) and retried every tick, so the
    // final catalog state is closed-form; the audit row count (2
    // steps × 3 ticks) rides as a column, so a lost append or a
    // spurious 4th tick also fails the hash.
    "q216_monitor_loop_drain" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q216", fresh = true)
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").as("PID"),
          to_date(col("o_orderdate")).as("Date_Acquired"),
          lit(false).as("Downloaded"), lit(false).as("ARDProduct"),
          lit(false).as("DCLoaded"), lit(false).as("Invalid"),
          lit(false).as("Archived"))
      // replay cutoff = first third of the PID range: originals of
      // every replayed key then sit strictly before the last slice at
      // ANY corpus size (positions <= maxPid/3 < 2(n+r)/3), while the
      // replays occupy the tail — each replay crosses >= 1 batch
      // boundary by construction (bounded-scalar action, q37's
      // watermark idiom)
      val maxPid = base.agg(max("PID")).head().getLong(0)
      val rows = base.withColumn("rev", lit(0L))
        .unionByName(base
          .filter(col("PID") <= maxPid / 3 && col("PID") % 4 === 0)
          .withColumn("Invalid", lit(true)) // the poison replay
          .withColumn("rev", lit(1L)))
      val cat = new graft.catalog.SceneCatalog(
        new graft.sources.CowTable(s"$root/scenes", s), s)
      val audit = new graft.pipeline.AuditLog(s"$root/audit", s)
      val steps = Seq(
        ModStep("download", None, "Downloaded", failMod = 7),
        ModStep("ard", Some("Downloaded"), "ARDProduct",
          failMod = 5))
      // slice order (rev, PID): all originals precede every replay,
      // and the replayed PIDs (first half) sit ≥ a full slice ahead
      // of their replays — the replay ALWAYS crosses a batch boundary
      // and must die in the anti-join, never in-batch dedup
      drainEach(s, "q216", rows,
        orderCols = Seq(col("rev"), col("PID")), batches = 3) { (b, _) =>
        if (!b.isEmpty)
          graft.streaming.MonitorLoop.tick(s, cat, b, Seq("PID"),
            newestFirst = Seq(col("rev").desc), steps = steps,
            parallelism = 8, audit = Some(audit))
      }
      val auditRows = audit.entries().count()
      cat.scenes
        .groupBy("Downloaded", "ARDProduct")
        .agg(count(lit(1)).as("n"),
          sum(when(col("Invalid"), 1L).otherwise(0L)).as("n_invalid"),
          min("PID").as("min_pid"), max("PID").as("max_pid"))
        .withColumn("audit_rows", lit(auditRows))
        .orderBy("Downloaded", "ARDProduct")
        .transform(Staging(_))
    },

    // Watermark LATE-DATA DROP semantics — the one streaming contract
    // every other gate deliberately avoids (their slices arrive in
    // event-time order or with lateness beyond the data span, so
    // nothing is ever late). Here arrival order is an md5 shuffle of
    // the corpus: after the first micro-batch the watermark jumps to
    // (global max ts − 1 h), so most rows of batches 2-3 arrive LATE
    // for their daily window and Spark must drop them from state, and
    // the final day's window (end past the last watermark) must stay
    // unemitted in append mode. The gate hashes exactly what the sink
    // saw; the oracle replays the micro-batch watermark protocol
    // closed-form (per-slice max ts, watermark before batch b = max
    // of earlier slices − delay, drop late rows, emit windows closed
    // by the FINAL watermark — the q176 emission predicate, now with
    // the drop side exercised too).
    "q260_streaming_late_drop" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("arr",
          conv(substring(md5(concat_ws(":", lit("arr"),
            col("event_id"))), 1, 15), 16, 10).cast("long"))
      drain(s, "q260", Seq(ev -> Seq(col("arr"), col("event_id")))) {
        case Seq(in) => in.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd")
            .as("day"), col("event_type"), col("n"))
      }._1
        .orderBy("day", "event_type")
    },

    // BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark,
    // Spark 3.5+) — the production form of q94/q99's dropDuplicates,
    // whose state never expires and therefore grows with every key
    // ever seen; here state for a key is held only until the
    // watermark passes its event time + delay, which is what makes
    // dedup FEASIBLE on an unbounded 100 TB/day stream. The dedup key
    // includes the hour-floored event time itself, so every duplicate
    // of a key carries an IDENTICAL watermark column — the
    // within-batch "which duplicate is stored" choice can't leak into
    // state expiry (the determinism contract). Arrival is the q260
    // md5 shuffle, so late keys exist and must be dropped outright.
    "q265_streaming_dedup_watermark" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("hour", col("ts")).as("hts"),
          col("event_id"))
        .withColumn("arr",
          conv(substring(md5(concat_ws(":", lit("ddw"),
            col("event_id"))), 1, 15), 16, 10).cast("long"))
      drain(s, "q265", Seq(ev -> Seq(col("arr"), col("event_id")))) {
        case Seq(in) => in.withWatermark("hts", "2 hours")
          .dropDuplicatesWithinWatermark("user_id", "hts")
          .select(col("user_id"),
            date_format(col("hts"), "yyyy-MM-dd-HH").as("hr"))
      }._1
        .orderBy("user_id", "hr")
    },

    // EXACTLY-ONCE foreachBatch sink — the idempotence recipe that
    // turns Spark's at-least-once batch replay into exactly-once
    // storage: every commit carries its batchId as a LEDGER row in
    // the same atomic CowTable append (one pointer flip covers data +
    // ledger — a crash can't persist one without the other), and a
    // tick whose batchId is already in the ledger is a no-op. The
    // gate drains 3 micro-batches, then REPLAYS batch 1 by hand (the
    // at-least-once scenario a checkpoint-recovery run produces —
    // with a deliberately DIFFERENT payload, which exactly-once must
    // ignore because the id, not the payload, is the identity), then
    // applies a genuinely new id; final state pins data rows, ledger
    // count (0,1,2 from the drain + the new id = 4), and that the
    // replay changed nothing.
    // q266's exactly-once recipe on the PARTITIONED lakehouse table —
    // the shape a production streaming ingest actually runs: each
    // micro-batch appends its rows PLUS its batchId ledger row in ONE
    // atomic PartitionedCowTable commit (one pointer flip covers data
    // + ledger), only the landed months rewrite (append carries
    // untouched partitions by reference), and the append path's
    // narrow-read scope means a concurrent maintenance commit on
    // other months REBASES rather than failing the stream. Replay of
    // an applied batchId (with a deliberately different payload) is a
    // no-op; a new id applies. The gate pins rows, cents, distinct
    // landed months, ledger count, replay no-op, and the commit count
    // (one version per applied batch — ledger rides free).
    "q287_partitioned_stream_sink" -> { (s, dir) =>
      import s.implicits._
      val root = Tables.scratchDir(s, "q287", fresh = true)
      val sink = new graft.sources.PartitionedCowTable(
        s"$root/sink", "month", s)
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(lit("d").as("kind"), lit(-1L).as("bid"),
          col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM")
            .as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      def tick(df: DataFrame, bid: Long): Unit = {
        val applied = sink.exists && !sink.read()
          .filter(col("kind") === "b" && col("bid") === bid).isEmpty
        if (!applied) {
          val data = df.withColumn("bid", lit(bid))
          val ledger = Seq(("b", bid, -1L, "9999-99", 0L))
            .toDF("kind", "bid", "PID", "month", "cents")
          sink.append(data.unionByName(ledger)) // ONE atomic commit
        }
      }
      drainEach(s, "q287", base,
        orderCols = Seq(col("PID")), batches = 3) { (df, bid) =>
        if (!df.isEmpty) tick(df, bid)
      }
      val before = sink.read().count()
      tick(base.limit(50).withColumn("cents", lit(0L)), 1L) // replay
      val replaySkipped = if (sink.read().count() == before) 1L else 0L
      tick(base.filter(col("PID") % 10 === 0)
        .withColumn("PID", col("PID") + 100000L), 100L) // new id
      sink.read().filter(col("kind") === "d")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
          countDistinct("month").as("n_months"))
        .withColumn("n_batches_applied",
          lit(sink.read().filter(col("kind") === "b").count()))
        .withColumn("replay_skipped", lit(replaySkipped))
        .withColumn("n_commits", lit(sink.version.toLong + 1L))
        .transform(Staging(_))
    },

    // END-TO-END incremental pipeline: q287's exactly-once partitioned
    // stream sink DRIVING q286's incremental rollup — after each
    // micro-batch commits, the per-month summary refreshes from the
    // manifest diff, re-aggregating ONLY the months that batch landed
    // in. The gate pins the final summary (equal to a full rollup of
    // everything ingested) AND the cumulative refresh ledger — the
    // sum over batches of months-recomputed, reproduced closed-form
    // from the deterministic PID slicing — so the 100 TB claim
    // ("analytics stay fresh at cost O(landed partitions), not
    // O(table)") is the measured, gated quantity.
    "q288_streaming_rollup_maintenance" -> { (s, dir) =>
      import s.implicits._
      val root = Tables.scratchDir(s, "q288", fresh = true)
      val sink = new graft.sources.PartitionedCowTable(
        s"$root/sink", "month", s)
      val ru = new graft.sources.IncrementalRollup(sink, s"$root/sum",
        Seq("month"), Seq("n" -> count(lit(1)),
          "cents" -> sum(col("cents"))))(s)
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM")
            .as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      var recomputedTotal = 0L
      drainEach(s, "q288", base,
        orderCols = Seq(col("PID")), batches = 3) { (df, bid) =>
        if (!df.isEmpty) {
          sink.append(df)
          val (_, rec, _, _) = ru.refresh()
          recomputedTotal += rec
        }
      }
      ru.summary.read()
        .agg(count(lit(1)).as("n_months"), sum("n").as("n_rows"),
          sum("cents").as("sum_cents"))
        .withColumn("recomputed_total", lit(recomputedTotal))
        .transform(Staging(_))
    },

    "q266_exactly_once_sink" -> { (s, dir) =>
      import s.implicits._
      val root = Tables.scratchDir(s, "q266", fresh = true)
      val sink = new graft.sources.CowTable(s"$root/sink", s)
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").as("PID"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      def tick(df: DataFrame, bid: Long): Unit = {
        val applied = sink.exists && !sink.read()
          .filter(col("kind") === "b" && col("bid") === bid).isEmpty
        if (!applied) {
          val data = df.select(lit("d").as("kind"), lit(bid).as("bid"),
            col("PID"), col("cents"))
          val ledger = Seq(("b", bid, -1L, 0L))
            .toDF("kind", "bid", "PID", "cents")
          sink.append(data.unionByName(ledger)) // ONE atomic commit
        }
      }
      drainEach(s, "q266", base,
        orderCols = Seq(col("PID")), batches = 3) { (df, bid) =>
        if (!df.isEmpty) tick(df, bid)
      }
      val before = sink.read().count()
      tick(base.limit(50), 1L) // at-least-once replay: must skip
      val replaySkipped = if (sink.read().count() == before) 1L else 0L
      tick(base.filter(col("PID") % 10 === 0)
        .withColumn("PID", col("PID") + 100000L), 100L) // new id applies
      sink.read().filter(col("kind") === "d")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .withColumn("n_batches_applied",
          lit(sink.read().filter(col("kind") === "b").count()))
        .withColumn("replay_skipped", lit(replaySkipped))
        .transform(Staging(_))
    },

    // FULL-OUTER stream-stream join — the last join mode (q165 inner,
    // q177 left-outer): BOTH sides null-emit under watermark proof,
    // which exercises eviction on BOTH state stores. An unmatched
    // click null-emits once the watermark passes its 1h join window
    // (the q177 cutoff); an unmatched purchase null-emits once the
    // watermark passes its own event time (a purchase can only match
    // clicks at or before it, so wm > p_ts proves no future click
    // pairs). The oracle reproduces both cutoffs closed-form from the
    // final global watermark = min(max c_ts, max p_ts) − 1h. Pinned by
    // SessionWindowProbeSpec's full-outer probe on hand data.
    "q277_stream_stream_full_outer" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      drain(s, "q277", Seq(clicks -> Seq(col("c_ts"), col("click_id")),
          purchases -> Seq(col("p_ts"), col("purchase_id")))) {
        case Seq(cs, ps) => cs.withWatermark("c_ts", "1 hour")
          .join(ps.withWatermark("p_ts", "1 hour"),
            expr("c_user = p_user AND p_ts >= c_ts AND " +
              "p_ts <= c_ts + interval 1 hour"), "full_outer")
      }._1
        // null sides surface as -1: the ids are positive, and a
        // sentinel keeps the gate's sort/hash total (mixed null/value
        // columns have engine-specific orderings)
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // STATE-STORE METRICS contrast — the observable that PROVES the
    // bounded-state claim q265 argues in prose: the same shuffled
    // event stream drained twice over 5 micro-batches, once through
    // plain dropDuplicates (state never expires — numRowsTotal grows
    // with every key ever seen; at 100 TB/day this OOMs) and once
    // through dropDuplicatesWithinWatermark (watermark evicts expired
    // keys — the curve flattens). The gate emits BOTH per-batch state
    // curves from StreamingQueryProgress.stateOperators; the oracle
    // reproduces them closed-form from the micro-batch watermark
    // protocol (q260/q265's empirically-pinned model).
    "q278_state_metrics_bounded" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("hour", col("ts")).as("hts"),
          col("event_id"))
        .withColumn("arr",
          conv(substring(md5(concat_ws(":", lit("smb"),
            col("event_id"))), 1, 15), 16, 10).cast("long"))
      val b = 5
      val ord = Seq(col("arr"), col("event_id"))
      val unbounded = drain(s, "q278", Seq(ev -> ord), batches = b) {
        case Seq(in) => in.dropDuplicates("user_id", "hts")
          .select(col("user_id"), col("hts"))
      }._2.map(stateRows)
      val bounded = drain(s, "q278", Seq(ev -> ord), batches = b) {
        case Seq(in) => in.withWatermark("hts", "2 hours")
          .dropDuplicatesWithinWatermark("user_id", "hts")
          .select(col("user_id"), col("hts"))
      }._2.map(stateRows)
      unbounded.take(b).zip(bounded.take(b)).zipWithIndex
        .map { case ((u, w), i) => (i.toLong, u, w) }
        .toDF("batch", "unbounded_state_rows", "bounded_state_rows")
        .orderBy("batch")
    },

    // STATE-EVICTION curve for the stream-stream JOIN family — q278's
    // metrics device applied to q277's shape: the symmetric-hash-join
    // state operator's per-batch numRowsTotal must RISE while both
    // sides buffer their interval windows and FALL as the watermark
    // closes them, or join state grows with the stream. The oracle
    // reproduces the whole curve closed-form from the pinned protocol
    // (eviction in batch b uses the watermark derived from slices < b
    // on both sides, min across sides; a left row survives while its
    // 1h match window is still open — c_ts + 1h >= W — and a right
    // row while future clicks could still pair it — p_ts >= W; the
    // model is pinned on hand data by SessionWindowProbeSpec's curve
    // probe). Subset keyed (user_id % 3) to keep the gate a curve
    // measurement, not a second q277-sized drain.
    "q283_join_state_eviction" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").filter(col("user_id") % 3 === 0)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      val b = 4
      val curve = drain(s, "q283",
          Seq(clicks -> Seq(col("c_ts"), col("click_id")),
            purchases -> Seq(col("p_ts"), col("purchase_id"))),
          batches = b) {
        case Seq(cs, ps) => cs.withWatermark("c_ts", "1 hour")
          .join(ps.withWatermark("p_ts", "1 hour"),
            expr("c_user = p_user AND p_ts >= c_ts AND " +
              "p_ts <= c_ts + interval 1 hour"), "full_outer")
      }._2.map(stateRows)
      curve.take(b).zipWithIndex
        .map { case (n, i) => (i.toLong, n) }
        .toDF("batch", "state_rows")
        .orderBy("batch")
    }
  )

  val oracleSql: Map[String, String] = Map(

    // the loop's closed-form end state: deterministic step outcomes,
    // zero surviving replays, 2 steps × 3 ticks of audit rows
    "q216_monitor_loop_drain" ->
      """WITH t AS (
        |  SELECT o_orderkey AS PID FROM orders WHERE o_orderkey <= 300),
        |f AS (
        |  SELECT PID, PID % 7 <> 0 AS Downloaded,
        |    PID % 7 <> 0 AND PID % 5 <> 0 AS ARDProduct
        |  FROM t)
        |SELECT Downloaded, ARDProduct, count(*) AS n,
        |  CAST(0 AS BIGINT) AS n_invalid,
        |  min(PID) AS min_pid, max(PID) AS max_pid,
        |  CAST(6 AS BIGINT) AS audit_rows
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the micro-batch watermark protocol replayed closed-form,
    // empirically pinned against Spark 4.1.2 under AvailableNow +
    // maxFilesPerTrigger=1: the watermark in force while batch b
    // processes derives from slices < b−1 (one batch LATER than the
    // naive "data through batch b−1" reading — the offset-log
    // metadata carries the previous batch's pre-update value), late
    // rows drop when their window end is not past that watermark, and
    // a window emits iff its end < the final watermark (the q176
    // emission predicate). Boundary coincidences (window end exactly
    // equal to a watermark) cannot occur with this data's
    // microsecond timestamps.
    "q260_streaming_late_drop" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type, ts,
        |    ('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)),
        |      1, 15))::BIGINT AS arr,
        |    event_id
        |  FROM events),
        |sl AS MATERIALIZED (
        |  SELECT event_type, ts, date_trunc('day', ts) AS ws,
        |    date_trunc('day', ts) + INTERVAL 1 DAY AS we,
        |    ntile(3) OVER (ORDER BY arr, event_id) AS b
        |  FROM ev),
        |mx AS (SELECT b, max(ts) AS mts FROM sl GROUP BY b),
        |wm AS (
        |  SELECT m.b, (SELECT max(mts) FROM mx m2 WHERE m2.b < m.b - 1)
        |    - INTERVAL 1 HOUR AS wmb
        |  FROM mx m),
        |fin AS (SELECT max(ts) - INTERVAL 1 HOUR AS fw FROM ev),
        |surv AS (
        |  SELECT sl.ws, sl.we, sl.event_type
        |  FROM sl JOIN wm ON wm.b = sl.b
        |  WHERE wm.wmb IS NULL OR sl.we > wm.wmb)
        |SELECT strftime(ws, '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n
        |FROM surv, fin WHERE we < fw
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the q260 watermark protocol (lag-1, empirically pinned) with
    // the dedup operator's row rule: a row is kept iff its event time
    // is STRICTLY above the in-force watermark (this data exercises
    // the boundary — hour-floored event times land exactly on
    // watermark values, and the non-strict variant differs by 5 rows
    // at sf0.01), each key admitted once at its first non-late batch;
    // state expiry and the late filter share the ts+delay boundary,
    // so readmission never occurs
    "q265_streaming_dedup_watermark" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, date_trunc('hour', ts) AS hts, event_id,
        |    ('0x' || substr(md5('ddw:' || CAST(event_id AS VARCHAR)),
        |      1, 15))::BIGINT AS arr
        |  FROM events),
        |sl AS MATERIALIZED (
        |  SELECT user_id, hts,
        |    ntile(3) OVER (ORDER BY arr, event_id) AS b
        |  FROM ev),
        |mx AS (SELECT b, max(hts) AS mts FROM sl GROUP BY b),
        |wm AS (
        |  SELECT m.b, (SELECT max(mts) FROM mx m2 WHERE m2.b < m.b - 1)
        |    - INTERVAL 2 HOUR AS wmb
        |  FROM mx m),
        |nonlate AS (
        |  SELECT sl.user_id, sl.hts
        |  FROM sl JOIN wm ON wm.b = sl.b
        |  WHERE wm.wmb IS NULL OR sl.hts > wm.wmb
        |  GROUP BY sl.user_id, sl.hts)
        |SELECT user_id, strftime(hts, '%Y-%m-%d-%H') AS hr
        |FROM nonlate ORDER BY user_id, hr""".stripMargin,

    // exactly-once end state closed-form: every base row once (the
    // replay is a no-op), plus the new batch's shifted rows; 4 ledger
    // entries
    // the final summary from a full rollup of everything ingested;
    // recomputed_total = Σ over batches of distinct months in that
    // batch's PID slice (the deterministic ntile staging), because a
    // refresh re-aggregates exactly the months its batch landed in
    "q288_streaming_rollup_maintenance" ->
      """WITH b AS MATERIALIZED (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    ntile(3) OVER (ORDER BY o_orderkey) AS bt
        |  FROM orders WHERE o_orderkey <= 300),
        |agg AS (
        |  SELECT month, count(*) AS n, sum(cents) AS c
        |  FROM b GROUP BY month),
        |rec AS (
        |  SELECT CAST(sum(nm) AS BIGINT) AS rt FROM (
        |    SELECT bt, count(DISTINCT month) AS nm FROM b GROUP BY bt))
        |SELECT CAST(count(*) AS BIGINT) AS n_months,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cents,
        |  rec.rt AS recomputed_total
        |FROM agg, rec GROUP BY rec.rt""".stripMargin,

    // q266's closed form plus the partition dimension: distinct landed
    // months from the data, one commit per applied batch
    "q287_partitioned_stream_sink" ->
      """WITH b AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey <= 300),
        |x AS (SELECT PID + 100000 AS PID, month, cents FROM b
        |      WHERE PID % 10 = 0),
        |a AS (SELECT * FROM b UNION ALL SELECT * FROM x)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(DISTINCT month) AS BIGINT) AS n_months,
        |  CAST(4 AS BIGINT) AS n_batches_applied,
        |  CAST(1 AS BIGINT) AS replay_skipped,
        |  CAST(4 AS BIGINT) AS n_commits
        |FROM a""".stripMargin,

    "q266_exactly_once_sink" ->
      """WITH b AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey <= 300),
        |x AS (SELECT PID + 100000 AS PID, cents FROM b
        |      WHERE PID % 10 = 0),
        |a AS (SELECT * FROM b UNION ALL SELECT * FROM x)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT)
        |    AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_batches_applied,
        |  CAST(1 AS BIGINT) AS replay_skipped
        |FROM a""".stripMargin,

    // q137's oracle verbatim: the streamed sketch must answer point
    // queries identically to the batch build
    "q150_multibatch_cms" ->
      """WITH ev AS (SELECT user_id FROM events),
        |cells AS (
        |  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |      CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS c,
        |    count(*) AS cnt
        |  FROM ev, UNNEST(range(0, 4)) AS t(r)
        |  GROUP BY r, c),
        |exact AS (
        |  SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id),
        |probes AS (
        |  SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT 10),
        |pc AS (
        |  SELECT p.user_id, p.exact_n, t.r,
        |    ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
        |      CAST(p.user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS c
        |  FROM probes p, UNNEST(range(0, 4)) AS t(r))
        |SELECT pc.user_id, pc.exact_n, min(cells.cnt) AS cms_est,
        |  min(cells.cnt) - pc.exact_n AS overest
        |FROM pc JOIN cells ON cells.r = pc.r AND cells.c = pc.c
        |GROUP BY pc.user_id, pc.exact_n
        |ORDER BY exact_n DESC, user_id""".stripMargin,

    // batch sessionization filtered to the watermark-closed prefix
    // (end < max ts − delay); new session at gap ≥ 30min because the
    // session window is [start, last + gap) — an event AT the bound
    // starts a new one
    "q176_streaming_sessions" ->
      """WITH e AS (SELECT user_id, ts FROM events),
        |mx AS (SELECT max(ts) AS mts FROM e),
        |l AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    count(*) AS n_events
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events
        |FROM sess, mx WHERE session_end < mts - INTERVAL 1 HOUR
        |ORDER BY user_id, session_start""".stripMargin,

    // matches always; null rows exactly for unmatched clicks whose
    // window closed under the final global watermark (min across
    // sources − delay)
    "q177_stream_stream_left_outer" ->
      """WITH c AS (
        |  SELECT user_id, ts AS c_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(c_ts) FROM c),
        |               (SELECT max(p_ts) FROM p))
        |    - INTERVAL 1 HOUR AS w),
        |m AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR),
        |unm AS (
        |  SELECT c.user_id, c.click_id, NULL::BIGINT AS purchase_id
        |  FROM c, wm
        |  WHERE c.c_ts + INTERVAL 1 HOUR < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = c.user_id
        |    AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR))
        |SELECT user_id, click_id, purchase_id FROM m
        |UNION ALL SELECT user_id, click_id, purchase_id FROM unm
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,

    // both state curves derived from the micro-batch watermark
    // protocol, empirically pinned against Spark 4.1.2 (the q260/q265
    // method): unbounded dedup state = cumulative distinct keys
    // first-seen through batch b; bounded state = first-seen NON-LATE
    // keys (late under the in-force watermark, slices < b-1) still
    // unexpired at batch b's END-OF-BATCH watermark (slices < b,
    // minus the 2h delay) — an entry survives while hts + delay >
    // that watermark, strictly (boundary ties occur at whole hours
    // and Spark holds the strict side)
    "q278_state_metrics_bounded" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, date_trunc('hour', ts) AS hts, event_id,
        |    ('0x' || substr(md5('smb:' || CAST(event_id AS VARCHAR)),
        |      1, 15))::BIGINT AS arr
        |  FROM events),
        |sl AS MATERIALIZED (
        |  SELECT user_id, hts,
        |    ntile(5) OVER (ORDER BY arr, event_id) AS b
        |  FROM ev),
        |mx AS (SELECT b, max(hts) AS mts FROM sl GROUP BY b),
        |wmin AS (
        |  SELECT m.b, (SELECT max(mts) FROM mx m2 WHERE m2.b < m.b - 1)
        |    - INTERVAL 2 HOUR AS w
        |  FROM mx m),
        |wev AS (
        |  SELECT m.b, (SELECT max(mts) FROM mx m2 WHERE m2.b < m.b)
        |    - INTERVAL 2 HOUR AS w
        |  FROM mx m),
        |f AS (SELECT user_id, hts, min(b) AS fb FROM sl GROUP BY 1, 2),
        |nonlate AS (
        |  SELECT sl.user_id, sl.hts, min(sl.b) AS firstb
        |  FROM sl JOIN wmin ON wmin.b = sl.b
        |  WHERE wmin.w IS NULL OR sl.hts > wmin.w
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT m.b, count(*) AS un FROM mx m
        |  JOIN f ON f.fb <= m.b GROUP BY m.b),
        |wc AS (
        |  SELECT we.b, count(*) AS wn FROM wev we
        |  JOIN nonlate nl ON nl.firstb <= we.b
        |    AND (we.w IS NULL OR nl.hts + INTERVAL 2 HOUR > we.w)
        |  GROUP BY we.b)
        |SELECT CAST(u.b - 1 AS BIGINT) AS batch,
        |  u.un AS unbounded_state_rows,
        |  wc.wn AS bounded_state_rows
        |FROM u JOIN wc ON u.b = wc.b ORDER BY batch""".stripMargin,

    // the join-state eviction curve replayed closed-form: batch b's
    // eviction watermark derives from slices < b on both sides (min
    // across sides, each minus its 1h delay — the q278 protocol); a
    // click survives while its 1h match window is open, a purchase
    // while future clicks could still pair it. Pinned on hand data by
    // SessionWindowProbeSpec's curve probe.
    "q283_join_state_eviction" ->
      """WITH c AS MATERIALIZED (
        |  SELECT ts AS c_ts, event_id AS click_id FROM events
        |  WHERE event_type = 'click' AND user_id % 3 = 0),
        |p AS MATERIALIZED (
        |  SELECT ts AS p_ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase' AND user_id % 3 = 0),
        |sc AS MATERIALIZED (
        |  SELECT c_ts, ntile(4) OVER (ORDER BY c_ts, click_id) AS b
        |  FROM c),
        |sp AS MATERIALIZED (
        |  SELECT p_ts, ntile(4) OVER (ORDER BY p_ts, purchase_id) AS b
        |  FROM p),
        |mxc AS (SELECT b, max(c_ts) AS m FROM sc GROUP BY b),
        |mxp AS (SELECT b, max(p_ts) AS m FROM sp GROUP BY b),
        |w AS (
        |  SELECT m.b,
        |    least((SELECT max(m2.m) FROM mxc m2 WHERE m2.b < m.b),
        |          (SELECT max(m3.m) FROM mxp m3 WHERE m3.b < m.b))
        |      - INTERVAL 1 HOUR AS w
        |  FROM mxc m)
        |SELECT CAST(w.b - 1 AS BIGINT) AS batch,
        |  (SELECT count(*) FROM sc WHERE sc.b <= w.b
        |     AND (w.w IS NULL OR sc.c_ts + INTERVAL 1 HOUR >= w.w))
        |  + (SELECT count(*) FROM sp WHERE sp.b <= w.b
        |     AND (w.w IS NULL OR sp.p_ts >= w.w)) AS state_rows
        |FROM w ORDER BY batch""".stripMargin,

    // q177's cutoff model extended symmetrically: matches always;
    // null-purchase rows for clicks whose 1h window closed under the
    // final watermark; null-click rows for purchases the watermark
    // passed (a purchase only matches clicks at or before it)
    "q277_stream_stream_full_outer" ->
      """WITH c AS (
        |  SELECT user_id, ts AS c_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(c_ts) FROM c),
        |               (SELECT max(p_ts) FROM p))
        |    - INTERVAL 1 HOUR AS w),
        |m AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR),
        |unc AS (
        |  SELECT c.user_id, c.click_id, CAST(-1 AS BIGINT) AS purchase_id
        |  FROM c, wm
        |  WHERE c.c_ts + INTERVAL 1 HOUR < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = c.user_id
        |    AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)),
        |unp AS (
        |  SELECT p.user_id, CAST(-1 AS BIGINT) AS click_id, p.purchase_id
        |  FROM p, wm
        |  WHERE p.p_ts < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR))
        |SELECT user_id, click_id, purchase_id FROM m
        |UNION ALL SELECT user_id, click_id, purchase_id FROM unc
        |UNION ALL SELECT user_id, click_id, purchase_id FROM unp
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,

    // the batch interval join the drained stream must reproduce
    // row-for-row (nothing evicted under the corpus-spanning
    // watermark)
    "q165_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id,
        |  p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,

    // identical shape to q62's oracle (DuckDB's native ASOF JOIN — an
    // independent implementation of the as-of contract)
    "q91_streaming_asof" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS t,
        |         max(o_orderkey) AS as_of_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.as_of_orderkey,
        |       CAST(o.t AS DATE) AS as_of_date
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.t
        |ORDER BY e.event_id""".stripMargin,

    "q92_streaming_state_machine" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderdate::TIMESTAMP AS t0
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ev AS (
        |  SELECT 'S' || k AS scene_id, 'download' AS step, t0 AS ts
        |  FROM base
        |  UNION ALL
        |  SELECT 'S' || k, 'ard', t0 + INTERVAL 1 DAY FROM base
        |  WHERE (k / 10)::BIGINT % 2 = 0
        |  UNION ALL
        |  SELECT 'S' || k, 'dcload', t0 + INTERVAL 2 DAY FROM base
        |  WHERE (k / 10)::BIGINT % 4 = 0)
        |SELECT scene_id,
        |  bool_or(step = 'download') AS downloaded,
        |  bool_or(step = 'ard') AS ard,
        |  bool_or(step = 'dcload') AS dcloaded,
        |  max(ts) AS last_ts,
        |  CAST(count(*) AS INT) AS n_events
        |FROM ev GROUP BY scene_id ORDER BY scene_id""".stripMargin,

    "q94_streaming_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
        |ORDER BY content_hash""".stripMargin,

    "q95_streaming_rollup" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS obs_date,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY obs_date, event_type
        |ORDER BY obs_date, event_type""".stripMargin,

    // the cross-batch rows state BATCH semantics — the same oracles as
    // their single-batch twins; the multi-batch drain must reproduce
    // them exactly for the state-survival contract to hold
    "q97_multibatch_state_machine" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderdate::TIMESTAMP AS t0
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ev AS (
        |  SELECT 'S' || k AS scene_id, 'download' AS step, t0 AS ts
        |  FROM base
        |  UNION ALL
        |  SELECT 'S' || k, 'ard', t0 + INTERVAL 1 DAY FROM base
        |  WHERE (k / 10)::BIGINT % 2 = 0
        |  UNION ALL
        |  SELECT 'S' || k, 'dcload', t0 + INTERVAL 2 DAY FROM base
        |  WHERE (k / 10)::BIGINT % 4 = 0)
        |SELECT scene_id,
        |  bool_or(step = 'download') AS downloaded,
        |  bool_or(step = 'ard') AS ard,
        |  bool_or(step = 'dcload') AS dcloaded,
        |  max(ts) AS last_ts,
        |  CAST(count(*) AS INT) AS n_events
        |FROM ev GROUP BY scene_id ORDER BY scene_id""".stripMargin,

    "q98_multibatch_asof" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS t,
        |         max(o_orderkey) AS as_of_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.as_of_orderkey,
        |       CAST(o.t AS DATE) AS as_of_date
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.t
        |ORDER BY e.event_id""".stripMargin,

    "q99_multibatch_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
        |ORDER BY content_hash""".stripMargin,

    // q197's SQL restricted to CLOSED intervals — the stream's
    // append-only output must equal the batch build minus the open
    // tail
    "q208_multibatch_scd2" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT
        |        FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |i AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts,
        |      event_id) AS BIGINT) AS island, ts
        |  FROM c),
        |iv AS (
        |  SELECT user_id, island, min(event_type) AS status,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM i GROUP BY user_id, island),
        |full_iv AS (
        |  SELECT user_id, status, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
        |      AS valid_to, n_events
        |  FROM iv)
        |SELECT user_id, status, valid_from, valid_to, n_events
        |FROM full_iv WHERE valid_to IS NOT NULL
        |ORDER BY user_id, valid_from""".stripMargin,

    // q105's oracle verbatim: the streamed probe must equal the batch
    // incremental near-dup answer
    "q114_streaming_neardup_probe" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(string_split(trim(lower(text)), ' ')) AS ws
        |  FROM documents),
        |corpus_sets AS (
        |  SELECT ws, min(doc_id) AS osid FROM d
        |  WHERE doc_id % 10 <> 0 GROUP BY ws),
        |pairs AS (
        |  SELECT n.doc_id, o.osid,
        |    len(list_intersect(n.ws, o.ws))::DOUBLE /
        |      len(list_distinct(list_concat(n.ws, o.ws))) AS jac
        |  FROM d n, corpus_sets o
        |  WHERE n.doc_id % 10 = 0),
        |best AS (
        |  SELECT doc_id, osid, jac,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jac DESC, osid) AS rn
        |  FROM pairs WHERE jac >= 0.9)
        |SELECT doc_id, osid AS match_id, round(jac, 6) AS jac
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // the batch statement of "latest event per user" (q06's oracle):
    // 3 micro-batch upserts into the CoW table must land exactly here
    "q126_streaming_cow_upsert" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts::TIMESTAMP DESC, event_id DESC)
        |      AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin
  )
}
