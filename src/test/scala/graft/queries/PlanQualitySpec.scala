package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape regression guards: the properties that make these
  * queries scale (pushdown, pruning, broadcast) must survive
  * refactors. Asserting on the formatted physical plan of the actual
  * driver-checked queries at sf0.001.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q02 work-list: filters pushed to the parquet scan") {
    val p = plan("q02_work_list")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // column pruning: only the needed columns are read
    assert(p.contains("o_orderkey") && !p.contains("o_orderpriority"), p)
  }

  test("q03 revenue join: dimension side broadcast, fact scan pruned") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"), p)
  }

  test("q01 agg: partial aggregation before the exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means map-side combine happens
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q07 pagination: global limit planned, not a full materialize") {
    val p = plan("q07_pagination")
    assert(p.contains("GlobalLimit") || p.contains("TakeOrdered"), p)
  }

  test("q33 knn: broadcast of the query vector, single scan") {
    val p = plan("q33_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p)
  }

  // Scale-INVARIANT properties only: at production scale the verify
  // join-backs legitimately become shuffle joins, so asserting
  // all-broadcast/≤2-exchanges would forbid the correct big-data plan.
  // What must hold at ANY scale: pairs-first ordering (the pair dedup
  // shuffles longs, never token arrays) and no cartesian product.
  test("q30 LSH: pairs-first — no token arrays through shuffles, no cartesian") {
    val p = plan("q30_minhash_lsh_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // token-set columns under any name/alias (ws, ws_a, ws_b)
    val tokenCol = "\\bws(_a|_b)?#".r
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    // the band-join stage (blocks keyed by band/bucket) and the
    // pair-dedup aggregate must carry longs only — THE scale
    // invariant; the verify join-backs moving token arrays is the
    // normal shuffle-join behavior at scale and is not forbidden
    val bandStage = blocks.filter(b =>
      (b.startsWith("Exchange") || b.startsWith("HashAggregate")) &&
        b.contains("band") && b.contains("bucket"))
    assert(bandStage.nonEmpty, p)
    bandStage.foreach(b => assert(tokenCol.findFirstIn(b).isEmpty, b))
    // pair dedup runs on distinct-set ids (sid_a/sid_b) since the
    // exact-dedup-first rewrite; doc_a/doc_b only appear in the final
    // fan-out — either way the aggregate must carry longs only
    val dedups = blocks.filter(b => b.startsWith("HashAggregate") &&
      ((b.contains("sid_a") && b.contains("sid_b")) ||
        (b.contains("doc_a") && b.contains("doc_b"))))
    assert(dedups.nonEmpty, p)
    dedups.foreach(b => assert(tokenCol.findFirstIn(b).isEmpty, b))
  }

  // The blocked embedding-dedup pin (round-5 verdict item 1): the pair
  // stage must be keyed on the IVF cell, never a label-wide self-join
  // — a join whose entire key list is the label column is the
  // quadratic-per-label all-pairs node the rewrite removed.
  test("q59 embedding dedup: pair join keyed on cells, not label-wide") {
    val p = plan("q59_embedding_dedup_groups")
    assert(!p.contains("CartesianProduct"), p)
    val labelOnlyKeys = "(?m)^(Left|Right) keys \\[1\\]: \\[label#\\d+\\]".r
    assert(labelOnlyKeys.findFirstIn(p).isEmpty,
      "found a label-only join key list:\n" + p)
  }

  // q73's round-6 rework: the block-token (prefix-filter) join must
  // carry (sid, size) longs only — a token ARRAY in any tok-keyed
  // stage reintroduces the skew-riding array traffic the rework
  // removed (same invariant as the q30 pin, for the containment path).
  test("q73 containment: no token arrays through the tok-keyed stages") {
    val p = plan("q73_subset_containment")
    assert(!p.contains("CartesianProduct"), p)
    val wsCol = "\\bws(_a|_b)?#".r
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val tokStages = blocks.filter(b =>
      (b.startsWith("Exchange") || b.startsWith("HashAggregate") ||
        b.startsWith("SortAggregate") || b.startsWith("ObjectHashAggregate")) &&
        b.contains("tok#"))
    assert(tokStages.nonEmpty, p)
    tokStages.foreach(b => assert(wsCol.findFirstIn(b).isEmpty,
      "token array rides a tok-keyed stage:\n" + b))
  }

  // The typed-Aggregator sketch must partial-aggregate: a k-entry
  // state per partition crossing the shuffle is the whole point — a
  // single-stage plan would shuffle every token.
  test("q93 heavy hitters: sketch aggregates partially before the exchange") {
    val p = plan("q93_heavy_hitters")
    val aggs = "(?m)^\\s*\\(\\d+\\) (ObjectHashAggregate|SortAggregate|HashAggregate)".r
      .findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  // The 100 TB read-path claims, asserted at the I/O layer (which
  // FILES the scan lists), not just on results: a date-range scan over
  // a date-partitioned PartitionedCowTable must touch only the
  // manifest-pruned partition dirs, and a CDC read must touch only the
  // partitions the new version rewrote.
  test("q52 ROI LUT: the tiny ROI side broadcasts, collect_set pre-aggregates") {
    val p = plan("q52_roi_tile_lut")
    // the LUT/scene side must never shuffle for the join itself — the
    // ROI layer (a handful of polygons) is the broadcast side
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // per-ROI collect_set partial-aggregates before the 1-row-per-ROI
    // exchange (ObjectHashAggregate pair)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q54 multimodal: single scan, no shuffle before the feature map") {
    val p = plan("q54_media_features")
    // one documents scan, the mapPartitions codec pass, and only the
    // final orderBy exchange — a shuffle before the codec would move
    // payload bytes for nothing (formatted mode prints each scan once
    // in the tree and once in the detail section, so count locations)
    assert("Location: InMemoryFileIndex".r.findAllIn(p).length == 1, p)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected only the sort exchange(s), got $exchanges:\n$p")
  }

  test("storage I/O shape: pruned date scan and CDC list only their dirs") {
    import java.sql.{Date, Timestamp}
    import graft.catalog.SceneCatalog
    import graft.model.Scene
    import graft.sources.PartitionedCowTable
    def scene(pid: Long, date: String): Scene =
      Scene(pid, s"S$pid", s"P$pid", "LANDSAT_8",
        Timestamp.valueOf(date + " 10:00:00"), Date.valueOf(date), 10.0,
        52, 50, 2, 0, 1000, "gs://x",
        Timestamp.valueOf("2020-01-01 00:00:00"),
        None, None, Downloaded = false, None, None, ARDProduct = false,
        DCLoaded = false, Invalid = false, Archived = false,
        ExtendedInfo = None)
    import spark.implicits._
    val root = tempDir("pq") + "/scenes"
    val tbl = new PartitionedCowTable(root, "Date_Acquired", spark)
    val cat = new SceneCatalog(tbl, spark)
    cat.table.overwrite(Seq(scene(1, "2020-03-01"), scene(2, "2020-03-02"),
      scene(3, "2020-03-03")).toDF())
    val v0 = tbl.version
    // closed range [03-01, 03-02]: the 03-03 dir must not even be listed.
    // A threshold of -1 keeps the catalogue on its file path; at the
    // default the read is served from the in-memory snapshot and opens
    // no parquet file at all
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val pruned = cat.scenesForDateRange("2020-03-02", "2020-03-01",
        validOnly = false)
      val prunedFiles = pruned.inputFiles
      assert(prunedFiles.nonEmpty)
      assert(prunedFiles.forall(f => f.contains("__part=2020-03-01") ||
        f.contains("__part=2020-03-02")), prunedFiles.mkString("\n"))
      assert(pruned.select("PID").as[Long].collect().toSet == Set(1L, 2L))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val held = cat.scenesForDateRange("2020-03-02", "2020-03-01",
      validOnly = false)
    assert(held.collect().map(_.getAs[Long]("PID")).toSet == Set(1L, 2L))
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val heldPlan = held.queryExecution.executedPlan
    assert(aqe.collect(heldPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.isEmpty, heldPlan)
    // upsert touching ONE date: the change feed reads only that
    // partition's rewritten dir in the new w_ version
    tbl.upsert(Seq(scene(4, "2020-03-03")).toDF(), Seq("PID"))
    val cdc = tbl.changedSince(v0)
    val cdcFiles = cdc.inputFiles
    assert(cdcFiles.nonEmpty)
    assert(cdcFiles.forall(f => f.contains("__part=2020-03-03") &&
      f.contains("w_000001")), cdcFiles.mkString("\n"))
    assert(cdc.select("PID").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("auto-prune: the physical scan's numFiles metric counts only " +
    "the matching dir's files") {
    import graft.sources.PartitionedCowTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("pq_auto") + "/t"
    val tbl = new PartitionedCowTable(root, "month", spark)
    tbl.overwrite(Seq(
      (1L, "2020-03"), (2L, "2020-04"), (3L, "2020-05"))
      .toDF("pid", "month"))
    val df = tbl.read().filter(col("month") === "2020-04")
    assert(df.collect().map(_.getLong(0)).toSet == Set(2L))
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    def filesUnder(glob: String): Long = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.count { p =>
        val s2 = p.toString
        s2.contains(glob) && s2.endsWith(".parquet")
      }.toLong
      finally w.close()
    }
    val matched = filesUnder("__part=2020-04")
    val all = filesUnder("__part=")
    assert(matched >= 1 && all > matched)
    assert(scans.map(_.metrics("numFiles").value).sum == matched,
      s"scan read ${scans.map(_.metrics("numFiles").value).sum} files, " +
        s"expected $matched of $all")
    assert(tbl.autoPruneLedger == ((3, 1)))
    // the same filter ALSO reaches the parquet reader as a pushed
    // filter (row-group skipping inside the surviving files) — dir
    // pruning and footer pruning compose, neither replaces the other
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("PushedFilters:") &&
      fmt.contains("EqualTo(month,2020-04)"), fmt)
  }

  test("bloom point-lookup: the physical scan's numFiles metric is " +
    "ZERO for an absent key and counts only the containing dir for a " +
    "present one") {
    import graft.sources.PartitionedCowTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("pq_bloom") + "/t"
    val tbl = new PartitionedCowTable(root, "month", spark,
      bloomColumns = Seq("pid"))
    tbl.overwrite(Seq(
      (1L, "2020-03"), (2L, "2020-04"), (3L, "2020-05"))
      .toDF("pid", "month"))
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    // present key: exactly the one containing dir's file is opened
    val hit = tbl.read().filter(col("pid") === 2L)
    assert(numFiles(hit) == 1L)
    assert(tbl.autoPruneLedger == ((3, 1)))
    // absent key: the plan touches ZERO files — the dominant case for
    // ingest dedup probes at scale costs no data I/O at all
    val miss = tbl.read().filter(col("pid") === 99L)
    assert(miss.isEmpty)
    assert(numFiles(miss) == 0L)
    assert(tbl.autoPruneLedger == ((3, 0)))
  }

  test("whole-stage codegen covers the custom expressions") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q29_jaccard_pairs")(spark, dir)
    df.collect() // finalize the adaptive plan
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE nests subtrees inside query stages (not `children`), so
    // assert on the rendered plan: `*(n)` marks a whole-stage-codegen
    // operator, and sorted_jaccard must appear on a starred line
    // (here it is even pushed into the BroadcastHashJoin condition).
    val lines = exec.toString.linesIterator.toSeq
    assert(lines.exists(_.contains("*(")), exec.toString)
    assert(lines.exists(l => l.contains("*(") && l.contains("sorted_jaccard")),
      exec.toString)
  }

  test("q62 as-of: union-then-window form — no join operator, one key shuffle") {
    val p = plan("q62_asof_join")
    // the scalable as-of has NO join node (a theta-join form would
    // plan a BroadcastNestedLoopJoin); right-side pre-agg + the window
    // are the only exchanges besides the final order
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(__k".r.findAllIn(p).length >= 1, p)
  }

  test("q65 range join: bucketed equi join, never a nested loop") {
    val p = plan("q65_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q61 chunk dedup: the keep-first shuffle is keyed by chunk content") {
    val p = plan("q61_chunk_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(chunk"), p)
  }

  test("q70 bigram LM: model stays a table — keyed joins, partial aggs, no cartesian") {
    val p = plan("q70_bigram_lm_score")
    assert(!p.contains("CartesianProduct"), p)
    // train-side counts and the per-doc score both partial-aggregate
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    // every join is an equi join (broadcast or shuffled), never a loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q73 containment: candidates come from an equi join on the block token") {
    val p = plan("q73_subset_containment")
    // the prefix-filter candidate generator must be a hash/merge equi
    // join on `tok` — a nested loop here is the all-pairs scale bug
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q102 containment (prefix-df arm): equi join on the block token, no loop") {
    val p = plan("q102_containment_prefix")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  // Trained-centroid IVF (q100): the centroid table is bounded (k×dim)
  // and must BROADCAST into both the assignment and the probe; the
  // final top-k must plan as TakeOrdered (heap per partition + k-row
  // merge), never a global sort of the scored corpus.
  test("q100 trained IVF: centroids broadcast, top-k is TakeOrdered") {
    val p = plan("q100_ann_ivf_trained")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q79 cdc dedup: keep-first shuffle keyed by chunk content, no cartesian") {
    val p = plan("q79_cdc_chunk_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(chunk"), p)
  }

  test("q80 containment sketch: candidates via equi join on the hash, no loop") {
    val p = plan("q80_containment_sketch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q76 pq/adc: codebook and distance LUT are broadcast") {
    val p = plan("q76_pq_adc")
    assert(!p.contains("CartesianProduct"), p)
    // both the encode join (codebook) and the ADC join (query LUT)
    // ride broadcasts — per-vector work is local lookup + sum
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  // q103: the occurrence count must shuffle by the 128-bit window
  // HASH (gh), never the window text, and the island merge + mask
  // must run in doc_id-keyed windows — per-doc bounded work.
  test("q103 substring spans: count keyed by window hash, islands by doc") {
    val p = plan("q103_substring_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(gh"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  // q104: sample + τ both plan as TakeOrdered (per-partition heaps,
  // K+1 rows upward), τ rides a 1-row broadcast — never a global
  // sort of the scored corpus.
  test("q104 priority sample: TakeOrdered sample, broadcast tau") {
    val p = plan("q104_priority_sample")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  // q105: the batch-vs-corpus candidate generator must be an equi
  // join on (band, bucket) — a nested loop or cartesian here is the
  // all-pairs scale bug the band index exists to avoid.
  test("q105 incremental near-dup: band-index probe is an equi join") {
    val p = plan("q105_incremental_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  // q106: both sides' counts come out of ONE partial-aggregated pass
  // (sum-of-when, not two scans), and the totals ride a broadcast.
  test("q106 vocab drift: partial aggs, totals broadcast") {
    val p = plan("q106_vocab_drift")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  // q107: the quartile floor comes from the (lang, score) histogram —
  // the corpus itself is never ranked (no row_number anywhere) and
  // the per-lang thresholds reach the keep filter via broadcast.
  test("q107 quality floor: histogram-derived threshold, no corpus rank") {
    val p = plan("q107_quality_floor")
    assert(!p.contains("row_number"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q108: pair counts come from the per-(hash, source) histogram
  // self-joined ON THE HASH — an equi join, never a nested loop, and
  // the histogram aggregation is partial-aggregated before its
  // exchange.
  test("q108 source overlap: histogram equi join, partial aggs") {
    val p = plan("q108_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  // q109: redaction is pure scan-side string math — ONE parquet scan,
  // no join, no aggregate; the only exchange is the output sort. The
  // embarrassingly-parallel map stage a 100 TB scrub must be.
  test("q109 PII redaction: single scan, no join, no aggregation") {
    val p = plan("q109_pii_redaction")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    assert(blocks.count(_.startsWith("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Aggregate"), p)
  }

  // q110: the corpus-index probe joins candidates on the CELL id (an
  // equi join — SortMergeJoin/BroadcastHashJoin, never a batch×corpus
  // nested loop); centroids and radii ride broadcasts (the k-row
  // crossJoins against LocalTableScan are the sanctioned broadcast-
  // scalar pattern); best-match is a partial+final aggregate, not a
  // window rank over the candidate set.
  test("q110 incremental embedding: cell equi join, broadcast index") {
    val p = plan("q110_incremental_embedding_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("row_number"), p)
    // every nested-loop in the plan TREE must be the broadcast-scalar
    // pattern (Cross BuildRight of a k-row local table), never a
    // batch×corpus loop
    val treeBnlj = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("- "))
      .toSeq
    assert(treeBnlj.nonEmpty && treeBnlj.forall(_.contains("Cross BuildRight")), p)
  }

  // q111: the CORPUS-side running sum must ride the two-phase form —
  // every Window over the doc rows is partitioned by the range-
  // partition id (__part), never a corpus-wide single partition; the
  // only single-partition window is the 32-row partition-offset
  // metadata (q64's device). Budget and offsets reach the filter via
  // broadcast.
  test("q111 token budget: two-phase prefix sum, no corpus-wide window") {
    val p = plan("q111_token_budget_select")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    // corpus-side windows name __part in their spec; the offsets
    // window (partitioned on the constant __g) is the bounded one
    assert(windows.forall(w =>
      w.contains("__part") || w.contains("__g")), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") ||
      p.linesIterator.filter(l => l.contains("BroadcastNestedLoopJoin") &&
        l.contains("- ")).forall(_.contains("Cross BuildRight")), p)
  }

  // q112: the global shuffle position must come from the same
  // two-phase form — a corpus-wide row_number window (SinglePartition
  // over the doc rows) is the anti-pattern this query exists to avoid.
  test("q112 corpus shuffle: positions via two-phase counts, not a global window") {
    val p = plan("q112_corpus_shuffle")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part") || w.contains("__g")), p)
    assert(!p.contains("row_number"), p)
  }

  // q116: percentiles come from the histogram (two-phase prefix sums
  // over (lang, score) cells) joined back by broadcast — the corpus
  // is never per-language ranked (no cume_dist/rank over doc rows).
  test("q116 score percentiles: histogram percentiles, no corpus rank") {
    val p = plan("q116_score_percentiles")
    assert(!p.contains("cume_dist") && !p.contains("row_number"), p)
    assert(p.contains("BroadcastExchange"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.forall(w => w.contains("__part") || w.contains("lang")), p)
  }

  // q117: the snapshot diff joins (doc_id, h, source) projections —
  // a document body must never cross the full-outer shuffle.
  test("q117 delta: full-outer on doc_id, text hashed below the exchange") {
    val p = plan("q117_corpus_delta")
    assert(p.contains("FullOuter"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val exchanges = blocks.filter(_.startsWith("Exchange"))
    assert(exchanges.exists(_.contains("doc_id")), p)
    assert(!exchanges.exists(_.contains("text")), p)
  }

  // q118: postings are collected AFTER the df band filter, per-phrase
  // sorted arrays only — never a corpus-wide rank.
  test("q118 index: no row_number, no cartesian, term-keyed exchanges") {
    val p = plan("q118_inverted_index")
    assert(!p.contains("row_number"), p)
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val exchanges = blocks.filter(_.startsWith("Exchange"))
    assert(exchanges.forall(e => e.contains("term")), p)
  }

  // q119: k seed centroids broadcast to the scan; the only real
  // shuffle is the (cluster, label) rollup.
  test("q119 profile: centroids broadcast, single rollup shuffle") {
    val p = plan("q119_cluster_profile")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val shuffles = blocks.filter(_.startsWith("Exchange hashpartitioning"))
    assert(shuffles.forall(e =>
      e.contains("vec_id") || e.contains("cluster")), p)
  }

  // q120/q121: the survivor/df comes from a whole-partition window
  // over the SAME shuffle that grouped the key — no join back, so the
  // fingerprint/shingle lambda runs once per doc (the q108
  // constraint-inference lesson, structural form).
  test("q120 impact: window-min over the fp shuffle, no join back") {
    val p = plan("q120_dedup_impact")
    assert(!p.contains("Join"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty && windows.forall(_.contains("h#")), p)
  }

  test("q121 novelty: window-count over the gram shuffle, no join back") {
    val p = plan("q121_novelty_rate")
    assert(!p.contains("Join"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty && windows.forall(_.contains("h#")), p)
  }

  // q122: per-key count partial-aggregates map-side; the corpus total
  // rides a broadcast, not a second scan of events.
  test("q122 skew: map-side combine on user_id, scalar total broadcast") {
    val p = plan("q122_key_skew_histogram")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q123: probability joins are word-keyed equi joins; the only
  // nested-loop joins are the two 1-row scalar broadcasts; top-20 is
  // a TakeOrdered heap.
  test("q123 pmi: word-keyed equi joins, scalar broadcasts, TakeOrdered") {
    val p = plan("q123_pmi_bigrams")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
    assert(blocks.exists(b => b.startsWith("SortMergeJoin") ||
      b.startsWith("ShuffledHashJoin") || b.startsWith("BroadcastHashJoin")), p)
  }

  // q124: ONE user-keyed shuffle carries both window functions (lag
  // and the running session-id sum share a window spec); the session
  // rollup reuses that partitioning, so only the ≤64-row histogram
  // re-shuffles.
  test("q124 sessions: both windows on the user shuffle, no extra exchange") {
    val p = plan("q124_session_stats")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")), p)
    val shuffles = blocks.count(b =>
      b.startsWith("Exchange") && b.contains("hashpartitioning"))
    assert(shuffles <= 2, p)
  }

  // q125: a single map-combined aggregation pass — no join, no window.
  test("q125 packing: one partial+final agg, nothing else") {
    val p = plan("q125_packing_efficiency")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  // q127: the global sort position comes from the two-phase device
  // (windows only over (__part, __g)); the neighbor step and the two
  // verify join-backs are equi joins — never a rank over the corpus
  // in one partition, never a cartesian.
  test("q127 sorted neighborhood: two-phase ranks, equi joins only") {
    val p = plan("q127_sorted_neighborhood")
    assert(!p.contains("row_number") && !p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part") || w.contains("__g")), p)
    assert(blocks.exists(b => b.startsWith("SortMergeJoin") ||
      b.startsWith("ShuffledHashJoin") || b.startsWith("BroadcastHashJoin")), p)
  }

  // q128: AUC comes from the (score, lang) histogram — doc rows are
  // never ranked (no rank/row_number anywhere); windows run only
  // inside the two-phase prefix sums; the per-language totals cross
  // as a 1-row broadcast.
  test("q128 classifier AUC: histogram closed form, no corpus rank") {
    val p = plan("q128_classifier_auc")
    assert(!p.contains("row_number") && !p.contains("rank"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part") || w.contains("__g")), p)
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
  }

  // q129: the O(n·m) levenshtein verify must be DECOUPLED from the
  // fp-keyed candidate join — the candidates materialize behind a
  // repartitioned barrier (an ExistingRDD scan in the final plan),
  // so the verify can never be pushed back into the join condition
  // (where it ran per mirrored pair on one core — the 29 s → 1.2 s
  // fix) and the partition count is already spread when it runs.
  test("q129 edit-distance: verify decoupled from the candidate join") {
    val df = SparkEntry.queries("q129_editdist_neardup")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("levenshtein"), p)
    // the join happened eagerly below the barrier; the verify plan
    // reads the materialized candidates, it joins nothing
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Join"), p)
  }

  // q137: the sketch is built by map-side partial aggregation (the
  // mergeable-sketch contract — ≤256 cells cross the shuffle per
  // partition), probes rank via TakeOrdered, and the 256-row cell
  // table is broadcast to the probe join.
  test("q137 CMS: partial-aggregated cells, broadcast probe join") {
    val p = plan("q137_countmin_sketch")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  // q138: NO wedge materialization — the Σ outdeg² comparisons happen
  // inside array_intersect against broadcast adjacency (the 83M-row
  // wedge shuffle this form replaces measured 12 s vs 3 s at sf0.1);
  // the only cross join is the 1-row total broadcast.
  test("q138 triangles: adjacency broadcast + intersect, no wedge shuffle") {
    val p = plan("q138_triangle_count")
    assert(p.contains("array_intersect"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q139: the frontier comes from the price-grouped running max — the
  // corpus is never globally sorted or ranked; windows run only over
  // __part-local rows / the ≤32-row offset table.
  test("q139 skyline: two-phase prefix max, no global rank") {
    val p = plan("q139_skyline")
    assert(!p.contains("row_number"), p)
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part")), p)
  }

  // q140: the corpus collapses to (doc, word) counts and the encode
  // runs once per DISTINCT word; the fan back to docs is a word-keyed
  // equi join, never a per-occurrence re-encode.
  test("q140 BPE encode: vocab-sized encode, word-keyed join back") {
    val p = plan("q140_bpe_encode")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("aggregate("), p) // the greedy-leftmost fold
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  // q141: the eval set broadcasts; the corpus side's raw vectors stay
  // map-side — every Exchange carries only the partial-aggregated
  // (vec_id/label, max_cos) rows, never an embedding column.
  test("q141 decontam: eval broadcast, no vectors through exchanges") {
    val p = plan("q141_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val exchanges = blocks.filter(_.startsWith("Exchange"))
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(e => !e.contains("v#") && !e.contains("ev#")), p)
  }

  // q142: pair counts partial-aggregate off the basket self-join; the
  // basket total is a 1-row broadcast; the support floor prunes before
  // the item-count joins (Filter sits under them in the plan).
  test("q142 assoc rules: partial-aggregated counts, scalar broadcast") {
    val p = plan("q142_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // q143: the (doc, token) count table is the sufficient statistic —
  // exactly two aggregations, no join, no window, no second scan.
  test("q143 entropy: count table then rollup, nothing else") {
    val p = plan("q143_token_entropy")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // one scan node in the detail section (the tree repeats it)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 1, p)
  }

  // q145: the sweep-line runs as the two-phase prefix sum — windows
  // only over __part-local rows; the timeline never sorts through one
  // partition.
  test("q145 sweep-line: two-phase running sum, no global window") {
    val p = plan("q145_peak_concurrency")
    assert(!p.contains("row_number") && !p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part")), p)
  }

  // q146: the as-of-with-tolerance rides the union-then-window plan —
  // ONE user-keyed shuffle, no join node anywhere (the J8 contract).
  test("q146 attribution: union-then-window, no join") {
    val p = plan("q146_last_touch_attribution")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  // q154: the regression is six map-side sums — no window, no rank;
  // the only cross join is the 1-row day-base broadcast.
  test("q154 OLS: map-side sums only, no window, scalar broadcast") {
    val p = plan("q154_ols_trend")
    assert(!p.contains("Window") && !p.contains("row_number"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  // q156: CDF windows run over the (source, bucket) GRID — every
  // Window node keys by source, never a doc-row window; no rank.
  test("q156 Wasserstein: windows only over the source grid") {
    val p = plan("q156_wasserstein")
    assert(!p.contains("row_number"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("source")), p)
  }

  // q158: the Lorenz rank is the two-phase prefix count — windows
  // only over __part-local rows, no row_number anywhere.
  test("q158 Gini: two-phase rank, no global sort") {
    val p = plan("q158_gini")
    assert(!p.contains("row_number"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(w => w.contains("__part")), p)
  }

  // q161: the 32x replicate explode must collapse map-side — a
  // partial/final HashAggregate pair keyed by rep — and the only
  // cross joins are the 1-row CI-bound broadcasts. The sole Sort may
  // be the 32-row replicate-mean window, never the expanded table.
  test("q161 bootstrap: map-side combine on rep, scalar broadcasts only") {
    val p = plan("q161_poisson_bootstrap")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val repAggs = blocks.filter(b => b.startsWith("HashAggregate") &&
      b.contains("rep"))
    assert(repAggs.size >= 2, p) // partial + final
    val bnl = blocks.filter(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), p)
  }

  // q162/q173: grid windows key by event_type — no unpartitioned
  // window over the daily series, totals ride broadcasts.
  test("q162 changepoint: windows keyed by event_type, broadcast totals") {
    val p = plan("q162_changepoint")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("event_type")), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  // q164/q174: the cell prefix sums are the two-phase device — no
  // row_number/rank anywhere, no corpus-wide single-partition window.
  test("q174 KS: two-phase CDFs, no rank") {
    val p = plan("q174_ks_test")
    assert(!p.contains("row_number") && !p.contains("rank"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.forall(w => w.contains("__part")), p)
  }

  // q166: entity consolidation is equi joins end to end — the match
  // graph and the doc fan-in must never plan a nested-loop/cartesian.
  test("q166 golden record: equi joins only") {
    val p = plan("q166_golden_record")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  // q167: the split count is a window keyed by purchase_id (its own
  // shuffle), never a global window; the touch join is an equi join.
  test("q167 attribution: purchase-keyed split window, equi touch join") {
    val p = plan("q167_linear_attribution")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("purchase_id")), p)
  }

  // q168: the converged core is checkpointed — the reported plan is
  // one degree aggregate + a 1-row totals broadcast + TakeOrdered,
  // with the map-side combine pair intact.
  test("q168 kcore: degree rollup with broadcast totals, TakeOrdered") {
    val p = plan("q168_kcore")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  // q184: the rejection is an equi anti-join on (u, cand) — never a
  // per-row probe loop — and the keep-first window is keyed by the
  // positive pair, never global.
  test("q184 negative sampling: equi anti-join rejection, keyed window") {
    val p = plan("q184_negative_sampling")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("u#")), p)
  }

  // q186: the corpus contributes exactly one aggregate pair (the
  // daily rollup feeding the checkpoint); the fill window is keyed by
  // etype over grid rows, never a global window.
  test("q186 gap fill: one corpus rollup, etype-keyed fill window") {
    val p = plan("q186_gap_fill")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty && windows.forall(_.contains("etype")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q187: both diff passes are equi joins (digest full-outer on bkt,
  // row full-outer on k); the dirty-bucket prune reaches the row scan
  // as a broadcast semi-join.
  test("q187 partition diff: equi joins only, broadcast bucket prune") {
    val p = plan("q187_partition_diff")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  // q189: the chunker is pure per-row array algebra — NOTHING is
  // hash-shuffled; the only exchange is the output ordering's range
  // partition.
  test("q189 chunking: zero hash shuffles, per-row codegen only") {
    val p = plan("q189_chunk_overlap")
    assert(!p.contains("hashpartitioning"), p)
    // pure per-row pipeline: no join, no aggregate, no generate —
    // just projects over the scan plus the output ordering
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Generate"), p)
  }

  // q196: the corpus collapses through map-side-combined aggregates;
  // the subset algebra's nested-loop joins exist but only over the
  // 16-row grid (post-checkpoint), never over events.
  test("q196 shapley: map-side combine on the corpus passes") {
    val p = plan("q196_shapley_attribution")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q199/q211: pair generation is the basket kernel after ONE u-keyed
  // grouping — a MapGroups whose baskets a compiled pass pairs up, no
  // lambda HOF, never a pos⋈pos self-join (the form that shuffled the
  // full pair stream twice). The only joins in the plan are the norm
  // lookups.
  test("q199 CF: pairs from basket arrays, no self-join on u") {
    for (qn <- Seq("q199_item_item_cf", "q211_item_item_cf_capped")) {
      val p = plan(qn)
      assert(p.contains("MapGroups"), qn + "\n" + p)
      assert(!p.contains("lambdafunction"), qn + "\n" + p)
      assert(!p.contains("CartesianProduct"), qn + "\n" + p)
      // no join keyed by the customer column: the u-shuffle feeds an
      // aggregate, not a join
      val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
      val joins = blocks.filter(_.contains("Join"))
      assert(joins.forall(!_.contains("u#")), qn + "\n" + p)
    }
  }

  // q204: both corpus passes partial-aggregate map-side; the draw's
  // window is stratum-keyed, never global.
  test("q204 neyman: map-side moments, stratum-keyed draw window") {
    val p = plan("q204_neyman_allocation")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("stratum")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q197: both island windows and the rollup are keyed by user_id —
  // no global window anywhere.
  test("q197 scd2: all windows user-keyed") {
    val p = plan("q197_scd2_intervals")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(_.startsWith("Window"))
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q214: DIMSUM pairs come from per-basket array algebra + a
  // map-side Bernoulli filter — no self-join keyed by the customer,
  // no cartesian; the only u-keyed operator is the basket aggregate.
  test("q214 DIMSUM: map-side sampled pairs, no self-join on u") {
    val p = plan("q214_item_item_cf_dimsum")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val joins = blocks.filter(_.contains("Join"))
    assert(joins.forall(!_.contains("u#")), p)
    // the Bernoulli draw filters BEFORE any aggregation of pairs
    assert(p.contains("Generate") || p.contains("explode"), p)
  }

  // q217: the sketch top-k window is keyed by event type, and the
  // per-pair estimate algebra never joins row-level data — exact
  // sides are equi joins, no cartesian.
  test("q217 KMV: type-keyed sketch window, equi joins only") {
    val p = plan("q217_kmv_set_overlap")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("et")), p)
  }

  // q219: four integer iteration joins, all equi on u or p — no
  // cartesian, map-side combine on every degree rollup.
  test("q219 HITS: equi iteration joins, partial aggregation") {
    val p = plan("q219_hits")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  // q221: anchors broadcast; the per-anchor ranking exchange carries
  // only (ids, label, cos_micro) — the vector arrays never cross a
  // hash exchange, and WindowGroupLimit prunes to top-k map-side.
  test("q221 hard negatives: no vector through the rank exchange") {
    val p = plan("q221_hard_negative_mining")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val hashEx = blocks.filter(b => b.startsWith("Exchange") &&
      b.contains("hashpartitioning"))
    assert(hashEx.nonEmpty && hashEx.forall(!_.contains("av#")), p)
    assert(hashEx.forall(b => !b.contains(", v#") && !b.contains("[v#")), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  // q229: the hashing-trick scorer's exchanges carry (doc_id, lang,
  // weight) longs — the exploded token column stays map-side, and
  // the logit aggregate has a partial (map-side combine) pass.
  test("q229 hashed scorer: tokens never cross an exchange") {
    val p = plan("q229_hashed_linear_score")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val hashEx = blocks.filter(b => b.startsWith("Exchange") &&
      b.contains("hashpartitioning"))
    assert(hashEx.nonEmpty, p)
    assert(hashEx.forall(b => !b.contains("tk#") && !b.contains("text#")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  // q231/q233: the CDF machinery runs on the (source, score)
  // HISTOGRAM — every Window operates over histogram rows (no doc_id
  // in any window block), and raw text never crosses an exchange.
  test("q231 quantile normalize: windows on histogram rows only") {
    val p = plan("q231_quantile_normalize")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(!_.contains("doc_id")), p)
    val hashEx = blocks.filter(b => b.startsWith("Exchange"))
    assert(hashEx.forall(!_.contains("text#")), p)
  }

  test("q233 nucleus select: windows on histogram rows only, no cartesian") {
    val p = plan("q233_nucleus_select")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(!_.contains("doc_id")), p)
  }

  // q230: the MM rounds checkpoint per round, so the visible plan is
  // the closing join + rank over the ≤T-row state table — what must
  // hold is no cartesian (the duel stages already ran through
  // checkpoints; their equi-join shape is pinned by the q230 spec's
  // closed-form values, which a cartesian would not change anyway —
  // the scale property here is the ≤T-row final window).
  test("q230 Bradley-Terry: no cartesian in the closing plan") {
    val p = plan("q230_bradley_terry")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  // q234: no corpus-wide window (the quantile comes from the bounded
  // score histogram), the qhat scalar broadcasts, no cartesian.
  test("q234 conformal: histogram quantile, no per-doc window") {
    val p = plan("q234_conformal_calibration")
    assert(!p.contains("CartesianProduct"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.forall(!_.contains("doc_id")), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  // q255: the segment LUT and the total are broadcast scalars — the
  // group×segment grid never shuffles the customer rows twice, and
  // nothing is a cartesian over data (the grid crossJoins are
  // broadcast ≤|segments|-row tables).
  test("q255 t-closeness: broadcast grid, partial aggregation") {
    val p = plan("q255_t_closeness")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  // q256: the 8 expert prototypes broadcast (k×dim driver traffic
  // only); the per-token top-2 window partitions by vec_id — never a
  // global sort.
  test("q256 MoE routing: experts broadcast, window keyed by token") {
    val p = plan("q256_moe_routing")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("vec_id")), p)
  }

  // q258: the global rank comes from allocateKeys — per-partition
  // row_numbers (window keyed by __part) + broadcast offsets; a
  // corpus-wide ORDER BY window would single-partition 100 TB.
  test("q258 padding waste: rank windows keyed by __part, no " +
    "corpus-wide window") {
    val p = plan("q258_padding_waste")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("__part")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // q261: both arms are histogram prefix sums — windows ride the
  // (et, bucket)/(et, value) HISTOGRAM rows, partitioned by et, with
  // map-side partial aggregation building them.
  test("q261 quantile sketch: windows keyed by type, partial aggs") {
    val p = plan("q261_dyadic_quantile_sketch")
    val blocks = p.split("(?m)^\\s*\\(\\d+\\) ").toSeq
    val windows = blocks.filter(b =>
      b.startsWith("Window") && !b.startsWith("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("et")), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  // r13 ItemItemCf.preflight: the routing decision input is ONE
  // partial-aggregated pass over per-user counts — no pair explode,
  // no self-join, no window anywhere in its plan. A preflight that
  // itself paid the pair cost would defeat its purpose.
  test("ItemItemCf preflight plan: two aggregates, no explode, no " +
    "join beyond the positives build, no window") {
    import org.apache.spark.sql.functions._
    val pos = graft.Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("u"), col("o_orderkey"))
      .join(graft.Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), Seq("o_orderkey"))
      .select("u", "p").distinct()
    val pfPlan = pos.groupBy("u").agg(count(lit(1)).as("b"))
      .agg(sum(expr("b * (b - 1) DIV 2")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!pfPlan.contains("Generate"), pfPlan) // no explode
    assert(!pfPlan.contains("Window"), pfPlan)
    assert("HashAggregate".r.findAllIn(pfPlan).length >= 4, pfPlan)
  }

  // r14 optimization round: the iterative-graph parallelism device
  // (q134/q190/q178, ScaleOps.connectedComponents). A reused,
  // checkpointed edge table must NOT inherit AQE's coalesce-to-1 of
  // its byte-tiny build exchange: an explicit repartition(N, key) is
  // exempt from coalescing, so the checkpoint's blocks — which every
  // iteration round re-reads — carry the session's width. Two pins:
  // (a) the explicit form keeps N blocks; (b) the AQE-coalescible
  // form really does collapse on data this small (if a Spark upgrade
  // stops coalescing it, the explicit repartition becomes redundant
  // and this documents why it exists).
  test("checkpointed edge table keeps the pinned block width; the " +
    "coalescible form collapses") {
    import org.apache.spark.sql.functions._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = spark.range(0, 1000)
      .select((col("id") % 97).as("src"), (col("id") % 89).as("dst"))
    val pinned = base.repartition(n, col("dst")).localCheckpoint()
    assert(pinned.rdd.getNumPartitions === n)
    val coalescible = base.distinct().localCheckpoint()
    assert(coalescible.rdd.getNumPartitions < n,
      s"AQE no longer coalesces the tiny distinct exchange " +
        s"(${coalescible.rdd.getNumPartitions} >= $n partitions) — " +
        "re-evaluate the explicit repartition in q134/q190/q178/CC")
  }
}
