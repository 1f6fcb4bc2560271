package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators re-expressing the reference's procedural
  * query patterns as declarative Spark plans (SURVEY.md §2.2–§2.7).
  *
  * Scale notes (100 TB): every operator here stays a single declarative
  * plan so Catalyst can push filters/projections into the scan, choose
  * broadcast vs shuffle joins, and plan partial aggregation. Nothing
  * collects to the driver.
  */
object RelationalOps {

  /** Ingest anti-join (J1): keep rows of `incoming` whose key is absent
    * from `existing`. Reference does a per-row lookup loop
    * (eodatadownlandsatgoogsensor.py:637-639); here it is one
    * `left_anti` join which Catalyst plans as broadcast-hash when the
    * build side is small, shuffle-hash otherwise.
    */
  def antiJoin(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Keep-if-present semi join (J2 "keep" side). */
  def semiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right.select(keys.map(col): _*), keys, "left_semi")

  /** Dedup-keep-newest (J6): one surviving row per key, newest first by
    * `order`. Reference groups + deletes row-at-a-time
    * (eodatadownlandsatgoogsensor.py:473-518); here a ranking window —
    * a single shuffle on the key, whole-stage codegen'd.
    * `order` columns must make the ranking deterministic (add a
    * tiebreaker key).
    */
  def dedupKeepNewest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Top-k rows per group (latent ranking pattern, SURVEY §2.5). */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
                   rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** [[topKPerGroup]] for groups too large for one reducer: the plain
    * form shuffles EVERY row of a group to the window's single
    * partition before discarding all but k. Here a pre-prune window
    * keyed by (group, physical partition id) cuts each partition's
    * contribution to its local top-k first — its exchange is spread
    * over partitions BY CONSTRUCTION (the pid key), never
    * concentrating a group — so at most k x partitions rows per group
    * reach the final single-partition-per-group ranking. Identical
    * output (row_number over the same total order); the pre-prune can
    * only drop rows that cannot be in the global top-k. Costs one
    * extra (well-spread) shuffle: use when groups are huge, not for
    * thousands of small groups. `order` must be deterministic
    * (include a tiebreaker), as with [[topKPerGroup]].
    */
  def topKPerGroupScalable(df: DataFrame, keys: Seq[String],
                           order: Seq[Column], k: Int,
                           rankCol: String = "rank"): DataFrame = {
    val localW = Window
      .partitionBy((keys.map(col) :+ spark_partition_id()): _*)
      .orderBy(order: _*)
    val pruned = df.withColumn("__lrk", row_number().over(localW))
      .filter(col("__lrk") <= k)
      .drop("__lrk")
    topKPerGroup(pruned, keys, order, k, rankCol)
  }

  /** Ordered pagination (O3): reference slices in Python after fetch
    * (eodatadownlandsatgoogsensor.py:1994); Spark ≥3.4 plans
    * offset+limit natively (GlobalLimit/Offset), so only `offset+n`
    * rows ever reach the driver side of the sort.
    */
  def paginate(df: DataFrame, order: Seq[Column], offset: Int, n: Int): DataFrame =
    df.orderBy(order: _*).offset(offset).limit(n)

  /** Work-list union + dedup (U1/U2, eodatadownrun.py:790-845). */
  def unionDistinct(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_)).distinct()

  /** High-watermark per group (A2 + per-product variant F13,
    * eodatadownICESAT2sensor.py:532-539): max event time per key in one
    * partial-aggregated pass (no per-key queries).
    */
  def watermarkPerGroup(df: DataFrame, keys: Seq[String], tsCol: String,
                        out: String = "watermark"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(max(col(tsCol)).as(out))

  /** Surrogate-key allocation (A3): assign `base + global_rank(order)`
    * WITHOUT a global single-partition window. Two-phase: range
    * repartition on the order key (so partition p's keys all precede
    * partition p+1's), per-partition `row_number` (parallel), then add
    * each partition's exclusive prefix count — the prefix sum runs over
    * one row PER PARTITION (bounded metadata, ~#partitions rows), never
    * over the data. Deterministic for a unique order key regardless of
    * where range sampling places the boundaries.
    */
  def allocateKeys(incoming: DataFrame, orderCol: String, base: Column,
                   out: String = "new_pid", partitions: Int = 32): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // eagerly local-checkpointed: the counts job and the caller's final
    // action must see the SAME range boundaries and partition ids —
    // re-executing the range sample against a source whose order
    // changed (task retry, AQE re-plan) could silently shift offsets
    // and collide keys. localCheckpoint truncates lineage (a lost block
    // fails the job loudly instead of silently recomputing shifted
    // boundaries) and its storage is reclaimed by the ContextCleaner
    // when the plan is dropped, so no persist handle leaks to callers.
    val parted = incoming.repartitionByRange(partitions, col(orderCol))
      .withColumn("__part", spark_partition_id())
      .transform(Staging(_))
    val local = parted.withColumn("__rk",
      row_number().over(Window.partitionBy(col("__part")).orderBy(col(orderCol))))
    // exclusive prefix sum over ONE COUNT PER PARTITION — bounded
    // metadata (~#partitions rows), folded on the driver like the
    // watermark scalars, then broadcast back; the data itself never
    // passes through a single-partition window
    val counts = local.groupBy(col("__part")).agg(count(lit(1)).as("__cnt"))
      .orderBy("__part").as[(Int, Long)].collect()
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (p, n)) =>
      (p, acc + n)
    }.init.zip(counts).map { case ((_, off), (p, _)) => (p, off) }
    local.join(broadcast(offsets.toSeq.toDF("__part", "__offset")), Seq("__part"))
      .withColumn(out, base + col("__offset") + col("__rk"))
      .drop("__part", "__rk", "__offset")
  }

  /** Per-group EXCLUSIVE running sum at scale — the [[allocateKeys]]
    * device generalized. The naive form,
    * `sum(value).over(Window.partitionBy(group).orderBy(order))`,
    * routes EVERY row of a group through one reducer: fine for
    * thousands of small groups, fatal when one group is most of a
    * 100 TB corpus (e.g. cumulative token counts per language, where
    * "en" is half the data). Here:
    *
    *  1. range-partition by (group, order) — each partition holds a
    *     contiguous slice of one or more groups;
    *  2. run the window WITHIN (partition, group) — parallel;
    *  3. fold ONE ROW PER (partition, group) — bounded metadata — into
    *     exclusive cross-partition offsets with a window over that
    *     tiny table (~partitions rows per group, never the data);
    *  4. broadcast the offsets back.
    *
    * Output = input columns + `out` (sum of `valueCol` over all
    * strictly-earlier rows of the same group in `orderCol` order).
    * (group, order) pairs must be unique for a well-defined order.
    * The range sample is localCheckpointed for the same
    * self-consistency reason as [[allocateKeys]]; output values are
    * boundary-invariant either way.
    */
  def groupedPrefixSum(df: DataFrame, groupCol: String, orderCol: String,
                       valueCol: String, out: String,
                       partitions: Int = 32): DataFrame = {
    val parted = df.repartitionByRange(partitions, col(groupCol), col(orderCol))
      .withColumn("__part", spark_partition_id())
      .transform(Staging(_))
    val w = Window.partitionBy(col("__part"), col(groupCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__run", sum(col(valueCol)).over(w))
    // one row per (partition, group): the partition-group total is the
    // SUM of values, not max(running) — max coincides only for
    // non-negative values; signed deltas (sweep-line +1/−1, CDC
    // +new/−old) make the running sum non-monotone
    val partials = local.groupBy(col("__part"), col(groupCol))
      .agg(sum(col(valueCol)).as("__tot"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .select(col("__part"), col(groupCol), col("__off"))
    local.join(broadcast(offsets), Seq("__part", groupCol))
      .withColumn(out, col("__off") + col("__run") - col(valueCol))
      .drop("__part", "__run", "__off")
  }

  /** Summary statistics (A7): the reference fetches whole tables into
    * Python `statistics` (eodatadownlandsatgoogsensor.py:2932-3051);
    * here one aggregation pass with exact interpolated percentiles.
    */
  def summaryStats(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol)
    df.groupBy(keys.map(col): _*).agg(
      count(v).as("n"),
      round(sum(v), 2).as("sum_v"),
      round(avg(v), 2).as("avg_v"),
      round(min(v), 2).as("min_v"),
      round(max(v), 2).as("max_v"),
      round(stddev_samp(v), 4).as("stddev_v"),
      round(percentile(v, lit(0.25)), 5).as("p25_v"),
      round(percentile(v, lit(0.5)), 5).as("median_v"),
      round(percentile(v, lit(0.75)), 5).as("p75_v"))
  }

  /** State-machine counts (A1): N conditional counters in one pass via
    * `sum(when(flag))` instead of N filtered `count(*)` scans.
    */
  def conditionalCounts(df: DataFrame, keys: Seq[String],
                        conds: Seq[(String, Column)]): DataFrame = {
    val aggs = conds.map { case (name, c) =>
      sum(when(c, 1L).otherwise(0L)).as(name)
    } :+ count(lit(1)).as("n_total")
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Gaps-and-islands sessionization over an event stream: a new
    * session starts after `gapSeconds` of inactivity. Lag + conditional
    * sum — one shuffle on the entity key.
    */
  def sessionCounts(df: DataFrame, entityCol: String, tsCol: String,
                    tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieBreak))
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          col(tsCol).cast("long") - col("__prev").cast("long") > gapSeconds, 1L)
          .otherwise(0L))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_events"), sum(col("__new_session")).as("n_sessions"))
  }

  /** Per-session rows for [[sessionCounts]]'s boundaries: one row per
    * (entity, session) with its event count and wall duration. The
    * session id is a running sum of the boundary flags over the SAME
    * window spec as the lag — one entity-keyed shuffle+sort carries
    * both window functions, then sessions aggregate on (entity, id).
    */
  def sessionStats(df: DataFrame, entityCol: String, tsCol: String,
                   tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieBreak))
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          col(tsCol).cast("long") - col("__prev").cast("long") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new_session")).over(w))
      .groupBy(col(entityCol), col("__sid"))
      .agg(count(lit(1)).as("n_events"),
        (max(col(tsCol).cast("long")) - min(col(tsCol).cast("long")))
          .as("duration_s"))
      .withColumnRenamed("__sid", "session_id")
  }

  /** As-of join (prior match): for each left row, attach the payload of
    * the one right row with the greatest `rightTs <= leftTs` for the
    * same key, as a struct column `asofCol` (null when no prior right
    * row exists — left-outer semantics).
    *
    * Spark has no native as-of join, and the naive formulation — an
    * inequality theta-join plus a per-key max — plans as a
    * broadcast-nested-loop that is quadratic per key. The scalable form
    * used here is union-then-window: tag both sides, sort within the
    * key by (time, side) with right rows first at equal times (so a
    * left row exactly at `rightTs` matches it, i.e. <= semantics), and
    * carry the most recent right payload forward with
    * last(ignoreNulls). ONE shuffle on the key, linear in rows, no join
    * explosion — the same shape works at any key cardinality or skew
    * because a key's partition is only ever scanned once in time order.
    *
    * Right rows must be unique per (key, rightTs); pre-aggregate the
    * right side so the match is deterministic (the caller owns the
    * tiebreak policy). `leftTs` and `rightTs` must have the SAME
    * (orderable) type — enforced, because a silent union coercion
    * (e.g. ntz→ltz) would depend on the session timezone. Right rows
    * with a null key or null rightTs never match (SQL join-null
    * semantics: ascending-nulls-first ordering would otherwise make a
    * null-ts right row the "prior" of everything in its key).
    */
  def asofJoinPrior(left: DataFrame, right: DataFrame, key: String,
                    leftTs: String, rightTs: String,
                    asofCol: String = "asof"): DataFrame = {
    require(!left.columns.contains(asofCol),
      s"left already has a column named '$asofCol'; pass a different asofCol")
    val internal = Set("__k", "__t", "__side", "__p", "__row", "__m")
    require(!(left.columns ++ right.columns).exists(internal),
      s"column names ${internal.mkString(", ")} are reserved by asofJoinPrior")
    require(left.schema(leftTs).dataType == right.schema(rightTs).dataType,
      s"leftTs and rightTs must have the same type, got " +
        s"${left.schema(leftTs).dataType} vs ${right.schema(rightTs).dataType}" +
        " — cast explicitly (a union coercion would be tz-dependent)")
    val payload = struct(right.columns.filterNot(_ == key).map(col).toSeq: _*)
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as("__k"), col(rightTs).as("__t"),
        lit(0).as("__side"), payload.as("__p"))
    val l = left.select(struct(left.columns.map(col).toSeq: _*).as("__row"))
      .select(col("__row"), col(s"__row.$key").as("__k"),
        col(s"__row.$leftTs").as("__t"), lit(1).as("__side"),
        lit(null).cast(r.schema("__p").dataType).as("__p"))
    val u = r
      .select(lit(null).cast(l.schema("__row").dataType).as("__row"),
        col("__k"), col("__t"), col("__side"), col("__p"))
      .unionByName(l)
    val w = Window.partitionBy("__k")
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__row.*"), col("__m").as(asofCol))
  }

  /** Interval (range) join without an equi key: pair each left row
    * whose timestamp `pointCol` falls inside a right row's
    * [`startCol`, `endCol`) interval. Returns left columns + right
    * columns (caller guarantees distinct names).
    *
    * The naive plan for a pure inequality join is a
    * broadcast-nested-loop — quadratic. This form buckets time into
    * `bucketSeconds`-wide epochs, explodes each right interval into
    * the buckets it spans, and equi-joins on the bucket id before
    * applying the exact range predicate: the classic bucketed range
    * join. Each left row lands in exactly one bucket and an interval
    * covers a bucket at most once, so no post-join dedup is needed.
    * Shuffle volume = left rows + right rows x avg(interval/bucket);
    * pick bucketSeconds near the median interval length.
    */
  def rangeJoinBucketed(left: DataFrame, pointCol: String,
                        right: DataFrame, startCol: String, endCol: String,
                        bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0, got $bucketSeconds")
    require(!(left.columns ++ right.columns).contains("__b"),
      "column name '__b' is reserved by rangeJoinBucketed")
    // TIMESTAMP_NTZ has no direct numeric cast; go via TIMESTAMP
    // (identity for the session's pinned-UTC clock) to epoch seconds.
    def epochBucket(c: Column): Column =
      floor(c.cast("timestamp").cast("long") / bucketSeconds).cast("long")
    val lb = left.withColumn("__b", epochBucket(col(pointCol)))
    val rb = right.withColumn("__b", explode(sequence(
      epochBucket(col(startCol)), epochBucket(col(endCol)))))
    lb.join(rb, lb("__b") === rb("__b") &&
        lb(pointCol) >= rb(startCol) && lb(pointCol) < rb(endCol))
      .drop("__b")
  }
}
