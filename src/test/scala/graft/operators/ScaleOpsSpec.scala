package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on a skewed key") {
    // one hot key (90% of rows) + a tail
    val left = ((1 to 900).map(_ => ("hot", 1)) ++
      (1 to 100).map(i => (s"k$i", i))).toDF("k", "v")
    val right = Seq(("hot", 10), ("k5", 50), ("k7", 70)).toDF("k", "w")
    val plain = left.join(right, "k").groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
    val salted = ScaleOps.saltedJoin(left, right, "k", salt = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
    val p = plain.orderBy("k").as[(String, Long, Long)].collect()
    val s = salted.orderBy("k").as[(String, Long, Long)].collect()
    assert(s.sameElements(p))
  }

  test("salted join rejects join types that duplicate the build side") {
    val left = Seq(("a", 1)).toDF("k", "v")
    val right = Seq(("a", 10), ("b", 20)).toDF("k", "w")
    intercept[IllegalArgumentException] {
      ScaleOps.saltedJoin(left, right, "k", salt = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.saltedJoin(left, right, "k", salt = 4, joinType = "full_outer")
    }
    // left joins stay allowed
    assert(ScaleOps.saltedJoin(left, right, "k", 4, "left").count() == 1)
  }

  test("bucketed tables join without a shuffle on the join keys") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect() // force execution so AQE finalizes the plan
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val exchanges = finalPlan.collect { case e: ShuffleExchangeExec => e }
      // bucket co-location removes the two join-side exchanges; only
      // the post-aggregation exchange on o_orderstatus may remain
      assert(exchanges.size <= 1,
        s"expected <=1 exchange, got ${exchanges.size}:\n$finalPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("connected components: chains, stars, disjoint groups, empty input") {
    // chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // star 10-{11,12,13}, isolated pair 20-21, duplicate + reversed
    // edges, and a self-loop that must be ignored
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (13L, 10L),
      (20L, 21L), (21L, 20L), (20L, 21L),
      (30L, 30L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L)
    // BOTH paths must agree: driver union-find (small-graph
    // short-circuit) and the distributed propagation (forced by
    // localEdgeThreshold = 0)
    assert(ScaleOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap == expected)
    assert(ScaleOps.connectedComponents(edges, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap == expected)
    // a long chain converges (rounds = diameter) …
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labs = ScaleOps.connectedComponents(chain, maxIters = 15,
      localEdgeThreshold = 0).select("rep").distinct().as[Long].collect()
    assert(labs.sameElements(Array(1L)))
    // … and fails LOUDLY when maxIters is below the diameter
    intercept[IllegalStateException] {
      ScaleOps.connectedComponents(chain, maxIters = 3,
        localEdgeThreshold = 0)
    }
    // empty edge list: empty result, no crash — on both paths
    assert(ScaleOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
    assert(ScaleOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      localEdgeThreshold = 0).count() == 0)
  }

  test("connectedComponents' local path collects the edge table once: " +
    "3 jobs in all") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (13L, 10L),
      (20L, 21L), (21L, 20L), (30L, 30L)).toDF("id_a", "id_b")
    val (labs, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
      ScaleOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    }
    // staging the symmetric edge table (its distinct's shuffle, then
    // the checkpoint) and one limit collect feeding the union-find
    assert(jobs === 3)
    assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(labs == ScaleOps.connectedComponents(edges, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap)
  }

  test("connectedComponents frees the pre-spread edge table once the " +
    "spread copy and the labels are staged") {
    // a 1-byte block target forces the spread arm at test scale
    spark.conf.set("spark.graft.graph.bytesPerEdgePartition", "1")
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val (labs, jobs) = org.apache.spark.JobCount.jobs(spark.sparkContext) {
        ScaleOps.connectedComponents(edges, localEdgeThreshold = 0)
          .as[(Long, Long)].collect().toMap
      }
      assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
        11L -> 10L))
      // staged RDDs in creation order: the edge table, its spread
      // copy, then the label rounds
      val staged = jobs.flatMap(_.stageInfos.flatMap(_.rddInfos))
        .filter(_.storageLevel.isValid).map(_.id).distinct.sorted
      assert(staged.size >= 3, s"staged RDDs: $staged")
      val live = spark.sparkContext.getPersistentRDDs
      assert(!live.contains(staged.head),
        s"pre-spread edge table (RDD ${staged.head}) still persisted")
      assert(live.contains(staged(1)))
    } finally spark.conf.unset("spark.graft.graph.bytesPerEdgePartition")
  }

  test("stage() honors the disk-only flag without changing results") {
    val df = spark.range(0, 1000).toDF("id")
    // default path: plain localCheckpoint, results intact
    assert(ScaleOps.stage(df).count() === 1000L)
    // flagged path: blocks land DISK_ONLY (no memory residency) — the
    // single-JVM big-state escape for the q184/q190 sf10 probes
    spark.conf.set("spark.graft.stage.diskOnly", "true")
    try {
      val staged = ScaleOps.stage(df)
      assert(staged.count() === 1000L)
      val info = spark.sparkContext.getRDDStorageInfo
      assert(info.exists(i =>
        i.storageLevel.useDisk && !i.storageLevel.useMemory),
        s"no DISK_ONLY block found in ${info.map(_.storageLevel).toSeq}")
      // results identical across the two paths
      assert(staged.as[Long].collect().sorted
        .sameElements(ScaleOps.stage(df).as[Long].collect().sorted))
    } finally spark.conf.unset("spark.graft.stage.diskOnly")
  }

  test("partition-pruned range predicate composes month + row bounds") {
    val df = Seq(
      ("2020-03", "2020-03-05"), ("2020-04", "2020-04-20"),
      ("2020-06", "2020-06-01")).toDF("month", "d")
    val got = df.filter(ScaleOps.partitionPrunedRange(
        $"month", $"d", "2020-03-04", "2020-04-30"))
      .select("d").as[String].collect().sorted
    assert(got.sameElements(Array("2020-03-05", "2020-04-20")))
  }
}
