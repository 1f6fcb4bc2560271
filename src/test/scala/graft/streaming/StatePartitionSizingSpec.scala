package graft.streaming

import graft.SparkSpec

/** Pins the r14 optimization-round sizing rule for streaming drains:
  * state/shuffle partition count derives from the staged slice bytes
  * (8 MB per partition by default), clamped to [1, session shuffle
  * partitions] — never the session core-count constant. Guards the
  * two failure modes the rule exists to avoid: paying a per-partition
  * state-store commit per micro-batch for KB-scale gates, and
  * UNDER-partitioning a cluster sitting (the clamp means the session
  * value is the ceiling, so a big input saturates it, never exceeds
  * it).
  */
class StatePartitionSizingSpec extends SparkSpec {

  private def dirWithBytes(n: Long): String = {
    val d = tempDir("graft-spart")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "batch000.parquet"),
      new Array[Byte](n.toInt))
    d
  }

  test("tiny staged input sizes to ONE state partition") {
    val dir = dirWithBytes(100 * 1024) // 100 KB — every gate's scale
    assert(graft.queries.StreamingQueries
      .statePartitionsFor(spark, Seq(dir)) === 1)
  }

  test("partition count grows with staged bytes and clamps at the session value") {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // 3 partitions' worth at the default 8 MB target
    val mid = dirWithBytes(20L << 20)
    assert(graft.queries.StreamingQueries
      .statePartitionsFor(spark, Seq(mid)) === math.min(3, cur))
    // far past the ceiling: clamps to the session value, never above
    val dirs = (1 to 8).map(_ => dirWithBytes(8L << 20)).toSeq
    val big = graft.queries.StreamingQueries
      .statePartitionsFor(spark, dirs ++ dirs)
    assert(big === cur)
  }

  test("two-source drains sum both staged dirs; missing dirs count zero") {
    val a = dirWithBytes(5L << 20)
    val b = dirWithBytes(5L << 20)
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // 10 MB total → 2 partitions at the 8 MB target
    assert(graft.queries.StreamingQueries
      .statePartitionsFor(spark, Seq(a, b)) === math.min(2, cur))
    assert(graft.queries.StreamingQueries
      .statePartitionsFor(spark, Seq("/nonexistent/graft/dir")) === 1)
  }

  test("the per-partition byte target is conf-overridable") {
    val dir = dirWithBytes(4L << 20)
    spark.conf.set("spark.graft.stream.bytesPerStatePartition",
      (1L << 20).toString)
    try {
      val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(graft.queries.StreamingQueries
        .statePartitionsFor(spark, Seq(dir)) === math.min(4, cur))
    } finally spark.conf
      .unset("spark.graft.stream.bytesPerStatePartition")
  }

  test("a malformed override fails loudly, naming key and value") {
    val dir = dirWithBytes(100 * 1024)
    spark.conf.set("spark.graft.stream.bytesPerStatePartition",
      "eight-megabytes")
    val err =
      try intercept[IllegalArgumentException](graft.queries.StreamingQueries
        .statePartitionsFor(spark, Seq(dir)))
      finally spark.conf
        .unset("spark.graft.stream.bytesPerStatePartition")
    assert(err.getMessage.contains(
      "spark.graft.stream.bytesPerStatePartition") &&
      err.getMessage.contains("eight-megabytes"))
  }

  // r15: the same rule applied to iterative-graph edge tables
  // (ScaleOps.edgeWidth — q134/q178/q190/connectedComponents). Width 1
  // means "keep the AQE-coalesced shape, skip the spread pass": the
  // r14 full-session-width device was a driver-measured net cost at
  // gate scale.
  test("edgeWidth: tiny edge tables keep width 1 (including the 2-3 " +
    "block dead zone — the spread must buy >= 4 blocks to pay for " +
    "itself), width grows with bytes and clamps at the session value") {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(graft.operators.ScaleOps.edgeWidth(spark, 100 * 1024) === 1)
    // 20 MB -> raw width 3 -> below the minimum-spread gate -> 1
    assert(graft.operators.ScaleOps.edgeWidth(spark, 20L << 20) === 1)
    // 40 MB -> width 5, past the gate (session width permitting)
    assert(graft.operators.ScaleOps.edgeWidth(spark, 40L << 20) ===
      (if (cur >= 4) math.min(5, cur) else 1))
    assert(graft.operators.ScaleOps.edgeWidth(spark, 1L << 40) ===
      (if (cur >= 4) cur else 1))
    // a malformed override fails loudly, like the streaming knob
    spark.conf.set("spark.graft.graph.bytesPerEdgePartition", "lots")
    val err =
      try intercept[IllegalArgumentException](
        graft.operators.ScaleOps.edgeWidth(spark, 100 * 1024))
      finally spark.conf.unset("spark.graft.graph.bytesPerEdgePartition")
    assert(err.getMessage.contains("spark.graft.graph.bytesPerEdgePartition")
      && err.getMessage.contains("'lots'"))
  }

  test("edgeWidth: per-partition byte target is conf-overridable; " +
    "pathBytes counts files recursively and 0 when absent") {
    spark.conf.set("spark.graft.graph.bytesPerEdgePartition",
      (1L << 20).toString)
    try {
      val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(graft.operators.ScaleOps.edgeWidth(spark, 4L << 20) ===
        (if (cur >= 4) math.min(4, cur) else 1))
    } finally spark.conf.unset("spark.graft.graph.bytesPerEdgePartition")
    val d = dirWithBytes(3 << 10)
    assert(graft.operators.ScaleOps.pathBytes(d) === (3 << 10))
    assert(graft.operators.ScaleOps.pathBytes("/nonexistent/graft") === 0L)
  }
}
