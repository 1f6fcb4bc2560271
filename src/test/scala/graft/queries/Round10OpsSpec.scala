package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Unit fixtures for the round-10 additions: each test pins the
  * operator's contract on a hand-computable input (the sf-scale
  * DuckDB gate checks the full-table behavior; these check the
  * EDGE semantics a small gate can miss).
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  // ---- q255 t-closeness ----

  private def customerDir(rows: Seq[(Long, Int, Double, String)]): String = {
    val dir = tempDir("r10cust")
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("q255: variational distance is exact integer arithmetic; " +
    "skewed and tiny groups trip the 0.3 threshold, balanced ones don't") {
    // global: A=6, B=3, N=9. nat1 = balanced {A,B}x2 split over two
    // balance buckets; nat2 = all-A (skewed); nat3 = one B (tiny).
    val dir = customerDir(Seq(
      (1L, 1, 500.0, "A"), (2L, 1, 500.0, "B"),
      (3L, 1, 1500.0, "A"), (4L, 1, 1500.0, "B"),
      (5L, 2, 500.0, "A"), (6L, 2, 500.0, "A"),
      (7L, 2, 500.0, "A"), (8L, 2, 500.0, "A"),
      (9L, 3, 500.0, "B")))
    val out = q("q255_t_closeness", dir).collect()
      .map(r => r.getAs[Int]("level") ->
        ((r.getAs[Long]("n_groups"), r.getAs[Long]("max_t_micro"),
          r.getAs[Long]("risky_groups"), r.getAs[Long]("risky_rows"))))
      .toMap
    // nat1 groups: num = |1*9-6*2| + |1*9-3*2| = 6 -> 6*5e5/18 = 166666
    // nat2: num = |36-24| + |0-12| = 24 -> 24*5e5/36 = 333333 (risky)
    // nat3: num = |0-6| + |9-3| = 12 -> 12*5e5/9 = 666666 (risky)
    assert(out(0) === ((4L, 666666L, 2L, 5L)))
    // level 1 merges nat1's two buckets: num = 12 over n=4 -> 166666
    assert(out(1) === ((3L, 666666L, 2L, 5L)))
  }

  // ---- q256 MoE routing ----

  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("r10emb")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q256: top-2 cosine gating routes each token, gate ties break " +
    "by expert id, and ZERO-load experts still report") {
    // experts 0=[1,0], 1=[0,1], 2..7=[-1,0] (identical — tie fodder)
    val experts = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0)) ++
      (2L to 7L).map(i => (i, Seq(-1f, 0f), 0))
    val toks = Seq(
      (8L, Seq(1f, 0.1f), 1),  // top1 e0, top2 e1
      (9L, Seq(0.1f, 1f), 1),  // top1 e1, top2 e0
      (10L, Seq(-1f, 0f), 1))  // cos=1 with e2..e7 -> e2 top1, e3 top2
    val out = q("q256_moe_routing", embDir(experts ++ toks)).collect()
      .map(r => r.getAs[Long]("expert") ->
        ((r.getAs[Long]("n_top1"), r.getAs[Long]("n_top2"),
          r.getAs[Long]("sum_top1_micro"),
          r.getAs[Long]("load_factor_micro"))))
      .toMap
    assert(out.size === 8) // every expert reports, loaded or not
    // cos([1, 0.1f], [1, 0]) = 1/sqrt(1 + 0.1f^2) -> 995037 micro
    assert(out(0L) === ((1L, 1L, 995037L, 2666666L)))
    assert(out(1L) === ((1L, 1L, 995037L, 2666666L)))
    assert(out(2L) === ((1L, 0L, 1000000L, 2666666L))) // tie -> min id
    assert(out(3L) === ((0L, 1L, 0L, 0L)))             // tie runner-up
    (4L to 7L).foreach(e => assert(out(e) === ((0L, 0L, 0L, 0L))))
  }

  // ---- q258 padding waste ----

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("r10doc")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q258: alternating 1/100-token docs waste ~half the batch " +
    "naively and nothing once length-bucketed") {
    val rows = (1L to 16L).map(i =>
      (i, if (i % 2 == 1) "a" else Seq.fill(100)("w").mkString(" ")))
    val out = q("q258_padding_waste", docsDir(rows)).collect()
      .map(r => r.getAs[String]("strategy") ->
        ((r.getAs[Long]("n_batches"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("padded_tokens"), r.getAs[Long]("waste_micro"))))
      .toMap
    // naive: two mixed batches, each max 100 x 8 = 800 vs 404 real
    assert(out("naive_by_id") === ((2L, 808L, 792L, 495000L)))
    // bucketed: all-1 batch + all-100 batch, zero padding
    assert(out("length_bucketed") === ((2L, 808L, 0L, 0L)))
  }

  // ---- q259 cross-fold dedup leakage ----

  test("q259: a dup group spanning folds leaks exactly " +
    "(N^2 - sum n_i^2)/2 pairs; intra-fold pairs are the rest") {
    // group X: ids 1,2,3 share a text; group Y: ids 4,5; 6,7 unique
    val rows = Seq(
      (1L, "dup one"), (2L, "dup one"), (3L, "dup one"),
      (4L, "dup two"), (5L, "dup two"),
      (6L, "solo a"), (7L, "solo b"))
    def fold(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"fold:$id".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16) % 5).toInt
    }
    def pairs(ids: Seq[Long]): (Long, Long) = {
      val n = ids.size.toLong
      val sq = ids.groupBy(fold).values.map(g => g.size.toLong * g.size)
        .sum
      val leaked = (n * n - sq) / 2
      (leaked, n * (n - 1) / 2 - leaked)
    }
    val (lx, ix) = pairs(Seq(1L, 2L, 3L))
    val (ly, iy) = pairs(Seq(4L, 5L))
    val r = q("q259_fold_leakage", docsDir(rows)).collect().head
    assert(r.getAs[Long]("n_dup_groups") === 2L)
    assert(r.getAs[Long]("leaked_pairs") === lx + ly)
    assert(r.getAs[Long]("intra_fold_pairs") === ix + iy)
    val leaky = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L))
      .count(_.map(fold).distinct.size >= 2).toLong
    assert(r.getAs[Long]("n_leaky_groups") === leaky)
  }

  // ---- q263 shard lineage ----

  test("q263: the fingerprint is the xor of surviving contributors — " +
    "dedup losers and floor rejects don't contribute") {
    def h(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val five = "a b c d e"
    val rows = Seq(
      (1L, five),            // kept
      (2L, five),            // exact dup of 1 -> loses keep-min
      (3L, "a b c d e f"),   // kept
      (4L, "a b"))           // below the 5-token floor
    val dir = tempDir("r10lin")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q263_shard_lineage", dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("sum_tokens") === 11L)
    assert(r.getAs[Long]("lineage_hash") === (h(1L) ^ h(3L)))
  }

  // ---- q264 cascade delete ----

  test("q264: the cascade removes exactly the erased parents' child " +
    "rows, zero orphans, one commit per table") {
    val dir = tempDir("r10casc")
    // parents 1..7 (7 erased by %7); children: 2 rows for id 7,
    // 1 row each for 1..6
    (1L to 7L).map(i => (i, s"2020-0${(i % 3 + 1)}", i * 100.0))
      .toDF("o_orderkey", "o_orderdate_s", "o_totalprice")
      .withColumn("o_orderdate",
        to_timestamp(concat(col("o_orderdate_s"), lit("-01"))))
      .drop("o_orderdate_s")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    ((1L to 6L).map(i => (i, 1, 2.0)) ++ Seq((7L, 1, 2.0), (7L, 2, 3.0)))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = q("q264_cascade_delete", dir).collect().head
    assert(r.getAs[Long]("parent_rows") === 6L)
    assert(r.getAs[Long]("child_rows") === 6L)
    assert(r.getAs[Long]("cascade_deleted") === 2L)
    assert(r.getAs[Long]("cascade_ins_upd") === 0L)
    assert(r.getAs[Long]("orphans") === 0L)
    assert(r.getAs[Long]("parent_version") === 1L)
    assert(r.getAs[Long]("child_version") === 1L)
  }

  // ---- q260 streaming late-drop ----

  test("q260: a late row in the last micro-batch is DROPPED from its " +
    "already-closed window; the final day's window never emits") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    def arr(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"arr:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    // replay the harness's arrival shuffle to learn slice membership,
    // then plant one day-1 row in slice 1 (survives) and one in
    // slice 3 (late once slice 1's day-5 rows advance the watermark)
    val ids = (1L to 9L)
    val sorted = ids.sortBy(id => (arr(id), id))
    val day1 = Set(sorted.head, sorted(6))
    val rows = ids.map(id => (id,
      if (day1(id)) at("2024-01-01 12:00:00")
      else at("2024-01-05 12:00:00"),
      id, "view", 1.0))
    val dir = tempDir("r10wm")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q260_streaming_late_drop", dir).collect()
      .map(r => (r.getAs[String]("day"), r.getAs[String]("event_type"),
        r.getAs[Long]("n")))
    // watermark while batch 3 runs = slice 1's max (day 5) − 1h: the
    // day-1 window (end Jan 2) is long closed, so slice 3's day-1 row
    // drops — count stays 1, not 2. The day-5 window (end Jan 6 >
    // final watermark Jan 5 11:00) is withheld entirely.
    assert(out.toSeq === Seq(("2024-01-01", "view", 1L)))
  }

  // ---- q274 multimodal packing ----

  test("q274: an image sample bills its ViT patch tokens on top of " +
    "its text tokens; packing follows the start-offset rule") {
    // doc 3 (%3==0) carries the image: n_chars=5 -> dims 37x37 ->
    // (37 div 14)^2 = 4 patch tokens
    val rows = Seq((1L, "a b"), (2L, "c"), (3L, "d e f"))
    val out = q("q274_multimodal_packing", docsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("win") === 0L)
    assert(r.getAs[Long]("n_samples") === 3L)
    assert(r.getAs[Long]("text_tokens") === 6L)
    assert(r.getAs[Long]("patch_tokens") === 4L)
    assert(r.getAs[Long]("n_images") === 1L)
  }

  // ---- q270 JL projection audit ----

  test("q270: md5-parity signs replay exactly; the ratio is pure " +
    "integer arithmetic on milli components") {
    def sign(j: Int, d: Int): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$j:$d".getBytes("UTF-8"))
      1L - 2L * (java.lang.Long.parseLong(
        dig.map("%02x".format(_)).mkString.take(15), 16) % 2)
    }
    val dir = tempDir("r10jl")
    Seq((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = q("q270_jl_projection_audit", dir).collect()
    assert(r.length === 1)
    val d2p = (0 until 16).map { j =>
      val diff = sign(j, 0) * 1000L - sign(j, 1) * 1000L
      diff * diff
    }.sum
    assert(r.head.getAs[Long]("d2_orig") === 2000000L)
    assert(r.head.getAs[Long]("d2_proj") === d2p)
    assert(r.head.getAs[Long]("ratio_micro") ===
      d2p * 1000000L / (16L * 2000000L))
  }

  // ---- q269 sliding windows ----

  test("q269: every event lands in exactly 4 overlapping 1d/6h " +
    "windows; two events 6h apart overlap in 3") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, at("2024-01-10 01:00:00"), 1L, "view", 1.0),
      (2L, at("2024-01-10 07:00:00"), 1L, "view", 1.0))
    val dir = tempDir("r10sw")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q269_sliding_window", dir).collect()
      .map(r => r.getAs[Long]("slot_off") -> r.getAs[Long]("n")).toMap
    assert(out === Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 1L))
  }

  // ---- q268 Heaps' law ----

  test("q268: all-unique vocabulary fits beta=1 exactly, a recycled " +
    "corpus fits beta=0; cumulative counts are per-decile exact") {
    def dirOf(rows: Seq[(Long, String)]): String = {
      val dir = tempDir("r10hp")
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // doc i carries i globally-unique tokens -> vocab == tokens at
    // every decile -> x == y -> slope exactly 1
    val unique = (1L to 10L).map(i =>
      (i, (1L to i).map(j => s"t${i}_$j").mkString(" ")))
    val o1 = q("q268_heaps_law", dirOf(unique)).collect()
    assert(o1.length === 10)
    o1.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(r.getAs[Long]("tokens_cum") === d * (d + 1) / 2)
      assert(r.getAs[Long]("vocab_cum") === d * (d + 1) / 2)
      assert(r.getAs[Long]("beta_micro") === 1000000L)
    }
    // every doc the same single token -> vocab pinned at 1 -> slope 0
    val recycled = (1L to 10L).map(i => (i, "z"))
    val o2 = q("q268_heaps_law", dirOf(recycled)).collect()
    o2.foreach { r =>
      assert(r.getAs[Long]("vocab_cum") === 1L)
      assert(r.getAs[Long]("beta_micro") === 0L)
    }
  }

  // ---- q267 crypto shredding ----

  test("q267: forgetting a user deletes ONE key row; their payloads " +
    "stay on disk but unreadable, survivors decrypt bit-for-bit") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, at("2024-01-01 10:00:00"), 7L, "view", 1.25), // user 7 shredded
      (2L, at("2024-01-01 10:00:00"), 7L, "view", 2.5),
      (3L, at("2024-01-01 10:00:00"), 1L, "view", 3.5),
      (4L, at("2024-01-01 10:00:00"), 2L, "view", 4.0))
    val dir = tempDir("r10shred")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = q("q267_crypto_shred", dir).collect().head
    assert(r.getAs[Long]("n_readable") === 2L)
    assert(r.getAs[Long]("n_shredded") === 2L)
    assert(r.getAs[Long]("sum_decrypted_micro") === 7500000L)
    assert(r.getAs[Long]("sum_original_micro") === 7500000L)
    assert(r.getAs[Long]("lossless") === 1L)
  }

  // ---- q265 bounded-state streaming dedup ----

  test("q265: cross-batch duplicate suppressed while state lives, " +
    "late duplicate dropped, exact-watermark event dropped (strict)") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    def arr(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ddw:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ids = (1L to 9L)
    val sorted = ids.sortBy(id => (arr(id), id))
    // slice 1 anchors the watermark at Jan-05 12:00 − 2h = 10:00
    val ts = Map(
      sorted(0) -> (1L, "2024-01-01 12:30:00"),
      sorted(1) -> (2L, "2024-01-05 12:30:00"),
      sorted(2) -> (3L, "2024-01-05 11:30:00"),
      sorted(3) -> (4L, "2024-01-05 09:30:00"),
      sorted(4) -> (5L, "2024-01-05 08:30:00"),
      sorted(5) -> (6L, "2024-01-05 07:30:00"),
      // slice 3, watermark Jan-05 10:00 now in force:
      sorted(6) -> (1L, "2024-01-01 12:45:00"), // LATE -> dropped
      sorted(7) -> (2L, "2024-01-05 12:59:00"), // dup, state alive -> suppressed
      sorted(8) -> (9L, "2024-01-05 10:30:00")) // hts == wm -> strict drop
    val rows = ids.map(id => (id, at(ts(id)._2), ts(id)._1, "view", 1.0))
    val dir = tempDir("r10ddw")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q265_streaming_dedup_watermark", dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("hr"))).toSet
    assert(out === Set(
      (1L, "2024-01-01-12"), (2L, "2024-01-05-12"),
      (3L, "2024-01-05-11"), (4L, "2024-01-05-09"),
      (5L, "2024-01-05-08"), (6L, "2024-01-05-07")))
  }

  // ---- q261 dyadic quantile sketch ----

  test("q261: power-of-2 buckets cover the nearest rank, the estimate " +
    "is the covering bucket's upper bound, error is exact-integer") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = (1 to 8).map(i =>
      (i.toLong, at("2024-01-01 10:00:00"), i.toLong, "view", i.toDouble))
    val dir = tempDir("r10q")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("q261_dyadic_quantile_sketch", dir).collect()
      .map(r => r.getAs[Long]("p") ->
        ((r.getAs[Long]("est_micro"), r.getAs[Long]("exact_micro"),
          r.getAs[Long]("rel_err_micro")))).toMap
    // vm = i*1e6; buckets (floor log2): 1e6->19, 2e6->20, 3-4e6->21,
    // 5-8e6->22; p50 rank 4 covers at bucket 21 -> est 2^22-1
    assert(out(50L) === ((4194303L, 4000000L, 48575L)))
    // p95/p99 rank 8 -> bucket 22 -> est 2^23-1 vs exact 8e6
    assert(out(95L) === ((8388607L, 8000000L, 48575L)))
    assert(out(99L) === ((8388607L, 8000000L, 48575L)))
  }

  // ---- q257 deterministic DP release ----

  test("q257: the Laplace draw replays from the cell's md5 — noise " +
    "is the exact inverse-CDF value, released = count + noise") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = (1 to 7).map(i =>
      (i.toLong, at("2024-03-05 10:00:00"), i.toLong, "view", 1.0)) ++
      (1 to 2).map(i =>
        (100L + i, at("2024-04-01 10:00:00"), 1L, "view", 1.0))
    val dir = tempDir("r10dp")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // JVM replay of the draw (independent of the Spark plan)
    def noise(cell: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(cell.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val u = (2.0 * h + 1.0) / 2.0 / math.pow(2.0, 60)
      val lap = -math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      math.round(lap * 1e6)
    }
    val out = q("q257_dp_laplace_release", dir).collect()
      .map(r => r.getAs[String]("month") ->
        ((r.getAs[Long]("released_micro"), r.getAs[Long]("err_micro"))))
      .toMap
    val n3 = noise("dp:view:2024-03")
    val n4 = noise("dp:view:2024-04")
    assert(out("2024-03") === ((7000000L + n3, math.abs(n3))))
    assert(out("2024-04") === ((2000000L + n4, math.abs(n4))))
    // the mechanism adds REAL noise (a zero draw would mean the md5
    // key collapsed) and it stays in the plausible Laplace(1) range
    assert(math.abs(n3) > 0 && math.abs(n3) < 40000000L)
  }
}
