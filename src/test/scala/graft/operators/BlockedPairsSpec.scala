package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{GraftFunctions => G}
import graft.operators.{VectorOps => V}

/** The production-blocked embedding pair generator
  * ([[VectorOps.blockedCosinePairs]]) against its two contracts:
  *
  *  1. EXACTNESS — pair-set (and therefore dedup-group) equivalence to
  *     the unblocked all-pairs form, on the driver corpus at TWO scale
  *     factors and on an adversarial clustered corpus. The triangle
  *     bound θ(ca,cb) ≤ r_a + θ_τ + r_b may only ever prune cell pairs
  *     that cannot hold a qualifying pair, regardless of centroid
  *     quality.
  *  2. PRUNING — on a corpus with real cluster structure and a
  *     dedup-grade τ, the candidate stage must examine strictly fewer
  *     pairs than n(n-1)/2 (this is WHY the operator exists; the flat
  *     driver corpus admits no exact pruning, so that regime is proved
  *     here, not by the gate).
  *
  * Plus the trained-centroid equivalences the round-5 verdict asked to
  * gate: kmeansFit(seeded) centroids driving the IVF probe at full
  * nprobe must reproduce brute-force top-k exactly, and kmeansFit
  * per-subspace PQ codebooks must quantize no worse than the
  * first-16-rows stand-in codebooks.
  */
class BlockedPairsSpec extends SparkSpec {
  import spark.implicits._

  private def emb(sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  private def allPairs(e: DataFrame, tau: Double): DataFrame = {
    val a = e.select(col("vec_id").as("id_a"), col("label"),
      col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("label"),
      col("v").as("vb"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(G.cosineSim(col("va"), col("vb")), 6) >= tau)
      .select("id_a", "id_b")
  }

  for (sf <- Seq("0.001", "0.01"))
    test(s"blocked pair generation == all-pairs on the flat corpus, sf$sf") {
      val e = emb(s"/root/testdata/sf$sf")
      val cents = V.kmeansFit(e, k = 8, iters = 2)
      val blocked = V.blockedCosinePairs(e, cents, 0.35, Seq("label"))
      val brute = allPairs(e, 0.35)
      assert(blocked.exceptAll(brute).isEmpty &&
        brute.exceptAll(blocked).isEmpty)
      assert(brute.count() > 0) // the corpus exercises the pair path
    }

  // Clustered corpus: 3 tight bundles (~5° spread) around
  // near-orthogonal axes, ONE dedup domain (constant label). A
  // dedup-grade τ (0.9, θ_τ ≈ 26°) makes cross-bundle cell pairs
  // inadmissible — the regime the operator is FOR. vec_ids interleave
  // the bundles so kmeansFit's smallest-k seeds span all three.
  private def clustered(): DataFrame = {
    val axes = Seq(
      Seq(1.0, 0.0, 0.0, 0.1), Seq(0.0, 1.0, 0.0, -0.1),
      Seq(0.0, 0.0, 1.0, 0.1))
    val rows = for {
      c <- 0 until 3
      i <- 0 until 40
    } yield {
      // deterministic small perturbation around the axis
      val d = Seq.tabulate(4)(j =>
        axes(c)(j) + 0.04 * math.sin(1.0 + i * (j + 2) * 0.7))
      ((i * 3 + c).toLong, "x", d)
    }
    rows.toDF("vec_id", "label", "v")
  }

  test("clustered corpus: exact AND actually pruning (candidates < all-pairs)") {
    val e = clustered()
    val cents = V.kmeansFit(e, k = 6, iters = 3)
    val tau = 0.9
    val blocked = V.blockedCosinePairs(e, cents, tau, Seq("label"))
    // exactness against the unblocked form on hostile (clustered) data
    val brute = allPairs(e, tau)
    assert(blocked.exceptAll(brute).isEmpty &&
      brute.exceptAll(blocked).isEmpty)
    assert(brute.count() > 0)
    // pruning: the candidate stage must examine well under n(n-1)/2
    // pairs — cross-bundle cell pairs (θ ≈ 90° ≫ θ_τ + r_a + r_b) are
    // pruned wholesale. n=120 would brute-force 7140 pairs; the
    // cell-blocked candidates stay within the bundles (≈ 2340). (The
    // factor-2 headroom keeps the assertion robust to centroid
    // placement, not to a pruning regression.)
    val nCand = V.blockedCosineCandidates(e, cents, tau, Seq("label")).count()
    val nBrute = 120L * 119L / 2L
    assert(nCand < nBrute / 2, s"candidates $nCand vs brute $nBrute")
  }

  test("q74's star-reduction cap never fires at the gate SFs") {
    // the q74 oracle mirrors the UNguarded within-cell all-pairs; that
    // is only valid while no cell exceeds the guard's cap. The cap is
    // now DERIVED — max(512, 8·⌈√n⌉), round-6 advice — so this
    // observes the diagnostic twin with the same rule at each SF
    // (expected cell size is √n, so the margin is the 8× skew factor
    // at any scale; this pins it).
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = emb(s"/root/testdata/sf$sf")
      val nl = e.agg(ceil(sqrt(count(lit(1)))).cast("long").as("nl"))
      val cents = e.crossJoin(broadcast(nl))
        .filter(col("vec_id") < col("nl"))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = V.assignToCentroids(e, cents)
      val cap = math.max(512L, 8L * nl.head().getLong(0)).toInt
      val fired = ScaleOps.starReducedBuckets(
        assigned.select(col("cluster"), col("vec_id")),
        Seq("cluster"), "vec_id", bucketCap = cap).count()
      assert(fired === 0L, s"cap $cap fired at sf$sf — q74 oracle invalid")
    }
  }

  test("kmeansFit centroids + full-probe IVF == brute-force top-k") {
    val e = emb("/root/testdata/sf0.001")
    val cents = V.kmeansFit(e, k = 16, iters = 3)
    val ivf = V.ivfProbeTopK(e, cents, queryVecId = 0, nprobe = 16, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = V.bruteTopK(e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf === brute)
  }

  test("kmeansFit per-subspace PQ codebooks quantize no worse than stand-ins") {
    val m = 8
    val dsub = 8
    val e = emb("/root/testdata/sf0.001")
    val subs = e
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("v"))
    def sqd = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    // total squared quantization error of assigning every subvector to
    // its nearest codeword, for a given per-subspace codebook
    def totalErr(cb: DataFrame): Double =
      subs.join(broadcast(cb), Seq("sub"))
        .withColumn("d", sqd(col("v"), col("cv")))
        .groupBy("vec_id", "sub").agg(min("d").as("d"))
        .agg(sum("d")).head().getDouble(0)
    val trained = (0 until m).map { s =>
      V.kmeansFit(subs.filter(col("sub") === s).drop("sub"), k = 16, iters = 3)
        .withColumn("sub", lit(s))
    }.reduce(_ unionByName _).select("sub", "cid", "cv")
    val standIn = subs.filter(col("vec_id") < 16)
      .select(col("sub"), col("vec_id").as("cid"), col("v").as("cv"))
    val (et, es) = (totalErr(trained), totalErr(standIn))
    assert(et <= es, s"trained codebooks worse than stand-ins: $et > $es")
  }

  // ---- kmeansFit: one job per Lloyd iteration ----

  /** The SQL Lloyd iteration kmeansFit ran before its one-job form —
    * broadcast crossJoin + argmax, posexplode, per-position avg, four
    * shuffles per iteration — kept as the reference its output must
    * match.
    */
  private def sqlKmeans(e: DataFrame, k: Int, iters: Int): Map[Int, Seq[Double]] = {
    var cents: Seq[(Int, Seq[Double])] = e.orderBy("vec_id").limit(k)
      .select(col("v")).as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    for (_ <- 1 to iters) {
      val cdf = broadcast(cents.toDF("cid", "cv"))
      val updated = e.crossJoin(cdf)
        .withColumn("cc", G.cosineSim(col("v"), col("cv").cast("array<double>")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("cc"), -col("cid"))).as("cid"),
          first(col("v")).as("v"))
        .select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv"))
        .as[(Int, Seq[Double])].collect().toMap
      cents = cents.map { case (cid, prev) =>
        (cid, updated.getOrElse(cid, prev))
      }
    }
    cents.toMap
  }

  private def fit(e: DataFrame, k: Int, iters: Int): Map[Int, Seq[Double]] = {
    val out = V.kmeansFit(e, k, iters)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq(("cid", "int"), ("cv", "array<double>")))
    out.as[(Int, Seq[Double])].collect().toMap
  }

  private def assertSameCentroids(got: Map[Int, Seq[Double]],
                                  want: Map[Int, Seq[Double]]): Unit = {
    assert(got.keySet === want.keySet)
    for ((cid, w) <- want) {
      val g = got(cid)
      assert(g.length === w.length, s"cid $cid dim")
      g.zip(w).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9, s"cid $cid: $a vs $b")
      }
    }
  }

  for (sf <- Seq("0.001", "0.01"); (k, iters) <- Seq((8, 2), (16, 3)))
    test(s"kmeansFit($k, $iters) == the SQL Lloyd iteration, sf$sf") {
      val e = emb(s"/root/testdata/sf$sf")
      assertSameCentroids(fit(e, k, iters), sqlKmeans(e, k, iters))
    }

  test("kmeansFit == the SQL Lloyd iteration on the clustered corpus, " +
    "including k above the natural cluster count") {
    val e = clustered()
    for ((k, iters) <- Seq((6, 3), (10, 3))) {
      val got = fit(e, k, iters)
      assert(got.size === k)
      assertSameCentroids(got, sqlKmeans(e, k, iters))
    }
  }

  test("kmeansFit edge cases: a null vector contributes nothing; " +
    "identical seeds tie toward the smaller cid") {
    val e = clustered()
    val withNull = e.union(Seq((1000L, "x", null: Seq[Double]))
      .toDF("vec_id", "label", "v"))
    val base = fit(e, 6, 3)
    assert(fit(withNull, 6, 3) === base)
    assertSameCentroids(base, sqlKmeans(withNull, 6, 3))
    // vec_id -1 duplicates vec_id 0: seeds cid 0 and cid 1 are the same
    // vector, every member ties between them and goes to cid 0, and
    // cid 1 keeps its seed
    val seed0 = e.filter(col("vec_id") === 0L).select("v").as[Seq[Double]].head()
    val twin = e.union(Seq((-1L, "x", seed0)).toDF("vec_id", "label", "v"))
    val once = fit(twin, 4, 1)
    assert(once(1) === seed0)
    assert(once(0) != seed0)
    assertSameCentroids(once, sqlKmeans(twin, 4, 1))
    assertSameCentroids(fit(twin, 4, 2), sqlKmeans(twin, 4, 2))
  }

  test("kmeansFit(e, 8, 2) runs 3 Spark jobs: the seed collect and one " +
    "per iteration") {
    val e = emb("/root/testdata/sf0.001")
    val (cents, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
      V.kmeansFit(e, k = 8, iters = 2)
    }
    assert(jobs === 3)
    assert(cents.count() === 8)
  }
}
