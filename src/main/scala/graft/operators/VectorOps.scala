package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  JoinedRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
  StructType}

import graft.functions.{GraftFunctions => G}
import graft.functions.expressions.VectorImpl

/** Blocked EXACT nearest-neighbor over embeddings.
  *
  * LSH banding bounds the pair space but cannot guarantee the true NN
  * survives when neighbors sit at 60–90° (this corpus: hyperplane-band
  * recall of the true top-10 is ~0.1 at 8×8 bits — measured before q46
  * was re-banded). For a per-vector NN whose output must be EXACT, the
  * sound scale device is metric pruning: angular distance satisfies
  * the triangle inequality, so with vectors assigned to coarse
  * centroids, θ(q,x) ≥ θ(q,c) − max_{y∈c} θ(y,c) for every member x of
  * cluster c — any cluster whose lower bound exceeds the query's
  * current best cannot contain its NN and is skipped wholesale
  * (FAISS-IVF-style exact search re-expressed as dataflow).
  *
  * Work shape: assignment N×K (broadcast centroids), seed pass ≈ N²/K
  * (within own cluster), then only un-pruned clusters verify. On
  * clustered data the verify stage collapses toward N²/K; on
  * adversarially uniform data it degrades toward all-pairs but NEVER
  * loses exactness — correctness does not depend on the data being
  * kind.
  */
object VectorOps {

  private def clamp(c: Column): Column =
    least(lit(1.0), greatest(lit(-1.0), c))

  /** Spherical k-means (cosine metric) for IVF coarse centroids —
    * Lloyd's iterations over ONE planned scan of `v`. The centroid set
    * is bounded metadata (k × dim doubles), so it travels in the task
    * closure: each iteration is one `mapPartitions` job with no
    * shuffle, in which every partition assigns its rows to their
    * nearest centroid and returns one partial of per-(cid, position)
    * sums and counts; the driver merges the P partials in partition
    * order (deterministic run to run) and divides. Work per iteration:
    * one scan of `e`, N×k cosines on the executors, P × k × dim
    * doubles collected — no shuffle, no per-iteration Catalyst plan,
    * constant driver memory, no lineage growth. Seeded from the k
    * smallest `vec_id`s (one `orderBy.limit` collect), so a fit costs
    * 1 + iters jobs.
    *
    * The assignment is the SQL argmax `max_by(cid, struct(cos, -cid))`
    * over the same [[VectorImpl.cosine]] that `cosineSim` calls:
    * largest unrounded cosine in Spark's double order (NaN largest,
    * -0.0 = 0.0, a null centroid below any cosine), ties toward the
    * smaller cid. Each row is one vector. A centroid is its members'
    * per-position mean (ragged arrays average each position over the
    * members that have it; null vectors and null elements contribute
    * nothing); a cluster that captured no element keeps its previous
    * centroid, so the result always has exactly k rows when `e` has at
    * least k.
    *
    * @return (cid, cv) centroid DataFrame, directly usable as the
    *         `cents` input of [[exactNnPerVector]] / the q35 probe.
    */
  def kmeansFit(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var cents: Seq[(Int, Seq[Double])] = e.orderBy("vec_id").limit(k)
      .select(col("v")).as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    // planned once: every iteration runs a job over the same rows
    val rows = e.select(col("v").cast("array<double>")).queryExecution.toRdd
    for (_ <- 1 to iters) {
      val cvs = cents.map(c => if (c._2 == null) null else c._2.toArray).toArray
      val total = rows.mapPartitions { it =>
        val cs: Array[ArrayData] = cvs.map(c =>
          if (c == null) null else UnsafeArrayData.fromPrimitiveArray(c))
        val acc = new LloydSums(cs.length)
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val v = r.getArray(0)
            acc.add(nearest(v, cs), v)
          }
        }
        Iterator(acc)
      }.collect().foldLeft(new LloydSums(cvs.length))(_.merge(_))
      cents = cents.map { case (cid, prev) =>
        (cid, total.mean(cid).getOrElse(prev))
      }
    }
    cents.toDF("cid", "cv").select(col("cid"), col("cv").cast("array<double>").as("cv"))
  }

  /** [[kmeansFit]]'s assignment: the index of the centroid with the
    * largest cosine to `v` in Spark's double order, the smaller index
    * on ties; a null centroid loses to any non-null one.
    */
  private def nearest(v: ArrayData, cs: Array[ArrayData]): Int = {
    var best = -1
    var bestCos = Double.NaN
    var c = 0
    while (c < cs.length) {
      if (cs(c) != null) {
        val cc = VectorImpl.cosine(v, cs(c))
        if (best < 0 || cs(best) == null ||
            SQLOrderingUtil.compareDoubles(cc, bestCos) > 0) {
          best = c
          bestCos = cc
        }
      } else if (best < 0) best = c
      c += 1
    }
    best
  }

  /** A [[kmeansFit]] partial: per centroid, the per-position sums and
    * non-null counts of its members' elements.
    */
  private final class LloydSums(k: Int) extends Serializable {
    private val sums = Array.fill(k)(Array.emptyDoubleArray)
    private val counts = Array.fill(k)(Array.emptyLongArray)

    private def grow(c: Int, n: Int): Unit =
      if (sums(c).length < n) {
        sums(c) = java.util.Arrays.copyOf(sums(c), n)
        counts(c) = java.util.Arrays.copyOf(counts(c), n)
      }

    def add(c: Int, v: ArrayData): Unit = {
      grow(c, v.numElements())
      var i = 0
      while (i < v.numElements()) {
        if (!v.isNullAt(i)) {
          sums(c)(i) += v.getDouble(i)
          counts(c)(i) += 1
        }
        i += 1
      }
    }

    def merge(o: LloydSums): LloydSums = {
      for (c <- 0 until k) {
        grow(c, o.sums(c).length)
        for (i <- o.sums(c).indices) {
          sums(c)(i) += o.sums(c)(i)
          counts(c)(i) += o.counts(c)(i)
        }
      }
      this
    }

    /** Centroid c's member mean; None if it captured no element. */
    def mean(c: Int): Option[Seq[Double]] =
      if (sums(c).isEmpty) None
      else Some(sums(c).indices.map(i => sums(c)(i) / counts(c)(i)))
  }

  /** [[kmeansFit]] with the FAISS-IVF nlist rule applied: k =
    * max(floorK, ⌈√n⌉) cells over e's n rows. A FIXED k silently
    * degenerates an IVF probe toward all-pairs as the corpus grows —
    * q74's comment states the rule; the r14 sf1 sittings measured the
    * violation (q291 on fixed k=8: 30× cost at 10× data, because 8
    * cells over 10× the vectors admit ~every (query, cell) pair and
    * each cell is 10× fatter). With k=⌈√n⌉ the expected cell size is
    * √n and the probe space is O(n^1.5) — sublinear per row.
    *
    * Training runs on a deterministic ≤maxTrain-row stride slice of
    * `e`: centroid quality only ever affects PRUNING, never output
    * (the triangle bound + exact verify downstream), so the k·n·d
    * Lloyd's passes need not see every vector — only the ASSIGNMENT
    * pass must, and that stays where it was (the caller's n·k·d).
    * The row count is one 1-row aggregate — bounded driver metadata,
    * the same budget class as the per-partition k×dim centroid sums
    * kmeansFit already collects per iteration.
    *
    * @param idCol id column used for the deterministic training stride
    */
  def kmeansFitScaled(e: DataFrame, iters: Int, floorK: Int = 16,
                      maxTrain: Long = 65536L,
                      idCol: String = "vec_id"): DataFrame = {
    val n = e.count()
    val k = math.max(floorK, math.ceil(math.sqrt(n.toDouble)).toInt)
    val stride = math.max(1L, n / maxTrain)
    val train =
      if (stride == 1L) e
      else e.filter(pmod(col(idCol), lit(stride)) === 0)
    kmeansFit(train, k, iters)
  }

  /** Nearest-centroid assignment — the IVF/SemDeDup block key: one
    * broadcast of the centroid table, argmax cosine per vector,
    * smaller-cid tie-break. The argmax compares the 6dp-ROUNDED
    * similarity so the choice is reproducible across engines: a
    * raw-double argmax can flip on the last ulp between two
    * independent implementations (the DuckDB oracles of q35/q74
    * mirror the same rounding). Shared by q35, q74 and
    * [[ivfProbeTopK]] so the tie-break can never drift between them.
    *
    * @return (vec_id, cluster, v)
    */
  def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cc", round(G.cosineSim(col("v"), col("cv")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cc"), -col("cid"))).as("cluster"),
        first(col("v")).as("v"))

  /** The IVF probe pipeline (q35's shape) as one reusable operator:
    * assign every vector to its nearest centroid (broadcast + argmax,
    * ties to the smaller cid), probe the `nprobe` clusters nearest the
    * query vector, rank surviving candidates by exact cosine.
    * APPROXIMATE unless nprobe = centroid count — on corpora without
    * cluster structure the measured recall@10 plateaus below 1.0 at
    * any partial nprobe (VectorSpec pins 9/10 on the test corpus);
    * exact per-vector NN belongs to [[exactNnPerVector]]. Shared by
    * q35 and the spec, so the gated query and the pinned recall sweep
    * can never drift apart.
    */
  def ivfProbeTopK(e: DataFrame, cents: DataFrame, queryVecId: Long,
                   nprobe: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    val assigned = assignToCentroids(e, cents)
    // 6dp on BOTH rankings (probe order and final top-k), matching the
    // gated q35 query and assignToCentroids: one rounding convention
    // for the whole ANN family, so near-ties rank identically in the
    // operator, the gated query, and the DuckDB mirror.
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("qc", round(G.cosineSim(col("cv"), col("qv")), 6))
      .orderBy(col("qc").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cluster"))
    assigned.join(broadcast(probed), Seq("cluster"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .withColumn("cos", round(G.cosineSim(col("v"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cos"))
  }

  /** Incremental (batch × corpus) embedding near-dup: for every batch
    * vector, its best corpus match with rounded cosine ≥ τ — the vector
    * twin of the q105 text probe, in the shape a production embedding
    * ingest runs: the corpus side is a REUSABLE IVF index (cell
    * assignment + per-cell angular radius, built once and persisted),
    * the batch probes only the cells that can possibly hold a
    * qualifying match, and survivors verify by exact cosine.
    *
    * EXACT by the same triangle-inequality argument as
    * [[blockedCosinePairs]]: a corpus member y of cell c with
    * cos(q,y) ≥ τ−5e-7 satisfies θ(q,c) ≤ θ(q,y) + θ(y,c) ≤
    * acos(τ−5e-7) + radius(c), so pruning cells that violate the bound
    * can never drop a qualifying match — which is why the brute-force
    * top-1 SQL can gate this operator. On a corpus with real cluster
    * structure most cells prune; on an adversarially flat one it
    * degrades to blocked brute force without losing exactness.
    *
    * Work shape at 100 TB: the index is one corpus pass (N×K broadcast
    * assignment) amortized over every future batch; per batch the cost
    * is |batch|×K bound checks (broadcast centroids) + the candidate
    * equi-join keyed by cell id — batch-sized, never corpus-sized.
    *
    * @param batch  (vec_id, v) — the new vectors
    * @param corpus (vec_id, v) — the existing corpus (ids disjoint
    *               from batch)
    * @param cents  (cid, cv) — [[kmeansFit]] output over the corpus
    * @param tau    cosine threshold (rounded-6dp compare, file-wide
    *               convention)
    * @return (vec_id, match_id, cos) — one row per batch vector with a
    *         match; ties on the rounded cosine break to the smaller
    *         match_id
    */
  def incrementalBestMatch(batch: DataFrame, corpus: DataFrame,
                           cents: DataFrame, tau: Double): DataFrame = {
    val thetaTau = math.acos(math.max(-1.0, tau - 5e-7))
    val eps = 1e-6
    // EXACT-DEDUP FIRST (the q105/q30 text discipline, applied to
    // vectors): collapse byte-identical vectors to their min-id
    // representative on BOTH sides, probe over distinct vectors only,
    // fan batch matches back at the end. Output-identical BY
    // CONSTRUCTION: identical vectors have identical cosines, and the
    // (cos desc, id asc) argmax picks the exact family's min id — the
    // representative — whether or not the copies are present. A
    // mass-replicated corpus (the #1 wrong regime of any incremental
    // probe; crawl embeddings repeat exactly when the text does) now
    // costs one groupBy instead of a family-quadratic candidate join.
    val corpusSets = corpus.groupBy("v").agg(min("vec_id").as("match_cand"))
      .transform(Staging(_))
    val batchSets = batch.groupBy("v").agg(min("vec_id").as("bsid"))
      .transform(Staging(_))
    // Corpus index: nearest-centroid assignment + per-cell radius.
    // UNROUNDED angles feed the bound (blockedCosineCandidates'
    // rationale: rounding belongs to the verify, not the metric).
    val assigned = corpusSets.crossJoin(broadcast(cents))
      .withColumn("uc", G.cosineSim(col("v"), col("cv")))
      .groupBy(col("match_cand"))
      .agg(max_by(struct(col("cid"), col("uc")),
          struct(col("uc"), -col("cid"))).as("b"),
        first(col("v")).as("v"))
      .select(col("match_cand"), col("v").as("v_c"),
        col("b.cid").as("cell"), acos(clamp(col("b.uc"))).as("ang"))
    val radii = assigned.groupBy("cell").agg(max("ang").as("r"))
    // Batch probe plan: keep (batch vector, cell) pairs the bound
    // admits — K rows of metadata per batch vector, broadcast side.
    val probe = batchSets.crossJoin(broadcast(cents))
      .withColumn("thq", acos(clamp(G.cosineSim(col("v"), col("cv")))))
      .join(broadcast(radii.withColumnRenamed("cell", "cid")), Seq("cid"))
      .filter(col("thq") <= lit(thetaTau + eps) + col("r"))
      .select(col("bsid"), col("v").as("v_q"), col("cid").as("cell"))
    // Candidates via the cell-keyed equi-join; exact verify; best per
    // distinct batch vector (max rounded cos, smaller id on ties).
    val bestPerSet = probe.join(assigned, Seq("cell"))
      .withColumn("cos", round(G.cosineSim(col("v_q"), col("v_c")), 6))
      .filter(col("cos") >= tau)
      .groupBy("bsid")
      .agg(max_by(col("match_cand"), struct(col("cos"), -col("match_cand")))
          .as("match_id"),
        max("cos").as("cos"))
    // Fan back to every batch vector of each distinct set. At 100 TB
    // this equi-join keys on a 16-byte hash of the vector bytes rather
    // than the array itself; array equality is exact either way.
    batch.join(batchSets, Seq("v"))
      .join(bestPerSet, Seq("bsid"))
      .select(col("vec_id"), col("match_id"), col("cos"))
  }

  /** Exact brute-force top-k with [[ivfProbeTopK]]'s output contract —
    * the baseline any ANN variant is judged against.
    */
  def bruteTopK(e: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .withColumn("cos", round(G.cosineSim(col("v"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cos"))
  }

  /** Exact nearest neighbor per vector within each `label` block.
    *
    * @param e    columns: vec_id, label, v (array<double>)
    * @param cents columns: cid, cv — coarse centroids (any deterministic
    *              subset/k-means result; quality affects pruning only,
    *              never correctness)
    * @return label, id_a, nn_id, nn_cos (exact argmax, ties to the
    *         smaller nn_id — identical to the all-pairs contract)
    */
  def exactNnPerVector(e: DataFrame, cents: DataFrame): DataFrame = {
    // pruning slack must exceed acos's conditioning error: near cos=1,
    // dθ ≈ dcos/sin θ blows up, so a 1e-9 slack could prune the cluster
    // holding a near-duplicate true NN. 1e-6 rad is far above the
    // float64 acos error everywhere and harmless (nn_cos is rounded to
    // 6 decimals; the bound only decides which clusters to VERIFY).
    val eps = 1e-6
    // 1. assign every vector to its nearest centroid (ties: smaller cid)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("cc", G.cosineSim(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(struct(col("cid"), col("cc")), struct(col("cc"), -col("cid"))).as("b"),
        first(col("label")).as("label"), first(col("v")).as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        col("b.cid").as("cluster"),
        acos(clamp(col("b.cc"))).as("theta_c"))
    // members view under fully renamed columns (assigned is reused on
    // both sides of several joins — distinct attribute sets keep the
    // self-join lineage unambiguous)
    val members = assigned.select(col("label").as("m_label"),
      col("cluster").as("m_cluster"), col("vec_id").as("id_b"),
      col("v").as("v_b"))
    // 2. per-(label, cluster) radius for the triangle bound
    val radius = assigned.groupBy("label", "cluster")
      .agg(max("theta_c").as("max_theta"))
      .select(col("label").as("r_label"), col("cluster").as("r_cluster"),
        col("max_theta"))
    // 3. seed upper bound: best cosine within the query's own cluster
    val seed = assigned
      .join(members, col("label") === col("m_label") &&
        col("cluster") === col("m_cluster") && col("vec_id") =!= col("id_b"))
      .groupBy("vec_id")
      .agg(max(G.cosineSim(col("v"), col("v_b"))).as("seed_cos"))
      .select(col("vec_id").as("s_vec_id"),
        acos(clamp(col("seed_cos"))).as("theta_best"))
    // 4. prune clusters: keep (query, cluster) whose bound can beat the
    //    seed; queries with no seed (singleton cluster) keep everything
    val kept = assigned
      .join(seed, col("vec_id") === col("s_vec_id"), "left")
      .crossJoin(broadcast(cents))
      .withColumn("theta_qc", acos(clamp(G.cosineSim(col("v"), col("cv")))))
      .join(radius,
        col("label") === col("r_label") && col("cid") === col("r_cluster"))
      .filter(col("cid") === col("cluster") ||
        col("theta_qc") - col("max_theta") <=
          coalesce(col("theta_best"), lit(10.0)) + eps)
      .select(col("vec_id"), col("label"), col("v"),
        col("cid").as("probe_cluster"))
    // 5. exact verify against members of surviving clusters only
    kept.join(members, col("label") === col("m_label") &&
        col("probe_cluster") === col("m_cluster") &&
        col("vec_id") =!= col("id_b"))
      .withColumn("cos", G.cosineSim(col("v"), col("v_b")))
      .groupBy(col("label"), col("vec_id").as("id_a"))
      .agg(max_by(col("id_b"), struct(col("cos"), -col("id_b"))).as("nn_id"),
        round(max(col("cos")), 6).as("nn_cos"))
  }

  /** EXACT cosine-threshold pair generation with IVF-cell blocking —
    * the production pair stage of embedding near-dup dedup (q59), with
    * a completeness GUARANTEE the gate can rely on (unlike LSH
    * banding, whose recall at θ ≥ 60° is probabilistic).
    *
    * Device: assign every vector to its nearest coarse centroid
    * (broadcast, one pass), compute each cell's angular radius, and
    * enumerate only the CELL PAIRS that can possibly hold a qualifying
    * pair. For members x∈ca, y∈cb with cos(x,y) ≥ τ the triangle
    * inequality on angular distance gives
    *   θ(ca,cb) ≤ θ(ca,x) + θ(x,y) + θ(y,cb) ≤ r_a + θ_τ + r_b,
    * so pruning the cell pairs that violate that bound can never drop
    * a qualifying pair — candidates flow only for admissible cell
    * pairs (an equi-join keyed on the cell id, shuffle-partitioned by
    * cell), then exact cosine verifies each candidate.
    *
    * Work shape at 100 TB: assignment N×K broadcast; the admissible
    * cell-pair table is K² rows of bounded metadata (broadcast); the
    * candidate join shuffles by cell id. On clustered corpora with a
    * dedup-grade τ (tight cells, θ_τ small) most cell pairs prune and
    * the pair space collapses toward Σ admissible |ca|·|cb| ≪ N²/2.
    * On an adversarially flat corpus (this synthetic table: mutual
    * angles 60–90°, radii near 90°) nothing CAN prune without losing
    * exactness — the operator degrades to blocked all-pairs but never
    * loses a pair, and the plan shape (cell-keyed equi-join, no
    * label-wide self-join) is unchanged. BlockedPairsSpec proves both
    * regimes: group-equivalence to all-pairs at 2 SFs, and real cell
    * pruning on a clustered corpus.
    *
    * @param e         (vec_id, v) plus any `extraBlockCols` — extra
    *                  equality columns (e.g. label) that scope pairs
    * @param cents     (cid, cv) coarse centroids ([[kmeansFit]] or any
    *                  deterministic set; quality affects pruning only,
    *                  never completeness)
    * @param tau       cosine threshold (pairs with rounded cos ≥ τ)
    * @return (id_a, id_b) with id_a < id_b — exactly the pairs the
    *         all-pairs form emits, ready for connectedComponents
    */
  def blockedCosinePairs(e: DataFrame, cents: DataFrame, tau: Double,
                         extraBlockCols: Seq[String] = Nil): DataFrame =
    blockedCosineCandidates(e, cents, tau, extraBlockCols)
      .filter(round(G.cosineSim(col("va"), col("vb")), 6) >= tau)
      .select("id_a", "id_b")

  /** The candidate stage of [[blockedCosinePairs]] before the exact
    * cosine verify — exposed so BlockedPairsSpec can MEASURE the cell
    * pruning (candidate count ≪ n²/2 on clustered corpora) that the
    * public operator's output, being exact, cannot reveal.
    *
    * One executor pass assigns every vector to its cell and measures
    * its angle; everything else the bound needs is bounded metadata on
    * the driver:
    *
    *  1. the centroids, collected and sorted by cid (any cid values);
    *  2. one `toRdd` pass over (extras, vec_id, v): [[nearest]] —
    *     [[kmeansFit]]'s argmax, the largest unrounded cosine with ties
    *     to the smaller cid, i.e. SQL's `max_by(struct(cid, uc),
    *     struct(uc, -cid))` — and the angle acos(clamp(uc)) with
    *     Spark's `least`/`greatest` NaN order, so clamp(NaN) = 1.0. A
    *     null vector goes to the smallest cid with a null angle; it is
    *     a candidate where its cell pairs admit one, and the verify
    *     drops it. The extras ride along as `InternalRow` fields of
    *     any type;
    *  3. per-(extras, cell) radii — the max non-null angle — collected
    *     from that pass (one job, P partials merged on the driver);
    *  4. the admissible ORDERED cell pairs, a driver loop over the K²
    *     centroid angles with the `θ_τ + eps + r_a + r_b` bound,
    *     broadcast as a local relation.
    *
    * The candidate equi-join (keyed by extras + cell) stays SQL, so its
    * null and floating-point key semantics are Spark's. `vec_id` must
    * be a key of `e` and `cid` of `cents`.
    */
  private[graft] def blockedCosineCandidates(
      e: DataFrame, cents: DataFrame, tau: Double,
      extraBlockCols: Seq[String] = Nil): DataFrame = {
    // The verify qualifies pairs by round(cos,6) >= tau, i.e. true
    // cos >= tau - 5e-7 — so the admissibility bound must be computed
    // from acos(tau - 5e-7), NOT acos(tau): near tau→1 the angular
    // window of that rounding margin grows like 5e-7/sqrt(1-tau²) and
    // a fixed 1e-6 slack would under-cover it (at τ=0.9 the margin is
    // already 1.15e-6 rad), silently dropping a boundary pair at
    // exactly the dedup-grade τ regime. The remaining eps covers
    // float/acos conditioning only (exactNnPerVector's rationale).
    val thetaTau = math.acos(math.max(-1.0, tau - 5e-7))
    val eps = 1e-6
    val spark = e.sparkSession
    val nx = extraBlockCols.size
    // 1. centroids by cid: a cell is its index in this order, so the
    //    index tie-break is the smaller-cid tie-break
    val byCid = cents
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().map { r =>
        require(!r.isNullAt(0), "blockedCosineCandidates: null cid")
        (r.getLong(0),
          if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)
      }.sortBy(_._1)
    require(byCid.map(_._1).distinct.length == byCid.length,
      "blockedCosineCandidates: duplicate cid")
    val cs: Array[Array[Double]] = byCid.map(_._2)
    // 2. the assignment pass: (extras..., vec_id, v, vd, cell, ang).
    //    The angle to the assigned centroid is UNROUNDED (the radius
    //    input). ANY total assignment preserves completeness — the
    //    bound only narrows which cell pairs get verified.
    val in = e.select(extraBlockCols.map(col) ++ Seq(col("vec_id"), col("v"),
      col("v").cast("array<double>").as("vd")): _*)
    val xTypes = in.schema.fields.take(nx).map(_.dataType)
    val assignedRows = in.queryExecution.toRdd.mapPartitions { it =>
      val cvs: Array[ArrayData] = cs.map(c =>
        if (c == null) null else UnsafeArrayData.fromPrimitiveArray(c))
      val out = new GenericInternalRow(2)
      val joined = new JoinedRow
      if (cvs.isEmpty) Iterator.empty
      else it.map { r =>
        out.setInt(0, 0)
        out.setNullAt(1)
        if (!r.isNullAt(nx + 2)) {
          val v = r.getArray(nx + 2)
          val c = nearest(v, cvs)
          out.setInt(0, c)
          if (cvs(c) != null) out.setDouble(1, angle(v, cvs(c)))
        }
        joined(r, out): InternalRow
      }
    }
    val assigned = GraftPlanBridge.ofInternalRows(spark, assignedRows,
      StructType(in.schema.fields.toSeq ++ Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("ang", DoubleType))))
    // 3. per-(extras, cell) radius: each partition's max angle per key,
    //    merged on the driver. Extras key as unsafe bytes, with
    //    top-level -0.0 and NaN normalized as Spark's join keys are.
    val radii = assignedRows.mapPartitions { it =>
      val key = UnsafeProjection.create(xTypes)
      val xs = new GenericInternalRow(nx)
      val m = scala.collection.mutable.HashMap.empty[(UnsafeRow, Int), Double]
      it.foreach { r =>
        if (!r.isNullAt(nx + 4)) {
          for (i <- 0 until nx) xs.update(i, normalized(r.get(i, xTypes(i))))
          val (k, a) = ((key(xs), r.getInt(nx + 3)), r.getDouble(nx + 4))
          if (!m.get(k).exists(_ >= a)) m((k._1.copy(), k._2)) = a
        }
      }
      m.iterator
    }.collect().foldLeft(Map.empty[(UnsafeRow, Int), Double]) {
      case (m, (k, a)) => if (m.get(k).exists(_ >= a)) m else m + (k -> a)
    }
    // 4. admissible ORDERED cell pairs per extras-group, kept iff the
    //    triangle bound admits a qualifying pair; a null centroid has
    //    no angle. Ordered pairs + the id_a < id_b filter below emit
    //    each pair exactly once.
    val cvs = cs.map(c =>
      if (c == null) null else UnsafeArrayData.fromPrimitiveArray(c))
    val cang = cvs.map(a => cvs.map(b =>
      if (a == null || b == null) None else Some(angle(a, b))))
    val admissibleRows: Seq[InternalRow] = (for {
      (x, cells) <- radii.toSeq.groupBy(_._1._1).toSeq
      ((_, ca), ra) <- cells
      ((_, cb), rb) <- cells
      ang <- cang(ca)(cb) if ang <= thetaTau + eps + ra + rb
    } yield {
      val row = new GenericInternalRow(nx + 2)
      for (i <- 0 until nx) row.update(i, x.get(i, xTypes(i)))
      row.setInt(nx, ca)
      row.setInt(nx + 1, cb)
      row: InternalRow
    }).toSeq
    val admissible = GraftPlanBridge.ofLocalRows(spark, admissibleRows,
      StructType(in.schema.fields.take(nx).toSeq ++ Seq(
        StructField("ca", IntegerType, nullable = false),
        StructField("cb", IntegerType, nullable = false))))
    // 5. candidates for admissible cell pairs only (the exact verify is
    //    the caller's)
    val extras = extraBlockCols.map(col)
    val aSide = assigned.select(extras :+ col("cell").as("ca") :+
      col("vec_id").as("id_a") :+ col("v").as("va"): _*)
    val bSide = assigned.select(extras :+ col("cell").as("cb") :+
      col("vec_id").as("id_b") :+ col("v").as("vb"): _*)
    aSide.join(broadcast(admissible), extraBlockCols :+ "ca")
      .join(bSide, extraBlockCols :+ "cb")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
  }

  /** A top-level key value with -0.0 as 0.0 and one NaN, as Spark
    * normalizes floating-point join and grouping keys.
    */
  private def normalized(x: Any): Any = x match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case other => other
  }

  /** acos(clamp(cosine)) with Spark's `least(1, greatest(-1, c))` NaN
    * order: NaN is the largest double, so clamp(NaN) = 1.0.
    */
  private def angle(a: ArrayData, b: ArrayData): Double = {
    val uc = VectorImpl.cosine(a, b)
    math.acos(if (uc.isNaN) 1.0 else math.min(1.0, math.max(-1.0, uc)))
  }
}
