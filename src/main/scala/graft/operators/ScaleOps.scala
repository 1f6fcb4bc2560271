package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Operators that exist purely for 100 TB-scale execution shape
  * (SURVEY.md §4 optimizer table): skew mitigation and co-located
  * joins. On the toy test tables they change nothing semantically —
  * specs assert plan shape and result equivalence.
  *
  * Lineage cuts (the iterative loops' edge tables and label rounds) go
  * through [[Staging]], at Spark's default level; their blocks belong
  * to the caller's staging scope, which frees them when it ends.
  */
object ScaleOps {

  /** Scale-adaptive block width for a reused, checkpointed edge table
    * (the iterative-graph loops: q134/q178/q190 and
    * [[connectedComponents]]'s iterative path) — the
    * statePartitionsFor pattern applied to graph rounds (r14 verdict
    * item 5). The r14 device pinned the FULL session width (32) on
    * every edge checkpoint to defeat AQE's coalesce-to-1; that
    * restored round parallelism but the driver-to-driver comparison
    * showed the full-width repartition+sort pass costing more than
    * three near-serial rounds saved at sf0.1 (q134 3.63→4.27 s,
    * q190 6.62→7.77 s). Width must track EDGE VOLUME, not core
    * count: ceil(estBytes / spark.graft.graph.bytesPerEdgePartition)
    * (default 8 MB), clamped to [1, session shuffle partitions] — a
    * cluster sitting with thousands of shuffle partitions and a
    * TB-scale edge table scales up automatically, a gate-scale graph
    * gets 2-4 blocks instead of 32 single-digit-MB tasks, and width 1
    * means "keep the coalesced shape, skip the spread pass entirely".
    * `estBytes` only needs the right ORDER (callers pass the source
    * table's on-disk bytes, or staged row count x row width); ceil +
    * clamp absorb small-factor error.
    *
    * MINIMUM-SPREAD gate (same-sitting A/B at sf0.1, cool box): a
    * raw width of 2-3 is the worst of both worlds — the spread pass
    * still costs a full exchange+sort of the edge table, but 2-3
    * blocks buy almost no round parallelism over what AQE's own
    * coalescing already leaves (q178 w=2 5.9-6.9 s vs w=1 3.4-4.2 s;
    * q190 w=2 6.3-6.6 vs w=1 4.8-5.9). The spread only starts paying
    * for itself when it buys >= 4 blocks (sf1, width 13: q190
    * taskTime 403-584 s vs 481-676 unspread, shuffle 2 042 vs
    * 2 368 MB — the sorted-block compression only exists when the
    * spread runs). Below that the coalesced shape wins: return 1.
    */
  def edgeWidth(s: org.apache.spark.sql.SparkSession,
                estBytes: Long): Int = {
    val w = partitionsFor(s, "spark.graft.graph.bytesPerEdgePartition",
      estBytes)
    if (w < 4) 1 else w
  }

  /** ceil(`bytes` / the byte target set in `key`, default 8 MiB),
    * clamped to [1, session shuffle partitions]. A target that is not a
    * positive whole number fails loudly, naming the key and the value:
    * a typo must not run a sitting on a silently different size.
    */
  private[graft] def partitionsFor(s: org.apache.spark.sql.SparkSession,
                                   key: String, bytes: Long): Int = {
    val per = s.conf.getOption(key).fold(8L << 20) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a positive byte count, got '$v'"))
    }
    val cur = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(1, math.min(cur, math.ceil(bytes.toDouble / per).toInt))
  }

  /** Recursive on-disk byte count of a file/dir (0 when absent) — the
    * cheap input-size proxy [[edgeWidth]] callers hand it for tables
    * whose edge list is derived from one source scan.
    */
  def pathBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else if (java.nio.file.Files.isRegularFile(p)) p.toFile.length
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.mapToLong(f =>
        if (java.nio.file.Files.isRegularFile(f)) f.toFile.length else 0L
      ).sum()
      finally walk.close()
    }
  }

  /** Salted equi-join for skewed keys: the build side is replicated
    * `salt` times, the probe side scatters each row to one replica, so
    * one hot key spreads over `salt` reducers instead of one straggler
    * task. AQE's skew-join handles moderate skew automatically;
    * salting is for the pathological key that still exceeds a single
    * task (the reference's analogue is one-process-per-scene, which
    * simply stalls, eodatadownrun.py:786-787).
    *
    * `left` is the large/skewed side, `right` the smaller build side.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int, joinType: String = "inner"): DataFrame = {
    // the build side is replicated `salt` times, so any join type that
    // emits unmatched RIGHT rows would emit them once per replica —
    // only inner and left-side joins are correct under salting
    val norm = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti",
        "cross").contains(norm),
      s"saltedJoin supports inner/left joins only, got '$joinType': " +
        "right/full-outer would emit unmatched build-side rows " +
        s"$salt times")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Candidate ID pairs from band-blocked LSH buckets, with a
    * degenerate-bucket guard. The unguarded band self-join is quadratic
    * PER BUCKET — mass-duplicated boilerplate (the common case in
    * web-scale corpora) lands thousands of near-identical docs in one
    * bucket and a single reducer does size²/2 work. Guard: buckets
    * with ≤ `bucketCap` members pair all-vs-all as usual; larger
    * buckets are STAR-REDUCED to (min-id, member) pairs — linear in
    * bucket size, and for the boilerplate pathology the downstream
    * exact verify still links every member to the representative, so
    * duplicate GROUPS survive (transitive closure) even though
    * intra-bucket non-representative pairs are not emitted. Pick
    * `bucketCap` above the corpus's organic bucket sizes so the guard
    * only fires on pathology (measure organic sizes with
    * [[starReducedBuckets]] at `bucketCap = 0`).
    *
    * Bucket sizes come from a partial-aggregated groupBy joined back
    * (AQE broadcasts the small side) — deliberately NOT a window over
    * the band keys, which would force a shuffle of the banded rows and
    * lose the all-broadcast plan on corpora that fit.
    *
    * Cap firings are silent in the pairs output by design (the guard
    * exists to keep the job alive); run [[starReducedBuckets]] with the
    * SAME arguments alongside any production job so a fired cap is
    * observed and the cap re-measured as the corpus grows — an organic
    * bucket crossing the cap drops intra-bucket pairs.
    */
  def bandedCandidatePairs(banded: DataFrame, bandCols: Seq[String],
                           idCol: String, bucketCap: Int,
                           outA: String = "id_a", outB: String = "id_b"): DataFrame =
    bandedCandidatePairsWithCap(banded, bandCols, idCol,
      banded.sparkSession.range(1)
        .select(lit(bucketCap.toLong).as("__cap")),
      outA, outB)

  /** [[bandedCandidatePairs]] with the cap DERIVED AS DATAFLOW: `capDf`
    * is a one-row frame whose `__cap` (long) column is the bucket cap —
    * typically a corpus-size-scaled rule like 8·⌈√n⌉ computed from the
    * data itself (broadcast scalar, no driver count action). A FIXED
    * cap silently drifts as the corpus grows: expected bucket size
    * under √n-cells blocking is √n, so a constant cap that clears
    * organic buckets at sf0.1 fires on them at sf10 and the pairs
    * output quietly diverges from the unguarded form (round-6 advice on
    * q74). Deriving cap ∝ √n keeps the headroom RATIO constant at any
    * scale.
    */
  def bandedCandidatePairsWithCap(banded: DataFrame, bandCols: Seq[String],
                                  idCol: String, capDf: DataFrame,
                                  outA: String = "id_a",
                                  outB: String = "id_b"): DataFrame = {
    val bc = bandCols.map(col)
    val sizes = banded.groupBy(bc: _*)
      .agg(count(lit(1)).as("__bsz"), min(col(idCol)).as("__rep"))
      .crossJoin(broadcast(capDf.select(col("__cap"))))
    val sized = banded.join(sizes, bandCols)
    val small = sized.filter(col("__bsz") <= col("__cap"))
    val x = small.select(bc :+ col(idCol).as(outA): _*)
    val y = small.select(bc :+ col(idCol).as(outB): _*)
    val smallPairs = x.join(y, bandCols)
      .filter(col(outA) < col(outB))
      .select(outA, outB)
    val starPairs = sized
      .filter(col("__bsz") > col("__cap") && col(idCol) =!= col("__rep"))
      .select(col("__rep").as(outA), col(idCol).as(outB))
    smallPairs.union(starPairs).distinct()
  }

  /** Diagnostic twin of [[bandedCandidatePairs]]: the buckets the guard
    * STAR-REDUCES (size > `bucketCap`), with their sizes and
    * representative id. Empty ⇒ the guard never fired and the pairs
    * output is identical to the unguarded all-pairs join (the property
    * q30's exact-Jaccard oracle relies on). One partial-aggregated
    * groupBy over the banded rows — cheap next to the pairs job itself.
    */
  def starReducedBuckets(banded: DataFrame, bandCols: Seq[String],
                         idCol: String, bucketCap: Int): DataFrame =
    banded.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"), min(col(idCol)).as("rep_id"))
      .filter(col("bucket_size") > bucketCap)

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS (q30 MinHash / q31 SimHash output) into
    * dedup GROUPS so a pipeline can keep one representative per group
    * (the union-find of every production dedup job, re-expressed as
    * dataflow).
    *
    * Iterative min-label propagation: every vertex starts labeled with
    * its own id; each round it takes the min of its label and its
    * neighbors' labels. The min label floods one hop per round, so
    * rounds = component diameter — small for dedup graphs, where the
    * star-reduction guard ([[bandedCandidatePairs]]) additionally caps
    * pathological components at diameter ≤ 2 per bucket. Each round is
    * one shuffle-on-`dst` join + one partial-aggregated groupBy;
    * labels are staged every round ([[Staging.iterate]]) so lineage
    * stays flat at any iteration count. Convergence is detected by the
    * label sum (labels only ever decrease, so an unchanged sum ⇔ a
    * fixpoint) — one cheap aggregate per round, reused by the next
    * round, instead of a change-count join.
    * Fails loudly if `maxIters` rounds don't converge (a silently
    * half-merged component would split dedup groups).
    *
    * Small graphs short-circuit to a driver-side union-find (the
    * broadcast-join-threshold pattern): below `localEdgeThreshold`
    * distinct edges, collecting (long, long) pairs and path-compressed
    * union-find beat any number of distributed rounds — identical
    * output, zero iterations. The probe IS the collect: one
    * short-circuiting `limit(n+1)` collect of the staged symmetric
    * edge table (n = 2 × threshold rows), whose rows feed the
    * union-find when it holds ≤ n of them. The trade-off: above the
    * threshold, those n+1 rows (32 MB at the default) cross the driver
    * once before the iterative dataflow runs.
    *
    * @return (id, rep) for every vertex in `edges`; `rep` = the
    *         component's minimum id. Vertices with no edges are absent
    *         (callers union singletons if they need total coverage).
    */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIters: Int = 25,
                          localEdgeThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val both = Staging(
      sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    // `both` holds TWO rows per distinct undirected edge — probe
    // against 2×threshold so the knob means what the scaladoc says
    val symRowCap = (2L * localEdgeThreshold).min(Int.MaxValue.toLong - 1)
    if (localEdgeThreshold > 0) {
      val local = localComponents(both, symRowCap.toInt)
      if (local.isDefined) {
        Staging.release(both)
        return local.get
      }
    }
    // Iterative path only: spread the edge table's blocks before the
    // per-round loop (explicit repartition is exempt from AQE
    // coalescing, which otherwise collapses the tiny distinct
    // exchange to ~1 partition and the checkpoint freezes it — every
    // round then reads a near-serial edge side). Width is SIZE-GATED
    // ([[edgeWidth]], r14 verdict item 5): `both` is already staged,
    // so its row count is a ~free action, and 16 bytes approximates
    // one (long, long) row's shuffle weight. Width 1 keeps the
    // coalesced blocks as-is — the spread pass at full session width
    // was a measured net cost on small graphs. The short-circuit
    // path above never pays any of this.
    val w = edgeWidth(spark, 16L * both.count())
    val bothByDst =
      if (w <= 1) both
      else Staging(both.repartition(w, col("dst"))
        .sortWithinPartitions("dst")) // sorted blocks compress smaller
        // through every round's exchange and pre-sort the SMJ runs
    val init = Staging(bothByDst.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id")))
    // `both` is dead once the spread copy and the label init are
    // materialized (r14 advice: holding TWO staged copies of the edge
    // table for the whole run doubles edge storage at exactly the
    // scale this path targets)
    if (!(bothByDst eq both)) Staging.release(both)
    def labelSum(labels: DataFrame): Long =
      labels.agg(coalesce(sum("lab"), lit(0L))).head().getLong(0)
    // only the live label generation and the edge copies stay staged:
    // `iterate` frees each generation once the next is staged, and the
    // edges go when the loop ends (the last generation's lineage is
    // cut, so the returned frame reads its blocks alone; they belong
    // to the caller's staging scope)
    val (labels, converged) = try Staging.iterate(init, maxIters) { labels =>
      val nbrMin = bothByDst
        .join(labels.select(col("id").as("dst"), col("lab").as("nlab")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("nlab").as("nbr_lab"))
      // (Measured: fusing a pointer-jumping self-join into each round
      // — O(log diameter) rounds — is SLOWER here: the extra join per
      // round outweighs the saved rounds on dedup graphs, whose
      // diameter is already small. Plain one-hop propagation wins.)
      labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
    }(Staging.unchanged(labelSum)) finally Staging.release(bothByDst)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds maxIters; raise it (rounds are " +
          "O(diameter), so this graph is unusually chainlike)")
    labels.select(col("id"), col("lab").as("rep"))
  }

  /** [[connectedComponents]]' driver-side path: one `limit(cap + 1)`
    * collect of the symmetric edge table `both` (src, dst); when it
    * holds ≤ `cap` rows, path-compressed union-find over them gives
    * (id, rep = component min id), else None. The collected rows are
    * released on return, before any iterative round runs.
    */
  private def localComponents(both: DataFrame, cap: Int): Option[DataFrame] = {
    import both.sparkSession.implicits._
    val pairs = both.limit(cap + 1).as[(Long, Long)].collect()
    if (pairs.length > cap) return None
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union toward the smaller root = min-id rep
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val vertices = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    Some(vertices.toSeq.sorted.map(v => (v, find(v))).toDF("id", "rep"))
  }

  /** Range-partition pruning predicate for date-partitioned tables:
    * partition column filter composed alongside the row filter so the
    * scan skips whole partitions (the watermark-incremental read,
    * SURVEY §4 row 2).
    */
  def partitionPrunedRange(partCol: Column, rowCol: Column,
                           startIncl: String, endIncl: String): Column =
    partCol >= lit(startIncl.substring(0, 7)) &&
      partCol <= lit(endIncl.substring(0, 7)) &&
      rowCol >= lit(startIncl) && rowCol <= lit(endIncl)
}
