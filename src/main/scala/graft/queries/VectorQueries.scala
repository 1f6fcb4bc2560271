package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => t}
import graft.functions.{GraftFunctions => G}
import graft.operators.{VectorOps => V, Staging}

/** Similarity search over the `embeddings` table (SURVEY.md §7.2):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cluster-probed variant as the 100 TB scale path, and per-vector
  * nearest-neighbor (embedding near-dup dedup building block).
  *
  * Scale design: brute force broadcasts the query vector and scans —
  * embarrassingly parallel, no shuffle except the final top-k (a
  * TakeOrdered, not a sort). IVF assigns each vector to a coarse
  * centroid once (broadcast join + one pass), stores partitioned by
  * cluster id, and probes only nprobe clusters per query — the scan
  * shrinks by ~nlist/nprobe at identical plan shape.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-k for one query vector (vec_id=0).
    // Ranking (and every similarity threshold in this file) compares
    // the 6dp-ROUNDED cosine: the raw double can differ between two
    // independent implementations at the last ulp, and a near-tie at
    // a limit/threshold boundary would then select different rows per
    // engine. Rounded values are identical unless the true cosine
    // sits within ~1e-15 of a 5e-7 boundary.
    "q33_knn_cosine" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos", round(G.cosineSim(col("v"), col("qv")), 6))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("cos"))
    },

    // Per-vector EXACT nearest neighbor within each label block — via
    // triangle-inequality cluster pruning (VectorOps.exactNnPerVector),
    // not the naive all-pairs join: blocks grow 100× at 100× data, and
    // metric pruning bounds the verify work without ever risking the
    // exact answer (the all-pairs SQL remains this query's oracle).
    "q34_nn_per_vector" -> { (s, dir) =>
      val e = emb(s, dir).filter(col("vec_id") < 50)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      V.exactNnPerVector(e, cents).orderBy("label", "id_a")
    },

    // IVF-style ANN: coarse centroids = first 16 vectors (deterministic
    // stand-in for k-means), assign every vector to its nearest
    // centroid via broadcast, then probe the 4 clusters nearest the
    // query and rank only within them.
    "q35_ann_ivf" -> { (s, dir) =>
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = V.assignToCentroids(e, cents)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val probed = cents.crossJoin(broadcast(q))
        .withColumn("qc", round(G.cosineSim(col("cv"), col("qv")), 6))
        .orderBy(col("qc").desc, col("cid"))
        .limit(4)
        .select(col("cid").as("cluster"))
      assigned.join(broadcast(probed), Seq("cluster"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos", round(G.cosineSim(col("v"), col("qv")), 6))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("cluster"), col("cos"))
    },

    // Random-hyperplane LSH ANN: 64-bit angular signatures, banded
    // into blocking keys; candidates sharing ≥1 band with the query are
    // ranked by exact cosine. The third ANN strategy beside brute force
    // (q33) and IVF (q35): pure hash blocking, no training, ideal when
    // queries arrive as a stream. Band width is the recall/candidate-
    // rate knob: P(band match) = (1-θ/π)^w per w-bit band. This corpus
    // has NO near neighbors (top-10 cosines ≈ 0.3-0.5, θ ≈ 60-75°), so
    // it is configured wide-OR — 32 bands × 2 bits — which makes the
    // top-10 miss probability < 1e-6 per neighbor (measured: output ==
    // exact top-10 at sf0.001/0.01/0.1, which is what the driver oracle
    // asserts). A corpus with real near-dup structure (θ < 30°) would
    // use 8×8-bit bands for a far lower candidate rate.
    "q46_ann_hyperplane" -> { (s, dir) =>
      val e = emb(s, dir).withColumn("sig", G.hyperplaneHash(col("v"), 64))
      val banded = e.select(col("vec_id"), col("v"), col("sig"),
        posexplode(array((0 until 32).map(i =>
          col("sig").bitwiseAND(lit(0x3L << (2 * i)))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      val qb = banded.filter(col("vec_id") === 0)
        .select(col("band"), col("bucket"), col("v").as("qv"))
      banded.join(broadcast(qb), Seq("band", "bucket"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("v"), col("qv")).distinct()
        .withColumn("cos", round(G.cosineSim(col("v"), col("qv")), 6))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("cos"))
    },

    // kmeansFit-trained centroids END-TO-END under the driver gate
    // (round-6 verdict item 2: the trained path was spec-only — q35/
    // q76 run deterministic stand-in centroids so their full-pipeline
    // DuckDB mirrors stay SQL-expressible). The oracle device is
    // q46's: k-means itself is not SQL-expressible, but a FULL-probe
    // IVF (nprobe = nlist) is EXACT by construction — every cluster is
    // probed, so the top-k equals brute force NO MATTER where training
    // put the centroids — and the exact top-10 IS expressible. Any
    // regression in kmeansFit that breaks the assignment contract
    // (k-row centroid table, total assignment, rounding convention)
    // now fails this hash gate, not just BlockedPairsSpec.
    "q100_ann_ivf_trained" -> { (s, dir) =>
      val e = emb(s, dir)
      val cents = V.kmeansFit(e, k = 16, iters = 3)
      V.ivfProbeTopK(e, cents, queryVecId = 0, nprobe = 16, k = 10)
    },

    // INCREMENTAL embedding near-dup: dedup a NEW batch of vectors
    // against the EXISTING corpus — q105's ingest shape for the
    // embedding modality (vec_id % 10 == 0 is the batch stand-in).
    // The corpus side is a reusable IVF index (trained cells + per-
    // cell angular radius); the batch probes only admissible cells
    // (triangle-inequality bound — EXACT, so the brute-force top-1
    // SQL gates the whole pipeline including kmeansFit, the q100
    // device). τ=0.35 is this corpus's manufactured near-dup grade
    // (q59's rationale: no organic structure above cos 0.51).
    "q110_incremental_embedding_neardup" -> { (s, dir) =>
      val e = emb(s, dir).select(col("vec_id"), col("v"))
      val batch = e.filter(col("vec_id") % 10 === 0)
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      // train on DISTINCT vectors: centroid quality only ever affects
      // pruning (never the exact output), and a mass-replicated corpus
      // would otherwise pay k-means' full-corpus passes on copies
      val distinctCorpus = corpus.groupBy("v")
        .agg(min("vec_id").as("vec_id"))
      val cents = V.kmeansFit(distinctCorpus, k = 16, iters = 2)
      V.incrementalBestMatch(batch, corpus, cents, tau = 0.35)
        .orderBy("vec_id")
    },

    // Embedding-cosine near-dup DEDUP: threshold pairs → connected
    // components → one group per near-dup cluster (the embedding twin
    // of q55's text groups). The pair stage is the PRODUCTION blocked
    // generator (VectorOps.blockedCosinePairs): kmeansFit-trained IVF
    // cells + triangle-inequality cell-pair pruning — EXACT (the bound
    // can never drop a qualifying pair), so the independent
    // recursive-CTE union-find over all-pairs cosine remains this
    // query's oracle while the plan carries no label-wide self-join.
    // Pairs stay label-scoped (the dedup domain); the cell id is the
    // shuffle key. On this corpus (no dup structure above cos 0.51;
    // τ=0.35 manufactures organic groups, mutual angles 60–90°) the
    // radii admit every cell pair — blocking pays off on clustered
    // corpora with a dedup-grade τ (BlockedPairsSpec demonstrates the
    // pruning regime); exactness holds on BOTH.
    "q59_embedding_dedup_groups" -> { (s, dir) =>
      val e = emb(s, dir)
      val cents = V.kmeansFit(e, k = 8, iters = 2)
      val pairs = V.blockedCosinePairs(e, cents, 0.35, Seq("label"))
      graft.operators.ScaleOps.connectedComponents(pairs)
        .groupBy(col("rep").as("group_id"))
        .agg(count(lit(1)).as("n_vecs"), max(col("id")).as("max_vec"))
        .orderBy("group_id")
    },

    // SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup =
    // cluster the embeddings, then near-dup detection ONLY within each
    // cluster — the k-means cell IS the block key, shrinking the pair
    // space ~nlist× while semantically-close pairs stay co-located.
    // nlist SCALES WITH THE CORPUS: ⌈√n⌉ cells (the FAISS-IVF rule),
    // derived as dataflow (broadcast scalar, no driver count action),
    // so expected cell size is √n and the within-cell pair space is
    // O(n^1.5) — a FIXED nlist would silently go quadratic as n grows.
    // The pair stage additionally routes through
    // ScaleOps.bandedCandidatePairs with the cell as the block key, so
    // a degenerate cell (mass-duplicated embeddings all assigned
    // together) is star-reduced at `cellCap` instead of handing one
    // reducer size²/2 work — the cap is sized above organic cell
    // sizes (≈√n), so on non-pathological data the pair set is
    // identical to the unguarded form (starReducedBuckets observes
    // firings; the oracle relies on the cap not firing, as q30's
    // does). Deterministic stand-in centroids (q35's device) keep the
    // whole pipeline SQL-expressible for the oracle;
    // VectorOps.kmeansFit trains real ones (BlockedPairsSpec gates the
    // trained-centroid path). Dup groups close over
    // connectedComponents; the report: per cluster, how many vectors,
    // how many landed in a dup group, distinct groups, and members
    // SemDeDup would drop (group size minus its one kept
    // representative).
    "q74_semdedup_groups" -> { (s, dir) =>
      val e = emb(s, dir)
      val nl = e.agg(ceil(sqrt(count(lit(1)))).cast("long").as("nl"))
      val cents = e.crossJoin(broadcast(nl))
        .filter(col("vec_id") < col("nl"))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = V.assignToCentroids(e, cents)
      // cap = max(512, 8·⌈√n⌉) as DATAFLOW (same broadcast-scalar
      // device as nl): expected cell size under √n cells is √n, so a
      // FIXED cap (the old 512) is outgrown around n≈260k and the
      // oracle — which mirrors the UNGUARDED within-cell all-pairs —
      // would start failing on organic cells; scaling cap with √n
      // keeps the 8× skew headroom constant at every sf (round-6
      // advice). The 512 floor preserves toy-sf behavior where 8√n
      // would dip below the old constant (BlockedPairsSpec asserts the
      // guard stays silent at the gated sfs).
      val cand = graft.operators.ScaleOps.bandedCandidatePairsWithCap(
        assigned.select(col("cluster"), col("vec_id")),
        Seq("cluster"), "vec_id",
        nl.select(greatest(lit(512L), col("nl") * 8).as("__cap")))
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(G.cosineSim(col("va"), col("vb")), 6) >= 0.35)
        .select("id_a", "id_b")
      val comp = graft.operators.ScaleOps.connectedComponents(pairs)
      val grouped = comp
        .join(assigned.select(col("vec_id").as("id"), col("cluster")), "id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_grouped"),
          countDistinct("rep").as("n_groups"))
      assigned.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
        .join(grouped, Seq("cluster"), "left")
        .na.fill(0, Seq("n_grouped", "n_groups"))
        .withColumn("n_dropped", col("n_grouped") - col("n_groups"))
        .select(col("cluster"), col("n_vecs"), col("n_grouped"),
          col("n_groups"), col("n_dropped"))
        .orderBy("cluster")
    },

    // Int8 symmetric per-vector quantization — the embedding-storage
    // compression a 100 TB vector pipeline runs before indexing
    // (8 bytes/dim → 1). scale = max|x|/127, code = clamp(round(x/s)),
    // and the report measures what compression costs: per-label mean
    // L2 reconstruction error, worst absolute error, and mean cosine
    // between original and dequantized vectors. The HOF lambdas run
    // interpreted — fine for this cold analysis path; a hot path gets
    // a codegen'd expression (CosineSimilarity's pattern). All-zero
    // vectors (scale 0) are excluded on both engines.
    "q75_quantize_int8" -> { (s, dir) =>
      val e = emb(s, dir)
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127.0)
        .filter(col("scale") > 0)
        .withColumn("dq", transform(col("v"), x =>
          greatest(lit(-127.0), least(lit(127.0),
            floor(x / col("scale") + 0.5))) * col("scale")))
      e.withColumn("l2_err", sqrt(aggregate(
          zip_with(col("v"), col("dq"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
        .withColumn("max_err",
          array_max(zip_with(col("v"), col("dq"), (a, b) => abs(a - b))))
        .withColumn("cos_pres", G.cosineSim(col("v"), col("dq")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("l2_err"), 6).as("avg_l2_err"),
          round(max("max_err"), 6).as("max_abs_err"),
          round(avg("cos_pres"), 6).as("avg_cos"))
        .orderBy("label")
    },

    // Product quantization + ADC (Jégou et al. 2011, TPAMI): 64-dim
    // vectors → 8 subspaces × 8 dims, per-subspace codebook
    // (deterministic stand-in centroids, q35's device; kmeansFit per
    // subspace trains real ones), each vector stored as 8 small codes
    // — 8 bytes instead of 512. Query-time asymmetric distance: ONE
    // m×k distance table between the query's subvectors and the
    // codebooks (broadcast), then per vector just m lookups + a sum —
    // the memory layout and query shape of a 100 TB ANN index.
    // Ranking uses the ROUNDED distance so summation-order ulps can't
    // flip the cross-engine order.
    "q76_pq_adc" -> { (s, dir) =>
      val m = 8
      val dsub = 8
      val sqd = (a: Column, b: Column) => aggregate(
        zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      val subs = emb(s, dir)
        .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
          col("v"))
        .select(col("vec_id"), col("sub"),
          slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
      val cb = subs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("sub"), col("sv").as("cv"))
      // round BEFORE the argmin (assignToCentroids' convention): a
      // cross-engine ulp on a near-tied subspace distance must not
      // flip a code assignment and, through it, the gated output.
      val dists = subs.join(broadcast(cb), Seq("sub"))
        .withColumn("d", round(sqd(col("sv"), col("cv")), 6))
      val codes = dists.groupBy("vec_id", "sub")
        .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"))
      val lut = dists.filter(col("vec_id") === 0)
        .select(col("sub"), col("cid"), col("d").as("qd"))
      codes.join(broadcast(lut), Seq("sub", "cid"))
        .groupBy("vec_id")
        .agg(round(sum("qd"), 6).as("adc"))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("adc"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("adc"))
    },

    // Cluster-profile audit: assign every vector to its nearest seed
    // centroid (the q35 IVF assignment — deterministic stand-in for a
    // trained codebook; q100 gates the trained path) and report each
    // cluster's LABEL composition — the "cluster then inspect what
    // lives there" step of embedding-space curation (balance checks,
    // topic discovery, contamination triage). Aggregates are count /
    // min / max only: min and max are order-independent, so the gate
    // is engine-exact where an avg over doubles would ride summation
    // order. Scale shape: k centroids broadcast to the scan, argmax
    // is a map-side max_by — the only shuffle is the final
    // (cluster, label) rollup, bounded by k·|labels|.
    "q119_cluster_profile" -> { (s, dir) =>
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      e.crossJoin(broadcast(cents))
        .withColumn("cc", round(G.cosineSim(col("v"), col("cv")), 6))
        .groupBy("vec_id")
        .agg(first(col("label")).as("label"),
          max(struct(col("cc"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("label"), (-col("m.ncid")).as("cluster"),
          col("m.cc").as("cos"))
        .groupBy("cluster", "label")
        .agg(count(lit(1)).as("n"),
          round(min("cos"), 6).as("min_cos"),
          round(max("cos"), 6).as("max_cos"))
        .orderBy("cluster", "label")
    },

    // SEMANTIC decontamination — the embedding-space twin of q68's
    // n-gram form (paraphrased eval leakage survives shingle overlap
    // checks; cosine against the eval set catches it). Shape is
    // q68's, not q110's: the EVAL SET is the tiny side (thousands of
    // vectors vs a 100 TB corpus), so it broadcasts whole and the
    // corpus side NEVER shuffles raw vectors — the BNL cross join is
    // map-side, the per-vector max partial-aggregates, only (vec_id,
    // label, max_cos) rows reach the exchange. The report is per
    // label: how much of the corpus sits above the contamination
    // threshold and how close the worst offender is — the go/no-go
    // table a training run reads before touching the data. An IVF-
    // pruned variant is q110's machinery verbatim; brute force IS the
    // right plan here because the small side is eval, not a batch.
    // vec_id % 50 == 0 is the eval-set stand-in (q110's device);
    // τ=0.35 per q59's corpus rationale.
    "q141_semantic_decontam" -> { (s, dir) =>
      val e = emb(s, dir)
      val eval_ = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("eid"), col("v").as("ev"))
      val corpus = e.filter(col("vec_id") % 50 =!= 0)
      corpus.crossJoin(broadcast(eval_))
        .withColumn("cos", round(G.cosineSim(col("v"), col("ev")), 6))
        .groupBy("vec_id")
        .agg(first("label").as("label"), max("cos").as("max_cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("max_cos") >= 0.35, 1L).otherwise(0L))
            .as("n_contaminated"),
          round(max("max_cos"), 6).as("worst_cos"))
        .orderBy("label")
    },

    // Grid-density clustering — the SCALABLE DBSCAN shape (GriT/
    // grid-DBSCAN family): instead of the O(n²) ε-neighbor graph,
    // points collapse to grid cells in ONE map-side pass, density is
    // a cell count, and clusters are connected components over
    // ADJACENT DENSE CELLS — a graph whose size is bounded by the
    // grid, not the corpus, so a 100 TB embedding table clusters
    // through a cell-histogram shuffle plus CC on metadata. Cell ids
    // derive from floor(coord × 8): ×2³ is exact in float, so both
    // engines compute identical cells from identical parquet floats
    // (no ε-distance float comparison ever crosses engines).
    // Adjacency is an EQUI-join: each dense cell probes its 9 offsets
    // (explode) against the dense set — no inequality join. Isolated
    // dense cells are their own cluster (q55's coalesce).
    "q182_density_clusters" -> { (s, dir) =>
      val minPts = 10
      val dense = t(s, dir, "embeddings")
        .select(
          floor(element_at(col("embedding"), 1) * 8).cast("long").as("cx"),
          floor(element_at(col("embedding"), 2) * 8).cast("long").as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("npts"))
        .filter(col("npts") >= minPts)
        .withColumn("cell", (col("cx") + 100) * 1000 + (col("cy") + 100))
        .transform(Staging(_))
      val probes = dense
        .select(col("cell").as("cell_a"), col("cx"), col("cy"))
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("cell_a"), (col("cx") + col("dx")).as("cx"),
          (col("cy") + col("dy")).as("cy"))
      val edges = probes
        .join(dense.select(col("cx"), col("cy"),
          col("cell").as("cell_b")), Seq("cx", "cy"))
        .filter(col("cell_a") =!= col("cell_b"))
        .select("cell_a", "cell_b")
      val cc = graft.operators.ScaleOps
        .connectedComponents(edges, "cell_a", "cell_b")
      dense.join(cc.withColumnRenamed("id", "cell"), Seq("cell"), "left")
        .select(coalesce(col("rep"), col("cell")).as("cluster_id"),
          col("npts"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_cells"), sum("npts").as("n_points"))
        .orderBy("cluster_id")
    },

    // Hard-negative mining (the contrastive-training pair generator;
    // the "hard" in hard negatives = nearest WRONG-label neighbors) —
    // composes q184's negative sampling (random negatives) with the
    // ANN family: for each anchor vector, the top-2 highest-cosine
    // vectors with a DIFFERENT label. Anchors broadcast (≤10×dim),
    // cosines compute map-side against the single corpus scan, and
    // similarity ships as integer MICRO-units rounded BEFORE the
    // per-anchor ranking (the q205/q106 rule), so the row is
    // all-integer and the top-k is engine-exact. This gate runs the
    // exact scan form — at 100 TB the scan side is first reduced by
    // the IVF probe (q35/q110) and this exact form is what the probe
    // must reproduce on the probed subset.
    "q221_hard_negative_mining" -> { (s, dir) =>
      val e = emb(s, dir)
      val anchors = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor"), col("label").as("albl"),
          col("v").as("av"))
      e.crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("albl"))
        .withColumn("cos_micro",
          round(G.cosineSim(col("v"), col("av")) * 1e6).cast("long"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("anchor")
            .orderBy(col("cos_micro").desc, col("vec_id"))))
        .filter(col("rank") <= 2)
        .select(col("anchor"), col("rank"), col("vec_id").as("negative"),
          col("label").as("neg_label"), col("cos_micro"))
        .orderBy("anchor", "rank")
    },

    // MMR diversified top-k (Carbonell–Goldstein maximal marginal
    // relevance — the re-rank every RAG retriever runs after ANN):
    // greedily pick k=8 of a 16-candidate pool maximizing
    // 7·rel − 3·max-sim-to-selected, all in integer MICRO-units so
    // the greedy argmax is engine-exact at every step (ties break on
    // vec_id). Scale shape: relevance is ONE map-side pass against
    // the broadcast query vector (the same scan q33 runs — at 100 TB
    // the IVF probe feeds it); everything after the top-16 TakeOrdered
    // is k²-bounded pool metadata — the 16×16 sim matrix and the 8
    // greedy argmax steps never touch the corpus again, so the
    // re-rank cost is independent of corpus size by construction.
    "q228_mmr_diversified_topk" -> { (s, dir) =>
      val (poolN, k) = (16, 8)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val pool = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("rel",
          round(G.cosineSim(col("v"), col("qv")) * 1e6).cast("long"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(poolN)
        .select("vec_id", "rel", "v")
        .transform(Staging(_)) // pool + pairs reuse it across the k steps
      val pairs = pool.select(col("vec_id").as("a"), col("v").as("av"))
        .join(broadcast(pool.select(col("vec_id").as("b"),
          col("v").as("bv"))), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(G.cosineSim(col("av"), col("bv")) * 1e6).cast("long")
            .as("sim"))
        .transform(Staging(_))
      // Greedy selection: each step is an argmax over the ≤16-row pool
      // (bounded metadata, the kmeansFit precedent) — max(struct) so
      // the argmax is one hash aggregate, no sort. Struct comparison
      // is lexicographic, so (score, -vec_id) max = highest score,
      // smallest id on ties.
      var sel = Vector.empty[(Int, Long, Long, Long)]
      var step = 1
      var exhausted = false
      while (step <= k && !exhausted) {
        val selIds = sel.map(_._2)
        val cand =
          if (selIds.isEmpty) pool.withColumn("msim", lit(0L))
          else pool.filter(!col("vec_id").isInCollection(selIds))
            .join(pairs.filter(col("b").isInCollection(selIds))
              .groupBy("a").agg(max("sim").as("msim")),
              col("vec_id") === col("a"))
        // pools smaller than k drain early: the aggregate over an empty
        // candidate set yields a null struct — stop, matching the
        // oracle's empty `s_j LIMIT 1` steps on tiny corpora.
        val top = cand
          .withColumn("score", lit(7L) * col("rel") - lit(3L) * col("msim"))
          .agg(max(struct(col("score").as("sc"),
            (-col("vec_id")).as("nid"), col("rel").as("r"))).as("m"))
          .select(col("m.sc"), (-col("m.nid")).as("vec_id"), col("m.r"))
          .head()
        if (top.isNullAt(0)) exhausted = true
        else {
          sel = sel :+ ((step, top.getLong(1), top.getLong(2), top.getLong(0)))
          step += 1
        }
      }
      import s.implicits._
      sel.toDF("step", "vec_id", "rel_micro", "score_micro")
        .orderBy("step")
    },

    // k-center greedy coreset (Gonzalez 1985 farthest-point
    // traversal — the 2-approximation behind diverse data-subset /
    // active-learning selection): seed at vec_id 0, then k−1 times
    // pick the vector FARTHEST from everything selected so far,
    // distance = 1e6 − micro-cosine (rounded once, then pure
    // integers). Scale shape: the running min-distance column
    // updates against ONE newly-selected broadcast vector per step
    // and the argmax is one hash aggregate — k linear scans total,
    // state checkpointed per step (the q190 state-as-table device);
    // nothing quadratic in the corpus, unlike the all-pairs
    // formulations of diversity selection.
    //
    // Gated by PROPERTY, not by replaying the traversal (the
    // independent-oracle program): the oracle derives d2 — the
    // farthest distance from the seed — from the data alone, and pins
    // the Gonzalez invariants the engine MEASURES over its own
    // result: k distinct centers; the greedy pick distances
    // non-increasing; every point within the last pick's distance of
    // some center (coverage radius ≤ d_k); the centers pairwise at
    // least d_k apart (each pick was that far from all earlier ones).
    // A broken greedy (wrong argmax, stale min-distance, duplicate
    // pick) fails one of the measured flags or d2.
    "q232_kcenter_coreset" -> { (s, dir) =>
      val k = 8
      val e = emb(s, dir).select("vec_id", "v")
      def distTo(nv: Column): Column =
        lit(1000000L) - round(G.cosineSim(col("v"), nv) * 1e6).cast("long")
      // seed: dist recorded as the metric's upper bound (cos ≥ −1)
      var sel = Vector((1, 0L, 2000000L))
      var st = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("nv"))))
        .select(col("vec_id"), col("v"), distTo(col("nv")).as("mind"))
        .transform(Staging(_))
      var step = 2
      var exhausted = false
      while (step <= k && !exhausted) {
        val top = st.filter(!col("vec_id").isInCollection(sel.map(_._2)))
          .agg(max(struct(col("mind").as("d"), (-col("vec_id")).as("nid")))
            .as("m"))
          .select(col("m.d"), (-col("m.nid")).as("vec_id"))
          .head()
        if (top.isNullAt(0)) exhausted = true
        else {
          val picked = top.getLong(1)
          sel = sel :+ ((step, picked, top.getLong(0)))
          st = st.crossJoin(broadcast(
              st.filter(col("vec_id") === picked).select(col("v").as("nv"))))
            .select(col("vec_id"), col("v"),
              least(col("mind"), distTo(col("nv"))).as("mind"))
            .transform(Staging(_))
          step += 1
        }
      }
      // measured invariants over the engine's own result
      val picks = sel.drop(1) // (step, id, dist) for steps 2..k
      val dLast = picks.last._3
      val distMonotone =
        if (picks.map(_._3).sliding(2).forall(p =>
          p.length < 2 || p(0) >= p(1))) 1L else 0L
      // final st.mind = distance to the nearest of ALL k centers;
      // a drained pool (every vector selected) covers at radius 0
      val radiusRow = st.filter(
          !col("vec_id").isInCollection(sel.map(_._2)))
        .agg(max("mind")).head()
      val radius = if (radiusRow.isNullAt(0)) 0L else radiusRow.getLong(0)
      val centers = e.filter(col("vec_id").isInCollection(sel.map(_._2)))
        .select(col("vec_id").as("ca"), col("v").as("va"))
      val minPair = centers.crossJoin(
          centers.select(col("ca").as("cb"), col("va").as("vb")))
        .filter(col("ca") < col("cb"))
        .select((lit(1000000L) -
          round(G.cosineSim(col("va"), col("vb")) * 1e6).cast("long"))
          .as("d"))
        .agg(min("d")).head().getLong(0)
      import s.implicits._
      Seq((sel.map(_._2).distinct.size.toLong, picks.head._3,
        distMonotone, if (radius <= dLast) 1L else 0L,
        if (minPair >= dLast) 1L else 0L))
        .toDF("k_centers", "d2_micro", "dist_monotone",
          "radius_le_last", "centers_separated")
    },

    // Matryoshka truncation audit (Kusupati et al. — can the first
    // 16 of 64 dims serve retrieval?): for 5 query vectors, the
    // exact top-10 under FULL cosine vs under the 16-dim PREFIX
    // cosine — per query, how many of the true neighbors the
    // truncated index keeps (overlap@10) and how far their ranks
    // drift. Both arms are the q33 shape: one map-side pass against
    // broadcast queries, WindowGroupLimit pruning to k per query
    // BEFORE the exchange; the audit join is k×queries metadata.
    "q239_matryoshka_audit" -> { (s, dir) =>
      val k = 10
      val e = emb(s, dir).select("vec_id", "v")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val corpus = e.filter(col("vec_id") >= 5)
      def topk(dims: Int, tag: String): DataFrame = {
        val (cv, cq) =
          if (dims == 0) (col("v"), col("qv"))
          else (slice(col("v"), 1, dims), slice(col("qv"), 1, dims))
        corpus.crossJoin(broadcast(qs))
          .select(col("qid"), col("vec_id"),
            round(G.cosineSim(cv, cq) * 1e6).cast("long").as("cm"))
          .withColumn("rk", row_number().over(Window.partitionBy("qid")
            .orderBy(col("cm").desc, col("vec_id"))))
          .filter(col("rk") <= k)
          .select(col("qid"), col("vec_id"), col("rk").as(tag))
      }
      topk(0, "rf").join(topk(16, "rt"), Seq("qid", "vec_id"))
        .groupBy("qid")
        .agg(count(lit(1)).as("overlap_at_10"),
          sum(abs(col("rf") - col("rt"))).as("rank_displacement"))
        .orderBy("qid")
    },

    // ANN recall audit — the acceptance gate every approximate index
    // must pass before it replaces the exact scan: per query,
    // recall@10 of the IVF probe (q35's index: 16 fixed centroids,
    // 2 probed cells) against the brute-force truth, WITH the
    // scanned-fraction column that justifies the trade (recall alone
    // says nothing without the cost side). Map-side cosines, k-row
    // rank exchanges, audit join on k×queries metadata.
    "q240_ann_recall_audit" -> { (s, dir) =>
      val k = 10
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = V.assignToCentroids(e, cents)
        .filter(col("vec_id") >= 5)
        .transform(Staging(_)) // reused by both the probe and the counts
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val nCorpus = broadcast(assigned.agg(count(lit(1)).as("nc")))
      // per query: the 2 nearest cells (6dp, matching q35's device)
      val probed = cents.crossJoin(broadcast(qs))
        .withColumn("qc", round(G.cosineSim(col("cv"), col("qv")), 6))
        .withColumn("rk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("qc").desc, col("cid"))))
        .filter(col("rk") <= 2)
        .select(col("qid"), col("cid").as("cluster"))
      val cand = assigned.join(broadcast(probed), Seq("cluster"))
      val ivf = cand.join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(G.cosineSim(col("v"), col("qv")) * 1e6).cast("long")
            .as("cm"))
        .withColumn("rk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cm").desc, col("vec_id"))))
        .filter(col("rk") <= k)
        .select("qid", "vec_id")
      val brute = e.filter(col("vec_id") >= 5).crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"),
          round(G.cosineSim(col("v"), col("qv")) * 1e6).cast("long")
            .as("cm"))
        .withColumn("rk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cm").desc, col("vec_id"))))
        .filter(col("rk") <= k)
        .select("qid", "vec_id")
      val scanned = cand.groupBy("qid")
        .agg(count(lit(1)).as("n_scanned"))
      val truth = brute.groupBy("qid").agg(count(lit(1)).as("n_truth"))
      brute.join(ivf, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
        .join(truth, "qid") // recall denominator = |truth list| ≤ k
        .join(scanned, "qid").crossJoin(nCorpus)
        .select(col("qid"), col("hits"),
          expr("(hits * 1000000) div n_truth").as("recall_micro"),
          col("n_scanned"),
          expr("(n_scanned * 1000000) div nc").as("scanned_micro"))
        .orderBy("qid")
    },

    // Embedding drift monitor — per label, the cosine between the
    // centroid of the even half and the odd half (parity standing in
    // for old/new embedding-model runs): a retrained encoder that
    // moves a class's centroid silently poisons every ANN index built
    // on mixed vintages. Float-sum discipline: components quantize to
    // micro INTEGERS first, so the per-position sums that cross the
    // exchange are exact (never an order-dependent double
    // accumulation); the cosine of the two exact integer-sum vectors
    // is computed once and rounded once. The per-position rollup is
    // labels × 2 × dim rows — grid metadata, not corpus.
    "q247_centroid_drift" -> { (s, dir) =>
      val e = emb(s, dir)
        .select(col("label"), (col("vec_id") % 2 === 1).as("newer"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("xi", round(col("x") * 1e6).cast("long"))
      val grid = e.groupBy("label", "pos")
        .agg(sum(when(col("newer"), col("xi")).otherwise(0L)).as("sb"),
          sum(when(!col("newer"), col("xi")).otherwise(0L)).as("sa"))
      val counts = emb(s, dir).groupBy("label")
        .agg(sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))
            .as("n_b"),
          sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L))
            .as("n_a"))
      grid.groupBy("label")
        .agg(sum(col("sa").cast("decimal(38,0)") * col("sb"))
            .as("dot"),
          sum(col("sa").cast("decimal(38,0)") * col("sa")).as("na"),
          sum(col("sb").cast("decimal(38,0)") * col("sb")).as("nb"))
        .join(counts, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          (lit(1000000L) - round(col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double"))
            * 1e6).cast("long")).as("drift_micro"))
        .orderBy("label")
    },

    // Mixture-of-experts ROUTING audit (Shazeer 2017 top-k gating,
    // Switch/GShard load balancing) — the training-infra question a
    // curated corpus feeds next: with E=8 experts (the first 8
    // vectors as deterministic expert prototypes), route every other
    // vector to its top-2 experts by 6dp-rounded cosine gate score
    // and audit the load: tokens landed per expert at rank 1 and 2,
    // summed top-1 gate mass, and the Switch load factor f_e x E in
    // micro units (1e6 = perfectly balanced; the aux-loss signal).
    // Shape: gate matrix = tokens x 8 via a BROADCAST of the expert
    // prototypes (k x dim driver traffic only), top-2 via a window
    // over 8-row per-token groups, then one |E|-row aggregate — at
    // 100 TB the only corpus-scale pass is the gate scan itself.
    // Zero-load experts still report (left join from the prototype
    // list): a silent missing row is exactly the collapsed-expert
    // failure the audit exists to catch.
    "q256_moe_routing" -> { (s, dir) =>
      val e = emb(s, dir)
      val experts = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("expert"), col("v").as("ev"))
      val toks = e.filter(col("vec_id") >= 8)
      val gates = toks.crossJoin(broadcast(experts))
        .withColumn("gm",
          round(G.cosineSim(col("v"), col("ev")) * 1e6).cast("long"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id")
            .orderBy(col("gm").desc, col("expert"))))
        .filter(col("rk") <= 2)
      val nTok = broadcast(toks.agg(count(lit(1)).as("nt")))
      val agg = gates.groupBy("expert")
        .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_top1"),
          sum(when(col("rk") === 2, 1L).otherwise(0L)).as("n_top2"),
          sum(when(col("rk") === 1, col("gm")).otherwise(0L))
            .as("sum_top1_micro"))
      experts.select("expert").join(agg, Seq("expert"), "left")
        .na.fill(0L, Seq("n_top1", "n_top2", "sum_top1_micro"))
        .crossJoin(nTok)
        .withColumn("load_factor_micro",
          expr("(n_top1 * 8 * 1000000) div nt"))
        .select("expert", "n_top1", "n_top2", "sum_top1_micro",
          "load_factor_micro")
        .orderBy("expert")
    },

    // Johnson-Lindenstrauss random-projection audit — does a 64→16
    // ±1 projection (Achlioptas 2003's database-friendly JL) preserve
    // pairwise distances well enough to run the ANN/dedup stack in
    // the cheaper space? E[‖Rx‖²] = m·‖x‖² for ±1 entries, so the
    // per-pair ratio d²_proj/(m·d²_orig) should concentrate around 1;
    // this measures it on 100 consecutive-id pairs. Determinism: the
    // projection matrix is md5-parity signs, components are
    // milli-quantized BEFORE any sum (the q247 exact-integer-exchange
    // device), so projections, distances and ratios are all integer
    // arithmetic — no float crosses an aggregate. Shape: one
    // dims-explode (n×64 rows) joined to a 16-row broadcast axis, one
    // (vec, j) regroup — linear passes, no pair blowup beyond the
    // sampled 100.
    "q270_jl_projection_audit" -> { (s, dir) =>
      import s.implicits._
      val m = 16
      val comps = emb(s, dir).filter(col("vec_id") <= 100)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
        .withColumn("xm", round(col("x") * 1000).cast("long"))
      val axes = broadcast((0 until m).toDF("j"))
      val proj = comps.crossJoin(axes)
        .withColumn("sgn", lit(1L) - lit(2L) *
          (conv(substring(md5(concat_ws(":", lit("jl"), col("j"),
            col("d"))), 1, 15), 16, 10).cast("long") % 2))
        .groupBy("vec_id", "j").agg(sum(col("sgn") * col("xm")).as("y"))
      // pair (i, i+1): axis-aligned self-join, squared-diff sum
      def pairDist(df: DataFrame, ax: String, v: String,
                   out: String): DataFrame =
        df.select(col("vec_id").as("pair"), col(ax).as("ax"),
            col(v).as("ka"))
          .join(df.select((col("vec_id") - 1).as("pair"),
            col(ax).as("ax"), col(v).as("kb")), Seq("pair", "ax"))
          .groupBy("pair")
          .agg(sum((col("ka") - col("kb")) * (col("ka") - col("kb")))
            .as(out))
      val d2o = pairDist(comps, "d", "xm", "d2_orig")
      val d2p = pairDist(proj, "j", "y", "d2_proj")
      d2o.join(d2p, "pair")
        .filter(col("d2_orig") > 0)
        .withColumn("ratio_micro",
          expr(s"(d2_proj * 1000000) div ($m * d2_orig)"))
        .select("pair", "d2_orig", "d2_proj", "ratio_micro")
        .orderBy("pair")
    }
  )

  val oracleSql: Map[String, String] = Map(

    // the same micro-unit cosines, the same wrong-label top-2
    "q221_hard_negative_mining" ->
      """WITH a AS (
        |  SELECT vec_id AS anchor, label AS albl,
        |    embedding::DOUBLE[] AS av
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT a.anchor, e.vec_id, e.label,
        |    CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      a.av) * 1e6) AS BIGINT) AS cos_micro
        |  FROM embeddings e JOIN a ON e.label <> a.albl),
        |r AS (
        |  SELECT anchor, vec_id, label, cos_micro, row_number() OVER (
        |    PARTITION BY anchor ORDER BY cos_micro DESC, vec_id) AS rank
        |  FROM c)
        |SELECT anchor, CAST(rank AS INT) AS rank, vec_id AS negative,
        |  label AS neg_label, cos_micro
        |FROM r WHERE rank <= 2 ORDER BY anchor, rank""".stripMargin,

    // the same exact float cell arithmetic; adjacency closed by the
    // recursive-CTE union-find
    "q182_density_clusters" ->
      """WITH RECURSIVE pts AS (
        |  SELECT CAST(floor(embedding[1] * 8) AS BIGINT) AS cx,
        |    CAST(floor(embedding[2] * 8) AS BIGINT) AS cy
        |  FROM embeddings),
        |dense AS (
        |  SELECT cx, cy, count(*) AS npts,
        |    (cx + 100) * 1000 + (cy + 100) AS cell
        |  FROM pts GROUP BY cx, cy HAVING count(*) >= 10),
        |e AS (
        |  SELECT a.cell AS ca, b.cell AS cb
        |  FROM dense a JOIN dense b
        |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |  AND a.cell <> b.cell),
        |reach(id, lab) AS (
        |  SELECT ca, ca FROM e
        |  UNION
        |  SELECT e.ca, r.lab FROM e JOIN reach r ON e.cb = r.id),
        |comp AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id),
        |labeled AS (
        |  SELECT coalesce(c.rep, d.cell) AS cluster_id, d.npts
        |  FROM dense d LEFT JOIN comp c ON c.id = d.cell)
        |SELECT cluster_id, count(*) AS n_cells,
        |  CAST(sum(npts) AS BIGINT) AS n_points
        |FROM labeled GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q141_semantic_decontam" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |ev AS (SELECT vec_id AS eid, v AS evec FROM e WHERE vec_id % 50 = 0),
        |mx AS (
        |  SELECT c.vec_id, any_value(c.label) AS label,
        |    max(round(list_cosine_similarity(c.v, ev.evec), 6)) AS max_cos
        |  FROM e c, ev
        |  WHERE c.vec_id % 50 <> 0
        |  GROUP BY c.vec_id)
        |SELECT label, count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN max_cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  round(max(max_cos), 6) AS worst_cos
        |FROM mx GROUP BY label ORDER BY label""".stripMargin,

    "q119_cluster_profile" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |assigned AS (
        |  SELECT vec_id, label, cid, cos FROM (
        |    SELECT e.vec_id, e.label, c.cid,
        |      round(list_cosine_similarity(e.v, c.cv), 6) AS cos,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6)
        |          DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cents c) WHERE rn = 1)
        |SELECT cid AS cluster, label, count(*) AS n,
        |  round(min(cos), 6) AS min_cos, round(max(cos), 6) AS max_cos
        |FROM assigned GROUP BY cid, label
        |ORDER BY cluster, label""".stripMargin,
    "q33_knn_cosine" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos
        |FROM embeddings,
        |  (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE vec_id <> 0
        |ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6)
        |  DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q34_nn_per_vector" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 50),
        |pairs AS (
        |  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT label, id_a, id_b, cos,
        |    row_number() OVER (PARTITION BY label, id_a
        |                       ORDER BY cos DESC, id_b) AS rn
        |  FROM pairs)
        |SELECT label, id_a, id_b AS nn_id, round(cos, 6) AS nn_cos
        |FROM ranked WHERE rn = 1 ORDER BY label, id_a""".stripMargin,

    // Full-pipeline mirror: the IVF stages (centroid assignment with
    // smaller-cid tie-break, top-4 probed clusters, rank within probed)
    // are all cosine arithmetic, so DuckDB can replay them exactly.
    "q35_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster, v FROM (
        |    SELECT e.vec_id, c.cid, e.v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
        |          c.cid) AS rn
        |    FROM e CROSS JOIN cents c) WHERE rn = 1),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probed AS (
        |  SELECT cid AS cluster FROM cents, q
        |  ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, cid
        |  LIMIT 4)
        |SELECT a.vec_id, a.cluster,
        |  round(list_cosine_similarity(a.v, q.qv), 6) AS cos
        |FROM assigned a JOIN probed USING (cluster), q
        |WHERE a.vec_id <> 0
        |ORDER BY round(list_cosine_similarity(a.v, q.qv), 6) DESC, a.vec_id
        |LIMIT 10""".stripMargin,

    // Exact top-10: full-probe IVF visits every cluster, so whatever
    // kmeansFit trained, the answer must equal brute force — the
    // trained path's end-to-end gate (see q100's header).
    "q100_ann_ivf_trained" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos
        |FROM embeddings,
        |  (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE vec_id <> 0
        |ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6)
        |  DESC, vec_id
        |LIMIT 10""".stripMargin,

    // Brute-force batch×corpus best match — gates the IVF-pruned
    // operator because the triangle bound is exact (can't drop a
    // qualifying match), the q100 full-probe argument in probe form.
    "q110_incremental_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT b.vec_id, c.vec_id AS match_id,
        |    round(list_cosine_similarity(b.v, c.v), 6) AS cos
        |  FROM e b, e c
        |  WHERE b.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
        |q AS (
        |  SELECT vec_id, match_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, match_id) AS rn
        |  FROM p WHERE cos >= 0.35)
        |SELECT vec_id, match_id, cos FROM q WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // Exact top-10 — a stronger-than-mirror oracle: the wide-OR banding
    // provably (measured, see q46 comment) retains the true top-10 on
    // this corpus, so any recall regression in the signature/banding
    // now fails the driver hash gate.
    "q46_ann_hyperplane" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos
        |FROM embeddings,
        |  (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE vec_id <> 0
        |ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6)
        |  DESC, vec_id
        |LIMIT 10""".stripMargin,

    // independent union-find at the vector level (q55's device):
    // exact all-pairs cosine within label blocks, symmetrized, closed
    // by a recursive CTE, rolled up per min-id representative
    "q59_embedding_dedup_groups" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |ed AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(id, lab) AS (
        |  SELECT a AS id, a AS lab FROM ed
        |  UNION
        |  SELECT ed.a AS id, r.lab AS lab
        |  FROM ed JOIN reach r ON ed.b = r.id),
        |comp AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id)
        |SELECT rep AS group_id, CAST(count(*) AS BIGINT) AS n_vecs,
        |  max(id) AS max_vec
        |FROM comp GROUP BY rep ORDER BY group_id""".stripMargin,

    // full-pipeline mirror: q35's assignment (smaller-cid tie-break)
    // + q59's recursive-CTE union-find, blocked by the k-means cell
    "q74_semdedup_groups" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM e
        |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
        |                  FROM e)),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster, v FROM (
        |    SELECT e.vec_id, c.cid, e.v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
        |          c.cid) AS rn
        |    FROM e CROSS JOIN cents c) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM assigned a JOIN assigned b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |ed AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(id, lab) AS (
        |  SELECT a AS id, a AS lab FROM ed
        |  UNION
        |  SELECT ed.a AS id, r.lab AS lab
        |  FROM ed JOIN reach r ON ed.b = r.id),
        |comp AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id),
        |g AS (
        |  SELECT ass.cluster, count(*) AS n_grouped,
        |    count(DISTINCT rep) AS n_groups
        |  FROM comp JOIN assigned ass ON ass.vec_id = comp.id
        |  GROUP BY ass.cluster),
        |sizes AS (SELECT cluster, count(*) AS n_vecs FROM assigned
        |          GROUP BY cluster)
        |SELECT s.cluster, CAST(s.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(coalesce(g.n_grouped, 0) AS BIGINT) AS n_grouped,
        |  CAST(coalesce(g.n_groups, 0) AS BIGINT) AS n_groups,
        |  CAST(coalesce(g.n_grouped - g.n_groups, 0) AS BIGINT) AS n_dropped
        |FROM sizes s LEFT JOIN g USING (cluster) ORDER BY s.cluster""".stripMargin,

    "q75_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |s1 AS (
        |  SELECT vec_id, label, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |s2 AS (
        |  SELECT vec_id, label, v,
        |    list_transform(v, x ->
        |      greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale)
        |      AS dq
        |  FROM s1 WHERE scale > 0),
        |m AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(range(1, len(v) + 1),
        |      i -> (v[i] - dq[i]) * (v[i] - dq[i])))) AS l2_err,
        |    list_max(list_transform(range(1, len(v) + 1),
        |      i -> abs(v[i] - dq[i]))) AS max_err,
        |    list_cosine_similarity(v, dq) AS cosp
        |  FROM s2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg(l2_err), 6) AS avg_l2_err,
        |  round(max(max_err), 6) AS max_abs_err,
        |  round(avg(cosp), 6) AS avg_cos
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "q76_pq_adc" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |subs AS (
        |  SELECT vec_id, i AS sub, v[(i*8+1):(i*8+8)] AS sv
        |  FROM e, UNNEST(range(0, 8)) AS u(i)),
        |cb AS (SELECT vec_id AS cid, sub, sv AS cv FROM subs
        |       WHERE vec_id < 16),
        |dists AS (
        |  SELECT s.vec_id, s.sub, c.cid,
        |    round(list_sum(list_transform(range(1, 9),
        |      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS d
        |  FROM subs s JOIN cb c USING (sub)),
        |codes AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY d, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (SELECT sub, cid, d AS qd FROM dists WHERE vec_id = 0)
        |SELECT c.vec_id, round(sum(l.qd), 6) AS adc
        |FROM codes c JOIN lut l USING (sub, cid)
        |WHERE c.vec_id <> 0
        |GROUP BY c.vec_id
        |ORDER BY adc, c.vec_id LIMIT 10""".stripMargin,

    // the same 16-candidate pool and 8 greedy steps, replayed as
    // chained argmax CTEs (s1..s8; lN = selected ids after step N).
    // Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // with s/l referenced 3× per step the un-materialized tree
    // re-evaluates ~3^8 times (measured: minutes → 0.2 s).
    "q228_mmr_diversified_topk" -> {
      def stepCte(j: Int): String =
        s"""s$j AS MATERIALIZED (
           |  SELECT c.vec_id, c.rel, 7 * c.rel - 3 * m.msim AS score
           |  FROM pool c JOIN (
           |    SELECT a, max(sim) AS msim FROM pr
           |    WHERE b IN (SELECT vec_id FROM l${j - 1}) GROUP BY a) m
           |    ON m.a = c.vec_id
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM l${j - 1})
           |  ORDER BY score DESC, c.vec_id LIMIT 1),
           |l$j AS MATERIALIZED (SELECT vec_id FROM l${j - 1}
           |        UNION ALL SELECT vec_id FROM s$j),""".stripMargin
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |pool AS MATERIALIZED (
        |  SELECT vec_id,
        |    CAST(round(list_cosine_similarity(v, qv) * 1e6) AS BIGINT)
        |      AS rel, v
        |  FROM e, q WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 16),
        |pr AS MATERIALIZED (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    CAST(round(list_cosine_similarity(a.v, b.v) * 1e6) AS BIGINT)
        |      AS sim
        |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        |s1 AS MATERIALIZED (SELECT vec_id, rel, 7 * rel AS score FROM pool
        |       ORDER BY score DESC, vec_id LIMIT 1),
        |l1 AS MATERIALIZED (SELECT vec_id FROM s1),
        |""".stripMargin +
        (2 to 8).map(stepCte).mkString("\n") +
        "\ndummy AS (SELECT 1)\n" +
        (1 to 8).map(j =>
          s"SELECT $j AS step, vec_id, rel AS rel_micro," +
            s" score AS score_micro FROM s$j")
          .mkString("\nUNION ALL\n") +
        "\nORDER BY step"
    },

    // the same greedy traversal: each MATERIALIZED step recomputes
    // every unselected vector's min distance to the selected set —
    // identical values to the engine's incremental least() chain
    // d2 derived from the data alone (farthest point from the seed);
    // the remaining columns are Gonzalez-greedy THEOREMS the engine
    // measures over its own selection — pinned true, never replayed
    "q232_kcenter_coreset" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s0 AS (SELECT v FROM e WHERE vec_id = 0)
        |SELECT CAST(8 AS BIGINT) AS k_centers,
        |  (SELECT max(1000000 - CAST(round(
        |      list_cosine_similarity(e.v, s0.v) * 1e6) AS BIGINT))
        |   FROM e, s0 WHERE e.vec_id <> 0) AS d2_micro,
        |  CAST(1 AS BIGINT) AS dist_monotone,
        |  CAST(1 AS BIGINT) AS radius_le_last,
        |  CAST(1 AS BIGINT) AS centers_separated""".stripMargin,

    // the same two top-10 arms (full vs 16-dim prefix slice) and
    // the k×queries audit join
    "q239_matryoshka_audit" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |rf AS MATERIALIZED (
        |  SELECT qid, vec_id, rk AS rf FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |        ORDER BY cm DESC, vec_id) AS rk
        |    FROM (SELECT q.qid, c.vec_id,
        |            CAST(round(list_cosine_similarity(c.v, q.qv) * 1e6)
        |              AS BIGINT) AS cm
        |          FROM c, q))
        |  WHERE rk <= 10),
        |rt AS MATERIALIZED (
        |  SELECT qid, vec_id, rk AS rt FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |        ORDER BY cm DESC, vec_id) AS rk
        |    FROM (SELECT q.qid, c.vec_id,
        |            CAST(round(list_cosine_similarity(
        |              c.v[1:16], q.qv[1:16]) * 1e6) AS BIGINT) AS cm
        |          FROM c, q))
        |  WHERE rk <= 10)
        |SELECT rf.qid, count(*) AS overlap_at_10,
        |  CAST(sum(abs(rf.rf - rt.rt)) AS BIGINT) AS rank_displacement
        |FROM rf JOIN rt USING (qid, vec_id)
        |GROUP BY rf.qid ORDER BY rf.qid""".stripMargin,

    // the same centroid assignment (6dp, min-cid ties), 2-cell
    // probe, and both top-10 arms
    "q240_ann_recall_audit" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv FROM e
        |          WHERE vec_id < 16),
        |assigned AS MATERIALIZED (
        |  SELECT vec_id, cid AS cluster, v FROM (
        |    SELECT e.vec_id, cents.cid, e.v, row_number() OVER (
        |        PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, cents.cv), 6)
        |          DESC, cents.cid) AS rk
        |    FROM e, cents)
        |  WHERE rk = 1 AND vec_id >= 5),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |probed AS MATERIALIZED (
        |  SELECT qid, cid AS cluster FROM (
        |    SELECT q.qid, cents.cid, row_number() OVER (
        |        PARTITION BY q.qid
        |        ORDER BY round(list_cosine_similarity(cents.cv, q.qv), 6)
        |          DESC, cents.cid) AS rk
        |    FROM cents, q)
        |  WHERE rk <= 2),
        |cand AS MATERIALIZED (
        |  SELECT p.qid, a.vec_id, a.v FROM assigned a
        |  JOIN probed p ON p.cluster = a.cluster),
        |ivf AS MATERIALIZED (
        |  SELECT qid, vec_id FROM (
        |    SELECT cand.qid, cand.vec_id, row_number() OVER (
        |        PARTITION BY cand.qid ORDER BY
        |        CAST(round(list_cosine_similarity(cand.v, q.qv) * 1e6)
        |          AS BIGINT) DESC, cand.vec_id) AS rk
        |    FROM cand JOIN q USING (qid))
        |  WHERE rk <= 10),
        |brute AS MATERIALIZED (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.qid, c.vec_id, row_number() OVER (
        |        PARTITION BY q.qid ORDER BY
        |        CAST(round(list_cosine_similarity(c.v, q.qv) * 1e6)
        |          AS BIGINT) DESC, c.vec_id) AS rk
        |    FROM e c, q WHERE c.vec_id >= 5)
        |  WHERE rk <= 10),
        |nc AS (SELECT count(*) AS nc FROM assigned),
        |sc AS (SELECT qid, count(*) AS n_scanned FROM cand GROUP BY qid),
        |tr AS (SELECT qid, count(*) AS n_truth FROM brute GROUP BY qid),
        |h AS (SELECT b.qid, count(*) AS hits FROM brute b
        |      JOIN ivf USING (qid, vec_id) GROUP BY b.qid)
        |SELECT h.qid, h.hits,
        |  CAST((h.hits * 1000000) // tr.n_truth AS BIGINT)
        |    AS recall_micro,
        |  sc.n_scanned,
        |  CAST((sc.n_scanned * 1000000) // nc.nc AS BIGINT)
        |    AS scanned_micro
        |FROM h JOIN sc USING (qid) JOIN tr USING (qid), nc
        |ORDER BY h.qid""".stripMargin,

    // the same micro-quantized integer component sums, exact grid
    // algebra, and one closing rounded cosine
    "q247_centroid_drift" ->
      """WITH e AS (
        |  SELECT vec_id, label, vec_id % 2 = 1 AS newer,
        |    unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings),
        |q AS (SELECT label, newer, pos,
        |        CAST(round(x * 1000000) AS BIGINT) AS xi
        |      FROM e),
        |grid AS MATERIALIZED (
        |  SELECT label, pos,
        |    CAST(sum(CASE WHEN newer THEN xi ELSE 0 END) AS BIGINT)
        |      AS sb,
        |    CAST(sum(CASE WHEN newer THEN 0 ELSE xi END) AS BIGINT)
        |      AS sa
        |  FROM q GROUP BY label, pos),
        |dots AS (
        |  SELECT label,
        |    sum(CAST(sa AS HUGEINT) * sb) AS dot,
        |    sum(CAST(sa AS HUGEINT) * sa) AS na,
        |    sum(CAST(sb AS HUGEINT) * sb) AS nb
        |  FROM grid GROUP BY label),
        |cnt AS (
        |  SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM embeddings GROUP BY label)
        |SELECT d.label, c.n_a, c.n_b,
        |  CAST(1000000 - round(d.dot::DOUBLE /
        |    sqrt(d.na::DOUBLE * d.nb::DOUBLE) * 1000000) AS BIGINT)
        |    AS drift_micro
        |FROM dots d JOIN cnt c USING (label)
        |ORDER BY d.label""".stripMargin,

    // the same 6dp cosine gates, the same (gm DESC, expert) top-2,
    // zero-load experts preserved by the left join
    "q256_moe_routing" ->
      """WITH ex AS (
        |  SELECT vec_id AS expert, embedding::DOUBLE[] AS ev
        |  FROM embeddings WHERE vec_id < 8),
        |tok AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 8),
        |g AS (
        |  SELECT t.vec_id, ex.expert,
        |    CAST(round(list_cosine_similarity(t.v, ex.ev) * 1e6)
        |      AS BIGINT) AS gm
        |  FROM tok t CROSS JOIN ex),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY gm DESC, expert) AS rk
        |  FROM g),
        |nt AS (SELECT count(*) AS nt FROM tok),
        |agg AS (
        |  SELECT expert,
        |    CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_top1,
        |    CAST(sum(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_top2,
        |    CAST(sum(CASE WHEN rk = 1 THEN gm ELSE 0 END) AS BIGINT)
        |      AS sum_top1_micro
        |  FROM r WHERE rk <= 2 GROUP BY expert)
        |SELECT ex.expert, COALESCE(agg.n_top1, 0) AS n_top1,
        |  COALESCE(agg.n_top2, 0) AS n_top2,
        |  COALESCE(agg.sum_top1_micro, 0) AS sum_top1_micro,
        |  CAST((COALESCE(agg.n_top1, 0) * 8 * 1000000) // nt.nt
        |    AS BIGINT) AS load_factor_micro
        |FROM ex LEFT JOIN agg USING (expert) CROSS JOIN nt
        |ORDER BY ex.expert""".stripMargin,

    // the same md5-parity signs over the same milli-quantized
    // components — every sum is integer in both engines
    "q270_jl_projection_audit" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id <= 100),
        |comps AS (
        |  SELECT vec_id, d.i - 1 AS d,
        |    CAST(round(v[d.i] * 1000) AS BIGINT) AS xm
        |  FROM e, UNNEST(range(1, len(v) + 1)) AS d(i)),
        |axes AS (SELECT unnest(range(0, 16)) AS j),
        |proj AS (
        |  SELECT c.vec_id, a.j,
        |    CAST(sum((1 - 2 * (('0x' || substr(md5('jl:' ||
        |        CAST(a.j AS VARCHAR) || ':' || CAST(c.d AS VARCHAR)),
        |        1, 15))::BIGINT % 2)) * c.xm) AS BIGINT) AS y
        |  FROM comps c CROSS JOIN axes a GROUP BY c.vec_id, a.j),
        |d2o AS (
        |  SELECT x.vec_id AS pair,
        |    CAST(sum((x.xm - y2.xm) * (x.xm - y2.xm)) AS BIGINT)
        |      AS d2_orig
        |  FROM comps x JOIN comps y2
        |    ON y2.vec_id = x.vec_id + 1 AND y2.d = x.d
        |  GROUP BY x.vec_id),
        |d2p AS (
        |  SELECT p1.vec_id AS pair,
        |    CAST(sum((p1.y - p2.y) * (p1.y - p2.y)) AS BIGINT)
        |      AS d2_proj
        |  FROM proj p1 JOIN proj p2
        |    ON p2.vec_id = p1.vec_id + 1 AND p2.j = p1.j
        |  GROUP BY p1.vec_id)
        |SELECT d2o.pair, d2o.d2_orig, d2p.d2_proj,
        |  CAST((d2p.d2_proj * 1000000) // (16 * d2o.d2_orig)
        |    AS BIGINT) AS ratio_micro
        |FROM d2o JOIN d2p USING (pair)
        |WHERE d2o.d2_orig > 0
        |ORDER BY pair""".stripMargin
  )
}
