package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions => G}

/** Incremental (batch × corpus) near-dup with a measured regime switch.
  *
  * The organic-ingest arm (probe): the corpus's banded minhash
  * signatures are a reusable (sid, band, bucket) index; the batch's
  * bands equi-join it (batch-sized join), candidates verify by exact
  * Jaccard, and each new doc reports its best existing match with an
  * engine-exact rank. This is q105's contract and scales linearly in
  * batch size (BASELINE.md round 7: organic 10× growth → 3.5× cost).
  *
  * The wrong regime for that arm — measured, not hypothetical — is a
  * MASS-DUPLICATED corpus: replica families of near-identical DISTINCT
  * word sets. Every family member lands in the same band buckets, so
  * best-match-per-doc is inherently family-quadratic in the verify
  * (every member is a candidate and their jaccards all differ). That
  * corpus shape belongs to the q55 GROUP form: star-reduced candidate
  * edges (linear in bucket size), connected components, one verify per
  * batch doc against its family representative.
  *
  * [[auto]] prices the candidate join BEFORE committing to either plan,
  * with exactly q89's device: |A ⋈ B| = Σ_k nA(k)·nB(k) over the
  * (band, bucket) keys of the two indexes — two partial-aggregated
  * groupBys and a key-sized join, never the join itself. When the
  * estimated candidate rows per batch set cross `switchPerSet`, the
  * group arm runs; otherwise the probe arm. The decision inputs ride
  * the returned [[Decision]] so callers (and specs) can see WHY.
  *
  * Reference basis: near-dup ingest dedup per SURVEY §2.8; the
  * pre-flight is the q89 join-size estimate applied to LSH band keys.
  */
object IncrementalDedup {

  /** The pre-flight measurement and the arm it selected. */
  final case class Decision(arm: String, candRows: Long, nBatchSets: Long,
                            maxKeyRows: Long, perBatchSet: Double,
                            result: DataFrame)

  /** Reusable LSH index: one (sid, band, bucket) row per band of each
    * set's k-minhash signature — longs only through every shuffle.
    * In production this is built ONCE per corpus and persisted; each
    * day's batch builds only its own (batch-sized) index.
    */
  def bandIndex(sets: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sets
      .select(col(idCol), G.minhashSig(col("ws"), k).as("sig"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => xxhash64(i, slice(col("sig"), i * lit(rows) + lit(1),
            lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select(col(idCol), col("band"), col("bucket"))
  }

  /** q89 over the band keys: exact candidate-join cardinality from
    * per-key counts, without running the join. One row out.
    */
  def preflight(batchIdx: DataFrame, corpusIdx: DataFrame): DataFrame = {
    val a = batchIdx.groupBy("band", "bucket").agg(count(lit(1)).as("na"))
    val b = corpusIdx.groupBy("band", "bucket").agg(count(lit(1)).as("nb"))
    a.join(b, Seq("band", "bucket"))
      .select((col("na") * col("nb")).as("rows_k"))
      .agg(coalesce(sum("rows_k"), lit(0L)).as("cand_rows"),
        coalesce(max("rows_k"), lit(0L)).as("max_key_rows"))
  }

  /** Organic arm: probe the corpus index, verify candidates exactly,
    * keep each batch set's best match (max jac, min osid tie-break;
    * jac is one IEEE division of identical ints — engine-exact rank).
    */
  def probeBestMatch(batchSets: DataFrame, corpusSets: DataFrame,
                     batchIdx: DataFrame, corpusIdx: DataFrame,
                     jacThreshold: Double): DataFrame = {
    val cand = batchIdx.join(corpusIdx, Seq("band", "bucket"))
      .select("nsid", "osid").distinct()
    val verified = cand
      .join(batchSets.select(col("nsid"), col("ws").as("ws_n")), Seq("nsid"))
      .join(corpusSets.select(col("osid"), col("ws").as("ws_o")), Seq("osid"))
      // size-ratio prefilter (q29's device): jac ≤ min/max of the set
      // sizes, so the integer compare prunes verify work in the same
      // codegen stage without touching the answer
      .filter(least(size(col("ws_n")), size(col("ws_o"))) >=
        greatest(size(col("ws_n")), size(col("ws_o"))) * jacThreshold)
      .withColumn("jac", G.sortedJaccard(col("ws_n"), col("ws_o")))
      .filter(col("jac") >= jacThreshold)
    val w = Window.partitionBy("nsid").orderBy(col("jac").desc, col("osid"))
    verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("nsid"), col("osid").as("match_id"), col("jac"))
  }

  /** Mass-dup arm: family membership instead of per-pair best match.
    * Star-reduced edges over the UNION index (linear in bucket size —
    * never the quadratic intra-family pair join), connected components,
    * then each batch set verifies ONE pair: itself against its family's
    * representative (min corpus sid in the component). `jac` is the
    * measured similarity to that representative, reported unfiltered —
    * a transitive family member can sit below the pairwise threshold
    * and is still a family member; that is the point of the group form.
    *
    * Precondition: nsid/osid values are disjoint (they are distinct
    * doc_ids of one table here; a production run namespaces them).
    */
  def groupBestMatch(batchSets: DataFrame, corpusSets: DataFrame,
                     batchIdx: DataFrame, corpusIdx: DataFrame,
                     bucketCap: Int = 64): DataFrame = {
    val unionIdx = batchIdx.select(col("nsid").as("sid"), col("band"), col("bucket"))
      .union(corpusIdx.select(col("osid").as("sid"), col("band"), col("bucket")))
    val edges = ScaleOps.bandedCandidatePairs(
      unionIdx, Seq("band", "bucket"), "sid", bucketCap)
    val cc = ScaleOps.connectedComponents(edges)
    // family representative = min CORPUS member of the component (a
    // component with no corpus member is batch-only novelty: no match)
    val repPerComp = cc
      .join(corpusSets.select(col("osid").as("id")), Seq("id"))
      .groupBy("rep").agg(min("id").as("match_id"))
    cc.join(batchSets.select(col("nsid").as("id"), col("ws").as("ws_n")), Seq("id"))
      .join(repPerComp, Seq("rep"))
      .join(corpusSets.select(col("osid").as("match_id"), col("ws").as("ws_o")),
        Seq("match_id"))
      .select(col("id").as("nsid"), col("match_id"),
        G.sortedJaccard(col("ws_n"), col("ws_o")).as("jac"))
  }

  /** Pre-flight, pick, run. `switchPerSet` is estimated candidate rows
    * per batch set — bands·(family size)·(band-collision rate) for a
    * replica family. Calibration (measured on the driver corpus, which
    * is template-heavy by construction): a purely organic batch probes
    * ≲ 50; the driver's documents table measures ~630 at BOTH sf0.001
    * and sf0.01 (distinct-set structure is sf-invariant: exact dedup
    * collapses the template families first, so the estimate does NOT
    * grow with corpus size) and the probe arm handles that density
    * comfortably. The default 4096 ≈ 16 bands × a 256-member DISTINCT
    * replica family — the scale where per-doc verify work turns
    * family-quadratic in earnest — leaving 6.5× headroom over the
    * measured template floor while still tripping three orders of
    * magnitude before a 100k-replica crawl family would melt the
    * verify stage.
    */
  def auto(batchSets: DataFrame, corpusSets: DataFrame, k: Int, bands: Int,
           jacThreshold: Double, switchPerSet: Double = 4096.0): Decision = {
    val batchIdx = bandIndex(batchSets, "nsid", k, bands).transform(Staging(_))
    val corpusIdx = bandIndex(corpusSets, "osid", k, bands).transform(Staging(_))
    // Bounded driver metadata: one 1-row agg + one count — the price of
    // not running a family-quadratic join by accident.
    val pf = preflight(batchIdx, corpusIdx).head()
    val (candRows, maxKey) = (pf.getLong(0), pf.getLong(1))
    val nBatchSets = batchSets.count()
    val perSet = if (nBatchSets == 0) 0.0 else candRows.toDouble / nBatchSets
    if (perSet > switchPerSet)
      Decision("group", candRows, nBatchSets, maxKey, perSet,
        groupBestMatch(batchSets, corpusSets, batchIdx, corpusIdx))
    else
      Decision("probe", candRows, nBatchSets, maxKey, perSet,
        probeBestMatch(batchSets, corpusSets, batchIdx, corpusIdx, jacThreshold))
  }
}
