package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering (Sarwar et al. 2001) with an
  * AUTOMATIC regime switch — the round-13 closure of the CF family's
  * work-selection loop: the reference's work-selection queries
  * (`eodatadownrun.py:790-845`) never needed a human to pick a plan,
  * and neither should this operator. Three arms, one contract:
  *
  *  - '''exact''' (q199): full Σ basket² pair enumeration — the
  *    ground truth, affordable while the pair exchange fits the
  *    cluster (random baskets, bounded basket sizes).
  *  - '''capped''' (q211): md5-capped baskets (≤ cap items per user,
  *    deterministically sampled) — bounds the MAP-side enumeration at
  *    ≤ cap²/2 pairs per user no matter how degenerate the basket
  *    distribution gets; exact under its own cap contract.
  *  - '''capped∘DIMSUM''' (q227; Zadeh & Goel 2013): the cap composed
  *    with probability-proportional pair sampling — additionally
  *    bounds the EXCHANGE when popular items would still flood it
  *    after capping.
  *
  * [[preflight]] measures the basket-skew profile the q89 join-size
  * device measures for joins — Σ b(b−1)/2 (the exact arm's pair
  * emissions), the same under the cap, and the max basket — in ONE
  * partial-aggregated pass over per-user counts (two scans of a
  * (u,p)-distinct frame, no pairs materialized). [[auto]] routes on
  * those numbers against caller-supplied budgets and stamps the
  * decision onto every output row, so a pipeline reading the result
  * can SEE which contract produced it.
  *
  * One basket kernel serves every arm ([[baskets]]): a single u-keyed
  * grouping of (u, p) applies the md5 cap (none for the exact arm),
  * a compiled pass enumerates each basket's pairs for the co-count
  * aggregate ([[pairCounts]]), and the norms count the same baskets'
  * items ([[norms]]). Only the exact cosine/rank tail is SQL.
  *
  * Column contract: input `pos` has columns (u, p) — one row per
  * (user, item) positive signal, already distinct; p an integral item
  * id. Output: (part,
  * rank, similar, cosine) — top-k neighbors per item, similarity
  * rounded to 6dp BEFORE ranking with an item-id tiebreak, so the
  * top-k is engine-exact in every arm.
  */
object ItemItemCf {

  /** The measured skew profile and the routing decision derived from
    * it. `pairRowsExact` = Σ b(b−1)/2 — the rows the exact arm's
    * pair exchange would carry; `pairRowsCapped` = the same under
    * min(b, cap). Regimes: "exact" when the exact exchange fits
    * `exactBudget`; else "capped" when the capped exchange fits
    * `cappedBudget`; else "capped_dimsum" (cap the map side AND
    * sample the exchange).
    */
  final case class Preflight(pairRowsExact: Long, pairRowsCapped: Long,
                             maxBasket: Long, nBaskets: Long,
                             regime: String)

  /** One aggregate pass over per-user basket sizes — the decision
    * input, computed WITHOUT materializing any pair. Driver-side
    * result is a single row; the two groupBys are partial-aggregated
    * (u-keyed then global), so at 100 TB this costs one shuffle of
    * per-user counts, ~the cost of a distinct-count sanity check.
    */
  def preflight(pos: DataFrame, cap: Int,
                exactBudget: Long, cappedBudget: Long): Preflight = {
    // integer floor-div, not /: b(b−1) is even so DIV 2 is exact in
    // 64-bit integers at any corpus size, where a double sum would
    // round past 2^53 pair emissions
    val r = pos.groupBy("u").agg(count(lit(1)).as("b"))
      .agg(
        sum(expr("b * (b - 1) DIV 2")).as("pe"),
        sum(expr(s"least(b, ${cap}L) * (least(b, ${cap}L) - 1) DIV 2"))
          .as("pc"),
        max("b").as("mb"), count(lit(1)).as("nb"))
      .head()
    val (pe, pc) = (r.getLong(0), r.getLong(1))
    val regime =
      if (pe <= exactBudget) "exact"
      else if (pc <= cappedBudget) "capped"
      else "capped_dimsum"
    Preflight(pe, pc, r.getLong(2), r.getLong(3), regime)
  }

  /** The basket kernel: ONE u-keyed grouping of (u, p), one row per
    * user out — (u, sp), the user's kept items ascending. A user with
    * more than `cap` rows keeps the `cap` with the smallest
    * ([[capKey]], p), nulls first on p: the q211 contract, replayable
    * in any engine as `row_number() OVER (PARTITION BY u ORDER BY
    * conv(substring(md5(concat_ws(':', 'cap', u, p)), 1, 15), 16, 10),
    * p) <= cap`. A null p takes a cap slot (under md5("cap:u")) but is
    * not an item, so it is dropped from `sp` and never pairs. With no
    * cap (`Int.MaxValue`) no key is drawn: every item is kept.
    *
    * u travels as its string form — the form `concat_ws` hashes — and
    * p as a long (items are integral ids), cast back to the caller's
    * type where the kernel's output leaves this object.
    */
  private def baskets(pos: DataFrame, cap: Int): DataFrame = {
    import pos.sparkSession.implicits._
    pos.select(col("u").cast("string").as("u"), col("p").cast("long").as("p"))
      .groupBy("u")
      .as[String, (String, java.lang.Long)](Encoders.STRING,
        Encoders.tuple(Encoders.STRING, Encoders.LONG))
      .mapGroups((u, rows) => (u, kept(u, rows.map(_._2).toArray, cap)))
      .toDF("u", "sp")
  }

  /** One user's kept items, ascending (see [[baskets]]). */
  private def kept(u: String, ps: Array[java.lang.Long],
                   cap: Int): Array[Long] = {
    val slots =
      if (ps.length <= cap) ps
      else {
        val md = MessageDigest.getInstance("MD5")
        ps.map(p => ((capKey(md, u, p), Option(p).map(_.longValue)), p))
          .sortBy(_._1).take(cap).map(_._2)
      }
    val items = slots.filter(_ != null).map(_.longValue)
    java.util.Arrays.sort(items)
    items
  }

  /** The cap draw of (u, p): the first 15 hex digits of
    * md5(concat_ws(':', 'cap', u, p)) read base 16 — Spark's
    * `conv(substring(md5(..), 1, 15), 16, 10)`. `concat_ws` skips
    * nulls, so a null u or p leaves its field (and its ':') out.
    */
  private[operators] def capKey(md: MessageDigest, u: String,
                                p: java.lang.Long): Long = {
    val sb = new java.lang.StringBuilder("cap")
    if (u != null) sb.append(':').append(u)
    if (p != null) sb.append(':').append(p.longValue)
    val d = md.digest(sb.toString.getBytes(UTF_8))
    var k = 0L
    var i = 0
    while (i < 7) {
      k = (k << 8) | (d(i) & 0xffL)
      i += 1
    }
    (k << 4) | ((d(7) & 0xff) >>> 4)
  }

  /** Pair co-counts (p1, p2, c) over the kernel's baskets: every
    * pair p1 < p2 of a basket (positions i < j of its sorted items) is
    * enumerated in compiled Scala — no lambda HOF, no self-join — and
    * Spark's partial → exchange → final hash aggregate counts them: the
    * (p1,p2) exchange is the exact-CF lower bound.
    *
    * (r15 optimization probe, kept as a finding: moving BOTH
    * aggregate passes above an explicit (p1,p2) repartition — the
    * "pre-bucketed pairs" idea, motivated by the map-side partial
    * aggregate's measured combine factor ≈ 1 — was implemented and
    * measured WORSE on every arm at sf0.1 (q290 steady taskTime
    * 60 → 108 s, q214 60 → 72-128 s, GC 2-4 → 6-9 s/rep): the two
    * post-shuffle hash aggregates run back-to-back in ONE stage, so
    * each reduce task holds two live ~12M/N-entry hash maps instead
    * of one small map-side map + one reduce map in separate stages,
    * and the extra memory pressure cost more than the useless
    * map-side combine pass it removed. Reverted; the default
    * partial→exchange→final pipeline stays.)
    */
  private def pairCounts(b: DataFrame): DataFrame = {
    import b.sparkSession.implicits._
    b.select("sp").as[Array[Long]]
      .flatMap { sp =>
        Iterator.range(0, sp.length).flatMap(i =>
          Iterator.range(i + 1, sp.length).map(j => (sp(i), sp(j))))
      }
      .toDF("p1", "p2")
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("c"))
  }

  /** Per-item basket counts (p, n) from the same kept baskets. Its own
    * small aggregate: sharing the pair aggregate would make both
    * consumers re-run that aggregate's final pass over every pair.
    */
  private def norms(b: DataFrame): DataFrame =
    b.select(explode(col("sp")).as("p")).groupBy("p")
      .agg(count(lit(1)).as("n"))

  /** Cosine + symmetrize + top-k with the 6dp-then-tiebreak rank.
    *
    * Symmetrization is an EXPLODE of both orientations from one pass
    * over `sim`, not a self-union (r15, guide §1.2): the union form
    * planned the whole pair subtree TWICE — AQE reused the pair
    * EXCHANGE across the branches, but each branch still re-ran the
    * post-exchange aggregation and the cosine joins (r14 probe: 144 MB
    * shuffle written, 254 MB read — every exchange read twice). The
    * r14 staging probe (localCheckpoint before the union) fixed the
    * double-pass but paid 8–13 s of GC materializing 12M-row blocks
    * and was reverted; explode(array(fwd, rev)) removes the duplicate
    * subtree STATICALLY — same two rows per similarity, one plan, no
    * materialization. Spark 4's partial WindowGroupLimit still bounds
    * the window input map-side, now over the exploded stream.
    */
  private[operators] def rankTopK(sim: DataFrame, k: Int): DataFrame = {
    val both = sim.select(explode(array(
        struct(col("p1").as("a"), col("p2").as("b"),
          col("cosine").as("cosine")),
        struct(col("p2").as("a"), col("p1").as("b"),
          col("cosine").as("cosine")))).as("e"))
      .select(col("e.a").as("p1"), col("e.b").as("p2"),
        col("e.cosine").as("cosine"))
    val w = Window.partitionBy("p1").orderBy(col("cosine").desc, col("p2"))
    both.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p1").as("part"), col("rank"),
        col("p2").as("similar"), col("cosine"))
      .orderBy("part", "rank")
  }

  private[operators] def cosineJoin(co: DataFrame, nu: DataFrame): DataFrame =
    co.join(nu.select(col("p").as("p1"), col("n").as("n1")), "p1")
      .join(nu.select(col("p").as("p2"), col("n").as("n2")), "p2")
      .select(col("p1"), col("p2"),
        round(col("c") / sqrt(col("n1") * col("n2")), 6).as("cosine"))

  /** q199's arm: exact cosines over the full baskets. */
  def exact(pos: DataFrame, k: Int = 3): DataFrame =
    cosineTopK(pos, Int.MaxValue, k)

  /** q211's arm: exact cosines over md5-capped baskets. */
  def capped(pos: DataFrame, cap: Int = 8, k: Int = 3): DataFrame =
    cosineTopK(pos, cap, k)

  /** [[exact]] and [[capped]]: the basket kernel feeds both the pair
    * co-counts and the norms. Both read the one u-keyed exchange of
    * `pos` (Spark reuses it), so the caller's plan runs once without a
    * checkpoint. Items leave with the caller's type of p.
    */
  private def cosineTopK(pos: DataFrame, cap: Int, k: Int): DataFrame = {
    val pt = pos.schema("p").dataType
    val b = baskets(pos, cap)
    val co = pairCounts(b).select(col("p1").cast(pt).as("p1"),
      col("p2").cast(pt).as("p2"), col("c"))
    val nu = norms(b).select(col("p").cast(pt).as("p"), col("n"))
    rankTopK(cosineJoin(co, nu), k)
  }

  /** q227's arm: md5-capped baskets + DIMSUM-sampled pair emissions
    * (dyadic Bernoulli draw on md5("ds:u:p1:p2"), keep-probability
    * min(1, γ/√(n1·n2)) at M=2^20 resolution) — estimator divides
    * the kept count back by pq/M, so cosine is unbiased under the
    * composed contract. With `cap = Int.MaxValue` (q214's arm) no
    * basket is capped, as in [[exact]].
    */
  def cappedDimsum(pos: DataFrame, cap: Int = 8, gamma: Double = 8.0,
                   k: Int = 3): DataFrame = {
    val M = 1L << 20
    val c = baskets(pos, cap)
      .select(col("u"), explode(col("sp")).as("p"))
      .select(col("u"), col("p").cast(pos.schema("p").dataType).as("p"))
      .transform(Staging(_))
    val nu = c.groupBy("p").agg(count(lit(1)).as("n"))
    val sampled = c.join(nu, "p")
      .groupBy("u")
      .agg(sort_array(collect_list(struct(col("p"), col("n")))).as("sp"))
      .select(col("u"), explode(expr(
        """flatten(transform(sp, (a, i) ->
          |  transform(slice(sp, i + 2, size(sp)), b ->
          |    named_struct('p1', a.p, 'n1', a.n,
          |                 'p2', b.p, 'n2', b.n))))""".stripMargin))
        .as("pr"))
      .select(col("u"), col("pr.p1").as("p1"), col("pr.n1").as("n1"),
        col("pr.p2").as("p2"), col("pr.n2").as("n2"))
      .withColumn("pq", round(least(lit(1.0),
        lit(gamma) / sqrt(col("n1") * col("n2"))) * M).cast("long"))
      // pq == 2^20 ⇔ p = 1 ⇔ the 40-bit draw always passes — the
      // leading disjunct short-circuits codegen past the md5 for every
      // exact-regime pair (the common case off the whale tail; measured
      // ~12 → ~7 s on q214 at sf0.1), with IDENTICAL semantics, so the
      // oracle replays the unconditional form
      .filter(col("pq") >= M ||
        conv(substring(md5(concat_ws(":", lit("ds"), col("u"),
          col("p1"), col("p2"))), 1, 10), 16, 10).cast("long") <
          col("pq") * M)
    val sim = sampled
      // n1/n2/pq are functions of (p1,p2), so clustering by (p1,p2)
      // satisfies the full grouping key — same post-shuffle-aggregate
      // device as pairCounts (the sampled stream is per-user too, so
      // its map-side combine factor is also ≈ 1)
      .groupBy("p1", "p2", "n1", "n2", "pq")
      .agg(count(lit(1)).as("c"))
      .select(col("p1"), col("p2"),
        round(col("c") * M.toDouble / col("pq") /
          sqrt(col("n1") * col("n2")), 6).as("cosine"))
    rankTopK(sim, k)
  }

  /** The auto-routed operator: measure, decide, run — and stamp the
    * decision (regime + the three numbers it was made from) onto
    * every output row, so the route is part of the ANSWER, not a log
    * line. Budget defaults: 2e9 exact pair emissions ≈ a 32 GB
    * (long,long,count) exchange — comfortably one cluster sitting;
    * 2e10 for the capped arm (its rows are strictly cheaper to
    * produce and the cap already bounds the per-task blowup).
    */
  def auto(pos: DataFrame, cap: Int = 8, k: Int = 3,
           gamma: Double = 8.0,
           exactBudget: Long = 2000000000L,
           cappedBudget: Long = 20000000000L): DataFrame = {
    // materialize the positives ONCE: the preflight is its own action,
    // so without this the caller's input plan (for q290 a join+distinct
    // over the fact tables) is evaluated twice — once for the decision
    // pass and again inside the routed arm (guide §1.2: don't compute
    // things twice)
    val posM = Staging(pos)
    val pf = preflight(posM, cap, exactBudget, cappedBudget)
    val arm = pf.regime match {
      case "exact" => exact(posM, k)
      case "capped" => capped(posM, cap, k)
      case _ => cappedDimsum(posM, cap, gamma, k)
    }
    arm.select(F.lit(pf.regime).as("regime"),
      F.lit(pf.pairRowsExact).as("pair_rows_exact"),
      F.lit(pf.pairRowsCapped).as("pair_rows_capped"),
      F.lit(pf.maxBasket).as("max_basket"),
      col("part"), col("rank"), col("similar"), col("cosine"))
  }
}
