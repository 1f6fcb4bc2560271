package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Pins the CF auto regime switch (r12 verdict item 2): the
  * pre-flight's measured numbers, the budget routing across all
  * three regimes on engineered whale baskets, and row-for-row
  * equality of each route's output with the arm it claims to be
  * (q199/q211/q227's contracts). The exact arm's values themselves
  * are hash-gated against DuckDB by q290/q199.
  */
class ItemItemCfSpec extends SparkSpec {
  import spark.implicits._

  // 3 whale users with 40-item baskets over a shared catalog slice
  // (pairwise overlap keeps cosines non-trivial) + 27 normal users
  // with 4-item baskets
  private lazy val pos: DataFrame = {
    val whales = for {
      u <- 1 to 3
      p <- 1 to 40
    } yield (u.toLong, (p + u * 10).toLong)
    val tail = for {
      u <- 4 to 30
      p <- 1 to 4
    } yield (u.toLong, (u * 7 % 50 + p).toLong)
    (whales ++ tail).toDF("u", "p")
  }

  private val exactPairs = 3L * (40 * 39 / 2) + 27L * (4 * 3 / 2)
  private val cappedPairs = 3L * (8 * 7 / 2) + 27L * (4 * 3 / 2)

  test("preflight measures the basket profile exactly and routes on " +
    "the budgets") {
    val pf = ItemItemCf.preflight(pos, cap = 8,
      exactBudget = 10000L, cappedBudget = 10000L)
    assert(pf.pairRowsExact === exactPairs)   // 2340 + 162 = 2502
    assert(pf.pairRowsCapped === cappedPairs) // 84 + 162 = 246
    assert(pf.maxBasket === 40L)
    assert(pf.nBaskets === 30L)
    assert(pf.regime === "exact")
    assert(ItemItemCf.preflight(pos, 8, exactPairs - 1, 10000L)
      .regime === "capped")
    assert(ItemItemCf.preflight(pos, 8, exactPairs - 1, cappedPairs - 1)
      .regime === "capped_dimsum")
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("part", "rank", "similar", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted

  test("auto under each budget regime returns EXACTLY that arm's " +
    "output, stamped with the decision") {
    val a1 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 10000L, cappedBudget = 10000L)
    assert(a1.select("regime").distinct().as[String].head() === "exact")
    assert(rows(a1) === rows(ItemItemCf.exact(pos)))

    val a2 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 100L, cappedBudget = 10000L)
    assert(a2.select("regime").distinct().as[String].head() === "capped")
    assert(rows(a2) === rows(ItemItemCf.capped(pos, cap = 8)))

    val a3 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 100L, cappedBudget = 100L)
    assert(a3.select("regime").distinct().as[String].head()
      === "capped_dimsum")
    assert(rows(a3) === rows(ItemItemCf.cappedDimsum(pos, cap = 8)))
    // decision columns ride every row
    assert(a3.select("pair_rows_exact").distinct().as[Long].head()
      === exactPairs)
    assert(a3.select("max_basket").distinct().as[Long].head() === 40L)
  }

  test("capped arm's pair stream is bounded by the cap even when " +
    "baskets are whales: every item appears in at most cap-sized " +
    "per-user sets") {
    // behavioral bound, not a plan assertion: the capped positives
    // per user never exceed cap, so its Σ pairs is the capped number
    val pf = ItemItemCf.preflight(pos, cap = 8, 1L, Long.MaxValue)
    assert(pf.regime === "capped")
    assert(pf.pairRowsCapped <= 30L * (8 * 7 / 2))
  }

  // ---- the basket kernel against the SQL forms it replaced ----

  /** The md5 cap as the window it used to be — the q211 contract. */
  private def sqlCapBaskets(pos: DataFrame, cap: Int): DataFrame =
    pos.withColumn("rk", row_number().over(
        Window.partitionBy("u").orderBy(
          conv(substring(md5(concat_ws(":", lit("cap"), col("u"),
            col("p"))), 1, 15), 16, 10).cast("long"), col("p"))))
      .filter(col("rk") <= cap).select("u", "p")

  /** Pair co-counts as the basket-array lambda explode. */
  private def sqlPairCounts(pos: DataFrame): DataFrame =
    pos.groupBy("u").agg(sort_array(collect_list("p")).as("sp"))
      .select(explode(expr(
        """flatten(transform(sp, (a, i) ->
          |  transform(slice(sp, i + 2, size(sp)), b ->
          |    named_struct('p1', a, 'p2', b))))""".stripMargin))
        .as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("c"))

  private def sqlCosineTopK(c: DataFrame, k: Int = 3): DataFrame =
    ItemItemCf.rankTopK(ItemItemCf.cosineJoin(sqlPairCounts(c),
      c.groupBy("p").agg(count(lit(1)).as("n"))), k)

  /** The capped∘DIMSUM arm over the SQL cap. */
  private def sqlCappedDimsum(pos: DataFrame, cap: Int = 8,
                              gamma: Double = 8.0, k: Int = 3): DataFrame = {
    val M = 1L << 20
    val c = sqlCapBaskets(pos, cap)
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
      .filter(col("pq") >= M ||
        conv(substring(md5(concat_ws(":", lit("ds"), col("u"),
          col("p1"), col("p2"))), 1, 10), 16, 10).cast("long") <
          col("pq") * M)
    ItemItemCf.rankTopK(sampled.groupBy("p1", "p2", "n1", "n2", "pq")
      .agg(count(lit(1)).as("c"))
      .select(col("p1"), col("p2"),
        round(col("c") * M.toDouble / col("pq") /
          sqrt(col("n1") * col("n2")), 6).as("cosine")), k)
  }

  // the whale fixture plus two users with a null item: user 31's
  // basket fits the cap, user 32's (10 items + null) does not, so its
  // null competes for a cap slot under md5("cap:32")
  private lazy val posNull: DataFrame = pos.union(
    (Seq((31L, Some(5L)), (31L, Some(6L)), (31L, None)) ++
      (1 to 10).map(p => (32L, Some(p * 3L))) :+ ((32L, None: Option[Long])))
      .toDF("u", "p"))

  test("basket kernel: capped == the md5-window cap + lambda-explode " +
    "pairs, with and without null items, at several caps") {
    for (fx <- Seq(pos, posNull); cap <- Seq(1, 3, 8, 50)) {
      val got = rows(ItemItemCf.capped(fx, cap = cap))
      assert(got === rows(sqlCosineTopK(sqlCapBaskets(fx, cap))), s"cap $cap")
      assert(got.nonEmpty || cap == 1)
    }
  }

  test("basket kernel: exact == the lambda-explode pairs over full baskets") {
    for (fx <- Seq(pos, posNull))
      assert(rows(ItemItemCf.exact(fx)) === rows(sqlCosineTopK(fx)))
  }

  test("basket kernel: capped∘DIMSUM takes its capped rows from the " +
    "kernel and equals the SQL-capped arm") {
    for (fx <- Seq(pos, posNull); cap <- Seq(3, 8))
      assert(rows(ItemItemCf.cappedDimsum(fx, cap = cap)) ===
        rows(sqlCappedDimsum(fx, cap = cap)), s"cap $cap")
  }

  test("basket kernel: the cap key is Spark's conv(substring(md5), 16, 10)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = Seq[(String, java.lang.Long)](("7", 12L), ("7", null),
      (null, 12L), (null, null), ("123456789012", -4L))
      .toDF("u", "p")
      .select(conv(substring(md5(concat_ws(":", lit("cap"), col("u"),
        col("p"))), 1, 15), 16, 10).cast("long"))
      .as[Long].collect().toSeq
    val got = Seq[(String, java.lang.Long)](("7", 12L), ("7", null),
      (null, 12L), (null, null), ("123456789012", -4L))
      .map { case (u, p) => ItemItemCf.capKey(md, u, p) }
    assert(got === want)
  }

  test("q211 (capped CF) runs 11 Spark jobs at sf0.001, build and count") {
    val (n, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
      SparkEntry.queries("q211_item_item_cf_capped")(spark,
        "/root/testdata/sf0.001").count()
    }
    assert(n > 0)
    assert(jobs === 11)
  }
}
