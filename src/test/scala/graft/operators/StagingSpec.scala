package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, SparkEntry, SparkSpec}
import graft.sources.PartitionedCowTable

/** The scope rules of [[Staging]]: a scope frees what was staged inside
  * it, however it ends and on whichever thread the staging ran; a
  * nested scope frees only its own blocks; a frame staged outside any
  * scope stays readable; connectedComponents and the iterative queries
  * hold only their fixed inputs and live generations while they
  * iterate.
  */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Persistent RDDs added since `before`. */
  private def added(before: collection.Set[Int]): collection.Set[Int] =
    sc.getPersistentRDDs.keySet -- before

  /** The graph queries' one input: parts 10-13 co-ordered in three
    * pairs and one order of all four (a 3-core), and part 14 hanging
    * off part 13 (peeled by q168's first round).
    */
  private lazy val tables = {
    val dir = tempDir("staging_tables")
    Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 12L), (3L, 13L),
      (4L, 10L), (4L, 11L), (4L, 12L), (4L, 13L), (5L, 13L), (5L, 14L))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("a scope frees every block staged inside it: CC's iterative " +
    "path, deleteWhereDV and q134") {
    implicit val s = spark
    val t = PartitionedCowTable(tempDir("staging") + "/t", "month")
    t.overwrite(Seq((1L, "2020-03", "a"), (2L, "2020-04", "b"),
      (3L, "2020-04", "c")).toDF("pid", "month", "v"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    val (labs, ranks) = Staging.scope(spark) {
      val labs = ScaleOps.connectedComponents(edges, localEdgeThreshold = 0)
        .as[(Long, Long)].collect().toMap
      t.deleteWhereDV($"pid" === 2L, Seq("pid"))
      val ranks = SparkEntry.queries("q134_pagerank")(spark, tables).count()
      assert(added(before).nonEmpty, "nothing was staged")
      (labs, ranks)
    }
    assert(added(before).isEmpty)
    assert(labs === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    assert(ranks > 0)
    assert(t.read().select("pid").as[Long].collect().sorted === Array(1L, 3L))
  }

  test("a scope frees its blocks when its body fails, and blocks staged " +
    "by a thread started inside it") {
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Staging.scope(spark) {
        Staging(spark.range(10).toDF("id")).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(added(before).isEmpty)
    Staging.scope(spark) {
      var staged: DataFrame = null
      val th = new Thread(() => staged = Staging(spark.range(10).toDF("id")))
      th.start()
      th.join()
      assert(added(before).size === 1)
      assert(staged.count() === 10L)
    }
    assert(added(before).isEmpty)
  }

  test("a frame staged outside any scope stays readable; a nested scope " +
    "frees only its own blocks") {
    val before = sc.getPersistentRDDs.keySet
    val outside = Staging(spark.range(100).toDF("id"))
    Staging.scope(spark) {
      val outer = Staging(spark.range(50).toDF("id"))
      Staging.scope(spark) {
        Staging(spark.range(5).toDF("id")).count()
      }
      assert(added(before).size === 2)
      assert(outer.count() === 50L)
    }
    assert(added(before).size === 1)
    assert(outside.agg(sum("id")).head().getLong(0) === 4950L)
    Staging.release(outside)
    assert(added(before).isEmpty)
    intercept[IllegalArgumentException](Staging.release(spark.range(1).toDF()))
  }

  test("during CC's loop at most the edge copies and two label " +
    "generations (the one a round reads, the one it stages) are staged") {
    // a chain of diameter 11: one round per hop
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // width 1 keeps one edge copy; a 1-byte block target forces the
    // spread copy beside it
    for (bytes <- Seq(None, Some("1"))) {
      bytes.foreach(spark.conf.set("spark.graft.graph.bytesPerEdgePartition", _))
      try {
        val before = sc.getPersistentRDDs.keySet
        Staging.scope(spark) {
          val labs = ScaleOps.connectedComponents(chain, maxIters = 15,
            localEdgeThreshold = 0)
          // the result reads the last generation alone
          assert(added(before).size === 1, s"bytes per edge block $bytes")
          assert(labs.select("rep").distinct().as[Long].collect() ===
            Array(1L))
          assert(Staging.peak(spark) <= 3, s"bytes per edge block $bytes")
        }
        assert(added(before).isEmpty)
      } finally spark.conf.unset("spark.graft.graph.bytesPerEdgePartition")
    }
  }

  test("an iterative query holds its fixed inputs and at most two " +
    "generations while it runs, and one when its scope closes") {
    // (query, staged fixed inputs): q134 its edges and degrees, q168
    // none (its edge table is the first generation), q178 its edges
    // and nodes, q190 its undirected edges
    for ((q, fixed) <- Seq("q134_pagerank" -> 2, "q168_kcore" -> 0,
        "q178_sssp" -> 2, "q190_lpa_communities" -> 1)) {
      val before = sc.getPersistentRDDs.keySet
      Staging.scope(spark) {
        assert(SparkEntry.queries(q)(spark, tables).count() > 0, q)
        assert(Staging.peak(spark) <= fixed + 2, q)
        // at most: Spark's ContextCleaner may already have freed a
        // block the result no longer reaches (q178's edges)
        assert(added(before).size <= fixed + 1, q)
      }
      assert(added(before).isEmpty, q)
    }
  }

  test("Harness.scoped frees a query's staged blocks, and reports and " +
    "frees what it persisted outside Staging") {
    val before = sc.getPersistentRDDs.keySet
    val (n, none) = Harness.scoped(spark) {
      Staging(spark.range(10).toDF("id")).count()
    }
    assert((n, none) === ((10L, Nil)))
    var cached = -1
    val (_, leaked) = Harness.scoped(spark) {
      Staging(spark.range(10).toDF("id")).count()
      val rdd = sc.parallelize(1 to 3).cache()
      rdd.count()
      cached = rdd.id
    }
    assert(leaked === Seq(cached))
    assert(Harness.leakMessage(leaked) === s"leaked 1 persistent RDDs: $cached")
    assert(added(before).isEmpty)
  }
}
