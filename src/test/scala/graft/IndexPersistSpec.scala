package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions => G}
import graft.operators.{IncrementalDedup, VectorOps}

/** The incremental-ingest operators (q105 text probe, q110 embedding
  * probe) are built around a REUSABLE corpus-side index "built once,
  * persisted, probed by every future batch". This spec makes that
  * claim a contract: the index survives a parquet round-trip and a
  * probe from the persisted copy is row-identical to a probe from the
  * freshly-built one — i.e. the index really is a table, carrying no
  * session state (RNG, partitioning, in-memory ordering) that a
  * restart would lose.
  */
class IndexPersistSpec extends SparkSpec {

  private val base = tempDir("graft-idx")
  private val dir = "/root/testdata/sf0.001"

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q105's band index round-trips through parquet and probes identically") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), G.sortedWordSet(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    val batchSets = d.filter(col("doc_id") % 10 === 0)
      .groupBy("ws").agg(min("doc_id").as("nsid"))
    val corpusSets = d.filter(col("doc_id") % 10 =!= 0)
      .groupBy("ws").agg(min("doc_id").as("osid"))
    val batchIdx = IncrementalDedup.bandIndex(batchSets, "nsid", 128, 16)
    val corpusIdx = IncrementalDedup.bandIndex(corpusSets, "osid", 128, 16)

    corpusIdx.write.mode("overwrite").parquet(s"$base/corpus_band_idx")
    val persisted = spark.read.parquet(s"$base/corpus_band_idx")

    val fresh = IncrementalDedup.probeBestMatch(
      batchSets, corpusSets, batchIdx, corpusIdx, 0.9)
    val fromDisk = IncrementalDedup.probeBestMatch(
      batchSets, corpusSets, batchIdx, persisted, 0.9)
    val a = collectSorted(fresh)
    assert(a.nonEmpty, "probe found no matches — staging is broken")
    assert(a == collectSorted(fromDisk))
  }

  test("q110's trained centroids round-trip through parquet and probe identically") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val batch = e.filter(col("vec_id") % 10 === 0)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val cents = VectorOps.kmeansFit(corpus, k = 8, iters = 2)

    cents.write.mode("overwrite").parquet(s"$base/ivf_cents")
    val persisted = spark.read.parquet(s"$base/ivf_cents")

    val fresh = VectorOps.incrementalBestMatch(batch, corpus, cents, 0.35)
    val fromDisk = VectorOps.incrementalBestMatch(batch, corpus, persisted, 0.35)
    val a = collectSorted(fresh)
    assert(a.nonEmpty, "probe found no matches — staging is broken")
    assert(a == collectSorted(fromDisk))
  }
}
