package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, SparkEntry}

/** WORKED EXAMPLE: the LLM-training-data curation pipeline end-to-end,
  * chained from the same driver-gated operators a user would call one
  * by one — the "switch from the reference and run your whole
  * pipeline here" story in executable form:
  *
  *   1. ingest gate    — q105 incremental near-dup (drop batch docs
  *                       already in the corpus; q89-pre-flight regime
  *                       switch inside), q110 the same probe for the
  *                       embedding modality, + q106 vocab drift
  *                       (alert if the batch shifts the distribution)
  *   2. corpus dedup   — q25 exact, q55 near-dup groups (keep one per
  *                       cluster), q103 repeated-span masking
  *   3. quality/scrub  — q27 scores, q83 keep-cleanest resolution,
  *                       q109 PII redaction (emails/phones → typed
  *                       placeholders, with the scrub audit counts)
  *   4. mix & pack     — q77 temperature domain mix, q104 priority
  *                       sample (weighted, unbiased token estimates),
  *                       q64 shard packing, q96 train/val/test split
  *
  * Each stage prints a 1-line summary; the stages share nothing but
  * DataFrames, so any subset composes the same way in user code.
  * Every operator here is hash-gated against DuckDB by the driver —
  * the demo adds no new semantics, it demonstrates the SURFACE.
  *
  * `sbt "runMain graft.examples.CurationPipelineDemo [sfDir]"`
  */
object CurationPipelineDemo {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session()

    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
    def one(df: DataFrame): org.apache.spark.sql.Row = df.collect()(0)

    // ---- 1. ingest gate -------------------------------------------
    val dupProbe = q("q105_incremental_neardup")
    val nDupNew = dupProbe.count()
    val embDup = q("q110_incremental_embedding_neardup").count()
    val drift = q("q106_vocab_drift")
    val kl = one(drift.filter(col("drift_rank") === 0)).getDouble(2)
    val topTok = one(drift.filter(col("drift_rank") === 1)).getString(0)
    println(f"[1 ingest] batch docs already in corpus: $nDupNew%d (text), " +
      f"$embDup%d (embedding); KL(batch||corpus)=$kl%.4f, " +
      f"top drift token '$topTok'")

    // ---- 2. corpus dedup ------------------------------------------
    val exact = q("q25_dedup_exact")
    val nDistinct = exact.count()
    val nCopies = one(exact.agg(sum("n_copies"))).getLong(0)
    val groups = q("q55_dedup_groups")
    val nGroups = groups.select("group_id").distinct().count()
    val spans = q("q103_substring_spans")
    val spanStats = one(spans.agg(sum("dup_tokens"), sum("n_tokens")))
    println(f"[2 dedup] $nCopies%d docs -> $nDistinct%d distinct texts -> " +
      f"$nGroups%d near-dup clusters; repeated spans cover " +
      f"${spanStats.getLong(0)}%d of ${spanStats.getLong(1)}%d tokens")

    // ---- 3. quality / scrub ---------------------------------------
    val qual = q("q27_quality_scores")
    val meanStop = one(qual.agg(avg("stop_ratio"))).getDouble(0)
    val kept = q("q83_dedup_keep_best").count()
    val scrub = one(q("q109_pii_redaction")
      .agg(sum("n_emails"), sum("n_phones")))
    println(f"[3 quality] mean stopword ratio $meanStop%.3f; " +
      f"keep-cleanest resolution retains $kept%d docs; PII scrub " +
      f"redacted ${scrub.getLong(0)}%d emails, ${scrub.getLong(1)}%d phones")

    // ---- 4. mix & pack --------------------------------------------
    val mix = q("q77_domain_mix")
    val sampled = q("q104_priority_sample")
    val est = one(sampled.agg(sum("est_w"))).getDouble(0)
    val shards = q("q64_shard_pack").count()
    val split = q("q96_train_split").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(f"[4 pack] ${mix.count()}%d mix strata; priority sample " +
      f"estimates ${est}%.0f total chars; $shards%d shards; split $split")

    spark.stop()
  }
}
