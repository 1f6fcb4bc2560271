package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => t}
import graft.functions.{GraftFunctions => G}
import graft.multimodal.{Multimodal => M}
import graft.operators.Staging

/** Multimodal binary-column pipeline under the driver gate
  * (SURVEY.md builder extension; previously spec-only).
  *
  * The synthetic tables carry no real media, so payloads are the
  * UTF-8 document bytes treated as an opaque `binary` column — which
  * is exactly what the engine-side contract is: Spark never interprets
  * the payload, only the (stub) codec does. The decode stub is
  * md5-derived so DuckDB replays byte-identical checksums/features
  * from the same bytes (the q31 device); the execution path is the
  * REAL one a production codec would use — typed Dataset,
  * mapPartitions, one decoder instance per partition, no driver
  * collect, no interpretation outside the codec.
  */
object MultimodalQueries {

  /** q54's and q113's media rows: one per document, payload = its
    * UTF-8 bytes, kind cycling image/audio/video by doc_id, synthetic
    * dimensions from its length.
    */
  private def mediaRows(s: SparkSession, dir: String): Dataset[M.MediaRow] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"),
        (col("n_chars") % 640 + 32).cast("int").as("width"),
        (col("n_chars") % 480 + 32).cast("int").as("height"))
      .as[M.MediaRow]
  }

  /** q113's and q291's probe over staged features (vec_id, v): every
    * tenth vector against the rest, through cells trained on the
    * distinct rest → each batch vector's best match at cosine ≥ 0.95.
    */
  private def neardupProbe(feats: DataFrame): DataFrame = {
    val batch = feats.filter(col("vec_id") % 10 === 0)
    val corpus = feats.filter(col("vec_id") % 10 =!= 0)
    val distinctCorpus = corpus.groupBy("v")
      .agg(min("vec_id").as("vec_id"))
    // nlist = ⌈√n⌉ (NOT a constant): fixed k=8 measured 30×/160× at
    // 10× data in the r14 sf1 sittings — the probe degenerates
    // toward all-pairs when cells stop shrinking. Exactness is the
    // triangle bound's, so the cell count is pure performance.
    val cents = graft.operators.VectorOps
      .kmeansFitScaled(distinctCorpus, iters = 2)
    graft.operators.VectorOps
      .incrementalBestMatch(batch, corpus, cents, tau = 0.95)
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // decode+embed feature extraction over a binary media column:
    // documents → media rows (payload = UTF-8 bytes, kind cycles
    // image/audio/video, synthetic dimensions) → per-partition stub
    // codec → checksum + 4-dim feature vector.
    "q54_media_features" -> { (s, dir) =>
      M.extractFeaturesMd5(mediaRows(s, dir)).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          round(element_at(col("feature"), 1), 6).as("f0"),
          round(element_at(col("feature"), 2), 6).as("f1"),
          round(element_at(col("feature"), 3), 6).as("f2"),
          round(element_at(col("feature"), 4), 6).as("f3"))
        .orderBy("media_id")
    },

    // Multimodal near-dup END-TO-END: decode-stub → feature vector →
    // incremental ANN probe — the full "dedup new media against the
    // corpus by PERCEPTUAL similarity" pipeline (exact-byte dedup is
    // q25's md5; features catch re-encodes, where a real codec's
    // embedding replaces the stub and NOTHING else changes). Batch =
    // media_id % 10 == 0; corpus side indexed by trained cells; the
    // probe is VectorOps.incrementalBestMatch, so the triangle-bound
    // exactness argument carries over and the brute-force top-1 SQL
    // over the same md5-derived features gates the whole chain —
    // codec stub, typed mapPartitions, k-means, probe.
    "q113_media_neardup" -> { (s, dir) =>
      // materialized once: kmeans + the probe run ~6 actions over this
      // frame (q291's rationale; narrow metadata rows)
      neardupProbe(M.extractFeaturesMd5(mediaRows(s, dir)).toDF()
        .select(col("media_id").as("vec_id"), col("feature").as("v"))
        .transform(Staging(_)))
    },

    // q113's sibling on the REAL codec (r12 verdict item 4): a real
    // PNG container per document (16×16, row y colored by the md5 of
    // token y mod n — near-dup docs render near-identical images),
    // ImageIO-decoded back to pixels, 8 centered band-luminance
    // features from the DECODED image, then the same incremental ANN
    // probe as q113. PNG is lossless, so the closed-form token→color
    // arithmetic replays the whole encode→decode→feature chain in
    // SQL with no image library — the real decode sits INSIDE the
    // cross-engine hash gate. The 8-dim centered features kill q113's
    // dense-4-dim stub floor: random docs no longer cosine-collide at
    // 0.95, only genuinely similar images match (the near-dup floor
    // the round-12 verdict asked to retire).
    "q291_image_neardup_real" -> { (s, dir) =>
      import s.implicits._
      val rgbs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), expr(
          """transform(sequence(0, 15), y ->
            |  cast(conv(substring(md5(
            |    element_at(tk, int(y % size(tk)) + 1)), 1, 6), 16, 10)
            |  as int))""".stripMargin).as("rgbs"))
        .as[(Long, Seq[Int])]
      val imgs = rgbs.mapPartitions { it =>
        val codec = new M.ImageCodec // per-partition init
        it.map { case (id, rr) =>
          M.ImageRow(id, codec.encodePngRows(16, 16, y => rr(y)))
        }
      }
      // materialize the features ONCE: kmeans + the probe run ~6
      // actions over this frame, and without the cut every action
      // re-paid the whole PNG encode→decode chain (guide §5 caching:
      // reused AND expensive to recompute; 5k rows × 8 doubles)
      val feats = M.decodeBandSums(imgs, 8).toDF()
        .select(col("media_id").as("vec_id"),
          expr("transform(bands, s -> cast(s - 12240 as double) / 65536.0D)")
            .as("v"))
        .transform(Staging(_))
      neardupProbe(feats)
    },

    // Frame sampling over the video-shaped rows: k evenly-spaced
    // deterministic frame offsets per media row (the decode of each
    // frame is the codec stub's job; the offsets, explode shape, and
    // schema ARE the engine contract). Scan-stage transform + explode
    // — no shuffle until the final order.
    "q67_frame_sample" -> { (s, dir) =>
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          lit("video").as("kind"),
          col("text").cast("binary").as("payload"),
          struct(
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("sample_rate"),
            (col("n_chars") % 100 + 10).cast("int").as("n_frames")).as("meta"))
      M.sampleFrames(media, 4)
        .select(col("media_id"), col("sample_idx"), col("frame_offset"))
        .orderBy("media_id", "sample_idx")
    },

    // MULTIMODAL sequence packing — the context-window arithmetic of
    // interleaved image-text training: a sample's budget is its text
    // tokens PLUS its image's ViT patch tokens ((w div 14)·(h div
    // 14), patch size 14 — the cost a vision encoder actually bills),
    // and samples pack into 4096-token windows per language stream by
    // q64's start-offset prefix-sum rule (no corpus-wide window —
    // grouped prefix sums). The per-window ledger (samples, text vs
    // patch tokens, images) is what a dataloader needs to budget a
    // step; every quantity is integer metadata from one scan.
    "q274_multimodal_packing" -> { (s, dir) =>
      val ctx = 4096L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(G.tokens(col("text"))).cast("long").as("txt"),
          when(col("doc_id") % 3 === 0,
            expr("((n_chars % 640 + 32) div 14) * " +
              "((n_chars % 480 + 32) div 14)"))
            .otherwise(0L).as("patches"))
        .withColumn("tok", col("txt") + col("patches"))
      graft.operators.RelationalOps
        .groupedPrefixSum(d, "lang", "doc_id", "tok", "pre")
        .withColumn("win", expr(s"pre div $ctx"))
        .groupBy("lang", "win")
        .agg(count(lit(1)).as("n_samples"),
          sum("txt").as("text_tokens"),
          sum("patches").as("patch_tokens"),
          sum((col("patches") > 0).cast("long")).as("n_images"))
        .orderBy("lang", "win")
    }
  )

  // md5 of the same UTF-8 bytes agrees across engines; strlen counts
  // bytes in DuckDB (payload length of the cast); 24-bit hex windows
  // scaled by 2^-24 are exact doubles, so round(…,6) sees identical
  // values on both sides.
  val oracleSql: Map[String, String] = Map(
    "q54_media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    md5(text) AS hex,
        |    strlen(text) AS n_bytes
        |  FROM documents)
        |SELECT media_id, kind, CAST(n_bytes AS INT) AS n_bytes,
        |  ('0x' || substr(hex, 1, 15))::BIGINT AS checksum,
        |  round(('0x' || substr(hex, 1, 6))::BIGINT / 16777216.0 - 0.5, 6) AS f0,
        |  round(('0x' || substr(hex, 7, 6))::BIGINT / 16777216.0 - 0.5, 6) AS f1,
        |  round(('0x' || substr(hex, 13, 6))::BIGINT / 16777216.0 - 0.5, 6) AS f2,
        |  round(('0x' || substr(hex, 19, 6))::BIGINT / 16777216.0 - 0.5, 6) AS f3
        |FROM m ORDER BY media_id""".stripMargin,

    // the same patch-token arithmetic and start-offset packing
    "q274_multimodal_packing" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(trim(lower(text)), ' ')) AS BIGINT)
        |      AS txt,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ((n_chars % 640 + 32) // 14) *
        |           ((n_chars % 480 + 32) // 14)
        |      ELSE 0 END AS patches
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, txt, patches,
        |    sum(txt + patches) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - (txt + patches) AS pre
        |  FROM d)
        |SELECT lang, CAST(pre // 4096 AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(txt) AS BIGINT) AS text_tokens,
        |  CAST(sum(patches) AS BIGINT) AS patch_tokens,
        |  CAST(sum(CASE WHEN patches > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_images
        |FROM c GROUP BY lang, win ORDER BY lang, win""".stripMargin,

    "q67_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, (n_chars % 100 + 10) AS n_frames
        |  FROM documents),
        |i AS (SELECT unnest(range(4)) AS idx)
        |SELECT m.media_id, CAST(i.idx AS INT) AS sample_idx,
        |  CAST(i.idx * (m.n_frames // 4) AS INT) AS frame_offset
        |FROM m CROSS JOIN i
        |ORDER BY media_id, sample_idx""".stripMargin,

    // the feature doubles are exact dyadic rationals (24-bit hex
    // windows / 2^24 − 0.5), so both engines build bit-identical
    // vectors and the rounded-cosine rank is engine-exact
    "q113_media_neardup" ->
      """WITH m AS (
        |  SELECT doc_id AS vec_id, md5(text) AS hex FROM documents),
        |f AS (
        |  SELECT vec_id,
        |    [('0x' || substr(hex, 1, 6))::BIGINT / 16777216.0 - 0.5,
        |     ('0x' || substr(hex, 7, 6))::BIGINT / 16777216.0 - 0.5,
        |     ('0x' || substr(hex, 13, 6))::BIGINT / 16777216.0 - 0.5,
        |     ('0x' || substr(hex, 19, 6))::BIGINT / 16777216.0 - 0.5] AS v
        |  FROM m),
        |p AS (
        |  SELECT b.vec_id, c.vec_id AS match_id,
        |    round(list_cosine_similarity(b.v, c.v), 6) AS cos
        |  FROM f b, f c
        |  WHERE b.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
        |q AS (
        |  SELECT vec_id, match_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, match_id) AS rn
        |  FROM p WHERE cos >= 0.95)
        |SELECT vec_id, match_id, cos FROM q WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // the PNG encode→ImageIO decode→band-sum chain replayed closed
    // form: PNG is lossless and every row's color is md5-derived from
    // its token, so band sum b = 16·Σ lum(row) over the band's two
    // rows — integer-exact, then the same centered dyadic scaling
    // ((s − 12240)/2^16) and the q113 brute-force top-1
    "q291_image_neardup_real" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |ys AS (SELECT unnest(range(16)) AS y),
        |rowlum AS (
        |  SELECT d.doc_id, ys.y,
        |    ('0x' || substr(md5(tk[(ys.y % len(tk)) + 1]), 1, 2))::BIGINT +
        |    ('0x' || substr(md5(tk[(ys.y % len(tk)) + 1]), 3, 2))::BIGINT +
        |    ('0x' || substr(md5(tk[(ys.y % len(tk)) + 1]), 5, 2))::BIGINT
        |      AS lum
        |  FROM d, ys),
        |bs AS (
        |  SELECT doc_id, y // 2 AS band, 16 * sum(lum) AS s
        |  FROM rowlum GROUP BY 1, 2),
        |f AS MATERIALIZED (
        |  SELECT doc_id AS vec_id,
        |    list((s - 12240) / 65536.0 ORDER BY band) AS v
        |  FROM bs GROUP BY doc_id),
        |p AS (
        |  SELECT b.vec_id, c.vec_id AS match_id,
        |    round(list_cosine_similarity(b.v, c.v), 6) AS cos
        |  FROM f b, f c
        |  WHERE b.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
        |q AS (
        |  SELECT vec_id, match_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, match_id) AS rn
        |  FROM p WHERE cos >= 0.95)
        |SELECT vec_id, match_id, cos FROM q WHERE rn = 1
        |ORDER BY vec_id""".stripMargin
  )
}
