package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PagedCatalogSource._

/** Fake paged catalogue service shared by the fan-out and sequential
  * tests: 230 ATL03 + 150 ATL08 granules, every reference parse rule
  * exercised (multi-box union, polygon rings, small no-geometry
  * granules, link selection). Records every page request so specs can
  * assert the fan-out really went partition-per-page and the
  * watermark really reached the request.
  */
object FakePagedServer {
  val requests = java.util.concurrent.ConcurrentHashMap.newKeySet[
    (String, Int)]()
  val baseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  def startMs(i: Int): Long = baseMs + i * 3600000L

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  def granuleJson(i: Int): String = {
    val s = (i % 50) - 25
    val w = (i % 160) - 80
    val geom =
      if (i % 14 == 0) "" // no geometry: invalid (size kept <= 4)
      else if (i % 7 == 0)
        s""""polygons":[["$s.0 $w.0 $s.0 ${w + 20}.0 ${s + 10}.0 ${w + 20}.0 ${s + 10}.0 $w.0"]],"""
      else if (i % 3 == 0)
        s""""boxes":["$s.0 $w.0 ${s + 10}.0 ${w + 20}.0","$s.0 $w.0 ${s + 10}.0 ${w + 25}.0"],"""
      else
        s""""boxes":["$s.0 $w.0 ${s + 10}.0 ${w + 20}.0"],"""
    val size = if (i % 14 == 0) 2.0 else 5.0 + (i % 10)
    s"""{"id":"G$i","producer_granule_id":"PG$i","title":"T$i",
       |"granule_size":$size,"online_access_flag":true,
       |"original_format":"HDF5",
       |"time_start":"${iso(startMs(i))}",
       |"time_end":"${iso(startMs(i) + 1800000L)}",
       |"updated":"${iso(startMs(i) + 3600000L)}",
       |$geom
       |"links":[{"type":"text/html","href":"https://browse/$i"},
       |{"type":"application/x-hdfeos","href":"https://cat/$i"}]}"""
      .stripMargin.replace("\n", "")
  }

  /** ids per product: even → ATL03, odd → ATL08; bounded per product. */
  def ids(product: String, total: Int,
          since: Option[Timestamp]): Seq[Int] = {
    val parity = if (product == "ATL03") 0 else 1
    (0 until total).filter(_ % 2 == parity)
      .filter(i => since.forall(ts => startMs(i) > ts.getTime))
  }
}

final case class FakeFetcher(total: Int, reportHits: Boolean)
    extends PageFetcher {
  override def fetch(req: PageRequest): PageResult = {
    FakePagedServer.requests.add((req.product, req.pageNum))
    val eligible = FakePagedServer.ids(req.product, total, req.temporalStart)
    val page = eligible.slice((req.pageNum - 1) * req.pageSize,
      req.pageNum * req.pageSize)
    PageResult(page.map(FakePagedServer.granuleJson),
      if (reportHits) Some(eligible.size.toLong) else None)
  }
}

class PagedCatalogSourceSpec extends SparkSpec {
  import spark.implicits._

  private val products = Seq(("ATL03", "005"), ("ATL08", "005"))
  private val until = new Timestamp(FakePagedServer.baseMs + 400L * 3600000L)

  private def validIds(total: Int): Seq[Int] =
    (0 until total).filterNot(_ % 14 == 0)

  test("fan-out discovery (total-hits service): every page fetched, " +
    "granules parsed, bbox union + polygon + invalid policy + url " +
    "selection all reference-exact") {
    FakePagedServer.requests.clear()
    val df = PagedCatalogSource.discover(spark, FakeFetcher(380, true),
      products, Map.empty, until, pageSize = 50)
    val rows = df.collect().map(r => r.getAs[String]("granule_id") -> r).toMap
    // 380 granules minus the no-geometry ones (i % 14 == 0: 28 of 380)
    assert(rows.size === validIds(380).size)
    // page numbering observed: ATL03 has 190 ids → 4 pages at 50
    val atl03Pages = {
      import scala.jdk.CollectionConverters._
      FakePagedServer.requests.asScala
        .filter(_._1 == "ATL03").map(_._2).toSet
    }
    assert(atl03Pages === Set(1, 2, 3, 4))
    // single-box granule (i=1): exact corners
    val g1 = rows("G1")
    assert(g1.getAs[Double]("south_lat") === -24.0)
    assert(g1.getAs[Double]("west_lon") === -79.0)
    assert(g1.getAs[Double]("north_lat") === -14.0)
    assert(g1.getAs[Double]("east_lon") === -59.0)
    // two-box granule (i=3): union widens east by 5
    val g3 = rows("G3")
    assert(g3.getAs[Double]("east_lon") ===
      g3.getAs[Double]("west_lon") + 25.0)
    // polygon granule (i=7): ring parsed via the alternating stream
    val g7 = rows("G7")
    assert(g7.getAs[Double]("south_lat") === (7 % 50) - 25.0)
    assert(g7.getAs[Double]("north_lat") === (7 % 50) - 15.0)
    assert(g7.getAs[String]("geom_source") === "polygons")
    // no-geometry small granule dropped as invalid
    assert(!rows.contains("G14") && !rows.contains("G0"))
    // url selection skipped the browse link
    assert(rows.values.forall(
      _.getAs[String]("remote_url").startsWith("https://cat/")))
    // typed timestamps
    assert(g1.getAs[Timestamp]("start_time").getTime ===
      FakePagedServer.startMs(1))
  }

  test("sequential fallback (no hit count) returns the identical " +
    "granule set") {
    val fan = PagedCatalogSource.discover(spark, FakeFetcher(380, true),
      products, Map.empty, until, pageSize = 50)
    val seqd = PagedCatalogSource.discover(spark, FakeFetcher(380, false),
      products, Map.empty, until, pageSize = 50)
    assert(fan.select("granule_id").exceptAll(
      seqd.select("granule_id")).isEmpty)
    assert(fan.count() === seqd.count())
  }

  test("watermark pushdown reaches the REQUEST: a sweep past the " +
    "high-water mark fetches only newer granules") {
    val wm = new Timestamp(FakePagedServer.startMs(200))
    val df = PagedCatalogSource.discover(spark, FakeFetcher(380, true),
      products, Map("ATL03" -> wm), until, pageSize = 50)
    val atl03 = df.filter(col("product") === "ATL03")
    // only ids > 200 (even, valid) — the service never shipped older
    assert(atl03.agg(min("start_time")).head().getTimestamp(0).getTime
      > wm.getTime)
    // the un-watermarked product is complete
    assert(df.filter(col("product") === "ATL08").count() ===
      validIds(380).count(_ % 2 == 1))
  }

  test("loud truncation: hit counts past maxPages refuse, naming the " +
    "numbers; big granule without geometry fails the parse loudly") {
    val err = intercept[IllegalArgumentException] {
      PagedCatalogSource.discover(spark, FakeFetcher(380, true),
        products, Map.empty, until, pageSize = 50, maxPages = 2)
    }
    assert(err.getMessage.contains("maxPages=2"))
    assert(err.getMessage.contains("ATL03"))
    // a >4.0-size granule with no geometry must fail, not drop
    val badJson = FakePagedServer.granuleJson(14)
      .replace("\"granule_size\":2.0", "\"granule_size\":9.5")
    val bad = new PageFetcher {
      override def fetch(req: PageRequest): PageResult =
        PageResult(if (req.product == "ATL03" && req.pageNum == 1)
          Seq(badJson) else Seq.empty, Some(1L))
    }
    val ex = intercept[Exception] {
      PagedCatalogSource.discover(spark, bad, Seq(("ATL03", "005")),
        Map.empty, until).collect()
    }
    assert(ex.getMessage.contains("PG14") ||
      Option(ex.getCause).exists(_.getMessage.contains("PG14")))
  }

  test("end-to-end with IncrementalIngest: backfill, replayed sweep " +
    "absorbed, incremental sweep lands only the delta") {
    implicit val s = spark
    val root = tempDir("paged_src")
    val table = new CowTable(s"$root/granules", spark)
    def sweep(total: Int): Unit = {
      val wm = graft.streaming.IncrementalIngest
        .watermarkPerKey(table, "product", "start_time")
      val wmTs = wm.map { case (k, v) => k -> v }
      val df = PagedCatalogSource.discover(spark, FakeFetcher(total, true),
        products, wmTs, until, pageSize = 50)
      graft.streaming.IncrementalIngest.ingestBatch(table, df,
        keys = Seq("granule_id"), newestFirst = Seq(col("updated_time").desc))
    }
    sweep(380)
    assert(table.read().count() === validIds(380).size)
    sweep(380) // nothing new: watermark admits zero granules
    assert(table.read().count() === validIds(380).size)
    sweep(420) // 40 new ids appear at the service; only those land
    assert(table.read().count() === validIds(420).size)
    // keys unique after all sweeps
    assert(table.read().groupBy("granule_id").count()
      .filter(col("count") > 1).isEmpty)
  }
}
