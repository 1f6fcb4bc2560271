package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{GraftFunctions => G}

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val installed = { GraftExtensions.install(spark); true }

  test("registered SQL functions are callable from spark.sql") {
    assert(installed)
    val r = spark.sql(
      """SELECT
        |  bbox_intersects(bbox_from_wkt('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))'),
        |                  bbox_from_wkt('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))')) AS i,
        |  simhash64(array('a','b','c')) AS sh,
        |  sorted_jaccard(array('a','b','c'), array('b','c','d')) AS j,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c
        |""".stripMargin).collect().head
    assert(r.getBoolean(0))
    assert(r.getLong(1) != 0L)
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    val r2 = spark.sql(
      """SELECT
        |  polygon_intersects(bbox_from_wkt('POLYGON((0 0, 5 0, 5 5, 0 5, 0 0))'),
        |                     'POLYGON((0 0, 40 0, 0 40, 0 0))') AS pi,
        |  size(bbox_cut_wrap(bbox_from_wkt(
        |    'POLYGON((-150 0, 170 0, 170 10, -150 10, -150 0))'), 90.0d)) AS nc,
        |  utm_forward(named_struct('lon', 3.0d, 'lat', 0.0d), 32631).easting AS e
        |""".stripMargin).collect().head
    assert(r2.getBoolean(0))
    assert(r2.getInt(1) == 2)
    assert(math.abs(r2.getDouble(2) - 500000.0) < 1e-6)
  }

  test("ExpandPolygonEnvelope derives a pushable prefilter from literal WKT") {
    assert(installed)
    // a parquet-backed table so PushedFilters is observable
    val dir = tempDir("poly") + "/t"
    (1 to 200).map(i => (i.toLong, (i % 50).toDouble, (i % 50) - 1.0,
        (i % 90).toDouble, (i % 90) - 1.0))
      .toDF("pid", "north", "south", "east", "west")
      .write.parquet(dir)
    val t = spark.read.parquet(dir)
    val wkt = "POLYGON((0 0, 40 0, 0 40, 0 0))"
    val filtered = t.filter(
      G.polygonIntersects(G.bbox($"north", $"south", $"east", $"west"), lit(wkt)))
    val p = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // envelope became plain attribute comparisons, pushed to the scan
    assert(p.contains("polygon_intersects_exact"), p)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(east,0.0)") ||
      p.contains("GreaterThanOrEqual(east, 0.0)"), p)
    // and the rewrite changes no results vs an independent closed-form
    // SAT oracle for the triangle (plain column arithmetic)
    val sat = t.filter($"east" >= 0 && $"west" <= 40 &&
      $"north" >= 0 && $"south" <= 40 &&
      $"west" + $"south" <= 40 && $"east" + $"north" >= 0)
    assert(filtered.count() == sat.count() && filtered.count() > 0)
  }

  test("ExpandBBoxIntersects rewrites the predicate to field comparisons") {
    assert(installed)
    val df = Seq((12.0, 8.0, 30.0, 20.0), (52.0, 50.0, 2.0, 0.0))
      .toDF("n", "s", "e", "w")
    val q = df.filter(G.bboxIntersects(
      G.bbox($"n", $"s", $"e", $"w"),
      G.bbox(lit(15.0), lit(5.0), lit(25.0), lit(18.0))))
    val optimized = q.queryExecution.optimizedPlan
    val stillThere = optimized.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.expressions.BBoxIntersects]))
    assert(!stillThere, s"BBoxIntersects not expanded:\n$optimized")
    // and the result is still correct (only the first row overlaps)
    assert(q.select("n").as[Double].collect().sameElements(Array(12.0)))
  }

  test("expansion preserves strict-edge and null semantics") {
    assert(installed)
    // shared edge -> no overlap, with the rule active
    val df = Seq((10.0, 0.0, 20.0, 10.0)).toDF("n", "s", "e", "w")
    val q = df.filter(G.bboxIntersects(
      G.bbox($"n", $"s", $"e", $"w"),
      G.bbox(lit(10.0), lit(0.0), lit(30.0), lit(20.0))))
    assert(q.count() == 0)
  }
}
