package graft

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DoubleNode, IntNode, TextNode}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

import graft.operators.Staging

/** What every entry point (Bench, Verify, PlanDump and the examples)
  * shares: one session builder, one name-selection rule, one JSON
  * codec for the artifacts they write and one reader of the previous
  * bench board.
  */
object Harness {

  /** The session confs for `cpus` cores (default 32): `local[N]`, N
    * shuffle partitions, UTC, the UI off, and
    * `spark.serializer.extraDebugInfo=false` — a serialization failure
    * must FAIL THE TASK, not hang the stage: SerializationDebugger
    * crashes on JDK17 module access (ExceptionInInitializerError) and
    * killed the r13 sf10 sitting.
    */
  private[graft] def settings(cpus: Option[String]): Seq[(String, String)] = {
    val n = cpus.getOrElse("32")
    Seq("spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.serializer.extraDebugInfo" -> "false",
      "spark.ui.enabled" -> "false")
  }

  private[graft] val logLevel = "WARN"

  /** The entry points' session: [[settings]] for `SPARK_GRAFT_CPUS`
    * cores, log level [[logLevel]].
    */
  def session(): SparkSession = {
    val b = SparkSession.builder()
    settings(sys.env.get("SPARK_GRAFT_CPUS")).foreach { case (k, v) =>
      b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs one query's build and action in one [[Staging.scope]], then
    * lists the persistent RDDs it added and left behind and frees them
    * → (its value, their ids, ascending). The ids are a leak: a staged
    * block outlives its scope only when something outside [[Staging]]
    * persisted it. Freeing them keeps a sitting bounded: blocks left
    * by queries already measured accumulate across hundreds of queries
    * until execution memory starves mid-board (two sf10 OOMs that pass
    * solo). The sweep runs however the body ends.
    */
  def scoped[A](spark: SparkSession)(body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var leaked = Seq.empty[Int]
    val out = try Staging.scope(spark)(body) finally {
      leaked = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
      leaked.foreach(GraftPlanBridge.unpersist(spark, _))
    }
    (out, leaked)
  }

  /** A leak report for [[scoped]]'s ids. */
  def leakMessage(ids: Seq[Int]): String =
    s"leaked ${ids.size} persistent RDDs: ${ids.mkString(", ")}"

  /** A comma-separated prefix list, blanks dropped; None when empty. */
  def prefixes(csv: String): Option[Set[String]] =
    Some(csv.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** Which of `all` runs given the SKIP / ONLY prefix lists →
    * (run, skipped). A name runs iff it matches some ONLY prefix (when
    * ONLY is set) and matches no SKIP prefix; SKIP wins on conflict.
    * Pure so BenchSpec pins the complement property: a board split
    * into (SKIP=S) and (ONLY=S) sittings covers every query exactly
    * once. Order of `all` is preserved in both outputs.
    */
  private[graft] def selectNames(all: Seq[String], skip: Set[String],
                                 only: Option[Set[String]])
      : (Seq[String], Seq[String]) = {
    val skipped = all.filter(n => skip.exists(n.startsWith) ||
      only.exists(sel => !sel.exists(n.startsWith)))
    (all.filterNot(skipped.contains), skipped)
  }

  /** The harness's JSON codec: objects keep their fields in the order
    * given, doubles render as `Double.toString`, and every string is
    * escaped (control characters included).
    */
  object Json {
    private val mapper = new ObjectMapper()

    /** An object of `fields`; a value is a String, Double, Int or an
      * already-built node ([[obj]] / [[arr]]).
      */
    def obj(fields: Iterable[(String, Any)]): JsonNode = {
      val o = mapper.createObjectNode()
      fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
      o
    }

    def arr(xs: Iterable[Any]): JsonNode = {
      val a = mapper.createArrayNode()
      xs.foreach(x => a.add(node(x)))
      a
    }

    def render(n: JsonNode): String = mapper.writeValueAsString(n)

    def line(fields: (String, Any)*): String = render(obj(fields))

    def read(f: File): Option[JsonNode] = Try(mapper.readTree(f)).toOption

    private def node(v: Any): JsonNode = v match {
      case n: JsonNode => n
      case s: String => TextNode.valueOf(s)
      case d: Double => DoubleNode.valueOf(d)
      case i: Int => IntNode.valueOf(i)
    }
  }

  /** (suite medians, solo minima) of the previous bench board in `cwd`.
    * Prefers the committed bench_full.json (Bench writes it whole);
    * else the `parsed` object of the newest BENCH_r<N>.json board file;
    * else empty maps, which leave callers with name order and their
    * default estimates. A malformed file reads as absent, never throws.
    */
  private[graft] def prevBoard(cwd: String = ".")
      : (Map[String, Double], Map[String, Double]) = {
    def nums(n: JsonNode): Map[String, Double] =
      if (n == null || !n.isObject) Map.empty
      else n.properties().asScala.collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
      }.toMap
    def maps(n: JsonNode) = (nums(n.get("queries")), nums(n.get("solo")))
    val full = Json.read(new File(cwd, "bench_full.json")).map(maps)
      .filter { case (qs, solo) => qs.nonEmpty || solo.nonEmpty }
    def board = Option(new File(cwd).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .maxByOption(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
      .flatMap(Json.read).map(_.get("parsed"))
      .filter(p => p != null && p.isObject).map(maps)
    full.orElse(board).getOrElse((Map.empty, Map.empty))
  }
}
