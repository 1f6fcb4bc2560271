package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{load => t}
import graft.operators.{RelationalOps => R, ScaleOps => SO, Staging}

/** Remaining SURVEY.md §2 operator families not yet demonstrated by
  * q01–q35: strict ranges (F3), top-1 (O2), key allocation (A3),
  * existence (A8), day-of-year parse (C1), when-chain derivations
  * (C15/C16), grouped collect (A9/J5), time-bucket rollup (§2.9),
  * and the JSON export→import round trip (S7/S8).
  */
object CoverageQueries {

  /** The CF family's shared (user, item) positive signal: customer
    * bought part, distinct — one order-keyed equi join, the only
    * corpus-scale work before the arms' own exchanges.
    */
  private def cfPositives(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_custkey").as("u"), col("o_orderkey"))
      .join(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), Seq("o_orderkey"))
      .select("u", "p").distinct()

  /** q226's and q254's fixture: orders with `o_orderkey <= maxKey`
    * (table a: PID, month, cents) and their per-order quantities
    * (table b: PID, month, qty), both partitioned by month under a
    * fresh scratch root for `tag`, with a SnapshotCatalog over them.
    * Step 0 records the loaded pair; step 1 records a's update of
    * every fourth order's cents.
    */
  private def snapshotPair(s: SparkSession, dir: String, tag: String,
                           maxKey: Int): (graft.sources.PartitionedCowTable,
      graft.sources.PartitionedCowTable, graft.sources.SnapshotCatalog) = {
    val root = Tables.scratchDir(s, tag, fresh = true)
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= maxKey)
      .select(col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val li = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("PID"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .join(o.select("PID", "month"), "PID")
    val a = new graft.sources.PartitionedCowTable(s"$root/a", "month", s)
    val b = new graft.sources.PartitionedCowTable(s"$root/b", "month", s)
    val snap = new graft.sources.SnapshotCatalog(s"$root/log", s)
    a.overwrite(o); b.overwrite(li)
    snap.record(0, Map("a" -> a.version, "b" -> b.version))
    a.updateWhere(col("PID") % 4 === 0,
      Map("cents" -> (col("cents") + 1000L)))
    snap.record(1, Map("a" -> a.version, "b" -> b.version))
    (a, b, snap)
  }

  /** The first 8 md5 hex digits of `user_id` as a long: the user hash
    * that the experiment arms and the HLL sketches share.
    */
  private def userH32: Column =
    conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** A user's experiment arm, 0 or 1: the low bit of [[userH32]]. */
  private def userArm: Column = (userH32 % 2).cast("int")

  /** q160's and q224's per-user cents (user_id, arm, x, y): x summed
    * before the fixed period cut (2024-01-16), y from it on.
    */
  private def prePostCents(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    t(s, dir, "events")
      .select(col("user_id"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("arm", userArm)
      .groupBy("user_id", "arm")
      .agg(
        sum(when(col("ts") < cut, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cut, col("cents")).otherwise(0L)).as("y"))
  }

  /** q164's and q174's value grid (v, n0, n1, grp = 0): per total
    * purchase cents v, how many users of arm 0 and of arm 1 spent it.
    */
  private def armCentsCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L)
          .as("cents"))
      .groupBy("user_id").agg(sum("cents").as("v"))
      .withColumn("arm", userArm)
      .groupBy("v").agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .withColumn("grp", lit(0))

  /** HLL registers with `m` buckets over `h`'s 32-bit hash `h32`, per
    * `key`: (key, bucket, register), q136's notes.
    */
  private def hllRegisters(h: DataFrame, key: String, m: Int): DataFrame =
    h.select(col(key), (col("h32") % m).as("bucket"),
        expr(s"h32 div $m").as("w"))
      .withColumn("rho", when(col("w") === 0, lit(27))
        .otherwise(lit(26) - floor(log2(col("w"))).cast("long")))
      .groupBy(key, "bucket").agg(max("rho").as("register"))

  /** q136's estimate from `m`-bucket registers (key, bucket, register)
    * → (key, n_buckets, reg_xor, est_distinct, ...).
    */
  private def hllEstimate(regs: DataFrame, key: String, m: Int): DataFrame =
    regs.groupBy(key).agg(
        count(lit(1)).as("n_buckets"),
        expr("bit_xor(bucket * 100 + register)").as("reg_xor"),
        // dyadic terms: this sum is order-independent-exact
        sum(pow(lit(2.0), -col("register"))).as("ssum"))
      .withColumn("v", lit(m.toDouble) - col("n_buckets"))
      .withColumn("raw", lit(0.709 * m * m) / (col("ssum") + col("v")))
      .withColumn("est_distinct", round(
        when(col("v") > 0 && col("raw") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("raw")), 6))

  /** Closed-form fake CMR service for q292: granule i ∈ [0, n) —
    * product by parity, hourly time_start from 2024-01-01Z, geometry
    * by residue (i%14=0 none+small, i%7=0 polygon ring, i%3=0 two
    * boxes widening east by 5, else one box), links always carry a
    * browse link FIRST so url selection is exercised. Top-level and
    * primitive-field so the partition-per-page fan-out ships it to
    * executors without capturing the query map.
    */
  private final case class CmrFormulaFetcher(n: Int)
      extends graft.sources.PagedCatalogSource.PageFetcher {
    import graft.sources.PagedCatalogSource.{PageRequest, PageResult}
    private def startMs(i: Int): Long =
      CmrFormulaFetcher.baseMs + i * 3600000L
    private def iso(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString
    private def granule(i: Int): String = {
      val s = (i % 50) - 25
      val w = (i % 160) - 80
      val geom =
        if (i % 14 == 0) ""
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
    override def fetch(req: PageRequest): PageResult = {
      val parity = if (req.product == "ATL03") 0 else 1
      // the eligible ids are an arithmetic progression (parity ids
      // with start_time > watermark ⇔ i > floor((wm − base)/1h)), so
      // each page is O(pageSize) index arithmetic — materializing the
      // full id list per fetch made the sf10 gate O(N·pages)
      val wmFloor: Long = req.temporalStart.map { ts =>
        val k = (ts.getTime - CmrFormulaFetcher.baseMs) / 3600000L
        k + 1 // smallest i with startMs(i) > wm
      }.getOrElse(0L)
      val first = // smallest eligible id of this parity
        if (wmFloor <= parity) parity.toLong
        else wmFloor + ((parity - wmFloor) % 2 + 2) % 2
      val total = if (first >= n) 0L else (n - first + 1) / 2
      val lo = first + 2L * (req.pageNum - 1) * req.pageSize
      val page = (0 until req.pageSize).iterator
        .map(j => lo + 2L * j).takeWhile(_ < n).map(_.toInt).toSeq
      PageResult(page.map(granule), Some(total))
    }
  }

  private object CmrFormulaFetcher {
    val baseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F3: STRICT date bounds (obs-date query family,
    // eodatadownsensor.py:720-721 — deliberately different from the
    // closed bounds of F2).
    "q36_strict_date_range" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") > lit("1997-03-15") &&
          col("o_orderdate") < lit("1997-04-15"))
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"))
        .orderBy("d")
    },

    // O2/A2: top-1 by sort (the reference's watermark idiom
    // order_by(desc).first(), eodatadownlandsatgoogsensor.py:541-542).
    "q37_top1_watermark" -> { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("latest"))
    },

    // A3: surrogate-key allocation — next_pid = max(existing PID) +
    // global rank over the incoming batch (the reference computes
    // max+1 per row, .py:546-550). Two-phase allocation: NO global
    // single-partition window — range partition + per-partition
    // row_number + broadcast prefix offsets (RelationalOps.allocateKeys)
    // so the incoming batch never serializes through one task.
    "q38_key_allocation" -> { (s, dir) =>
      val existing = t(s, dir, "orders")
      val incoming = t(s, dir, "customer").filter(col("c_custkey") <= 10)
        .select(col("c_custkey"), col("c_name"))
      val maxPid = existing.agg(max(col("o_orderkey")).as("max_pid"))
      R.allocateKeys(
          incoming.crossJoin(broadcast(maxPid)),
          "c_custkey", col("max_pid"))
        .select("c_custkey", "c_name", "new_pid")
        .orderBy("c_custkey")
    },

    // A8: first-row existence probes in one aggregated pass
    // (.py:540 `first() is not None`).
    "q39_existence" -> { (s, dir) =>
      t(s, dir, "orders").agg(
        (count(when(col("o_orderstatus") === "P", 1)) > 0).as("has_pending"),
        (count(when(col("o_totalprice") > 1000000, 1)) > 0).as("has_huge"),
        (count(lit(1)) > 0).as("has_any"))
    },

    // C1: %Y%j day-of-year filename parse (GEDI granule names,
    // eodatadownGEDIsensor.py:401-414): synthesize the filename shape,
    // then parse it back — parsed date must equal the source date.
    "q40_dayofyear_parse" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("fname",
          concat(lit("GRAN_"), date_format(col("o_orderdate"), "yyyyDDD"),
            lit("_"), col("o_orderkey")))
        .withColumn("parsed",
          to_date(regexp_extract(col("fname"), "GRAN_([0-9]{7})_", 1), "yyyyDDD"))
        .groupBy((col("parsed") === to_date(col("o_orderdate"))).as("roundtrip_ok"))
        .agg(count(lit(1)).as("n"))
        .orderBy("roundtrip_ok")
    },

    // C15/C16: containment-driven derivation chains (platform from
    // datatake id, spacecraft → band combo; sentinel2googsensor
    // .py:536-540): derive a tier label, then a lookup per tier.
    "q41_when_chain_derivation" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("tier",
          when(col("o_orderpriority").contains("URGENT"), "T0")
            .when(col("o_orderpriority").contains("HIGH"), "T1")
            .when(col("o_orderpriority").contains("MEDIUM"), "T2")
            .otherwise("T3"))
        .withColumn("sla_days",
          when(col("tier") === "T0", 1)
            .when(col("tier") === "T1", 3)
            .when(col("tier") === "T2", 7)
            .otherwise(30))
        .groupBy("tier", "sla_days")
        .agg(count(lit(1)).as("n"))
        .orderBy("tier")
    },

    // A9/J5: per-key grouped collect (scene-PIDs-per-date /
    // plugin-rows-per-scene, .py:2350-2364, 1732-1740) — sorted and
    // joined to a string for deterministic hashing.
    "q42_grouped_collect" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
          array_join(sort_array(collect_set(col("l_linenumber"))), ",")
            .as("line_numbers"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_orderkey")
    },

    // §2.9: event-time bucket rollup (tumbling 1-hour window as batch;
    // the streaming variant uses window($"ts", "1 hour") with a
    // watermark — same bucketing).
    "q43_hourly_rollup" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("h", "event_type")
    },

    // Sketch aggregation (scale extension): HLL approximate distinct
    // vs exact, asserted within tolerance — at 100 TB the sketch is
    // mergeable across partitions with constant memory where exact
    // countDistinct shuffles every key.
    "q45_approx_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.1).as("within_tol"))
        .orderBy("l_returnflag")
    },

    // S7/S8: JSON export → import round trip with schema-on-read;
    // the aggregate over the re-imported table must match the oracle
    // computed on the original parquet.
    "q44_json_roundtrip" -> { (s, dir) =>
      val src = t(s, dir, "documents")
      // one scratch dir per Spark application (not per call): the export
      // is mode=overwrite, so repeated bench reps reuse it instead of
      // leaking a fresh temp dir + 5k JSON files into /tmp every run
      val tmp = s"${Tables.scratchDir(s, "q44")}/docs"
      graft.sources.ExportImport.exportJson(src, tmp)
      graft.sources.ExportImport.importJson(s, tmp, src.schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min("doc_id").as("min_doc"))
        .orderBy("lang")
    },

    // S6/J7 under the driver gate: the copy-on-write mutation sequence
    // every processing step runs — create, PK upsert (the "download"
    // write-back), predicate update, anti-delete — executed against a
    // real CowTable on scratch storage, then the FINAL TABLE STATE is
    // read back and aggregated. The oracle computes the same end state
    // closed-form from orders, so a torn commit, a lost carry-over row,
    // or wrong upsert/update semantics fails the hash gate, not just
    // the storage specs. (Each rep rebuilds from overwrite, so the
    // query is deterministic under repetition; versions accumulate in
    // the per-application scratch dir by CoW design.)
    "q57_cow_upsert_roundtrip" -> { (s, dir) =>
      val root = s"${Tables.scratchDir(s, "q57")}/tbl"
      val src = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey").as("PID"),
          col("o_orderstatus").as("status"),
          lit(false).as("Downloaded"),
          lit(null).cast("double").as("size_mb"))
      val tbl = new graft.sources.CowTable(root, s)
      tbl.overwrite(src)
      // step write-back: even PIDs "download" with a computed size
      tbl.upsert(src.filter(col("PID") % 2 === 0)
        .withColumn("Downloaded", lit(true))
        .withColumn("size_mb", (col("PID") % 97).cast("double") / 4.0),
        Seq("PID"))
      // reset pending-status rows (updateWhere touches ONE column)
      tbl.updateWhere(col("status") === "P",
        Map("Downloaded" -> lit(false)))
      // anti-delete a slice
      tbl.deleteWhere(col("PID") % 10 === 9)
      tbl.read()
        .groupBy("status", "Downloaded")
        .agg(count(lit(1)).as("n"), sum(col("size_mb")).as("sum_size"),
          min("PID").as("min_pid"), max("PID").as("max_pid"))
        .orderBy("status", "Downloaded")
    },

    // §2.10/S12 under the driver gate: the per-scene processing state
    // machine end-to-end — work-list query → partition-parallel step
    // execution (mapPartitions on executors) → join-back upsert →
    // audit append — run for TWO ordered steps (download then ARD,
    // the reference's run_scn_analysis sequencing) with deterministic
    // success rules, then the final catalog state is read back and
    // rolled up. The oracle computes the same end state closed-form;
    // the audit row count rides along as a column, so a lost audit
    // append also fails the hash.
    "q58_step_runner_state" -> { (s, dir) =>
      // fresh roots per CALL: the audit log is append-only by design,
      // so reusing a root across bench reps would accumulate entries
      val root = Tables.scratchDir(s, "q58", fresh = true)
      val src = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey").as("PID"),
          to_date(col("o_orderdate")).as("Date_Acquired"),
          lit(false).as("Downloaded"), lit(false).as("ARDProduct"),
          lit(false).as("DCLoaded"), lit(false).as("Invalid"),
          lit(false).as("Archived"))
      val cat = new graft.catalog.SceneCatalog(
        new graft.sources.CowTable(s"$root/scenes", s), s)
      cat.table.overwrite(src)
      val audit = new graft.pipeline.AuditLog(s"$root/audit", s)
      graft.pipeline.StepRunner.runAll(s, cat, Seq(
        ModStep("download", None, "Downloaded", failMod = 7),
        ModStep("ard", Some("Downloaded"), "ARDProduct", failMod = 5)),
        parallelism = 8, audit = Some(audit))
      val auditRows = audit.entries().count()
      cat.scenes
        .groupBy("Downloaded", "ARDProduct")
        .agg(count(lit(1)).as("n"), min("PID").as("min_pid"),
          max("PID").as("max_pid"))
        .withColumn("audit_rows", lit(auditRows))
        .orderBy("Downloaded", "ARDProduct")
    },

    // Per-sensor schemas (SURVEY §1.1): S1-shaped rows with TYPED
    // sensor-specific columns (incidence angle, orbit, polarization —
    // model.Sentinel1Scene), filtered and aggregated directly; the
    // ExtendedInfo-JSON fallback could never push these filters down.
    // Integer-derived values keep both engines exact.
    "q49_s1_incidence" -> { (s, dir) =>
      val s1 = t(s, dir, "orders").select(
        col("o_orderkey").as("pid"),
        when(col("o_orderkey") % 2 === 0, "Sentinel-1A")
          .otherwise("Sentinel-1B").as("platform"),
        (col("o_orderkey") % 175).cast("int").as("rel_orbit"),
        (col("o_orderkey") % 4600).as("inc_centi"),
        when(col("o_orderkey") % 3 === 0, "VV VH").otherwise("HH")
          .as("polarization"),
        col("o_orderdate").as("acquisition_date"))
      s1.filter((col("inc_centi") / 100.0).between(30.0, 46.0) &&
          col("platform") === "Sentinel-1A" &&
          col("polarization") === "VV VH")
        .groupBy("rel_orbit")
        .agg(count(lit(1)).as("n"), sum(col("inc_centi")).as("sum_inc"),
          max(to_date(col("acquisition_date"))).as("latest"))
        .orderBy("rel_orbit")
    },

    // Ordered funnel (view → click → purchase): each stage's entry
    // time is the user's FIRST qualifying event strictly after the
    // previous stage — the match_recognize-style pattern workload
    // expressed as three conditional-min aggregations chained by
    // user-keyed joins (every stage is a partial-aggregated groupBy
    // on user_id; no window over the whole event stream, no ordering
    // shuffle). Output: users reaching each stage + conversion from
    // stage 1.
    "q84_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val counts = s1.agg(count(lit(1)).as("n")).withColumn("stage", lit(1L))
        .unionByName(s2.agg(count(lit(1)).as("n")).withColumn("stage", lit(2L)))
        .unionByName(s3.agg(count(lit(1)).as("n")).withColumn("stage", lit(3L)))
      val base = s1.agg(count(lit(1)).as("base"))
      counts.crossJoin(broadcast(base))
        .select(col("stage"),
          element_at(array(lit("view"), lit("click_after_view"),
            lit("purchase_after_click")), col("stage").cast("int"))
            .as("stage_name"),
          col("n"),
          round(col("n") / col("base").cast("double"), 6).as("conv_from_top"))
        .orderBy("stage")
    },

    // Weekly retention cohorts: users grouped by first-seen week,
    // counted in each later week they return — the engagement matrix
    // behind every "week N retention" report. Week index is integer
    // day arithmetic from a fixed epoch (no engine-specific
    // week-start semantics). Shapes: first-seen = one user-keyed
    // partial agg; activity = distinct (user, week) — both shuffles
    // keyed by user; the matrix is cohort×offset metadata.
    "q85_retention_cohorts" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
          .cast("long").as("wk"))
      val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ev.distinct().join(first, "user_id")
        .groupBy(col("cohort_wk"),
          (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_wk", "wk_offset")
    },

    // Trailing-7-day active users per day (the DAU/WAU family):
    // sliding-window COUNT DISTINCT cannot partial-aggregate, so the
    // scalable form reduces the raw stream to distinct (user, day)
    // FIRST (one keyed shuffle, ≤ users×days rows), then each
    // user-day contributes itself to the 7 day-windows it falls in
    // via a bounded scan-side explode — one groupBy on day, no range
    // join, no window function over raw events. Days past the last
    // event appear with active_1d = 0 (the window's tail) — the same
    // rows the mirror generates.
    "q86_trailing_dau" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
            .as("d"))
        .distinct()
        .select(col("user_id"), col("d"),
          explode(sequence(col("d"), col("d") + 6)).as("day"))
        .groupBy("day")
        .agg(countDistinct("user_id").as("active_7d"),
          countDistinct(when(col("d") === col("day"), col("user_id")))
            .as("active_1d"))
        .orderBy("day")
    },

    // Trailing-baseline anomaly detection (the observability workload
    // behind the reference's monitoring loop): each hour's event
    // volume z-scored against its own trailing 24-WALL-CLOCK-hour
    // mean/stddev, per event type. The raw stream collapses to hourly
    // counts FIRST (one partial-aggregated groupBy; ~720 rows/month/
    // type), then the hour axis is DENSIFIED over each type's
    // [min, max] span (zero-event hours become n=0 rows) so a
    // 24-ROW window is exactly 24 wall-clock hours even across gaps —
    // without the densify, quiet hours never materialize and the
    // "trailing 24h" baseline silently spans days. The axis is
    // bounded aggregated metadata (hours-in-span per type), never raw
    // events. Output: per type, hours with a defined baseline,
    // anomalous hours (|z| > 3), and the worst z observed.
    "q90_hourly_anomalies" -> { (s, dir) =>
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val axis = hourly.groupBy("event_type")
        .agg(min("h").as("mn"), max("h").as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"),
            expr("interval 1 hour"))).as("h"))
      val dense = axis.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-24, -1)
      dense
        .withColumn("mu", avg("n").over(w))
        .withColumn("sd", stddev_samp(col("n")).over(w))
        // one-row windows: Spark's stddev_samp yields NaN where DuckDB
        // yields NULL, and NaN would PASS `> 0` (NaN sorts above
        // everything in Spark) — the isnan guard is load-bearing
        .filter(col("sd").isNotNull && !isnan(col("sd")) && col("sd") > 0)
        .withColumn("az", round(abs((col("n") - col("mu")) / col("sd")), 6))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("az") > 3, 1L).otherwise(0L)).as("n_anomalies"),
          round(max(col("az")), 6).as("max_abs_z"))
        .orderBy("event_type")
    },

    // Key-skew histogram: the pre-flight that decides the join
    // strategy BEFORE a 100 TB shuffle — per-key event counts rolled
    // into log2 buckets (bucket = bit-width − 1, computed from the
    // binary string so no libm log2 near-power-of-two ulp can move a
    // key across a bucket boundary cross-engine). The output answers
    // "is this key space uniform or does one user own 10% of the
    // table": n_keys and event share per magnitude bucket plus the
    // largest single key. Feeds q66's salted join and q89's join-size
    // estimate with the distribution they assume. Scale shape: the
    // per-key count is map-side combinable, the histogram is ≤64
    // rows, the corpus total is the same aggregation reused — one
    // shuffle keyed by user_id, everything after it is broadcast.
    "q122_key_skew_histogram" -> { (s, dir) =>
      val counts = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").as("tot"))
      counts
        .withColumn("bucket", (length(conv(col("n"), 10, 2)) - 1)
          .cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_keys"), sum("n").as("n_events"),
          max("n").as("max_key_events"))
        .crossJoin(broadcast(total))
        .withColumn("pct_events",
          round(col("n_events") / col("tot").cast("double"), 6))
        .drop("tot")
        .orderBy("bucket")
    },

    // Session-shape histogram: q20 counts sessions per user; this
    // reports what the sessions LOOK like — events-per-session rolled
    // into exact log2 buckets (q122's bin-length device) with total
    // and max wall duration per bucket. The engagement-distribution
    // report behind retention work (q85) and the state-machine
    // timeout choices (q92). Scale shape: sessionization is ONE
    // user-keyed shuffle+sort carrying both window functions (lag and
    // the running session-id sum share one window spec); per-session
    // rows aggregate map-side into ≤64 histogram rows.
    "q124_session_stats" -> { (s, dir) =>
      R.sessionStats(t(s, dir, "events"), "user_id", "ts", "event_id", 1800L)
        .withColumn("bucket",
          (length(conv(col("n_events"), 10, 2)) - 1).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          max("duration_s").as("max_dur_s"),
          sum("duration_s").as("sum_dur_s"))
        .orderBy("bucket")
    },

    // Incremental materialized-view maintenance over the
    // partition-level CoW table — the 100 TB aggregate story: a
    // day-partitioned event table holds a day-level partial aggregate
    // (the materialized view), a mutation rewrites SOME partitions,
    // and the view is maintained by recomputing ONLY the changed
    // partitions (changedSince — the manifest diff IS the change
    // set) and unioning the retained partials of untouched days.
    // At 100 TB the full recompute reads the table; the incremental
    // path reads the delta — here 10 of 30 days. The gate compares
    // the MAINTAINED view's rollup against the oracle's full
    // recompute with the mutation applied closed-form, so a stale
    // partial, a double-counted changed day, or a manifest diff that
    // misses a rewritten partition all fail the hash. n_changed_days
    // rides along so the oracle also pins HOW MUCH the incremental
    // path had to touch. Money stays integer (cents) end to end —
    // a double sum would ride summation order across engines.
    "q130_incremental_agg" -> { (s, dir) =>
      val root = s"${Tables.scratchDir(s, "q130")}/tbl"
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(root, "day", s)
      tbl.overwrite(ev)
      val v1 = tbl.version
      def partials(df: DataFrame): DataFrame =
        df.groupBy("day", "event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      // the materialized view at v1 (checkpointed: a view is a TABLE,
      // not a recomputable plan over data that has since changed)
      val mv1 = partials(tbl.read()).transform(Staging(_))
      // the mutation: clicks in the first 10 days double in value —
      // rewrites exactly the partitions containing matched rows
      tbl.updateWhere(
        col("day") < "2024-01-11" && col("event_type") === "click",
        Map("cents" -> (col("cents") * 2)))
      // incremental maintenance: only rewritten partitions re-aggregate
      val changed = tbl.changedSince(v1)
      val changedDays = changed.select("day").distinct().transform(Staging(_))
      val nChanged = changedDays.count() // bounded: partitions, not rows
      val mv2 = mv1.join(changedDays, Seq("day"), "left_anti")
        .unionByName(partials(changed))
      mv2.groupBy("event_type")
        .agg(sum("n").as("n_events"), sum("sum_cents").as("sum_cents"),
          count(lit(1)).as("n_days"))
        .withColumn("n_changed_days", lit(nChanged))
        .orderBy("event_type")
    },

    // Time travel over the partition-level CoW table: every commit is
    // a manifest, so any superseded version stays readable by
    // following ITS partition→dir map (until vacuum reclaims it — the
    // Delta-style retention contract). The query runs a 3-version
    // mutation history (load → targeted update → predicate delete)
    // and reads EVERY version back via readVersion; the oracle
    // recomputes each superseded state closed-form, so a version
    // whose manifest leaked a rewritten partition (or whose "update"
    // mutated shared files in place — the CoW property itself) fails
    // the hash. This is the audit/debug/reproducibility read path:
    // "what did the table say when yesterday's job ran".
    "q131_time_travel" -> { (s, dir) =>
      val root = s"${Tables.scratchDir(s, "q131")}/tbl"
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(root, "day", s)
      tbl.overwrite(ev)
      val v1 = tbl.version
      tbl.updateWhere(
        col("day") < "2024-01-11" && col("event_type") === "click",
        Map("cents" -> (col("cents") * 2)))
      val v2 = tbl.version
      tbl.deleteWhere(col("event_type") === "error")
      val v3 = tbl.version
      Seq(v1 -> "v1_loaded", v2 -> "v2_updated", v3 -> "v3_deleted")
        .map { case (v, label) =>
          tbl.readVersion(v)
            .agg(count(lit(1)).as("n_events"),
              sum("cents").as("sum_cents"),
              countDistinct(col("day")).as("n_days"))
            .withColumn("version", lit(label))
        }
        .reduce(_ unionByName _)
        .select(col("version"), col("n_events"), col("sum_cents"),
          col("n_days"))
        .orderBy("version")
    },

    // Order-independent table checksum: per-partition content hash =
    // bit_xor of a canonical 60-bit row hash — the integrity audit
    // that answers "are these two replicas / versions / engines
    // byte-equivalent" without sorting or moving rows (XOR commutes,
    // so the combine is map-side, shuffle is |partitions| rows, and a
    // single flipped row flips the partition hash). The canonical row
    // string is integer-only (epoch micros, cents) — no float or
    // timestamp FORMATTING to disagree over. The day-level rows feed
    // a manifest: comparing two tables is then a |days|-row join, the
    // same shape changedSince uses for versions.
    "q132_table_checksum" -> { (s, dir) =>
      t(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          conv(substring(md5(concat_ws("|",
            col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")),
            round(col("value") * 100).cast("long"))), 1, 15), 16, 10)
            .cast("long").as("h"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_hash"))
        .orderBy("day")
    },

    // PageRank over the part co-purchase graph — the ITERATIVE graph
    // analytic beyond connectedComponents' reachability: influence /
    // centrality over "parts bought in the same order", the
    // recommendation-seed signal. Rank is a TABLE at every step (the
    // q70 LM discipline — per-node state never visits the driver;
    // kmeansFit may collect because its state is k×dim metadata, a
    // rank vector is not). Each of the 3 power iterations is one
    // edge×rank equi-join + one destination-keyed partial-aggregated
    // groupBy, localCheckpointed so lineage stays flat; N and the
    // teleport term ride a 1-row broadcast. Symmetric edges mean no
    // dangling mass. Transcendentals never rank: scores round to 6dp
    // BEFORE the TakeOrdered top-20 with a part-id tie-break (the
    // q106 rule; cross-engine float-sum ulps sit at 1e-15 relative,
    // far below the 6dp gate).
    "q134_pagerank" -> { (s, dir) =>
      val d = lit(0.85)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      // Spread the reused edge table's BLOCK PARALLELISM before the
      // checkpoint (guide §2.5): AQE coalesces the byte-tiny distinct
      // exchange to ~1 partition, localCheckpoint freezes that, and
      // every power iteration then reads a near-serial edge side.
      // An explicit repartition is exempt from AQE coalescing — but
      // the r14 full-session-width form (32) was a driver-measured
      // NET COST at sf0.1 (3.63 → 4.27 s r13→r14: the 32-wide
      // repartition+sort pass outweighed three near-serial rounds),
      // so r15 SIZE-GATES the width (ScaleOps.edgeWidth, the
      // statePartitionsFor pattern): edge bytes are the same order as
      // the lineitem scan they derive from, so the source's on-disk
      // bytes pick 2-4 blocks at gate scale and saturate the session
      // width on cluster-scale inputs. Width 1 skips the spread
      // entirely (the coalesced shape was the cheaper plan there).
      // Under AQE the checkpoint does NOT preserve partitioning
      // metadata, so the per-round exchange itself remains — parallel,
      // which is the point (PlanQualitySpec pins both properties).
      val w = SO.edgeWidth(s, SO.pathBytes(s"$dir/lineitem.parquet"))
      val edges0 = li.join(li.select(col("ok"), col("p").as("q")), "ok")
        .filter(col("p") =!= col("q"))
        .select("p", "q").distinct()
      val edges = (if (w <= 1) edges0
        else edges0.repartition(w, col("p"))
          .sortWithinPartitions("p")) // sorted blocks: ~15% smaller
        // exchanges + pre-sorted SMJ runs every round
        .transform(Staging(_))
      val deg = edges.groupBy("p").agg(count(lit(1)).as("outdeg"))
        .transform(Staging(_))
      val nDf = broadcast(deg.agg(count(lit(1)).cast("double").as("nn")))
      // outdeg rides INSIDE the rank table so each iteration is one
      // edge⋈rank join + one destination rollup — not a second
      // rank⋈deg join per step
      val rank0 = deg.crossJoin(nDf)
        .select(col("p"), col("outdeg"), (lit(1.0) / col("nn")).as("r"))
        .transform(Staging(_))
      val (rank, _) = Staging.iterate(rank0, 3) { rank =>
        val contrib = edges
          .join(rank.select(col("p"),
            (col("r") / col("outdeg")).as("share")), "p")
          .groupBy(col("q").as("p2"))
          .agg(sum("share").as("in_mass"))
        rank.select("p", "outdeg")
          .join(contrib.withColumnRenamed("p2", "p"), Seq("p"), "left")
          .crossJoin(nDf)
          .select(col("p"), col("outdeg"),
            ((lit(1.0) - d) / col("nn") +
              d * coalesce(col("in_mass"), lit(0.0))).as("r"))
      }()
      rank.select(col("p").as("part"), round(col("r") * 1000, 6).as("score"))
        .orderBy(col("score").desc, col("part"))
        .limit(20)
    },

    // Z-order (Morton) data layout: interleave the bits of a scene
    // grid cell's (x, y) so one SORT key clusters BOTH dimensions —
    // the multi-column-pruning layout (Delta/Iceberg OPTIMIZE ZORDER)
    // that makes bbox queries over a 100 TB catalog skip files on
    // parquet min/max stats alone. The interleave is the classic
    // shift-mask spread (pure integer ops, identical in both
    // engines); the file assignment is a global z-position from the
    // two-phase rank (q112's device — the table is never sorted
    // through one partition; at scale this is exactly
    // repartitionByRange on z + sortWithinPartitions). The report —
    // per target file: row count and x/y extents — IS the layout's
    // value: each file covers a small square-ish tile instead of a
    // full-width stripe, so min/max pruning works on BOTH axes
    // (ZOrderLayoutSpec quantifies the extent win vs key order).
    "q135_zorder_layout" -> { (s, dir) =>
      val nFiles = 16
      val cells = t(s, dir, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") * 7) % 340).as("x"),
        (col("c_custkey") % 160).as("y"))
      def spread(c: org.apache.spark.sql.Column) = {
        // 16-bit → 32-bit bit spread: abcd… → 0a0b0c0d…
        val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
        val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
        val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
        s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
      }
      val z = cells.withColumn("z",
        spread(col("x").cast("long"))
          .bitwiseOR(shiftleft(spread(col("y").cast("long")), 1)))
      // unique, (z, key)-monotonic order key for the two-phase rank
      val keyed = z.withColumn("__ord",
          col("z") * lit(10000000000L) + col("c_custkey"))
        .withColumn("__g", lit(0)).withColumn("__one", lit(1L))
      val pos = R.groupedPrefixSum(keyed, "__g", "__ord", "__one", "pos")
      val total = broadcast(pos.agg(count(lit(1)).as("nt")))
      pos.crossJoin(total)
        .withColumn("file_id", expr(s"(pos * $nFiles) div nt"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_scenes"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          min("z").as("z_lo"), max("z").as("z_hi"))
        .orderBy("file_id")
    },

    // HyperLogLog as a REGISTER TABLE — the mergeable-sketch
    // discipline behind approx_count_distinct (q45 gates Spark's
    // built-in within its error bound; this one is engine-exact):
    // the sketch is 64 (bucket, register) rows per group, registers
    // combine via max, so the merge is map-side and the shuffle
    // carries ≤64 rows per group per partition no matter how many
    // billions of users stream through — THE shape for distinct-user
    // dashboards over 100 TB of events (one sketch table per
    // day/source, any rollup = max-merge, never a re-scan). The
    // cross-engine gate works without tolerance because every
    // denominator term 2^-r (r ≤ 27) and the zero-bucket count are
    // dyadic rationals: all 64 partial sums are exact multiples of
    // 2^-27 below 2^27, so IEEE addition is EXACT in any order (the
    // q104 argument) — both engines derive bit-identical estimates,
    // then round 6dp for the ln()-path last-ulp. Standard HLL
    // (Flajolet et al. 2007): h32 = first 8 md5 hex digits; bucket =
    // h32 mod 64; rho = leading-zero count of the remaining 26 bits
    // + 1; alpha_64 = 0.709; linear counting below 2.5m when empty
    // buckets remain. The exact arm is the oracle-bearing companion
    // (the q29 rule), never the production path.
    "q136_hll_sketch" -> { (s, dir) =>
      val m = 64
      val h = t(s, dir, "events")
        .select(col("event_type"), userH32.as("h32"))
      val est = hllEstimate(hllRegisters(h, "event_type", m),
        "event_type", m)
      val exact = t(s, dir, "events")
        .select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, "event_type")
        .select("event_type", "n_buckets", "reg_xor", "est_distinct",
          "exact_distinct")
        .orderBy("event_type")
    },

    // Count-min sketch (Cormode–Muthukrishnan 2005) as a CELL TABLE —
    // the mergeable FREQUENCY sketch beside q136's distinct sketch
    // (HLL answers "how many distinct", CMS answers "how often is
    // THIS key") and q93's Misra-Gries (which keeps only the top-k;
    // CMS answers point queries for ANY key, at bounded overestimate).
    // The sketch is d×w = 4×64 (row, col, count) rows; counts are
    // additive, so the merge is map-side partial aggregation and the
    // shuffle carries ≤256 rows per partition no matter how many
    // billions of events stream through — one sketch table per
    // day/source at 100 TB, any rollup = cell-wise sum. Estimates are
    // min over the d cells a key hashes to: ≥ exact always (pinned in
    // Round8cOpsSpec), and the gate carries overest explicitly so a
    // hash drift in either engine shows up as a sign flip. Hashes are
    // the md5-slice device (q136): row-salted, so the d rows are
    // independent.
    "q137_countmin_sketch" -> { (s, dir) =>
      val d = 4
      val w = 64
      val ev = t(s, dir, "events").select(col("user_id"))
      def cellOf(r: org.apache.spark.sql.Column,
                 key: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(r.cast("string"), lit(":"),
          key.cast("string"))), 1, 8), 16, 10).cast("long") % w
      val cells = ev
        .select(col("user_id"),
          explode(sequence(lit(0), lit(d - 1))).as("r"))
        .withColumn("c", cellOf(col("r"), col("user_id")))
        .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      // probe the 10 heaviest keys (TakeOrdered — never a global sort)
      val probes = exact.orderBy(col("exact_n").desc, col("user_id"))
        .limit(10)
      probes
        .select(col("user_id"), col("exact_n"),
          explode(sequence(lit(0), lit(d - 1))).as("r"))
        .withColumn("c", cellOf(col("r"), col("user_id")))
        .join(broadcast(cells), Seq("r", "c"))
        .groupBy("user_id", "exact_n")
        .agg(min("cnt").as("cms_est"))
        .withColumn("overest", col("cms_est") - col("exact_n"))
        .select("user_id", "exact_n", "cms_est", "overest")
        .orderBy(col("exact_n").desc, col("user_id"))
    },

    // Triangle counting over the part co-purchase graph — the graph
    // statistic beside q134's centrality (clustering structure vs
    // importance). Degree-ordered edge-iterator form (the
    // Suri–Vassilvitskii / Cohen MapReduce lineage, with the
    // adjacency-intersection refinement): every edge is ORIENTED from
    // its lower-(degree, id) endpoint to the higher — this caps
    // out-degree near O(√m) (measured 222 → 97 at sf0.1) — then each
    // edge (s,t) counts |N⁺(s) ∩ N⁺(t)| via hash-set array_intersect
    // against the broadcast out-adjacency table. The naive wedge
    // enumeration MATERIALIZES Σ outdeg² rows through a shuffle (83M
    // at sf0.1 — measured 12 s); the intersection form does the same
    // comparisons INSIDE one codegen'd map stage over the 1.2M edges
    // and shuffles only the ≈3T credit rows (1.9 s). The oriented
    // adjacency table is O(E) longs grouped by node (≈20 MB here);
    // when a 100 TB graph outgrows the broadcast, the same two joins
    // run as s-/t-keyed equi-joins — shape, not semantics, changes.
    // Per-node credits come from the SAME intersections ((s,|W|),
    // (t,|W|), (w,1) each) so no second pass; total = Σcredits/3. The
    // oracle is the INDEPENDENT id-ordered a<b<c triple join — two
    // different enumeration orders must land on identical counts.
    "q138_triangle_count" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v"))
        .distinct()
        .transform(Staging(_))
      val deg = e.select(col("u").as("p"))
        .unionAll(e.select(col("v").as("p")))
        .groupBy("p").agg(count(lit(1)).as("dg"))
      val ed = e
        .join(deg.select(col("p").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("p").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t")))
            .as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .transform(Staging(_))
      val adj = ed.groupBy("s").agg(collect_list("t").as("nbrs"))
      val emptyArr = array().cast("array<long>")
      val common = ed
        .join(broadcast(adj.select(col("s"), col("nbrs").as("ns"))),
          Seq("s"), "left")
        .join(broadcast(adj.select(col("s").as("t"), col("nbrs").as("nt"))),
          Seq("t"), "left")
        .select(col("s"), col("t"), array_intersect(
          coalesce(col("ns"), emptyArr),
          coalesce(col("nt"), emptyArr)).as("cw"))
      val perNode = common
        .select(explode(concat(
          array(
            struct(col("s").as("part"), size(col("cw")).cast("long").as("c")),
            struct(col("t").as("part"), size(col("cw")).cast("long").as("c"))),
          transform(col("cw"),
            x => struct(x.as("part"), lit(1L).as("c"))))).as("cr"))
        .groupBy(col("cr.part").as("part"))
        .agg(sum("cr.c").as("n_triangles"))
        .filter(col("n_triangles") > 0)
      // the 1-row total re-aggregates the credit subtree (both sides
      // read the CHECKPOINTED edge table, so the expensive edge build
      // runs once; a perNode checkpoint measured no faster and hides
      // the intersect stage from the plan pin)
      val total = broadcast(perNode
        .agg((sum("n_triangles") / 3).cast("long").as("total_triangles")))
      perNode.crossJoin(total)
        .orderBy(col("n_triangles").desc, col("part"))
        .limit(10)
    },

    // Skyline / Pareto frontier (Börzsönyi et al. 2001): parts no
    // other part dominates on (price minimize, size maximize) — the
    // multi-objective shortlist behind "cheapest part at every size
    // tier". The naive operator is the O(n²) dominance self-join the
    // ORACLE runs (NOT EXISTS over all pairs — an independent
    // formulation); the engine's 2-D form is LINEAR: collapse to one
    // row per price (max size), a strict-prefix running max over
    // ascending price via the two-phase device (range partition +
    // local window + ≤32-row broadcast offsets — the corpus is never
    // sorted through one partition, q64/q112's machinery for MAX),
    // then one price-keyed join back. A point survives iff it holds
    // its price group's max size AND beats every strictly-cheaper
    // price's max — duplicate frontier points all survive (neither
    // dominates the other; pinned in Round8cOpsSpec).
    "q139_skyline" -> { (s, dir) =>
      val pts = t(s, dir, "part").select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").as("size"))
      val m = pts.groupBy("price").agg(max("size").as("msize"))
      val parted = m.repartitionByRange(32, col("price"))
        .withColumn("__part", spark_partition_id())
        .transform(Staging(_))
      val wLoc = Window.partitionBy("__part").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = parted.withColumn("__lm", max("msize").over(wLoc))
      // one row per range partition; the offset window runs over ≤32
      // aggregated rows, never data rows
      val partials = parted.groupBy("__part").agg(max("msize").as("__pm"))
      val wOff = Window.orderBy("__part")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = partials
        .withColumn("__off", max("__pm").over(wOff))
        .select("__part", "__off")
      val cm = local.join(broadcast(offsets), "__part")
        // greatest() skips nulls; both null only at the global head,
        // where MinValue keeps the frontier test true
        .withColumn("cmax", coalesce(
          greatest(col("__lm"), col("__off")), lit(Int.MinValue)))
        .select(col("price"), col("msize"), col("cmax"))
      pts.join(cm, "price")
        .filter(col("size") === col("msize") && col("msize") > col("cmax"))
        .select("p_partkey", "price", "size")
        .orderBy("price", "p_partkey")
    },

    // Association rules (Agrawal–Srikant Apriori, the 2-itemset tier)
    // over order baskets: support / confidence(both directions) /
    // lift per co-purchased part pair — the market-basket statistic
    // behind "frequently bought together". All counting is
    // partial-aggregated: pair counts from the per-order self-join
    // (fan-out bounded by basket size, the q134/q138 edge build),
    // item counts one groupBy, the basket total a 1-row broadcast;
    // the support floor prunes the pair table BEFORE the two
    // item-count joins. Every derived metric is one IEEE division of
    // exact integer products (< 2^53), rounded 6dp BEFORE the lift
    // rank (the q106 rule) — both engines order identically.
    "q142_assoc_rules" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val nOrders = broadcast(
        li.select("ok").distinct().agg(count(lit(1)).as("n_orders")))
      val itemN = li.groupBy("p").agg(count(lit(1)).as("np"))
      val pairN = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 2)
      pairN
        .join(itemN.select(col("p").as("a"), col("np").as("na")), "a")
        .join(itemN.select(col("p").as("b"), col("np").as("nb")), "b")
        .crossJoin(nOrders)
        .withColumn("support", round(col("nab") / col("n_orders"), 6))
        .withColumn("conf_a_b", round(col("nab") / col("na"), 6))
        .withColumn("conf_b_a", round(col("nab") / col("nb"), 6))
        .withColumn("lift", round(
          (col("nab") * col("n_orders")) / (col("na") * col("nb")), 6))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
        .select("a", "b", "nab", "support", "conf_a_b", "conf_b_a", "lift")
    },

    // A/B assignment + sample-ratio-mismatch (SRM) check — the
    // experiment-analytics hygiene gate: users deterministically
    // bucketed 50/50 by content hash (q96's device — no RNG, stable
    // under re-runs and late-arriving users), then the observed split
    // is chi-square-tested against the design. An SRM fires when the
    // assignment or logging pipeline is broken — the FIRST thing to
    // check before reading any experiment metric. Per-arm conversion
    // (purchase) rides along. Everything is integer counts until one
    // IEEE division per metric: chi² contribution = (2·o − n)²/(2n)
    // — exact numerator in long arithmetic, no pow(), no float mean.
    "q144_srm_check" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
      val perUser = ev
        .withColumn("arm", userArm)
        .groupBy("user_id", "arm")
        .agg(count(lit(1)).as("ne"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
      val arms = perUser.groupBy("arm").agg(
        count(lit(1)).as("n_users"), sum("ne").as("n_events"),
        sum("converted").as("n_converted"))
      val tot = broadcast(arms.agg(sum("n_users").as("n_total")))
      arms.crossJoin(tot)
        .withColumn("conv_rate",
          round(col("n_converted") / col("n_users"), 6))
        .withColumn("d", lit(2) * col("n_users") - col("n_total"))
        .withColumn("chi2_contrib", round(
          (col("d") * col("d")) / (lit(2) * col("n_total")), 6))
        .select("arm", "n_users", "n_events", "n_converted",
          "conv_rate", "chi2_contrib")
        .orderBy("arm")
    },

    // Peak concurrency per event type — the sweep-line operator
    // (how many 5-minute activity windows overlap at the worst
    // moment): each event opens an interval [ts, ts+300s); starts map
    // to odd keys 2t+1, ends to even keys 2t, so an expiry at instant
    // t processes BEFORE a start at t ([start, end) semantics) with
    // no tie-break column. Net deltas collapse per key FIRST (one
    // partial-aggregated groupBy — simultaneous starts become one
    // row, and the running sum is deterministic because every key is
    // unique), then the global running sum rides the two-phase
    // prefix-sum device — the timeline is never sorted through one
    // partition, which is what makes a sweep-line feasible over a
    // 100 TB event stream. Peak is always attained at a start key
    // (only odd keys have positive net delta), so the peak moment
    // (k−1)/2 is exact integer arithmetic. The moment is reported as
    // an OFFSET from the table's min(ts) rather than an absolute
    // epoch: any timestamp-encoding/session-TZ delta between the
    // engine's parquet dump and the oracle's reader shifts every
    // instant by the same constant, which the subtraction cancels —
    // the round-8 driver hash miss on the absolute-epoch form was
    // exactly this hazard.
    "q145_peak_concurrency" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("tu"))
      val t0 = broadcast(ev.agg(min("tu").as("t0")))
      val deltas = ev
        .select(col("event_type"), (col("tu") * 2 + 1).as("k"),
          lit(1L).as("d"))
        .unionAll(ev.select(col("event_type"),
          ((col("tu") + lit(300000000L)) * 2).as("k"), lit(-1L).as("d")))
        .groupBy("event_type", "k").agg(sum("d").as("d"))
      val run = R.groupedPrefixSum(deltas, "event_type", "k", "d", "pre")
        .withColumn("run", col("pre") + col("d"))
      val peak = run.groupBy("event_type").agg(max("run").as("peak"))
      run.join(broadcast(peak), "event_type")
        .filter(col("run") === col("peak"))
        .groupBy("event_type", "peak").agg(min("k").as("mk"))
        .crossJoin(t0)
        .withColumn("peak_offset_us", expr("(mk - 1) div 2") - col("t0"))
        .select("event_type", "peak", "peak_offset_us")
        .orderBy("event_type")
    },

    // Last-touch attribution with a lookback window — the as-of
    // family (J8) extended by TOLERANCE (pandas merge_asof's
    // `tolerance`, unsupported by q62's plain form): each purchase
    // credits the latest click by the same user within 7 days, else
    // explicitly unattributed. Runs on asofJoinPrior's union-then-
    // window plan (ONE user-keyed shuffle, no inequality join); the
    // window bound applies AFTER the match — prior-but-stale clicks
    // null out, exactly merge_asof semantics. Clicks pre-dedup to one
    // per (user, ts) by max event_id: the as-of window orders by
    // (ts, side) only, so same-instant duplicates would otherwise be
    // nondeterministic in BOTH engines (the determinism contract, not
    // a cosmetic choice). Oracle = DuckDB's native ASOF LEFT JOIN
    // with the tolerance case — an independent implementation.
    "q146_last_touch_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(max("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val ok = col("asof").isNotNull &&
        expr("unix_micros(ts) - unix_micros(asof.click_ts)") <=
          lit(604800000000L)
      // unattributed = -1 sentinels, not NULL: the gate sorts rows
      // cell-wise across engines and NULL has no cross-engine order
      R.asofJoinPrior(purchases, clicks, "user_id", "ts", "click_ts")
        .select(col("event_id"), col("user_id"),
          when(ok, col("asof.click_id")).otherwise(lit(-1L)).as("click_id"),
          when(ok, expr(
            "(unix_micros(ts) - unix_micros(asof.click_ts)) div 1000000"))
            .otherwise(lit(-1L)).as("age_s"))
        .orderBy("event_id")
    },

    // First-order Markov transition matrix over per-user event
    // sequences — P(next event type | current) from lag pairs, the
    // behavioral model behind path analysis and next-action
    // prediction. ONE user-keyed shuffle+sort carries the lead();
    // transition counts partial-aggregate over the ≤|types|² key
    // space, row totals ride a ≤|types|-row broadcast join-back, and
    // each probability is one division of exact counts. (ts,
    // event_id) is the deterministic sequence order — both engines
    // must walk identical paths.
    "q151_markov_transitions" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("cur").agg(sum("n").as("tot"))
      pairs.join(broadcast(totals), "cur")
        .withColumn("p", round(col("n") / col("tot"), 6))
        .select("cur", "nxt", "n", "p")
        .orderBy("cur", "nxt")
    },

    // Time-weighted average value per user (TWAP) — each event's
    // value holds until the user's next event; the mean weights by
    // HOLDING TIME, not by event count (a sensor that reports once an
    // hour and once a second must agree). The step-function integral
    // is Σ cents·Δt / Σ Δt with Δt from ONE lead() on the same
    // user-keyed shuffle; cents and Δt_µs are exact longs (≈2^51
    // worst-case products — no float accumulates), so the single
    // closing division is engine-exact. The last event has no holding
    // interval and drops out, by definition of a step integral.
    "q152_twap" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("dt_us",
          unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .filter(col("dt_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("cents") * col("dt_us")).as("num"),
          sum(col("dt_us")).as("den"))
        .withColumn("twap_cents", round(col("num") / col("den"), 6))
        .select("user_id", "n_intervals", "twap_cents")
        .orderBy("user_id")
    },

    // Per-type volume trend via closed-form OLS — slope, intercept
    // and R² of daily event counts against the day index, the
    // monitoring statistic behind "is this source decaying". The
    // whole regression is FIVE integer sums (n, Σx, Σy, Σxy, Σx²,
    // plus Σy² for R²) that partial-aggregate map-side — a 100 TB
    // stream reduces to one 6-long row per group, then each
    // coefficient is ONE IEEE division of exact longs (the q144/q148
    // discipline — no float accumulates across rows). The day index
    // is rebased to the global min day (1-row broadcast) so the
    // squared cross-terms stay far from 2^63 (absolute epoch-days
    // squared inside (nΣxy−ΣxΣy)² would overflow).
    "q154_ols_trend" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val base = broadcast(daily.agg(min("day").as("day0")))
      val sums = daily.crossJoin(base)
        .withColumn("x", datediff(col("day"), col("day0")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      sums
        .withColumn("dxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("dxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("dyy", col("n") * col("syy") - col("sy") * col("sy"))
        .withColumn("slope", round(
          when(col("dxx") === 0, 0.0)
            .otherwise(col("dxy") / col("dxx")), 6))
        .withColumn("intercept", round(
          (col("sy") - (col("dxy") / col("dxx")) * col("sx")) / col("n"), 6))
        // squares move to double BEFORE multiplying: dxy²/dxx·dyy in
        // long arithmetic overflows around 10-decade dilated spans
        // (and DuckDB would silently widen to HUGEINT — a different
        // rounding than IEEE); the longs themselves are ≪ 2^53 so the
        // casts are exact and both engines run identical double ops
        .withColumn("r2", round(
          when(col("dxx") === 0 || col("dyy") === 0, 0.0)
            .otherwise(
              (col("dxy").cast("double") * col("dxy").cast("double")) /
                (col("dxx").cast("double") * col("dyy").cast("double"))),
          6))
        .select("event_type", "n", "slope", "intercept", "r2")
        .orderBy("event_type")
    },

    // Lagged cross-correlation between event-type daily series —
    // "does click volume LEAD purchase volume, and by how many
    // days" (lag 0 = plain correlation, a = b = autocorrelation).
    // q154's closed-form discipline at every (type_a, type_b, lag):
    // the stream collapses to daily counts once, the lag explode is
    // ≤4 rows per daily cell, all six sums are exact longs, and the
    // closing corr = dxy / √(dxx·dyy) is safe cross-engine because
    // IEEE sqrt is CORRECTLY ROUNDED everywhere (unlike ln — no
    // round-before-compare needed on the operands, only the output
    // 6dp round); the variance products move to double before
    // multiplying (the q154 overflow rule).
    "q157_lagged_corr" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .transform(Staging(_))
      val a = daily
        .select(col("event_type").as("type_a"), col("day"),
          col("y").as("ya"),
          explode(sequence(lit(0), lit(3))).as("lag"))
        .withColumn("match_day", date_add(col("day"), col("lag")))
      val b = daily.select(col("event_type").as("type_b"),
        col("day").as("match_day"), col("y").as("yb"))
      a.join(b, "match_day")
        .groupBy("type_a", "type_b", "lag")
        .agg(count(lit(1)).as("n_days"),
          sum("ya").as("sa"), sum("yb").as("sb"),
          sum(col("ya") * col("yb")).as("sab"),
          sum(col("ya") * col("ya")).as("saa"),
          sum(col("yb") * col("yb")).as("sbb"))
        .withColumn("dxx", col("n_days") * col("saa") - col("sa") * col("sa"))
        .withColumn("dyy", col("n_days") * col("sbb") - col("sb") * col("sb"))
        .withColumn("dxy", col("n_days") * col("sab") - col("sa") * col("sb"))
        .withColumn("corr", round(
          when(col("dxx") === 0 || col("dyy") === 0, 0.0)
            .otherwise(col("dxy") / sqrt(
              col("dxx").cast("double") * col("dyy").cast("double"))), 6))
        .select("type_a", "type_b", "lag", "n_days", "corr")
        .orderBy("type_a", "type_b", "lag")
    },

    // Gini coefficient of per-user event concentration — the
    // inequality audit behind "is one account dominating this
    // stream" (q122's skew histogram shows the shape; Gini is the
    // single comparable number per type). Closed form over ranked
    // shares: G = Σ(2i−n−1)·yᵢ / (n·Σy) with i the ascending rank —
    // the rank comes from the TWO-PHASE device (range partition +
    // local window + broadcast offsets via groupedPrefixSum), so no
    // event type's user list ever sorts through one partition; the
    // numerator stays exact longs to one closing division. Rank
    // order (y, user_id) is total, so both engines walk the same
    // Lorenz curve.
    "q158_gini" -> { (s, dir) =>
      val peruser = t(s, dir, "events")
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("y"))
        // unique (group, order) key for the two-phase rank
        .withColumn("__ord", col("y") * lit(10000000L) + col("user_id"))
        .withColumn("__one", lit(1L))
      val ranked = R.groupedPrefixSum(peruser, "event_type", "__ord",
          "__one", "pre")
        .withColumn("i", col("pre") + 1)
      val totals = broadcast(ranked.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy")))
      ranked.join(totals, "event_type")
        .withColumn("term", (lit(2) * col("i") - col("n") - 1) * col("y"))
        .groupBy("event_type", "n", "sy").agg(sum("term").as("num"))
        .withColumn("gini", round(col("num") / (col("n") * col("sy")), 6))
        .select(col("event_type"), col("n").as("n_users"), col("gini"))
        .orderBy("event_type")
    },

    // Benford first-digit audit of order totals — the data-forensics
    // screen (fabricated or unit-mangled numeric columns drift from
    // the log-uniform first-digit law; an ingest that silently
    // switched currency scale flips this before any mean does). The
    // digit comes from the INTEGER cents via string head — never
    // floor(log10(x)), whose last-ulp at exact powers of ten flips
    // the digit differently per libm; integer→string is deterministic
    // in both engines. One scan, a ≤9-row aggregate, expected shares
    // log10(1+1/d) and the chi² contribution rounded 6dp (the
    // transcendental lives inside the round, q123's rule).
    "q159_benford" -> { (s, dir) =>
      val digits = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"))
        .filter(col("cents") > 0)
        .withColumn("digit",
          substring(col("cents").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = broadcast(digits.agg(sum("n").as("nt")))
      digits.crossJoin(total)
        .withColumn("share", round(col("n") / col("nt"), 6))
        .withColumn("expected",
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .withColumn("chi2_contrib", round(
          ((col("n") - col("expected") * col("nt")) *
            (col("n") - col("expected") * col("nt"))) /
            (col("expected") * col("nt")), 6))
        .select("digit", "n", "share", "expected", "chi2_contrib")
        .orderBy("digit")
    },

    // CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13)
    // — the readout companion to q144's SRM gate: the post-period
    // metric is adjusted by the PRE-period covariate (Y' = Y −
    // θ(X − x̄)), which removes the between-user variance the
    // experiment didn't cause and typically halves the sample size a
    // test needs. Spend is kept as exact integer cents per user (the
    // q159 rule — never a float sum across engines); the pooled
    // θ = cov(X,Y)/var(X) comes from the q154 closed form: five
    // integer sums that partial-aggregate map-side, so a 100 TB event
    // stream reduces to one 6-long row before any IEEE op. The
    // n·Σxy−Σx·Σy combinations cast to double BEFORE multiplying
    // (long² overflows at dilated scale; DuckDB would silently widen
    // to HUGEINT — a different rounding), and θ is rounded 6dp BEFORE
    // the adjustment is applied (the q106 round-before-use rule), so
    // every cross-engine float crosses only through a round.
    "q160_cuped" -> { (s, dir) =>
      val perUser = prePostCents(s, dir)
      val pool = broadcast(perUser.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy")))
      val arms = perUser.groupBy("arm").agg(
        count(lit(1)).as("n_users"), sum("x").as("ax"), sum("y").as("ay"))
      arms.crossJoin(pool)
        .withColumn("cov_num",
          col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy"))
        .withColumn("varx_num",
          col("n").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx"))
        .withColumn("vary_num",
          col("n").cast("double") * col("syy") -
            col("sy").cast("double") * col("sy"))
        // degenerate-covariate guard: a constant X (or Y) has nothing
        // to regress out — θ and ρ² are 0 by definition, never a /0
        .withColumn("theta", when(col("varx_num") === 0.0, 0.0)
          .otherwise(round(col("cov_num") / col("varx_num"), 6)))
        .withColumn("rho2",
          when(col("varx_num") === 0.0 || col("vary_num") === 0.0, 0.0)
            .otherwise(round((col("cov_num") * col("cov_num")) /
              (col("varx_num") * col("vary_num")), 6)))
        .withColumn("mean_pre", round(col("ax") / col("n_users"), 6))
        .withColumn("mean_post", round(col("ay") / col("n_users"), 6))
        .withColumn("mean_post_adj", round(
          col("ay") / col("n_users") - col("theta") *
            (col("ax") / col("n_users") - col("sx") / col("n")), 6))
        .select("arm", "n_users", "mean_pre", "mean_post", "theta",
          "rho2", "mean_post_adj")
        .orderBy("arm")
    },

    // Poisson bootstrap CI (Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams", Google 2012) — THE bootstrap that
    // survives 100 TB: the classic resample needs n draws per
    // replicate through one machine; the Poisson form gives every row
    // an independent Poisson(1) weight per replicate, so all 32
    // replicates ride ONE scan and the shuffle carries 32 partial
    // rows per partition (map-side combine on the rep key). Weights
    // are deterministic — q104's dyadic-rational uniform (md5 40-bit
    // prefix + 1, ONE exact /2^40) through the literal Poisson CDF
    // chain, so both engines draw byte-identical replicates; sums are
    // exact integer cents to one rounded division per replicate. The
    // CI is the 2nd/31st order statistic of the 32 replicate means
    // (≈ the 95% percentile interval) — a 32-row window, metadata,
    // never the data.
    "q161_poisson_bootstrap" -> { (s, dir) =>
      val reps = 32
      // spread the SKINNY (okey, cents) projection across the session
      // shuffle parallelism before the 32x hash explode: a small-SF
      // scan is one parquet file = one partition, which would
      // serialize 32n md5 draws onto one core (measured: the sf0.1
      // solo equaled the sf1 solo because per-partition, not total,
      // work set the wall clock). Hash-repartition by key, NOT an AQE
      // rebalance hint — rebalance targets the 64MB advisory size and
      // would COALESCE a 2.4MB projection back to one partition
      // (measured: the hint changed nothing). The shuffle moves
      // 16-byte rows — negligible against the CPU it unlocks.
      val o = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .repartition(col("okey"))
      val u01 = (conv(substring(md5(concat(lit("bs:"),
        col("rep").cast("string"), lit(":"), col("okey").cast("string"))),
        1, 10), 16, 10).cast("long") + 1L)
        .cast("double") / lit(1099511627776.0) // 2^40, exact
      val weighted = o
        .select(col("okey"), col("cents"),
          explode(sequence(lit(0), lit(reps - 1))).as("rep"))
        .withColumn("u", u01)
        .withColumn("w",
          when(col("u") < 0.36787944117144233, 0L)
            .when(col("u") < 0.7357588823428847, 1L)
            .when(col("u") < 0.9196986029286058, 2L)
            .when(col("u") < 0.9810118431238462, 3L)
            .when(col("u") < 0.9963401531726563, 4L)
            .when(col("u") < 0.9994058151824183, 5L)
            .when(col("u") < 0.9999167588507119, 6L)
            .when(col("u") < 0.9999902393243134, 7L)
            .otherwise(8L))
      val repMeans = weighted.groupBy("rep").agg(
        sum(col("w") * col("cents")).as("swc"), sum("w").as("sw"))
        .withColumn("m", round(col("swc") / col("sw"), 6))
      // ONE aggregate carries both CI bounds: separate lo/hi
      // broadcasts would each re-execute the full 32x hash pipeline
      // (measured 2x wall clock — a broadcast materializes its own
      // subtree, there is no common-subexpression reuse across
      // exchanges)
      val ci = broadcast(repMeans.select(col("m"))
        .withColumn("i", row_number().over(Window.orderBy("m")))
        .agg(min(when(col("i") === 2, col("m"))).as("ci_lo"),
          min(when(col("i") === reps - 1, col("m"))).as("ci_hi")))
      t(s, dir, "orders")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(expr("cast(round(o_totalprice * 100) as bigint)")) /
            count(lit(1)), 6).as("point_mean"))
        .withColumn("n_reps", lit(reps))
        .crossJoin(ci)
        .select("n_reps", "n_orders", "point_mean", "ci_lo", "ci_hi")
    },

    // Changepoint detection (binary-segmentation step, CUSUM form) —
    // the monitoring question q90's rolling z-score can't answer:
    // WHERE did the level shift, not just that an hour spiked. Per
    // event type the daily-count series collapses from the raw stream
    // in one map-combined groupBy (a 100 TB stream becomes ≤|types|×
    // |days| rows — everything after is grid metadata); the CUSUM
    // objective G_k = |n·S_k − k·S_n| stays EXACT LONGS (the
    // |S_k − (k/n)S_n| form scaled by n — same argmax, no division),
    // prefix sums ride a type-partitioned grid window, and the argmax
    // tie-breaks deterministically on the earlier day. Means before/
    // after are one rounded division each. Observed days only: a
    // zero-event day is absent from both engines identically (this
    // corpus has no empty days; a sparse deployment would densify
    // against a calendar spine first, q90's documented caveat).
    "q162_changepoint" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pre = daily
        .withColumn("k", row_number().over(w))
        .withColumn("sk", sum("c").over(w))
      val tot = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("c").as("sn"))
      val scored = pre.join(broadcast(tot), "event_type")
        .filter(col("k") < col("n")) // a split needs both sides non-empty
        .withColumn("g", abs(col("n") * col("sk") - col("k") * col("sn")))
      val pick = Window.partitionBy("event_type")
        .orderBy(col("g").desc, col("k"))
      scored.withColumn("r", row_number().over(pick)).filter(col("r") === 1)
        .withColumn("mean_before", round(col("sk") / col("k"), 6))
        .withColumn("mean_after",
          round((col("sn") - col("sk")) / (col("n") - col("k")), 6))
        .select(col("event_type"), col("n").as("n_days"),
          col("day").as("split_day"), col("g").as("g_stat"),
          col("mean_before"), col("mean_after"))
        .orderBy("event_type")
    },

    // Schema evolution under the reader — the contract every
    // long-lived 100 TB table eventually needs: a column added in a
    // later writer generation must read back as NULL for every legacy
    // file WITHOUT rewriting history. Two physical generations land in
    // scratch parquet (gen1 without `lang`, gen2 with it), one
    // mergeSchema read unions them, and the per-source null accounting
    // must reproduce the closed-form split of the source table — a
    // dropped legacy file, a mis-merged schema, or a default other
    // than NULL all flip the hash. (Partition- and bucket-preserving
    // evolution is PartitionedCowTable/BucketedTable territory; this
    // gates the reader semantics those build on.)
    "q163_schema_evolution" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = Tables.scratchDir(s, "q163")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$base/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "source", "lang")
        .write.mode("overwrite").parquet(s"$base/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/gen1", s"$base/gen2")
        .groupBy("source").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("lang").isNotNull, 1L).otherwise(0L))
            .as("n_with_lang"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_legacy"))
        .orderBy("source")
    },

    // Mann–Whitney U — the significance readout for q144/q160's
    // experiment stack on a SKEWED metric (per-user purchase spend:
    // heavy-tailed, zero-inflated — a t-test's normality assumption is
    // exactly wrong here, the rank test doesn't care). Histogram
    // closed form (q128's device): the corpus collapses to (value,
    // n_arm0, n_arm1) cells, strictly-below counts ride the two-phase
    // prefix sum, and the tie-corrected statistic stays EXACT LONGS —
    // 2U = Σ n1·(2·below0 + n0) avoids the half-credit fraction, the
    // tie term Σ(t³−t) is integer — until one z-score division whose
    // sqrt is IEEE-correctly-rounded (the q157 rule). Doc rows are
    // never globally ranked.
    "q164_mann_whitney" -> { (s, dir) =>
      val cells = armCentsCells(s, dir)
      val agg = R.groupedPrefixSum(cells, "grp", "v", "n0", "below0")
        .agg(sum("n0").as("n0t"), sum("n1").as("n1t"),
          sum(col("n1") * (lit(2) * col("below0") + col("n0"))).as("u2x"),
          sum((col("n0") + col("n1")) * (col("n0") + col("n1")) *
            (col("n0") + col("n1")) - (col("n0") + col("n1"))).as("stie"))
        .withColumn("n", col("n0t") + col("n1t"))
        .withColumn("sig2",
          (col("n0t").cast("double") * col("n1t") / 12.0) *
            ((col("n") + 1).cast("double") -
              col("stie").cast("double") /
                (col("n").cast("double") * (col("n") - 1))))
      agg
        .withColumn("z", when(col("sig2") === 0.0, 0.0)
          .otherwise(round(
            (col("u2x").cast("double") / 2.0 -
              col("n0t").cast("double") * col("n1t") / 2.0) /
              sqrt(col("sig2")), 6)))
        .select(col("n0t").as("n0"), col("n1t").as("n1"), col("u2x"),
          col("z"))
    },

    // Linear (equal-split) multi-touch attribution — q146's last-touch
    // sibling: every same-user click in the 7-day lookback shares the
    // purchase's credit equally, the other canonical attribution rule
    // (last-touch overweights the final retargeting click; linear is
    // what media-mix reads). Credit is INTEGER MICRO-UNITS
    // (1000000 div n_touch) — summing 1/n doubles across a shuffle is
    // order-dependent and ungateable, and ppm quantization is exactly
    // what production ledger systems do. Two keyed shuffles: the
    // user-keyed touch join (per-user candidate volume, bounded by
    // activity), then the purchase-keyed window for the split count;
    // purchases with no in-window click are unattributed by design
    // (q146 carries the explicit sentinel for those).
    "q167_linear_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      val touches = clicks.join(purchases, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("interval 7 days"))
      touches
        .withColumn("n_touch",
          count(lit(1)).over(Window.partitionBy("purchase_id")))
        .withColumn("credit_ppm", expr("1000000 div n_touch"))
        .groupBy(to_date(col("c_ts")).as("day"))
        .agg(sum("credit_ppm").as("credit_ppm"),
          count(lit(1)).as("n_touches"),
          countDistinct("purchase_id").as("n_purchases"))
        .orderBy("day")
    },

    // k-core decomposition (k=3) — the graph-family tier between
    // q138's local triangle counts and q134's global PageRank: the
    // maximal subgraph where EVERY node keeps ≥k neighbors, the
    // standard dense-community / spam-cluster extractor. Iterative
    // peel: drop sub-k nodes, recompute degrees, repeat to fixpoint —
    // each round is one degree groupBy + two semi-join prunes on a
    // SHRINKING edge table (lineage cut per round, the
    // connectedComponents discipline), O(peel-depth) rounds with a
    // loud non-convergence failure. The per-round count() actions are
    // bounded scalars (the watermark precedent), never row data. The
    // oracle replays the same peel as 30 generated CTE rounds —
    // idempotent past the fixpoint, so depth differences can't
    // desynchronize the engines.
    "q168_kcore" -> { (s, dir) =>
      val k = 3
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val edges0 = li.alias("a").join(li.alias("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
        .transform(Staging(_))
      val (edges, converged) = Staging.iterate(edges0, 30) { edges =>
        val deg = edges.select(col("u").as("x"))
          .unionAll(edges.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("x")
        edges
          .join(keep.withColumnRenamed("x", "u"), Seq("u"))
          .join(keep.withColumnRenamed("x", "v"), Seq("v"))
          .select("u", "v")
      }(Staging.unchanged(_.count()))
      require(converged,
        s"q168: 3-core peel did not converge within 30 rounds " +
          s"(${edges.count()} edges at round 30)")
      val coreDeg = edges.select(col("u").as("part"))
        .unionAll(edges.select(col("v").as("part")))
        .groupBy("part").agg(count(lit(1)).as("core_degree"))
      val tot = broadcast(coreDeg.agg(
        count(lit(1)).as("n_core_nodes"), sum("core_degree").as("deg_sum")))
      coreDeg.crossJoin(tot)
        .orderBy(col("core_degree").desc, col("part"))
        .limit(20)
        .select("part", "core_degree", "n_core_nodes", "deg_sum")
    },

    // Funnel latency — q84 counts WHO converts, this measures HOW
    // LONG conversion takes (the metric behind every "median time to
    // purchase" dashboard): per user, first click → first purchase at
    // or after it, cohorted by first-click day. Durations stay exact
    // integer MICROSECONDS (timestamp subtraction in float seconds
    // would round differently per engine); the interpolated p50/p90
    // are `percentile`'s exact form (the q10 convention —
    // quantile_cont mirrors it), never an approx sketch, and NULL
    // non-converters fall out of count(col)/percentile identically in
    // both engines. Two user-keyed shuffles (first-click groupBy, the
    // conversion min); cohort rollup is day-grid metadata.
    "q169_time_to_convert" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val firstConv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
        .join(firstClick, Seq("user_id"))
        .filter(col("p_ts") >= col("c_ts"))
        .groupBy("user_id").agg(min("p_ts").as("conv_ts"))
      firstClick.join(firstConv, Seq("user_id"), "left")
        .withColumn("cohort_day", to_date(col("c_ts")))
        .withColumn("dur_us",
          unix_micros(col("conv_ts")) - unix_micros(col("c_ts")))
        .groupBy("cohort_day").agg(
          count(lit(1)).as("n_clicked"),
          count(col("dur_us")).as("n_converted"),
          round(count(col("dur_us")) / count(lit(1)), 6).as("conv_rate"),
          round(percentile(col("dur_us"), lit(0.5)), 5).as("p50_us"),
          round(percentile(col("dur_us"), lit(0.9)), 5).as("p90_us"))
        .orderBy("cohort_day")
    },

    // Population Stability Index — the ML-ops drift statistic risk
    // teams actually threshold (0.1 = moderate, 0.25 = shifted),
    // completing the drift triad: q106 KL answers "did the VOCAB
    // change", q156 W1 "did the SHAPE change", PSI "did the SCORE
    // DISTRIBUTION my model consumes change", symmetric in its two
    // windows. Value cents bucket into a capped $25 grid map-side
    // (one scan computes both windows' histograms via sum(when) —
    // q106's device), add-one smoothing over each type's OBSERVED
    // bucket set keeps ln finite, contributions sum as doubles and
    // cross engines only through the 6dp round (the q106 KL
    // precedent), and the verdict label derives from the ROUNDED psi
    // so a last-ulp can't flip it.
    "q170_psi" -> { (s, dir) =>
      val cut = lit("2024-01-16").cast("timestamp")
      val h = t(s, dir, "events")
        .select(col("event_type"),
          least(expr("cast(round(value * 100) as bigint) div 2500"),
            lit(19L)).as("b"),
          when(col("ts") < cut, 1L).otherwise(0L).as("is_ref"))
        .groupBy("event_type", "b")
        .agg(sum(col("is_ref")).as("cr"),
          sum(lit(1L) - col("is_ref")).as("cc"))
      val totals = h.groupBy("event_type").agg(
        sum("cr").as("tr"), sum("cc").as("tc"), count(lit(1)).as("v"))
      val pr = (col("cr") + 1).cast("double") / (col("tr") + col("v"))
      val pc = (col("cc") + 1).cast("double") / (col("tc") + col("v"))
      h.join(broadcast(totals), "event_type")
        .select(col("event_type"), col("tr"), col("tc"), col("v"),
          ((pr - pc) * log(pr / pc)).as("c"))
        .groupBy(col("event_type"), col("tr").as("n_ref"),
          col("tc").as("n_cur"), col("v").as("n_buckets"))
        .agg(round(sum("c"), 6).as("psi"))
        .withColumn("verdict",
          when(col("psi") < 0.1, "stable")
            .when(col("psi") < 0.25, "moderate")
            .otherwise("shifted"))
        .select("event_type", "n_ref", "n_cur", "n_buckets", "psi",
          "verdict")
        .orderBy("event_type")
    },

    // Seasonal-naive forecast evaluation (MASE, Hyndman & Koehler
    // 2006) — the honest yardstick for "can we forecast next week's
    // volume": the same-weekday-last-week forecast's MAE scaled by the
    // naive yesterday-forecast's MAE, unitless and comparable across
    // types (plain MAPE explodes on quiet days). The stream collapses
    // to the daily grid once; both shifted series come from DATE-
    // ARITHMETIC equi-joins on the grid (day = day−7 / day−1 — no
    // window sort, join keys are calendar math), absolute errors stay
    // EXACT LONGS, and MASE is one division of long products cast to
    // double (the q154 rule). MASE < 1 ⇒ weekly seasonality carries
    // real signal beyond persistence.
    "q171_mase" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .transform(Staging(_))
      def shifted(days: Int, as: String) = daily.select(
        col("event_type"), date_add(col("day"), days).as("day"),
        col("c").as(as))
      val e7 = daily.join(shifted(7, "f7"), Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(sum(abs(col("c") - col("f7"))).as("s7"),
          count(lit(1)).as("n7"))
      val e1 = daily.join(shifted(1, "f1"), Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(sum(abs(col("c") - col("f1"))).as("s1"),
          count(lit(1)).as("n1"))
      e7.join(e1, "event_type")
        .withColumn("mae7", round(col("s7") / col("n7"), 6))
        .withColumn("mae1", round(col("s1") / col("n1"), 6))
        // a perfectly flat series has zero naive error — MASE is
        // undefined there, never a NaN that hashes differently
        .withColumn("mase", when(col("s1") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("s7").cast("double") * col("n1")) /
              (col("n7").cast("double") * col("s1")), 6)))
        .select("event_type", "n7", "mae7", "mae1", "mase")
        .orderBy("event_type")
    },

    // Cohort LTV triangle — q85's retention companion that carries
    // MONEY: users cohorted by first-seen week, purchase revenue
    // accumulated per week-since-signup, reported as cumulative cents
    // per cohort user (the curve growth teams project forward).
    // Revenue stays integer cents through the cumulative prefix (a
    // cohort-partitioned window over the ≤|weeks|² triangle grid —
    // metadata, not events); ONE division per cell at the end. The
    // first-seen groupBy and the (cohort, week) rollup are the only
    // event-scale shuffles.
    "q172_cohort_ltv" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val firstSeen = ev.groupBy("user_id")
        .agg(floor(datediff(to_date(min("ts")), lit("2024-01-01")) / 7)
          .as("cohort_week"))
      val cohortSize = firstSeen.groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
            .as("ev_week"))
        .join(firstSeen, "user_id")
        .withColumn("k", col("ev_week") - col("cohort_week"))
        .groupBy("cohort_week", "k").agg(sum("cents").as("wk_cents"))
      val wc = Window.partitionBy("cohort_week").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_cents", sum("wk_cents").over(wc))
        .join(broadcast(cohortSize), "cohort_week")
        .withColumn("ltv_cents_per_user",
          round(col("cum_cents") / col("n_users"), 6))
        .select("cohort_week", "k", "n_users", "wk_cents", "cum_cents",
          "ltv_cents_per_user")
        .orderBy("cohort_week", "k")
    },

    // Robust outlier screen (modified z-score, Iglewicz–Hoaglin) —
    // q90's rolling mean/σ monitor is poisoned by the very outliers
    // it hunts (one 10× day inflates σ and hides its neighbors);
    // median/MAD is breakdown-point-0.5 robust. The stream collapses
    // to the daily grid once; med and MAD are the EXACT interpolated
    // percentile (q10's convention) over grid rows — two grid passes,
    // never a corpus sort — deviations are exact in doubles (integer
    // count minus a .0/.5 median), and the 3.5 flag plus the worst-day
    // argmax both read the 6dp-ROUNDED z (the q76 rule, so a last-ulp
    // can't flip either engine). MAD = 0 (a majority-constant series)
    // leaves z undefined, never a /0.
    "q173_mad_outliers" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val med = daily.groupBy("event_type")
        .agg(percentile(col("c"), lit(0.5)).as("med"))
      val dev = daily.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("c") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), first("med").as("med"),
          percentile(col("dev"), lit(0.5)).as("mad"))
      val z = dev.join(broadcast(mad.select("event_type", "mad")),
          "event_type")
        .withColumn("z", when(col("mad") === 0.0,
            lit(null).cast("double"))
          .otherwise(round(
            lit(0.6745) * (col("c") - col("med")) / col("mad"), 6)))
      val pick = Window.partitionBy("event_type")
        .orderBy(abs(col("z")).desc_nulls_last, col("day"))
      z.withColumn("r", row_number().over(pick)).filter(col("r") === 1)
        .select(col("event_type"), col("day").as("worst_day"),
          col("z").as("worst_z"))
        .join(broadcast(mad), "event_type")
        .join(z.filter(abs(col("z")) > 3.5).groupBy("event_type")
          .agg(count(lit(1)).as("n_outliers")), Seq("event_type"), "left")
        .na.fill(0L, Seq("n_outliers"))
        .withColumn("med_c", round(col("med"), 5))
        .withColumn("mad_c", round(col("mad"), 5))
        .select("event_type", "n_days", "med_c", "mad_c", "n_outliers",
          "worst_day", "worst_z")
        .orderBy("event_type")
    },

    // Two-sample Kolmogorov–Smirnov — the distribution-equality test
    // for q144's experiment stack (q164 asks "did the location move";
    // KS asks "did the SHAPE change anywhere": variance inflation or
    // a new zero mass moves D with the means untouched). q156's exact
    // integer device pointed at a supremum instead of a sum: both
    // arms' CDFs step on the shared value grid, D's numerator is
    // max|cum0·n1 − cum1·n0| in EXACT LONGS (grid prefix sums ride
    // the two-phase device twice), and D plus the α=0.05 critical
    // value each spend ONE IEEE division/sqrt at the end. Doc rows
    // are never globally ranked.
    "q174_ks_test" -> { (s, dir) =>
      val cells = armCentsCells(s, dir)
      val cum = R.groupedPrefixSum(
        R.groupedPrefixSum(cells, "grp", "v", "n0", "b0"),
        "grp", "v", "n1", "b1")
        .withColumn("cum0", col("b0") + col("n0"))
        .withColumn("cum1", col("b1") + col("n1"))
      val tot = broadcast(cells.agg(
        sum("n0").as("n0t"), sum("n1").as("n1t")))
      cum.crossJoin(tot)
        .select(col("n0t"), col("n1t"),
          abs(col("cum0") * col("n1t") - col("cum1") * col("n0t"))
            .as("dn"))
        .groupBy("n0t", "n1t").agg(max("dn").as("d_num"))
        .withColumn("d", round(
          col("d_num").cast("double") / (col("n0t") * col("n1t")), 6))
        .withColumn("crit_005", round(lit(1.358) * sqrt(
          (col("n0t") + col("n1t")).cast("double") /
            (col("n0t").cast("double") * col("n1t"))), 6))
        .withColumn("reject", col("d") > col("crit_005"))
        .select(col("n0t").as("n0"), col("n1t").as("n1"), col("d_num"),
          col("d"), col("crit_005"), col("reject"))
    },

    // Discrete-time survival / churn hazard — the lifecycle readout
    // q85's retention triangle feeds: for each cohort, h(k) = users
    // last seen in week k ÷ users still at risk entering week k, the
    // actuarial life-table form. One user-keyed pass yields (cohort,
    // last-offset); the hazard table is a ≤|weeks|² grid with the
    // at-risk denominator as a REVERSE grid prefix sum (suffix sum —
    // the two-phase device ordered descending). All integer until one
    // division per cell. Right-censoring caveat carried explicitly:
    // the final observed week's "churn" is censoring, flagged in the
    // output rather than silently blended.
    "q175_survival_hazard" -> { (s, dir) =>
      val weeks = t(s, dir, "events")
        .groupBy("user_id")
        .agg(floor(datediff(to_date(min("ts")), lit("2024-01-01")) / 7)
          .as("cohort_week"),
          floor(datediff(to_date(max("ts")), lit("2024-01-01")) / 7)
            .as("last_week"))
        .withColumn("k", col("last_week") - col("cohort_week"))
      val maxWeek = broadcast(weeks.agg(max("last_week").as("max_week")))
      val hist = weeks.groupBy("cohort_week", "k")
        .agg(count(lit(1)).as("n_last_seen"))
      val ws = Window.partitionBy("cohort_week")
        .orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("n_at_risk", sum("n_last_seen").over(ws))
        .crossJoin(maxWeek)
        .withColumn("hazard",
          round(col("n_last_seen") / col("n_at_risk"), 6))
        .withColumn("censored",
          col("cohort_week") + col("k") === col("max_week"))
        .select("cohort_week", "k", "n_at_risk", "n_last_seen",
          "hazard", "censored")
        .orderBy("cohort_week", "k")
    },

    // Single-source shortest paths (BFS hop distance) — the reach
    // question the component family can't answer (q55 says WHETHER
    // connected, this says HOW FAR): layered frontier expansion from
    // the min-id part over the co-purchase graph, distances as a
    // TABLE at every round (per-node state never visits the driver —
    // the q134 rule), merged by min(dist), checkpointed per round
    // with an exceptAll fixpoint probe (count stability alone can't
    // see a distance improving) and a loud non-convergence failure.
    // Unreachable nodes are reported explicitly (dist = -1), not
    // dropped. The oracle replays BFS as a recursive CTE over (node,
    // dist) pairs — UNION dedup keeps it polynomial, the same ≤15
    // cap, min(dist) outside.
    "q178_sssp" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      // size-gated width before the checkpoint (q134's r15 device —
      // ScaleOps.edgeWidth from the source scan's bytes): BFS reads
      // this edge table up to 15 rounds, and an AQE-coalesced
      // checkpoint would feed every round a near-serial edge side;
      // the r14 full-session-width spread was a measured net cost at
      // gate scale, so the width tracks edge volume instead
      val wE = SO.edgeWidth(s, SO.pathBytes(s"$dir/lineitem.parquet"))
      val edges0 = li.alias("a").join(li.alias("b"),
          col("a.ok") === col("b.ok") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      val edges = (if (wE <= 1) edges0
        else edges0.repartition(wE, col("u"))
          .sortWithinPartitions("u")) // q134's note: compression + runs
        .transform(Staging(_))
      val nodes = edges.select(col("u").as("node")).distinct()
        .transform(Staging(_))
      val src = nodes.agg(min("node")).head().getLong(0) // 1-row scalar
      val dist0 = nodes.filter(col("node") === src)
        .select(col("node"), lit(0).as("dist")).transform(Staging(_))
      val (dist, converged) = Staging.iterate(dist0, 15) { dist =>
        val next = dist.join(edges, col("node") === col("u"))
          .select(col("v").as("node"), (col("dist") + 1).as("dist"))
        dist.unionByName(next)
          .groupBy("node").agg(min("dist").as("dist"))
      }((dist, merged) => merged.exceptAll(dist).isEmpty)
      require(converged,
        s"q178: BFS did not reach a fixpoint within 15 rounds")
      val unreached = nodes.join(dist, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1).as("dist"), col("n_nodes"))
      dist.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .unionByName(unreached)
        .orderBy("dist")
    },

    // Equal-frequency binning — the feature-prep discretizer (decile
    // bins for score cards, monotonic-feature buckets for gradient
    // models): 9 interpolated decile edges from ONE exact-percentile
    // aggregate (array form — a single pass, the q10 convention), the
    // corpus bins itself against the broadcast 1-row edge array with
    // a codegen'd filter-count (strictly-below count ⇒ boundary
    // values fall LEFT, deterministic in both engines), and the
    // near-equal bin populations are themselves the gated output.
    "q180_equal_freq_binning" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"))
      val edges = broadcast(o.agg(percentile(col("cents"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("edges")))
      o.crossJoin(edges)
        .withColumn("bin",
          size(filter(col("edges"), e => e < col("cents"))))
        .groupBy("bin").agg(count(lit(1)).as("n"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bin")
    },

    // Revenue waterfall (the MRR-movement decomposition, weekly) —
    // the growth-accounting readout: each week's revenue change
    // splits into new / expansion / contraction / churned / retained
    // by comparing every user's week against their PRIOR week. The
    // prior week is a key-shifted SELF-join on (user, week) — one
    // scan builds the (user, week, cents) rollup (checkpointed, so
    // cur and prev share it), the full-outer join materializes
    // zero-revenue sides explicitly, and every class delta stays
    // EXACT INTEGER CENTS. Ghost rows past the last observed week
    // (every user "churns" after the corpus ends) are cut against a
    // broadcast max-week scalar.
    "q181_revenue_waterfall" -> { (s, dir) =>
      val rev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
            .as("wk"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        .transform(Staging(_))
      val maxWk = broadcast(rev.agg(max("wk").as("max_wk")))
      val prev = rev.select(col("user_id"), (col("wk") + 1).as("wk"),
        col("cents").as("prev_cents"))
      rev.join(prev, Seq("user_id", "wk"), "full_outer")
        .na.fill(0L, Seq("cents", "prev_cents"))
        .crossJoin(maxWk)
        .filter(col("wk") <= col("max_wk"))
        .withColumn("cls",
          when(col("prev_cents") === 0 && col("cents") > 0, "new")
            .when(col("cents") === 0 && col("prev_cents") > 0, "churned")
            .when(col("cents") > col("prev_cents"), "expansion")
            .when(col("cents") < col("prev_cents"), "contraction")
            .otherwise("retained"))
        .groupBy("wk", "cls")
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents") - col("prev_cents")).as("delta_cents"),
          sum("cents").as("cents"))
        .orderBy("wk", "cls")
    },

    // Top user journeys — the "most common 3-step path" product-
    // analytics readout q151's Markov matrix summarizes away (a
    // transition matrix is memoryless; paths carry the order):
    // per-user event-type trigrams from two lead()s on ONE user-keyed
    // shuffle+sort (the q151 window, reused — lead(1) and lead(2)
    // share the spec so one sort carries both), counted globally with
    // map-side combine, top-10 by count with a path tie-break; the
    // total is a 1-row broadcast.
    "q183_top_paths" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val tri = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
      val tot = broadcast(tri.agg(count(lit(1)).as("nt")))
      tri.groupBy("path").agg(count(lit(1)).as("n"))
        .crossJoin(tot)
        .withColumn("share", round(col("n") / col("nt"), 6))
        .orderBy(col("n").desc, col("path")).limit(10)
        .select("path", "n", "share")
    },

    // Deterministic negative sampling — the training-pair generator
    // every recsys/word2vec-style run needs at 100 TB: for each
    // positive (customer, part) interaction, draw candidate negatives
    // from the md5 stream (seeded by the positive and the draw index,
    // so re-runs and both engines draw byte-identical candidates —
    // RNG-free, the q96/q161 device), REJECT candidates that are
    // actually positives for that customer (one equi anti-join, never
    // a per-row lookup loop), and keep the first 2 survivors by draw
    // index (a window over ≤4-row groups). The gate is ONE summary
    // row whose `set_hash` is the order-independent bit_xor of a
    // 60-bit row hash over the ENTIRE kept sample (q132's checksum
    // device) — a single flipped negative anywhere in the millions of
    // pairs flips the gate, without shipping the pairs.
    "q184_negative_sampling" -> { (s, dir) =>
      val draws = 4
      val keep = 2
      val pos = Staging(t(s, dir, "orders")
        .select(col("o_custkey").as("u"), col("o_orderkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("p")), Seq("o_orderkey"))
        .select("u", "p").distinct())
      val nParts = broadcast(t(s, dir, "part")
        .agg(max("p_partkey").as("np")))
      val cands = pos.crossJoin(nParts)
        .withColumn("i", explode(sequence(lit(0), lit(draws - 1))))
        .withColumn("cand",
          conv(substring(md5(concat(lit("ns:"), col("u").cast("string"),
            lit(":"), col("p").cast("string"), lit(":"),
            col("i").cast("string"))), 1, 15), 16, 10).cast("long")
            % col("np") + 1)
      val misses = cands.join(
        pos.select(col("u"), col("p").as("cand")),
        Seq("u", "cand"), "left_anti")
      val kept = misses
        .withColumn("r", row_number().over(
          Window.partitionBy("u", "p").orderBy("i")))
        .filter(col("r") <= keep)
      // ONE aggregate carries count + checksum (the q161 lesson:
      // separate broadcasts would re-run the sampling pipeline twice)
      val keptAgg = kept.agg(count(lit(1)).as("n_kept"),
        expr("bit_xor(cast(conv(substring(md5(concat_ws(':', u, p, " +
          "cand)), 1, 15), 16, 10) as bigint))").as("set_hash"))
      broadcast(pos.agg(count(lit(1)).as("n_positives")))
        .crossJoin(keptAgg)
        .select("n_positives", "n_kept", "set_hash")
    },

    // Time-series resample + gap fill — the missing operator between
    // the rollups (q43) and the forecast metrics (q171): project the
    // event stream onto the COMPLETE (event_type × day) calendar.
    // Days with no observations resample to n=0 (count-style metrics)
    // while the level-style metric (the daily mean, 6dp-rounded BEFORE
    // the fill so both engines carry identical values forward)
    // forward-fills from the last observed day (LOCF); days before a
    // type's first observation stay null. The 100 TB shape: the corpus
    // is touched by exactly ONE groupBy; the calendar is sequence()
    // metadata (types × days) and the fill window runs over grid rows
    // only — at 10× events with dilate-time the grid grows 10× in days
    // but the fill stays grid-bounded, never corpus-bounded.
    "q186_gap_fill" -> { (s, dir) =>
      // the daily mean rides an exact micro-unit integer sum (a raw
      // avg(double) depends on partial-aggregation order in the last
      // ulps — the q160/q164 cents discipline); the one double
      // division happens on identical integers in both engines
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6).cast("long")).as("sv"))
        .select(col("etype"), col("day"), col("n"),
          round(col("sv") / (col("n") * 1e6), 6).as("avg_v"))
        .transform(Staging(_)) // grid-sized; span, keys, and the join reuse it
      val span = broadcast(daily.agg(min("day").as("d0"), max("day").as("d1")))
      val grid = daily.select("etype").distinct()
        .crossJoin(span)
        .withColumn("day", explode(expr("sequence(d0, d1, interval 1 day)")))
        .select("etype", "day")
      val wfill = Window.partitionBy("etype").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("etype", "day"), "left")
        .select(col("etype"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("filled"),
          last(col("avg_v"), ignoreNulls = true).over(wfill).as("v_locf"))
        .orderBy("etype", "day")
    },

    // Anti-entropy replica diff (the Merkle-tree device from
    // Dynamo-style replication, flattened to one digest level): find
    // every row that differs between table A and replica B WITHOUT a
    // table-scale row join. Pass 1 computes a per-bucket digest
    // (count + bit_xor of a 60-bit row hash) on each side — two
    // map-side-combined aggregates whose output is 256 rows; pass 2
    // re-reads ONLY rows falling in buckets whose digests disagree
    // (a broadcast semi-join) and full-outer joins just those. When
    // replicas agree on 99.9% of data — the production case — pass 2
    // touches ~0.1% of rows; with hash-bucketed storage (BucketedTable)
    // the bucket predicate becomes file pruning. B is derived from
    // orders deterministically (md5-selected mutations: %97 price
    // drift, %89 deletes, %83 B-only inserts) so the oracle can build
    // the same replica and compute the diff directly — the gate proves
    // the digest shortcut loses nothing.
    "q187_partition_diff" -> { (s, dir) =>
      val a = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus").as("st"))
      val sel = conv(substring(md5(concat(lit("mut:"),
        col("k").cast("string"))), 1, 15), 16, 10).cast("long")
      val ah = a.withColumn("h", sel)
      val b = ah.filter(col("h") % 89 =!= 1)
        .select(col("k"), when(col("h") % 97 === 0, col("cents") + 100L)
          .otherwise(col("cents")).as("cents"), col("st"))
        .unionByName(ah.filter(col("h") % 83 === 2)
          .select((col("k") + 1000000000L).as("k"), col("cents"), col("st")))
      val rowH = conv(substring(md5(concat_ws(":", col("k"), col("cents"),
        col("st"))), 1, 15), 16, 10).cast("long")
      val keyH = conv(substring(md5(col("k").cast("string")), 1, 15), 16, 10)
        .cast("long")
      val bkt = pmod(hash(col("k")), lit(256)) // engine-internal partitioner
      def digest(df: DataFrame, n: String, x: String) =
        df.groupBy(bkt.as("bkt"))
          .agg(count(lit(1)).as(n), bit_xor(rowH).as(x))
      val dirty = digest(a, "na", "xa")
        .join(digest(b, "nb", "xb"), Seq("bkt"), "full_outer")
        .filter(coalesce(col("na"), lit(-1L)) =!= coalesce(col("nb"), lit(-1L))
          || coalesce(col("xa"), lit(0L)) =!= coalesce(col("xb"), lit(0L)))
        .select("bkt")
      val af = a.join(broadcast(dirty), bkt === col("bkt"), "left_semi")
        .withColumn("ha", rowH)
      val bf = b.join(broadcast(dirty), bkt === col("bkt"), "left_semi")
        .withColumn("hb", rowH)
      af.join(bf, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("hb").isNull, "missing_in_b")
            .when(col("ha").isNull, "missing_in_a")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("equal"))
        .filter(col("status") =!= "equal")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), bit_xor(keyH).as("key_hash"))
        .orderBy("status")
    },

    // Deterministic random walks over the customer–part bipartite
    // graph — the walk-corpus generator graph-embedding training
    // (DeepWalk/node2vec) consumes. RNG-free like q184: at step i the
    // walk moves to the neighbor minimizing the md5 hash of
    // (walk, step, candidate), with (hash, candidate) ordering so even
    // a hash tie is deterministic — both engines trace byte-identical
    // paths. Each step is ONE broadcast join (the frontier is
    // |starts| rows — constant, never graph-scale) against the edge
    // table plus a row_number over per-walk candidate groups; L steps
    // = L passes, the shape that holds when edges are 100 TB because
    // nothing graph-scale is ever shuffled by walk.
    "q188_random_walks" -> { (s, dir) =>
      val walkLen = 4
      val edges = t(s, dir, "orders")
        .select(col("o_custkey").as("u"), col("o_orderkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("p")), Seq("o_orderkey"))
        .select("u", "p").distinct()
        .transform(Staging(_)) // reused by all walkLen steps
      def h(step: Int) = conv(substring(md5(concat_ws(":", lit("walk"),
        col("walk"), lit(step), col("cand"))), 1, 15), 16, 10).cast("long")
      var frontier = edges.select("p").distinct().filter(col("p") <= 200)
        .select(col("p").as("walk"), col("p").as("cur"))
      val steps = scala.collection.mutable.ArrayBuffer(
        frontier.select(col("walk"), lit(0).as("step"),
          concat(lit("p:"), col("cur")).as("node")))
      for (step <- 1 to walkLen) {
        val fromPart = step % 2 == 1
        val cands =
          if (fromPart)
            edges.join(broadcast(frontier), edges("p") === frontier("cur"))
              .select(col("walk"), col("u").as("cand"))
          else
            edges.join(broadcast(frontier), edges("u") === frontier("cur"))
              .select(col("walk"), col("p").as("cand"))
        val w = Window.partitionBy("walk").orderBy(col("hh"), col("cand"))
        frontier = cands.withColumn("hh", h(step))
          .withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .select(col("walk"), col("cand").as("cur"))
          .transform(Staging(_)) // each step computed once, not re-derived
        steps += frontier.select(col("walk"), lit(step).as("step"),
          concat(lit(if (fromPart) "c:" else "p:"), col("cur")).as("node"))
      }
      steps.reduce(_ unionByName _).orderBy("walk", "step")
    },

    // Label-propagation community detection (synchronous LPA, Raghavan
    // et al. 2007) over the part co-purchase graph — the community
    // operator the CC family can't express: CC merges every connected
    // part into one blob, LPA splits dense regions by neighborhood
    // majority. Determinism is forced two ways: synchronous rounds (a
    // FIXED count, 5 — async update order is engine-dependent) and a
    // total tie order (neighbor-label count desc, then smallest
    // label). Each round is one edges⋈labels join + one (node, label)
    // count + one per-node top-1 — all shuffles keyed by node, state
    // is |nodes| rows checkpointed per round (the q178 BFS discipline),
    // so 100 TB of edges costs 5 edge-scans, never an edge² blowup.
    "q190_lpa_communities" -> { (s, dir) =>
      val rounds = 5
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      // size-gated spread before the checkpoint (q134's r15 device):
      // AQE coalesces the union's tiny exchange to ~1 partition and
      // the checkpoint freezes it, near-serializing all 5 rounds'
      // edge side — but the r14 full-session-width spread was itself
      // a driver-measured net cost at sf0.1 (6.62 → 7.77 s), so the
      // width tracks edge volume (ScaleOps.edgeWidth over the source
      // scan's bytes; 1 = keep the coalesced shape)
      val wE = SO.edgeWidth(s, SO.pathBytes(s"$dir/lineitem.parquet"))
      val und0 =
        e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val und = Staging( // reused by all rounds
        if (wE <= 1) und0
        else und0.repartition(wE, col("b"))
          .sortWithinPartitions("b")) // sorted blocks: smaller
          // exchanges + pre-sorted SMJ runs every round (q134's note)
      val labels0 = und.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val (labels, _) = Staging.iterate(labels0, rounds) { labels =>
        val cnt = und.join(labels, und("b") === labels("node"))
          .select(col("a").as("node"), col("lbl"))
          .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
        // (count desc, label asc) argmax as a hash aggregate —
        // max(struct(c, -lbl)) — instead of a sort + row_number
        // window: drops one full sort of the (node, label) table per
        // round (sf1 5-round run ~25 s vs ~30 s same-day for the
        // window form; sf0.1 within noise)
        cnt.groupBy("node")
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
      }()
      labels.select(col("node"), col("lbl").as("community"))
        .orderBy("node")
    },

    // Approximate-percentile sketch vs exact — the q45 tolerance
    // device applied to quantiles: each engine runs its OWN mergeable
    // sketch (Spark's Greenwald-Khanna approx_percentile, DuckDB's
    // t-digest) and asserts it lands within 5% of the per-group value
    // span of the exact interpolated percentile; the hashed columns
    // are the exact values + the tolerance booleans, which agree as
    // long as both sketches honor their error bounds. At 100 TB the
    // sketch is the only viable path — constant memory per partition,
    // mergeable across executors — where exact percentile sorts the
    // group; this gate keeps the fast path honest against the exact
    // one at verifiable scale.
    "q191_approx_percentile" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5D)"), 6).as("p50_exact"),
          round(expr("percentile(value, 0.95D)"), 6).as("p95_exact"),
          expr("approx_percentile(value, 0.5D, 10000)").as("a50"),
          expr("approx_percentile(value, 0.95D, 10000)").as("a95"),
          (max("value") - min("value")).as("span"))
        .select(col("event_type"), col("p50_exact"), col("p95_exact"),
          (abs(col("a50") - col("p50_exact")) <= col("span") * 0.05)
            .as("p50_within_tol"),
          (abs(col("a95") - col("p95_exact")) <= col("span") * 0.05)
            .as("p95_within_tol"))
        .orderBy("event_type")
    },

    // Theil–Sen robust trend (median of pairwise slopes) — the
    // outlier-proof complement to q154's OLS: one contaminated month
    // moves OLS by its leverage but shifts a median-of-slopes only one
    // rank. The corpus collapses to the monthly grid in ONE pass
    // (integer cents); the pair set is grid² (~3k pairs at 80 months)
    // — metadata, never event-scale — and both medians are the exact
    // interpolated percentile over identical (long, long)-derived
    // doubles, so the hash gate holds bit-for-bit.
    "q192_theil_sen" -> { (s, dir) =>
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("x"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .transform(Staging(_)) // grid-sized; the pair algebra reuses it
      val x0 = broadcast(monthly.agg(min("x").as("x0")))
      val g = monthly.crossJoin(x0)
        .select((col("x") - col("x0")).as("x"), col("cents"))
      val slope = g.as("i").join(g.as("j"), col("i.x") < col("j.x"))
        .select(((col("j.cents") - col("i.cents")).cast("double") /
          (col("j.x") - col("i.x"))).as("slope"))
        .agg(expr("percentile(slope, 0.5D)").as("m"))
      broadcast(slope).crossJoin(g)
        .agg(round(max("m"), 6).as("slope_cents_per_month"),
          round(expr("percentile(cents - m * x, 0.5D)"), 6)
            .as("intercept_cents"))
    },

    // k-anonymity audit with a generalization ladder — the privacy
    // tier's measurement side (q109 redacts, this measures): how many
    // quasi-identifier groups fall under k=5, and how much each
    // generalization step (drop the balance bucket, then the nation)
    // buys. Each level is one map-side-combined groupBy collapsing to
    // the QI grid; risky mass is summed on grid rows. The 100 TB
    // shape: the table is scanned once per level, nothing larger than
    // the QI grid is ever shuffled.
    "q193_k_anonymity" -> { (s, dir) =>
      val k = 5
      val c = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("balb"))
      def audit(level: Int, keys: Seq[String]): DataFrame =
        c.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("n") < k, 1L).otherwise(0L)).as("risky_groups"),
            sum(when(col("n") < k, col("n")).otherwise(0L)).as("risky_rows"))
          .select(lit(level).as("level"), col("n_groups"),
            col("risky_groups"), col("risky_rows"))
      audit(0, Seq("nat", "seg", "balb"))
        .unionByName(audit(1, Seq("nat", "seg")))
        .unionByName(audit(2, Seq("seg")))
        .orderBy("level")
    },

    // Pivot with an EXPLICIT value list — the reshape operator, done
    // the way it must be done at 100 TB: naming the pivot values up
    // front skips the hidden collect-distinct job Spark otherwise runs
    // over the full table before it can even plan, and keeps the
    // output schema stable when a new event type appears mid-release.
    // One groupBy; absent cells coalesce to 0.
    "q194_pivot" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
        .orderBy("day")
    },

    // Differentially-private counts via the deterministic Laplace
    // mechanism: u is a dyadic rational from the md5 stream reduced
    // mod 2^53 so every double is EXACT (the q104 discipline), the
    // inverse-CDF ln is the only inexact step and the release is
    // rounded well clear of ulp noise. eps=1, sensitivity 1 ⇒ b=1.
    // The true n is kept in the output purely to strengthen the gate
    // — a real release ships noisy_n alone. Per-partition counts
    // partial-aggregate map-side; noise is applied to |types| rows.
    "q195_dp_counts" -> { (s, dir) =>
      val u = ((conv(substring(md5(concat(lit("dp:"), col("event_type"))),
        1, 15), 16, 10).cast("long") % 9007199254740992L).cast("double")
        + 0.5) / lit(9007199254740992.0)
      t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("u", u)
        .select(col("event_type"), col("n"),
          round(col("n") + when(col("u") < 0.5, log(col("u") * 2))
            .otherwise(-log((lit(1.0) - col("u")) * 2)), 4).as("noisy_n"))
        .orderBy("event_type")
    },

    // Shapley-value channel attribution (Shapley 1953; the
    // data-driven attribution model behind ad-platform MTA) — the
    // game-theoretic upgrade of q146 last-touch / q167 linear: each
    // channel's credit is its average marginal lift in conversion
    // rate across ALL coalitions of the other channels. The corpus
    // collapses in ONE pass to the (exposure-set bitmask → users,
    // conversions) grid — 16 rows for 4 channels — and the whole
    // subset algebra (v(S), the |S|!·(n−1−|S|)!/n! weights as exact
    // integer coefficients over 12) runs on that grid: 32 term rows
    // of metadata, never event-scale. v is 6dp-rounded BEFORE the
    // weighted sums so both engines fold identical doubles.
    "q196_shapley_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val firstP = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("pts"))
      val bit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "error", 2L)
        .when(col("event_type") === "signup", 4L)
        .when(col("event_type") === "view", 8L)
      val masks = ev.join(firstP, Seq("user_id"), "left")
        .filter(col("event_type") =!= "purchase" &&
          (col("pts").isNull || col("ts") < col("pts")))
        .select(col("user_id"), bit.as("b")).distinct()
        .groupBy("user_id").agg(sum("b").as("mask"))
      val grid = ev.select("user_id").distinct()
        .join(firstP, Seq("user_id"), "left")
        .join(masks, Seq("user_id"), "left")
        .select(coalesce(col("mask"), lit(0L)).as("mask"),
          col("pts").isNotNull.cast("long").as("conv"))
        .groupBy("mask").agg(count(lit(1)).as("nu"), sum("conv").as("nc"))
        .transform(Staging(_)) // ≤16 rows; the subset algebra reuses it
      val v = s.range(0, 16).select(col("id").as("m"))
        .join(grid, col("m") === col("mask"), "left")
        .select(col("m"),
          round(coalesce(col("nc") / col("nu"), lit(0.0)), 6).as("v"))
        .transform(Staging(_))
      val chan = s.range(0, 4).select(
        element_at(array(lit("click"), lit("error"), lit("signup"),
          lit("view")), (col("id") + 1).cast("int")).as("channel"),
        element_at(array(lit(1L), lit(2L), lit(4L), lit(8L)),
          (col("id") + 1).cast("int")).as("cb"))
      chan.crossJoin(v.select(col("m").as("sm"), col("v").as("v0")))
        .filter(col("sm").bitwiseAND(col("cb")) === 0)
        .join(v.select(col("m").as("smc"), col("v").as("v1")),
          col("smc") === col("sm").bitwiseOR(col("cb")))
        .withColumn("coef", element_at(array(lit(3), lit(1), lit(1),
          lit(3)), (expr("bit_count(sm)") + 1).cast("int")))
        .groupBy("channel")
        .agg(round(sum(col("coef") * (col("v1") - col("v0"))) / 12, 6)
          .as("phi"))
        .orderBy("channel")
    },

    // SCD2 interval construction from a changelog — turn the event
    // stream into versioned dimension rows: consecutive same-status
    // runs per user collapse to [valid_from, valid_to) intervals,
    // valid_to = the next run's start (null = current). This is the
    // build side of every point-in-time join (q62 consumes such
    // tables); the rule is change-on-VALUE, where q20's sessionize is
    // change-on-GAP. Two user-keyed window passes + one user-keyed
    // groupBy — all shuffles on user_id and AQE-coalescible; island
    // ids are per-user running sums, never global.
    "q197_scd2_intervals" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(w)
      val isl = t(s, dir, "events")
        .withColumn("chg",
          when(prev.isNull || col("event_type") =!= prev, 1L).otherwise(0L))
        .withColumn("island", sum("chg").over(w))
      val iv = isl.groupBy(col("user_id"), col("island"))
        .agg(min("event_type").as("status"), // constant within an island
          min("ts").as("valid_from"), count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy("user_id").orderBy("island")
      iv.withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .select("user_id", "status", "valid_from", "valid_to", "n_events")
        .orderBy("user_id", "valid_from")
    },

    // Item-item collaborative filtering (Sarwar et al. 2001; the
    // Amazon-style "customers also bought") — cosine similarity
    // between items' customer sets, top-3 neighbors per item. The
    // co-count join explodes pairs WITHIN each customer's basket (the
    // classic bounded-basket trade: cost ∝ Σ basket², never catalog²)
    // and everything shuffled is (long, long, count); similarities
    // are ROUNDED before ranking with an item-id tiebreak, so the
    // top-k is engine-exact. At 100 TB the one guard this operator
    // needs is a basket cap — the q89 pre-flight measures exactly
    // that skew before this runs.
    "q199_item_item_cf" -> { (s, dir) =>
      // pair generation is map-side array algebra over per-customer
      // baskets, NOT a self-join: saves the second full shuffle the
      // pos⋈pos form pays (measured ~65 s → ~56 s at sf1). The
      // remaining cost is the (p1,p2) count exchange itself — random
      // baskets leave the combine factor ≈1, so ~Σ basket² rows cross
      // it once; that is the exact-CF lower bound. The skew escapes
      // are WIRED IN as q211 (capped) and q227 (cap∘DIMSUM), and
      // since r13 the q89-style pre-flight ROUTES between all three
      // automatically (ItemItemCf.auto, gated as q290); this entry
      // stays the exact-arm oracle anchor.
      graft.operators.ItemItemCf.exact(cfPositives(s, dir))
    },

    // Referential-integrity audit across the whole star schema — the
    // data-contract check every ingest runs before publishing: per FK
    // edge, child rows / null keys / orphans (non-null keys with no
    // parent). Each edge is ONE left join against the parent's
    // distinct keys folded into a single aggregate row — dims
    // broadcast, the two fact-scale edges shuffle equi — and the
    // whole audit ships as 5 rows.
    "q200_referential_integrity" -> { (s, dir) =>
      def edge(rel: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val j = child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")).distinct()
            .withColumn("hit", lit(1)), Seq("k"), "left")
        j.agg(count(lit(1)).as("n_child"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("k").isNotNull && col("hit").isNull, 1L)
            .otherwise(0L)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_child"), col("n_null"),
            col("n_orphans"))
      }
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cu = t(s, dir, "customer"); val pa = t(s, dir, "part")
      val na = t(s, dir, "nation"); val re = t(s, dir, "region")
      edge("customer.c_nationkey->nation", cu, "c_nationkey", na,
        "n_nationkey")
        .unionByName(edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          o, "o_orderkey"))
        .unionByName(edge("lineitem.l_partkey->part", li, "l_partkey",
          pa, "p_partkey"))
        .unionByName(edge("nation.n_regionkey->region", na, "n_regionkey",
          re, "r_regionkey"))
        .unionByName(edge("orders.o_custkey->customer", o, "o_custkey",
          cu, "c_custkey"))
        .orderBy("relation")
    },

    // Empirical-Bayes beta-binomial shrinkage (Robbins 1956; the
    // "how to rank small-sample rates" standard): per-part return
    // rate shrunk toward the global prior, prior (α, β) fitted by
    // method of moments from the per-part rate grid itself. A part
    // with 3/3 returns no longer beats one with 40/45 — the ranking
    // every naive rate sort gets wrong. One fact-scan groupBy to the
    // part grid; the prior is a 1-row broadcast; ranking is on
    // 6dp-rounded shrunk rates with a part-id tiebreak, TakeOrdered.
    "q201_eb_shrinkage" -> { (s, dir) =>
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("part"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
        .transform(Staging(_)) // part grid; prior fit + ranking reuse it
      val prior = broadcast(g.filter(col("n") >= 5)
        .select((col("x") / col("n")).as("r"))
        .agg(avg("r").as("m"), var_samp(col("r")).as("v"))
        .select(col("m"), ((col("m") * (lit(1.0) - col("m")) / col("v"))
          - 1.0).as("k")))
      g.crossJoin(prior)
        .select(col("part"), col("n"), col("x"),
          round(col("x") / col("n"), 6).as("raw_rate"),
          round((col("x") + col("m") * col("k")) / (col("n") + col("k")), 6)
            .as("shrunk_rate"))
        .orderBy(col("shrunk_rate").desc, col("part")).limit(10)
    },

    // Markov next-event prediction accuracy — the evaluation side of
    // q151's transition matrix: train the argmax-next-state predictor
    // on the FIRST half of each user's stream (by per-user position,
    // so the split is leakage-free per q115's discipline) and score
    // it on the second half. One windowed pass builds pairs + the
    // split; the model is the |types|² grid with a (count desc, next
    // asc) argmax so both engines pick identical predictions; scoring
    // is a broadcast grid join against test pairs. Accuracy arrives
    // per true next-type plus the overall row.
    "q202_markov_accuracy" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .withColumn("pos", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("user_id")))
        .filter(col("nxt").isNotNull)
        .withColumn("is_train", col("pos") <= col("cnt") / 2)
        .transform(Staging(_)) // one corpus pass; train + test reuse it
      val model = pairs.filter(col("is_train"))
        .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(Window.partitionBy("cur")
          .orderBy(col("c").desc, col("nxt"))))
        .filter(col("r") === 1)
        .select(col("cur"), col("nxt").as("pred"))
      val scored = pairs.filter(!col("is_train"))
        .join(broadcast(model), Seq("cur"), "left")
        .select(col("nxt"),
          (col("pred").isNotNull && col("pred") === col("nxt"))
            .cast("long").as("hit"))
      scored.groupBy(col("nxt").as("true_next"))
        .agg(count(lit(1)).as("n"),
          round(sum("hit") / count(lit(1)), 6).as("accuracy"))
        .unionByName(scored.agg(count(lit(1)).as("n"),
          round(sum("hit") / count(lit(1)), 6).as("accuracy"))
          .select(lit("__overall__").as("true_next"), col("n"),
            col("accuracy")))
        .orderBy("true_next")
    },

    // Seasonal decomposition (multiplicative weekly profile) — the
    // missing layer between the anomaly detectors (q90 trailing
    // baseline, q162 CUSUM, q173 MAD): a Sunday lull is not an
    // anomaly, it is seasonality. Seasonal index per day-of-week =
    // mean daily count for that dow / grand mean (computed on the
    // daily grid, 6dp-rounded); the top-5 deseasonalized residual
    // days are the REAL anomalies. The corpus collapses to the daily
    // grid in one pass; everything after is ≤7-row and ≤|days|-row
    // grid algebra with rounded ratios and date tiebreaks.
    "q203_seasonal_decomposition" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", dayofweek(col("day")))
        .transform(Staging(_)) // grid
      val grand = broadcast(daily.agg(avg("n").as("g")))
      val idx = daily.groupBy("dow").agg(avg("n").as("dn"))
        .crossJoin(grand)
        .select(col("dow"), round(col("dn") / col("g"), 6).as("sidx"))
      val resid = daily.join(broadcast(idx), "dow").crossJoin(grand)
        .select(col("day"), col("n"),
          round(col("n") / (col("g") * col("sidx")), 6).as("ratio"))
        .withColumn("dev", abs(col("ratio") - 1.0))
        .orderBy(col("dev").desc, col("day")).limit(5)
        .select(col("day").cast("string").as("key"), col("n"),
          col("ratio").as("value"))
      idx.select(concat(lit("dow:"), col("dow")).as("key"),
        lit(null).cast("long").as("n"), col("sidx").as("value"))
        .unionByName(resid)
        .orderBy("key")
    },

    // Neyman-optimal stratified allocation (Neyman 1934) — the
    // statistically-correct upgrade of q63's proportional sampling:
    // stratum quotas ∝ N_h·σ_h, so volatile strata get more budget.
    // σ_h comes EXACTLY from integer cent sums (Σx, Σx², n — one
    // map-side-combined pass, no per-stratum variance scan), the
    // deterministic draw is the q112 md5 rank within each stratum,
    // and the kept sample ships as a per-stratum count + the
    // order-independent key checksum. Everything between the two
    // corpus passes is |strata|-row metadata.
    "q204_neyman_allocation" -> { (s, dir) =>
      val k = 1000 // total sample budget
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey") % 25 as "stratum", // nation-proxy strata
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .transform(Staging(_))
      // decimal(38,0) keeps Σx and Σx² EXACT (cents² sums overflow
      // long beyond ~10⁵ rows/stratum); the one double division
      // happens on identical integers in both engines
      val g = o.groupBy("stratum").agg(count(lit(1)).as("nh"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sxx"))
        .select(col("stratum"), col("nh"),
          // a single-row stratum is 0/0 = NaN under the raw formula;
          // DuckDB would then ERROR casting NaN→BIGINT while Spark
          // silently yields 0 — guard nh>=2 so both engines agree on
          // degenerate strata (σ of one observation is 0 by fiat)
          when(col("nh") < 2, lit(0.0)).otherwise(
            sqrt((col("nh") * col("sxx") - col("sx") * col("sx"))
              .cast("double") /
              (col("nh") * (col("nh") - 1)).cast("double"))).as("sigma"))
      val tot = broadcast(g.agg(sum(col("nh") * col("sigma")).as("z")))
      val alloc = g.crossJoin(tot)
        .select(col("stratum"), col("nh"),
          least(col("nh"), round(lit(k) * col("nh") * col("sigma") /
            col("z")).cast("long")).as("quota"))
        .transform(Staging(_)) // |strata| rows
      val ranked = o.join(broadcast(alloc), "stratum")
        .withColumn("rk", row_number().over(Window.partitionBy("stratum")
          .orderBy(conv(substring(md5(concat(lit("ney:"),
            col("o_orderkey").cast("string"))), 1, 15), 16, 10)
            .cast("long"), col("o_orderkey"))))
        .filter(col("rk") <= col("quota"))
      ranked.groupBy("stratum")
        .agg(count(lit(1)).as("taken"),
          expr("bit_xor(cast(conv(substring(md5(cast(o_orderkey as " +
            "string)), 1, 15), 16, 10) as bigint))").as("sample_hash"))
        .join(alloc.select(col("stratum"), col("nh"), col("quota")),
          Seq("stratum"))
        .select("stratum", "nh", "quota", "taken", "sample_hash")
        .orderBy("stratum")
    },

    // The analytic-ranking window family in one gate — rank,
    // dense_rank, percent_rank, cume_dist, ntile — over national
    // revenue. Tie semantics are part of the contract, so the rank
    // functions run over the TIE-BEARING order (cents desc) where
    // their tie behavior is well-defined and engine-portable, while
    // ntile — whose tie assignment is row-order-dependent — gets the
    // fully-deterministic (cents desc, nation) order. The corpus
    // collapses to the 25-nation grid first; the global window is
    // grid-bounded by construction.
    "q205_window_rank_family" -> { (s, dir) =>
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val wTie = Window.orderBy(col("cents").desc)
      val wDet = Window.orderBy(col("cents").desc, col("nation"))
      // percent_rank/cume_dist ship as integer MICRO-UNITS (q167's
      // micro-credit device) so the row is all-integer — the round-8
      // driver gate hash-missed on the rounded-double form even
      // though it was bit-exact locally
      rev.select(col("nation"), col("cents"),
        rank().over(wTie).cast("long").as("rnk"),
        dense_rank().over(wTie).cast("long").as("drnk"),
        round(percent_rank().over(wTie) * 1e6).cast("long")
          .as("prnk_micro"),
        round(cume_dist().over(wTie) * 1e6).cast("long")
          .as("cdist_micro"),
        ntile(4).over(wDet).as("quartile"))
        .orderBy(col("cents").desc, col("nation"))
    },

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the
    // operator plain equi joins silently drop: null keys MATCH null
    // keys. Run in the production shape: each side collapses to its
    // key histogram FIRST (the null bucket is the textbook hot key —
    // a literal row join would pay nulls_A × nulls_B; the histogram
    // form pays one row), then a null-safe FULL OUTER join of the
    // grids multiplies counts. Keys divisible by 7 are nulled to
    // stage the hazard deterministically.
    "q206_null_safe_join" -> { (s, dir) =>
      val kRaw = get_json_object(col("props"), "$.k").cast("long")
      val key = when(kRaw % 7 === 0, lit(null).cast("long")).otherwise(kRaw)
      val ev = t(s, dir, "events")
      val ah = ev.filter(col("event_type") === "view")
        .select(key.as("ka")).groupBy("ka")
        .agg(count(lit(1)).as("na"))
      val bh = ev.filter(col("event_type") === "click")
        .select(key.as("kb")).groupBy("kb")
        .agg(count(lit(1)).as("nb"))
      ah.join(bh, col("ka") <=> col("kb"), "full_outer")
        .select(
          when(col("na").isNotNull,
            coalesce(col("ka").cast("string"), lit("null")))
            .otherwise(coalesce(col("kb").cast("string"), lit("null")))
            .as("k"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"),
          (coalesce(col("na"), lit(0L)) * coalesce(col("nb"), lit(0L)))
            .as("n_pairs"))
        .orderBy("k")
    },

    // Single exponential smoothing via its closed form — the
    // recursive l_t = αy_t + (1−α)l_{t−1} is sequential and
    // un-distributable, but it unrolls to ONE weighted sum per
    // target: l_t = (1−α)^{t−1}y_1 + Σ α(1−α)^{t−i}y_i. The corpus
    // collapses to the daily grid once; the last 6 one-step
    // forecasts come from a triangle join over grid rows (≤6·|days|
    // terms, metadata). α = 0.3; weights from pow on identical
    // integer exponents, sums rounded 6dp.
    "q207_exp_smoothing" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .transform(Staging(_)) // grid
      val idx = daily.withColumn("t",
        row_number().over(Window.orderBy("day"))) // grid-bounded window
      val mx = broadcast(idx.agg(max("t").as("tmax")))
      val targets = idx.crossJoin(mx).filter(col("t") > col("tmax") - 6)
        .select(col("day"), col("y"), col("t"))
      val hist = idx.select(col("t").as("i"), col("y").as("yi"))
      targets.join(hist, col("i") <= col("t") - 1)
        .withColumn("w",
          when(col("i") === 1, pow(lit(0.7), col("t") - 2))
            .otherwise(lit(0.3) * pow(lit(0.7), col("t") - 1 - col("i"))))
        .groupBy("day", "y")
        .agg(round(sum(col("w") * col("yi")), 6).as("forecast"))
        .select(col("day"), col("y"), col("forecast"),
          round(col("y") - col("forecast"), 6).as("err"))
        .orderBy("day")
    },

    // OPTIMIZE-style compaction on the CoW table (the table-
    // maintenance tier's missing piece next to time travel/IVM/
    // upsert): five fragmented commits leave the current version as
    // dozens of small files — the small-file problem that kills scan
    // throughput at 100 TB — then compact() re-commits the SAME
    // content coalesced (shuffle-free) into ≤4 files and vacuum()
    // reclaims superseded versions. The gate hashes every surviving
    // row: compaction must change LAYOUT and nothing else. The
    // file-count booleans are engine-measured; the oracle pins them
    // true, so a compaction that fails to reduce files fails the
    // round's gate, not just a spec.
    "q209_compaction" -> { (s, dir) =>
      val root = s"${Tables.scratchDir(s, "q209")}/tbl"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type")
      val tbl = new graft.sources.CowTable(root, s)
      (0 until 5).foreach { i =>
        val slice = ev.filter(pmod(col("event_id"), lit(5)) === i)
          .repartition(8) // deliberately fragmented
        if (i == 0) tbl.overwrite(slice) else tbl.append(slice)
      }
      val before = tbl.dataFileCount
      tbl.compact(4)
      val after = tbl.dataFileCount
      tbl.vacuum()
      tbl.read().agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(cast(conv(substring(md5(cast(event_id as string))" +
          ", 1, 15), 16, 10) as bigint))").as("content_hash"))
        .select(col("n_rows"), col("content_hash"),
          lit(after < before).as("files_reduced"),
          lit(after <= 4L).as("met_target"))
    },

    // Exact WEIGHTED median (here: the revenue-weighted median line
    // quantity per return flag — "the line size at which half the
    // money sits") — the weighted twin the percentile family (q10
    // exact, q180 equi-depth, q191 sketch) lacks. One corpus pass
    // collapses to the (flag, quantity) grid — quantity is a BOUNDED
    // domain, so the grid is ≤ flags×50 rows at any corpus size —
    // then an integer prefix sum finds the first value whose
    // cumulative weight crosses half the total. All-integer
    // arithmetic end to end: the gate is exact, no rounding anywhere.
    "q210_weighted_median" -> { (s, dir) =>
      val g = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("w"))
        .groupBy("flag", "qty").agg(sum("w").as("w"))
        .transform(Staging(_)) // bounded grid; prefix + totals reuse it
      val tot = g.groupBy("flag").agg(sum("w").as("wt"))
      val wv = Window.partitionBy("flag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cw", sum("w").over(wv))
        .join(broadcast(tot), "flag")
        .filter(col("cw") * 2 >= col("wt"))
        .groupBy("flag")
        .agg(min("qty").as("weighted_median_qty"),
          max("wt").as("total_weight_cents"))
        .orderBy("flag")
    },

    // q199's WIRED-IN skew escape (the q73/q102 two-arms discipline:
    // a documented fallback is code with its own gate, not a
    // comment): item-item CF over md5-CAPPED baskets — every
    // customer contributes at most `cap` deterministically-sampled
    // items, so the pair stream is ≤ cap²/2 per customer NO MATTER
    // how degenerate the basket distribution gets (the whale-basket
    // regime the q89 pre-flight detects). Cosines are computed over
    // the capped sets, so the arm is self-consistent and the oracle
    // mirrors it EXACTLY under the same cap — approximate vs the
    // full answer, exact vs its own contract.
    "q211_item_item_cf_capped" -> { (s, dir) =>
      graft.operators.ItemItemCf.capped(cfPositives(s, dir), cap = 8)
    },

    // Chi-square test of independence + Cramér's V (Pearson 1900;
    // Cramér 1946) — the categorical-association test the statistics
    // tier lacked next to its rank/shift tests (q164 Mann-Whitney,
    // q174 KS, q148 kappa): is event type independent of day-of-week?
    // ONE corpus pass to the |types|×7 contingency grid; margins,
    // expected counts and the statistic are exact-integer-derived
    // grid algebra (E = rowTot·colTot/N — identical doubles in both
    // engines), 6dp-rounded at the end. V = sqrt(χ²/(N·min(r−1,c−1)))
    // normalizes to [0,1] so the answer is comparable across corpora.
    "q212_chi_square" -> { (s, dir) =>
      val cells = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          dayofweek(to_date(col("ts"))).as("dow"))
        .agg(count(lit(1)).as("o"))
        .transform(Staging(_)) // ≤ types×7 grid
      val rowT = cells.groupBy("et").agg(sum("o").as("rt"))
      val colT = cells.groupBy("dow").agg(sum("o").as("ct"))
      val tot = broadcast(cells.agg(sum("o").as("n"),
        countDistinct("et").as("r"), countDistinct("dow").as("c")))
      cells.join(broadcast(rowT), "et").join(broadcast(colT), "dow")
        .crossJoin(tot)
        .select(col("o"), col("rt"), col("ct"), col("n"), col("r"),
          col("c"),
          ((col("rt") * col("ct")).cast("double") / col("n")).as("e"))
        .agg(max(col("n")).as("n_obs"),
          ((max("r") - 1) * (max("c") - 1)).as("dof"),
          round(sum(pow(col("o") - col("e"), 2) / col("e")), 6)
            .as("chi2"),
          round(sqrt(sum(pow(col("o") - col("e"), 2) / col("e")) /
            (max("n") * least(max("r") - 1, max("c") - 1))), 6)
            .as("cramers_v"))
    },

    // Kendall's τ-b rank correlation (Kendall 1938, tie-corrected) —
    // the rank-correlation family next to the linear q157: do days
    // with more views also see more purchases, monotonically? The
    // stream collapses to the daily (views, purchases) grid in ONE
    // pass; concordant/discordant/tied pair counts are EXACT integer
    // sums over the grid triangle (≤ days²/2 rows — metadata), and
    // the only inexact step is the final sqrt on identical integers.
    // Outlier-proof where Pearson is leverage-bound: one whale day
    // moves τ by one rank, not by its magnitude.
    "q213_kendall_tau" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .transform(Staging(_)) // grid
      val p = daily.as("i").join(daily.as("j"), col("i.day") < col("j.day"))
        .select((col("i.x") - col("j.x")).as("dx"),
          (col("i.y") - col("j.y")).as("dy"))
      p.agg(count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("cc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("dd"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
        .select(col("n0"), col("cc").as("concordant"),
          col("dd").as("discordant"),
          round((col("cc") - col("dd")).cast("double") /
            sqrt(((col("n0") - col("tx")) * (col("n0") - col("ty")))
              .cast("double")), 6).as("tau_b"))
    },

    // DIMSUM-sampled item-item CF (Zadeh & Goel 2013, "Dimension
    // Independent Matrix Square using MapReduce") — the third CF arm
    // above q211's cap: instead of truncating whale BASKETS, it
    // down-samples POPULAR-pair emissions probability-proportionally.
    // Each within-basket pair (p1,p2) is emitted with probability
    // p = min(1, γ/√(n1·n2)) — so a pair of two blockbuster items,
    // whose co-count dominates the exact arm's Σ basket² exchange, is
    // sampled at rate γ/√(n1·n2) and the EXPECTED total shuffle is
    // ≤ γ·Σ cosine ≈ γ·|items| rows, independent of basket shape —
    // while a rare pair (√(n1·n2) ≤ γ) keeps p = 1 and its count
    // stays EXACT. The unbiased estimator ĉ = emitted/p divides out
    // the sampling; cosine_est = ĉ/√(n1·n2). Determinism contract
    // (the q104 device, hardened): the Bernoulli draw is a 40-bit md5
    // integer per (u,p1,p2) compared against p quantized to the
    // dyadic 2⁻²⁰ grid — within a (p1,p2) group p is CONSTANT (it
    // depends only on the item counts), so the estimator is
    // emit_count·2²⁰/pq — integers end to end, ONE double division
    // per group on identical operands, and the oracle replays the
    // identical draw. Map-side pair enumeration stays basket-bounded
    // (compose with q211's cap when the q89 pre-flight flags whales);
    // only SAMPLED pairs reach the exchange — the explode→filter
    // pipeline never materializes the unsampled stream. The operator
    // is q227's with no cap: `Int.MaxValue` keeps every basket whole.
    "q214_item_item_cf_dimsum" -> { (s, dir) =>
      graft.operators.ItemItemCf
        .cappedDimsum(cfPositives(s, dir), cap = Int.MaxValue, gamma = 8.0)
        .withColumnRenamed("cosine", "cosine_est")
    },

    // Multi-step catalog mutation under the driver gate (round-9
    // verdict item 6): the reference's quicklook and tilecache steps
    // BOTH rewrite the ExtendedInfo JSONB column across separate
    // commits (SURVEY §7.5-4) — the sibling-key-survival contract
    // SceneCatalogSpec pins on one interleave, here exercised as two
    // step-level bulk commits against a real PartitionedCowTable on
    // scratch storage with OVERLAPPING scene sets (every 6th PID gets
    // both keys). The gate reads the FINAL table state back: a
    // clobbered sibling key, a lost carried partition, or a torn
    // version fails the hash. The manifest-diff CDC between the two
    // step commits rides along as a column (rows of partitions the
    // second step rewrote), as does the version count — three commits,
    // exactly. Oracle = the same end state closed-form from orders.
    "q215_cow_step_interleave" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q215", fresh = true)
      val src = t(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
          lit(null).cast("string").as("ExtendedInfo"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/scenes", "month", s)
      tbl.overwrite(src)
      def setKey(key: String, mod: Int): Map[String, org.apache.spark.sql
          .Column] = Map("ExtendedInfo" ->
        graft.functions.GraftFunctions.jsonSetKey(col("ExtendedInfo"),
          lit(key), concat(lit("{\"f\": "),
            (col("PID") % mod).cast("string"), lit("}"))))
      // step 1 (quicklook): even PIDs; step 2 (tilecache): every 3rd —
      // %6 PIDs are touched by BOTH steps across versions
      tbl.updateWhere(col("PID") % 2 === 0, setKey("quicklook", 97))
      tbl.updateWhere(col("PID") % 3 === 0, setKey("tilecache", 89))
      val cdcRows = tbl.changedSince(1).count()
      tbl.read()
        .select(col("PID"),
          get_json_object(col("ExtendedInfo"), "$.quicklook.f")
            .cast("long").as("qf"),
          get_json_object(col("ExtendedInfo"), "$.tilecache.f")
            .cast("long").as("tf"))
        .groupBy(col("qf").isNotNull.as("has_ql"),
          col("tf").isNotNull.as("has_tc"))
        .agg(count(lit(1)).as("n"), sum("qf").as("sum_qf"),
          sum("tf").as("sum_tf"), min("PID").as("min_pid"),
          max("PID").as("max_pid"))
        .withColumn("versions", lit(tbl.version + 1L))
        .withColumn("cdc_rows", lit(cdcRows))
        .orderBy("has_ql", "has_tc")
    },

    // KMV (k-minimum-values) sketch SET ALGEBRA (Beyer et al. 2007) —
    // the capability the sketch family (q136 HLL, q80 bottom-k)
    // stopped short of: estimating the INTERSECTION of distinct sets
    // ("how many users do view and purchase share?") without the
    // exact distinct join. Per event type, the sketch is the k=1024
    // smallest 60-bit md5 user hashes (one per-type top-k window —
    // mergeable, k longs per type, executor-memory-free at any
    // cardinality). For a pair: the k smallest of the sketch UNION is
    // a uniform sample of the union, so ρ = |both-sketch hashes among
    // them|/k estimates Jaccard and (k−1)·2⁶⁰/d_k estimates |A∪B|
    // (d_k = the kth smallest hash); est_common = ρ·est_union. The
    // exact overlap (one distinct self-join — affordable at gate
    // scale, the thing the sketch REPLACES at 100 TB) rides along
    // with a ±15% honesty flag. Every estimate is derived from
    // identical integers in both engines, so the gate is exact even
    // though the estimator is approximate.
    "q217_kmv_set_overlap" -> { (s, dir) =>
      val K = 1024
      val two60 = 1152921504606846976L // 2^60, exact as a double
      // set element = ACTIVE USER-DAY (not bare user: the gate corpus
      // is user-dense — every user touches every type — which would
      // leave every pair at Jaccard 1.0 and never exercise the k-th
      // minimum path)
      val u = t(s, dir, "events")
        .select(col("event_type").as("et"), col("user_id"),
          to_date(col("ts")).cast("string").as("d")).distinct()
        .withColumn("h", conv(substring(md5(concat(lit("kmv:"),
          col("user_id").cast("string"), lit(":"), col("d"))),
          1, 15), 16, 10).cast("long"))
        .transform(Staging(_)) // reused by sketches and both exact sides
      val nEx = u.groupBy("et").agg(count(lit(1)).as("n"))
      val sk = u.withColumn("rn", row_number().over(
          Window.partitionBy("et").orderBy("h", "user_id", "d")))
        .filter(col("rn") <= K)
        .groupBy("et").agg(sort_array(collect_list("h")).as("sk"))
      val pairs = sk.select(col("et").as("et_a"), col("sk").as("ska"))
        .join(sk.select(col("et").as("et_b"), col("sk").as("skb")),
          col("et_a") < col("et_b"))
        .withColumn("mk",
          slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
        .withColumn("kk", size(col("mk")))
        .withColumn("dk", element_at(col("mk"), col("kk")))
        // union smaller than k ⇒ both sets fully sketched ⇒ exact
        .withColumn("est_union", when(col("kk") < K,
            col("kk").cast("double"))
          .otherwise(lit((K - 1).toDouble) *
            lit(two60).cast("double") / col("dk")))
        .withColumn("shared", size(array_intersect(col("mk"),
          array_intersect(col("ska"), col("skb")))))
        .withColumn("est_jaccard",
          round(col("shared").cast("double") / col("kk"), 6))
        .withColumn("est_common",
          round(col("shared").cast("double") / col("kk") *
            col("est_union")).cast("long"))
      val ex = u.select(col("et").as("et_a"), col("user_id"), col("d"))
        .join(u.select(col("et").as("et_b"), col("user_id"), col("d")),
          Seq("user_id", "d"))
        .filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b").agg(count(lit(1)).as("exact_common"))
      pairs.join(ex, Seq("et_a", "et_b"))
        .join(nEx.select(col("et").as("et_a"), col("n").as("n_a")), "et_a")
        .join(nEx.select(col("et").as("et_b"), col("n").as("n_b")), "et_b")
        .select(col("et_a"), col("et_b"), col("n_a"), col("n_b"),
          col("exact_common"), col("est_common"), col("est_jaccard"),
          (abs(col("est_common") - col("exact_common")).cast("double") <=
            greatest(col("exact_common") * 0.15, lit(50.0)))
            .as("within_tol"))
        .orderBy("et_a", "et_b")
    },

    // Single-commit CDC apply (MERGE INTO) under the driver gate: a
    // consolidated ops batch — deletes (%9), column-mutating updates
    // (%4), inserts (shifted keys) — lands on a PartitionedCowTable
    // as ONE committed version via mergeApply, the semantics every
    // Debezium-style feed replay needs (upsert-then-delete as two
    // commits publishes a state no upstream transaction ever held;
    // q57/q130 gate the two-commit primitives, this gates their
    // fusion). The rollup of the FINAL table state is hash-compared
    // to the closed-form merge result; the version count (exactly 2:
    // create + merge) and the manifest-diff CDC row count ride along.
    "q218_cdc_merge_apply" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q218", fresh = true)
      val src = t(s, dir, "orders").filter(col("o_orderkey") <= 600)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
          col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(s"$root/t", "month", s)
      tbl.overwrite(src)
      val dels = src.filter(col("PID") % 9 === 0)
        .withColumn("op", lit("D"))
      val ups = src.filter(col("PID") % 9 =!= 0 && col("PID") % 4 === 0)
        .withColumn("status", lit("X"))
        .withColumn("cents", col("cents") + 10000L)
        .withColumn("op", lit("U"))
      val ins = src.filter(col("PID") % 25 === 0)
        .withColumn("PID", col("PID") + 100000L)
        .withColumn("op", lit("I"))
      tbl.mergeApply(dels.unionByName(ups).unionByName(ins), Seq("PID"))
      val cdc = tbl.changedSince(0).count()
      tbl.read().groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("PID").as("min_pid"), max("PID").as("max_pid"))
        .withColumn("versions", lit(tbl.version + 1L))
        .withColumn("cdc_rows", lit(cdc))
        .orderBy("status")
    },

    // HITS hubs & authorities (Kleinberg 1999) over the BIPARTITE
    // customer→part purchase graph — the directed-centrality pair the
    // graph tier lacked next to q134's PageRank: an authority is a
    // part bought by high-hub customers, a hub is a customer buying
    // high-authority parts — the mutual-reinforcement recursion, run
    // two synchronous rounds UNNORMALIZED. That choice is the whole
    // determinism story: unnormalized HITS iterates are PURE INTEGER
    // path counts (h1 = outdeg, a1 = Σ buyer outdegs, h2 = Σ basket
    // a1, a2 = Σ buyer h2 — four edge-keyed joins with map-side
    // combine, zero floats in flight), so both engines agree
    // bit-for-bit and the L∞ normalization happens ONCE at the end
    // against a broadcast max (per-round L2 norms would thread a
    // float through every join). Two rounds suffice for a stable
    // ranking on bipartite co-purchase graphs; more rounds are the
    // same joins.
    "q219_hits" -> { (s, dir) =>
      val e = t(s, dir, "orders")
        .select(col("o_custkey").as("u"), col("o_orderkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("p")), Seq("o_orderkey"))
        .select("u", "p").distinct()
        .transform(Staging(_)) // four iteration joins reuse it
      val h1 = e.groupBy("u").agg(count(lit(1)).as("h1"))
      val a1 = e.join(h1, "u").groupBy("p").agg(sum("h1").as("a1"))
      val h2 = e.join(a1, "p").groupBy("u").agg(sum("a1").as("h2"))
      val a2 = e.join(h2, "u").groupBy("p").agg(sum("h2").as("a2"))
      val am = broadcast(a2.agg(max("a2").as("am")))
      val hm = broadcast(h2.agg(max("h2").as("hm")))
      val topA = a2.crossJoin(am)
        .select(lit("authority").as("role"), col("p").as("id"),
          col("a2").as("raw"), round(col("a2") / col("am"), 6).as("score"))
        .orderBy(col("raw").desc, col("id")).limit(10)
      val topH = h2.crossJoin(hm)
        .select(lit("hub").as("role"), col("u").as("id"),
          col("h2").as("raw"), round(col("h2") / col("hm"), 6).as("score"))
        .orderBy(col("raw").desc, col("id")).limit(10)
      topA.unionByName(topH)
        .orderBy(col("role"), col("raw").desc, col("id"))
    },

    // Trailing-window distinct users from MERGED daily HLL sketches —
    // the composition q136 exists for: at 100 TB nobody re-scans a
    // week of raw events per dashboard tile; the pipeline persists
    // ONE ≤m-row register table per day and every trailing-7d
    // distinct count is a register-wise max over 7 such tables
    // (mergeability IS the product). The raw stream is touched once
    // (the daily register build); the merge runs on the days×m grid
    // joined to a 7-offset calendar explode — metadata at any corpus
    // size. Estimator = q136's (bias-corrected + linear-counting
    // small-range); the dyadic Σ2^⁻ʳ stays order-independent-exact.
    // The exact trailing distinct rides along (the thing the sketch
    // REPLACES at scale) so the estimate is auditable per day.
    "q222_hll_trailing_distinct" -> { (s, dir) =>
      val m = 64
      val h = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), userH32.as("h32"))
      val regs = hllRegisters(h, "day", m)
        .transform(Staging(_)) // the persisted per-day sketch table
      val probes = regs.select("day").distinct()
        .withColumn("off", explode(sequence(lit(0), lit(6))))
        .select(col("day").as("tday"),
          date_sub(col("day"), col("off")).as("day"))
      val merged = probes.join(regs, "day")
        .groupBy(col("tday"), col("bucket"))
        .agg(max("register").as("register"))
      val est = hllEstimate(merged, "tday", m)
      val ud = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val exact = probes.join(ud, "day")
        .select("tday", "user_id").distinct()
        .groupBy("tday").agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, "tday")
        .select(col("tday").as("day"), col("n_buckets"), col("reg_xor"),
          col("est_distinct"), col("exact_distinct"))
        .orderBy("day")
    },

    // Difference-in-differences (Card–Krueger design) — the
    // quasi-experimental estimator the A/B tier (q144 SRM, q160
    // CUPED, q196 Shapley) lacked: when assignment isn't randomized
    // per-unit, the treatment effect is the POST−PRE delta of the
    // treated arm net of the control arm's same delta (parallel
    // trends assumption stated, not tested). q160's exact prologue
    // verbatim: md5 arms, cents, the fixed period cut; per-user
    // integer sums collapse to per-arm (n, Σpre, Σpost) and every
    // mean/did is one division on identical integers. One summary
    // row — the experimentation dashboard's headline number.
    "q224_diff_in_diff" -> { (s, dir) =>
      val perUser = prePostCents(s, dir)
      perUser.groupBy("arm").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"))
        .agg(
          sum(when(col("arm") === 1, col("n"))).as("n_treat"),
          sum(when(col("arm") === 0, col("n"))).as("n_ctrl"),
          sum(when(col("arm") === 1, col("sx"))).as("pre_t"),
          sum(when(col("arm") === 1, col("sy"))).as("post_t"),
          sum(when(col("arm") === 0, col("sx"))).as("pre_c"),
          sum(when(col("arm") === 0, col("sy"))).as("post_c"))
        .select(col("n_treat"), col("n_ctrl"),
          round(col("pre_t") / col("n_treat"), 6).as("mean_pre_t"),
          round(col("post_t") / col("n_treat"), 6).as("mean_post_t"),
          round(col("pre_c") / col("n_ctrl"), 6).as("mean_pre_c"),
          round(col("post_c") / col("n_ctrl"), 6).as("mean_post_c"),
          round((col("post_t") / col("n_treat") -
            col("pre_t") / col("n_treat")) -
            (col("post_c") / col("n_ctrl") -
              col("pre_c") / col("n_ctrl")), 6).as("did_cents"))
    },

    // Winsorized robust metrics (the whale-clipping every revenue
    // metric ships with) — p05/p95 thresholds and the clipped mean
    // per event type, computed ENTIRELY on the (type, micro-value)
    // HISTOGRAM: values quantize to exact 1e-6 integers at the scan,
    // the nearest-rank thresholds come from the q107 grouped-prefix-
    // sum quantile device (no per-type sort, no corpus window — a
    // type holding half a 100 TB corpus still never funnels one
    // reducer), and the winsorized sum is Σ clamp(v,lo,hi)·cnt over
    // histogram rows — integers to the one closing division. Where
    // q173's MAD flags whales, this NEUTRALIZES them.
    "q225_winsorized_metrics" -> { (s, dir) =>
      val h = t(s, dir, "events")
        .select(col("event_type").as("et"),
          round(col("value") * 1e6).cast("long").as("v"))
        .groupBy("et", "v").agg(count(lit(1)).as("cnt"))
        .transform(Staging(_)) // thresholds + clipped sums reuse it
      val cum = R.groupedPrefixSum(h, "et", "v", "cnt", "pre")
        .withColumn("cum", col("pre") + col("cnt"))
      val n = h.groupBy("et").agg(sum("cnt").as("n"))
      val ranked = cum.join(broadcast(n), "et")
      val lo = ranked.filter(col("cum") * 20 >= col("n"))
        .groupBy("et").agg(min("v").as("lo"))
      val hi = ranked.filter(col("cum") * 20 >= col("n") * 19)
        .groupBy("et").agg(min("v").as("hi"))
      h.join(broadcast(lo), "et").join(broadcast(hi), "et")
        .join(broadcast(n), "et")
        .groupBy(col("et"), col("n"), col("lo"), col("hi"))
        .agg(sum(least(greatest(col("v"), col("lo")), col("hi")) *
          col("cnt")).as("ws"),
          sum(col("v") * col("cnt")).as("rs"))
        .select(col("et").as("event_type"), col("n"),
          col("lo").as("p05_micro"), col("hi").as("p95_micro"),
          round(col("ws") / (col("n") * 1e6), 6).as("winsorized_mean"),
          round(col("rs") / (col("n") * 1e6), 6).as("raw_mean"))
        .orderBy("event_type")
    },

    // Consistent MULTI-TABLE snapshot reads (sources/SnapshotCatalog)
    // — the cross-table guarantee q131's single-table time travel
    // can't give: step 3 commits to BOTH tables (a delete
    // propagated across the pair), and its log row is published only
    // after both pointer flips, so the step-2 snapshot must see
    // step 1's orders update and step 2's lineitem update but
    // NEITHER side of step 3 — a reader catching one table's delete
    // without the other's would flip the joined checksum. The gate
    // reads snapshots 2 and 3 via versionsAt → readVersion and joins
    // the pair AT each snapshot; the oracle computes both joined
    // states closed-form.
    "q226_snapshot_consistent_read" -> { (s, dir) =>
      val (a, b, snap) = snapshotPair(s, dir, "q226", 400)
      b.updateWhere(col("PID") % 3 === 0, Map("qty" -> (col("qty") + 5L)))
      snap.record(2, Map("a" -> a.version, "b" -> b.version))
      // step 3: ONE logical commit touching BOTH tables
      a.deleteWhere(col("PID") % 9 === 0)
      b.deleteWhere(col("PID") % 9 === 0)
      snap.record(3, Map("a" -> a.version, "b" -> b.version))
      def at(step: Long): DataFrame = {
        val vs = snap.versionsAt(step)
        a.readVersion(vs("a")).select("PID", "cents")
          .join(b.readVersion(vs("b")).select("PID", "qty"), "PID")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            sum("qty").as("sum_qty"),
            sum(col("cents") * col("qty")).as("sum_cross"))
          .withColumn("snapshot", lit(s"step$step"))
      }
      at(2).unionByName(at(3))
        .select("snapshot", "n", "sum_cents", "sum_qty", "sum_cross")
        .orderBy("snapshot")
    },

    // The COMPLETE 100 TB CF recipe: q211's basket cap composed with
    // q214's DIMSUM sampling — the cap bounds the MAP-side pair
    // enumeration (≤ cap²/2 per customer, the part sampling alone
    // can't touch: q214's sf10 probe still paid the full basket²
    // explode), the probability-proportional draw bounds the
    // EXCHANGE (popular pairs down-sampled to ~γ/√(n1·n2)); together
    // the operator is whale-proof on BOTH axes. The same md5 cap
    // draw as q211 ('cap:') and the same dyadic Bernoulli draw as
    // q214 ('ds:'), so the oracle replays both; item counts are
    // taken over the CAPPED sets — the arm is exact under its own
    // composed contract, like each parent.
    "q227_item_item_cf_capped_dimsum" -> { (s, dir) =>
      graft.operators.ItemItemCf
        .cappedDimsum(cfPositives(s, dir), cap = 8, gamma = 8.0)
        .withColumnRenamed("cosine", "cosine_est")
    },

    // Bradley–Terry preference strengths via Hunter's (2004) MM
    // iteration — the batch rating pass behind pairwise-preference
    // data (RLHF comparison sets, judge panels, match histories).
    // Duels derive from events: per user, for each event-type pair,
    // the type the user triggered MORE often wins (ties = no
    // contest). Five synchronous MM rounds entirely on BIGINTs:
    // strengths live in micro units and every division is a FLOOR
    // division at a fixed point — term_ij = n_ij·1e12 div (s_i+s_j),
    // s_i' = w_i·1e12 div Σ_j term_ij — so both engines walk the
    // identical integer trajectory with no rounding-mode ambiguity
    // (floor-div beats round(): no half-way cases at all). Scale
    // shape: one shuffle to (user, type) counts; the per-user duel
    // expansion is a user-keyed equi self-join bounded by the type
    // vocabulary (≤T² rows per user); everything after the (i,j)
    // match aggregate is a ≤T-row state table per round — bounded
    // metadata (kmeansFit precedent), never a corpus shuffle. The
    // closing row_number runs over that same ≤T-row table.
    "q230_bradley_terry" -> { (s, dir) =>
      val rounds = 5
      val SC = "1000000000000" // 1e12; w,n ≤ ~2e4 at sf1 → < 2^63
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type").as("ty"))
        .agg(count(lit(1)).as("c"))
      val duels = perUser.select(col("user_id"), col("ty").as("ta"),
          col("c").as("ca"))
        .join(perUser.select(col("user_id"), col("ty").as("tb"),
          col("c").as("cb")), Seq("user_id"))
        .filter(col("ta") < col("tb") && col("ca") =!= col("cb"))
        .select(
          when(col("ca") > col("cb"), col("ta")).otherwise(col("tb"))
            .as("win"),
          when(col("ca") > col("cb"), col("tb")).otherwise(col("ta"))
            .as("lose"))
      val nij = duels
        .groupBy(least(col("win"), col("lose")).as("i"),
          greatest(col("win"), col("lose")).as("j"))
        .agg(count(lit(1)).as("n"))
        .transform(Staging(_)) // ≤T² rows
      val wins = duels.groupBy(col("win").as("ty"))
        .agg(count(lit(1)).as("w"))
      // items with ≥1 duel are rated; an all-losing item keeps w = 0
      // (its strength floors to 0, never a division by zero — the
      // denominators only ever see OPPONENT strengths added to own)
      val items = nij.select(col("i").as("ty"), col("n"))
        .unionByName(nij.select(col("j").as("ty"), col("n")))
        .groupBy("ty").agg(sum("n").as("m"))
        .join(wins, Seq("ty"), "left")
        .select(col("ty"), coalesce(col("w"), lit(0L)).as("w"), col("m"))
        .transform(Staging(_))
      val directed = nij
        .unionByName(nij.select(col("j").as("i"), col("i").as("j"),
          col("n")))
        .transform(Staging(_))
      val strength0 = items.select(col("ty"), lit(1000000L).as("st"))
      val (strength, _) = Staging.iterate(strength0, rounds) { strength =>
        val denom = directed
          .join(strength.select(col("ty").as("i"), col("st").as("si")),
            "i")
          .join(strength.select(col("ty").as("j"), col("st").as("sj")),
            "j")
          .select(col("i").as("ty"),
            expr(s"(n * ${SC}L) div (si + sj)").as("term"))
          .groupBy("ty").agg(sum("term").as("dn"))
        items.join(denom, "ty") // ≤T rows per round
          .select(col("ty"), expr(s"(w * ${SC}L) div dn").as("st"))
      }()
      strength.join(items, "ty")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("st").desc, col("ty"))))
        .select(col("rank"), col("ty").as("event_type"),
          col("w").as("wins"), col("m").as("matches"),
          col("st").as("strength_micro"))
        .orderBy("rank")
    },

    // l-diversity audit (Machanavajjhala et al. — the k-anonymity
    // companion q193 leaves open: a group can be k-large yet reveal
    // everyone's segment if all k share one sensitive value). Per
    // quasi-identifier grouping at two coarsening levels, count
    // groups whose DISTINCT sensitive-value count falls below l = 3
    // and the rows they expose. One exact-distinct shuffle per level
    // — the audit table is groups, never rows.
    "q235_l_diversity" -> { (s, dir) =>
      val l = 3
      val c = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal") / 1000).cast("long").as("balb"),
        col("c_mktsegment").as("seg"))
      def audit(level: Int, keys: Seq[String]): DataFrame =
        c.groupBy(keys.map(col): _*)
          .agg(countDistinct(col("seg")).as("d"), count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("d") < l, 1L).otherwise(0L)).as("risky_groups"),
            sum(when(col("d") < l, col("n")).otherwise(0L))
              .as("risky_rows"))
          .select(lit(level).as("level"), col("n_groups"),
            col("risky_groups"), col("risky_rows"))
      audit(0, Seq("nat", "balb")).unionByName(audit(1, Seq("nat")))
        .orderBy("level")
    },

    // NEAREST as-of join (pandas merge_asof direction='nearest'
    // within a tolerance — q62 is the backward-only arm): each
    // purchase matches the user's closest click within ±30 min,
    // preferring the earlier side on exact |Δt| ties and the lowest
    // click id among same-timestamp clicks (deduped BEFORE the
    // window, so the per-direction candidates are unique). Shape:
    // the union-then-window device — ONE user-keyed sort yields both
    // the backward candidate (running last click) and the forward
    // candidate (first following click); no range join, no per-row
    // probe. Output carries only Δt (epoch differences — never an
    // absolute epoch column, the q145 lesson).
    "q237_nearest_asof" -> { (s, dir) =>
      val tolUs = 30L * 60 * 1000000
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), expr("unix_micros(ts)").as("tus"),
        col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus"), col("event_id").as("pid"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("tus").as("ct"))
        .agg(min("event_id").as("cid")) // same-ts dedup: min id wins
      val u = purch.select(col("user_id"), col("tus"), lit(1).as("isl"),
          col("pid"), lit(null).cast("long").as("ct"),
          lit(null).cast("long").as("cid"))
        .unionByName(clicks.select(col("user_id"), col("ct").as("tus"),
          lit(0).as("isl"), lit(null).cast("long").as("pid"), col("ct"),
          col("cid")))
      // same-ts click sorts BEFORE the purchase (isl 0 < 1), so Δ=0
      // lands on the backward side — matching the tie rule
      val w = Window.partitionBy("user_id").orderBy("tus", "isl")
      // click payload is NULL (not struct(null,null)) on purchase
      // rows: a struct of nulls is itself non-null, so ignoreNulls
      // would treat an adjacent purchase as a "candidate" and mask
      // the real backward/forward click (round-9 ADVICE bug)
      val payload = when(col("isl") === 0, struct(col("ct"), col("cid")))
      val cand = u
        .withColumn("prev", last(payload, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("next", first(payload, ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .filter(col("isl") === 1)
      cand
        .withColumn("db", col("tus") - col("prev.ct"))
        .withColumn("df", col("next.ct") - col("tus"))
        .withColumn("useB", col("db").isNotNull &&
          (col("df").isNull || col("db") <= col("df")))
        .select(col("pid").as("purchase_id"), col("user_id"),
          when(col("useB"), col("prev.cid")).otherwise(col("next.cid"))
            .as("click_id"),
          when(col("useB"), -col("db")).otherwise(col("df"))
            .as("delta_us"))
        .filter(col("click_id").isNotNull &&
          abs(col("delta_us")) <= tolUs)
        .orderBy("purchase_id")
    },

    // Partition-spec evolution end-to-end (Iceberg's signature
    // metadata feature, on PartitionedCowTable): a month-partitioned
    // orders slice EVOLVES to partition by priority with a
    // metadata-only commit (no byte rewritten), new data lands under
    // the new spec, and an upsert touching keys in old-spec dirs
    // migrates exactly those dirs in the same commit (progressive
    // migration — cold months stay by reference until compaction).
    // The gate hashes the final content per priority PLUS the
    // migration ledger: the final version number and how many cold
    // legacy dirs remain (data-derived: months whose slice holds no
    // upserted key).
    "q241_partition_evolution" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q241", fresh = true)
      def slice(lo: Long, hi: Long) = t(s, dir, "orders")
        .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        .select(col("o_orderkey").as("pid"),
          substring(col("o_orderdate").cast("string"), 1, 7).as("month"),
          col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(slice(-1, 400))     // v0: month dirs (keys start at 0)
      tbl.evolvePartitioning("prio")    // v1: metadata-only
      tbl.append(slice(400, 500))       // v2: prio dirs, months legacy
      tbl.upsert(slice(-1, 400).filter(col("pid") % 7 === 0)
          .withColumn("cents", col("cents") + 1000L),
        Seq("pid"))                     // v3: touched months migrate
      val legacyLeft = tbl.legacyEntries.size.toLong
      val ver = tbl.version.toLong
      tbl.read().groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("final_version", lit(ver))
        .withColumn("legacy_dirs", lit(legacyLeft))
        .orderBy("prio")
    },

    // Declarative reconcile (MERGE-sync): make the table EQUAL a
    // system-of-record snapshot in ONE commit — q218 replays an ops
    // LOG someone else prepared; mergeSync derives the I/U/D set
    // itself from a keyed full-outer diff of 64-bit row hashes, then
    // rewrites only partitions containing a change (unchanged
    // partitions and unchanged legacy dirs carry by reference, legacy
    // dirs holding changed keys migrate). Composed with evolution
    // here: the table syncs AFTER an evolve, so the diff spans both
    // layouts. Gate = final per-priority content (must equal the
    // source exactly) + the derived I/U/D counts.
    "q242_merge_sync" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q242", fresh = true)
      def rows(hi: Long) = t(s, dir, "orders")
        .filter(col("o_orderkey") < hi)
        .select(col("o_orderkey").as("pid"),
          substring(col("o_orderdate").cast("string"), 1, 7).as("month"),
          col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(rows(400))          // v0: keys 0..399 by month
      tbl.evolvePartitioning("prio")    // v1
      // source of record: keys %5==0 dropped, %3==0 bumped, 400..499
      // new — the engine must DERIVE these ops and land them at once
      val src = rows(500).filter(col("pid") % 5 =!= 0)
        .withColumn("cents",
          when(col("pid") % 3 === 0, col("cents") + 777L)
            .otherwise(col("cents")))
      val (ins, upd, del) = tbl.mergeSync(src, Seq("pid"))
      tbl.read().groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("inserted", lit(ins))
        .withColumn("updated", lit(upd))
        .withColumn("deleted", lit(del))
        .withColumn("final_version", lit(tbl.version.toLong))
        .orderBy("prio")
    },

    // Schema evolution with column defaults end-to-end (Iceberg's
    // add-column contract on PartitionedCowTable): a metadata-only
    // commit adds `review_state` with default 'pending' — zero data
    // I/O at any table size — then an append carries the column
    // explicitly and an upsert WITHOUT it gets the default
    // materialized by write-side conformance. Old dirs read the
    // default; time travel to v0 still has the original shape. The
    // gate hashes the final per-state content.
    "q251_schema_evolution_cow" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q251", fresh = true)
      def slice(lo: Long, hi: Long) = t(s, dir, "orders")
        .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        .select(col("o_orderkey").as("pid"),
          substring(col("o_orderdate").cast("string"), 1, 7).as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(slice(-1, 400))                    // v0
      tbl.evolveSchema("review_state", "STRING",
        Some("'pending'"))                             // v1: metadata
      tbl.append(slice(400, 500)
        .withColumn("review_state", lit("done")))      // v2
      tbl.upsert(slice(-1, 400).filter(col("pid") % 9 === 0)
          .withColumn("cents", col("cents") + 555L),
        Seq("pid"))                                    // v3: no column
      val v0HasCol =
        if (tbl.readVersion(0).columns.contains("review_state")) 1L
        else 0L
      tbl.read().groupBy("review_state")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("final_version", lit(tbl.version.toLong))
        .withColumn("v0_has_column", lit(v0HasCol))
        .orderBy("review_state")
    },

    // Top-k + OTHER rollup — the high-cardinality dashboard pattern:
    // per source, the 2 biggest languages stay named and everything
    // else folds into one OTHER bucket, so the report width is
    // k+1 per group no matter how many languages exist. Runs on the
    // (source, lang) rollup (group-count bounded); the rank window
    // sees rollup rows, never docs.
    "q243_topk_other_rollup" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      val ranked = g.withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("n").desc, col("lang"))))
      ranked
        .withColumn("bucket",
          when(col("rk") <= 2, col("lang")).otherwise(lit("OTHER")))
        .groupBy("source", "bucket")
        .agg(sum("n").as("n_docs"), sum("chars").as("sum_chars"))
        .orderBy("source", "bucket")
    },

    // Markov removal-effect attribution (Anderl et al.'s
    // absorbing-chain model — the data-driven alternative to the
    // positional rules q146/q167/q196 implement): journeys run
    // start → events → first purchase (conv) or exhaustion (null);
    // the base conversion probability comes from 25 synchronous
    // power-iteration rounds over the transition matrix, and each
    // channel's effect is the drop when that channel's value is
    // forced to 0 (its inbound mass dies — the standard removal
    // device). Corpus work = ONE user-keyed sort to journey edges;
    // the matrix is type-vocab-bounded metadata (≤7×7 here), so the
    // 5 iteration scenarios run driver-side on collected integers —
    // micro-unit probabilities with floor divisions at fixed points,
    // the q230 engine-exact trajectory discipline.
    "q244_markov_removal_attribution" -> { (s, dir) =>
      val M = 1000000L
      val rounds = 500 // loud-failure cap, not a target (see converge)
      val channels = Seq("click", "error", "signup", "view")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", lit("conv"))
            .otherwise(col("event_type")).as("st"))
      val fp = ev.filter(col("st") === "conv")
        .groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
      val j = ev.join(fp, Seq("user_id"), "left")
        .filter(col("fp").isNull ||
          struct(col("ts"), col("event_id")) <= col("fp"))
        .withColumn("nxt", lead(col("st"), 1).over(w))
        .withColumn("rn", row_number().over(w))
      val edges = j.filter(col("rn") === 1)
          .select(lit("start").as("cur"), col("st").as("to"))
        .unionByName(j.filter(col("nxt").isNotNull)
          .select(col("st").as("cur"), col("nxt").as("to")))
        .unionByName(j.filter(col("nxt").isNull && col("st") =!= "conv")
          .select(col("st").as("cur"), lit("null").as("to")))
        .groupBy("cur", "to").agg(count(lit(1)).as("n"))
      val pm = edges
        .join(edges.groupBy("cur").agg(sum("n").as("tot")), "cur")
        .select(col("cur"), col("to"),
          expr(s"(n * ${M}L) div tot").as("pm"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap // type-vocab-bounded metadata, the kmeansFit precedent
      val states = (pm.keys.flatMap(k => Seq(k._1, k._2)).toSet
        ++ Set("conv", "null")).toSeq.sorted
      // iterate the discretized Bellman operator to its FIXED POINT,
      // not a fixed round count: the operator is monotone on the
      // integer-micro lattice (all coefficients >= 0) and the start
      // vector is its bottom, so iterates increase to the unique
      // least fixed point in finitely many rounds — the converged
      // value is iteration-count-independent, which is what lets the
      // oracle DERIVE it (recursive fixpoint) instead of replaying a
      // round count (the q168 idempotence argument). Observed ~60
      // rounds at sf0.01; the cap is a loud-failure backstop.
      def converge(removed: Option[String]): Long = {
        var x = states.map(s =>
          s -> (if (s == "conv") M else 0L)).toMap
        var r = 0
        var stable = false
        while (!stable && r < rounds) {
          val nx = states.map { s =>
            val v =
              if (s == "conv") M
              else if (s == "null" || removed.contains(s)) 0L
              else states.map(t =>
                pm.getOrElse((s, t), 0L) * x(t)).sum / M
            s -> v
          }.toMap
          stable = nx == x
          x = nx
          r += 1
        }
        require(stable,
          s"markov attribution did not converge in $rounds rounds")
        x.getOrElse("start", 0L)
      }
      val base = converge(None)
      val rows = channels.map { c =>
        val rem = converge(Some(c))
        (c, base, rem, math.max(0L, base - rem))
      }
      val totalEff = rows.map(_._4).sum
      import s.implicits._
      rows.map { case (c, b, r, e) =>
        (c, b, r, e, if (totalEff == 0) 0L else e * M / totalEff)
      }.toDF("channel", "base_micro", "removal_micro", "effect_micro",
        "share_micro")
        .orderBy("channel")
    },

    // Retention-policy expiry audit (the GDPR/TTL sweep every event
    // store schedules): per month, how many rows have outlived the
    // 10-day horizon measured from the table's OWN max timestamp —
    // never an absolute wall-clock, so the audit is reproducible and
    // epoch-encoding-proof (the q145 lesson). One scan + a broadcast
    // scalar; the share is one floor division.
    "q252_retention_audit" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("ts"))
      val mx = broadcast(ev.agg(max("ts").as("mx")))
      val marked = ev.crossJoin(mx)
        .select(date_format(col("ts"), "yyyy-MM").as("month"),
          (col("ts") < col("mx") - expr("INTERVAL 10 DAYS"))
            .cast("long").as("expired"))
      marked.groupBy("month")
        .agg(count(lit(1)).as("n"), sum("expired").as("n_expired"))
        .crossJoin(broadcast(marked.agg(
          sum("expired").as("te"), count(lit(1)).as("tn"))))
        .select(col("month"), col("n"), col("n_expired"),
          expr("(te * 1000000) div tn").as("expired_share_micro"))
        .orderBy("month")
    },

    // Fixed-window rate-limit simulation (ingest throttling replay —
    // what a per-user cap WOULD have dropped): each user admits at
    // most 2 events per clock hour, first-come by (ts, event_id);
    // the report shows admitted/throttled per event type and the
    // overall throttled share. The rank window is per (user, hour) —
    // bounded keys, never a corpus-wide sort.
    "q253_rate_limit_sim" -> { (s, dir) =>
      val cap = 2
      val ranked = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd-HH").as("hr"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id", "hr")
            .orderBy("ts", "event_id")))
        .withColumn("admitted", (col("rk") <= cap).cast("long"))
      ranked.groupBy("event_type")
        .agg(sum("admitted").as("n_admitted"),
          sum(lit(1L) - col("admitted")).as("n_throttled"))
        .crossJoin(broadcast(ranked.agg(
          sum(lit(1L) - col("admitted")).as("tt"),
          count(lit(1)).as("tn"))))
        .select(col("event_type"), col("n_admitted"),
          col("n_throttled"),
          expr("(tt * 1000000) div tn").as("throttled_share_micro"))
        .orderBy("event_type")
    },

    // SnapshotCatalog's CRASH contract, end-to-end (q226 gates only
    // the happy path): step 2's table commits land on BOTH tables but
    // the process dies before record(), so the log is unadvanced and
    // every snapshot reader must see the PRE-crash state — the orphan
    // versions exist on disk yet are invisible. Recovery then rolls
    // BACK with the new restore() primitive (Delta RESTORE semantics:
    // a metadata-only commit republishing the last LOGGED version),
    // vacuums the orphan commits away, REDOES the step, and publishes
    // it — after which the snapshot at step 2 sees both deletes. The
    // audit row pins the mechanics: the crash-window currentStep (1),
    // the post-recovery step (2), and the version manifests vacuum
    // reclaimed (5 = a's v0,v1,v2-orphan + b's v0,v1-orphan; the
    // restore commits are the survivors).
    "q254_snapshot_crash_recovery" -> { (s, dir) =>
      val (a, b, snap) = snapshotPair(s, dir, "q254", 200)
      // step 2 CRASHES between the table commits and the log append:
      // both deletes are durable, the record() never runs
      a.deleteWhere(col("PID") % 9 === 0)
      b.deleteWhere(col("PID") % 9 === 0)
      val crashStep = snap.currentStep // 1 — the log is unadvanced
      val vs = snap.versionsAt(crashStep)
      def joined(va: Int, vb: Int, tag: String): DataFrame =
        a.readVersion(va).select("PID", "cents")
          .join(b.readVersion(vb).select("PID", "qty"), "PID")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            sum("qty").as("sum_qty"))
          .withColumn("snapshot", lit(tag))
      // materialized BEFORE vacuum: post-vacuum, the undone version
      // manifests are gone (the same retention contract as Delta)
      val crashedView = joined(vs("a"), vs("b"), "crashed_view")
        .transform(Staging(_))
      // recovery: roll back to the logged versions, reclaim orphans,
      // redo the step, publish atomically
      a.restore(vs("a")); b.restore(vs("b"))
      def manifests(tbl: graft.sources.PartitionedCowTable): Long = {
        val listing = java.nio.file.Files.list(
          java.nio.file.Paths.get(tbl.root))
        try {
          var n = 0L
          listing.forEach { p =>
            val f = p.getFileName.toString
            if (f.startsWith("v_") && f.endsWith(".json")) n += 1
          }
          n
        } finally listing.close()
      }
      val before = manifests(a) + manifests(b)
      a.vacuum(); b.vacuum()
      val reclaimed = before - (manifests(a) + manifests(b))
      a.deleteWhere(col("PID") % 9 === 0)
      b.deleteWhere(col("PID") % 9 === 0)
      snap.record(2, Map("a" -> a.version, "b" -> b.version))
      val vs2 = snap.versionsAt(snap.currentStep)
      val recovered = joined(vs2("a"), vs2("b"), "recovered")
        .transform(Staging(_))
      import s.implicits._
      val audit = Seq(("audit", crashStep, snap.currentStep, reclaimed))
        .toDF("snapshot", "n", "sum_cents", "sum_qty")
      audit.unionByName(crashedView.select(
          col("snapshot"), col("n"), col("sum_cents"), col("sum_qty")))
        .unionByName(recovered.select(
          col("snapshot"), col("n"), col("sum_cents"), col("sum_qty")))
        .orderBy("snapshot")
    },

    // t-closeness audit (Li-Li-Venkatasubramanian 2007) — the third
    // leg of the privacy triad (k-anonymity q193 bounds group SIZE,
    // l-diversity q235 bounds distinct sensitive values, t-closeness
    // bounds the DISTRIBUTION: a group whose segment mix diverges
    // from the global mix leaks membership even when large and
    // diverse). Distance = variational (half-L1) between the group's
    // and the global segment distribution, kept EXACT: per cell
    // |cnt·N − gs·n| is integer, summed as longs, ONE closing
    // integer division onto the micro scale — (num·5e5) div (n·N)
    // stays under 2^63 through sf10. The grid is groups × |segments|
    // (zero-filled — an absent segment still contributes its global
    // mass), aggregated metadata at any corpus size.
    "q255_t_closeness" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal") / 1000).cast("long").as("balb"),
        col("c_mktsegment").as("seg"))
        .transform(Staging(_)) // both levels + global reuse it
      val gl = broadcast(c.groupBy("seg").agg(count(lit(1)).as("gs")))
      val tot = broadcast(c.agg(count(lit(1)).as("nn")))
      def audit(level: Int, keys: Seq[String]): DataFrame = {
        val grp = c.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        val gseg = c.groupBy((keys :+ "seg").map(col): _*)
          .agg(count(lit(1)).as("cnt"))
        grp.crossJoin(gl)
          .join(gseg, keys :+ "seg", "left").na.fill(0L, Seq("cnt"))
          .crossJoin(tot)
          .withColumn("term",
            abs(col("cnt") * col("nn") - col("gs") * col("n")))
          .groupBy((keys.map(col) :+ col("n") :+ col("nn")): _*)
          .agg(sum("term").as("num"))
          .withColumn("t_micro", expr("(num * 500000) div (n * nn)"))
          .agg(count(lit(1)).as("n_groups"),
            max("t_micro").as("max_t_micro"),
            sum(when(col("t_micro") > 300000, 1L).otherwise(0L))
              .as("risky_groups"),
            sum(when(col("t_micro") > 300000, col("n")).otherwise(0L))
              .as("risky_rows"))
          .select(lit(level).as("level"), col("n_groups"),
            col("max_t_micro"), col("risky_groups"), col("risky_rows"))
      }
      audit(0, Seq("nat", "balb")).unionByName(audit(1, Seq("nat")))
        .orderBy("level")
    },

    // Differentially-private histogram release (Dwork et al.'s
    // Laplace mechanism) with REPLAYABLE noise — the publishable-
    // statistics sink a curated corpus ships with: per (event_type,
    // month) counts get Laplace(1/eps) noise drawn by inverse CDF
    // from an md5 uniform keyed on the CELL, so both engines (and a
    // re-run) draw the identical noise — the q184/q188 RNG-free
    // device applied to DP. eps = 1 per cell. Determinism contract:
    // u = (2h+1)/2^61 from the top-60 md5 bits (exactly representable
    // arithmetic), the one transcendental (ln) is computed per CELL
    // (bounded: types × months, never rows) and rounded ONCE at
    // micro scale; the released value is integer micro-units from
    // there. The histogram is one partial-aggregated scan; noise
    // attaches on the |cells|-row result.
    "q257_dp_laplace_release" -> { (s, dir) =>
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("tc"))
      val h = conv(substring(md5(concat_ws(":", lit("dp"),
        col("event_type"), col("month"))), 1, 15), 16, 10).cast("long")
      cells
        .withColumn("u",
          (h * 2 + 1).cast("double") / lit(2.0).cast("double") / pow(lit(2.0), 60))
        .withColumn("lap", -signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
        .withColumn("noise_micro",
          round(col("lap") * 1e6).cast("long"))
        .select(col("event_type"), col("month"),
          (col("tc") * 1000000L + col("noise_micro"))
            .as("released_micro"),
          abs(col("noise_micro")).as("err_micro"))
        .orderBy("event_type", "month")
    },

    // Dyadic-histogram quantile sketch WITH its error audit — the
    // mergeable-quantiles slot in the sketch family (HLL counts
    // distincts, CMS counts items; this bounds ranks): per type,
    // values collapse to power-of-2 buckets (≤64 rows per key,
    // mergeable by addition, ORDER-INDEPENDENT — the property that
    // rules out GK/KLL here, whose compactions depend on arrival
    // order and would be engine-dependent). The p50/p95/p99 estimate
    // is the covering bucket's upper bound (guaranteed ≥ exact,
    // relative error ≤ 2× by construction); the EXACT nearest-rank
    // percentile rides along from the value histogram (the thing the
    // sketch replaces at 100 TB) so every released estimate carries
    // its measured error. floor(log2) is string-exact via
    // length(bin(x)) — a float log2 can land 2.9999... and mis-bucket
    // powers of two.
    "q261_dyadic_quantile_sketch" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_type").as("et"),
          round(col("value") * 1e6).cast("long").as("vm"))
        .transform(Staging(_)) // sketch + exact arms share the scan
      val n = ev.groupBy("et").agg(count(lit(1)).as("n"))
      val ranks = n.crossJoin(broadcast(Seq(50L, 95L, 99L).toDF("p")))
        .withColumn("r", expr("(n * p + 99) div 100"))
      val sk = ev
        .withColumn("b", (length(bin(col("vm"))) - 1).cast("long"))
        .groupBy("et", "b").agg(count(lit(1)).as("cnt"))
      val skCum = R.groupedPrefixSum(sk, "et", "b", "cnt", "pre")
        .withColumn("cum", col("pre") + col("cnt"))
      val est = ranks.join(skCum, "et")
        .filter(col("cum") >= col("r"))
        .groupBy("et", "p", "n").agg(min("b").as("bb"))
        .withColumn("est_micro",
          expr("cast(pow(2, bb + 1) as long) - 1"))
      val hx = ev.groupBy("et", "vm").agg(count(lit(1)).as("cnt"))
      val hxCum = R.groupedPrefixSum(hx, "et", "vm", "cnt", "pre")
        .withColumn("cum", col("pre") + col("cnt"))
      val exact = ranks.join(hxCum, "et")
        .filter(col("cum") >= col("r"))
        .groupBy("et", "p").agg(min("vm").as("exact_micro"))
      est.join(exact, Seq("et", "p"))
        .select(col("et").as("event_type"), col("p"), col("n"),
          col("est_micro"), col("exact_micro"),
          expr("((est_micro - exact_micro) * 1000000) div exact_micro")
            .as("rel_err_micro"))
        .orderBy("event_type", "p")
    },

    // ZONE-MAP pruning end-to-end (PartitionedCowTable.statsColumns):
    // a month-partitioned orders table records each dir's [min, max]
    // datekey at commit (one footer-sized aggregate per commit), and
    // a plain range filter on the NON-partition datekey column opens
    // only the intersecting dirs — the table's GraftFileIndex prunes
    // them at plan time, and autoPruneLedger reads what the forced
    // aggregate's scan listed. The gate pins both the ANSWER
    // (identical to the full-scan filter by construction — pruning is
    // advisory, the predicate still applies) and the I/O LEDGER
    // (dirs_total vs dirs_kept, the number a 100 TB scan cares
    // about); the oracle derives the ledger from per-month datekey
    // extents — data, not engine internals.
    "q262_zone_map_pruning" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q262", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        (year(col("o_orderdate")) * 10000 +
          month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast("long").as("dk"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, statsColumns = Seq("dk"))
      tbl.overwrite(o)
      val (lo, hi) = (19960101L, 19960315L)
      val agg = tbl.read().filter(col("dk").between(lo, hi))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("dk").as("min_dk"), max("dk").as("max_dk"))
      val row = agg.collect()
      val (total, kept) = tbl.autoPruneLedger
      s.createDataFrame(java.util.Arrays.asList(row: _*), agg.schema)
        .withColumn("dirs_total", lit(total.toLong))
        .withColumn("dirs_kept", lit(kept.toLong))
    },

    // Referential CASCADE on CoW tables — the erasure flow a
    // right-to-be-forgotten request runs at the lakehouse layer:
    // parent keys delete by predicate, then the CHILD table syncs
    // declaratively to the surviving parent keys — cascade =
    // mergeSync(child ⋉ parent), which derives the deletes itself
    // and rewrites ONLY partitions that lost rows (never the table;
    // the same progressive-rewrite contract as every other mutation).
    // The gate pins the surviving row counts on both sides, the
    // cascade's derived delete count, the post-cascade ORPHAN count
    // (the q200 referential-integrity audit — must be zero), and both
    // tables' version numbers (exactly one commit each).
    "q264_cascade_delete" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q264", fresh = true)
      val par = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      // child PK = (PID, line): the synthetic lineitem duplicates
      // (orderkey, linenumber), so aggregate to unique keys first —
      // mergeSync's full-outer key diff requires key-unique sides
      val chi = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("PID"),
          col("l_linenumber").cast("long").as("line"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .join(par.select("PID", "month"), "PID")
      val a = new graft.sources.PartitionedCowTable(s"$root/a", "month", s)
      val b = new graft.sources.PartitionedCowTable(s"$root/b", "month", s)
      a.overwrite(par); b.overwrite(chi)
      a.deleteWhere(col("PID") % 7 === 0) // the erasure request
      val (ins, upd, del) = b.mergeSync(
        b.read().join(a.read().select("PID"), Seq("PID"), "left_semi"),
        Seq("PID", "line"))
      val orphans = b.read()
        .join(a.read().select("PID"), Seq("PID"), "left_anti").count()
      a.read().agg(count(lit(1)).as("parent_rows"))
        .crossJoin(b.read().agg(count(lit(1)).as("child_rows")))
        .withColumn("cascade_deleted", lit(del))
        .withColumn("cascade_ins_upd", lit(ins + upd))
        .withColumn("orphans", lit(orphans))
        .withColumn("parent_version", lit(a.version.toLong))
        .withColumn("child_version", lit(b.version.toLong))
    },

    // CRYPTO-SHREDDING — the erasure strategy that deletes NOTHING
    // from the data: payloads are stored XOR-masked under a per-user
    // key, and forgetting a user = deleting their one KEY row (a
    // commit bounded by |users to forget|, while q264's cascade
    // rewrites partitions). At 100 TB this is the only erasure whose
    // cost is independent of the data's size. The "cipher" is a
    // deterministic md5 keystream so both engines (and the audit)
    // replay it — standing in for AES exactly like the md5 draws
    // stand in for RNGs elsewhere; the PLUMBING (key table, masked
    // store, key-join decrypt, shred-by-key-delete) is the real
    // contract. Gate: decrypted readable sum must equal the surviving
    // users' original sum bit-for-bit, shredded rows count, and the
    // key table's version shows exactly one shred commit.
    "q267_crypto_shred" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q267", fresh = true)
      def keyOf(c: Column): Column =
        conv(substring(md5(concat_ws(":", lit("key"), c)), 1, 15),
          16, 10).cast("long")
      val ev = t(s, dir, "events").select(col("event_id"),
        col("user_id"), round(col("value") * 1e6).cast("long").as("vm"))
      // the masked store: payloads XOR the owner's keystream
      val store = ev.select(col("event_id"), col("user_id"),
        (col("vm").bitwiseXOR(keyOf(col("user_id")))).as("enc"))
        .transform(Staging(_))
      val keys = new graft.sources.CowTable(s"$root/keys", s)
      keys.overwrite(ev.select("user_id").distinct()
        .withColumn("k", keyOf(col("user_id"))))
      // the erasure request: forget every %7 user — ONE key-row delete
      keys.deleteWhere(col("user_id") % 7 === 0)
      val joined = store.join(keys.read(), Seq("user_id"), "left")
      joined.agg(
          sum(when(col("k").isNotNull, 1L).otherwise(0L))
            .as("n_readable"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_shredded"),
          sum(when(col("k").isNotNull,
            col("enc").bitwiseXOR(col("k"))).otherwise(0L))
            .as("sum_decrypted_micro"))
        .crossJoin(ev.filter(col("user_id") % 7 =!= 0)
          .agg(sum("vm").as("sum_original_micro")))
        .withColumn("lossless",
          (col("sum_decrypted_micro") === col("sum_original_micro"))
            .cast("long"))
    },

    // SLIDING (overlapping) windows — Spark's window(ts, size, slide)
    // with slide < size, the trailing-metrics operator the tumbling
    // gates (q95, q260) don't exercise: every event lands in
    // size/slide = 4 windows, and the engine's own window-explode
    // generation is what's under test. Windows are epoch-aligned
    // 6-hour slots; the output keys them by OFFSET from the corpus's
    // first slot (the q145 absolute-epoch discipline), so timestamp
    // encoding can't drift the gate. One explode + one partial-
    // aggregated rollup — the result is windows × types metadata.
    "q269_sliding_window" -> { (s, dir) =>
      val win = t(s, dir, "events")
        .select(window(col("ts"), "1 day", "6 hours").as("w"),
          col("event_type"))
        .select(expr("unix_micros(w.start) div 21600000000L")
          .as("slot"), col("event_type"))
      val base = broadcast(win.agg(min("slot").as("s0")))
      win.crossJoin(base)
        .groupBy((col("slot") - col("s0")).as("slot_off"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("slot_off", "event_type")
    },

    // DELETION VECTORS end-to-end (PartitionedCowTable.deleteWhereDV)
    // — the delete whose cost is proportional to the DELETED rows,
    // not the touched partitions: a %5 erasure over the WHOLE orders
    // table commits one small key file and rewrites ZERO data dirs
    // (gated: the manifest's dir set is bit-identical before/after).
    // Readers anti-join the vector; upserting a subset of the deleted
    // keys back rewrites only those months — which MATERIALIZES the
    // vector there, so the other deleted keys of those months stay
    // gone while the upserted keys live (the exact Delta-DV rewrite
    // contract); compact materializes the rest and vacuum reclaims
    // the vector file (gated: zero live vectors at the end, content
    // unchanged by compaction).
    "q271_deletion_vectors" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q271", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(o)
      val nInitial = tbl.read().count()
      val dirs0 = tbl.manifest.values.toSet
      tbl.deleteWhereDV(col("PID") % 5 === 0, Seq("PID"))
      val noRewrite =
        if (tbl.manifest.values.toSet == dirs0) 1L else 0L
      val nAfterDv = tbl.read().count()
      // re-insert a subset of the deleted keys with changed payloads
      tbl.upsert(o.filter(col("PID") % 25 === 0)
        .withColumn("cents", col("cents") + 7L), Seq("PID"))
      tbl.compact()
      tbl.vacuum()
      tbl.read()
        .agg(count(lit(1)).as("n_final"),
          sum("cents").as("sum_cents_final"))
        .withColumn("n_initial", lit(nInitial))
        .withColumn("n_after_dv", lit(nAfterDv))
        .withColumn("no_dir_rewritten", lit(noRewrite))
        .withColumn("dv_files_after_compact",
          lit(tbl.liveDvFiles.size.toLong))
        .select("n_initial", "n_after_dv", "no_dir_rewritten",
          "n_final", "sum_cents_final", "dv_files_after_compact")
    },

    // Named refs (Iceberg TAGS) as RETENTION ANCHORS: a tagged
    // version survives vacuum with its manifest, data dirs and
    // deletion vectors — the contract that lets a training run pin
    // "release-1" while the table keeps mutating and compacting
    // underneath. Gated end-to-end: tag v0, mutate twice, tag the
    // head, vacuum — the UNTAGGED middle version is reclaimed
    // (readVersion raises, emitted as a flag) while both tags read
    // back their exact states.
    "q272_version_tags" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q272", fresh = true)
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(o)          // v0
      tbl.tag("baseline")       // anchors v0
      tbl.updateWhere(col("PID") % 3 === 0,
        Map("cents" -> (col("cents") + 50L)))      // v1 — untagged
      tbl.deleteWhere(col("PID") % 11 === 0)       // v2
      tbl.tag("release")        // anchors v2
      tbl.vacuum()
      val untaggedReclaimed =
        try { tbl.readVersion(1).count(); 0L }
        catch { case _: IllegalArgumentException => 1L }
      def snap(name: String, tag: String): DataFrame =
        tbl.readTag(name).agg(count(lit(1)).as(s"${tag}_n"),
          sum("cents").as(s"${tag}_cents"))
      snap("baseline", "baseline").crossJoin(snap("release", "release"))
        .withColumn("untagged_reclaimed", lit(untaggedReclaimed))
    },

    // Orphan-file health audit (PartitionedCowTable.orphanReport) —
    // the pre-flight a storage janitor runs BEFORE vacuum: what's on
    // disk that no protected manifest references? The gate PLANTS the
    // three real failure artifacts (a claimed-but-unreferenced data
    // dir from a crashed commit, an interrupted stage dir, plus the
    // superseded manifest an upsert naturally leaves) and pins that
    // the report counts exactly them, vacuum reclaims exactly them,
    // and the table's rows never change.
    "q273_orphan_audit" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q273", fresh = true)
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").as("PID"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(o) // v0
      tbl.updateWhere(col("PID") % 10 === 0,
        Map("cents" -> (col("cents") + 1L))) // v1 supersedes v0
      // plant a crashed writer's torn artifacts
      val torn = java.nio.file.Paths.get(s"$root/t/w_000099/__part=x")
      java.nio.file.Files.createDirectories(torn)
      java.nio.file.Files.write(torn.resolve("part-0.parquet"),
        Array[Byte](1, 2, 3))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/t/_stage_crashed"))
      val (dd0, dm0, ds0, dv0) = tbl.orphanReport
      tbl.vacuum()
      val (dd1, dm1, ds1, dv1) = tbl.orphanReport
      tbl.read().agg(count(lit(1)).as("n_rows"),
          sum("cents").as("sum_cents"))
        .withColumn("orphan_dirs_before", lit(dd0))
        .withColumn("dead_manifests_before", lit(dm0))
        .withColumn("stage_dirs_before", lit(ds0))
        .withColumn("dead_dvs_before", lit(dv0))
        .withColumn("orphans_after", lit(dd1 + dm1 + ds1 + dv1))
        .select("n_rows", "sum_cents", "orphan_dirs_before",
          "dead_manifests_before", "stage_dirs_before",
          "dead_dvs_before", "orphans_after")
    },

    // SCOPED deletion vectors (PartitionedCowTable.deleteWhereDV) —
    // the vector attaches ONLY to partitions that held a deleted key,
    // so at 100 TB a one-month erasure costs one month, not the
    // table: every other partition's read plan carries NO anti-join
    // (pinned from the optimized plan) and CDC (changedSince) reports
    // exactly the touched month. The gate deletes %3 keys of a single
    // month and emits the survivor aggregate, the deleted count, the
    // CDC month ledger, and both plan flags.
    "q275_dv_scoping" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q275", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s)
      tbl.overwrite(o) // v0
      val m = "1996-01"
      tbl.deleteWhereDV(col("month") === m && col("PID") % 3 === 0,
        Seq("PID"))
      // CDC after the delete: exactly the touched month changed
      val changedMonths = tbl.changedSince(0)
        .select("month").distinct().collect().map(_.getString(0)).toSeq
      val cdcExact =
        if (changedMonths == Seq(m)) 1L else 0L
      // plan flags: the untouched months scan plain, the touched one
      // anti-joins its vector
      def hasAnti(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains("LeftAnti")
      val elsewhereClean =
        if (!hasAnti(tbl.readWhere(_ != m))) 1L else 0L
      val touchedJoins = if (hasAnti(tbl.readWhere(_ == m))) 1L else 0L
      val nDeleted = o.count() - tbl.read().count()
      tbl.read()
        .agg(count(lit(1)).as("n_final"), sum("cents").as("sum_cents"))
        .withColumn("n_deleted", lit(nDeleted))
        .withColumn("cdc_touched_month_only", lit(cdcExact))
        .withColumn("no_antijoin_elsewhere", lit(elsewhereClean))
        .withColumn("antijoin_on_touched", lit(touchedJoins))
        .select("n_final", "sum_cents", "n_deleted",
          "cdc_touched_month_only", "no_antijoin_elsewhere",
          "antijoin_on_touched")
    },

    // PLAN-AUTOMATIC pruning (GraftFileIndex): a plain
    // `read().filter(...)` — no bespoke read call —
    // prunes directories through the manifest, because the table's
    // scan is a FileIndex that evaluates Spark's own pushed-down data
    // filters against each dir's partition value and zone-map
    // [min, max] (the Delta/Iceberg file-skipping read contract; at
    // 100 TB this is the difference between a month and a table). The
    // gate runs BOTH filter shapes through plain DataFrame filters and
    // emits the answers plus the I/O ledgers (dirs total vs dirs the
    // scan actually listed); the oracle derives the ledgers from
    // per-month data extents — data, not engine internals.
    "q276_auto_pruning" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q276", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        (year(col("o_orderdate")) * 10000 +
          month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast("long").as("dk"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, statsColumns = Seq("dk"))
      tbl.overwrite(o)
      // 1: plain partition-column equality — exact manifest prune
      val m = "1996-01"
      val mr = tbl.read().filter(col("month") === m)
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val (mTot, mKept) = tbl.autoPruneLedger
      // 2: plain range filter on the NON-partition dk column —
      // zone-map prune
      val (lo, hi) = (19960101L, 19960315L)
      val zr = tbl.read().filter(col("dk").between(lo, hi))
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val (zTot, zKept) = tbl.autoPruneLedger
      import s.implicits._
      Seq((mr.getLong(0), mr.getLong(1), mTot.toLong, mKept.toLong,
        zr.getLong(0), zr.getLong(1), zTot.toLong, zKept.toLong))
        .toDF("m_n", "m_cents", "m_dirs_total", "m_dirs_opened",
          "z_n", "z_cents", "z_dirs_total", "z_dirs_opened")
    },

    // STRING zone maps (q276's sibling for the other stats family):
    // ISO-date STRINGS — the commonest real-lake layout column —
    // record lexicographic per-dir (min, max) at commit, and a plain
    // DataFrame range filter on the string column prunes through the
    // same FileIndex (ASCII-guarded: pruning only where Java and
    // Spark string orders provably agree). Ledger + answer gated; the
    // oracle derives the ledger from per-month string extents.
    "q280_string_zone_maps" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q280", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd")
          .as("odate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, statsColumns = Seq("odate"))
      tbl.overwrite(o)
      val (lo, hi) = ("1996-01-05", "1996-02-10")
      val r = tbl.read().filter(col("odate").between(lo, hi))
        .agg(count(lit(1)), sum("cents"), min("odate"), max("odate"))
        .collect()(0)
      val (tot, kept) = tbl.autoPruneLedger
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        tot.toLong, kept.toLong))
        .toDF("n", "sum_cents", "min_odate", "max_odate",
          "dirs_total", "dirs_opened")
    },

    // TYPED zone maps (closes the round-11 seconds-vs-micros hazard
    // by construction): timestamp and date stats columns record
    // Catalyst INTERNAL units at commit — micros-since-epoch for
    // TimestampType, days-since-epoch for DateType — and the
    // FileIndex prunes a range ONLY when the pushed literal's
    // dataType matches the recorded unit, so a plain DataFrame
    // filter with timestamp/date literals opens only intersecting
    // dirs and a unit mismatch can never wrong-prune (it goes
    // conservative). Both ledgers + answers gated; the oracle
    // derives the ledgers from per-month data extents.
    "q281_typed_zone_maps" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q281", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderdate").as("ts"),
        to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, statsColumns = Seq("ts", "d"))
      tbl.overwrite(o)
      // timestamp range — pushed literals carry MICROS
      val (tlo, thi) = ("1996-01-05 00:00:00", "1996-03-20 12:00:00")
      val tr = tbl.read()
        .filter(col("ts") >= tlo && col("ts") < thi)
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val (tTot, tKept) = tbl.autoPruneLedger
      // date range — pushed literals carry DAYS
      val (dlo, dhi) = ("1997-11-20", "1998-02-05")
      val dr = tbl.read().filter(col("d").between(dlo, dhi))
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val (dTot, dKept) = tbl.autoPruneLedger
      import s.implicits._
      Seq((tr.getLong(0), tr.getLong(1), tTot.toLong, tKept.toLong,
        dr.getLong(0), dr.getLong(1), dTot.toLong, dKept.toLong))
        .toDF("t_n", "t_cents", "t_dirs_total", "t_dirs_opened",
          "d_n", "d_cents", "d_dirs_total", "d_dirs_opened")
    },

    // DOUBLE zone maps → BBOX pruning — the reference's date+bbox hot
    // path (eodatadownlandsatgoogsensor.py:2074-2103): a grid-cell
    // layout records per-dir lat/lon (min, max) DOUBLES at commit,
    // and a plain 4-way bbox filter (lat/lon range conjunction)
    // prunes to the intersecting cells through the same FileIndex —
    // at 100 TB an AOI query opens its cells, not the globe. The
    // lat/lon here are deterministic functions of the order key (a
    // synthetic footprint grid); the oracle derives the ledger from
    // per-cell coordinate extents — data, not engine internals.
    "q282_bbox_zone_maps" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q282", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        ((col("o_orderkey") % 1700).cast("double") / 10.0 - 85.0)
          .as("lat"),
        (((col("o_orderkey") * 7) % 3600).cast("double") / 10.0 - 180.0)
          .as("lon"))
        .withColumn("cell", concat_ws("_",
          floor(col("lat") / 30.0).cast("int").cast("string"),
          floor(col("lon") / 60.0).cast("int").cast("string")))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "cell", s, statsColumns = Seq("lat", "lon"))
      tbl.overwrite(o)
      val r = tbl.read()
        .filter(col("lat") >= 5.0 && col("lat") <= 25.0 &&
          col("lon") >= -100.0 && col("lon") <= -30.0)
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val (tot, kept) = tbl.autoPruneLedger
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), tot.toLong, kept.toLong))
        .toDF("n", "sum_cents", "dirs_total", "dirs_opened")
    },

    // BLOOM file skipping — the POINT-LOOKUP complement to q276's
    // zone maps (Iceberg-Puffin / Delta-bloom-index contract): a
    // high-cardinality key uncorrelated with the layout gives zone
    // maps nothing to prune on, but a per-dir Bloom sidecar answers
    // "definitely absent" per dir, so a PK equality filter opens only
    // dirs that might contain the key — and a lookup of an ABSENT key
    // opens NOTHING (the dominant case for ingest dedup probes at
    // 100 TB). Four probes gated (min / mid / max / absent key, all
    // derived from the data), each with answer + I/O ledger; the
    // oracle derives every ledger from which months actually contain
    // the key — data, not engine internals. False positives would
    // surface as a ledger mismatch: filters are sized at fpp 1e-6,
    // and the gate is deterministic for fixed data.
    "q284_bloom_point_lookup" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q284", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, bloomColumns = Seq("PID"))
      tbl.overwrite(o)
      val mm = o.agg(min("PID"), max("PID")).collect()(0)
      val (kmin, kmax) = (mm.getLong(0), mm.getLong(1))
      val kmid = o.filter(col("PID") <= (kmin + kmax) / 2)
        .agg(max("PID")).collect()(0).getLong(0)
      import s.implicits._
      Seq(("k_min", kmin), ("k_mid", kmid), ("k_max", kmax),
        ("k_absent", kmax + 1)).map { case (nm, k) =>
        val r = tbl.read().filter(col("PID") === k)
          .agg(count(lit(1)), coalesce(sum("cents"), lit(0L)))
          .collect()(0)
        val (tot, kept) = tbl.autoPruneLedger
        (nm, r.getLong(0), r.getLong(1), tot.toLong, kept.toLong)
      }.toDF("probe", "n", "cents", "dirs_total", "dirs_opened")
        .orderBy("probe")
    },

    // Z-ORDER clustering (Delta's OPTIMIZE ZORDER BY, as a layout
    // choice): interleaving the bits of two normalized dimensions
    // gives a 1-D key whose prefix is a quadtree tile, so a layout
    // partitioned by the z-prefix makes BOTH dimensions' zone maps
    // tight at once. The gate lays the SAME data out twice — by
    // ingest month (the default a real lake starts with) and by
    // 4-bit z-cell — runs the same bbox query on both, and gates
    // both answers plus both I/O ledgers: the month layout must open
    // (nearly) everything, the z layout only the tiles the box
    // intersects. The z-cell is a pure codegen'd Column expression
    // (min-max rank → magic-number bit spread → prefix), no sort, no
    // UDF — the oracle re-derives every cell bit-for-bit in SQL.
    "q285_zorder_clustering" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q285", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        ((col("o_orderkey") % 1700).cast("double") / 10.0 - 85.0)
          .as("lat"),
        (((col("o_orderkey") * 7) % 3600).cast("double") / 10.0 - 180.0)
          .as("lon"))
      val b = o.agg(min("lat"), max("lat"), min("lon"), max("lon"))
        .collect()(0)
      val oz = o.withColumn("zc", graft.functions.ZOrder.zCell(
        col("lat"), col("lon"), lit(b.getDouble(0)), lit(b.getDouble(1)),
        lit(b.getDouble(2)), lit(b.getDouble(3)), 4).cast("string"))
      val tm = new graft.sources.PartitionedCowTable(
        s"$root/m", "month", s, statsColumns = Seq("lat", "lon"))
      tm.overwrite(oz)
      val tz = new graft.sources.PartitionedCowTable(
        s"$root/z", "zc", s, statsColumns = Seq("lat", "lon"))
      tz.overwrite(oz)
      def bbox(df: DataFrame): DataFrame = df
        .filter(col("lat") >= 5.0 && col("lat") <= 25.0 &&
          col("lon") >= 100.0 && col("lon") <= 160.0)
        .agg(count(lit(1)), coalesce(sum("cents"), lit(0L)))
      val rm = bbox(tm.read()).collect()(0)
      val (mt, mk) = tm.autoPruneLedger
      val rz = bbox(tz.read()).collect()(0)
      val (zt, zk) = tz.autoPruneLedger
      import s.implicits._
      Seq((rm.getLong(0), rm.getLong(1), rz.getLong(0), rz.getLong(1),
        mt.toLong, mk.toLong, zt.toLong, zk.toLong))
        .toDF("n", "sum_cents", "z_n", "z_cents",
          "m_dirs_total", "m_dirs_opened",
          "z_dirs_total", "z_dirs_opened")
    },

    // INCREMENTALLY-MAINTAINED materialized aggregate — the "keep the
    // corpus stats fresh without re-aggregating the lake" op
    // (Materialize / Delta Live Tables territory, partition-aligned):
    // a per-month rollup of a CoW table is maintained from the
    // MANIFEST DIFF — a refresh re-aggregates exactly the partitions
    // the commits since the last sync touched (pruned read), then
    // reconciles the summary in ONE mergeSync commit. The gate builds
    // the rollup, applies a scripted append + upsert + month delete,
    // refreshes, and gates the final summary totals PLUS the refresh
    // ledger (partitions recomputed/removed, summary rows
    // inserted/updated/deleted) — every number derived closed-form
    // from the scripted mutations in the oracle, so both the ANSWER
    // and the INCREMENTALITY are checked.
    "q286_incremental_rollup" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q286", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/b", "month", s)
      tbl.overwrite(o)
      val ru = new graft.sources.IncrementalRollup(tbl, s"$root/s",
        Seq("month"), Seq("n" -> count(lit(1)),
          "cents" -> sum(col("cents"))))(s)
      ru.refresh() // full build
      val minM = o.agg(min("month")).collect()(0).getString(0)
      tbl.append(o.filter(col("PID") <= 20)
        .select((col("PID") + 1000000L).as("PID"),
          lit("2099-01").as("month"), lit(123L).as("cents")))
      tbl.upsert(o.filter(col("PID") <= 50)
        .withColumn("cents", col("cents") + 1L), Seq("PID"))
      tbl.deleteWhere(col("month") === minM)
      val (from2, rec2, rem2, (ins2, upd2, del2)) = ru.refresh()
      ru.summary.read()
        .agg(count(lit(1)).as("n_months"), sum("n").as("n_rows"),
          sum("cents").as("sum_cents"))
        .withColumn("synced_from", lit(from2.toLong))
        .withColumn("recomputed", lit(rec2.toLong))
        .withColumn("removed", lit(rem2.toLong))
        .withColumn("rows_inserted", lit(ins2))
        .withColumn("rows_updated", lit(upd2))
        .withColumn("rows_deleted", lit(del2))
    },

    // IN-PLACE Z-order re-layout (q285 shows the layout's win on
    // fresh tables; this gates the MIGRATION): an ingest-month table
    // relayouts to 4-bit Morton cells via two metadata commits + one
    // data rewrite, and the SAME bbox query's I/O ledger drops from
    // nearly-all month dirs to only the tiles the box intersects.
    // Both ledgers, the answer, the commit count, and full migration
    // (zero legacy dirs) are gated; the oracle re-derives the cells
    // bit-for-bit and both ledgers from per-dir coordinate extents.
    "q289_zorder_relayout" -> { (s, dir) =>
      val root = Tables.scratchDir(s, "q289", fresh = true)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("PID"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        ((col("o_orderkey") % 1700).cast("double") / 10.0 - 85.0)
          .as("lat"),
        (((col("o_orderkey") * 7) % 3600).cast("double") / 10.0 - 180.0)
          .as("lon"))
      val tbl = new graft.sources.PartitionedCowTable(
        s"$root/t", "month", s, statsColumns = Seq("lat", "lon"))
      tbl.overwrite(o)
      def bbox(df: DataFrame): DataFrame = df
        .filter(col("lat") >= 5.0 && col("lat") <= 25.0 &&
          col("lon") >= 100.0 && col("lon") <= 160.0)
        .agg(count(lit(1)), coalesce(sum("cents"), lit(0L)))
      bbox(tbl.read()).collect()
      val (preT, preK) = tbl.autoPruneLedger
      tbl.zOrderRelayout("lat", "lon", 4)
      val r = bbox(tbl.read()).collect()(0)
      val (postT, postK) = tbl.autoPruneLedger
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), preT.toLong, preK.toLong,
        postT.toLong, postK.toLong, tbl.version.toLong,
        tbl.legacyEntries.size.toLong))
        .toDF("n", "sum_cents", "pre_dirs_total", "pre_dirs_opened",
          "post_dirs_total", "post_dirs_opened", "n_version",
          "n_legacy")
    },

    // The reusable paged-REST catalogue source end-to-end (r12
    // verdict item 3 — closes §2.1 S3–S5): a closed-form fake CMR
    // service (N granules, N = |orders| so the gate scales with sf;
    // boxes / polygon / no-geometry / multi-box cases by residue)
    // drives PagedCatalogSource.discover — page-1 probe, partition-
    // per-page fan-out, engine-side JSON parse with the reference's
    // bbox-union + invalid + url rules — landed via
    // IncrementalIngest.ingestBatch, then SWEPT AGAIN with the
    // per-product watermark pushed into the request: the second
    // sweep's delta is pinned at 0 in the output. Every output number
    // replays closed-form in the oracle from range(N).
    "q292_paged_catalog_ingest" -> { (s, dir) =>
      val n = t(s, dir, "orders").count().toInt
      val root = Tables.scratchDir(s, "q292", fresh = true)
      val table = new graft.sources.CowTable(s"$root/granules", s)
      val until = new java.sql.Timestamp(
        CmrFormulaFetcher.baseMs + 100000L * 3600000L)
      val products = Seq(("ATL03", "005"), ("ATL08", "005"))
      def sweep(): Unit = {
        val wm = graft.streaming.IncrementalIngest
          .watermarkPerKey(table, "product", "start_time")
        val df = graft.sources.PagedCatalogSource.discover(
          s, CmrFormulaFetcher(n), products, wm, until, pageSize = 100)
        graft.streaming.IncrementalIngest.ingestBatch(table, df,
          keys = Seq("granule_id"),
          newestFirst = Seq(col("updated_time").desc))
      }
      sweep()
      val n1 = table.read().count()
      sweep() // watermark pushdown: the service ships nothing older
      val resweepAdded = table.read().count() - n1
      table.read().groupBy("product")
        .agg(count(lit(1)).as("n_granules"),
          sum(when(col("geom_source") === "polygons", 1L).otherwise(0L))
            .as("n_from_polys"),
          max("start_time").as("watermark"),
          round(sum("south_lat"), 4).as("sum_south"),
          round(sum("west_lon"), 4).as("sum_west"),
          round(sum("north_lat"), 4).as("sum_north"),
          round(sum("east_lon"), 4).as("sum_east"),
          sum(when(col("remote_url").startsWith("https://cat/"), 1L)
            .otherwise(0L)).as("urls_ok"))
        .withColumn("resweep_added", lit(resweepAdded))
        .orderBy("product")
    },

    // Incremental inverted-index maintenance (r12 verdict item 6):
    // q118's phrase-index contract kept fresh by IncrementalRollup's
    // manifest-diff device instead of a from-scratch rebuild — build
    // over the documents table partitioned by source, append a
    // deterministic batch (every 97th doc re-keyed +1e6), refresh.
    // Only the touched sources' partials recompute (the tokenize/
    // shingle pass runs over the delta alone) and only affected
    // terms re-merge into the bucket-partitioned serving tier. The
    // oracle rebuilds BOTH index states from scratch in SQL, so the
    // banded rows prove refresh ≡ rebuild and the ledger columns
    // (recomputed partitions, affected terms, index I/U/D) replay
    // closed-form — the refresh ledger is part of the ANSWER.
    "q293_incremental_inverted_index" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val root = Tables.scratchDir(s, "q293", fresh = true)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source").as("src"), col("text"))
      val base = graft.sources.PartitionedCowTable(s"$root/base", "src")
      base.overwrite(docs)
      val idx = new graft.sources.IncrementalInvertedIndex(base,
        s"$root/ix", "doc_id", "text",
        graft.functions.GraftFunctions.tokens(_),
        ngram = 3, topK = 5, buckets = 64)
      idx.refresh() // full build
      base.append(docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("src"),
          col("text")))
      val (_, parts, terms, (ins, upd, del)) = idx.refresh()
      idx.read(2, 100)
        .withColumn("recomputed_parts", lit(parts.toLong))
        .withColumn("affected_terms", lit(terms))
        .withColumn("idx_inserted", lit(ins))
        .withColumn("idx_updated", lit(upd))
        .withColumn("idx_deleted", lit(del))
        .orderBy("term")
    },

    // The CF family's AUTO regime switch (r12 verdict item 2): the
    // q89-style pre-flight — Σ b(b−1)/2 pair emissions, the same
    // under the cap, max basket — is WIRED INTO the operator
    // (ItemItemCf.auto) and the route decision rides every output
    // row. At the oracle scales the orders×lineitem basket profile
    // fits the exact budget, so the oracle is q199's exact arm plus
    // the same pre-flight computed in SQL (including the CASE that
    // proves the ROUTE matches, not just the rows); the capped and
    // cap∘DIMSUM routes are pinned against their q211/q227 contracts
    // in ItemItemCfSpec on engineered whale baskets.
    "q290_item_item_cf_auto" -> { (s, dir) =>
      graft.operators.ItemItemCf.auto(cfPositives(s, dir), cap = 8)
    }
  )

  /** q168's DuckDB mirror, generated: the same 3-core peel as 30
    * chained CTE rounds. Peeling is idempotent at the fixpoint, so a
    * round count ≥ the true peel depth (the engine enforces ≤30)
    * reproduces the engine's converged subgraph exactly.
    */
  private def kcoreOracle: String = {
    val rounds = (1 to 30).map { i =>
      val prev = s"e${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT u AS x FROM $prev UNION ALL SELECT v FROM $prev)
         |  GROUP BY x),
         |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE d >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM $prev
         |  JOIN k$i a ON $prev.u = a.x
         |  JOIN k$i b ON $prev.v = b.x)""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED: DuckDB inlines plain CTEs, so 30 peel rounds
    // would re-open the parquet scan past the fd limit
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
       |$rounds,
       |cd AS (
       |  SELECT part, count(*) AS core_degree FROM (
       |    SELECT u AS part FROM e30 UNION ALL SELECT v FROM e30)
       |  GROUP BY part),
       |tot AS (
       |  SELECT count(*) AS n_core_nodes,
       |    CAST(sum(core_degree) AS BIGINT) AS deg_sum FROM cd)
       |SELECT part, core_degree, n_core_nodes, deg_sum
       |FROM cd, tot ORDER BY core_degree DESC, part LIMIT 20""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    // the same integer micro-credit split, window count per purchase
    "q167_linear_attribution" ->
      """WITH c AS (
        |  SELECT user_id, ts AS c_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT c.user_id, c.c_ts, c.click_id, p.p_ts, p.purchase_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY),
        |n AS (
        |  SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touch
        |  FROM t)
        |SELECT CAST(c_ts AS DATE) AS day,
        |  CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_ppm,
        |  count(*) AS n_touches,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases
        |FROM n GROUP BY day ORDER BY day""".stripMargin,

    "q168_kcore" -> kcoreOracle,

    // exact integer microsecond durations; quantile_cont mirrors the
    // engine's exact interpolated percentile (q10 convention)
    "q169_time_to_convert" ->
      """WITH fc AS (
        |  SELECT user_id, min(ts) AS c_ts FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |cv AS (
        |  SELECT p.user_id, min(p.ts) AS conv_ts
        |  FROM events p JOIN fc ON p.user_id = fc.user_id
        |  WHERE p.event_type = 'purchase' AND p.ts >= fc.c_ts
        |  GROUP BY p.user_id),
        |j AS (
        |  SELECT fc.user_id, CAST(fc.c_ts AS DATE) AS cohort_day,
        |    epoch_us(cv.conv_ts) - epoch_us(fc.c_ts) AS dur_us
        |  FROM fc LEFT JOIN cv ON fc.user_id = cv.user_id)
        |SELECT cohort_day, count(*) AS n_clicked,
        |  count(dur_us) AS n_converted,
        |  round(count(dur_us)::DOUBLE / count(*), 6) AS conv_rate,
        |  round(quantile_cont(dur_us, 0.5), 5) AS p50_us,
        |  round(quantile_cont(dur_us, 0.9), 5) AS p90_us
        |FROM j GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,

    // same smoothing over the observed bucket set, same operation
    // order; the ln sum crosses engines through the 6dp round (q106)
    "q170_psi" ->
      """WITH h AS (
        |  SELECT event_type,
        |    least(CAST(round(value * 100) AS BIGINT) // 2500, 19) AS b,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
        |      AS is_ref
        |  FROM events),
        |g AS (
        |  SELECT event_type, b, CAST(sum(is_ref) AS BIGINT) AS cr,
        |    CAST(sum(1 - is_ref) AS BIGINT) AS cc
        |  FROM h GROUP BY event_type, b),
        |t AS (
        |  SELECT event_type, CAST(sum(cr) AS BIGINT) AS tr,
        |    CAST(sum(cc) AS BIGINT) AS tc, count(*) AS v
        |  FROM g GROUP BY event_type),
        |c AS (
        |  SELECT g.event_type, tr, tc, v,
        |    ((cr + 1)::DOUBLE / (tr + v) - (cc + 1)::DOUBLE / (tc + v)) *
        |      ln(((cr + 1)::DOUBLE / (tr + v)) /
        |         ((cc + 1)::DOUBLE / (tc + v))) AS c
        |  FROM g JOIN t USING (event_type)),
        |p AS (
        |  SELECT event_type, tr AS n_ref, tc AS n_cur, v AS n_buckets,
        |    round(sum(c), 6) AS psi
        |  FROM c GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n_ref, n_cur, n_buckets, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable'
        |       WHEN psi < 0.25 THEN 'moderate'
        |       ELSE 'shifted' END AS verdict
        |FROM p ORDER BY event_type""".stripMargin,

    // the same date-arithmetic shifts and exact integer error sums
    "q171_mase" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |e7 AS (
        |  SELECT a.event_type, CAST(sum(abs(a.c - b.c)) AS BIGINT) AS s7,
        |    count(*) AS n7
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7
        |  GROUP BY a.event_type),
        |e1 AS (
        |  SELECT a.event_type, CAST(sum(abs(a.c - b.c)) AS BIGINT) AS s1,
        |    count(*) AS n1
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day = b.day + 1
        |  GROUP BY a.event_type)
        |SELECT e7.event_type, n7,
        |  round(s7::DOUBLE / n7, 6) AS mae7,
        |  round(s1::DOUBLE / n1, 6) AS mae1,
        |  CASE WHEN s1 = 0 THEN NULL
        |    ELSE round((s7::DOUBLE * n1) / (n7::DOUBLE * s1), 6) END
        |    AS mase
        |FROM e7 JOIN e1 ON e7.event_type = e1.event_type
        |ORDER BY e7.event_type""".stripMargin,

    // q85's week arithmetic, integer cents through the cumulative
    "q172_cohort_ltv" ->
      """WITH fs AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(min(ts) AS DATE)) / 7.0) AS BIGINT) AS cohort_week
        |  FROM events GROUP BY user_id),
        |cs AS (SELECT cohort_week, count(*) AS n_users FROM fs
        |       GROUP BY cohort_week),
        |rev AS (
        |  SELECT fs.cohort_week,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(e.ts AS DATE)) / 7.0) AS BIGINT) - fs.cohort_week AS k,
        |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |      AS wk_cents
        |  FROM events e JOIN fs ON e.user_id = fs.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, CAST(sum(wk_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY k) AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT cohort_week, k, n_users, wk_cents, cum_cents,
        |  round(cum_cents::DOUBLE / n_users, 6) AS ltv_cents_per_user
        |FROM cum JOIN cs USING (cohort_week)
        |ORDER BY cohort_week, k""".stripMargin,

    // same exact interpolated med/MAD (quantile_cont), same rounded-z
    // flag and argmax tie-break
    "q173_mad_outliers" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM daily GROUP BY event_type),
        |dv AS (
        |  SELECT d.event_type, d.day, d.c, m.med, abs(d.c - m.med) AS dev
        |  FROM daily d JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, count(*) AS n_days, min(med) AS med,
        |    quantile_cont(dev, 0.5) AS mad
        |  FROM dv GROUP BY event_type),
        |z AS (
        |  SELECT dv.event_type, dv.day,
        |    CASE WHEN md.mad = 0 THEN NULL
        |      ELSE round(0.6745 * (dv.c - dv.med) / md.mad, 6) END AS z
        |  FROM dv JOIN md USING (event_type)),
        |pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(z) DESC NULLS LAST, day) AS r
        |  FROM z),
        |outl AS (
        |  SELECT event_type, count(*) AS n_outliers
        |  FROM z WHERE abs(z) > 3.5 GROUP BY event_type)
        |SELECT p.event_type, md.n_days, round(md.med, 5) AS med_c,
        |  round(md.mad, 5) AS mad_c,
        |  coalesce(o.n_outliers, 0) AS n_outliers,
        |  p.day AS worst_day, p.z AS worst_z
        |FROM pick p
        |JOIN md ON md.event_type = p.event_type
        |LEFT JOIN outl o ON o.event_type = p.event_type
        |WHERE p.r = 1 ORDER BY p.event_type""".stripMargin,

    // the same shared-grid integer CDF supremum; a plain window
    // mirrors the two-phase prefix sums
    "q174_ks_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INTEGER) AS arm
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM pu GROUP BY v),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(n0) OVER (ORDER BY v) AS BIGINT) AS cum0,
        |    CAST(sum(n1) OVER (ORDER BY v) AS BIGINT) AS cum1
        |  FROM cells),
        |t AS (
        |  SELECT CAST(sum(n0) AS BIGINT) AS n0t,
        |    CAST(sum(n1) AS BIGINT) AS n1t FROM cells),
        |d AS (
        |  SELECT n0t, n1t,
        |    max(abs(cum0 * n1t - cum1 * n0t)) AS d_num
        |  FROM cum, t GROUP BY n0t, n1t),
        |f AS (
        |  SELECT n0t AS n0, n1t AS n1, d_num,
        |    round(d_num::DOUBLE / (n0t * n1t), 6) AS d,
        |    round(1.358 * sqrt((n0t + n1t)::DOUBLE
        |      / (n0t::DOUBLE * n1t)), 6) AS crit_005
        |  FROM d)
        |SELECT n0, n1, d_num, d, crit_005, d > crit_005 AS reject
        |FROM f""".stripMargin,

    // the same life-table arithmetic; the suffix sum as a descending
    // window
    "q175_survival_hazard" ->
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(min(ts) AS DATE)) / 7.0) AS BIGINT) AS cohort_week,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(max(ts) AS DATE)) / 7.0) AS BIGINT) AS last_week
        |  FROM events GROUP BY user_id),
        |h AS (
        |  SELECT cohort_week, last_week - cohort_week AS k,
        |    count(*) AS n_last_seen
        |  FROM w GROUP BY 1, 2),
        |mw AS (SELECT max(last_week) AS max_week FROM w),
        |ar AS (
        |  SELECT *, CAST(sum(n_last_seen) OVER (PARTITION BY cohort_week
        |    ORDER BY k DESC) AS BIGINT) AS n_at_risk
        |  FROM h)
        |SELECT cohort_week, k, n_at_risk, n_last_seen,
        |  round(n_last_seen::DOUBLE / n_at_risk, 6) AS hazard,
        |  cohort_week + k = max_week AS censored
        |FROM ar, mw ORDER BY cohort_week, k""".stripMargin,

    // BFS as a recursive CTE over (node, dist) pairs — UNION dedup
    // keeps it polynomial; min(dist) outside; same 15-hop cap
    "q178_sssp" ->
      """WITH RECURSIVE li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p),
        |s AS (SELECT min(u) AS src FROM e),
        |walk(node, dist) AS (
        |  SELECT src, 0 FROM s
        |  UNION
        |  SELECT e.v, w.dist + 1 FROM walk w JOIN e ON e.u = w.node
        |  WHERE w.dist < 15),
        |d AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
        |nodes AS (SELECT DISTINCT u AS node FROM e),
        |hist AS (
        |  SELECT CAST(dist AS INTEGER) AS dist, count(*) AS n_nodes
        |  FROM d GROUP BY dist),
        |unr AS (
        |  SELECT -1 AS dist, count(*) AS n_nodes FROM nodes
        |  WHERE node NOT IN (SELECT node FROM d))
        |SELECT dist, n_nodes FROM (
        |  SELECT * FROM hist UNION ALL SELECT * FROM unr)
        |ORDER BY dist""".stripMargin,

    // the same strictly-below bin rule against the interpolated
    // decile edges
    "q180_equal_freq_binning" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |e AS (
        |  SELECT quantile_cont(cents,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM o)
        |SELECT CAST(len(list_filter(edges, x -> x < cents)) AS INTEGER)
        |    AS bin,
        |  count(*) AS n, min(cents) AS min_cents, max(cents) AS max_cents
        |FROM o, e GROUP BY bin ORDER BY bin""".stripMargin,

    // the same key-shifted self-join and integer-cents class deltas
    "q181_revenue_waterfall" ->
      """WITH rev AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |mw AS (SELECT max(wk) AS max_wk FROM rev),
        |j AS (
        |  SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |    coalesce(a.wk, b.wk + 1) AS wk,
        |    coalesce(a.cents, 0) AS cents,
        |    coalesce(b.cents, 0) AS prev_cents
        |  FROM rev a FULL OUTER JOIN rev b
        |    ON a.user_id = b.user_id AND a.wk = b.wk + 1),
        |c AS (
        |  SELECT wk,
        |    CASE WHEN prev_cents = 0 AND cents > 0 THEN 'new'
        |         WHEN cents = 0 AND prev_cents > 0 THEN 'churned'
        |         WHEN cents > prev_cents THEN 'expansion'
        |         WHEN cents < prev_cents THEN 'contraction'
        |         ELSE 'retained' END AS cls,
        |    cents, prev_cents
        |  FROM j, mw WHERE wk <= max_wk)
        |SELECT wk, cls, count(*) AS n_users,
        |  CAST(sum(cents - prev_cents) AS BIGINT) AS delta_cents,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM c GROUP BY wk, cls ORDER BY wk, cls""".stripMargin,

    // byte-identical candidate draws (same md5 seeds), same rejection
    // and keep-first-2 rule, same order-independent set checksum
    "q184_negative_sampling" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT max(p_partkey) AS np FROM part),
        |cands AS (
        |  SELECT u, p, t.i,
        |    ('0x' || substr(md5('ns:' || CAST(u AS VARCHAR) || ':' ||
        |      CAST(p AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 1, 15))
        |      ::BIGINT % np + 1 AS cand
        |  FROM pos, np, UNNEST(range(0, 4)) AS t(i)),
        |misses AS (
        |  SELECT c.u, c.p, c.i, c.cand FROM cands c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pos WHERE pos.u = c.u AND pos.p = c.cand)),
        |kept AS (
        |  SELECT u, p, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY u, p ORDER BY i)
        |      AS r FROM misses) WHERE r <= 2),
        |ka AS (
        |  SELECT count(*) AS n_kept,
        |    bit_xor(('0x' || substr(md5(CAST(u AS VARCHAR) || ':' ||
        |      CAST(p AS VARCHAR) || ':' || CAST(cand AS VARCHAR)), 1, 15))
        |      ::BIGINT) AS set_hash
        |  FROM kept),
        |pa AS (SELECT count(*) AS n_positives FROM pos)
        |SELECT n_positives, n_kept, set_hash FROM pa, ka""".stripMargin,

    // the same complete calendar, the same 6dp round-before-fill
    "q186_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type AS etype, CAST(ts AS DATE) AS day,
        |    count(*) AS n,
        |    round(sum(CAST(round(value * 1e6) AS BIGINT))::DOUBLE
        |      / (count(*) * 1e6), 6) AS avg_v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |days AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |    AS DATE) AS day FROM span),
        |grid AS (
        |  SELECT etype, day
        |  FROM (SELECT DISTINCT etype FROM daily), days)
        |SELECT g.etype, g.day, coalesce(d.n, 0) AS n,
        |  d.n IS NULL AS filled,
        |  last_value(d.avg_v IGNORE NULLS) OVER (
        |    PARTITION BY g.etype ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
        |FROM grid g LEFT JOIN daily d ON d.etype = g.etype AND d.day = g.day
        |ORDER BY g.etype, g.day""".stripMargin,

    // the oracle builds the SAME deterministic replica and computes
    // the diff directly (full join, no digest shortcut) — proving the
    // engine's bucket-digest pruning loses no differing row
    "q187_partition_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS st
        |  FROM orders),
        |h AS (
        |  SELECT k, cents, st,
        |    ('0x' || substr(md5('mut:' || CAST(k AS VARCHAR)), 1, 15))
        |      ::BIGINT AS h
        |  FROM a),
        |b AS (
        |  SELECT k, CASE WHEN h % 97 = 0 THEN cents + 100 ELSE cents END
        |      AS cents, st
        |  FROM h WHERE h % 89 <> 1
        |  UNION ALL
        |  SELECT k + 1000000000, cents, st FROM h WHERE h % 83 = 2),
        |d AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN b.k IS NULL THEN 'missing_in_b'
        |         WHEN a.k IS NULL THEN 'missing_in_a'
        |         WHEN a.cents <> b.cents OR a.st <> b.st THEN 'changed'
        |         ELSE 'equal' END AS status
        |  FROM a FULL JOIN b ON a.k = b.k)
        |SELECT status, count(*) AS n,
        |  bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |    AS key_hash
        |FROM d WHERE status <> 'equal' GROUP BY status ORDER BY status""".stripMargin,

    // INDEPENDENT selection mechanics (round-9 verdict item 4): the
    // hash-defined path is the contract — any oracle must replay the
    // md5 draws — but the engine resolves each step's argmin with a
    // row_number window over (hh, cand); this oracle uses NO window
    // at all: per step, a grouped min(hh) joins back to the candidate
    // set and a second grouped min(cand) breaks hash ties. Same
    // (hash, candidate) total order, disjoint mechanics.
    "q188_random_walks" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |s0 AS (
        |  SELECT p AS walk, p AS cur
        |  FROM (SELECT DISTINCT p FROM edges) WHERE p <= 200),
        |c1 AS MATERIALIZED (
        |  SELECT s0.walk, e.u AS cand,
        |    ('0x' || substr(md5('walk:' || CAST(s0.walk AS VARCHAR) ||
        |      ':1:' || CAST(e.u AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM s0 JOIN edges e ON e.p = s0.cur),
        |m1 AS (SELECT walk, min(hh) AS mh FROM c1 GROUP BY walk),
        |s1 AS (SELECT c.walk, min(c.cand) AS cur FROM c1 c
        |  JOIN m1 ON m1.walk = c.walk AND c.hh = m1.mh GROUP BY c.walk),
        |c2 AS MATERIALIZED (
        |  SELECT s1.walk, e.p AS cand,
        |    ('0x' || substr(md5('walk:' || CAST(s1.walk AS VARCHAR) ||
        |      ':2:' || CAST(e.p AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM s1 JOIN edges e ON e.u = s1.cur),
        |m2 AS (SELECT walk, min(hh) AS mh FROM c2 GROUP BY walk),
        |s2 AS (SELECT c.walk, min(c.cand) AS cur FROM c2 c
        |  JOIN m2 ON m2.walk = c.walk AND c.hh = m2.mh GROUP BY c.walk),
        |c3 AS MATERIALIZED (
        |  SELECT s2.walk, e.u AS cand,
        |    ('0x' || substr(md5('walk:' || CAST(s2.walk AS VARCHAR) ||
        |      ':3:' || CAST(e.u AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM s2 JOIN edges e ON e.p = s2.cur),
        |m3 AS (SELECT walk, min(hh) AS mh FROM c3 GROUP BY walk),
        |s3 AS (SELECT c.walk, min(c.cand) AS cur FROM c3 c
        |  JOIN m3 ON m3.walk = c.walk AND c.hh = m3.mh GROUP BY c.walk),
        |c4 AS MATERIALIZED (
        |  SELECT s3.walk, e.p AS cand,
        |    ('0x' || substr(md5('walk:' || CAST(s3.walk AS VARCHAR) ||
        |      ':4:' || CAST(e.p AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM s3 JOIN edges e ON e.u = s3.cur),
        |m4 AS (SELECT walk, min(hh) AS mh FROM c4 GROUP BY walk),
        |s4 AS (SELECT c.walk, min(c.cand) AS cur FROM c4 c
        |  JOIN m4 ON m4.walk = c.walk AND c.hh = m4.mh GROUP BY c.walk)
        |SELECT walk, 0 AS step, 'p:' || CAST(cur AS VARCHAR) AS node FROM s0
        |UNION ALL
        |SELECT walk, 1, 'c:' || CAST(cur AS VARCHAR) FROM s1
        |UNION ALL
        |SELECT walk, 2, 'p:' || CAST(cur AS VARCHAR) FROM s2
        |UNION ALL
        |SELECT walk, 3, 'c:' || CAST(cur AS VARCHAR) FROM s3
        |UNION ALL
        |SELECT walk, 4, 'p:' || CAST(cur AS VARCHAR) FROM s4
        |ORDER BY walk, step""".stripMargin,

    // the same 5 synchronous rounds, the same (count desc, label asc)
    // tie order, unrolled
    // INDEPENDENT tie/count path (round-9 verdict item 4): the engine
    // symmetrizes edges once (und) and argmaxes with a max(struct(c,
    // −lbl)) hash aggregate; the oracle never materializes und —
    // each round counts neighbor labels through BOTH orientations of
    // the half-edge table — and resolves ties through a row_number
    // window over (c DESC, lbl). Same LPA contract (synchronous, 5
    // rounds, smallest-label tie), no shared algebra past the edges.
    "q190_lpa_communities" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p),
        |l0 AS (SELECT p AS node, p AS lbl FROM (
        |  SELECT a AS p FROM e UNION SELECT b FROM e)),
        |r1 AS (SELECT node, lbl, count(*) AS c FROM (
        |  SELECT e.a AS node, l.lbl FROM e JOIN l0 l ON l.node = e.b
        |  UNION ALL
        |  SELECT e.b AS node, l.lbl FROM e JOIN l0 l ON l.node = e.a)
        |  GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (SELECT *, row_number() OVER (
        |  PARTITION BY node ORDER BY c DESC, lbl) AS r FROM r1) WHERE r = 1),
        |r2 AS (SELECT node, lbl, count(*) AS c FROM (
        |  SELECT e.a AS node, l.lbl FROM e JOIN l1 l ON l.node = e.b
        |  UNION ALL
        |  SELECT e.b AS node, l.lbl FROM e JOIN l1 l ON l.node = e.a)
        |  GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (SELECT *, row_number() OVER (
        |  PARTITION BY node ORDER BY c DESC, lbl) AS r FROM r2) WHERE r = 1),
        |r3 AS (SELECT node, lbl, count(*) AS c FROM (
        |  SELECT e.a AS node, l.lbl FROM e JOIN l2 l ON l.node = e.b
        |  UNION ALL
        |  SELECT e.b AS node, l.lbl FROM e JOIN l2 l ON l.node = e.a)
        |  GROUP BY 1, 2),
        |l3 AS (SELECT node, lbl FROM (SELECT *, row_number() OVER (
        |  PARTITION BY node ORDER BY c DESC, lbl) AS r FROM r3) WHERE r = 1),
        |r4 AS (SELECT node, lbl, count(*) AS c FROM (
        |  SELECT e.a AS node, l.lbl FROM e JOIN l3 l ON l.node = e.b
        |  UNION ALL
        |  SELECT e.b AS node, l.lbl FROM e JOIN l3 l ON l.node = e.a)
        |  GROUP BY 1, 2),
        |l4 AS (SELECT node, lbl FROM (SELECT *, row_number() OVER (
        |  PARTITION BY node ORDER BY c DESC, lbl) AS r FROM r4) WHERE r = 1),
        |r5 AS (SELECT node, lbl, count(*) AS c FROM (
        |  SELECT e.a AS node, l.lbl FROM e JOIN l4 l ON l.node = e.b
        |  UNION ALL
        |  SELECT e.b AS node, l.lbl FROM e JOIN l4 l ON l.node = e.a)
        |  GROUP BY 1, 2),
        |l5 AS (SELECT node, lbl FROM (SELECT *, row_number() OVER (
        |  PARTITION BY node ORDER BY c DESC, lbl) AS r FROM r5) WHERE r = 1)
        |SELECT node, lbl AS community FROM l5 ORDER BY node""".stripMargin,

    // DuckDB runs its own t-digest; the gate compares exact values
    // and the tolerance booleans, not the sketches themselves
    "q191_approx_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  round(quantile_cont(value, 0.95), 6) AS p95_exact,
        |  abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
        |    <= (max(value) - min(value)) * 0.05 AS p50_within_tol,
        |  abs(approx_quantile(value, 0.95) - quantile_cont(value, 0.95))
        |    <= (max(value) - min(value)) * 0.05 AS p95_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical integer grid, identical pairwise-slope doubles, same
    // interpolated medians
    "q192_theil_sen" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS x,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |x0 AS (SELECT min(x) AS x0 FROM monthly),
        |g AS (SELECT x - x0 AS x, cents FROM monthly, x0),
        |p AS (
        |  SELECT (j.cents - i.cents)::DOUBLE / (j.x - i.x) AS slope
        |  FROM g i JOIN g j ON i.x < j.x),
        |m AS (SELECT quantile_cont(slope, 0.5) AS m FROM p)
        |SELECT round(max(m.m), 6) AS slope_cents_per_month,
        |  round(quantile_cont(g.cents - m.m * g.x, 0.5), 6)
        |    AS intercept_cents
        |FROM g, m""".stripMargin,

    // the same three-level ladder over the same QI grid
    "q193_k_anonymity" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS balb
        |  FROM customer),
        |g0 AS (SELECT count(*) AS n FROM c GROUP BY nat, seg, balb),
        |g1 AS (SELECT count(*) AS n FROM c GROUP BY nat, seg),
        |g2 AS (SELECT count(*) AS n FROM c GROUP BY seg),
        |a0 AS (SELECT 0 AS level, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS risky_rows FROM g0),
        |a1 AS (SELECT 1 AS level, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS risky_rows FROM g1),
        |a2 AS (SELECT 2 AS level, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS risky_rows FROM g2)
        |SELECT * FROM a0 UNION ALL SELECT * FROM a1
        |UNION ALL SELECT * FROM a2 ORDER BY level""".stripMargin,

    // the same fixed column list as CASE sums
    "q194_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // the same exact dyadic u, the same inverse-CDF branch
    "q195_dp_counts" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    ((('0x' || substr(md5('dp:' || event_type), 1, 15))::BIGINT
        |      % 9007199254740992)::DOUBLE + 0.5) / 9007199254740992.0 AS u
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  round(n + CASE WHEN u < 0.5 THEN ln(u * 2)
        |    ELSE -ln((1.0 - u) * 2) END, 4) AS noisy_n
        |FROM g ORDER BY event_type""".stripMargin,

    // the same 16-mask grid, the same integer-over-12 weights
    "q196_shapley_attribution" ->
      """WITH fp AS (
        |  SELECT user_id, min(ts) AS pts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |um AS (
        |  SELECT e.user_id,
        |    CAST(sum(DISTINCT CASE e.event_type WHEN 'click' THEN 1
        |      WHEN 'error' THEN 2 WHEN 'signup' THEN 4
        |      WHEN 'view' THEN 8 END) AS BIGINT) AS mask
        |  FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
        |  WHERE e.event_type <> 'purchase'
        |    AND (fp.pts IS NULL OR e.ts < fp.pts)
        |  GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events),
        |g AS (
        |  SELECT coalesce(m.mask, 0) AS mask,
        |    CASE WHEN fp.pts IS NULL THEN 0 ELSE 1 END AS conv
        |  FROM u LEFT JOIN um m USING (user_id)
        |    LEFT JOIN fp USING (user_id)),
        |grid AS (
        |  SELECT mask, count(*) AS nu, CAST(sum(conv) AS BIGINT) AS nc
        |  FROM g GROUP BY 1),
        |allm AS (SELECT unnest(range(0, 16)) AS m),
        |v AS (
        |  SELECT m, round(coalesce(nc::DOUBLE / nu, 0), 6) AS v
        |  FROM allm LEFT JOIN grid ON grid.mask = allm.m),
        |ch AS (
        |  SELECT unnest(['click', 'error', 'signup', 'view']) AS channel,
        |    unnest([1, 2, 4, 8]) AS cb),
        |terms AS (
        |  SELECT ch.channel,
        |    CASE bit_count(vs.m) WHEN 0 THEN 3 WHEN 1 THEN 1
        |      WHEN 2 THEN 1 ELSE 3 END AS coef,
        |    vs.v AS v0, vc.v AS v1
        |  FROM ch JOIN v vs ON (vs.m & ch.cb) = 0
        |  JOIN v vc ON vc.m = (vs.m | ch.cb))
        |SELECT channel, round(sum(coef * (v1 - v0)) / 12, 6) AS phi
        |FROM terms GROUP BY channel ORDER BY channel""".stripMargin,

    // the same change-on-value islands over the same (ts, event_id)
    // order
    // INDEPENDENT derivation (round-9 verdict item 4): the engine
    // builds islands from a lag() change flag + running sum; the
    // oracle uses the classic gaps-and-islands rank-difference
    // instead — row_number over the user minus row_number over
    // (user, status) is constant exactly within one consecutive
    // same-status run — so the two gap detections share no algebra.
    // lead() is ordered by (valid_from, first event id): island order
    // equals first-event order by construction, and the id tiebreak
    // keeps it total even if two runs start on the same timestamp.
    "q197_scd2_intervals" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS grp
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type AS status, grp,
        |    min(ts) AS valid_from, min(event_id) AS first_id,
        |    count(*) AS n_events
        |  FROM r GROUP BY user_id, event_type, grp)
        |SELECT user_id, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, first_id) AS valid_to, n_events
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,

    // the same basket pairs, rounded-cosine ranking, id tiebreak
    "q199_item_item_cf" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |nu AS (SELECT p, count(*) AS n FROM pos GROUP BY p),
        |co AS (
        |  SELECT x.p AS p1, y.p AS p2, count(*) AS c
        |  FROM pos x JOIN pos y ON x.u = y.u AND x.p < y.p
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT co.p1, co.p2,
        |    round(co.c / sqrt(n1.n * n2.n), 6) AS cosine
        |  FROM co JOIN nu n1 ON n1.p = co.p1 JOIN nu n2 ON n2.p = co.p2),
        |bo AS (
        |  SELECT p1, p2, cosine FROM sim
        |  UNION ALL SELECT p2, p1, cosine FROM sim),
        |r AS (
        |  SELECT p1, p2, cosine, row_number() OVER (
        |    PARTITION BY p1 ORDER BY cosine DESC, p2) AS rank
        |  FROM bo)
        |SELECT p1 AS part, CAST(rank AS INT) AS rank, p2 AS similar,
        |  cosine
        |FROM r WHERE rank <= 3 ORDER BY part, rank""".stripMargin,

    // the same five FK edges, the same null/orphan classification
    "q200_referential_integrity" ->
      """WITH e1 AS (
        |  SELECT 'customer.c_nationkey->nation' AS relation,
        |    count(*) AS n_child,
        |    CAST(sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null,
        |    CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL
        |      AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM customer c LEFT JOIN
        |    (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |    ON p.k = c.c_nationkey),
        |e2 AS (
        |  SELECT 'lineitem.l_orderkey->orders', count(*),
        |    CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
        |      AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |    ON p.k = l.l_orderkey),
        |e3 AS (
        |  SELECT 'lineitem.l_partkey->part', count(*),
        |    CAST(sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN l.l_partkey IS NOT NULL
        |      AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON p.k = l.l_partkey),
        |e4 AS (
        |  SELECT 'nation.n_regionkey->region', count(*),
        |    CAST(sum(CASE WHEN n.n_regionkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN n.n_regionkey IS NOT NULL
        |      AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM nation n LEFT JOIN
        |    (SELECT DISTINCT r_regionkey AS k FROM region) p
        |    ON p.k = n.n_regionkey),
        |e5 AS (
        |  SELECT 'orders.o_custkey->customer', count(*),
        |    CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN o.o_custkey IS NOT NULL
        |      AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders o LEFT JOIN
        |    (SELECT DISTINCT c_custkey AS k FROM customer) p
        |    ON p.k = o.o_custkey)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |UNION ALL SELECT * FROM e5 ORDER BY relation""".stripMargin,

    // the same method-of-moments prior over the same part grid
    "q201_eb_shrinkage" ->
      """WITH g AS (
        |  SELECT l_partkey AS part, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |pr AS (
        |  SELECT avg(x::DOUBLE / n) AS m,
        |    var_samp(x::DOUBLE / n) AS v
        |  FROM g WHERE n >= 5),
        |k AS (SELECT m, (m * (1.0 - m) / v) - 1.0 AS k FROM pr)
        |SELECT part, n, x, round(x::DOUBLE / n, 6) AS raw_rate,
        |  round((x + m * k.k) / (n + k.k), 6) AS shrunk_rate
        |FROM g, k ORDER BY shrunk_rate DESC, part LIMIT 10""".stripMargin,

    // the same per-user positional split, the same (count desc, next
    // asc) argmax model
    "q202_markov_accuracy" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER w AS nxt,
        |    row_number() OVER w AS pos,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pairs AS (
        |  SELECT cur, nxt, pos <= cnt / 2.0 AS is_train
        |  FROM seq WHERE nxt IS NOT NULL),
        |model AS (
        |  SELECT cur, nxt AS pred FROM (
        |    SELECT cur, nxt, row_number() OVER (PARTITION BY cur
        |      ORDER BY count(*) DESC, nxt) AS r
        |    FROM pairs WHERE is_train GROUP BY cur, nxt) WHERE r = 1),
        |scored AS (
        |  SELECT p.nxt, CASE WHEN m.pred = p.nxt THEN 1 ELSE 0 END AS hit
        |  FROM pairs p LEFT JOIN model m ON m.cur = p.cur
        |  WHERE NOT p.is_train)
        |SELECT nxt AS true_next, count(*) AS n,
        |  round(sum(hit)::DOUBLE / count(*), 6) AS accuracy
        |FROM scored GROUP BY nxt
        |UNION ALL
        |SELECT '__overall__', count(*),
        |  round(sum(hit)::DOUBLE / count(*), 6)
        |FROM scored ORDER BY true_next""".stripMargin,

    // the same daily grid; DuckDB's dayofweek is 0-based Sunday,
    // Spark's is 1-based — the +1 aligns them
    "q203_seasonal_decomposition" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |    dayofweek(CAST(ts AS DATE)) + 1 AS dow
        |  FROM events GROUP BY 1, 3),
        |grand AS (SELECT avg(n) AS g FROM daily),
        |idx AS (
        |  SELECT dow, round(avg(n) / max(grand.g), 6) AS sidx
        |  FROM daily, grand GROUP BY dow),
        |resid AS (
        |  SELECT CAST(d.day AS VARCHAR) AS key, d.n,
        |    round(d.n / (grand.g * i.sidx), 6) AS value,
        |    abs(round(d.n / (grand.g * i.sidx), 6) - 1.0) AS dev
        |  FROM daily d JOIN idx i ON i.dow = d.dow, grand
        |  ORDER BY dev DESC, d.day LIMIT 5)
        |SELECT 'dow:' || CAST(dow AS VARCHAR) AS key,
        |  CAST(NULL AS BIGINT) AS n, sidx AS value FROM idx
        |UNION ALL
        |SELECT key, n, value FROM resid ORDER BY key""".stripMargin,

    // the same exact HUGEINT moments, the same md5 rank draw
    "q204_neyman_allocation" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey % 25 AS stratum,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT stratum, count(*) AS nh,
        |    sum(cents::HUGEINT) AS sx,
        |    sum(cents::HUGEINT * cents) AS sxx
        |  FROM o GROUP BY 1),
        |sg AS (
        |  SELECT stratum, nh,
        |    CASE WHEN nh < 2 THEN 0.0
        |      ELSE sqrt((nh * sxx - sx * sx)::DOUBLE /
        |        (nh * (nh - 1))::DOUBLE) END AS sigma
        |  FROM g),
        |tot AS (SELECT sum(nh * sigma) AS z FROM sg),
        |alloc AS (
        |  SELECT stratum, nh,
        |    least(nh, CAST(round(1000 * nh * sigma / z) AS BIGINT))
        |      AS quota
        |  FROM sg, tot),
        |ranked AS (
        |  SELECT o.stratum, o.o_orderkey, a.quota,
        |    row_number() OVER (PARTITION BY o.stratum ORDER BY
        |      ('0x' || substr(md5('ney:' || CAST(o.o_orderkey AS VARCHAR)),
        |        1, 15))::BIGINT, o.o_orderkey) AS rk
        |  FROM o JOIN alloc a ON a.stratum = o.stratum)
        |SELECT r.stratum, a.nh, a.quota, count(*) AS taken,
        |  bit_xor(('0x' || substr(md5(CAST(r.o_orderkey AS VARCHAR)),
        |    1, 15))::BIGINT) AS sample_hash
        |FROM ranked r JOIN alloc a ON a.stratum = r.stratum
        |WHERE r.rk <= r.quota
        |GROUP BY r.stratum, a.nh, a.quota ORDER BY r.stratum""".stripMargin,

    // the same two window orders: tie-bearing for the rank family,
    // fully-deterministic for ntile
    "q205_window_rank_family" ->
      """WITH rev AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
        |    sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT nation, CAST(cents AS BIGINT) AS cents,
        |  CAST(rank() OVER wt AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
        |  CAST(round(percent_rank() OVER wt * 1e6) AS BIGINT)
        |    AS prnk_micro,
        |  CAST(round(cume_dist() OVER wt * 1e6) AS BIGINT)
        |    AS cdist_micro,
        |  CAST(ntile(4) OVER wd AS INT) AS quartile
        |FROM rev
        |WINDOW wt AS (ORDER BY cents DESC),
        |  wd AS (ORDER BY cents DESC, nation)
        |ORDER BY cents DESC, nation""".stripMargin,

    // the same per-side histograms, IS NOT DISTINCT FROM full join
    "q206_null_safe_join" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
        |        AS BIGINT) % 7 = 0 THEN NULL
        |      ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
        |        AS BIGINT) END AS k
        |  FROM events),
        |ah AS (SELECT k AS ka, count(*) AS na FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |bh AS (SELECT k AS kb, count(*) AS nb FROM ev
        |  WHERE event_type = 'click' GROUP BY 1)
        |SELECT
        |  CASE WHEN na IS NOT NULL
        |    THEN coalesce(CAST(ka AS VARCHAR), 'null')
        |    ELSE coalesce(CAST(kb AS VARCHAR), 'null') END AS k,
        |  coalesce(na, 0) AS na, coalesce(nb, 0) AS nb,
        |  coalesce(na, 0) * coalesce(nb, 0) AS n_pairs
        |FROM ah FULL JOIN bh ON ka IS NOT DISTINCT FROM kb
        |ORDER BY k""".stripMargin,

    // the same closed-form weights over the same daily grid
    "q207_exp_smoothing" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY 1),
        |idx AS (
        |  SELECT day, y, row_number() OVER (ORDER BY day) AS t FROM daily),
        |mx AS (SELECT max(t) AS tmax FROM idx),
        |targets AS (
        |  SELECT day, y, t FROM idx, mx WHERE t > tmax - 6),
        |terms AS (
        |  SELECT tg.day, tg.y,
        |    CASE WHEN h.t = 1 THEN power(0.7, tg.t - 2)
        |      ELSE 0.3 * power(0.7, tg.t - 1 - h.t) END * h.y AS wy
        |  FROM targets tg JOIN idx h ON h.t <= tg.t - 1)
        |SELECT day, y, round(sum(wy), 6) AS forecast,
        |  round(y - round(sum(wy), 6), 6) AS err
        |FROM terms GROUP BY day, y ORDER BY day""".stripMargin,

    // content identity straight off the source table; the layout
    // booleans are pinned true — a compaction that loses rows breaks
    // the hash, one that fails to shrink files breaks the booleans
    "q209_compaction" ->
      """SELECT count(*) AS n_rows,
        |  bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |    ::BIGINT) AS content_hash,
        |  true AS files_reduced, true AS met_target
        |FROM events""".stripMargin,

    // the same integer grid, prefix sum, and crossing rule
    "q210_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT flag, sum(w) AS wt FROM g GROUP BY flag),
        |pre AS (
        |  SELECT g.flag, g.qty, tot.wt,
        |    CAST(sum(g.w) OVER (PARTITION BY g.flag ORDER BY g.qty)
        |      AS BIGINT) AS cw
        |  FROM g JOIN tot ON tot.flag = g.flag)
        |SELECT flag, min(qty) AS weighted_median_qty,
        |  CAST(max(wt) AS BIGINT) AS total_weight_cents
        |FROM pre WHERE cw * 2 >= wt GROUP BY flag ORDER BY flag""".stripMargin,

    // the same contingency grid (dow aligned +1 to Spark's 1-based
    // Sunday), the same exact-integer expected counts
    "q212_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type AS et, dayofweek(CAST(ts AS DATE)) + 1 AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT et, sum(o) AS rt FROM cells GROUP BY et),
        |ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY dow),
        |tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    count(DISTINCT et) AS r, count(DISTINCT dow) AS c
        |  FROM cells),
        |j AS (
        |  SELECT cells.o, (rt.rt * ct.ct)::DOUBLE / tot.n AS e,
        |    tot.n, tot.r, tot.c
        |  FROM cells JOIN rt ON rt.et = cells.et
        |    JOIN ct ON ct.dow = cells.dow, tot)
        |SELECT max(n) AS n_obs,
        |  CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
        |  round(sum(power(o - e, 2) / e), 6) AS chi2,
        |  round(sqrt(sum(power(o - e, 2) / e) /
        |    (max(n) * least(max(r) - 1, max(c) - 1))), 6) AS cramers_v
        |FROM j""".stripMargin,

    // the same grid triangle, the same integer pair classification
    "q213_kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT i.x - j.x AS dx, i.y - j.y AS dy
        |  FROM daily i JOIN daily j ON i.day < j.day)
        |SELECT count(*) AS n0,
        |  CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS concordant,
        |  CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS discordant,
        |  round((sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) -
        |    sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END))::DOUBLE /
        |    sqrt(((count(*) - sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END)) *
        |      (count(*) - sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END)))
        |      ::DOUBLE), 6) AS tau_b
        |FROM p""".stripMargin,

    // the identical dyadic draw replayed (pair enumeration here is
    // the oracle-side self-join — quadratic is fine for the checker),
    // the same integer estimator and ranking
    "q214_item_item_cf_dimsum" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |nu AS (SELECT p, count(*) AS n FROM pos GROUP BY p),
        |pairs AS (
        |  SELECT a.u, a.p AS p1, n1.n AS n1, b.p AS p2, n2.n AS n2
        |  FROM pos a JOIN pos b ON a.u = b.u AND a.p < b.p
        |  JOIN nu n1 ON n1.p = a.p JOIN nu n2 ON n2.p = b.p),
        |q AS (
        |  SELECT u, p1, n1, p2, n2,
        |    CAST(round(least(1.0, 8.0 / sqrt(n1 * n2)) * 1048576)
        |      AS BIGINT) AS pq
        |  FROM pairs),
        |emits AS (
        |  SELECT p1, p2, n1, n2, pq, count(*) AS c
        |  FROM q
        |  WHERE ('0x' || substr(md5('ds:' || CAST(u AS VARCHAR) || ':' ||
        |      CAST(p1 AS VARCHAR) || ':' || CAST(p2 AS VARCHAR)), 1, 10))
        |      ::BIGINT < pq * 1048576
        |  GROUP BY p1, p2, n1, n2, pq),
        |sim AS (
        |  SELECT p1, p2,
        |    round(c * 1048576.0 / pq / sqrt(n1 * n2), 6) AS cosine_est
        |  FROM emits),
        |sym AS (
        |  SELECT p1, p2, cosine_est FROM sim
        |  UNION ALL
        |  SELECT p2 AS p1, p1 AS p2, cosine_est FROM sim),
        |rk AS (
        |  SELECT p1, p2, cosine_est, row_number() OVER (
        |    PARTITION BY p1 ORDER BY cosine_est DESC, p2) AS rank
        |  FROM sym)
        |SELECT p1 AS part, CAST(rank AS INT) AS rank, p2 AS similar,
        |  cosine_est
        |FROM rk WHERE rank <= 3 ORDER BY part, rank""".stripMargin,

    // the identical 60-bit hashes, the identical k-smallest sketches
    // and union/intersection estimates — list algebra in DuckDB,
    // array algebra in Spark, same integers throughout
    "q217_kmv_set_overlap" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type AS et, user_id,
        |    CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        |  FROM events),
        |uh AS (
        |  SELECT et, user_id, d,
        |    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)
        |      || ':' || d), 1, 15))::BIGINT AS h
        |  FROM u),
        |nex AS (SELECT et, count(*) AS n FROM uh GROUP BY et),
        |sk AS (
        |  SELECT et, list(h ORDER BY h) AS sk FROM (
        |    SELECT et, h, row_number() OVER (
        |      PARTITION BY et ORDER BY h, user_id, d) AS rn
        |    FROM uh) WHERE rn <= 1024 GROUP BY et),
        |pr AS (
        |  SELECT a.et AS et_a, b.et AS et_b, a.sk AS ska, b.sk AS skb,
        |    list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:1024] AS mk
        |  FROM sk a JOIN sk b ON a.et < b.et),
        |est AS (
        |  SELECT et_a, et_b, len(mk) AS kk, mk[len(mk)] AS dk,
        |    len(list_intersect(mk, list_intersect(ska, skb))) AS shared
        |  FROM pr),
        |est2 AS (
        |  SELECT et_a, et_b, kk, shared,
        |    CASE WHEN kk < 1024 THEN kk::DOUBLE
        |      ELSE 1023.0 * 1152921504606846976::DOUBLE / dk END
        |      AS est_union
        |  FROM est),
        |ex AS (
        |  SELECT a.et AS et_a, b.et AS et_b, count(*) AS exact_common
        |  FROM uh a JOIN uh b
        |    ON a.user_id = b.user_id AND a.d = b.d AND a.et < b.et
        |  GROUP BY 1, 2)
        |SELECT e.et_a, e.et_b, na.n AS n_a, nb.n AS n_b,
        |  ex.exact_common,
        |  CAST(round(e.shared::DOUBLE / e.kk * e.est_union) AS BIGINT)
        |    AS est_common,
        |  round(e.shared::DOUBLE / e.kk, 6) AS est_jaccard,
        |  abs(CAST(round(e.shared::DOUBLE / e.kk * e.est_union)
        |      AS BIGINT) - ex.exact_common)::DOUBLE
        |    <= greatest(ex.exact_common * 0.15, 50.0) AS within_tol
        |FROM est2 e
        |JOIN ex ON ex.et_a = e.et_a AND ex.et_b = e.et_b
        |JOIN nex na ON na.et = e.et_a
        |JOIN nex nb ON nb.et = e.et_b
        |ORDER BY 1, 2""".stripMargin,

    // q211's cap CTE feeding q214's draw/estimator CTEs — both
    // deterministic draws replayed
    "q227_item_item_cf_capped_dimsum" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |capped AS (
        |  SELECT u, p FROM (
        |    SELECT u, p, row_number() OVER (PARTITION BY u ORDER BY
        |      ('0x' || substr(md5('cap:' || CAST(u AS VARCHAR) || ':' ||
        |        CAST(p AS VARCHAR)), 1, 15))::BIGINT, p) AS rk
        |    FROM pos) WHERE rk <= 8),
        |nu AS (SELECT p, count(*) AS n FROM capped GROUP BY p),
        |pairs AS (
        |  SELECT a.u, a.p AS p1, n1.n AS n1, b.p AS p2, n2.n AS n2
        |  FROM capped a JOIN capped b ON a.u = b.u AND a.p < b.p
        |  JOIN nu n1 ON n1.p = a.p JOIN nu n2 ON n2.p = b.p),
        |q AS (
        |  SELECT u, p1, n1, p2, n2,
        |    CAST(round(least(1.0, 8.0 / sqrt(n1 * n2)) * 1048576)
        |      AS BIGINT) AS pq
        |  FROM pairs),
        |emits AS (
        |  SELECT p1, p2, n1, n2, pq, count(*) AS c
        |  FROM q
        |  WHERE ('0x' || substr(md5('ds:' || CAST(u AS VARCHAR) || ':' ||
        |      CAST(p1 AS VARCHAR) || ':' || CAST(p2 AS VARCHAR)), 1, 10))
        |      ::BIGINT < pq * 1048576
        |  GROUP BY p1, p2, n1, n2, pq),
        |sim AS (
        |  SELECT p1, p2,
        |    round(c * 1048576.0 / pq / sqrt(n1 * n2), 6) AS cosine_est
        |  FROM emits),
        |sym AS (
        |  SELECT p1, p2, cosine_est FROM sim
        |  UNION ALL
        |  SELECT p2 AS p1, p1 AS p2, cosine_est FROM sim),
        |rk AS (
        |  SELECT p1, p2, cosine_est, row_number() OVER (
        |    PARTITION BY p1 ORDER BY cosine_est DESC, p2) AS rank
        |  FROM sym)
        |SELECT p1 AS part, CAST(rank AS INT) AS rank, p2 AS similar,
        |  cosine_est
        |FROM rk WHERE rank <= 3 ORDER BY part, rank""".stripMargin,

    // the same 5 MM rounds as chained MATERIALIZED CTEs; every
    // division is BIGINT floor division (//), so both engines walk
    // the identical integer strength trajectory
    "q230_bradley_terry" -> {
      def mmRound(j: Int): String =
        s"""s$j AS MATERIALIZED (
           |  SELECT it.ty,
           |    CAST((it.w * 1000000000000) // d.dn AS BIGINT) AS st
           |  FROM items it JOIN (
           |    SELECT dd.i AS ty, CAST(sum(
           |        (dd.n * 1000000000000) // (si.st + sj.st))
           |      AS BIGINT) AS dn
           |    FROM dd JOIN s${j - 1} si ON si.ty = dd.i
           |            JOIN s${j - 1} sj ON sj.ty = dd.j
           |    GROUP BY dd.i) d USING (ty)),""".stripMargin
      // INDEPENDENT duel derivation (round-9 verdict item 4): the MM
      // trajectory replay is the contract (identical floored-integer
      // rounds), but the engine builds its inputs through a
      // win/lose CASE -> undirected nij -> union-to-directed chain;
      // this oracle never forms a duel or nij table — wins, matches
      // and the directed duel-count table all come STRAIGHT off the
      // per-user count table with asymmetric join predicates
      // (a.c > b.c for wins, a.c <> b.c both orientations for dd).
      """WITH pu AS MATERIALIZED (
        |  SELECT user_id, event_type AS ty, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |dd AS MATERIALIZED (
        |  SELECT a.ty AS i, b.ty AS j, count(*) AS n
        |  FROM pu a JOIN pu b ON a.user_id = b.user_id
        |    AND a.ty <> b.ty AND a.c <> b.c
        |  GROUP BY 1, 2),
        |wins AS (
        |  SELECT a.ty, CAST(count(*) AS BIGINT) AS w
        |  FROM pu a JOIN pu b ON a.user_id = b.user_id
        |    AND a.ty <> b.ty AND a.c > b.c
        |  GROUP BY 1),
        |items AS MATERIALIZED (
        |  SELECT m.ty, COALESCE(w.w, 0) AS w, m.m
        |  FROM (SELECT i AS ty, CAST(sum(n) AS BIGINT) AS m
        |        FROM dd GROUP BY 1) m
        |  LEFT JOIN wins w USING (ty)),
        |s0 AS MATERIALIZED (
        |  SELECT ty, CAST(1000000 AS BIGINT) AS st FROM items),
        |""".stripMargin +
        (1 to 5).map(mmRound).mkString("\n") +
        """
          |ranked AS (
          |  SELECT row_number() OVER (ORDER BY s5.st DESC, s5.ty)
          |      AS rank,
          |    s5.ty AS event_type, items.w AS wins, items.m AS matches,
          |    s5.st AS strength_micro
          |  FROM s5 JOIN items ON items.ty = s5.ty)
          |SELECT CAST(rank AS INT) AS rank, event_type, wins, matches,
          |  strength_micro
          |FROM ranked ORDER BY rank""".stripMargin
    },

    // the same two coarsening levels and l = 3 distinct-seg floor
    "q235_l_diversity" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS balb,
        |    c_mktsegment AS seg
        |  FROM customer),
        |g0 AS (SELECT nat, balb, count(DISTINCT seg) AS d,
        |         count(*) AS n
        |       FROM c GROUP BY nat, balb),
        |g1 AS (SELECT nat, count(DISTINCT seg) AS d, count(*) AS n
        |       FROM c GROUP BY nat)
        |SELECT 0 AS level, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
        |    AS risky_rows
        |FROM g0
        |UNION ALL
        |SELECT 1, count(*),
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
        |FROM g1
        |ORDER BY level""".stripMargin,

    // independent formulation: an explicit |Δt|-bounded range join
    // ranked by (|Δt|, direction, click id) — not the engine's
    // union-then-window path
    "q237_nearest_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
        |  FROM events),
        |p AS (SELECT user_id, event_id AS pid, tus AS pt FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(event_id) AS cid, tus AS ct FROM e
        |      WHERE event_type = 'click' GROUP BY user_id, tus),
        |cand AS (
        |  SELECT p.pid, p.user_id, c.cid, c.ct - p.pt AS delta,
        |    abs(c.ct - p.pt) AS adist
        |  FROM p JOIN c ON p.user_id = c.user_id
        |  WHERE abs(c.ct - p.pt) <= 1800000000),
        |best AS (
        |  SELECT pid, user_id, cid, delta, row_number() OVER (
        |    PARTITION BY pid
        |    ORDER BY adist, CASE WHEN delta <= 0 THEN 0 ELSE 1 END,
        |      cid) AS rn
        |  FROM cand)
        |SELECT pid AS purchase_id, user_id, cid AS click_id,
        |  delta AS delta_us
        |FROM best WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // final content closed-form (base + appended + the %7 upsert
    // bump); legacy_dirs = months of the original slice holding no
    // upserted key; final_version = the 4 commits (0-based)
    "q241_partition_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey AS pid,
        |    substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
        |    o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) + CASE
        |      WHEN o_orderkey <= 400 AND o_orderkey % 7 = 0 THEN 1000
        |      ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey <= 500),
        |leg AS (
        |  SELECT count(*) AS legacy_dirs FROM (
        |    SELECT month FROM base WHERE pid <= 400
        |    GROUP BY month
        |    HAVING sum(CASE WHEN pid % 7 = 0 THEN 1 ELSE 0 END) = 0))
        |SELECT prio, count(*) AS n, CAST(sum(cents) AS BIGINT)
        |    AS sum_cents,
        |  CAST(3 AS BIGINT) AS final_version,
        |  CAST(l.legacy_dirs AS BIGINT) AS legacy_dirs
        |FROM base, leg l
        |GROUP BY prio, l.legacy_dirs ORDER BY prio""".stripMargin,

    // final content = the source snapshot itself; I/U/D closed-form
    // from the key predicates; final_version = overwrite+evolve+sync
    "q242_merge_sync" ->
      """WITH src AS (
        |  SELECT o_orderkey AS pid, o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) + CASE
        |      WHEN o_orderkey % 3 = 0 THEN 777 ELSE 0 END AS cents
        |  FROM orders
        |  WHERE o_orderkey < 500 AND o_orderkey % 5 <> 0),
        |c AS (
        |  SELECT
        |    (SELECT count(*) FROM orders WHERE o_orderkey >= 400
        |       AND o_orderkey < 500 AND o_orderkey % 5 <> 0)
        |      AS inserted,
        |    (SELECT count(*) FROM orders WHERE o_orderkey < 400
        |       AND o_orderkey % 5 <> 0 AND o_orderkey % 3 = 0)
        |      AS updated,
        |    (SELECT count(*) FROM orders WHERE o_orderkey < 400
        |       AND o_orderkey % 5 = 0) AS deleted)
        |SELECT prio, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(c.inserted AS BIGINT) AS inserted,
        |  CAST(c.updated AS BIGINT) AS updated,
        |  CAST(c.deleted AS BIGINT) AS deleted,
        |  CAST(2 AS BIGINT) AS final_version
        |FROM src, c
        |GROUP BY prio, c.inserted, c.updated, c.deleted
        |ORDER BY prio""".stripMargin,

    // final content closed-form: pre-evolution rows read the default,
    // appended rows carry 'done', the %9 upsert bumps cents but the
    // conformance writes the default state back in
    "q251_schema_evolution_cow" ->
      """WITH rows_ AS (
        |  SELECT o_orderkey AS pid,
        |    CASE WHEN o_orderkey > 400 THEN 'done'
        |      ELSE 'pending' END AS review_state,
        |    CAST(round(o_totalprice * 100) AS BIGINT) + CASE
        |      WHEN o_orderkey <= 400 AND o_orderkey % 9 = 0 THEN 555
        |      ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey <= 500)
        |SELECT review_state, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(3 AS BIGINT) AS final_version,
        |  CAST(0 AS BIGINT) AS v0_has_column
        |FROM rows_ GROUP BY review_state
        |ORDER BY review_state""".stripMargin,

    // the same rollup-then-rank-then-fold
    "q243_topk_other_rollup" ->
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY source, lang),
        |r AS (
        |  SELECT source, lang, n, chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n DESC, lang) AS rk
        |  FROM g)
        |SELECT source,
        |  CASE WHEN rk <= 2 THEN lang ELSE 'OTHER' END AS bucket,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY source, bucket
        |ORDER BY source, bucket""".stripMargin,

    // the absorbing chain SOLVED as a recursive FIXPOINT, not a
    // round-count replay: the discretized operator is monotone on the
    // integer-micro lattice, so iterating from bottom converges to
    // its unique least fixed point in finitely many rounds (~60 at
    // sf0.01) and is then idempotent — a 500-round recursion returns
    // the converged vector no matter how many rounds the engine took
    // (the q168 argument). Absorbing states ride as self-loop rows so
    // the recursive member needs exactly one reference to the
    // iteration table; the removed channel's value is forced 0 inside
    // the same member.
    "q244_markov_removal_attribution" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'conv'
        |      ELSE event_type END AS st
        |  FROM events),
        |fp AS MATERIALIZED (
        |  SELECT user_id, ts AS fts, event_id AS fid FROM (
        |    SELECT user_id, ts, event_id, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |    FROM e WHERE st = 'conv') WHERE rk = 1),
        |j AS MATERIALIZED (
        |  SELECT q.*, lead(st) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM (
        |    SELECT e.user_id, e.ts, e.event_id, e.st
        |    FROM e LEFT JOIN fp ON fp.user_id = e.user_id
        |    WHERE fp.user_id IS NULL
        |      OR (e.ts, e.event_id) <= (fp.fts, fp.fid)) q),
        |ed AS MATERIALIZED (
        |  SELECT cur, t AS nxt, count(*) AS n FROM (
        |    SELECT 'start' AS cur, st AS t FROM j WHERE rn = 1
        |    UNION ALL SELECT st, nxt FROM j WHERE nxt IS NOT NULL
        |    UNION ALL SELECT st, 'null' FROM j
        |      WHERE nxt IS NULL AND st <> 'conv')
        |  GROUP BY cur, t),
        |pm AS MATERIALIZED (
        |  SELECT ed.cur, ed.nxt,
        |    CAST((ed.n * 1000000) // t.tot AS BIGINT) AS pm
        |  FROM ed JOIN (SELECT cur, CAST(sum(n) AS BIGINT) AS tot
        |                FROM ed GROUP BY cur) t USING (cur)
        |  UNION ALL SELECT 'conv', 'conv', CAST(1000000 AS BIGINT)
        |  UNION ALL SELECT 'null', 'null', CAST(1000000 AS BIGINT)),
        |sts AS MATERIALIZED (
        |  SELECT DISTINCT st FROM (
        |    SELECT cur AS st FROM pm UNION ALL SELECT nxt FROM pm)),
        |scen(rem) AS (
        |  VALUES (NULL), ('click'), ('error'), ('signup'), ('view')),
        |it AS (
        |  SELECT 0 AS r, scen.rem, sts.st,
        |    CAST(CASE WHEN sts.st = 'conv' THEN 1000000 ELSE 0 END
        |      AS BIGINT) AS x
        |  FROM scen, sts
        |  UNION ALL
        |  SELECT it.r + 1, it.rem, pm.cur AS st,
        |    CAST(CASE WHEN pm.cur IS NOT DISTINCT FROM it.rem THEN 0
        |         ELSE sum(pm.pm * it.x) // 1000000 END AS BIGINT) AS x
        |  FROM it JOIN pm ON pm.nxt = it.st
        |  WHERE it.r < 500
        |  GROUP BY it.r, it.rem, pm.cur),
        |fin AS (SELECT rem, x FROM it WHERE r = 500 AND st = 'start'),
        |b AS (SELECT x AS base FROM fin WHERE rem IS NULL),
        |effs AS (
        |  SELECT rem AS channel, fin.x AS removal FROM fin
        |  WHERE rem IS NOT NULL),
        |tot AS (
        |  SELECT CAST(sum(greatest(b.base - effs.removal, 0))
        |    AS BIGINT) AS te
        |  FROM effs, b)
        |SELECT effs.channel, b.base AS base_micro,
        |  effs.removal AS removal_micro,
        |  CAST(greatest(b.base - effs.removal, 0) AS BIGINT)
        |    AS effect_micro,
        |  CAST(CASE WHEN tot.te = 0 THEN 0
        |    ELSE (greatest(b.base - effs.removal, 0) * 1000000)
        |      // tot.te END AS BIGINT) AS share_micro
        |FROM effs, b, tot ORDER BY effs.channel""".stripMargin,

    // the same self-anchored horizon and one floor division
    "q252_retention_audit" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |d AS MATERIALIZED (
        |  SELECT strftime(ts, '%Y-%m') AS month,
        |    CASE WHEN ts < m.mx - INTERVAL 10 DAY THEN 1 ELSE 0 END
        |      AS expired
        |  FROM events, m),
        |t AS (SELECT CAST(sum(expired) AS BIGINT) AS te,
        |        count(*) AS tn FROM d)
        |SELECT d.month, count(*) AS n,
        |  CAST(sum(d.expired) AS BIGINT) AS n_expired,
        |  CAST((t.te * 1000000) // t.tn AS BIGINT)
        |    AS expired_share_micro
        |FROM d, t GROUP BY d.month, t.te, t.tn
        |ORDER BY d.month""".stripMargin,

    // the same per-(user, hour) first-2 rule and closing share
    "q253_rate_limit_sim" ->
      """WITH r AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN row_number() OVER (
        |      PARTITION BY user_id, strftime(ts, '%Y-%m-%d-%H')
        |      ORDER BY ts, event_id) <= 2 THEN 1 ELSE 0 END
        |      AS admitted
        |  FROM events),
        |t AS (SELECT CAST(sum(1 - admitted) AS BIGINT) AS tt,
        |        count(*) AS tn FROM r)
        |SELECT r.event_type,
        |  CAST(sum(r.admitted) AS BIGINT) AS n_admitted,
        |  CAST(sum(1 - r.admitted) AS BIGINT) AS n_throttled,
        |  CAST((t.tt * 1000000) // t.tn AS BIGINT)
        |    AS throttled_share_micro
        |FROM r, t GROUP BY r.event_type, t.tt, t.tn
        |ORDER BY r.event_type""".stripMargin,

    // both snapshot states closed-form: the crashed view is step 1
    // (update applied, NO deletes — the orphan commits are invisible);
    // the recovered view removes the %9 rows from both sides. The
    // audit literals are the mechanics the gate measures: crash-window
    // step 1, recovered step 2, and 5 vacuumed manifests (a: v0 + v1
    // + the orphan delete; b: v0 + the orphan delete — the restore
    // commits survive as current).
    "q254_snapshot_crash_recovery" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) + CASE
        |      WHEN o_orderkey % 4 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey <= 200),
        |l AS (
        |  SELECT l_orderkey AS PID,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey),
        |j AS (SELECT o.PID, o.cents, l.qty FROM o JOIN l ON l.PID = o.PID)
        |SELECT 'audit' AS snapshot, CAST(1 AS BIGINT) AS n,
        |  CAST(2 AS BIGINT) AS sum_cents, CAST(5 AS BIGINT) AS sum_qty
        |UNION ALL
        |SELECT 'crashed_view', count(*), CAST(sum(cents) AS BIGINT),
        |  CAST(sum(qty) AS BIGINT) FROM j
        |UNION ALL
        |SELECT 'recovered', count(*), CAST(sum(cents) AS BIGINT),
        |  CAST(sum(qty) AS BIGINT) FROM j WHERE PID % 9 <> 0
        |ORDER BY snapshot""".stripMargin,

    // the same integer variational distance over the same zero-filled
    // group x segment grid, both coarsening levels
    "q255_t_closeness" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS balb,
        |    c_mktsegment AS seg
        |  FROM customer),
        |gl AS (SELECT seg, count(*) AS gs FROM c GROUP BY seg),
        |tot AS (SELECT count(*) AS nn FROM c),
        |g0 AS (SELECT nat, balb, count(*) AS n FROM c GROUP BY 1, 2),
        |s0 AS (SELECT nat, balb, seg, count(*) AS cnt
        |       FROM c GROUP BY 1, 2, 3),
        |t0 AS (
        |  SELECT g.nat, g.balb, g.n,
        |    CAST((sum(abs(COALESCE(s.cnt, 0) * tot.nn - gl.gs * g.n))
        |      * 500000) // (g.n * tot.nn) AS BIGINT) AS tm
        |  FROM g0 g CROSS JOIN gl
        |  LEFT JOIN s0 s
        |    ON s.nat = g.nat AND s.balb = g.balb AND s.seg = gl.seg
        |  CROSS JOIN tot
        |  GROUP BY g.nat, g.balb, g.n, tot.nn),
        |g1 AS (SELECT nat, count(*) AS n FROM c GROUP BY 1),
        |s1 AS (SELECT nat, seg, count(*) AS cnt FROM c GROUP BY 1, 2),
        |t1 AS (
        |  SELECT g.nat, g.n,
        |    CAST((sum(abs(COALESCE(s.cnt, 0) * tot.nn - gl.gs * g.n))
        |      * 500000) // (g.n * tot.nn) AS BIGINT) AS tm
        |  FROM g1 g CROSS JOIN gl
        |  LEFT JOIN s1 s ON s.nat = g.nat AND s.seg = gl.seg
        |  CROSS JOIN tot
        |  GROUP BY g.nat, g.n, tot.nn)
        |SELECT 0 AS level, count(*) AS n_groups, max(tm) AS max_t_micro,
        |  CAST(sum(CASE WHEN tm > 300000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_groups,
        |  CAST(sum(CASE WHEN tm > 300000 THEN n ELSE 0 END) AS BIGINT)
        |    AS risky_rows
        |FROM t0
        |UNION ALL
        |SELECT 1, count(*), max(tm),
        |  CAST(sum(CASE WHEN tm > 300000 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN tm > 300000 THEN n ELSE 0 END) AS BIGINT)
        |FROM t1
        |ORDER BY level""".stripMargin,

    // the same md5-keyed inverse-CDF Laplace draw per cell: identical
    // exact dyadic u, ln rounded once at micro scale
    "q257_dp_laplace_release" ->
      """WITH cells AS (
        |  SELECT event_type, strftime(ts, '%Y-%m') AS month,
        |    count(*) AS tc
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, month, tc,
        |    CAST(round(
        |      -sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) * 1e6)
        |      AS BIGINT) AS noise_micro
        |  FROM (
        |    SELECT *,
        |      CAST(2 * ('0x' || substr(md5('dp:' || event_type || ':' ||
        |          month), 1, 15))::BIGINT + 1 AS DOUBLE)
        |        / 2.0 / 1152921504606846976.0 AS u
        |    FROM cells))
        |SELECT event_type, month,
        |  CAST(tc * 1000000 + noise_micro AS BIGINT) AS released_micro,
        |  abs(noise_micro) AS err_micro
        |FROM d
        |ORDER BY event_type, month""".stripMargin,

    // the same string-exact log2 buckets, the same nearest-rank pick
    // on both arms
    // the EXACT nearest-rank percentile is the oracle's primary (its
    // own value histogram — the audit arm promoted); the sketch
    // estimate is DERIVED from it closed-form, never rebuilt: the
    // covering dyadic bucket of rank r is floor(log2(x_r)), so
    // est = 2^(floor(log2(x_r)) + 1) − 1 — count(v <= 2^(b+1)−1) >= r
    // iff 2^(b+1)−1 >= x_r, so the minimal covering bucket and the
    // exact percentile determine each other
    "q261_dyadic_quantile_sketch" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type AS et,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm
        |  FROM events),
        |n AS (SELECT et, count(*) AS n FROM ev GROUP BY et),
        |ranks AS (
        |  SELECT n.et, n.n, p.p, (n.n * p.p + 99) // 100 AS r
        |  FROM n CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (95), (99))
        |    AS p(p)),
        |hx AS (SELECT et, vm, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |hxc AS (
        |  SELECT et, vm,
        |    CAST(sum(cnt) OVER (PARTITION BY et ORDER BY vm) AS BIGINT)
        |      AS cum
        |  FROM hx),
        |ex AS (
        |  SELECT rk.et, rk.p, rk.n, min(hxc.vm) AS exact_micro
        |  FROM ranks rk JOIN hxc ON hxc.et = rk.et AND hxc.cum >= rk.r
        |  GROUP BY rk.et, rk.p, rk.n)
        |SELECT et AS event_type, p, n,
        |  CAST(pow(2, length(bin(exact_micro))) AS BIGINT) - 1
        |    AS est_micro,
        |  exact_micro,
        |  CAST(((CAST(pow(2, length(bin(exact_micro))) AS BIGINT) - 1
        |    - exact_micro) * 1000000) // exact_micro AS BIGINT)
        |    AS rel_err_micro
        |FROM ex ORDER BY event_type, p""".stripMargin,

    // the answer from the plain range filter; the ledger from
    // per-month datekey extents (a month dir is kept iff its extent
    // intersects the range)
    "q262_zone_map_pruning" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 10000 +
        |      month(CAST(o_orderdate AS DATE)) * 100 +
        |      day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ext AS (
        |  SELECT month, min(dk) AS mn, max(dk) AS mx
        |  FROM o GROUP BY month),
        |led AS (
        |  SELECT count(*) AS dirs_total,
        |    CAST(sum(CASE WHEN mx >= 19960101 AND mn <= 19960315
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dirs_kept
        |  FROM ext)
        |SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(dk) AS min_dk, max(dk) AS max_dk,
        |  led.dirs_total, led.dirs_kept
        |FROM o, led
        |WHERE dk BETWEEN 19960101 AND 19960315
        |GROUP BY led.dirs_total, led.dirs_kept""".stripMargin,

    // surviving rows closed-form; the cascade deletes exactly the
    // child rows of erased parents, nothing inserts or updates,
    // orphans audit to zero, one commit per table
    "q264_cascade_delete" ->
      """WITH p AS (
        |  SELECT o_orderkey AS PID FROM orders WHERE o_orderkey <= 500),
        |c AS (
        |  SELECT DISTINCT l.l_orderkey AS PID, l.l_linenumber AS line
        |  FROM lineitem l JOIN p ON p.PID = l.l_orderkey)
        |SELECT
        |  (SELECT count(*) FROM p WHERE PID % 7 <> 0) AS parent_rows,
        |  (SELECT count(*) FROM c WHERE PID % 7 <> 0) AS child_rows,
        |  (SELECT count(*) FROM c WHERE PID % 7 = 0) AS cascade_deleted,
        |  CAST(0 AS BIGINT) AS cascade_ins_upd,
        |  CAST(0 AS BIGINT) AS orphans,
        |  CAST(1 AS BIGINT) AS parent_version,
        |  CAST(1 AS BIGINT) AS child_version""".stripMargin,

    // the same md5 keystream, the same xor round trip: readable rows
    // decrypt to their original values exactly
    "q267_crypto_shred" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm
        |  FROM events)
        |SELECT
        |  CAST(sum(CASE WHEN user_id % 7 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_readable,
        |  CAST(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_shredded,
        |  CAST(sum(CASE WHEN user_id % 7 <> 0 THEN vm ELSE 0 END)
        |    AS BIGINT) AS sum_decrypted_micro,
        |  CAST(sum(CASE WHEN user_id % 7 <> 0 THEN vm ELSE 0 END)
        |    AS BIGINT) AS sum_original_micro,
        |  CAST(1 AS BIGINT) AS lossless
        |FROM ev""".stripMargin,

    // the same 4-way epoch-aligned window expansion, slot offsets
    // from the corpus's first slot
    "q269_sliding_window" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 21600000000 AS s, event_type
        |  FROM events),
        |w AS (
        |  SELECT s - k.k AS slot, event_type
        |  FROM ev, UNNEST(range(0, 4)) AS k(k)),
        |base AS (SELECT min(slot) AS s0 FROM w)
        |SELECT CAST(w.slot - base.s0 AS BIGINT) AS slot_off,
        |  event_type, count(*) AS n
        |FROM w, base GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the end state closed-form: %5 keys deleted logically, the %25
    // subset re-inserted with +7 cents; zero dirs rewritten by the
    // delete, zero live vectors after compaction
    "q271_deletion_vectors" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |surv AS (
        |  SELECT PID, cents FROM o WHERE PID % 5 <> 0
        |  UNION ALL
        |  SELECT PID, cents + 7 FROM o WHERE PID % 25 = 0)
        |SELECT (SELECT count(*) FROM o) AS n_initial,
        |  (SELECT count(*) FROM o WHERE PID % 5 <> 0) AS n_after_dv,
        |  CAST(1 AS BIGINT) AS no_dir_rewritten,
        |  count(*) AS n_final,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents_final,
        |  CAST(0 AS BIGINT) AS dv_files_after_compact
        |FROM surv""".stripMargin,

    // both tagged states closed-form: baseline = the original slice,
    // release = +50 on %3 keys minus the %11 keys; the untagged
    // middle version is gone
    "q272_version_tags" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey <= 400),
        |rel AS (
        |  SELECT PID, cents + CASE WHEN PID % 3 = 0 THEN 50 ELSE 0 END
        |      AS cents
        |  FROM o WHERE PID % 11 <> 0)
        |SELECT
        |  (SELECT count(*) FROM o) AS baseline_n,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS baseline_cents,
        |  count(*) AS release_n,
        |  CAST(sum(cents) AS BIGINT) AS release_cents,
        |  CAST(1 AS BIGINT) AS untagged_reclaimed
        |FROM rel""".stripMargin,

    // the planted artifacts counted exactly, zero after vacuum, rows
    // untouched (+1 cent on the %10 keys from the superseding upsert)
    "q273_orphan_audit" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) +
        |      CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey <= 300)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(1 AS BIGINT) AS orphan_dirs_before,
        |  CAST(1 AS BIGINT) AS dead_manifests_before,
        |  CAST(1 AS BIGINT) AS stage_dirs_before,
        |  CAST(0 AS BIGINT) AS dead_dvs_before,
        |  CAST(0 AS BIGINT) AS orphans_after
        |FROM o""".stripMargin,

    // both joined snapshot states closed-form: step 2 = A after the
    // %4 update × B after the %3 update (no deletes); step 3 = the
    // same minus the %9 rows on BOTH sides
    "q226_snapshot_consistent_read" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) + CASE
        |      WHEN o_orderkey % 4 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey <= 400),
        |l AS (
        |  SELECT l_orderkey AS PID,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) + CASE
        |      WHEN l_orderkey % 3 = 0 THEN 5 ELSE 0 END AS qty
        |  FROM lineitem WHERE l_orderkey <= 400 GROUP BY l_orderkey),
        |j AS (SELECT o.PID, o.cents, l.qty FROM o JOIN l ON l.PID = o.PID),
        |s2 AS (
        |  SELECT 'step2' AS snapshot, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    CAST(sum(cents * qty) AS BIGINT) AS sum_cross
        |  FROM j),
        |s3 AS (
        |  SELECT 'step3' AS snapshot, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    CAST(sum(cents * qty) AS BIGINT) AS sum_cross
        |  FROM j WHERE PID % 9 <> 0)
        |SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |ORDER BY snapshot""".stripMargin,

    // the same exact per-arm integer sums, the same division order
    "q224_diff_in_diff" ->
      """WITH u AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS arm,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT arm, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM u GROUP BY arm),
        |p AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_treat,
        |    CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_ctrl,
        |    CAST(sum(CASE WHEN arm = 1 THEN sx END) AS BIGINT) AS pre_t,
        |    CAST(sum(CASE WHEN arm = 1 THEN sy END) AS BIGINT) AS post_t,
        |    CAST(sum(CASE WHEN arm = 0 THEN sx END) AS BIGINT) AS pre_c,
        |    CAST(sum(CASE WHEN arm = 0 THEN sy END) AS BIGINT) AS post_c
        |  FROM a)
        |SELECT n_treat, n_ctrl,
        |  round(pre_t / n_treat, 6) AS mean_pre_t,
        |  round(post_t / n_treat, 6) AS mean_post_t,
        |  round(pre_c / n_ctrl, 6) AS mean_pre_c,
        |  round(post_c / n_ctrl, 6) AS mean_post_c,
        |  round((post_t / n_treat - pre_t / n_treat)
        |    - (post_c / n_ctrl - pre_c / n_ctrl), 6) AS did_cents
        |FROM p""".stripMargin,

    // the same histogram thresholds (cum·20 >= n / 19n) and clipped
    // integer sums; the oracle may use the plain per-type window
    "q225_winsorized_metrics" ->
      """WITH h AS (
        |  SELECT event_type AS et,
        |    CAST(round(value * 1e6) AS BIGINT) AS v, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT et, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY et ORDER BY v) AS BIGINT)
        |      AS cum
        |  FROM h),
        |n AS (SELECT et, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY et),
        |lo AS (
        |  SELECT c.et, min(v) AS lo FROM c JOIN n ON n.et = c.et
        |  WHERE cum * 20 >= n GROUP BY c.et),
        |hi AS (
        |  SELECT c.et, min(v) AS hi FROM c JOIN n ON n.et = c.et
        |  WHERE cum * 20 >= n * 19 GROUP BY c.et)
        |SELECT h.et AS event_type, n.n,
        |  lo.lo AS p05_micro, hi.hi AS p95_micro,
        |  round(CAST(sum(least(greatest(h.v, lo.lo), hi.hi) * h.cnt)
        |    AS BIGINT) / (n.n * 1e6), 6) AS winsorized_mean,
        |  round(CAST(sum(h.v * h.cnt) AS BIGINT) / (n.n * 1e6), 6)
        |    AS raw_mean
        |FROM h JOIN lo ON lo.et = h.et JOIN hi ON hi.et = h.et
        |JOIN n ON n.et = h.et
        |GROUP BY h.et, n.n, lo.lo, hi.hi
        |ORDER BY event_type""".stripMargin,

    // the same per-day registers, 7-offset calendar merge, q136
    // estimator
    "q222_hll_trailing_distinct" ->
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS h32
        |  FROM events),
        |r AS (
        |  SELECT day, h32 % 64 AS bucket,
        |    max(CASE WHEN h32 // 64 = 0 THEN 27
        |        ELSE 26 - CAST(floor(log2(h32 // 64)) AS BIGINT) END)
        |      AS register
        |  FROM h GROUP BY day, bucket),
        |probes AS (
        |  SELECT d.day AS tday, d.day - CAST(t.off AS INTEGER) AS day
        |  FROM (SELECT DISTINCT day FROM r) d,
        |    UNNEST(range(0, 7)) AS t(off)),
        |merged AS (
        |  SELECT p.tday, r.bucket, max(r.register) AS register
        |  FROM probes p JOIN r ON r.day = p.day
        |  GROUP BY p.tday, r.bucket),
        |sk AS (
        |  SELECT tday, count(*) AS n_buckets,
        |    bit_xor(bucket * 100 + register) AS reg_xor,
        |    sum(power(2.0, -register)) AS ssum
        |  FROM merged GROUP BY tday),
        |est AS (
        |  SELECT tday, n_buckets, reg_xor,
        |    64.0 - n_buckets AS v,
        |    (0.709 * 64 * 64) / (ssum + (64.0 - n_buckets)) AS raw
        |  FROM sk),
        |ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |       FROM events),
        |ex AS (
        |  SELECT p.tday, count(DISTINCT ud.user_id) AS exact_distinct
        |  FROM probes p JOIN ud ON ud.day = p.day
        |  GROUP BY p.tday)
        |SELECT est.tday AS day, n_buckets, reg_xor,
        |  round(CASE WHEN v > 0 AND raw <= 160.0
        |        THEN 64.0 * ln(64.0 / v) ELSE raw END, 6) AS est_distinct,
        |  exact_distinct
        |FROM est JOIN ex ON ex.tday = est.tday
        |ORDER BY day""".stripMargin,

    // INDEPENDENT derivation (round-9 verdict item 4): the engine
    // iterates h1 -> a1 -> h2 -> a2 through four edge-keyed joins;
    // this oracle never forms the h2/a2 chain — it goes through the
    // PROJECTION matrices instead. Identities: h2(u) = Σ_{u'}
    // C(u,u')·deg(u') where C is the user-user common-part count
    // (AᵀA), and a2(p) = Σ_{p'} W(p,p')·a1(p') where W is the
    // part-part co-buyer count (AAᵀ) — the matrix-power view of HITS
    // (Kleinberg 1999 §3), sharing only the edge table and the a1
    // base with the engine's iterated form. All-integer until the
    // one-shot normalization.
    "q219_hits" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |degu AS (SELECT u, count(*) AS d FROM e GROUP BY u),
        |a1 AS MATERIALIZED (
        |  SELECT e.p, CAST(sum(degu.d) AS BIGINT) AS a1
        |  FROM e JOIN degu ON degu.u = e.u GROUP BY e.p),
        |cuu AS (
        |  SELECT x.u AS u, y.u AS u2, count(*) AS c
        |  FROM e x JOIN e y ON y.p = x.p GROUP BY x.u, y.u),
        |h2 AS MATERIALIZED (
        |  SELECT cuu.u, CAST(sum(cuu.c * degu.d) AS BIGINT) AS h2
        |  FROM cuu JOIN degu ON degu.u = cuu.u2 GROUP BY cuu.u),
        |wpp AS (
        |  SELECT x.p AS p, y.p AS p2, count(*) AS c
        |  FROM e x JOIN e y ON y.u = x.u GROUP BY x.p, y.p),
        |a2 AS MATERIALIZED (
        |  SELECT wpp.p, CAST(sum(wpp.c * a1.a1) AS BIGINT) AS a2
        |  FROM wpp JOIN a1 ON a1.p = wpp.p2 GROUP BY wpp.p),
        |am AS (SELECT max(a2) AS am FROM a2),
        |hm AS (SELECT max(h2) AS hm FROM h2),
        |ta AS (
        |  SELECT 'authority' AS role, p AS id, a2 AS raw,
        |    round(a2 / am.am, 6) AS score
        |  FROM a2, am ORDER BY raw DESC, id LIMIT 10),
        |th AS (
        |  SELECT 'hub' AS role, u AS id, h2 AS raw,
        |    round(h2 / hm.hm, 6) AS score
        |  FROM h2, hm ORDER BY raw DESC, id LIMIT 10)
        |SELECT * FROM ta
        |UNION ALL
        |SELECT * FROM th
        |ORDER BY role, raw DESC, id""".stripMargin,

    // the closed-form merge result: deletes removed, updates mutated,
    // inserts appended; cdc_rows = post-merge rows of months touched
    // by any op
    "q218_cdc_merge_apply" ->
      """WITH src AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey <= 600),
        |fin AS (
        |  SELECT PID, month,
        |    CASE WHEN PID % 4 = 0 THEN 'X' ELSE status END AS status,
        |    CASE WHEN PID % 4 = 0 THEN cents + 10000 ELSE cents END
        |      AS cents
        |  FROM src WHERE PID % 9 <> 0
        |  UNION ALL
        |  SELECT PID + 100000, month, status, cents FROM src
        |  WHERE PID % 25 = 0),
        |tm AS (
        |  SELECT DISTINCT month FROM src
        |  WHERE PID % 9 = 0 OR PID % 4 = 0 OR PID % 25 = 0),
        |cdc AS (
        |  SELECT count(*) AS cdc_rows FROM fin
        |  WHERE month IN (SELECT month FROM tm))
        |SELECT status, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(PID) AS min_pid, max(PID) AS max_pid,
        |  CAST(2 AS BIGINT) AS versions, cdc.cdc_rows
        |FROM fin, cdc
        |GROUP BY status, cdc.cdc_rows ORDER BY status""".stripMargin,

    // the engine's end state closed-form from orders: key presence,
    // payloads, the 3-commit version count, and the step-2 CDC row
    // count (rows of months containing a %3 PID)
    "q215_cow_step_interleave" ->
      """WITH t AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month
        |  FROM orders WHERE o_orderkey <= 400),
        |cdc AS (
        |  SELECT count(*) AS cdc_rows FROM t
        |  WHERE month IN (SELECT DISTINCT month FROM t WHERE PID % 3 = 0)),
        |f AS (
        |  SELECT PID,
        |    CASE WHEN PID % 2 = 0 THEN PID % 97 END AS qf,
        |    CASE WHEN PID % 3 = 0 THEN PID % 89 END AS tf
        |  FROM t)
        |SELECT qf IS NOT NULL AS has_ql, tf IS NOT NULL AS has_tc,
        |  count(*) AS n, CAST(sum(qf) AS BIGINT) AS sum_qf,
        |  CAST(sum(tf) AS BIGINT) AS sum_tf,
        |  min(PID) AS min_pid, max(PID) AS max_pid,
        |  CAST(3 AS BIGINT) AS versions, cdc.cdc_rows
        |FROM f, cdc
        |GROUP BY 1, 2, cdc.cdc_rows ORDER BY 1, 2""".stripMargin,

    // the same md5 cap, the same pairs/cosine/ranking under it
    "q211_item_item_cf_capped" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |capped AS (
        |  SELECT u, p FROM (
        |    SELECT u, p, row_number() OVER (PARTITION BY u ORDER BY
        |      ('0x' || substr(md5('cap:' || CAST(u AS VARCHAR) || ':' ||
        |        CAST(p AS VARCHAR)), 1, 15))::BIGINT, p) AS rk
        |    FROM pos) WHERE rk <= 8),
        |nu AS (SELECT p, count(*) AS n FROM capped GROUP BY p),
        |co AS (
        |  SELECT x.p AS p1, y.p AS p2, count(*) AS c
        |  FROM capped x JOIN capped y ON x.u = y.u AND x.p < y.p
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT co.p1, co.p2,
        |    round(co.c / sqrt(n1.n * n2.n), 6) AS cosine
        |  FROM co JOIN nu n1 ON n1.p = co.p1 JOIN nu n2 ON n2.p = co.p2),
        |bo AS (
        |  SELECT p1, p2, cosine FROM sim
        |  UNION ALL SELECT p2, p1, cosine FROM sim),
        |r AS (
        |  SELECT p1, p2, cosine, row_number() OVER (
        |    PARTITION BY p1 ORDER BY cosine DESC, p2) AS rank
        |  FROM bo)
        |SELECT p1 AS part, CAST(rank AS INT) AS rank, p2 AS similar,
        |  cosine
        |FROM r WHERE rank <= 3 ORDER BY part, rank""".stripMargin,

    // the same two leads over the same (ts, event_id) order
    "q183_top_paths" ->
      """WITH tri AS (
        |  SELECT event_type || '>' ||
        |    lead(event_type, 1) OVER w || '>' ||
        |    lead(event_type, 2) OVER w AS path,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT path FROM tri WHERE e3 IS NOT NULL),
        |t AS (SELECT count(*) AS nt FROM p)
        |SELECT path, count(*) AS n,
        |  round(count(*)::DOUBLE / nt, 6) AS share
        |FROM p, t GROUP BY path, nt
        |ORDER BY n DESC, path LIMIT 10""".stripMargin,

    // the same row-salted md5 cells, the same min-over-d estimate
    "q137_countmin_sketch" ->
      """WITH ev AS (SELECT user_id FROM events),
        |cells AS (
        |  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |      CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS c,
        |    count(*) AS cnt
        |  FROM ev, UNNEST(range(0, 4)) AS t(r)
        |  GROUP BY r, c),
        |exact AS (
        |  SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id),
        |probes AS (
        |  SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT 10),
        |pc AS (
        |  SELECT p.user_id, p.exact_n, t.r,
        |    ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
        |      CAST(p.user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS c
        |  FROM probes p, UNNEST(range(0, 4)) AS t(r))
        |SELECT pc.user_id, pc.exact_n, min(cells.cnt) AS cms_est,
        |  min(cells.cnt) - pc.exact_n AS overest
        |FROM pc JOIN cells ON cells.r = pc.r AND cells.c = pc.c
        |GROUP BY pc.user_id, pc.exact_n
        |ORDER BY exact_n DESC, user_id""".stripMargin,

    // INDEPENDENT enumeration order: id-ordered a<b<c triple join
    // (the engine orients by degree) — both must count every triangle
    // exactly once
    "q138_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (
        |  SELECT part, count(*) AS n_triangles FROM (
        |    SELECT a AS part FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY part),
        |tot AS (SELECT count(*) AS total FROM tri)
        |SELECT part, n_triangles,
        |  (SELECT total FROM tot) AS total_triangles
        |FROM nodes ORDER BY n_triangles DESC, part LIMIT 10""".stripMargin,

    // the same integer-string digit and the ROUNDED expected share
    // feeding chi² (so the transcendental crosses engines only
    // through the 6dp round)
    "q159_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g),
        |e AS (
        |  SELECT digit, n, nt,
        |    round(log10(1.0 + 1.0 / digit), 6) AS expected
        |  FROM g, t)
        |SELECT digit, n, round(n::DOUBLE / nt, 6) AS share, expected,
        |  round((n - expected * nt) * (n - expected * nt)
        |    / (expected * nt), 6) AS chi2_contrib
        |FROM e ORDER BY digit""".stripMargin,

    // the same ranked-shares closed form; row_number mirrors the
    // two-phase rank
    "q158_gini" ->
      """WITH pu AS (
        |  SELECT event_type, user_id, count(*) AS y
        |  FROM events GROUP BY event_type, user_id),
        |r AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY y * 10000000 + user_id) AS i
        |  FROM pu),
        |t AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy
        |  FROM r GROUP BY event_type)
        |SELECT r.event_type, t.n AS n_users,
        |  round(CAST(sum((2 * i - n - 1) * y) AS BIGINT)::DOUBLE
        |    / (n * sy), 6) AS gini
        |FROM r JOIN t ON r.event_type = t.event_type
        |GROUP BY r.event_type, t.n, t.sy
        |ORDER BY r.event_type""".stripMargin,

    // the same lag join and exact sums; sqrt is correctly rounded in
    // both engines
    "q157_lagged_corr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY event_type, day),
        |a AS (
        |  SELECT event_type AS type_a, day, y AS ya, lag,
        |    day + lag::INTEGER AS match_day
        |  FROM daily, UNNEST(range(0, 4)) AS t(lag)),
        |j AS (
        |  SELECT type_a, b.event_type AS type_b, lag, ya, b.y AS yb
        |  FROM a JOIN daily b ON b.day = a.match_day),
        |sums AS (
        |  SELECT type_a, type_b, lag, count(*) AS n_days,
        |    CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb,
        |    CAST(sum(ya * yb) AS BIGINT) AS sab,
        |    CAST(sum(ya * ya) AS BIGINT) AS saa,
        |    CAST(sum(yb * yb) AS BIGINT) AS sbb
        |  FROM j GROUP BY type_a, type_b, lag),
        |d AS (
        |  SELECT type_a, type_b, lag, n_days,
        |    n_days * saa - sa * sa AS dxx,
        |    n_days * sbb - sb * sb AS dyy,
        |    n_days * sab - sa * sb AS dxy
        |  FROM sums)
        |SELECT type_a, type_b, lag, n_days,
        |  round(CASE WHEN dxx = 0 OR dyy = 0 THEN 0.0
        |        ELSE dxy / sqrt(dxx::DOUBLE * dyy::DOUBLE) END, 6) AS corr
        |FROM d ORDER BY type_a, type_b, lag""".stripMargin,

    // the same six integer sums; every division and double cast in the
    // same order
    "q154_ols_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY event_type, day),
        |base AS (SELECT min(day) AS day0 FROM daily),
        |sums AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(datediff('day', day0, day)) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(datediff('day', day0, day) * y) AS BIGINT) AS sxy,
        |    CAST(sum(datediff('day', day0, day) *
        |             datediff('day', day0, day)) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM daily, base GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n,
        |    n * sxx - sx * sx AS dxx,
        |    n * sxy - sx * sy AS dxy,
        |    n * syy - sy * sy AS dyy,
        |    sx, sy
        |  FROM sums)
        |SELECT event_type, n,
        |  round(CASE WHEN dxx = 0 THEN 0.0
        |        ELSE dxy::DOUBLE / dxx END, 6) AS slope,
        |  round((sy - (dxy::DOUBLE / dxx) * sx) / n, 6) AS intercept,
        |  round(CASE WHEN dxx = 0 OR dyy = 0 THEN 0.0
        |        ELSE (dxy::DOUBLE * dxy::DOUBLE) /
        |             (dxx::DOUBLE * dyy::DOUBLE) END, 6) AS r2
        |FROM d ORDER BY event_type""".stripMargin,

    // the same (ts, event_id) walk via window lead
    "q151_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (
        |  SELECT cur, nxt, count(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS tot
        |        FROM pairs GROUP BY cur)
        |SELECT pairs.cur, nxt, n, round(n::DOUBLE / tot, 6) AS p
        |FROM pairs JOIN tot ON pairs.cur = tot.cur
        |ORDER BY pairs.cur, nxt""".stripMargin,

    // the same step integral in exact integer arithmetic
    "q152_twap" ->
      """WITH iv AS (
        |  SELECT user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  round(sum(cents * dt_us)::DOUBLE / sum(dt_us), 6) AS twap_cents
        |FROM iv WHERE dt_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the same hash assignment and integer chi-square arithmetic
    "q144_srm_check" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INTEGER) AS arm,
        |    count(*) AS ne,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT arm, count(*) AS n_users,
        |    CAST(sum(ne) AS BIGINT) AS n_events,
        |    CAST(sum(converted) AS BIGINT) AS n_converted
        |  FROM u GROUP BY arm),
        |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total FROM arms)
        |SELECT arm, n_users, n_events, n_converted,
        |  round(n_converted::DOUBLE / n_users, 6) AS conv_rate,
        |  round(((2 * n_users - n_total) * (2 * n_users - n_total))::DOUBLE
        |    / (2 * n_total), 6) AS chi2_contrib
        |FROM arms, tot ORDER BY arm""".stripMargin,

    // the same odd/even key encoding; running sum as a plain window —
    // the engine's two-phase form must agree. The peak moment is an
    // offset from min(tu), so a constant timestamp-encoding shift
    // between readers cancels
    "q145_peak_concurrency" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS tu FROM events),
        |t0 AS (SELECT min(tu) AS t0 FROM ev),
        |d AS (
        |  SELECT event_type, k, CAST(sum(d) AS BIGINT) AS d FROM (
        |    SELECT event_type, tu * 2 + 1 AS k, 1 AS d FROM ev
        |    UNION ALL
        |    SELECT event_type, (tu + 300000000) * 2 AS k, -1 AS d FROM ev)
        |  GROUP BY event_type, k),
        |r AS (
        |  SELECT event_type, k,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY k) AS run
        |  FROM d),
        |p AS (SELECT event_type, max(run) AS peak FROM r GROUP BY event_type)
        |SELECT r.event_type, CAST(p.peak AS BIGINT) AS peak,
        |  CAST((min(r.k) - 1) // 2 - t0.t0 AS BIGINT) AS peak_offset_us
        |FROM r JOIN p ON r.event_type = p.event_type AND r.run = p.peak, t0
        |GROUP BY r.event_type, p.peak, t0.t0
        |ORDER BY r.event_type""".stripMargin,

    // INDEPENDENT implementation: DuckDB's native ASOF LEFT JOIN with
    // the 7-day tolerance applied as a CASE after the match
    "q146_last_touch_attribution" ->
      """WITH clicks AS (
        |  SELECT user_id, ts AS click_ts, max(event_id) AS cid
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  CASE WHEN clicks.click_ts IS NOT NULL
        |        AND epoch_us(p.ts) - epoch_us(clicks.click_ts)
        |            <= 604800000000 THEN clicks.cid ELSE -1 END AS click_id,
        |  CASE WHEN clicks.click_ts IS NOT NULL
        |        AND epoch_us(p.ts) - epoch_us(clicks.click_ts)
        |            <= 604800000000
        |       THEN (epoch_us(p.ts) - epoch_us(clicks.click_ts)) // 1000000
        |  ELSE -1 END AS age_s
        |FROM p ASOF LEFT JOIN clicks
        |  ON p.user_id = clicks.user_id AND clicks.click_ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,

    // the same basket counts and one-division metrics, rounded before
    // the rank
    "q142_assoc_rules" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |item AS (SELECT p, count(*) AS np FROM li GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS a, b.p AS b, count(*) AS nab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, nab,
        |  round(nab::DOUBLE / n.n_orders, 6) AS support,
        |  round(nab::DOUBLE / ia.np, 6) AS conf_a_b,
        |  round(nab::DOUBLE / ib.np, 6) AS conf_b_a,
        |  round((nab * n.n_orders)::DOUBLE / (ia.np * ib.np), 6) AS lift
        |FROM pairs
        |JOIN item ia ON ia.p = pairs.a
        |JOIN item ib ON ib.p = pairs.b
        |CROSS JOIN n
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,

    // INDEPENDENT formulation: the O(n²) dominance NOT EXISTS — the
    // definition itself, vs the engine's linear prefix-max form
    "q139_skyline" ->
      """SELECT p_partkey, p_retailprice AS price, p_size AS size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice
        |    AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice
        |         OR b.p_size > a.p_size))
        |ORDER BY price, p_partkey""".stripMargin,

    // each superseded state recomputed closed-form
    "q131_time_travel" ->
      """WITH ev AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |v2 AS (
        |  SELECT event_type, day,
        |    CASE WHEN day < '2024-01-11' AND event_type = 'click'
        |         THEN cents * 2 ELSE cents END AS cents
        |  FROM ev)
        |SELECT 'v1_loaded' AS version, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(DISTINCT day) AS n_days FROM ev
        |UNION ALL
        |SELECT 'v2_updated', count(*), CAST(sum(cents) AS BIGINT),
        |  count(DISTINCT day) FROM v2
        |UNION ALL
        |SELECT 'v3_deleted', count(*), CAST(sum(cents) AS BIGINT),
        |  count(DISTINCT day) FROM v2 WHERE event_type <> 'error'
        |ORDER BY version""".stripMargin,

    // the same three power iterations as chained CTEs; the teleport
    // term stays written as (1 - 0.85) so both engines compute the
    // identical IEEE value (a 0.15 literal differs in the last ulp)
    // INDEPENDENT derivation (round-9 verdict item 4): the engine
    // runs teleport-folded power iteration (r_{t+1} = (1−d)/n + d·M
    // r_t); the oracle instead expands the SAME three steps as the
    // Neumann polynomial r3 = (1−d)/n·(1 + d·s1 + d²·s2) + d³/n·s3
    // with s_k = Mᵏ·1 — the teleport constant never re-enters the
    // iteration, so the two computations share no intermediate
    // tables, only the graph. Equality is algebraic; the 6dp round
    // absorbs the differing float-summation groupings.
    "q134_pagerank" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS p, b.p AS q
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p),
        |deg AS (SELECT p, count(*) AS outdeg FROM e GROUP BY p),
        |n AS (SELECT count(*)::DOUBLE AS nn FROM deg),
        |w AS (
        |  SELECT e.p, e.q, 1.0 / d.outdeg AS wt
        |  FROM e JOIN deg d ON d.p = e.p),
        |s1 AS (SELECT q AS p, sum(wt) AS v FROM w GROUP BY q),
        |s2 AS (
        |  SELECT w.q AS p, sum(w.wt * s1.v) AS v
        |  FROM w JOIN s1 ON s1.p = w.p GROUP BY w.q),
        |s3 AS (
        |  SELECT w.q AS p, sum(w.wt * s2.v) AS v
        |  FROM w JOIN s2 ON s2.p = w.p GROUP BY w.q),
        |r AS (
        |  SELECT d.p,
        |    (1 - 0.85) / n.nn * (1 + 0.85 * coalesce(s1.v, 0)
        |      + 0.85 * 0.85 * coalesce(s2.v, 0))
        |    + 0.85 * 0.85 * 0.85 / n.nn * coalesce(s3.v, 0) AS r
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN s1 ON s1.p = d.p
        |  LEFT JOIN s2 ON s2.p = d.p
        |  LEFT JOIN s3 ON s3.p = d.p)
        |SELECT p AS part, round(r * 1000, 6) AS score FROM r
        |ORDER BY score DESC, part LIMIT 20""".stripMargin,

    // the same shift-mask spread, decimal masks, row_number mirror of
    // the two-phase z-position
    "q135_zorder_layout" ->
      """WITH cells AS (
        |  SELECT c_custkey, (c_custkey * 7) % 340 AS x,
        |    c_custkey % 160 AS y
        |  FROM customer),
        |s1 AS (
        |  SELECT c_custkey, x, y,
        |    ((x | (x << 8)) & 16711935) AS xa,
        |    ((y | (y << 8)) & 16711935) AS ya
        |  FROM cells),
        |s2 AS (
        |  SELECT c_custkey, x, y,
        |    ((xa | (xa << 4)) & 252645135) AS xb,
        |    ((ya | (ya << 4)) & 252645135) AS yb
        |  FROM s1),
        |s3 AS (
        |  SELECT c_custkey, x, y,
        |    ((xb | (xb << 2)) & 858993459) AS xc,
        |    ((yb | (yb << 2)) & 858993459) AS yc
        |  FROM s2),
        |s4 AS (
        |  SELECT c_custkey, x, y,
        |    ((xc | (xc << 1)) & 1431655765) AS xd,
        |    ((yc | (yc << 1)) & 1431655765) AS yd
        |  FROM s3),
        |z AS (SELECT c_custkey, x, y, (xd | (yd << 1)) AS z FROM s4),
        |pos AS (
        |  SELECT x, y, z,
        |    row_number() OVER (ORDER BY z * 10000000000 + c_custkey) - 1
        |      AS pos,
        |    count(*) OVER () AS nt
        |  FROM z)
        |SELECT (pos * 16) // nt AS file_id, count(*) AS n_scenes,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y,
        |  CAST(min(z) AS BIGINT) AS z_lo, CAST(max(z) AS BIGINT) AS z_hi
        |FROM pos GROUP BY file_id ORDER BY file_id""".stripMargin,

    // the same 32-bit md5 slice, bucket split, leading-zero count,
    // max-merge, and estimator arithmetic — the dyadic denominator
    // makes the double sums bit-identical in any order
    "q136_hll_sketch" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS h32
        |  FROM events),
        |b AS (
        |  SELECT event_type, h32 % 64 AS bucket, h32 // 64 AS w FROM h),
        |r AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 27
        |        ELSE 26 - CAST(floor(log2(w)) AS BIGINT) END) AS register
        |  FROM b GROUP BY event_type, bucket),
        |sk AS (
        |  SELECT event_type, count(*) AS n_buckets,
        |    bit_xor(bucket * 100 + register) AS reg_xor,
        |    sum(power(2.0, -register)) AS ssum
        |  FROM r GROUP BY event_type),
        |est AS (
        |  SELECT event_type, n_buckets, reg_xor,
        |    64.0 - n_buckets AS v,
        |    (0.709 * 64 * 64) / (ssum + (64.0 - n_buckets)) AS raw
        |  FROM sk),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT est.event_type, n_buckets, reg_xor,
        |  round(CASE WHEN v > 0 AND raw <= 160.0
        |        THEN 64.0 * ln(64.0 / v) ELSE raw END, 6) AS est_distinct,
        |  exact_distinct
        |FROM est JOIN ex ON est.event_type = ex.event_type
        |ORDER BY est.event_type""".stripMargin,

    // the same canonical integer-only row string, the same XOR fold
    "q132_table_checksum" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows,
        |  bit_xor(('0x' || substr(md5(
        |    event_id || '|' || user_id || '|' || event_type || '|' ||
        |    epoch_us(ts) || '|' || CAST(round(value * 100) AS BIGINT)),
        |    1, 15))::BIGINT) AS xor_hash
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // full recompute with the mutation applied closed-form — the
    // maintained view must be indistinguishable from it
    "q130_incremental_agg" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |upd AS (
        |  SELECT event_type, day,
        |    CASE WHEN day < '2024-01-11' AND event_type = 'click'
        |         THEN cents * 2 ELSE cents END AS cents
        |  FROM ev),
        |chg AS (
        |  SELECT count(DISTINCT day) AS n_changed
        |  FROM ev WHERE day < '2024-01-11' AND event_type = 'click')
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(DISTINCT day) AS n_days,
        |  (SELECT n_changed FROM chg) AS n_changed_days
        |FROM upd GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q122_key_skew_histogram" ->
      """WITH counts AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts)
        |SELECT length(bin(n)) - 1 AS bucket,
        |  count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(max(n) AS BIGINT) AS max_key_events,
        |  round(sum(n)::DOUBLE / any_value(tot.tot), 6) AS pct_events
        |FROM counts, tot GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q124_session_stats" ->
      """WITH g AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id,
        |    lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
        |      ORDER BY ts::TIMESTAMP, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |         OR date_diff('second', prev, ts) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM g),
        |sids AS (
        |  SELECT user_id, ts,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |    date_diff('second', min(ts), max(ts)) AS dur
        |  FROM sids GROUP BY user_id, sid)
        |SELECT length(bin(n_events)) - 1 AS bucket,
        |  count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(max(dur) AS BIGINT) AS max_dur_s,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_s
        |FROM sess GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q49_s1_incidence" ->
      """WITH s1 AS (
        |  SELECT o_orderkey AS pid,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'Sentinel-1A'
        |         ELSE 'Sentinel-1B' END AS platform,
        |    CAST(o_orderkey % 175 AS INT) AS rel_orbit,
        |    o_orderkey % 4600 AS inc_centi,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'VV VH' ELSE 'HH' END
        |      AS polarization,
        |    o_orderdate AS acquisition_date
        |  FROM orders)
        |SELECT rel_orbit, count(*) AS n,
        |  CAST(sum(inc_centi) AS BIGINT) AS sum_inc,
        |  CAST(max(acquisition_date) AS DATE) AS latest
        |FROM s1
        |WHERE inc_centi / 100.0 BETWEEN 30.0 AND 46.0
        |  AND platform = 'Sentinel-1A' AND polarization = 'VV VH'
        |GROUP BY rel_orbit ORDER BY rel_orbit""".stripMargin,

    "q36_strict_date_range" ->
      """SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n FROM orders
        |WHERE o_orderdate > TIMESTAMP '1997-03-15'
        |  AND o_orderdate < TIMESTAMP '1997-04-15'
        |GROUP BY d ORDER BY d""".stripMargin,

    "q37_top1_watermark" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS latest FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1""".stripMargin,

    "q38_key_allocation" ->
      """SELECT c_custkey, c_name,
        |  (SELECT max(o_orderkey) FROM orders) +
        |    row_number() OVER (ORDER BY c_custkey) AS new_pid
        |FROM customer WHERE c_custkey <= 10
        |ORDER BY c_custkey""".stripMargin,

    "q39_existence" ->
      """SELECT
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) > 0 AS has_pending,
        |  count(CASE WHEN o_totalprice > 1000000 THEN 1 END) > 0 AS has_huge,
        |  count(*) > 0 AS has_any
        |FROM orders""".stripMargin,

    // NB: DuckDB strptime's %Y is greedy and misparses '%Y%j', so the
    // oracle decodes yyyyDDD with substring arithmetic instead.
    "q40_dayofyear_parse" ->
      """WITH f AS (
        |  SELECT o_orderdate,
        |    'GRAN_' || strftime(o_orderdate, '%Y%j') || '_' || o_orderkey AS fname
        |  FROM orders),
        |p AS (
        |  SELECT o_orderdate,
        |    regexp_extract(fname, 'GRAN_([0-9]{7})_', 1) AS yj
        |  FROM f)
        |SELECT make_date(CAST(substr(yj, 1, 4) AS INT), 1, 1) +
        |    (CAST(substr(yj, 5, 3) AS INT) - 1)
        |    = CAST(o_orderdate AS DATE) AS roundtrip_ok,
        |  count(*) AS n
        |FROM p GROUP BY roundtrip_ok ORDER BY roundtrip_ok""".stripMargin,

    "q41_when_chain_derivation" ->
      """SELECT
        |  CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 'T0'
        |       WHEN o_orderpriority LIKE '%HIGH%' THEN 'T1'
        |       WHEN o_orderpriority LIKE '%MEDIUM%' THEN 'T2'
        |       ELSE 'T3' END AS tier,
        |  CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1
        |       WHEN o_orderpriority LIKE '%HIGH%' THEN 3
        |       WHEN o_orderpriority LIKE '%MEDIUM%' THEN 7
        |       ELSE 30 END AS sla_days,
        |  count(*) AS n
        |FROM orders GROUP BY tier, sla_days ORDER BY tier""".stripMargin,

    "q42_grouped_collect" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(DISTINCT l_linenumber)), ',')
        |    AS line_numbers,
        |  count(*) AS n_lines
        |FROM lineitem WHERE l_orderkey <= 100
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q43_hourly_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,

    "q44_json_roundtrip" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Closed-form end state: download ok ⇔ pid%7≠0; ard ran only on
    // downloaded rows, ok ⇔ pid%5≠0; two audit rows (one per step).
    "q58_step_runner_state" ->
      """WITH t AS (
        |  SELECT o_orderkey AS pid,
        |    o_orderkey % 7 <> 0 AS Downloaded,
        |    o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0 AS ARDProduct
        |  FROM orders WHERE o_orderkey <= 500)
        |SELECT Downloaded, ARDProduct, count(*) AS n,
        |  min(pid) AS min_pid, max(pid) AS max_pid,
        |  CAST(2 AS BIGINT) AS audit_rows
        |FROM t GROUP BY Downloaded, ARDProduct
        |ORDER BY Downloaded, ARDProduct""".stripMargin,

    // The oracle replays the mutation sequence closed-form: upsert =
    // CASE on the even-PID condition, updateWhere = CASE on status,
    // delete = WHERE. sum_size stays exact (quarters are binary
    // fractions) and NULL-for-never-downloaded flows through sum on
    // both engines identically.
    "q57_cow_upsert_roundtrip" ->
      """WITH t0 AS (
        |  SELECT o_orderkey AS PID, o_orderstatus AS status,
        |    o_orderkey % 2 = 0 AS dl0,
        |    CASE WHEN o_orderkey % 2 = 0 THEN (o_orderkey % 97) / 4.0
        |         ELSE NULL END AS size_mb
        |  FROM orders WHERE o_orderkey <= 500),
        |t1 AS (
        |  SELECT PID, status,
        |    CASE WHEN status = 'P' THEN false ELSE dl0 END AS Downloaded,
        |    size_mb
        |  FROM t0 WHERE PID % 10 <> 9)
        |SELECT status, Downloaded, count(*) AS n, sum(size_mb) AS sum_size,
        |  min(PID) AS min_pid, max(PID) AS max_pid
        |FROM t1 GROUP BY status, Downloaded
        |ORDER BY status, Downloaded""".stripMargin,

    // each engine's own sketch must land within 10% of exact
    "q45_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  abs(approx_count_distinct(l_partkey) -
        |      count(DISTINCT l_partkey))::DOUBLE /
        |    count(DISTINCT l_partkey) <= 0.1 AS within_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // ts is cast to microsecond TIMESTAMP to mirror Tables.load's
    // nanos->micros truncation on the Spark side — q84 is the first
    // query whose output hinges on strict event-vs-event inequality,
    // where a same-microsecond nano residue would otherwise diverge
    "q84_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
        |  GROUP BY e.user_id),
        |counts AS (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
        |    CAST(count(*) AS BIGINT) AS n FROM s1
        |  UNION ALL
        |  SELECT 2, 'click_after_view', count(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase_after_click', count(*) FROM s3),
        |base AS (SELECT count(*) AS base FROM s1)
        |SELECT stage, stage_name, n,
        |  round(n::DOUBLE / base, 6) AS conv_from_top
        |FROM counts, base ORDER BY stage""".stripMargin,

    "q85_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', ts::DATE) / 7.0)
        |      AS BIGINT) AS wk
        |  FROM events),
        |first AS (SELECT user_id, min(wk) AS cohort_wk FROM ev
        |          GROUP BY user_id)
        |SELECT f.cohort_wk, ev.wk - f.cohort_wk AS wk_offset,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
        |FROM ev JOIN first f USING (user_id)
        |GROUP BY f.cohort_wk, wk_offset
        |ORDER BY f.cohort_wk, wk_offset""".stripMargin,

    "q86_trailing_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', ts::DATE) AS BIGINT)
        |      AS d
        |  FROM events),
        |x AS (SELECT user_id, d, d + j AS day
        |      FROM ud, UNNEST(range(0, 7)) AS u(j))
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d,
        |  CAST(count(DISTINCT CASE WHEN d = day THEN user_id END) AS BIGINT)
        |    AS active_1d
        |FROM x GROUP BY day ORDER BY day""".stripMargin,

    "q90_hourly_anomalies" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*)::DOUBLE AS n
        |  FROM events GROUP BY event_type, h),
        |axis AS (
        |  SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT event_type, min(h) AS mn, max(h) AS mx
        |        FROM hourly GROUP BY event_type)),
        |dense AS (
        |  SELECT a.event_type, a.h, coalesce(hy.n, 0)::DOUBLE AS n
        |  FROM axis a LEFT JOIN hourly hy
        |    ON hy.event_type = a.event_type AND hy.h = a.h),
        |base AS (
        |  SELECT event_type, h, n,
        |    avg(n) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
        |    stddev_samp(n) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd
        |  FROM dense),
        |z AS (
        |  SELECT event_type, round(abs((n - mu) / sd), 6) AS az
        |  FROM base WHERE sd IS NOT NULL AND sd > 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(CASE WHEN az > 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  round(max(az), 6) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same integer cents, closed-form pooled θ (cast to DOUBLE
    // before the n·Σxy−Σx·Σy products — bare BIGINT would widen to
    // HUGEINT here, a different rounding), θ rounded 6dp BEFORE the
    // adjustment
    "q160_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INTEGER) AS arm,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY user_id),
        |pool AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pu),
        |arms AS (
        |  SELECT arm, count(*) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
        |  FROM pu GROUP BY arm),
        |c AS (
        |  SELECT arm, n_users, ax, ay, n, sx,
        |    n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS cov_num,
        |    n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS varx_num,
        |    n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vary_num
        |  FROM arms, pool),
        |d AS (
        |  SELECT *, CASE WHEN varx_num = 0 THEN 0
        |    ELSE round(cov_num / varx_num, 6) END AS theta FROM c)
        |SELECT arm, n_users,
        |  round(ax::DOUBLE / n_users, 6) AS mean_pre,
        |  round(ay::DOUBLE / n_users, 6) AS mean_post, theta,
        |  CASE WHEN varx_num = 0 OR vary_num = 0 THEN 0
        |    ELSE round((cov_num * cov_num) / (varx_num * vary_num), 6)
        |    END AS rho2,
        |  round(ay::DOUBLE / n_users - theta *
        |    (ax::DOUBLE / n_users - sx::DOUBLE / n), 6) AS mean_post_adj
        |FROM d ORDER BY arm""".stripMargin,

    // byte-identical replicates: the same md5 40-bit dyadic uniform
    // through the same literal CDF chain (::DOUBLE — DuckDB types
    // bare decimals as DECIMAL)
    "q161_poisson_bootstrap" ->
      """WITH o AS (
        |  SELECT o_orderkey AS okey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT okey, cents, t.r AS rep
        |  FROM o, UNNEST(range(0, 32)) AS t(r)),
        |u AS (
        |  SELECT rep, cents,
        |    (('0x' || substr(md5('bs:' || CAST(rep AS VARCHAR) || ':' ||
        |      CAST(okey AS VARCHAR)), 1, 10))::BIGINT + 1)::DOUBLE
        |      / 1099511627776.0 AS u
        |  FROM r),
        |w AS (
        |  SELECT rep, cents, CASE
        |    WHEN u < 0.36787944117144233::DOUBLE THEN 0
        |    WHEN u < 0.7357588823428847::DOUBLE THEN 1
        |    WHEN u < 0.9196986029286058::DOUBLE THEN 2
        |    WHEN u < 0.9810118431238462::DOUBLE THEN 3
        |    WHEN u < 0.9963401531726563::DOUBLE THEN 4
        |    WHEN u < 0.9994058151824183::DOUBLE THEN 5
        |    WHEN u < 0.9999167588507119::DOUBLE THEN 6
        |    WHEN u < 0.9999902393243134::DOUBLE THEN 7
        |    ELSE 8 END AS w
        |  FROM u),
        |m AS (
        |  SELECT rep,
        |    round(CAST(sum(w * cents) AS BIGINT)::DOUBLE
        |      / CAST(sum(w) AS BIGINT), 6) AS m
        |  FROM w GROUP BY rep),
        |rk AS (SELECT m, row_number() OVER (ORDER BY m) AS i FROM m),
        |pt AS (
        |  SELECT count(*) AS n_orders,
        |    round(CAST(sum(cents) AS BIGINT)::DOUBLE / count(*), 6)
        |      AS point_mean
        |  FROM o)
        |SELECT 32 AS n_reps, n_orders, point_mean,
        |  (SELECT m FROM rk WHERE i = 2) AS ci_lo,
        |  (SELECT m FROM rk WHERE i = 31) AS ci_hi
        |FROM pt""".stripMargin,

    // the same integer CUSUM objective; plain windows mirror the
    // engine's grid prefix sums, same (g DESC, k) tie-break
    "q162_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS sk
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sn
        |  FROM daily GROUP BY 1),
        |scored AS (
        |  SELECT p.event_type, p.day, p.k, p.sk, t.n, t.sn,
        |    abs(t.n * p.sk - p.k * t.sn) AS g
        |  FROM pre p JOIN tot t USING (event_type)
        |  WHERE p.k < t.n),
        |pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY g DESC, k) AS r
        |  FROM scored)
        |SELECT event_type, n AS n_days, day AS split_day, g AS g_stat,
        |  round(sk::DOUBLE / k, 6) AS mean_before,
        |  round((sn - sk)::DOUBLE / (n - k), 6) AS mean_after
        |FROM pick WHERE r = 1 ORDER BY event_type""".stripMargin,

    // closed-form split of the source table: the merged read must
    // reproduce exactly this null accounting
    "q163_schema_evolution" ->
      """SELECT source, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_lang,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the same histogram closed form; a plain window mirrors the
    // two-phase strictly-below prefix sum
    "q164_mann_whitney" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INTEGER) AS arm
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM pu GROUP BY v),
        |pre AS (
        |  SELECT *, CAST(coalesce(sum(n0) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS below0
        |  FROM cells),
        |agg AS (
        |  SELECT CAST(sum(n0) AS BIGINT) AS n0t,
        |    CAST(sum(n1) AS BIGINT) AS n1t,
        |    CAST(sum(n1 * (2 * below0 + n0)) AS BIGINT) AS u2x,
        |    CAST(sum((n0 + n1) * (n0 + n1) * (n0 + n1) - (n0 + n1))
        |      AS BIGINT) AS stie
        |  FROM pre),
        |c AS (
        |  SELECT *, n0t + n1t AS n,
        |    (n0t::DOUBLE * n1t / 12.0) *
        |      ((n0t + n1t + 1)::DOUBLE - stie::DOUBLE /
        |        ((n0t + n1t)::DOUBLE * (n0t + n1t - 1))) AS sig2
        |  FROM agg)
        |SELECT n0t AS n0, n1t AS n1, u2x,
        |  CASE WHEN sig2 = 0 THEN 0
        |    ELSE round((u2x::DOUBLE / 2.0 - n0t::DOUBLE * n1t / 2.0)
        |      / sqrt(sig2), 6) END AS z
        |FROM c""".stripMargin,

    // survivors closed-form (%3 keys of one month logically deleted);
    // the scoping flags are engine invariants pinned true: CDC saw
    // only the touched month, untouched months' plans carry no
    // anti-join, the touched one does
    "q275_dv_scoping" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |surv AS (
        |  SELECT * FROM o
        |  WHERE NOT (month = '1996-01' AND PID % 3 = 0))
        |SELECT count(*) AS n_final,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  (SELECT count(*) FROM o
        |    WHERE month = '1996-01' AND PID % 3 = 0) AS n_deleted,
        |  CAST(1 AS BIGINT) AS cdc_touched_month_only,
        |  CAST(1 AS BIGINT) AS no_antijoin_elsewhere,
        |  CAST(1 AS BIGINT) AS antijoin_on_touched
        |FROM surv""".stripMargin,

    // both answers from plain filters; both ledgers from per-month
    // data extents (a month dir is listed iff its value matches /
    // its dk extent intersects the range)
    "q276_auto_pruning" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 10000 +
        |      month(CAST(o_orderdate AS DATE)) * 100 +
        |      day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ext AS (
        |  SELECT month, min(dk) AS mn, max(dk) AS mx
        |  FROM o GROUP BY month),
        |mled AS (
        |  SELECT count(*) AS m_dirs_total,
        |    CAST(sum(CASE WHEN month = '1996-01' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS m_dirs_opened FROM ext),
        |zled AS (
        |  SELECT count(*) AS z_dirs_total,
        |    CAST(sum(CASE WHEN mx >= 19960101 AND mn <= 19960315
        |      THEN 1 ELSE 0 END) AS BIGINT) AS z_dirs_opened FROM ext),
        |magg AS (
        |  SELECT count(*) AS m_n, CAST(sum(cents) AS BIGINT) AS m_cents
        |  FROM o WHERE month = '1996-01'),
        |zagg AS (
        |  SELECT count(*) AS z_n, CAST(sum(cents) AS BIGINT) AS z_cents
        |  FROM o WHERE dk BETWEEN 19960101 AND 19960315)
        |SELECT m_n, m_cents, m_dirs_total, m_dirs_opened,
        |  z_n, z_cents, z_dirs_total, z_dirs_opened
        |FROM magg, mled, zagg, zled""".stripMargin,

    // answer from the plain string-range filter; the ledger from
    // per-month STRING date extents (ISO dates order lexicographically
    // = chronologically, so min/max strings are the zone map)
    "q280_string_zone_maps" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ext AS (
        |  SELECT month, min(odate) AS mn, max(odate) AS mx
        |  FROM o GROUP BY month),
        |led AS (
        |  SELECT count(*) AS dirs_total,
        |    CAST(sum(CASE WHEN mx >= '1996-01-05' AND mn <= '1996-02-10'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dirs_opened FROM ext)
        |SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(odate) AS min_odate, max(odate) AS max_odate,
        |  led.dirs_total, led.dirs_opened
        |FROM o, led
        |WHERE odate BETWEEN '1996-01-05' AND '1996-02-10'
        |GROUP BY led.dirs_total, led.dirs_opened""".stripMargin,

    // answers from the plain timestamp/date filters; both ledgers
    // from per-month data extents (a month dir is kept iff its
    // ts/date extent intersects the literal range — kept iff
    // max >= lo AND min < hi for the half-open ts range, BETWEEN
    // bounds for the date range)
    "q281_typed_zone_maps" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    o_orderdate AS ts,
        |    CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ext AS (
        |  SELECT month, min(ts) AS mnt, max(ts) AS mxt,
        |    min(d) AS mnd, max(d) AS mxd
        |  FROM o GROUP BY month),
        |tled AS (
        |  SELECT count(*) AS t_dirs_total,
        |    CAST(sum(CASE WHEN mxt >= TIMESTAMP '1996-01-05 00:00:00'
        |      AND mnt < TIMESTAMP '1996-03-20 12:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t_dirs_opened FROM ext),
        |dled AS (
        |  SELECT count(*) AS d_dirs_total,
        |    CAST(sum(CASE WHEN mxd >= DATE '1997-11-20'
        |      AND mnd <= DATE '1998-02-05'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d_dirs_opened FROM ext),
        |tagg AS (
        |  SELECT count(*) AS t_n, CAST(sum(cents) AS BIGINT) AS t_cents
        |  FROM o WHERE ts >= TIMESTAMP '1996-01-05 00:00:00'
        |    AND ts < TIMESTAMP '1996-03-20 12:00:00'),
        |dagg AS (
        |  SELECT count(*) AS d_n, CAST(sum(cents) AS BIGINT) AS d_cents
        |  FROM o
        |  WHERE d BETWEEN DATE '1997-11-20' AND DATE '1998-02-05')
        |SELECT t_n, t_cents, t_dirs_total, t_dirs_opened,
        |  d_n, d_cents, d_dirs_total, d_dirs_opened
        |FROM tagg, tled, dagg, dled""".stripMargin,

    // the answer from the plain 4-way bbox filter; the ledger from
    // per-cell lat/lon extents (a cell dir is kept iff BOTH its lat
    // and lon extents intersect the bbox) — the synthetic footprint
    // grid is a deterministic function of the order key, identical
    // IEEE arithmetic on both engines
    "q282_bbox_zone_maps" ->
      """WITH o AS (
        |  SELECT o_orderkey AS PID,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderkey % 1700 AS DOUBLE) / 10.0 - 85.0 AS lat,
        |    CAST((o_orderkey * 7) % 3600 AS DOUBLE) / 10.0 - 180.0
        |      AS lon
        |  FROM orders),
        |ext AS (
        |  SELECT floor(lat / 30.0) AS cy, floor(lon / 60.0) AS cx,
        |    min(lat) AS mnla, max(lat) AS mxla,
        |    min(lon) AS mnlo, max(lon) AS mxlo
        |  FROM o GROUP BY 1, 2),
        |led AS (
        |  SELECT count(*) AS dirs_total,
        |    CAST(sum(CASE WHEN mxla >= 5.0 AND mnla <= 25.0
        |      AND mxlo >= -100.0 AND mnlo <= -30.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dirs_opened FROM ext)
        |SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  led.dirs_total, led.dirs_opened
        |FROM o, led
        |WHERE lat BETWEEN 5.0 AND 25.0 AND lon BETWEEN -100.0 AND -30.0
        |GROUP BY led.dirs_total, led.dirs_opened""".stripMargin,

    // every ledger from which months actually CONTAIN the key: a
    // sound, exact Bloom opens precisely those dirs, and the absent
    // probe opens zero
    "q284_bloom_point_lookup" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mm AS (SELECT min(k) AS kmin, max(k) AS kmax FROM o),
        |keys AS (
        |  SELECT 'k_min' AS probe, kmin AS k FROM mm
        |  UNION ALL SELECT 'k_mid',
        |    (SELECT max(o.k) FROM o, mm WHERE o.k <= (kmin + kmax) // 2)
        |    FROM mm
        |  UNION ALL SELECT 'k_max', kmax FROM mm
        |  UNION ALL SELECT 'k_absent', kmax + 1 FROM mm),
        |tot AS (SELECT count(DISTINCT month) AS dt FROM o)
        |SELECT keys.probe,
        |  (SELECT count(*) FROM o WHERE o.k = keys.k) AS n,
        |  CAST(COALESCE(
        |    (SELECT sum(cents) FROM o WHERE o.k = keys.k), 0)
        |    AS BIGINT) AS cents,
        |  CAST(tot.dt AS BIGINT) AS dirs_total,
        |  (SELECT count(DISTINCT month) FROM o WHERE o.k = keys.k)
        |    AS dirs_opened
        |FROM keys, tot ORDER BY probe""".stripMargin,

    // the exact same Morton pipeline in SQL — min-max 16-bit rank,
    // magic-number bit spread, interleave, 4-bit prefix (IEEE ops and
    // 64-bit integer shifts are engine-identical) — then both layouts'
    // ledgers from per-dir lat/lon extents
    "q285_zorder_clustering" ->
      """WITH o AS MATERIALIZED (
        |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderkey % 1700 AS DOUBLE) / 10.0 - 85.0 AS lat,
        |    CAST((o_orderkey * 7) % 3600 AS DOUBLE) / 10.0 - 180.0
        |      AS lon
        |  FROM orders),
        |mm AS (SELECT min(lat) AS gmnla, max(lat) AS gmxla,
        |              min(lon) AS gmnlo, max(lon) AS gmxlo FROM o),
        |n16 AS (
        |  SELECT o.*,
        |    CAST(floor((lat - gmnla) / (gmxla - gmnla) * 65535.0)
        |      AS BIGINT) AS ux,
        |    CAST(floor((lon - gmnlo) / (gmxlo - gmnlo) * 65535.0)
        |      AS BIGINT) AS uy
        |  FROM o, mm),
        |s1 AS (SELECT *, (ux | (ux << 8)) & 16711935 AS x1,
        |               (uy | (uy << 8)) & 16711935 AS y1 FROM n16),
        |s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |               (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |               (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |zz AS MATERIALIZED (
        |  SELECT *, (((x3 | (x3 << 1)) & 1431655765) |
        |    (((y3 | (y3 << 1)) & 1431655765) << 1)) >> 28 AS zcell
        |  FROM s3),
        |mext AS (
        |  SELECT month, min(lat) AS mnla, max(lat) AS mxla,
        |    min(lon) AS mnlo, max(lon) AS mxlo FROM o GROUP BY month),
        |zext AS (
        |  SELECT zcell, min(lat) AS mnla, max(lat) AS mxla,
        |    min(lon) AS mnlo, max(lon) AS mxlo FROM zz GROUP BY zcell),
        |mled AS (
        |  SELECT count(*) AS mt, CAST(sum(CASE WHEN mxla >= 5.0
        |    AND mnla <= 25.0 AND mxlo >= 100.0 AND mnlo <= 160.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS mk FROM mext),
        |zled AS (
        |  SELECT count(*) AS zt, CAST(sum(CASE WHEN mxla >= 5.0
        |    AND mnla <= 25.0 AND mxlo >= 100.0 AND mnlo <= 160.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zk FROM zext),
        |ans AS (
        |  SELECT count(*) AS n, CAST(COALESCE(sum(cents), 0) AS BIGINT) AS sum_cents
        |  FROM o WHERE lat BETWEEN 5.0 AND 25.0
        |    AND lon BETWEEN 100.0 AND 160.0)
        |SELECT ans.n, ans.sum_cents, ans.n AS z_n,
        |  ans.sum_cents AS z_cents,
        |  CAST(mled.mt AS BIGINT) AS m_dirs_total, mled.mk
        |    AS m_dirs_opened,
        |  CAST(zled.zt AS BIGINT) AS z_dirs_total, zled.zk
        |    AS z_dirs_opened
        |FROM ans, mled, zled""".stripMargin,

    // the final base state reconstructed closed-form from the
    // scripted mutations (upsert k<=50 bumps cents, append lands in
    // 2099-01, the earliest month is deleted whole), rolled up; the
    // refresh ledger derived from which months those mutations touch
    "q286_incremental_rollup" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |minm AS (SELECT min(month) AS m FROM o),
        |fin AS MATERIALIZED (
        |  SELECT k, month,
        |    CASE WHEN k <= 50 THEN cents + 1 ELSE cents END AS cents
        |  FROM o
        |  UNION ALL
        |  SELECT k + 1000000, '2099-01', 123 FROM o WHERE k <= 20),
        |liv AS (SELECT fin.* FROM fin, minm WHERE fin.month <> minm.m),
        |agg AS (
        |  SELECT month, count(*) AS n, sum(cents) AS c
        |  FROM liv GROUP BY month),
        |chg AS (
        |  SELECT count(DISTINCT o.month) AS nm FROM o, minm
        |  WHERE o.k <= 50 AND o.month <> minm.m)
        |SELECT CAST(count(*) AS BIGINT) AS n_months,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS synced_from,
        |  CAST(chg.nm + 1 AS BIGINT) AS recomputed,
        |  CAST(1 AS BIGINT) AS removed,
        |  CAST(1 AS BIGINT) AS rows_inserted,
        |  CAST(chg.nm AS BIGINT) AS rows_updated,
        |  CAST(1 AS BIGINT) AS rows_deleted
        |FROM agg, chg GROUP BY chg.nm""".stripMargin,

    // q285's Morton pipeline re-derived for the MIGRATED table: pre
    // ledger from per-month extents, post ledger from per-cell
    // extents; 3 commits past the initial overwrite (schema + spec
    // evolution, one rewrite), zero legacy dirs after
    "q289_zorder_relayout" ->
      """WITH o AS MATERIALIZED (
        |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderkey % 1700 AS DOUBLE) / 10.0 - 85.0 AS lat,
        |    CAST((o_orderkey * 7) % 3600 AS DOUBLE) / 10.0 - 180.0
        |      AS lon
        |  FROM orders),
        |mm AS (SELECT min(lat) AS gmnla, max(lat) AS gmxla,
        |              min(lon) AS gmnlo, max(lon) AS gmxlo FROM o),
        |n16 AS (
        |  SELECT o.*,
        |    CAST(floor((lat - gmnla) / (gmxla - gmnla) * 65535.0)
        |      AS BIGINT) AS ux,
        |    CAST(floor((lon - gmnlo) / (gmxlo - gmnlo) * 65535.0)
        |      AS BIGINT) AS uy
        |  FROM o, mm),
        |s1 AS (SELECT *, (ux | (ux << 8)) & 16711935 AS x1,
        |               (uy | (uy << 8)) & 16711935 AS y1 FROM n16),
        |s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |               (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |               (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |zz AS MATERIALIZED (
        |  SELECT *, (((x3 | (x3 << 1)) & 1431655765) |
        |    (((y3 | (y3 << 1)) & 1431655765) << 1)) >> 28 AS zcell
        |  FROM s3),
        |mext AS (
        |  SELECT month, min(lat) AS mnla, max(lat) AS mxla,
        |    min(lon) AS mnlo, max(lon) AS mxlo FROM o GROUP BY month),
        |zext AS (
        |  SELECT zcell, min(lat) AS mnla, max(lat) AS mxla,
        |    min(lon) AS mnlo, max(lon) AS mxlo FROM zz GROUP BY zcell),
        |mled AS (
        |  SELECT count(*) AS mt, CAST(sum(CASE WHEN mxla >= 5.0
        |    AND mnla <= 25.0 AND mxlo >= 100.0 AND mnlo <= 160.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS mk FROM mext),
        |zled AS (
        |  SELECT count(*) AS zt, CAST(sum(CASE WHEN mxla >= 5.0
        |    AND mnla <= 25.0 AND mxlo >= 100.0 AND mnlo <= 160.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zk FROM zext),
        |ans AS (
        |  SELECT count(*) AS n,
        |    CAST(COALESCE(sum(cents), 0) AS BIGINT) AS sum_cents
        |  FROM o WHERE lat BETWEEN 5.0 AND 25.0
        |    AND lon BETWEEN 100.0 AND 160.0)
        |SELECT ans.n, ans.sum_cents,
        |  CAST(mled.mt AS BIGINT) AS pre_dirs_total,
        |  mled.mk AS pre_dirs_opened,
        |  CAST(zled.zt AS BIGINT) AS post_dirs_total,
        |  zled.zk AS post_dirs_opened,
        |  CAST(3 AS BIGINT) AS n_version,
        |  CAST(0 AS BIGINT) AS n_legacy
        |FROM ans, mled, zled""".stripMargin,

    // both index states rebuilt from scratch (q118's CTE pipeline ×2,
    // no band for the diff), ledger derived set-theoretically:
    // recomputed = batch's distinct sources; affected = distinct
    // final-corpus terms in those sources (append-only ⇒ old terms of
    // touched partitions ⊆ fresh terms); I/U/D = the full-outer diff
    "q293_incremental_inverted_index" ->
      """WITH bat AS MATERIALIZED (
        |  SELECT doc_id + 1000000 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 97 = 0),
        |tokO AS MATERIALIZED (
        |  SELECT doc_id, source, string_split(trim(lower(text)), ' ') AS t
        |  FROM documents
        |  WHERE len(string_split(trim(lower(text)), ' ')) >= 3),
        |tokF AS MATERIALIZED (
        |  SELECT doc_id, source, string_split(trim(lower(text)), ' ') AS t
        |  FROM (SELECT doc_id, source, text FROM documents
        |        UNION ALL SELECT doc_id, source, text FROM bat) u
        |  WHERE len(string_split(trim(lower(text)), ' ')) >= 3),
        |gO AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS term
        |  FROM tokO, UNNEST(range(1, len(t) - 3 + 2)) AS u(i)),
        |gF AS MATERIALIZED (
        |  SELECT doc_id, source, array_to_string(t[i:i+2], ' ') AS term
        |  FROM tokF, UNNEST(range(1, len(t) - 3 + 2)) AS u(i)),
        |tfO AS (SELECT term, doc_id, count(*) AS tf FROM gO
        |        GROUP BY term, doc_id),
        |tfF AS MATERIALIZED (
        |  SELECT term, doc_id, count(*) AS tf FROM gF
        |  GROUP BY term, doc_id),
        |trO AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT)
        |          AS cf FROM tfO GROUP BY term),
        |trF AS MATERIALIZED (
        |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tfF GROUP BY term),
        |rkO AS (SELECT term, doc_id, row_number() OVER (
        |    PARTITION BY term ORDER BY tf DESC, doc_id) AS rn FROM tfO),
        |rkF AS (SELECT term, doc_id, row_number() OVER (
        |    PARTITION BY term ORDER BY tf DESC, doc_id) AS rn FROM tfF),
        |tpO AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR), ','
        |          ORDER BY rn) AS top_docs FROM rkO WHERE rn <= 5
        |        GROUP BY term),
        |tpF AS MATERIALIZED (
        |  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ','
        |    ORDER BY rn) AS top_docs FROM rkF WHERE rn <= 5
        |  GROUP BY term),
        |ixO AS MATERIALIZED (
        |  SELECT trO.term, df, cf, top_docs FROM trO
        |  JOIN tpO USING (term)),
        |ixF AS MATERIALIZED (
        |  SELECT trF.term, df, cf, top_docs FROM trF
        |  JOIN tpF USING (term)),
        |led AS (
        |  SELECT
        |    (SELECT count(DISTINCT source) FROM bat) AS recomputed_parts,
        |    (SELECT count(DISTINCT term) FROM gF WHERE source IN
        |      (SELECT DISTINCT source FROM bat)) AS affected_terms,
        |    (SELECT count(*) FROM ixF WHERE term NOT IN
        |      (SELECT term FROM ixO)) AS idx_inserted,
        |    (SELECT count(*) FROM ixF JOIN ixO USING (term)
        |      WHERE ixF.df <> ixO.df OR ixF.cf <> ixO.cf
        |        OR ixF.top_docs <> ixO.top_docs) AS idx_updated,
        |    (SELECT count(*) FROM ixO WHERE term NOT IN
        |      (SELECT term FROM ixF)) AS idx_deleted)
        |SELECT ixF.term, ixF.df, ixF.cf, ixF.top_docs,
        |  CAST(led.recomputed_parts AS BIGINT) AS recomputed_parts,
        |  CAST(led.affected_terms AS BIGINT) AS affected_terms,
        |  CAST(led.idx_inserted AS BIGINT) AS idx_inserted,
        |  CAST(led.idx_updated AS BIGINT) AS idx_updated,
        |  CAST(led.idx_deleted AS BIGINT) AS idx_deleted
        |FROM ixF, led WHERE ixF.df BETWEEN 2 AND 100
        |ORDER BY ixF.term""".stripMargin,

    // the fake service's granule formula replayed from range(N):
    // i%14=0 dropped (no geometry, small), polygon/box union corners
    // by residue, east widened 5 for the two-box granules, watermark
    // = the newest start, resweep delta pinned 0
    "q292_paged_catalog_ingest" ->
      """WITH nn AS (SELECT count(*) AS n FROM orders),
        |ii AS (SELECT unnest(range((SELECT n FROM nn))) AS i),
        |g AS (
        |  SELECT i,
        |    CASE WHEN i % 2 = 0 THEN 'ATL03' ELSE 'ATL08' END AS product,
        |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i) HOUR
        |      AS start_time,
        |    CAST((i % 50) - 25 AS DOUBLE) AS south,
        |    CAST((i % 160) - 80 AS DOUBLE) AS west,
        |    CAST((i % 50) - 15 AS DOUBLE) AS north,
        |    CAST((i % 160) - 60 +
        |      CASE WHEN i % 3 = 0 AND i % 7 <> 0 THEN 5 ELSE 0 END
        |      AS DOUBLE) AS east,
        |    CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END AS from_poly
        |  FROM ii WHERE i % 14 <> 0)
        |SELECT product, count(*) AS n_granules,
        |  CAST(sum(from_poly) AS BIGINT) AS n_from_polys,
        |  max(start_time) AS watermark,
        |  round(sum(south), 4) AS sum_south,
        |  round(sum(west), 4) AS sum_west,
        |  round(sum(north), 4) AS sum_north,
        |  round(sum(east), 4) AS sum_east,
        |  count(*) AS urls_ok,
        |  CAST(0 AS BIGINT) AS resweep_added
        |FROM g GROUP BY product ORDER BY product""".stripMargin,

    // the pre-flight replayed in SQL — INCLUDING the CASE routing, so
    // a wrong route decision hash-mismatches, not just wrong rows —
    // then q199's exact arm (the route the oracle-scale basket
    // profile lands on) stamped with the decision columns.
    // SCALE CEILING (r13 advice): the row set below is ALWAYS the
    // exact arm's, so this gate is valid only while the pre-flight
    // routes to 'exact' — i.e. sum b(b-1)/2 ≤ 2e9 over the gate
    // corpus. That holds through sf10 by measurement (sf0.01 ≈ 4.5e5,
    // growth ≈ linear in SF because replicas shift u keys) and would
    // first flip around sf~10⁴ of this corpus; if a future gate
    // corpus crosses it, the engine is RIGHT to route to 'capped'
    // and this oracle must gain the capped arm under the same CASE
    // (least(b,8) pair generation) rather than being read as an
    // engine failure.
    "q290_item_item_cf_auto" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |bsk AS (SELECT u, count(*) AS b FROM pos GROUP BY u),
        |pf AS (
        |  SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) AS pair_rows_exact,
        |    CAST(sum(least(b, 8) * (least(b, 8) - 1) // 2) AS BIGINT)
        |      AS pair_rows_capped,
        |    CAST(max(b) AS BIGINT) AS max_basket
        |  FROM bsk),
        |dec AS (
        |  SELECT *, CASE WHEN pair_rows_exact <= 2000000000 THEN 'exact'
        |    WHEN pair_rows_capped <= 20000000000 THEN 'capped'
        |    ELSE 'capped_dimsum' END AS regime FROM pf),
        |nu AS (SELECT p, count(*) AS n FROM pos GROUP BY p),
        |co AS (
        |  SELECT x.p AS p1, y.p AS p2, count(*) AS c
        |  FROM pos x JOIN pos y ON x.u = y.u AND x.p < y.p
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT co.p1, co.p2,
        |    round(co.c / sqrt(n1.n * n2.n), 6) AS cosine
        |  FROM co JOIN nu n1 ON n1.p = co.p1 JOIN nu n2 ON n2.p = co.p2),
        |bo AS (
        |  SELECT p1, p2, cosine FROM sim
        |  UNION ALL SELECT p2, p1, cosine FROM sim),
        |r AS (
        |  SELECT p1, p2, cosine, row_number() OVER (
        |    PARTITION BY p1 ORDER BY cosine DESC, p2) AS rank
        |  FROM bo)
        |SELECT dec.regime, dec.pair_rows_exact, dec.pair_rows_capped,
        |  dec.max_basket, r.p1 AS part, CAST(r.rank AS INT) AS rank,
        |  r.p2 AS similar, r.cosine
        |FROM r, dec WHERE r.rank <= 3 ORDER BY part, rank""".stripMargin
  )
}
