package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PartitionedCowTableSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): PartitionedCowTable = {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow") + "/t", "month")
    t.overwrite(Seq(
      (1L, "2020-03", "a", false),
      (2L, "2020-03", "b", false),
      (3L, "2020-04", "c", false),
      (4L, "2020-05", "d", false)).toDF("pid", "month", "v", "flag"))
    t
  }

  test("non-path-safe partition values ROUND-TRIP: escaped dirs, raw " +
    "manifest keys, raw-literal pruning, scoped DV attach (r11 ADVICE)") {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow_esc") + "/t", "month")
    // ':' and '%' percent-escape in the __part= dir name; Entry.value
    // must come back RAW or exact pruning / scoped attach / touched
    // membership silently miss every comparison against the raw value
    t.overwrite(Seq(
      (1L, "2020:03", "a", false),
      (2L, "x%y", "b", false),
      (3L, "2020-04", "c", false)).toDF("pid", "month", "v", "flag"))
    assert(t.manifest.keySet == Set("2020:03", "x%y", "2020-04"))
    // the on-disk dir really is escaped (the raw ':' is not path-safe)
    assert(t.manifest("2020:03").contains("__part=2020%3A03"))
    // plain read().filter on the RAW literal opens only the matching dir
    val r = t.read().filter($"month" === "2020:03")
      .select("v").as[String].collect()
    assert(r.toSeq == Seq("a"))
    assert(t.autoPruneLedger === ((3, 1)))
    // upsert into the escaped dir replaces the key, carries the others
    t.upsert(Seq((2L, "x%y", "B", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    assert(t.read().filter($"month" === "x%y")
      .select("v").as[String].head() == "B")
    assert(t.read().count() == 3)
    // scoped deletion vector attaches to (only) the escaped dir it hit
    t.deleteWhereDV($"month" === "2020:03" && $"pid" === 1L, Seq("pid"))
    assert(t.read().count() == 2)
    assert(!t.readWhere(_ == "x%y").queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
    assert(t.readWhere(_ == "2020:03").queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
    // null / empty / the Hive sentinel can NOT round-trip (Spark
    // writes all of them as the same default-partition dir) — loud
    val t2 = PartitionedCowTable(
      tempDir("pcow_esc2") + "/t", "month")
    intercept[IllegalArgumentException] {
      t2.overwrite(Seq((1L, null.asInstanceOf[String], "a", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[IllegalArgumentException] {
      t2.overwrite(Seq((1L, "", "a", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[IllegalArgumentException] {
      t2.overwrite(Seq((1L, "__HIVE_DEFAULT_PARTITION__", "a", false))
        .toDF("pid", "month", "v", "flag"))
    }
    assert(!t2.exists)
  }

  test("typed stats columns record Catalyst internal units: timestamp " +
    "prunes in micros, date in days; unsupported types refused loudly") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_typed") + "/t", "month",
      spark, statsColumns = Seq("ets", "ed"))
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    def dt(v: String) = java.sql.Date.valueOf(v)
    t.overwrite(Seq(
      (1L, "2020-03", ts("2020-03-05 10:00:00"), dt("2020-03-05")),
      (2L, "2020-03", ts("2020-03-28 23:30:00"), dt("2020-03-28")),
      (3L, "2020-04", ts("2020-04-07 10:00:00"), dt("2020-04-07")),
      (4L, "2020-05", ts("2020-05-09 10:00:00"), dt("2020-05-09")))
      .toDF("pid", "month", "ets", "ed"))
    // the manifest records the units and micros-scale bounds
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(t.root, "v_000000.json")))
    assert(json.contains("\"statskinds\""))
    assert(json.contains("\"micros\"") && json.contains("\"days\""))
    assert(json.contains(
      (ts("2020-03-05 10:00:00").getTime * 1000L).toString))
    // a plain timestamp-literal range filter prunes to the one
    // intersecting dir AND answers correctly
    assert(t.read().filter($"ets" >= "2020-04-01 00:00:00" &&
      $"ets" < "2020-05-01 00:00:00").count() == 1)
    assert(t.autoPruneLedger === ((3, 1)))
    // a DateType between-filter prunes by the days-unit bounds
    assert(t.read().filter($"ed".between("2020-03-10", "2020-04-10"))
      .count() == 2)
    assert(t.autoPruneLedger === ((3, 2)))
    // an unsupported stats-column type fails the COMMIT loudly (the
    // EPSG refuse-loudly precedent): a silently mis-unit'd zone map
    // would be a wrong-prune hazard, not a perf miss
    val t2 = new PartitionedCowTable(
      tempDir("pcow_typed2") + "/t", "month",
      spark, statsColumns = Seq("flag"))
    val err = intercept[IllegalArgumentException] {
      t2.overwrite(Seq((1L, "2020-03", true)).toDF("pid", "month", "flag"))
    }
    assert(err.getMessage.contains("unsupported type"))
  }

  test("deleteWhereDV losing a commit race reclaims its just-written " +
    "vector file before rethrowing (r11 ADVICE: no orphan dv)") {
    implicit val s = spark
    val t = mk()
    def dvCount: Long = {
      val d = java.nio.file.Paths.get(t.root, "dv")
      if (!Files.exists(d)) 0L
      else { val l = Files.list(d); try l.count() finally l.close() }
    }
    // interleave a competing append at the race window: the DV commit
    // derived from the old version, so writeVersion must throw — and
    // the vector file it already wrote must NOT survive as an orphan
    t.raceSeam = () => {
      t.raceSeam = () => () // self-clear: the append commits normally
      t.append(Seq((9L, "2020-05", "z", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.deleteWhereDV($"month" === "2020-03" && $"pid" === 1L, Seq("pid"))
    }
    assert(dvCount == 0L)
    // the table is healthy: the interleaved append won, nothing deleted
    assert(t.read().count() == 5)
    assert(t.liveDvFiles.isEmpty)
    // and a clean retry from the new base succeeds
    t.deleteWhereDV($"month" === "2020-03" && $"pid" === 1L, Seq("pid"))
    assert(t.read().count() == 4)
    assert(dvCount == 1L)
  }

  test("autoPruneLedger attributes per BUILT read under the " +
    "build-execute-query protocol (r11 ADVICE: publish-once ledger)") {
    implicit val s = spark
    val t = mk()
    // cycle 1: one-dir prune
    t.read().filter($"month" === "2020-04").count()
    assert(t.autoPruneLedger === ((3, 1)))
    // cycle 2 on the same table: a different filter re-publishes a
    // complete fresh ledger (never an appended mix of both reads)
    t.read().filter($"month" >= "2020-04").count()
    assert(t.autoPruneLedger === ((3, 2)))
    // unfiltered read: everything opened
    t.read().count()
    assert(t.autoPruneLedger === ((3, 3)))
  }

  test("overwrite/read roundtrip with per-partition dirs") {
    val t = mk()
    assert(t.read().count() == 4)
    assert(t.manifest.keySet == Set("2020-03", "2020-04", "2020-05"))
    assert(t.read().filter($"month" === "2020-04").select("v")
      .as[String].head() == "c")
  }

  test("upsert rewrites only touched partitions; others carried by reference") {
    val t = mk()
    val before = t.manifest
    t.upsert(Seq((2L, "2020-03", "B", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    val after = t.manifest
    // untouched partitions: same directory reference (no bytes rewritten)
    assert(after("2020-04") == before("2020-04"))
    assert(after("2020-05") == before("2020-05"))
    // touched partition: new directory
    assert(after("2020-03") != before("2020-03"))
    val march = t.read().filter($"month" === "2020-03")
      .select("pid", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(march.sameElements(Array((1L, "a"), (2L, "B"))))
    assert(t.read().count() == 4)
  }

  test("updateWhere prunes to matching partitions") {
    val t = mk()
    val before = t.manifest
    t.updateWhere($"pid" === 3L, Map("flag" -> lit(true)))
    val after = t.manifest
    assert(after("2020-03") == before("2020-03"))
    assert(after("2020-04") != before("2020-04"))
    assert(t.read().filter($"flag").select("pid").as[Long].collect()
      .sameElements(Array(3L)))
  }

  test("deleteWhere: partial delete rewrites; emptied partition leaves manifest") {
    val t = mk()
    t.deleteWhere($"pid" === 1L) // partial: 2020-03 keeps pid 2
    assert(t.read().filter($"month" === "2020-03").count() == 1)
    t.deleteWhere($"month" === "2020-05") // full partition gone
    assert(t.manifest.keySet == Set("2020-03", "2020-04"))
    assert(t.read().count() == 2)
  }

  test("readWhere prunes at the manifest, empty selection keeps schema") {
    val t = mk()
    assert(t.readWhere(_ == "2020-04").count() == 1)
    val none = t.readWhere(_ == "1999-01")
    assert(none.count() == 0)
    assert(none.schema.fieldNames.sameElements(
      Array("pid", "month", "v", "flag")))
  }

  test("append lands in its partitions only") {
    val t = mk()
    val before = t.manifest
    t.append(Seq((9L, "2020-04", "x", false)).toDF("pid", "month", "v", "flag"))
    assert(t.manifest("2020-03") == before("2020-03"))
    assert(t.read().filter($"month" === "2020-04").count() == 2)
  }

  test("vacuum keeps dirs the current manifest references") {
    val t = mk()
    t.upsert(Seq((2L, "2020-03", "B", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    t.vacuum()
    // shared (untouched) partitions from the first write must survive
    assert(t.read().count() == 4)
    assert(t.read().filter($"month" === "2020-05").select("v")
      .as[String].head() == "d")
  }

  test("overwrite drops partitions absent from the new data") {
    val t = mk()
    t.overwrite(Seq((7L, "2021-01", "z", false))
      .toDF("pid", "month", "v", "flag"))
    assert(t.manifest.keySet == Set("2021-01"))
    assert(t.read().count() == 1)
  }

  test("changedSince: manifest diff is the change feed") {
    implicit val s = spark
    val t = mk()
    val v0 = t.version
    // full history from "before anything": all rows
    assert(t.changedSince(-1).count() == 4)
    // no commits since v0: empty, schema intact
    assert(t.changedSince(v0).count() == 0)
    t.upsert(Seq((2L, "2020-03", "b2", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    // only the rewritten 2020-03 partition flows; 04/05 are shared dirs
    val changed = t.changedSince(v0)
    assert(changed.select("month").distinct().as[String].collect()
      .sameElements(Array("2020-03")))
    assert(changed.count() == 2)
    assert(t.changedSince(t.version).count() == 0)
  }

  test("torn commit: stray write dir without pointer flip is invisible") {
    implicit val s = spark
    val t = mk()
    val v0 = t.read().count()
    val m0 = t.manifest
    // simulate a writer that died after writing data + manifest but
    // BEFORE the atomic _current flip: readers must stay on the old
    // version, and a re-run must commit cleanly on top
    val root = java.nio.file.Paths.get(t.root)
    java.nio.file.Files.createDirectories(root.resolve("w_000099/__part=2020-09"))
    java.nio.file.Files.write(root.resolve("v_000099.json"),
      """{"schema":"x INT","partitions":{}}""".getBytes("UTF-8"))
    assert(t.read().count() == v0)
    assert(t.manifest == m0)
    t.append(Seq((9L, "2020-06", "z", false)).toDF("pid", "month", "v", "flag"))
    assert(t.read().count() == v0 + 1)
    assert(t.manifest.keySet.contains("2020-06"))
  }

  test("compact: one file per partition, same rows, untouched dirs carried") {
    implicit val s = spark
    val t = mk()
    // grow the 2020-03 partition's file count across several commits
    // with multi-task writes
    for (i <- 10 to 13) {
      t.append(Seq((i.toLong, "2020-03", s"v$i", false))
        .toDF("pid", "month", "v", "flag").repartition(4))
    }
    val before = t.read().orderBy("pid").collect()
    val root = java.nio.file.Paths.get(t.root)
    import scala.jdk.CollectionConverters._
    def parquetFiles(relDir: String): Long =
      java.nio.file.Files.list(root.resolve(relDir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parquetFiles(t.manifest("2020-03")) > 1)
    val aprDirBefore = t.manifest("2020-04")
    t.compact(_ == "2020-03")
    // layout-only commit: same rows, one file, other partitions carried
    assert(t.read().orderBy("pid").collect().sameElements(before))
    assert(parquetFiles(t.manifest("2020-03")) == 1)
    assert(t.manifest("2020-04") == aprDirBefore)
    // full compact + vacuum leaves a minimal table
    t.compact()
    t.vacuum()
    assert(t.read().orderBy("pid").collect().sameElements(before))
    assert(t.manifest.values.forall(parquetFiles(_) == 1))
  }

  test("mergeApply: inserts, updates and deletes land as ONE version; " +
    "a batch with two ops for one key fails loudly") {
    implicit val s = spark
    val t = mk()
    val v0 = t.version
    // delete pid 1, update pid 3, insert pid 9 — one commit
    t.mergeApply(Seq(
      (1L, "2020-03", "a", false, "D"),
      (3L, "2020-04", "C2", true, "U"),
      (9L, "2020-05", "new", false, "I"))
      .toDF("pid", "month", "v", "flag", "op"), Seq("pid"))
    assert(t.version == v0 + 1) // exactly one new version
    val rows = t.read().select("pid", "v").as[(Long, String)]
      .collect().toMap
    assert(rows == Map(2L -> "b", 3L -> "C2", 4L -> "d", 9L -> "new"))
    // conflicting ops for one key: no defined order -> loud failure,
    // and the table is untouched
    intercept[IllegalArgumentException] {
      t.mergeApply(Seq(
        (2L, "2020-03", "x", false, "U"),
        (2L, "2020-03", "y", false, "D"))
        .toDF("pid", "month", "v", "flag", "op"), Seq("pid"))
    }
    assert(t.version == v0 + 1)
    assert(t.read().count() == 4)
  }

  test("commit metadata work is O(touched dirs), not O(table dirs): " +
    "a 1-partition append onto a 200-dir table parses each manifest " +
    "version once and keeps untouched dirs' stats/bytes VERBATIM " +
    "(r13 verdict item 3)") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_od") + "/t", "k",
      spark, statsColumns = Seq("v"))
    t.overwrite((1 to 2000).map(i => (s"p${i % 200}", i.toLong))
      .toDF("k", "v"))
    val v0 = t.version
    // snapshot the untouched dirs' manifest nodes (raw JSON text)
    val manifest0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.root, f"v_$v0%06d.json")), "UTF-8")
    val parses0 = t.manifestParses.get()
    t.append(Seq(("pNEW", 9999L)).toDF("k", "v"))
    val parses = t.manifestParses.get() - parses0
    // the append reads the base manifest (1 parse) and its own new
    // manifest at most once more on the read-back paths — anything
    // O(dirs) would show up as hundreds (the pre-r14 code parsed
    // once PER ENTRY inside filter lambdas: 16 s at 3000 dirs)
    assert(parses <= 4, s"append cost $parses manifest parses")
    // untouched dirs: stats and bytes carried VERBATIM from parent
    val v1 = t.version
    val m0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.root, f"v_$v0%06d.json")), "UTF-8")
    assert(m0 == manifest0) // parent manifest immutable
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (n0, n1) = (mapper.readTree(manifest0),
      mapper.readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t.root, f"v_$v1%06d.json")), "UTF-8")))
    import scala.jdk.CollectionConverters._
    val dirs0 = n0.get("partitions").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val dirs1 = n1.get("partitions").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    // every untouched partition still points at the SAME dir…
    dirs0.foreach { case (k, d) => assert(dirs1(k) == d) }
    // …and carries byte-identical stats + bytes nodes
    (0 until 200).map(i => s"p$i").foreach { k =>
      val d = dirs0(k)
      assert(n1.get("stats").get(d).toString ==
        n0.get("stats").get(d).toString)
      assert(n1.get("bytes").get(d).asLong() ==
        n0.get("bytes").get(d).asLong())
    }
  }

  test("rebase probe keys come from the STAGED image, not the input " +
    "plan: an input whose source bytes change after staging neither " +
    "re-reads them nor flips the rebase decision (r13 advice)") {
    implicit val s = spark
    val t = mk() // pid 1,2 → 2020-03; pid 3 → 2020-04; pid 4 → 2020-05
    val t2 = PartitionedCowTable(t.root, "month")
    // loser's updates plan reads from a parquet dir on disk — the
    // read-modify-write / nondeterministic-input stand-in: if the
    // probe re-evaluated the plan at probe time, it would see
    // whatever the dir holds THEN, not what was staged
    val inDir = tempDir("pcow_in") + "/u"
    Seq((1L, "2020-03", "L", true)).toDF("pid", "month", "v", "flag")
      .write.parquet(inDir)
    t.commitSeam = () => {
      t.commitSeam = () => ()
      // winner lands pid 3 in a disjoint partition…
      t2.upsert(Seq((3L, "2020-04", "W", true))
        .toDF("pid", "month", "v", "flag"), Seq("pid"))
      // …then the loser's INPUT SOURCE is rewritten to carry the
      // winner's key: a probe that re-evaluated the input plan would
      // now see pid 3, refuse the (sound) rebase, and abort — or,
      // in the inverse scenario, admit an unsound one
      Seq((3L, "2020-04", "GHOST", true))
        .toDF("pid", "month", "v", "flag")
        .write.mode("overwrite").parquet(inDir)
    }
    t.upsert(spark.read.parquet(inDir), Seq("pid"))
    assert(t.version == 2) // winner v1, loser REBASED as v2
    val vs = t.read().select("pid", "v").as[(Long, String)].collect().toMap
    assert(vs === Map(1L -> "L", 2L -> "b", 3L -> "W", 4L -> "d"))
  }

  test("a second writer committing mid-flight: a CONTENT-IDENTICAL " +
    "winner is provably safe and the upsert rebases onto it; both " +
    "versions land in order") {
    implicit val s = spark
    val t = mk()
    // writer B completes a full commit (manifest + pointer flip) WHILE
    // writer A's parquet write executes — after A snapshots its base
    // version, before A's pointer flip. B's manifest is v0's content
    // re-published: its delta vs A's base is EMPTY, so A's key-scoped
    // rebase is sound by construction (nothing A read changed) and A
    // must land as v2 rather than aborting (pre-r13 behavior).
    PcowRacer.root = t.root
    PcowRacer.calls.set(0)
    val race = udf(PcowRacer.fire)
    t.upsert(Seq((2L, "2020-03", "B-CLOBBER", true))
      .toDF("pid", "month", "v", "flag")
      .withColumn("pid", race($"pid")), Seq("pid"))
    assert(PcowRacer.calls.get() == 1) // the delta is evaluated once
    assert(t.version == 2) // B's no-op v1, A rebased as v2
    assert(t.read().count() == 4)
    val vs = t.read().select("pid", "v").as[(Long, String)].collect().toMap
    assert(vs(2L) == "B-CLOBBER" && vs.size == 4)
    import scala.jdk.CollectionConverters._
    val names = Files.list(java.nio.file.Paths.get(t.root))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(!names.exists(_.startsWith("_stage_")))
  }

  test("a KEY-overlapping winner committing during the stage write: " +
    "the pinned base turns it into a version race, the upsert aborts " +
    "and leaves no stage dir") {
    implicit val s = spark
    val t = mk() // pid 4 → 2020-05
    // the winner lands the loser's key pid 4 in a NEW month, from
    // inside the loser's one evaluation of its updates: entries are
    // disjoint, so only the key probe can refuse the rebase
    val winner = tempDir("pcow_win") + "/w"
    Seq((4L, "2020-09", "dup", false)).toDF("pid", "month", "v", "flag")
      .coalesce(1).write.parquet(winner)
    PcowKeyRacer.root = t.root
    PcowKeyRacer.winnerFiles = winner
    PcowKeyRacer.calls.set(0)
    val race = udf(PcowKeyRacer.fire)
    intercept[java.util.ConcurrentModificationException] {
      t.upsert(Seq((4L, "2020-05", "L", true))
        .toDF("pid", "month", "v", "flag")
        .withColumn("pid", race($"pid")), Seq("pid"))
    }
    assert(PcowKeyRacer.calls.get() == 1)
    assert(t.version == 1) // the winner only
    assert(t.read().filter($"pid" === 4L).select("v").as[String]
      .collect().toSet == Set("d", "dup"))
    import scala.jdk.CollectionConverters._
    val names = Files.list(java.nio.file.Paths.get(t.root))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(!names.exists(_.startsWith("_stage_")))
    assert(!names.contains("w_000002"))
  }

  test("null, empty and sentinel partition values fail loudly through " +
    "append, upsert and overwrite of an existing table, leaving the " +
    "table as it was and no stage dir") {
    val t = mk()
    val v0 = t.version
    def row(month: String) =
      Seq((9L, month, "x", true)).toDF("pid", "month", "v", "flag")
    val e1 = intercept[IllegalArgumentException] {
      t.append(row(null))
    }
    assert(e1.getMessage.contains("contains null"))
    val e2 = intercept[IllegalArgumentException] {
      t.upsert(row(""), Seq("pid"))
    }
    assert(e2.getMessage.contains("empty string"))
    val e3 = intercept[IllegalArgumentException] {
      t.overwrite(row("__HIVE_DEFAULT_PARTITION__"))
    }
    assert(e3.getMessage.contains("sentinel"))
    assert(t.version == v0 && t.read().count() == 4)
    import scala.jdk.CollectionConverters._
    assert(!Files.list(java.nio.file.Paths.get(t.root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_stage_")))
  }

  test("commit job counts are pinned: append, upsert and overwrite each " +
    "stage their delta once and take the touched set from the listing; " +
    "deleteWhere collects its touched set in one job") {
    val t = mk()
    // deltas come from files, as a landed catalogue page does: a local
    // Seq's distinct is answered without a job, which would hide every
    // re-evaluation of the delta this spec is here to count
    def landed(rows: (Long, String, String, Boolean)*) = {
      val p = tempDir("pcow_delta") + "/d"
      rows.toDF("pid", "month", "v", "flag").write.parquet(p)
      spark.read.parquet(p)
    }
    val (add, up, all) = (landed((5L, "2020-05", "e", false)),
      landed((2L, "2020-03", "B", true)),
      landed((1L, "2020-03", "a", false), (3L, "2020-04", "c", false)))
    def count(f: => Unit): Int =
      org.apache.spark.JobCount(spark.sparkContext)(f)._2
    val app = count(t.append(add))
    val ups = count(t.upsert(up, Seq("pid")))
    val ow = count(t.overwrite(all))
    // pid in the predicate keeps the delete on the row path; a
    // spec-column-only predicate is a metadata-only retire (0 jobs)
    val del = count(t.deleteWhere($"month" === "2020-04" && $"pid" === 3L))
    // append: stage the delta, carry 2020-05's rows; upsert: stage,
    // then carry 2020-03's other rows anti-joined on the staged keys
    // (broadcast + write); overwrite: the one stage write; delete: the
    // predicate's touched values (one job), then the stage write
    assert((app, ups, ow, del) === ((2, 3, 1, 2)))
    assert(t.read().count() == 1)
  }

  test("key-disjoint upsert races REBASE: interleaved upserts on " +
    "different months both land; a winner holding the loser's KEY " +
    "in a foreign partition still aborts (r12 verdict item 5)") {
    implicit val s = spark
    val t = mk() // pid 1,2 → 2020-03; pid 3 → 2020-04; pid 4 → 2020-05
    val t2 = PartitionedCowTable(t.root, "month")
    // winner upserts pid 3 (rewrites 2020-04) while the loser's
    // upsert of pid 1 (2020-03) is mid-flight: entries disjoint AND
    // the winner's new content (pid 3 only) carries none of the
    // loser's keys — the probe passes and BOTH upserts land
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.upsert(Seq((3L, "2020-04", "W", true))
        .toDF("pid", "month", "v", "flag"), Seq("pid"))
    }
    t.upsert(Seq((1L, "2020-03", "L", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid"))
    assert(t.version == 2)
    val vs = t.read().select("pid", "v").as[(Long, String)].collect().toMap
    assert(vs === Map(1L -> "L", 2L -> "b", 3L -> "W", 4L -> "d"))
    // SAME-month race still aborts loudly (entry overlap)
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.upsert(Seq((2L, "2020-03", "W2", true))
        .toDF("pid", "month", "v", "flag"), Seq("pid"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.upsert(Seq((1L, "2020-03", "L2", true))
        .toDF("pid", "month", "v", "flag"), Seq("pid"))
    }
    assert(t.read().filter($"pid" === 2L)
      .select("v").as[String].head() == "W2") // winner intact
    assert(t.read().filter($"pid" === 1L)
      .select("v").as[String].head() == "L") // loser rolled back
    // KEY-overlap in a DISJOINT partition: winner appends the loser's
    // key pid 4 into a brand-new month — entry-disjoint, but the
    // probe sees pid 4 in the winner's delta and the loser must
    // abort (a silent rebase would duplicate the key)
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.append(Seq((4L, "2020-09", "dup", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.upsert(Seq((4L, "2020-05", "L3", true))
        .toDF("pid", "month", "v", "flag"), Seq("pid"))
    }
    // winner's append survives; the loser's upsert did not land
    assert(t.read().filter($"pid" === 4L).count() == 2) // 05 + 09 rows
    assert(t.read().filter($"v" === "L3").isEmpty)
    import scala.jdk.CollectionConverters._
    assert(!Files.list(java.nio.file.Paths.get(t.root))
      .iterator().asScala.exists(
        _.getFileName.toString.startsWith("_stage_")))
  }

  test("concurrent DISJOINT-partition appends: the loser rebases onto " +
    "the winner automatically and BOTH commits land; overlapping or " +
    "schema-changing winners still abort loudly") {
    implicit val s = spark
    val t = mk() // v0: 2020-03, 2020-04, 2020-05
    val t2 = PartitionedCowTable(t.root, "month")
    // winner lands a FULL commit to a different partition while the
    // loser sits between its base snapshot and its pointer flip —
    // the loser's claim of w_000001 collides, sees the winner's
    // disjoint diff, and rebases instead of aborting
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.append(Seq((9L, "2020-07", "w", false))
        .toDF("pid", "month", "v", "flag"))
    }
    t.append(Seq((8L, "2020-06", "l", false))
      .toDF("pid", "month", "v", "flag"))
    assert(t.version == 2) // winner v1, rebased loser v2
    assert(t.read().count() == 6)
    assert(t.manifest.keySet == Set(
      "2020-03", "2020-04", "2020-05", "2020-06", "2020-07"))
    import scala.jdk.CollectionConverters._
    def rootNames = Files.list(java.nio.file.Paths.get(t.root))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(!rootNames.exists(_.startsWith("_stage_")))
    // METADATA-ONLY winner (scoped DV on an untouched partition):
    // the loser's data-dir claim succeeds, writeVersion races, and
    // the rebase carries the winner's deletion vector forward
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.deleteWhereDV(col("pid") === 1L, Seq("pid")) // hits 2020-03
    }
    t.append(Seq((10L, "2020-08", "m", false))
      .toDF("pid", "month", "v", "flag"))
    assert(t.version == 4) // DV commit v3, rebased append v4
    assert(t.read().count() == 6) // 6 − pid1 + pid10
    assert(t.read().filter($"pid" === 1L).isEmpty)
    assert(t.liveDvFiles.nonEmpty)
    // OVERLAPPING appends (same partition) genuinely conflict: abort,
    // winner intact, loser's staging cleaned
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.append(Seq((11L, "2020-06", "w2", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((12L, "2020-06", "l2", false))
        .toDF("pid", "month", "v", "flag"))
    }
    assert(t.version == 5) // only the winner's commit
    assert(t.read().filter($"month" === "2020-06")
      .select("v").as[String].collect().toSet == Set("l", "w2"))
    assert(!rootNames.exists(_.startsWith("_stage_")))
    // a SCHEMA-changing winner aborts even for disjoint partitions
    // (the loser's staged data was conformed against the old schema)
    t.commitSeam = () => {
      t.commitSeam = () => ()
      t2.evolveSchema("note", "STRING", Some("'x'"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((13L, "2020-09", "l3", false))
        .toDF("pid", "month", "v", "flag"))
    }
    assert(t.version == 6) // the evolve only
    assert(!rootNames.exists(_.startsWith("w_000007")))
    assert(!rootNames.exists(_.startsWith("_stage_")))
  }

  test("data-dir collision fails the loser without touching the winner's files") {
    implicit val s = spark
    val t = mk()
    // a competing writer from the same base already claimed w_000001
    // (renamed into place, pointer flip in flight): the loser must fail
    // on the name collision, leave the winner's files alone, and leave
    // no staging garbage behind
    val root = java.nio.file.Paths.get(t.root)
    val winner = root.resolve("w_000001/__part=2020-07")
    java.nio.file.Files.createDirectories(winner)
    java.nio.file.Files.write(winner.resolve("part-winner.parquet"),
      "winner-bytes".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((9L, "2020-06", "z", false)).toDF("pid", "month", "v", "flag"))
    }
    assert(java.nio.file.Files.exists(winner.resolve("part-winner.parquet")))
    import scala.jdk.CollectionConverters._
    assert(!java.nio.file.Files.list(root).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_stage_")))
    // the table itself is untouched and still readable
    assert(t.read().count() == 4)
  }

  test("idempotent re-run: same upsert twice, same table") {
    val t = mk()
    val up = Seq((2L, "2020-03", "B", true)).toDF("pid", "month", "v", "flag")
    t.upsert(up, Seq("pid"))
    t.upsert(up, Seq("pid"))
    assert(t.read().count() == 4)
    assert(t.read().filter($"v" === "B").count() == 1)
  }

  test("readVersion: superseded states stay readable exactly as committed") {
    val t = mk()
    val v1 = t.version
    t.upsert(Seq((2L, "2020-03", "B2", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    val v2 = t.version
    t.deleteWhere($"month" === "2020-04")
    // current: row 3 gone, row 2 rewritten
    assert(t.read().count() == 3)
    // v1: the original state, including the pre-upsert row 2
    val atV1 = t.readVersion(v1)
    assert(atV1.count() == 4)
    assert(atV1.filter($"pid" === 2L).select("v").as[String].head() == "b")
    // v2: post-upsert, pre-delete
    val atV2 = t.readVersion(v2)
    assert(atV2.count() == 4)
    assert(atV2.filter($"pid" === 2L).select("v").as[String].head() == "B2")
    // pruned time travel only lists the matching partition's old dir
    assert(t.readVersionWhere(v1, _ == "2020-04").count() == 1)
    // a version that never existed fails loudly, not with an empty df
    intercept[IllegalArgumentException] { t.readVersion(99) }
  }

  test("readVersion after vacuum: reclaimed versions refuse, current survives") {
    val t = mk()
    val v1 = t.version
    t.upsert(Seq((1L, "2020-03", "A", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    t.vacuum()
    // v1's manifest is gone — the retention contract is a loud error
    intercept[IllegalArgumentException] { t.readVersion(v1) }
    assert(t.read().count() == 4)
  }

  // ---- partition evolution ----

  test("evolvePartitioning is metadata-only: no data job, empty " +
    "change feed, identical reads, old versions intact") {
    val t = mk()
    val v0 = t.version
    val before = t.read().orderBy("pid").collect().toSeq
    t.evolvePartitioning("v")
    assert(t.version === v0 + 1)
    assert(t.currentPartCol === "v")
    assert(t.changedSince(v0).count() === 0) // dirs unchanged
    assert(t.read().orderBy("pid").collect().toSeq === before)
    assert(t.manifest.isEmpty) // nothing on the new spec yet
    assert(t.legacyEntries.map(_._1).toSet === Set("month"))
    assert(t.readVersion(v0).count() === 4) // time travel intact
    intercept[IllegalArgumentException] { t.evolvePartitioning("nope") }
  }

  test("post-evolve appends land under the new spec; legacy dirs are " +
    "read but never pruned by new-spec values") {
    val t = mk()
    t.evolvePartitioning("v")
    t.append(Seq((5L, "2020-06", "e", false)).toDF("pid", "month", "v", "flag"))
    assert(t.manifest.keySet === Set("e")) // new spec entry
    assert(t.legacyEntries.size === 3)     // all month dirs intact
    assert(t.read().count() === 5)
    // pruning on the new spec keeps every legacy row (Iceberg rule:
    // old files keep their old spec, only new-spec dirs prune)
    assert(t.readWhere(_ == "e").count() === 5)
    assert(t.readWhere(_ => false).count() === 4) // legacy only
  }

  test("upsert migrates exactly the legacy dirs holding touched keys; " +
    "cold legacy dirs stay by reference") {
    val t = mk()
    t.evolvePartitioning("v")
    // pid 1 lives in the month=2020-03 legacy dir (with pid 2): that
    // whole dir migrates; 2020-04 and 2020-05 stay legacy
    t.upsert(Seq((1L, "2020-03", "a", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    assert(t.read().count() === 4) // no duplication
    assert(t.read().filter(col("pid") === 1).head().getAs[Boolean]("flag"))
    val legacyMonths = t.legacyEntries.map(_._2).toSet
    assert(legacyMonths === Set("2020-04", "2020-05"))
    // the migrated dir's OTHER row (pid 2) rode along under 'v'
    assert(t.manifest.keySet === Set("a", "b"))
  }

  test("compact migrates every remaining legacy dir; content unchanged") {
    val t = mk()
    t.evolvePartitioning("v")
    val before = t.read().orderBy("pid").collect().toSeq
    t.compact()
    assert(t.legacyEntries.isEmpty)
    assert(t.manifest.keySet === Set("a", "b", "c", "d"))
    assert(t.read().orderBy("pid").collect().toSeq === before)
    t.vacuum() // old-spec dirs now unreferenced and reclaimable
    assert(t.read().orderBy("pid").collect().toSeq === before)
  }

  test("deleteWhere on a legacy row migrates its dir minus the row") {
    val t = mk()
    t.evolvePartitioning("v")
    t.deleteWhere(col("pid") === 2)
    assert(t.read().count() === 3)
    assert(t.manifest.keySet === Set("a")) // pid 1 migrated alongside
    assert(t.legacyEntries.map(_._2).toSet === Set("2020-04", "2020-05"))
  }

  test("restore republishes an old version as a NEW commit; vacuum " +
    "then reclaims the undone versions") {
    val t = mk()
    t.upsert(Seq((1L, "2020-03", "A", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid")) // v1
    val v1State = t.read().orderBy("pid").collect().toSeq
    t.deleteWhere(col("pid") === 2) // v2
    t.restore(1) // v3, metadata-only
    assert(t.version === 3)
    assert(t.read().orderBy("pid").collect().toSeq === v1State)
    // the undone version stays time-travelable until vacuum
    assert(t.readVersion(2).count() === 3)
    t.vacuum()
    intercept[IllegalArgumentException] { t.readVersion(2) }
    assert(t.read().orderBy("pid").collect().toSeq === v1State)
    // restore to the current version is a no-op
    t.restore(3)
    assert(t.version === 3)
    // restoring a vacuumed-away version fails loudly
    intercept[IllegalArgumentException] { t.restore(0) }
  }

  test("zone maps: stats recorded at commit, carried for untouched " +
    "dirs, recomputed for rewritten ones; pruning is conservative") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_zm") + "/t", "month",
      spark, statsColumns = Seq("k"))
    t.overwrite(Seq(
      (1L, "2020-03", 10L), (2L, "2020-03", 20L),
      (3L, "2020-04", 100L), (4L, "2020-05", 1000L))
      .toDF("pid", "month", "k"))
    // (dirs total, dirs the scan listed) of a plain range read, read
    // off the plan-automatic ledger once the read has run
    def pruned(c: String, lo: Long, hi: Long): (Int, Int) = {
      t.read().filter(col(c).between(lo, hi)).collect()
      t.autoPruneLedger
    }
    // [15, 150] intersects 2020-03 [10,20] and 2020-04 [100,100]
    assert(pruned("k", 15L, 150L) === ((3, 2)))
    assert(t.read().filter(col("k").between(15L, 150L))
      .collect().map(_.getAs[Long]("pid")).toSet === Set(2L, 3L))
    // a column with no recorded stats never prunes
    assert(pruned("pid", 999L, 9999L) === ((3, 3)))
    // upsert rewrites 2020-03 -> its stats recompute; others carry
    t.upsert(Seq((1L, "2020-03", 500L)).toDF("pid", "month", "k"),
      Seq("pid"))
    assert(pruned("k", 400L, 600L) === ((3, 1))) // only 2020-03
    assert(pruned("k", 15L, 30L) === ((3, 1)))   // k=20 remains
    // metadata-only commits carry the zone maps verbatim
    t.evolveSchema("note", "STRING")
    assert(pruned("k", 400L, 600L) === ((3, 1)))
    // and restore brings the restored version's stats back
    t.restore(t.version - 1)
    assert(pruned("k", 400L, 600L) === ((3, 1)))
  }

  test("deletion vectors: delete rewrites NO dir, rewrites " +
    "materialize, re-inserts live, compact clears, vacuum reclaims") {
    val t = mk()
    val dirsBefore = t.manifest.values.toSet
    t.deleteWhereDV(col("pid") % 2 === 0, Seq("pid")) // pids 2, 4
    assert(t.manifest.values.toSet === dirsBefore) // zero data rewrite
    assert(t.read().collect().map(_.getAs[Long]("pid")).toSet ===
      Set(1L, 3L))
    assert(t.liveDvFiles.size === 1)
    // deleting already-DV-deleted rows is a version no-op
    val v = t.version
    t.deleteWhereDV(col("pid") === 2, Seq("pid"))
    assert(t.version === v)
    // the DV commit changes exactly the dirs holding deleted keys:
    // 2020-03 (pid 2) and 2020-05 (pid 4) — CDC reports their
    // surviving rows (pid 1; 2020-05 emptied) and NOT untouched
    // 2020-04 (pid 3), so read cost stays proportional to the delete
    assert(t.changedSince(0).collect()
      .map(_.getAs[Long]("pid")).toSet === Set(1L))
    // upsert a deleted key: its partition rewrites (materializing the
    // vector there), the new row lives; other vectors stay in force
    t.upsert(Seq((2L, "2020-03", "bb", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid"))
    assert(t.read().collect().map(_.getAs[Long]("pid")).toSet ===
      Set(1L, 2L, 3L)) // pid 4 still deleted via its dir's vector
    // compact materializes everything and drops all vectors
    t.compact()
    assert(t.liveDvFiles.isEmpty)
    assert(t.read().collect().map(_.getAs[Long]("pid")).toSet ===
      Set(1L, 2L, 3L))
    t.vacuum() // reclaims the now-unreferenced dv file
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t.root, "dv")) ||
      java.nio.file.Files.list(
        java.nio.file.Paths.get(t.root, "dv")).count() === 0)
    assert(t.read().count() === 3)
  }

  test("plan-automatic pruning: plain DataFrame filters consult the " +
    "manifest + zone maps through the table's FileIndex") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_auto") + "/t", "month",
      spark, statsColumns = Seq("k"))
    t.overwrite(Seq(
      (1L, "2020-03", 10L), (2L, "2020-03", 20L),
      (3L, "2020-04", 100L), (4L, "2020-05", 1000L))
      .toDF("pid", "month", "k"))
    // partition-column equality through a PLAIN filter: one dir listed
    val m = t.read().filter(col("month") === "2020-04")
    assert(m.collect().map(_.getAs[Long]("pid")).toSet === Set(3L))
    assert(t.autoPruneLedger === ((3, 1)))
    // range on the zone-mapped NON-partition column: two dirs
    val z = t.read().filter(col("k") >= 15L && col("k") <= 150L)
    assert(z.collect().map(_.getAs[Long]("pid")).toSet === Set(2L, 3L))
    assert(t.autoPruneLedger === ((3, 2)))
    // IN-list on the partition column
    val i = t.read().filter(col("month").isin("2020-03", "2020-05"))
    assert(i.count() === 3)
    assert(t.autoPruneLedger === ((3, 2)))
    // negation evaluates exactly on the known partition value
    val n = t.read().filter(col("month") =!= "2020-03")
    assert(n.count() === 2)
    assert(t.autoPruneLedger === ((3, 2)))
    // an unmodeled predicate keeps everything: conservative, correct
    val u = t.read().filter(length(col("month")) === 7)
    assert(u.count() === 4)
    assert(t.autoPruneLedger === ((3, 3)))
    // pruning composes with schema evolution and deletion vectors
    t.evolveSchema("note", "STRING", Some("'x'"))
    t.deleteWhereDV(col("pid") === 3L, Seq("pid"))
    val c = t.read().filter(col("month") === "2020-04")
    assert(c.collect().isEmpty) // dv applied
    assert(t.autoPruneLedger === ((3, 1)))
    assert(t.read().filter(col("month") === "2020-03")
      .collect().map(_.getAs[String]("note")).toSet === Set("x"))
  }

  test("lazy metadata plane: pruned dirs are NEVER filesystem-listed " +
    "on the plain read().filter path; plan-time size comes from " +
    "manifest-recorded bytes") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_lazy") + "/t", "month",
      spark, statsColumns = Seq("k"))
    t.overwrite(Seq(
      (1L, "2020-03", 10L), (2L, "2020-04", 100L),
      (3L, "2020-05", 1000L)).toDF("pid", "month", "k"))
    // commit recorded per-dir byte counts: sizeInBytes (which Catalyst
    // asks for at plan time) is served from the manifest, so the
    // listing ledger below reflects ONLY listFiles decisions
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(t.root, "v_000000.json")))
    assert(json.contains("\"bytes\""))
    // partition-column equality: exactly the one kept dir is listed
    val m = t.read().filter(col("month") === "2020-04")
    assert(m.collect().map(_.getAs[Long]("pid")).toSet === Set(2L))
    assert(t.autoPruneLedger === ((3, 1)))
    val listed = t.autoListedDirs
    assert(listed.size === 1)
    assert(listed.head.endsWith(t.manifest("2020-04")))
    Seq("2020-03", "2020-05").foreach { v =>
      assert(!listed.exists(_.endsWith(t.manifest(v))),
        s"pruned dir for $v was filesystem-listed")
    }
    // zone-map range on the non-partition column: two dirs listed,
    // the disjoint one never touched
    val z = t.read().filter(col("k") >= 15L && col("k") <= 1500L)
    assert(z.collect().map(_.getAs[Long]("pid")).toSet === Set(2L, 3L))
    assert(t.autoPruneLedger === ((3, 2)))
    assert(t.autoListedDirs.size === 2)
    assert(!t.autoListedDirs.exists(_.endsWith(t.manifest("2020-03"))))
  }

  test("bloom sidecars: equality point-lookups open only dirs that " +
    "might contain the key, absent keys open NOTHING; ranges untouched; " +
    "unsupported types refused loudly") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_bloom") + "/t", "month",
      spark, bloomColumns = Seq("pid", "tag"))
    t.overwrite(Seq(
      (10L, "2020-03", "a"), (11L, "2020-03", "b"),
      (20L, "2020-04", "c"), (30L, "2020-05", null))
      .toDF("pid", "month", "tag"))
    // the manifest flags the sidecars and the files exist in-dir
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(t.root, "v_000000.json")))
    assert(json.contains("\"blooms\""))
    assert(Files.exists(java.nio.file.Paths.get(
      t.root, t.manifest("2020-04").split("/").mkString("/"),
      "_bloom_pid.bf")))
    // long-key point lookup: one dir of three
    assert(t.read().filter($"pid" === 20L)
      .select("tag").as[String].head() == "c")
    assert(t.autoPruneLedger === ((3, 1)))
    // ABSENT key: zero dirs listed, zero rows — the 100 TB win
    assert(t.read().filter($"pid" === 999L).count() == 0)
    assert(t.autoPruneLedger === ((3, 0)))
    // IN-list decomposes per element (dirs holding 10 or 30)
    assert(t.read().filter($"pid".isin(10L, 30L)).count() == 2)
    assert(t.autoPruneLedger === ((3, 2)))
    // string bloom column prunes the same way; the all-null tag dir
    // has NO tag sidecar and is kept conservatively (absence of a
    // filter is never a prune), so probes keep it plus any maybe-dir
    assert(t.read().filter($"tag" === "b").count() == 1)
    assert(t.autoPruneLedger === ((3, 2))) // 2020-03 + null-tag dir
    assert(t.read().filter($"tag" === "zzz").count() == 0)
    assert(t.autoPruneLedger === ((3, 1))) // only the null-tag dir
    // RANGE predicates never consult blooms (equality only)
    assert(t.read().filter($"pid" >= 11L && $"pid" <= 21L).count() == 2)
    assert(t.autoPruneLedger === ((3, 3)))
    // a rewrite recomputes the touched dir's filter: the new key is
    // findable, the old dropped key prunes to nothing
    t.upsert(Seq((21L, "2020-04", "c2")).toDF("pid", "month", "tag"),
      Seq("pid"))
    assert(t.read().filter($"pid" === 21L).count() == 1)
    assert(t.autoPruneLedger === ((3, 1)))
    // unsupported bloom-column type is refused at commit
    val t2 = new PartitionedCowTable(
      tempDir("pcow_bloom2") + "/t", "month",
      spark, bloomColumns = Seq("score"))
    val err = intercept[IllegalArgumentException] {
      t2.overwrite(Seq((1L, "2020-03", 0.5)).toDF("pid", "month", "score"))
    }
    assert(err.getMessage.contains("unsupported type"))
  }

  test("compact with targetBytes fans a big partition into multiple " +
    "files sized by the manifest byte counts; small dirs collapse to " +
    "one; content identical") {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow_tgt") + "/t", "month")
    // one fat month (600 rows of padded payload), two slim ones
    val fat = (0 until 600).map(i =>
      (i.toLong, "2020-03", "x" * 200 + i))
    val slim = Seq((9001L, "2020-04", "a"), (9002L, "2020-05", "b"))
    t.overwrite((fat ++ slim).toDF("pid", "month", "v")
      .repartition(8)) // start fragmented: several files per dir
    val rows0 = t.read().orderBy("pid").collect()
    import scala.jdk.CollectionConverters._
    def filesOf(value: String): Int = {
      val listing = Files.list(java.nio.file.Paths.get(
        t.root, t.manifest(value)))
      try listing.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_")
      } finally listing.close()
    }
    assert(filesOf("2020-03") > 1) // fragmented before
    // target ~1/4 of the fat dir's bytes -> ~4 salted files there
    val fatBytes = {
      val listing = Files.list(java.nio.file.Paths.get(
        t.root, t.manifest("2020-03")))
      try listing.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
      finally listing.close()
    }
    val target = math.max(1L, fatBytes / 4)
    val expNf = math.ceil(fatBytes.toDouble / target).toLong // 4 or 5
    t.compact(targetBytes = target)
    assert(t.read().orderBy("pid").collect() === rows0)
    val fatFiles = filesOf("2020-03")
    assert(fatFiles >= 2 && fatFiles <= expNf,
      s"expected 2..$expNf sized files for the fat dir, got $fatFiles")
    assert(filesOf("2020-04") == 1 && filesOf("2020-05") == 1)
    // default compact still collapses everything to one file per dir
    t.compact()
    assert(filesOf("2020-03") == 1)
    assert(t.read().count() == 602)
  }

  test("zOrderRelayout migrates an ingest-keyed table to z-cells in " +
    "one data job: bbox filters prune to intersecting tiles, null " +
    "coords land in the sentinel cell, old versions time-travel") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_zre") + "/t", "month",
      spark, statsColumns = Seq("x", "y"))
    // 3 ingest months, coords spread over the full [0,1000]^2 plane
    // in every month — the layout zone maps can't prune on
    val rows = (0 until 96).map { i =>
      (i.toLong, f"2020-${i % 3 + 1}%02d",
        (i % 8) * 1000.0 / 7.0, (i / 8 % 4) * 1000.0 / 3.0)
    } :+ (999L, "2020-01", Double.NaN, 0.0)
    val df = rows.toDF("pid", "month", "x", "y")
      .withColumn("x", when(col("pid") === 999L,
        lit(null: java.lang.Double)).otherwise(col("x")))
    t.overwrite(df)
    val v0 = t.version
    val full = t.read().filter(col("x") <= 240.0 && col("y") <= 240.0)
      .count()
    assert(t.autoPruneLedger === ((3, 3))) // every month intersects
    t.zOrderRelayout("x", "y", 4)
    // one data commit on top of the two metadata commits
    assert(t.version == v0 + 3)
    assert(t.legacyEntries.isEmpty) // fully migrated in the rewrite
    assert(t.currentPartCol == "z_cell")
    // content preserved (plus the cell column), null-coord row in -1
    assert(t.read().count() == 97)
    assert(t.read().filter(col("z_cell") === -1L)
      .select("pid").as[Long].head() == 999L)
    // the SAME bbox filter now opens only intersecting tiles
    val zn = t.read().filter(col("x") <= 240.0 && col("y") <= 240.0)
      .count()
    assert(zn == full)
    val (tot, kept) = t.autoPruneLedger
    assert(tot > 3 && kept < tot / 2,
      s"expected tile-pruned read, got ($tot, $kept)")
    // pre-relayout state stays time-travelable in its old shape
    val old = t.readVersion(v0)
    assert(old.count() == 97 && !old.columns.contains("z_cell"))
  }

  test("STRING zone maps: plain filters on string stats columns prune " +
    "lexicographically; non-ASCII comparisons stay conservative") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_sstat") + "/t", "month",
      spark, statsColumns = Seq("d", "k"))
    t.overwrite(Seq(
      (1L, "2020-03", "2020-03-05", 10L),
      (2L, "2020-03", "2020-03-20", 20L),
      (3L, "2020-04", "2020-04-02", 100L),
      (4L, "2020-05", "2020-05-30", 1000L))
      .toDF("pid", "month", "d", "k"))
    // range on the STRING date column: only intersecting dirs listed
    val r = t.read().filter(
      col("d") >= "2020-03-10" && col("d") <= "2020-04-10")
    assert(r.collect().map(_.getAs[Long]("pid")).toSet === Set(2L, 3L))
    assert(t.autoPruneLedger === ((3, 2)))
    // equality below every dir's min: zero dirs listed
    assert(t.read().filter(col("d") === "2019-01-01").count() === 0)
    assert(t.autoPruneLedger === ((3, 0)))
    // both stats families prune in ONE filter (string d AND long k)
    val b = t.read().filter(col("d") >= "2020-04-01" && col("k") < 500L)
    assert(b.collect().map(_.getAs[Long]("pid")).toSet === Set(3L))
    assert(t.autoPruneLedger === ((3, 1)))
    // a non-ASCII literal never prunes (UTF-16 vs UTF-8 order can
    // disagree) — conservative, still correct
    assert(t.read().filter(col("d") > "世").count() === 0)
    assert(t.autoPruneLedger === ((3, 3)))
    // rewritten dirs recompute string stats; carried dirs keep theirs
    t.upsert(Seq((1L, "2020-03", "2020-03-25", 11L))
      .toDF("pid", "month", "d", "k"), Seq("pid"))
    val u = t.read().filter(col("d") <= "2020-03-10")
    assert(u.count() === 0) // 2020-03's min moved to 03-20
    assert(t.autoPruneLedger === ((3, 0)))
    // PREFIX filter (LIKE 'p%'): exact on the partition value, and
    // interval [p, succ(p)) on the string zone map
    val pm = t.read().filter(col("month").startsWith("2020-0"))
    assert(pm.count() === 4)
    assert(t.autoPruneLedger === ((3, 3)))
    val p1 = t.read().filter(col("month").startsWith("2020-04"))
    assert(p1.collect().map(_.getAs[Long]("pid")).toSet === Set(3L))
    assert(t.autoPruneLedger === ((3, 1)))
    val pd = t.read().filter(col("d").startsWith("2020-05"))
    assert(pd.collect().map(_.getAs[Long]("pid")).toSet === Set(4L))
    assert(t.autoPruneLedger === ((3, 1)))
    // null-safe equality against a non-null literal prunes like =
    val ns = t.read().filter(col("month") <=> "2020-04")
    assert(ns.collect().map(_.getAs[Long]("pid")).toSet === Set(3L))
    assert(t.autoPruneLedger === ((3, 1)))
  }

  test("deletion vectors are SCOPED: untouched partitions keep their " +
    "dv list and their reads carry no anti-join") {
    val t = mk()
    t.deleteWhereDV(col("pid") === 2, Seq("pid")) // lives in 2020-03
    // only the touched partition's read applies a vector
    val unaffected = t.readWhere(_ == "2020-04")
    assert(!unaffected.queryExecution.optimizedPlan.toString
      .contains("LeftAnti"))
    assert(unaffected.count() === 1)
    val touched = t.readWhere(_ == "2020-03")
    assert(touched.queryExecution.optimizedPlan.toString
      .contains("LeftAnti"))
    assert(touched.collect().map(_.getAs[Long]("pid")).toSet === Set(1L))
    // CDC: the delete changed exactly one partition
    assert(t.changedSince(0).collect()
      .map(_.getAs[Long]("pid")).toSet === Set(1L))
    // a second delete in a different partition stacks independently
    t.deleteWhereDV(col("pid") === 3, Seq("pid")) // 2020-04
    assert(t.read().collect().map(_.getAs[Long]("pid")).toSet ===
      Set(1L, 4L))
    assert(!t.readWhere(_ == "2020-05").queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
  }

  test("deletion vectors delete NULL-keyed rows (null-safe anti-join)") {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow_dvnull") + "/t", "month")
    t.overwrite(Seq(
      (Option(1L), "2020-03", 10L),
      (Option.empty[Long], "2020-03", 999L),
      (Option(3L), "2020-04", 30L))
      .toDF("pid", "month", "k"))
    // the predicate matches the null-keyed row; a plain-equality
    // anti-join would silently keep it — the erasure must remove it
    t.deleteWhereDV(col("k") === 999L, Seq("pid"))
    assert(t.read().collect().map(_.getAs[Long]("k")).toSet ===
      Set(10L, 30L))
    // and non-null keys still delete alongside
    t.deleteWhereDV(col("pid") === 3L, Seq("pid"))
    assert(t.read().collect().map(_.getAs[Long]("k")).toSet === Set(10L))
  }

  test("deleteWhereDV shards large key files instead of coalesce(1)") {
    val t = mk()
    t.deleteWhereDV(col("pid") <= 3, Seq("pid"), shardRows = 1L)
    assert(t.read().collect().map(_.getAs[Long]("pid")).toSet === Set(4L))
    val dvDir = java.nio.file.Paths.get(t.root, t.liveDvFiles.head)
    import scala.jdk.CollectionConverters._
    val parts = {
      val l = java.nio.file.Files.list(dvDir)
      try l.iterator().asScala.count(p =>
        p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
      finally l.close()
    }
    assert(parts === 3) // ceil(3 keys / 1 per shard)
  }

  test("vacuum and orphanReport ignore foreign v_*.json names") {
    val t = mk()
    t.upsert(Seq((1L, "2020-03", "A", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid")) // v1 supersedes v0
    val foreign = java.nio.file.Paths.get(t.root, "v_backup.json")
    java.nio.file.Files.write(foreign, "{}".getBytes)
    // a non-conforming name is not ours: never parsed, never counted,
    // never deleted — and it must not abort the audit or the vacuum
    assert(t.orphanReport._2 === 1L) // only the superseded v0 manifest
    t.vacuum()
    assert(java.nio.file.Files.exists(foreign))
    assert(t.read().count() === 4)
  }

  test("tags anchor versions through vacuum; dropping the tag " +
    "releases them; re-tagging moves the ref") {
    val t = mk() // v0
    t.tag("base")
    t.deleteWhere(col("pid") === 1) // v1
    t.vacuum()
    assert(t.readTag("base").count() === 4) // v0 survives via the tag
    assert(t.read().count() === 3)
    // orphanReport sees nothing while the tag protects v0
    assert(t.orphanReport === ((0L, 0L, 0L, 0L)))
    t.dropTag("base")
    assert(t.orphanReport._2 >= 1L) // v0's manifest now reclaimable
    t.vacuum()
    intercept[IllegalArgumentException] { t.readTag("base") }
    intercept[IllegalArgumentException] { t.readVersion(0) }
    assert(t.read().count() === 3)
    // replace-tag: the name moves to the new head
    t.tag("rel")
    t.upsert(Seq((5L, "2020-06", "e", false))
      .toDF("pid", "month", "v", "flag"), Seq("pid")) // v2
    t.tag("rel")
    assert(t.tags("rel") === 2)
    assert(t.readTag("rel").count() === 4)
  }

  // ---- schema evolution ----

  test("evolveSchema is metadata-only: old dirs read the default, " +
    "time travel keeps the old shape, writes conform") {
    val t = mk()
    val v0 = t.version
    t.evolveSchema("state", "STRING", Some("'pending'"))
    assert(t.version === v0 + 1)
    assert(t.changedSince(v0).count() === 0) // no byte rewritten
    // every pre-evolution row reads the default
    assert(t.read().filter(col("state") === "pending").count() === 4)
    // time travel to v0 has no such column
    assert(!t.readVersion(v0).columns.contains("state"))
    // an upsert WITHOUT the new column materializes the default;
    // one WITH it keeps the value
    t.upsert(Seq((1L, "2020-03", "A", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid"))
    t.upsert(Seq((2L, "2020-03", "B", true, "done"))
      .toDF("pid", "month", "v", "flag", "state"), Seq("pid"))
    val st = t.read().collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[String]("state")).toMap
    assert(st === Map(1L -> "pending", 2L -> "done",
      3L -> "pending", 4L -> "pending"))
    // duplicate add and unknown extra columns fail loudly
    intercept[IllegalArgumentException] {
      t.evolveSchema("state", "STRING")
    }
    intercept[IllegalArgumentException] {
      t.append(Seq((9L, "2020-07", "z", false, "done", 1))
        .toDF("pid", "month", "v", "flag", "state", "oops"))
    }
  }

  test("initial-default scoping: an explicit NULL written AFTER the " +
    "evolve reads back as NULL, not the default (Iceberg contract)") {
    val t = mk()
    t.evolveSchema("state", "STRING", Some("'pending'"))
    // post-evolve write with an EXPLICIT null in the defaulted column
    t.upsert(Seq((1L, "2020-03", "A", true, null: String))
      .toDF("pid", "month", "v", "flag", "state"), Seq("pid"))
    val st = t.read().collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[String]("state")).toMap
    // pid 1's NULL survives (its dir postdates the column); pid 2
    // rode along in the rewritten dir and materialized the default
    // via conformInput; pids 3/4 sit in pre-evolution dirs and read
    // the default
    assert(st(1L) === null)
    assert(st(2L) === "pending")
    assert(st(3L) === "pending"); assert(st(4L) === "pending")
    // time travel to the version BEFORE the null write still defaults
    assert(t.readVersion(t.version - 1)
      .filter(col("state") === "pending").count() === 4)
  }

  test("legacy migration matches dirs whose partition value " +
    "URI-encodes differently (space passes the path-safe guard)") {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow_sp") + "/t", "cat")
    // 'a b' contains a space: path-safe per Hive escapePathName, but
    // input_file_name() URI-encodes it (%20) — a raw substring match
    // would silently skip migrating its dir (round-9 ADVICE bug)
    t.overwrite(Seq((1L, "a b", "x"), (2L, "a b", "y"), (3L, "c", "z"))
      .toDF("pid", "cat", "v"))
    t.evolvePartitioning("v")
    t.upsert(Seq((1L, "a b", "x2")).toDF("pid", "cat", "v"), Seq("pid"))
    // no duplication: the 'a b' legacy dir migrated (stale pid 1 row
    // dropped), pid 2 rode along, 'c' stays legacy
    assert(t.read().count() === 3)
    assert(t.read().filter(col("pid") === 1).head()
      .getAs[String]("v") === "x2")
    assert(t.legacyEntries.map(_._2).toSet === Set("c"))
    assert(t.manifest.keySet === Set("x2", "y"))
  }

  test("upsert after deleteWhereDV on an evolved table migrates the " +
    "legacy dir through its deletion vector") {
    val t = mk()
    t.evolvePartitioning("v")
    t.deleteWhereDV(col("pid") === 2L, Seq("pid")) // legacy 2020-03
    t.upsert(Seq((1L, "2020-03", "a2", true)).toDF("pid", "month", "v", "flag"),
      Seq("pid"))
    // pid 1 replaced, pid 2 stays deleted through the migration, the
    // other legacy dirs untouched
    assert(t.read().select("pid", "month", "v", "flag").orderBy("pid")
      .as[(Long, String, String, Boolean)].collect().toSeq === Seq(
        (1L, "2020-03", "a2", true), (3L, "2020-04", "c", false),
        (4L, "2020-05", "d", false)))
    assert(t.legacyEntries.map(_._2).toSet === Set("2020-04", "2020-05"))
    assert(t.manifest.keySet === Set("a2"))
  }

  test("evolveSchema without a default reads null for old rows") {
    val t = mk()
    t.evolveSchema("score", "BIGINT")
    assert(t.read().filter(col("score").isNull).count() === 4)
    t.append(Seq((5L, "2020-06", "e", false, 7L))
      .toDF("pid", "month", "v", "flag", "score"))
    assert(t.read().filter(col("score") === 7L).count() === 1)
    assert(t.read().filter(col("score").isNull).count() === 4)
  }

  // ---- mergeSync ----

  test("mergeSync derives I/U/D, rewrites only changed partitions, " +
    "and a no-op sync commits nothing") {
    val t = mk()
    val dirsBefore = t.manifest
    // source: pid 1 flag flipped (U, month 2020-03), pid 3 gone (D,
    // 2020-04), pid 5 new (I, 2020-06); pid 4's 2020-05 untouched
    val src = Seq(
      (1L, "2020-03", "a", true), (2L, "2020-03", "b", false),
      (4L, "2020-05", "d", false), (5L, "2020-06", "e", false))
      .toDF("pid", "month", "v", "flag")
    assert(t.mergeSync(src, Seq("pid")) === ((1L, 1L, 1L)))
    assert(t.read().orderBy("pid").collect().toSeq ===
      src.orderBy("pid").collect().toSeq)
    // untouched partition carried by reference, not rewritten
    assert(t.manifest("2020-05") === dirsBefore("2020-05"))
    assert(t.manifest.get("2020-04").isEmpty) // emptied by the delete
    // idempotence: syncing the same source again is a no-op commit
    val v = t.version
    assert(t.mergeSync(src, Seq("pid")) === ((0L, 0L, 0L)))
    assert(t.version === v)
  }

  test("mergeSyncInPartitions (r15): identical I/U/D and content to " +
    "the unrestricted form when rows outside the scope are unchanged; " +
    "untouched partitions never rescanned; refuses legacy dirs") {
    val t = mk()
    val dirsBefore = t.manifest
    // same change set as the mergeSync row above, but scoped to the
    // partitions the maintenance caller knows it touched
    val src = Seq(
      (1L, "2020-03", "a", true), (2L, "2020-03", "b", false),
      (4L, "2020-05", "d", false), (5L, "2020-06", "e", false))
      .toDF("pid", "month", "v", "flag")
    val touched = Set("2020-03", "2020-04", "2020-06")
    // the source is the new content of the named partitions only
    assert(t.mergeSyncInPartitions(touched,
      src.filter($"month".isin(touched.toSeq: _*)), Seq("pid")) ===
      ((1L, 1L, 1L)))
    assert(t.read().orderBy("pid").collect().toSeq ===
      src.orderBy("pid").collect().toSeq)
    assert(t.manifest("2020-05") === dirsBefore("2020-05"))
    assert(t.manifest.get("2020-04").isEmpty)
    // the out-of-scope partition's dir was never even LISTED by the
    // scoped diff's table-side read (manifest pruning — the point)
    // (ledger attribution note: the commit's own reads ran since, so
    // probe with a fresh scoped diff instead)
    val v = t.version
    assert(t.mergeSyncInPartitions(Set("2020-03"),
      t.read().filter($"month" === "2020-03"), Seq("pid")) === ((0L, 0L, 0L)))
    assert(t.version === v) // no-op sync still commits nothing
    // legacy dirs make the unchanged-outside-scope assertion
    // unverifiable — refuse loudly
    t.evolvePartitioning("v")
    intercept[IllegalArgumentException] {
      t.mergeSyncInPartitions(Set("a"), t.read(), Seq("pid"))
    }
  }

  test("replacePartitions (r15): one commit, touched values replaced " +
    "wholesale (empty value dropped), untouched carried by reference, " +
    "out-of-scope rows still committed safely") {
    val t = mk()
    val dirsBefore = t.manifest
    val v0 = t.version
    // replace 2020-03 with one new row, drop 2020-04 (no rows), and
    // sneak in a 2020-06 row NOT named in values — touchedValues must
    // widen the scope so the manifest stays consistent
    val rows = Seq(
      (9L, "2020-03", "z", true), (5L, "2020-06", "e", false))
      .toDF("pid", "month", "v", "flag")
    t.replacePartitions(Set("2020-03", "2020-04"), rows)
    assert(t.version === v0 + 1) // ONE commit
    assert(t.read().orderBy("pid").collect().toSeq ===
      (rows.collect().toSeq ++ Seq((4L, "2020-05", "d", false))
        .toDF("pid", "month", "v", "flag").collect().toSeq)
        .sortBy(_.getLong(0)))
    assert(t.manifest("2020-05") === dirsBefore("2020-05")) // carried
    assert(t.manifest.get("2020-04").isEmpty) // dropped
    // legacy dirs refuse loudly (replacement scope is current-spec)
    t.evolvePartitioning("v")
    intercept[IllegalArgumentException] {
      t.replacePartitions(Set("z"), rows)
    }
  }

  test("mergeSync after evolve: changed-key legacy dirs migrate, " +
    "unchanged legacy dirs carry") {
    val t = mk()
    t.evolvePartitioning("v")
    // change pid 1 (legacy 2020-03 dir migrates with pid 2 riding
    // along); 2020-04 and 2020-05 hold no changed key and stay legacy
    val src = Seq(
      (1L, "2020-03", "a", true), (2L, "2020-03", "b", false),
      (3L, "2020-04", "c", false), (4L, "2020-05", "d", false))
      .toDF("pid", "month", "v", "flag")
    assert(t.mergeSync(src, Seq("pid")) === ((0L, 1L, 0L)))
    assert(t.read().orderBy("pid").collect().toSeq ===
      src.orderBy("pid").collect().toSeq)
    assert(t.legacyEntries.map(_._2).toSet === Set("2020-04", "2020-05"))
    assert(t.manifest.keySet === Set("a", "b"))
  }

  test("compact(targetBytes) with a legacy value COLLIDING with a " +
    "current-spec value: fan-out join key stays unique, no row " +
    "duplication (r12 ADVICE)") {
    implicit val s = spark
    val t = PartitionedCowTable(
      tempDir("pcow_col") + "/t", "month")
    // month value 'x' will collide with a v-spec value 'x' post-evolve
    t.overwrite(Seq((1L, "x", "a"), (2L, "y", "b"))
      .toDF("pid", "month", "v"))
    t.evolvePartitioning("v")
    t.append(Seq((3L, "m3", "x"), (4L, "m4", "z"))
      .toDF("pid", "month", "v"))
    // manifest now holds legacy (month,'x'),(month,'y') and current
    // (v,'x'),(v,'z') — '__pv'='x' appears in both specs
    assert(t.legacyEntries.map(_._2).toSet === Set("x", "y"))
    assert(t.manifest.keySet === Set("x", "z"))
    val before = t.read().orderBy("pid").collect().toSeq
    t.compact(targetBytes = 1L) // sized rewrite exercises the nf join
    assert(t.read().orderBy("pid").collect().toSeq === before)
    assert(t.read().count() === 4) // the duplication bug doubled 'x'
    assert(t.legacyEntries.isEmpty)
  }

  test("vacuum min-age grace period: versions (and stage dirs) newer " +
    "than the horizon survive for in-flight readers; age-0 reclaims " +
    "(r12 verdict item 8)") {
    val t = mk()
    val vOld = t.version
    // supersede 2020-03's dir so the old version's dir becomes
    // vacuum-eligible (append would share dirs and prove nothing)
    t.upsert(Seq((1L, "2020-03", "a2", true))
      .toDF("pid", "month", "v", "flag"), Seq("pid"))
    // a just-abandoned (young) staging dir — could be an in-flight
    // writer's parquet job mid-flight
    val stage = java.nio.file.Paths.get(t.root, "_stage_inflight")
    Files.createDirectory(stage)
    t.vacuum(minAgeMillis = 3600L * 1000)
    // the superseded version is younger than the horizon: its
    // manifest AND data dirs survive — a reader pinned to it drains
    // cleanly
    assert(t.readVersion(vOld).count() === 4)
    assert(!t.readVersion(vOld).filter(col("pid") === 1)
      .head().getAs[Boolean]("flag"))
    assert(Files.exists(stage))
    // past the horizon (age 0 = everything is old): reclaimed
    t.vacuum(0L)
    assert(!Files.exists(stage))
    intercept[IllegalArgumentException] { t.readVersion(vOld) }
    assert(t.read().count() === 4) // current version untouched
  }

  test("zOrderRelayout with NaN coordinates: NaN rows land in the " +
    "sentinel cell and do not poison the global bounds (r12 ADVICE)") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_nan") + "/t", "month",
      spark, statsColumns = Seq("x", "y"))
    val rows = (0 until 32).map(i =>
      (i.toLong, "2020-01", (i % 8) * 100.0, (i / 8) * 100.0)) ++
      Seq((998L, "2020-01", Double.NaN, 50.0),
          (999L, "2020-01", 50.0, Double.NaN))
    t.overwrite(rows.toDF("pid", "month", "x", "y"))
    t.zOrderRelayout("x", "y", 4)
    // NaN rows sentinel to -1; finite rows spread across real cells
    // (a NaN-poisoned bound would collapse every finite row to cell 0)
    assert(t.read().filter(col("z_cell") === -1L)
      .select("pid").as[Long].collect().toSet === Set(998L, 999L))
    assert(t.read().filter(col("z_cell") >= 0L)
      .select("z_cell").distinct().count() > 1)
    assert(t.read().count() === 34)
  }

  test("manifest round trip: restore republishes a version with every " +
    "section populated as the same JSON tree, and reads match") {
    implicit val s = spark
    val t = new PartitionedCowTable(
      tempDir("pcow_rt") + "/t", "month",
      spark, statsColumns = Seq("name", "n", "x", "ts", "d"),
      bloomColumns = Seq("pid"))
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    def dt(v: String) = java.sql.Date.valueOf(v)
    t.overwrite(Seq(
      (1L, "2020-03", "a", 1, 0.5, ts("2020-03-05 10:00:00"),
        dt("2020-03-05"), "r1"),
      (2L, "2020-03", "b", 2, 1.5, ts("2020-03-28 23:30:00"),
        dt("2020-03-28"), "r1"),
      (3L, "2020-04", "c", 3, 2.5, ts("2020-04-07 10:00:00"),
        dt("2020-04-07"), "r2"))
      .toDF("pid", "month", "name", "n", "x", "ts", "d", "region"))
    t.evolveSchema("note", "STRING", Some("'pending'"))
    t.evolvePartitioning("region")
    t.append(Seq((4L, "2020-05", "d", 4, 3.5, ts("2020-05-09 10:00:00"),
        dt("2020-05-09"), "r3", "done"))
      .toDF("pid", "month", "name", "n", "x", "ts", "d", "region", "note"))
    t.deleteWhereDV(col("pid") === 2L, Seq("pid"))
    val v = t.version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def tree(version: Int) = mapper.readTree(java.nio.file.Paths.get(
      t.root, f"v_$version%06d.json").toFile)
    val keys = Seq("schema", "partcol", "defaults", "dvs", "stats",
      "sstats", "dstats", "statskinds", "bytes", "blooms", "partitions",
      "legacy")
    import scala.jdk.CollectionConverters._
    assert(tree(v).fieldNames().asScala.toSeq === keys)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("pid").collect().toSeq
    val atV = rows(t.readVersion(v))
    assert(atV.map(_.getAs[Long]("pid")) === Seq(1L, 3L, 4L))
    t.append(Seq((5L, "2020-05", "e", 5, 4.5, ts("2020-05-10 10:00:00"),
        dt("2020-05-10"), "r3", "x"))
      .toDF("pid", "month", "name", "n", "x", "ts", "d", "region", "note"))
    t.restore(v)
    assert(t.version === v + 2)
    assert(tree(t.version) == tree(v))
    assert(rows(t.read()) === atV)
    // the restored zone maps, blooms and deletion vector still prune
    // and filter exactly as at version v
    assert(t.read().filter(col("name") === "c").count() === 1)
    assert(t.read().filter(col("pid") === 2L).count() === 0)
    assert(t.read().filter(col("note") === "pending").count() === 2)
  }

  test("manifest decoding: a manifest without partcol reads under the " +
    "constructor's column; a bare-string default fills every dir") {
    implicit val s = spark
    val t = mk()
    t.evolveSchema("state", "STRING", Some("'pending'"))
    // written after the evolve: since-scoping reads this NULL back
    t.upsert(Seq((1L, "2020-03", "A", true, null: String))
      .toDF("pid", "month", "v", "flag", "state"), Seq("pid"))
    assert(t.read().filter(col("state").isNull).count() === 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val path = java.nio.file.Paths.get(t.root, f"v_${t.version}%06d.json")
    val node = mapper.readTree(path.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("partcol")
    node.get("defaults")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("state", "'pending'")
    Files.write(path, mapper.writeValueAsBytes(node))
    val t2 = PartitionedCowTable(t.root, "month")
    assert(t2.currentPartCol === "month")
    assert(t2.manifest.keySet === Set("2020-03", "2020-04", "2020-05"))
    assert(t2.readWhere(_ == "2020-04").count() === 1)
    // the bare-string form predates since-scoping: it fills everywhere
    assert(t2.read().filter(col("state") === "pending").count() === 4)
    // the next commit re-records both in the current form
    t2.append(Seq((9L, "2020-06", "z", false, "done"))
      .toDF("pid", "month", "v", "flag", "state"))
    val next = mapper.readTree(java.nio.file.Paths.get(
      t.root, f"v_${t2.version}%06d.json").toFile)
    assert(next.get("partcol").asText() === "month")
    assert(next.get("defaults").get("state").get("since").asInt() ===
      Int.MaxValue)
    assert(t2.read().count() === 5)
  }

  // ---- metadata-only retire ----

  private def jobs(f: => Unit): Int =
    org.apache.spark.JobCount(spark.sparkContext)(f)._2

  private def contents(t: PartitionedCowTable): Seq[String] =
    t.read().collect().map(_.toString).toSeq.sorted

  test("deleteWhere over the spec column alone retires whole partitions " +
    "from the manifest: 0 jobs, one version, the row path's content") {
    implicit val s = spark
    def dateTable() = {
      val t = PartitionedCowTable(
        tempDir("pcow_retire") + "/t", "day")
      t.overwrite(Seq(
        (1L, java.sql.Date.valueOf("2020-03-01"), "a"),
        (2L, java.sql.Date.valueOf("2020-03-01"), "b"),
        (3L, java.sql.Date.valueOf("2020-03-02"), "c"),
        (4L, java.sql.Date.valueOf("2020-03-03"), "d")).toDF("pid", "day", "v"))
      t
    }
    def intTable() = {
      val t = PartitionedCowTable(
        tempDir("pcow_retire") + "/t", "bucket")
      t.overwrite(Seq((1L, 7, "a"), (2L, 7, "b"), (3L, 8, "c"), (4L, 9, "d"))
        .toDF("pid", "bucket", "v"))
      t
    }
    val cases = Seq[(() => PartitionedCowTable, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)](
      (() => mk(), $"month" === "2020-04", $"pid" === 3L),
      (() => mk(), $"month" >= "2020-04", $"pid" >= 3L),
      (() => dateTable(), $"day" === java.sql.Date.valueOf("2020-03-01"),
        $"pid" <= 2L),
      (() => dateTable(), $"day".isin(java.sql.Date.valueOf("2020-03-02"),
        java.sql.Date.valueOf("2020-03-03")), $"pid" >= 3L),
      (() => intTable(), $"bucket" < 9, $"pid" <= 3L))
    for ((mkT, onSpec, sameRows) <- cases) {
      val (meta, rows) = (mkT(), mkT())
      val v0 = meta.version
      assert(jobs(meta.deleteWhere(onSpec)) === 0, onSpec.toString)
      assert(meta.version === v0 + 1)
      // the row path, on a predicate naming a non-spec column that
      // selects the same rows
      assert(jobs(rows.deleteWhere(sameRows)) > 0)
      assert(contents(meta) === contents(rows), onSpec.toString)
      assert(meta.manifest.keySet === rows.manifest.keySet)
      // the retired partitions stay readable at their old version
      assert(meta.readVersion(v0).count() === 4L)
    }
    // a predicate matching no partition commits nothing
    val t = mk()
    assert(jobs(t.deleteWhere($"month" === "1999-01")) === 0)
    assert(t.version === 0)
  }

  test("metadata-only retire aborts on a concurrent commit like the row " +
    "path does") {
    implicit val s = spark
    for (pred <- Seq($"month" === "2020-04", $"month" === "2020-04" &&
        $"pid" === 3L)) {
      val t = mk()
      val t2 = PartitionedCowTable(t.root, "month")
      t.commitSeam = () => {
        t.commitSeam = () => ()
        t2.append(Seq((9L, "2020-06", "z", false))
          .toDF("pid", "month", "v", "flag"))
      }
      intercept[java.util.ConcurrentModificationException] {
        t.deleteWhere(pred)
      }
      // the winner's version stands, the loser's delete is not in it
      assert(t.version === 1)
      assert(t.read().count() === 5L)
    }
  }

  test("deleteWhere keeps the row path where the manifest cannot decide: " +
    "a timestamp spec, a non-spec column, a legacy dir") {
    implicit val s = spark
    val ts = PartitionedCowTable(
      tempDir("pcow_ts") + "/t", "at")
    val at = java.sql.Timestamp.valueOf("2020-03-01 10:00:00")
    ts.overwrite(Seq((1L, at, "a"),
      (2L, java.sql.Timestamp.valueOf("2020-03-02 10:00:00"), "b"))
      .toDF("pid", "at", "v"))
    assert(jobs(ts.deleteWhere($"at" === at)) === 2)
    assert(ts.read().select("pid").as[Long].collect().toSeq === Seq(2L))
    val t = mk()
    t.evolvePartitioning("flag")
    assert(jobs(t.deleteWhere($"flag" === false)) > 0)
    assert(t.read().count() === 0L)
  }

  // ---- the row-level mutators' job counts ----

  /** `df` written to parquet and read back: a local Seq's distinct is
    * answered without a job, which would hide every evaluation of the
    * input that the job-count pins are here to count.
    */
  private def landed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = tempDir("pcow_in") + "/d"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  private def counted[T](f: => T): (T, Int) =
    org.apache.spark.JobCount(spark.sparkContext)(f)

  test("mutator job counts are pinned: updateWhere, mergeApply, " +
    "mergeSync, mergeSyncInPartitions and deleteWhereDV; into a new " +
    "partition only, upsert stages just its delta and merge inserts land") {
    val upd = mk()
    val nUpd = jobs(upd.updateWhere($"pid" === 2L, Map("v" -> lit("B"))))
    assert(contents(upd) === Seq("[1,2020-03,a,false]", "[2,2020-03,B,false]",
      "[3,2020-04,c,false]", "[4,2020-05,d,false]"))
    val ma = mk()
    val ops = landed(Seq((2L, "2020-03", "B", true, "U"),
      (3L, "2020-04", "c", false, "D"), (5L, "2020-06", "e", false, "I"))
      .toDF("pid", "month", "v", "flag", "op"))
    val nMa = jobs(ma.mergeApply(ops, Seq("pid")))
    assert(contents(ma) === Seq("[1,2020-03,a,false]", "[2,2020-03,B,true]",
      "[4,2020-05,d,false]", "[5,2020-06,e,false]"))
    // pid 1 updated (2020-03), pid 3 deleted (2020-04), pid 5 inserted
    // (2020-06), pid 4's 2020-05 unchanged
    val rows = Seq((1L, "2020-03", "a", true), (2L, "2020-03", "b", false),
      (4L, "2020-05", "d", false), (5L, "2020-06", "e", false))
    val want = Seq("[1,2020-03,a,true]", "[2,2020-03,b,false]",
      "[4,2020-05,d,false]", "[5,2020-06,e,false]")
    val ms = mk()
    val src = landed(rows.toDF("pid", "month", "v", "flag"))
    val (iud, nMs) = counted(ms.mergeSync(src, Seq("pid")))
    assert(iud === ((1L, 1L, 1L)))
    assert(contents(ms) === want)
    val msp = mk()
    val scoped = landed(rows.filter(_._2 != "2020-05")
      .toDF("pid", "month", "v", "flag"))
    val (iudP, nMsp) = counted(msp.mergeSyncInPartitions(
      Set("2020-03", "2020-04", "2020-06"), scoped, Seq("pid")))
    assert(iudP === ((1L, 1L, 1L)))
    assert(contents(msp) === want)
    val dv = mk()
    val nDv = jobs(dv.deleteWhereDV($"pid" === 2L, Seq("pid")))
    assert(contents(dv) === Seq("[1,2020-03,a,false]", "[3,2020-04,c,false]",
      "[4,2020-05,d,false]"))
    // no current partition is rewritten: upsert has no carried rows to
    // stage, mergeApply's inserts are all it stages
    val fresh = Seq((6L, "2020-07", "f", false))
    val upNew = mk()
    val delta = landed(fresh.toDF("pid", "month", "v", "flag"))
    val nUpNew = jobs(upNew.upsert(delta, Seq("pid")))
    val maNew = mk()
    maNew.mergeApply(landed(fresh.map { case (p, m, v, f) => (p, m, v, f, "I") }
      .toDF("pid", "month", "v", "flag", "op")), Seq("pid"))
    for (t <- Seq(upNew, maNew)) {
      assert(t.read().count() === 5L)
      assert(contents(t).contains("[6,2020-07,f,false]"))
      assert(t.manifest.keySet === Set("2020-03", "2020-04", "2020-05",
        "2020-07"))
    }
    // mergeSync reads its diff in one pass (10 jobs before), and
    // deleteWhereDV collects its touched values in one job (8 before);
    // mergeApply reads its ops once for the duplicate check and the
    // touched values (6 before)
    assert((nUpd, nMa, nMs, nMsp, nDv, nUpNew) === ((2, 4, 4, 4, 7, 1)))
  }

  test("mergeSync and deleteWhereDV leave no staged block behind: three " +
    "rounds on one table, a no-match delete and a lost race") {
    implicit val s = spark
    val t = mk()
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.keySet
    def noneLeft(after: String): Unit =
      assert((sc.getPersistentRDDs.keySet -- held).isEmpty, after)
    for (r <- 1 to 3) {
      // pid 1 changes (U) and pid 10 + r arrives (I); the previous
      // round's arrival was deleted by its vector, so it is no D
      val src = Seq((1L, "2020-03", s"a$r", false), (2L, "2020-03", "b", false),
        (3L, "2020-04", "c", false), (4L, "2020-05", "d", false),
        (10L + r, "2020-06", "n", false)).toDF("pid", "month", "v", "flag")
      assert(t.mergeSync(src, Seq("pid")) === ((1L, 1L, 0L)))
      noneLeft(s"mergeSync, round $r")
      t.deleteWhereDV($"pid" === 10L + r, Seq("pid"))
      noneLeft(s"deleteWhereDV, round $r")
    }
    assert(t.read().count() === 4L)
    t.deleteWhereDV($"pid" === 999L, Seq("pid"))
    noneLeft("deleteWhereDV matching nothing")
    val t2 = PartitionedCowTable(t.root, "month")
    t.raceSeam = () => {
      t.raceSeam = () => ()
      t2.append(Seq((9L, "2020-05", "z", false))
        .toDF("pid", "month", "v", "flag"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.deleteWhereDV($"pid" === 1L, Seq("pid"))
    }
    noneLeft("deleteWhereDV losing a race")
  }

  test("mergeSyncInPartitions refuses a source row outside its " +
    "partitions instead of dropping it") {
    val t = mk()
    val src = Seq((1L, "2020-03", "a", true), (2L, "2020-03", "b", false),
      (9L, "2020-07", "z", false)).toDF("pid", "month", "v", "flag")
    val e = intercept[IllegalArgumentException] {
      t.mergeSyncInPartitions(Set("2020-03"), src, Seq("pid"))
    }
    assert(e.getMessage.contains("2020-07"))
    assert(t.version === 0) // nothing committed
    assert(t.read().count() === 4L)
  }

  test("orphanReport counts exactly what the next vacuum() removes: a " +
    "tagged version, a foreign v_backup.json, a stale stage dir") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val t = mk() // v0
    def rows(pid: Long, v: String) =
      Seq((pid, "2020-03", v, true)).toDF("pid", "month", "v", "flag")
    t.upsert(rows(1L, "A"), Seq("pid")) // v1 rewrites 2020-03
    t.tag("keep") // v1 and the v0 dirs it shares stay live
    t.deleteWhereDV($"pid" === 3L, Seq("pid")) // v2: a vector on 2020-04
    t.upsert(rows(2L, "B"), Seq("pid")) // v3
    t.compact() // v4: rewrites everything, the vector is dead
    Files.write(Paths.get(t.root, "v_backup.json"), "{}".getBytes)
    Files.createDirectories(Paths.get(t.root, "_stage_crashed", "__part=x"))
    Files.createDirectories(Paths.get(t.root, "w_000099", "__part=x"))
    def names(p: Path): Set[String] =
      if (!Files.exists(p)) Set.empty
      else { val l = Files.list(p)
        try l.iterator().asScala.map(_.getFileName.toString).toSet
        finally l.close() }
    val (top0, dv0) = (names(Paths.get(t.root)), names(Paths.get(t.root, "dv")))
    val report = t.orphanReport
    t.vacuum()
    val gone = top0 -- names(Paths.get(t.root))
    val goneDv = dv0 -- names(Paths.get(t.root, "dv"))
    assert(report === ((gone.count(_.startsWith("w_")).toLong,
      gone.count(_.matches("v_\\d{6}\\.json")).toLong,
      gone.count(_.startsWith("_stage_")).toLong, goneDv.size.toLong)))
    // w_000003 and w_000099; v0, v2 and v3; the stage; the vector
    assert(report === ((2L, 3L, 1L, 1L)))
    assert(gone.size === 6)
    assert(Files.exists(Paths.get(t.root, "v_backup.json")))
    assert(t.readTag("keep").count() === 4L)
    assert(t.read().count() === 3L)
    assert(t.orphanReport === ((0L, 0L, 0L, 0L)))
  }

  // ---- dir records: zone maps, Bloom sidecars and bytes ----

  private def manifestTree(t: PartitionedCowTable, v: Int) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Paths.get(t.root, f"v_$v%06d.json").toFile)

  test("TIMESTAMP_NTZ zone maps record naive micros: tables written " +
    "under two session time zones record the same bounds and prune the " +
    "same dirs under a third") {
    def ntz(v: String) = java.time.LocalDateTime.parse(v)
    val rows = Seq(
      (1L, "2020-03", ntz("2020-03-05T10:00:00")),
      (2L, "2020-03", ntz("2020-03-28T23:30:00")),
      (3L, "2020-04", ntz("2020-04-07T10:00:00")),
      (4L, "2020-05", ntz("2020-05-09T10:00:00")))
    val tzKey = "spark.sql.session.timeZone"
    def underZone[T](tz: String)(f: => T): T = {
      spark.conf.set(tzKey, tz)
      try f finally spark.conf.set(tzKey, "UTC")
    }
    val tables = Seq("America/Los_Angeles", "Asia/Tokyo").map { tz =>
      underZone(tz) {
        val t = new PartitionedCowTable(tempDir("pcow_ntz") + "/t", "month",
          spark, statsColumns = Seq("ets"))
        t.overwrite(rows.toDF("pid", "month", "ets"))
        t
      }
    }
    val Seq(la, tokyo) = tables.map(manifestTree(_, 0))
    assert(la.get("stats") == tokyo.get("stats"))
    assert(la.get("statskinds").get("ets").asText() === "micros")
    val naive = ntz("2020-03-05T10:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(la.get("stats").toString.contains(naive.toString))
    for (t <- tables; tz <- Seq("UTC", "Pacific/Auckland")) underZone(tz) {
      assert(t.read().filter($"ets" >= lit(ntz("2020-04-01T00:00:00")) &&
        $"ets" < lit(ntz("2020-05-01T00:00:00"))).count() === 1)
      assert(t.autoPruneLedger === ((3, 1)))
    }
  }

  test("a partition value that reads as a number (0123) stays raw and " +
    "keeps its zone map") {
    val t = new PartitionedCowTable(tempDir("pcow_raw") + "/t", "code",
      spark, statsColumns = Seq("k"))
    t.overwrite(Seq((1L, "0123", 10L), (2L, "0123", 20L),
      (3L, "0456", 100L), (4L, "2020-05-01", 1000L))
      .toDF("pid", "code", "k"))
    assert(t.manifest.keySet === Set("0123", "0456", "2020-05-01"))
    import scala.jdk.CollectionConverters._
    assert(manifestTree(t, 0).get("stats").fieldNames().asScala.toSet ===
      t.manifest.values.toSet)
    assert(t.read().filter(col("k").between(15L, 30L))
      .select("pid").as[Long].collect().toSeq === Seq(2L))
    assert(t.autoPruneLedger === ((3, 1)))
  }

  test("a commit's dir records cost one aggregate over the stage for " +
    "zone maps and Bloom sizes plus one Bloom pass; bytes alone cost no " +
    "job") {
    val rows = Seq((1L, "2020-03", "a"), (2L, "2020-03", "b"),
      (3L, "2020-04", "c")).toDF("pid", "month", "tag")
    def commitJobs(stats: Seq[String], blooms: Seq[String]): Int = {
      val t = new PartitionedCowTable(tempDir("pcow_rec") + "/t", "month",
        spark, statsColumns = stats, bloomColumns = blooms)
      jobs(t.overwrite(rows))
    }
    val write = commitJobs(Nil, Nil) // the stage write alone
    val cols = Seq("pid", "tag")
    assert((commitJobs(cols, Nil) - write, commitJobs(Nil, cols) - write,
      commitJobs(cols, cols) - write) === ((1, 2, 2)))
  }

  test("a rebased commit records the same zone maps and Blooms as an " +
    "unraced one and runs no job again") {
    def table(): PartitionedCowTable = {
      val t = new PartitionedCowTable(tempDir("pcow_rb") + "/t", "month",
        spark, statsColumns = Seq("k", "tag"), bloomColumns = Seq("pid"))
      t.overwrite(Seq((1L, "2020-03", 10L, "a"), (2L, "2020-04", 20L, "b"))
        .toDF("pid", "month", "k", "tag"))
      t
    }
    val add = Seq((5L, "2020-06", 50L, "e"), (6L, "2020-06", 60L, "f"))
      .toDF("pid", "month", "k", "tag")
    val (raced, plain) = (table(), table())
    // the winner only attaches a deletion vector, so the loser claims
    // w_000001, loses the version race at publish and rebases: its dir
    // is renamed to w_000002 and published again. The winner's jobs
    // are counted apart from the loser's
    val rival = new PartitionedCowTable(raced.root, "month", spark)
    raced.commitSeam = () => {
      raced.commitSeam = () => ()
      jobs(rival.deleteWhereDV(col("pid") === 1L, Seq("pid")))
    }
    val racedJobs = jobs(raced.append(add))
    plain.deleteWhereDV(col("pid") === 1L, Seq("pid"))
    val plainJobs = jobs(plain.append(add))
    assert(raced.version === 2 && plain.version === 2)
    assert(racedJobs === plainJobs)
    val dir = raced.manifest("2020-06")
    assert(dir === plain.manifest("2020-06"))
    def record(t: PartitionedCowTable) = {
      val n = manifestTree(t, 2)
      Seq("stats", "sstats", "blooms", "bytes").map(k => n.get(k).get(dir)) :+
        n.get("statskinds")
    }
    assert(record(raced) === record(plain))
    assert(Files.exists(java.nio.file.Paths.get(raced.root, dir,
      "_bloom_pid.bf")))
    // the renamed dir's Bloom and zone maps prune as the unraced one's
    def probes(t: PartitionedCowTable) =
      Seq($"pid" === 6L, $"pid" === 2L, $"k" >= 40L, $"tag" < "c").map { p =>
        (t.read().filter(p).count(), t.autoPruneLedger)
      }
    assert(probes(raced) === probes(plain))
    assert(probes(raced).map(_._1) === Seq(1L, 1L, 2L, 1L))
  }
}

/** Simulates a competing writer's COMPLETED commit firing from inside
  * another writer's in-flight parquet job (the CowTableSpec
  * RacingWriter device, adapted to the manifest layout): version 1 =
  * version 0's manifest re-published, pointer flipped to 1.
  */
object PcowRacer extends Serializable {
  @volatile var root: String = _
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  // upsert() evaluates the updates frame exactly ONCE — the stage
  // write, after the upsert pinned its base version — and reads the
  // staged files back for everything else. Firing on that single
  // evaluation lands the competing commit exactly in the stale-base
  // window the optimistic check must catch.
  val fire: Long => Long = { x =>
    if (calls.incrementAndGet() == 1) {
      val r = java.nio.file.Paths.get(root)
      java.nio.file.Files.copy(r.resolve("v_000000.json"),
        r.resolve("v_000001.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.write(r.resolve("_current"), "1".getBytes("UTF-8"))
    }
    x
  }
}

/** A KEY-overlapping winner firing from inside another writer's one
  * evaluation of its updates: it copies pre-written parquet files for
  * pid 4 into `w_000001/__part=2020-09` and publishes version 1 as
  * version 0's manifest plus that partition.
  */
object PcowKeyRacer extends Serializable {
  @volatile var root: String = _
  @volatile var winnerFiles: String = _
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val fire: Long => Long = { x =>
    if (calls.incrementAndGet() == 1) {
      import java.nio.file.{Files, Paths}
      val r = Paths.get(root)
      val dir = r.resolve("w_000001/__part=2020-09")
      Files.createDirectories(dir)
      val listing = Files.list(Paths.get(winnerFiles))
      try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
      finally listing.close()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(r.resolve("v_000000.json").toFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.get("partitions")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("2020-09", "w_000001/__part=2020-09")
      Files.write(r.resolve("v_000001.json"), mapper.writeValueAsBytes(node))
      Files.write(r.resolve("_current"), "1".getBytes("UTF-8"))
    }
    x
  }
}
