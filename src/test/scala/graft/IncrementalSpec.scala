package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.fixtures.Gen
import graft.model._

/** Resume correctness (SURVEY §5.4): pipeline(A ∪ B) == pipeline(A) then
  * pipeline(B, state-after-A) — exactly, including frequency windows spanning
  * the batch boundary — plus manifest/crash-safety semantics. */
class IncrementalSpec extends SparkSuite {
  import spark.implicits._

  private def tables(fx: Gen.FixtureData): RuleTables =
    RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)

  private def comparable(df: DataFrame) =
    df.selectExpr("conv_id", "turn_idx", "note", "severity", "routed",
      "first_seen", "freq_hit",
      "array_join(transform(hits, h -> concat(h.kind, ':', h.name, ':', h.rule_id, ':', h.score)), ';') as hk")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getString(7)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** The fixture's turns before and from its median timestamp. */
  private def halves(fx: Gen.FixtureData): (Seq[Turn], Seq[Turn]) = {
    val ts = fx.turns.map(_.ts.getTime).sorted
    val (a, b) = fx.turns.partition(_.ts.getTime < ts(ts.size / 2))
    assert(a.nonEmpty && b.nonEmpty)
    (a, b)
  }

  test("split-run with persisted state == single run (exact, incl. freq across boundary)") {
    val fx = Gen.fixture(250)
    val tb = tables(fx)
    val (a, b) = halves(fx)

    val single = comparable(
      Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf))

    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val r1 = Incremental.run(spark, spark.createDataset(a).toDF(), tb, fx.conf,
      stateDir, outDir, "0001")
    val st = Incremental.loadFullState(spark, stateDir)
    val enrichedB = Pipeline.enrich(spark.createDataset(b).toDF(), tb, fx.conf, st)
    val enrichedA = Pipeline.enrich(spark.createDataset(a).toDF(), tb, fx.conf)
    val split = (comparable(enrichedA) ++ comparable(enrichedB))
      .sortBy(t => (t._1, t._2))

    assert(split === single)
    assert(r1.metrics("n_input") === a.size.toLong)

    // run 0001's alerts and state snapshots equal those derived from A's
    // enriched frame
    assert(comparable(Incremental.readAlerts(spark, stateDir, outDir)) ===
      comparable(enrichedA.filter(col("routed"))))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSet
    def snapshot(t: String, cols: String*) =
      rows(Incremental.stateTable(spark, stateDir, t).get.select(cols.map(col): _*))
    val c = fx.conf
    val maxSec = enrichedA.agg(max(col("ts_sec"))).first().getLong(0)
    assert(snapshot("seen_values", "field", "value") === rows(c.trackedFields.map(f =>
      enrichedA.filter(col("parse_ok") && col(f).isNotNull && col(f) =!= "")
        .select(lit(f), col(f))).reduce(_ union _)))
    assert(snapshot("freq_counts", "key", "sec", "cnt") === rows(enrichedA
      .filter(col(c.freqKey).isNotNull && col(c.freqKey) =!= "")
      .groupBy(col(c.freqKey), col("ts_sec")).agg(count(lit(1)))
      .filter(col("ts_sec") >= maxSec - c.freqWindowSec)))
    assert(snapshot("fired", "key", "reset_bucket") === rows(enrichedA.filter(col("freq_hit"))
      .select(col(c.freqKey), floor(col("ts_sec") / c.freqResetSec).as("b"))
      .filter(col("b") >= Math.floorDiv(maxSec, c.freqResetSec))))
  }

  test("split-run with an int freq key: the state keeps the key's type") {
    val fx = Gen.fixture(250)
    val conf = fx.conf.copy(freqKey = "status")
    val tb = tables(fx)
    val (a, b) = halves(fx)
    val all = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, conf)
    val single = comparable(all)
    assert(single.exists(_._7), "status bursts fire")

    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    def keyTypes() = Seq("freq_counts", "fired").map(t =>
      t -> Incremental.stateTable(spark, stateDir, t).get.schema("key").dataType)
    Incremental.run(spark, spark.createDataset(a).toDF(), tb, conf, stateDir, outDir, "0001")
    assert(keyTypes() === Seq("freq_counts" -> IntegerType, "fired" -> IntegerType))
    val st = Incremental.loadFullState(spark, stateDir)
    val split = (comparable(Pipeline.enrich(spark.createDataset(a).toDF(), tb, conf)) ++
      comparable(Pipeline.enrich(spark.createDataset(b).toDF(), tb, conf, st)))
      .sortBy(t => (t._1, t._2))
    assert(split === single)

    // the second run merges the loaded int keys with its own
    Incremental.run(spark, spark.createDataset(b).toDF(), tb, conf, stateDir, outDir, "0002")
    assert(keyTypes() === Seq("freq_counts" -> IntegerType, "fired" -> IntegerType))
    assert(comparable(Incremental.readAlerts(spark, stateDir, outDir)) ===
      comparable(all.filter(col("routed"))))
  }

  test("a run that routes nothing still observes every scored row") {
    val fx = Gen.fixture(120)
    val conf = fx.conf.copy(firThreshold = Int.MaxValue)
    val tb = tables(fx)
    val turns = spark.createDataset(fx.turns).toDF()
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val r = Incremental.run(spark, turns, tb, conf, stateDir, outDir, "0001")
    val survivors = Pipeline.enrich(turns, tb, conf).count()
    assert(survivors > 0)
    assert(r.metrics("n_enriched") === survivors)
    assert(r.metrics("n_survivors") === survivors)
    assert(r.sinkCounts.values.forall(_ == 0L))
    assert(Incremental.readAlerts(spark, stateDir, outDir).count() === 0L)
  }

  test("second Incremental.run consumes state; alerts append; manifests track runs") {
    val fx = Gen.fixture(120)
    val tb = tables(fx)
    val (a, b) = halves(fx)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString

    val r1 = Incremental.run(spark, spark.createDataset(a).toDF(), tb, fx.conf,
      stateDir, outDir, "0001")
    val r2 = Incremental.run(spark, spark.createDataset(b).toDF(), tb, fx.conf,
      stateDir, outDir, "0002")
    assert(Incremental.completedRuns(stateDir) === Seq("0001", "0002"))
    assert(r1.inputFiles.nonEmpty && r2.inputFiles.nonEmpty)

    // appended alerts == single-run routed rows
    val single = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
      .filter(col("routed"))
      .select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    val alerts = spark.read.parquet(s"$outDir/alerts_all")
    val appended = alerts
      .select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    assert(appended === single)
    assert((r1.sinkCounts.values.sum + r2.sinkCounts.values.sum) === single.size.toLong)
    // FIR alert-document shape (SURVEY §2.1 S4): subject/category present
    val cols = alerts.columns.toSet
    assert(Set("subject", "category", "severity", "note", "hits", "run_id")
      .subsetOf(cols), s"alert doc missing columns: $cols")
    assert(alerts.filter(col("subject").startsWith("[")).count() === alerts.count())
    // AlertDocSchema pin: the canonical reader schema must match what run()
    // actually writes — a silent drift would null-fill columns on read
    assert(alerts.columns.sorted === Incremental.AlertDocSchema.fieldNames.sorted,
      "AlertDocSchema drifted from the written alert docs")
    val readBack = Incremental.readAlerts(spark, stateDir, outDir)
    assert(readBack.schema === Incremental.AlertDocSchema)
    assert(readBack.filter(col("category").isNull || col("text").isNull ||
      col("fp").isNull).count() === 0L, "schema-read must not null-fill data columns")

    // crash-consistent reads: alerts of a run WITHOUT a manifest (crashed
    // before completion, never replayed) are invisible via readAlerts
    val n = Incremental.readAlerts(spark, stateDir, outDir).count()
    assert(n === alerts.count())
    alerts.limit(5).withColumn("run_id", lit("dead"))
      .write.mode("append").partitionBy("run_id", "severity")
      .parquet(s"$outDir/alerts_all")
    assert(spark.read.parquet(s"$outDir/alerts_all").count() === n + 5)
    assert(Incremental.readAlerts(spark, stateDir, outDir).count() === n)
  }

  test("runsReport: manifests queryable as one DataFrame (metrics + lineage pointer)") {
    val fx = Gen.fixture(100)
    val tb = tables(fx)
    val (a, b) = halves(fx)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    assert(Incremental.runsReport(spark, stateDir).count() === 0L)

    val r1 = Incremental.run(spark, spark.createDataset(a).toDF(), tb, fx.conf,
      stateDir, outDir, "0001")
    val r2 = Incremental.run(spark, spark.createDataset(b).toDF(), tb, fx.conf,
      stateDir, outDir, "0002")
    val rep = Incremental.runsReport(spark, stateDir)
    assert(rep.count() === 2L)
    val byRun = rep.collect().map(r => r.getAs[String]("run_id") -> r).toMap
    assert(byRun("0001").getAs[Long]("n_input") === a.size.toLong)
    assert(byRun("0002").getAs[Long]("n_input") === b.size.toLong)
    // the report's per-sink counts equal what run() itself returned
    fx.conf.severityBands.map(_._2).foreach { sev =>
      assert(byRun("0002").getAs[Long](s"sink_$sev") === r2.sinkCounts(sev))
      assert(byRun("0001").getAs[Long](s"sink_$sev") === r1.sinkCounts(sev))
    }
    // lineage pointer resolves to the distributed input-files table
    val ptr = byRun("0001").getAs[String]("input_files_table")
    val files = spark.read.parquet(s"$stateDir/$ptr")
    assert(files.count() === byRun("0001").getAs[Long]("n_input_files"))

    // r4 stateReport: one row per state table of the LATEST run, counts
    // equal to the state the next run would actually load
    val sr = Incremental.stateReport(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(sr.map(_._1).distinct.toSeq === Seq("0002"))
    assert(sr.map(_._2).sorted.toSeq ===
      Seq("fired", "fp_seen", "freq_counts", "seen_values"))
    val st = Incremental.loadFullState(spark, stateDir)
    val loaded = Map(
      "seen_values" -> st.seenValues.map(_.count()).getOrElse(0L),
      "fp_seen" -> st.fpSeen.map(_.count()).getOrElse(0L),
      "freq_counts" -> st.freqCounts.map(_.count()).getOrElse(0L),
      "fired" -> st.firedBuckets.map(_.count()).getOrElse(0L))
    sr.foreach { case (_, t, n) => assert(n === loaded(t), s"table $t") }
    assert(sr.exists(_._3 > 0), "at least one state table must be non-empty")
    // drill-down accessor returns the same rows the loader uses
    val sv = Incremental.stateTable(spark, stateDir, "seen_values")
    assert(sv.isDefined && sv.get.count() === loaded("seen_values"))
    // empty state dir → empty report
    val emptyDir = Files.createTempDirectory("graft-state-empty").toString
    assert(Incremental.stateReport(spark, emptyDir).count() === 0L)
  }

  test("5-run chain: alerts equal single run; state snapshot bounded to trailing window") {
    val fx = Gen.fixture(300)
    val tb = tables(fx)
    // cut into 5 contiguous, non-overlapping ts ranges (equal-ts rows never straddle)
    val tsVals = fx.turns.map(_.ts.getTime).distinct.sorted
    val cuts = (1 to 4).map(i => tsVals((tsVals.size * i) / 5))
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    val batches = bounds.sliding(2).map { case Seq(lo, hi) =>
      fx.turns.filter(t => t.ts.getTime >= lo && t.ts.getTime < hi)
    }.toSeq
    assert(batches.size === 5 && batches.forall(_.nonEmpty))

    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    def files(runId: String, table: String) =
      Option(new java.io.File(s"$stateDir/run-$runId/$table").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val nFiles = batches.zipWithIndex.map { case (b, i) =>
      val runId = f"000${i + 1}"
      Incremental.run(spark, spark.createDataset(b).toDF(), tb, fx.conf,
        stateDir, outDir, runId)
      (files(runId, "fp_seen"), files(runId, "seen_values"))
    }
    info(s"parquet files per run: fp_seen ${nFiles.map(_._1).mkString(", ")}; " +
      s"seen_values ${nFiles.map(_._2).mkString(", ")}")
    assert(Incremental.completedRuns(stateDir).size === 5)

    // (a) the 5 runs' appended alerts == single-run routed rows, exactly
    val single = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
      .filter(col("routed")).select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    val appended = spark.read.parquet(s"$outDir/alerts_all")
      .select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    assert(appended === single)

    // gc drops older snapshots' state without touching what readers use:
    // manifests + lineage stay, loadFullState (latest run) is unaffected
    val victims = Incremental.gc(stateDir)
    assert(victims === Seq("0001", "0002", "0003", "0004"))
    assert(Incremental.completedRuns(stateDir).size === 5)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$stateDir/run-0001/seen_values")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$stateDir/run-0001/input_files")))

    // (b) state is a bounded snapshot, not O(history): freq secs span at most
    // one trailing window, fp/fired keep only the live bucket
    val st = Incremental.loadFullState(spark, stateDir)
    val mm = st.freqCounts.get.agg(min(col("sec")), max(col("sec"))).first()
    assert(mm.getLong(1) - mm.getLong(0) <= fx.conf.freqWindowSec,
      s"freq_counts span ${mm.getLong(1) - mm.getLong(0)}s > window ${fx.conf.freqWindowSec}s")
    assert(st.fpSeen.get.select("fp_bucket").distinct().count() <= 1)
    st.firedBuckets.foreach(fb =>
      assert(fb.select("reset_bucket").distinct().count() <= 1))

    // (c) the next state is a plain union of prior and batch rows: it stays
    // a set only because the checks keep the two disjoint and each distinct
    def twice(df: DataFrame, keys: String*) =
      df.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count()
    assert(twice(st.fpSeen.get, "fp", "fp_bucket") === 0L)
    assert(twice(st.seenValues.get, "field", "value") === 0L)
    assert(twice(st.firedBuckets.get, "key", "reset_bucket") === 0L)
  }

  test("lineage records every file read, one whose rows are all whitelisted too") {
    import java.sql.Timestamp
    val fx = Gen.fixture(40)
    val wl = Seq(WhitelistRule("role", "eq", "system"))
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), wl)
    val in = Files.createTempDirectory("graft-in").toString
    val system = (0 until 3).map(i => Turn(s"sys$i", 0, "system", s"boot step $i", "",
      new Timestamp((Gen.BaseEpochSec + i) * 1000L)))
    assert(!fx.turns.exists(_.role == "system"))
    Seq(fx.turns, system).foreach(t =>
      spark.createDataset(t).toDF().coalesce(1).write.mode("append").parquet(in))

    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val r = Incremental.run(spark, spark.read.parquet(in), tb, fx.conf,
      stateDir, outDir, "0001")
    assert(r.metrics("n_survivors") < r.metrics("n_input"))
    assert(r.metrics("n_input_files") === 2L)
    assert(r.inputFiles.size === 2)
  }

  test("fp_seen is recorded pre-whitelist: whitelisted first occurrence still suppresses the duplicate") {
    import java.sql.Timestamp
    val conf = PipelineConf(dedupDelaySec = 100000L)
    val wl = Seq(WhitelistRule("role", "eq", "system"))
    val text = "login user=u001 src=10.0.0.1 dst=host1.corp.example status=200 " +
      s"hash=${Gen.md5("file-1")} uri=/api/v1/r1"
    val a = Seq(
      Turn("c1", 0, "system", text, "", new Timestamp(Gen.BaseEpochSec * 1000L)),
      Turn("c2", 0, "user", "unparsed noise line", "",
        new Timestamp((Gen.BaseEpochSec + 1) * 1000L)))
    // same text, same dedup bucket, later ts, NON-whitelisted role
    val b = Seq(
      Turn("c1", 1, "user", text, "", new Timestamp((Gen.BaseEpochSec + 10) * 1000L)))
    val tb = RuleTables(spark.createDataset(Seq.empty[IocEntry]).toDF(),
      Seq.empty, spark.createDataset(Seq.empty[RefEntry]).toDF(), wl)

    val single = comparable(Pipeline.enrich(spark.createDataset(a ++ b).toDF(), tb, conf))

    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    Incremental.run(spark, spark.createDataset(a).toDF(), tb, conf,
      stateDir, outDir, "0001")
    val st = Incremental.loadFullState(spark, stateDir)
    val split = (comparable(Pipeline.enrich(spark.createDataset(a).toDF(), tb, conf)) ++
      comparable(Pipeline.enrich(spark.createDataset(b).toDF(), tb, conf, st)))
      .sortBy(t => (t._1, t._2))

    assert(split === single)
    // the b-duplicate must be suppressed even though its first occurrence was
    // whitelisted (fp recorded post-dedup, PRE-whitelist)
    assert(!split.exists(r => r._1 == "c1" && r._2 == 1))
  }

  test("empty batch between two runs: state carried forward, output unchanged") {
    val fx = Gen.fixture(120)
    val tb = tables(fx)
    val (a, b) = halves(fx)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString

    Incremental.run(spark, spark.createDataset(a).toDF(), tb, fx.conf,
      stateDir, outDir, "0001")
    // an empty range (e.g. an idle window in production) must be a no-op
    // that still lands a manifest and carries the full state forward
    val r2 = Incremental.run(spark, spark.createDataset(Seq.empty[Turn]).toDF(),
      tb, fx.conf, stateDir, outDir, "0002")
    assert(r2.metrics("n_input") === 0L)
    Incremental.run(spark, spark.createDataset(b).toDF(), tb, fx.conf,
      stateDir, outDir, "0003")
    assert(Incremental.completedRuns(stateDir) === Seq("0001", "0002", "0003"))

    val single = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
      .filter(col("routed"))
      .select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    val appended = Incremental.readAlerts(spark, stateDir, outDir)
      .select("conv_id", "turn_idx", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(t => (t._1, t._2)).toSeq
    assert(appended === single)
  }

  test("run ordering is numeric (run 10 after run 2, 10000 after 9999)") {
    val stateDir = Files.createTempDirectory("graft-state").toString
    val dir = java.nio.file.Paths.get(stateDir, "manifest")
    Files.createDirectories(dir)
    Seq("2", "10", "9999", "10000", "0003").foreach(r =>
      Files.writeString(dir.resolve(s"run-$r.json"), "{}"))
    assert(Incremental.completedRuns(stateDir) ===
      Seq("2", "0003", "10", "9999", "10000"))
  }

  test("readAlerts on a deployment that never routed an alert is empty, not an error") {
    val fx = Gen.fixture(5)
    // whitelist everything → zero routed rows, alerts_all holds only _SUCCESS
    val wl = Seq(WhitelistRule("conv_id", "rx", "."))
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), wl)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val r = Incremental.run(spark, spark.createDataset(fx.turns).toDF(), tb,
      fx.conf, stateDir, outDir, "0001")
    assert(r.sinkCounts.values.sum === 0L)
    assert(Incremental.readAlerts(spark, stateDir, outDir).count() === 0L)
  }

  test("state without manifest is invisible (crash safety)") {
    val fx = Gen.fixture(40)
    val tb = tables(fx)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    // simulate a crashed run: state files exist, no manifest
    spark.createDataset(Seq(("user", "u000"))).toDF("field", "value")
      .write.parquet(s"$stateDir/run-dead/seen_values")
    assert(Incremental.completedRuns(stateDir).isEmpty)
    assert(Incremental.loadFullState(spark, stateDir).seenValues.isEmpty)
    // a real run afterwards still works and sees no phantom state
    val r = Incremental.run(spark, spark.createDataset(fx.turns).toDF(), tb,
      fx.conf, stateDir, outDir, "0001")
    assert(Incremental.completedRuns(stateDir) === Seq("0001"))
    assert(r.metrics("n_input") === fx.turns.size.toLong)
  }
}
