package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.fixtures.Gen

/** C9 fan-out: the write-once [[Pipeline.routeViaTable]] (100-TB path) must
  * produce exactly the sinks of the persist-based [[Pipeline.route]], with
  * no full-width cache in its derivation plans. */
class RouteSpec extends SparkSuite {
  import spark.implicits._

  test("routeViaTable == route: sink counts, alert docs, rollups identical") {
    val fx = Gen.fixture(200)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val enriched = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
    val d1 = Files.createTempDirectory("graft-route").toString
    val d2 = Files.createTempDirectory("graft-routevt").toString

    val c1 = Pipeline.route(spark, enriched, fx.conf, d1)
    val c2 = Pipeline.routeViaTable(spark, enriched, fx.conf, d2)
    assert(c1 === c2)
    assert(c2("total") > 0 && c2.removed("total").values.sum > 0)

    def alerts(d: String) = spark.read.parquet(s"$d/alerts_all")
      .select("conv_id", "turn_idx", "note", "severity", "category", "subject")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getString(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(alerts(d2) === alerts(d1))

    def rollup(d: String, t: String) = spark.read.parquet(s"$d/$t")
      .collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted.toSeq
    assert(rollup(d2, "rollup_signature") === rollup(d1, "rollup_signature"))
    assert(rollup(d2, "rollup_sink") === rollup(d1, "rollup_sink"))

    // the 100-TB property: derivations read the WRITTEN table, never a
    // full-width cache, and the sink rollup's scan is column-pruned
    val written = spark.read.parquet(s"$d2/enriched")
    val sinkPlan = Pipeline.rollupBySink(written)
      .queryExecution.executedPlan.toString
    assert(!sinkPlan.contains("InMemoryRelation"), "write-once path must not cache")
    assert(sinkPlan.contains("ReadSchema: struct<severity:string,routed:boolean>")
      || sinkPlan.contains("ReadSchema: struct<routed:boolean,severity:string>"),
      s"sink rollup scan must prune to (severity, routed):\n$sinkPlan")
  }

  test("rollup_sink written from the route counts == rollupBySink, both routes") {
    val fx = Gen.fixture(200)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val turns = spark.createDataset(fx.turns).toDF()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    // default bands: low/medium sit under the FIR threshold, so they have no
    // routed rows and no rollup row; an unreachable threshold routes nothing
    Seq(fx.conf, fx.conf.copy(firThreshold = Int.MaxValue)).foreach { conf =>
      val enriched = Pipeline.enrich(turns, tb, conf)
      val want = Pipeline.rollupBySink(enriched)
      val d1 = Files.createTempDirectory("graft-rollup-route").toString
      val d2 = Files.createTempDirectory("graft-rollup-routevt").toString
      Pipeline.route(spark, enriched, conf, d1)
      Pipeline.routeViaTable(spark, enriched, conf, d2)
      Seq(d1, d2).foreach { d =>
        val got = spark.read.parquet(s"$d/rollup_sink")
        assert(typed(got) === typed(want), s"rollup_sink schema in $d")
        assert(rows(got) === rows(want), s"rollup_sink rows in $d")
      }
      if (conf.firThreshold == Int.MaxValue) assert(rows(want).isEmpty)
      else {
        assert(rows(want).nonEmpty)
        assert(!rows(want).map(_._1).contains("low"), "a severity without routed rows has no row")
      }
    }
  }

  test("route caches the sink view: unrouted rows narrowed, sinks equal the full frame's") {
    val fx = Gen.fixture(200)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val turns = spark.createDataset(fx.turns).toDF()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    // an unreachable FIR threshold routes nothing: every row is narrowed
    Seq(fx.conf, fx.conf.copy(firThreshold = Int.MaxValue)).foreach { conf =>
      val enriched = Pipeline.enrich(turns, tb, conf)
      val view = Pipeline.sinkView(enriched)
      assert(view.schema.map(f => f.name -> f.dataType) ===
        enriched.schema.map(f => f.name -> f.dataType))
      val unrouted = view.filter(!col("routed"))
      assert(unrouted.count() > 0)
      assert(unrouted.filter(col("text").isNotNull || col("fp").isNotNull ||
        col("note").isNotNull || col("conv_id").isNull || col("hits").isNull ||
        col("severity").isNull).count() === 0,
        "an unrouted row keeps only routed, severity, conv_id and hits")
      assert(rows(view.filter(col("routed"))) === rows(enriched.filter(col("routed"))))

      val d = Files.createTempDirectory("graft-route-view").toString
      val counts = Pipeline.route(spark, enriched, conf, d)
      val n = enriched.agg(count(lit(1)), Pipeline.sinkCountCols(conf, "n_"): _*).first()
      assert(counts === (conf.severityBands.map(_._2).zipWithIndex
        .map { case (s, i) => s -> n.getLong(i + 1) }.toMap + ("total" -> n.getLong(0))))
      val full = Pipeline.alertDocs(enriched.filter(col("routed")))
      // the known schema: an empty alerts_all has no partition to infer from
      val docs = spark.read.schema(full.schema).parquet(s"$d/alerts_all")
      assert(rows(docs.select(full.columns.map(col): _*)) === rows(full))
      assert(rows(spark.read.parquet(s"$d/rollup_signature")) ===
        rows(Pipeline.rollupBySignature(enriched)))
      assert(rows(spark.read.parquet(s"$d/rollup_sink")) === rows(Pipeline.rollupBySink(enriched)))
    }
  }

  test("sinkFormat seam: orc sinks carry identical counts and alert docs") {
    val fx = Gen.fixture(120)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val enriched = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
    val dP = Files.createTempDirectory("graft-sink-parquet").toString
    val dO = Files.createTempDirectory("graft-sink-orc").toString

    val cP = Pipeline.route(spark, enriched, fx.conf, dP)
    val cO = Pipeline.route(spark, enriched, fx.conf.copy(sinkFormat = "orc"), dO)
    assert(cP === cO)

    def alerts(read: => org.apache.spark.sql.DataFrame) = read
      .select("conv_id", "turn_idx", "note", "severity")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(alerts(spark.read.orc(s"$dO/alerts_all")) ===
      alerts(spark.read.parquet(s"$dP/alerts_all")))

    // routeViaTable through the seam too: the written enriched table and all
    // derivations ride the configured format end-to-end
    val dV = Files.createTempDirectory("graft-routevt-orc").toString
    val cV = Pipeline.routeViaTable(spark, enriched,
      fx.conf.copy(sinkFormat = "orc"), dV)
    assert(cV === cP)
    assert(spark.read.orc(s"$dV/rollup_sink").count() > 0)

    // json is the schema-light stress: the write loses types and all-null
    // columns, so the read-back schema routeViaTable supplies is load-bearing
    val dJ = Files.createTempDirectory("graft-routevt-json").toString
    val cJ = Pipeline.routeViaTable(spark, enriched,
      fx.conf.copy(sinkFormat = "json"), dJ)
    assert(cJ === cP)
  }
}
