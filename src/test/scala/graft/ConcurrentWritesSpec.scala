package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{SparkException, TaskContext}

import graft.fixtures.Gen
import graft.util.Concurrent

/** Failure paths of the concurrent durability writes: a failed write must
  * surface at once, stop its siblings' jobs, and leave no manifest. */
class ConcurrentWritesSpec extends SparkSuite {
  import spark.implicits._

  test("a failing write surfaces promptly and cancels the sibling's running job") {
    ConcurrentWritesSpec.taskStarted.set(false)
    val sc = spark.sparkContext
    // a sibling whose job would hold every core for a minute unless killed
    val longJob: () => Unit = () => sc.parallelize(1 to 4, 4).foreach { _ =>
      ConcurrentWritesSpec.taskStarted.set(true)
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
    }
    val failing: () => Unit = () => {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!ConcurrentWritesSpec.taskStarted.get() && System.nanoTime() < deadline)
        Thread.sleep(10)
      throw new IllegalStateException("sink unavailable")
    }

    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Concurrent.run(spark, Seq(longJob, failing)))
    val secs = (System.nanoTime() - t0) / 1e9

    assert(e.getMessage === "sink unavailable")
    assert(ConcurrentWritesSpec.taskStarted.get(), "the sibling's job never started")
    assert(secs < 30.0, s"failure took $secs s to surface")
    // the sibling had stopped before the call returned: its job failed as
    // cancelled, and that failure rides along on the first one
    val sibling = e.getSuppressed.toSeq
    assert(sibling.size === 1 && sibling.head.isInstanceOf[SparkException], sibling)
    assert(sibling.head.getMessage.toLowerCase.contains("cancel"), sibling.head.getMessage)
  }

  test("Incremental.run whose alert sink path is a regular file throws and lands no manifest") {
    val fx = Gen.fixture(60)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val stateDir = Files.createTempDirectory("graft-fail-state").toString
    val outDir = Files.createTempDirectory("graft-fail-out").toString
    Files.writeString(Paths.get(outDir, "alerts_all"), "not a directory")

    intercept[Exception](Incremental.run(spark, spark.createDataset(fx.turns).toDF(),
      tb, fx.conf, stateDir, outDir, "0001"))
    assert(Incremental.completedRuns(stateDir).isEmpty)
    assert(!Files.exists(Paths.get(stateDir, "manifest", "run-0001.json")))
  }

  /** A regular file where run `id`'s dir goes makes every table write of the
    * run fail; `crashed` runs with it in place, then it is deleted. */
  private def withRunDirBlocked(stateDir: String, id: String)(crashed: => Unit): Unit = {
    val blocker = Paths.get(stateDir, s"run-$id")
    Files.writeString(blocker, "not a directory")
    try crashed finally Files.delete(blocker)
  }
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("Incremental.run: a run whose table writes fail lands no manifest; its replay " +
      "equals a run that never crashed") {
    val fx = Gen.fixture(120)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val ts = fx.turns.map(_.ts.getTime).sorted
    val (a, b) = fx.turns.partition(_.ts.getTime < ts(ts.size / 2))
    val outDir = Files.createTempDirectory("graft-replay-out").toString
    def state(dir: String) = Incremental.loadFullState(spark, dir).tables
      .map { case (t, df) => t -> rows(df) }
    def run(dir: String, out: String, turns: Seq[graft.model.Turn], id: String) =
      Incremental.run(spark, spark.createDataset(turns).toDF(), tb, fx.conf, dir, out, id)

    val sd = Files.createTempDirectory("graft-replay-state").toString
    run(sd, outDir, a, "0001")
    val after1 = state(sd)
    withRunDirBlocked(sd, "0002") {
      intercept[Exception](run(sd, outDir, b, "0002"))
      assert(Incremental.completedRuns(sd) === Seq("0001"))
      assert(!Files.exists(Paths.get(sd, "manifest", "run-0002.json")))
      assert(state(sd) === after1)
    }
    run(sd, outDir, b, "0002")

    val clean = Files.createTempDirectory("graft-replay-clean").toString
    val cleanOut = Files.createTempDirectory("graft-replay-clean-out").toString
    run(clean, cleanOut, a, "0001")
    run(clean, cleanOut, b, "0002")
    assert(state(sd) === state(clean))
    assert(rows(Incremental.readAlerts(spark, sd, outDir)) ===
      rows(Incremental.readAlerts(spark, clean, cleanOut)))
  }

  test("CurationState.run: a run whose table writes fail lands no manifest; its replay " +
      "equals a run that never crashed") {
    import graft.operators.CurationState
    // one document per fixture conversation, its turns' texts joined
    val docs = Gen.fixture(60).turns.groupBy(_.conv_id).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, ts), i) => (i.toLong, ts.sortBy(_.turn_idx).map(_.text).mkString(" ")) }
      .toDF("doc_id", "text")
    val (a, b) = (docs.filter($"doc_id" < 30), docs.filter($"doc_id" >= 30))
    def state(dir: String) = {
      val st = CurationState.load(spark, dir)
      Seq(st.contentHashes, st.segFreq, st.evalGrams).map(_.map(rows))
    }

    val sd = Files.createTempDirectory("graft-replay-cur").toString
    CurationState.run(spark, a, sd, "0001")
    val after1 = state(sd)
    assert(after1.forall(_.exists(_.nonEmpty)), "every curation table holds rows")
    withRunDirBlocked(sd, "0002") {
      intercept[Exception](CurationState.run(spark, b, sd, "0002"))
      assert(Incremental.completedRuns(sd) === Seq("0001"))
      assert(!Files.exists(Paths.get(sd, "manifest", "run-0002.json")))
      assert(state(sd) === after1)
    }
    CurationState.run(spark, b, sd, "0002")

    val clean = Files.createTempDirectory("graft-replay-cur-clean").toString
    CurationState.run(spark, a, clean, "0001")
    CurationState.run(spark, b, clean, "0002")
    assert(state(sd) === state(clean))
  }
}

object ConcurrentWritesSpec {
  /** Set by the long job's tasks (local mode: they run in this JVM). */
  val taskStarted = new AtomicBoolean(false)
}
