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
}

object ConcurrentWritesSpec {
  /** Set by the long job's tasks (local mode: they run in this JVM). */
  val taskStarted = new AtomicBoolean(false)
}
