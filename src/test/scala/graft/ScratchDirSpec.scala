package graft

import graft.entry.DataPipeQueries

/** Prints the scratch dir a fresh Spark application gets (run in a child JVM
  * by [[ScratchDirSpec]]). */
object ScratchDirApp {
  def main(args: Array[String]): Unit = {
    val s = graft.util.LocalSpark.session(1)
    try println(s"SCRATCH ${DataPipeQueries.scratchDir(s, args(0))}") finally s.stop()
  }
}

/** The harness queries' scratch dirs are keyed by the Spark application, so
  * two JVMs on one host never wipe each other's state or index. */
class ScratchDirSpec extends SparkSuite {
  test("scratch dirs: one per application, distinct across two JVMs' sessions") {
    val name = "graft-scratch-probe"
    val here = DataPipeQueries.scratchDir(spark, name)
    assert(here.endsWith(s"$name-${spark.sparkContext.applicationId}"))
    // a session of the same application reuses (and overwrites) its dir
    assert(DataPipeQueries.scratchDir(spark.newSession(), name) === here)

    val (exit, out, _) = ChildJvm.run("graft.ScratchDirApp", Seq(name))
    assert(exit === 0, s"child JVM failed:\n${out.mkString("\n")}")
    val other = out.collectFirst {
      case l if l.startsWith("SCRATCH ") => l.stripPrefix("SCRATCH ")
    }
    assert(other.exists(o => o.contains(s"$name-local-") && o != here),
      s"second application's dir $other vs $here")
  }
}
