package graft

import scala.jdk.CollectionConverters._

/** Runs a main of the test classpath in a child JVM: this JVM's flags, less
  * its heap size, then `-Xmx<heap>` and `flags`. Returns the exit code and
  * the child's stdout and stderr lines. */
object ChildJvm {
  def run(mainClass: String, args: Seq[String], heap: String = "1g",
      flags: Seq[String] = Nil): (Int, Seq[String], Seq[String]) = {
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ inherited ++
      Seq(s"-Xmx$heap") ++ flags ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val out, err = scala.collection.mutable.ArrayBuffer.empty[String]
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.synchronized(out += l), l => err.synchronized(err += l)))
    (exit, out.toSeq, err.toSeq)
  }
}
