package graft

/** Prints dd_cluster_cc's rows over `args(0)`, one `ROW` line each, from a
  * fresh application (run in a child JVM by [[CcCheckpointSpec]]). */
object CcCheckpointApp {
  def main(args: Array[String]): Unit = {
    val s = graft.util.LocalSpark.session(4)
    try CcCheckpointSpec.rows(s, args(0)).foreach(r => println(s"ROW $r"))
    finally s.stop()
  }
}

object CcCheckpointSpec {
  def rows(s: org.apache.spark.sql.SparkSession, d: String): Seq[String] =
    SparkEntry.queries("dd_cluster_cc")(s, d).collect().map(_.toSeq.mkString("\t")).toSeq
}

/** VERDICT r4 #7: a context with a checkpoint directory (Spark's
  * `spark.checkpoint.dir`) switches the CC loop's per-round lineage
  * truncation from localCheckpoint (executor-block-backed, not
  * fault-tolerant) to reliable checkpoint (dir-backed — the form a real
  * cluster needs). Pin that the reliable path (a) yields byte-identical
  * labels and (b) actually writes checkpoint data to that dir. The reliable
  * leg runs in a child JVM, so the shared session keeps no checkpoint dir. */
class CcCheckpointSpec extends SparkSuite {

  test("reliable-checkpoint cc loop == localCheckpoint cc loop") {
    val d = "/root/testdata/sf0.001"
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the shared session has a checkpoint dir: this leg would not be local")
    val base = CcCheckpointSpec.rows(spark, d)
    assert(base.nonEmpty, "cc fixture must produce clusters")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val (exit, out, err) = ChildJvm.run("graft.CcCheckpointApp", Seq(d), heap = "2g",
      flags = Seq(s"-Dspark.checkpoint.dir=$dir"))
    assert(exit === 0, s"child JVM failed:\n${(out ++ err.takeRight(40)).mkString("\n")}")
    assert(out.collect { case l if l.startsWith("ROW ") => l.stripPrefix("ROW ") } == base)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(wrote > 0, "reliable path wrote no checkpoint data")
  }
}
