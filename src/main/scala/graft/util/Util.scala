package graft.util

/** Small shared helpers (single source for behaviors that were at risk of
  * drifting between copies: JSON escaping feeds the driver's json.load, and
  * recursive deletion guards verify/state hygiene). */
object Json {
  /** JSON string literal: escapes backslash, quote, and ALL control chars —
    * a stray tab/CR would break the driver's JSON parse. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }
}

object Concurrent {
  /** Run independent Spark writes at once, one fresh thread each, so one
    * write's straggler tail overlaps the others' tasks. On the first failure
    * the siblings' jobs are cancelled by their shared job tag (again on each
    * poll, in case one starts another job) and the error is rethrown once
    * all have stopped — nothing lands after the caller releases its caches. */
  def run(spark: org.apache.spark.sql.SparkSession, thunks: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val sc = spark.sparkContext
    val tag = s"graft-writes-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      thunks.foreach(t => done.submit(() => { sc.addJobTag(tag); t() }))
      var failure: Throwable = null
      var pending = thunks.size
      while (pending > 0) {
        val f = if (failure == null) done.take() else done.poll(100, TimeUnit.MILLISECONDS)
        if (f == null) sc.cancelJobsWithTag(tag)
        else {
          pending -= 1
          try f.get() catch {
            case e: ExecutionException if failure == null =>
              failure = e.getCause
              sc.cancelJobsWithTag(tag)
            case e: ExecutionException => failure.addSuppressed(e.getCause)
          }
        }
      }
      if (failure != null) throw failure
    } finally pool.shutdown()
  }
}

object LocalSpark {
  /** The local session of the runnable mains: `cpus` task slots and as many
    * shuffle partitions, UTC, AQE on, no UI, WARN logging. */
  def session(cpus: Int): org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
