package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession

import graft.fixtures.Gen
import graft.model.Turn

/** One workload's corpus, as the benchmark stages it on disk.
  *
  * `batchDir` is a parquet table read by the batch pass. `streamDir` holds
  * the same turns sorted by (ts, conv_id, turn_idx) and cut into `nFiles`
  * single-file slices with distinct, increasing mtimes, so a file source
  * with maxFilesPerTrigger = 1 replays them as ascending, non-overlapping
  * micro-batches (Incremental's contract). */
final case class Corpus(batchDir: String, streamDir: String, rulesDir: String,
    nTurns: Long, nFiles: Int)

/** A workload's input recipe. Sizes are fixed here; the seed is the
  * benchmark's argument. */
final case class Workload(name: String, turns: Long => Seq[Turn],
    refSlice: Long => Seq[Turn], nFiles: Int, isStream: Boolean, sizeTag: String)

object Workloads {
  val UniformChunks = 4
  val UniformConvsPerChunk = 750
  val UniformTurns = 25000
  val HotKeyConvs = 3200
  val HotKeyTurns = 35000
  val StreamConvs = 950
  val StreamTurns = 8000
  val StreamFiles = 2
  /** Slices the batch workloads' turns are streamed in by the traced run. */
  val BatchStreamFiles = 2
  /** Conversations in the small slice checked against RefModel. */
  val RefSliceConvs = 300

  /** The first `n` turns, so every seed gives the same input size (the
    * generator's conversation lengths are random; the cut shortens the
    * last conversation). */
  private def exactly(n: Int, turns: Seq[Turn]): Seq[Turn] = {
    require(turns.size >= n, s"generator gave ${turns.size} turns, fewer than $n")
    turns.take(n)
  }

  // seed * 1000 keeps the per-chunk seeds (seed + chunk) of two benchmark
  // seeds apart
  private def uniform(seed: Long): Seq[Turn] = exactly(UniformTurns,
    (0 until UniformChunks).flatMap(c => Gen.transcriptsChunk(c, UniformConvsPerChunk, seed * 1000L)))

  val all: Seq[Workload] = Seq(
    Workload("batch_uniform", uniform,
      s => Gen.transcripts(RefSliceConvs, s * 1000L),
      BatchStreamFiles, isStream = false, s"u$UniformTurns"),
    Workload("batch_hotkey",
      s => exactly(HotKeyTurns, Gen.transcripts(HotKeyConvs, s, hotKey = true)),
      s => Gen.transcripts(RefSliceConvs, s, hotKey = true),
      BatchStreamFiles, isStream = false, s"h$HotKeyTurns"),
    Workload("stream_microbatch", s => exactly(StreamTurns, Gen.transcripts(StreamConvs, s)),
      s => Gen.transcripts(RefSliceConvs, s),
      StreamFiles, isStream = true, s"s${StreamTurns}f$StreamFiles"))

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}

object Inputs {
  private val Ready = "_BENCH_READY"
  private val FirstMtimeMs = 1700000000000L

  /** Stage (or reuse) the corpus of (workload, seed, size) under `work`;
    * a SparkSession is built only when something must be written. */
  def prepare(work: String, w: Workload, seed: Long, newSession: () => SparkSession): Corpus = {
    var session: SparkSession = null
    def spark = { if (session == null) session = newSession(); session }
    try {
      val rules = s"$work/inputs/rules"
      if (!new File(s"$rules/$Ready").exists) writeRules(spark, rules)
      val dir = s"$work/inputs/${w.name}-seed$seed-${w.sizeTag}"
      val ready = new File(s"$dir/$Ready")
      if (!ready.exists) {
        graft.util.Fs.deleteRecursively(new File(dir))
        val turns = w.turns(seed)
        writeSlices(spark, turns, w.nFiles, s"$dir/stream")
        if (!w.isStream) {
          val s = spark
          import s.implicits._
          s.createDataset(turns).repartition(4).write.parquet(s"$dir/batch")
        }
        Files.writeString(ready.toPath, s"${turns.size}\n")
      }
      val n = Files.readString(ready.toPath).trim.toLong
      Corpus(if (w.isStream) s"$dir/stream" else s"$dir/batch", s"$dir/stream",
        rules, n, w.nFiles)
    } finally if (session != null) session.stop()
  }

  private def writeRules(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    graft.util.Fs.deleteRecursively(new File(dir))
    spark.createDataset(Gen.iocTable).coalesce(1).write.parquet(s"$dir/ioc")
    spark.createDataset(Gen.sigRules).coalesce(1).write.parquet(s"$dir/sig_rules")
    spark.createDataset(Gen.refBaseline).coalesce(1).write.parquet(s"$dir/ref_baseline")
    spark.createDataset(Gen.whitelistRules).coalesce(1).write.parquet(s"$dir/whitelist")
    Files.writeString(Paths.get(dir, Ready), "")
    ()
  }

  /** Time-sorted slices, one parquet file each, mtimes one minute apart (the
    * order a file stream source replays them in). */
  private def writeSlices(spark: SparkSession, turns: Seq[Turn], nFiles: Int,
      streamDir: String): Unit = {
    import spark.implicits._
    val sorted = turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    Files.createDirectories(Paths.get(streamDir))
    (0 until nFiles).foreach { i =>
      val part = sorted.slice(i * sorted.size / nFiles, (i + 1) * sorted.size / nFiles)
      val tmp = s"$streamDir/_tmp"
      spark.createDataset(part).coalesce(1).write.parquet(tmp)
      val src = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(streamDir, f"part-$i%03d.parquet")
      Files.move(src.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      graft.util.Fs.deleteRecursively(new File(tmp))
      Files.setLastModifiedTime(dst, FileTime.fromMillis(FirstMtimeMs + i * 60000L))
    }
  }
}
