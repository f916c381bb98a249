package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)
final case class PhaseRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)
final case class BatchRec(startMs: Long, durations: Map[String, Long], inputRows: Long)

/** Records what the benchmark reads from outside the program: Spark task
  * ends and job starts, Catalyst phase times of every finished query,
  * streaming progress, and the in-memory size of cached RDD blocks. Events
  * are kept in memory; `drain` waits until the listener bus has delivered
  * everything posted so far. With `tracing` off only streaming progress and
  * cached blocks are recorded (the end-to-end run measures with tracing off,
  * but its micro-batch times come from progress events). */
final class Probes(spark: SparkSession, tracing: Boolean) {
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val jobStarts = new ConcurrentLinkedQueue[Long]
  val phases = new ConcurrentLinkedQueue[PhaseRec]
  val batches = new ConcurrentLinkedQueue[BatchRec]

  // listener calls arrive one at a time on the bus thread
  private val cachedBytes = scala.collection.mutable.Map.empty[(Int, String), Long]
  @volatile private var cachePeak = 0L

  // keyed by (rdd id, block name); an unpersist removes an RDD's blocks
  // without a block update per block, so it is tracked as its own event
  private val cacheListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { id =>
        val key = (id.rddId, id.name)
        if (b.storageLevel.isValid && b.memSize > 0) cachedBytes(key) = b.memSize
        else cachedBytes.remove(key)
        cachePeak = math.max(cachePeak, cachedBytes.values.sum)
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      cachedBytes.filterInPlace { case ((rdd, _), _) => rdd != e.rddId }
  }

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time); () }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.add(PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning")))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
      ()
    }
  }

  spark.sparkContext.addSparkListener(cacheListener)
  spark.streams.addListener(streamListener)
  if (tracing) {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def clear(): Unit = { tasks.clear(); jobStarts.clear(); phases.clear(); batches.clear() }

  /** Restart the cached-bytes peak from what is cached now. */
  def resetCachePeak(): Unit = { drain(); cachePeak = cachedBytes.values.sum }

  /** Highest total in-memory size of cached RDD blocks since the reset. */
  def cachePeakBytes(): Long = { drain(); cachePeak }
}

/** Cumulative GC time of the JVM. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
}
