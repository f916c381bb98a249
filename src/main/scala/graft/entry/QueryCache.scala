package graft.entry

import org.apache.spark.sql.DataFrame

/** Latest-only persist registry for harness queries that fan one expensive
  * subtree into several consumers (or whose subtree would be duplicated by
  * Catalyst alias substitution — e.g. the adapter's synthesized text column
  * feeding many grok references): `cycle(df)` releases the PREVIOUS query's
  * cache and persists df for this one. The harness runs queries
  * sequentially, so at most one query's cache is ever live. Each cache is
  * found by the plan of a key frame, its own unless the caller names one,
  * so a later query can [[reuse]] it until the next cycle releases it. */
private[entry] object QueryCache {
  // the live query's caches, each as (key, cached frame)
  private val handles =
    new java.util.concurrent.atomic.AtomicReference[List[(DataFrame, DataFrame)]](Nil)

  /** The live cache whose key has `key`'s plan, if any. Comparing analyzed
    * plans runs no job, so a hit runs none. The harness inputs are
    * immutable: a plan over the same paths finds the cache even if the
    * files under them changed. */
  def reuse(key: DataFrame): Option[DataFrame] =
    handles.get().collectFirst { case (k, cached) if k.sameSemantics(key) => cached }

  /** Release every cache of the PREVIOUS query, persist df for this one. */
  def cycle(df: DataFrame): DataFrame = {
    handles.getAndSet(Nil).foreach(_._2.unpersist())
    retain(df)
  }

  /** Persist an ADDITIONAL subtree of the SAME query (released together with
    * it on the next cycle), found by `key`'s plan. */
  def retain(df: DataFrame, key: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    handles.updateAndGet((key, cached) :: _)
    cached
  }

  def retain(df: DataFrame): DataFrame = retain(df, df)
}
