package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Cross-call reuse of an operator's result, keyed on its input plan:
  * the registry's warm reps, an autotune sweep or an HTTP route that
  * repeat a deterministic build over one corpus pay for it once per JVM.
  *
  * A lookup keys on the OPTIMIZED plan of `input` (its `semanticHash`)
  * plus the caller's parameters, so callers that differ only in
  * carried-along columns (a raw table vs. a select of the columns the
  * operator reads) collapse to one plan and share one entry. A hit
  * needs `sameResult` (a hash collision is a miss) and the same
  * `SparkSession` as the stored entry.
  *
  * Bound: at most `capacity` entries (a constant at each memo's
  * declaration: 16, 32, 64 or 96), counted in entries, not bytes. Past
  * it a lookup still builds and returns its value but stores nothing.
  * An entry retains the input plan, its session and the value: a
  * `DataFrame` handle or an index `Model` (plan handles and the
  * centroid table, plus a copy of the centroid bits in the IVF build
  * memo's key), never collected relation rows — except
  * `ProductQuantizer.fitCodebook`'s, at most 256 centroids × dim
  * floats per entry at 64 entries. A build whose key slot holds a
  * stale entry (another session, or a hash collision) replaces it; a
  * concurrent build of an entry already stored is returned unstored.
  *
  * @param keep applied to a value as it is stored and on every hit —
  *   for relation memos, [[CachedRelations.persist]], so a relation is
  *   persisted only when a memo stores it and a dropped block
  *   re-persists on its next hit
  */
private[graft] final class PlanMemo[K, V](capacity: Int,
    keep: V => V = (v: V) => v) {
  private final class Entry(val plan: LogicalPlan,
      val session: SparkSession, val value: V)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(Int, K), Entry]()

  def apply(input: DataFrame, params: K)(build: => V): V = {
    val plan = input.queryExecution.optimizedPlan
    val session = input.sparkSession
    def live(e: Entry) = e != null && (e.session eq session) &&
      e.plan.sameResult(plan)
    val key = (plan.semanticHash(), params)
    val hit = entries.get(key)
    if (live(hit)) keep(hit.value)
    else {
      val built = build
      val stored = entries.synchronized {
        val old = entries.get(key)
        val store = if (old == null) entries.size < capacity else !live(old)
        if (store) entries.put(key, new Entry(plan, session, built))
        store
      }
      if (stored) keep(built) else built
    }
  }

  /** Drop every entry whose value matches, e.g. the builds of an index
    * directory that maintenance is about to rewrite. */
  def invalidate(drop: V => Boolean): Unit =
    entries.values.removeIf(e => drop(e.value))

  def clear(): Unit = entries.clear()
}

/** The relations one operator family persisted, so a long-lived shared
  * session can release exactly these: a session-wide `clearCache()`
  * would also evict other components' materialized state (e.g.
  * HttpApi's survivor views, whose contract is that later SELECTs read
  * cache). Correctness never depends on these caches.
  */
private[graft] final class CachedRelations {
  private val tracked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Record a relation the caller has persisted. */
  def track(df: DataFrame): DataFrame = { tracked.add(df); df }

  /** Persist and record `df` unless its block is already cached;
    * `eager` materializes it now, so an expensive join runs once, not
    * per downstream branch. A memo hit whose block was dropped (a
    * caller's `clearCache`, or [[release]]) re-persists here and
    * recomputes from lineage.
    */
  def persist(df: DataFrame, eager: Boolean): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      track(df.persist(StorageLevel.MEMORY_AND_DISK))
      if (eager) df.count()
    }
    df
  }

  /** Unpersist every recorded relation. */
  def release(): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) { it.next().unpersist(); it.remove() }
  }
}
