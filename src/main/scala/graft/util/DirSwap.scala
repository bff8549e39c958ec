package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe publication of a rebuilt directory artifact over a live
  * one via two renames, plus the recovery that heals an interrupted
  * swap. [[replace]] is the one protocol: every rebuild that swaps a
  * durable directory goes through it. Its callers are index compaction
  * ([[IndexDir.compact]], for the IVF and sparse indexes), index
  * reindex (`graft.plans.IndexedKnn.reindex`), the sparse index's
  * `_stats` and `_meta` refresh (`graft.operators.SparseIndex.append`)
  * and the rollup compaction (`graft.streaming.SummaryStream.compact`).
  * Readers that open one of these directories call [[recover]] first.
  *
  * Protocol: `live` -> `live.old` (rename #1), `live.rebuild` -> `live`
  * (rename #2), delete `live.old`. A crash before rename #1 leaves the
  * live dir untouched; between the renames there is NO live dir but the
  * previous state survives intact in `.old` — [[recover]] restores it
  * and discards the not-yet-committed `.rebuild`. A crash after rename
  * #2 leaves a stale `.old` that the next swap deletes.
  */
object DirSwap {

  def rebuildPath(live: String): String = live + ".rebuild"
  def oldPath(live: String): String = live + ".old"

  /** Rebuild `live` and publish the result: heal an interrupted swap,
    * delete leftover `.rebuild`/`.old` siblings, call `build` with the
    * `.rebuild` path, then publish it over `live`. Returns what `build`
    * returned. If `build` throws, nothing is published.
    */
  private[graft] def replace[T](fs: FileSystem, live: Path)(
      build: String => T): T = {
    val fresh = new Path(rebuildPath(live.toString))
    val old = new Path(oldPath(live.toString))
    recover(fs, live) // before the clear: an un-healed .old is the only copy
    fs.delete(fresh, true)
    fs.delete(old, true)
    val out = build(fresh.toString)
    if (!fs.rename(live, old) || !fs.rename(fresh, live))
      throw new java.io.IOException(s"directory swap failed for $live")
    fs.delete(old, true)
    out
  }

  /** Heal a swap interrupted between its two renames: if the live dir
    * is gone but the `.old` sibling survives, restore it and discard
    * the uncommitted `.rebuild` — the pre-swap state is the last one a
    * reader ever observed.
    */
  def recover(fs: FileSystem, live: Path): Unit = {
    val old = new Path(oldPath(live.toString))
    if (!fs.exists(live) && fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(
          s"crash recovery: could not restore $old to $live")
      fs.delete(new Path(rebuildPath(live.toString)), true)
    }
  }
}
