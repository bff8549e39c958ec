package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe publication of a rebuilt directory artifact over a live
  * one via two renames, plus the recovery that heals an interrupted
  * swap. Its users are index compaction ([[IndexDir.compact]], for the
  * IVF and sparse indexes) and index reindex
  * (`graft.plans.IndexedKnn.reindex`): both rebuild a durable directory
  * in a `.rebuild` sibling and then publish it. The summary rebuild and
  * the sparse index's sidecar refresh swap the same way.
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

  /** Delete leftover `.rebuild`/`.old` siblings so a fresh rebuild can
    * start from a clean slate. Call AFTER [[recover]], never before —
    * an un-healed `.old` is the only surviving copy of the index.
    */
  def clearSiblings(fs: FileSystem, live: Path): Unit = {
    fs.delete(new Path(rebuildPath(live.toString)), true)
    fs.delete(new Path(oldPath(live.toString)), true)
  }

  /** Publish `live.rebuild` over `live`. Throws if either rename is
    * refused; a crash inside this window is healed by [[recover]].
    */
  def publish(fs: FileSystem, live: Path): Unit = {
    val fresh = new Path(rebuildPath(live.toString))
    val old = new Path(oldPath(live.toString))
    if (!fs.rename(live, old) || !fs.rename(fresh, live))
      throw new java.io.IOException(s"directory swap failed for $live")
    fs.delete(old, true)
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
