package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Two-rename atomic publish of a small state directory: a fresh
  * `<root>/.staging` becomes `<root>/live` through `live → .old`,
  * `.staging → live`, and [[recover]] finishes or rolls back a publish
  * that died between the renames. Maintained-view state rides it
  * (`CdcPipeline.updateAggView`, [[graft.streaming.IncrementalDistinct]]),
  * with the applied batch id as a `_GRAFT_BATCH` marker published in the
  * same rename, which [[graft.plans.MvCatalog.registerMaintained]] reads
  * for freshness. CDC mirrors use [[graft.sinks.LogMirror]]'s manifest
  * commit instead. */
object SwapPublish {

  /** Batch-id marker riding the atomic swap: "_"-prefixed so parquet
    * readers and listing fingerprints ignore it; published in the SAME
    * rename as the data, so the marker can never disagree with the
    * state next to it. */
  private[graft] def writeBatchMarker(fs: FileSystem, dir: Path,
                                      batchId: Long): Unit =
    if (batchId >= 0)
      LocalFs.writeSmall(fs, new Path(dir, "_GRAFT_BATCH"),
        batchId.toString.getBytes("UTF-8"))

  private[graft] def readBatchMarker(fs: FileSystem,
                                     dir: Path): Option[Long] = {
    val p = new Path(dir, "_GRAFT_BATCH")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](32)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toLong)
      } catch { case _: Exception => None } finally in.close()
    }
  }

  /** Two-rename atomic publish of a freshly-written `.staging` dir as
    * `live` (recovery for the crash window between the renames is
    * [[recover]]). */
  def atomicSwap(fs: FileSystem, root: String)(write: Path => Unit): Unit = {
    val live = new Path(s"$root/live")
    val staging = new Path(s"$root/.staging")
    // the root must exist BEFORE `write` renames data into staging:
    // Hadoop's local rename into a missing parent silently degrades to
    // a full file COPY (measured 365 ms vs 1 ms for a 32-file segment)
    LocalFs.mkdirs(fs, new Path(root))
    fs.delete(staging, true)
    write(staging)
    val old = new Path(s"$root/.old")
    fs.delete(old, true)
    if (fs.exists(live)) fs.rename(live, old)
    fs.rename(staging, live)
    fs.delete(old, true)
  }

  /** Crash recovery for the two-rename swap: if a previous publish died
    * between rename(live,.old) and rename(.staging,live) there is no
    * live dir — without recovery the next update would rebuild the
    * state from one batch and silently drop everything before it (the
    * checkpoint prevents replaying earlier batches). A completely
    * written staging dir (Spark's _SUCCESS marker) is the newest state
    * → finish the swap; otherwise .old is the last consistent state →
    * roll back. A crash mid-write leaves live intact, so nothing to do
    * then. */
  def recover(fs: FileSystem, root: String): Unit = {
    val live = new Path(s"$root/live")
    if (!fs.exists(live)) {
      val staging = new Path(s"$root/.staging")
      val old = new Path(s"$root/.old")
      if (fs.exists(new Path(staging, "_SUCCESS"))) {
        fs.rename(staging, live)
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        fs.rename(old, live)
      }
    }
  }
}
