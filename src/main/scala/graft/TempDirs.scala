package graft

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal
import graft.sources.SnapshotStore

/** Temp workspace directories for operator harnesses (stream sink runs,
  * store-maintenance scratch stores). Every dir created here is removed
  * recursively by a single JVM shutdown hook, so repeated bench + verify
  * invocations in one process don't accumulate orphaned parquet/state
  * dirs under /tmp (round-5 ADVICE item 4). Deletion happens at exit —
  * not eagerly — because several harnesses hand the path to a streaming
  * query whose sink outlives the operator call.
  */
object TempDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => created.forEach(remove(_))))

  /** Best-effort recursive delete: a dir that vanished or cannot be
    * walked is left alone rather than failing the caller.
    */
  private def remove(root: Path): Unit =
    try SnapshotStore.deleteTree(root)
    catch { case NonFatal(_) => () }

  /** Create a fresh temp dir registered for exit-time recursive delete. */
  def create(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }

  /** Eagerly delete (and unregister) every registered dir whose NAME
    * contains `marker`. Bench calls this with `"_run_"` between queries:
    * per-run streaming dirs (sink + checkpoint + state, created fresh on
    * EVERY invocation, never cached) otherwise accumulate for the whole
    * bench process — hundreds of dirty-page-heavy dirs whose writeback
    * contends with later queries' state stores (the round-9/round-14
    * streaming-bench variance mode, SCALING.md). Cache-backing dirs
    * (staged inputs, prebuilt stores) use other prefixes and are never
    * touched. Returns the number of dirs removed.
    */
  def sweepMatching(marker: String): Int = {
    var n = 0
    val it = created.iterator()
    while (it.hasNext) {
      val root = it.next()
      if (root.getFileName.toString.contains(marker)) {
        remove(root)
        it.remove()
        n += 1
      }
    }
    n
  }
}
