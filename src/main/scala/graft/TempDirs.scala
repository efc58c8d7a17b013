package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal
import graft.sources.SnapshotStore

/** Temp workspace directories for operator harnesses (stream sink runs,
  * store-maintenance scratch stores). Every dir created here is removed
  * recursively by a single JVM shutdown hook, so repeated bench + verify
  * invocations in one process don't accumulate orphaned parquet/state
  * dirs under /tmp (round-5 ADVICE item 4). Deletion happens at exit —
  * not eagerly — because several harnesses hand the path to a streaming
  * query whose sink outlives the operator call.
  *
  * Fixtures (staged stream inputs, prebuilt stores, layout copies) are a
  * function of the source tables: [[fixture]] builds one per (name,
  * tables dir) and serves it again only while the table files under that
  * dir are unchanged. This is the one place that rule lives.
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
    * EVERY invocation) otherwise accumulate for the whole bench process —
    * hundreds of dirty-page-heavy dirs whose writeback contends with
    * later queries' state stores (the round-9/round-14 streaming-bench
    * variance mode, SCALING.md). Fixture dirs use other prefixes and are
    * never touched. Returns the number of dirs removed.
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

  /** Fingerprint of the tables under `d`: relative path, size and mtime
    * of every file in each `d/<name>.parquet`, walking into the dirs
    * `write.parquet` leaves. Any overwrite of a table changes it.
    */
  private[graft] def fingerprint(d: String): String = {
    val root = Paths.get(d)
    val tables = Option(root.toFile.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    tables
      .flatMap(t => Using.resource(Files.walk(t.toPath))(_.iterator().asScala.filter(Files.isRegularFile(_)).toVector))
      .map(p => s"${root.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .sorted
      .mkString("\n")
  }

  private val fixtures = scala.collection.mutable.HashMap.empty[(String, String), (String, String)]

  /** The fixture for the tables in `d`: the dir `build` filled for the
    * same table files, or a fresh `create(prefix)` handed to `build` once
    * they changed. `build` returns the fixture's path (that dir or a path
    * under it). The prefix names the fixture, so it must be unique and
    * must not contain `_run_`. The superseded dir stays until exit, since
    * a lazy DataFrame may still read it. A build may call another fixture
    * (the monitor is reentrant); builds run one at a time.
    */
  def fixture(prefix: String, d: String)(build: String => String): String =
    fixtures.synchronized {
      val fp = fingerprint(d)
      fixtures.get((prefix, d)) match {
        case Some((`fp`, path)) => path
        case _ =>
          val path = build(create(prefix))
          fixtures((prefix, d)) = (fp, path)
          path
      }
    }
}
