package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table store with an ATOMIC publish step — the minimal
  * snapshot-isolation contract a copy-on-write MERGE needs so concurrent
  * readers never observe a half-written version.
  *
  * Layout:
  * {{{
  *   <root>/v=1/...parquet      version data (immutable once published)
  *   <root>/v=2/...parquet      staged by the next writer
  *   <root>/_CURRENT            manifest: the published version number
  * }}}
  *
  * Protocol: a writer stages the full next version under `v=N+1/` (any
  * number of files, any duration, crashes allowed), then publishes by
  * writing `_CURRENT.tmp` and renaming it onto `_CURRENT` with
  * `ATOMIC_MOVE`. POSIX rename is atomic within a filesystem, so a
  * reader resolving the manifest sees either the old version number or
  * the new one — never a torn manifest and never a partially-staged
  * directory (unpublished staging dirs are invisible to readers by
  * construction). A crash before the rename leaves `_CURRENT` at the old
  * version: the half-merged `v=N+1/` is dead weight for the next writer
  * to overwrite, not corruption. This is the same manifest-pointer
  * commit that table formats (Delta/Iceberg) build on; on an object
  * store the rename slot would be a conditional PUT.
  */
object SnapshotStore {

  private def manifest(root: String): Path = Paths.get(root, "_CURRENT")

  /** Best-effort recursive delete that CLOSES its directory stream —
    * `Files.walk` holds an open directory handle until closed, which
    * leaks fds in a long-running daemon if left to GC. Per-file
    * failures are swallowed (debris cleanup is advisory; a caller that
    * needs the path gone, e.g. a rename target, fails on its own move).
    */
  private[graft] def deleteTree(p: Path): Unit = {
    if (!Files.exists(p)) return
    val st = Files.walk(p)
    try
      st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { try Files.deleteIfExists(f) catch { case NonFatal(_) => () } })
    finally st.close()
  }

  /** The currently-published LOCAL version, if any commit has happened
    * (None also for a fresh shallow clone, whose manifest is an external
    * pointer — its first local commit starts its own version history).
    */
  def currentVersion(root: String): Option[Long] = {
    val m = manifest(root)
    if (!Files.exists(m)) None
    else {
      val v = Files.readString(m).trim
      if (v.startsWith("@")) None else Some(v.toLong)
    }
  }

  /** Directory a writer stages version `v` into (not yet visible). */
  def versionPath(root: String, v: Long): String = s"$root/v=$v"

  /** Atomically publish version `v` as current. */
  def commit(root: String, v: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_CURRENT.tmp.$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, manifest(root), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot read: resolve the manifest ONCE, then read that immutable
    * version — the reader's view cannot change mid-query even if a
    * writer commits concurrently.
    */
  def readCurrent(s: SparkSession, root: String): DataFrame =
    s.read.parquet(currentDataPath(root))

  /** Per-root intra-process mutex. OS file locks ([[java.nio.channels.FileLock]])
    * are held per-JVM, not per-thread — two threads of one process locking
    * the same file get OverlappingFileLockException, not exclusion — so
    * in-process writers serialize here first, and the file lock below only
    * arbitrates between PROCESSES.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** OPTIMISTIC-CONCURRENCY commit: publish `v` only if the store is
    * still at `expected` (None = no commit yet). Plain [[commit]] is
    * last-writer-wins — fine for a single owner, silently lost updates
    * with two; this is the compare-and-swap every multi-writer table
    * format implements on its manifest. POSIX rename can't CAS file
    * CONTENT, so the check+swap runs under an exclusive OS file lock on
    * `_COMMIT_LOCK` (plus a per-root JVM mutex for same-process threads).
    * An OS lock — unlike the mtime-staleness takeover this replaces —
    * cannot be stolen from a live-but-paused holder, and a CRASHED
    * holder's lock is released by the kernel with the process, so the
    * leftover `_COMMIT_LOCK` file is inert (its presence is not the
    * lock). `lockTimeoutMs` bounds only how long a waiter queues; it is
    * never license to break a holder's critical section. On an object
    * store this whole slot would be a conditional PUT / ETag CAS.
    * Returns true iff this writer won; false means another writer
    * committed first — re-read, re-stage against the new current, retry
    * (the retry loop is the caller's, because re-staging is
    * table-specific).
    */
  def commitIfCurrent(
      root: String,
      expected: Option[Long],
      v: Long,
      lockTimeoutMs: Long = 30000L
  ): Boolean =
    withCommitLock(root, lockTimeoutMs) {
      if (currentVersion(root) != expected) false
      else { commit(root, v); true }
    }

  /** OCC commit of an INDEPENDENTLY-STAGED directory: under the commit
    * lock, if the store is still at `expected`, move `stagedDir` into
    * place as version `expected+1` and publish it. Racing writers must
    * stage under UNIQUE paths (e.g. `<root>/_stage_<uuid>`) — staging
    * directly at the target version path would let a losing racer
    * overwrite the winner's just-published data files. Returns
    * Some(newVersion) on win; None on a lost race, with `stagedDir`
    * left intact for the caller to discard or re-derive (the merge it
    * holds is stale against the new current).
    */
  def commitStagedIfCurrent(
      root: String,
      expected: Option[Long],
      stagedDir: String,
      lockTimeoutMs: Long = 30000L
  ): Option[Long] =
    withCommitLock(root, lockTimeoutMs) {
      if (currentVersion(root) != expected) None
      else {
        val v = expected.getOrElse(0L) + 1
        val target = Paths.get(versionPath(root, v))
        // a crashed PRE-publish writer may have left debris at v (it was
        // never visible — the manifest is the only source of visibility)
        if (Files.exists(target)) deleteTree(target)
        Files.move(Paths.get(stagedDir), target)
        commit(root, v)
        Some(v)
      }
    }

  /** Writer-metadata sidecar inside a (staged or published) version
    * directory — the transactional-sink handshake table formats offer
    * (Delta's per-writer txn appId/version): a streaming writer records
    * the micro-batch id it folded INTO the staged version before
    * commit, and on replay reads it back from the published current to
    * skip already-applied batches — turning foreachBatch's
    * at-least-once redelivery into an exactly-once fold. Underscore-
    * prefixed files are invisible to Spark's parquet scan (the _SUCCESS
    * convention), so the sidecar never perturbs the data read.
    */
  def annotate(versionDir: String, key: String, value: String): Unit =
    Files.writeString(Paths.get(versionDir, s"_meta_$key"), value)

  /** Read back a sidecar written by [[annotate]] from published version `v`. */
  def annotation(root: String, v: Long, key: String): Option[String] = {
    val p = Paths.get(versionPath(root, v), s"_meta_$key")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Run `f` under the store's exclusive commit lock: a per-root JVM
    * mutex (OS file locks are per-process) then an OS FileLock on
    * `_COMMIT_LOCK`. An OS lock — unlike an mtime-staleness takeover —
    * cannot be stolen from a live-but-paused holder, and a CRASHED
    * holder's lock is released by the kernel with the process, so a
    * leftover `_COMMIT_LOCK` file is inert (its presence is not the
    * lock). `lockTimeoutMs` bounds only how long a waiter queues; it is
    * never license to break a holder's critical section.
    */
  private def withCommitLock[T](root: String, lockTimeoutMs: Long)(f: => T): T = {
    Files.createDirectories(Paths.get(root))
    // ONE deadline shared by both acquisition stages: the JVM mutex and
    // the OS FileLock each consume from the same budget, so a waiter
    // blocks at most ~lockTimeoutMs total, not 2x the documented bound.
    val deadline = System.currentTimeMillis() + lockTimeoutMs
    val key = Paths.get(root).toAbsolutePath.normalize.toString
    val mutex = jvmLocks.computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock())
    if (!mutex.tryLock(lockTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(s"commit lock on $root held past $lockTimeoutMs ms")
    try {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, "_COMMIT_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE
      )
      try {
        // OverlappingFileLockException = this JVM holds the lock through
        // some OTHER channel (e.g. a non-commitIfCurrent holder): that is
        // contention to wait out, not a crash.
        def attempt(): java.nio.channels.FileLock =
          try ch.tryLock()
          catch { case _: java.nio.channels.OverlappingFileLockException => null }
        var fl: java.nio.channels.FileLock = attempt()
        while (fl == null) {
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(s"commit lock on $root held past $lockTimeoutMs ms")
          Thread.sleep(5)
          fl = attempt()
        }
        try f
        finally fl.release()
      } finally ch.close()
    } finally mutex.unlock()
  }

  /** SHALLOW CLONE: create a new store whose manifest POINTS AT the
    * source's current version directory — zero data copied, O(1)
    * metadata work at any table size (Delta's SHALLOW CLONE / Iceberg
    * snapshot-ref pattern). The clone then diverges independently: its
    * next writer stages a local `v=N/` and commits, flipping the
    * manifest from the external pointer to a local version; the source
    * is never touched (version dirs are immutable, so the borrowed
    * directory cannot change under the clone). Manifest grammar:
    * `N` = local version, `@<absolute dir>` = external pointer.
    */
  def shallowClone(srcRoot: String, cloneRoot: String): Unit = {
    val v = currentVersion(srcRoot).getOrElse(
      throw new IllegalStateException(s"no committed version under $srcRoot")
    )
    Files.createDirectories(Paths.get(cloneRoot))
    val target = Paths.get(versionPath(srcRoot, v)).toAbsolutePath.toString
    val tmp = Paths.get(cloneRoot, "_CURRENT.tmp.clone")
    Files.writeString(tmp, s"@$target")
    Files.move(tmp, manifest(cloneRoot), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The data directory `_CURRENT` resolves to: a local version dir or
    * a shallow-clone external pointer.
    */
  def currentDataPath(root: String): String = {
    val m = manifest(root)
    if (!Files.exists(m))
      throw new IllegalStateException(s"no committed version under $root")
    val v = Files.readString(m).trim
    if (v.startsWith("@")) v.drop(1) else versionPath(root, v.toLong)
  }

  /** TIME TRAVEL: read a specific previously-published version. Version
    * directories are immutable once published and never vacuumed by the
    * writer, so any `v` ≤ current is a complete, consistent snapshot —
    * the audit/"as-of" read every copy-on-write table format offers.
    * Unpublished (staged or crashed) versions are rejected: the manifest
    * is the only source of visibility.
    */
  def readVersion(s: SparkSession, root: String, v: Long): DataFrame = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")
    )
    require(v >= 1 && v <= cur, s"version $v is not published (current is $cur)")
    if (!Files.exists(Paths.get(versionPath(root, v))))
      throw new IllegalStateException(s"version $v was vacuumed (retention window passed)")
    s.read.parquet(versionPath(root, v))
  }

  /** ORPHAN GC: delete crashed or lost-race writers' staging debris.
    * Staged dirs (`_stage_*`) are invisible to readers (the manifest is
    * the only source of visibility) and are consumed by rename at
    * commit, so any `_stage_*` still present belongs to a writer that
    * died or abandoned its attempt; the age guard keeps an IN-FLIGHT
    * writer's staging safe. Version dirs and the manifest are never
    * touched — [[vacuum]] owns version retention; this owns the space
    * the crash-safety story leaks. Returns the deleted dir names.
    */
  def gcOrphans(root: String, olderThanMs: Long = 3600000L): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Nil
    val listing = Files.list(rootP)
    val doomed =
      try
        listing
          .iterator()
          .asScala
          .filter { p =>
            p.getFileName.toString.startsWith("_stage_") &&
            (try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: java.nio.file.NoSuchFileException => false })
          }
          .toSeq
      finally listing.close()
    doomed.foreach(deleteTree)
    doomed.map(_.getFileName.toString)
  }

  /** VACUUM: drop version directories older than the `keep` most recent
    * published ones, bounding the store's copy-on-write history. Pure
    * O(versions) metadata directory deletes — survivors are never
    * scanned or rewritten (c7's retention discipline). The manifest is
    * untouched, so readers of retained versions (including `_CURRENT`)
    * are unaffected; time travel below the window now fails with an
    * explicit vacuumed error instead of a missing-file scan. Staged
    * directories ABOVE the current version (a crashed writer's
    * leftovers) are left for that writer's recovery overwrite. Returns
    * the dropped version numbers.
    */
  def vacuum(root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")
    )
    val cutoff = cur - keep + 1
    val listing = Files.list(Paths.get(root))
    val dropped =
      try
        listing
          .iterator()
          .asScala
          .flatMap { p =>
            val n = p.getFileName.toString
            if (n.startsWith("v=")) n.stripPrefix("v=").toLongOption else None
          }
          .filter(_ < cutoff)
          .toSeq
          .sorted
      finally listing.close()
    dropped.foreach { v =>
      val dir = Paths.get(versionPath(root, v))
      // strict: a failed vacuum delete must surface, but the walk stream
      // still needs closing (the toSeq drains it, so close-after is safe)
      val st = Files.walk(dir)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
    dropped
  }
}
