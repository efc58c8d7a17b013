package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a forked process per file.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell.execCommand` on every file and directory it
  * creates (a Parquet part file, its `.crc`, each `dt=/hr=` dir), and
  * `getFileLinkStatus` runs `readlink` on every checkpoint rename. Both
  * are answered here in-process with `java.nio.file`; the mode bits, the
  * `.crc` side files and rename semantics are the stock ones.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits as stock `chmod`; a sticky bit (which
    * `PosixFilePermission` cannot express) or a non-POSIX filesystem
    * takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) bits.add(b) }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symlink has its plain status (what stock
    * returns once `readlink` prints nothing); a symlink takes the stock
    * path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[NioRawLocalFileSystem]]: stock `LocalFileSystem` otherwise.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of stock `org.apache.hadoop.fs.local.RawLocalFs` (whose
  * constructors are package-private) that the delegate does not already
  * give: local server defaults, and any name is valid.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The `file:` `AbstractFileSystem` behind `FileContext`, which the
  * streaming checkpoint file manager uses for offsets, commits,
  * `_spark_metadata` and state-store files: stock
  * `org.apache.hadoop.fs.local.LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
