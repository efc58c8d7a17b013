package graft

import java.nio.file.{Files, Paths, Path => JPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StreamingBatch
import graft.sources.{NioLocalFileSystem, NioLocalFs, StreamIngest, Tables}
import graft.streaming.StreamOps

/** The `file:` scheme [[GraftSession]] installs: landing files forks no
  * process, and what lands is what stock Hadoop would land.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSession._

  /** A small s1-shape ingest (JSON to `dt=/hr=` Parquet) and a stateful
    * window fold over the same input, run under a JFR recording of
    * process starts: (tables dir, ingest sink, command of every process
    * started meanwhile).
    */
  private lazy val landing: (String, String, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val dir = TempDirs.create("graft_nio_fs_")
    try {
      Tables.events(spark, sf).limit(300).toJSON.coalesce(1).write.text(s"$dir/json")
      StreamIngest
        .run(
          spark,
          StreamIngest.IngestConfig(
            StreamIngest.FileSource(s"$dir/json"),
            StreamingBatch.eventSchema,
            "ts",
            s"$dir/out",
            s"$dir/ck"
          )
        )
        .awaitTermination()
      StreamOps
        .windowAgg(StreamIngest.parsed(spark.readStream.text(s"$dir/json"), StreamingBatch.eventSchema, "ts"))
        .writeStream
        .format("parquet")
        .option("path", s"$dir/agg")
        .option("checkpointLocation", s"$dir/agg_ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally rec.stop()
    val jfr = Paths.get(s"$dir/process_start.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile
      .readAllEvents(jfr)
      .asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .toSeq
    (dir, s"$dir/out", commands)
  }

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** Stock `LocalFileSystem`, built directly so the JVM's cached `file:`
    * FileSystem is not consulted.
    */
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(FileSystem.getDefaultUri(hadoopConf), hadoopConf)
    fs
  }

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("landing dt=/hr= Parquet and committing state forks no chmod or readlink") {
    val (dir, out, commands) = landing
    // the recording covered real work: sink files, several (dt, hr) dirs, a state-store commit
    val hrDirs = Files.walk(Paths.get(out)).iterator().asScala.count(_.getFileName.toString.startsWith("hr="))
    assert(hrDirs > 1, s"expected several (dt, hr) dirs, saw $hrDirs")
    assert(Files.walk(Paths.get(s"$dir/agg_ck/state")).iterator().asScala.exists(_.toString.endsWith(".delta")))
    assert(spark.read.parquet(out).filter(col("event_id").isNotNull).count() == 300)
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} chmod/readlink processes, first: ${forks.take(3).mkString("; ")}")
    assert(FileSystem.get(new java.net.URI("file:///"), hadoopConf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("landed files, .crc files and dt=/hr= dirs carry the modes a stock LocalFileSystem write gives") {
    val (_, out, _) = landing
    val landed = Files.walk(Paths.get(out)).iterator().asScala.toSeq
    val parquet = landed.filter(p => p.getFileName.toString.endsWith(".parquet"))
    val crc = landed.filter(p => p.getFileName.toString.endsWith(".parquet.crc"))
    val partDirs = landed.filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("(dt|hr)=.*"))
    assert(parquet.nonEmpty && crc.nonEmpty && partDirs.nonEmpty)

    val ref = TempDirs.create("graft_stock_fs_")
    val fs = stockFs
    val refDir = new Path(s"$ref/dt=2024-01-01/hr=0")
    assert(fs.mkdirs(refDir))
    val os = fs.create(new Path(refDir, "part-0.parquet"), true)
    os.write(Array[Byte](1, 2, 3))
    os.close()
    val refFile = Paths.get(s"$refDir/part-0.parquet")
    val refCrc = Paths.get(s"$refDir/.part-0.parquet.crc")
    assert(Files.exists(refCrc))
    for (p <- parquet) assert(mode(p) == mode(refFile), s"$p")
    for (p <- crc) assert(mode(p) == mode(refCrc), s"$p")
    for (p <- partDirs) assert(mode(p) == mode(Paths.get(refDir.toString)), s"$p")

    // explicit modes beyond the two defaults: the bits stock chmod sets
    val nio = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    for (octal <- Seq("700", "640", "751", "444", "077")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (a, b) = (new Path(s"$ref/nio_$octal"), new Path(s"$ref/stock_$octal"))
      Seq(a, b).foreach(p => Files.createFile(Paths.get(p.toString)))
      nio.setPermission(a, perm)
      fs.setPermission(b, perm)
      assert(mode(Paths.get(a.toString)) == mode(Paths.get(b.toString)), octal)
    }
  }

  test("getFileLinkStatus: a symlink keeps its target; a regular file is its getFileStatus") {
    val dir = TempDirs.create("graft_nio_link_")
    val target = Files.writeString(Paths.get(s"$dir/target.txt"), "landed")
    val link = Files.createSymbolicLink(Paths.get(s"$dir/link"), target)
    val fs = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    val stock = stockFs
    def same(a: FileStatus, b: FileStatus): Unit = {
      assert(a.getPath == b.getPath && a.isSymlink == b.isSymlink && a.isDirectory == b.isDirectory)
      assert(a.getLen == b.getLen && a.getModificationTime == b.getModificationTime)
      assert(a.getPermission == b.getPermission && a.getOwner == b.getOwner)
    }

    val linkPath = new Path(link.toString)
    val viaFs = fs.getFileLinkStatus(linkPath)
    assert(viaFs.isSymlink && viaFs.getSymlink == new Path(s"file:$target"))
    same(viaFs, stock.getFileLinkStatus(linkPath))
    assert(viaFs.getSymlink == stock.getFileLinkStatus(linkPath).getSymlink)
    val viaFc = FileContext.getFileContext(hadoopConf).getFileLinkStatus(linkPath)
    assert(viaFc.isSymlink && viaFc.getSymlink == new Path(s"file:$target"))

    for (p <- Seq(new Path(target.toString), new Path(s"file:$target"), new Path(s"file:$dir"))) {
      same(fs.getFileLinkStatus(p), fs.getFileStatus(p))
      same(fs.getFileLinkStatus(p), stock.getFileLinkStatus(p))
    }
  }
}
