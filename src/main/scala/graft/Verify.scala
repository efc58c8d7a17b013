package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A query that throws must surface as a RED correctness row, not an
    * absent one (the driver treats a missing output dir as out-of-scope
    * — in round 8 that hid 14 crash regressions). The marker is a
    * ZERO-row parquet with a sentinel `_graft_error` schema: it fails
    * the hash/schema compare for oracle queries AND the rows>0 check
    * for rows-only queries (a non-empty marker could fake-pass the
    * latter). The message goes to a sidecar next to the dir, outside
    * the parquet glob.
    */
  private[graft] def writeErrorMarker(
      spark: SparkSession,
      outDir: String,
      name: String,
      e: Throwable
  ): Unit = {
    spark
      .createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          Seq(
            org.apache.spark.sql.types
              .StructField("_graft_error", org.apache.spark.sql.types.StringType)
          )
        )
      )
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/$name")
    Files.writeString(
      Paths.get(s"$outDir/$name.error.txt"),
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}\n"
    )
  }

  /** A rerun into the same outDir must not leave a stale crash sidecar
    * next to a now-green result.
    */
  private[graft] def clearErrorMarker(outDir: String, name: String): Unit = {
    Files.deleteIfExists(Paths.get(s"$outDir/$name.error.txt"))
    ()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // install the extension stack (MvRewrite/TopK/SQL fns) up front:
    // previously whichever query called register() first flipped the
    // session's planning for every LATER query, so what the gate proved
    // depended on Map iteration order — now every query verifies under
    // the same fully-extended session the engine ships with
    graft.plans.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        clearErrorMarker(outDir, name)
      }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try writeErrorMarker(spark, outDir, name, e)
        catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name marker write failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
