package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration for the graft engine.
  *
  * All entry points (Verify, Bench, tests) route through [[configure]] so
  * the engine-critical confs are applied uniformly:
  *
  *  - AQE on: runtime coalescing + skew-join splitting is the 100 TB
  *    answer to skewed shuffle keys.
  *  - `nanosAsLong`: an `events` table carrying parquet TIMESTAMP(NANOS)
  *    (one of the three encodings upstream producers emit) is rejected by
  *    Spark's vectorized reader; with the flag we read the raw int64 and
  *    convert to a microsecond timestamp in [[graft.sources.Tables]].
  *  - `inferTimestampNTZ=false`: parquet TIMESTAMP(isAdjustedToUTC=false)
  *    reads as instant-semantics TimestampType instead of TIMESTAMP_NTZ.
  *    With the session timezone pinned UTC the instant is identical, and
  *    every downstream consumer (`unix_micros`, `Row.getTimestamp`,
  *    watermarks) sees ONE timestamp type regardless of which of the
  *    three producer encodings (int64-nanos, µs-UTC, µs-NTZ) a file
  *    arrived in. [[graft.sources.Tables.normalizeTs]] is the belt-and-
  *    braces second layer for sessions not built through here.
  *  - UTC session timezone: oracle (DuckDB) parity for date arithmetic.
  *  - The `file:` scheme is [[graft.sources.NioLocalFileSystem]] (and
  *    [[graft.sources.NioLocalFs]] behind `FileContext`). Without
  *    libhadoop, stock Hadoop forks `chmod` for every file and directory
  *    it creates and `readlink` for every checkpoint rename, which left
  *    the ingest sink's writer tasks mostly waiting on process starts.
  *    These answer both in-process. Hadoop caches one `file:`
  *    FileSystem per JVM and user whatever its class, so the first
  *    session of the JVM must be built here.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.compression.codec", "snappy")
    // dims (region/nation/supplier/part at any SF; customer at small SF)
    // stay broadcastable; explicit broadcast() hints are used regardless.
    .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)

  /** Local session for tests / ad-hoc mains, with the graft extension
    * stack installed by [[graft.plans.GraftExtensions.register]].
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors().min(32)): SparkSession = {
    val s = configure(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    s
  }
}
