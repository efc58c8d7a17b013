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
  *  - Spark's cache of compiled generated classes holds 6,000 classes
  *    instead of its default 100. curate's seven builders need more than
  *    100 distinct classes per pass, so a session that re-ran them
  *    evicted and recompiled them with Janino on every pass and ran them
  *    interpreted until the JIT caught up again. One `graft.Verify` pass
  *    over all 397 SparkEntry queries (sf0.01, 4 cores) with an unbounded
  *    cache compiles 5,441 distinct classes (25.0 s of Janino time) and
  *    ends with 271 MB of Metaspace used; at the default bound the same
  *    pass compiles 9,258 (36.5 s) and ends at 230 MB. 6,000 holds every
  *    class the whole surface generates. The cache is JVM-wide and sized
  *    once, by the first codegen in the JVM.
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
    .config("spark.sql.codegen.cache.maxEntries", 6000L)

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
