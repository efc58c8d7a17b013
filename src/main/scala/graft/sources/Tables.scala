package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver-generated parquet tables.
  *
  * Plain tables are read as-is (schema lives in the parquet footer; Catalyst
  * handles column pruning + predicate pushdown into the scan). The `events`
  * table needs normalization: upstream producers have shipped its `ts`
  * column in THREE parquet encodings across data regenerations —
  * TIMESTAMP(NANOS) (readable only via
  * `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as int64
  * epoch-nanos), µs TIMESTAMP(isAdjustedToUTC=true) (TimestampType), and
  * µs TIMESTAMP(isAdjustedToUTC=false) (TIMESTAMP_NTZ under Spark 4's
  * default inference). [[normalizeTs]] folds all three to a microsecond
  * instant-semantics TimestampType: nanos convert with integer division
  * (`ts div 1000` — no double round-trip, which would lose precision
  * above 2^53); NTZ casts to TimestampType (the session timezone is
  * pinned UTC in [[graft.GraftSession]], so the wall-clock reading IS the
  * instant). An engine that only handles the encoding of the last
  * regeneration breaks on the next one — this loader is the single choke
  * point where that can never happen again.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register the FULL table set in the session catalog so any oracle
    * SQL text runs by table NAME through `spark.sql` — the surface a SQL
    * user (or a BI tool) drives the engine with. `events` registers
    * through its normalizing loader so `ts` is a real TimestampType by
    * name too. Views are lazy logical plans over the parquet scans:
    * column pruning and predicate pushdown behave exactly as when the
    * typed loaders are composed directly, so this adds surface, not a
    * copy. (On a cluster with a persistent metastore the same loaders
    * back `CREATE TABLE ... USING parquet LOCATION` DDL; temp views are
    * the in-session equivalent.)
    */
  def registerAll(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings")
      .foreach(t => table(s, d, t).createOrReplaceTempView(t))
    events(s, d).createOrReplaceTempView("events")
  }

  /** Parallelism FLOOR for expensive per-row map stages (optimization
    * guide §2.6 stragglers / §6 input splits). The generated sf inputs
    * are single-row-group parquet files, and a parquet row group belongs
    * to whichever byte-range split holds its midpoint — so a base-table
    * scan collapses to ONE non-empty task no matter how
    * `maxPartitionBytes`/`minPartitionNum` slice the file, and everything
    * Spark fuses into the scan stage (tokenization, shingle hashing,
    * explodes, partial aggregation) runs serially on one core.
    *
    * This helper repartitions to the session's default parallelism ONLY
    * when the scan's NON-EMPTY parallelism is narrower than it — on a
    * real many-row-group table (any production 100 TB layout) the
    * condition is false and NO exchange is added, so it is
    * scale-adaptive, not a local[32] constant. Apply it only where the
    * per-row map work is expensive enough to dwarf one exchange of the
    * input rows (the callers each record their measurement in
    * OPTIMIZATION_r18/19.md); a cheap scan-stage is better left fused.
    *
    * Round-19 hardening (r18 VERDICT item 6 + ADVICE):
    *
    *  - RAW SCANS ONLY, enforced: probing `df.rdd` on a post-shuffle /
    *    AQE subtree can force stage materialization (the r18 sharp edge
    *    that was previously a call-site convention). The helper now
    *    fails loudly unless the analyzed plan is a bare file scan under
    *    nothing but Project/Filter/SubqueryAlias.
    *  - Non-empty-task gate: the planned split count counts EMPTY
    *    byte-range splits too, so a single-row-group file larger than
    *    target×maxPartitionBytes would plan ≥ target splits and silently
    *    skip the floor in exactly the 1-task case it exists for. When
    *    a Parquet scan has fewer FILES than the target, the true
    *    parallelism ceiling (Σ row groups, read from the ≤ target
    *    footers — bounded, local metadata) gates instead; many-file
    *    scans and non-Parquet formats use the planned split count.
    *  - Scan-bytes gate: the floor only fires when the whole scan is at
    *    most target×maxPartitionBytes — i.e. when the added exchange
    *    moves at most one scan-task's worth of bytes per core. A pruned
    *    100 TB scan that is merely narrower than the core count is left
    *    alone rather than force-reshuffled. The file listing behind both
    *    gates is `listFiles(Nil, Nil)`, which ignores partition filters:
    *    the bytes are the whole table's, so a heavily partition-pruned
    *    scan can skip a floor it would have earned (conservative, never
    *    wrong results).
    *  - Optional hash KEYS: keyless `repartition(n)` pays a local
    *    sort of the FULL rows before the round-robin write
    *    (`spark.sql.execution.sortBeforeRepartition`, on by default so
    *    task retries are deterministic — guide §2.5). On a 1-task text
    *    scan that sort is serial and carries the text column; hash
    *    repartitioning on a high-cardinality key (doc_id) has no such
    *    sort and is just as deterministic under retry.
    */
  def parallelized(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    def bare(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation        => true
      case pr: Project               => bare(pr.child)
      case f: Filter                 => bare(f.child)
      case a: SubqueryAlias          => bare(a.child)
      case _                         => false
    }
    val analyzed = df.queryExecution.analyzed
    require(
      bare(analyzed),
      s"Tables.parallelized must wrap a RAW file scan (Project/Filter over one relation); got:\n$analyzed"
    )
    val rel = analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.getOrElse(
      throw new IllegalArgumentException("Tables.parallelized: no file-source relation in plan")
    )
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
    val totalBytes = files.map(_.getLen).sum
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes
    if (totalBytes > target.toLong * maxPartitionBytes) return df // big scan: never force a reshuffle
    // non-empty parallelism ceiling: planned splits, capped by the true
    // row-group count when the file set is small enough to ask cheaply
    val planned = df.rdd.getNumPartitions
    val ceiling =
      if (files.length >= target || !rel.fileFormat.isInstanceOf[ParquetFileFormat]) planned
      else {
        val conf = spark.sessionState.newHadoopConf()
        val rowGroups = files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f.fileStatus, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size.toLong
          finally r.close()
        }.sum
        math.min(planned.toLong, rowGroups)
      }
    if (ceiling < target) {
      if (keys.nonEmpty) df.repartition(target, keys: _*) else df.repartition(target)
    } else df
  }

  /** `events` with `ts` normalized to a microsecond TimestampType. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Fold any of the three producer timestamp encodings to an
    * instant-semantics TimestampType (see object doc). Public and
    * DataFrame→DataFrame so the encoding matrix is unit-testable without
    * staging parquet in every combination.
    */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types._
    raw.schema(tsCol).dataType match {
      case LongType => // nanosAsLong: int64 epoch-nanos
        raw.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType => // session tz is UTC: wall-clock == instant
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalArgumentException(
          s"events.$tsCol has unsupported type $other — expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
}
