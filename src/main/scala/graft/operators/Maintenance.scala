package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Table-maintenance jobs for the landed columnar data — the part of a
  * khose-style pipeline that keeps the immutable store healthy: streaming
  * ingest inevitably produces many small files per time partition;
  * compaction rewrites them to target-size files so downstream scans pay
  * one open per ~targetBytes instead of one per trigger.
  */
object Maintenance {

  /** Rewrite `inPath` (partitioned by `partitionCols`) into `outPath`
    * with ~targetBytes output files. Sizing comes from the actual input
    * byte count; the repartition is keyed on the partition columns so
    * each output directory is written by few tasks (no tasks×dirs file
    * explosion). At 100 TB this runs per-partition-predicate (compact
    * only cold partitions), not whole-table.
    */
  def compact(
      s: SparkSession,
      inPath: String,
      outPath: String,
      partitionCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024
  ): Unit = {
    val df = s.read.parquet(inPath)
    val fs = new Path(inPath).getFileSystem(s.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new Path(inPath)).getLength
    val nFiles = math.max(1, (totalBytes / targetBytes).toInt)
    df.repartition(nFiles, partitionCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(outPath)
  }

  def fileCount(s: SparkSession, path: String): Long =
    s.read.parquet(path).inputFiles.length.toLong

  /** c1: stage events as a fragmented day-partitioned table (8 files per
    * day — the post-ingest shape), compact it, and return per-day counts
    * from the COMPACTED data; the oracle computes the same from the
    * source table, so row preservation is what's checked. File-count
    * reduction is asserted in ScalaTest.
    */
  /** MERGE INTO-shaped batch upsert for the immutable columnar store:
    * WHEN MATCHED THEN UPDATE (source wins), WHEN NOT MATCHED THEN INSERT,
    * rows not matched by source are retained. One shuffle on the merge
    * keys (a per-key window over the union with a source-precedence
    * flag); `newestFirst` breaks ties among multiple source/target rows
    * per key (e.g. `Seq(col("ts").desc, col("event_id").desc)`). At scale
    * this is the copy-on-write pattern: the caller writes the result as a
    * new table version (see [[c2MergeUpsert]]) — ideally restricted to
    * the partitions the source actually touches.
    */
  def mergeUpsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      newestFirst: Seq[Column]
  ): DataFrame = {
    // helper columns must not collide with caller columns — withColumn
    // would silently REPLACE a same-named user column and drop() would
    // then delete it, corrupting the merge with no error
    val taken = (target.columns ++ source.columns).toSet
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i").filterNot(taken).next()
    val srcCol = fresh("_src")
    val rnCol = fresh("_rn")
    val unioned = target.withColumn(srcCol, lit(0)).unionByName(source.withColumn(srcCol, lit(1)))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(srcCol).desc +: newestFirst: _*)
    unioned
      .withColumn(rnCol, row_number().over(w))
      .filter(col(rnCol) === 1)
      .drop(srcCol, rnCol)
  }

  /** c2: end-to-end MERGE over a landed keyed parquet state table. The
    * events stream is split at its time midpoint: the first half builds
    * the landed per-user state table (the immutable store), the second
    * half arrives as "late" upserts. After [[mergeUpsert]] +
    * copy-on-write rewrite, the store must equal the latest-event-per-user
    * view of the WHOLE stream — which is exactly what the DuckDB oracle
    * computes (e6's shape). The split threshold is folded in as a
    * broadcast single-row aggregate (no driver-side collect).
    *
    * The store is TRANSACTIONAL via [[graft.sources.SnapshotStore]]:
    * each version stages into its own directory and becomes visible only
    * through the atomic manifest rename, so a reader concurrent with (or
    * interrupted by) the merge sees exactly the pre- or post-merge
    * snapshot, never a half-written mix — the crashed-mid-merge case is
    * ScalaTest-asserted.
    */
  def c2MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val store = buildMergeStore(s, graft.TempDirs.create("graft_c2_"), d)
    graft.sources.SnapshotStore
      .readCurrent(s, store)
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** Stages the two-version merge store under `dir/store`: v1 = latest
    * event per user over the EARLY half of the stream (the pre-merge
    * snapshot), v2 = v1 merged with the late half's upserts. The split
    * uses pure integer arithmetic (`2·µs ≥ mn+mx`) so an oracle over the
    * same split can't drift on float division. Returns the store root.
    */
  private def buildMergeStore(s: SparkSession, dir: String, d: String): String = {
    import graft.sources.SnapshotStore
    val ev = Tables.events(s, d).select("user_id", "event_id", "event_type", "value", "ts")
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")
    )
    val halved = ev
      .crossJoin(broadcast(bounds))
      .withColumn("is_late", unix_micros(col("ts")) * 2 >= col("mn") + col("mx"))
      .drop("mn", "mx")
    def latestPerUser(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
      df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    val store = s"$dir/store"
    latestPerUser(halved.filter(!col("is_late")).drop("is_late"))
      .write.mode("overwrite").parquet(SnapshotStore.versionPath(store, 1))
    SnapshotStore.commit(store, 1)
    val target = SnapshotStore.readCurrent(s, store)
    val updates = latestPerUser(halved.filter(col("is_late")).drop("is_late"))
    // copy-on-write: stage the merged version in full, then publish with
    // the atomic manifest swap
    mergeUpsert(target, updates, Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .write.mode("overwrite").parquet(SnapshotStore.versionPath(store, 2))
    SnapshotStore.commit(store, 2)
    store
  }

  /** Build the fixture stores (c2b merge store, c13 landed
    * partitions, c15 bloom index, c16 MV partials) untimed — same
    * discipline as `StreamingBatch.prestage`: the timed bench entries
    * then measure the OPERATOR (versioned read / pruned join / indexed
    * lookup / rewritten aggregate), not whichever invocation happens to
    * pay the shared staging first.
    */
  def prestage(s: SparkSession, d: String): Unit = {
    mergeStore(s, d)
    gdprStore(s, d)
    landedByDay(s, d)
    bloomIndexStore(s, d)
    mvStore(s, d)
    mvLineitemStore(s, d)
    statsStore(s, d)
    tpchStatsStore(s, d)
    zoneMapStore(s, d)
    partEvoStore(s, d)
  }

  /** The two-version merge store c2b, c18, c25, c27 and c31 read. */
  private[graft] def mergeStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c2b_", d)(buildMergeStore(s, _, d))

  /** c2b: TIME TRAVEL over the manifest-versioned merge store — read the
    * PRE-merge snapshot (v1) after the merge has already published v2.
    * Version directories are immutable and the manifest is the only
    * visibility pointer, so the as-of read is exactly the early-half
    * latest-per-user state; the oracle recomputes that state from raw
    * events with the same integer-arithmetic midpoint split. This is the
    * audit/debug read ("what did the store say before last night's
    * merge?") a copy-on-write table format owes its operators, and it
    * costs one manifest stat + one immutable-directory scan at any scale.
    */
  def c2bTimeTravel(s: SparkSession, d: String): DataFrame = {
    val store = mergeStore(s, d)
    graft.sources.SnapshotStore
      .readVersion(s, store, 1)
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** c3: ORC sink round-trip — the khose alternate columnar format as an
    * oracle-checked surface (not just a ScalaTest): events land as
    * day-partitioned ORC via the same keyed-repartition writer shape,
    * are re-read, and must aggregate to what DuckDB computes from the
    * source parquet.
    */
  def c3OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c3_")
    Tables
      .events(s, d)
      .withColumn("dt", col("ts").cast("date"))
      .repartition(4, col("dt"))
      .write
      .partitionBy("dt")
      .orc(s"$dir/orc")
    s.read
      .orc(s"$dir/orc")
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("sum_value")
      )
      .orderBy("dt")
  }

  /** c4: partition BACKFILL via dynamic partition overwrite — reprocess
    * exactly one day of the immutable store without touching the rest.
    * The harness lands the table with the latest day deliberately
    * corrupted (values zeroed), then rewrites ONLY that partition in
    * `partitionOverwriteMode=dynamic`. The oracle aggregates the pristine
    * source — so a static-mode bug (which would drop every other
    * partition) or a missed backfill both fail the gate. The target day
    * is folded in as a broadcast scalar (no driver collect).
    */
  def c4Backfill(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c4_")
    val ev = Tables
      .events(s, d)
      .select(col("ts").cast("date").as("dt"), col("event_id"), col("user_id"), col("value"))
    val target = ev.agg(max("dt").as("target_dt"))
    val withTarget = ev.crossJoin(broadcast(target))
    // v1 of the store: latest day corrupted (the "bad ingest" scenario)
    withTarget
      .withColumn("value", when(col("dt") === col("target_dt"), lit(0.0)).otherwise(col("value")))
      .drop("target_dt")
      .repartition(4, col("dt"))
      .write
      .partitionBy("dt")
      .parquet(s"$dir/store")
    // backfill: rewrite ONLY the corrupted partition with correct data
    withTarget
      .filter(col("dt") === col("target_dt"))
      .drop("target_dt")
      .repartition(1, col("dt"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("dt")
      .parquet(s"$dir/store")
    s.read
      .parquet(s"$dir/store")
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt")
  }

  /** Range-clustered data layout: rewrite a table ordered by a scan key so
    * every output file covers a NARROW, near-disjoint key range — parquet
    * footer min/max then let a range predicate skip whole files/row-groups
    * instead of scanning the table. `repartitionByRange` samples the key
    * distribution so files are balanced by ROWS (not by key span — a skewed
    * key never produces a fat file), and `sortWithinPartitions` tightens
    * row-group stats inside each file. This is the batch layout twin of
    * ingest-time (dt, hr) directory partitioning: directories prune on the
    * partition key, range clustering prunes on everything else you sort by.
    * At 100 TB this is how a fact table serves date-range queries without a
    * date directory per possible predicate column.
    */
  def rangeLayout(
      df: DataFrame,
      outPath: String,
      nFiles: Int,
      orderCols: Seq[Column]
  ): Unit =
    df.repartitionByRange(nFiles, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .write
      .mode("overwrite")
      .parquet(outPath)

  /** c5: lay lineitem out range-clustered by `l_shipdate`, then answer a
    * one-quarter range scan from the clustered copy. The oracle runs the
    * same query on the RAW table — the layout must be semantically
    * invisible; the pruning it buys (only ~spanFraction of files overlap
    * the predicate) is asserted file-by-file in ScalaTest from the actual
    * parquet stats.
    */
  def c5RangeLayout(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c5_")
    rangeLayout(Tables.lineitem(s, d), s"$dir/data", 16, Seq(col("l_shipdate"), col("l_orderkey")))
    s.read
      .parquet(s"$dir/data")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"),
        round(avg("l_discount"), 6).as("avg_disc")
      )
      .orderBy("l_returnflag")
  }

  /** Z-ORDER (Morton) clustering layout — c5's range clustering covers
    * ONE scan key; a fact table usually serves predicates on several.
    * Each dimension is uniformly bucketed to 8 bits against its
    * broadcast min/max (one scalar aggregate — no global sort, no
    * driver collect), the two bucket ids are bit-interleaved into a
    * 16-bit Morton code with plain codegen'd shift/and/or columns, and
    * the table is range-partitioned + sorted by that code. Because the
    * Morton curve preserves locality in BOTH dimensions, every output
    * file covers a small rectangle of the (A, B) space — parquet
    * footer min/max then prune files for predicates on A, on B, or on
    * a box over both, where a single-key sort only ever prunes its
    * leading key. At 100 TB this is the layout that serves two
    * families of selective queries from one copy of the data.
    */
  /** The 16-bit Morton code of two 8-bit bucket ids (a in the even bit
    * positions, b in the odd), built from plain codegen'd shift/and/or
    * columns — differentially tested against a per-bit reference
    * implementation in ScalaTest.
    */
  private[graft] def mortonInterleave(a: Column, b: Column): Column = {
    // spread an 8-bit value's bits into the even positions of 16
    def spread(c: Column): Column = {
      val m = c.bitwiseAND(lit(0xffL))
      val s1 = m.bitwiseOR(shiftleft(m, 4)).bitwiseAND(lit(0x0f0fL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 2)).bitwiseAND(lit(0x3333L))
      s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x5555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  def zorderLayout(
      df: DataFrame,
      outPath: String,
      nFiles: Int,
      dimA: Column,
      dimB: Column
  ): Unit = {
    val bounds = df.agg(
      min(dimA).cast("long").as("_amn"),
      max(dimA).cast("long").as("_amx"),
      min(dimB).cast("long").as("_bmn"),
      max(dimB).cast("long").as("_bmx")
    )
    // bucket ∈ [0, 255]: width_bucket against [mn, mx+1) is exact on the
    // closed integer domain (the +1 keeps v=mx inside the last bucket)
    def bucket(c: Column, mn: Column, mx: Column): Column =
      width_bucket(c.cast("long"), mn, mx + lit(1L), lit(256)) - lit(1L)
    val z = mortonInterleave(
      bucket(dimA, col("_amn"), col("_amx")),
      bucket(dimB, col("_bmn"), col("_bmx"))
    )
    df.crossJoin(broadcast(bounds))
      .withColumn("_z", z)
      .drop("_amn", "_amx", "_bmn", "_bmx")
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write
      .mode("overwrite")
      .parquet(outPath)
  }

  /** c14: lay lineitem out Z-ordered on (l_partkey, l_suppkey), then
    * answer a two-dimensional box query (the middle quarter-span of each
    * key) from the clustered copy. The oracle runs the same box query on
    * the RAW table — the layout must be semantically invisible; the
    * multi-dimensional pruning it buys (files overlapping the box, or a
    * B-only predicate a l_partkey sort could never skip for) is asserted
    * file-by-file in ScalaTest. The box bounds derive from broadcast
    * min/max with pure integer arithmetic so both engines compute the
    * identical box at any SF.
    */
  def c14ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c14_")
    zorderLayout(Tables.lineitem(s, d), s"$dir/data", 16, col("l_partkey"), col("l_suppkey"))
    val t = s.read.parquet(s"$dir/data")
    // box bounds are LOOKUP PARAMETERS (a user supplies them in
    // practice); collecting the 4-value min/max row makes them literals,
    // so the box predicate reaches the scan as PushedFilters and parquet
    // footer stats actually skip the non-overlapping z-rectangles — a
    // broadcast-column predicate would evaluate per row instead
    val b = t
      .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
      .head()
    val Seq(pmn, pmx, smn, smx) = b.toSeq.map(_.toString.toLong)
    val (pLo, pHi) = (pmn + (pmx - pmn) / 4, pmn + (pmx - pmn) / 2)
    val (sLo, sHi) = (smn + (smx - smn) / 4, smn + (smx - smn) / 2)
    t.filter(
      col("l_partkey") >= pLo && col("l_partkey") < pHi &&
        col("l_suppkey") >= sLo && col("l_suppkey") < sHi
    ).groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue")
      )
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------------
  // c15: per-file BLOOM secondary index
  // --------------------------------------------------------------------

  /** The k=3 bloom bit positions of `key` in an `mBits`-bit filter, by
    * Kirsch–Mitzenmacher double hashing over two independent xxhash64
    * values (h2 forced odd so the stride never degenerates). Pure
    * codegen'd column arithmetic — the same expressions index build and
    * probe, so the two sides can never disagree on a position.
    */
  private def bloomPositions(key: Column, mBits: Long): Seq[Column] = {
    // reduce mod m BEFORE combining: raw xxhash64 values span the full
    // Long range and i·h2 would overflow under ANSI arithmetic; with
    // m a power of two the reduced stride keeps h2's low bits, so
    // forcing h2 odd still guarantees a full-period probe sequence
    val h1 = pmod(xxhash64(key), lit(mBits))
    val h2 = pmod(xxhash64(key, lit("graft_bloom_salt")).bitwiseOR(lit(1L)), lit(mBits))
    (0 until 3).map(i => pmod(h1 + lit(i.toLong) * h2, lit(mBits)))
  }

  /** Filter size for ~n insertions at k=3: the next power of two ≥ 8·n
    * keeps the load factor ≤ 0.375 bits-set (≈0.3% false positives) at
    * ANY scale factor — a fixed-size bloom would silently saturate as
    * files grow. The chosen size is persisted IN the index so probes
    * can never hash against the wrong modulus.
    */
  private def bloomSize(nPerFile: Long): Long =
    java.lang.Long.highestOneBit(math.max(8192L, 8L * nPerFile) * 2 - 1)

  private def bloomIndexStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c15_", d) { dir =>
      // the realistic adversary: files clustered by ship date, so an
      // order-key lookup has NO leading-key locality to prune with
      rangeLayout(
        Tables.lineitem(s, d),
        s"$dir/data",
        16,
        Seq(col("l_shipdate"), col("l_orderkey"))
      )
      val data = s.read.parquet(s"$dir/data")
      val m = bloomSize(data.count() / 16)
      // one bloom per file: each row contributes its key's 3 bit
      // positions; collect_set dedups them into the file's bit set.
      // The set is KB-scale per file — an index TABLE, built with one
      // shuffle, never driver-side state. (A packed-words
      // representation would be 32× smaller still; the set-of-
      // positions form keeps build and probe fully declarative.)
      data
        .select(
          input_file_name().as("f"),
          explode(array(bloomPositions(col("l_orderkey"), m): _*)).as("pos")
        )
        .groupBy("f")
        .agg(sort_array(collect_set("pos")).as("bits"))
        .withColumn("m", lit(m))
        .coalesce(1)
        .write
        .parquet(s"$dir/index")
      dir
    }

  /** The files whose bloom admits `key`, as a driver-side path list —
    * an O(matched files) METADATA collect like c7's directory ops (the
    * `bits` arrays themselves never leave the executors). */
  private def bloomMatchedPaths(s: SparkSession, dir: String, key: Long): Array[String] = {
    val idx = s.read.parquet(s"$dir/index")
    val m = idx.select("m").head().getLong(0)
    idx
      .filter(bloomPositions(lit(key), m).map(p => array_contains(col("bits"), p)).reduce(_ && _))
      .select("f")
      .collect()
      .map(_.getString(0))
  }

  /** c15: per-file BLOOM secondary index — the point-lookup story for a
    * column the layout is NOT sorted by. The store is ship-date
    * clustered (c5's layout), so an order's ~4 line items scatter
    * across the date range and footer min/max on `l_orderkey` prune
    * nothing; a KB-per-file bloom over the key answers "which files can
    * contain K" instead, and the lookup reads only those files. The
    * probe filters the 16-row index table and collects the surviving
    * FILE LIST — an O(matched files) metadata collect like c7's
    * directory ops, never data rows. False positives cost one wasted
    * file read; the exact `l_orderkey = K` filter on the pruned scan
    * keeps the answer precise, which is why the DuckDB oracle (a full
    * scan of raw lineitem) must hash-match regardless of bloom tuning.
    * At 100 TB: 1M files × KB blooms is a few GB — a small table
    * filtered distributively, with only matched paths ever reaching the
    * driver. The lookup key (a user constant in practice) is the max
    * order key — deterministic, SF-invariant, and guaranteed present.
    */
  def c15BloomIndex(s: SparkSession, d: String): DataFrame = {
    val dir = bloomIndexStore(s, d)
    val k = Tables.lineitem(s, d).agg(max("l_orderkey")).head().get(0).toString.toLong
    val matched = bloomMatchedPaths(s, dir, k)
    val pruned =
      if (matched.isEmpty) s.read.parquet(s"$dir/data").filter(lit(false))
      else s.read.parquet(matched.toIndexedSeq: _*)
    pruned
      .filter(col("l_orderkey") === lit(k))
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("revenue")
      )
  }

  /** How many of the store's files the bloom keeps alive for `key` —
    * the ScalaTest pruning probe. */
  private[graft] def bloomMatchedFiles(s: SparkSession, d: String, key: Long): Long = {
    val dir = bloomIndexStore(s, d)
    bloomMatchedPaths(s, dir, key).length.toLong
  }

  // the registered-MV summary c16 rewrites onto
  private[graft] def mvStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c16_", d) { dir =>
      Tables
        .events(s, d)
        .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
        .groupBy("dt", "event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("value").as("sv"),
          min("value").as("mnv"),
          max("value").as("mxv")
        )
        .write
        .mode("overwrite")
        .parquet(s"$dir/partials")
      dir
    }

  /** Bind the per-(day, type) partials to raw-events aggregates. Both
    * dims are declared: `event_type` as a bare column and the DAY as
    * the derived expression `cast(ts as date)` — registered against the
    * [[Tables.events]] VIEW so the template matcher sees the same
    * nanos→timestamp normalization chain every query goes through.
    */
  private[graft] def registerEventsMv(s: SparkSession, d: String, dir: String): Unit =
    graft.plans.MvRegistry.register(
      s,
      Tables.events(s, d),
      s.read.parquet(s"$dir/partials"),
      dims = Map("event_type" -> "event_type", "cast(ts as date)" -> "dt"),
      measure = "value"
    )

  /** c16: transparent MATERIALIZED-VIEW rewrite — the query is written
    * against RAW events (`groupBy(event_type).agg(count/sum/avg/min/
    * max)`), but [[graft.plans.MvRewrite]] swaps the scan for the
    * registered per-(day, type) partials table and substitutes the
    * partial-merge algebra (`count→sum(n)`, `sum→sum(sv)`, `avg→
    * sum(sv)/sum(n)`, …). The DuckDB oracle computes from raw events,
    * so the rewrite must be value-indistinguishable from the full scan;
    * the plan swap itself (summary path scanned, events path absent) is
    * ScalaTest-pinned. This is c6's incremental-rollup table promoted
    * from "a table you could query instead" to "the optimizer answers
    * the raw query from it" — the 100 TB dashboard story with no query
    * rewrite asked of the user.
    */
  def c16MvRewrite(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("avg_value"),
        round(min("value"), 2).as("min_value"),
        round(max("value"), 2).as("max_value")
      )
      .orderBy("event_type")
  }

  /** c16b: the FILTERED materialized-view rewrite — a dim-only
    * predicate (`event_type <> 'view'`) commutes with the partials'
    * pre-grouping, so [[graft.plans.MvRewrite]] re-applies it to the
    * summary scan and still answers from the rollup. A predicate on any
    * non-dim column must (and does — ScalaTest) disqualify the rewrite.
    */
  def c16bMvRewriteFiltered(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    Tables
      .events(s, d)
      .filter(col("event_type") =!= "view")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** c16c: MV rewrite across a TIME-GRAIN HIERARCHY — the query groups
    * raw events by MONTH, the registered summary holds DAY-grain
    * partials, and [[graft.plans.MvRewrite]] still answers from the
    * rollup: `trunc(cast(ts as date), 'month')` is a deterministic
    * function of the registered day dim, and re-aggregating partials
    * under the coarser key is the partial-merge algebra applied twice
    * (day→month is how every OLAP time hierarchy rolls up). At 100 TB
    * the monthly dashboard costs a scan of days×types rows — no
    * month-grain summary need exist. The DuckDB oracle computes from
    * raw events; the plan swap is ScalaTest-pinned.
    */
  def c16cMvMonthRollup(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    Tables
      .events(s, d)
      .groupBy(
        trunc(col("ts").cast("date"), "month").as("month_start"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("avg_value"),
        round(min("value"), 2).as("min_value"),
        round(max("value"), 2).as("max_value")
      )
      .orderBy("month_start", "event_type")
  }

  // the persisted stats catalog c19's stats-driven join reads
  private[graft] def statsStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c19_", d) { dir =>
      graft.plans.StatsPlanner.save(
        s, dir, "supplier",
        graft.plans.StatsPlanner.analyze(Tables.supplier(s, d), Seq("s_nationkey")))
      graft.plans.StatsPlanner.save(
        s, dir, "nation",
        graft.plans.StatsPlanner.analyze(
          Tables.nation(s, d).select(col("n_nationkey").as("s_nationkey"), col("n_name")),
          Seq("s_nationkey")))
      dir
    }

  /** c19: STATS-DRIVEN JOIN — the supplier⋈nation dashboard planned by
    * [[graft.plans.StatsPlanner.statsJoin]] from the PERSISTED catalog
    * (c9's ANALYZE stats finally consumed): nation's stored byte
    * estimate selects the broadcast build side with Spark's own
    * auto-broadcast sizing out of the decision. The DuckDB oracle
    * recomputes the join from raw tables (the decision moves the plan,
    * never the values); the catalog-counterfactual plan flips
    * (truthful → broadcast, falsified-huge → shuffle, skewed → salted)
    * are ScalaTest-pinned.
    */
  def c19StatsJoin(s: SparkSession, d: String): DataFrame = {
    val dir = statsStore(s, d)
    val cat = graft.plans.StatsPlanner.loadCatalog(s, dir, Seq("supplier", "nation"))
    graft.plans.StatsPlanner
      .statsJoin(
        Tables.supplier(s, d).select("s_nationkey", "s_acctbal"),
        "supplier",
        Tables.nation(s, d).select(col("n_nationkey").as("s_nationkey"), col("n_name")),
        "nation",
        "s_nationkey",
        cat
      )
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("sum_bal"))
      .orderBy("n_name")
  }

  // TPC-H customer/orders catalog for c19b
  private[graft] def tpchStatsStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c19b_", d) { dir =>
      graft.plans.StatsPlanner.save(
        s, dir, "customer",
        graft.plans.StatsPlanner.analyze(Tables.customer(s, d), Seq("c_custkey")))
      graft.plans.StatsPlanner.save(
        s, dir, "orders",
        graft.plans.StatsPlanner.analyze(Tables.orders(s, d), Seq("o_custkey")))
      dir
    }

  /** c19b: TRANSPARENT stats-driven broadcast on a headline TPC-H join —
    * the q3-shaped customer⋈orders revenue rollup written with NO hint,
    * planned into a broadcast hash join by
    * [[graft.plans.StatsPlanner.StatsBroadcastRule]] from the PERSISTED
    * catalog while Spark's own file-size-based auto-broadcast is
    * DISABLED (threshold −1 during planning). The inline `require`
    * plan-pins that the broadcast decision came from the stored
    * estimates, not Spark's sizing; the DuckDB oracle gates the values.
    * This is the catalog serving the query a user actually writes —
    * c19's programmatic `statsJoin` made the decision explicit, this
    * makes it invisible.
    */
  def c19bStatsBroadcast(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s) // idempotent: installs the rule
    val dir = tpchStatsStore(s, d)
    val cat = graft.plans.StatsPlanner.loadCatalog(s, dir, Seq("customer", "orders"))
    graft.plans.StatsPlanner.StatsRegistry.register(Tables.customer(s, d), cat("customer"))
    graft.plans.StatsPlanner.StatsRegistry.register(Tables.orders(s, d), cat("orders"))
    val q = Tables
      .orders(s, d)
      .select("o_custkey", "o_totalprice")
      .join( // no broadcast() hint — the catalog rule must supply it
        Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey")
      )
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pinned = Tables
        .orders(s, d)
        .select("o_custkey", "o_totalprice")
        .join(
          Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING")
            .select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey")
        )
      val phys = pinned.queryExecution.sparkPlan
      val hasBhj = phys.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.nonEmpty
      require(hasBhj,
        s"StatsBroadcastRule did not plan a broadcast join from the catalog:\n$phys")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    q
  }

  /** c16f: MV rewrite THROUGH A STAR JOIN — the dashboard joins raw
    * events to a category dim table on `event_type` and groups by the
    * dim's `category`, and [[graft.plans.MvRewrite]] still answers from
    * the per-(day, type) partials: an inner join ON registered dims
    * commutes with the pre-grouping exactly like a dim filter does
    * (every raw row behind one partial row joins identically), so the
    * summary replaces the fact scan INSIDE the join and the partial-
    * merge algebra runs above it. At 100 TB this is the star-schema
    * dashboard — category rollups over a joined dimension — costing a
    * days×types summary scan plus a kilobyte broadcast, with the query
    * still written against raw events. The DuckDB oracle recomputes
    * from raw events with the dim inlined as VALUES; the plan swap and
    * the non-dim-key bail are ScalaTest-pinned.
    */
  def c16fMvJoin(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    import s.implicits._
    val dim = Seq(
      ("click", "engagement"),
      ("view", "engagement"),
      ("signup", "acquisition"),
      ("purchase", "revenue"),
      ("error", "ops")
    ).toDF("etype", "category")
    Tables
      .events(s, d)
      .join(broadcast(dim), col("event_type") === col("etype"))
      .groupBy("category")
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("avg_value")
      )
      .orderBy("category")
  }

  /** c16g: star-join MV rewrite with a DIM-SIDE MEASURE — the dashboard
    * sums a weight CARRIED BY THE DIM TABLE (plus a fact measure) over
    * the joined events, and the rollup still answers it: the weight is
    * constant across every raw row behind one partial row, so
    * `sum(weight)` becomes `sum(weight × n)` over the joined summary
    * (the group-constant algebra; `min`/`max` pass through unchanged).
    * No weight partials exist anywhere — the summary only ever stored
    * `value` partials and the row count. Weights are multiples of 0.5,
    * so both the raw repeated addition and the rewritten product are
    * exact in doubles and the oracle hash cannot drift on association.
    */
  def c16gMvJoinDimMeasure(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    import s.implicits._
    val dim = Seq(
      ("click", "engagement", 1.5),
      ("view", "engagement", 0.5),
      ("signup", "acquisition", 4.0),
      ("purchase", "revenue", 9.5),
      ("error", "ops", 0.0)
    ).toDF("etype", "category", "weight")
    Tables
      .events(s, d)
      .join(broadcast(dim), col("event_type") === col("etype"))
      .groupBy("category")
      .agg(
        count(lit(1)).as("n"),
        round(sum("weight"), 2).as("sum_weight"),
        round(min("weight"), 2).as("min_weight"),
        round(sum("value"), 2).as("sum_value")
      )
      .orderBy("category")
  }

  /** c16h: DISTINCT aggregates from the rollup — `count(distinct
    * cast(ts as date))` (active days per event type) has no partial
    * column anywhere, but the summary carries EXACTLY the distinct
    * (day, type) combinations, so [[graft.plans.MvRewrite]] runs the
    * distinct unchanged over the summary's dt column next to the
    * n-weighted measures. The classic "days active" dashboard: at
    * 100 TB a distinct-date scan of raw events becomes a distinct over
    * days×types summary rows.
    */
  def c16hMvDistinct(s: SparkSession, d: String): DataFrame = {
    val dir = mvStore(s, d)
    registerEventsMv(s, d, dir)
    Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("ts").cast("date")).as("n_days"),
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value")
      )
      .orderBy("event_type")
  }

  /** c18: CHANGE DATA CAPTURE between two committed versions of the
    * copy-on-write store (Delta CDF / Iceberg changelog-scan shape):
    * a full-outer key join of v1 and v2 classifies every key as
    * insert / update / delete (this upsert-only store never deletes —
    * the delete arm exists for the c17 path) and emits old/new values.
    * Downstream consumers get the incremental diff instead of
    * re-reading the whole snapshot — at 100 TB the changelog is
    * O(changed keys), and the join is one shuffle on the store key
    * (or zero with co-located version layouts). The DuckDB oracle
    * recomputes both versions from raw events (c2b's exact integer
    * midpoint split) and diffs them independently; ScalaTest pins the
    * CDC invariant — applying the changelog to v1 reproduces v2.
    */
  def c18Changelog(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val store = mergeStore(s, d)
    val v1 = s.read
      .parquet(SnapshotStore.versionPath(store, 1))
      .select(col("user_id"), col("event_id").as("old_event"), round(col("value"), 2).as("old_value"))
    val v2 = s.read
      .parquet(SnapshotStore.versionPath(store, 2))
      .select(col("user_id"), col("event_id").as("new_event"), round(col("value"), 2).as("new_value"))
    v1.join(v2, Seq("user_id"), "full_outer")
      .withColumn(
        "op",
        when(col("old_event").isNull, "insert")
          .when(col("new_event").isNull, "delete")
          .when(col("old_event") =!= col("new_event"), "update")
          .otherwise("unchanged")
      )
      .filter(col("op") =!= "unchanged")
      .select("user_id", "op", "old_event", "new_event", "old_value", "new_value")
      .orderBy("user_id")
  }

  // c16e's TYPE-ONLY events rollup (T rows — three orders of magnitude
  // smaller than the day×type partials)
  private[graft] def mvTypeRollupStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c16e_", d) { dir =>
      Tables
        .events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("value").as("sv"),
          min("value").as("mnv"),
          max("value").as("mxv")
        )
        .write
        .mode("overwrite")
        .parquet(s"$dir/rollup")
      dir
    }

  /** c16e: MV SELECTION — two summaries serve the same raw table (the
    * day×type partials AND a type-only rollup) and the rule picks the
    * COARSEST one that can answer: the type-grouped dashboard scans the
    * T-row rollup, not the D×T partials, not raw history. At 100 TB
    * that's the aggregation-lattice economics every OLAP engine chases —
    * and a day-grouped query still routes to the finer partials
    * (ScalaTest pins both routings). Oracle from raw events.
    */
  def c16eMvSelection(s: SparkSession, d: String): DataFrame = {
    registerEventsMv(s, d, mvStore(s, d))
    graft.plans.MvRegistry.register(
      s,
      Tables.events(s, d),
      s.read.parquet(s"${mvTypeRollupStore(s, d)}/rollup"),
      dims = Map("event_type" -> "event_type"),
      measure = "value"
    )
    Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(max("value"), 2).as("max_value")
      )
      .orderBy("event_type")
  }

  // c16d's multi-measure lineitem partials
  private[graft] def mvLineitemStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c16d_", d) { dir =>
      Tables
        .lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum("l_quantity").as("sq"),
          min("l_quantity").as("mnq"),
          max("l_quantity").as("mxq"),
          sum("l_extendedprice").as("sp"),
          min("l_extendedprice").as("mnp"),
          max("l_extendedprice").as("mxp")
        )
        .write
        .mode("overwrite")
        .parquet(s"$dir/partials")
      dir
    }

  private[graft] def registerLineitemMv(s: SparkSession, d: String, dir: String): Unit =
    graft.plans.MvRegistry.registerMeasures(
      s,
      Tables.lineitem(s, d),
      s.read.parquet(s"$dir/partials"),
      dims = Map("l_returnflag" -> "l_returnflag", "l_linestatus" -> "l_linestatus"),
      cnt = "n",
      measures = Seq(
        graft.plans.MvRegistry.MeasureSpec("l_quantity", "sq", "mnq", "mxq"),
        graft.plans.MvRegistry.MeasureSpec("l_extendedprice", "sp", "mnp", "mxp")
      )
    )

  /** c16d: MULTI-MEASURE materialized view — one (returnflag, linestatus)
    * partials table carries the shared row count plus sum/min/max for
    * BOTH `l_quantity` and `l_extendedprice`, and a raw-lineitem
    * dashboard mixing the two measures (and grouping COARSER than the
    * summary — by returnflag only) is answered entirely from it. This is
    * the warehouse rollup economics at 100 TB: k measures share one
    * summary scan instead of k single-measure MVs; an unregistered
    * measure (`l_discount`) still disqualifies the rewrite
    * (ScalaTest-pinned). The DuckDB oracle computes from raw lineitem.
    */
  def c16dMvMultiMeasure(s: SparkSession, d: String): DataFrame = {
    val dir = mvLineitemStore(s, d)
    registerLineitemMv(s, d, dir)
    Tables
      .lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(max("l_quantity"), 2).as("max_qty"),
        round(sum("l_extendedprice"), 2).as("revenue"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(min("l_extendedprice"), 2).as("min_price")
      )
      .orderBy("l_returnflag")
  }

  // c17's keyed store: a merge store of its own, since c17 deletes from it
  private def gdprStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c17_", d)(buildMergeStore(s, _, d))

  /** c17: keyed DELETE ("right to be forgotten") over the transactional
    * store — the compliance job every retained-data pipeline owes its
    * users. The deletion set arrives as a TABLE (here: the users with
    * `user_id % 100 == 7`), is broadcast, and a LEFT ANTI join rewrites
    * the store copy-on-write into the next snapshot version; the
    * manifest flip publishes it atomically, so readers see pre- or
    * post-delete state, never a partial purge. Old versions still
    * contain the data, which is exactly what [[graft.sources
    * .SnapshotStore.vacuum]] is for — the job vacuums history down to
    * the new version as its final step, making the purge durable.
    * Re-running the job is idempotent (same doomed set ⇒ identical
    * rows). The oracle recomputes latest-per-user from raw events
    * minus the doomed users: a missed key, a dropped survivor, or a
    * torn rewrite all fail the hash.
    */
  def c17GdprDelete(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val store = gdprStore(s, d)
    val cur = SnapshotStore.currentVersion(store).get
    val doomed = Tables
      .events(s, d)
      .select("user_id")
      .distinct()
      .filter(pmod(col("user_id"), lit(100)) === 7)
    SnapshotStore
      .readCurrent(s, store)
      .join(broadcast(doomed), Seq("user_id"), "left_anti")
      .write
      .mode("overwrite")
      .parquet(SnapshotStore.versionPath(store, cur + 1))
    SnapshotStore.commit(store, cur + 1)
    // purge durability: drop every pre-delete version from history
    SnapshotStore.vacuum(store, keep = 1)
    SnapshotStore
      .readCurrent(s, store)
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** c6: INCREMENTAL rollup maintenance — the materialized-view pattern
    * that makes 100 TB dashboards affordable: per-(day, type) partial
    * aggregates (count / sum / min / max — all mergeable) are computed
    * once and persisted; when a new day lands, only ITS partial is built
    * and the final rollup re-aggregates the partial table (days × types
    * rows) instead of rescanning all history. The scenario splits events
    * at the last day ("history" materialized, last day "arrives late");
    * the oracle is the full recompute over raw events — merging partials
    * must be indistinguishable from rescanning.
    */
  def c6IncrementalRollup(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c6_")
    val ev = Tables
      .events(s, d)
      .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
    val bounds = ev.agg(max(col("dt")).as("mxd"))
    val tagged = ev.crossJoin(broadcast(bounds))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("dt", "event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("value").as("sv"),
          min("value").as("mnv"),
          max("value").as("mxv")
        )
    partial(tagged.filter(col("dt") < col("mxd"))).write.mode("overwrite").parquet(s"$dir/partials")
    val newDay = partial(tagged.filter(col("dt") === col("mxd")))
    s.read
      .parquet(s"$dir/partials")
      .unionByName(newDay)
      .groupBy("event_type")
      .agg(
        sum("n").as("n"),
        round(sum("sv"), 2).as("sum_value"),
        round(sum("sv") / sum("n"), 4).as("avg_value"),
        round(min("mnv"), 2).as("min_value"),
        round(max("mxv"), 2).as("max_value")
      )
      .orderBy("event_type")
  }

  /** c8: INCREMENTAL quantile maintenance over the landed store — c6's
    * mergeable-partials pattern extended to percentiles, which are not
    * additive. Per-(day, type) KLL sketches (custom
    * [[graft.plans.KllSketchAgg]], ~KB each) persist as a binary column;
    * a late/new day re-sketches ONLY its own rows, and corpus-level
    * p50/p95/p99 come from merging the stored sketches
    * ([[graft.plans.KllMergeAgg]]) — history is never rescanned. At
    * 100 TB this turns "daily percentile dashboard" from a full-table
    * sort per refresh into an O(days) KB-sized merge. Rows-only (KLL
    * compaction is randomized inside its rank-error bound); the
    * ScalaTest gate bounds every estimate between the exact quantiles at
    * rank ± 0.05.
    */
  def c8IncrementalQuantiles(s: SparkSession, d: String, k: Int = 200): DataFrame = {
    import graft.plans.GraftExpressions
    val dir = graft.TempDirs.create("graft_c8_")
    val ev = Tables
      .events(s, d)
      .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
    val bounds = ev.agg(max(col("dt")).as("mxd"))
    val tagged = ev.crossJoin(broadcast(bounds))
    def sketchBy(df: DataFrame): DataFrame =
      df.groupBy("dt", "event_type")
        .agg(GraftExpressions.kllSketch(col("value"), k).as("sk"), count(lit(1)).as("n"))
    sketchBy(tagged.filter(col("dt") < col("mxd"))).write.mode("overwrite").parquet(s"$dir/partials")
    val newDay = sketchBy(tagged.filter(col("dt") === col("mxd")))
    s.read
      .parquet(s"$dir/partials")
      .unionByName(newDay)
      .groupBy("event_type")
      .agg(GraftExpressions.kllMerge(col("sk"), k).as("m"), sum("n").as("n"))
      .select(
        col("event_type"),
        col("n"),
        round(GraftExpressions.kllQuantile(col("m"), 0.5), 2).as("p50_approx"),
        round(GraftExpressions.kllQuantile(col("m"), 0.95), 2).as("p95_approx"),
        round(GraftExpressions.kllQuantile(col("m"), 0.99), 2).as("p99_approx")
      )
      .orderBy("event_type")
  }

  /** c9: table-statistics collection (the ANALYZE TABLE shape that feeds
    * a cost-based optimizer): per-column min/max/null-count/NDV over
    * lineitem in ONE pass — every stat is an ordinary partial-aggregable
    * function, so 100 TB of stats collection is one scan + a scalar
    * reduce, never a per-column job. Exact NDV here (the oracle can
    * check it); production would swap approx_count_distinct into the
    * same plan.
    */
  def c9TableStats(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def statsFor(c: String, castTo: String): Seq[org.apache.spark.sql.Column] = Seq(
      min(col(c)).cast(castTo).cast("string").as(s"${c}_min"),
      max(col(c)).cast(castTo).cast("string").as(s"${c}_max"),
      countDistinct(col(c)).as(s"${c}_ndv"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    )
    li.agg(
      count(lit(1)).as("n_rows"),
      statsFor("l_orderkey", "bigint") ++
        statsFor("l_quantity", "decimal(18,2)") ++
        statsFor("l_shipdate", "date") ++
        statsFor("l_returnflag", "string"): _*
    )
  }

  def c1Compact(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c1_")
    Tables
      .events(s, d)
      .withColumn("dt", col("ts").cast("date"))
      .repartition(8)
      .write
      .partitionBy("dt")
      .parquet(s"$dir/frag")
    compact(s, s"$dir/frag", s"$dir/compact", Seq("dt"))
    s.read
      .parquet(s"$dir/compact")
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(count(lit(1)).as("n"))
      .orderBy("dt")
  }

  /** Apply a trailing-window retention policy to a dt-partitioned store:
    * list the partition directories (a METADATA operation — no data
    * read), drop every directory older than the newest dt minus
    * `keepDays`. This is how a 100 TB store expires cold data: O(days)
    * filesystem deletes, zero scan, zero rewrite of surviving
    * partitions.
    */
  def retentionVacuum(s: SparkSession, storePath: String, keepDays: Int): Int = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs
      .listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
      .map(st => st.getPath.getName.stripPrefix("dt=") -> st.getPath)
      .sortBy(_._1)
    if (parts.isEmpty) 0
    else {
      val cutoff = java.time.LocalDate.parse(parts.last._1).minusDays(keepDays - 1L)
      val expired = parts.filter { case (dt, _) => java.time.LocalDate.parse(dt).isBefore(cutoff) }
      expired.foreach { case (_, p) => fs.delete(p, true) }
      expired.length
    }
  }

  /** c7: land events day-partitioned, expire everything older than the
    * trailing 7 days, and aggregate what survived. The oracle recomputes
    * the kept window from the raw table — a vacuum that deletes the
    * wrong directory (or misses one) fails the hash.
    */
  def c7RetentionVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c7_")
    Tables
      .events(s, d)
      .select(col("ts").cast("date").as("dt"), col("event_id"), col("user_id"), col("value"))
      .repartition(4, col("dt"))
      .write
      .partitionBy("dt")
      .parquet(s"$dir/store")
    retentionVacuum(s, s"$dir/store", keepDays = 7)
    s.read
      .parquet(s"$dir/store")
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt")
  }

  /** c10: referential-integrity audit over the landed warehouse — the
    * data-quality report a pipeline runs after every load. Each check is
    * one anti-join count or one keyed aggregate (all equi-shuffles with
    * map-side partials; the dimension side of each anti-join broadcasts),
    * emitted in a tall (check, n) table so adding checks never changes
    * the schema. n = 0 rows are kept: the report proves the check RAN.
    */
  def c10FkAudit(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val l = Tables.lineitem(s, d)
    def one(name: String, n: DataFrame): DataFrame =
      n.select(lit(name).as("check"), col("n"))
    val orphanOrders = one(
      "orders_orphan_custkey",
      o.join(c, col("o_custkey") === col("c_custkey"), "left_anti").agg(count(lit(1)).as("n"))
    )
    val orphanLines = one(
      "lineitem_orphan_orderkey",
      l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti").agg(count(lit(1)).as("n"))
    )
    val dupCust = one(
      "customer_duplicate_key",
      c.groupBy("c_custkey").count().filter(col("count") > 1).agg(count(lit(1)).as("n"))
    )
    val nullShip = one(
      "lineitem_null_shipdate",
      l.agg(sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("n"))
    )
    val badDisc = one(
      "lineitem_discount_out_of_range",
      l.agg(
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L).otherwise(0L)).as("n")
      )
    )
    orphanOrders
      .unionByName(orphanLines)
      .unionByName(dupCust)
      .unionByName(nullShip)
      .unionByName(badDisc)
      .orderBy("check")
  }

  /** c12: BUCKETED co-located fact-fact join — the layout answer to the
    * one shuffle AQE can't remove. orders and lineitem are written once
    * as Spark bucketed tables (`bucketBy(8, key)` + in-bucket sort,
    * external parquet under a temp location, registered in the session
    * catalog); because both sides hash-bucket on the join key with the
    * same bucket count, the subsequent sort-merge join reads bucket i
    * against bucket i directly — ZERO Exchange on either side (the
    * ScalaTest pins the plan). At 100 TB this is the difference between
    * re-shuffling two fact tables every nightly join and paying the
    * layout cost once at ingest: the join key's co-location is a TABLE
    * property every downstream join on that key inherits. The bucketed
    * tables are named by the source tables' fingerprint, so a rerun over
    * the same files measures the join, not the layout write, and a rerun
    * over overwritten files lays them out again.
    */
  def c12BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val suffix = math.abs(scala.util.hashing.MurmurHash3.stringHash(d + graft.TempDirs.fingerprint(d))).toString
    val (tblO, tblL) = (s"graft_bkt_orders_$suffix", s"graft_bkt_lineitem_$suffix")
    this.synchronized {
      if (!s.catalog.tableExists(tblO)) {
        val dir = graft.TempDirs.create("graft_c12_")
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .write.format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$dir/orders").mode("overwrite").saveAsTable(tblO)
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$dir/lineitem").mode("overwrite").saveAsTable(tblL)
      }
    }
    s.table(tblL)
      .join(s.table(tblO), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(38,4)"))
          .cast("double").as("revenue")
      )
      .select(col("o_orderpriority"), col("n_items"), round(col("revenue"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // landed day-partitioned events table — c13's fact side
  private def landedByDay(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c13_", d) { dir =>
      Tables
        .events(s, d)
        .withColumn("dt", col("ts").cast("date"))
        .repartition(col("dt"))
        .write
        .partitionBy("dt")
        .parquet(s"$dir/events")
      // the day dimension: every day ranked by recency-inverse — the
      // stored non-join column a runtime analysis filters on (DPP's
      // planner requires a selective predicate on the pruning side)
      Tables
        .events(s, d)
        .select(col("ts").cast("date").as("dt"))
        .distinct()
        .withColumn(
          "day_rank",
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy("dt"))
        )
        .coalesce(1)
        .write
        .parquet(s"$dir/days")
      dir
    }

  /** c13: DYNAMIC PARTITION PRUNING over the landed day-partitioned
    * store — the runtime complement to c5's static layout story. The
    * fact side is the dt-partitioned events table; the dim side is a
    * tiny filtered day list (the 3 earliest days) only known at RUN
    * time. Catalyst plans a DynamicPruningExpression on the fact scan's
    * partition filters (ScalaTest-pinned): the dim's broadcast result
    * prunes fact PARTITIONS before they are read, so at 100 TB a
    * 3-day analysis reads 3 days of files, not the full history — the
    * single biggest scan saving a time-partitioned lake layout buys.
    */
  def c13DppJoin(s: SparkSession, d: String): DataFrame = {
    val dir = landedByDay(s, d)
    val fact = s.read.parquet(s"$dir/events")
    val dim = s.read.parquet(s"$dir/days").filter(col("day_rank") <= 3).select("dt")
    fact
      .join(broadcast(dim), Seq("dt"))
      .groupBy("dt")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt")
  }

  /** c11: equi-depth histogram of a fact column — the CBO statistic c9's
    * min/max/NDV summary can't express (selectivity under skew). Bin
    * edges are the 7 interior octile thresholds from a BOUNDED
    * Greenwald-Khanna summary (`approx_percentile`) — Spark's exact
    * `percentile` buffers the ENTIRE column in one aggregation buffer,
    * an executor OOM on a 100 TB fact column, while GK state is
    * O(accuracy·log n) regardless of input size and rides the normal
    * partial-agg/merge path. The q34_exact discipline keeps the oracle
    * a hard hash gate: at `accuracy` ≫ n the summary never compresses,
    * so the returned edge is EXACTLY the element at rank ceil(q·n) —
    * replayable in SQL as a sorted-list index — and the driver gate
    * runs that configuration; the default keeps rank error ≤ n/accuracy
    * (bounded by ScalaTest against the exact edges). Bin assignment is
    * a comparison ladder against the ROUNDED edges so a value exactly
    * on a boundary can't flip bins on ulp, and per-bin stats come from
    * one map-side-combined groupBy.
    */
  def c11EquidepthHist(s: SparkSession, d: String, accuracy: Int = 10000): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_extendedprice").cast("double").as("v"))
    val th = l.agg(
      expr(
        s"transform(approx_percentile(v, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D), $accuracy), x -> round(x, 4))"
      ).as("t")
    )
    val bin = (1 to 7).map(i => when(col("v") > col("t").getItem(i - 1), 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    l.crossJoin(broadcast(th))
      .select(bin.cast("long").as("bin"), col("v"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        round(min("v"), 2).as("lo"),
        round(max("v"), 2).as("hi")
      )
      .orderBy("bin")
  }

  /** c20: declarative data-quality EXPECTATION SUITE (the Deequ
    * VerificationSuite shape) evaluated in ONE pass per table — every
    * scalar expectation over lineitem (completeness, key uniqueness,
    * range membership, accepted-values, min bound) is an ordinary
    * partial-aggregable function fused into a single Aggregate, so the
    * whole suite costs one scan + a scalar reduce; the referential
    * check is a broadcast left join on orders (dims are KBs at any
    * fact scale). Contrast with c10's per-check jobs: 100 TB of
    * quality gating is ONE pass here, N passes there. Exact NDV keeps
    * the oracle checkable; production swaps approx_count_distinct into
    * the identical plan. Output: (check, metric, passed) — the report
    * a pipeline publishes next to every landed partition.
    */
  /** c21: SCHEMA EVOLUTION across store generations — the lake problem
    * table formats solve with column mapping + type widening, reduced to
    * its read-path core: generation 1 landed with a NARROW schema
    * (value as float, no channel column), generation 2 widened value to
    * double and added channel. The unified read evolves each generation
    * to the LATEST schema explicitly — float widened per-row (exact),
    * the missing column filled with the evolution default — and the
    * dashboard groups over the union. At 100 TB this is the only shape
    * that works: old files are NEVER rewritten (generations are
    * append-only directories), evolution is a per-row projection decided
    * at read time from per-directory schemas, and the decimal-quantized
    * sums (q3 discipline) make the float-widened totals engine-exact.
    * The oracle replays the same split, the same float round-trip
    * (CAST(value AS REAL)), and the same defaults from raw events.
    */
  def c21SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.create("graft_c21_")
    val ev = Tables
      .events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val pivot = broadcast(ev.agg(date_add(min(col("ts").cast("date")), 15).as("pv")))
    val tagged = ev.crossJoin(pivot)
    tagged
      .filter(col("ts").cast("date") < col("pv"))
      .select(col("event_id"), col("event_type"), col("value").cast("float").as("value"))
      .write.mode("overwrite").parquet(s"$dir/gen1")
    tagged
      .filter(col("ts").cast("date") >= col("pv"))
      .select(
        col("event_id"),
        col("event_type"),
        col("value"),
        when(col("user_id") % 2 === 0, "web").otherwise("app").as("channel")
      )
      .write.mode("overwrite").parquet(s"$dir/gen2")
    val g1 = s.read
      .parquet(s"$dir/gen1")
      .select(
        lit(1L).as("generation"),
        col("event_type"),
        col("value").cast("double").as("value"),
        lit("unknown").as("channel")
      )
    val g2 = s.read
      .parquet(s"$dir/gen2")
      .select(lit(2L).as("generation"), col("event_type"), col("value"), col("channel"))
    g1.unionByName(g2)
      .groupBy("generation", "event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"),
        sum(when(col("channel") =!= "unknown", 1L).otherwise(0L)).as("n_channel_known")
      )
      .orderBy("generation", "event_type")
  }

  def c20Expectations(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // l_linenumber is 1..7, so orderkey*8 + linenumber is an injective
    // composite-key encoding both engines compute identically
    val li = l.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_shipdate").isNotNull, 1L).otherwise(0L)).as("ship_nn"),
      countDistinct(col("l_orderkey") * 8 + col("l_linenumber")).as("pk_d"),
      round(min("l_quantity"), 2).as("min_qty"),
      sum(when(col("l_discount") >= 0.0 && col("l_discount") <= 1.0, 1L).otherwise(0L)).as("disc_ok"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("rf_ok")
    )
    val ord = o
      .join(broadcast(c.select(col("c_custkey"))), col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("o_n"),
        sum(when(col("c_custkey").isNotNull, 1L).otherwise(0L)).as("fk_ok")
      )
    def check(name: String, metric: Column, passed: Column) =
      struct(lit(name).as("check"), metric.as("metric"), passed.as("passed"))
    li.crossJoin(ord)
      .select(
        explode(
          array(
            check("lineitem_discount_in_unit_range", round(col("disc_ok") / col("n"), 6), col("disc_ok") === col("n")),
            check("lineitem_pk_uniqueness", round(col("pk_d") / col("n"), 6), col("pk_d") === col("n")),
            check("lineitem_quantity_min_nonneg", col("min_qty"), col("min_qty") >= 0.0),
            check("lineitem_returnflag_accepted", round(col("rf_ok") / col("n"), 6), col("rf_ok") === col("n")),
            check("lineitem_shipdate_completeness", round(col("ship_nn") / col("n"), 6), col("ship_nn") === col("n")),
            check("orders_custkey_containment", round(col("fk_ok") / col("o_n"), 6), col("fk_ok") === col("o_n"))
          )
        ).as("e")
      )
      .select(col("e.check").as("check"), col("e.metric").as("metric"), col("e.passed").as("passed"))
      .orderBy("check")
  }

  /** c22 (round 9): MV maintenance under RETRACTIONS — the missing half
    * of the c6/c16/s17 additive story. A summary kept by partial-merge
    * handles inserts for free, but real changelogs carry DELETES (GDPR
    * erasure, late corrections, CDC updates = delete+insert), and the
    * answer is the classic incremental-view-maintenance signed fold:
    * every additive measure (count, sum) absorbs a delta row with sign
    * ±1, so the maintained summary is `partials ⊕ Σ(+inserts ⊕
    * −deletes)` per group — groups whose count reaches zero vanish.
    * Here the v1 partials are built from the first half of the event
    * timeline (integer-µs midpoint, the s9 split convention), the
    * changelog inserts the second half and retracts the first-half rows
    * with `event_id % 7 = 0`, and the fold touches ONLY the day×type
    * summary and the delta aggregate — raw history is never rescanned,
    * which is the property that keeps a 100 TB store maintainable.
    * Money math rides decimal(18,6) end-to-end so the signed fold is
    * associativity-exact and hash-matches the DuckDB oracle, which
    * recomputes the final state from scratch (the maintained view and
    * the recomputation must agree row-for-row — the IVM correctness
    * contract).
    */
  def c22MvRetraction(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")
    )
    val tagged = ev
      .crossJoin(broadcast(bounds))
      .withColumn("is_v1", unix_micros(col("ts")) < expr("(mn + mx) div 2"))
      .drop("mn", "mx")
    def rollup(df: DataFrame, signCol: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(
          sum(signCol).as("n"),
          sum(signCol.cast("decimal(18,6)") * col("value").cast("decimal(18,6)")).as("sv")
        )
    // v1 summary: first-half partials (what the store already holds)
    val partials = rollup(tagged.filter(col("is_v1")), lit(1L))
    // changelog: +1 for each second-half insert, −1 for each retracted
    // first-half row — ONE delta aggregate over the changelog only
    val deltas = rollup(
      tagged
        .filter(!col("is_v1") || (col("is_v1") && col("event_id") % 7 === 0))
        .withColumn("sign", when(col("is_v1"), lit(-1L)).otherwise(lit(1L))),
      col("sign")
    )
    partials
      .unionByName(deltas)
      .groupBy("day", "event_type")
      .agg(sum("n").as("n"), sum("sv").as("sv"))
      .filter(col("n") > 0)
      .select(
        col("day"),
        col("event_type"),
        col("n"),
        col("sv").cast("decimal(38,2)").cast("double").as("sum_value")
      )
      .orderBy("day", "event_type")
  }

  // ---------------------------------------------------------------------
  // c23: explicit ZONE-MAP skipping index (file-level min/max as an
  // engine-owned TABLE, not parquet footer metadata)

  /** Events range-clustered by `value` into 16 files, plus the zone-map
    * table — one row per file carrying min/max of every skip-eligible
    * column and the row count. Built with ONE scan of the clustered copy
    * (`input_file_name()` groupBy); the map is O(files) rows, stored as
    * its own parquet artifact.
    */
  private[graft] def zoneMapStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c23_", d) { dir =>
      rangeLayout(
        Tables.events(s, d).select("event_id", "user_id", "event_type", "value"),
        s"$dir/data",
        16,
        Seq(col("value"), col("event_id"))
      )
      s.read
        .parquet(s"$dir/data")
        .groupBy(input_file_name().as("f"))
        .agg(
          min("value").as("mn_value"),
          max("value").as("mx_value"),
          min("user_id").as("mn_user"),
          max("user_id").as("mx_user"),
          count(lit(1)).as("n_rows")
        )
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$dir/zonemap")
      dir
    }

  /** Files whose [min, max] value-zone overlaps [lo, hi] — the pruning
    * probe. An O(files) metadata filter; only surviving PATHS reach the
    * driver, never data rows.
    */
  private[graft] def zoneMatchedPaths(
      s: SparkSession,
      dir: String,
      lo: Double,
      hi: Double
  ): Array[String] =
    s.read
      .parquet(s"$dir/zonemap")
      .filter(col("mn_value") <= hi && col("mx_value") >= lo)
      .select("f")
      .collect()
      .map(_.getString(0))

  /** c23: ZONE-MAP data skipping — the Snowflake-micro-partition /
    * Delta-file-stats pattern: persist per-file min/max as a first-class
    * index table and plan scans from IT, not from file footers. c5
    * already shows parquet footers pruning a clustered layout, but at
    * 100 TB "ask each footer" is a million random metadata reads at PLAN
    * time; the zone-map table answers the same question with one KB→MB
    * scan, works for any file format (the stats outlive the format), and
    * composes with c15's blooms (range zones for range predicates,
    * blooms for point lookups on unclustered keys). The value-range
    * query consults the map, reads only overlapping files, and must be
    * value-identical to the raw full scan (the DuckDB oracle); the
    * actual file-count pruning is ScalaTest-pinned. Sums ride
    * decimal(18,2) so the answer is reproducible at any parallelism.
    */
  def c23ZoneMap(s: SparkSession, d: String): DataFrame = {
    val dir = zoneMapStore(s, d)
    val (lo, hi) = (100.0, 120.0)
    val paths = zoneMatchedPaths(s, dir, lo, hi)
    val pruned =
      if (paths.isEmpty) s.read.parquet(s"$dir/data").filter(lit(false))
      else s.read.parquet(paths.toIndexedSeq: _*)
    pruned
      .filter(col("value") >= lo && col("value") <= hi)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value"),
        countDistinct("user_id").as("n_users")
      )
      .orderBy("event_type")
  }

  /** How many files the zone map keeps alive for [lo, hi] — the
    * ScalaTest pruning probe (mirrors [[bloomMatchedFiles]]). */
  private[graft] def zoneMatchedFiles(s: SparkSession, d: String, lo: Double, hi: Double): Long = {
    val dir = zoneMapStore(s, d)
    zoneMatchedPaths(s, dir, lo, hi).length.toLong
  }

  /** c25: SHALLOW CLONE + divergence — the zero-copy snapshot a
    * lakehouse offers for dev/test forks of a 100 TB table:
    * [[SnapshotStore.shallowClone]] writes an O(1) manifest pointing at
    * the source's current (immutable) version directory, the clone's
    * first real write stages its OWN version and flips the manifest
    * local, and from then on the two tables evolve independently — the
    * source's files are never rewritten, the clone only owns its delta.
    * The probe diverges the clone (drop every user ≡ 0 mod 7, a COW
    * rewrite of the small keyed store) and reports both sides; the
    * oracle recomputes both from raw events, so a clone that mutated
    * its source, or a source that leaked into the diverged clone, fails
    * the hash. Zero-copy-ness itself (clone reads the SOURCE's files
    * before divergence, its own after; source file set untouched) is
    * ScalaTest-pinned via inputFiles.
    */
  def c25ShallowClone(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val src = mergeStore(s, d)
    val clone = s"${graft.TempDirs.create("graft_c25c_")}/clone"
    SnapshotStore.shallowClone(src, clone)
    SnapshotStore
      .readCurrent(s, clone)
      .filter(pmod(col("user_id"), lit(7)) =!= 0)
      .write
      .mode("overwrite")
      .parquet(SnapshotStore.versionPath(clone, 1))
    SnapshotStore.commit(clone, 1)
    SnapshotStore
      .readCurrent(s, src)
      .select(lit("source").as("side"), col("user_id"), col("value"))
      .unionByName(
        SnapshotStore
          .readCurrent(s, clone)
          .select(lit("clone").as("side"), col("user_id"), col("value"))
      )
      .groupBy("side")
      .agg(
        count(lit(1)).as("n_users"),
        sum((pmod(col("user_id"), lit(7)) === 0).cast("long")).as("n_mod7"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value")
      )
      .orderBy("side")
  }

  // ---------------------------------------------------------------------
  // c24: PARTITION-SPEC EVOLUTION (Iceberg-style): one table, two
  // physical layouts — history partitioned by day, the recent half
  // re-specced to (day, hr) — behind one reader.

  /** Events split at the midpoint day; the old half lands under `gen1/`
    * partitioned by `day`, the new half under `gen2/` partitioned by
    * `(day, hr)` — the spec change a table makes when hourly dashboards
    * arrive and daily files get too big.
    */
  private[graft] def partEvoStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c24_", d) { dir =>
      val ev = Tables
        .events(s, d)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("hr", hour(col("ts")))
      val split = ev.agg(
        date_add(min("day"), (datediff(max("day"), min("day")) / 2).cast("int")).as("sp")
      )
      val tagged = ev.crossJoin(broadcast(split))
      tagged
        .filter(col("day") < col("sp"))
        // gen1 predates the hourly spec: drop `hr` so the old
        // generation genuinely lacks the evolved partition column and
        // the read side must DERIVE it from ts (not shadow a stored
        // copy — r9 ADVICE)
        .drop("sp", "hr")
        .write
        .partitionBy("day")
        .mode("overwrite")
        .parquet(s"$dir/gen1")
      tagged
        .filter(col("day") >= col("sp"))
        .drop("sp")
        .write
        .partitionBy("day", "hr")
        .mode("overwrite")
        .parquet(s"$dir/gen2")
      dir
    }

  /** The evolved table behind ONE reader: both generations scanned with
    * their own partition columns and aligned by name (test access —
    * plan assertions read the per-generation scans).
    */
  private[graft] def partEvoRead(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val g1 = s.read.parquet(s"$dir/gen1").withColumn("hr", hour(col("ts")))
    val g2 = s.read.parquet(s"$dir/gen2")
    (g1, g2)
  }

  /** c24: PARTITION-SPEC EVOLUTION — the lakehouse reality c21's column
    * evolution doesn't cover: a table's physical partitioning CHANGES
    * mid-life (daily files grow too big → re-spec new data to
    * (day, hr)), old data is NOT rewritten (at 100 TB that rewrite is
    * the thing you're avoiding), and every query must keep planning
    * partition pruning against EACH generation's own spec — day-prune
    * into gen1, (day, hr)-prune into gen2, missing physical columns
    * derived (gen1's `hr` comes from `ts` at read). The probe query
    * spans the boundary: full-day traffic from one gen1 day plus a
    * morning-hours slice of one gen2 day; the DuckDB oracle computes
    * both from raw events with the same derived split-day arithmetic,
    * so a reader that drops, double-reads, or mis-prunes either
    * generation fails the hash. Partition-directory pruning on both
    * gens is ScalaTest-pinned via inputFiles. Sums ride decimal(18,2).
    */
  def c24PartitionEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = partEvoStore(s, d)
    val (g1, g2) = partEvoRead(s, dir)
    val both = g1.select("event_type", "value", "day", "hr")
      .unionByName(g2.select("event_type", "value", "day", "hr"))
    val bounds = Tables
      .events(s, d)
      .select(col("ts").cast("date").as("day"))
      .agg(
        date_add(min("day"), 1).as("d1"),
        date_add(min("day"), (datediff(max("day"), min("day")) / 2).cast("int") + 1).as("d2")
      )
    both
      .crossJoin(broadcast(bounds))
      .filter(
        col("day") === col("d1") ||
          (col("day") === col("d2") && col("hr") >= 6 && col("hr") <= 11)
      )
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value")
      )
      .orderBy("event_type")
  }

  /** c28: WRITE-AUDIT-PUBLISH — the lakehouse gating pattern (Iceberg's
    * audit-branch workflow) on the OCC store: a writer STAGES a
    * candidate version, runs the expectation suite against the STAGED
    * data (c20's one-pass fused-aggregate discipline: every scalar
    * check in a single scan), and only a fully-green audit publishes
    * via the atomic manifest swap — a red audit abandons the staging,
    * and readers NEVER see it (the manifest is the only source of
    * visibility). The probe stages two candidates: a corrupted rollup
    * (one injected null-key row — its audit must fail and must NOT
    * publish) then the clean rollup (publishes as v1). The emitted
    * report carries per-attempt per-check violation counts + the
    * published flag read back from the STORE's actual version state, so
    * a gating bug (either direction) is a value mismatch.
    */
  def c28Wap(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.TempDirs.create("graft_c28_")
    val store = s"$root/store"
    val clean = Tables
      .events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n"))
    val corrupt = clean.unionByName(
      s.range(1).select(
        lit(null).cast("string").as("event_type"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("dt"),
        lit(0L).as("n")
      )
    )
    def attempt(candidate: DataFrame, id: Int): Seq[(Int, String, Long, Boolean, Boolean)] = {
      val staged = s"$store/_stage_attempt_$id"
      candidate.write.mode("overwrite").parquet(staged)
      val audited = s.read.parquet(staged)
      // ONE fused pass: every violation count in a single aggregate
      val r = audited
        .agg(
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_key"),
          sum(when(col("n") <= 0, 1L).otherwise(0L)).as("non_positive"),
          when(count(lit(1)) === 0, 1L).otherwise(0L).as("empty")
        )
        .collect()(0)
      val checks = Seq(
        ("null_key", r.getAs[Long]("null_key")),
        ("non_positive", r.getAs[Long]("non_positive")),
        ("empty", r.getAs[Long]("empty"))
      )
      val green = checks.forall(_._2 == 0L)
      val published =
        if (green) SnapshotStore.commitStagedIfCurrent(store, SnapshotStore.currentVersion(store), staged).isDefined
        else { SnapshotStore.deleteTree(java.nio.file.Paths.get(staged)); false }
      checks.map { case (c, v) => (id, c, v, v == 0L, published) }
    }
    val rows = attempt(corrupt, 1) ++ attempt(clean, 2)
    import s.implicits._
    rows.toDF("attempt", "check_name", "violations", "passed", "published")
      .orderBy("attempt", "check_name")
  }

  /** c26: COMPACTION PLANNER — the metadata half of c1's small-file
    * story: given a per-(day, hour) inventory of landed "files" (row
    * counts at hour grain — at 100 TB the inventory is the table
    * format's file manifest, already metadata-sized), greedily bin-pack
    * consecutive hours into target-sized compaction groups per day:
    * bin = floor(preceding-cumulative-rows / target), the classic
    * one-pass greedy that never splits a file and fills each bin to at
    * least the target. Pure window arithmetic over the inventory
    * (partitioned by day, ordered by hour) — the planner never touches
    * data rows; c1 is the executor that rewrites a chosen bin. Output:
    * one row per (day, bin) with file count, rows, and the hour span.
    */
  /** c27: SNAPSHOT VERSION DIFF — the time-travel audit every
    * copy-on-write table format offers ("what did that merge change?"):
    * read two PUBLISHED versions of the c2b merge store and classify
    * every key as added / removed / updated / unchanged with its
    * old/new row identity. One full-outer equi-join on the merge key —
    * version directories are immutable, so the diff is reproducible
    * forever and never touches the live manifest. At 100 TB both sides
    * are keyed scans of already-laid-out versions; nothing re-sorts.
    */
  def c27VersionDiff(s: SparkSession, d: String): DataFrame = {
    val store = mergeStore(s, d)
    val v1 = graft.sources.SnapshotStore
      .readVersion(s, store, 1)
      .select(col("user_id"), col("event_id").as("old_event_id"))
    val v2 = graft.sources.SnapshotStore
      .readVersion(s, store, 2)
      .select(col("user_id"), col("event_id").as("new_event_id"))
    v1.join(v2, Seq("user_id"), "full_outer")
      .withColumn(
        "change",
        when(col("old_event_id").isNull, "added")
          .when(col("new_event_id").isNull, "removed")
          .when(col("old_event_id") =!= col("new_event_id"), "updated")
          .otherwise("unchanged")
      )
      .select("user_id", "change", "old_event_id", "new_event_id")
      .orderBy("user_id")
  }

  def c26CompactionPlan(s: SparkSession, d: String, targetRows: Long = 200L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables
      .events(s, d)
      .groupBy(to_date(col("ts")).as("dt"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy("dt").orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum("n_rows").over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / targetRows))
      .groupBy("dt", "bin")
      .agg(
        count(lit(1)).as("n_files"),
        sum("n_rows").as("n_rows"),
        min("hr").cast("long").as("first_hr"),
        max("hr").cast("long").as("last_hr")
      )
      .orderBy("dt", "bin")
  }

  /** Append-only day-partitioned store with three published versions:
    * v1 holds the first ⌈D/3⌉ distinct days, v2 the first ⌈2D/3⌉, v3
    * all — the growth history an ingest pipeline leaves behind. The
    * distinct-day collect is calendar-sized metadata, never data.
    */
  private def buildAppendStore(s: SparkSession, dir: String, d: String): String = {
    import graft.sources.SnapshotStore
    val ev = Tables
      .events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"), to_date(col("ts")).as("day"))
    val days = ev.select("day").distinct().orderBy("day").collect().map(_.getDate(0))
    val k = math.ceil(days.length / 3.0).toInt
    val cuts = Seq(days(k - 1), days(math.min(2 * k, days.length) - 1), days.last)
    val store = s"$dir/store"
    cuts.zipWithIndex.foreach { case (cut, i) =>
      ev.filter(col("day") <= lit(cut))
        .write
        .mode("overwrite")
        .partitionBy("day")
        .parquet(SnapshotStore.versionPath(store, i + 1L))
      SnapshotStore.commit(store, i + 1L)
    }
    store
  }

  /** c29: INCREMENTAL CONSUMPTION BY SNAPSHOT DIFF — the table-format
    * reader pattern ("give me what landed since the snapshot I last
    * processed") at FILE grain: diff the PARTITION MANIFESTS of two
    * published versions (directory names — pure metadata, no data IO),
    * then scan ONLY the partitions v3 added over v1. c27 answers the
    * same question at row grain with a full-outer join of both
    * versions; c29 is what a 100 TB consumer actually runs — the old
    * snapshot is never re-read, the scan's input paths are exactly the
    * added partitions (plan-asserted in ScalaTest), and cost is
    * O(new data), not O(table). The backfill consumer (c4), CDC reader
    * (c18) and this differ only in what the manifest diff yields:
    * here whole day-partitions, append-only by construction.
    */
  def c29IncrementalScan(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val store =
      graft.TempDirs.fixture("graft_c29_", d)(buildAppendStore(s, _, d))
    def parts(v: Long): Set[String] = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(SnapshotStore.versionPath(store, v)))
      try {
        val it = st.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("day=")) b += n
        }
        b.result()
      } finally st.close()
    }
    val base = SnapshotStore.versionPath(store, 3L)
    val added = (parts(3L) -- parts(1L)).toSeq.sorted.map(p => s"$base/$p")
    s.read
      .option("basePath", base)
      .parquet(added: _*)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_new"),
        countDistinct("day").as("n_days"),
        min("day").as("d_min"),
        max("day").as("d_max")
      )
      .orderBy("event_type")
  }

  /** c30: PARTITION SKEW REPORT — the layout-health statistic that
    * decides whether c1/c26 compaction is worth scheduling: per day
    * partition, the max/mean file-size ratio and the Gini coefficient
    * of the hour-file row counts (Gini 0 = perfectly even layout,
    * → 1 = one file holds everything; the standard inequality measure,
    * computed from the sorted cumulative form 2·Σᵢ i·xᵢ /(n·Σx) −
    * (n+1)/n). Metadata-grain like c26 — the inventory IS the table
    * format's manifest at 100 TB, the per-day window runs over ≤ 24
    * hour-files, and every sum is exact integer arithmetic until the
    * two final scalar divisions. Skewed days are exactly where c26's
    * greedy planner should spend its rewrite budget.
    */
  def c30SkewReport(s: SparkSession, d: String): DataFrame = {
    val files = Tables
      .events(s, d)
      .groupBy(to_date(col("ts")).as("dt"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy("dt").orderBy(col("n_rows"), col("hr"))
    files
      .withColumn("rn", row_number().over(w))
      .groupBy("dt")
      .agg(
        count(lit(1)).as("n_files"),
        sum("n_rows").as("total_rows"),
        max("n_rows").as("max_rows"),
        sum(col("rn") * col("n_rows")).as("wsum")
      )
      .select(
        col("dt"),
        col("n_files"),
        col("total_rows"),
        col("max_rows"),
        round(
          col("max_rows").cast("double") * col("n_files") / col("total_rows"),
          6
        ).as("skew_ratio"),
        round(
          lit(2.0) * col("wsum") / (col("n_files") * col("total_rows")).cast("double") -
            (col("n_files") + 1).cast("double") / col("n_files"),
          6
        ).as("gini")
      )
      .orderBy("dt")
  }

  /** c31: WRITE-AMPLIFICATION REPORT — the copy-on-write cost audit for
    * the c2b merge store: version 2 REWROTE every row (COW semantics)
    * while only `changed` of them actually differ from version 1, so
    * `rewritten / changed` is the amplification factor a table-format
    * tuning pass watches (high amplification → switch the table to
    * merge-on-read, shrink the partition grain, or batch merges). One
    * full-outer keyed join of two immutable version scans (c27's
    * shape) reduced to a single scalar row — the decision-grade
    * summary rather than c27's per-row ledger.
    */
  def c31WriteAmplification(s: SparkSession, d: String): DataFrame = {
    val store = mergeStore(s, d)
    val v1 = graft.sources.SnapshotStore
      .readVersion(s, store, 1)
      .select(col("user_id"), col("event_id").as("old_event_id"))
    val v2 = graft.sources.SnapshotStore
      .readVersion(s, store, 2)
      .select(col("user_id"), col("event_id").as("new_event_id"))
    val changed =
      col("new_event_id").isNotNull &&
        (col("old_event_id").isNull || col("old_event_id") =!= col("new_event_id"))
    v1.join(v2, Seq("user_id"), "full_outer")
      .agg(
        sum(when(col("old_event_id").isNotNull, 1L).otherwise(0L)).as("v1_rows"),
        sum(when(col("new_event_id").isNotNull, 1L).otherwise(0L)).as("v2_rows"),
        sum(when(changed, 1L).otherwise(0L)).as("changed"),
        sum(
          when(
            col("old_event_id").isNotNull && col("old_event_id") === col("new_event_id"),
            1L
          ).otherwise(0L)
        ).as("unchanged")
      )
      .withColumn(
        "amplification",
        when(col("changed") > 0, round(col("v2_rows").cast("double") / col("changed"), 4))
      )
  }

  /** c33: SNAPSHOT EXPIRY (version GC) AUDIT — the retention half of
    * the copy-on-write story: a store accumulates one published
    * snapshot per week (per-type event counts through day 7k), then
    * [[graft.sources.SnapshotStore.vacuum]] drops everything below the
    * keep-last-2 window. The audit reports every version that EVER
    * published: expired versions carry NULL stats (their data is gone
    * — that is the point), kept versions re-read live from their
    * immutable directories. Expiry is pure O(versions) metadata
    * deletes — survivors are never scanned or rewritten, the manifest
    * is untouched, and the report derives "expired" from the retention
    * arithmetic (cur − keep), so the query is idempotent: a rerun over
    * the same tables audits the same fixture store, vacuums nothing and
    * reports identically. Time travel below the
    * window fails with an explicit vacuumed error (ScalaTest-pinned)
    * rather than a missing-file scan.
    */
  def c33VersionGc(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotStore
    val store = graft.TempDirs.fixture("graft_c33_", d) { dir =>
      val root = s"$dir/store"
      val ev = Tables.events(s, d)
        .select(col("event_type"), dayofmonth(col("ts")).as("dom"))
      (1 to 4).foreach { k =>
        ev.filter(col("dom") <= k * 7)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"))
          .coalesce(1)
          .write
          .mode("overwrite")
          .parquet(SnapshotStore.versionPath(root, k.toLong))
        SnapshotStore.commit(root, k.toLong)
      }
      root
    }
    val keep = 2
    SnapshotStore.vacuum(store, keep)
    val cur = SnapshotStore.currentVersion(store).get
    val cutoff = cur - keep + 1
    val kept = (cutoff to cur).map { v =>
      SnapshotStore
        .readVersion(s, store, v)
        .agg(count(lit(1)).as("n_types"), sum("n_events").as("n_events"))
        .select(
          lit(v).as("version"),
          lit("kept").as("status"),
          col("n_types"),
          col("n_events")
        )
    }
    import s.implicits._
    val expired = (1L until cutoff)
      .toDF("version")
      .select(
        col("version"),
        lit("expired").as("status"),
        lit(null).cast("long").as("n_types"),
        lit(null).cast("long").as("n_events")
      )
    kept.reduce(_.unionByName(_)).unionByName(expired).orderBy("version")
  }

  /** c35: MERGE-ON-READ DELETES (deletion vectors) — the other half of
    * the delete story next to c17's copy-on-write GDPR purge: the base
    * files are written ONCE and never touched again; each delete
    * writes only a compact KEY SIDECAR (`dv/v=k`, O(deleted keys) — a
    * positional delete vector's key-based equivalent), and the read
    * path applies `base ANTI JOIN (∪ dv)`. Two generations land here
    * (a GDPR-style user cohort, then a full event-type retraction);
    * the served aggregate must equal DuckDB's answer over the raw
    * rows with both predicates applied. The trade this op exists to
    * demonstrate: deletes cost O(|dv|) write instead of O(table)
    * rewrite, reads pay one broadcast-able anti-join until a
    * compaction (c1's machinery) folds the vectors in —
    * base-immutability is ScalaTest-pinned (file list + mtimes
    * unchanged across both delete generations).
    */
  def c35MergeOnRead(s: SparkSession, d: String): DataFrame = {
    val root = morStore(s, d)
    val base = s.read.parquet(s"$root/base")
    val dv = s.read.parquet(s"$root/dv") // both generations via partition discovery
    base
      .join(dv.select("event_id"), Seq("event_id"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  // c35's base-files + deletion-vector store
  private def morStore(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_c35_", d) { r =>
      Tables
        .events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .coalesce(4)
        .write
        .mode("overwrite")
        .parquet(s"$r/base")
      // delete generation 1: a user cohort (the GDPR shape)
      Tables
        .events(s, d)
        .filter(col("user_id") % 7 === 3)
        .select("event_id")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$r/dv/v=1")
      // delete generation 2: retract one event type wholesale
      Tables
        .events(s, d)
        .filter(col("event_type") === "error")
        .select("event_id")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$r/dv/v=2")
      r
    }

  /** Base-file inventory for the c35 store (test access: the MOR
    * contract is that deletes never touch base files).
    */
  private[graft] def c35BaseInventory(s: SparkSession, d: String): Seq[(String, Long)] = {
    c35MergeOnRead(s, d).count() // a read must leave the base files as they were
    val dir = new java.io.File(s"${morStore(s, d)}/base")
    dir
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified())
      .sortBy(_._1)
      .toSeq
  }

  /** c34: SCD2 DIMENSION BUILD — collapse each user's event-type
    * history into slowly-changing-dimension TYPE-2 rows: one row per
    * RUN of consecutive identical types, with `valid_from_us` /
    * `valid_to_us` (microsecond epochs — the half-open [from, to)
    * interval convention) and an `is_current` flag on the open run.
    * This is the warehouse op that turns a CDC/event stream into the
    * dimension an as-of join (e7/s25) probes. Classic gaps-and-islands
    * (q40's machinery, producing the dimension instead of a report):
    * one keyed change-marker window, one keyed running-sum window, one
    * keyed aggregate, one keyed lead — every shuffle on user_id, rows
    * out = runs (data-bounded, never users × calendar).
    */
  def c34Scd2Build(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val runEnd = Window.partitionBy("user_id").orderBy("run")
    Tables
      .events(s, d)
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        unix_micros(col("ts")).as("tus")
      )
      .withColumn(
        "chg",
        when(
          lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"),
          1L
        ).otherwise(0L)
      )
      .withColumn("run", sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run", "event_type")
      .agg(min("tus").as("valid_from_us"), count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(runEnd))
      .select(
        col("user_id"),
        col("event_type"),
        col("valid_from_us"),
        col("valid_to_us"),
        col("n_events"),
        col("valid_to_us").isNull.as("is_current")
      )
      .orderBy("user_id", "valid_from_us")
  }

  /** c36: STATS-STALENESS AUDIT — the ANALYZE scheduler's input: table
    * stats were collected at a snapshot cutoff (here: orders before
    * 1997), the table kept growing, and the optimizer is now pricing
    * joins with stale min/max/NDV. Per column, emit stored vs actual
    * stats plus a stale flag and the NDV drift ratio — the report that
    * decides which columns to re-ANALYZE first. Two aggregate passes
    * (each one map-side-combined scan; the stored pass would read the
    * snapshot's stats file in production) crossed into a 3-row report
    * — nothing wider than a scalar ever shuffles. Money rides the
    * integer-cents path; min/max surface as strings (c9's convention)
    * so one report column serves every type.
    */
  def c36StatsStaleness(s: SparkSession, d: String): DataFrame = {
    val o = Tables
      .orders(s, d)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate")
      )
    def statCols(tag: String): Seq[org.apache.spark.sql.Column] =
      Seq("o_orderkey", "cents", "o_orderdate").flatMap { c =>
        Seq(
          min(col(c)).cast("string").as(s"${c}_min_$tag"),
          max(col(c)).cast("string").as(s"${c}_max_$tag"),
          countDistinct(col(c)).as(s"${c}_ndv_$tag")
        )
      }
    val stored = o
      .filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
      .agg(statCols("st").head, statCols("st").tail: _*)
    val actual = o.agg(statCols("ac").head, statCols("ac").tail: _*)
    val stackExpr = Seq("o_orderkey", "cents", "o_orderdate")
      .map(c => s"'$c', ${c}_min_st, ${c}_max_st, ${c}_ndv_st, ${c}_min_ac, ${c}_max_ac, ${c}_ndv_ac")
      .mkString(
        "stack(3, ",
        ", ",
        ") as (column_name, stored_min, stored_max, stored_ndv, actual_min, actual_max, actual_ndv)"
      )
    stored
      .crossJoin(actual)
      .selectExpr(stackExpr)
      .withColumn(
        "stale",
        col("stored_min") =!= col("actual_min") ||
          col("stored_max") =!= col("actual_max") ||
          col("stored_ndv") =!= col("actual_ndv")
      )
      .withColumn(
        "ndv_drift",
        round(col("actual_ndv").cast("double") / col("stored_ndv"), 4)
      )
      .orderBy("column_name")
  }

  /** c37 (round 14): COMPACT + GC the bucketed streaming state — the
    * maintenance pass that bounds what s22-style bounded-write folds
    * accumulate: after the stream lands its incremental versions, the
    * whole live index is rewritten as ONE fresh version (re-bucketed —
    * compaction is also where `numBuckets` grows with state at 100 TB)
    * and every orphaned version dir and stale manifest is deleted
    * ([[graft.sources.BucketedStateStore.compact]]/`gcOrphans`; the c1
    * compaction + c7 retention story applied to the state store). The
    * query serves the dedup report FROM the compacted store and must
    * hash-match s22's oracle verbatim — compaction is storage layout,
    * never content. ScalaTest pins the GC actually deleting the old
    * versions and the compacted bytes equalling live-state bytes.
    */
  def c37CompactIndex(s: SparkSession, d: String): DataFrame = {
    val store = graft.operators.StreamingBatch.s22CurateIndex(s, d) // land the incremental index
    val bss = graft.sources.BucketedStateStore
    val compactId = bss.manifestIds(store).max + 1L
    bss.compact(s, store, compactId, Seq("fp"), numBuckets = 16)
    bss.gcOrphans(store)
    bss
      .readLatest(s, store)
      .get
      .select(col("doc_id"), col("fp"), col("n_copies"))
      .orderBy("doc_id")
  }
}
