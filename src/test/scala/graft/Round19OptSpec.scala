package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-19 OPTIMIZATION guards. The pass fixed the r18 parallelism-floor
  * regressions (d3/d4: pay the floored exchange once via a compact
  * localCheckpoint; hash keys instead of round-robin) and hardened
  * `Tables.parallelized` per the r18 VERDICT/ADVICE:
  *
  *  - RAW SCANS ONLY, enforced loudly (probing `df.rdd` on a
  *    post-shuffle/AQE subtree can force stage materialization — was a
  *    call-site convention, now a `require`).
  *  - The floor gates on NON-EMPTY parallelism: planned byte-range
  *    splits count empty ones, so a single-row-group file that plans
  *    ≥ target splits must still be floored (the ADVICE silent-no-op
  *    case) — the true ceiling is the parquet row-group count.
  *  - The floor never reshuffles a scan bigger than
  *    target × maxPartitionBytes (a pruned 100 TB scan that is merely
  *    narrower than the core count is left alone — VERDICT item 6).
  *  - The keyed variant hash-partitions (no full-row determinism sort)
  *    and is row-preserving.
  */
class Round19OptSpec extends AnyFunSuite {
  import TestSession._

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def stageParquet(name: String, nFiles: Int, rows: Long = 200000L): String = {
    val dir = TempDirs.create(s"r19_guard_$name")
    spark.range(rows)
      .select(col("id"), lpad(col("id").cast("string"), 64, "x").as("pad"))
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$dir/t")
    s"$dir/t"
  }

  test("parallelized rejects non-raw-scan input loudly") {
    val shuffled = spark.range(100).repartition(2).toDF()
    val e = intercept[IllegalArgumentException](graft.sources.Tables.parallelized(shuffled))
    assert(e.getMessage.contains("RAW file scan"))
    // Project/Filter over the scan stay allowed (the d3/t36 call shapes)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") >= 0)
    assert(graft.sources.Tables.parallelized(docs).count() == docs.count())
  }

  test("floor fires on a single-row-group file even when EMPTY splits inflate the planned count") {
    val target = spark.sparkContext.defaultParallelism
    val path = stageParquet("onerg", nFiles = 1)
    // openCost=0 + a small minPartitionNum multiple makes Spark plan
    // 4x target byte-range splits of the ONE-row-group file — all but
    // one empty. r18's planned-split gate silently no-op'd here (ADVICE
    // medium); the row-group ceiling must floor it anyway.
    withConf(
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> (target * 4).toString
    ) {
      val df = spark.read.parquet(path)
      val planned = df.rdd.getNumPartitions
      assume(planned > target, s"fixture must over-plan (planned=$planned, target=$target)")
      val floored = graft.sources.Tables.parallelized(df)
      assert(
        floored.rdd.getNumPartitions == target,
        s"single-row-group scan must be floored to $target despite $planned planned splits"
      )
    }
  }

  test("no-op on a many-file raw scan at/above the target") {
    val target = spark.sparkContext.defaultParallelism
    val path = stageParquet("manyfile", nFiles = target * 2)
    // one file per split: openCost ≥ maxPartitionBytes pins packing
    withConf("spark.sql.files.maxPartitionBytes" -> (4L * 1024 * 1024).toString) {
      val df = spark.read.parquet(path)
      val planned = df.rdd.getNumPartitions
      assume(planned >= target, s"fixture must plan wide (planned=$planned)")
      val out = graft.sources.Tables.parallelized(df)
      assert(out.rdd.getNumPartitions == planned, "no exchange on an already-wide raw scan")
    }
  }

  test("bytes gate: a scan larger than target x maxPartitionBytes is never force-reshuffled") {
    val path = stageParquet("bigbytes", nFiles = 1)
    withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
      val df = spark.read.parquet(path)
      val planned = df.rdd.getNumPartitions
      val out = graft.sources.Tables.parallelized(df)
      assert(out.rdd.getNumPartitions == planned, "big scans are left alone (VERDICT item 6)")
    }
  }

  test("keyed floor hash-partitions, is row-preserving, and keeps values") {
    val target = spark.sparkContext.defaultParallelism
    val docs = graft.sources.Tables.documents(spark, sf)
    assume(docs.rdd.getNumPartitions < target)
    val floored = graft.sources.Tables.parallelized(docs, col("doc_id"))
    assert(floored.rdd.getNumPartitions == target)
    assert(floored.count() == docs.count())
    assert(
      floored.agg(sum("doc_id")).head.getLong(0) == docs.agg(sum("doc_id")).head.getLong(0)
    )
  }

  test("a non-Parquet raw scan is floored from its planned splits, with no footer read") {
    val target = spark.sparkContext.defaultParallelism
    val dir = TempDirs.create("r19_guard_json")
    spark.range(1000).coalesce(1).write.mode("overwrite").json(s"$dir/t")
    val df = spark.read.schema("id BIGINT").json(s"$dir/t")
    assume(df.rdd.getNumPartitions < target)
    val floored = graft.sources.Tables.parallelized(df)
    assert(floored.rdd.getNumPartitions == target)
    assert(floored.count() == 1000)
  }

  test("d3/d4 pair sets are deterministic across executions") {
    // two executions in the same session; the value pin is the oracle gate
    val d3 = graft.operators.Dedup.d3Simhash(spark, sf).collect().map(_.toString).sorted
    val d4 = graft.operators.Dedup.d4NgramJaccard(spark, sf).collect().map(_.toString).sorted
    val d3b = graft.operators.Dedup.d3Simhash(spark, sf).collect().map(_.toString).sorted
    val d4b = graft.operators.Dedup.d4NgramJaccard(spark, sf).collect().map(_.toString).sorted
    assert(d3.sameElements(d3b) && d4.sameElements(d4b))
  }
}
