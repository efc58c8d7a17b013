package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-13 hardening differentials: the real multi-frame GIF decode
  * path behind m13b (the last synthetic-proxy modality) and SqlMain's
  * full mid-script evaluation.
  */
class Round13Spec extends AnyFunSuite {
  import TestSession._

  test("GIF container round-trips every frame value exactly") {
    // 256 gray levels fit the GIF palette 1:1, so encode→decode must be
    // the identity on frame values, in order — the property m13b's
    // decode-gated hash rests on.
    val vals = Array.tabulate(64)(i => (i * 4 + 3) % 256)
    val bytes = graft.operators.Multimodal.encodeGif(vals)
    val back = graft.operators.Multimodal.decodeGifFrames(7L, bytes)
    assert(back.sameElements(vals))
    // and the loud-failure path names the doc on garbage bytes
    val ex = intercept[Exception] {
      graft.operators.Multimodal.decodeGifFrames(42L, Array[Byte](1, 2, 3))
    }
    assert(ex.getMessage != null && ex.getMessage.contains("42"), s"doc id missing: $ex")
  }

  test("m13b real-decode scenes equal the synthetic-model m13 row-for-row") {
    // the staged GIFs encode m13's luma model, so a correct frame decode
    // (count, order, palette resolution) must land on identical scenes;
    // any decoder deviation shifts cuts and diverges.
    val real = graft.operators.Multimodal.m13bSceneReal(spark, sf).collect().map(_.toString)
    val synth = graft.operators.Multimodal.m13SceneSegments(spark, sf).collect().map(_.toString)
    assert(real.nonEmpty && real.sameElements(synth))
  }

  test("GlobalRank: SQL global row_number plans distributed, matches window semantics") {
    // the scale cliff: row_number() OVER (ORDER BY ...) with no PARTITION
    // BY plans a 1-task WindowExec. The GlobalRankRewrite must swap in
    // GlobalRankExec (range exchange + offset stitch) and preserve exact
    // row_number values.
    val df = spark.sql(
      "SELECT id, row_number() OVER (ORDER BY id DESC) AS rn FROM range(1000)"
    )
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }
    assert(
      exec.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty,
      s"GlobalRankExec missing from plan:\n$exec"
    )
    assert(
      exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.isEmpty,
      "unpartitioned WindowExec survived the rewrite"
    )
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._2)
    assert(rows.map(_._2).toSeq == (1 to 1000))
    assert(rows.map(_._1).toSeq == (0L until 1000L).reverse)
  }

  test("GlobalRank: multi-expression/partitioned/float-ordered windows keep the stock plan") {
    // conservatism: partitioned windows, multi-expression windows, and
    // (for the tie-aware ranks) float order keys must NOT be rewritten
    val keep = Seq(
      "SELECT id, rank() OVER (ORDER BY CAST(id AS DOUBLE)) AS r FROM range(100)",
      "SELECT id, row_number() OVER (PARTITION BY id % 3 ORDER BY id) AS r FROM range(100)",
      "SELECT id, row_number() OVER (ORDER BY id) AS r, sum(id) OVER (ORDER BY id) AS s FROM range(100)"
    )
    keep.foreach { q =>
      val exec = spark.sql(q).queryExecution.executedPlan
      assert(
        exec.collect { case g: graft.plans.GlobalRankExec => g }.isEmpty,
        s"rewrite over-fired on: $q"
      )
    }
  }

  test("GlobalNtile: SQL global ntile plans distributed and matches window semantics exactly") {
    // 1003 rows, 10 tiles: first 3 tiles get 101 rows, the rest 100 —
    // the closed-form mapping must reproduce NTile's uneven split
    for (k <- Seq(10, 7, 2000)) { // 2000 > n exercises the k>n edge
      val df = spark.sql(
        s"SELECT id, ntile($k) OVER (ORDER BY id) AS t FROM range(1003)"
      )
      val exec = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p                                                                => p
      }
      assert(
        exec.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty,
        s"ntile($k) not rewritten:\n$exec"
      )
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      // independent reference: NTile's spec — buckets differ by at most
      // one row, larger buckets first
      val n = 1003
      val sizes = (0 until math.min(k, n)).map(i => n / k + (if (i < n % k) 1 else 0))
      val expected = sizes.zipWithIndex
        .flatMap { case (sz, i) => Seq.fill(sz)(i + 1) }
        .zipWithIndex
        .map { case (t, idx) => idx.toLong -> t }
        .toMap
      assert(got == expected, s"ntile($k) values diverged")
    }
  }

  test("GlobalPrefixSum: global running total plans distributed, matches window semantics") {
    val df = spark.sql(
      "SELECT id, sum(id) OVER (ORDER BY id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM range(1000)"
    )
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }
    assert(
      exec.collect { case g: graft.plans.GlobalPrefixSumExec => g }.nonEmpty,
      s"running sum not rewritten:\n$exec"
    )
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    var acc = 0L
    rows.foreach { case (id, c) => acc += id; assert(c == acc, s"prefix sum wrong at id=$id") }
    // RANGE frames (the bare-aggregate default) must NOT fire — peer
    // semantics differ from the row-frame exec
    val range = spark
      .sql("SELECT id, sum(id) OVER (ORDER BY id % 10) AS c FROM range(100)")
      .queryExecution
      .optimizedPlan
    assert(
      range.collect { case g: graft.plans.GlobalPrefixSumNode => g }.isEmpty,
      "rewrite over-fired on a RANGE frame"
    )
  }

  test("PlanLint flags the cliffs the rules can't rewrite, stays quiet on clean plans") {
    // lag with k past the O(P·k) metadata gate (1024) keeps the stock
    // 1-task window — lint names it; literal-offset lag/lead are
    // auto-rewritten since round 15, their IGNORE NULLS forms since
    // round 18 (which retired the old lag-IGNORE-NULLS probe here)
    val ranked =
      spark.sql("SELECT id, lag(id, 2000) OVER (ORDER BY id) AS r FROM range(3000)")
    val w1 = graft.plans.PlanLint.lint(ranked)
    assert(w1.exists(_.contains("GLOBAL WINDOW")), s"missed global window: $w1")
    // a genuine cartesian
    val cart = spark.range(10).crossJoin(spark.range(10).withColumnRenamed("id", "id2"))
    assert(
      graft.plans.PlanLint
        .lint(cart)
        .exists(m => m.contains("CARTESIAN") || m.contains("NESTED-LOOP"))
    )
    // keyed window + equi-join: clean
    val clean = spark.sql(
      "SELECT id, row_number() OVER (PARTITION BY id % 3 ORDER BY id) AS r FROM range(100)"
    )
    assert(graft.plans.PlanLint.lint(clean).isEmpty)
    // the auto-rewritten global row_number is ALSO clean — the rule
    // already fixed it, so lint has nothing to say
    val fixed = spark.sql("SELECT id, row_number() OVER (ORDER BY id) AS r FROM range(100)")
    assert(graft.plans.PlanLint.lint(fixed).isEmpty)
  }

  test("s37/s38 folds are idempotent under batch replay (commit-marker discipline)") {
    import spark.implicits._
    val root37 = graft.TempDirs.create("graft_s37_replay_")
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), 7L),
      (java.sql.Timestamp.valueOf("2024-01-04 11:00:00"), 7L),
      (java.sql.Timestamp.valueOf("2024-01-04 12:00:00"), 9L)
    ).toDF("ts", "user_id")
    graft.operators.StreamingBatch.s37Fold(root37, 0L, batch)
    def st37() = graft.sources.BucketedStateStore
      .readLatest(spark, s"$root37/state").get.collect().map(_.toString).sorted
    val once = st37()
    // a foreachBatch RETRY redelivers the same batchId — the fold must
    // acknowledge the committed manifest and not double-count
    graft.operators.StreamingBatch.s37Fold(root37, 0L, batch)
    val twice = st37()
    assert(once.sameElements(twice))
    assert(once.length == 3) // (day, user) grains: (3,7) (4,7) (4,9)

    val root38 = graft.TempDirs.create("graft_s38_replay_")
    val docs = Seq((1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "dd ee")).toDF("doc_id", "text")
    graft.operators.StreamingBatch.s38Fold(root38, 0L, docs)
    def k38() = graft.sources.BucketedStateStore
      .readAt(spark, s"$root38/keep", 0L).get.collect().map(_.toString).sorted
    val k1 = k38()
    val t1 = spark.read.parquet(s"$root38/tot_v0").collect().map(_.toString)
    graft.operators.StreamingBatch.s38Fold(root38, 0L, docs)
    assert(k38().sameElements(k1))
    assert(spark.read.parquet(s"$root38/tot_v0").collect().map(_.toString).sameElements(t1))
    assert(k1.length == 2) // two distinct content hashes; doc 1 beats doc 2
  }

  test("SqlMain mid-script statements execute EVERY row (late-row assert fires)") {
    // round-12 ADVICE: limit(1) materialization let an assert_true that
    // fails on a later row pass silently. The noop write must evaluate
    // all rows, so the failure now surfaces.
    val ex = intercept[Exception] {
      graft.SqlMain
        .runScript(
          spark,
          """CREATE OR REPLACE TEMP VIEW nums13 AS SELECT explode(sequence(1, 100)) AS n;
            |SELECT assert_true(n < 100) FROM nums13;
            |SELECT 1 AS ok""".stripMargin // assert fails only on row 100
        )
        .collect()
    }
    assert(ex != null)
  }
}
