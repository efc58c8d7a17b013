package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions: the MvRewrite edge cases from the round-6 advice
  * (global-aggregate NULL vs 0, count(NULL) literals, result-dtype
  * drift, JVM-lifetime registration leakage) and s17's durable
  * commit-log pointer. Value-level MV parity stays with the DuckDB
  * oracle gate; these pin the semantic corners the gate can't reach.
  */
class Round7Spec extends AnyFunSuite {
  import TestSession._
  import graft.sources.Tables
  import graft.plans.MvRegistry

  private def registerEventsMv(): String = {
    val dir = TempDirs.create("graft_r7mv_")
    Tables.events(spark, sf)
      .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
      .groupBy("dt", "event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"),
        min("value").as("mnv"), max("value").as("mxv"))
      .write.parquet(s"$dir/partials")
    MvRegistry.register(spark, Tables.events(spark, sf),
      spark.read.parquet(s"$dir/partials"),
      dims = Map("event_type" -> "event_type"), measure = "value")
    dir
  }

  // ------------------------------------------------------------------
  // A GLOBAL (no GROUP BY) count over a dim filter that matches zero
  // rows: raw returns 0; the rewritten Sum(n) over an empty summary
  // scan is NULL without the Coalesce guard
  // ------------------------------------------------------------------
  test("mv rewrite: global count over an empty dim-filtered scan returns 0, not NULL") {
    try {
      registerEventsMv()
      val q = Tables.events(spark, sf)
        .filter(col("event_type") === "no_such_type")
        .agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_r7mv") && !plan.contains("events.parquet"),
        s"global dim-filtered count was not rewritten:\n$plan")
      val row = q.collect().head
      assert(!row.isNullAt(0) && row.getLong(0) == 0L,
        s"rewritten global count must be 0, got ${row.get(0)}")
      // and a NON-empty global aggregate still matches raw
      MvRegistry.clear()
      val raw = Tables.events(spark, sf).agg(count(lit(1)).as("n")).collect().head.getLong(0)
      registerEventsMv()
      val mv = Tables.events(spark, sf).agg(count(lit(1)).as("n"))
      assert(mv.queryExecution.executedPlan.toString.contains("graft_r7mv"))
      assert(mv.collect().head.getLong(0) == raw)
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // count(NULL) must stay 0, never the summary row count. In practice
  // Spark's NullPropagation folds count(null)→0 before the MV rule
  // runs (so the surviving count(1) may still rewrite); the rule's own
  // non-null-literal guard is defense-in-depth for any path that
  // reaches it unfolded. Pin the VALUE contract.
  // ------------------------------------------------------------------
  test("mv rewrite: count(null literal) stays 0 alongside a rewritten count(1)") {
    try {
      val raw = Tables.events(spark, sf).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      registerEventsMv()
      val q = Tables.events(spark, sf)
        .groupBy("event_type")
        .agg(count(lit(null)).as("n_null"), count(lit(1)).as("n"))
      q.collect().foreach { r =>
        assert(r.getLong(2) == raw(r.getString(0)), "count(1) diverged from raw")
        assert(r.getLong(1) == 0L, s"count(NULL) must be 0, got ${r.get(1)}")
      }
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // Result-dtype guard: a DECIMAL measure's Sum widens precision when
  // re-summed over partials, so the rewrite must bail rather than
  // retype a column the parent operators were resolved against
  // ------------------------------------------------------------------
  test("mv rewrite: decimal measure disqualifies the rewrite (dtype drift)") {
    try {
      val dir = TempDirs.create("graft_r7dec_")
      // a decimal-measure copy of events plus its decimal-typed summary
      Tables.events(spark, sf)
        .withColumn("value", col("value").cast("decimal(12,2)"))
        .write.parquet(s"$dir/src")
      spark.read.parquet(s"$dir/src")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("sv"),
          min("value").as("mnv"), max("value").as("mxv"))
        .write.parquet(s"$dir/partials")
      MvRegistry.register(spark, spark.read.parquet(s"$dir/src"),
        spark.read.parquet(s"$dir/partials"),
        dims = Map("event_type" -> "event_type"), measure = "value")
      val q = spark.read.parquet(s"$dir/src")
        .groupBy("event_type").agg(sum("value").as("sv"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(s"src") && !plan.contains("partials"),
        s"decimal-measure sum was rewritten despite the precision change:\n$plan")
      // count(1) over the same source keeps its LongType and is still
      // eligible — the guard is per-aggregate-call, not per-table
      val c = spark.read.parquet(s"$dir/src")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(c.queryExecution.executedPlan.toString.contains("partials"),
        "long-typed count over a decimal-measure MV should still rewrite")
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // Registration scoping: building ANY SparkEntry queries() entry must
  // start from an empty registry, so c16's rollup can never silently
  // answer a LATER entry's aggregate (bench contamination)
  // ------------------------------------------------------------------
  test("SparkEntry entries are built against an empty MvRegistry") {
    try {
      // building c16 registers its MV...
      SparkEntry.queries("c16_mv_rewrite")(spark, sf)
      assert(!MvRegistry.isEmpty, "c16 build should leave its own registration")
      // ...and building the next (non-MV) entry clears it, so its
      // events aggregate reads raw
      val e15 = SparkEntry.queries("e15_active_users")(spark, sf)
      assert(MvRegistry.isEmpty, "a non-MV entry must start from an empty registry")
      assert(e15.queryExecution.executedPlan.toString.contains("events.parquet"))
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // c16c: time-grain hierarchy rewrite — month-grain queries answered
  // from day-grain partials. Value parity is the DuckDB oracle's job;
  // here pin the plan swap, value parity vs raw, and the bail paths.
  // ------------------------------------------------------------------
  test("mv rewrite: month grouping answers from day-grain partials") {
    try {
      // raw anchor BEFORE any registration
      val raw = graft.operators.Maintenance
        .c16cMvMonthRollup(spark, sf) // registers, but compute raw first:
      MvRegistry.clear()
      val expected = Tables.events(spark, sf)
        .groupBy(trunc(col("ts").cast("date"), "month").as("month_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val q = graft.operators.Maintenance.c16cMvMonthRollup(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_c16") && !plan.contains("events.parquet"),
        s"month-grain aggregate not answered from the day partials:\n$plan")
      val rows = q.collect()
      assert(rows.nonEmpty && rows.length == expected.size)
      rows.foreach { r =>
        val (n, sv) = expected((r.getDate(0).toString, r.getString(1)))
        assert(r.getLong(2) == n && r.getDouble(3) == sv,
          s"month rollup diverged for ${r.getDate(0)}/${r.getString(1)}")
      }
      assert(raw.columns.sameElements(q.columns))
    } finally MvRegistry.clear()
  }

  test("mv rewrite: multi-measure summary answers mixed dashboards; unregistered measure bails") {
    try {
      // raw anchor before any registration
      val raw = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sq"),
          round(sum("l_extendedprice"), 2).as("sp"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val q = graft.operators.Maintenance.c16dMvMultiMeasure(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_c16d") && !plan.contains("lineitem.parquet"),
        s"multi-measure dashboard not answered from the partials:\n$plan")
      q.collect().foreach { r =>
        val (n, sq, sp) = raw(r.getString(0))
        assert(r.getLong(1) == n && r.getDouble(2) == sq && r.getDouble(4) == sp,
          s"multi-measure rollup diverged for ${r.getString(0)}")
      }
      // an UNREGISTERED measure in the same query must kill the rewrite
      val bail = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sq"), round(sum("l_discount"), 2).as("sd"))
      assert(bail.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
        "sum over an unregistered measure must scan raw")
    } finally MvRegistry.clear()
  }

  test("mv rewrite: selection picks the coarsest admissible summary") {
    try {
      val q = graft.operators.Maintenance.c16eMvSelection(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      // type-grouped dashboard → the T-row rollup, not the D×T partials
      assert(plan.contains("graft_c16e_") && !plan.contains("graft_c16_") &&
        !plan.contains("events.parquet"),
        s"type query should scan the type-only rollup:\n$plan")
      // a day-grouped query can't use the type rollup — must route to
      // the finer day×type partials (both are still registered)
      val dayQ = Tables.events(spark, sf)
        .groupBy(col("ts").cast("date").as("dt"))
        .agg(count(lit(1)).as("n"))
      val dayPlan = dayQ.queryExecution.executedPlan.toString
      assert(dayPlan.contains("graft_c16_") && !dayPlan.contains("graft_c16e_") &&
        !dayPlan.contains("events.parquet"),
        s"day query should fall through to the day-grain partials:\n$dayPlan")
      // value parity for the fall-through routing
      MvRegistry.clear()
      val raw = Tables.events(spark, sf)
        .groupBy(col("ts").cast("date").as("dt")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      graft.operators.Maintenance.c16eMvSelection(spark, sf)
      dayQ.collect().foreach(r => assert(raw(r.getDate(0).toString) == r.getLong(1)))
    } finally MvRegistry.clear()
  }

  test("mv rewrite: month grouping bails when the day dim is not registered") {
    try {
      registerEventsMv() // event_type only — no day dim
      val q = Tables.events(spark, sf)
        .groupBy(trunc(col("ts").cast("date"), "month").as("m"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("events.parquet") && !plan.contains("graft_r7mv"),
        s"month grouping must not rewrite without a registered day dim:\n$plan")
    } finally MvRegistry.clear()
  }

  test("mv rewrite: derived-dim FILTER commutes onto the summary; finer predicates bail") {
    try {
      val dir = graft.operators.Maintenance.mvStore(spark, sf)
      graft.operators.Maintenance.registerEventsMv(spark, sf, dir)
      val cutoff = Tables.events(spark, sf)
        .agg(max(col("ts").cast("date")).as("mx")).collect().head.getDate(0)
      // a predicate on cast(ts as date) IS a dim predicate now
      val q = Tables.events(spark, sf)
        .filter(col("ts").cast("date") === lit(cutoff))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_c16") && !plan.contains("events.parquet"),
        s"day-dim filter should rewrite onto the summary:\n$plan")
      MvRegistry.clear()
      val raw = Tables.events(spark, sf)
        .filter(col("ts").cast("date") === lit(cutoff))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.operators.Maintenance.registerEventsMv(spark, sf, dir)
      q.collect().foreach(r => assert(raw(r.getString(0)) == r.getLong(1)))
      // an HOUR-grain predicate is finer than the day dim — must bail
      val fine = Tables.events(spark, sf)
        .filter(hour(col("ts")) === 3)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(fine.queryExecution.executedPlan.toString.contains("events.parquet"),
        "hour-grain predicate must disqualify the day-grain rewrite")
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // AQE skew handling: q35 proves deterministic salting; this pins the
  // OTHER half of the 100×-skew story — that with skew-join enabled, a
  // planted hot key makes AQE split the skewed partition at runtime
  // (OptimizeSkewedJoin), so the claim rests on an executed plan, not
  // on configuration defaults.
  // ------------------------------------------------------------------
  test("AQE splits a planted skewed join partition (OptimizeSkewedJoin fires)") {
    val prev = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // test-scale thresholds: the same mechanism that fires at 256 MB
      // partitions on a cluster fires here at 64 KB
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // force a sort-merge join: broadcast would dodge the skew machinery
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // one hot key (0) carrying ~95% of the left side; the payload is
      // incompressible (md5 hex) and consumed downstream, so the hot
      // partition's shuffle bytes actually exceed the skew threshold
      val left = spark.range(0, 200000)
        .select(when(col("id") < 190000, 0L).otherwise(pmod(col("id"), lit(64))).as("k"),
          md5(col("id").cast("string")).as("payload"))
      val right = spark.range(0, 64).select(col("id").as("k"), (col("id") * 7).as("attr"))
      // GLOBAL aggregate above the join: a groupBy on the join key would
      // REQUIRE the join's hash partitioning, and OptimizeSkewedJoin
      // declines to split a partitioning a parent depends on — which is
      // itself the correct behavior at any scale
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum("attr").as("s"), sum(length(col("payload"))).as("pl"))
      val rows = joined.collect()
      assert(rows.head.getLong(0) == 200000L, "join lost rows")
      assert(rows.head.getLong(2) == 200000L * 32, "payload lost")
      // the FINAL adaptive plan must carry the skew=true SMJ marker
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the planted hot key:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ------------------------------------------------------------------
  // m7/m8: the ImageIO decode path. Value parity with the generating
  // arithmetic is held by the DuckDB oracle; here pin the codec
  // round-trip itself and the planted near-dup structure.
  // ------------------------------------------------------------------
  test("PNG encode->ImageIO decode round-trips every 8-bit sample exactly") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val px = Array.fill(w * h)(rnd.nextInt(256))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodePng(w, h, i => px(i))))
      assert(img.getWidth == w && img.getHeight == h)
      val raster = img.getRaster
      var i = 0
      while (i < w * h) {
        assert(raster.getSample(i % w, i / w, 0) == px(i), s"sample $i diverged at ${w}x$h")
        i += 1
      }
    }
  }

  test("m8 finds exactly the planted same-group near-dup pairs on real decoded pixels") {
    val pairs = graft.operators.Multimodal.m8ImageNearDup(spark, sf).collect()
    assert(pairs.nonEmpty)
    // every surviving pair is a same-group pair (images differ only in
    // the per-doc perturbation pixel), and every group is fully paired
    pairs.foreach(r => assert(r.getLong(0) % 25 == r.getLong(1) % 25,
      s"cross-group pair survived tau: ${r.getLong(0)} ${r.getLong(1)} cos=${r.getDouble(2)}"))
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    val perGroup = nDocs / 25
    assert(pairs.length == 25 * (perGroup * (perGroup - 1)) / 2,
      s"expected all within-group pairs, got ${pairs.length}")
  }

  // ------------------------------------------------------------------
  // Streaming state stays BOUNDED: the harness docstrings claim
  // watermark eviction caps state; measure numRowsTotal at the end of
  // each run and pin it to the prediction. At termination the watermark
  // sits 2h short of the far-future sentinel, so every REAL user's
  // session/window/dedup row has been evicted — only sentinel-held
  // state (≤ one row per stateful operator per key-space) survives.
  // A missing watermark or broken eviction would leave user- or
  // event-scaled state here and fail loudly at 100 TB.
  // ------------------------------------------------------------------
  test("s4/s7/s11 end-of-run state is sentinel-sized, not user-sized") {
    import graft.operators.StreamingBatch
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    val rows = Map(
      "s4" -> withEndStateRows(StreamingBatch.s4StreamSession(spark, sf).count())._2,
      "s7" -> withEndStateRows(StreamingBatch.s7StreamSessionWindow(spark, sf).count())._2,
      "s11" -> withEndStateRows(StreamingBatch.s11StreamDistinct(spark, sf).count())._2
    )
    def state(n: String): Long = rows(n)
    println(s"[state-rows] s4=${state("s4")} s7=${state("s7")} s11=${state("s11")} users=$users")
    for (n <- Seq("s4", "s7", "s11")) {
      assert(state(n) >= 0, s"$n recorded no progress")
      assert(state(n) < users,
        s"$n final state ${state(n)} is user-scaled (users=$users) — eviction broken")
      assert(state(n) <= 8, s"$n final state ${state(n)} exceeds the sentinel-only prediction")
    }
  }

  // ------------------------------------------------------------------
  // s18: month dashboard served from the STREAM-maintained day rollup
  // ------------------------------------------------------------------
  test("s18 month aggregate scans the stream-built rollup, not raw events") {
    try {
      val df = graft.operators.StreamingBatch.s18StreamMvMonth(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_s17"), s"not served from the stream-built store:\n$plan")
      assert(!plan.contains("events.parquet"), s"still scanning raw events:\n$plan")
      assert(df.count() > 0)
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // MV rewrite property sweep: every combination of admissible
  // grouping × aggregate set × dim filter must (a) actually rewrite
  // and (b) produce values equal to the raw computation. 40 combos —
  // broad protection for the template/coarsening/selection machinery
  // beyond the hand-picked cases above.
  // ------------------------------------------------------------------
  test("mv rewrite: all admissible grouping/filter/aggregate combos match raw") {
    import org.apache.spark.sql.{Column, DataFrame}
    val groupings: Seq[(String, Seq[Column])] = Seq(
      "type"       -> Seq(col("event_type")),
      "day"        -> Seq(col("ts").cast("date").as("dt")),
      "month"      -> Seq(trunc(col("ts").cast("date"), "month").as("m")),
      "type+day"   -> Seq(col("event_type"), col("ts").cast("date").as("dt")),
      "global"     -> Seq.empty
    )
    val aggSets: Seq[(String, Seq[Column])] = Seq(
      "count"      -> Seq(count(lit(1)).as("n")),
      "sum+min"    -> Seq(sum("value").as("sv"), min("value").as("mnv")),
      "avg+max"    -> Seq(avg("value").as("av"), max("value").as("mxv")),
      "mixed"      -> Seq(count(lit(1)).as("n"), sum("value").as("sv"), avg("value").as("av"))
    )
    val filters: Seq[(String, Option[Column])] = Seq(
      "none"       -> None,
      "dim-filter" -> Some(col("event_type") =!= "view")
    )
    def build(g: Seq[Column], a: Seq[Column], f: Option[Column]): DataFrame = {
      val base = f.foldLeft(Tables.events(spark, sf))((df, c) => df.filter(c))
      if (g.isEmpty) base.agg(a.head, a.tail: _*) else base.groupBy(g: _*).agg(a.head, a.tail: _*)
    }
    def canon(df: DataFrame): Seq[Seq[String]] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*)
        .collect()
        .map(_.toSeq.map {
          case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
          case other     => String.valueOf(other)
        })
        .toSeq.sortBy(_.mkString("|"))
    }
    val dir = graft.operators.Maintenance.mvStore(spark, sf)
    try {
      for ((gn, g) <- groupings; (an, a) <- aggSets; (fn, f) <- filters) {
        MvRegistry.clear()
        val raw = canon(build(g, a, f))
        graft.operators.Maintenance.registerEventsMv(spark, sf, dir)
        val rewritten = build(g, a, f)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(plan.contains("graft_c16") && !plan.contains("events.parquet"),
          s"[$gn × $an × $fn] did not rewrite:\n$plan")
        assert(canon(rewritten) == raw, s"[$gn × $an × $fn] values diverged from raw")
      }
    } finally MvRegistry.clear()
  }

  // ------------------------------------------------------------------
  // c18 CDC: the changelog must be exactly the delta — applying it to
  // v1 reproduces v2 (key-for-key), and this upsert-only store can
  // never emit deletes.
  // ------------------------------------------------------------------
  test("c18 changelog applied to v1 reproduces v2") {
    import graft.sources.SnapshotStore
    val cdc = graft.operators.Maintenance.c18Changelog(spark, sf).collect()
    assert(cdc.nonEmpty)
    assert(cdc.forall(r => r.getString(1) != "delete"), "upsert-only store emitted a delete")
    val store = graft.operators.Maintenance.mergeStore(spark, sf)
    def keyed(v: Long): Map[Long, Long] = spark.read
      .parquet(SnapshotStore.versionPath(store, v))
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v1 = keyed(1)
    val v2 = keyed(2)
    val applied = cdc.foldLeft(v1) { (m, r) =>
      m.updated(r.getLong(0), r.getLong(3)) // new_event
    }
    assert(applied == v2, "v1 + changelog must equal v2")
  }

  // ------------------------------------------------------------------
  // t22 mixture sampling: value parity is the oracle's job; pin the
  // REWEIGHTING direction — the dominant language is downsampled
  // hardest, the rarest keeps (nearly) everything, and the sampled mix
  // is flatter than the corpus mix.
  // ------------------------------------------------------------------
  test("t22 temperature sampling flattens the language mix") {
    val corpus = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = graft.operators.TextAnalysis.t22MixtureSample(spark, sf)
    val rates = out.select("lang", "rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (maxLang, _) = corpus.maxBy(_._2)
    val (minLang, _) = corpus.minBy(_._2)
    assert(rates(maxLang) == rates.values.min, "dominant language must get the lowest rate")
    assert(rates(minLang) == 1.0, "rarest language keeps everything (rate normalized to 1)")
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
    val sampled = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def share(m: Map[String, Long], l: String) = m(l).toDouble / m.values.sum
    assert(share(sampled, maxLang) < share(corpus, maxLang),
      "sampled mix must be flatter than the corpus mix")
  }

  // ------------------------------------------------------------------
  // s17's commit log: a foreachBatch RETRY of an already-committed
  // batch is a no-op (no double-fold), and the pointer is rebuilt from
  // disk, not from session memory
  // ------------------------------------------------------------------
  test("s17 fold is idempotent under batch retry and restart-discoverable") {
    import graft.operators.StreamingBatch
    val root = TempDirs.create("graft_r7s17_")
    val batch = Tables.events(spark, sf).limit(500)
    StreamingBatch.s17Fold(root, 0L, batch)
    val after1 = spark.read.parquet(StreamingBatch.s17LatestCommitted(root).get)
      .agg(sum("n").as("rows")).collect().head.getLong(0)
    // retry the SAME batch id: the commit marker short-circuits the fold
    StreamingBatch.s17Fold(root, 0L, batch)
    val after2 = spark.read.parquet(StreamingBatch.s17LatestCommitted(root).get)
      .agg(sum("n")).collect().head.getLong(0)
    assert(after1 == 500L && after2 == 500L, s"retry double-folded: $after1 -> $after2")
    // a second batch advances the pointer; the pointer survives with no
    // in-memory state (rebuilt by scanning the commit log)
    StreamingBatch.s17Fold(root, 1L, batch)
    assert(StreamingBatch.s17LatestCommitted(root).get.endsWith("state_v1"))
    val after3 = spark.read.parquet(s"$root/state_v1")
      .agg(sum("n")).collect().head.getLong(0)
    assert(after3 == 1000L)
  }
}
