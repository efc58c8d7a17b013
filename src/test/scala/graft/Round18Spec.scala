package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import graft.streaming.StreamOps

/** Round-18 differentials: the watermark-bounded out-of-order LOCF
  * (s42) — the verdict's top item, converting s41's time-ordered
  * staging CONTRACT into a watermark GUARANTEE. The battery here is
  * the part the oracle gate can't see: RANDOM bounded permutations of
  * the arrival order (five seeds, MemoryStream-driven) must reproduce
  * the batch fold exactly, emission must be INCREMENTAL (rows appear
  * while the stream is still mid-flight, not only at the final flush),
  * and s42's staged replay must really be adversarial (the first
  * delivered file strictly NEWER than the second). Plus the centsLeg
  * parity pins for the round-18 ADVICE fix (mode-aware double→long).
  */
class Round18Spec extends AnyFunSuite {
  import TestSession._

  private def ms(t: Long) = new Timestamp(t)

  /** Reference fold: batch e58's semantics in plain Scala — per user in
    * (us, event_id) order, v_obs = cents of non-click values, locf =
    * running last non-null.
    */
  private def expectedLocf(events: Seq[StreamOps.LocfEvent]): Map[Long, (Option[Long], Option[Long])] = {
    val out = scala.collection.mutable.Map.empty[Long, (Option[Long], Option[Long])]
    events.groupBy(_.user_id).foreach { case (_, evs) =>
      var carry: Option[Long] = None
      evs.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val v: Option[Long] =
          if (e.event_type == "click") None
          else e.value.map(StreamOps.centsLeg(_, ansi = true))
        v.foreach(x => carry = Some(x))
        out(e.event_id) = (v, carry)
      }
    }
    out.toMap
  }

  test("s42 fold: random within-watermark permutations reproduce the batch LOCF (5 seeds)") {
    import spark.implicits._
    val base = 1700000000000L
    // users 1–4 × 60 events, 1 s apart; clicks carry no value; every
    // 7th non-click value is a NULL observation (the ADVICE decoder fix)
    val events = for {
      u <- 1L to 4L
      i <- 0 until 60
    } yield StreamOps.LocfEvent(
      user_id = u,
      event_id = u * 1000 + i,
      ts = ms(base + i * 1000L),
      event_type = if (i % 3 == 0) "click" else "purchase",
      value = if (i % 3 == 0) Some(-1.0) else if (i % 7 == 0) None else Some(i * 1.37 + u)
    )
    val expect = expectedLocf(events)

    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      // bounded disorder: jitter < 4 s, watermark 5 s — every arrival
      // stays strictly newer than the watermark by construction
      val arrival = events.sortBy(e => (e.ts.getTime + rng.nextInt(4000), e.event_id))
      val batches = arrival.grouped(25).toSeq
      val input = MemoryStream[StreamOps.LocfEvent](spark, 1)
      val name = s"s42_perm_${seed}_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = StreamOps
        .streamLocfOoo(input.toDS().withWatermark("ts", "5 seconds"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        batches.zipWithIndex.foreach { case (b, bi) =>
          input.addData(b: _*)
          q.processAllAvailable()
          // incremental emission: once the watermark is well inside the
          // data, rows must already be flowing — not held for the flush
          if (bi == batches.length / 2)
            assert(spark.table(name).count() > 0, s"seed $seed: no incremental emission")
        }
        val maxTs = events.map(_.ts.getTime).max
        // two flush sentinels: #1 advances the watermark past max(ts);
        // #2's batch runs with it live, firing every pending timer
        input.addData(StreamOps.LocfEvent(999L, 999001L, ms(maxTs + 65000L), "click", None))
        q.processAllAvailable()
        input.addData(StreamOps.LocfEvent(999L, 999002L, ms(maxTs + 66000L), "click", None))
        q.processAllAvailable()
        val got = spark
          .table(name)
          .as[StreamOps.LocfOut]
          .collect()
          .filter(_.user_id != 999L)
        assert(got.length == events.length, s"seed $seed: ${got.length} of ${events.length} rows")
        got.foreach { r =>
          val (v, l) = expect(r.event_id)
          assert(r.v_obs == v && r.locf == l, s"seed $seed event ${r.event_id}: got (${r.v_obs},${r.locf}) want ($v,$l)")
        }
      } finally q.stop()
    }
  }

  test("s42 staging is adversarial: first delivered file strictly newer than the second") {
    val dir = graft.operators.StreamingBatch.stageJsonBandSwapped(spark, TestSession.sf)
    val files = new java.io.File(s"$dir/json").listFiles().sortBy(_.getName)
    assert(files.length == 10, s"8 bands + 2 sentinels, got ${files.length}")
    def tsRange(f: java.io.File): (String, String) = {
      val ts = scala.io.Source
        .fromFile(f)
        .getLines()
        .map(l => l.split("\"ts\":\"")(1).split("\"")(0))
        .toSeq
      (ts.min, ts.max)
    }
    val (min0, _) = tsRange(files(0)) // band 1 — delivered first
    val (_, max1) = tsRange(files(1)) // band 0 — delivered second, OLDER
    assert(min0 > max1, s"file0 must be entirely newer than file1: $min0 !> $max1")
    // and the delay really covers the staged disorder (2 bands + 2 s)
    val delayMs = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/delay_ms.txt")).trim.toLong
    assert(delayMs >= 2000)
  }

  test("s42 out-of-order streaming LOCF == e58 batch window, row for row") {
    val sf = TestSession.sf
    val stream = graft.operators.StreamingBatch.s42StreamLocfOoo(spark, sf).collect()
    val batch = graft.operators.Events.e58Locf(spark, sf).collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (s1, b1) =>
      assert(s1.getLong(0) == b1.getLong(0), "event_id")
      assert(s1.getLong(1) == b1.getLong(1), s"user_id at ${s1.getLong(0)}")
      assert(s1.getLong(2) == b1.getLong(2), s"us at ${s1.getLong(0)}")
      assert(Option(s1.get(3)) == Option(b1.get(3)), s"v_obs at ${s1.getLong(0)}")
      assert(Option(s1.get(4)) == Option(b1.get(4)), s"locf at ${s1.getLong(0)}")
    }
    assert(stream.exists(_.isNullAt(4)), "at least one pre-observation NULL locf")
  }

  test("s43 fold: random within-watermark permutations reproduce the batch as-of (3 seeds)") {
    import spark.implicits._
    val base = 1700000000000L
    // clicks and purchases interleaved, including SAME-instant pairs
    // (click sorts before the purchase it must serve — e7's tiebreak)
    val events = for {
      u <- 1L to 3L
      i <- 0 until 60
    } yield StreamOps.AsofEvent(
      user_id = u,
      event_id = u * 1000 + i,
      ts = ms(base + (i - i % 4) * 1000L), // every 4 events share an instant
      event_type = if (i % 4 == 0) "click" else "purchase"
    )
    // reference fold in e7's total order
    val expect: Map[Long, (Option[Long], Option[Long])] = events
      .groupBy(_.user_id)
      .flatMap { case (_, evs) =>
        var last: Option[(Long, Long)] = None
        evs
          .sortBy(e => (e.ts.getTime, if (e.event_type == "click") 0 else 1, e.event_id))
          .flatMap { e =>
            if (e.event_type == "click") { last = Some((e.ts.getTime * 1000, e.event_id)); None }
            else Some(e.event_id -> (last.map(_._2), last.map(l => e.ts.getTime * 1000 - l._1)))
          }
      }
      .toMap
    (1 to 3).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val arrival = events.sortBy(e => (e.ts.getTime + rng.nextInt(4000), e.event_id))
      val input = MemoryStream[StreamOps.AsofEvent](spark, 1)
      val name = s"s43_perm_${seed}_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = StreamOps
        .streamAsofOoo(input.toDS().withWatermark("ts", "5 seconds"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        arrival.grouped(20).foreach { b => input.addData(b: _*); q.processAllAvailable() }
        val maxTs = events.map(_.ts.getTime).max
        input.addData(StreamOps.AsofEvent(999L, 999001L, ms(maxTs + 65000L), "click"))
        q.processAllAvailable()
        input.addData(StreamOps.AsofEvent(999L, 999002L, ms(maxTs + 66000L), "click"))
        q.processAllAvailable()
        val got = spark.table(name).as[StreamOps.AsofOut].collect().filter(_.user_id != 999L)
        assert(got.length == expect.size, s"seed $seed: ${got.length} of ${expect.size}")
        got.foreach { r =>
          val (cid, gap) = expect(r.p_event_id)
          assert(r.click_event_id == cid && r.gap_us == gap,
            s"seed $seed purchase ${r.p_event_id}: got (${r.click_event_id},${r.gap_us}) want ($cid,$gap)")
        }
      } finally q.stop()
    }
  }

  test("s43 out-of-order streaming as-of == s25 in-order state machine, row for row") {
    val sf = TestSession.sf
    val ooo = graft.operators.StreamingBatch.s43StreamAsofOoo(spark, sf).collect()
    val ord = graft.operators.StreamingBatch.s25StreamAsof(spark, sf).collect()
    assert(ooo.length == ord.length && ooo.nonEmpty)
    ooo.zip(ord).foreach { case (a, b) =>
      (0 until 4).foreach(i => assert(Option(a.get(i)) == Option(b.get(i)), s"col $i at ${a.get(0)}"))
    }
    // left-outer arm exercised: purchases before any click emit NULLs
    assert(ooo.exists(_.isNullAt(2)), "at least one pre-click purchase")
  }

  test("split remainder keeps its stock Sort by measured choice — shape and values pinned") {
    // Round-18 verdict #4 outcome: an order-preserving gather under the
    // remainder was built and measured in two mechanisms (narrow
    // coalesce; parallel materialization barrier) and BOTH lose to the
    // single sort they remove (SCALING.md round 18). This pins the
    // resulting shape — chain + one stock remainder window with its own
    // Sort — and stock-equal values on the mixed_split expression mix.
    val spark2 = spark
    import spark2.implicits._
    (1 to 5000).map(i => (i.toLong, (i % 37).toLong)).toDF("id", "k")
      .createOrReplaceTempView("r18_mixed")
    val sql =
      """SELECT id, sum(k) OVER w AS s, rank() OVER w AS r,
        |  round(avg(CAST(k AS DOUBLE)) OVER w, 6) AS ad
        |FROM r18_mixed WINDOW w AS (ORDER BY k, id)""".stripMargin
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }
    // sum+rank ride the chain; avg(double) is the one stock remainder
    assert(plan.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty ||
      plan.collect { case g: graft.plans.GlobalPrefixSumExec => g }.nonEmpty, s"$plan")
    assert(plan.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty, s"$plan")
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.length == 1 && windows.head.windowExpression.length == 1,
      s"exactly one 1-expression stock remainder:\n$plan")
    // value parity vs the fully-stock plan
    val on = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    spark.conf.set("spark.graft.windowRewrite.enabled", "false")
    try {
      val off = spark.sql(sql).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(on.length == off.length)
      on.zip(off).foreach { case (a, b) => assert(a == b, s"row $a vs $b") }
    } finally spark.conf.unset("spark.graft.windowRewrite.enabled")
  }

  test("IGNORE NULLS lag/lead stock-parity battery: k x default x direction, rewrite on vs off") {
    val spark2 = spark
    import spark2.implicits._
    // head/tail null runs, interior null runs LONGER than k, ties in the
    // order key across partition cuts — the shapes that separate
    // "k rows back" from "k non-nulls back"
    val rows = (1 to 400).map { i =>
      val x: Option[Long] =
        if (i <= 5 || i >= 396 || (i % 19) < 4) None else Some(i.toLong * 7 % 101)
      (i.toLong, (i % 37).toLong, x)
    }
    rows.toDF("i", "tie", "x").repartition(8).createOrReplaceTempView("r18_parity")
    val legs = for {
      fn <- Seq("lag", "lead")
      k <- Seq(1, 3, 7)
      dflt <- Seq("", ", -999")
    } yield s"$fn(x, $k$dflt) IGNORE NULLS OVER (ORDER BY i) AS v"
    legs.foreach { leg =>
      val sql = s"SELECT i, $leg FROM r18_parity"
      val on = spark.sql(sql)
      val plan = on.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p                                                                => p
      }
      assert(plan.collect { case g: graft.plans.GlobalOffsetWindowExec => g }.nonEmpty,
        s"$leg must ride the offset exec:\n$plan")
      val onRows = on.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
      spark.conf.set("spark.graft.windowRewrite.enabled", "false")
      try {
        val offRows = spark.sql(sql).collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
        assert(onRows.length == offRows.length)
        onRows.zip(offRows).foreach { case (a, b) => assert(a == b, s"$leg at i=${a._1}: $a vs $b") }
      } finally spark.conf.unset("spark.graft.windowRewrite.enabled")
    }
  }

  test("IGNORE NULLS offsets: supply-short partitions force the multi-partition seed walk") {
    val spark2 = spark
    import spark2.implicits._
    // 48 rows over 8 partitions (~6 rows each), 2/3 null, k=9: every
    // partition supplies ~2 non-nulls < k, so the driver walk must
    // cross 4+ partitions to fill a seed — the nn-guarded loop's
    // deep path, unreachable with dense data
    val rows = (1 to 48).map(i => (i.toLong, if (i % 3 != 0) None else Some(i.toLong)))
    rows.toDF("i", "x").repartition(8).createOrReplaceTempView("r18_sparse")
    Seq("lag", "lead").foreach { fn =>
      val sql = s"SELECT i, $fn(x, 9) IGNORE NULLS OVER (ORDER BY i) AS v FROM r18_sparse"
      val on = spark.sql(sql).collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
      spark.conf.set("spark.graft.windowRewrite.enabled", "false")
      try {
        val off = spark.sql(sql).collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
        assert(on.sameElements(off), s"$fn: ${on.toSeq} vs ${off.toSeq}")
      } finally spark.conf.unset("spark.graft.windowRewrite.enabled")
      // non-trivial: some rows really resolve a 9-th non-null
      assert(on.exists(_._2.isDefined), s"$fn resolves at least one offset")
    }
  }

  test("IGNORE NULLS offsets under ties: tiebreak keeps both passes on one order (chain property)") {
    val spark2 = spark
    import spark2.implicits._
    // ALL-tied order keys with interleaved nulls: any pass-1/pass-2 sort
    // disagreement shows up as a broken successor chain
    val rows = (1 to 3000).map(i => (1L, if (i % 3 == 0) None else Some(i.toLong)))
    rows.toDF("tie", "x").repartition(8).createOrReplaceTempView("r18_tied")
    val got = spark
      .sql("SELECT x, lag(x, 1) IGNORE NULLS OVER (ORDER BY tie) AS p FROM r18_tied")
      .collect()
    // under total ties any order is legal, but it must be ONE order:
    // restricted to the NON-NULL rows, p is the previous non-null row's
    // x, so the (p → x) pairs form a single chain — exactly one head
    // (p null), every value a predecessor exactly once except one tail
    val nonNull = got.filter(!_.isNullAt(0))
    assert(nonNull.length == 2000)
    val heads = nonNull.count(_.isNullAt(1))
    assert(heads == 1, s"exactly one chain head, got $heads")
    val xs = nonNull.map(_.getLong(0)).toSet
    val preds = nonNull.filter(!_.isNullAt(1)).map(_.getLong(1))
    assert(preds.length == 1999 && preds.distinct.length == 1999, "each value precedes exactly once")
    assert(preds.toSet.subsetOf(xs), "every predecessor is a real value")
    assert((xs -- preds.toSet).size == 1, "exactly one chain tail")
  }

  test("s42 state is bounded: after the sentinel flush, state = one carry row per user (buffers drained)") {
    val sf = TestSession.sf
    val (_, stateRows) = withEndStateRows(graft.operators.StreamingBatch.s42StreamLocfOoo(spark, sf).collect())
    val users = graft.sources.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(stateRows >= 0, "harness records state rows")
    assert(stateRows == users,
      s"state must be exactly one row per user (carry, empty buffer): $stateRows vs $users users")
  }

  test("two-heap rolling quantile == brute-force sorted index (randomized: dups, nulls, q edges)") {
    (1 to 4).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val k = 1 + rng.nextInt(25)
      val q = Seq(0.5, 0.95, 1.0, 0.01)(seed % 4)
      val win = new graft.plans.TwoHeapWindow(k, q)
      val ring = scala.collection.mutable.Queue.empty[Option[Long]]
      (1 to 600).foreach { i =>
        val v: Option[Long] = if (rng.nextInt(100) < 15) None else Some(rng.nextInt(40).toLong)
        val (n, got) = v match {
          case Some(x) => win.add(x, isNull = false)
          case None    => win.add(0L, isNull = true)
        }
        ring.enqueue(v)
        if (ring.length > k) { ring.dequeue(); () }
        val nonNull = ring.flatten.toSeq.sorted
        assert(n == nonNull.length, s"seed $seed row $i n")
        val want =
          if (nonNull.isEmpty) None
          else Some(nonNull(math.ceil(q * nonNull.length).toInt - 1))
        assert(got == want, s"seed $seed row $i k=$k q=$q: got $got want $want (win=$nonNull)")
      }
    }
  }

  test("e57b rides RollingQuantileExec and matches e57's values where frames coincide") {
    val sf = TestSession.sf
    val wide = graft.operators.Events.e57bRollingP95Wide(spark, sf)
    val plan = wide.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }
    assert(plan.collect { case e: graft.plans.RollingQuantileExec => e }.nonEmpty, s"$plan")
    val rows = wide.collect()
    assert(rows.nonEmpty)
    // within each group's first min(n, 100) rows the 100- and 1000-row
    // frames are the SAME set, so e57 and e57b must agree row-for-row
    val narrow = graft.operators.Events.e57RollingP95(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val early = rows.filter(r => r.getLong(3) <= 100 && narrow.contains(r.getLong(0)))
    assert(early.nonEmpty)
    early.foreach { r =>
      val (nN, pN) = narrow(r.getLong(0))
      assert(nN == r.getLong(3) && pN == r.getLong(4),
        s"event ${r.getLong(0)}: e57 ($nN,$pN) vs e57b (${r.getLong(3)},${r.getLong(4)})")
    }
  }

  test("s45 streaming rolling p95 == e57 batch window, row for row; state = rings per type") {
    val sf = TestSession.sf
    val (stream, stateRows) =
      withEndStateRows(graft.operators.StreamingBatch.s45StreamRollingQuantile(spark, sf).collect())
    val batch = graft.operators.Events.e57RollingP95(spark, sf).collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (s1, b1) =>
      (0 until 5).foreach(i => assert(Option(s1.get(i)) == Option(b1.get(i)), s"col $i at ${s1.get(0)}"))
    }
    val types = graft.sources.Tables.events(spark, sf).select("event_type").distinct().count()
    assert(stateRows == types,
      s"state = one ring per event type: $stateRows vs $types")
  }

  test("s46 fold: random within-watermark permutations reproduce the batch rolling quantile (3 seeds)") {
    import spark.implicits._
    val base = 1700000000000L
    val events = for {
      t <- Seq("a", "b")
      i <- 0 until 80
    } yield StreamOps.QuantEvent(
      event_type = t,
      event_id = (if (t == "a") 1000L else 2000L) + i,
      ts = ms(base + i * 1000L),
      value = if (i % 9 == 0) None else Some(i * 1.37 + t.length)
    )
    // reference: brute-force rolling window (k=5 to force evictions)
    val expect: Map[Long, (Long, Option[Long])] = events
      .groupBy(_.event_type)
      .flatMap { case (_, evs) =>
        val ring = scala.collection.mutable.Queue.empty[Option[Long]]
        evs.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
          val c = e.value.map(StreamOps.centsLeg(_, ansi = true))
          ring.enqueue(c)
          if (ring.length > 5) { ring.dequeue(); () }
          val nn = ring.flatten.toSeq.sorted
          val p =
            if (nn.isEmpty) None else Some(nn(math.ceil(0.95 * nn.length).toInt - 1))
          e.event_id -> (nn.length.toLong, p)
        }
      }
      .toMap
    (1 to 3).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val arrival = events.sortBy(e => (e.ts.getTime + rng.nextInt(4000), e.event_id))
      val input = MemoryStream[StreamOps.QuantEvent](spark, 1)
      val name = s"s46_perm_${seed}_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = StreamOps
        .streamRollingQuantileOoo(input.toDS().withWatermark("ts", "5 seconds"), k = 5)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        arrival.grouped(20).foreach { b => input.addData(b: _*); q.processAllAvailable() }
        val maxTs = events.map(_.ts.getTime).max
        input.addData(StreamOps.QuantEvent("__flush__", 999001L, ms(maxTs + 65000L), None))
        q.processAllAvailable()
        input.addData(StreamOps.QuantEvent("__flush__", 999002L, ms(maxTs + 66000L), None))
        q.processAllAvailable()
        val got = spark.table(name).as[StreamOps.QuantOut].collect()
          .filter(_.event_type != "__flush__")
        assert(got.length == events.length, s"seed $seed: ${got.length} of ${events.length}")
        got.foreach { r =>
          val (n, p) = expect(r.event_id)
          assert(r.n_win == n && r.p95_cents == p,
            s"seed $seed event ${r.event_id}: got (${r.n_win},${r.p95_cents}) want ($n,$p)")
        }
      } finally q.stop()
    }
  }

  test("q79 native WITH RECURSIVE == q51 log-round squaring closure, row for row") {
    val sf = TestSession.sf
    val native = graft.operators.Relational.q79RecursiveNative(spark, sf).collect()
    val squared = graft.operators.Relational.q51Hierarchy(spark, sf).collect()
    assert(native.length == squared.length && native.nonEmpty)
    native.zip(squared).foreach { case (a, b) =>
      (0 until 3).foreach(i => assert(a.get(i) == b.get(i), s"col $i at ${a.get(0)}"))
    }
    // the forest really recurses: some depth > 1
    assert(native.exists(_.getLong(1) > 1), "multi-level hierarchy exercised")
  }

  test("centsLeg mirrors the session cast per eval mode (round-18 ADVICE)") {
    // HALF_UP at representable halves, negative halves included — the
    // shapes where Math.round (floor(x+.5)) would differ
    val samples = Seq(-1.005, -0.125, 0.125, 1.005, 2.675, -2.675, 123.455, -123.455, 0.0, 99.994999)
    samples.foreach { v =>
      val sparkVal = spark
        .sql(s"SELECT CAST(round(CAST($v AS DOUBLE) * 100) AS BIGINT)")
        .collect()(0).getLong(0)
      assert(StreamOps.centsLeg(v, ansi = true) == sparkVal, s"v=$v")
    }
    // ANSI throws past Long range exactly like the batch cast; LEGACY
    // saturates like toLong
    intercept[ArithmeticException](StreamOps.centsLeg(1e300, ansi = true))
    assert(StreamOps.centsLeg(1e300, ansi = false) == Long.MaxValue)
    assert(StreamOps.centsLeg(-1e300, ansi = false) == Long.MinValue)
  }
}
