package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-15 hardening differentials: the state store's numBuckets
  * pinning, key-deleting merges, auto-compaction cadence, and the
  * Hadoop-API commit path; plus the recursive float gate on the
  * GlobalRank rewrite and the q65/s37 portable-surface types.
  */
class Round15Spec extends AnyFunSuite {
  import TestSession._
  import graft.sources.BucketedStateStore

  private def sumMerge(p: org.apache.spark.sql.DataFrame, i: org.apache.spark.sql.DataFrame) =
    p.unionByName(i).groupBy("k").agg(sum("n").as("n"))

  test("BucketedStateStore: numBuckets disagreeing with the committed layout fails FAST") {
    import spark.implicits._
    val root = graft.TempDirs.create("graft_bss_nb_")
    BucketedStateStore.upsert(root, 0L, Seq(("a", 1L)).toDF("k", "n"), Seq("k"), 8)(sumMerge)
    val ex = intercept[IllegalArgumentException] {
      BucketedStateStore.upsert(root, 1L, Seq(("b", 1L)).toDF("k", "n"), Seq("k"), 16)(sumMerge)
    }
    assert(ex.getMessage.contains("numBuckets=8"))
    // compact MAY change it — and subsequent upserts at the new count work
    BucketedStateStore.compact(spark, root, 5L, Seq("k"), numBuckets = 16)
    BucketedStateStore.upsert(root, 6L, Seq(("b", 2L)).toDF("k", "n"), Seq("k"), 16)(sumMerge)
    val got = BucketedStateStore.readLatest(spark, root).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L))
  }

  test("BucketedStateStore: a key-DELETING merge drops the emptied bucket; readers never chase a missing dir") {
    import spark.implicits._
    val root = graft.TempDirs.create("graft_bss_del_")
    // numBuckets=1: every key lands in bucket 0, so deleting all keys of
    // a touched bucket is easy to stage deterministically
    BucketedStateStore.upsert(root, 0L, Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), Seq("k"), 1)(sumMerge)
    // tombstone merge: incoming ("a", -1) deletes key a; ("b", ...) stays
    BucketedStateStore.upsert(root, 1L, Seq(("a", -1L)).toDF("k", "n"), Seq("k"), 1) { (p, i) =>
      p.unionByName(i).groupBy("k").agg(sum("n").as("n")).filter(col("n") > 0)
    }
    val after1 = BucketedStateStore.readLatest(spark, root).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after1 == Map("b" -> 2L))
    // now delete EVERYTHING the bucket holds: merge returns zero rows —
    // the round-14 layout published a manifest entry for a dir that was
    // never written and readLatest crashed; round 15 drops the entry
    BucketedStateStore.upsert(root, 2L, Seq(("b", -2L)).toDF("k", "n"), Seq("k"), 1) { (p, i) =>
      p.unionByName(i).groupBy("k").agg(sum("n").as("n")).filter(col("n") > 0)
    }
    assert(BucketedStateStore.committed(root, 2L))
    assert(BucketedStateStore.readLatest(spark, root).isEmpty, "empty store must read as None")
    // and the store keeps working after total deletion
    BucketedStateStore.upsert(root, 3L, Seq(("c", 7L)).toDF("k", "n"), Seq("k"), 1)(sumMerge)
    val after3 = BucketedStateStore.readLatest(spark, root).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after3 == Map("c" -> 7L))
  }

  test("BucketedStateStore: auto-compaction keeps the manifest chain bounded with the fold exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val rows = (0 until 300).map(i => (s"k${rnd.nextInt(40)}", rnd.nextInt(5).toLong + 1L))
    // reference: one-shot fold, no cadence
    val ref = graft.TempDirs.create("graft_bss_ac_ref_")
    BucketedStateStore.upsert(ref, 0L, rows.toDF("k", "n"), Seq("k"), 8, autoCompactEvery = 0)(sumMerge)
    val expect = BucketedStateStore.readLatest(spark, ref).get
      .collect().map(_.toString).sorted.toSeq
    // 15 batches of 20 rows with cadence 4: compactions at 4/8/12
    val root = graft.TempDirs.create("graft_bss_ac_")
    rows.grouped(20).zipWithIndex.foreach { case (chunk, b) =>
      BucketedStateStore.upsert(root, b.toLong, chunk.toDF("k", "n"), Seq("k"), 8, autoCompactEvery = 4)(sumMerge)
    }
    val got = BucketedStateStore.readLatest(spark, root).get
      .collect().map(_.toString).sorted.toSeq
    assert(got == expect, "auto-compaction changed the fold result")
    // chain bounded: after the last compaction (batch 12, keepLast=2) at
    // most 2 kept + batches 13/14 = 4 manifests survive
    val ids = BucketedStateStore.manifestIds(root)
    assert(ids.size <= 4, s"manifest chain not bounded: $ids")
    // version dirs bounded too (kept manifests' references only)
    val dirs = new java.io.File(root).list().count(_.startsWith("buckets_v"))
    assert(dirs <= 8, s"$dirs version dirs survived gc")
    // a redelivery of the LAST batch right after a compaction still has a base
    BucketedStateStore.upsert(root, 14L, rows.takeRight(20).toDF("k", "n"), Seq("k"), 8, autoCompactEvery = 4)(sumMerge)
    val retry = BucketedStateStore.readLatest(spark, root).get
      .collect().map(_.toString).sorted.toSeq
    assert(retry == expect, "retry after auto-compaction double-folded")
  }

  test("BucketedStateStore: Hadoop-API IO (rename and object-store publish) round-trips a store") {
    // exercise HadoopIO against the local FS in BOTH protocols: the
    // HDFS-shaped FileContext rename and the object-store direct create.
    // (No real HDFS/S3 in the sandbox; the protocol code paths are what
    // this pins — scheme routing is covered below.)
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    for (atomic <- Seq(true, false)) {
      val io = new BucketedStateStore.HadoopIO(fs, conf, renameAtomic = atomic)
      val root = graft.TempDirs.create(s"graft_hio_${atomic}_")
      io.publish(root, "manifest_00000000000000000007", "#numBuckets=4\n0\tbuckets_v7/_b=0")
      assert(io.exists(root, "manifest_00000000000000000007"))
      assert(io.readLines(root, "manifest_00000000000000000007").head == "#numBuckets=4")
      // overwrite-republish (the retry PUT) is legal in both protocols
      io.publish(root, "manifest_00000000000000000007", "#numBuckets=4\n1\tbuckets_v7/_b=1")
      assert(io.readLines(root, "manifest_00000000000000000007").last.startsWith("1\t"))
      assert(io.list(root).exists(_.startsWith("manifest_")))
      io.deleteTree(root, "manifest_00000000000000000007")
      assert(!io.exists(root, "manifest_00000000000000000007"))
    }
    // scheme routing: local paths ride nio; hdfs/s3a route to HadoopIO
    assert(BucketedStateStore.ioFor("/tmp/x").getClass.getSimpleName.contains("NioIO"))
    assert(BucketedStateStore.ioFor("file:/tmp/x").getClass.getSimpleName.contains("NioIO"))
  }

  test("GlobalRank: an order key merely CONTAINING a float keeps the stock window (no byte-equality stitch)") {
    import spark.implicits._
    val df = Seq((1L, 0.0), (2L, -0.0), (3L, 1.5)).toDF("id", "x")
      .withColumn("s", struct(col("x")))
    df.createOrReplaceTempView("r15_floatstruct")
    for (fn <- Seq("rank", "dense_rank", "percent_rank")) {
      val q = spark.sql(s"SELECT id, $fn() OVER (ORDER BY s) AS r FROM r15_floatstruct")
      val exec = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p                                                                => p
      }
      assert(
        exec.collect { case g: graft.plans.GlobalRankExec => g }.isEmpty,
        s"$fn over a float-bearing struct was rewritten:\n$exec"
      )
    }
    // -0.0 and 0.0 are SQL-equal: the stock plan ranks them as peers
    val r = spark.sql("SELECT id, rank() OVER (ORDER BY s) AS r FROM r15_floatstruct")
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r(1L) == r(2L), s"-0.0/0.0 split a peer group: $r")
    // a LONG-bearing struct still rewrites (the gate is float-specific)
    val okDf = Seq((1L, 2L)).toDF("id", "y").withColumn("s", struct(col("y")))
    okDf.createOrReplaceTempView("r15_longstruct")
    val q2 = spark.sql("SELECT id, rank() OVER (ORDER BY s) AS r FROM r15_longstruct")
    val exec2 = q2.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }
    assert(exec2.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty)
  }

  private def unwrap(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p                                                                => p
    }

  test("GlobalRank: global cume_dist() distributes and stitches peer-group ENDS across partitions") {
    // 200-row peer groups over 4 shuffle partitions (groups straddle
    // cuts) and id % 2 (500-row groups spanning WHOLE partitions — the
    // forward head-run chain's hard case)
    for (mod <- Seq(5, 2, 1)) {
      val df = spark.sql(s"SELECT id, cume_dist() OVER (ORDER BY id % $mod) AS cd FROM range(1000)")
      val exec = unwrap(df)
      assert(
        exec.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty,
        s"cume_dist over id%$mod not rewritten:\n$exec"
      )
      assert(
        exec.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
        }.isEmpty
      )
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val groupSize = 1000 / mod
      (0L until 1000L).foreach { id =>
        val key = (id % mod).toInt
        val expected = ((key + 1) * groupSize).toDouble / 1000.0
        assert(got(id) == expected, s"cume_dist(id=$id, mod=$mod): got ${got(id)}, want $expected")
      }
    }
    // untied order: cume_dist == rn/n; DESC order; NULL keys are peers
    val untied = spark.sql("SELECT id, cume_dist() OVER (ORDER BY id DESC) AS cd FROM range(100)")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    untied.foreach { case (id, cd) => assert(cd == (100 - id).toDouble / 100.0) }
    import spark.implicits._
    Seq(
      (1L, Some("b")), (2L, None: Option[String]), (3L, Some("a")),
      (4L, None: Option[String]), (5L, Some("a"))
    ).toDF("id", "g").createOrReplaceTempView("r15_cd_nulls")
    val ndf = spark.sql("SELECT id, cume_dist() OVER (ORDER BY g) AS cd FROM r15_cd_nulls")
    assert(unwrap(ndf).collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty)
    // NULLS FIRST asc: nulls (2,4) end at pos 2 → 0.4; 'a' (3,5) end 4 → 0.8; 'b' (1) → 1.0
    val nm = ndf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nm == Map(1L -> 1.0, 2L -> 0.4, 3L -> 0.8, 4L -> 0.4, 5L -> 0.8), s"$nm")
    // n = 1 edge
    val one = spark.sql("SELECT cume_dist() OVER (ORDER BY id) AS cd FROM range(1)").collect()
    assert(one.head.getDouble(0) == 1.0)
  }

  test("GlobalRank: randomized cume_dist differential vs the key-multiset reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    (1 to 3).foreach { trial =>
      val n = 500 + rnd.nextInt(1500)
      val mod = 1 + rnd.nextInt(20)
      val keys = Vector.fill(n)(rnd.nextInt(mod).toLong)
      keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "id").createOrReplaceTempView("r15_cd_rand")
      val atOrBelow = keys.distinct.sorted.map(k => k -> keys.count(_ <= k)).toMap
      val df = spark.sql("SELECT id, k, cume_dist() OVER (ORDER BY k) AS cd FROM r15_cd_rand")
      assert(
        unwrap(df).collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty,
        s"trial $trial not rewritten"
      )
      df.collect().foreach { row =>
        val exp = atOrBelow(row.getLong(1)).toDouble / n
        assert(row.getDouble(2) == exp, s"cume trial $trial key=${row.getLong(1)}")
      }
    }
  }

  test("GlobalPrefixExtremum: global running max/min distribute and match the stock window") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    // longs with nulls (incl. an all-null prefix), doubles with ±0.0 and
    // NaN, strings, decimals — each against Spark's own unpartitioned
    // window on a copy session config (the stock plan is forced by
    // disabling the rewrite via a struct-wrapped... simpler: compute the
    // reference with a driver-side scan of the sorted rows)
    val rows = (0 until 2000).map { i =>
      val v: Option[Double] =
        if (i < 3) None // all-null prefix
        else if (rnd.nextInt(10) == 0) None
        else if (rnd.nextInt(50) == 0) Some(if (rnd.nextBoolean()) 0.0 else -0.0)
        else if (rnd.nextInt(97) == 0) Some(Double.NaN)
        else Some(rnd.nextGaussian() * 100)
      (i.toLong, v)
    }
    rows.toDF("i", "v").createOrReplaceTempView("r15_ext")
    for ((fn, isMax) <- Seq(("max", true), ("min", false))) {
      val df = spark.sql(
        s"SELECT i, $fn(v) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM r15_ext"
      )
      val exec = unwrap(df)
      assert(
        exec.collect { case g: graft.plans.GlobalPrefixExtremumExec => g }.nonEmpty,
        s"global running $fn not rewritten:\n$exec"
      )
      assert(exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.isEmpty)
      // reference: driver scan with Spark's double ordering (NaN largest)
      val ord = implicitly[Ordering[Double]] // java-style: NaN > everything, -0.0 < 0.0
      var acc: Option[Double] = None
      val expect = rows.map { case (_, v) =>
        v.foreach { x =>
          acc = Some(acc match {
            case None    => x
            case Some(a) => if (isMax == ord.gt(x, a)) x else a
          })
        }
        acc
      }
      val got = df.orderBy("i").collect().map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      expect.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
        assert(
          e == g || (e.exists(_.isNaN) && g.exists(_.isNaN)),
          s"$fn at row $i: got $g want $e"
        )
      }
    }
    // strings and decimals ride it too
    val sdf = spark.sql(
      "SELECT max(concat('k', CAST(id % 7 AS STRING))) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM range(100)"
    )
    assert(unwrap(sdf).collect { case g: graft.plans.GlobalPrefixExtremumExec => g }.nonEmpty)
    assert(sdf.collect().last.getString(0) == "k6")
    val ddf = spark.sql(
      "SELECT min(CAST(id AS DECIMAL(10,2)) - 50) OVER (ORDER BY id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM range(100)"
    )
    assert(unwrap(ddf).collect { case g: graft.plans.GlobalPrefixExtremumExec => g }.nonEmpty)
    assert(ddf.collect().last.getDecimal(0).longValue == -50L)
  }

  test("q65/q73/s37 portable surface: cum_cents BIGINT, cum_dec DECIMAL(18,2), decayed_scaled BIGINT") {
    val q65 = graft.operators.Relational.q65CumRevenue(spark, sf)
    assert(q65.schema("cum_cents").dataType == org.apache.spark.sql.types.LongType)
    val q73 = graft.operators.Relational.q73CentsDecimal(spark, sf)
    // r17: decimal stays internal; the gate edge is BIGINT cents
    assert(q73.schema("cum_cents").dataType == org.apache.spark.sql.types.LongType)
    val s37 = graft.operators.StreamingBatch.s37StreamDecayTopk(spark, sf)
    assert(s37.schema("decayed_scaled").dataType == org.apache.spark.sql.types.LongType)
    assert(s37.count() > 0)
  }

  test("connected components == union-find on random graphs incl. long paths and cliques (5 seeded trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    (1 to 5).foreach { trial =>
      val n = 60 + rnd.nextInt(140)
      // mix of shapes: a LONG PATH (the O(diameter) killer for plain
      // label propagation), a clique, and random sparse edges
      val path = (0 until 30).map(i => (i.toLong, (i + 1).toLong))
      val clique = for (i <- 100 to 106; j <- (i + 1) to 106) yield (i.toLong, j.toLong)
      val sparse = Vector.fill(n)((rnd.nextInt(200).toLong + 200, rnd.nextInt(200).toLong + 200))
        .filter { case (a, b) => a != b }
      val edges = path ++ clique ++ sparse
      // in-memory union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(k => k -> find(k)).toMap
      val got = graft.operators.Dedup
        .components(edges.toDF("id_a", "id_b"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == expect, s"trial $trial: ${got.size} vs ${expect.size} nodes")
    }
  }

  test("GlobalOffsetWindow: global lag/lead distribute and match stock across partition boundaries") {
    // k from 1 to far beyond a partition's row count (forces the seed
    // walk across MULTIPLE partitions), defaults, strings, nulls
    for (k <- Seq(1, 3, 97, 300)) {
      for ((fn, sign) <- Seq(("lag", -1), ("lead", 1))) {
        val df = spark.sql(
          s"SELECT id, $fn(id * 7, $k) OVER (ORDER BY id) AS v FROM range(1000)"
        )
        val exec = unwrap(df)
        assert(
          exec.collect { case g: graft.plans.GlobalOffsetWindowExec => g }.nonEmpty,
          s"$fn($k) not rewritten:\n$exec"
        )
        assert(exec.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
        }.isEmpty)
        val got = df.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        (0L until 1000L).foreach { id =>
          val src = id + sign * k
          val expected = if (src >= 0 && src < 1000) Some(src * 7) else None
          assert(got(id) == expected, s"$fn(k=$k, id=$id): ${got(id)} != $expected")
        }
      }
    }
    // non-null default + string values + expression input
    val d = spark.sql(
      "SELECT id, lag(concat('v', CAST(id AS STRING)), 2, 'none') OVER (ORDER BY id) AS v FROM range(10)"
    )
    assert(unwrap(d).collect { case g: graft.plans.GlobalOffsetWindowExec => g }.nonEmpty)
    val dm = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dm(0L) == "none" && dm(1L) == "none" && dm(2L) == "v0" && dm(9L) == "v7")
    // ignoreNulls RIDES the exec since round 18 (non-null boundary
    // metadata — see Round18Spec's parity battery); the conservatism
    // probe moves to the still-stock shapes: k beyond the metadata
    // gate and a non-literal offset
    val ig = spark.sql(
      "SELECT id, lag(id, 1) IGNORE NULLS OVER (ORDER BY id) AS v FROM range(10)"
    )
    assert(unwrap(ig).collect { case g: graft.plans.GlobalOffsetWindowExec => g }.nonEmpty)
    val bigK = spark.sql(
      "SELECT id, lag(id, 2000) OVER (ORDER BY id) AS v FROM range(10)"
    )
    assert(unwrap(bigK).collect { case g: graft.plans.GlobalOffsetWindowExec => g }.isEmpty)
    // randomized differential with nulls in the VALUE column
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    val rows = (0 until 700).map(i => (i.toLong, if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(100).toLong)))
    rows.toDF("i", "x").createOrReplaceTempView("r15_off")
    for (k <- Seq(2, 50)) {
      val got = spark.sql(s"SELECT i, lead(x, $k) OVER (ORDER BY i) AS v FROM r15_off")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      rows.foreach { case (i, _) =>
        val expected = if (i + k < 700) rows((i + k).toInt)._2 else None
        assert(got(i) == expected, s"lead($k) at $i")
      }
    }
  }

  test("GlobalRangePrefixSum: default-frame global running sum matches stock incl. ties and nulls") {
    import spark.implicits._
    // sum(x) OVER (ORDER BY k) with NO frame clause = RANGE through the
    // peer group's end — tie groups span partitions, values have nulls,
    // incl. an all-null FIRST group (null prefix semantics)
    val rnd = new scala.util.Random(20260820L)
    val rows = (0 until 1500).map { i =>
      val k = rnd.nextInt(12) // 12 fat tie groups
      val v: Option[Long] = if (k == 0 || rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toLong)
      (i.toLong, k, v)
    }
    rows.toDF("i", "k", "x").createOrReplaceTempView("r15_rps")
    val df = spark.sql("SELECT i, k, sum(x) OVER (ORDER BY k) AS s FROM r15_rps")
    val exec = unwrap(df)
    assert(
      exec.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty,
      s"RANGE-frame running sum not rewritten:\n$exec"
    )
    assert(exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty)
    // reference: per key, sum of x over ALL rows with key' <= key; null
    // iff no non-null value in that prefix
    val byKey = rows.groupBy(_._2)
    val keys = byKey.keys.toSeq.sorted
    val prefix = scala.collection.mutable.Map.empty[Int, Option[Long]]
    var runTot = 0L; var seen = false
    keys.foreach { k =>
      byKey(k).foreach { case (_, _, v) => v.foreach { x => runTot += x; seen = true } }
      prefix(k) = if (seen) Some(runTot) else None
    }
    df.collect().foreach { r =>
      val k = r.getInt(1)
      val got = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(got == prefix(k), s"range sum at k=$k: $got != ${prefix(k)}")
    }
    // decimal leg, cast back to (18,2) on emission like q65's discipline
    val dd = spark.sql(
      "SELECT k, sum(CAST(x AS DECIMAL(10,2))) OVER (ORDER BY k) AS s FROM r15_rps"
    )
    assert(unwrap(dd).collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty)
    dd.collect().foreach { r =>
      val k = r.getInt(0)
      val got = if (r.isNullAt(1)) None else Some(r.getDecimal(1).longValue)
      assert(got == prefix(k), s"decimal range sum at k=$k")
    }
    // an EXPLICIT ROWS frame still rides the original prefix exec
    val rf = spark.sql(
      "SELECT i, sum(x) OVER (ORDER BY k, i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM r15_rps"
    )
    assert(unwrap(rf).collect { case g: graft.plans.GlobalPrefixSumExec => g }.nonEmpty)
  }

  test("v30 graph ANN: exhaustive twin equals v1 exactly; beam search clears the recall floor") {
    val exact = graft.operators.Similarity.v1KnnBrute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val twin = graft.operators.Similarity.v30Exhaustive(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(twin == exact, "v30's complete-pool selection diverged from v1")
    val got = graft.operators.Similarity.v30KnnGraphSearch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // structure: exactly k per query, ranks 1..k, no self hits
    val byQ = got.groupBy(_._1)
    assert(byQ.values.forall(_.length == 5) && got.forall { case (q, c) => q != c })
    val recall = (got.toSet & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"graph-search recall@5 = $recall (measured 1.0 at sf0.001/sf0.01)")
  }

  test("unified rewrite: MIXED same-spec window expressions chain over one exchange; RANGE count") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260821L)
    val rows = (0 until 1200).map { i =>
      val k = rnd.nextInt(10)
      val v: Option[Long] = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(50).toLong)
      (i.toLong, k, v)
    }
    rows.toDF("i", "k", "x").createOrReplaceTempView("r15_mixed")
    // sum/count/count(*)/rank over the SAME spec — the analyzer merges
    // them into ONE Window node; pre-round-15 rules demanded a single
    // expression and silently kept the 1-task plan
    val df = spark.sql(
      """SELECT i, k, sum(x) OVER w AS s, count(x) OVER w AS c,
        | count(*) OVER w AS cs, rank() OVER w AS r
        |FROM r15_mixed WINDOW w AS (ORDER BY k)""".stripMargin
    )
    val exec = unwrap(df)
    assert(exec.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.length == 3,
      s"sum+2 counts should chain 3 range execs:\n$exec")
    assert(exec.collect { case g: graft.plans.GlobalRankExec => g }.length == 1)
    assert(exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, s"stock window survived:\n$exec")
    // ONE exchange for the whole chain
    assert(exec.collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
    }.length == 1, s"chain should share one exchange:\n$exec")
    // reference per key
    val byKey = rows.groupBy(_._2)
    val keys = byKey.keys.toSeq.sorted
    var sAcc = 0L; var seen = false; var cAcc = 0L; var csAcc = 0L; var rk = 1L
    val ref = scala.collection.mutable.Map.empty[Int, (Option[Long], Long, Long, Long)]
    keys.foreach { k =>
      val g = byKey(k)
      val rankOfK = rk
      g.foreach { case (_, _, v) => v.foreach { x => sAcc += x; seen = true; cAcc += 1 }; csAcc += 1 }
      rk += g.length
      ref(k) = (if (seen) Some(sAcc) else None, cAcc, csAcc, rankOfK)
    }
    df.collect().foreach { r =>
      val k = r.getInt(1)
      val (es, ec, ecs, er) = ref(k)
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == es, s"sum at k=$k")
      assert(r.getLong(3) == ec, s"count(x) at k=$k")
      assert(r.getLong(4) == ecs, s"count(*) at k=$k")
      assert(r.getInt(5).toLong == er, s"rank at k=$k")
    }
    // round 16: avg(long) now DECOMPOSES (sum + count + one divide)
    // instead of dragging the window onto the stock 1-task plan — the
    // round-15 bail this block used to pin is retired; Round16Spec pins
    // the decomposition, the mixed-window split, and their parity
    val mixedAvg = spark.sql(
      """SELECT i, sum(x) OVER w AS s, avg(x) OVER w AS a
        |FROM r15_mixed WINDOW w AS (ORDER BY k)""".stripMargin
    )
    val mexec = unwrap(mixedAvg)
    assert(mexec.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.length == 3,
      s"sum + avg(sum,count) should chain 3 range execs:\n$mexec")
    assert(mexec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, s"stock window survived the avg decomposition:\n$mexec")
  }

  test("RANGE-frame min/max (the default frame) distribute and match stock through group ends") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260822L)
    val rows = (0 until 1000).map { i =>
      val k = rnd.nextInt(9)
      val v: Option[Long] = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toLong - 500)
      (i.toLong, k, v)
    }
    rows.toDF("i", "k", "x").createOrReplaceTempView("r15_rext")
    for ((fn, isMax) <- Seq(("max", true), ("min", false))) {
      val df = spark.sql(s"SELECT i, k, $fn(x) OVER (ORDER BY k) AS m FROM r15_rext")
      val exec = unwrap(df)
      assert(
        exec.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty,
        s"default-frame $fn not rewritten:\n$exec"
      )
      assert(exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.isEmpty)
      // reference: extremum through each key's group END
      val keys = rows.map(_._2).distinct.sorted
      var acc: Option[Long] = None
      val ref = keys.map { k =>
        rows.filter(_._2 == k).foreach { case (_, _, v) =>
          v.foreach(x => acc = Some(acc.fold(x)(a => if (isMax == (x > a)) x else a)))
        }
        k -> acc
      }.toMap
      df.collect().foreach { r =>
        val got = if (r.isNullAt(2)) None else Some(r.getLong(2))
        assert(got == ref(r.getInt(1)), s"$fn at k=${r.getInt(1)}")
      }
    }
    // string leg (UTF8String retention through the metadata stitch)
    val sd = spark.sql(
      "SELECT k, max(concat('v', CAST(x AS STRING))) OVER (ORDER BY k) AS m FROM r15_rext"
    )
    assert(unwrap(sd).collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty)
    assert(sd.count() == 1000)
  }

  test("q57's rank under its tile checkpoint plans as GlobalRankExec — no unpartitioned WindowExec") {
    // LintSurfaceSpec lints q57's final plan, where the checkpoint hides
    // the rank; this pins the subplan the checkpoint materializes
    val exec = unwrap(graft.operators.Relational.q57Deciles(spark, sf))
    assert(exec.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty, s"q57:\n$exec")
    assert(
      exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.isEmpty,
      s"q57 still plans a 1-task window:\n$exec"
    )
  }

  test("q69/q70/e52 plans ride the new execs — no unpartitioned WindowExec anywhere") {
    def pin(df: org.apache.spark.sql.DataFrame, name: String, wantCume: Boolean): Unit = {
      val exec = unwrap(df)
      val hit =
        if (wantCume) exec.collect { case g: graft.plans.GlobalRankExec => g }.nonEmpty
        else exec.collect { case g: graft.plans.GlobalPrefixExtremumExec => g }.nonEmpty
      assert(hit, s"$name missing the rewrite:\n$exec")
      assert(
        exec.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
        }.isEmpty,
        s"$name still plans a 1-task window:\n$exec"
      )
    }
    pin(graft.operators.Relational.q69PriceBandCume(spark, sf), "q69", wantCume = true)
    pin(graft.operators.Relational.q70RecordOrders(spark, sf), "q70", wantCume = false)
    pin(graft.operators.Events.e52HighWatermark(spark, sf), "e52", wantCume = false)
    // q72: the default-RANGE cumulative; e54: chained offset windows
    val q72 = unwrap(graft.operators.Relational.q72DayCloseCumRevenue(spark, sf))
    assert(q72.collect { case g: graft.plans.GlobalRangePrefixSumExec => g }.nonEmpty, s"q72:\n$q72")
    val e54 = unwrap(graft.operators.Events.e54GlobalInterarrival(spark, sf))
    assert(e54.collect { case g: graft.plans.GlobalOffsetWindowExec => g }.length == 2, s"e54:\n$e54")
    for (ex <- Seq(q72, e54))
      assert(ex.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }.isEmpty)
  }
}
