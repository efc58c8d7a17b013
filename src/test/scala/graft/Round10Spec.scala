package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 additions. Headline: the OCC commit lock moved from an
  * mtime-staleness takeover protocol (two waiters could both judge the
  * lock stale, leapfrog each other's fresh locks, and BOTH enter the
  * critical section — exactly the lost update commitIfCurrent exists to
  * prevent) to an OS [[java.nio.channels.FileLock]]: a crashed holder's
  * lock dies with its process, and a live-but-paused holder's lock can
  * never be stolen. These tests pin the two ends of that contract that
  * the round-9 racing test never exercised.
  */
/** The ingest DAEMON (graft.IngestMain): khose's user contract is a
  * config-driven service that runs until stopped, not a library call.
  * This spec drives the identical path `main` runs (config-file parse →
  * launch → metrics listener → stop-file drain) against a FileSource,
  * then restarts from the checkpoint and pins exactly-once across the
  * stop/restart boundary.
  */
class IngestDaemonSpec extends AnyFunSuite {
  import TestSession._
  import java.nio.file.{Files, Paths}

  private def awaitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(100); ok = cond }
    ok
  }

  test("parseConfig: properties lines and flat JSON produce the same map") {
    val props = IngestMain.parseConfig(
      """# khose-style properties
        |source.type=file
        |source.path=/data/in
        |schema.ddl=event_id BIGINT, ts TIMESTAMP
        |""".stripMargin)
    val json = IngestMain.parseConfig(
      """{"source.type": "file", "source.path": "/data/in",
        | "schema.ddl": "event_id BIGINT, ts TIMESTAMP"}""".stripMargin)
    assert(props == json)
    assert(props("schema.ddl") == "event_id BIGINT, ts TIMESTAMP")
  }

  test("daemon with dlq.path: malformed lines land in the DLQ, clean table stays clean, both exactly-once") {
    val root = TempDirs.create("graft_daemon_dlq_")
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/mixed.json"),
      Seq(
        """{"event_id": 1, "user_id": 1, "ts": "2024-01-01 01:00:00", "event_type": "click"}""",
        """this is not json at all""",
        """{"event_id": 2, "user_id": 2, "ts": "2024-01-01 02:00:00", "event_type": "view"}""",
        """{"broken": """ // truncated record
      ).mkString("\n"))
    val conf = IngestMain.parseConfig(
      s"""source.type=file
         |source.path=$in
         |schema.ddl=event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING
         |ts.column=ts
         |sink.path=$root/out
         |sink.checkpoint=$root/ck
         |sink.partitions=1
         |trigger.mode=availableNow
         |dlq.path=$root/dlq
         |""".stripMargin)
    val daemon = IngestMain.launch(spark, conf, _ => ())
    daemon.await(pollMs = 100L)
    val clean = spark.read.parquet(s"$root/out")
    assert(clean.count() == 2, "only well-formed records land")
    assert(!clean.columns.contains("_corrupt"), "clean table carries no corrupt column")
    val dlq = spark.read.parquet(s"$root/dlq")
    assert(dlq.count() == 2, "both malformed lines land in the DLQ")
    val payloads = dlq.select("payload").collect().map(_.getString(0))
    assert(payloads.exists(_.contains("not json")), payloads.mkString("|"))
  }

  test("metrics.file sink: metrics lines append to the configured file AND stdout sink") {
    val root = TempDirs.create("graft_msink_")
    val sink = IngestMain.metricsSink(Map("metrics.file" -> s"$root/m/ingest.metrics"))
    sink("[ingest-metrics] {\"batch\":0}")
    sink("[ingest-metrics] {\"batch\":1}")
    val lines = Files.readAllLines(Paths.get(s"$root/m/ingest.metrics"))
    assert(lines.size == 2 && lines.get(1).contains("\"batch\":1"))
  }

  test("daemon: config file -> >=2 metered micro-batches -> stop-file drain -> checkpoint restart is exactly-once") {
    val root = TempDirs.create("graft_daemon_")
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val stopFile = s"$root/STOP"
    val confFile = Paths.get(s"$root/ingest.conf")
    Files.writeString(confFile,
      s"""source.type=file
         |source.path=$in
         |source.maxPerTrigger=1
         |schema.ddl=event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING
         |ts.column=ts
         |sink.path=$root/out
         |sink.checkpoint=$root/ck
         |sink.partitions=1
         |trigger.mode=processingTime
         |trigger.intervalMs=100
         |control.stopFile=$stopFile
         |""".stripMargin)
    def line(id: Long, t: String) =
      s"""{"event_id": $id, "user_id": ${id % 3}, "ts": "$t", "event_type": "click"}"""
    Files.writeString(Paths.get(s"$in/a.json"),
      (1L to 3L).map(i => line(i, s"2024-01-01 0$i:00:00")).mkString("\n"))
    Files.writeString(Paths.get(s"$in/b.json"),
      (4L to 5L).map(i => line(i, s"2024-01-02 0${i - 3}:00:00")).mkString("\n"))

    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val conf = IngestMain.parseConfig(Files.readString(confFile))
    val daemon = IngestMain.launch(spark, conf, metrics.add(_))
    val awaiter = new Thread(() => daemon.await(pollMs = 100L))
    awaiter.start()
    try {
      def landed(): Long =
        try spark.read.parquet(s"$root/out").count() catch { case _: Exception => 0L }
      assert(awaitUntil(60000)(landed() == 5L), s"expected 5 landed rows, got ${landed()}")
      // maxPerTrigger=1 forces the two staged files into >=2 data batches,
      // each of which must have emitted a metrics line
      assert(awaitUntil(20000) {
        metrics.toArray(Array.empty[String]).count(m =>
          m.startsWith("[ingest-metrics]") && !m.contains("\"rows\":0")) >= 2
      }, s"expected >=2 data-batch metrics lines, got:\n${metrics.toArray.mkString("\n")}")
      // ops stop: touch the control file; the daemon drains and await() returns
      Files.writeString(Paths.get(stopFile), "")
      awaiter.join(60000)
      assert(!awaiter.isAlive && daemon.queries.forall(!_.isActive))
      // time partitioning reached the sink layout
      assert(Files.exists(Paths.get(s"$root/out/dt=2024-01-01/hr=01")))

      // restart from the SAME checkpoint with one new file: only the new
      // file lands — nothing is re-ingested, nothing is lost
      Files.delete(Paths.get(stopFile))
      Files.writeString(Paths.get(s"$in/c.json"),
        (6L to 9L).map(i => line(i, s"2024-01-03 0${i - 5}:00:00")).mkString("\n"))
      val daemon2 = IngestMain.launch(spark, conf, metrics.add(_))
      val awaiter2 = new Thread(() => daemon2.await(pollMs = 100L))
      awaiter2.start()
      try {
        assert(awaitUntil(60000)(landed() == 9L), s"expected 9 rows after restart, got ${landed()}")
        val ids = spark.read.parquet(s"$root/out")
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(ids == (1L to 9L), s"exactly-once violated: $ids")
      } finally {
        Files.writeString(Paths.get(stopFile), "")
        awaiter2.join(60000)
        daemon2.stop()
      }
    } finally { daemon.stop(); awaiter.join(10000) }
  }
}

/** t29's driver-vocab bound (VERDICT r9 scale complaint #1): the BPE
  * trainer's collect is now capped by a minCount floor and a maxVocab
  * top-N inside the plan. The floor/cap must be EXACTLY equivalent to
  * physically removing the sub-threshold words from the corpus — no
  * other merge may move.
  */
class BpeVocabBoundSpec extends AnyFunSuite {
  import TestSession._
  import graft.operators.TextAnalysis

  // Sennrich fixture from Round9Spec: low:5 lower:2 newest:6 widest:3
  private def stage(words: Seq[(String, Int)]): String = {
    import spark.implicits._
    val dir = TempDirs.create("graft_bpe_bound_")
    words.flatMap { case (w, n) => Seq.fill(n)(w) }.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
  private def merges(dir: String, minCount: Long = 1L, maxVocab: Int = 1 << 20) =
    TextAnalysis.trainBpeMerges(spark, dir, nMerges = 5, minCount = minCount, maxVocab = maxVocab)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("minCount floor == training on the corpus with sub-threshold words removed") {
    val full = stage(Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3))
    val pruned = stage(Seq("low" -> 5, "newest" -> 6, "widest" -> 3)) // 'lower' (wf=2) dropped
    assert(merges(full, minCount = 3L) == merges(pruned))
    // and the floor genuinely changed something vs the unbounded run
    assert(merges(full, minCount = 3L) != merges(full))
  }

  test("maxVocab cap == training on only the top-N words (freq desc, lexico ties)") {
    val full = stage(Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3))
    val top2 = stage(Seq("low" -> 5, "newest" -> 6))
    assert(merges(full, maxVocab = 2) == merges(top2))
  }

  test("the capped aggregate plans as a top-N (TakeOrderedAndProject), not a global sort") {
    import org.apache.spark.sql.functions._
    val dir = stage(Seq("low" -> 5, "newest" -> 6))
    val capped = graft.sources.Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .filter(col("wf") >= 2L).orderBy(desc("wf"), col("w")).limit(1000)
    assert(capped.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }
}

/** s6's COW upsert now publishes through the OCC snapshot commit
  * (VERDICT r9 item 5): two concurrent writers merging into ONE store
  * must both survive — the last-writer-wins manifest overwrite this
  * replaces silently dropped a whole writer's merge whenever two landed
  * together.
  */
class OccUpsertRaceSpec extends AnyFunSuite {
  import TestSession._
  import graft.operators.StreamingBatch
  import graft.sources.SnapshotStore

  test("two racing upsert writers into one store: every batch's rows survive, versions linearize") {
    import spark.implicits._
    val store = TempDirs.create("graft_occ_upsert_") + "/store"
    val mkBatch = (writer: Int, batch: Int) =>
      // disjoint user spaces per writer: a lost merge = missing users
      (0 until 8).map { u =>
        val uid = writer * 1000 + u
        (uid.toLong, (batch * 100 + u).toLong, "click", 1.0,
          new java.sql.Timestamp(1700000000000L + batch * 1000L + u))
      }.toDF("user_id", "event_id", "event_type", "value", "ts")
    val nBatches = 6
    val threads = (0 until 2).map { w =>
      new Thread(() => (0 until nBatches).foreach(b => StreamingBatch.occUpsertLatestWins(mkBatch(w, b), store)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // 12 commits happened, each a distinct linearized version
    assert(SnapshotStore.currentVersion(store).contains((2 * nBatches).toLong))
    val fin = SnapshotStore.readCurrent(spark, store)
    // no lost update: all 16 users present, each at their LATEST event
    assert(fin.count() == 16)
    val evs = fin.collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    (0 until 2).foreach { w =>
      (0 until 8).foreach { u =>
        assert(evs(w * 1000L + u) == (nBatches - 1) * 100L + u,
          s"user ${w * 1000 + u} lost its latest event: ${evs(w * 1000L + u)}")
      }
    }
    // losers' staged debris was cleaned up
    val stray = java.nio.file.Files.list(java.nio.file.Paths.get(store)).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(stray).asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.startsWith("_stage_")), s"stale staging left behind: $names")
  }
}

/** The d2/d3-path expressions (ShingleHashes / MinHashSig /
  * MinHashFromHashes / SimHash64 / SimHash64FromHashes) dropped
  * CodegenFallback for real doGenCode via the ExprKernels static-call
  * pattern (VERDICT item deferred since round 3). CODEGEN_ONLY factory
  * mode makes janino failure a hard error instead of a silent
  * interpreted fallback, so these tests prove the generated code
  * COMPILES AND RUNS; value parity with the interpreted kernels is a
  * same-call identity (both paths call the same kernel), and the
  * oracle-gated d2/d3 rows pin end-to-end values.
  */
class ExprCodegenSpec extends AnyFunSuite {
  import TestSession._
  import graft.plans.GraftExpressions._
  import org.apache.spark.sql.functions._

  private def withCodegenOnly[T](f: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try f
    finally prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
  }

  test("all five dedup-path expressions execute under CODEGEN_ONLY (no fallback)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "jumps")),
      (2L, Seq("pack", "my", "box", "with", "five", "dozen")),
      (3L, Seq.empty[String])
    ).toDF("id", "tk")
    val rows = withCodegenOnly {
      df.select(
        col("id"),
        shingleHashes(col("tk"), 3).as("sh"),
        minhashSig(col("tk"), 16).as("mh"),
        simhash64(col("tk")).as("s64"),
        minhashFromHashes(shingleHashes(col("tk"), 3), 16).as("mh2"),
        simhash64FromHashes(shingleHashes(col("tk"), 3)).as("s64h")
      ).collect()
    }
    assert(rows.length == 3)
    // generated values == interpreted kernel values (direct eval)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(Array("the", "quick", "brown", "fox", "jumps")
      .map(UTF8String.fromString(_).asInstanceOf[Any]))
    val expectSh = graft.plans.ExprKernels.shingleHashes(toks, 3).toLongArray.toSeq
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getAs[scala.collection.Seq[Long]]("sh").toSeq == expectSh)
    assert(r1.getAs[Long]("s64") == graft.plans.ExprKernels.simHash64(toks))
    // empty token list: empty shingles, all-MaxValue minhash, simhash 0
    val r3 = rows.find(_.getLong(0) == 3L).get
    assert(r3.getAs[scala.collection.Seq[Long]]("sh").isEmpty)
    assert(r3.getAs[scala.collection.Seq[Long]]("mh").forall(_ == Long.MaxValue))
    assert(r3.getAs[Long]("s64") == 0L)
  }

  test("d2's hot path stays inside WholeStageCodegen (no fallback span break)") {
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        minhashFromHashes(shingleHashes(split(col("text"), " "), 3), 16).as("sig"))
    val stages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    // the projection computing the expressions must sit INSIDE a
    // codegen stage (its string form carries the '*(n)' stage marker)
    assert(stages.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(stages.exists(_.toString.contains("minhashfromhashes")))
  }

  test("d4's cross join and pair intersect run inside WholeStageCodegen") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = graft.operators.Dedup.d4NgramJaccard(spark, sf)
    df.collect() // runs df's own adaptive plan to its final form
    // the operators a codegen stage fuses: its subtree down to the
    // InputAdapters that feed it from non-codegen operators
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other           => other +: other.children.flatMap(fused)
    }
    val stages = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => fused(w.child)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(stages.exists(_.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec])), plan)
    assert(stages.exists(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.plans.SortedLongIntersectSize])))), plan)
  }
}

/** Remaining r9 ADVICE fixes with observable behavior: the as-of exec
  * rejects null keys/times loudly (previously null unboxed to 0L and
  * silently joined under key 0), and c24's gen1 genuinely lacks the
  * evolved partition column on disk.
  */
class AdviceFixSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("AsofJoinExec rejects a NULL key/time at runtime instead of joining under 0") {
    import spark.implicits._
    val left = Seq((Some(1L), 10L), (None: Option[Long], 20L))
      .toDF("k", "t")
    val right = Seq((1L, 5L, 100L)).toDF("k", "t", "tie")
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    val joined = graft.plans.AsofJoin.asof(left, right, "k", "t", "rk", "rt", "tie")
    val ex = intercept[Exception](joined.collect())
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(ex).exists(m => m != null && m.contains("NULL left key")), chain(ex).toString)
  }

  test("c24 gen1 files physically lack hr; the reader derives it from ts") {
    val dir = graft.operators.Maintenance.partEvoStore(spark, sf)
    val g1raw = spark.read.parquet(s"$dir/gen1")
    assert(!g1raw.columns.contains("hr"), g1raw.columns.mkString(","))
    val (g1, _) = graft.operators.Maintenance.partEvoRead(spark, dir)
    assert(g1.columns.contains("hr"))
    // derived hr matches ts for every row
    assert(g1.filter(col("hr") =!= hour(col("ts"))).count() == 0)
  }
}

/** Round-10 surface additions: q52 market share, s26 daemon-gated
  * ingest, p8 incremental publish. The oracle rows gate values; these
  * pin the structural claims.
  */
class Round10QuerySpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("q52: asia revenue is a genuine partition of total (0 < share < 1 somewhere, never > total)") {
    val rows = graft.operators.Relational.q52MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, a) = (r.getAs[Double]("total_revenue"), r.getAs[Double]("asia_revenue"))
      assert(a >= 0 && a <= t)
      assert(math.abs(r.getAs[Double]("asia_share") - a / t) < 1e-6)
    }
    assert(rows.exists(r => r.getAs[Double]("asia_share") > 0 && r.getAs[Double]("asia_share") < 1))
  }

  test("q52 plans exactly one fact-fact exchange pair; dims ride broadcasts") {
    val plan = graft.operators.Relational.q52MarketShare(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "supplier-flag dim must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("s26 daemon ingest lands exactly what s1's library call lands") {
    val viaDaemon = graft.operators.StreamingBatch.s26DaemonIngest(spark, sf).collect()
    val viaLib = graft.operators.StreamingBatch.s1IngestParquet(spark, sf).collect()
    assert(viaDaemon.map(_.toString).toSeq == viaLib.map(_.toString).toSeq)
  }

  test("e37: bursts are maximal runs — every burst hour is >= 1.5x its type's mean, islands don't touch") {
    val rows = graft.operators.Events.e37BurstWindows(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_.getAs[java.sql.Timestamp]("start_h").getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // maximality: consecutive islands are separated by > 1 hour
          assert(b.getAs[java.sql.Timestamp]("start_h").getTime -
            a.getAs[java.sql.Timestamp]("end_h").getTime > 3600000L)
        case _ => ()
      }
      bs.foreach(r => assert(r.getAs[Long]("peak") <= r.getAs[Long]("n_events")))
    }
  }

  test("m13: scenes partition every clip's frames exactly, spans are contiguous") {
    val rows = graft.operators.Multimodal.m13SceneSegments(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (docId, scenes) =>
      val sorted = scenes.sortBy(_.getAs[Long]("scene_id"))
      val nf = 24 + docId % 40
      // scenes tile [0, nf): each starts where the last ended + 1
      assert(sorted.head.getAs[Long]("start_f") == 0L)
      assert(sorted.last.getAs[Long]("end_f") == nf - 1)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getAs[Long]("start_f") == a.getAs[Long]("end_f") + 1)
        case _ => ()
      }
      assert(sorted.map(_.getAs[Long]("n_frames")).sum == nf)
    }
  }

  test("t32: novelty in [0,1]; a doc duplicated verbatim across the halves scores 0") {
    import spark.implicits._
    val dir = TempDirs.create("graft_t32_")
    // doc 0 (reference) and doc 2 (frontier) share the exact text; doc 3 is fresh
    Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five six"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally new words never seen before")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.t32NgramNovelty(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
    assert(out(2L) == 0.0, s"verbatim dup must have zero novelty: $out")
    assert(out(3L) == 1.0, s"fresh doc must be fully novel: $out")
    val real = graft.operators.TextAnalysis.t32NgramNovelty(spark, sf).collect()
    assert(real.forall(r => r.getAs[Double]("novelty") >= 0 && r.getAs[Double]("novelty") <= 1))
  }

  test("v15: fusion is load-bearing — fused top-k matches neither arm's own top-k everywhere") {
    val rows = graft.operators.Similarity.v15HybridRrf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length % 5 == 0)
    rows.foreach { r =>
      val (rv, rl) = (r.getAs[Int]("rn_vec"), r.getAs[Int]("rn_lex"))
      val expect = math.round(
        (1.0 / (60 + rv) + 1.0 / (60 + rl)) * 1e6
      ) / 1e6
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-9)
    }
    // if fusion always equaled the vector arm, rn == rn_vec for every row
    assert(rows.exists(r => r.getAs[Int]("rn") != r.getAs[Int]("rn_vec")),
      "fusion never disagreed with the vector arm — lexical arm is dead weight")
  }

  test("s27 streaming novelty lands exactly t32's batch answer") {
    val stream = graft.operators.StreamingBatch.s27StreamNovelty(spark, sf).collect()
    val batch = graft.operators.TextAnalysis.t32NgramNovelty(spark, sf).collect()
    assert(stream.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("v16: triangle counts respect the handshake bound and coefficients live in [0,1]") {
    val rows = graft.operators.Similarity.v16TriangleCount(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (deg, tri, cc) =
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"), r.getAs[Double]("clustering"))
      assert(tri <= deg * (deg - 1) / 2, s"more triangles than neighbor pairs: $r")
      assert(cc >= 0.0 && cc <= 1.0)
    }
    // a kNN graph over clustered-ish embeddings has SOME triangles
    assert(rows.map(_.getAs[Long]("n_tri")).sum > 0)
  }

  test("e38: acf(0) would be 1 by construction — every reported lag is in [-1,1], all types x lags present") {
    val rows = graft.operators.Events.e38Acf(spark, sf).collect()
    val types = graft.sources.Tables.events(spark, sf)
      .select("event_type").distinct().count()
    assert(rows.length == types * 6)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9, r.toString))
  }

  test("t33: RAKE on a hand corpus — multi-word phrase outranks single stopword-split words") {
    import spark.implicits._
    val dir = TempDirs.create("graft_rake_")
    // 'deep neural networks' is a 3-word run; 'data' appears alone twice
    Seq((0L, "deep neural networks in the data and data of it"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextAnalysis.t33RakeKeywords(spark, dir).collect()
    assert(rows.head.getAs[String]("phrase") == "deep neural networks",
      rows.map(_.toString).mkString("\n"))
    // deg/freq: each of the 3 run words scores 3/1; phrase sums to 9
    assert(rows.head.getAs[Double]("score") == 9.0)
    // 'data' scores 1 per occurrence (runs of length 1): phrase score 1
    val dataRow = rows.find(_.getAs[String]("phrase") == "data").get
    assert(dataRow.getAs[Double]("score") == 1.0)
  }

  test("p8: the frontier mix is genuine — some arrivals dedup away, some survive, store has 1 version") {
    val out = graft.operators.Curate.p8CurateIncremental(spark, sf).collect()
    val nSurvived = out.map(_.getAs[Long]("n_docs")).sum
    val half = graft.sources.Tables.documents(spark, sf).count() / 2
    assert(nSurvived > 0, "dedup must not drop the whole frontier")
    assert(nSurvived < half, "dedup must drop SOMETHING (saturated-URL regression guard)")
  }
}

/** graft.SqlMain — the query half of the khose user contract: a SQL
  * script against the landed tables, multi-statement (temp views feed
  * the final SELECT), results printed or landed.
  */
class SqlMainSpec extends AnyFunSuite {
  import TestSession._
  import java.nio.file.{Files, Paths}

  test("splitStatements: comments stripped, ; inside quotes preserved, blanks dropped") {
    val stmts = SqlMain.splitStatements(
      """-- report script
        |CREATE TEMP VIEW v AS SELECT 'a;b' AS s; -- trailing comment
        |
        |SELECT * FROM v;""".stripMargin)
    assert(stmts.length == 2)
    assert(stmts.head.contains("'a;b'"))
    assert(stmts(1) == "SELECT * FROM v")
  }

  test("end-to-end: register staged tables, run a multi-statement script, land csv") {
    val out = TempDirs.create("graft_sqlmain_") + "/report"
    val views = SqlMain.registerTables(spark, sf)
    assert(views.contains("lineitem") && views.contains("events") && views.contains("documents"))
    val result = SqlMain.runScript(spark,
      """CREATE OR REPLACE TEMP VIEW big AS
        | SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY 1;
        |SELECT count(*) AS n_orders, CAST(sum(qty) AS DOUBLE) AS total_qty FROM big
        |""".stripMargin)
    val row = result.collect().head
    val expect = graft.sources.Tables.lineitem(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect().head.getDouble(0)
    assert(row.getAs[Double]("total_qty") == expect)
    // graft extension functions resolve through the SQL surface
    val g = SqlMain.runScript(spark,
      "SELECT graft_simhash64(array('a','b','c')) AS h").collect().head
    assert(g.schema.fieldNames.sameElements(Array("h")))
    result.write.mode("overwrite").format("csv").option("header", "true").save(out)
    assert(spark.read.option("header", "true").csv(out).count() == 1)
  }
}

/** Orphan-staging GC: the space the OCC crash-safety story leaks
  * (crashed writers' `_stage_*` dirs) is reclaimable without touching
  * versions, the manifest, or an in-flight writer's fresh staging.
  */
class OrphanGcSpec extends AnyFunSuite {
  import graft.sources.SnapshotStore
  import java.nio.file.{Files, Paths}

  test("gcOrphans removes only aged _stage_ dirs; versions, manifest, fresh staging survive") {
    val root = TempDirs.create("graft_gc_") + "/store"
    Files.createDirectories(Paths.get(root, "v=1"))
    Files.writeString(Paths.get(root, "v=1/data.txt"), "published")
    SnapshotStore.commit(root, 1L)
    val oldStage = Paths.get(root, "_stage_dead-writer")
    Files.createDirectories(oldStage)
    Files.writeString(oldStage.resolve("part.txt"), "crashed mid-stage")
    Files.setLastModifiedTime(oldStage,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    val freshStage = Paths.get(root, "_stage_inflight")
    Files.createDirectories(freshStage)
    val gone = SnapshotStore.gcOrphans(root, olderThanMs = 3600000L)
    assert(gone == Seq("_stage_dead-writer"))
    assert(!Files.exists(oldStage))
    assert(Files.exists(freshStage), "in-flight staging must survive the age guard")
    assert(SnapshotStore.currentVersion(root).contains(1L))
    assert(Files.exists(Paths.get(root, "v=1/data.txt")))
  }
}

class SnapshotLockSpec extends AnyFunSuite {
  import graft.sources.SnapshotStore

  test("crashed holder: a leftover _COMMIT_LOCK file is inert — no takeover wait, commit proceeds") {
    val root = TempDirs.create("graft_lock_crash_") + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // simulate a writer that died after creating the lock FILE: the OS
    // lock it held was released by the kernel; only the inode remains
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_COMMIT_LOCK"))
    val t0 = System.currentTimeMillis()
    assert(SnapshotStore.commitIfCurrent(root, None, 1L))
    // under the old protocol this path slept lockTimeoutMs before the
    // staleness takeover; with an OS lock it is immediate
    assert(System.currentTimeMillis() - t0 < 5000)
    assert(SnapshotStore.currentVersion(root).contains(1L))
  }

  test("live holder is never stolen: a waiter times out OUTSIDE the critical section") {
    val root = TempDirs.create("graft_lock_hold_") + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    assert(SnapshotStore.commitIfCurrent(root, None, 1L))
    // a holder paused mid-commit (GC stall / debugger): model it by
    // holding the OS lock through an independent channel
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(root, "_COMMIT_LOCK"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE
    )
    val held = ch.lock()
    try {
      val ex = intercept[IllegalStateException] {
        SnapshotStore.commitIfCurrent(root, Some(1L), 2L, lockTimeoutMs = 300L)
      }
      assert(ex.getMessage.contains("commit lock"))
      // the paused holder's world is intact: no commit happened under it
      assert(SnapshotStore.currentVersion(root).contains(1L))
    } finally { held.release(); ch.close() }
    // once the holder releases, the same commit goes through
    assert(SnapshotStore.commitIfCurrent(root, Some(1L), 2L))
    assert(SnapshotStore.currentVersion(root).contains(2L))
  }
}
