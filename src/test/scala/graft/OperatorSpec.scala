package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Shared local session for all suites (one per JVM — Test/fork=true). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** `run`'s result with the end-of-run state rows
    * (`stateOperators.numRowsTotal`, summed) of the one streaming query it
    * starts, from that query's last progress event; -1 if it reported no
    * progress. Listener events arrive asynchronously, so this waits for
    * the query's termination event first.
    */
  def withEndStateRows[T](run: => T): (T, Long) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val rows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        rows.put(e.progress.runId, e.progress.stateOperators.map(_.numRowsTotal).sum)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    }
    spark.streams.addListener(listener)
    val result =
      try {
        val r = run
        eventually(timeout(Span(60, Seconds))) {
          assert(!started.isEmpty && started.stream().allMatch(terminated.contains(_)))
        }
        r
      } finally spark.streams.removeListener(listener)
    assert(started.size == 1, s"expected one streaming query, saw ${started.size}")
    (result, rows.getOrDefault(started.peek(), -1L))
  }
}

/** Structural invariants per operator. Value-level correctness is the
  * DuckDB oracle gate (scripts/check_oracle.py / the driver); these specs
  * pin the properties the oracle can't see: determinism, approximate-
  * operator recall/precision floors, cross-operator consistency.
  */
class RelationalSpec extends AnyFunSuite {
  import TestSession._

  test("q1 groups by (returnflag, linestatus) — at most 3x2 groups, all counted") {
    val rows = Relational.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    assert(rows.map(_.getAs[Long]("count_order")).sum > 0)
  }

  test("q5 semi + q6 anti partition the customer filter domains") {
    val semi = Relational.q5SemiJoin(spark, sf).count()
    val anti = Relational.q6AntiJoin(spark, sf).count()
    val customers = graft.sources.Tables.customer(spark, sf).count()
    assert(anti <= customers && semi <= customers)
  }

  test("q9 emits at most k rows per group, ranks 1..k") {
    val rows = Relational.q9TopkGroup(spark, sf).collect()
    val perGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    assert(perGroup.values.forall(g => g.length <= 3 && g.map(_.getAs[Int]("rn")).sorted.sameElements(1 to g.length)))
  }

  test("q10 rollup contains the grand-total row equal to table count") {
    val rows = Relational.q10Rollup(spark, sf).collect()
    val total = rows.find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    assert(total.getAs[Long]("n") == graft.sources.Tables.lineitem(spark, sf).count())
  }
}

class WideningSpec extends AnyFunSuite {
  import TestSession._

  test("q23 approx distinct within 5% of exact") {
    val approx = Relational.q23ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        org.apache.spark.sql.functions.countDistinct("l_partkey").as("p"),
        org.apache.spark.sql.functions.countDistinct("l_orderkey").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, o)) =>
      val (ap, ao) = approx(k)
      assert(math.abs(ap - p).toDouble / p < 0.05, s"$k parts: $ap vs $p")
      assert(math.abs(ao - o).toDouble / o < 0.05, s"$k orders: $ao vs $o")
    }
  }

  test("e8 resample spine is dense: types x hours, zero-filled") {
    val rows = Events.e8Resample(spark, sf).collect()
    val types = rows.map(_.getString(1)).distinct.length
    val hours = rows.map(_.getLong(0)).distinct.length
    assert(rows.length == types * hours)
    assert(rows.exists(_.getLong(2) == 0L)) // gaps exist at sf0.001 and get filled
  }

  test("q24 custom TopKPerKeyExec is planned and matches the window form exactly") {
    val custom = Relational.q24TopkCustom(spark, sf)
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    // two passes (partial + final), exactly one exchange between them and
    // none after — the final pass advertises its partitioning
    assert("TopKPerKey ".r.findAllIn(plan).length == 2)
    val viaWindow = Relational.q9TopkGroup(spark, sf).collect().toSeq
    assert(custom.collect().toSeq == viaWindow)
  }

  test("custom expressions are callable from the SQL surface") {
    graft.plans.GraftExtensions.register(spark)
    val dot = spark
      .sql("SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark
      .sql("SELECT graft_simhash64(array('spark', 'query', 'engine')) AS h")
      .head().getLong(0)
    assert(sh != 0L)
  }

  test("register is the one idempotent installer: every rule, strategy and SQL function exactly once") {
    import graft.plans._
    val s = spark.newSession() // fresh experimental.* and function registry
    GraftExtensions.register(s)
    GraftExtensions.register(s)
    val rules = Seq(TopKRewrite, MvRewrite, StatsPlanner.StatsBroadcastRule, GlobalWindowRewrite)
    val strategies = Seq(TopKStrategy, GlobalRankStrategy, AsofJoinStrategy, RollingQuantileStrategy)
    assert(rules == s.experimental.extraOptimizations)
    assert(strategies == s.experimental.extraStrategies)
    val fns = Seq(
      "graft_dot", "graft_minhash", "graft_simhash64", "graft_shingle_hashes",
      "graft_intersect_size", "graft_kll", "graft_kll_merge", "graft_kll_quantile",
      "graft_theta", "graft_theta_estimate", "graft_theta_intersect", "graft_gramian"
    )
    fns.foreach(f => assert(s.catalog.functionExists(f), f))
    val registered = s.sessionState.functionRegistry.listFunction().map(_.funcName)
    assert(registered.filter(_.startsWith("graft_")).sorted == fns.sorted)
  }

  test("a second register keeps every graft_* SQL function entry (the same ExpressionInfo instance)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    graft.plans.GraftExtensions.register(s)
    val registry = s.sessionState.functionRegistry
    def infos = registry
      .listFunction()
      .filter(_.funcName.startsWith("graft_"))
      .map(f => f.funcName -> registry.lookupFunction(FunctionIdentifier(f.funcName)).get)
      .toMap
    val before = infos
    graft.plans.GraftExtensions.register(s)
    val after = infos
    assert(before.size == 12 && after.keySet == before.keySet)
    before.foreach { case (f, info) => assert(after(f) eq info, f) }
  }

  test("dt-partitioned layout gives partition-pruned scans") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    graft.sources.Tables
      .events(spark, sf)
      .withColumn("dt", col("ts").cast("date"))
      .write.partitionBy("dt").parquet(s"$dir/t")
    val q = spark.read.parquet(s"$dir/t").filter(col("dt") === "2024-01-03")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt") || scan.contains("PartitionFilters: [ isnotnull(dt"))
    // only the matching dt directory's files are read
    assert(q.queryExecution.executedPlan.collectLeaves().head.toString.contains("dt"))
    assert(q.count() > 0)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse dirs persist — clear them so saveAsTable can recreate
    Seq("b_orders", "b_lineitem").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    graft.sources.Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val j = spark.table("b_lineitem").join(
      spark.table("b_orders").hint("merge"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    assert(j.count() > 0)
  }

  test("salted skew join equals the plain join") {
    import graft.operators.SkewJoin
    val li = graft.sources.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = graft.sources.Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey").as("l_orderkey"), org.apache.spark.sql.functions.col("o_totalprice"))
    val plain = li.join(o, "l_orderkey").count()
    val salted = SkewJoin.saltedJoin(li, o, "l_orderkey", 8).count()
    assert(salted == plain)
  }

  test("csv and json batch sources roundtrip with explicit schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString
    val src = graft.sources.Tables.orders(spark, sf).limit(100)
    src.write.option("header", "true").csv(s"$dir/csv")
    src.write.json(s"$dir/json")
    val csv = spark.read.option("header", "true").schema(src.schema).csv(s"$dir/csv")
    val json = spark.read.schema(src.schema).json(s"$dir/json")
    assert(csv.count() == 100 && json.count() == 100)
    assert(csv.schema == src.schema && json.schema == src.schema)
  }

  test("schema evolution: mergeSchema reads old+new files as one table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_").toString
    Seq((1L, "a")).toDF("id", "f1").write.parquet(s"$dir/p1")
    Seq((2L, "b", 3.0)).toDF("id", "f1", "f2").write.parquet(s"$dir/p2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/p1", s"$dir/p2")
    assert(merged.columns.sorted.sameElements(Array("f1", "f2", "id")))
    assert(merged.count() == 2)
    assert(merged.filter(org.apache.spark.sql.functions.col("f2").isNull).count() == 1)
  }
}

class EventsSpec extends AnyFunSuite {
  import TestSession._

  test("events loader normalizes nanos to TimestampType") {
    val e = graft.sources.Tables.events(spark, sf)
    assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(e.count() > 0)
  }

  test("e2 session event counts sum to total events; session ids start at 1") {
    val sess = Events.e2Sessionize(spark, sf).collect()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(sess.map(_.getAs[Long]("n_events")).sum == total)
    assert(sess.filter(_.getAs[Long]("session_id") == 1L).nonEmpty)
  }

  test("e6 keeps exactly one row per user") {
    val d = Events.e6DedupLatest(spark, sf)
    assert(d.count() == d.select("user_id").distinct().count())
  }
}

class DedupSpec extends AnyFunSuite {
  import TestSession._

  test("d2 MinHash-LSH equals the exact tau=0.5 pair set (d4 ground truth)") {
    val lsh = Dedup.d2MinhashLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.d4NgramJaccard(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH ${lsh.size} pairs vs exact ${exact.size}")
    assert(exact.nonEmpty) // the corpus has planted near-dups
  }

  test("d3 SimHash: finds planted near-dups with high precision") {
    val sim = Dedup.d3Simhash(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.d4NgramJaccard(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    val precision = (sim & exact).size.toDouble / sim.size
    val recall = (sim & exact).size.toDouble / exact.size
    assert(precision >= 0.7, s"precision $precision")
    assert(recall >= 0.4, s"recall $recall")
  }

  test("d6 clusters: canonical is the min doc_id of each component and a member of it") {
    val rows = Dedup.d6DedupClusters(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_._2)
    assert(byComp.forall { case (canon, members) => members.map(_._1).min == canon })
  }

  test("d6 re-run after its documents table is overwritten answers from the new table") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_d6_rewrite_").toString
    val path = s"$dir/documents.parquet"
    val d6 = SparkEntry.queries("d6_dedup_clusters")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.write.parquet(path)
    val first = pairs(d6(spark, dir))
    assume(first.nonEmpty)
    // the second table drops every member of the first run's first cluster
    val gone = first.filter(_._2 == first.head._2).map(_._1)
    docs.filter(!col("doc_id").isin(gone: _*)).write.mode("overwrite").parquet(path)
    val ids = spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0)).toSet
    val second = pairs(d6(spark, dir))
    assert(second.forall { case (id, _) => ids(id) }, s"stale doc_ids in ${second.filterNot(p => ids(p._1))}")
    assert(second == pairs(d6(spark.newSession(), dir)))
  }

  test("c1 compaction reduces file count and preserves rows") {
    import graft.operators.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_c1t_").toString
    graft.sources.Tables
      .events(spark, sf)
      .withColumn("dt", org.apache.spark.sql.functions.col("ts").cast("date"))
      .repartition(8)
      .write
      .partitionBy("dt")
      .parquet(s"$dir/frag")
    Maintenance.compact(spark, s"$dir/frag", s"$dir/compact", Seq("dt"))
    assert(Maintenance.fileCount(spark, s"$dir/compact") < Maintenance.fileCount(spark, s"$dir/frag"))
    assert(
      spark.read.parquet(s"$dir/compact").count() == spark.read.parquet(s"$dir/frag").count()
    )
  }

  test("d1 exact dedup covers every document exactly once") {
    val d1 = Dedup.d1DedupExact(spark, sf)
    assert(d1.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) ==
      graft.sources.Tables.documents(spark, sf).count())
  }
}

/** Fixtures (staged stream inputs, prebuilt stores) follow the tables
  * they are built from: an overwritten table rebuilds them, unchanged
  * tables serve the same fixture dir again.
  */
class FixtureSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions.{col, sum}

  /** A private copy of the sf tables, so a test may overwrite them. */
  private def copySf(prefix: String): String = {
    val dir = TempDirs.create(prefix)
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, f.getName))
    }
    dir
  }

  /** Overwrite `dir`'s events with the sf events of even user ids. */
  private def overwriteEvents(dir: String): Unit =
    graft.sources.Tables.events(spark, sf).filter(col("user_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("c2b re-run after its events table is overwritten answers from the new table") {
    def rows(d: String) = Maintenance.c2bTimeTravel(spark, d).collect().map(_.toString).toSeq
    val dir = copySf("graft_c2b_rewrite_")
    val first = rows(dir)
    overwriteEvents(dir)
    val fresh = copySf("graft_c2b_fresh_")
    overwriteEvents(fresh)
    val second = rows(dir)
    assert(second != first, "the filtered events table must change c2b's answer")
    assert(second == rows(fresh))
  }

  test("s1 re-run after its events table is overwritten lands exactly the new rows") {
    def landed(d: String) =
      StreamingBatch.s1IngestParquet(spark, d).agg(sum("n")).head().getLong(0)
    val dir = copySf("graft_s1_rewrite_")
    assert(landed(dir) == graft.sources.Tables.events(spark, sf).count())
    overwriteEvents(dir)
    assert(landed(dir) == graft.sources.Tables.events(spark, dir).count())
  }

  test("unchanged tables serve the same fixture dir, built once; a nested fixture build is allowed") {
    val dir = copySf("graft_fixture_reuse_")
    var outer, inner = 0
    def innerFixture() = TempDirs.fixture("graft_probe_inner_", dir) { p => inner += 1; p }
    def outerFixture() = TempDirs.fixture("graft_probe_outer_", dir) { _ =>
      outer += 1
      innerFixture() + "/outer"
    }
    val a = outerFixture()
    assert(a == outerFixture() && a == innerFixture() + "/outer")
    assert((outer, inner) == ((1, 1)))
    assert(Maintenance.mergeStore(spark, dir) == Maintenance.mergeStore(spark, dir))
    overwriteEvents(dir)
    assert(outerFixture() != a && (outer, inner) == ((2, 2)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("v1 returns exactly k neighbors per query, self excluded, cos in [-1,1]") {
    val rows = Similarity.v1KnnBrute(spark, sf).collect()
    assert(rows.length == 10 * 5)
    assert(rows.forall(r => r.getAs[Long]("c_id") != r.getAs[Long]("q_id")))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
  }

  test("v2 LSH recall@5 vs v1 is above floor and deterministic") {
    val v1 = Similarity.v1KnnBrute(spark, sf).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val v2a = Similarity.v2KnnLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val v2b = Similarity.v2KnnLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(v2a == v2b) // seeded planes: stable across runs
    assert((v2a & v1).size.toDouble / v1.size >= 0.8) // multiprobe: 1.0 measured
  }
}

class TextSpec extends AnyFunSuite {
  import TestSession._

  test("t1 language ID predicts a code for every doc") {
    val rows = TextAnalysis.t1LangId(spark, sf).collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.getAs[String]("lang_pred").nonEmpty))
  }

  test("t3 regex tokens >= whitespace tokens (splitting is only finer)") {
    val rows = TextAnalysis.t3TokenCount(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Int]("n_re_tokens") >= r.getAs[Int]("n_ws_tokens")))
  }

  test("t4 rolling fingerprint is order-sensitive and deterministic") {
    val a = TextAnalysis.t4FingerprintRolling(spark, sf).collect().map(_.getLong(1))
    val b = TextAnalysis.t4FingerprintRolling(spark, sf).collect().map(_.getLong(1))
    assert(a.sameElements(b))
    assert(a.distinct.length > 1)
  }
}
