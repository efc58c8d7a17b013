package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.{StreamIngest, Tables}
import graft.streaming.StreamOps
import graft.functions.{VectorFunctions => VF}

/** Round-2 additions: the VERDICT/ADVICE fix battery. */
class Round2Spec extends AnyFunSuite {
  import TestSession._

  // ------------------------------------------------------------------
  // multi-batch ingest through the EXACT production transform+sink path
  // (the Kafka-equivalent: the connector jar isn't in this container, so
  // a MemoryStream stands in for the broker — StreamIngest.runFromRaw is
  // the same code `run` uses for every source)
  // ------------------------------------------------------------------
  test("ingest consumes multiple micro-batches under ProcessingTime through the partitioned sink") {
    import spark.implicits._
    val input = MemoryStream[String](spark, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_mb_").toString
    val cfg = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource("unused"),
      schema = StreamingBatch.eventSchema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck",
      trigger = Trigger.ProcessingTime("50 milliseconds")
    )
    def line(id: Long, hr: Int): String =
      f"""{"event_id":$id,"ts":"2024-01-05T$hr%02d:00:01.000Z","user_id":$id,"event_type":"click","value":1.5,"props":"{}"}"""
    val q = StreamIngest.runFromRaw(input.toDF().toDF("value"), cfg)
    input.addData(line(1, 1), line(2, 1), line(3, 2))
    q.processAllAvailable()
    input.addData(line(4, 2), line(5, 3))
    q.processAllAvailable()
    input.addData(line(6, 3))
    q.processAllAvailable()
    val summary = graft.sources.IngestMetrics.summarize(q.recentProgress.toSeq)
    q.stop()
    assert(summary.nDataBatches >= 2, s"expected >=2 data micro-batches, saw $summary")
    assert(summary.inputRows == 6 && summary.avgRowsPerSec > 0 && summary.maxTriggerMs > 0)
    val landed = spark.read.parquet(s"$dir/out")
    assert(landed.count() == 6)
    val cs = graft.sources.IngestMetrics.corruptStats(spark, s"$dir/out").collect()(0)
    assert(cs.getLong(0) == 6 && cs.getLong(1) == 0 && cs.getDouble(2) == 0.0)
    // time-partitioned layout survives multi-batch appends
    val hrs = landed.select(col("hr").cast("int")).distinct().collect().map(_.getInt(0)).sorted
    assert(hrs.sameElements(Array(1, 2, 3)))
    assert(landed.filter(col("_corrupt").isNull).count() == 6)
  }

  // ------------------------------------------------------------------
  // checkpoint resume: restart consumes ONLY new input, lands no dupes —
  // the at-least-once-upgraded-to-exactly-once contract of the file-sink
  // commit log + source checkpoint
  // ------------------------------------------------------------------
  test("ingest restart from checkpoint is exactly-once (no reprocess, no loss)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_").toString
    new java.io.File(s"$dir/in").mkdirs()
    def writeLines(name: String, ids: Range): Unit = {
      val lines = ids.map(i =>
        s"""{"event_id":$i,"ts":"2024-01-05T0${i % 4}:00:01.000Z","user_id":$i,"event_type":"click","value":1.0,"props":"{}"}"""
      )
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/$name"), lines.mkString("\n"))
    }
    val cfg = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource(s"$dir/in"),
      schema = StreamingBatch.eventSchema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck"
    )
    writeLines("a.json", 0 until 50)
    val q1 = StreamIngest.run(spark, cfg)
    q1.awaitTermination()
    assert(spark.read.parquet(s"$dir/out").count() == 50)
    // new data arrives while the pipeline is down
    writeLines("b.json", 50 until 80)
    val q2 = StreamIngest.run(spark, cfg) // same checkpoint + sink
    q2.awaitTermination()
    val landed = spark.read.parquet(s"$dir/out")
    assert(landed.count() == 80) // batch A not reprocessed, batch B not lost
    assert(landed.select("event_id").distinct().count() == 80) // zero duplicates
  }

  // ------------------------------------------------------------------
  // dead-letter split: clean table + replayable DLQ, both exactly-once
  // ------------------------------------------------------------------
  test("runWithDlq lands clean rows in the table and corrupt payloads in the DLQ") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dlq_").toString
    new java.io.File(s"$dir/in").mkdirs()
    val lines = (0 until 20).map(i =>
      s"""{"event_id":$i,"ts":"2024-01-05T0${i % 4}:00:01.000Z","user_id":$i,"event_type":"click","value":1.0,"props":"{}"}"""
    ) ++ Seq("{broken json", """{"event_id":"NOT_A_NUMBER_%$"}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/a.json"), lines.mkString("\n"))
    val cfg = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource(s"$dir/in"),
      schema = StreamingBatch.eventSchema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck"
    )
    val (good, dlq) = StreamIngest.runWithDlq(spark, cfg, s"$dir/dlq")
    good.awaitTermination()
    dlq.awaitTermination()
    val table = spark.read.parquet(s"$dir/out")
    assert(table.count() == 20)
    assert(!table.columns.contains("_corrupt")) // the table stays clean
    val dead = spark.read.parquet(s"$dir/dlq")
    // both malformed shapes are captured: unparseable JSON and a
    // type-mismatched field (PERMISSIVE marks either as corrupt)
    assert(dead.count() == 2)
    val payloads = dead.select("payload").collect().map(_.getString(0))
    assert(payloads.exists(_.contains("broken json")))
    assert(payloads.exists(_.contains("NOT_A_NUMBER")))
  }

  // ------------------------------------------------------------------
  // Avro wire format: binary-encoded records through the same ingest path
  // ------------------------------------------------------------------
  test("avro wire format ingest decodes records, multi-batch, corrupt-tolerant") {
    import spark.implicits._
    val avroSchemaJson =
      """{"type":"record","name":"Event","fields":[
        |{"name":"event_id","type":"long"},
        |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"user_id","type":"long"},
        |{"name":"event_type","type":"string"},
        |{"name":"value","type":"double"},
        |{"name":"props","type":"string"}]}""".stripMargin
    val avroSchema = new org.apache.avro.Schema.Parser().parse(avroSchemaJson)
    def record(id: Long, hr: Int): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericRecordBuilder(avroSchema)
        .set("event_id", id)
        .set("ts", (1704412800L + hr * 3600L) * 1000000L) // 2024-01-05 UTC, micros
        .set("user_id", id)
        .set("event_type", "click")
        .set("value", 2.5)
        .set("props", "{}")
        .build()
      val bos = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](avroSchema)
        .write(rec, enc)
      enc.flush()
      bos.toByteArray
    }
    val input = MemoryStream[Array[Byte]](spark, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_").toString
    val cfg = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource("unused"),
      schema = StreamingBatch.eventSchema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck",
      trigger = Trigger.ProcessingTime("50 milliseconds"),
      wireFormat = "avro",
      avroWriterSchema = Some(avroSchemaJson)
    )
    val q = StreamIngest.runFromRaw(input.toDF().toDF("value"), cfg)
    input.addData(record(1, 1), record(2, 1))
    q.processAllAvailable()
    input.addData(record(3, 2), Array[Byte](0x7f, 0x00, 0x01)) // one garbage message
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(dataBatches >= 2)
    val landed = spark.read.parquet(s"$dir/out")
    val good = landed.filter(col("_corrupt").isNull)
    assert(good.count() == 3)
    assert(landed.filter(col("_corrupt").isNotNull).count() == 1) // permissive capture
    val r1 = good.filter(col("event_id") === 1L).collect().head
    assert(r1.getAs[String]("event_type") == "click" && r1.getAs[Double]("value") == 2.5)
    assert(good.select(col("hr").cast("int")).distinct().count() == 2) // time partitioning from avro ts
  }

  // ------------------------------------------------------------------
  // schema evolution across a pipeline restart: widen the schema, keep
  // the checkpoint, old rows read back with nulls in the new column
  // ------------------------------------------------------------------
  test("ingest restart with a widened schema evolves the landed table") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_evo_").toString
    new java.io.File(s"$dir/in").mkdirs()
    def cfg(schema: StructType) = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource(s"$dir/in"),
      schema = schema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck"
    )
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/v1.json"),
      """{"event_id":1,"ts":"2024-01-05T01:00:01.000Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}"""
    )
    val q1 = StreamIngest.run(spark, cfg(StreamingBatch.eventSchema))
    q1.awaitTermination()
    // v2 of the producer adds a `region` field; the consumer restarts
    // from the same checkpoint with the widened schema
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/v2.json"),
      """{"event_id":2,"ts":"2024-01-05T02:00:01.000Z","user_id":2,"event_type":"click","value":2.0,"props":"{}","region":"eu"}"""
    )
    val q2 = StreamIngest.run(spark, cfg(StreamingBatch.eventSchema.add("region", StringType)))
    q2.awaitTermination()
    val landed = spark.read.option("mergeSchema", "true").parquet(s"$dir/out")
    assert(landed.count() == 2)
    val byId = landed.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("region")).toMap
    assert(byId(1L) == null && byId(2L) == "eu")
  }

  test("hot aggregation queries run inside whole-stage codegen") {
    // AQE reveals codegen stages only in the final (post-execution) plan
    // codegen'd operators carry the `*(stageId)` marker in the plan text
    def finalPlan(df: DataFrame): String = { df.collect(); df.queryExecution.executedPlan.toString }
    val q1 = finalPlan(Relational.q1Agg(spark, sf))
    assert(q1.contains("*(1) HashAggregate") || q1.contains("*(1) ") && q1.contains("HashAggregate"), q1)
    // the custom FloatVecDot keeps d5's hot filter inside codegen too
    val d5 = finalPlan(operators.Dedup.d5DedupEmbedding(spark, sf))
    assert(d5.contains("*("), d5)
  }

  // ------------------------------------------------------------------
  // runtime bloom-filter join pruning (the standard 100 TB fact-fact win)
  // ------------------------------------------------------------------
  test("runtime bloom filter is injected on a selective fact-fact shuffle join") {
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    )
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // at test SF every scan is tiny — drop the size gate so the rule
      // fires; at production scale the default (10GB) keeps it targeted
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force the shuffle-join shape the rule targets (broadcast joins
      // already prune by construction)
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val j = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("q"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(
        plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no bloom filter in plan:\n$plan"
      )
      assert(j.collect().nonEmpty) // and it still computes
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  // ------------------------------------------------------------------
  // d5b: blocked embedding dedup — equal to brute force, no cartesian
  // ------------------------------------------------------------------
  test("d5b blocked == d5 brute, and its plan has no CartesianProduct/BNLJ") {
    def canon(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(canon(Dedup.d5bDedupEmbeddingBlocked(spark, sf)) == canon(Dedup.d5DedupEmbedding(spark, sf)))
    val plan = Dedup.d5bDedupEmbeddingBlocked(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  /** Quantifies WHY d5b is a block join and not sign-LSH (see the d5b
    * scaladoc): with threshold τ=0.4 only ~3.2σ from the random-pair
    * cosine distribution at 64 dims, a config strong enough for high
    * recall admits the majority of ALL pairs as candidates. Deterministic
    * (seeded planes), so the assertions are exact replays.
    */
  test("sign-LSH at tau=0.4 / 64-dim: high recall forces near-all-pairs candidates") {
    val truth = Dedup
      .d5DedupEmbedding(spark, sf)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val n = e.count().toDouble
    val allPairs = n * (n - 1) / 2.0
    def candidatePairs(nTables: Int, planesPerTable: Int): Set[(Long, Long)] = {
      val groups = VF.randomPlanes(nTables * planesPerTable, 64).grouped(planesPerTable).toSeq
      val bcols = groups.zipWithIndex.map { case (pl, t) =>
        struct(lit(t).as("t"), VF.lshBucket(col("embedding"), pl).as("b")).as(s"b$t")
      }
      val b = e.withColumn("tb", explode(array(bcols: _*))).select(col("vec_id"), col("tb"))
      b.as("x")
        .join(b.as("y"), "tb")
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .distinct()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    }
    val weak = candidatePairs(8, 4) // v2's ANN config
    val weakRecall = truth.count(weak.contains).toDouble / truth.size
    val strong = candidatePairs(18, 4) // amplified toward recall ~0.95
    val strongRecall = truth.count(strong.contains).toDouble / truth.size
    val strongFraction = strong.size / allPairs
    assert(weakRecall < 0.98, s"weak recall $weakRecall") // misses true pairs
    assert(strongRecall > weakRecall)
    // ...but the recall comes from admitting most of the corpus as candidates
    assert(strongFraction > 0.4, s"strong candidate fraction $strongFraction")
  }

  // ------------------------------------------------------------------
  // TopKPerKey: exact orderings + type validation (ADVICE item 2)
  // ------------------------------------------------------------------
  test("topKPerKey ranks DecimalType orders and longs beyond 2^53 exactly") {
    import spark.implicits._
    val dec = Seq(("a", 1L, "3.30"), ("a", 2L, "3.20"), ("a", 3L, "10.10"), ("b", 4L, "1.00"))
      .toDF("g", "id", "s")
      .withColumn("price", col("s").cast("decimal(20,2)"))
    val topDec = graft.plans.TopK
      .topKPerKey(dec, Seq("g"), "price", "id", 2)
      .select("g", "id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(topDec == Set(("a", 3L), ("a", 1L), ("b", 4L)))

    val big = 1L << 53 // doubles can't distinguish big and big+1
    val longs = Seq(("a", 1L, big), ("a", 2L, big + 1), ("a", 3L, big - 2)).toDF("g", "id", "v")
    val top1 = graft.plans.TopK
      .topKPerKey(longs, Seq("g"), "v", "id", 1)
      .select("id")
      .collect()
      .map(_.getLong(0))
      .toSeq
    assert(top1 == Seq(2L))
  }

  test("topKPerKey rejects non-rankable order types at planning") {
    import spark.implicits._
    val df = Seq(("a", 1L, Seq(1, 2))).toDF("g", "id", "arr")
    val ex = intercept[Exception] {
      graft.plans.TopK.topKPerKey(df, Seq("g"), "arr", "id", 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("unsupported type")))
  }

  // ------------------------------------------------------------------
  // FloatVecDot: null elements propagate (ADVICE item 4)
  // ------------------------------------------------------------------
  test("FloatVecDot returns NULL when an element is null, value otherwise") {
    import spark.implicits._
    val df = Seq(
      (Seq[Option[Float]](Some(1f), None, Some(2f)), Seq[Option[Float]](Some(1f), Some(1f), Some(1f))),
      (Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f), Some(4f)))
    ).toDF("a", "b")
    val out = df.select(graft.plans.GraftExpressions.dotF(col("a"), col("b")).as("d")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 11.0)
  }

  // ------------------------------------------------------------------
  // sessionize: out-of-order in-gap events never shrink the session
  // (ADVICE item 3)
  // ------------------------------------------------------------------
  test("sessionize keeps session end stable under out-of-order in-gap events") {
    import spark.implicits._
    val input = MemoryStream[StreamOps.SessionEvent](spark, 1)
    val base = 1700000000000L
    val name = "r2_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps
      .sessionize(input.toDS(), watermarkDelay = "2 hours")
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .start()
    input.addData(
      StreamOps.SessionEvent(1L, new Timestamp(base)),
      StreamOps.SessionEvent(1L, new Timestamp(base + 20 * 60000))
    )
    q.processAllAvailable()
    // out-of-order, within gap and watermark: must not move `last` back
    input.addData(StreamOps.SessionEvent(1L, new Timestamp(base + 10 * 60000)))
    q.processAllAvailable()
    // past the 30-min gap: closes the session in-batch
    input.addData(StreamOps.SessionEvent(1L, new Timestamp(base + 100 * 60000)))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table(name).as[StreamOps.SessionOut].collect().filter(_.user_id == 1L)
    assert(closed.length == 1)
    assert(closed.head.n_events == 3L)
    assert(closed.head.start_s == base / 1000)
    assert(closed.head.end_s == (base + 20 * 60000) / 1000) // NOT the out-of-order 10-min mark
  }

  // ------------------------------------------------------------------
  // transformWithState sessionization == flatMapGroupsWithState version
  // ------------------------------------------------------------------
  test("sessionizeTws (transformWithState + RocksDB) matches sessionize on the s4 scenario") {
    import spark.implicits._
    val c = spark.conf
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = c.getOption(providerKey)
    try {
      c.set(providerKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[StreamOps.SessionEvent](spark, 1)
      val base = 1700000000000L
      val name = "tws_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = StreamOps
        .sessionizeTws(input.toDS())
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      input.addData(
        StreamOps.SessionEvent(1L, new Timestamp(base)),
        StreamOps.SessionEvent(1L, new Timestamp(base + 60000)),
        StreamOps.SessionEvent(2L, new Timestamp(base))
      )
      q.processAllAvailable()
      input.addData(StreamOps.SessionEvent(1L, new Timestamp(base + 100 * 60000)))
      q.processAllAvailable()
      input.addData(StreamOps.SessionEvent(3L, new Timestamp(base + 101 * 60000)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table(name).as[StreamOps.SessionOut].collect()
      // identical expectations to the s4 flatMapGroupsWithState test:
      val u1 = rows.filter(_.user_id == 1L)
      assert(u1.length == 1 && u1.head.n_events == 2L && u1.head.start_s == base / 1000)
      assert(u1.head.end_s == (base + 60000) / 1000) // closed by in-batch gap
      val u2 = rows.filter(_.user_id == 2L)
      assert(u2.length == 1 && u2.head.n_events == 1L) // closed by event-time timer
    } finally saved match {
      case Some(v) => c.set(providerKey, v)
      case None    => c.unset(providerKey)
    }
  }

  // ------------------------------------------------------------------
  // e19 sketch WAU vs exact WAU (rows-only driver entry's real gate)
  // ------------------------------------------------------------------
  test("e19 HLL-sketch WAU within 5% of exact WAU per day") {
    val exact = Events
      .e15ActiveUsers(spark, sf)
      .collect()
      .map(r => r.getDate(0).toString -> r.getLong(2))
      .toMap
    val approx = Events
      .e19WauSketch(spark, sf)
      .collect()
      .map(r => r.getDate(0).toString -> r.getLong(1))
      .toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, ex) =>
      val ap = approx(day)
      assert(math.abs(ap - ex) <= math.max(1.0, ex * 0.05), s"$day exact=$ex approx=$ap")
    }
  }

  // ------------------------------------------------------------------
  // q34 approx percentile vs exact (rows-only driver entry's real gate)
  // ------------------------------------------------------------------
  test("q34 approx_percentile within 1% of q11 exact per group") {
    def byFlag(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = byFlag(Relational.q11Percentile(spark, sf))
    val approx = byFlag(Relational.q34ApproxPercentile(spark, sf))
    exact.foreach { case (k, es) =>
      es.zip(approx(k)).foreach { case (ev, av) =>
        assert(math.abs(ev - av) <= math.abs(ev) * 0.01 + 1e-9, s"$k exact=$ev approx=$av")
      }
    }
  }

  // ------------------------------------------------------------------
  // de-skewed event plans (round-1 VERDICT items 3/4): the shapes are
  // part of the contract, not just the values
  // ------------------------------------------------------------------
  test("e12 plans as groupBy + broadcast join back — no per-type Window task") {
    val p = Events.e12Outliers(spark, sf).queryExecution.sparkPlan
    assert(p.collectFirst { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
    assert(p.toString.contains("BroadcastHashJoin"))
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.isDefined)
  }

  test("e14's RANGE window runs over the per-second aggregate, not raw events") {
    val p = Events.e14SlidingRate(spark, sf).queryExecution.sparkPlan
    val win = p.collectFirst { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(win.isDefined)
    // the window's input subtree must already be aggregated per second
    assert(win.get.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.isDefined)
  }

  test("e15 WAU plans as pure equi-joins — no nested-loop range probe") {
    val p = Events.e15ActiveUsers(spark, sf).queryExecution.sparkPlan.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  // ------------------------------------------------------------------
  // TopKRewrite optimizer rule: the window-top-k idiom plans as the
  // custom bounded-heap operator
  // ------------------------------------------------------------------
  test("q37's window-top-k idiom is auto-rewritten to TopKPerKeyExec") {
    val qe = Relational.q37AutoTopk(spark, sf).queryExecution
    val plan = qe.sparkPlan
    assert(plan.collectFirst { case t: graft.plans.TopKPerKeyExec => t }.isDefined, plan.toString)
    assert(plan.collectFirst { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
    // no WindowGroupLimitExec: the node replaces Spark's inferred group limit, not stacks on it
    assert(plan.collectFirst { case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g }.isEmpty, plan.toString)
    // and the rewrite preserves semantics vs the un-rewritten q9 shape
    val viaWindow = Relational
      .q9TopkGroup(spark, sf) // keeps rn → rule cannot fire there
      .select("o_orderpriority", "o_orderkey", "price")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val viaTopk = Relational.q37AutoTopk(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(viaTopk == viaWindow)
  }

  test("TopKRewrite does NOT fire when the rank column is still referenced") {
    val p = Relational.q9TopkGroup(spark, sf).queryExecution.sparkPlan
    assert(p.collectFirst { case t: graft.plans.TopKPerKeyExec => t }.isEmpty)
    assert(p.collectFirst { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isDefined)
  }

  // ------------------------------------------------------------------
  // Misra-Gries custom aggregate: deterministic-superset guarantee
  // ------------------------------------------------------------------
  test("MisraGries candidates contain every term with frequency > n/k") {
    // first-letter keys: 19 distinct, skewed ('s' ≈ 20%) — with k = 8 the
    // sketch holds only 7 counters, so eviction is constantly active and
    // the superset guarantee is non-trivial
    val tok = Tables
      .documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .select(substring(col("w"), 1, 1).as("t"))
    val k = 8
    val cands = tok
      .agg(graft.plans.GraftExpressions.mgCandidates(col("t"), k).as("c"))
      .collect()(0)
      .getSeq[String](0)
      .toSet
    assert(cands.size <= k - 1)
    val n = tok.count()
    val heavy = tok
      .groupBy("t")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > n.toDouble / k)
      .collect()
      .map(_.getString(0))
    assert(heavy.nonEmpty) // the corpus actually has heavy keys at this k
    heavy.foreach(t => assert(cands.contains(t), s"heavy term '$t' missing from MG candidates"))
    // and the end-to-end two-pass operator equals the exact HAVING query
    val words = Tables
      .documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
    val nWords = words.count()
    val exact = words
      .groupBy("t")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > nWords.toDouble / 50)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    val viaSketch = TextAnalysis
      .t12HeavyHitters(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(viaSketch == exact)
  }

  // ------------------------------------------------------------------
  // m4 multimodal capstone: decode → featurize → block-join near-dup
  // ------------------------------------------------------------------
  test("m4 media near-dup is deterministic, non-empty, thresholded, no cartesian") {
    val a = Multimodal.m4MediaNearDup(spark, sf).collect()
    val b = Multimodal.m4MediaNearDup(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq) // stand-in decode + block join fully deterministic
    assert(a.forall(_.getDouble(2) >= 0.98))
    val plan = Multimodal.m4MediaNearDup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  // ------------------------------------------------------------------
  // mergeUpsert MERGE semantics on a toy table
  // ------------------------------------------------------------------
  test("mergeUpsert: matched update, not-matched insert, unmatched target retained") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver")
    val source = Seq((2L, "b2", 20L), (3L, "c", 20L)).toDF("k", "v", "ver")
    val merged = Maintenance
      .mergeUpsert(target, source, Seq("k"), Seq(col("ver").desc))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(merged == Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }
}
