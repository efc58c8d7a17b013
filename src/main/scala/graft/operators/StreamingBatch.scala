package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{SnapshotStore, StreamIngest, Tables}
import graft.streaming.StreamOps

/** One-shot (Trigger.AvailableNow) harnesses that run the §2.3 streaming
  * pipeline end-to-end and return the landed result as a DataFrame, so
  * the streaming path participates in the same oracle gate as the batch
  * operators: the landed data must aggregate to exactly what DuckDB
  * computes from the source table.
  */
object StreamingBatch {

  val eventSchema: StructType = StructType(
    Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    )
  )

  /** Run a STATEFUL streaming harness with a right-sized state partition
    * count. Spark pins the state partition count into the checkpoint at
    * first start (read from `spark.sql.shuffle.partitions`), and every
    * micro-batch then pays a per-(partition × state store × batch) commit
    * — a stream-stream join carries four stores per partition, so at 32
    * partitions a tiny batch spends its whole wall-clock committing
    * near-empty stores (measured 9.0 s → 3.0 s on s5 going 32 → 8).
    * Sizing it is a per-deployment decision: thousands of partitions on a
    * 1000-executor cluster, a constant 8 here where a whole batch's
    * state fits in a handful of tasks. Only the streams started inside
    * `body` see the narrowed conf; the session's batch parallelism is
    * restored before the returned DataFrame (lazy) is ever executed.
    */
  private def withStatePartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body
    finally s.conf.set(key, prev)
  }

  /** s9's staged input: the events stream split at its time midpoint into
    * two JSON files (half 2 carries the watermark sentinel) — the
    * "pipeline went down mid-stream" scenario.
    */
  private def s9Halves(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_s9_halves_", d) { hdir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val bounds = ev.agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      val halved = ev
        .crossJoin(broadcast(bounds))
        .withColumn("is_late", unix_micros(col("ts")) >= (col("mn") + col("mx")) / 2)
        .drop("mn", "mx")
      toJsonMicros(halved.filter(!col("is_late")).drop("is_late"))
        .coalesce(1).write.mode("overwrite").text(s"$hdir/h1")
      val sentinel = ev
        .agg(max(col("ts")).as("ts0"))
        .select(
          lit(-1L).as("event_id"),
          (col("ts0") + expr("interval 24 hours")).as("ts"),
          lit(-1L).as("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props")
        )
      toJsonMicros(halved.filter(col("is_late")).drop("is_late").unionByName(sentinel))
        .coalesce(1).write.mode("overwrite").text(s"$hdir/h2")
      hdir
    }

  /** Stage every streaming harness input for `d`. Bench calls this
    * untimed so the timed streaming queries measure their pipelines, not
    * whichever query happens to write the shared staged input first.
    */
  def prestage(s: SparkSession, d: String): Unit = {
    stageJson(s, d)
    stageJsonSentinel(s, d)
    stageJsonSentinelBoth(s, d)
    stageJsonDuplicated(s, d)
    stageDocsJson(s, d)
    stageDocsJsonDuplicated(s, d)
    stageEmbeddingsJson(s, d)
    stageCsv(s, d)
    stageProto(s, d)
    stageAvro(s, d)
    s9Halves(s, d)
    stageJsonReversed(s, d)
    stageUrlJson(s, d)
    stageJsonTsOrdered(s, d)
    stageJsonBandSwapped(s, d)
  }

  private def toJsonMicros(df: DataFrame): DataFrame =
    df.select(
      to_json(
        struct(df.columns.map(col).toSeq: _*),
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      ).as("value")
    )

  /** Stage the events table as JSON-lines (the wire format a khose-style
    * pipeline consumes); s1/s2 both consume it. Timestamps are serialized
    * at MICROSECOND precision (`toJSON`'s default format truncates to ms,
    * which shifted stream-side event times off the oracle's µs instants);
    * Spark's JSON reader parses the 6-digit fraction via its ISO fallback
    * without an explicit format.
    */
  private def stageJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_", d) { dir =>
      toJsonMicros(Tables.events(s, d)).coalesce(4).write.mode("overwrite").text(s"$dir/json")
      dir
    }

  /** s2's staging variant: the events stream plus ONE far-future sentinel
    * record (event_type `__sentinel__`, ts = max(ts) + 24h, built as a
    * single-row aggregate — no driver-side collect). An append-mode file
    * sink only emits windows the watermark has passed; the sentinel
    * advances the final watermark beyond every real window so a one-shot
    * AvailableNow run flushes all of them. Its own group is filtered out
    * of the sink.
    */
  private def stageJsonSentinel(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_sent_", d) { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val sentinel = ev
        .agg(max(col("ts")).as("ts0"))
        .select(
          lit(-1L).as("event_id"),
          (col("ts0") + expr("interval 24 hours")).as("ts"),
          lit(-1L).as("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props")
        )
      toJsonMicros(ev.unionByName(sentinel)).coalesce(4).write.mode("overwrite").text(s"$dir/json")
      dir
    }

  /** s1: JSON-lines → StreamIngest → time-partitioned parquet → re-read
    * and aggregate per partition. Exercises parse, corrupt-handling,
    * dt/hr partitioning, and the file-sink commit protocol.
    */
  def s1IngestParquet(s: SparkSession, d: String): DataFrame = {
    val json = stageJson(s, d)
    // fresh sink + checkpoint per invocation — the ingest itself is what
    // runs (and is measured); only the staged input is shared
    val dir = graft.TempDirs.create("graft_s1_run_")
    val q = StreamIngest.run(
      s,
      StreamIngest.IngestConfig(
        source = StreamIngest.FileSource(s"$json/json"),
        schema = eventSchema,
        tsColumn = "ts",
        outputPath = s"$dir/out",
        checkpointPath = s"$dir/ck",
        // one task per (dt,hr) directory either way (keyed repartition);
        // 16 writer tasks spread the ~720-directory sink commit instead
        // of serializing ~180 directories' file+footer IO behind each of 4
        sinkPartitions = 16
      )
    )
    q.awaitTermination()
    s.read
      .parquet(s"$dir/out")
      // partition dirs type-infer on re-read; pin the comparison types
      .groupBy(col("dt").cast("date").as("dt"), col("hr").cast("int").as("hr"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt", "hr")
  }

  /** s26: the INGEST DAEMON under the oracle gate — [[graft.IngestMain]]'s
    * full service path (config-file text → parseConfig → launch →
    * metrics listener → await → clean stop) pointed at the staged JSON
    * with `trigger.mode=availableNow` (drain the backlog, then exit —
    * the daemon's batch-backfill mode), then the landed (dt, hr)
    * partitioned table re-read and aggregated. s1 gates the library
    * call; this row gates the SERVICE wrapper a khose user actually
    * runs: config parsing, trigger selection, daemon lifecycle, and the
    * same exactly-once landing — a wrapper bug (wrong trigger mapping,
    * dropped config key, premature stop) fails the hash, not just a
    * ScalaTest.
    */
  def s26DaemonIngest(s: SparkSession, d: String): DataFrame = {
    val json = stageJson(s, d)
    val dir = graft.TempDirs.create("graft_s26_run_")
    val conf = graft.IngestMain.parseConfig(
      s"""# the khose-style properties file a deployment ships
         |source.type=file
         |source.path=$json/json
         |schema.ddl=event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING
         |ts.column=ts
         |sink.path=$dir/out
         |sink.checkpoint=$dir/ck
         |sink.partitions=16
         |trigger.mode=availableNow
         |""".stripMargin
    )
    val daemon = graft.IngestMain.launch(s, conf, _ => ())
    daemon.await(pollMs = 50L)
    s.read
      .parquet(s"$dir/out")
      .groupBy(col("dt").cast("date").as("dt"), col("hr").cast("int").as("hr"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt", "hr")
  }

  /** s4 (oracle form): STATEFUL streaming sessionization run end-to-end
    * over the staged stream — flatMapGroupsWithState with event-time
    * timers, landed via an append-mode parquet sink. The far-future
    * sentinel (user −1) advances the final watermark so every real
    * session's timer fires in the trailing no-data batch; its own
    * session stays open (timer beyond the watermark) and is filtered on
    * re-read. session_id is assigned per user by start time so the
    * result compares against the BATCH sessionization oracle (e2's SQL).
    */
  def s4StreamSession(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonSentinel(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1000).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val sessions = StreamOps.sessionize(
      stream.select(col("user_id"), col("ts")).as[StreamOps.SessionEvent]
    )
    val out = graft.TempDirs.create("graft_s4_run_")
    val q = sessions.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("start_s")
    s.read
      .parquet(s"$out/data")
      .filter(col("user_id") >= 0) // the sentinel's session never closes; defensive
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select("user_id", "session_id", "n_events", "start_s")
      .orderBy("user_id", "session_id")
  }

  /** s8's staging variant: the events plus TWO far-future sentinels —
    * one `click`, one `purchase` (user −1, 26h/24h past max) — because
    * each join side filters on event_type BEFORE its watermark, so a
    * single out-of-band sentinel would be invisible to one side. The
    * sentinels advance BOTH side watermarks past every real row, letting
    * the outer join emit its unmatched rows; they are 2h apart so they
    * cannot match each other, and user −1 is filtered on re-read.
    */
  private def stageJsonSentinelBoth(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_sent2_", d) { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      def sentinel(off: String, tpe: String, id: Long) = ev
        .agg(max(col("ts")).as("ts0"))
        .select(
          lit(id).as("event_id"),
          (col("ts0") + expr(s"interval $off")).as("ts"),
          lit(-1L).as("user_id"),
          lit(tpe).as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props")
        )
      toJsonMicros(
        ev.unionByName(sentinel("24 hours", "purchase", -1L)).unionByName(sentinel("26 hours", "click", -2L))
      ).coalesce(4).write.mode("overwrite").text(s"$dir/json")
      dir
    }

  /** s8 (oracle form): LEFT OUTER watermarked stream-stream join — the
    * hard streaming case: matched rows emit in-batch, UNMATCHED
    * purchases can only emit once the watermark proves no click can
    * still arrive in their trailing hour. The per-side sentinels advance
    * both watermarks so the one-shot run flushes every unmatched row;
    * oracle is DuckDB's batch left join (null click columns included in
    * the hash).
    */
  def s8StreamOuterJoin(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJsonSentinelBoth(s, d)
    val parsed = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1000).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val clicks = parsed
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = parsed
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases
      .join(
        clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") && col("c_ts") >= col("p_ts") - expr("interval 1 hour"),
        "left_outer"
      )
      .select(
        col("p_user"),
        col("p_id"),
        col("c_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us")
      )
    val out = graft.TempDirs.create("graft_s8_run_")
    val q = joined.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .filter(col("p_user") >= 0)
      .select("p_id", "c_id", "gap_us")
      .orderBy("p_id", "c_id")
  }

  /** s3's staging variant: every event TWICE (the at-least-once delivery
    * shape a khose-style consumer actually sees from a broker replay).
    */
  private def stageJsonDuplicated(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_dup_", d) { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      toJsonMicros(ev.unionByName(ev)).coalesce(4).write.mode("overwrite").text(s"$dir/json")
      dir
    }

  /** s3 (oracle form): streaming exact dedup over DUPLICATED input —
    * dropDuplicatesWithinWatermark on the event key. The landed data must
    * aggregate to what DuckDB computes from the ORIGINAL (un-duplicated)
    * table: a dedup miss doubles every count and fails the hash.
    */
  def s3StreamDedup(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJsonDuplicated(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1000).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val deduped = StreamOps.streamingDedup(stream, Seq("event_id"))
    val out = graft.TempDirs.create("graft_s3_run_")
    val q = deduped.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** s5 (oracle form): watermarked stream-stream join — every purchase
    * attributed to the user's clicks in the trailing hour, landed via an
    * append parquet sink; the oracle is the identical BATCH join in
    * DuckDB (inner stream-stream joins emit in-batch, no sentinel
    * needed).
    */
  def s5StreamStreamJoin(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJson(s, d)
    val parsed = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1000).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val clicks = parsed
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = parsed
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases
      .join(
        clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") && col("c_ts") >= col("p_ts") - expr("interval 1 hour")
      )
      .select(
        col("p_id"),
        col("c_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us")
      )
    val out = graft.TempDirs.create("graft_s5_run_")
    val q = joined.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data").orderBy("p_id", "c_id")
  }

  /** Latest-event-per-user reduction — s6/occUpsert's merge semantic.
    * The (ts desc, event_id desc) order is total per user, so merge
    * results are batch-order-independent.
    */
  private def latestPerUser(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** LATEST-WINS upsert of a batch into a [[SnapshotStore]] COW keyed
    * store under OPTIMISTIC CONCURRENCY: read the current version, merge,
    * stage the next version under a UNIQUE path, publish with
    * [[SnapshotStore.commitStagedIfCurrent]]; on a lost race, discard the
    * stale staged merge and re-derive against the new current. A single
    * streaming writer commits first-try every time; with concurrent
    * writers (two ingest pipelines upserting one store) the CAS loop is
    * what guarantees no batch's merge is silently lost — the
    * last-writer-wins manifest overwrite this replaces dropped a whole
    * writer's merge whenever two landed together. Returns the published
    * version.
    */
  def occUpsertLatestWins(incoming: DataFrame, store: String): Long = {
    val spark = incoming.sparkSession
    val inc = latestPerUser(incoming)
    var published: Option[Long] = None
    while (published.isEmpty) {
      val cur = SnapshotStore.currentVersion(store)
      val merged = cur match {
        case Some(v) =>
          latestPerUser(spark.read.parquet(SnapshotStore.versionPath(store, v)).unionByName(inc))
        case None => inc
      }
      val staged = s"$store/_stage_${java.util.UUID.randomUUID()}"
      merged.write.mode("overwrite").parquet(staged)
      published = SnapshotStore.commitStagedIfCurrent(store, cur, staged)
      if (published.isEmpty) {
        // lost the race: this merge is stale against the new current
        SnapshotStore.deleteTree(java.nio.file.Paths.get(staged))
      }
    }
    published.get
  }

  /** s6 (oracle form): foreachBatch CDC-style upsert — each micro-batch
    * (maxFilesPerTrigger=1 ⇒ genuinely multiple batches) is reduced to
    * its latest-event-per-user and merged LATEST-WINS into a versioned
    * [[SnapshotStore]] via [[occUpsertLatestWins]]: copy-on-write
    * staging under a unique path, OCC manifest publish, full version
    * history retained (time-travel-able, vacuum-able). The final store
    * must equal the batch latest-event-per-key view — e6's oracle.
    */
  def s6ForeachBatchUpsert(s: SparkSession, d: String): DataFrame = {
    val dir = stageJson(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select("user_id", "event_id", "event_type", "value", "ts")
    val root = graft.TempDirs.create("graft_s6_run_")
    val store = s"$root/store"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => occUpsertLatestWins(batch, store): Unit }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SnapshotStore
      .readCurrent(s, store)
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** s25's staging: events in TIME-ASCENDING file ranges (value-based
    * quarters of the ts span, so equal timestamps can never straddle a
    * batch boundary), with s21's explicit-mtime discipline. The arrival
    * contract the streaming as-of's O(1) state requires.
    */
  private def stageJsonTsOrdered(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_tso_", d) { dir =>
      val ev =
        Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val bounds = ev.agg(
        unix_micros(min("ts")).as("mn"),
        (unix_micros(max("ts")) + 1).as("mxp1")
      )
      ev.crossJoin(broadcast(bounds))
        .withColumn(
          "arr",
          floor((unix_micros(col("ts")) - col("mn")) * 4 / (col("mxp1") - col("mn"))).cast("int")
        )
        .select(
          to_json(
            struct(eventSchema.fieldNames.map(col).toIndexedSeq: _*),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          ).as("value"),
          col("arr")
        )
        .repartition(1)
        .write
        .partitionBy("arr")
        .mode("overwrite")
        .text(s"$dir/stage")
      val stageDir = new java.io.File(s"$dir/stage")
      val jsonDir = new java.io.File(s"$dir/json"); jsonDir.mkdirs()
      val base = System.currentTimeMillis() - 1000000L
      stageDir
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("arr="))
        .sortBy(_.getName.stripPrefix("arr=").toInt)
        .zipWithIndex
        .foreach { case (sub, i) =>
          val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
          val dst = new java.io.File(jsonDir, f"batch_$i%04d.json")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(base + i * 60000L)
        }
      dir
    }

  /** s25: STREAMING AS-OF JOIN — the third implementation of e7's
    * semantics (after the window composition and the native
    * [[graft.plans.AsofJoinExec]]), this one as an online state machine:
    * [[graft.streaming.StreamOps.streamAsof]] keeps ONE row per user
    * (the latest click) and attaches it to each arriving purchase.
    * Same oracle as e7/e7b, so batch plan, custom physical operator,
    * and streaming state machine are all pinned to one DuckDB ASOF
    * answer. Arrival is time-ordered by staging (see
    * [[stageJsonTsOrdered]]); state is O(users), not O(events).
    */
  def s25StreamAsof(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonTsOrdered(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[graft.streaming.StreamOps.AsofEvent]
    val joined = graft.streaming.StreamOps.streamAsof(stream)
    val out = graft.TempDirs.create("graft_s25_run_")
    val q = joined.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select("p_event_id", "user_id", "click_event_id", "gap_us")
      .orderBy("p_event_id")
  }

  /** s41 (round 17): STREAMING LOCF — e58's stateful twin. Per-user
    * last-non-null carry via `flatMapGroupsWithState` (O(1) state: the
    * one carried value), emitted on EVERY event; time-ordered staging
    * (the streamAsof contract), AvailableNow replay, parquet sink. The
    * DuckDB oracle is e58's EXACT SQL — the streaming fold must
    * reproduce the batch window's running IGNORE NULLS semantics,
    * NULL-head rows included, at every event. At 100 TB state is one
    * value per user in the engine's keyed state store, and the fold is
    * hash-distributed by user — no window buffer, no global anything.
    */
  def s41StreamLocf(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonTsOrdered(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.StreamOps.LocfEvent]
    val out = graft.TempDirs.create("graft_s41_run_")
    val q = graft.streaming.StreamOps
      .streamLocf(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select("event_id", "user_id", "us", "v_obs", "locf")
      .orderBy("event_id")
  }

  /** s42's staging: BAND-SWAPPED ADVERSARIAL ARRIVAL. The events table
    * is cut into 8 equal time-range bands; each band is one micro-batch
    * file, delivered with every pair SWAPPED (1,0,3,2,5,4,7,6 — the
    * NEWER band of each pair first, s23's newest-first discipline at
    * pair grain) and rows WITHIN each band shuffled by hash. Maximum
    * lateness relative to the running maximum event time is therefore
    * < 2 band widths, and the staged watermark delay (written to
    * `delay_ms.txt` for the harness) is 2·W + 2 s — disorder is inside
    * the watermark contract by construction, never at its edge. Two
    * trailing sentinel files (user −1, event times past max+delay)
    * advance the final watermark beyond every real event and trigger
    * one more micro-batch in which the buffered tails drain: sentinel 1
    * pushes the watermark past max(ts); sentinel 2's batch runs with
    * that watermark live, firing every pending event-time timer.
    * AvailableNow alone would otherwise end the stream with the final
    * watermark one batch behind — the same flush discipline s9's
    * sentinel half established.
    */
  private[graft] def stageJsonBandSwapped(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_bsw_", d) { dir =>
      val ev =
        Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val Array(mnUs, mxUs) = ev
        .agg(unix_micros(min("ts")), unix_micros(max("ts")))
        .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
      val bandUs = (mxUs - mnUs) / 8 + 1
      val delayMs = 2L * (bandUs / 1000 + 1) + 2000
      val banded = ev
        .withColumn("band", ((unix_micros(col("ts")) - lit(mnUs)) / lit(bandUs)).cast("int"))
        // pair swap: 0↔1, 2↔3, … — newer band of each pair delivered first
        .withColumn("arr", expr("band - band % 2 + (1 - band % 2)"))
      // one file per arrival slot, rows inside hash-shuffled
      banded
        .select(
          to_json(
            struct(eventSchema.fieldNames.map(col).toIndexedSeq: _*),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          ).as("value"),
          col("arr"),
          md5(col("event_id").cast("string")).as("shuf")
        )
        .repartition(1)
        .sortWithinPartitions("arr", "shuf")
        .select("value", "arr")
        .write
        .partitionBy("arr")
        .mode("overwrite")
        .text(s"$dir/stage")
      // sentinels: ts chosen so neither can ever itself pass the final
      // watermark (delay ≥ 1ms ⇒ sentinel1_ms ≥ final_wm), so even
      // unfiltered they could never emit
      val s1Us = mxUs + delayMs * 1000 + 60000000L
      val s2Us = s1Us + 1000L
      def sentinelJson(us: Long): String = {
        val iso = java.time.Instant.EPOCH.plusNanos(us * 1000).toString.stripSuffix("Z")
        val tsStr = if (iso.contains(".")) iso + "Z" else iso + ".000000Z"
        s"""{"event_id":-1,"ts":"$tsStr","user_id":-1,"event_type":"__flush__","value":null,"props":"{}"}"""
      }
      val stageDir = new java.io.File(s"$dir/stage")
      val jsonDir = new java.io.File(s"$dir/json"); jsonDir.mkdirs()
      val base = System.currentTimeMillis() - 1000000L
      val bandFiles = stageDir
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("arr="))
        .sortBy(_.getName.stripPrefix("arr=").toInt)
      bandFiles.zipWithIndex.foreach { case (sub, i) =>
        val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
        val dst = new java.io.File(jsonDir, f"batch_$i%04d.json")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(base + i * 60000L)
      }
      val n = bandFiles.length
      Seq(s1Us, s2Us).zipWithIndex.foreach { case (us, i) =>
        val dst = new java.io.File(jsonDir, f"batch_${n + i}%04d.json")
        java.nio.file.Files.writeString(dst.toPath, sentinelJson(us) + "\n")
        dst.setLastModified(base + (n + i) * 60000L)
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/delay_ms.txt"),
        delayMs.toString
      )
      dir
    }

  /** s42 (round 18): STREAMING LOCF UNDER OUT-OF-ORDER ARRIVAL — the
    * production guarantee the s41/s25 staging contract only documented.
    * [[graft.streaming.StreamOps.streamLocfOoo]] buffers per-user events
    * in keyed state and emits the event-time-ordered prefix strictly
    * below the watermark, carrying the last non-null observation across
    * emissions; event-time timers drain users the triggering batch
    * doesn't touch. The staging is ADVERSARIAL ([[stageJsonBandSwapped]]:
    * newer band of every pair first, rows hash-shuffled inside bands)
    * with the watermark delay sized to the staged disorder — yet the
    * oracle is e58's batch SQL VERBATIM, the same hash the in-order s41
    * twin is held to. State is O(carry + disorder-horizon events) per
    * user, hash-distributed — not O(stream).
    */
  def s42StreamLocfOoo(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonBandSwapped(s, d)
    val delayMs =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/delay_ms.txt")).trim.toLong
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .withWatermark("ts", s"$delayMs milliseconds")
      // drop the flush sentinels AFTER the watermark node; the predicate
      // references ts so PushPredicateThroughNonJoin cannot push it below
      // EventTimeWatermark (below, the sentinels would never advance it)
      .filter(!(col("user_id") === -1L && col("ts").isNotNull))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.StreamOps.LocfEvent]
    val out = graft.TempDirs.create("graft_s42_run_")
    val q = graft.streaming.StreamOps
      .streamLocfOoo(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select("event_id", "user_id", "us", "v_obs", "locf")
      .orderBy("event_id")
  }

  /** s45 (round 18): STREAMING ROLLING QUANTILE — e57's online form via
    * [[graft.streaming.StreamOps.streamRollingQuantile]]: per event
    * type, the exact p95 of the last 100 cents values at every event,
    * O(k) keyed state (the value ring), the two-heap rebuilt once per
    * micro-batch. Time-ordered staging (the s41 contract), AvailableNow
    * replay, e57's DuckDB oracle VERBATIM — the rolling-quantile family
    * now has batch-sort, batch-two-heap, and streaming-two-heap
    * implementations pinned to one sorted-index answer.
    */
  def s45StreamRollingQuantile(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonTsOrdered(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .as[graft.streaming.StreamOps.QuantEvent]
    val out = graft.TempDirs.create("graft_s45_run_")
    val q = graft.streaming.StreamOps
      .streamRollingQuantile(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select("event_id", "event_type", "cents", "n_win", "p95_cents")
      .orderBy("event_id")
  }

  /** s46 (round 18): OUT-OF-ORDER STREAMING ROLLING QUANTILE — the
    * watermark-buffer protocol (s42) composed in front of the rolling
    * ring/two-heap fold (s45), on the same adversarial band-swapped
    * staging, gated against e57's DuckDB oracle VERBATIM: the
    * composition the s45 scaladoc claims, as a driver-checked fact.
    */
  def s46StreamRollingQuantileOoo(s: SparkSession, d: String): DataFrame =
    withStatePartitions(s) {
      import s.implicits._
      val dir = stageJsonBandSwapped(s, d)
      val delayMs =
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/delay_ms.txt")).trim.toLong
      val stream = StreamIngest
        .parsed(
          s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
          eventSchema,
          "ts"
        )
        .withWatermark("ts", s"$delayMs milliseconds")
        .filter(!(col("user_id") === -1L && col("ts").isNotNull))
        .select(col("event_type"), col("event_id"), col("ts"), col("value"))
        .as[graft.streaming.StreamOps.QuantEvent]
      val out = graft.TempDirs.create("graft_s46_run_")
      val q = graft.streaming.StreamOps
        .streamRollingQuantileOoo(stream)
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read
        .parquet(s"$out/data")
        .select("event_id", "event_type", "cents", "n_win", "p95_cents")
        .orderBy("event_id")
    }

  /** s44 (round 18): s42's out-of-order LOCF on Spark 4's
    * `transformWithState` + RocksDB — the pending buffer as a typed
    * ListState (O(1) appends against RocksDB instead of re-serializing
    * a whole buffer value per batch), the carry a ValueState, drains on
    * explicit event-time timers. Same adversarial band-swapped staging,
    * same e58-verbatim oracle: three implementations of the running
    * IGNORE NULLS fold (batch window e58, fMGWS s42, tws s44) pinned to
    * ONE DuckDB answer.
    */
  def s44StreamLocfTws(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val saved = s.conf.getOption(providerKey)
    val savedCl = s.conf.getOption(changelogKey)
    s.conf.set(
      providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    // changelog checkpointing: per-batch commits persist the DELTA, not
    // a full RocksDB snapshot. Locally it trims ~1 s of this harness's
    // ~7 s (the 10-batch × 8-partition commit constant is mostly
    // fixed-cost on a local fs); on a real checkpoint store (object
    // storage) snapshot-per-commit is the dominating term and the
    // changelog is the production default worth pinning here
    s.conf.set(changelogKey, "true")
    try {
      val dir = stageJsonBandSwapped(s, d)
      val delayMs =
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/delay_ms.txt")).trim.toLong
      val stream = StreamIngest
        .parsed(
          s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
          eventSchema,
          "ts"
        )
        .withWatermark("ts", s"$delayMs milliseconds")
        .filter(!(col("user_id") === -1L && col("ts").isNotNull))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.StreamOps.LocfEvent]
      val out = graft.TempDirs.create("graft_s44_run_")
      val q = graft.streaming.StreamOps
        .streamLocfOooTws(stream)
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read
        .parquet(s"$out/data")
        .select("event_id", "user_id", "us", "v_obs", "locf")
        .orderBy("event_id")
    } finally {
      saved match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
      savedCl match {
        case Some(v) => s.conf.set(changelogKey, v)
        case None    => s.conf.unset(changelogKey)
      }
    }
  }

  /** s43 (round 18): STREAMING AS-OF JOIN UNDER OUT-OF-ORDER ARRIVAL —
    * [[graft.streaming.StreamOps.streamAsofOoo]] on the same adversarial
    * band-swapped staging as s42, gated against e7's DuckDB ASOF oracle
    * (the FOURTH pinning of that one answer, after the window
    * composition, the native exec, and the in-order state machine).
    * The sentinel/type filter is ONE ts-referencing predicate: split
    * apart, the event-type half (no ts reference) would be pushed below
    * the EventTimeWatermark node and strip the flush sentinels before
    * they could advance the watermark.
    */
  def s43StreamAsofOoo(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val dir = stageJsonBandSwapped(s, d)
    val delayMs =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/delay_ms.txt")).trim.toLong
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .withWatermark("ts", s"$delayMs milliseconds")
      .filter(
        col("ts").isNull ||
          (col("user_id") =!= -1L && col("event_type").isin("click", "purchase"))
      )
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[graft.streaming.StreamOps.AsofEvent]
    val out = graft.TempDirs.create("graft_s43_run_")
    val q = graft.streaming.StreamOps
      .streamAsofOoo(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select("p_event_id", "user_id", "click_event_id", "gap_us")
      .orderBy("p_event_id")
  }

  /** s23's staging: the changelog delivered NEWEST-FIRST — each of the 4
    * staged files holds one descending time range (repartitionByRange on
    * ts desc), so `maxFilesPerTrigger=1` replays the stream with every
    * micro-batch OLDER than the one before. The adversarial arrival
    * order for a CDC consumer: any unguarded "incoming overwrites
    * store" merge ends with the OLDEST state.
    */
  private def stageJsonReversed(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_rev_", d) { dir =>
      toJsonMicros(Tables.events(s, d).repartitionByRange(4, col("ts").desc, col("event_id").desc))
        .write
        .mode("overwrite")
        .text(s"$dir/json")
      dir
    }

  /** s23: streaming CDC APPLY — tombstones + sequence discipline under
    * out-of-order delivery. The changelog interprets every event as an
    * upsert to the per-user keyed store and `error` events as DELETES
    * (tombstones); the sequence key is (ts, event_id). Staging is
    * NEWEST-FIRST (see [[stageJsonReversed]]), so correctness hinges on
    * the two CDC rules s6's in-order upsert never exercises:
    * (1) the merge is seq-GUARDED — `latest by (ts, event_id) over
    * prev ∪ incoming`, never "incoming wins"; (2) tombstones are
    * RETAINED in the store and filtered only at snapshot read, so a
    * late-arriving pre-delete update cannot resurrect a deleted key
    * (drop the tombstone at merge time and batch 2's older rows would).
    * Final snapshot = latest non-deleted row per user — replayed
    * independently by the DuckDB oracle from raw events; ScalaTest pins
    * the arrival order really is reversed and that tombstones exist in
    * the store but not the snapshot. At 100 TB the merge reads and
    * rewrites ONLY the user-buckets the batch touches
    * ([[graft.sources.BucketedStateStore]], since round 14) — per-batch
    * IO O(batch × bucket), not O(store); tombstone retention windows
    * (vacuum after max-lateness) bound the store exactly like c7's
    * retention pass.
    */
  def s23StreamCdc(s: SparkSession, d: String): DataFrame = s23Snapshot(s, s23CdcFold(s, d))

  /** s23's snapshot read over the CDC store at `store`. */
  private[graft] def s23Snapshot(s: SparkSession, store: String): DataFrame =
    graft.sources.BucketedStateStore
      .readLatest(s, store)
      .get
      .filter(col("op") =!= "D")
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")

  /** s23's fold: streams the reversed events into a fresh bucketed CDC
    * store and returns the store's path. The store RETAINS the
    * tombstones [[s23StreamCdc]]'s snapshot read drops.
    */
  private[graft] def s23CdcFold(s: SparkSession, d: String): String = {
    val dir = stageJsonReversed(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select("user_id", "event_id", "event_type", "value", "ts")
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    val root = graft.TempDirs.create("graft_s23_run_")
    val store = s"$root/state"
    def latestBySeq(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!graft.sources.BucketedStateStore.committed(store, batchId)) {
          // round-14 bounded-write upsert: the seq-guarded merge reads and
          // rewrites ONLY the user-buckets this batch touches — untouched
          // users' rows are never rescanned (the CDC-compaction shape at
          // 100 TB: per-batch IO O(batch × bucket), not O(store))
          graft.sources.BucketedStateStore
            .upsert(store, batchId, latestBySeq(batch), Seq("user_id"), 16) { (prev, inc) =>
              latestBySeq(prev.unionByName(inc))
            }
          ()
        }
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    store
  }

  /** s7 (oracle form): NATIVE streaming session aggregation — the
    * built-in `session_window` under a watermark (Spark's merging
    * session state), landed via an append parquet sink with the sentinel
    * flushing all closed sessions. Complements s4: same semantics from
    * the declarative API instead of custom state. Oracle = the manual
    * batch sessionization SQL.
    */
  def s7StreamSessionWindow(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJsonSentinel(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1000).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val out = graft.TempDirs.create("graft_s7_run_")
    val q = agg.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .filter(col("user_id") >= 0) // sentinel session (if flushed) excluded
      .select(
        col("user_id"),
        expr("unix_micros(sw.start) div 1000000").as("start_s"),
        col("n_events")
      )
      .orderBy("user_id", "start_s")
  }

  /** s9 (oracle form): stateful-state RECOVERY across a pipeline
    * restart. The stream is split at its time midpoint into two files;
    * run 1 sessionizes the first half and stops (AvailableNow), run 2
    * starts from the SAME checkpoint once the second half (plus the
    * watermark sentinel) arrives. Sessions that straddle the split can
    * only be correct if run 2 recovers run 1's open per-user state from
    * the checkpoint — and the final landed sessions must hash-match the
    * batch sessionization oracle. (Safety of the split: a run-1 timer
    * only fires for `last+gap < max(ts of half 1)`, and any half-2
    * event within the gap of an open session implies `last+gap ≥`
    * that max — so no session closes early; exact-gap ties verified
    * absent.)
    */
  def s9RestartSession(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    import s.implicits._
    val root = graft.TempDirs.create("graft_s9_")
    new java.io.File(s"$root/in").mkdirs()
    // the two halves are a fixture; only the checkpoint/sink/in dirs are
    // per-run (the restart is what's measured)
    val halves = s9Halves(s, d)
    def copyIn(from: String, name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(from).listFiles().filter(_.getName.endsWith(".txt")).head.toPath,
        java.nio.file.Paths.get(s"$root/in/$name")
      )
    def runOnce(): Unit = {
      val stream = StreamIngest.parsed(
        s.readStream.option("maxFilesPerTrigger", 1000).text(s"$root/in"),
        eventSchema,
        "ts"
      )
      val q = StreamOps
        .sessionize(stream.select(col("user_id"), col("ts")).as[StreamOps.SessionEvent])
        .writeStream
        .format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    copyIn(s"$halves/h1", "a.json")
    runOnce() // pipeline goes down...
    copyIn(s"$halves/h2", "b.json")
    runOnce() // ...and resumes from the checkpoint with recovered state
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("start_s")
    s.read
      .parquet(s"$root/out")
      .filter(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select("user_id", "session_id", "n_events", "start_s")
      .orderBy("user_id", "session_id")
  }

  /** s2: watermarked tumbling-window aggregation over the stream, landed
    * via AvailableNow in APPEND mode to a parquet file sink — the
    * production shape: watermark-evicted state, no driver-side result
    * accumulation (the previous `memory`/complete harness collected the
    * full aggregate onto the driver every trigger — a driver-OOM pattern
    * at scale; round-1 VERDICT item 6). Compared against the batch hourly
    * rollup oracle.
    */
  def s2StreamWindowAgg(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJsonSentinel(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 16).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val out = graft.TempDirs.create("graft_s2_run_")
    // NOTE: no sentinel filter inside the streaming plan — a filter on the
    // grouping column gets pushed below the watermark operator, so the
    // watermark would never see the sentinel. The sentinel's own window
    // (end > final watermark) never flushes to the sink anyway; the
    // batch-side filter below is defensive.
    val q = StreamOps
      .windowAgg(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .filter(col("event_type") =!= "__sentinel__")
      .select(
        unix_timestamp(col("bucket_start")).as("bucket_s"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )
      .orderBy("bucket_s", "event_type")
  }

  /** s10: stream-static enrichment join — the khose pattern where the
    * event firehose is decorated with dimension attributes (here:
    * user → customer → nation) BEFORE landing, so downstream consumers
    * never re-join. The dim side is a batch DataFrame broadcast into
    * every micro-batch (stream-static joins are stateless — no
    * watermark, no join state store); at 100 TB/day of events the dim
    * table is still MBs, so the broadcast is the right plan at any
    * scale. LEFT join: events with no matching customer land with
    * nation 'unknown' (dropping unmatched telemetry on an enrichment
    * miss is a pipeline bug).
    */
  def s10StreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val json = stageJson(s, d)
    val dim = Tables
      .customer(s, d)
      .join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey")
      )
      .select(col("c_custkey").as("user_id"), col("n_name").as("nation"))
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1000).text(s"$json/json"),
        eventSchema,
        "ts"
      )
      .join(broadcast(dim), Seq("user_id"), "left")
      .withColumn("nation", coalesce(col("nation"), lit("unknown")))
    val out = graft.TempDirs.create("graft_s10_run_")
    val q = stream.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .groupBy("nation")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).as("sum_value")
      )
      .orderBy("nation")
  }

  /** Staged documents as JSON lines — the corpus as a stream, for the
    * online-dedup harness.
    */
  private def stageDocsJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_docs_", d) { dir =>
      // repartition, not coalesce: a 1-partition source parquet would
      // otherwise stage ONE file and the maxFilesPerTrigger=1 streams
      // would degenerate to a single batch (the folds are
      // order-independent, so batch count never changes results —
      // only how much cross-batch machinery the run exercises)
      Tables
        .documents(s, d)
        .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
        .repartition(4)
        .write
        .mode("overwrite")
        .text(s"$dir/json")
      dir
    }

  /** Docs staged TWICE across many files (s3's duplicated-stage pattern,
    * applied to documents): the corpus has no exact duplicates of its
    * own, so s22's cross-batch fingerprint fold is proven by making
    * every document arrive in two different micro-batches — the landed
    * index must count both and keep one canonical id.
    */
  /** s28: STREAMING BURST MONITORING — e37's detector maintained
    * online: each micro-batch's hourly counts fold into a COW hourly
    * table published through the OCC snapshot commit (sum-folds are
    * associative+commutative, so the landed table — and therefore the
    * burst report — is provably arrival-order-insensitive), and the
    * final report runs e37's `burstReport` over the CURRENT store
    * version. Shares e37's DuckDB oracle AND its report code (the
    * as-of-triad discipline: one answer pins the batch plan and the
    * online fold), and is the second streaming consumer of
    * `commitStagedIfCurrent` after s6. State is O(types × hours) —
    * KB/MB however long the stream runs.
    */
  /** s28's per-micro-batch fold, extracted so the replay path is
    * directly testable: foreachBatch is AT-LEAST-ONCE — a batch
    * replayed after a failure/restart must not be SUMMED twice (a
    * sum-fold is not idempotent the way s6's latest-wins merge is).
    * The committed version carries the last-applied batchId as a
    * sidecar ([[SnapshotStore.annotate]] — the Delta txn-version
    * handshake); an already-folded batch is acknowledged without
    * re-merging. Single-writer per store (one streaming query), so
    * batchIds arrive monotonically and `lastApplied >= batchId` is
    * exactly "this is a redelivery".
    */
  private[graft] def s28FoldBatch(store: String, batch: DataFrame, batchId: Long): Unit =
    occCountFold(
      store,
      batch
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt")),
      Seq("event_type", "h"),
      batchId
    )

  /** Generic exactly-once COUNT FOLD into an OCC snapshot store: merge a
    * micro-batch's pre-aggregated (keys..., cnt) rows into the committed
    * count table by key-summing (associative+commutative ⇒ the landed
    * table is arrival-order-insensitive), publish through
    * `commitStagedIfCurrent`, and use the committed batchId sidecar to
    * acknowledge at-least-once redeliveries without re-summing. Shared
    * by s28 (hourly burst counts) and s30 (PSI cohort-bin counts) —
    * the monitors differ only in their grouping keys and report tails.
    */
  private[graft] def occCountFold(
      store: String,
      incoming: DataFrame,
      keys: Seq[String],
      batchId: Long
  ): Unit = {
    val spark = incoming.sparkSession
    var committed = false
    while (!committed) {
      val cur = SnapshotStore.currentVersion(store)
      val lastApplied =
        cur.flatMap(v => SnapshotStore.annotation(store, v, "batch").flatMap(_.toLongOption))
      if (lastApplied.exists(_ >= batchId)) committed = true
      else {
        val merged = cur match {
          case Some(v) =>
            spark.read
              .parquet(SnapshotStore.versionPath(store, v))
              .unionByName(incoming)
              .groupBy(keys.map(col): _*)
              .agg(sum("cnt").as("cnt"))
          case None => incoming
        }
        val staged = s"$store/_stage_${java.util.UUID.randomUUID()}"
        // the folded state is model-sized BY DESIGN (types×hours, cohort
        // bins, O(d²) moments, vocab types — KB/MB): land it as ONE file
        // so every subsequent batch re-reads one footer, not a
        // shuffle-partition-count pile of tiny files
        merged.coalesce(1).write.mode("overwrite").parquet(staged)
        SnapshotStore.annotate(staged, "batch", batchId.toString)
        committed = SnapshotStore.commitStagedIfCurrent(store, cur, staged).isDefined
        if (!committed) SnapshotStore.deleteTree(java.nio.file.Paths.get(staged))
      }
    }
  }

  def s28StreamBursts(s: SparkSession, d: String): DataFrame = {
    val dir = stageJson(s, d)
    val root = graft.TempDirs.create("graft_s28_run_")
    val store = s"$root/store"
    val q = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("event_type"), col("ts"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        s28FoldBatch(store, batch, batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.operators.Events.burstReport(SnapshotStore.readCurrent(s, store))
  }

  /** s36's per-micro-batch SCD2 fold, extracted for direct replay
    * testing: maintain the type-2 dimension ([[graft.operators
    * .Maintenance.c34Scd2Build]]'s output) incrementally. Each batch
    * touches ONLY its own users' OPEN runs: the affected open rows
    * re-enter the islands recompute as weighted marker rows (tus =
    * valid_from, weight = accumulated n_events, a sentinel event_id
    * that sorts first), batch events join them at weight 1, and the
    * per-user gaps-and-islands pass re-derives that user's runs —
    * extending the open run if the type continues, closing it if it
    * changed. Closed rows and unaffected users are carried over
    * untouched, so per-batch COMPUTE is O(batch + affected open runs),
    * never O(history) — and since round 14 the per-batch WRITE is too:
    * the dimension lives in the hash-bucketed store
    * ([[graft.sources.BucketedStateStore]]), so only the user-buckets
    * the batch touches are rewritten. Correct under the ts-ordered
    * arrival staging (batch k+1's events all at or after batch k's —
    * the CDC replication contract); redeliveries are acknowledged by
    * the committed manifest.
    */
  /** The SCD2 dimension's stored row shape (state schema for the
    * bucketed store's first-batch empty frame — the fold transforms
    * event rows into run rows, so incoming and state schemas differ).
    */
  private val s36StateSchema = StructType(
    Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("valid_from_us", LongType),
      StructField("valid_to_us", LongType),
      StructField("n_events", LongType)
    )
  )

  private[graft] def s36FoldScd2(store: String, batch: DataFrame, batchId: Long): Unit = {
    if (graft.sources.BucketedStateStore.committed(store, batchId)) return
    val ev = batch.select(
      col("user_id"),
      col("event_id"),
      col("event_type"),
      unix_micros(col("ts")).as("tus"),
      lit(1L).as("wt")
    )
    // round-14 bounded-write upsert: only the USER-BUCKETS this batch
    // touches are read and rewritten. Within a touched bucket, the merge
    // preserves other users' rows and the affected users' CLOSED rows
    // verbatim; only affected users' open runs re-enter the islands
    // recompute — per-batch IO O(batch + affected open runs + touched
    // buckets), never O(dimension).
    graft.sources.BucketedStateStore
      .upsert(store, batchId, ev, Seq("user_id"), 16, Some(s36StateSchema)) { (prev, incEv) =>
        val users = incEv.select("user_id").distinct().withColumn("_aff", lit(true))
        val st = prev.join(users, Seq("user_id"), "left")
        val keep = st
          .filter(col("_aff").isNull || col("valid_to_us").isNotNull)
          .select("user_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
        val seeds = st
          .filter(col("_aff").isNotNull && col("valid_to_us").isNull)
          .select(
            col("user_id"),
            lit(Long.MinValue).as("event_id"), // sorts before any real event at equal tus
            col("event_type"),
            col("valid_from_us").as("tus"),
            col("n_events").as("wt")
          )
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("tus"), col("event_id"))
        val runEnd =
          org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("run")
        val recomputed = seeds
          .unionByName(incEv)
          .withColumn(
            "chg",
            when(
              lag("event_type", 1).over(w).isNull ||
                lag("event_type", 1).over(w) =!= col("event_type"),
              1L
            ).otherwise(0L)
          )
          .withColumn(
            "run",
            sum("chg").over(
              w.rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow
              )
            )
          )
          .groupBy("user_id", "run", "event_type")
          .agg(min("tus").as("valid_from_us"), sum("wt").as("n_events"))
          .withColumn("valid_to_us", lead("valid_from_us", 1).over(runEnd))
          .select("user_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
        keep.unionByName(recomputed)
      }
  }

  /** s36: STREAMING SCD2 MAINTENANCE — c34's slowly-changing-dimension
    * build run as an online pipeline over the deterministic ts-ordered
    * arrival schedule (one micro-batch per time quarter,
    * `maxFilesPerTrigger = 1`): every batch folds through
    * [[s36FoldScd2]] into the bucketed bounded-write store, and the served
    * dimension must hash-match the one-shot batch build — the
    * as-of-triad discipline: c34's DuckDB oracle gates the streaming
    * fold's open-run extension/closure logic, not just a row count.
    * This is the khose CDC story completed: the ingested event stream
    * maintains the dimension an as-of join (s25) probes.
    */
  def s36StreamScd2(s: SparkSession, d: String): DataFrame = {
    val dir = stageJsonTsOrdered(s, d)
    val root = graft.TempDirs.create("graft_s36_run_")
    val store = s"$root/store"
    val q = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        s36FoldScd2(store, batch, batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.BucketedStateStore
      .readLatest(s, store)
      .get
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

  /** s27's staging: FRONTIER documents (doc_id ≥ midpoint — t32/p8's
    * arrival model) as JSON lines. Scoring is stateless per doc, so no
    * arrival-order discipline is needed — any batching gives the same
    * landed rows.
    */
  private def stageFrontierDocsJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_frontier_", d) { dir =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(floor((max("doc_id") + lit(1)).cast("double") / 2).cast("long").as("cut"))
      docs
        .crossJoin(broadcast(cut))
        .filter(col("doc_id") >= col("cut"))
        .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
        .coalesce(4)
        .write
        .mode("overwrite")
        .text(s"$dir/json")
      dir
    }

  /** s27: STREAMING NOVELTY SCORING — t32's trigram-novelty metric run
    * as the arriving half of an ingest pipeline: frontier documents
    * stream in, each micro-batch scores its own docs' distinct
    * trigrams against the STATIC reference gram set (built once from
    * the history half, cached for the run — at 100 TB this is the
    * inverted reference index a scoring tier holds), and the per-doc
    * scores land append-only. Stateless per doc ⇒ batch boundaries
    * can't change any row, and the landed table must equal the batch
    * t32 answer — the two share t32's DuckDB oracle AND the
    * `distinctTrigrams`/`noveltyScore` code (d21Halves discipline: the
    * stream can't silently diverge from the query it mirrors).
    */
  def s27StreamNovelty(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val dir = stageFrontierDocsJson(s, d)
    val docsAll = Tables.documents(s, d)
    val cut = docsAll.agg(floor((max("doc_id") + lit(1)).cast("double") / 2).cast("long").as("cut"))
    val ref = TextAnalysis
      .distinctTrigrams(docsAll.crossJoin(broadcast(cut)).filter(col("doc_id") < col("cut")))
      .select("g")
      .distinct()
      .cache()
    try {
      ref.count() // materialize once, not per micro-batch
      val docSchema = StructType(
        Seq(StructField("doc_id", LongType), StructField("text", StringType))
      )
      val root = graft.TempDirs.create("graft_s27_run_")
      val q = s.readStream
        .option("maxFilesPerTrigger", 1)
        .text(s"$dir/json")
        .select(from_json(col("value"), docSchema).as("r"))
        .select("r.*")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch is at-least-once: a replayed batch must not
          // duplicate rows, so each batch OVERWRITES its own
          // deterministic partition directory instead of blind-append —
          // the idempotent file-sink shape of the transactional-write
          // pattern (redelivery rewrites the same bytes).
          TextAnalysis
            .noveltyScore(TextAnalysis.distinctTrigrams(batch), ref)
            .write
            .mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
        }
        .option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/out").drop("batch").orderBy("doc_id")
    } finally ref.unpersist()
  }

  private def stageDocsJsonDuplicated(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_docsdup_", d) { dir =>
      val docs = Tables.documents(s, d).select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      docs
        .unionByName(docs)
        .coalesce(8)
        .write
        .mode("overwrite")
        .text(s"$dir/json")
      dir
    }

  /** s13: ONLINE near-dup index maintenance — d2's MinHash-LSH dedup run
    * as a stream. Each micro-batch of documents (1) shingles + minhash-
    * bands its own rows, (2) equi-joins its postings against the
    * ACCUMULATED posting index (so candidates are new×all, never a
    * rescan of old×old), (3) exact-verifies candidate Jaccard against
    * the accumulated shingle store, and (4) appends verified pairs +
    * its own postings/shingles to the stores. This is how a 100 TB/day
    * ingest keeps its dedup index current: per-batch cost is new-doc
    * postings × colliding bucket entries, and history is touched only
    * through the bucket join. The final accumulated pair set must equal
    * the BATCH d2 pair set exactly — same oracle.
    */
  def s13StreamDedupIndex(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftExpressions
    val dir = stageDocsJson(s, d)
    val docSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType))
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), docSchema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create("graft_s13_run_")
    val (postingsPath, docsPath, pairsPath) = (s"$root/postings", s"$root/docs", s"$root/pairs")
    val nHashes = 64
    val rowsPerBand = 2
    val nBands = nHashes / rowsPerBand
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val sh = batch
          .select(
            col("doc_id"),
            GraftExpressions.shingleHashes(split(col("text"), " "), 3).as("sh")
          )
          .filter(size(col("sh")) > 0)
          .localCheckpoint()
        val banded = sh
          .select(
            col("doc_id"),
            GraftExpressions.minhashFromHashes(col("sh"), nHashes).as("sig")
          )
          .select(
            col("doc_id"),
            posexplode(
              transform(
                sequence(lit(0), lit(nBands - 1)),
                b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)
              )
            ).as(Seq("band", "bh"))
          )
          .localCheckpoint()
        val oldPostings =
          if (new java.io.File(postingsPath).exists()) spark.read.parquet(postingsPath)
          else banded.limit(0)
        val allPostings = oldPostings.unionByName(banded)
        val cands = banded
          .select(col("band"), col("bh"), col("doc_id").as("id_n"))
          .join(allPostings.select(col("band"), col("bh"), col("doc_id").as("id_o")), Seq("band", "bh"))
          .filter(col("id_n") =!= col("id_o"))
          .select(
            least(col("id_n"), col("id_o")).as("id_a"),
            greatest(col("id_n"), col("id_o")).as("id_b")
          )
          .distinct()
        val allSh =
          (if (new java.io.File(docsPath).exists()) spark.read.parquet(docsPath)
           else sh.limit(0)).unionByName(sh)
        val verified = Dedup
          .withJaccard(
            cands
              .join(allSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
              .join(allSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          )
          .filter(col("jaccard") >= 0.5)
          .select("id_a", "id_b", "jaccard")
        verified.write.mode("append").parquet(pairsPath)
        banded.write.mode("append").parquet(postingsPath)
        sh.write.mode("append").parquet(docsPath)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(pairsPath).distinct().orderBy("id_a", "id_b")
  }

  /** s12: streaming QUANTILE-STORE maintenance — c8's mergeable KLL
    * partials kept fresh by the stream itself. Every micro-batch sketches
    * its own rows per (dt, type) and foreachBatch MERGES them into the
    * persisted store (kllMerge of stored ⊕ incoming — a copy-on-write
    * rewrite of a KB-scale summary table, s6's CDC-upsert shape); the
    * landed store then answers corpus p50/p95/p99 with NO rescan of the
    * event history, which is the only way a percentile dashboard stays
    * cheap against a 100 TB/day firehose. Sketch estimates are randomized
    * within rank error → rows-only; the ScalaTest gate bounds them
    * between the exact quantiles at rank ± 0.05.
    */
  def s12StreamQuantile(s: SparkSession, d: String, k: Int = 200): DataFrame = {
    import graft.plans.GraftExpressions
    val dir = stageJson(s, d)
    val stream = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 2).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
    val root = graft.TempDirs.create("graft_s12_run_")
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val incoming = batch
          .groupBy("dt", "event_type")
          .agg(GraftExpressions.kllSketch(col("value"), k).as("sk"), count(lit(1)).as("n"))
        val merged = Option(current.get()) match {
          case Some(prev) =>
            spark.read
              .parquet(prev)
              .unionByName(incoming)
              .groupBy("dt", "event_type")
              .agg(GraftExpressions.kllMerge(col("sk"), k).as("sk"), sum("n").as("n"))
          case None => incoming
        }
        val next = s"$root/state_v$batchId"
        merged.write.mode("overwrite").parquet(next)
        current.set(next)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(current.get())
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

  /** s11: streaming EXACT distinct-users-per-hour — the firehose "unique
    * visitors" metric, computed with TWO chained stateful operators:
    * dropDuplicatesWithinWatermark on (user_id, hour-bucket) shrinks
    * state to one row per user-hour and evicts it at the watermark, then
    * the watermarked tumbling-window count aggregates the survivors — a
    * distinct SET never sits in aggregation state (the scale difference
    * vs count_distinct inside the agg, whose per-window hash set grows
    * with cardinality). Landed via an append-mode parquet sink; the
    * sentinel advances the final watermark so the one-shot run flushes
    * every real window (its own far-future window never flushes). Oracle
    * is the batch COUNT(DISTINCT user_id) per hour.
    */
  def s11StreamDistinct(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageJsonSentinel(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 16).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val deduped = stream
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "bucket")
    val agg = deduped
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("uniques"))
      .select(col("window.start").as("bucket_start"), col("uniques"))
    val out = graft.TempDirs.create("graft_s11_run_")
    val q = agg.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$out/data")
      .select(unix_timestamp(col("bucket_start")).as("bucket_s"), col("uniques"))
      .orderBy("bucket_s")
  }

  /** Stage the events table as CSV lines (RFC-4180 quoting via `to_csv`
    * — `props` holds JSON with embedded commas/quotes, so naive
    * concat_ws would corrupt the wire). Timestamps serialize with the
    * shared µs format so stream-side event times land on the oracle's
    * instants.
    */
  private def stageCsv(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_csv_", d) { dir =>
      Tables
        .events(s, d)
        .select(
          to_csv(
            struct(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"), col("props")),
            java.util.Collections.singletonMap("timestampFormat", StreamIngest.csvTsFormat)
          ).as("value")
        )
        .coalesce(4)
        .write
        .mode("overwrite")
        .text(s"$dir/csv")
      dir
    }

  /** Staged events as protobuf wire messages (binary `value` column in
    * parquet — the file stand-in for Kafka message values). Encoding is
    * the [[graft.sources.ProtoWire]] positional mapping over
    * [[eventSchema]], run distributed per partition.
    */
  private def stageProto(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_proto_", d) { dir =>
      val schema = eventSchema
      Tables
        .events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(row => graft.sources.ProtoWire.encode(row, schema))(
          org.apache.spark.sql.Encoders.BINARY
        )
        .toDF("value")
        .coalesce(4)
        .write
        .mode("overwrite")
        .parquet(s"$dir/proto")
      dir
    }

  /** The Avro writer schema shared by the s34 staging (encode) and
    * ingest (decode) sides — the khose wire shape: one binary-encoded
    * record per message, `ts` carried as logicalType timestamp-micros
    * so the decode side dispatches on the annotation, not a magnitude
    * heuristic.
    */
  private[graft] val avroEventSchemaJson: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string"}]}""".stripMargin

  /** Staged events as binary Avro records (binary `value` column in
    * parquet — the file stand-in for Kafka message values). Encoding runs
    * distributed: one avro-core `GenericDatumWriter` + reusable
    * `BinaryEncoder` per partition, one record per message (the khose
    * wire shape — NOT an Avro container file).
    */
  private def stageAvro(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_avro_", d) { dir =>
      val schemaJson = avroEventSchemaJson
      Tables
        .events(s, d)
        .select(
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("user_id"),
          col("event_type"),
          col("value"),
          col("props")
        )
        .as(org.apache.spark.sql.Encoders.product[(Long, Long, Long, String, Double, String)])
        .mapPartitions { it =>
          val avroSchema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val writer =
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](avroSchema)
          val bos = new java.io.ByteArrayOutputStream()
          var enc: org.apache.avro.io.BinaryEncoder = null
          it.map { case (id, tsUs, uid, typ, v, props) =>
            bos.reset()
            enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, enc)
            val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
            rec.put("event_id", id)
            rec.put("ts", tsUs)
            rec.put("user_id", uid)
            rec.put("event_type", typ)
            rec.put("value", v)
            rec.put("props", props)
            writer.write(rec, enc)
            enc.flush()
            bos.toByteArray
          }
        }(org.apache.spark.sql.Encoders.BINARY)
        .toDF("value")
        .coalesce(4)
        .write
        .mode("overwrite")
        .parquet(s"$dir/avro")
      dir
    }

  /** s34: the s1 firehose with the AVRO wire format — binary record
    * values through the same parse → keyed-repartition → partitioned
    * parquet path, only the parse slot swapped (`wireFormat = "avro"`,
    * the writer schema as config — khose's schema-registry shape).
    * Decode is avro-core's `GenericDatumReader` per partition (no
    * spark-avro needed); corrupt capture follows the CSV/proto
    * permissive contract. Oracle: the landed table must aggregate to
    * what DuckDB computes from the source rows — same check as
    * s15/s16, so the three wire formats are gate-equivalent.
    */
  def s34IngestAvro(s: SparkSession, d: String): DataFrame = {
    val avro = stageAvro(s, d)
    val dir = graft.TempDirs.create("graft_s34_run_")
    val raw = s.readStream
      .schema(StructType(Seq(StructField("value", org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", 16)
      .parquet(s"$avro/avro")
    val q = StreamIngest.runFromRaw(
      raw,
      StreamIngest.IngestConfig(
        source = StreamIngest.FileSource(s"$avro/avro"),
        schema = eventSchema,
        tsColumn = "ts",
        outputPath = s"$dir/out",
        checkpointPath = s"$dir/ck",
        sinkPartitions = 16,
        wireFormat = "avro",
        avroWriterSchema = Some(avroEventSchemaJson)
      )
    )
    q.awaitTermination()
    s.read
      .parquet(s"$dir/out")
      .groupBy(col("dt").cast("date").as("dt"), col("hr").cast("int").as("hr"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        count(col("_corrupt")).as("n_corrupt")
      )
      .orderBy("dt", "hr")
  }

  /** s35: MULTI-TOPIC FAN-IN — two "topics" with DIFFERENT wire formats
    * (a CSV text topic and a binary-Avro topic, the s15/s34 stages) are
    * parsed per-leg, topic-tagged, and unioned into ONE landed table by
    * a single streaming query through [[StreamIngest.runFanIn]] (khose
    * consumes many topics into one columnar store; this is that shape
    * with the wire format varying per topic). The sink partitions by
    * (topic, dt, hr); one checkpoint covers both legs, so the file
    * sink's exactly-once contract is joint. Oracle: the landed table
    * must aggregate, per topic, to what DuckDB computes from the source
    * rows — each topic independently equal to the events table.
    */
  def s35MultiTopicFanin(s: SparkSession, d: String): DataFrame = {
    val csv = stageCsv(s, d)
    val avro = stageAvro(s, d)
    val dir = graft.TempDirs.create("graft_s35_run_")
    val rawCsv = s.readStream.option("maxFilesPerTrigger", 16).text(s"$csv/csv")
    val rawAvro = s.readStream
      .schema(StructType(Seq(StructField("value", org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", 16)
      .parquet(s"$avro/avro")
    def cfg(wf: String) = StreamIngest.IngestConfig(
      source = StreamIngest.FileSource("unused"),
      schema = eventSchema,
      tsColumn = "ts",
      outputPath = s"$dir/out",
      checkpointPath = s"$dir/ck",
      wireFormat = wf,
      avroWriterSchema = if (wf == "avro") Some(avroEventSchemaJson) else None
    )
    val q = StreamIngest.runFanIn(
      Seq(("events_csv", rawCsv, cfg("csv")), ("events_avro", rawAvro, cfg("avro"))),
      s"$dir/out",
      s"$dir/ck",
      sinkPartitions = 16
    )
    q.awaitTermination()
    s.read
      .parquet(s"$dir/out")
      .groupBy(col("topic"), col("dt").cast("date").as("dt"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        count(col("_corrupt")).as("n_corrupt")
      )
      .orderBy("topic", "dt")
  }

  /** s16: the s1 firehose with a PROTOBUF wire format — binary message
    * values (the Kafka-shaped payload) through the same parse →
    * keyed-repartition → partitioned parquet path, with only the parse
    * slot swapped (`wireFormat = "protobuf"`). Decode is the
    * dependency-free [[graft.sources.ProtoWire]] wire-format reader;
    * corrupt-capture (truncated varint, length past buffer, wire-type
    * mismatch → dead-letter row) is ScalaTest-gated. Oracle: the landed
    * table must aggregate to what DuckDB computes from the source rows.
    */
  def s16IngestProto(s: SparkSession, d: String): DataFrame = {
    val proto = stageProto(s, d)
    val dir = graft.TempDirs.create("graft_s16_run_")
    val raw = s.readStream
      .schema(StructType(Seq(StructField("value", org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", 16)
      .parquet(s"$proto/proto")
    val q = StreamIngest.runFromRaw(
      raw,
      StreamIngest.IngestConfig(
        source = StreamIngest.FileSource(s"$proto/proto"),
        schema = eventSchema,
        tsColumn = "ts",
        outputPath = s"$dir/out",
        checkpointPath = s"$dir/ck",
        sinkPartitions = 16,
        wireFormat = "protobuf"
      )
    )
    q.awaitTermination()
    s.read
      .parquet(s"$dir/out")
      .groupBy(col("dt").cast("date").as("dt"), col("hr").cast("int").as("hr"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        count(col("_corrupt")).as("n_corrupt")
      )
      .orderBy("dt", "hr")
  }

  /** s15: the s1 firehose with a CSV wire format — same source →
    * parse → keyed-repartition → partitioned parquet path, only the
    * parse slot swapped (`wireFormat = "csv"`), which is the whole
    * point of the config-driven ingest: the wire format is one key,
    * nothing downstream changes. Oracle: the landed table must
    * aggregate to what DuckDB computes from the source rows.
    */
  def s15IngestCsv(s: SparkSession, d: String): DataFrame = {
    val csv = stageCsv(s, d)
    val dir = graft.TempDirs.create("graft_s15_run_")
    val q = StreamIngest.run(
      s,
      StreamIngest.IngestConfig(
        source = StreamIngest.FileSource(s"$csv/csv"),
        schema = eventSchema,
        tsColumn = "ts",
        outputPath = s"$dir/out",
        checkpointPath = s"$dir/ck",
        sinkPartitions = 16,
        wireFormat = "csv"
      )
    )
    q.awaitTermination()
    s.read
      .parquet(s"$dir/out")
      .groupBy(col("dt").cast("date").as("dt"), col("hr").cast("int").as("hr"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        count(col("_corrupt")).as("n_corrupt")
      )
      .orderBy("dt", "hr")
  }

  /** s14: streaming top-k as an incrementally maintained materialized
    * count view — each micro-batch folds its token counts into the keyed
    * state table (one equi-shuffle on the token, vocab-sized state, the
    * c6 partial-merge pattern run from a stream), and the serve side is
    * a bounded-heap top-20 over the state. Exact, so it joins the full
    * oracle gate (tiebreak on token makes the cut deterministic) —
    * unlike a sketch store, this is the production shape for "top
    * entities, updated continuously" dashboards.
    */
  def s14StreamTopk(s: SparkSession, d: String): DataFrame = {
    val dir = stageDocsJson(s, d)
    val docSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType))
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), docSchema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create("graft_s14_run_")
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val incoming = batch
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
        val merged = Option(current.get()) match {
          case Some(prev) =>
            spark.read
              .parquet(prev)
              .unionByName(incoming)
              .groupBy("tok")
              .agg(sum("n").as("n"))
          case None => incoming
        }
        val next = s"$root/state_v$batchId"
        merged.write.mode("overwrite").parquet(next)
        current.set(next)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(current.get())
      .orderBy(desc("n"), col("tok"))
      .limit(20)
      .select("tok", "n")
  }

  /** s17: STREAM-MAINTAINED MATERIALIZED VIEW — the full loop the
    * previous pieces build toward. Each micro-batch of the event
    * firehose folds its per-(day, type) partials (count/sum/min/max —
    * c6's mergeable algebra) into a copy-on-write rollup store that
    * stays days×types-sized no matter how much history has streamed
    * through. The finished store is then REGISTERED with
    * [[graft.plans.MvRegistry]], and the returned query — written
    * against RAW events, as a dashboard would — is transparently
    * answered from the stream-built rollup by the MvRewrite optimizer
    * rule. The DuckDB oracle recomputes from raw events, so
    * exactly-once maintenance AND the rewrite's partial-merge algebra
    * are both on the hook for the hash. At 100 TB: the dashboard's
    * aggregate costs a scan of a KB-scale summary that was maintained
    * incrementally, while the query text still says `FROM events`.
    */
  /** s17's durable version pointer: an on-disk commit log of
    * `commit_<batchId>` marker files next to the `state_v<batchId>`
    * rollup versions, highest committed id wins. This is the
    * SnapshotStore manifest discipline applied to the rollup pointer —
    * it, not an in-memory reference, is what makes the exactly-once
    * claim hold across foreachBatch retries and checkpoint restarts.
    */
  private[graft] def s17LatestCommitted(root: String): Option[String] =
    latestCommittedId(root).map(id => s"$root/state_v$id")

  /** Highest committed marker id under `root` (the read-out pointer for
    * multi-state folds whose data lives under per-id paths).
    */
  private[graft] def latestCommittedId(root: String): Option[Long] = {
    val ids = Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .collect { case n if n.startsWith("commit_") => n.stripPrefix("commit_").toLong }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Fold one micro-batch of raw events into the next rollup version.
    * Idempotent under retry: a batchId whose marker already exists is
    * skipped (no double-fold); a retry that died between the state
    * write and the marker recomputes from the latest COMMITTED version
    * and overwrites — deterministic batch content ⇒ identical bytes —
    * then commits. The marker creation is the atomic commit point.
    */
  private[graft] def s17Fold(root: String, batchId: Long, batch: DataFrame): Unit = {
    if (new java.io.File(s"$root/commit_$batchId").exists()) return
    val spark = batch.sparkSession
    val incoming = batch
      .select(col("ts").cast("date").as("dt"), col("event_type"), col("value"))
      .groupBy("dt", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("value").as("sv"),
        min("value").as("mnv"),
        max("value").as("mxv")
      )
    val merged = s17LatestCommitted(root) match {
      case Some(prev) =>
        spark.read
          .parquet(prev)
          .unionByName(incoming)
          .groupBy("dt", "event_type")
          .agg(
            sum("n").as("n"),
            sum("sv").as("sv"),
            min("mnv").as("mnv"),
            max("mxv").as("mxv")
          )
      case None => incoming
    }
    merged.write.mode("overwrite").parquet(s"$root/state_v$batchId")
    new java.io.File(s"$root/commit_$batchId").createNewFile()
    ()
  }

  /** Run the s17 maintenance stream and register the stream-built
    * rollup as THE answer for raw-events aggregates — with BOTH dims
    * declared (type and the `cast(ts as date)` day), so grain-coarsening
    * queries (month dashboards) are admitted too.
    */
  private def runStreamMv(s: SparkSession, d: String): Unit = {
    val dir = stageJson(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 8).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val root = graft.TempDirs.create("graft_s17_run_")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => s17Fold(root, batchId, batch) }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.plans.MvRegistry.register(
      s,
      Tables.events(s, d),
      s.read.parquet(s17LatestCommitted(root).get),
      dims = Map("event_type" -> "event_type", "cast(ts as date)" -> "dt"),
      measure = "value"
    )
  }

  def s17StreamMv(s: SparkSession, d: String): DataFrame = {
    runStreamMv(s, d)
    Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(min("value"), 2).as("min_value"),
        round(max("value"), 2).as("max_value")
      )
      .orderBy("event_type")
  }

  /** s18: the STREAMING half of c16c — a month-grain dashboard answered
    * from the stream-maintained day×type rollup (s17's store), composing
    * incremental stream maintenance with the time-grain-hierarchy
    * rewrite: the firehose keeps the day partials current, and every
    * coarser time grain is a regrouping of them at query time. Oracle
    * recomputes from raw events; the plan swap is ScalaTest-pinned.
    */
  def s18StreamMvMonth(s: SparkSession, d: String): DataFrame = {
    runStreamMv(s, d)
    Tables
      .events(s, d)
      .groupBy(
        trunc(col("ts").cast("date"), "month").as("month_start"),
        col("event_type")
      )
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("month_start", "event_type")
  }

  /** s19: the stream-maintained rollup answers a STAR dashboard — the
    * query joins raw events to a category dim and groups by the dim
    * attribute, and MvRewrite's join path (c16f) swaps the fact scan
    * for the rollup that foreachBatch built incrementally. This closes
    * the loop between the two round-8 MV capabilities: INCREMENTAL
    * MAINTENANCE (s17's exactly-once fold) and JOIN-AWARE ANSWERING
    * (c16f's commute-through-broadcast-join), composed. At 100 TB the
    * dashboard costs a KB summary scan + a KB dim broadcast while the
    * ingest pipeline keeps the summary fresh per micro-batch — the
    * lambda-architecture dashboard without the lambda. The oracle
    * recomputes from raw events with the dim inlined as VALUES, so the
    * stream fold AND the rewrite algebra are both on the hash hook.
    */
  private def stageEmbeddingsJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_emb_", d) { dir =>
      Tables
        .embeddings(s, d)
        .select(to_json(struct(col("vec_id"), col("embedding"))).as("value"))
        .coalesce(4)
        .write
        .mode("overwrite")
        .text(s"$dir/json")
      dir
    }

  /** s20: STREAMING semantic dedup — d17's SemDeDup run online, the way
    * an ingest pipeline actually meets new vectors: the cluster model
    * (label-centroid means, k×dim values — kilobytes, the v7-style
    * offline artifact) is trained once and rebuilt inside every
    * micro-batch; each batch assigns its vectors, compares NEW members
    * against stored-plus-batch cluster-mates only (s13's new×all index
    * discipline — old×old is never rescanned), and appends normalized
    * similar-pairs to the pair store. Keep decisions materialize at
    * read time from the accumulated pairs (drop any vector similar to a
    * lower-id mate), which makes the result arrival-order-INSENSITIVE:
    * a pair is found whichever side arrives first, so the final table
    * is provably identical to batch [[Dedup.d17SemDedup]] — same DuckDB
    * oracle, and ScalaTest asserts row-level equivalence. At 100 TB the
    * per-batch pair work is batch × cluster-occupancy, never corpus².
    */
  def s20StreamSemDedup(s: SparkSession, d: String, tau: Double = 0.4): DataFrame = {
    import graft.plans.GraftExpressions
    val dir = stageEmbeddingsJson(s, d)
    val cenRows = Tables
      .embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy(col("label"), col("idx"))
      .agg((round(avg(col("v").cast("double")), 4) + lit(0.0)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .toSeq
    val schema = StructType(
      Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))
      )
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), schema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create("graft_s20_run_")
    val (memberPath, pairsPath) = (s"$root/members", s"$root/pairs")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        val cen = broadcast(cenRows.toDF("c_label", "c_idx", "c"))
        val dist = batch
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "v")))
          .select(col("vec_id"), col("idx"), col("v").cast("double").as("v"))
          .join(cen, col("idx") === col("c_idx"))
          .withColumn("sq", round((col("v") - col("c")) * (col("v") - col("c")), 10).cast("decimal(24,12)"))
          .groupBy("vec_id", "c_label")
          .agg(sum("sq").as("dist"))
        val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("c_label"))
        val members = batch
          .select(
            col("vec_id"),
            col("embedding"),
            sqrt(GraftExpressions.dotF(col("embedding"), col("embedding"))).as("nrm")
          )
          .join(
            dist
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1)
              .select(col("vec_id"), col("c_label").cast("long").as("cluster")),
            "vec_id"
          )
          .localCheckpoint()
        val old =
          if (new java.io.File(memberPath).exists()) spark.read.parquet(memberPath)
          else members.limit(0)
        val pairs = members
          .select(col("vec_id").as("id_n"), col("cluster"), col("embedding").as("en"), col("nrm").as("nn"))
          .join(
            old.unionByName(members)
              .select(col("vec_id").as("id_o"), col("cluster"), col("embedding").as("eo"), col("nrm").as("no")),
            Seq("cluster")
          )
          .filter(col("id_n") =!= col("id_o"))
          .filter(GraftExpressions.dotF(col("en"), col("eo")) / (col("nn") * col("no")) >= tau)
          .select(least(col("id_n"), col("id_o")).as("id_a"), greatest(col("id_n"), col("id_o")).as("id_b"))
          .distinct()
        pairs.write.mode("append").parquet(pairsPath)
        members.write.mode("append").parquet(memberPath)
        ()
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dup =
      if (new java.io.File(pairsPath).exists())
        s.read.parquet(pairsPath).select(col("id_b").as("vec_id")).distinct()
      else s.read.parquet(memberPath).select("vec_id").limit(0)
    s.read
      .parquet(memberPath)
      .select("vec_id", "cluster")
      .join(dup.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("is_dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  def s19StreamStarMv(s: SparkSession, d: String): DataFrame = {
    runStreamMv(s, d)
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
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("category")
  }

  // ------------------------------------------------------------------
  // s21: watermark late-data semantics, driver-gated.
  // ------------------------------------------------------------------

  /** s21's staging: events written as ONE file PER ARRIVAL BATCH, named
    * and modification-timed in arrival order so the file stream source
    * replays the schedule deterministically. Arrival batch = 3-day
    * event-time bucket, except planted stragglers: `user_id % 7 == 1`
    * events arrive one batch late, `user_id % 7 == 0` two batches late.
    * A far-future sentinel file closes the run (flushes every window
    * through the append sink).
    */
  private def stageArrivalOrdered(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_late_", d) { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val d0 = ev.agg(to_date(min("ts")).as("d0"))
      val shift = when(pmod(col("user_id"), lit(7)) === 0, 2)
        .when(pmod(col("user_id"), lit(7)) === 1, 1)
        .otherwise(0)
      val arr = ev
        .crossJoin(broadcast(d0))
        .withColumn("arr", (datediff(to_date(col("ts")), col("d0")) / 3).cast("int") + shift)
        .drop("d0")
      val sentinel = ev
        .agg(max(col("ts")).as("ts0"))
        .select(
          lit(-1L).as("event_id"),
          (col("ts0") + expr("interval 48 hours")).as("ts"),
          lit(-1L).as("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"),
          lit(999).as("arr")
        )
      arr
        .unionByName(sentinel)
        .select(
          to_json(
            struct(eventSchema.fieldNames.map(col).toIndexedSeq: _*),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          ).as("value"),
          col("arr")
        )
        .repartition(1)
        .write
        .partitionBy("arr")
        .mode("overwrite")
        .text(s"$dir/stage")
      // driver-side renumber: O(arrival batches) directory moves, not O(rows)
      val stageDir = new java.io.File(s"$dir/stage")
      val jsonDir = new java.io.File(s"$dir/json"); jsonDir.mkdirs()
      val base = System.currentTimeMillis() - 1000000L
      stageDir
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("arr="))
        .sortBy(_.getName.stripPrefix("arr=").toInt)
        .zipWithIndex
        .foreach { case (sub, i) =>
          val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
          val dst = new java.io.File(jsonDir, f"batch_$i%04d.json")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(base + i * 60000L)
        }
      dir
    }

  /** s21: WATERMARK LATE-DATA AUDIT — the windowed aggregate under a
    * 2-hour watermark against a deterministic out-of-order arrival
    * schedule (one file per arrival batch, `maxFilesPerTrigger=1` ⇒ one
    * micro-batch each). One-batch-late stragglers land inside the
    * watermark and must be COUNTED; two-batch-late stragglers are past
    * it and must be DROPPED. The DuckDB oracle replays Spark's exact
    * watermark algebra — per-batch max event time floored to
    * MILLISECONDS (EventTimeStats precision), minus the delay, windows
    * emitted only where `window_end > watermark_before_their_batch` — so
    * the hash gate checks the drop semantics themselves, not just the
    * happy path. [[lastDroppedByWatermark]] exposes the engine's own
    * dropped-row counter for the spec to prove rows were genuinely
    * discarded by state, not filtered upstream.
    */
  val lastDroppedByWatermark = new java.util.concurrent.atomic.AtomicLong(-1L)
  def s21LateDataAudit(s: SparkSession, d: String): DataFrame = withStatePartitions(s) {
    val dir = stageArrivalOrdered(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val out = graft.TempDirs.create("graft_s21_run_")
    val q = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv")
      )
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastDroppedByWatermark.set(
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    )
    s.read
      .parquet(s"$out/data")
      .filter(col("event_type") =!= "__sentinel__")
      .select(
        to_date(col("window.start")).as("day"),
        col("event_type"),
        col("n"),
        col("sv").cast("decimal(38,2)").cast("double").as("sum_value")
      )
      .orderBy("day", "event_type")
  }

  /** s22 (round 9): STREAMING CURATION — the ingest-side form of the
    * batch curation gate: documents arrive as a JSON stream and each
    * micro-batch (1) applies the deterministic quality screen (token
    * count + distinct-token ratio, t2's rule shapes) to ITS OWN rows
    * only, and (2) folds the survivors' content fingerprints into a
    * persisted dedup index via a hash-bucketed bounded-write upsert of
    * (fingerprint → min doc_id, copy count). Both folds are min/sum —
    * associative and commutative — so the landed index is provably
    * ARRIVAL-ORDER-INSENSITIVE: whatever the file order, the final
    * canonical per fingerprint is the global min id and the count is
    * the global count, which is what lets a batch DuckDB oracle
    * hash-gate a streaming pipeline. State is O(distinct fingerprints)
    * (the dedup index a 100 TB/day ingest tier must carry anyway);
    * old×old is never rescanned — each upsert reads and rewrites only
    * the fingerprint buckets its batch touches.
    */
  def s22StreamCurate(s: SparkSession, d: String): DataFrame = s22ReadIndex(s, s22CurateIndex(s, d))

  /** s22's fold: lands the dedup index in a fresh bucketed store and
    * returns the store's path (c37's compaction target).
    */
  private[graft] def s22CurateIndex(s: SparkSession, d: String): String =
    // opt-in compaction every 16 batches (round 17): the r16 default
    // flip to 0 (GC broke time travel for PINNED readers) let this
    // fold's manifest/version chain grow with batch count — measured
    // +0.4 s at sf0.1 (SCALING.md). s22 is the s40 pattern (reads only
    // the LATEST id, replays at most the newest batch), so the GC
    // horizon can never strand it; s40 proves the same fold at the
    // harshest cadence (=1) mid-stream.
    s22CurateFold(s, d, compactEvery = 16, runPrefix = "graft_s22_run_")

  /** s40 (round 15): s22's dedup-index fold under a FORCED every-batch
    * compaction cadence — each micro-batch upsert immediately
    * self-compacts and GCs the store (`autoCompactEvery = 1`, the
    * harshest setting), proving the compaction/GC cycle preserves the
    * fold MID-STREAM, not just in c37's offline pass. Output contract
    * and oracle are s22's exactly: whatever the cadence, the landed
    * index is the same arrival-order-insensitive (fp -> min id, count).
    */
  def s40StreamDedupCompact(s: SparkSession, d: String): DataFrame =
    s22ReadIndex(s, s22CurateFold(s, d, compactEvery = 1, runPrefix = "graft_s40_run_"))

  private def s22ReadIndex(s: SparkSession, store: String): DataFrame =
    graft.sources.BucketedStateStore
      .readLatest(s, store)
      .get
      .select(col("doc_id"), col("fp"), col("n_copies"))
      .orderBy("doc_id")

  private def s22CurateFold(s: SparkSession, d: String, compactEvery: Int, runPrefix: String): String = {
    val (minTokens, minDistinctRatio) = (10, 0.3)
    val dir = stageDocsJsonDuplicated(s, d)
    val docSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType))
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), docSchema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create(runPrefix)
    val store = s"$root/index"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!graft.sources.BucketedStateStore.committed(store, batchId)) {
          val tk = graft.functions.TextFunctions.tokens(col("text"))
          val incoming = batch
            .select(col("doc_id"), col("text"), tk.as("tk"))
            .filter(
              size(col("tk")) >= minTokens &&
                size(array_distinct(col("tk"))).cast("double") /
                  greatest(size(col("tk")), lit(1)) >= minDistinctRatio
            )
            .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
            .groupBy("fp")
            .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          // round-14 bounded-write upsert: only the fingerprint buckets
          // this batch touches are rewritten — per-batch written bytes
          // O(batch × bucket), not O(index) (the round-13 COW rewrote the
          // whole index every batch)
          graft.sources.BucketedStateStore
            .upsert(store, batchId, incoming, Seq("fp"), 16, autoCompactEvery = compactEvery) {
              (prev, inc) =>
                prev
                  .unionByName(inc)
                  .groupBy("fp")
                  .agg(min("doc_id").as("doc_id"), sum("n_copies").as("n_copies"))
            }
          ()
        }
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    store
  }

  /** s24's staging: (doc_id, raw_url) JSON lines in ascending-id file
    * ranges, so `maxFilesPerTrigger=1` replays the crawl frontier in
    * arrival order.
    */
  private def stageUrlJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_url_", d) { dir =>
      val docs = Tables
        .documents(s, d)
        .select(
          col("doc_id"),
          graft.operators.Dedup.rawUrlFixture(col("doc_id"), col("source")).as("raw_url")
        )
      val mx = docs.agg((max("doc_id") + 1).as("mxp1"))
      docs
        .crossJoin(broadcast(mx))
        .withColumn("arr", floor(col("doc_id") * 4 / col("mxp1")).cast("int"))
        .select(to_json(struct(col("doc_id"), col("raw_url"))).as("value"), col("arr"))
        .repartition(1)
        .write
        .partitionBy("arr")
        .mode("overwrite")
        .text(s"$dir/stage")
      // arrival order must BE the id order: one file per id-quartile,
      // renamed + mtime-stamped ascending (s21's staging discipline —
      // same-mtime part files give FileStreamSource no defined order)
      val stageDir = new java.io.File(s"$dir/stage")
      val jsonDir = new java.io.File(s"$dir/json"); jsonDir.mkdirs()
      val base = System.currentTimeMillis() - 1000000L
      stageDir
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("arr="))
        .sortBy(_.getName.stripPrefix("arr=").toInt)
        .zipWithIndex
        .foreach { case (sub, i) =>
          val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
          val dst = new java.io.File(jsonDir, f"batch_$i%04d.json")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(base + i * 60000L)
        }
      dir
    }

  /** s24: STREAMING BLOOM-GATED DEDUP — d21's frontier check run online.
    * URLs arrive raw and are canonicalized PER MICRO-BATCH; the
    * cross-batch state is (a) one OR-mergeable bloom sketch (Spark's
    * BloomFilterAggregate bytes, merged driver-side per batch — KB-scale
    * however long the stream runs) and (b) the exact (url → first doc)
    * index, copy-on-write like s6. Each batch: only bloom-ADMITTED rows
    * join the exact index (misses — the frontier majority — never touch
    * it; no false negatives, so nothing is missed), a left join keeps
    * bloom false positives harmless (null ref ⇒ not a dup), in-batch
    * copies resolve against the batch minimum, and the landed dup report
    * appends (doc_id, canonical_url, ref_doc_id = GLOBAL first). The
    * batch oracle replays "every doc after its URL's first" — arrival
    * order is the staged id order, so the streaming result is exactly
    * the batch answer. State: bloom KB + index O(distinct urls).
    */
  def s24StreamBloomDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dir = stageUrlJson(s, d)
    val urlSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("raw_url", StringType))
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), urlSchema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create("graft_s24_run_")
    val idxRef = new java.util.concurrent.atomic.AtomicReference[String](null)
    val bloomRef = new java.util.concurrent.atomic.AtomicReference[Array[Byte]](null)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val canon = batch.select(
          col("doc_id"),
          graft.operators.Dedup.canonicalizeUrl(col("raw_url")).as("u")
        )
        // bloom prefilter decides who is ALLOWED to consult the index
        val flagged = Option(bloomRef.get) match {
          case Some(bytes) =>
            canon.withColumn(
              "maybe",
              graft.plans.GraftExpressions.bloomMightContain(lit(bytes), xxhash64(col("u")))
            )
          case None => canon.withColumn("maybe", lit(false))
        }
        val admitted = Option(idxRef.get) match {
          case Some(prev) =>
            flagged
              .filter(col("maybe"))
              .join(spark.read.parquet(prev), Seq("u"), "left") // ref0 nullable: fp stays harmless
          case None => flagged.filter(col("maybe")).withColumn("ref0", lit(null).cast("long"))
        }
        val joined = admitted.unionByName(
          flagged.filter(!col("maybe")).withColumn("ref0", lit(null).cast("long"))
        )
        val w = Window.partitionBy("u")
        val withRef = joined
          .withColumn("bmin", min("doc_id").over(w))
          .withColumn("ref", coalesce(col("ref0"), col("bmin")))
        // ids arrive ascending, so a cross-batch ref is always below every
        // current id: one predicate covers both dup arms
        withRef
          .filter(col("doc_id") > col("ref"))
          .select(col("doc_id"), col("u"), col("ref").as("ref_doc_id"))
          .write
          .mode("append")
          .parquet(s"$root/dups")
        val newUniques = withRef
          .filter(col("ref0").isNull && col("doc_id") === col("bmin"))
          .select(col("u"), col("doc_id").as("ref0"))
        val mergedIdx = Option(idxRef.get) match {
          case Some(prev) => spark.read.parquet(prev).unionByName(newUniques)
          case None       => newUniques
        }
        val next = s"$root/index_v$batchId"
        mergedIdx.write.mode("overwrite").parquet(next)
        idxRef.set(next)
        // a batch of pure dups contributes no new keys — the aggregate
        // returns null bytes and the carried bloom stays as-is
        val bb = Option(
          newUniques
            .agg(
              graft.plans.GraftExpressions.bloomAgg(xxhash64(col("u")), 100000L, 1L << 20).as("bf")
            )
            .head()
            .getAs[Array[Byte]]("bf")
        )
        (Option(bloomRef.get), bb) match {
          case (Some(prevB), Some(nb)) =>
            val a = org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(prevB))
            val b = org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(nb))
            a.mergeInPlace(b)
            val out = new java.io.ByteArrayOutputStream()
            a.writeTo(out)
            bloomRef.set(out.toByteArray)
          case (None, Some(nb)) => bloomRef.set(nb)
          case _                => ()
        }
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read
      .parquet(s"$root/dups")
      .select(col("doc_id"), col("u").as("canonical_url"), col("ref_doc_id"))
      .orderBy("doc_id")
  }

  /** s29's staging: the events wire stream with a DRIFTED PRODUCER mixed
    * in — every event_id ≡ 0 (mod 7) record carries an extra
    * `v2_score` field the consumer's schema does not know about (the
    * real-world "someone shipped a new producer version" incident).
    */
  private def stageDriftJson(s: SparkSession, d: String): String =
    graft.TempDirs.fixture("graft_stream_drift_", d) { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value", "props")
      val ok = toJsonMicros(ev.filter(col("event_id") % 7 =!= 0))
      val drifted = toJsonMicros(
        ev.filter(col("event_id") % 7 === 0)
          .withColumn("v2_score", col("value") * 2 + 1)
      )
      ok.unionAll(drifted).coalesce(4).write.mode("overwrite").text(s"$dir/json")
      dir
    }

  /** s29: STREAMING SCHEMA-DRIFT ROUTER — the khose permissive-ingest
    * contract one level above the DLQ: records that PARSE but carry
    * fields outside the declared schema are quarantined (with their raw
    * payload, so nothing is lost when the schema catches up) while
    * conforming records land typed. Detection inspects the actual JSON
    * key set (`json_object_keys` ⊄ expected), not any knowledge of the
    * producer — a brand-new field routes on sight. Both routes write
    * deterministic per-batchId partition directories in the SAME
    * foreachBatch (overwrite ⇒ at-least-once redelivery rewrites the
    * same bytes — s27's idempotence shape), so the split is atomic per
    * batch. The report aggregates both landed routes; the oracle
    * replays the drift rule over the batch table.
    */
  def s29SchemaDrift(s: SparkSession, d: String): DataFrame = {
    val dir = stageDriftJson(s, d)
    val root = graft.TempDirs.create("graft_s29_run_")
    val expected = array(Seq("event_id", "ts", "user_id", "event_type", "value", "props").map(lit): _*)
    val q = s.readStream
      .option("maxFilesPerTrigger", 2)
      .text(s"$dir/json")
      .withColumn("ks", json_object_keys(col("value")))
      .withColumn("drift", exists(col("ks"), k => !array_contains(expected, k)))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          StreamIngest
            .parsed(b.filter(!col("drift")).select("value"), eventSchema, "ts")
            .write
            .mode("overwrite")
            .parquet(s"$root/ok/batch=$batchId")
          b.filter(col("drift"))
            .select(col("value").as("payload"))
            .write
            .mode("overwrite")
            .parquet(s"$root/quarantine/batch=$batchId")
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val okAgg = s.read
      .parquet(s"$root/ok")
      .agg(count(lit(1)).as("n_rows"), countDistinct("user_id").as("n_users"))
      .select(lit("ok").as("route"), col("n_rows"), col("n_users"))
    val qAgg = s.read
      .parquet(s"$root/quarantine")
      .select(get_json_object(col("payload"), "$.user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_rows"), countDistinct("user_id").as("n_users"))
      .select(lit("drift").as("route"), col("n_rows"), col("n_users"))
    qAgg.unionAll(okAgg).orderBy("route")
  }

  /** s30: STREAMING PSI DRIFT MONITOR — e40's population-stability
    * statistic maintained online: each micro-batch's (type, cohort,
    * bin) counts fold into the OCC count store through the SAME
    * batchId-idempotent [[occCountFold]] s28 uses (sum-folds are
    * associative+commutative ⇒ the landed counts, and therefore the
    * PSI, are provably arrival-order-insensitive), and the report runs
    * e40's shared [[graft.operators.Events.psiReport]] over the CURRENT
    * store version. The cohort boundary (date-range midpoint) is the
    * monitor's reference config, computed once from the static table —
    * exactly how a deployed drift monitor pins its expected/actual
    * windows. Shares e40's DuckDB oracle AND report code (as-of-triad
    * discipline). State is O(types × cohorts × bins) — KB however long
    * the stream runs.
    */
  def s30StreamPsi(s: SparkSession, d: String): DataFrame = {
    val dir = stageJson(s, d)
    val root = graft.TempDirs.create("graft_s30_run_")
    val store = s"$root/store"
    val span = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val q = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("event_type"), col("ts"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = batch
          .withColumn("day", to_date(col("ts")))
          .crossJoin(broadcast(span))
          .withColumn(
            "cohort",
            when(datediff(col("day"), col("d0")) * 2 <= datediff(col("d1"), col("d0")), "a")
              .otherwise("b")
          )
          .withColumn("bin", floor(col("value")))
          .groupBy("event_type", "cohort", "bin")
          .agg(count(lit(1)).as("cnt"))
        occCountFold(store, incoming, Seq("event_type", "cohort", "bin"), batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.operators.Events.psiReport(
      SnapshotStore.readCurrent(s, store).withColumnRenamed("cnt", "n")
    )
  }

  /** s31: STREAMING RATE-LIMIT MONITOR — e39's per-user sliding-window
    * burst report computed ONLINE: each micro-batch pre-aggregates to
    * (user, epoch-second) counts and key-sums them into the OCC store
    * through the batchId-idempotent [[occCountFold]] (s28/s30's
    * exactly-once shape — replays acknowledged, arrival order
    * irrelevant because count-folds are associative+commutative). The
    * report then runs e39's RANGE frame over the FOLDED second-grain
    * counts instead of raw events — `sum(cnt) RANGE 599 PRECEDING` over
    * (user, sec) rows equals `count(*)` over events because every event
    * in one second shares its window — so the monitor shares e39's
    * oracle verbatim. State is O(users × active seconds) count rows —
    * data-reduced, mergeable, and independent of how long the stream
    * runs between compactions; at 100 TB/day the fold arrives
    * pre-shrunk by the per-batch groupBy (map-side combine on the
    * micro-batch) before it ever touches the store.
    */
  def s31StreamRateLimit(
      s: SparkSession,
      d: String,
      windowSec: Long = 600L,
      limit: Long = 4L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dir = stageJson(s, d)
    val root = graft.TempDirs.create("graft_s31_run_")
    val store = s"$root/store"
    val q = StreamIngest
      .parsed(
        s.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/json"),
        eventSchema,
        "ts"
      )
      .select(col("user_id"), col("ts"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = batch
          .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("sec"))
          .groupBy("user_id", "sec")
          .agg(count(lit(1)).as("cnt"))
        occCountFold(store, incoming, Seq("user_id", "sec"), batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("sec"))
      .rangeBetween(-(windowSec - 1), 0L)
    SnapshotStore
      .readCurrent(s, store)
      .withColumn("in_window", sum("cnt").over(w))
      .groupBy("user_id")
      .agg(sum("cnt").as("n_events"), max("in_window").as("max_burst"))
      .withColumn("breach", col("max_burst") >= limit)
      .orderBy("user_id")
  }

  /** s32: STREAMING COVARIANCE MONITOR — v20's correlated-dimension
    * audit maintained ONLINE: each micro-batch runs ONE
    * [[graft.plans.GramianAgg]] pass over its vectors and key-sums the
    * flattened O(d²) moment buffer into the OCC store through the
    * batchId-idempotent [[occCountFold]] (the buffer positions are the
    * keys, the sums the counts — a Gramian IS a bag of longs, so the
    * generic count-fold is exactly the right merge). Because every sum
    * is an exact quantized integer, the folded store equals the
    * one-shot batch aggregate BIT-FOR-BIT regardless of how the stream
    * was chopped into batches or replayed — s32 therefore shares v20's
    * oracle verbatim, the strongest arrival-order-insensitivity
    * statement in the streaming family. State is O(d²) longs however
    * long the stream runs.
    */
  def s32StreamCovariance(s: SparkSession, d: String, dim: Int = 64): DataFrame = {
    val dir = stageEmbeddingsJson(s, d)
    val root = graft.TempDirs.create("graft_s32_run_")
    val store = s"$root/store"
    val schema = StructType(
      Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))
    )
    val q = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), schema).as("r"))
      .select("r.*")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = batch
          .agg(graft.plans.GraftExpressions.gramian(col("embedding"), dim).as("g"))
          .select(posexplode(col("g")).as(Seq("k", "cnt")))
        occCountFold(store, incoming, Seq("k"), batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val folded = SnapshotStore
      .readCurrent(s, store)
      .collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Long]("cnt"))
      .toMap
    val g = Array.tabulate(1 + dim + dim * (dim + 1))(k => folded.getOrElse(k, 0L))
    graft.operators.Similarity.covReport(s, g, dim, topK = 20)
  }

  /** s33: STREAMING CORPUS-ENTROPY MONITOR — the vocabulary-level
    * Shannon entropy of the token stream, maintained online: each
    * micro-batch key-sums its token counts into the OCC store (the
    * batchId-idempotent [[occCountFold]] again), and the report folds
    * the landed (token, count) table with t34's decimal discipline
    * (c·ln c quantized to decimal BEFORE the sum). A collapsing
    * entropy is the canonical duplicate-flood / template-spam signal
    * on an ingest firehose. State is VOCABULARY-sized — Heaps-
    * sublinear in the stream, the best possible monitor-state story —
    * and because count-folds are associative the landed table equals
    * the batch recompute under any batch chop, so the DuckDB oracle
    * recomputes straight from the raw documents.
    */
  def s33StreamTokenEntropy(s: SparkSession, d: String): DataFrame = {
    val dir = stageDocsJson(s, d)
    val root = graft.TempDirs.create("graft_s33_run_")
    val store = s"$root/store"
    val docSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType))
    )
    val q = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), docSchema).as("r"))
      .select("r.*")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = batch
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .groupBy("w")
          .agg(count(lit(1)).as("cnt"))
        occCountFold(store, incoming, Seq("w"), batchId)
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SnapshotStore
      .readCurrent(s, store)
      .agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(
          col("cnt").cast("decimal(12,0)") * round(log(col("cnt")), 9).cast("decimal(20,10)")
        ).as("sclnc")
      )
      .select(
        col("n_tokens"),
        col("n_types"),
        round(
          log(col("n_tokens").cast("double")) - col("sclnc").cast("double") / col("n_tokens"),
          6
        ).as("entropy")
      )
  }

  /** s37's micro-batch fold: merge per-(day, user) counts into the
    * hash-BUCKETED state store ([[graft.sources.BucketedStateStore]] —
    * the manifest publish is the atomic commit; redeliveries are
    * acknowledged by the committed manifest, exactly-once across
    * restarts). The state is bounded by active (user, day) pairs, and
    * since round 14 each batch REWRITES ONLY THE BUCKETS ITS KEYS TOUCH
    * — per-batch written bytes O(batch × bucket), never O(state), the
    * fix for the round-13 full-state copy-on-write write amplification.
    */
  private[graft] def s37Fold(root: String, batchId: Long, batch: DataFrame): Unit = {
    val store = s"$root/state"
    if (graft.sources.BucketedStateStore.committed(store, batchId)) return
    val incoming = batch
      .select(col("ts").cast("date").as("dt"), col("user_id"))
      .groupBy("dt", "user_id")
      .agg(count(lit(1)).as("n"))
    graft.sources.BucketedStateStore.upsert(store, batchId, incoming, Seq("dt", "user_id"), 16) {
      (prev, inc) => prev.unionByName(inc).groupBy("dt", "user_id").agg(sum("n").as("n"))
    }
  }

  /** s38's micro-batch fold: two commutative states — (a) per content
    * hash, the MIN-doc_id keeper row with its token count and gate
    * flags (min over a struct is associative/commutative, so the
    * keeper is the SAME doc regardless of batch arrival order — what
    * makes the batch-t46 equivalence exact), and (b) a 1-row corpus
    * total. The keeper table is CORPUS-SIZED (one row per distinct
    * content hash), so since round 14 it lives in the hash-bucketed
    * store ([[graft.sources.BucketedStateStore]]): each batch rewrites
    * only the buckets its hashes touch — per-batch written bytes
    * O(batch × bucket), never O(keepers). The 1-row total rides a tiny
    * per-version parquet. s17's commit-marker stays the OUTER atomic
    * commit point covering both states; a retry that died mid-write
    * recomputes both from the last MARKED id and overwrites its debris.
    */
  private[graft] def s38Fold(
      root: String,
      batchId: Long,
      batch: DataFrame,
      numBuckets: Int = 16,
      autoCompactEvery: Int = graft.sources.BucketedStateStore.defaultCompactEvery
  ): Long = {
    // returns the keep-store bytes this batch's incremental write
    // produced (0 on replay skip) — StateAudit's ledger, captured
    // inside upsert before auto-compaction GC can retire the dir
    if (new java.io.File(s"$root/commit_$batchId").exists()) return 0L
    val spark = batch.sparkSession
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val flagged = batch.select(
      md5(col("text")).as("h"),
      struct(
        col("doc_id"),
        size(tk).cast("long").as("nt"),
        (size(tk).between(20, 1000) &&
          size(filter(tk, t => t.isin(stops: _*))).cast("double") / greatest(size(tk), lit(1)) <= 0.5 &&
          size(array_distinct(tk)).cast("double") / greatest(size(tk), lit(1)) >= 0.2).as("kq"),
        substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7").as("ks")
      ).as("m")
    )
    val incomingKeep = flagged.groupBy("h").agg(min("m").as("m"))
    val incomingTot = batch.agg(
      count(lit(1)).as("d0"),
      sum(size(tk).cast("long")).as("t0")
    )
    val wroteBytes = graft.sources.BucketedStateStore
      .upsert(s"$root/keep", batchId, incomingKeep, Seq("h"), numBuckets,
        autoCompactEvery = autoCompactEvery) { (prev, inc) =>
        prev.unionByName(inc).groupBy("h").agg(min("m").as("m"))
      }
    val mergedTot = latestCommittedId(root) match {
      case Some(prevId) =>
        spark.read
          .parquet(s"$root/tot_v$prevId")
          .unionByName(incomingTot)
          .agg(sum("d0").as("d0"), sum("t0").as("t0"))
      case None => incomingTot
    }
    mergedTot.coalesce(1).write.mode("overwrite").parquet(s"$root/tot_v$batchId")
    new java.io.File(s"$root/commit_$batchId").createNewFile()
    wroteBytes
  }

  /** s38: STREAMING STAGE-ATTRITION — t46's curation observability
    * maintained live: each micro-batch of the document stream folds
    * its content-hash keepers (min-doc wins — arrival-order
    * independent) and corpus totals into the commit-logged state, and
    * the read-out stacks the identical 4-stage report. BIT-IDENTICAL
    * to the batch t46 (shares its oracle verbatim): the dashboard a
    * crawl operator watches while ingest runs, answering "how much of
    * what we just pulled will training actually see" without ever
    * rescanning history. State is keeper-table-sized (distinct
    * hashes), the s13 online-index precedent.
    */
  def s38StreamAttrition(s: SparkSession, d: String): DataFrame = {
    val root = s38AttritionFold(s, d)
    val id = latestCommittedId(root).get
    val keep = graft.sources.BucketedStateStore
      .readAt(s, s"$root/keep", id)
      .get
      .select(col("m.nt"), col("m.kq"), col("m.ks"))
    val tot = s.read.parquet(s"$root/tot_v$id")
    val row = keep
      .agg(
        count(lit(1)).as("d1"),
        sum("nt").as("t1"),
        sum(when(col("kq"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("kq"), col("nt")).otherwise(0L)).as("t2"),
        sum(when(col("kq") && col("ks"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("kq") && col("ks"), col("nt")).otherwise(0L)).as("t3")
      )
      .crossJoin(broadcast(tot))
    row
      .selectExpr(
        "d0",
        "stack(4, 0, 'raw', d0, t0, 1, 'exact_dedup', d1, t1, " +
          "2, 'quality', d2, t2, 3, 'sample', d3, t3) as (stage_id, stage, n_docs, n_tokens)"
      )
      .select(
        col("stage_id"),
        col("stage"),
        col("n_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("d0"), 4).as("doc_share_of_raw")
      )
      .orderBy("stage_id")
  }

  /** s38's stream: folds the staged documents through [[s38Fold]] into a
    * fresh root and returns it ([[graft.StateAudit]] reads its per-batch
    * write ledger).
    */
  private[graft] def s38AttritionFold(s: SparkSession, d: String): String = {
    val dir = stageDocsJson(s, d)
    val docSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType))
    )
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$dir/json")
      .select(from_json(col("value"), docSchema).as("r"))
      .select("r.*")
    val root = graft.TempDirs.create("graft_s38_run_")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => s38Fold(root, batchId, batch); () }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    root
  }

  /** s37: STREAM-MAINTAINED DECAYED HEAVY HITTERS — the "who matters
    * NOW" view every abuse/engagement team keeps: per-user activity
    * with exponential recency decay (half-life = 1 day), maintained as
    * a streaming fold and read out as a top-k. The decay is EXACT
    * integer arithmetic: weight(day) = 2^(day − day₀) via shiftleft on
    * longs, so the score is batch-order-independent (the fold keeps
    * only commutative (day, user) counts — a per-batch decay multiply
    * would depend on nondeterministic file→batch assignment) and the
    * DuckDB oracle replays it bit-for-bit from raw events. Final
    * read-out is one model-sized aggregate + TakeOrdered(20) — no
    * global sort. Weights are NEWEST-day-relative (round-15 rework of
    * the r14 DECIMAL(38,0) emission, which was locally bit-exact but
    * red under the driver's >18-precision canon): age = days behind
    * the stream frontier, clamped at 32 (a 1-day half-life means
    * anything older contributes < 2⁻³² of a fresh event — below
    * ordering relevance), weight = 2^(32−age). The score then provably
    * fits BIGINT on both engines for any corpus under 2³¹ events
    * (Σ n·wt ≤ N·2³² < 2⁶³), so the portable surface is plain BIGINT
    * and no engine ever widens to HUGEINT/DECIMAL(38,0). Note the fold
    * STATE is unchanged — commutative (user, day) counts; only the
    * read-out weighting moved from day₀- to frontier-relative.
    */
  def s37StreamDecayTopk(s: SparkSession, d: String): DataFrame = {
    val dir = stageJson(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 2).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val root = graft.TempDirs.create("graft_s37_run_")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => s37Fold(root, batchId, batch) }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val state = graft.sources.BucketedStateStore.readLatest(s, s"$root/state").get
    val dmax = state.agg(max("dt").as("dmax"))
    state
      .crossJoin(broadcast(dmax))
      .withColumn(
        "wt",
        expr("shiftleft(CAST(1 AS BIGINT), 32 - CAST(least(datediff(dmax, dt), 32) AS INT))")
      )
      .groupBy("user_id")
      .agg(
        sum("n").as("n_events"),
        sum(col("n") * col("wt")).as("decayed_scaled")
      )
      .orderBy(desc("decayed_scaled"), col("user_id"))
      .limit(20)
  }

  /** s39 (round 14): STREAM-MAINTAINED LAST-TOUCH REGISTRY — the "who
    * is active RIGHT NOW, doing what" presence view: each micro-batch
    * folds per-user `max(struct(ts, event_id, event_type))` (a
    * commutative latest-event fold — ts ties broken by the unique
    * event_id, so the landed row is arrival-order-independent and
    * DuckDB-replayable) into the hash-BUCKETED state store — per-batch
    * writes bounded by the user-buckets the batch touches, the third
    * first-class consumer of the round-14 bounded-write upsert. The
    * read-out counts users whose last touch is within 30 minutes of the
    * stream's frontier, grouped by what they last did. State is
    * O(users); the report is one model-sized aggregate.
    */
  def s39StreamLastTouch(s: SparkSession, d: String): DataFrame = {
    val dir = stageJson(s, d)
    val stream = StreamIngest.parsed(
      s.readStream.option("maxFilesPerTrigger", 2).text(s"$dir/json"),
      eventSchema,
      "ts"
    )
    val root = graft.TempDirs.create("graft_s39_run_")
    val store = s"$root/state"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!graft.sources.BucketedStateStore.committed(store, batchId)) {
          val incoming = batch
            .select(col("user_id"), struct(col("ts"), col("event_id"), col("event_type")).as("m"))
            .groupBy("user_id")
            .agg(max("m").as("m"))
          graft.sources.BucketedStateStore.upsert(store, batchId, incoming, Seq("user_id"), 16) {
            (prev, inc) => prev.unionByName(inc).groupBy("user_id").agg(max("m").as("m"))
          }
          ()
        }
      }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val state = graft.sources.BucketedStateStore.readLatest(s, store).get
    val mx = state.agg(max("m.ts").as("mx"))
    state
      .crossJoin(broadcast(mx))
      .filter(col("m.ts") >= col("mx") - expr("INTERVAL 30 MINUTES"))
      .groupBy(col("m.event_type").as("last_event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("last_event_type")
  }
}
