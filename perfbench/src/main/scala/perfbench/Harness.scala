package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, IngestMain, SparkEntry, TempDirs}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.GraftExpressions
import graft.operators.StreamingBatch
import graft.sources.StreamIngest

/** The JVM half of the benchmark: one workload per process, driven only
  * through graft's public entry points and timed from outside by timing
  * the calls into each layer.
  *
  * run.py generates the inputs, launches this main, reads the JSON record
  * it writes (`--out`), checks the results it leaves under `--work`, and
  * prints the metrics. The process ends by printing `PERFBENCH_DONE` and
  * waiting for stdin to close, so that its peak resident memory can be
  * read from outside before it exits.
  */
object Harness {

  private val mapper = new ObjectMapper()

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      warm: String,
      work: String,
      out: String,
      queries: Seq[String],
      inject: String,
      ingestConf: Map[String, String]
  )

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = req("trace") == "1",
      data = req("data"),
      warm = req("warm"),
      work = req("work"),
      out = req("out"),
      queries = m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      inject = m.getOrElse("inject", "none"),
      ingestConf = m.get("ingest-conf").map(p => IngestMain.parseConfig(Files.readString(Paths.get(p)))).getOrElse(Map.empty)
    )
  }

  /** One timed operation: a query execution or one streaming leg. */
  final case class Sample(
      name: String,
      pass: Int,
      startMs: Long,
      endMs: Long,
      buildMs: Double,
      wallMs: Double,
      error: Option[String]
  )

  private def nowMs: Long = System.currentTimeMillis()

  /** A timestamped progress line in the JVM log (stderr). */
  private def log(msg: String): Unit = System.err.println(s"[perfbench] ${java.time.Instant.now()} $msg")

  /** Time `build` (the call into graft that returns the DataFrame) and
    * `run` (the action that produces the full result) as one operation.
    * An operation that throws is a failure: it carries the error and no
    * timing sample is taken from it.
    */
  private def timed(name: String, pass: Int)(build: => DataFrame)(run: DataFrame => Unit): (Sample, Option[DataFrame]) = {
    val start = nowMs
    val t0 = System.nanoTime()
    try {
      val df = build
      val t1 = System.nanoTime()
      run(df)
      val t2 = System.nanoTime()
      (Sample(name, pass, start, nowMs, (t1 - t0) / 1e6, (t2 - t0) / 1e6, None), Some(df))
    } catch {
      case e: Exception =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        log(s"$name failed: $msg")
        (Sample(name, pass, start, nowMs, 0.0, 0.0, Some(msg)), None)
    }
  }

  private def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession
      .configure(
        SparkSession.builder()
          .master(s"local[$cores]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", cores)
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", sys.props("java.io.tmpdir"))
          .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
          .config("spark.hadoop.hadoop.tmp.dir", sys.props("java.io.tmpdir") + "/hadoop")
      )
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    graft.plans.TopK.install(spark)
    spark
  }

  private def builder(name: String, inject: String): (SparkSession, String) => DataFrame =
    if (inject == s"throw:$name") (_, _) => throw new IllegalStateException(s"injected failure in $name")
    else SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Write one query's result where run.py checks it against expected.json. */
  private def saveResult(o: Opts, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${o.work}/results/$name")

  private def saveFailure(o: Opts, name: String, err: String): Unit = {
    Files.createDirectories(Paths.get(s"${o.work}/results"))
    Files.writeString(Paths.get(s"${o.work}/results/$name.error.txt"), err + "\n")
  }

  /** Copy the tables, so a curate pass reads them at a path no earlier pass
    * has used and graft's path-keyed caches cannot serve it.
    */
  private def copyTables(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { p =>
      Files.copy(p, Paths.get(to).resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Between streaming legs (untimed): drop the per-run sink, checkpoint and
    * state dirs, and unload the state-store providers with their
    * maintenance thread, so one leg's leftovers do not load the next.
    */
  private def streamHygiene(spark: SparkSession): Unit = {
    TempDirs.sweepMatching("_run_")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.streams.resetTerminated()
  }

  /** Untimed, before each timed pass: drop every block earlier work left
    * persisted or locally checkpointed (the check pass's cached
    * intermediates and the previous pass's) and collect garbage, so that a
    * pass starts from the same memory state whatever ran before it.
    */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  // ---------------------------------------------------------------- workloads

  /** The set-up pass: every listed query once at the benchmark's own size,
    * untimed, leaving its result for run.py to check against expected.json.
    * It is also the JIT, codegen and class-loading warm-up: at sf0.001 the
    * per-query fixed cost dominates, so a warm-up there costs nearly as much
    * and checks nothing.
    */
  private def checkPass(spark: SparkSession, o: Opts, dir: String)(after: => Unit): Unit =
    o.queries.foreach { n =>
      log(s"check $n")
      try saveResult(o, n, builder(n, o.inject)(spark, dir))
      catch { case e: Exception => saveFailure(o, n, s"${e.getClass.getName}: ${e.getMessage}") }
      after
    }

  /** Timed passes over the list in a seeded order: at least one, and another
    * only while a pass as long as the last would still end within
    * `--seconds`. With a pass much shorter than the window this keeps the
    * last pass from running far past it; it does not keep the pass count
    * steady when twice the pass time is close to the window. A pass longer
    * than half the window makes every run time exactly one; on 4 cores the
    * kept curate and stream_replay passes (7-10 s) are that long for a 10 s
    * window. `dirOf(pass)` gives the tables a pass reads; `after` runs
    * untimed after each operation with its result.
    */
  private def timedPasses(spark: SparkSession, o: Opts, rec: Record, dirOf: Int => String)(run: DataFrame => Unit)(
      after: (Sample, Option[DataFrame]) => Unit
  ): Unit = {
    val rng = new Random(o.seed)
    val deadline = nowMs + (o.seconds * 1000).toLong
    var pass = 0
    var lastPassMs = 0L
    while (pass == 0 || nowMs + lastPassMs <= deadline) {
      val dir = dirOf(pass)
      settle(spark)
      if (pass == 0) rec.setupDone()
      val start = nowMs
      rng.shuffle(o.queries).foreach { n =>
        val (s, df) = timed(n, pass)(builder(n, o.inject)(spark, dir))(run)
        rec.op(s, df)
        after(s, df)
      }
      lastPassMs = nowMs - start
      pass += 1
    }
  }

  /** curate: each pass reads its own copy of the tables, written to the
    * noop sink.
    */
  private def curate(spark: SparkSession, o: Opts, rec: Record): Unit = {
    def copy(tag: String) = { val d = s"${o.work}/copies/$tag"; copyTables(o.data, d); d }
    checkPass(spark, o, copy("check"))(())
    val first = copy("pass0")
    timedPasses(spark, o, rec, p => if (p == 0) first else copy(s"pass$p"))(noop)((_, _) => ())
  }

  /** stream_replay: drain the staged backlog through the ingest legs and
    * run the stateful folds, in a seeded order; each leg's result DataFrame
    * goes to the noop sink. The check pass also stages each leg's input
    * (cached per JVM) and loads the streaming machinery: a first streaming
    * query in a JVM pays seconds of class loading and codegen.
    */
  private def streamReplay(spark: SparkSession, o: Opts, rec: Record): Unit = {
    checkPass(spark, o, o.data)(streamHygiene(spark))
    rec.inputRows = spark.read.parquet(s"${o.data}/events.parquet").count()
    timedPasses(spark, o, rec, _ => o.data)(noop)((_, _) => streamHygiene(spark))
  }

  /** ingest_live: khose's own job. IngestMain.launch runs the service on a
    * processing-time trigger over the source directory that run.py's
    * generator process fills; this side only launches it, waits until
    * every published line has been processed, and stops it.
    */
  private def ingestLive(spark: SparkSession, o: Opts, rec: Record): Unit = {
    val conf = o.ingestConf
    // warm-up: the same service path over a small backlog, drained once
    val warmDir = s"${o.work}/warm"
    spark.read.parquet(s"${o.warm}/events.parquet")
      .select(to_json(struct(col("*"), (unix_micros(col("ts"))).as("created_us"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$warmDir/src")
    val warm = IngestMain.launch(
      spark,
      conf ++ Map(
        "source.path" -> s"$warmDir/src",
        "sink.path" -> s"$warmDir/sink",
        "sink.checkpoint" -> s"$warmDir/ck",
        "trigger.mode" -> "availableNow"
      ),
      _ => ()
    )
    warm.await(50L)
    log("ingest warm-up done")
    val daemon = IngestMain.launch(spark, conf, _ => ())
    rec.setupDone()
    println(s"PERFBENCH_READY ${nowMs}")
    // run.py writes the generator's summary when the load window ends
    val summary = Paths.get(s"${o.work}/gen_summary.json")
    while (!Files.exists(summary)) Thread.sleep(50)
    val lines = mapper.readTree(Files.readString(summary)).get("lines").asLong()
    val drainDeadline = nowMs + 60000L
    def processed = daemon.queries.map(_.recentProgress.map(_.numInputRows).sum).sum
    while (processed < lines && nowMs < drainDeadline) Thread.sleep(50)
    daemon.queries.foreach(_.processAllAvailable())
    daemon.stop()
    // the service's own progress reports (kept by every streaming query, no
    // listener needed): rows and trigger time of each batch that had data
    rec.ingestBatches = daemon.queries.flatMap(_.recentProgress).filter(_.numInputRows > 0).map { p =>
      (p.numInputRows, Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }
  }

  // ------------------------------------------------------------ probes (trace)

  private def rowsPerSec(rows: Long)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  /** `StreamIngest.parsed` over JSON lines as a static DataFrame into the
    * noop sink: the parse layer alone, best of three.
    */
  private def parseProbe(spark: SparkSession, linesDir: String, schemaDdl: String): Double = {
    val raw = spark.read.text(linesDir).cache()
    val n = raw.count()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val best = (1 to 3).map(_ => rowsPerSec(n)(noop(StreamIngest.parsed(raw, schema, "ts")))).max
    raw.unpersist()
    best
  }

  /** graft's custom Catalyst expressions over the curate corpus into the
    * noop sink, best of three: MinHash (shingle hashes, then signature),
    * SimHash, and the float-vector dot product over embedding pairs.
    */
  private def exprProbes(spark: SparkSession, data: String): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val docs = spark.read.parquet(s"$data/documents.parquet").repartition(cores).cache()
    val nDocs = docs.count()
    val emb = spark.read.parquet(s"$data/embeddings.parquet").repartition(cores).cache()
    val nEmb = emb.count()
    val queries = emb.limit(100).select(col("embedding").as("q"))
    def best(rows: Long)(df: => DataFrame) = (1 to 3).map(_ => rowsPerSec(rows)(noop(df))).max
    val toks = TextFunctions.tokens(col("text"))
    val out = Map(
      "expr.minhash_rows_per_s" -> best(nDocs)(
        docs.select(GraftExpressions.minhashFromHashes(GraftExpressions.shingleHashes(toks, 3), 64))
      ),
      "expr.simhash_rows_per_s" -> best(nDocs)(docs.select(GraftExpressions.simhash64(toks))),
      "expr.dot_pairs_per_s" -> best(nEmb * 100)(
        emb.crossJoin(broadcast(queries)).select(VectorFunctions.dot(col("embedding"), col("q")))
      )
    )
    docs.unpersist(); emb.unpersist()
    out
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      // the oracle SQL of the listed queries, for make_expected.py
      val out = mapper.createObjectNode()
      args(2).split(",").foreach(n => out.put(n, SparkEntry.oracleSql.getOrElse(n, "")))
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
      return
    }
    val o = parse(args)
    val rec = new Record(o)
    val spark = session()
    log("session ready")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    rec.tracer = tracer
    o.workload match {
      case "curate"        => curate(spark, o, rec)
      case "stream_replay" => streamReplay(spark, o, rec)
      case "ingest_live"   => ingestLive(spark, o, rec)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach { t =>
      t.drain()
      o.workload match {
        case "ingest_live" =>
          rec.probes += "ingest.parse_rows_per_s" ->
            parseProbe(spark, o.ingestConf("source.path"), o.ingestConf("schema.ddl"))
        case "stream_replay" =>
          val lines = s"${o.work}/probe_lines"
          spark.read.parquet(s"${o.data}/events.parquet").select(to_json(struct(col("*"))).as("value"))
            .coalesce(1).write.mode("overwrite").text(lines)
          rec.probes += "ingest.parse_rows_per_s" ->
            parseProbe(spark, lines, StreamingBatch.eventSchema.toDDL)
        case "curate" => rec.probes ++= exprProbes(spark, o.data)
        case _        => ()
      }
    }
    rec.write()
    spark.stop()
    println("PERFBENCH_DONE")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }

  // ------------------------------------------------------------------ record

  /** Everything one run measured; written as JSON at exit. */
  final class Record(o: Opts) {
    var tracer: Option[Tracer] = None
    var setupEndMs = 0L
    var inputRows = 0L
    var ingestBatches = Seq.empty[(Long, Long)]
    val samples = mutable.ArrayBuffer[Sample]()
    val probes = mutable.LinkedHashMap[String, Double]()

    def setupDone(): Unit = {
      setupEndMs = nowMs
      log("set-up done")
      tracer.foreach(_.start())
    }

    def op(s: Sample, df: Option[DataFrame]): Unit = {
      tracer.foreach(_.end(s"${s.name}#${s.pass}", s, df))
      samples += s
    }

    def write(): Unit = {
      val root = mapper.createObjectNode()
      root.put("workload", o.workload)
      root.put("seed", o.seed)
      root.put("setup_end_ms", setupEndMs)
      root.put("input_rows", inputRows)
      val ib = root.putArray("ingest_batches")
      ingestBatches.foreach { case (rows, ms) => val n = ib.addObject(); n.put("rows", rows); n.put("trigger_ms", ms) }
      val ss = root.putArray("samples")
      samples.foreach { s =>
        val n = ss.addObject()
        n.put("name", s.name); n.put("pass", s.pass); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
        n.put("build_ms", s.buildMs); n.put("wall_ms", s.wallMs)
        s.error.foreach(n.put("error", _))
      }
      val pr = root.putObject("probes")
      probes.foreach { case (k, v) => pr.put(k, v) }
      tracer.foreach(_.writeTo(root))
      Files.writeString(Paths.get(o.out), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    }
  }
}
