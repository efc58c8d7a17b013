package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Attached only when `--trace 1`: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (the
  * planning tracker's analysis / optimization / physical-planning phases
  * and the graft nodes of the final plan), and a StreamingQueryListener
  * (per-micro-batch phase durations and state-store figures). Everything
  * is kept in memory and written into the run record at exit: per-layer
  * totals plus raw spans, which run.py nests and turns into the self-time
  * table.
  */
final class Tracer(spark: SparkSession) {

  final case class Span(trace: String, name: String, startMs: Long, endMs: Long)
  final case class Plan(startMs: Long, endMs: Long, analysisMs: Long, optimizeMs: Long, physicalMs: Long,
                        graftNodes: Int, phases: Seq[(String, Long, Long)])
  final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, bytesRead, rowsRead, shWrite, shRead, shRecords, spill = 0L
  }

  @volatile private var active = false
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, Seq[Int])]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ops = mutable.ArrayBuffer[(String, Harness.Sample)]()
  private val stageIds = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      jobStart.put(e.jobId, e.time)
      stageIds.put(e.jobId, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach(s => jobs.add((e.jobId, s.longValue, e.time, stageIds.get(e.jobId))))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (active) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = if (active) record(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) progress.add(e.progress)
  })

  private def graftNodes(p: SparkPlan): Int = {
    val self = if (p.getClass.getName.startsWith("graft.")) 1 else 0
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children ++ other.subqueries
    }
    self + kids.map(graftNodes).sum
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val spans = Seq("analysis" -> "analysis", "optimization" -> "optimize", "planning" -> "physical")
      .flatMap { case (k, n) => ph.get(k).map(s => (n, s.startTimeMs, s.endTimeMs)) }
    if (spans.nonEmpty) {
      val nodes = try graftNodes(qe.executedPlan) catch { case _: Exception => 0 }
      plans.add(Plan(spans.map(_._2).min, spans.map(_._3).max, dur("analysis"), dur("optimization"),
        dur("planning"), nodes, spans))
    }
  }

  def start(): Unit = active = true
  /** Close an operation. Its DataFrame was analyzed eagerly inside the
    * builder call, which runs no SQL execution, so the analysis phase is
    * read from the DataFrame's own planning tracker.
    */
  def end(traceId: String, s: Harness.Sample, df: Option[org.apache.spark.sql.DataFrame]): Unit = synchronized {
    ops += traceId -> s
    df.flatMap(_.queryExecution.tracker.phases.get("analysis")).foreach { a =>
      plans.add(Plan(a.startTimeMs, a.endTimeMs, a.durationMs, 0, 0, 0, Seq(("analysis", a.startTimeMs, a.endTimeMs))))
    }
  }

  /** Let the asynchronous listener buses deliver what the measured window
    * produced, then stop recording (the probes that follow are not part of
    * any operation).
    */
  def drain(): Unit = { Thread.sleep(1500); active = false }

  private def progressMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private val batchPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Per-layer totals and raw spans, into the run record. */
  def writeTo(root: ObjectNode): Unit = {
    val t = root.putObject("trace")
    // jobs and their task metrics
    val js = jobs.asScala.toSeq.sortBy(_._2)
    val jn = t.putArray("jobs")
    js.foreach { case (id, s, e, st) =>
      val n = jn.addObject(); n.put("id", id); n.put("start_ms", s); n.put("end_ms", e); n.put("stages", st.size)
    }
    val all = new StageAgg
    stages.values().asScala.foreach { a =>
      all.tasks += a.tasks; all.runMs += a.runMs; all.cpuNs += a.cpuNs; all.gcMs += a.gcMs
      all.bytesRead += a.bytesRead; all.rowsRead += a.rowsRead; all.shWrite += a.shWrite
      all.shRead += a.shRead; all.shRecords += a.shRecords; all.spill += a.spill
    }
    val tot = t.putObject("totals")
    tot.put("exec.tasks", all.tasks); tot.put("exec.run_ms", all.runMs); tot.put("exec.cpu_ms", all.cpuNs / 1e6)
    tot.put("exec.gc_ms", all.gcMs); tot.put("exec.spill_bytes", all.spill)
    tot.put("scan.bytes_read", all.bytesRead); tot.put("scan.rows_read", all.rowsRead)
    tot.put("exchange.shuffle_write_bytes", all.shWrite); tot.put("exchange.shuffle_read_bytes", all.shRead)
    tot.put("exchange.shuffle_records", all.shRecords)
    tot.put("exec.stages", stages.size())
    // planning phases of every SQL execution
    val pn = t.putArray("plans")
    plans.asScala.toSeq.sortBy(_.startMs).foreach { p =>
      val n = pn.addObject()
      n.put("start_ms", p.startMs); n.put("end_ms", p.endMs); n.put("analysis_ms", p.analysisMs)
      n.put("optimize_ms", p.optimizeMs); n.put("physical_ms", p.physicalMs); n.put("graft_exec_nodes", p.graftNodes)
    }
    // micro-batches
    val bn = t.putArray("batches")
    progress.asScala.toSeq.foreach { p =>
      val n = bn.addObject()
      n.put("query", p.runId.toString); n.put("batch", p.batchId); n.put("rows", p.numInputRows)
      n.put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      n.put("trigger_ms", progressMs(p, "triggerExecution"))
      batchPhases.foreach(k => n.put(k, progressMs(p, k)))
      n.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      n.put("state_rows_total", p.stateOperators.map(_.numRowsTotal).sum)
      n.put("state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      n.put("state_rows_dropped", p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }
    // raw spans: operations with their build part, planning phases, jobs
    // and micro-batch phases (laid end to end from the trigger start, in the
    // order MicroBatchExecution runs them); run.py nests them by containment
    val spans = mutable.ArrayBuffer[Span]()
    ops.foreach { case (id, s) =>
      spans += Span(id, "op", s.startMs, s.endMs)
      if (s.error.isEmpty) spans += Span(id, "build", s.startMs, s.startMs + math.round(s.buildMs))
    }
    plans.asScala.foreach(p => p.phases.foreach { case (n, a, b) => spans += Span("", n, a, b) })
    js.foreach { case (id, s, e, _) => spans += Span("", "job", s, e) }
    progress.asScala.foreach { p =>
      val id = s"${p.runId}:${p.batchId}"
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += Span(id, "trigger", t0, t0 + progressMs(p, "triggerExecution"))
      var at = t0
      batchPhases.foreach { k =>
        val d = progressMs(p, k)
        if (d > 0) spans += Span(id, k, at, at + d)
        at += d
      }
    }
    val sn = t.putArray("spans")
    spans.sortBy(s => (s.startMs, -s.endMs)).foreach { s =>
      val n = sn.addObject()
      n.put("trace", s.trace); n.put("name", s.name); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
    }
  }
}
