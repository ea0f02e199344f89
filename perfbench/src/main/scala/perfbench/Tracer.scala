package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CollectMetricsExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the engine from outside for the traced laps.
  *
  * Sources: the harness's own timers around each public call, a
  * `SparkListener` (jobs, stages, tasks, and through `onOtherEvent`
  * the `QueryProgressEvent`s of every streaming query, cloned sessions
  * included), a `QueryExecutionListener` (planning phases from
  * `qe.tracker.phases`, physical-plan node counts, observed metrics)
  * and the codegen counters. Listeners are attached only for traced
  * laps, so untraced laps measure the engine without them.
  *
  * Spans carry wall-clock milliseconds; each is tied to a call either
  * through the [[Tracer.CallProperty]] local property (jobs and their
  * tasks) or, for events without properties, by the call whose wall
  * interval contains the span start (only one call runs at a time).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private val callSpans = mutable.ArrayBuffer.empty[CallSpan]
  private val spans = new ConcurrentLinkedQueue[Span]()
  // counters keyed by call id ("" when no call can be found)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val stageCall = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val queryTimes = new ConcurrentLinkedQueue[(Double, Map[String, Double])]()
  private var scratchPeak = 0L
  private var codegenAtCall = (0L, 0L)

  private def add(call: String, name: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(call, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(name) = m.getOrElse(name, 0.0) + v }
  }
  private def max(call: String, name: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(call, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(name) = math.max(m.getOrElse(name, 0.0), v) }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallProperty))).getOrElse("")
      jobStart.put(e.jobId, (e.time, call))
      e.stageIds.foreach(s => stageCall.put(s, call))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, call) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, ""))
      spans.add(Span("job", t0.toDouble, e.time.toDouble, Option(call).filter(_.nonEmpty), Nil))
      sampleScratch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val call = stageCall.getOrDefault(si.stageId, "")
      add(call, "exec.stages", 1)
      val q = stageTasks.remove((si.stageId, si.attemptNumber()))
      if (q != null && q.size >= 2) {
        val ts = q.asScala.toSeq.sorted
        val med = ts(ts.length / 2).toDouble
        add(call, "exec.skew_stages", 1)
        add(call, "exec.stage_skew_sum", ts.last / math.max(med, 1.0))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val call = stageCall.getOrDefault(e.stageId, "")
      val info = e.taskInfo
      add(call, "exec.tasks", 1)
      if (info.failed || info.killed) add(call, "exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m == null) return
      stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
      add(call, "exec.task_run_s", m.executorRunTime / 1e3)
      add(call, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      add(call, "exec.gc_s", m.jvmGCTime / 1e3)
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      add(call, "exec.sched_delay_s", sched / 1e3)
      add(call, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(call, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(call, "exec.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(call, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(call, "exec.result_bytes", m.resultSize.toDouble)
      max(call, "exec.peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
      add(call, "sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add(call, "sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
      add(call, "sources.write_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
        val state = pr.stateOperators.toSeq
        spans.add(Span("trigger", start, start + d.getOrElse("triggerExecution", 0.0), None, Seq(
          "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
          "latest_offset_ms" -> d.getOrElse("latestOffset", 0.0),
          "commit_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
          "state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
          "state_mem_bytes" -> state.map(_.memoryUsedBytes.toDouble).sum,
          "state_commit_ms" -> state.map(_.commitTimeMs.toDouble).sum,
        )))
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      phases.foreach { case (name, ph) =>
        spans.add(Span(s"phase.$name", ph.startTimeMs.toDouble, ph.endTimeMs.toDouble, None, Nil))
      }
      val at = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()).toDouble
      queryTimes.add(at -> planCounters(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def sampleScratch(): Unit = {
    val root = graft.sources.Scratch.root
    val size = try {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => Files.size(p)).sum
      finally s.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }
    synchronized { scratchPeak = math.max(scratchPeak, size) }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Drains the listener bus, so every event of the lap is seen, then detaches. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def begin(): Unit =
    codegenAtCall = (compiledClasses, CodeGenerator.compileTime)

  def call(id: String, key: String, lap: Int, startNs: Long, builtNs: Long, endNs: Long): Unit = {
    callSpans += CallSpan(id, key, lap, epochMs(startNs), epochMs(builtNs), epochMs(endNs),
      compiledClasses - codegenAtCall._1, CodeGenerator.compileTime - codegenAtCall._2)
    synchronized { max(id, "sources.scratch_peak_bytes", scratchPeak.toDouble); scratchPeak = 0L }
  }

  private def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def callAt(t: Double): Option[String] =
    callSpans.find(c => c.start <= t && t <= c.end).map(_.id)

  /** Writes spans and per-call counters; run.py turns them into tables. */
  def write(p: Path): Unit = {
    queryTimes.asScala.foreach { case (t, cs) =>
      val call = callAt(t).getOrElse("")
      cs.foreach { case (k, v) => add(call, k, v) }
    }
    val callsJson = callSpans.toSeq.map { c =>
      val cs = Option(counters.get(c.id)).map(_.toSeq.sortBy(_._1)).getOrElse(Nil) ++ Seq(
        "plans.codegen_classes" -> c.codegenClasses.toDouble,
        "plans.codegen_compile_ms" -> c.codegenNs / 1e6)
      Json.obj(Seq("id" -> Json.str(c.id), "key" -> Json.str(c.key), "lap" -> Json.num(c.lap),
        "start" -> Json.num(c.start), "built" -> Json.num(c.built), "end" -> Json.num(c.end),
        "counters" -> Json.obj(cs.map { case (k, v) => k -> Json.num(v) })))
    }
    val spansJson = spans.asScala.toSeq.sortBy(_.start).flatMap { s =>
      s.call.orElse(callAt(s.start)).map { call =>
        Json.obj(Seq("name" -> Json.str(s.name), "start" -> Json.num(s.start), "end" -> Json.num(s.end),
          "parent" -> Json.str(call), "call" -> Json.str(call)) ++
          s.attrs.map { case (k, v) => k -> Json.num(v) })
      }
    }
    Json.write(p, Json.obj(Seq("calls" -> Json.arr(callsJson), "spans" -> Json.arr(spansJson))))
  }
}

object Tracer {
  /** SparkContext local property that tags every job with its call id. */
  val CallProperty = "perfbench.call"

  private final case class CallSpan(id: String, key: String, lap: Int, start: Double, built: Double, end: Double,
                                    codegenClasses: Long, codegenNs: Long)
  private final case class Span(name: String, start: Double, end: Double, call: Option[String],
                                attrs: Seq[(String, Double)])

  private val wrappers = Set("AdaptiveSparkPlanExec", "InputAdapter", "WholeStageCodegenExec")

  /** Node counts and metrics of one executed plan, descending through
    * AQE's stage boundaries (the final plan, not the initial one). */
  def planCounters(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var widestJoin = 0.0
    var outRows = -1.0
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = {
      val name = p.getClass.getSimpleName
      p.expressions.foreach(_.foreach { e =>
        if (e.getClass.getName.startsWith("graft.")) c("plans.native_expr_nodes") += 1
      })
      if (!inCodegen && !wrappers(name) && !p.isInstanceOf[QueryStageExec]) c("plans.interpreted_nodes") += 1
      if (outRows < 0 && p.metrics.contains("numOutputRows")) outRows = metric(p, "numOutputRows")
      p match {
        case j: BaseJoinExec => widestJoin = math.max(widestJoin, metric(j, "numOutputRows"))
        case _ => ()
      }
      if (p.metrics.contains("numFiles")) {
        c("sources.files_read") += metric(p, "numFiles")
        c("sources.scan_time_ms") += metric(p, "scanTime")
      }
      p match {
        case m: CollectMetricsExec if m.name.startsWith("graft_") =>
          val row = m.collectedMetrics
          if (row != null && row.schema.fieldNames.contains("dropped_docs")) {
            val v = row.get(row.fieldIndex("dropped_docs"))
            if (v != null) c("operators.stopband_dropped_docs") += v.asInstanceOf[Number].doubleValue()
          }
        case _ => ()
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      val codegenBelow = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => inCodegen
      }
      kids.foreach(visit(_, codegenBelow))
    }
    visit(root, inCodegen = false)
    if (widestJoin > 0) {
      c("operators.join_out_rows") += math.max(outRows, 0.0)
      c("operators.join_widest_rows") += widestJoin
    }
    c.toMap
  }
}
