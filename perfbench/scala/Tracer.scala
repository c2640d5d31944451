package perfbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Spark's own listener APIs
  * (`SparkListener`, `QueryExecutionListener`, `StreamingQueryListener`)
  * feed an in-memory event queue; the harness brackets each pipeline with
  * [[begin]] / [[end]], and [[end]] drains Spark's listener bus first, so
  * every job, stage, task and micro-batch event of the pipeline is in
  * before its record closes (the events arrive asynchronously). Spans stay
  * in memory until [[writeSpans]]. Times are epoch milliseconds. */
final class Tracer(spark: SparkSession, t0Ms: Long) {
  import Tracer._

  private val events = new ConcurrentLinkedQueue[Ev]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(JobStart(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(JobEnd(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      events.add(StageDone(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      if (m == null) events.add(TaskDone(i.duration, 0, 0, 0, 0, 0, 0, 0, 0, ok))
      else {
        val overhead = m.executorDeserializeTime + m.executorRunTime +
          m.resultSerializationTime + i.gettingResultTime
        events.add(TaskDone(i.duration, m.executorCpuTime, m.jvmGCTime,
          math.max(0L, i.duration - overhead),
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, ok))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("optimization", "planning").foreach { n =>
        ph.get(n).foreach(p => events.add(Phase(n, p.startTimeMs, p.endTimeMs)))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val trigger = d.getOrElse("triggerExecution", 0L)
      val endMs = java.time.Instant.parse(p.timestamp).toEpochMilli + trigger
      events.add(Batch(p.batchId, endMs - trigger, endMs, p.numInputRows,
        trigger, d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L)))
    }
  })

  def begin(r: Harness.Rec): Unit = {
    ListenerBusDrain(spark.sparkContext)
    events.clear()
  }

  /** Close a pipeline's record: wait for its listener events, then fold
    * them into counters and spans. */
  def end(r: Harness.Rec): Unit = {
    ListenerBusDrain(spark.sparkContext)
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    val t = new PipelineTrace
    def ms(ns: Long): Double = t0Ms + ns / 1e6
    val s = ms(r.start)
    t.spans += Span("pipeline", "pipeline", s, ms(r.end))
    var at = r.start
    def phase(name: String, layer: String, dur: Long): Unit =
      if (dur > 0) { t.spans += Span(name, layer, ms(at), ms(at + dur)); at += dur }
    if (r.p.kind == "config") {
      phase("parse", "spec", r.parseNs)
      phase("validate", "compile", r.validateNs)
      phase("build", "compile", r.buildNs)
    } else phase("build", "queries", r.buildNs)
    phase("execute", "exec", r.execNs)

    val jobStart = evs.collect { case j: JobStart => j.id -> j }.toMap
    val jobEnd = evs.collect { case j: JobEnd => j.id -> j.time }.toMap
    jobStart.values.foreach { j =>
      val end = jobEnd.getOrElse(j.id, j.time)
      t.spans += Span(s"job ${j.id}", "exec", j.time.toDouble, end.toDouble)
      t.jobMs += end - j.time
    }
    evs.foreach {
      case st: StageDone =>
        t.stages += 1
        t.spans += Span(s"stage ${st.id}.${st.attempt}", "exec",
          st.submitted.toDouble, st.completed.toDouble)
      case ph: Phase =>
        val n = if (ph.name == "optimization") "optimize" else "plan"
        t.spans += Span(n, "plan", ph.start.toDouble, ph.end.toDouble)
        if (ph.name == "optimization") t.optimizationMs += ph.end - ph.start
        else t.planningMs += ph.end - ph.start
      case b: Batch =>
        t.spans += Span(s"batch ${b.id}", "streaming", b.start.toDouble, b.end.toDouble)
        t.batches += 1
        if (b.rows > 0) t.dataBatches += 1
        t.triggerMs += b.trigger; t.addBatchMs += b.addBatch
        t.walCommitMs += b.walCommit; t.streamRows += b.rows
      case k: TaskDone =>
        t.tasks += 1
        t.taskMs += k.durationMs; t.taskCpuNs += k.cpuNs; t.gcMs += k.gcMs
        t.schedulerDelayMs += k.schedDelayMs
        t.shuffleWrite += k.shuffleWrite; t.shuffleRead += k.shuffleRead
        t.spill += k.spill; t.inputRows += k.inputRows; t.outputBytes += k.outputBytes
        if (!k.ok) t.failedTasks += 1
      case _ => ()
    }
    t.jobs = jobStart.size
    r.trace = t
  }

  /** Every span of every pipeline, one JSON object per line. */
  def writeSpans(path: Path, recs: Seq[Harness.Rec]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = recs.filter(_.trace != null).flatMap { r =>
      r.trace.spans.map { s =>
        m.writeValueAsString(Map[String, Any](
          "pipeline" -> r.p.id, "pass" -> r.pass, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs).asJava)
      }
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  sealed trait Ev
  final case class JobStart(id: Int, time: Long) extends Ev
  final case class JobEnd(id: Int, time: Long) extends Ev
  final case class StageDone(id: Int, attempt: Int, submitted: Long, completed: Long) extends Ev
  final case class TaskDone(durationMs: Long, cpuNs: Long, gcMs: Long, schedDelayMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inputRows: Long,
      outputBytes: Long, ok: Boolean) extends Ev
  final case class Phase(name: String, start: Long, end: Long) extends Ev
  final case class Batch(id: Long, start: Long, end: Long, rows: Long, trigger: Long,
      addBatch: Long, walCommit: Long) extends Ev

  final case class Span(name: String, layer: String, startMs: Double, endMs: Double)

  /** A pipeline's listener totals and spans. */
  final class PipelineTrace {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var jobs = 0; var jobMs = 0L; var stages = 0; var tasks = 0; var failedTasks = 0
    var taskMs = 0L; var taskCpuNs = 0L; var gcMs = 0L; var schedulerDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputRows = 0L; var outputBytes = 0L
    var optimizationMs = 0L; var planningMs = 0L
    var batches = 0; var dataBatches = 0; var streamRows = 0L
    var triggerMs = 0L; var addBatchMs = 0L; var walCommitMs = 0L

    def toJava: java.util.Map[String, Any] = Map[String, Any](
      "jobs" -> jobs, "job_ms" -> jobMs, "stages" -> stages,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> taskMs,
      "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
      "scheduler_delay_ms" -> schedulerDelayMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill, "input_rows" -> inputRows,
      "output_bytes" -> outputBytes, "optimization_ms" -> optimizationMs,
      "planning_ms" -> planningMs, "batches" -> batches, "data_batches" -> dataBatches,
      "stream_rows" -> streamRows, "trigger_ms" -> triggerMs,
      "add_batch_ms" -> addBatchMs, "wal_commit_ms" -> walCommitMs).asJava
  }
}
