package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds with
  * sub-millisecond precision; `parent` is -1 when the parent is resolved
  * later by time containment (query-execution planning phases, whose
  * listener callback carries no local properties).
  */
final class Span(val id: Long, val parent: Long, val kind: String,
                 val name: String, val op: Long, val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** In-memory span recorder plus the Spark listeners that feed it.
  *
  * Driver-side spans (pass, op, build, action, rung) are opened and closed
  * by the harness on its own thread. Spark jobs and stages come from a
  * [[SparkListener]] and are attributed to the open driver span through
  * two local properties set before every call; query-execution planning
  * phases come from a [[QueryExecutionListener]]; micro-batches from a
  * [[StreamingQueryListener]]. Nothing is written until the run ends.
  */
final class Recorder {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def open(parent: Long, kind: String, name: String, op: Long = -1,
           start: Double = Double.NaN): Span = {
    val id = ids.incrementAndGet()
    val s = new Span(id, parent, kind, name, if (op < 0) id else op,
      if (start.isNaN) nowMs() else start)
    spans.synchronized(spans += s)
    s
  }

  def close(s: Span): Span = { s.end = nowMs(); s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** The driver span Spark work is currently attributed to. */
  val current = new AtomicReference[Span](null)
  val codegenFallbacks = new AtomicLong(0)
  val rddBlockBytes = new AtomicLong(0)

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[(Int, Int), StageAcc]

  private final class StageAcc {
    var tasks, failed, retried = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var swBytes, swRecords, srBytes, srRecords = 0L
    var spillMem, spillDisk, peakExec = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
    var firstLaunch = Long.MaxValue
    var shuffleMap = false
    val taskRead = mutable.ArrayBuffer.empty[Long]
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        .map(_.toLong).getOrElse(-1L)
      val s = open(prop(Recorder.SpanKey), "job", s"job-${e.jobId}",
        prop(Recorder.OpKey), e.time.toDouble)
      s.attrs("stages") = e.stageInfos.size
      jobSpans(e.jobId) = s
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = s)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val acc = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      acc.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) acc.failed += 1
      if (e.taskInfo.attemptNumber > 0) acc.retried += 1
      acc.firstLaunch = math.min(acc.firstLaunch, e.taskInfo.launchTime)
      if (e.taskType == "ShuffleMapTask") acc.shuffleMap = true
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.spillMem += m.memoryBytesSpilled
        acc.spillDisk += m.diskBytesSpilled
        acc.peakExec = math.max(acc.peakExec, m.peakExecutionMemory)
        acc.swBytes += m.shuffleWriteMetrics.bytesWritten
        acc.swRecords += m.shuffleWriteMetrics.recordsWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        acc.srBytes += read
        acc.srRecords += m.shuffleReadMetrics.recordsRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRecords += m.inputMetrics.recordsRead
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.outRecords += m.outputMetrics.recordsWritten
        acc.taskRead += read
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val job = stageJob.get(info.stageId)
      val sub = info.submissionTime.getOrElse(0L).toDouble
      val s = open(job.map(_.id).getOrElse(-1L), "stage",
        s"stage-${info.stageId}.${info.attemptNumber()}",
        job.map(_.op).getOrElse(-1L), sub)
      s.end = info.completionTime.map(_.toDouble).getOrElse(sub)
      val acc = stageTasks.remove((info.stageId, info.attemptNumber()))
        .getOrElse(new StageAcc)
      val sorted = acc.taskRead.sorted
      s.attrs ++= Seq(
        "tasks" -> acc.tasks.toDouble, "num_tasks" -> info.numTasks.toDouble,
        "failed" -> acc.failed.toDouble, "retried" -> acc.retried.toDouble,
        "shuffle_map" -> (if (acc.shuffleMap) 1.0 else 0.0),
        "run_ms" -> acc.runMs.toDouble, "cpu_ns" -> acc.cpuNs.toDouble,
        "gc_ms" -> acc.gcMs.toDouble, "fetch_wait_ms" -> acc.fetchWaitMs.toDouble,
        "sw_bytes" -> acc.swBytes.toDouble, "sw_records" -> acc.swRecords.toDouble,
        "sr_bytes" -> acc.srBytes.toDouble, "sr_records" -> acc.srRecords.toDouble,
        "spill_mem" -> acc.spillMem.toDouble, "spill_disk" -> acc.spillDisk.toDouble,
        "peak_exec" -> acc.peakExec.toDouble,
        "in_bytes" -> acc.inBytes.toDouble, "in_records" -> acc.inRecords.toDouble,
        "out_bytes" -> acc.outBytes.toDouble, "out_records" -> acc.outRecords.toDouble,
        "launch_delay_ms" ->
          (if (acc.firstLaunch == Long.MaxValue || sub == 0) 0.0
           else math.max(0.0, acc.firstLaunch - sub)),
        "read_max" -> (if (sorted.isEmpty) 0.0 else sorted.last.toDouble),
        "read_median" -> (if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        rddBlockBytes.addAndGet(b.memSize + b.diskSize)
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)

    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        val s = open(-1, "qe", funcName, start = start)
        s.end = phases.values.map(_.endTimeMs).max.toDouble
        phases.foreach { case (name, p) =>
          s.attrs(s"${name}_ms") = (p.endTimeMs - p.startTimeMs).toDouble
        }
        val scans = try PlanWalk.collectWithSubqueries(qe.executedPlan) {
          case f: FileSourceScanExec => f: SparkPlan
        } catch { case _: Throwable => Nil }
        def metric(n: String) =
          scans.flatMap(_.metrics.get(n)).map(_.value.toDouble).sum
        s.attrs("scan_bytes") = metric("filesSize")
        s.attrs("scan_rows") = metric("numOutputRows")
        s.attrs("scan_time_ms") = metric("scanTime")
        s.attrs("scans") = scans.size.toDouble
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val rung = Option(current.get)
      val s = open(rung.map(_.id).getOrElse(-1L), "batch", s"batch-${p.batchId}",
        rung.map(_.op).getOrElse(-1L), start)
      s.end = start + d.getOrElse("triggerExecution", 0.0)
      d.foreach { case (k, v) => s.attrs(s"${k}_ms") = v }
      s.attrs("input_rows") = p.numInputRows.toDouble
      val state = p.stateOperators.toSeq
      s.attrs("state_rows") = state.map(_.numRowsTotal.toDouble).sum
      s.attrs("state_bytes") = state.map(_.memoryUsedBytes.toDouble).sum
      s.attrs("state_commit_ms") = state.map(_.commitTimeMs.toDouble).sum
      s.attrs("watermark_dropped") = state.map(_.numRowsDroppedByWatermark.toDouble).sum
    }
  }

  private val appender = new AbstractAppender("perfbench-codegen-fallbacks", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("falling back to interpreter mode"))
        codegenFallbacks.incrementAndGet()
  }

  /** Attach every listener to `spark` and the fallback counter to log4j. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    if (!appender.isStarted) appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }
}

object Recorder {
  /** Local property naming the driver span a Spark job belongs to. */
  val SpanKey = "perfbench.span"
  /** Local property naming the op span every job of one op shares. */
  val OpKey = "perfbench.op"
}
