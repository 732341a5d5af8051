package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler._

/** What Spark's own channels reported for a stretch of work: planning
  * phases from each query's `QueryPlanningTracker`, job/stage/task
  * counts and task metrics from the listener bus, and the dns scan's
  * DSv2 custom metrics from the executed plans. */
final class SparkAgg {
  var analysisS, optimizationS, planningS, executionS = 0.0
  var codegenStages = 0
  var jobs, stages, tasks = 0L
  var taskRunS, taskCpuS, taskDurS, gcS = 0.0
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var scanRecords, scanBytes, scanFallbacks, scanPartitions = 0L
  /** Records each dns scan reported, one entry per scan. */
  val scanRecordCounts = mutable.ArrayBuffer.empty[Long]

  def add(o: SparkAgg): Unit = {
    analysisS += o.analysisS; optimizationS += o.optimizationS
    planningS += o.planningS; executionS += o.executionS
    codegenStages += o.codegenStages
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; taskDurS += o.taskDurS; gcS += o.gcS
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    scanRecords += o.scanRecords; scanBytes += o.scanBytes
    scanFallbacks += o.scanFallbacks; scanPartitions += o.scanPartitions
    scanRecordCounts ++= o.scanRecordCounts
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.analysis_s", analysisS, "s"), ("spark.optimization_s", optimizationS, "s"),
    ("spark.planning_s", planningS, "s"), ("spark.execution_s", executionS, "s"),
    ("spark.jobs", jobs.toDouble, "count"), ("spark.tasks", tasks.toDouble, "count"),
    ("spark.task_run_s", taskRunS, "s"), ("spark.task_cpu_s", taskCpuS, "s"),
    ("spark.task_overhead_s", math.max(0.0, taskDurS - taskRunS), "s"),
    ("spark.gc_s", gcS, "s"),
    ("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    ("spark.spill_bytes", spill.toDouble, "bytes"),
    ("spark.peak_exec_mem_bytes", peakExecMem.toDouble, "bytes"))
}

/** Listens on the query-execution and scheduler buses. `take()` waits
  * until every queued event is delivered and hands back (and resets)
  * the aggregate since the previous `take()`. With a tracer enabled it
  * also records query, job, stage and task spans, parented to the
  * operation span open on the thread that started the work. */
final class SparkProbe(spark: SparkSession, tracer: Tracer) extends AdaptiveSparkPlanHelper {
  private var agg = new SparkAgg
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  @volatile private var opSpan: (Long, Long) = (0L, 0L)
  // epoch-ms listener times onto the tracer's nanoTime clock
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - clockOffsetNs
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, op)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (start ms, parent span)

  /** Mark the span that Spark work started from this thread belongs to. */
  def enter(): Unit = if (tracer.enabled) {
    opSpan = tracer.current
    spark.sparkContext.setLocalProperty("perfbench.span", opSpan._1.toString)
    spark.sparkContext.setLocalProperty("perfbench.op", opSpan._2.toString)
  }

  /** Add a built DataFrame's analysis time: analysis runs when the
    * DataFrame is built, not in the query that later executes it. */
  def noteAnalysis(df: org.apache.spark.sql.DataFrame): Unit = synchronized {
    agg.analysisS += df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (seenQe.add(qe)) {
      val a = agg
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      a.analysisS += ms("analysis"); a.optimizationS += ms("optimization")
      a.planningS += ms("planning"); a.executionS += durationNs / 1e9
      val plan = qe.executedPlan
      a.codegenStages += collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }.size
      collectWithSubqueries(plan) { case s: BatchScanExec => s }.foreach { s =>
        def m(n: String): Long = s.metrics.get(n).map(_.value).getOrElse(0L)
        if (s.metrics.contains("dnsTransferRecords")) {
          a.scanRecords += m("dnsTransferRecords"); a.scanBytes += m("dnsTransferBytes")
          a.scanFallbacks += m("dnsIxfrFallbacks"); a.scanPartitions += s.inputPartitions.size
          a.scanRecordCounts += m("dnsTransferRecords")
        }
      }
      if (tracer.enabled) {
        val end = System.nanoTime()
        tracer.record(Span(tracer.nextId(), opSpan._1, opSpan._2, "spark.query",
          end - durationNs, end))
      }
    }
  }

  private val busListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      agg.jobs += 1
      agg.stages += e.stageInfos.size
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, (tracer.nextId(), prop("perfbench.op")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (tracer.enabled) jobStarts.put(e.jobId, (e.time, prop("perfbench.span")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracer.enabled) {
      val (id, op) = jobSpan.get(e.jobId)
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent) =>
        tracer.record(Span(id, parent, op, "spark.job", msToNs(t0), msToNs(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracer.enabled) {
      val si = e.stageInfo
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val (jobId, op) = Option(stageJob.get(si.stageId))
          .map(j => (jobSpan.get(j)._1, jobSpan.get(j)._2)).getOrElse((0L, 0L))
        val id = stageSpan.computeIfAbsent(si.stageId, _ => tracer.nextId())
        tracer.record(Span(id, jobId, op, "spark.stage", msToNs(t0), msToNs(t1)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      val a = agg
      a.tasks += 1
      val ti = e.taskInfo
      a.taskDurS += (ti.finishTime - ti.launchTime) / 1e3
      Option(e.taskMetrics).foreach { m =>
        a.taskRunS += m.executorRunTime / 1e3
        a.taskCpuS += m.executorCpuTime / 1e9
        a.gcS += m.jvmGCTime / 1e3
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
      if (tracer.enabled) {
        val parent = stageSpan.computeIfAbsent(e.stageId, _ => tracer.nextId())
        val op = Option(stageJob.get(e.stageId)).map(j => jobSpan.get(j)._2).getOrElse(0L)
        tracer.record(Span(tracer.nextId(), parent, op, "spark.task",
          msToNs(ti.launchTime), msToNs(ti.finishTime)))
      }
    }
  }

  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(busListener)

  def take(): SparkAgg = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    synchronized { val a = agg; agg = new SparkAgg; a }
  }

  def close(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(busListener)
  }
}
