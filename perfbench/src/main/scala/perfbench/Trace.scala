package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, registered from outside the program only in traced
  * runs. Every counter is a running total; callers take a [[snapshot]]
  * before and after an operation and report the difference. A snapshot
  * first drains the listener bus, so all events of a finished operation
  * are counted. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val totals = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = {
    totals.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v); ()
  }

  /** Closed job intervals in epoch ms, for the driver-self share. */
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  /** Last progress per streaming query: (state rows, state bytes). */
  private val streamState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  private val scheduler = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1); jobStart.put(j.jobId, j.time); ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(j.jobId)
      if (t0 != null) jobIntervals.add((t0.longValue, j.time))
      ()
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val i = s.stageInfo
      val sub: Long = i.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmitted.put((i.stageId, i.attemptNumber()), sub)
      ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      add("scheduler.stages", 1)
      stageSubmitted.remove((s.stageInfo.stageId, s.stageInfo.attemptNumber())); ()
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit = {
      val sub = stageSubmitted.get((t.stageId, t.stageAttemptId))
      if (sub != null)
        add("scheduler.task_queue_ms", math.max(0L, t.taskInfo.launchTime - sub))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1000000L)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("exec.spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
        add("exec.input_bytes", m.inputMetrics.bytesRead)
        add("exec.output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("catalyst.actions", 1)
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimization_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows)
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      add("streaming.commit_ms", dur("walCommit") + dur("commitOffsets"))
      streamState.put(p.id, (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
      ()
    }
  }

  def register(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  /** Drained running totals, plus the process-wide codegen and GC counts. */
  def snapshot(): Map[String, Double] = {
    BusDrain.drain(sc)
    val base = totals.asScala.map { case (k, v) => k -> v.get.toDouble }.toMap
    val state = streamState.values.asScala
    base ++ Trace.jvm() ++ Map(
      "streaming.state_rows" -> state.map(_._1).sum.toDouble,
      "streaming.state_bytes" -> state.map(_._2).sum.toDouble)
  }

  /** Wall of [t0, t1] (epoch ms) not covered by any job interval. */
  def driverSelfMs(t0: Long, t1: Long): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0 - covered).toDouble
  }
}

object Trace {
  /** Codegen compiles and collector totals of this JVM. */
  def jvm(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}
