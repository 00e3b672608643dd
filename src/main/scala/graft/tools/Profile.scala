package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query profiler for the optimization rounds (guide §1): runs the
  * named SparkEntry queries with a SparkListener attached and reports,
  * per key, the numbers the Spark UI would show — job/stage/task counts,
  * summed executor task time, shuffle read/write bytes, input bytes —
  * next to the wall-clock of the Bench-methodology action (`count()`).
  * The gap between wall time and (task time / cores) is scheduler/driver
  * overhead: a key whose wall is dominated by job count rather than task
  * time is a materialization-chatter problem, not a data problem.
  *
  * Usage: `runMain graft.tools.Profile <keys comma-sep> [reps]`
  * (data dir from SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS,
  * output JSONL to SPARK_GRAFT_PROFILE_FILE or /tmp/graft_profile.jsonl).
  * Measurement-only: never run inside Bench.
  */
object Profile {
  private class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shuffleReadB = new AtomicLong
    val shuffleWriteB = new AtomicLong
    val inputB = new AtomicLong
    val spillB = new AtomicLong
    val jobMs = new AtomicLong
    private val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobT0.put(j.jobId, System.nanoTime()); ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val t0 = jobT0.remove(j.jobId)
      if (t0 != 0L) jobMs.addAndGet((System.nanoTime() - t0) / 1000000)
      ()
    }
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
        val i = s.stageInfo
        val t = i.taskMetrics
        val rt = if (t == null) -1L else t.executorRunTime
        stageRows.add(f"stage=${i.stageId} tasks=${i.numTasks} runMs=$rt name=${i.name.takeWhile(_ != '\n').take(120)}")
      }
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputB.addAndGet(m.inputMetrics.bytesRead)
        spillB.addAndGet(m.diskBytesSpilled)
      }
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_PROFILE_FILE", "/tmp/graft_profile.jsonl")
    val keys = args.headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    // same engine-wide warmup set as Bench so first-key JIT noise is gone
    Seq("scan_parquet", "join_xy_inner", "rolling_stats", "text_simhash",
        "ml_ridge").foreach { n =>
      graft.SparkEntry.queries.get(n).foreach(fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => })
    }
    val w = new java.io.PrintWriter(new java.io.FileWriter(outFile, true))
    try {
      for (name <- keys; r <- 1 to reps) {
        val fn = graft.SparkEntry.queries(name)
        val acc = new Acc
        spark.sparkContext.addSparkListener(acc)
        spark.sparkContext.setJobDescription(s"profile:$name")
        // number of janino compilations (global codahale histogram — the
        // count deltas cleanly; each compile is typically 10-50 ms of
        // driver time)
        val cgHist = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME
        val cg0 = cgHist.getCount
        val t0 = System.nanoTime()
        // split: frame construction (parse+analyze, any driver actions the
        // query runs while building) vs the terminal action (optimize +
        // codegen + execute)
        var buildS = 0.0
        val err = try {
          val df = fn(spark, sfDir)
          buildS = (System.nanoTime() - t0) / 1e9
          df.count(); None
        } catch {
          case e: Throwable => Some(e.toString.take(160))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cgN = cgHist.getCount - cg0
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.catalog.clearCache()
        // listener bus is async (and its drain API is private[spark]):
        // a short settle keeps the counters honest for profiling purposes
        Thread.sleep(400)
        spark.sparkContext.removeSparkListener(acc)
        val line = f"""{"key":"$name","rep":$r,"wall_s":$wall%.3f,"build_s":$buildS%.3f,"job_s":${acc.jobMs.get / 1e3}%.3f,"codegen_n":$cgN,"jobs":${acc.jobs.get},"stages":${acc.stages.get},"tasks":${acc.tasks.get},"task_time_s":${acc.taskTimeMs.get / 1e3}%.3f,"shuffle_read_mb":${acc.shuffleReadB.get / 1e6}%.2f,"shuffle_write_mb":${acc.shuffleWriteB.get / 1e6}%.2f,"input_mb":${acc.inputB.get / 1e6}%.2f,"spill_mb":${acc.spillB.get / 1e6}%.2f,"err":${err.map(graft.Verify.jsonString).getOrElse("null")}}"""
        w.println(line); w.flush()
        System.err.println(s"[profile] $line")
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          val it = acc.stageRows.iterator()
          while (it.hasNext) System.err.println(s"[profile:$name] ${it.next()}")
        }
      }
    } finally { w.close() }
    spark.stop()
  }
}
