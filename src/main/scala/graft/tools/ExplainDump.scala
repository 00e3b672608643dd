package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for the named SparkEntry queries to
  * one file per key (guide §1.1 / §7.2, and the judge's plan-claims
  * evidence for the optimization rounds: `plans/r16/<key>_{before,after}.txt`).
  *
  * Driver-iterative queries (pagerank, k-core, Borůvka, the stream twins)
  * execute driver actions while BUILDING their frame; the dump therefore
  * shows the FINAL returned frame's plan, which is also what Bench's
  * `count()` executes last. The per-round inner plans of the iterative
  * graph family are pinned in PlanAuditSpec, which reads them from a
  * `QueryExecutionListener`: each round's `localCheckpoint` is an action,
  * so its executed plan reaches the listener.
  *
  * Usage: `runMain graft.tools.ExplainDump <outDir> <suffix> <keys comma-sep>`
  * (data dir from SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args(0)
    val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    for (name <- keys) {
      val out = new java.io.File(outDir, s"${name}_$suffix.txt")
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(out)
        try w.println(txt) finally w.close()
        System.err.println(s"[explain] wrote $out")
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name FAILED: $e")
      } finally {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
