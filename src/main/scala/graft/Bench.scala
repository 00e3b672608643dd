package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  * One warmup pass (absorbs JIT/codegen/class-loading — at cluster scale
  * this is the long-lived-executor steady state), then one timed pass in
  * deterministic name order.
  *
  * Output contract: ONE JSON line on stdout. sbt interleaves its own
  * chatter on stdout, so the same JSON is also written to a FILE — the
  * machine-readable channel (`SPARK_GRAFT_BENCH_FILE`, default
  * `/tmp/graft_bench.json`), where it is the sole content.
  *
  * Error transparency: a query that throws is recorded in `"errors"` with
  * its wall time EXCLUDED from `"value"` and its `"queries"` entry set to
  * -1 — a broken query must never read as a fast one.
  *
  * Optional args: comma-separated query-name filter (isolated re-timing
  * of specific queries without the rest of the suite), e.g.
  * `runMain graft.Bench ml_gbt,similarity_ivf`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "/tmp/graft_bench.json")
    val only: Option[Set[String]] =
      args.headOption.filter(_.nonEmpty).map(_.split(",").map(_.trim).toSet)
    // Shuffle width defaults to the thread count (right at the gate's
    // sf0.1 size) but is env-tunable: scale probes at 30-100x data need
    // MORE partitions than threads so each hash-agg partition still fits
    // its task's share of execution memory — the spill-aware sizing a
    // real deployment does via spark.sql.shuffle.partitions.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warm the global machinery once (codegen, parquet reader, shuffle,
    // window, higher-order-function interpreter, MLlib WLS) rather than a
    // full double pass — JIT warmup is engine-wide, not per-query.
    Seq("scan_parquet", "join_xy_inner", "rolling_stats", "text_simhash",
        "ml_ridge").foreach { n =>
      System.err.println(s"[bench] warmup $n")
      SparkEntry.queries.get(n).foreach(fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => })
    }
    // The MLlib tree trainer is engine machinery too: without this, its
    // JIT (findBestSplits/DTStatsAggregator/NodeIdCache) lands on
    // whichever tree key runs first alphabetically (~5 s measured on
    // ml_ensemble_weighted, BENCH_TRIAGE_r13.md). The synthetic fit is
    // shaped to reach the SAME hot paths the fine-frame forest runs —
    // multi-level node groups, cached node ids, 100-tree bagged stats —
    // because C2 only compiles what it has seen (r13 profile: a
    // 10-tree/depth-6 warmup left the first depth-12/100-tree fit
    // paying ~3 s of residual JIT across its first two invocations).
    // Touches no SparkEntry data or cache keys.
    try {
      System.err.println("[bench] warmup tree-trainer")
      import spark.implicits._
      val tiny = graft.ml.Models.assemble(
        (1 to 256).map(i => (i.toDouble, i * 2.0, math.sin(i.toDouble)))
          .toDF("a", "b", "y"), Seq("a", "b")).coalesce(1).cache()
      tiny.count()
      graft.ml.Models.randomForest("y", numTrees = 100, maxDepth = 12).fit(tiny)
      tiny.unpersist(); ()
    } catch { case _: Throwable => }
    // the driver-forest path (r14) has its own hot loops (Grower, the
    // Poisson bootstrap, the closed-form solve) — one synthetic fit
    // compiles them before the first ensemble key
    try {
      System.err.println("[bench] warmup driver-forest")
      val rows = (1 to 256).map(i =>
        (Array(i.toDouble, i * 2.0), math.sin(i.toDouble))).toArray
      graft.ml.Forest.fit(rows, numTrees = 100, maxDepth = 12); ()
    } catch { case _: Throwable => }
    // breeze's OWL-QN optimizer is engine machinery too: until r15 its
    // JIT warmed for free on the then-MLlib logistic quality classifier
    // (alphabetically before every ml_* key); the closed-form Newton
    // conversion removed that accidental warmup and the first OWL-QN
    // user (ml_elasticnet) inherited ~1.2 s of one-time JIT (r15 triple:
    // 1.05 → 2.2 s on code-untouched keys). Same class as the
    // tree-trainer warmup above — engine-wide, touches no SparkEntry
    // data or cache keys.
    try {
      System.err.println("[bench] warmup owlqn")
      import spark.implicits._
      val tiny = graft.ml.Models.assemble(
        (1 to 256).map(i => (i.toDouble, math.cos(i.toDouble), math.sin(i * 0.7)))
          .toDF("a", "b", "y"), Seq("a", "b")).coalesce(1).cache()
      tiny.count()
      graft.ml.Models.elasticNet("y", alpha = 0.1, l1Ratio = 0.5, yStdPop = 1.0)
        .fit(tiny)
      tiny.unpersist(); ()
    } catch { case _: Throwable => }
    val results = ordered.map { case (name, fn) =>
      System.err.println(s"[bench] run $name")
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      // Release per-query persisted state AFTER the clock stops: queries
      // cache/localCheckpoint intermediates for their own lifetime, and a
      // long single-JVM suite otherwise accumulates every query's blocks —
      // measured at the 100x probe: graph_modularity ran 363 s mid-suite
      // vs 124 s in a fresh JVM purely from earlier queries' leaked blocks
      // crowding the unified memory pool (and the pressure contributed to
      // the original AGGREGATE_OUT_OF_MEMORY). Production equivalent: each
      // job runs in its own executors; the sweep restores that isolation.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      (name, t, err)
    }
    // Locale.ROOT so a comma-decimal JVM locale cannot corrupt the numbers
    import Verify.{jsonString => jstr}
    val qs = results.map { case (k, v, err) =>
      jstr(k) + ":" + (if (err.isDefined) "-1"
        else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":${jstr(sfDir)}}"""
    try {
      val w = new java.io.PrintWriter(outFile); try w.println(json) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    println(json)
    // The harness keeps only the LAST ~2000 chars of stdout; the full JSON
    // line above is ~3.5 KB and never survives that window intact (rounds
    // 1-3 all recorded "parsed": null). Print a guaranteed-parseable
    // compact line LAST: headline numbers + the slowest queries, with a
    // pointer to the full per-query file.
    // errors sort FIRST (a broken query must never fall off the visible
    // tail when more than 40 queries ran), then slowest successes
    val slowest = results.sortBy { case (_, v, err) => if (err.isDefined) Double.MinValue else -v }
      .take(40)
      .map { case (k, v, err) => jstr(k) + ":" + (if (err.isDefined) "-1"
        else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))) }
      .mkString("{", ",", "}")
    println(String.format(java.util.Locale.ROOT,
      """{"metric":"total","value":%.2f,"unit":"sec","n_queries":%d,"n_errors":%d,"queries":%s,"sf":%s,"full":%s}""",
      Double.box(total), Int.box(results.size),
      Int.box(results.count(_._3.isDefined)), slowest, jstr(sfDir), jstr(outFile)))
    spark.stop()
  }
}
