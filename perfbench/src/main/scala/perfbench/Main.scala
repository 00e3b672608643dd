package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc}

import graft.{SparkEntry, Tables, Verify}
import graft.ml.{Ensemble, ModelingFrame, Models}
import graft.pipelines.Reference

/** The benchmark's JVM side. `run.py` chooses the inputs; this program
  * sets up one session, runs one workload against the program's public
  * entry points and writes one JSON record per operation to `out`.
  *
  * Arguments are `name=value` pairs:
  *  - `workload`: `serving`, `notebook` or `bulk`;
  *  - `data`: the base data directory (warmups and batch workloads);
  *  - `keys`: a file with one registry key per line (batch workloads);
  *  - `snapshots`: a file with one snapshot directory per line (serving);
  *  - `repeats`: memo-hit requests per snapshot (serving);
  *  - `corrupt`: `1` offsets the replayed prediction the serving check
  *    compares against, to prove the check fires (serving);
  *  - `trace`: `1` registers the listeners and adds per-layer counters;
  *  - `work`: scratch directory for Spark's local and warehouse dirs;
  *  - `out`: the JSONL record file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val trace = a.get("trace").contains("1")
    val out = new java.io.PrintWriter(new java.io.FileWriter(a("out"), true))
    def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields)); out.flush() }

    def sinceLaunch() = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(a("work"))
    val sessionS = sinceLaunch()
    warmup(spark, a("data"))
    emit("type" -> "setup", "setup_s" -> sinceLaunch(), "session_s" -> sessionS)

    val tracer = if (trace) { val t = new Trace(spark); t.register(); Some(t) } else None
    a("workload") match {
      case "serving" =>
        val snaps = readLines(a("snapshots"))
        new Serving(spark, tracer, emit, a.get("corrupt").contains("1"))
          .run(snaps, a("repeats").toInt)
      case "notebook" | "bulk" =>
        new Batch(spark, tracer, emit).run(a("data"), readLines(a("keys")))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    emit("type" -> "end", "heap_retained_mb" -> heapMb)
    out.close()
    spark.stop()
  }

  private def readLines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  /** The benchmark's own session configuration (no `SPARK_GRAFT_*`
    * variable is read) with GraftExtensions registered. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** The engine-wide warmups graft.Bench runs before its timed pass. */
  private def warmup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq("scan_parquet", "join_xy_inner", "rolling_stats", "text_simhash", "ml_ridge")
      .foreach(n => SparkEntry.queries(n)(spark, dir).count())
    def tiny(f: Int => (Double, Double, Double)) = {
      val df = Models.assemble((1 to 256).map(f).toDF("a", "b", "y"), Seq("a", "b"))
        .coalesce(1).cache()
      df.count(); df
    }
    val trees = tiny(i => (i.toDouble, i * 2.0, math.sin(i.toDouble)))
    Models.randomForest("y", numTrees = 100, maxDepth = 12).fit(trees)
    trees.unpersist()
    graft.ml.Forest.fit((1 to 256).map(i =>
      (Array(i.toDouble, i * 2.0), math.sin(i.toDouble))).toArray,
      numTrees = 100, maxDepth = 12)
    val owl = tiny(i => (i.toDouble, math.cos(i.toDouble), math.sin(i * 0.7)))
    Models.elasticNet("y", alpha = 0.1, l1Ratio = 0.5, yStdPop = 1.0).fit(owl)
    owl.unpersist(); ()
  }

  /** The Verify.canonicalHash rendering of already-collected rows. */
  def canonicalHash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val rendered = rows.map(r => order.map { case (_, i) => Verify.renderCell(r.get(i)) }
      .mkString("\u0001")).sorted
    val content = (order.map(_._1).mkString("\u0001") +: rendered).mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(content.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
}

/** Runs each registry key twice: a cold execution (the timed pass) and an
  * immediate repeat that may reuse whatever the first left behind. */
final class Batch(spark: SparkSession, tracer: Option[Trace],
                  emit: Seq[(String, Any)] => Unit) {
  def run(dir: String, keys: Seq[String]): Unit =
    for (key <- keys; phase <- Seq("cold", "repeat")) {
      val fn = SparkEntry.queries(key)
      val before = tracer.map(_.snapshot())
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tb = t0
      val result = try {
        val df = fn(spark, dir)
        tb = System.nanoTime()
        Right((df.columns.toSeq, df.collect()))
      } catch { case e: Throwable => Left(Main.errText(e)) }
      val t1 = System.nanoTime()
      val e1 = System.currentTimeMillis()
      // outside the clock: leak count first, then the sweep graft.Bench runs
      val persisted = spark.sparkContext.getPersistentRDDs.size
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      val layers = tracer.map { t =>
        Trace.diff(before.get, t.snapshot()) +
          ("scheduler.driver_self_ms" -> t.driverSelfMs(e0, e1))
      }
      val fields = Seq[(String, Any)](
        "type" -> "key", "key" -> key, "phase" -> phase,
        "wall_ms" -> (t1 - t0) / 1e6, "build_ms" -> (tb - t0) / 1e6,
        "action_ms" -> (t1 - tb) / 1e6, "persisted_rdds_after" -> persisted) ++
        (result match {
          case Right((cols, rows)) =>
            Seq("rows" -> rows.length, "hash" -> Main.canonicalHash(cols, rows))
          case Left(err) => Seq("err" -> err)
        }) ++ layers.map(l => "layers" -> l)
      emit(fields)
    }
}

/** The deployed query as a closed loop with one client: per snapshot, one
  * request that misses the ensemble memo and re-fits, then `repeats`
  * requests that hit it. */
final class Serving(spark: SparkSession, tracer: Option[Trace],
                    emit: Seq[(String, Any)] => Unit, corrupt: Boolean) {
  private val Schema = Seq("target" -> "string", "prediction" -> "double",
    "avg_r2" -> "double", "avg_mae" -> "double", "confidence" -> "string",
    "signal" -> "string", "strength" -> "double", "reason" -> "string")

  def run(snaps: Seq[String], repeats: Int): Unit =
    snaps.zipWithIndex.foreach { case (snap, i) =>
      var first: Option[Row] = None
      for (r <- 0 to repeats) {
        val kind = if (r == 0) "refit" else "repeat"
        val before = tracer.map(_.snapshot())
        val e0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val result = try {
          val df = Reference.servingSignal(spark, snap)
          Right((df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
            df.collect()))
        } catch { case e: Throwable => Left(Main.errText(e)) }
        val ms = (System.nanoTime() - t0) / 1e6
        val e1 = System.currentTimeMillis()
        val check = result.flatMap { case (schema, rows) =>
          if (schema != Schema) Left(s"schema $schema")
          else if (rows.length != 1) Left(s"${rows.length} rows")
          else if (first.exists(_ != rows(0))) Left("repeat differs from its re-fit")
          else { if (first.isEmpty) first = Some(rows(0)); Right(rows(0)) }
        }
        val layers = tracer.map { t =>
          Trace.diff(before.get, t.snapshot()) +
            ("scheduler.driver_self_ms" -> t.driverSelfMs(e0, e1))
        }
        emit(Seq[(String, Any)]("type" -> "request", "snapshot" -> i,
          "kind" -> kind, "ms" -> ms,
          "persisted_rdds_after" -> spark.sparkContext.getPersistentRDDs.size) ++
          check.left.toOption.map(e => "err" -> e) ++
          check.toOption.map(r => "prediction" -> r.getDouble(1)) ++
          layers.map(l => "layers" -> l))
      }
      first.foreach(row => replay(snap, i, row.getDouble(1)))
    }

  /** Outside the request clock: the prediction must equal the weighted sum
    * of the memoized members' scores on the latest frame row, and the
    * memo must hold the request's fit. Traced runs also time each stage
    * of the request again from the public functions. */
  private def replay(snap: String, i: Int, prediction: Double): Unit = {
    var memoMiss = 0
    val frame = ModelingFrame.assembled(spark, snap).coalesce(1).cache()
    try {
      val fitted = Ensemble.fittedCached(spark, snap, ModelingFrame.Target,
        { memoMiss += 1; frame })
      val x = frame.orderBy(desc("date_id")).limit(1).select(col(Models.FeaturesCol))
        .head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray
      val s0 = System.nanoTime()
      val local = fitted.members.map(_.scorer.predictLocal(x))
      val scoreMs = (System.nanoTime() - s0) / 1e6
      val replayed =
        if (local.forall(_.isDefined))
          fitted.members.zip(local).map { case (m, p) => m.weight * p.get }.sum
        else {
          val latest = frame.orderBy(desc("date_id")).limit(1)
          val row = fitted.withMemberPredictions(latest)
            .select(fitted.members.map(m => col(s"yhat_${m.name}")): _*).head()
          fitted.members.zipWithIndex.map { case (m, j) => m.weight * row.getDouble(j) }.sum
        }
      val expected = if (corrupt) replayed + 1.0 else replayed
      val ok = math.abs(expected - prediction) <= 1e-9
      val stages: Seq[(String, Any)] = if (tracer.isEmpty) Nil else {
        def timed[T](f: => T): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
        val eventsMs = timed(Tables.events(spark, snap))
        val frameMs = timed(ModelingFrame.assembled(spark, snap).collect())
        // a fresh memo key forces the fit the re-fit request paid for
        val fitMs = timed(Ensemble.fittedCached(new Object, snap, ModelingFrame.Target, frame))
        Seq("events_ms" -> eventsMs, "frame_ms" -> frameMs, "fit_ms" -> fitMs,
          "score_ms" -> scoreMs)
      }
      emit(Seq[(String, Any)]("type" -> "replay", "snapshot" -> i, "memo_miss" -> memoMiss) ++
        (if (ok) Nil else Seq("err" -> s"prediction $prediction != replayed $expected")) ++
        stages)
    } catch {
      case e: Throwable =>
        emit(Seq("type" -> "replay", "snapshot" -> i, "err" -> Main.errText(e)))
    } finally { frame.unpersist(); () }
  }
}

/** Minimal JSON rendering for the record file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
