package graft.ml

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.Model
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's deployed model — `ml_ensemble_weighted`
  * (`app.py:115-144`): fit {LinearRegression, Ridge(α=1), RF(100, seed 42)},
  * weight each by max(train R², 0.001), normalize weights, predict the
  * weighted sum; report per-model and ensemble metrics.
  *
  * Efficiency shape (the fits dominate; everything else is one pass):
  *  - the three members fit on PARALLEL driver threads — a SparkSession
  *    schedules jobs from multiple threads safely, and the linear fits
  *    leave the cluster idle while a tree ensemble builds;
  *  - the FOREST member is `graft.ml.Forest` under its driver budget —
  *    seeded per-row-content bootstrap (partition-independent, r14:
  *    the fix that unpinned the fit from MLlib's per-(partition,row)
  *    bagging and with it the single-partition DTStatsAggregator floor
  *    the r13 profile measured as 90 % of the ensemble's wall); past
  *    the budget the distributed MLlib trainer runs instead;
  *  - all member training metrics come from ONE aggregate job over a
  *    single frame carrying one prediction column per member (chained
  *    narrow transforms — no join, no per-member metric jobs);
  *  - the ensemble prediction ŷ = Σ wᵢ·ŷᵢ is a projection over those same
  *    columns — the old per-member join chain is gone entirely;
  *  - fitted ensembles are memoized per (session, data dir, content
  *    fingerprint of the dir's files, label, grain, numTrees): repeat
  *    `serving_signal` requests share one fit, as do `ml_ensemble_weighted`
  *    and `ml_random_forest`, and a dir whose files changed is refitted.
  *    A serving entry also holds the frame's latest feature row, so a
  *    `serving_signal` memo hit runs no Spark job.
  */
object Ensemble {

  /** How a fitted member attaches its prediction column — MLlib models
    * via `transform`, the driver-grown forest via its broadcast-walk
    * map. One seam so the ensemble never cares which trainer ran. */
  sealed trait Scorer extends Serializable {
    def withPrediction(df: DataFrame, out: String): DataFrame
    /** Driver-side single-point prediction, when the fitted model lives
      * on the driver (closed-form linear members, the gated forest) —
      * bit-identical to the column/map scoring, so a one-row serving
      * lookup needs no Spark job. None for MLlib-backed members. */
    def predictLocal(x: Array[Double]): Option[Double] = None
  }
  final case class MlScorer(model: Model[_]) extends Scorer {
    def withPrediction(df: DataFrame, out: String): DataFrame =
      model.transform(df).withColumnRenamed(Models.PredictionCol, out)
  }
  final case class ForestScorer(model: Forest.Model) extends Scorer {
    def withPrediction(df: DataFrame, out: String): DataFrame =
      model.score(df, Models.FeaturesCol, out)
    override def predictLocal(x: Array[Double]): Option[Double] =
      Some(model.predict(x))
  }
  /** Closed-form linear member (the gated driver fit): prediction is a
    * pure codegen'd column over the features vector — no MLlib
    * transform, no UDF (`vector_to_array` is the ml_scaler idiom).
    * [[predict]] folds the terms in the SAME left-to-right order as the
    * column expression, so driver metrics and column scoring agree
    * bit-for-bit. */
  final case class LinearScorer(coefs: Array[Double], intercept: Double)
      extends Scorer {
    def withPrediction(df: DataFrame, out: String): DataFrame = {
      val arr = org.apache.spark.ml.functions.vector_to_array(
        col(Models.FeaturesCol))
      val yhat = coefs.zipWithIndex
        .map { case (w, i) => element_at(arr, i + 1) * lit(w) }
        .reduce(_ + _) + lit(intercept)
      df.withColumn(out, yhat)
    }
    def predict(x: Array[Double]): Double = {
      var s = x(0) * coefs(0); var i = 1
      while (i < coefs.length) { s += x(i) * coefs(i); i += 1 }
      s + intercept
    }
    override def predictLocal(x: Array[Double]): Option[Double] =
      Some(predict(x))
  }

  final case class Member(name: String, weight: Double, r2: Double, mae: Double,
                          scorer: Scorer)

  /** Driver-path training artifacts kept for metric replays: canonical
    * (hash-sorted) labels + per-member predictions, plus the identity of
    * the frame they came from (`source`/`label`). Lets `report` skip its
    * Spark aggregate when it is asked about the SAME frame the fit saw —
    * and only then (ADVICE r14: a held-out frame must never silently get
    * training metrics back). */
  private[ml] final case class DriverEval(y: Array[Double],
                                          preds: Map[String, Array[Double]],
                                          source: DataFrame,
                                          label: String,
                                          fitKey: Option[(String, String, String, Int)] = None)

  final case class Fitted(members: Seq[Member],
                          private[ml] val driverEval: Option[DriverEval] = None) {

    /** Member prediction columns `yhat_<name>` via chained narrow
      * transforms (each scorer only reads the features vector). */
    def withMemberPredictions(df: DataFrame): DataFrame =
      Ensemble.chainPredictions(df, members.map(m => m.name -> m.scorer))

    /** Weighted-ensemble prediction: (passthrough cols, y, yhat). */
    def predict(df: DataFrame, label: String, keep: Seq[String]): DataFrame = {
      val yhat = members.map(m => col(s"yhat_${m.name}") * m.weight).reduce(_ + _)
      withMemberPredictions(df)
        .select(keep.map(col) ++ Seq(col(label).as("y"), yhat.as("yhat")): _*)
    }
  }

  /** Fit the 3-model ensemble on an assembled training frame
    * (Models.FeaturesCol + label). Two Spark actions total before the
    * member-metrics aggregate: count (ridge's penalty rescale — also
    * the forest's driver gate) and the gated collect. `numTrees`
    * defaults to the reference's 100 (`app.py:123`); tests may shrink
    * it to bound runtime — weights/metrics shift only statistically.
    * `rfMaxDepth` defaults to the sklearn-parity 30 (≈ fully grown,
    * what the reference-CSV golden tests pin); larger frames pass a
    * bound. */
  def fitWeighted(train: DataFrame, label: String, numTrees: Int = 100,
                  rfMaxDepth: Int = 30): Fitted = {
    // GATED DRIVER PATH (r14): the engine's modeling frames are
    // calendar-bounded aggregates, so one head(limit+1) probe both
    // decides the gate and delivers the frame — the whole fit then
    // costs ONE Spark job (closed-form OLS/ridge + the Forest driver
    // fit + driver metrics) instead of labelStats + 3 MLlib fit jobs +
    // the member-metrics aggregate. Past the gate, or on a frame the
    // closed form cannot solve (singular normal matrix), the
    // distributed MLlib flow below runs unchanged.
    val limit = Forest.driverFitLimit.toInt
    val probe = train
      .select(col(Models.FeaturesCol), col(label).cast("double"))
      .head(limit + 1)
    if (probe.nonEmpty && probe.length <= limit) {
      val rows = probe.map(r =>
        (r.getAs[org.apache.spark.ml.linalg.Vector](0).toArray, r.getDouble(1)))
      fitDriver(rows, numTrees, rfMaxDepth, train, label) match {
        case Some(f) => return f
        case None => // fall through to the distributed flow
      }
    }
    fitDistributed(train, label, numTrees, rfMaxDepth)
  }

  /** Closed-form driver fit on the collected frame. Rows are
    * canonicalized by content hash (the Forest discipline), so every
    * fold below is partition- and order-independent. Returns None when
    * the centered normal matrix is not SPD (degenerate features) —
    * the caller falls back to MLlib's solvers. */
  private def fitDriver(rows0: Array[(Array[Double], Double)], numTrees: Int,
                        rfMaxDepth: Int, source: DataFrame,
                        label: String): Option[Fitted] = {
    val rows = rows0.sortBy(r => Forest.rowHash(r._1, r._2))
    val n = rows.length
    val k = rows(0)._1.length
    val ys = rows.map(_._2)
    val ybar = ys.sum / n
    val syy = ys.map(v => (v - ybar) * (v - ybar)).sum
    // population std — the same quantity Models.labelStats feeds the
    // ridge rescale; constant labels stay a loud failure, as before
    require(math.sqrt(syy / n) > 0,
      "constant label: ridge penalty rescale undefined")
    val xbar = Array.tabulate(k)(f => rows.map(_._1(f)).sum / n)
    val xtx = Array.tabulate(k, k)((i, j) =>
      rows.map(r => (r._1(i) - xbar(i)) * (r._1(j) - xbar(j))).sum)
    val xty = Array.tabulate(k)(i =>
      rows.map(r => (r._1(i) - xbar(i)) * (r._2 - ybar)).sum)
    // sklearn objectives (the GoldenParitySpec constants): OLS, and
    // Ridge ||y-Xw-b||^2 + alpha*||w||^2 with the intercept unpenalized
    def solve(alpha: Double): Option[LinearScorer] =
      choleskySolve(xtx, xty, alpha).map { beta =>
        val b = ybar - beta.zipWithIndex.map { case (w, i) => w * xbar(i) }.sum
        LinearScorer(beta, b)
      }
    for {
      lr <- solve(0.0)
      ridge <- solve(1.0)
    } yield {
      val forest = Forest.fit(rows, numTrees, rfMaxDepth)
      val preds = Map(
        "lr" -> rows.map(r => lr.predict(r._1)),
        "ridge" -> rows.map(r => ridge.predict(r._1)),
        "rf" -> rows.map(r => forest.predict(r._1)))
      val scorers = Seq[(String, Scorer)](
        "lr" -> lr, "ridge" -> ridge, "rf" -> ForestScorer(forest))
      val scored = scorers.map { case (name, sc) =>
        val p = preds(name)
        var sse = 0.0; var sae = 0.0; var i = 0
        while (i < n) {
          val e = ys(i) - p(i); sse += e * e; sae += math.abs(e); i += 1
        }
        val r2 = 1.0 - sse / syy
        Member(name, weight = math.max(r2, 0.001), r2 = r2,
          mae = sae / n, scorer = sc)
      }
      val wsum = scored.map(_.weight).sum
      Fitted(scored.map(m => m.copy(weight = m.weight / wsum)),
        driverEval = Some(DriverEval(ys, preds, source, label)))
    }
  }

  /** No-pivot Cholesky solve of (A + αI)β = b for the SPD centered
    * normal matrix; None when a pivot is not strictly positive. */
  private def choleskySolve(a: Array[Array[Double]], b: Array[Double],
                            alpha: Double): Option[Array[Double]] = {
    val k = b.length
    val l = Array.ofDim[Double](k, k)
    for (j <- 0 until k) {
      var d = a(j)(j) + alpha
      for (m <- 0 until j) d -= l(j)(m) * l(j)(m)
      if (d <= 0) return None
      l(j)(j) = math.sqrt(d)
      for (i <- j + 1 until k) {
        var s = a(i)(j)
        for (m <- 0 until j) s -= l(i)(m) * l(j)(m)
        l(i)(j) = s / l(j)(j)
      }
    }
    val z = new Array[Double](k)
    for (i <- 0 until k) {
      var s = b(i)
      for (m <- 0 until i) s -= l(i)(m) * z(m)
      z(i) = s / l(i)(i)
    }
    val x = new Array[Double](k)
    for (i <- k - 1 to 0 by -1) {
      var s = z(i)
      for (m <- i + 1 until k) s -= l(m)(i) * x(m)
      x(i) = s / l(i)(i)
    }
    Some(x)
  }

  private def fitDistributed(train: DataFrame, label: String, numTrees: Int,
                             rfMaxDepth: Int): Fitted = {
    val (n, sy) = Models.labelStats(train, label)
    val estimators: Seq[(String, DataFrame => Scorer)] = Seq(
      "lr" -> (df => MlScorer(Models.ols(label).fit(df))),
      "ridge" -> (df => MlScorer(
        Models.ridge(label, alpha = 1.0, n = n, yStdPop = sy).fit(df))),
      "rf" -> (df =>
        if (n <= Forest.driverFitLimit)
          ForestScorer(Forest.fitFrame(df, label, numTrees, rfMaxDepth))
        else
          MlScorer(Models.randomForest(label, numTrees = numTrees,
            maxDepth = rfMaxDepth).fit(df))))

    val fitted = Models.inParallel(estimators.map { case (name, fit) =>
      () => name -> fit(train)
    })

    val withPreds = chainPredictions(train, fitted)

    // ONE aggregate: shared SST stats + per-member (sse, mae) — R² needs
    // no second scan (sufficient statistics, as in Evaluation.metricsFull)
    val y = col(label)
    val perMember: Seq[Column] = fitted.flatMap { case (name, _) =>
      val e = y - col(s"yhat_$name")
      Seq(sum(e * e).as(s"sse_$name"), avg(abs(e)).as(s"mae_$name"))
    }
    val aggs = Seq(count(lit(1)).cast("double").as("n"),
      sum(y).as("sy"), sum(y * y).as("syy")) ++ perMember
    val r = withPreds.agg(aggs.head, aggs.tail: _*).head()
    val sst = r.getAs[Double]("syy") - r.getAs[Double]("sy") * r.getAs[Double]("sy") / r.getAs[Double]("n")

    val scored = fitted.map { case (name, sc) =>
      val r2 = 1.0 - r.getAs[Double](s"sse_$name") / sst
      Member(name, weight = math.max(r2, 0.001), r2 = r2,
        mae = r.getAs[Double](s"mae_$name"), scorer = sc)
    }
    val wsum = scored.map(_.weight).sum
    Fitted(scored.map(m => m.copy(weight = m.weight / wsum)))
  }

  /** Per-model + ensemble report frame: (model, weight, r2, mae) rows
    * followed by the ensemble row — the `app.py:517-519` perf table. */
  def report(f: Fitted, train: DataFrame, label: String,
             fitKey: Option[(String, String, String, Int)] = None)
  : Seq[(String, Double, Double, Double)] = {
    val (r2, mae) = f.driverEval match {
      // replay is valid for the EXACT frame/label the fit collected —
      // reference identity, OR the SEMANTIC key (dir, label, grain,
      // numTrees) stamped by fittedCached (ADVICE r15: cache sharing
      // hands later callers a fresh DataFrame instance for the same
      // deterministic frame, and the distributed fallback's double sums
      // are partition-order dependent — the key restores the replay). A
      // recomputed/held-out frame with no matching key still takes the
      // Spark aggregate below (ADVICE r14).
      case Some(ev) if ((ev.source eq train) ||
          (fitKey.isDefined && ev.fitKey == fitKey)) && ev.label == label =>
        // driver replay: ensemble yhat folds members in the SAME order
        // as the predict column (lr + ridge + rf) — no Spark job
        val ys = ev.y; val n = ys.length
        val ps = f.members.map(m => (m.weight, ev.preds(m.name)))
        var sse = 0.0; var sae = 0.0; var sy = 0.0; var syy = 0.0; var i = 0
        while (i < n) {
          val yhat = ps.map { case (w, p) => p(i) * w }.reduce(_ + _)
          val e = ys(i) - yhat
          sse += e * e; sae += math.abs(e); sy += ys(i); syy += ys(i) * ys(i)
          i += 1
        }
        val sst = syy - sy * sy / n
        (1.0 - sse / sst, sae / n)
      case _ =>
        val e = Evaluation.metricsFull(f.predict(train, label, Nil), "y", "yhat").head()
        (e.getAs[Double]("r2"), e.getAs[Double]("mae"))
    }
    f.members.map(m => (m.name, m.weight, m.r2, m.mae)) :+
      (("ensemble_weighted", 1.0, r2, mae))
  }

  private def chainPredictions(df: DataFrame, scorers: Seq[(String, Scorer)]): DataFrame =
    scorers.foldLeft(df) { case (acc, (name, sc)) =>
      sc.withPrediction(acc, s"yhat_$name")
    }

  // -- fit sharing -----------------------------------------------------

  /** (path, length, modification time) of every file under a data dir,
    * sorted by path: the content identity a memoized fit is keyed on. */
  private type Fingerprint = Vector[(String, Long, Long)]

  /** One memoized fit: the content it saw, the fitted members and — for
    * entries a serving request made — the latest feature row of the
    * frame it fitted, so a later request on the same content needs no
    * frame at all. */
  private final case class Entry(fingerprint: Fingerprint, fitted: Fitted,
                                 latest: Option[Array[Double]])

  /** Weak-keyed by the session object: entries die with their session
    * (no leak across long-lived JVMs, no identityHashCode aliasing after
    * a session is GC'd). A fit is keyed by (dir, content fingerprint,
    * label, grain, numTrees) — every input that changes the fit is in
    * the key; `grain` disambiguates WHICH modeling frame was trained on
    * (`serving_signal` fits the day-grain reference frame,
    * `ml_ensemble_weighted` the 30-minute one — same dir and label). The
    * inner map holds one entry per (dir, label, grain, numTrees): a fit
    * whose fingerprint no longer matches the dir is replaced, not kept. */
  private val cache =
    new java.util.WeakHashMap[AnyRef, ConcurrentHashMap[(String, String, String, Int), Entry]]()

  /** One Hadoop `listFiles` of `dir` (recursive). */
  private def fingerprint(dir: String): Fingerprint = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val files = path
      .getFileSystem(org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
      .listFiles(path, true)
    val out = Vector.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  /** The memo lookup behind [[fittedCached]] and [[servingCached]]. The
    * fingerprint is taken before `frame` is evaluated, and `frame` only
    * on a miss; an entry without a latest row is a miss when
    * `needLatest`. */
  private def memo(sessionKey: AnyRef, dir: String, label: String,
                   numTrees: Int, grain: String, rfMaxDepth: Int,
                   needLatest: Boolean)
                  (frame: => (DataFrame, Option[Array[Double]])): Entry = {
    val perSession = cache.synchronized {
      var m = cache.get(sessionKey)
      if (m == null) { m = new ConcurrentHashMap(); cache.put(sessionKey, m) }
      m
    }
    val fp = fingerprint(dir)
    val key = (dir, label, grain, numTrees)
    perSession.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp && (old.latest.isDefined || !needLatest)) old
      else {
        val (train, latest) = frame
        val f = fitWeighted(train, label, numTrees, rfMaxDepth)
        // stamp the semantic key so report() can replay for ANY caller
        // that asks about this (dir, label, grain, numTrees) frame — not
        // just the DataFrame instance the first caller happened to pass
        Entry(fp, f.copy(driverEval = f.driverEval.map(_.copy(fitKey = Some(key)))),
          latest)
      })
  }

  /** Memoized fit: callers on the same (session, dir, label, grain,
    * numTrees) share one set of fitted members instead of re-running
    * three fits each, for as long as the files under `dir` keep the
    * (path, length, modification time) fingerprint they had when the fit
    * ran. Each call lists `dir` once; `train` is only evaluated on miss. */
  def fittedCached(sessionKey: AnyRef, dir: String, label: String,
                   train: => DataFrame, numTrees: Int = 100,
                   grain: String = "daily", rfMaxDepth: Int = 30): Fitted =
    memo(sessionKey, dir, label, numTrees, grain, rfMaxDepth, needLatest = false)(
      (train, None)).fitted

  /** [[fittedCached]] on the day-grain frame, plus the latest feature row
    * of that frame, memoized in the same entry. `frame` (evaluated on a
    * miss only) returns the training frame and its latest feature row. */
  def servingCached(sessionKey: AnyRef, dir: String, label: String)
                   (frame: => (DataFrame, Array[Double])): (Fitted, Array[Double]) = {
    val e = memo(sessionKey, dir, label, numTrees = 100, grain = "daily",
      rfMaxDepth = 30, needLatest = true)({ val (t, x) = frame; (t, Some(x)) })
    (e.fitted, e.latest.get)
  }
}
