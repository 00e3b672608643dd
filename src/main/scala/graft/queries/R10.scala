package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.StepChain
import graft.plans.StepChain.Step

/** Round-10 wave registry: the grouped (per-series) forecasting ensemble,
  * the GMV-portfolio optimality audit, and real video-kind decode through
  * the multimodal seam.
  *
  * House conventions throughout: 1e-6-grid inputs, DECIMAL accumulation
  * for any sum that feeds a division or crosses an aggregation whose
  * order the engines don't share, `round(x, n) + 0.0` on sign-indefinite
  * outputs, recursion states re-rounded to a fixed grid HALF_UP with the
  * oracle replaying the exact op order (index-ORDERED folds, never
  * engine-order aggregates). */
object R10 {

  type Q = (SparkSession, String) => DataFrame

  // ---- SQL fragments shared by the bucket-frame models ---------------------

  /** Grid-6 mean of one event type's values within the current group —
    * the per-bucket feature every bucket-frame model reads. */
  private def typeMean(t: String): String =
    s"""round(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END
       |        AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(CASE WHEN event_type = '$t' THEN value END), 6)"""
      .stripMargin

  /** Per-term-rounded DECIMAL sum `Σ round(term, 9)` surfaced as DOUBLE:
    * order-free across engines, unlike a double sum. */
  private def dsum(term: String, name: String): String =
    s"CAST(sum(CAST(round($term, 9) AS DECIMAL(28,9))) AS DOUBLE) AS $name"

  /** det of a row-major 3×3 given as 9 expression strings. */
  private def det3(m: String*): String = {
    val Seq(a, b, c, d, e, f, g, h, i) = m
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"
  }

  // ---- grouped ensemble (shared SQL template) -----------------------------

  /** PER-SERIES forecasting ensemble — the reference's real serving shape
    * (`app.py:115-144` fits one ensemble PER selected commodity out of
    * 424; the flagship `ml_ensemble_weighted` fits ONE global model, so
    * its cost is invariant to series count — this query is the one that
    * scales WITH the series dimension the way a 100 TB tenant runs it).
    *
    * Per series g: 30-min bars (grid-6 means), AR(2) design (y ~ 1, lag1,
    * lag2), per-series 80/20 time split, TWO closed-form members fitted
    * from ONE DECIMAL-exact moment aggregation per series (the shuffle
    * carries 9 scalars per group, never rows — the `GroupedOls`
    * sufficient-statistics layout, here solved in SQL so both engines
    * share the arithmetic):
    *  - OLS on the CENTERED 2×2 Gram by Cramer (centering sidesteps the
    *    near-collinear intercept column — the `ml_trend_per_series`
    *    conditioning lesson; the `stationarity_test_adf` oracle's
    *    centered-Gram trick);
    *  - ridge with the scale-adaptive λ = 0.25·(c11+c22) (a quarter of
    *    the mean Gram diagonal — shrinkage that stays meaningful at any
    *    px scale) on the same centered system.
    * Member weights ∝ max(R²_train, 0) (equal split when both vanish —
    * decided on grid values, never NaN), blend scored on the held-out
    * 20% with R²/MAE/RMSE/directional-accuracy per series.
    *
    * ONE SQL text runs on both engines (dialect substitutes only the
    * bucket expression, the table ref, and DuckDB's MATERIALIZED hint —
    * the r9 CTE-re-evaluation lesson); every determinism-bearing sum
    * rides DECIMAL, every decision input is a grid value. The series key
    * is a template parameter so the scale probe can run the SAME
    * machinery over a finer key (series × user bucket) and show cost
    * growing with series count, not rows-per-series. */
  def groupedEnsembleSql(events: String, dl: Dialect, series: String): String = {
    val (bucket, mat) = (dl.bucket, dl.mat)
    def d6(e: String) = s"CAST($e AS DECIMAL(18,6))"
    // DECIMAL-exact Σ a·b over grid-6 operands, surfaced as DOUBLE
    def sprod(a: String, b: String) =
      s"CAST(sum(CAST(${d6(a)} * ${d6(b)} AS DECIMAL(30,12))) AS DOUBLE)"
    def ssum(a: String) = s"CAST(sum(${d6(a)}) AS DOUBLE)"
    // DECIMAL-exact Σ (a−b)² over grid-6 operands, kept DECIMAL
    def sq(a: String, b: String) = {
      val e = s"CAST(${d6(a)} - ${d6(b)} AS DECIMAL(18,6))"
      s"sum(CAST($e * $e AS DECIMAL(30,12)))"
    }
    def sabs(a: String, b: String) =
      s"sum(abs(CAST(${d6(a)} - ${d6(b)} AS DECIMAL(18,6))))"
    val po = "round(b0o + b1o * l1 + b2o * l2, 6) + 0.0"
    val pr = "round(b0r + b1r * l1 + b2r * l2, 6) + 0.0"
    s"""WITH b AS $mat(
       |  SELECT $series AS g, $bucket AS bucket, ${Grid.mean6Sql("value")} AS px
       |  FROM $events GROUP BY 1, 2),
       |s0 AS (
       |  SELECT g, bucket, px,
       |    lag(px, 1) OVER (PARTITION BY g ORDER BY bucket) AS l1,
       |    lag(px, 2) OVER (PARTITION BY g ORDER BY bucket) AS l2
       |  FROM b),
       |f AS $mat(
       |  SELECT g, bucket, px AS y, l1, l2,
       |    row_number() OVER (PARTITION BY g ORDER BY bucket) AS rn,
       |    count(*) OVER (PARTITION BY g) AS cnt
       |  FROM s0 WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
       |tr AS $mat(SELECT * FROM f WHERE rn <= floor(cnt * 0.8)),
       |te AS $mat(SELECT * FROM f WHERE rn > floor(cnt * 0.8)),
       |mo AS (
       |  SELECT g, count(*) AS n,
       |    ${ssum("l1")} AS s1, ${ssum("l2")} AS s2, ${ssum("y")} AS sy,
       |    ${sprod("l1", "l1")} AS s11, ${sprod("l1", "l2")} AS s12,
       |    ${sprod("l2", "l2")} AS s22,
       |    ${sprod("l1", "y")} AS s1y, ${sprod("l2", "y")} AS s2y
       |  FROM tr GROUP BY g),
       |cg0 AS (
       |  SELECT g, n, s1, s2, sy,
       |    s11 - s1 * s1 / n AS c11, s12 - s1 * s2 / n AS c12,
       |    s22 - s2 * s2 / n AS c22,
       |    s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y
       |  FROM mo),
       |cg AS (
       |  SELECT g, n, s1, s2, sy, c11, c12, c22, c1y, c2y,
       |    round((c11 + c22) * 0.25, 6) AS lam,
       |    c11 * c22 - c12 * c12 AS deto
       |  FROM cg0),
       |co AS (
       |  SELECT g, n,
       |    round(sy / n, 6) AS ybar, round(s1 / n, 6) AS m1,
       |    round(s2 / n, 6) AS m2,
       |    CASE WHEN deto = 0.0 THEN 0.0
       |      ELSE round((c1y * c22 - c12 * c2y) / deto, 9) END AS b1o,
       |    CASE WHEN deto = 0.0 THEN 0.0
       |      ELSE round((c11 * c2y - c1y * c12) / deto, 9) END AS b2o,
       |    CASE WHEN (c11 + lam) * (c22 + lam) - c12 * c12 = 0.0 THEN 0.0
       |      ELSE round((c1y * (c22 + lam) - c12 * c2y)
       |        / ((c11 + lam) * (c22 + lam) - c12 * c12), 9) END AS b1r,
       |    CASE WHEN (c11 + lam) * (c22 + lam) - c12 * c12 = 0.0 THEN 0.0
       |      ELSE round(((c11 + lam) * c2y - c1y * c12)
       |        / ((c11 + lam) * (c22 + lam) - c12 * c12), 9) END AS b2r
       |  FROM cg),
       |cb AS $mat(
       |  SELECT g, n, ybar,
       |    round(ybar - b1o * m1 - b2o * m2, 6) AS b0o, b1o, b2o,
       |    round(ybar - b1r * m1 - b2r * m2, 6) AS b0r, b1r, b2r
       |  FROM co),
       |str AS (
       |  SELECT tr.g, tr.y, cb.ybar, $po AS po, $pr AS pr
       |  FROM tr JOIN cb ON tr.g = cb.g),
       |r2tr AS (
       |  SELECT g,
       |    CASE WHEN ${sq("y", "ybar")} = 0 THEN 0.0
       |      ELSE round(1.0 - CAST(${sq("y", "po")} AS DOUBLE)
       |        / CAST(${sq("y", "ybar")} AS DOUBLE), 6) + 0.0 END AS r2o,
       |    CASE WHEN ${sq("y", "ybar")} = 0 THEN 0.0
       |      ELSE round(1.0 - CAST(${sq("y", "pr")} AS DOUBLE)
       |        / CAST(${sq("y", "ybar")} AS DOUBLE), 6) + 0.0 END AS r2r
       |  FROM str GROUP BY g),
       |wt AS (
       |  SELECT g, r2o, r2r,
       |    CASE WHEN wo0 + wr0 = 0.0 THEN 0.5 ELSE wo0 END AS wo,
       |    CASE WHEN wo0 + wr0 = 0.0 THEN 0.5 ELSE wr0 END AS wr
       |  FROM (
       |    SELECT g, r2o, r2r,
       |      CASE WHEN r2o > 0.0 THEN r2o ELSE 0.0 END AS wo0,
       |      CASE WHEN r2r > 0.0 THEN r2r ELSE 0.0 END AS wr0
       |    FROM r2tr) t),
       |tb AS (
       |  SELECT g, ${Grid.mean6Sql("y")} AS ybar_te FROM te GROUP BY g),
       |ste AS (
       |  SELECT te.g, te.y, te.l1, tb.ybar_te,
       |    round((wt.wo * ($po) + wt.wr * ($pr)) / (wt.wo + wt.wr), 6) + 0.0 AS p
       |  FROM te JOIN cb ON te.g = cb.g JOIN wt ON te.g = wt.g
       |    JOIN tb ON te.g = tb.g),
       |met AS (
       |  SELECT g, count(*) AS n_test,
       |    CASE WHEN ${sq("y", "ybar_te")} = 0 THEN 0.0
       |      ELSE round(1.0 - CAST(${sq("y", "p")} AS DOUBLE)
       |        / CAST(${sq("y", "ybar_te")} AS DOUBLE), 6) + 0.0 END AS r2_test,
       |    round(CAST(${sabs("y", "p")} AS DOUBLE) / count(*), 6) AS mae,
       |    round(sqrt(CAST(${sq("y", "p")} AS DOUBLE) / count(*)), 6) AS rmse,
       |    round(CAST(sum(CASE WHEN sign(p - l1) = sign(y - l1)
       |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dir_acc
       |  FROM ste GROUP BY g)
       |SELECT met.g AS series, CAST(cb.n AS BIGINT) AS n_train,
       |  CAST(met.n_test AS BIGINT) AS n_test,
       |  round(wt.wo / (wt.wo + wt.wr), 6) AS w_ols,
       |  round(wt.wr / (wt.wo + wt.wr), 6) AS w_ridge,
       |  wt.r2o AS r2_train_ols, wt.r2r AS r2_train_ridge,
       |  met.r2_test, met.mae, met.rmse, met.dir_acc
       |FROM met JOIN cb ON met.g = cb.g JOIN wt ON met.g = wt.g
       |ORDER BY series""".stripMargin
  }

  // ---- lasso by coordinate descent ---------------------------------------

  /** Cyclic coordinate descent for the lasso on STANDARDIZED Gram
    * moments — the fixed-iteration replayable core of `ml_lasso_cd`.
    * State re-rounds to the 1e-9 grid each update; op order mirrors the
    * DuckDB recursive CTE exactly (ordered fold, self-term subtraction,
    * soft-threshold, divide, round). `gm` is the k×k standardized Gram,
    * `xty` the standardized-x/centered-y moment vector, both grid-9. */
  private[graft] def lassoCd(gm: Array[Array[Double]], xty: Array[Double],
                             lam: Double, steps: Int): Array[Double] = {
    val k = xty.length
    val beta = Array.fill(k)(0.0)
    for (t <- 0 until steps) {
      val j = t % k
      val fold = (0 until k).map(i => gm(j)(i) * beta(i)).reduceLeft(_ + _)
      val rho = Grid.r9(xty(j) - (fold - gm(j)(j) * beta(j)))
      beta(j) =
        (if (rho > lam) Grid.r9((rho - lam) / gm(j)(j))
         else if (rho < -lam) Grid.r9((rho + lam) / gm(j)(j))
         else 0.0) + 0.0
    }
    beta
  }

  // ---- Huber IRLS (shared SQL template) -----------------------------------

  /** ROBUST REGRESSION BY IRLS as a FULL oracle row — Huber's
    * M-estimator (click ~ purchase, 6-hour bars) fitted by 4 unrolled
    * iteratively-reweighted-least-squares steps, ONE SQL text for both
    * engines: each iteration is one scan computing grid residuals
    * against the previous coefficients, the robust threshold
    * δ = 1.345·MAD/0.6745 from the exact interpolated median, Huber
    * weights w = min(1, δ/|r|) re-gridded to 1e-9, and weighted moments
    * as per-term-rounded DECIMAL sums (the mRMR term-sum pattern — a
    * weighted double sum would ride engine merge order). Output: the
    * per-iteration coefficient trajectory + outlier counts — iteration
    * 0 IS the OLS fit, so the robustification is visible in the result.
    * The MLlib huber-loss `ml_huber` stays as the library surface;
    * R10Spec pins the planted-outlier law on this implementation. */
  private val huberBetaExpr =
    "CASE WHEN sw * swxx - swx * swx = 0.0 THEN 0.0 ELSE " +
      "round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 9) END"

  def huberIrlsSql(events: String, dl: Dialect): String = {
    // R10Spec replays this text through spark.sql for the bit-equality
    // pin. Every per-iteration CTE has 2+ consumers (r_i feeds d_i+w_i; d_i feeds
    // w_i+c_i; c_i feeds the next round twice plus the final union), so
    // DuckDB 1.0's per-reference re-expansion costs 682 MB / 0.9 s vs
    // 10 MB / 0.03 s materialized (identical result) — the r11
    // map-exhaustion class.
    val (bucket, mat) = (dl.tsDiv(21600000000000L), dl.mat)
    val median = dl.median("abs(r)")
    val betaExpr = huberBetaExpr
    val iters = (1 to 4).map { i =>
      val p = i - 1
      s"""r$i AS $mat(
         |  SELECT b.bucket, b.x, b.y,
         |    round(b.y - (c$p.alpha + c$p.beta * b.x), 6) AS r
         |  FROM b, c$p),
         |d$i AS $mat(
         |  SELECT round(1.345 * round($median, 6) / 0.6745, 6) AS delta
         |  FROM r$i),
         |w$i AS $mat(
         |  SELECT r$i.x, r$i.y, r$i.r,
         |    CASE WHEN abs(r) <= d$i.delta THEN 1.0
         |         ELSE round(d$i.delta / abs(r), 9) END AS w
         |  FROM r$i, d$i),
         |m$i AS $mat(
         |  SELECT
         |    ${dsum("w", "sw")}, ${dsum("w * x", "swx")},
         |    ${dsum("w * y", "swy")}, ${dsum("w * x * x", "swxx")},
         |    ${dsum("w * x * y", "swxy")},
         |    CAST(sum(CASE WHEN w < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         |  FROM w$i),
         |c$i AS $mat(
         |  SELECT $i AS iter,
         |    $betaExpr AS beta,
         |    round(swy / sw - ($betaExpr) * (swx / sw), 6) AS alpha,
         |    d$i.delta AS delta, m$i.n_out AS n_outliers
         |  FROM m$i, d$i)""".stripMargin
    }.mkString(",\n")
    val arms = (0 to 4).map(i =>
      s"SELECT iter, beta, alpha, delta, n_outliers FROM c$i")
      .mkString("\n  UNION ALL ")
    s"""WITH b AS $mat(
       |  SELECT bucket, x, y FROM (
       |    SELECT $bucket AS bucket,
       |      ${typeMean("purchase")} AS x,
       |      ${typeMean("click")} AS y
       |    FROM $events WHERE event_type IN ('click', 'purchase')
       |    GROUP BY 1) t
       |  WHERE x IS NOT NULL AND y IS NOT NULL),
       |m0 AS $mat(
       |  SELECT CAST(count(*) AS DOUBLE) AS sw,
       |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS swx,
       |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS swy,
       |    CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE) AS swxx,
       |    CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE) AS swxy
       |  FROM b),
       |c0 AS $mat(
       |  SELECT 0 AS iter,
       |    $betaExpr AS beta,
       |    round(swy / sw - ($betaExpr) * (swx / sw), 6) AS alpha,
       |    CAST(0.0 AS DOUBLE) AS delta, CAST(0 AS BIGINT) AS n_outliers
       |  FROM m0),
       |$iters
       |SELECT iter, beta + 0.0 AS beta, alpha + 0.0 AS alpha, delta,
       |  n_outliers
       |FROM (
       |  $arms) u
       |ORDER BY iter""".stripMargin
  }

  /** Spark-side twin of `huberIrlsSql` as a DRIVER-SIDE EXACT REPLAY
    * (r11 verdict ask #6; the `ts_kalman_level` precedent): the
    * monolithic 4-iteration text cost ~6 s of pure Catalyst planning
    * for a ~480-row frame (each iteration's residual CTE has two
    * consumers — the MAD scalar and the weight frame — so the logical
    * tree re-expands per level), and a per-round `localCheckpoint` loop
    * still paid ~0.4 s/job of scheduling for 1-task stages. The base
    * bucket frame stays a DISTRIBUTED scan+agg (the only part that
    * grows with data); the IRLS inner loop over the model-sized frame
    * replays the template's arithmetic EXACTLY on the driver:
    * `round(double, n)` as `BigDecimal(x).setScale(n, HALF_UP)` (the
    * documented Spark semantics — shortest-string BigDecimal, never
    * `new BigDecimal(double)`), DECIMAL term-sums as exact scale-9/12
    * BigDecimal folds, and `percentile(·, 0.5)` as Spark's own
    * `(higher−pos)·lowerKey + (pos−lower)·higherKey` interpolation with
    * the equal-keys early return. Result hash is pinned unchanged
    * (6e47690e…) — any arithmetic drift from the template is a gate
    * failure, not a silent skew. DuckDB keeps the single monolithic
    * text — its optimizer handles multi-consumer CTEs natively. */
  def huberIrlsSpark(s: SparkSession, events: String): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    def rnd(x: Double, n: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else new JBD(java.lang.Double.toString(x)).setScale(n, RM.HALF_UP)
        .doubleValue()
    // CAST(round(term, 9) AS DECIMAL(28,9)) — exact decimal summand
    def d9(x: Double): JBD =
      new JBD(java.lang.Double.toString(rnd(x, 9))).setScale(9, RM.HALF_UP)
    def d6(x: Double): JBD =
      new JBD(java.lang.Double.toString(x)).setScale(6, RM.HALF_UP)
    // Spark Percentile.getPercentile over a sorted multiset, p = 0.5
    def median50(sortedVals: Array[Double]): Double = {
      val pos = 0.5 * (sortedVals.length - 1)
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val lk = sortedVals(lower.toInt)
      val hk = sortedVals(higher.toInt)
      if (lower == higher || hk == lk) lk
      else (higher - pos) * lk + (pos - lower) * hk
    }
    val base = s.sql(
      s"""SELECT x, y FROM (
         |  SELECT ${Dialect.Spark.tsDiv(21600000000000L)} AS bucket,
         |    ${typeMean("purchase")} AS x,
         |    ${typeMean("click")} AS y
         |  FROM $events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1) t
         |WHERE x IS NOT NULL AND y IS NOT NULL""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = base.length
    // An empty modeling frame means the input table itself is empty or
    // has no click/purchase buckets — the SQL template this replay
    // replaced would emit a NULL-laden trajectory there, but silently
    // fabricating that shape driver-side risks drifting from it; fail
    // loudly instead (median50 below would otherwise throw an opaque
    // ArrayIndexOutOfBounds on sortedVals(0)).
    require(n > 0,
      "ml_huber_irls: empty modeling frame (no complete click/purchase " +
        "buckets) — cannot replay the IRLS trajectory")
    // c0 — the OLS seed: plain DECIMAL(18,6) sums, exact scale-12 squares
    def beta(sw: Double, swx: Double, swy: Double, swxx: Double,
             swxy: Double): Double =
      if (sw * swxx - swx * swx == 0.0) 0.0
      else rnd((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 9)
    def alpha(b: Double, sw: Double, swx: Double, swy: Double): Double =
      rnd(swy / sw - b * (swx / sw), 6)
    val zero = JBD.ZERO
    val (s0x, s0y, s0xx, s0xy) = base.foldLeft((zero, zero, zero, zero)) {
      case ((ax, ay, axx, axy), (x, y)) =>
        val (dx, dy) = (d6(x), d6(y))
        (ax.add(dx), ay.add(dy), axx.add(dx.multiply(dx)),
          axy.add(dx.multiply(dy)))
    }
    val sw0 = n.toDouble
    val b0 = beta(sw0, s0x.doubleValue(), s0y.doubleValue(),
      s0xx.doubleValue(), s0xy.doubleValue())
    val a0 = alpha(b0, sw0, s0x.doubleValue(), s0y.doubleValue())
    val rows = scala.collection.mutable.ArrayBuffer(
      (0, b0, a0, 0.0, 0L))
    var (cb, ca) = (b0, a0)
    for (i <- 1 to 4) {
      val resid = base.map { case (x, y) => (x, y, rnd(y - (ca + cb * x), 6)) }
      val med = median50(resid.map { case (_, _, r) => math.abs(r) }.sorted)
      val delta = rnd(1.345 * rnd(med, 6) / 0.6745, 6)
      val weighted = resid.map { case (x, y, r) =>
        val w = if (math.abs(r) <= delta) 1.0 else rnd(delta / math.abs(r), 9)
        (x, y, w)
      }
      val (msw, mswx, mswy, mswxx, mswxy) =
        weighted.foldLeft((zero, zero, zero, zero, zero)) {
          case ((aw, awx, awy, awxx, awxy), (x, y, w)) =>
            (aw.add(d9(w)), awx.add(d9(w * x)), awy.add(d9(w * y)),
              awxx.add(d9(w * x * x)), awxy.add(d9(w * x * y)))
        }
      val nOut = weighted.count { case (_, _, w) => w < 1.0 }.toLong
      val bi = beta(msw.doubleValue(), mswx.doubleValue(), mswy.doubleValue(),
        mswxx.doubleValue(), mswxy.doubleValue())
      val ai = alpha(bi, msw.doubleValue(), mswx.doubleValue(),
        mswy.doubleValue())
      rows += ((i, bi, ai, delta, nOut))
      cb = bi; ca = ai
    }
    import s.implicits._
    rows.toSeq
      .map { case (i, b, a, dl, no) => (i, b + 0.0, a + 0.0, dl, no) }
      .toDF("iter", "beta", "alpha", "delta", "n_outliers")
      .orderBy("iter")
  }

  // ---- logistic regression by Newton-Raphson (step chain) ---------------

  /** The fit chain shared by `ml_logistic_newton` (trajectory tail),
    * `ml_threshold_sweep` (confusion-matrix tail) and `ml_auc_roc` (rank
    * tail): the bucket frame `b`, its median-labelled copy `bl`, then per
    * Newton step k the moment frame `m{k}` (scoring the coefficients
    * c{k-1} inside its own plan) and the update `c{k}`; `m5` scores the
    * converged c4. The three consumers read the SAME model the
    * trajectory row hash-checks. As a [[StepChain]] the DuckDB oracle
    * text and the Spark steps are the same strings, so the text identity
    * the hash gate relies on holds by construction; stepwise, Catalyst
    * plans one small step at a time instead of paying ~5 s of fixed
    * analysis + optimization for the ~25-CTE unrolled text per consumer
    * (tracker phases: optimization 3.6 s, analysis 1.3 s). */
  private[graft] def logisticSteps(events: String, dl: Dialect): Seq[Step] = {
    val bucket = dl.bucket
    val hDet = det3("sw", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    val d0 = det3("g0", "s1", "s2", "g1", "s11", "s12", "g2", "s12", "s22")
    val d1 = det3("sw", "g0", "s2", "s1", "g1", "s12", "s2", "g2", "s22")
    val d2 = det3("sw", "s1", "g0", "s1", "s11", "g1", "s2", "s12", "g2")
    val frame = Seq(
      Step("b", _ =>
        s"""SELECT bucket, x1, x2, p_raw FROM (
           |  SELECT $bucket AS bucket,
           |    ${typeMean("click")} AS x1,
           |    ${typeMean("view")} AS x2,
           |    ${typeMean("purchase")} AS p_raw
           |  FROM $events
           |  WHERE event_type IN ('click', 'view', 'purchase')
           |  GROUP BY 1) t
           |WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND p_raw IS NOT NULL""".stripMargin),
      Step("bl", r =>
        s"""WITH med AS (SELECT round(${dl.median("p_raw")}, 6) AS m FROM ${r("b")})
           |SELECT b.bucket, b.x1, b.x2,
           |  CASE WHEN b.p_raw > med.m THEN 1 ELSE 0 END AS y
           |FROM ${r("b")} b, med""".stripMargin),
      Step("c0", _ =>
        """SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b1,
          |  CAST(0.0 AS DOUBLE) AS b2""".stripMargin))
    // evaluation step m{k} scores c{k-1}; update step c{k} applies the
    // Newton step from the same moments
    val newton = (1 to 5).flatMap { k =>
      val p = k - 1
      val m = Step(s"m$k", r =>
        s"""SELECT det, dd0, dd1, dd2, n_correct, ll, nn FROM (
           |  SELECT $hDet AS det, $d0 AS dd0, $d1 AS dd1, $d2 AS dd2,
           |    n_correct, ll, nn
           |  FROM (
           |    SELECT
           |      ${dsum("w", "sw")}, ${dsum("w * x1", "s1")},
           |      ${dsum("w * x2", "s2")}, ${dsum("w * x1 * x1", "s11")},
           |      ${dsum("w * x1 * x2", "s12")}, ${dsum("w * x2 * x2", "s22")},
           |      ${dsum("y - p", "g0")}, ${dsum("(y - p) * x1", "g1")},
           |      ${dsum("(y - p) * x2", "g2")},
           |      CAST(sum(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END)
           |        AS BIGINT) AS n_correct,
           |      ${dsum(
                "-(y * ln(least(greatest(p, 0.000000001), 0.999999999)) " +
                  "+ (1 - y) * ln(least(greatest(1.0 - p, 0.000000001), 0.999999999)))",
                "ll")},
           |      count(*) AS nn
           |    FROM (${lgScoreSql(r("bl"), r(s"c$p"))}) pk) mm) md"""
          .stripMargin)
      val c = Step(s"c$k", r =>
        s"""SELECT
           |  CASE WHEN m.det = 0.0 THEN c.a
           |       ELSE round(c.a + m.dd0 / m.det, 9) END AS a,
           |  CASE WHEN m.det = 0.0 THEN c.b1
           |       ELSE round(c.b1 + m.dd1 / m.det, 9) END AS b1,
           |  CASE WHEN m.det = 0.0 THEN c.b2
           |       ELSE round(c.b2 + m.dd2 / m.det, 9) END AS b2
           |FROM ${r(s"m$k")} m, ${r(s"c$p")} c""".stripMargin)
      if (k < 5) Seq(m, c) else Seq(m)
    }
    frame ++ newton
  }

  /** Per-row (y, p) under coefficients `cV` — the scoring pass inside
    * every moment step, and the `p5` step over the converged c4. */
  private def lgScoreSql(blV: String, cV: String): String =
    s"""SELECT y, x1, x2, p, round(p * (1.0 - p), 9) AS w
       |FROM (
       |  SELECT bl.y, bl.x1, bl.x2,
       |    round(1.0 / (1.0 + exp(-round(c.a + c.b1 * bl.x1 + c.b2 * bl.x2, 6))), 9) AS p
       |  FROM $blV bl, $cV c) pp""".stripMargin

  /** [[logisticSteps]] plus `p5`, the model-sized scored frame the
    * sweep and AUC tails read. */
  private[graft] def logisticScoredSteps(events: String, dl: Dialect): Seq[Step] =
    logisticSteps(events, dl) :+
      Step("p5", r => lgScoreSql(r("bl"), r("c4")))

  /** LOGISTIC REGRESSION as a FULL oracle row — the classification
    * counterpart the registry lacked (`ml_naive_bayes`/`ml_knn_classify`
    * cover counting/metric classifiers; nothing fit a discriminative
    * GLM). Binary label y = [purchase mean > its median] over 30-min
    * buckets, features (click mean, view mean), fitted by 4 Newton-Raphson
    * steps ([[logisticSteps]]) — each iteration is ONE scan: gridded
    * logits z = round(α + β₁x₁ + β₂x₂, 6), probabilities p = round(σ(z),
    * 9), IRLS weights w = round(p(1−p), 9), then the 3×3 weighted Gram
    * and gradient as per-term-rounded DECIMAL sums (the `ml_huber_irls`
    * discipline) and the Newton step solved CLOSED-FORM by Cramer's rule
    * on 3×3 determinants — fixed expression trees over identical
    * doubles, so both engines agree bit-for-bit away from libm; the one
    * libm exposure (exp/ln of a GRIDDED argument, ≤1 ulp apart) is
    * blunted by the 1e-9 re-grid, the same posture as every ln-based
    * query (COVERAGE.md decision table). Output: the per-iteration
    * coefficient trajectory with training accuracy (exact integer) and
    * log-loss — iteration 0 is the null model, so the fit's progress is
    * in the result. R10Spec pins the planted-separation law. */
  def logisticNewtonChain(events: String, dl: Dialect): StepChain =
    StepChain(logisticSteps(events, dl), r => {
      val arms = (0 to 4).map { i =>
        s"""SELECT $i AS iter, c.a + 0.0 AS alpha, c.b1 + 0.0 AS beta1,
           |    c.b2 + 0.0 AS beta2, m.n_correct AS n_correct,
           |    round(m.ll / m.nn, 6) AS log_loss
           |  FROM ${r(s"c$i")} c, ${r(s"m${i + 1}")} m""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""SELECT iter, alpha, beta1, beta2, n_correct, log_loss
         |FROM (
         |  $arms) u
         |ORDER BY iter""".stripMargin
    })

  /** CLASSIFICATION THRESHOLD OPERATING SWEEP (`ml_threshold_sweep`,
    * r11 — the deployment decision the trajectory row leaves open): a
    * fitted classifier ships with a THRESHOLD, and the τ choice is an
    * operating-point trade a confusion sweep makes visible — the
    * classification analog of `dedup_threshold_sweep` / the ANN
    * `similarity_recall_curve`. Reads the `p5` scores of
    * [[logisticScoredSteps]] (the sweep audits the SAME converged model
    * `ml_logistic_newton` hash-checks; scores p are grid-9 per-row
    * probabilities under the final coefficients). Thresholds are the
    * score DECILES, not a fixed 0.1-grid — calibration verified on data
    * (the Gopher lesson): the weakly-separable harness fit concentrates
    * p in (0.39, 0.60), so a fixed grid yields 7 degenerate rows out of
    * 9; decile thresholds put ~10 % of the frame between consecutive
    * operating points BY CONSTRUCTION, at any SF and any model. The nine
    * `percentile(p, i/10)` aggregates ride the same (higher−pos)·lk +
    * (pos−lower)·hk interpolation both engines (the `ml_huber_irls`
    * median class, here over identical grid-9 doubles); each τ is
    * re-gridded 1e-6 before ANY comparison, so TP/FP/FN/TN are EXACT
    * integer counts over identical double compares, and
    * precision/recall/F1 are output-only grid-6 divisions with NULLIF
    * zero guards. 9 rows; cost = one 9-row sweep attach over the
    * already-model-sized score frame. */
  def thresholdSweepChain(events: String, dl: Dialect): StepChain =
    StepChain(logisticScoredSteps(events, dl), r => {
      val arms = (1 to 9).map(i =>
        s"SELECT $i AS i, round(${dl.percentile("p", s"CAST($i AS DOUBLE) / 10")}, 6) AS tau " +
          s"FROM ${r("p5")}")
        .mkString("\n    UNION ALL ")
      s"""SELECT i AS decile, tau + 0.0 AS threshold, tp, fp, fn, tn,
         |  round(tp / NULLIF(tp + fp, 0), 6) AS prec,
         |  round(tp / NULLIF(tp + fn, 0), 6) AS recall,
         |  round(2 * tp / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
         |FROM (
         |  SELECT tsw.i, tsw.tau,
         |    CAST(sum(CASE WHEN sc.p >= tsw.tau AND sc.y = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN sc.p >= tsw.tau AND sc.y = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN sc.p < tsw.tau AND sc.y = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN sc.p < tsw.tau AND sc.y = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM (
         |    $arms) tsw
         |  CROSS JOIN ${r("p5")} sc GROUP BY tsw.i, tsw.tau) conf
         |ORDER BY decile""".stripMargin
    })

  /** LEARNING CURVE (`ml_learning_curve`, r11): the "do we need more
    * data" audit — held-out error as a function of TRAINING-SET SIZE,
    * the plot every data-acquisition decision reads (still climbing at
    * 100 % ⇒ buy more data; flat since 40 % ⇒ the model is capacity-
    * bound, more rows are wasted spend). The modeling frame is the
    * logistic family's 30-min bucket frame with the CONTINUOUS target
    * (purchase mean); an md5 fold marks ~20 % of buckets as the FIXED
    * test set; the remaining buckets order by md5 hex (deterministic
    * pseudo-random both engines) and fraction f ∈ {1..10} trains on the
    * prefix decided by INTEGER cross-multiplication `10·rn ≤ f·n` — no
    * percentage ever computed. Per fraction, one ridge (λ = 1, intercept
    * unpenalized) via per-term-rounded DECIMAL Gram sums and the
    * closed-form 3×3 Cramer solve (the `logisticSteps` discipline);
    * held-out RMSE from grid-6 predictions through DECIMAL residual
    * sums, the single sqrt IEEE-exact. Cost: a 10-row fraction attach
    * over the bucket-grain frame (grows with time span, not event
    * volume — the `ml_ensemble_weighted` posture). 10 rows out. */
  def learningCurveSql(events: String, dl: Dialect): String = {
    val (bucket, mat) = (dl.bucket, dl.mat)
    def hash(k: String) = dl.md5Int(dl.str(k))
    def mstr(k: String) = s"md5(${dl.str(k)})"
    // ridge normal matrix: intercept row unpenalized, +1 on the
    // feature diagonal (double + integer literal — no decimal literal)
    val hDet = det3("sw", "s1", "s2",
      "s1", "(s11 + 1)", "s12", "s2", "s12", "(s22 + 1)")
    val d0 = det3("sy", "s1", "s2",
      "s1y", "(s11 + 1)", "s12", "s2y", "s12", "(s22 + 1)")
    val d1 = det3("sw", "sy", "s2",
      "s1", "s1y", "s12", "s2", "s2y", "(s22 + 1)")
    val d2 = det3("sw", "s1", "sy",
      "s1", "(s11 + 1)", "s1y", "s2", "s12", "s2y")
    val fracs = (1 to 10).map(f => s"SELECT $f AS f").mkString(" UNION ALL ")
    s"""WITH b AS $mat(
       |  SELECT bucket, x1, x2, y FROM (
       |    SELECT $bucket AS bucket,
       |      ${typeMean("click")} AS x1,
       |      ${typeMean("view")} AS x2,
       |      ${typeMean("purchase")} AS y
       |    FROM $events
       |    WHERE event_type IN ('click', 'view', 'purchase')
       |    GROUP BY 1) t
       |  WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL),
       |tst AS $mat(
       |  SELECT bucket, x1, x2, y FROM b WHERE ${hash("bucket")} % 5 = 0),
       |trn AS $mat(
       |  SELECT bucket, x1, x2, y,
       |    row_number() OVER (ORDER BY ${mstr("bucket")}, bucket) AS rn
       |  FROM b WHERE ${hash("bucket")} % 5 <> 0),
       |tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trn),
       |fr AS ($fracs),
       |members AS (
       |  SELECT fr.f, trn.x1, trn.x2, trn.y
       |  FROM fr CROSS JOIN tn JOIN trn ON 10 * trn.rn <= fr.f * tn.n),
       |grams AS (
       |  SELECT f, CAST(count(*) AS BIGINT) AS n_train,
       |    CAST(count(*) AS DOUBLE) AS sw,
       |    ${dsum("x1", "s1")}, ${dsum("x2", "s2")}, ${dsum("y", "sy")},
       |    ${dsum("x1 * x1", "s11")}, ${dsum("x1 * x2", "s12")},
       |    ${dsum("x2 * x2", "s22")},
       |    ${dsum("x1 * y", "s1y")}, ${dsum("x2 * y", "s2y")}
       |  FROM members GROUP BY f),
       |coefs AS (
       |  SELECT f, n_train,
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd0 / det, 9) END AS a,
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd1 / det, 9) END AS b1,
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd2 / det, 9) END AS b2
       |  FROM (
       |    SELECT f, n_train, $hDet AS det, $d0 AS dd0, $d1 AS dd1,
       |      $d2 AS dd2
       |    FROM grams) g),
       |errs AS (
       |  SELECT coefs.f, coefs.n_train, coefs.a, coefs.b1, coefs.b2,
       |    ${dsum("(tst.y - round(coefs.a + coefs.b1 * tst.x1 + coefs.b2 * tst.x2, 6)) * " +
          "(tst.y - round(coefs.a + coefs.b1 * tst.x1 + coefs.b2 * tst.x2, 6))", "sse")},
       |    CAST(count(*) AS BIGINT) AS n_test
       |  FROM coefs CROSS JOIN tst
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT f AS fraction, n_train, n_test, a AS alpha, b1 AS beta1,
       |  b2 AS beta2,
       |  round(sqrt(sse / n_test), 6) AS rmse_test
       |FROM errs ORDER BY fraction""".stripMargin
  }

  /** RESIDUAL DIAGNOSTICS (`ml_residual_diagnostics`, r11): the test a
    * regression on TIME-ordered data must pass before its standard
    * errors mean anything — Durbin–Watson (1950) for serial
    * correlation in the residuals. Same bucket frame and DECIMAL-Gram
    * ridge as [[learningCurveSql]] but fitted on ALL buckets; residuals
    * e_t = y − grid-6 prediction re-gridded 1e-6; DW = Σ(e_t−e_{t−1})²
    * / Σe_t² and the lag-1 autocorrelation r₁ = Σe_t·e_{t−1} / Σe_t²
    * both ride per-term-rounded DECIMAL sums over the ORDER-exact lag
    * window (single bounded bucket-grain series — the huber class).
    * The conventional coarse flag `dw < 1` (strong positive serial
    * correlation) compares the same grid-6 double against an integer
    * literal — identical both engines; the exact dL/dU tables are
    * n,k-indexed lookups a caller applies to the emitted statistic.
    * One row out. */
  def residualDiagnosticsSql(events: String, dl: Dialect): String = {
    val (bucket, mat) = (dl.bucket, dl.mat)
    val hDet = det3("sw", "s1", "s2",
      "s1", "(s11 + 1)", "s12", "s2", "s12", "(s22 + 1)")
    val d0 = det3("sy", "s1", "s2",
      "s1y", "(s11 + 1)", "s12", "s2y", "s12", "(s22 + 1)")
    val d1 = det3("sw", "sy", "s2",
      "s1", "s1y", "s12", "s2", "s2y", "(s22 + 1)")
    val d2 = det3("sw", "s1", "sy",
      "s1", "(s11 + 1)", "s1y", "s2", "s12", "s2y")
    s"""WITH b AS $mat(
       |  SELECT bucket, x1, x2, y FROM (
       |    SELECT $bucket AS bucket,
       |      ${typeMean("click")} AS x1,
       |      ${typeMean("view")} AS x2,
       |      ${typeMean("purchase")} AS y
       |    FROM $events
       |    WHERE event_type IN ('click', 'view', 'purchase')
       |    GROUP BY 1) t
       |  WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL),
       |g AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS sw,
       |    ${dsum("x1", "s1")}, ${dsum("x2", "s2")}, ${dsum("y", "sy")},
       |    ${dsum("x1 * x1", "s11")}, ${dsum("x1 * x2", "s12")},
       |    ${dsum("x2 * x2", "s22")},
       |    ${dsum("x1 * y", "s1y")}, ${dsum("x2 * y", "s2y")}
       |  FROM b),
       |c AS (
       |  SELECT
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd0 / det, 9) END AS a,
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd1 / det, 9) END AS b1,
       |    CASE WHEN det = 0.0 THEN NULL ELSE round(dd2 / det, 9) END AS b2
       |  FROM (
       |    SELECT $hDet AS det, $d0 AS dd0, $d1 AS dd1, $d2 AS dd2
       |    FROM g) gg),
       |resid AS (
       |  SELECT b.bucket,
       |    round(b.y - round(c.a + c.b1 * b.x1 + c.b2 * b.x2, 6), 6) AS e
       |  FROM b CROSS JOIN c),
       |lagd AS (
       |  SELECT bucket, e, lag(e) OVER (ORDER BY bucket) AS ep
       |  FROM resid),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_obs,
       |    ${dsum("e * e", "see")},
       |    ${dsum("CASE WHEN ep IS NULL THEN 0 ELSE (e - ep) * (e - ep) END", "sdd")},
       |    ${dsum("CASE WHEN ep IS NULL THEN 0 ELSE e * ep END", "sce")}
       |  FROM lagd)
       |SELECT n_obs,
       |  round(sdd / see, 6) AS dw_stat,
       |  round(sce / see, 6) AS rho1,
       |  round(sdd / see, 6) < 1 AS positive_autocorr
       |FROM sums""".stripMargin
  }

  /** EXACT AUC-ROC (`ml_auc_roc`, r11): the threshold-free companion of
    * [[thresholdSweepChain]] — the single number a model report leads
    * with, computed EXACTLY via the Mann–Whitney rank identity
    * AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) over the same converged logistic
    * scores. Ties (grid-9 scores CAN collide) take average ranks; the
    * whole statistic stays INTEGER by carrying 2·R₁ = Σ(2·rank_min +
    * ties − 1) — no half ever materializes, the `stat_mannwhitney_u`
    * discipline applied to model scores. The one window is an
    * unpartitioned rank over the model-sized score frame (bounded —
    * the huber class); AUC and Gini are output-only grid-6 divisions
    * of exact integers. */
  def aucRocChain(events: String, dl: Dialect): StepChain =
    StepChain(logisticScoredSteps(events, dl), r =>
      s"""SELECT n_pos, n_neg,
         |  r2 - n_pos * (n_pos + 1) AS u2,
         |  round((r2 - n_pos * (n_pos + 1)) / (2 * n_pos * n_neg), 6) AS auc,
         |  round((r2 - n_pos * (n_pos + 1)) / (n_pos * n_neg) - 1, 6) AS gini
         |FROM (
         |  SELECT
         |    CAST(sum(CASE WHEN y = 1 THEN 2 * rmin + tie_n - 1 ELSE 0 END)
         |      AS BIGINT) AS r2,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         |  FROM (
         |    SELECT y,
         |      rank() OVER (ORDER BY p ASC) AS rmin,
         |      count(*) OVER (PARTITION BY p) AS tie_n
         |    FROM ${r("p5")}) ranked) ag""".stripMargin)

  // ---- gradient-boosted stumps (step chain) -------------------------------

  /** GRADIENT BOOSTING as a FULL oracle row — the tree family the
    * registry could only ship rows-only (`ml_random_forest`/`ml_gbt`
    * ride seeded MLlib forests): depth-1 regression stumps fitted to
    * residuals with EXACT argmax splits are fully hash-checkable. Per
    * boosting round, ONE ordered window pass computes every candidate
    * split's left/right sufficient statistics (prefix count + prefix
    * DECIMAL sum over (x, bucket) order — the histogram-split shape that
    * scales: candidates come from one sort, not one scan per split);
    * the split score Sl²/nl + Sr²/nr is a fixed expression over
    * DECIMAL-exact sums (identical doubles both engines — the COVERAGE
    * doctrine), argmax ties break on the smaller threshold; leaf values
    * are grid means and the residual update r ← round(r − ν·leaf, 6)
    * with ν = 0.5. Output: per-round (threshold, leaf values, training
    * SSE) — SSE is non-increasing by construction, pinned in R10Spec.
    * When no split candidate is left (every x equal), `best{i}` is empty
    * and so is every later round: only the rounds before it are
    * emitted. The seeded-MLlib `ml_gbt` stays the library surface.
    *
    * Each round's residual frame `s{i}` is read by three consumers (the
    * prefix window, the totals and the update), so as one unrolled text
    * Spark re-expands the chain into a plan tree exponential in rounds
    * (~350 s of planning at sf0.1); as
    * a [[StepChain]] each round is planned over checkpointed views. */
  def gbtStumpsChain(events: String, dl: Dialect): StepChain = {
    val bucket = dl.bucket
    // r lives on the exact 1e-7 grid as DECIMAL(15,7) (leaves are grid-6,
    // nu = 0.5 makes every increment scale-7): the update NEVER rounds, so
    // no midpoint ever meets an engine-specific round(). r^2 at scale 14
    // stays inside DECIMAL(31,14)/sum(38,14) exactly on both engines.
    def sse(src: String) =
      "SELECT round(CAST(sum(CAST(CAST(r AS DECIMAL(19,7)) * CAST(r AS DECIMAL(19,7))" +
        s" AS DECIMAL(38,14))) AS DOUBLE), 6) AS sse FROM $src"
    // one output row per round, so the tail is a plain union
    def row(i: Int, leaf: String, src: String, resid: String) =
      s"""SELECT $i AS iter, $leaf, m.sse AS train_sse
         |FROM $src, (${sse(resid)}) m""".stripMargin
    val start = Seq(
      Step("base", _ =>
        s"""SELECT bucket, x, y FROM (
           |  SELECT $bucket AS bucket,
           |    ${typeMean("click")} AS x,
           |    ${typeMean("purchase")} AS y
           |  FROM $events WHERE event_type IN ('click', 'purchase')
           |  GROUP BY 1) t
           |WHERE x IS NOT NULL AND y IS NOT NULL""".stripMargin),
      Step("f0", r =>
        s"""SELECT round(CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
           |  / count(*), 6) AS f FROM ${r("base")}""".stripMargin),
      Step("s0", r =>
        s"""SELECT b.bucket, b.x,
           |  CAST(CAST(b.y AS DECIMAL(18,6)) - CAST(f.f AS DECIMAL(18,6))
           |    AS DECIMAL(15,7)) AS r
           |FROM ${r("base")} b, ${r("f0")} f""".stripMargin),
      Step("row0", r => row(0,
        "CAST(0.0 AS DOUBLE) AS threshold, f.f AS left_val, f.f AS right_val",
        s"${r("f0")} f", r("s0"))))
    val rounds = (1 to 6).flatMap { i =>
      val p = i - 1
      Seq(
        Step(s"best$i", r =>
          s"""WITH cum AS (
             |  SELECT bucket, x, r,
             |    count(*) OVER (ORDER BY x, bucket
             |      ROWS UNBOUNDED PRECEDING) AS cn,
             |    sum(r) OVER (ORDER BY x, bucket
             |      ROWS UNBOUNDED PRECEDING) AS cs,
             |    row_number() OVER (PARTITION BY x ORDER BY bucket DESC) AS lastx
             |  FROM ${r(s"s$p")}),
             |agg AS (
             |  SELECT count(*) AS n, sum(r) AS s,
             |    max(x) AS mx
             |  FROM ${r(s"s$p")})
             |SELECT x AS thr,
             |  round(CAST(cs AS DOUBLE) / cn, 6) + 0.0 AS lm,
             |  round(CAST(s - cs AS DOUBLE) / (n - cn), 6) + 0.0 AS rm
             |FROM (
             |  SELECT c.x, c.cn, c.cs, a.n, a.s,
             |    row_number() OVER (ORDER BY
             |      (CAST(c.cs AS DOUBLE) * CAST(c.cs AS DOUBLE)) / c.cn
             |        + (CAST(a.s - c.cs AS DOUBLE) * CAST(a.s - c.cs AS DOUBLE))
             |          / (a.n - c.cn) DESC,
             |      c.x ASC) AS rk
             |  FROM cum c, agg a
             |  WHERE c.lastx = 1 AND c.x < a.mx) t
             |WHERE rk = 1""".stripMargin),
        Step(s"s$i", r =>
          s"""SELECT s.bucket, s.x,
             |  CAST(s.r - CAST(CAST((CASE WHEN s.x <= b.thr THEN b.lm
             |      ELSE b.rm END) AS DECIMAL(18,6)) * CAST(0.5 AS DECIMAL(2,1))
             |    AS DECIMAL(19,7)) AS DECIMAL(15,7)) AS r
             |FROM ${r(s"s$p")} s, ${r(s"best$i")} b""".stripMargin),
        Step(s"row$i", r => row(i,
          "b.thr AS threshold, b.lm AS left_val, b.rm AS right_val",
          s"${r(s"best$i")} b", r(s"s$i"))))
    }
    StepChain(start ++ rounds, r => {
      val arms = (0 to 6).map(i =>
        s"SELECT iter, threshold, left_val, right_val, train_sse FROM ${r(s"row$i")}")
        .mkString("\n  UNION ALL ")
      s"""SELECT iter, threshold, left_val, right_val, train_sse FROM (
         |  $arms) u
         |ORDER BY iter""".stripMargin
    })
  }

  // ---- online SGD (executor fold + recursive-CTE twin) ---------------------

  /** ONLINE LEARNING as a FULL oracle row — single-pass SGD on the
    * standardized (view → click) stream, the incremental-model family
    * the registry lacked (every other `ml_*` row fits in batch; a
    * production scorer often learns online as data lands). Two phases
    * share ONE arithmetic both engines:
    *  1. standardization moments (DECIMAL sums → grid-6 mean/σ — the
    *     `ml_scaler` discipline; SGD on raw bucket means diverges at
    *     these magnitudes);
    *  2. the sequential pass in bucket order: pred = round(w0+w1·zx, 9),
    *     err = round(pred − zy, 9)+0, w ← round(w − 0.05·err·(1, zx), 9)
    *     +0 — every state re-gridded 1e-9 HALF_UP (the `ts_kalman_level`
    *     recursion discipline), SSE accumulated in the SAME fixed order
    *     on both sides (sequential fold ≡ recursive CTE, so a double
    *     accumulator is order-safe — the `HwFilter` precedent).
    * Engine: one executor-side `flatMapGroups` fold over the bounded
    * bucket series (no driver collect); twin: recursive CTE joining the
    * indexed series per step. R10Spec plants a perfectly-correlated
    * stream (w1 → 1, w0 → 0) and pins one-pass loss improvement. */
  def sgdZSql(events: String, dl: Dialect): String =
    s"""px AS ${dl.mat}(
       |  SELECT ${dl.bucket} AS bucket,
       |    round(CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END
       |        AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(CASE WHEN event_type = 'view' THEN value END), 6) AS x,
       |    round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
       |        AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(CASE WHEN event_type = 'click' THEN value END), 6) AS y
       |  FROM $events WHERE event_type IN ('view', 'click')
       |  GROUP BY 1),
       |b AS ${dl.mat}(SELECT bucket, x, y FROM px
       |  WHERE x IS NOT NULL AND y IS NOT NULL),
       |mom AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pxx,
       |    CAST(sum(CAST(CAST(y AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pyy
       |  FROM b),
       |stz AS (
       |  SELECT n, round(sx / n, 6) AS mx, round(sy / n, 6) AS my,
       |    round(sqrt((pxx - sx * sx / n) / n), 6) AS sdx,
       |    round(sqrt((pyy - sy * sy / n) / n), 6) AS sdy
       |  FROM mom),
       |z AS ${dl.mat}(
       |  SELECT row_number() OVER (ORDER BY bucket) AS i,
       |    round((x - stz.mx) / stz.sdx, 6) + 0.0 AS zx,
       |    round((y - stz.my) / stz.sdy, 6) + 0.0 AS zy
       |  FROM b, stz)""".stripMargin

  /** The sequential SGD pass — ONE arithmetic for the executor fold,
    * the streaming twin, and (replicated by the recursive CTE) the
    * oracle; lives in `operators.SgdOnline`. */
  def sgdFold(rows: Array[(Long, Double, Double)])
      : (Long, Double, Double, Double) =
    graft.operators.SgdOnline.fold(rows)

  /** DuckDB twin: the same standardization CTEs + the SGD recursion. */
  def sgdOnlineSql(events: String, dl: Dialect): String = {
    val err = "(round(round(r.w0 + r.w1 * z.zx, 9) - z.zy, 9) + 0.0)"
    s"""WITH RECURSIVE ${sgdZSql(events, dl)},
       |r AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS w0,
       |    CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS sse
       |  UNION ALL
       |  SELECT z.i,
       |    round(r.w0 - 0.05 * $err, 9) + 0.0,
       |    round(r.w1 - 0.05 * $err * z.zx, 9) + 0.0,
       |    r.sse + $err * $err
       |  FROM r JOIN z ON z.i = r.i + 1)
       |SELECT r.i AS n_steps, r.w0, r.w1,
       |  round(sqrt(r.sse / r.i), 6) AS rmse
       |FROM r, stz WHERE r.i = stz.n""".stripMargin
  }

  // ---- Page–Hinkley test (shared SQL template) -----------------------------

  /** PAGE–HINKLEY drift detector (Page 1954; the SELF-STARTING member
    * of the change family — `ml_changepoint_cusum` needs a calibrated
    * (μ, σ) and `stat_sprt` a trained H₀; PH tracks its own RUNNING
    * mean, so it can run from the first sample of a stream it knows
    * nothing about): over per-series grid-6 simple RETURNS (natural
    * ~0 mean — raw price levels would swamp any δ), the one-sided
    * statistics U_t = Σ(r_s − r̄_s − δ) and D_t = Σ(r̄_s − r_s − δ) ride
    * EXACT DECIMAL cumulative sums of grid-9 terms, PH = U − min U via
    * a DECIMAL running min, and the alarm decision PH > λ is a pure
    * DECIMAL comparison — the whole decision path is exact (the
    * COVERAGE doctrine's strongest class). δ and λ are ADAPTIVE to the
    * series' own return scale — δ = 0.5σ̂_r, λ = 8σ̂_r (a fixed absolute
    * λ is data-brittle: the first cut at λ = 0.05 alarmed EVERY series
    * at its second return — a threshold the noise crosses instantly is
    * as vacuous as one nothing crosses). Windows partitioned per
    * series — bounded, scale-clean. */
  def pageHinkleySql(events: String, dl: Dialect): String = {
    val (bucket, mat) = (dl.bucket, dl.mat)
    // the MULTI-CONSUMER CTEs (rr feeds tol+c; tol feeds t+s) carry
    // `mat` — re-expanded per consumer they fed the r11 map-count
    // exhaustion of a single-connection oracle replay
    s"""WITH px AS (
       |  SELECT event_type AS series, $bucket AS b,
       |    ${Grid.mean6Sql("value")} AS x
       |  FROM $events GROUP BY 1, 2),
       |r0 AS (
       |  SELECT series, b,
       |    round((x - lag(x) OVER (PARTITION BY series ORDER BY b))
       |      / lag(x) OVER (PARTITION BY series ORDER BY b), 6) + 0.0 AS r
       |  FROM px),
       |rr AS $mat(SELECT series, b, r FROM r0 WHERE r IS NOT NULL),
       |tol AS $mat(
       |  SELECT series,
       |    round(0.5 * sqrt((prr - sr * sr / n) / n), 6) AS delta,
       |    CAST(round(8 * sqrt((prr - sr * sr / n) / n), 6)
       |      AS DECIMAL(19,9)) AS lambda
       |  FROM (
       |    SELECT series, count(*) AS n,
       |      CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS sr,
       |      -- DECIMAL(24,6) operands: near-zero bucket means make some
       |      -- 30-min returns ~1e3, and DuckDB's DECIMAL(18)x(18) int64
       |      -- fast path overflows on their squares (daily-return
       |      -- queries never see this)
       |      CAST(sum(CAST(CAST(r AS DECIMAL(24,6))
       |        * CAST(r AS DECIMAL(24,6)) AS DECIMAL(38,12))) AS DOUBLE)
       |        AS prr
       |    FROM rr GROUP BY series) m),
       |c AS (
       |  SELECT series, b, r,
       |    CAST(sum(CAST(r AS DECIMAL(18,6))) OVER (PARTITION BY series
       |      ORDER BY b ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cs,
       |    row_number() OVER (PARTITION BY series ORDER BY b) AS i
       |  FROM rr),
       |t AS (
       |  SELECT c.series, c.b, c.i,
       |    CAST(round(c.r - c.cs / c.i - tol.delta, 9) AS DECIMAL(19,9)) AS tu,
       |    CAST(round(c.cs / c.i - c.r - tol.delta, 9) AS DECIMAL(19,9)) AS td
       |  FROM c JOIN tol ON c.series = tol.series),
       |u AS (
       |  SELECT series, b, i,
       |    sum(tu) OVER (PARTITION BY series ORDER BY b
       |      ROWS UNBOUNDED PRECEDING) AS uu,
       |    sum(td) OVER (PARTITION BY series ORDER BY b
       |      ROWS UNBOUNDED PRECEDING) AS dd
       |  FROM t),
       |ph AS (
       |  SELECT series, b, i,
       |    uu - min(uu) OVER (PARTITION BY series ORDER BY b
       |      ROWS UNBOUNDED PRECEDING) AS phu,
       |    dd - min(dd) OVER (PARTITION BY series ORDER BY b
       |      ROWS UNBOUNDED PRECEDING) AS phd
       |  FROM u),
       |s AS (
       |  SELECT ph.series, max(ph.i) AS n_returns,
       |    round(CAST(max(ph.phu) AS DOUBLE), 9) AS ph_max_up,
       |    round(CAST(max(ph.phd) AS DOUBLE), 9) AS ph_max_down,
       |    round(CAST(max(tol.lambda) AS DOUBLE), 6) AS lambda,
       |    min(CASE WHEN ph.phu > tol.lambda THEN ph.b END)
       |      AS alarm_up_bucket,
       |    min(CASE WHEN ph.phd > tol.lambda THEN ph.b END)
       |      AS alarm_down_bucket
       |  FROM ph JOIN tol ON ph.series = tol.series
       |  GROUP BY ph.series)
       |SELECT series, n_returns, ph_max_up, ph_max_down, lambda,
       |  alarm_up_bucket, alarm_down_bucket,
       |  CASE WHEN alarm_up_bucket IS NOT NULL
       |    OR alarm_down_bucket IS NOT NULL THEN 1 ELSE 0 END AS alarmed
       |FROM s ORDER BY series""".stripMargin
  }

  // ---- sample entropy (shared SQL template) ---------------------------------

  /** SAMPLE ENTROPY (Richman & Moorman 2000, m = 2, r = 0.2σ) — the
    * series-complexity measure the spectral/Hurst rows approximate from
    * frequency space, computed from template matches: B = pairs of
    * length-2 templates within Chebyshev distance r, A = the subset
    * still within r at length 3, SampEn = −ln(A/B). The pair join is
    * series-keyed and bar-count-bounded per series (the matrix-profile
    * posture — at 100 TB this runs per bounded series, never across
    * the fact table). A/B are INTEGERS (comparisons on identical
    * grid-6-derived doubles); the single ln is output-only with
    * integer-count NULL guards. */
  def sampleEntropySql(events: String, dl: Dialect): String = {
    val bucket = dl.bucket
    s"""WITH px AS (
       |  SELECT event_type AS series, $bucket AS b,
       |    ${Grid.mean6Sql("value")} AS x
       |  FROM $events GROUP BY 1, 2),
       |mom AS (
       |  SELECT series, count(*) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pxx
       |  FROM px GROUP BY series),
       |tol AS (
       |  SELECT series, n,
       |    round(0.2 * sqrt((pxx - sx * sx / n) / n), 6) AS r
       |  FROM mom),
       |tpl AS (
       |  SELECT series, b,
       |    row_number() OVER (PARTITION BY series ORDER BY b) AS i,
       |    x,
       |    lead(x, 1) OVER (PARTITION BY series ORDER BY b) AS x1,
       |    lead(x, 2) OVER (PARTITION BY series ORDER BY b) AS x2
       |  FROM px),
       |pairs AS (
       |  SELECT a.series,
       |    CASE WHEN abs(a.x - z.x) <= t.r AND abs(a.x1 - z.x1) <= t.r
       |      THEN 1 ELSE 0 END AS mb,
       |    CASE WHEN abs(a.x - z.x) <= t.r AND abs(a.x1 - z.x1) <= t.r
       |      AND abs(a.x2 - z.x2) <= t.r THEN 1 ELSE 0 END AS ma
       |  FROM tpl a
       |  JOIN tpl z ON a.series = z.series AND a.i < z.i
       |  JOIN tol t ON a.series = t.series
       |  WHERE a.x2 IS NOT NULL AND z.x2 IS NOT NULL),
       |cnt AS (
       |  SELECT series, CAST(sum(mb) AS BIGINT) AS b_count,
       |    CAST(sum(ma) AS BIGINT) AS a_count
       |  FROM pairs GROUP BY series)
       |SELECT t.series, t.n AS n_bars, t.r AS tolerance,
       |  c.b_count, c.a_count,
       |  CASE WHEN c.a_count > 0 AND c.b_count > 0
       |    THEN round(-ln(CAST(c.a_count AS DOUBLE)
       |      / CAST(c.b_count AS DOUBLE)), 6)
       |    ELSE NULL END AS sampen
       |FROM tol t JOIN cnt c ON t.series = c.series
       |ORDER BY t.series""".stripMargin
  }

  // ---- Friedman test (shared SQL template) --------------------------------

  /** FRIEDMAN TEST — the repeated-measures member the nonparametric rank
    * family lacked (`stat_kruskal_wallis` assumes independent groups;
    * Friedman BLOCKS by day, so day-level market shocks cancel): daily
    * grid-6 mean value per event-type series, complete days only,
    * WITHIN-DAY mean ranks carried as the INTEGER mr2 = 2·rank + ties − 1
    * (twice the mean rank — ties never leave the integers), per-series
    * rank sums as BIGINT, and the statistic
    * χ² = 3·Σ(R2_j²)/(n·k·(k+1)) − 3·n·(k+1) evaluated on identical
    * doubles from exact integers (the derivation folds the usual
    * 12/(nk(k+1))·ΣR_j² form onto mr2 = 2R). No tie-variance correction
    * (mean ranks handle ties; the uncorrected statistic is conservative
    * — documented). Reject at the df = k−1 = 4 χ² 95 % point; the flag
    * is NULL unless k = 5 (the literal's precondition — the Kupiec
    * guard pattern). */
  def friedmanSql(events: String, dl: Dialect): String = {
    val day = dl.day
    s"""WITH px AS (
       |  SELECT event_type AS series, $day AS day,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS x
       |  FROM $events GROUP BY 1, 2),
       |kk AS (SELECT count(DISTINCT series) AS k FROM px),
       |fd AS (SELECT day FROM px GROUP BY day
       |  HAVING count(*) = (SELECT k FROM kk)),
       |v AS (SELECT px.series, px.day, px.x
       |  FROM px JOIN fd ON px.day = fd.day),
       |rk AS (
       |  SELECT series, day,
       |    2 * rank() OVER (PARTITION BY day ORDER BY x)
       |      + count(*) OVER (PARTITION BY day, x) - 1 AS mr2
       |  FROM v),
       |rs AS (
       |  SELECT series, CAST(sum(mr2) AS BIGINT) AS r2s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM rk GROUP BY series),
       |tot AS (
       |  SELECT CAST(sum(r2s * r2s) AS DOUBLE) AS sr2, max(n) AS n,
       |    (SELECT k FROM kk) AS k
       |  FROM rs)
       |SELECT rs.series, rs.n AS n_days, rs.r2s AS sum_rank2,
       |  round(CAST(rs.r2s AS DOUBLE) / (2 * rs.n), 6) AS mean_rank,
       |  round(3.0 * t.sr2 / (t.n * t.k * (t.k + 1))
       |    - 3.0 * t.n * (t.k + 1), 6) AS chi2,
       |  CASE WHEN t.k = 5 THEN
       |    CASE WHEN 3.0 * t.sr2 / (t.n * t.k * (t.k + 1))
       |      - 3.0 * t.n * (t.k + 1) > 9.487729036781154
       |      THEN 1 ELSE 0 END
       |  ELSE NULL END AS reject_95
       |FROM rs, tot t ORDER BY series""".stripMargin
  }

  // ---- CAPM beta (shared SQL template) -------------------------------------

  /** PER-SERIES CAPM regression vs the equal-weight market — the
    * index-model decomposition a commodity desk runs on every series
    * (`ml_factor_loadings` extracts latent PCA factors; this regresses
    * on the OBSERVABLE market factor): daily grid-6 bars → grid-6 simple
    * returns (signed-zero-guarded) → market return = grid-6 mean over
    * complete days → per-series (β, α, R²) from ONE DECIMAL moment
    * aggregation (per-term DECIMAL(30,12) products — the house
    * sufficient-statistics layout; identical doubles both engines).
    * Degenerate-variance series are excluded by an EXACT filter (same
    * arithmetic both sides). */
  def capmSql(events: String, dl: Dialect): String = {
    val day = dl.day
    s"""WITH px AS (
       |  SELECT event_type AS series, $day AS day,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS px
       |  FROM $events GROUP BY 1, 2),
       |r0 AS (
       |  SELECT series, day,
       |    round((px - lag(px) OVER (PARTITION BY series ORDER BY day))
       |      / lag(px) OVER (PARTITION BY series ORDER BY day), 6) + 0.0 AS r
       |  FROM px),
       |rr AS (SELECT series, day, r FROM r0 WHERE r IS NOT NULL),
       |fd AS (SELECT day FROM rr GROUP BY day
       |  HAVING count(*) = (SELECT count(DISTINCT series) FROM rr)),
       |mkt AS (
       |  SELECT rr.day,
       |    round(CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) + 0.0 AS rm
       |  FROM rr JOIN fd ON rr.day = fd.day GROUP BY rr.day),
       |j AS (SELECT rr.series, rr.r, m.rm FROM rr JOIN mkt m ON rr.day = m.day),
       |mom AS (
       |  SELECT series, count(*) AS n,
       |    CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS si,
       |    CAST(sum(CAST(rm AS DECIMAL(18,6))) AS DOUBLE) AS sm,
       |    CAST(sum(CAST(CAST(r AS DECIMAL(18,6)) * CAST(rm AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pim,
       |    CAST(sum(CAST(CAST(rm AS DECIMAL(18,6)) * CAST(rm AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pmm,
       |    CAST(sum(CAST(CAST(r AS DECIMAL(18,6)) * CAST(r AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS pii
       |  FROM j GROUP BY series)
       |SELECT series, n AS n_days,
       |  round((pim - si * sm / n) / (pmm - sm * sm / n), 6) + 0.0 AS beta,
       |  round(si / n - ((pim - si * sm / n) / (pmm - sm * sm / n))
       |    * (sm / n), 6) + 0.0 AS alpha,
       |  round(((pim - si * sm / n) * (pim - si * sm / n))
       |    / ((pmm - sm * sm / n) * (pii - si * si / n)), 6) AS r2
       |FROM mom
       |WHERE (pmm - sm * sm / n) > 0 AND (pii - si * si / n) > 0
       |ORDER BY series""".stripMargin
  }

  // ---- log-rank test (shared SQL template) --------------------------------

  /** TWO-GROUP SURVIVAL COMPARISON — the log-rank test, run where the
    * events table actually has survival structure: SESSION DURATIONS
    * (the 10-min-gap sessions the `sessionize_*` family defines; ~10k
    * spells at sf0.01), comparing weekend-started vs weekday-started
    * sessions. A session is an observed "death" when it closed at least
    * one gap before the span end; a session still inside the gap at the
    * end of observation is censored — the right-censoring mechanism
    * survival analysis exists for (the per-user lifetime frame of
    * `ml_survival_km` has near-zero churn at test SFs, which would make
    * the test vacuous). At every distinct duration with pooled deaths,
    * the hypergeometric O−E and variance terms are rationals of INTEGER
    * at-risk/death counts (suffix sums via one descending window),
    * computed as identical doubles both engines, per-term rounded 1e-9
    * and summed in DECIMAL; χ² = (O−E)²/V with a V=0 guard. Weekday
    * from exact epoch-day arithmetic (the `fin_dow_effects`
    * convention). ONE SQL text. */
  /** The session-survival frame both `stat_logrank` and `ml_cox_ph`
    * consume: 10-min-gap sessions → per-duration arrivals/deaths by
    * weekend cohort → suffix at-risk counts. Ends with the `rk`
    * (t, d1, d0, n1, n0) integer frame. */
  private def sessionRiskSql(events: String, dl: Dialect,
                             materialize: Boolean): String = {
    // sgrp feeds bounds+obs and obs feeds byt+cnt, so a standalone
    // DuckDB text materializes both (else the whole session-window chain
    // is re-evaluated per consumer — part of the r11 map-exhaustion
    // class); inside a chain step the step itself is materialized
    val (epochUs, idiv) = (dl.epochUs, dl.div)
    val mat = if (materialize) dl.mat else ""
    s"""WITH e AS (
       |  SELECT user_id, event_id, $epochUs AS ts_us FROM $events),
       |flagged AS (
       |  SELECT user_id, ts_us,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |      OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sess AS (
       |  SELECT user_id, ts_us,
       |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged),
       |sgrp AS $mat(
       |  SELECT user_id, sid, min(ts_us) AS s0, max(ts_us) AS s1
       |  FROM sess GROUP BY user_id, sid),
       |bounds AS (SELECT max(s1) AS endus FROM sgrp),
       |obs AS $mat(
       |  SELECT (s1 - s0) $idiv 60000000 AS t,
       |    CASE WHEN b.endus - s1 > 600000000 THEN 1 ELSE 0 END AS e,
       |    CASE WHEN (s0 $idiv 86400000000 + 4) % 7 IN (0, 6)
       |      THEN 1 ELSE 0 END AS grp
       |  FROM sgrp, bounds b),
       |byt AS (
       |  SELECT t,
       |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a1,
       |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a0,
       |    sum(CASE WHEN grp = 1 AND e = 1 THEN 1 ELSE 0 END) AS d1,
       |    sum(CASE WHEN grp = 0 AND e = 1 THEN 1 ELSE 0 END) AS d0
       |  FROM obs GROUP BY t),
       |rk AS (
       |  SELECT t, d1, d0,
       |    sum(a1) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n1,
       |    sum(a0) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n0
       |  FROM byt)""".stripMargin
  }

  def logrankSql(events: String, dl: Dialect): String =
    s"""${sessionRiskSql(events, dl, materialize = true)},
       |terms AS (
       |  SELECT
       |    round(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0), 9) AS e1,
       |    CASE WHEN n1 + n0 > 1 THEN
       |      round(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0) * n0 / (n1 + n0)
       |        * (n1 + n0 - d1 - d0) / (n1 + n0 - 1), 9)
       |    ELSE 0.0 END AS v1,
       |    d1, d0
       |  FROM rk WHERE d1 + d0 > 0),
       |agg AS (
       |  SELECT CAST(sum(d1) AS BIGINT) AS events_we,
       |    CAST(sum(d0) AS BIGINT) AS events_wd,
       |    CAST(sum(CAST(e1 AS DECIMAL(28,9))) AS DOUBLE) AS exp1,
       |    CAST(sum(CAST(v1 AS DECIMAL(28,9))) AS DOUBLE) AS var1
       |  FROM terms),
       |cnt AS (
       |  SELECT
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd,
       |    CAST(sum(CASE WHEN e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
       |  FROM obs)
       |SELECT cnt.n_we AS n_sessions_weekend, cnt.n_wd AS n_sessions_weekday,
       |  cnt.n_censored, agg.events_we, agg.events_wd,
       |  round(agg.exp1, 6) AS expected_weekend,
       |  CASE WHEN agg.var1 = 0.0 THEN 0.0
       |       ELSE round((agg.events_we - agg.exp1) * (agg.events_we - agg.exp1)
       |         / agg.var1, 6) END AS chi2,
       |  CASE WHEN agg.var1 = 0.0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(CASE WHEN (agg.events_we - agg.exp1)
       |           * (agg.events_we - agg.exp1) / agg.var1
       |           > 3.841458820694124 THEN 1 ELSE 0 END AS BIGINT)
       |  END AS reject_95
       |FROM agg, cnt""".stripMargin

  /** COX PROPORTIONAL HAZARDS as a FULL oracle row — the regression
    * counterpart of `stat_logrank` on the SAME session-survival frame
    * (covariate x = weekend start, Breslow tie handling): 4 Newton steps
    * on the partial likelihood. With a binary covariate every risk-set
    * sum collapses onto the integer (n1, n0, d1, d0) frame — S0 = n0 +
    * n1·e^β, S1 = S2 = n1·e^β — so the score U(β) = Σ_t [d1 − d·S1/S0]
    * and information I(β) = Σ_t d·(S1/S0)·(1 − S1/S0) are fixed
    * expressions over identical doubles (e^β of a GRIDDED argument;
    * per-term 1e-9 rounds + DECIMAL sums; I=0 guard). Iteration 0's
    * (score, info) ARE the log-rank test's (O−E, V) — the score-test
    * identity R10Spec pins against `stat_logrank`'s output. Output:
    * per-iteration β, hazard ratio e^β, score, info, SE(β) — the final
    * score ≈ 0 is the convergence evidence in the row.
    *
    * The risk frame is the chain's first step `rk`, so it is computed
    * once and every Newton step reads it materialized (inlined, each
    * step's double reference would re-expand the session pipeline
    * 2^steps times); the 1-row moment
    * (m) and coefficient (c) steps keep Catalyst's plans small. */
  def coxPhChain(events: String, dl: Dialect): StepChain = {
    // the per-term rounding happens inside u_t / i_t
    def decSum(term: String, name: String) =
      s"CAST(sum(CAST($term AS DECIMAL(28,9))) AS DOUBLE) AS $name"
    val start = Seq(
      Step("rk", _ =>
        s"""${sessionRiskSql(events, dl, materialize = false)}
           |SELECT t, d1, d0, n1, n0 FROM rk""".stripMargin),
      Step("c0", _ => "SELECT CAST(0.0 AS DOUBLE) AS b"))
    val newton = (1 to 5).flatMap { k =>
      val p = k - 1
      val m = Step(s"m$k", r =>
        s"""SELECT ${decSum("u_t", "score")}, ${decSum("i_t", "info")}
           |FROM (
           |  SELECT
           |    round(d1 - (d1 + d0) * s1 / s0, 9) AS u_t,
           |    round((d1 + d0) * (s1 / s0) * (1.0 - s1 / s0), 9) AS i_t
           |  FROM (
           |    SELECT r.d1, r.d0,
           |      r.n0 + r.n1 * round(exp(c.b), 9) AS s0,
           |      r.n1 * round(exp(c.b), 9) AS s1
           |    FROM ${r("rk")} r, ${r(s"c$p")} c WHERE r.d1 + r.d0 > 0) q) t$k"""
          .stripMargin)
      val c = Step(s"c$k", r =>
        s"""SELECT CASE WHEN m.info = 0.0 THEN c.b
           |  ELSE round(c.b + m.score / m.info, 9) END AS b
           |FROM ${r(s"m$k")} m, ${r(s"c$p")} c""".stripMargin)
      if (k < 5) Seq(m, c) else Seq(m)
    }
    StepChain(start ++ newton, r => {
      val arms = (0 to 4).map { i =>
        s"""SELECT $i AS iter, c.b + 0.0 AS beta,
           |    round(exp(c.b), 6) AS hazard_ratio,
           |    round(m.score, 6) + 0.0 AS score,
           |    round(m.info, 6) AS info,
           |    CASE WHEN m.info = 0.0 THEN 0.0
           |         ELSE round(1.0 / sqrt(m.info), 6) END AS se_beta
           |  FROM ${r(s"c$i")} c, ${r(s"m${i + 1}")} m""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""SELECT iter, beta, hazard_ratio, score, info, se_beta
         |FROM (
         |  $arms) u
         |ORDER BY iter""".stripMargin
    })
  }

  // ---- Gaussian mixture by EM (shared SQL template) -----------------------

  /** TWO-COMPONENT GAUSSIAN MIXTURE BY EM as a FULL oracle row — the
    * fixpoint family's last holdout ("EM is not SQL") falls to the same
    * discipline as Lloyd/Newton/IRLS once iterations are fixed and
    * states gridded: 1-D mixture over the 30-min click means,
    * quartile/variance init, 4 unrolled EM steps. E-step:
    * responsibilities γ₂ = σ(−L) with the log-density ratio L a fixed
    * expression over gridded states (ln/exp on GRIDDED arguments — the
    * `ml_logistic_newton` libm posture), rounded 1e-9 and CLAMPED to
    * [1e-9, 1−1e-9] — the clamp both prevents degenerate empty
    * components AND keeps the M-step free of previous-state references,
    * so the CTE chain stays LINEAR (no 2^k re-inline; the r9
    * CTE-re-evaluation lesson designed out rather than patched).
    * M-step: weighted moments as per-term-rounded DECIMAL sums, new
    * (w₂, μ, σ²) on the 1e-6 grid with a variance floor. Per-point
    * log-likelihood via log-sum-exp. Output: the per-iteration
    * parameter trajectory with loglik — EM's monotone-ascent law,
    * pinned in R10Spec on a planted bimodal mixture. The seeded MLlib
    * `ml_gmm_clusters` stays the library surface. */
  def gmmEmSql(events: String, dl: Dialect): String = {
    val (bucket, mat) = (dl.bucket, dl.mat)
    val ln2pi = "1.8378770664093453"
    val stages = (1 to 5).map { k =>
      val p = k - 1
      val upd =
        if (k == 5) ""
        else
          s""",
             |c$k AS $mat(
             |  SELECT
             |    least(greatest(round(sg / n, 6), 0.000001), 0.999999) AS w2,
             |    round((sx - sgx) / (n - sg), 6) AS mu1,
             |    round(sgx / sg, 6) AS mu2,
             |    greatest(round((sxx - sgx2) / (n - sg)
             |      - ((sx - sgx) / (n - sg)) * ((sx - sgx) / (n - sg)), 6),
             |      0.000001) AS v1,
             |    greatest(round(sgx2 / sg - (sgx / sg) * (sgx / sg), 6),
             |      0.000001) AS v2
             |  FROM m$k)""".stripMargin
      s"""g$k AS $mat(
         |  SELECT x,
         |    least(greatest(round(1.0 / (1.0 + exp(el)), 9), 0.000000001),
         |      0.999999999) AS g2,
         |    round(CASE WHEN la >= lb
         |      THEN la + ln(1.0 + exp(lb - la))
         |      ELSE lb + ln(1.0 + exp(la - lb)) END, 9) AS llt
         |  FROM (
         |    SELECT b.x, la, lb, round(la - lb, 9) AS el
         |    FROM (
         |      SELECT b.x,
         |        ln(1.0 - c.w2) - 0.5 * $ln2pi - 0.5 * ln(c.v1)
         |          - (b.x - c.mu1) * (b.x - c.mu1) / (2.0 * c.v1) AS la,
         |        ln(c.w2) - 0.5 * $ln2pi - 0.5 * ln(c.v2)
         |          - (b.x - c.mu2) * (b.x - c.mu2) / (2.0 * c.v2) AS lb
         |      FROM b, c$p c) b) q),
         |m$k AS $mat(
         |  SELECT count(*) AS n,
         |    ${dsum("g2", "sg")}, ${dsum("g2 * x", "sgx")},
         |    ${dsum("g2 * x * x", "sgx2")}, ${dsum("llt", "ll")},
         |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
         |      AS DECIMAL(30,12))) AS DOUBLE) AS sxx
         |  FROM g$k)$upd""".stripMargin
    }.mkString(",\n")
    val arms = (0 to 4).map { i =>
      s"""SELECT $i AS iter, c$i.w2, c$i.mu1, c$i.mu2, c$i.v1 AS var1,
         |    c$i.v2 AS var2, round(m${i + 1}.ll / m${i + 1}.n, 6) AS loglik
         |  FROM c$i, m${i + 1}""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH b AS $mat(
       |  SELECT bucket, x FROM (
       |    SELECT $bucket AS bucket,
       |      round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |        / count(value), 6) AS x
       |    FROM $events WHERE event_type = 'click'
       |    GROUP BY 1) t
       |  WHERE x IS NOT NULL),
       |c0 AS $mat(
       |  SELECT CAST(0.5 AS DOUBLE) AS w2,
       |    round(q1, 6) AS mu1, round(q3, 6) AS mu2,
       |    greatest(round(vx, 6), 0.000001) AS v1,
       |    greatest(round(vx, 6), 0.000001) AS v2
       |  FROM (
       |    SELECT ${dl.percentile("x", "0.25")} AS q1, ${dl.percentile("x", "0.75")} AS q3,
       |      CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
       |          AS DECIMAL(30,12))) AS DOUBLE) / count(*)
       |        - (CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*))
       |          * (CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*))
       |        AS vx
       |    FROM b) i),
       |$stages
       |SELECT iter, w2, mu1, mu2, var1, var2, loglik
       |FROM (
       |  $arms) u
       |ORDER BY iter""".stripMargin
  }

  // ---- Black–Scholes (shared SQL template) --------------------------------

  /** EUROPEAN OPTION PRICING as a FULL oracle row — Black–Scholes on
    * each series' latest DAILY bar (30-min bucket means are too noisy
    * to carry a diffusion calibration — per-bar σ≈150 % saturates every
    * Greek; daily means are the right grain), with volatility
    * annualized from
    * the same DECIMAL-exact log-return moments as `ts_risk_profile`
    * and strikes at 90/100/110 % moneyness. The normal CDF is the
    * Abramowitz–Stegun 26.2.17 five-term polynomial — an EXPLICIT
    * approximation choice (|ε| < 7.5e-8, far inside the 1e-6 output
    * grid) whose fixed expression evaluates identically on both
    * engines; exp/ln/cos-class libm exposure is the gridded-argument
    * posture throughout. Output: call/put prices, call delta, the
    * inputs echoed — put-call parity is an exact identity of the SAME
    * N() values, pinned in R10Spec. For a commodity-forecasting engine
    * this is the missing derivatives leg on top of the vol/VaR rows. */
  def blackScholesSql(events: String, dl: Dialect): String = {
    val bucket = dl.day
    def poly(t: String) =
      s"$t * (0.319381530 + $t * (-0.356563782 + $t * (1.781477937 + " +
        s"$t * (-1.821255978 + $t * 1.330274429))))"
    def ncdf(x: String, tv: String) =
      s"""CASE WHEN $x >= 0.0
         |      THEN 1.0 - exp(-$x * $x / 2.0) / 2.5066282746310002 * (${poly(tv)})
         |      ELSE exp(-$x * $x / 2.0) / 2.5066282746310002 * (${poly(tv)})
         | END""".stripMargin
    s"""WITH b AS (
       |  SELECT event_type AS g, $bucket AS bucket,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(value), 6) AS px
       |  FROM $events GROUP BY 1, 2),
       |lr AS (
       |  SELECT g, round(ln(px / prev), 6) AS r FROM (
       |    SELECT g, px, lag(px) OVER (PARTITION BY g ORDER BY bucket) AS prev
       |    FROM b) t
       |  WHERE prev IS NOT NULL AND prev > 0 AND px > 0),
       |v AS (
       |  SELECT g, count(*) AS n,
       |    CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS s1,
       |    CAST(sum(CAST(CAST(r AS DECIMAL(18,6)) * CAST(r AS DECIMAL(18,6))
       |      AS DECIMAL(30,12))) AS DOUBLE) AS s2
       |  FROM lr GROUP BY g),
       |sp AS (
       |  SELECT v.g, l.s0,
       |    round(sqrt((v.s2 - v.s1 * v.s1 / v.n) / (v.n - 1))
       |      * sqrt(365.0), 9) AS sig
       |  FROM v JOIN (SELECT g, max_by(px, bucket) AS s0 FROM b GROUP BY g) l
       |    ON v.g = l.g
       |  WHERE v.n > 2 AND v.s2 - v.s1 * v.s1 / v.n > 0 AND l.s0 > 0),
       |kk AS (
       |  SELECT sp.g, sp.s0, sp.sig, m.m, round(m.m * sp.s0, 6) AS k
       |  FROM sp, (SELECT 0.9 AS m UNION ALL SELECT 1.0
       |            UNION ALL SELECT 1.1) m),
    -- T = 30/365 inlined as a double literal: the bare ratio 30.0/365.0
    -- is DECIMAL division in Spark (scale-6 truncation) but DOUBLE
    -- division in DuckDB — a 1e-6-level cross-engine drift caught by
    -- the gate in-wave (the documented bare-literal hazard)
       |dd AS (
       |  SELECT g, s0, sig, m, k,
       |    round((ln(s0 / k) + (0.05 + sig * sig / 2.0) * (0.0821917808219178))
       |      / (sig * sqrt(0.0821917808219178)), 9) AS d1,
       |    round((ln(s0 / k) + (0.05 + sig * sig / 2.0) * (0.0821917808219178))
       |      / (sig * sqrt(0.0821917808219178))
       |      - sig * sqrt(0.0821917808219178), 9) AS d2
       |  FROM kk),
       |nn AS (
       |  SELECT g, s0, sig, m, k,
       |    round(${ncdf("d1", "t1")}, 9) AS n1,
       |    round(${ncdf("d2", "t2")}, 9) AS n2
       |  FROM (
       |    SELECT *, 1.0 / (1.0 + 0.2316419 * abs(d1)) AS t1,
       |      1.0 / (1.0 + 0.2316419 * abs(d2)) AS t2
       |    FROM dd) q)
    -- exp(-rT) is a CONSTANT: inlined as a decimal literal so no libm
    -- call decides the last output digit (caught by the gate in-wave:
    -- JVM vs C exp() differed by 1 ulp and flipped 4 cells at .5e-6)
       |SELECT g AS series, m AS moneyness, s0, round(sig, 6) AS sigma_ann, k,
       |  round(s0 * n1 - k * 0.9958988437642043 * n2, 6) AS call,
       |  round(k * 0.9958988437642043 * (1.0 - n2)
       |    - s0 * (1.0 - n1), 6) AS put,
       |  round(n1, 6) AS delta_call
       |FROM nn ORDER BY series, moneyness""".stripMargin
  }

  // ---- deterministic Monte Carlo VaR (shared SQL template) ----------------

  /** MONTE CARLO VALUE-AT-RISK as a FULL oracle row — the simulation
    * family the registry lacked, shaped the way MC runs at 100 TB:
    * embarrassingly parallel path generation from DETERMINISTIC
    * md5-derived streams (the house replayable randomness — no RNG
    * state, any partitioning, any engine), 20 000 one-week GBM paths
    * per series on daily bars. Uniforms are exact rationals (md5 → 24-bit mantissa,
    * +0.5 offset keeps them off 0/1), Box–Muller normals round to the
    * 1e-6 grid (libm ln/cos act on identical doubles; the grid makes a
    * 1-ulp disagreement need a ~1e-10 coincidence to matter), losses
    * re-grid, and VaR/ES are EXACT order statistics (rank 1000/200 of
    * 20 000, path-id tiebreak — the `ts_risk_profile` no-interpolation
    * convention) with ES tails summed in DECIMAL. R10Spec pins the MC
    * estimate against the closed-form lognormal quantile. */
  def mcVarSql(events: String, dl: Dialect): String = {
    val bucket = dl.day
    def u(tag: String) =
      s"((${dl.md5Int(s"concat(g, ':', CAST(p AS STRING), ':$tag')")}) % 16777216" +
        s" + 0.5) / 16777216.0"
    s"""WITH b AS (
       |  SELECT event_type AS g, $bucket AS bucket,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(value), 6) AS px
       |  FROM $events GROUP BY 1, 2),
       |lr AS (
       |  SELECT g, round(ln(px / prev), 6) AS r FROM (
       |    SELECT g, px, lag(px) OVER (PARTITION BY g ORDER BY bucket) AS prev
       |    FROM b) t
       |  WHERE prev IS NOT NULL AND prev > 0 AND px > 0),
       |st AS (
       |  SELECT g, count(*) AS n,
       |    round(CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / count(*), 9)
       |      AS mu,
       |    round(sqrt((CAST(sum(CAST(CAST(r AS DECIMAL(18,6))
       |        * CAST(r AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE)
       |      - CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
       |        * CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / count(*))
       |      / (count(*) - 1)), 9) AS sig
       |  FROM lr GROUP BY g),
       |base AS (
       |  SELECT st.g, l.s0, st.mu, st.sig
       |  FROM st JOIN (SELECT g, max_by(px, bucket) AS s0 FROM b GROUP BY g) l
       |    ON st.g = l.g
       |  WHERE st.sig > 0 AND l.s0 > 0 AND st.n > 2),
       |paths AS (
       |  SELECT g, s0, mu, sig, p FROM base, (${dl.series("1, 20000", "p")}) pt),
       |sim AS (
       |  SELECT g, s0, p,
       |    round(s0 * (1.0 - exp(
       |      round((mu - sig * sig / 2.0) * 5.0
       |        + sig * sqrt(5.0)
       |          * round(sqrt(-2.0 * ln(${u("a")}))
       |            * cos(6.283185307179586 * (${u("b")})), 6), 6))), 6) AS loss
       |  FROM paths),
       |rkd AS (
       |  SELECT g, s0, loss,
       |    row_number() OVER (PARTITION BY g ORDER BY loss DESC, p ASC) AS rn
       |  FROM sim)
       |SELECT rkd.g AS series, CAST(20000 AS BIGINT) AS n_paths, rkd.s0,
       |  b.mu AS mu_bar, b.sig AS sigma_bar,
       |  max(CASE WHEN rn = 1000 THEN loss END) AS var_95,
       |  round(CAST(sum(CASE WHEN rn <= 1000
       |    THEN CAST(loss AS DECIMAL(18,6)) END) AS DOUBLE) / 1000, 6) AS es_95,
       |  max(CASE WHEN rn = 200 THEN loss END) AS var_99,
       |  round(CAST(sum(CASE WHEN rn <= 200
       |    THEN CAST(loss AS DECIMAL(18,6)) END) AS DOUBLE) / 200, 6) AS es_99
       |FROM rkd JOIN base b ON rkd.g = b.g
       |GROUP BY rkd.g, rkd.s0, b.mu, b.sig
       |ORDER BY series""".stripMargin
  }

  // ---- SPRT (shared SQL template) -----------------------------------------

  /** WALD'S SEQUENTIAL PROBABILITY RATIO TEST as a FULL oracle row —
    * the sequential-decision member of the stat family (every other
    * `stat_*` row is a fixed-sample test; a monitoring pipeline wants
    * the test that can STOP EARLY). Gaussian known-σ SPRT over the
    * ordered 30-min click-mean sequence, calibrated on the FIRST HALF
    * and monitored over the second (the honest train→monitor split):
    * H0 μ=μ̂ vs H1 μ=μ̂+σ̂ (the one-sigma drift alarm), α=β=0.05 so
    * the bounds are ±ln 19. The
    * per-observation LLR is a fixed expression over grid values,
    * per-term rounded 1e-9 and prefix-summed in DECIMAL through ONE
    * ordered window (sequential DECIMAL window sums are deterministic —
    * the `ml_gbt_stumps` cum precedent); first-crossing = integer
    * argmin over exact comparisons vs the ±2.9444… literal. Output:
    * decision, crossing bucket, final/extreme LLRs. On stationary data
    * the expected verdict is accept_h0/continue; R10Spec plants a
    * shifted suffix that must alarm. */
  def sprtSql(events: String, dl: Dialect): String = {
    val bucket = dl.bucket
    s"""WITH b AS (
       |  SELECT bucket, x FROM (
       |    SELECT $bucket AS bucket,
       |      round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |        / count(value), 6) AS x
       |    FROM $events WHERE event_type = 'click'
       |    GROUP BY 1) t
       |  WHERE x IS NOT NULL),
    -- the honest monitoring split: H0 is calibrated on the FIRST HALF
    -- (training window), the sequential test runs over the second —
    -- full-sample calibration would make the prefix drift against any
    -- shifted alternative before the shift even starts
       |rb AS (
       |  SELECT bucket, x, row_number() OVER (ORDER BY bucket) AS rn,
       |    count(*) OVER () AS nn
       |  FROM b),
       |mo AS (
       |  SELECT round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS mu0,
       |    round(sqrt((CAST(sum(CAST(CAST(x AS DECIMAL(18,6))
       |        * CAST(x AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE)
       |      - CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
       |        * CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*))
       |      / (count(*) - 1)), 6) AS sig
       |  FROM rb WHERE rn <= CAST(floor(nn / 2.0) AS BIGINT)),
       |llr AS (
       |  SELECT bucket,
       |    sum(CAST(term AS DECIMAL(28,9))) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (
       |    SELECT rb.bucket,
       |      round(sig * (rb.x - (mu0 + sig / 2.0)) / (sig * sig), 9) AS term
       |    FROM rb, mo
       |    WHERE mo.sig > 0 AND rb.rn > CAST(floor(rb.nn / 2.0) AS BIGINT)) t),
       |cr AS (
       |  SELECT min(CASE WHEN CAST(cum AS DOUBLE) > 2.9444389791664403
       |      THEN bucket END) AS up,
       |    min(CASE WHEN CAST(cum AS DOUBLE) < -2.9444389791664403
       |      THEN bucket END) AS dn,
       |    count(*) AS n,
       |    round(CAST(max_by(cum, bucket) AS DOUBLE), 6) AS llr_final,
       |    round(CAST(max(cum) AS DOUBLE), 6) AS llr_max,
       |    round(CAST(min(cum) AS DOUBLE), 6) AS llr_min
       |  FROM llr)
       |SELECT CAST(n AS BIGINT) AS n_obs,
       |  CASE
       |    WHEN up IS NOT NULL AND (dn IS NULL OR up < dn) THEN 'accept_h1'
       |    WHEN dn IS NOT NULL AND (up IS NULL OR dn <= up) THEN 'accept_h0'
       |    ELSE 'continue' END AS decision,
       |  CAST(coalesce(least(up, dn), coalesce(up, dn, -1)) AS BIGINT)
       |    AS decision_bucket,
       |  llr_final, llr_max, llr_min,
       |  round(2.9444389791664403, 6) AS bound_upper
       |FROM cr""".stripMargin
  }

  // ---- GMV audit ----------------------------------------------------------

  /** Fixed-iteration GMV solve + optimality audit, shared by the Spark
    * driver loop and the DuckDB recursive-CTE twin. Everything operates
    * on grid values with explicit op order so both replays are
    * bit-identical; see `fin_gmv_audit`'s Scaladoc. */
  private final val GmvIters = 400

  private[graft] lazy val shared: Map[String, Shared] = Map(
    "ml_ensemble_grouped" ->
      Shared.sql((dl, t) => groupedEnsembleSql(t("events"), dl, "event_type")),

    "ml_huber_irls" -> Shared((s, t) => huberIrlsSpark(s, t("events")))(
      (dl, t) => huberIrlsSql(t("events"), dl)),

    "ml_logistic_newton" -> Shared.chain((dl, t) => logisticNewtonChain(t("events"), dl)),

    /** The τ OPERATING SWEEP over the same converged logistic model —
      * see `thresholdSweepChain`: per-threshold exact confusion counts +
      * output-only precision/recall/F1. */
    "ml_threshold_sweep" -> Shared.chain((dl, t) => thresholdSweepChain(t("events"), dl)),

    /** EXACT Mann–Whitney AUC over the same converged logistic scores —
      * see `aucRocChain`: 2·R₁ integer rank carry, ties averaged,
      * AUC/Gini output-only. */
    "ml_auc_roc" -> Shared.chain((dl, t) => aucRocChain(t("events"), dl)),

    /** Held-out error vs training-set size — see `learningCurveSql`:
      * md5-ordered training prefixes decided by integer
      * cross-multiplication, per-fraction DECIMAL-exact ridge. */
    "ml_learning_curve" -> Shared.sql((dl, t) => learningCurveSql(t("events"), dl)),

    /** Durbin–Watson + lag-1 residual autocorrelation over the
      * full-data ridge — see `residualDiagnosticsSql`. */
    "ml_residual_diagnostics" -> Shared.sql((dl, t) => residualDiagnosticsSql(t("events"), dl)),

    "ml_gbt_stumps" -> Shared.chain((dl, t) => gbtStumpsChain(t("events"), dl)),

    "stat_logrank" -> Shared.sql((dl, t) => logrankSql(t("events"), dl)),

    /** Cox PH over the session frame — see `coxPhChain`: the risk
      * frame is the chain's first step, materialized once. */
    "ml_cox_ph" -> Shared.chain((dl, t) => coxPhChain(t("events"), dl)),

    "ml_gmm_em" -> Shared.sql((dl, t) => gmmEmSql(t("events"), dl)),

    "fin_black_scholes" -> Shared.sql((dl, t) => blackScholesSql(t("events"), dl)),

    "fin_mc_var" -> Shared.sql((dl, t) => mcVarSql(t("events"), dl)),

    "stat_sprt" -> Shared.sql((dl, t) => sprtSql(t("events"), dl)),

    "stat_friedman" -> Shared.sql((dl, t) => friedmanSql(t("events"), dl)),

    "stat_page_hinkley" -> Shared.sql((dl, t) => pageHinkleySql(t("events"), dl)),

    "ts_sample_entropy" -> Shared.sql((dl, t) => sampleEntropySql(t("events"), dl)),

    "fin_capm_beta" -> Shared.sql((dl, t) => capmSql(t("events"), dl)),

    "ml_sgd_online" -> Shared { (s, t) =>
      import s.implicits._
      s.sql("WITH " + sgdZSql(t("events"), Dialect.Spark) +
          "\nSELECT i, zx, zy FROM z")
        .as[(Long, Double, Double)]
        .groupByKey(_ => 1)
        .flatMapGroups((_, it) => Iterator(sgdFold(it.toArray)))
        .toDF("n_steps", "w0", "w1", "rmse")
    }((dl, t) => sgdOnlineSql(t("events"), dl)))

  val qs: Map[String, Q] = Map[String, Q](

    /** GMV-PORTFOLIO OPTIMALITY AUDIT — the verification half of
      * `fin_min_variance_portfolio` as a FULL ORACLE row (VERDICT r9 ask
      * #6). The k×k linear solve itself has no SQL form, so the direct
      * Gaussian-elimination weights stay rows-only — but a FIXED-
      * ITERATION solver is replayable by any engine: with
      * A = I − η·Σbp (η = 1/trace(Σbp) < 1/λmax, so the iteration is a
      * contraction), y_{t+1} = round(A·y_t + η·1, 12) run a fixed 400
      * steps from y₀ = η·1 converges to Σbp⁻¹1, and BOTH engines can
      * replay it exactly: the Spark side is a driver loop over k=5
      * doubles (aggregate-sized state — the `seq_markov_stationary`
      * posture), the DuckDB twin a recursive CTE whose per-step Σⱼ A_gj·yⱼ
      * is an index-ORDERED list_reduce fold mirroring the driver's
      * left-to-right summation. The audit row then carries the
      * optimality evidence computed FROM those weights: the gradient
      * residual Σbp·y − 1 (≈0 ⟺ KKT stationarity of min wᵀΣw s.t.
      * Σw=1), Σw = 1 by construction of the normalization, and
      * portfolio-vs-equal-weight variance from the same DECIMAL moments.
      * Σbp is the return covariance in basis-point² units (×1e8) so
      * every recursion state sits in a double-representable decimal
      * range. R9Spec pins agreement with the direct solve. */
    "fin_gmv_audit" -> ((s, d) => {
      import s.implicits._
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      // 6-hour bars (the reconcile completeness-grain lesson)
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 21600000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
      val types = bars.select("event_type").distinct().as[String].collect().sorted
      val k = types.length
      val comp = bars.groupBy("bucket").agg(count(lit(1)).as("m"))
        .filter(col("m") === k).select("bucket")
      val rr = bars.join(comp, "bucket")
        .select(col("event_type"), col("bucket"), col("r").cast("decimal(18,6)").as("r"))
      val a = rr.select(col("event_type").as("ga"), col("bucket"), col("r").as("ra"))
      val b = rr.select(col("event_type").as("gb"), col("bucket"), col("r").as("rb"))
      val mom = a.join(b, "bucket").groupBy("ga", "gb").agg(
          count(lit(1)).as("n"),
          sum(col("ra")).as("sa"), sum(col("rb")).as("sb"),
          sum((col("ra") * col("rb")).cast("decimal(30,12)")).as("sab"))
        .collect() // k² = 25 rows — aggregate-sized driver state
      val nObs = mom.head.getAs[Long]("n")
      require(nObs > k + 1,
        s"fin_gmv_audit: only $nObs complete all-series bars — " +
          s"covariance of $k series needs more observations")
      val idx = types.zipWithIndex.toMap
      // Σbp: round((sab − sa·sb/n)/n · 1e8, 6) — op order mirrors the twin
      val cov = Array.ofDim[Double](k, k)
      mom.foreach { row =>
        val (i, j) = (idx(row.getAs[String]("ga")), idx(row.getAs[String]("gb")))
        val n = row.getAs[Long]("n")
        val sa = row.getAs[java.math.BigDecimal]("sa").doubleValue
        val sb = row.getAs[java.math.BigDecimal]("sb").doubleValue
        val sab = row.getAs[java.math.BigDecimal]("sab").doubleValue
        // + 0.0 everywhere a sign-indefinite rounded state feeds further
        // arithmetic: DuckDB round() keeps -0.0, BigDecimal does not
        cov(i)(j) = Grid.r6((sab - sa * sb / n) / n * 100000000.0) + 0.0
      }
      val trace = Grid.r6((0 until k).map(i => cov(i)(i)).reduceLeft(_ + _))
      val eta = Grid.r9(1.0 / trace, 12)
      val am = Array.tabulate(k, k) { (i, j) =>
        Grid.r9((if (i == j) 1.0 else 0.0) - eta * cov(i)(j), 12) + 0.0
      }
      var y = Array.fill(k)(eta)
      for (_ <- 1 to GmvIters) {
        y = Array.tabulate(k) { g =>
          Grid.r9((0 until k).map(j => y(j) * am(g)(j)).reduceLeft(_ + _) + eta,
            12) + 0.0
        }
      }
      val sumy = Grid.r9(y.reduceLeft(_ + _), 12)
      val w = y.map(v => Grid.r6z(v / sumy))
      val grad = Array.tabulate(k) { g =>
        Grid.r6z((0 until k).map(j => cov(g)(j) * y(j)).reduceLeft(_ + _) - 1.0)
      }
      val portVar = Grid.r6z(
        (for (i <- 0 until k; j <- 0 until k) yield w(i) * cov(i)(j) * w(j))
          .reduceLeft(_ + _))
      val eqVar = Grid.r6z(
        (for (i <- 0 until k; j <- 0 until k) yield cov(i)(j))
          .reduceLeft(_ + _) / (k * k))
      val ratio = Grid.r6(portVar / eqVar)
      types.indices.map(i => (types(i), w(i), grad(i), nObs, GmvIters.toLong,
          portVar, eqVar, ratio))
        .toDF("series", "weight", "grad_residual", "n_obs", "n_iter",
          "port_variance_bp", "equal_weight_variance_bp", "variance_ratio")
        .orderBy("series")
    }),









    /** The watermark-GATED left-outer stream-stream join — see
      * `EventStream.leftOuterAttribution`: unmatched clicks emit only
      * when the final watermark proves no future view can match, so the
      * (narrow) watermark IS the semantics under test and the oracle
      * computes the final watermark in SQL. */
    "stream_join_left_outer" -> ((s, d) =>
      graft.streaming.EventStream.runLeftOuterOnce(s, d,
          Shared.unique("stream_ljoin"))
        .orderBy("user_id")),

    /** DENSITY CLUSTERING as a FULL oracle row — DBSCAN (Ester et al.
      * 1996) over the (click, purchase) 30-min plane, composed entirely
      * from patterns the registry has already certified at scale:
      * ε-grid CELL candidate generation (the `join_spatial_grid` 3×3
      * fan-out — every ≤ε pair lands in adjacent ε-sized cells, so the
      * candidate join is cell-keyed, never quadratic), the EXACT ε-disk
      * filter only on candidates (identical grid-6 doubles both
      * engines), core points by integer neighbor count (≥ minPts,
      * self included), clusters = connected components over core-core
      * ε-edges via `Dedup.connectedComponents` (distributed min-label
      * propagation; the oracle replays it as the `dedup_clusters_cc`
      * transitive-closure recursive CTE), border points adopt the MIN
      * component among their core neighbors, everything else is noise
      * (component −1). Output: per-cluster core/border/total counts and
      * DECIMAL-exact grid centroids, noise row included — at sf0.01
      * ε=3, minPts=5 yields 22 clusters + 523 noise points. The k-means
      * rows (`ml_kmeans`/`ml_kmeans_lloyd`) assume convex equal-variance
      * blobs; this is the arbitrary-shape/noise-tolerant counterpart a
      * clustering suite needs. */
    "ml_dbscan_grid" -> ((s, d) => {
      val eps = 3.0
      val minPts = 5
      val pts = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("bucket")
        .agg(Grid.mean6(when(col("event_type") === "click", col("value"))).as("x"),
          Grid.mean6(when(col("event_type") === "purchase", col("value"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .withColumn("cx", floor(col("x") / eps).cast("long"))
        .withColumn("cy", floor(col("y") / eps).cast("long"))
        .localCheckpoint() // scanned by probes, candidates, and the audit
      val probes = pts
        .select(col("bucket").as("ab"), col("x").as("xa"), col("y").as("ya"),
          col("cx").as("ca"), col("cy").as("cya"))
        .withColumn("o", explode(expr("array(-1L, 0L, 1L)")))
        .withColumn("p", explode(expr("array(-1L, 0L, 1L)")))
        .select(col("ab"), col("xa"), col("ya"),
          (col("ca") + col("o")).as("tx"), (col("cya") + col("p")).as("ty"))
      val nbrs = probes
        .join(pts, probes("tx") === pts("cx") && probes("ty") === pts("cy"))
        .filter((col("xa") - col("x")) * (col("xa") - col("x")) +
          (col("ya") - col("y")) * (col("ya") - col("y")) <= eps * eps)
        .select(col("ab"), col("bucket").as("cb"))
        .localCheckpoint() // reused: core census, core edges, border vote
      val core = nbrs.groupBy("ab").agg(count(lit(1)).as("nc"))
        .filter(col("nc") >= minPts)
        .select(col("ab").as("bucket"))
        .localCheckpoint()
      val coreEdges = nbrs
        .join(core.select(col("bucket").as("ab")), "ab")
        .join(core.select(col("bucket").as("cb")), "cb")
        .filter(col("ab") < col("cb"))
        .select(col("ab").as("a"), col("cb").as("b"))
      val cc = graft.operators.Dedup.connectedComponents(coreEdges, "a", "b")
      // an isolated core point (no core neighbor) is its own cluster
      val coreLab = core
        .join(cc.withColumnRenamed("id", "bucket"), Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("component"), col("bucket")).as("component"),
          lit("core").as("role"))
      val borderLab = nbrs
        .join(core.select(col("bucket").as("ab")), Seq("ab"), "left_anti")
        .join(coreLab.select(col("bucket").as("cb"), col("component")), "cb")
        .groupBy(col("ab").as("bucket"))
        .agg(min("component").as("component"))
        .withColumn("role", lit("border"))
      val labeled = coreLab.unionByName(borderLab)
      pts.join(labeled, Seq("bucket"), "left")
        .select(col("x"), col("y"),
          coalesce(col("component"), lit(-1L)).as("component"),
          coalesce(col("role"), lit("noise")).as("role"))
        .groupBy("component")
        .agg(sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
          sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
          count(lit(1)).as("n_points"),
          Grid.mean6(col("x")).as("ctr_x"), Grid.mean6(col("y")).as("ctr_y"))
        .orderBy("component")
    }),

    /** LASSO as a FULL ORACLE row — the L1 path the MLlib twins
      * (`ml_lasso`/`ml_elasticnet`, OWL-QN, rows-only) cannot hash-check:
      * cyclic coordinate descent (Friedman et al. 2010) runs entirely on
      * the STANDARDIZED Gram sufficient statistics, so after ONE
      * DECIMAL-exact moment aggregation over the 30-min design (5 bar
      * series → next-bucket click target, the `ml_granger` frame shape)
      * the whole optimization is a 300-step scalar recursion over k=5
      * numbers — aggregate-sized driver state here, a recursive CTE in
      * the twin, bit-identical by the grid discipline ([[lassoCd]]).
      * λ = 0.1·n·σy (the |correlation| ≈ 0.1 entry threshold on the
      * standardized scale) gives real sparsification, and the
      * soft-threshold decision compares identical doubles on both
      * engines. Output: standardized + raw-scale coefficients per
      * feature and the intercept row, the `ml_lasso` schema widened.
      * R10Spec pins the orthonormal-design closed form
      * β_j = S(ρ_j, λ)/n and the KKT signs. */
    "ml_lasso_cd" -> ((s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val w = Window.orderBy("bucket")
      // 6-hour bars: complete all-series buckets exist at EVERY SF (the
      // reconcile/GMV completeness-grain lesson — 30-min bars empty the
      // frame at sf0.001 after the all-columns drop)
      val wide = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 21600000000000L"))
        .groupBy("bucket")
        .agg(Grid.mean6(when(col("event_type") === types.head, col("value"))).as(types.head),
          types.tail.map(t =>
            Grid.mean6(when(col("event_type") === t, col("value"))).as(t)): _*)
        .withColumn("y", lead(col("click"), 1).over(w))
        .na.drop("any")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
      val vars = types :+ "y"
      val aggs = vars.map(v => sum(dec(col(v))).as(s"s_$v")) ++
        (for (i <- vars.indices; j <- i until vars.length) yield
          sum((dec(col(vars(i))) * dec(col(vars(j)))).cast("decimal(30,12)"))
            .as(s"p_${i}_$j"))
      val row = wide.agg(count(lit(1)).as("n"), aggs: _*).head()
      val n = row.getAs[Long]("n")
      def sV(i: Int) = row.getAs[java.math.BigDecimal](s"s_${vars(i)}").doubleValue
      def pV(i: Int, j: Int) = {
        val (a, b) = (math.min(i, j), math.max(i, j))
        row.getAs[java.math.BigDecimal](s"p_${a}_$b").doubleValue
      }
      val k = types.length
      // centered moments → grid-9 σ, Gram, xty — op order mirrors the twin
      val sig = Array.tabulate(k + 1)(i =>
        Grid.r9(math.sqrt((pV(i, i) - sV(i) * sV(i) / n) / n)))
      require(sig.forall(_ > 0),
        "ml_lasso_cd: a constant series has no standardized scale")
      val gm = Array.tabulate(k, k)((i, j) =>
        Grid.r9((pV(i, j) - sV(i) * sV(j) / n) / (sig(i) * sig(j))))
      val xty = Array.tabulate(k)(i =>
        Grid.r9((pV(i, k) - sV(i) * sV(k) / n) / sig(i)))
      val lam = Grid.r6(0.1 * n * sig(k))
      val beta = lassoCd(gm, xty, lam, steps = 60 * k)
      val rawb = Array.tabulate(k)(i => Grid.r9(beta(i) / sig(i)))
      val mu = Array.tabulate(k + 1)(i => Grid.r6(sV(i) / n))
      val intercept = Grid.r6z(
        mu(k) - (0 until k).map(i => rawb(i) * mu(i)).reduceLeft(_ + _))
      (types.indices.map(i =>
          (types(i), Grid.r6z(beta(i)), Grid.r6z(rawb(i)))) :+
        (("__intercept", 0.0, intercept)))
        .toDF("feature", "coef_std", "coefficient")
        .orderBy("feature")
    }),

    /** REAL STREAMING twin of `stat_page_hinkley` — see
      * `EventStream.phStream`: the drift detector run as a per-series
      * keyed stream, full re-calibrate + re-fold per micro-batch (the
      * adaptive δ/λ ride the global return σ), final snapshots
      * hash-matching the same oracle. */
    "stream_page_hinkley" -> ((s, d) =>
      graft.streaming.EventStream.runPhOnce(s, d,
        Shared.unique("stream_ph"))),

    /** REAL STREAMING twin of `drift_psi` — see
      * `EventStream.runPsiOnce`: frozen batch-side reference profile
      * (the deployed training snapshot), current-half counts as an
      * order-free O(10)-state Update-mode streaming aggregate, final
      * snapshot hash-matching the SAME `drift_psi` oracle. */
    "stream_drift_psi" -> ((s, d) =>
      graft.streaming.EventStream.runPsiOnce(s, d,
        Shared.unique("stream_psi"))),

    /** REAL STREAMING twin of `drift_ks` — see `EventStream.runKsOnce`:
      * frozen batch-side reference value counts (the deployed click
      * snapshot), streamed-side per-gridded-value counts as an
      * order-free Update-mode keyed aggregate (state O(distinct
      * values) — the honest cost of an exact sample-level ECDF), final
      * snapshot through the SAME `Ts.ksAssemble` → hash-matches the
      * SAME `drift_ks` oracle. */
    "stream_drift_ks" -> ((s, d) =>
      graft.streaming.EventStream.runKsOnce(s, d,
        Shared.unique("stream_ks"))),

    /** STREAMING SCHEMA-DRIFT CENSUS — see
      * `EventStream.runSchemaDriftOnce`: frozen batch-side before
      * profile, streamed after half (one Update aggregate + two
      * dropDuplicates distinct streams), final snapshot through the
      * SAME `Feat.schemaDriftAssemble` → hash-matches the SAME
      * `dq_schema_drift` oracle. */
    "stream_schema_drift" -> ((s, d) =>
      graft.streaming.EventStream.runSchemaDriftOnce(s, d,
        Shared.unique("stream_sd"))),

    /** STREAMING VOLUME CENSUS — see `EventStream.runVolumeOnce`:
      * per-day order-free Update-mode counts, final snapshot through
      * the SAME `Feat.volumeAssembleSql` median±3·MAD integer assembly
      * → hash-matches the SAME `dq_volume_anomaly` oracle. */
    "stream_volume_anomaly" -> ((s, d) =>
      graft.streaming.EventStream.runVolumeOnce(s, d,
        Shared.unique("stream_vol"))),

    /** CONTINUOUS EXPECTATIONS GATE — see
      * `EventStream.runDqExpectationsOnce`: six data-quality rules as
      * order-free Update-mode rule counters + dropDuplicates-state
      * uniqueness over the live stream, long-form (rule, n_violations,
      * passed) snapshot hash-matched against the DuckDB oracle. */
    "stream_dq_expectations" -> ((s, d) =>
      graft.streaming.EventStream.runDqExpectationsOnce(s, d,
        Shared.unique("stream_dqx"))),

    /** STREAMING FRESHNESS CENSUS — see `EventStream.runFreshnessOnce`:
      * per-type order-free max/count state, final snapshot through the
      * SAME `Feat.freshnessAssemble` → hash-matches the batch
      * `dq_freshness_sla` oracle. */
    "stream_freshness_sla" -> ((s, d) =>
      graft.streaming.EventStream.runFreshnessOnce(s, d,
        Shared.unique("stream_fresh"))),



    /** REAL STREAMING twin of `ml_sgd_online` — see
      * `EventStream.sgdStream`: per-bucket exact scaled-6 sums in
      * state (order-free, late-data-safe), FULL re-standardize + re-fit
      * per micro-batch (global scaler stats make a finalized-prefix
      * anchor impossible — documented there), final snapshot
      * hash-matches the SAME recursive oracle as the batch scan. */
    "stream_sgd_online" -> ((s, d) =>
      graft.streaming.EventStream.runSgdOnce(s, d,
        Shared.unique("stream_sgd"))),


    /** REAL video-kind decode through the production seam — the animated-
      * GIF sibling of `multimodal_decode_png`/`_wav`, closing the
      * `kind ∈ {image, audio, video}` triple (VERDICT r9 ask #7):
      * deterministic multi-frame GIFs are ENCODED in-executor (JDK
      * `ImageIO` sequence writer — genuine GIF87/89a container bytes
      * with per-frame image descriptors), then parsed back by
      * `Multimodal.decodeVideoFeatures` with the REAL `gifDecoder`
      * (frame census via `getNumImages(true)` on a per-partition-reused
      * `ImageReader`). Self-verifying: decoded (w, h, frames) sit next
      * to the generation parameters with a `params_match` flag. Bounded
      * to 64 media rows; rows-only (GIF bytes have no SQL form);
      * MultimodalSpec pins the seam counters and the round-trip. */
    "multimodal_decode_gif" -> ((s, d) => {
      val media = gifMedia(s, d)
      graft.operators.Multimodal
        .decodeVideoFeatures(media)
        .join(media.select("media_id", "exp_w", "exp_h", "exp_frames"),
          "media_id")
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
          col("n_frames"), col("exp_w"), col("exp_h"), col("exp_frames"),
          (col("width") === col("exp_w") && col("height") === col("exp_h") &&
            col("n_frames") === col("exp_frames")).as("params_match"))
        .orderBy("media_id")
    }),

    /** LLOYD'S K-MEANS as a FULL ORACLE row — the clustering fixed
      * point everyone says "has no SQL form" DOES have one once the
      * iteration count is fixed and every state sits on a grid: k=4
      * centroids over the (click, purchase) 30-min plane, md5-rank
      * deterministic seeding (no RNG state — the house replayable
      * randomness), 10 synchronous Lloyd rounds. Each round is ONE
      * broadcast of the k-row centroid frame + ONE windowed argmin
      * (squared distance on the 1e-9 grid, centroid-id tiebreak) + ONE
      * grid-mean update — fully distributed on the Spark side, a
      * recursive CTE with a window argmax INSIDE the recursive term on
      * the DuckDB side (the `ts_lttb_downsample` precedent). A centroid
      * that loses every point drops out identically on both engines.
      * Output: final centroids, sizes, and exact-DECIMAL WCSS. The
      * seeded MLlib `ml_kmeans` stays as the library surface. */
    "ml_kmeans_lloyd" -> ((s, d) => {
      val k = 4
      val iters = 10
      val pts = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("bucket")
        .agg(Grid.mean6(when(col("event_type") === "click", col("value"))).as("x"),
          Grid.mean6(when(col("event_type") === "purchase", col("value"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint() // scanned 11×: once per round + the final audit
      val wSeed = Window.orderBy(md5(col("bucket").cast("string")), col("bucket"))
      val wAsg = Window.partitionBy("bucket").orderBy(col("d"), col("cid"))
      def dist(cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column) =
        round((col("x") - cx) * (col("x") - cx) +
          (col("y") - cy) * (col("y") - cy), 9)
      var cents = pts
        .select(row_number().over(wSeed).as("cid"), col("x").as("cx"), col("y").as("cy"))
        .filter(col("cid") <= k)
      for (_ <- 1 to iters) {
        cents = pts.crossJoin(broadcast(cents))
          .withColumn("d", dist(col("cx"), col("cy")))
          .withColumn("rn", row_number().over(wAsg))
          .filter(col("rn") === 1)
          .groupBy("cid")
          .agg(Grid.mean6(col("x")).as("cx"), Grid.mean6(col("y")).as("cy"))
          .localCheckpoint()
      }
      pts.crossJoin(broadcast(cents))
        .withColumn("d", dist(col("cx"), col("cy")))
        .withColumn("rn", row_number().over(wAsg))
        .filter(col("rn") === 1)
        .groupBy(col("cid").as("cluster"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("n_points"),
          round(sum(col("d").cast("decimal(28,9)")).cast("double"), 6).as("wcss"))
        .select("cluster", "n_points", "cx", "cy", "wcss")
        .orderBy("cluster")
    }),

    /** PCA BY POWER ITERATION as a FULL ORACLE row — top-2 principal
      * components of the 5-series 6-hour correlation matrix: R from the
      * same DECIMAL moment machinery as `ml_lasso_cd`, then 150 power
      * steps v ← round(Rv/‖Rv‖, 9) (per-step grid re-round, ordered
      * folds), Rayleigh eigenvalue, first-nonzero-positive sign
      * convention (decided on grid values), rank-1 deflation on the
      * 1e-9 grid, and a second recursion for PC2 — the `fin_gmv_audit`
      * fixed-iteration discipline applied to an eigenproblem. The
      * eigen-solve `ml_pca` (driver Jacobi over the fine frame) stays
      * as the general-k surface; R10Spec pins agreement of the two on
      * the shared correlation structure. */
    "ml_pca_power" -> ((s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 21600000000000L"))
        .groupBy("bucket")
        .agg(Grid.mean6(when(col("event_type") === types.head, col("value"))).as(types.head),
          types.tail.map(t =>
            Grid.mean6(when(col("event_type") === t, col("value"))).as(t)): _*)
        .na.drop("any")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
      val aggs = types.map(v => sum(dec(col(v))).as(s"s_$v")) ++
        (for (i <- types.indices; j <- i until types.length) yield
          sum((dec(col(types(i))) * dec(col(types(j)))).cast("decimal(30,12)"))
            .as(s"p_${i}_$j"))
      val row = wide.agg(count(lit(1)).as("n"), aggs: _*).head()
      val n = row.getAs[Long]("n")
      def sV(i: Int) = row.getAs[java.math.BigDecimal](s"s_${types(i)}").doubleValue
      def pV(i: Int, j: Int) = {
        val (a, b) = (math.min(i, j), math.max(i, j))
        row.getAs[java.math.BigDecimal](s"p_${a}_$b").doubleValue
      }
      val k = types.length
      val sig = Array.tabulate(k)(i =>
        Grid.r9(math.sqrt((pV(i, i) - sV(i) * sV(i) / n) / n)))
      require(sig.forall(_ > 0), "ml_pca_power: constant series")
      val rm = Array.tabulate(k, k)((i, j) =>
        Grid.r9((pV(i, j) - sV(i) * sV(j) / n) / n / (sig(i) * sig(j))))
      def power(m: Array[Array[Double]]): Array[Double] = {
        val v0 = Grid.r9(1.0 / math.sqrt(k.toDouble))
        var v = Array.fill(k)(v0)
        for (_ <- 1 to 150) {
          val w = Array.tabulate(k)(g =>
            (0 until k).map(j => m(g)(j) * v(j)).reduceLeft(_ + _))
          val nrm = math.sqrt((0 until k).map(g => w(g) * w(g)).reduceLeft(_ + _))
          v = Array.tabulate(k)(g => Grid.r9(w(g) / nrm) + 0.0)
        }
        // first-nonzero-positive sign convention on grid values
        val lead = v.find(_ != 0.0).getOrElse(1.0)
        if (lead < 0) v.map(x => -x + 0.0) else v
      }
      def rayleigh(m: Array[Array[Double]], v: Array[Double]): Double =
        Grid.r9((0 until k).map(g => v(g) *
          (0 until k).map(j => m(g)(j) * v(j)).reduceLeft(_ + _)).reduceLeft(_ + _))
      val v1 = power(rm)
      val l1 = rayleigh(rm, v1)
      val rm2 = Array.tabulate(k, k)((i, j) =>
        Grid.r9(rm(i)(j) - l1 * v1(i) * v1(j)) + 0.0)
      val v2 = power(rm2)
      val l2 = rayleigh(rm, v2)
      val tr = Grid.r9((0 until k).map(i => rm(i)(i)).reduceLeft(_ + _))
      val out = for {
        (vec, lam, ci) <- Seq((v1, l1, 1), (v2, l2, 2))
        i <- types.indices
      } yield (ci, types(i), Grid.r6z(vec(i)), Grid.r6(lam),
        Grid.r6(lam / tr))
      out.toDF("component", "feature", "loading", "eigenvalue",
          "explained_ratio")
        .orderBy("component", "feature")
    }),

    /** HOLT–WINTERS FILTERING as a FULL ORACLE row — the additive
      * triple-exponential recursion at the CANONICAL smoothing point
      * (α=0.2, β=0.1, γ=0.1, season 48) over the 30-min click series:
      * textbook init (first-season mean level, season-gap trend,
      * first-season deviations), then one sequential pass re-rounding
      * every state to the 1e-9 grid — `ts_kalman_level`'s discipline
      * with a 48-slot seasonal LIST riding the recursion. One-row
      * output: final level/trend, 1-step and 1-day forecasts, in-sample
      * RMSE from one-step-ahead errors. Runs EXECUTOR-side as a single
      * bounded-series sequential scan (`flatMapGroups` — the
      * `ts_ewma_irregular` posture, no driver collect); the twin is a
      * recursive CTE joining the indexed series per step. The FITTED
      * `ml_holt_winters` (grid-searched smoothing) stays rows-only. */
    "ml_holt_winters_filter" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d).filter(col("event_type") === "click")
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("bucket").agg(Grid.mean6(col("value")).as("yv"))
        .select(col("bucket"), col("yv")).as[(Long, Double)]
        .groupByKey(_ => 1)
        .flatMapGroups { (_, it) =>
          val st = it.toArray.sortBy(_._1).map(_._2)
            .foldLeft(graft.operators.HwFilter.empty)(
              graft.operators.HwFilter.push)
          Iterator(graft.operators.HwFilter.summary(st))
        }
        .toDF("n_obs", "level", "trend", "forecast_1", "forecast_1day", "rmse")
    }),

    /** REAL STREAMING twin of `ml_holt_winters_filter` — the same
      * `HwFilter` recursion run incrementally: bucket means seal when
      * the watermark passes the bucket end (nothing can arrive before
      * them), sealed buckets advance the O(M) anchor state permanently,
      * and every emission is a whole-picture SNAPSHOT (the scd2/ewma
      * contract) recomputed from the anchor over the still-mutable
      * suffix — so a late event re-means its bucket and re-times every
      * state after it. Run to completion under AvailableNow the merged
      * snapshot hash-matches the SAME DuckDB recursive oracle as the
      * batch scan; multi-batch sealing pinned in StreamingSpec. */
    "stream_holt_winters" -> ((s, d) =>
      graft.streaming.EventStream.runHwOnce(s, d,
        Shared.unique("stream_hw"))),

    /** PER-FRAME video feature extraction through the same seam —
      * `Multimodal.gifFrameStats` decodes EVERY frame of the 64 fixture
      * GIFs and emits mean luminance per frame (the explode shape of
      * frame sampling / shot detection / frame-quality filtering at
      * 100 TB: one narrow flatMap, reader reused per partition).
      * Rows-only — GIF palette quantization makes the decoded pixels
      * codec-defined, so MultimodalSpec pins structure and determinism
      * (frame counts match the census, luminance in range, two runs
      * bit-identical) rather than a closed form. */
    "multimodal_frame_stats" -> ((s, d) =>
      graft.operators.Multimodal.gifFrameStats(gifMedia(s, d))
        .orderBy("media_id", "frame_idx"))
  ) ++ Shared.engines(shared)

  /** Deterministic 64-GIF fixture frame (shared by the decode and
    * frame-stats queries): multi-frame GIFs encoded in-executor with the
    * JDK `ImageIO` sequence writer, parameters derived from doc
    * identity. */
  private def gifMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
      .limit(64 * graft.operators.Multimodal.mediaScale)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val writerFor = () => {
          val ws = javax.imageio.ImageIO.getImageWritersBySuffix("gif")
          require(ws.hasNext, "JDK GIF ImageWriter missing")
          ws.next()
        }
        it.map { case (id, nch) =>
          val w = (8 + id % 16).toInt
          val h = (8 + nch % 12).toInt
          val nFrames = (2 + id % 5).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          val writer = writerFor()
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var fidx = 0
            while (fidx < nFrames) {
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  img.setRGB(x, y,
                    ((id * 31 + fidx * 101 + x * 7 + y * 13) % 0xffffff).toInt)
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), null)
              fidx += 1
            }
            writer.endWriteSequence()
          } finally { writer.dispose(); ios.close() }
          (id, "video", bos.toByteArray, w, h, nFrames)
        }
      }
      .toDF("media_id", "kind", "payload", "exp_w", "exp_h", "exp_frames")
      .localCheckpoint() // encode once; every consumer reads the same bytes
  }

  // ---- DuckDB oracle twins ------------------------------------------------

  /** Lasso-CD twin: the moment pipeline + a single-row-state recursive
    * CTE carrying the β vector; every expression mirrors [[lassoCd]] and
    * the driver moment arithmetic token-for-token. */
  private def lassoCdSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val vars = types :+ "y"
    val cases = types.map { t =>
      s"${typeMean(t)} AS $t"
    }.mkString(",\n    ")
    val notNull = vars.map(v => s"$v IS NOT NULL").mkString(" AND ")
    val sums = vars.zipWithIndex.map { case (v, i) =>
      s"CAST(sum(CAST($v AS DECIMAL(18,6))) AS DOUBLE) AS s_$i" }.mkString(",\n    ")
    val prods = (for (i <- vars.indices; j <- i until vars.length) yield
      s"CAST(sum(CAST(CAST(${vars(i)} AS DECIMAL(18,6)) * CAST(${vars(j)} AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE) AS p_${i}_$j")
      .mkString(",\n    ")
    val sigs = vars.indices.map(i =>
      s"round(sqrt((p_${i}_$i - s_$i * s_$i / n) / n), 9) AS sig_$i").mkString(",\n    ")
    def pRef(i: Int, j: Int) = s"p_${math.min(i, j)}_${math.max(i, j)}"
    val gmRows = (0 until 5).map { i =>
      (0 until 5).map(j =>
        s"round((${pRef(i, j)} - s_$i * s_$j / n) / (sig_$i * sig_$j), 9)")
        .mkString("[", ", ", "]")
    }.mkString("[\n      ", ",\n      ", "]")
    val xl = (0 until 5).map(i =>
      s"round((p_${i}_5 - s_$i * s_5 / n) / sig_$i, 9)").mkString("[", ", ", "]")
    val sl = (0 until 5).map(i => s"sig_$i").mkString("[", ", ", "]")
    val mul = (0 until 5).map(i => s"round(s_$i / n, 6)").mkString("[", ", ", "]")
    val nmVals = types.zipWithIndex
      .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
    s"""WITH RECURSIVE ser0 AS (
       |  SELECT epoch_ns(ts) // 21600000000000 AS bucket,
       |    $cases
       |  FROM events GROUP BY 1),
       |ser1 AS (SELECT *, lead(click, 1) OVER (ORDER BY bucket) AS y FROM ser0),
       |ser AS (SELECT * FROM ser1 WHERE $notNull),
       |mo AS (
       |  SELECT count(*) AS n,
       |    $sums,
       |    $prods
       |  FROM ser),
       |sg AS (
       |  SELECT *,
       |    $sigs
       |  FROM mo),
       |gl AS (
       |  SELECT n,
       |    $gmRows AS gm,
       |    $xl AS xl,
       |    $sl AS sl,
       |    $mul AS mul,
       |    round(0.1 * n * sig_5, 6) AS lam,
       |    round(s_5 / n, 6) AS ybar
       |  FROM sg),
       |cd(t, beta) AS (
       |  SELECT 0, [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0] FROM gl
       |  UNION ALL
       |  SELECT t + 1,
       |    list_transform(generate_series(1, 5), i ->
       |      CASE WHEN i = jj THEN nb ELSE beta[i] END)
       |  FROM (
       |    SELECT t, beta, jj,
       |      (CASE WHEN rho > lam THEN round((rho - lam) / gjj, 9)
       |            WHEN rho < -lam THEN round((rho + lam) / gjj, 9)
       |            ELSE 0.0 END) + 0.0 AS nb
       |    FROM (
       |      SELECT rec.t AS t, rec.beta AS beta, g.lam AS lam,
       |        ((rec.t % 5) + 1) AS jj,
       |        g.gm[(rec.t % 5) + 1][(rec.t % 5) + 1] AS gjj,
       |        round(g.xl[(rec.t % 5) + 1]
       |          - (list_reduce(list_transform(generate_series(1, 5),
       |              k -> g.gm[(rec.t % 5) + 1][k] * rec.beta[k]),
       |              (a, b) -> a + b)
       |            - g.gm[(rec.t % 5) + 1][(rec.t % 5) + 1]
       |              * rec.beta[(rec.t % 5) + 1]), 9) AS rho
       |      FROM cd rec, gl g) t1) t2
       |  WHERE t < 300),
       |fb AS (SELECT beta FROM cd WHERE t = 300),
       |outp AS (
       |  SELECT nm.f AS feature,
       |    round(fb.beta[nm.i], 6) + 0.0 AS coef_std,
       |    round(round(fb.beta[nm.i] / g.sl[nm.i], 9), 6) + 0.0 AS coefficient
       |  FROM fb, gl g, (VALUES $nmVals) nm(i, f)
       |  UNION ALL
       |  SELECT '__intercept', 0.0,
       |    round(g.ybar - list_reduce(list_transform(generate_series(1, 5),
       |      j -> round(fb.beta[j] / g.sl[j], 9) * g.mul[j]),
       |      (a, b) -> a + b), 6) + 0.0
       |  FROM fb, gl g)
       |SELECT feature, coef_std, coefficient FROM outp ORDER BY feature"""
      .stripMargin
  }

  /** Lloyd twin: the 10-round fixpoint as a recursive CTE with the
    * windowed argmin INSIDE the recursive term (ts_lttb precedent);
    * md5-rank seeding, grid means, centroid-id tiebreak. */
  private def kmeansLloydSql: String = {
    val d = "round((p.x - rec.cx) * (p.x - rec.cx) + (p.y - rec.cy) * (p.y - rec.cy), 9)"
    val df = "round((p.x - f.cx) * (p.x - f.cx) + (p.y - f.cy) * (p.y - f.cy), 9)"
    s"""WITH RECURSIVE pts AS MATERIALIZED (
       |  SELECT bucket, x, y FROM (
       |    SELECT epoch_ns(ts) // 1800000000000 AS bucket,
       |      ${typeMean("click")} AS x,
       |      ${typeMean("purchase")} AS y
       |    FROM events WHERE event_type IN ('click', 'purchase')
       |    GROUP BY 1) t
       |  WHERE x IS NOT NULL AND y IS NOT NULL),
       |seeds AS (SELECT cid, cx, cy FROM (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(bucket AS VARCHAR)), bucket) AS cid,
       |    x AS cx, y AS cy FROM pts) t WHERE cid <= 4),
       |it(i, cid, cx, cy) AS (
       |  SELECT 0, cid, cx, cy FROM seeds
       |  UNION ALL
       |  SELECT i + 1, cid,
       |    round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), 6),
       |    round(CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(y), 6)
       |  FROM (
       |    SELECT rec.i AS i, rec.cid AS cid, p.x, p.y,
       |      row_number() OVER (PARTITION BY p.bucket
       |        ORDER BY $d, rec.cid) AS rn
       |    FROM it rec, pts p) a
       |  WHERE rn = 1 AND i < 10
       |  GROUP BY i, cid),
       |fin AS (SELECT cid, cx, cy FROM it WHERE i = 10),
       |asg AS (SELECT * FROM (
       |  SELECT f.cid, f.cx, f.cy, p.x, p.y,
       |    $df AS d,
       |    row_number() OVER (PARTITION BY p.bucket
       |      ORDER BY $df, f.cid) AS rn
       |  FROM pts p, fin f) t WHERE rn = 1)
       |SELECT cid AS cluster, count(*)::BIGINT AS n_points, cx, cy,
       |  round(CAST(sum(CAST(d AS DECIMAL(28,9))) AS DOUBLE), 6) AS wcss
       |FROM asg GROUP BY cid, cx, cy ORDER BY cluster""".stripMargin
  }

  /** Power-iteration twin: moments → grid correlation matrix as a
    * list-of-lists, two 150-step single-row-state recursions (PC1, then
    * PC2 on the grid-deflated matrix), first-nonzero-positive sign,
    * Rayleigh eigenvalues — every fold index-ordered. */
  private def pcaPowerSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cases = types.map { t =>
      s"${typeMean(t)} AS $t"
    }.mkString(",\n    ")
    val notNull = types.map(v => s"$v IS NOT NULL").mkString(" AND ")
    val sums = types.zipWithIndex.map { case (v, i) =>
      s"CAST(sum(CAST($v AS DECIMAL(18,6))) AS DOUBLE) AS s_$i" }.mkString(",\n    ")
    val prods = (for (i <- types.indices; j <- i until types.length) yield
      s"CAST(sum(CAST(CAST(${types(i)} AS DECIMAL(18,6)) * CAST(${types(j)} AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS DOUBLE) AS p_${i}_$j")
      .mkString(",\n    ")
    val sigs = types.indices.map(i =>
      s"round(sqrt((p_${i}_$i - s_$i * s_$i / n) / n), 9) AS sig_$i").mkString(",\n    ")
    def pRef(i: Int, j: Int) = s"p_${math.min(i, j)}_${math.max(i, j)}"
    val rmRows = (0 until 5).map { i =>
      (0 until 5).map(j =>
        s"round((${pRef(i, j)} - s_$i * s_$j / n) / n / (sig_$i * sig_$j), 9)")
        .mkString("[", ", ", "]")
    }.mkString("[\n      ", ",\n      ", "]")
    def pw(name: String, matrix: String) =
      s"""$name(i, v) AS (
         |  SELECT 0, [v0, v0, v0, v0, v0] FROM r0
         |  UNION ALL
         |  SELECT i + 1, list_transform(generate_series(1, 5), g ->
         |    round(w[g] / nrm, 9) + 0.0)
         |  FROM (
         |    SELECT i, w,
         |      sqrt(list_reduce(list_transform(generate_series(1, 5), g ->
         |        w[g] * w[g]), (a, b) -> a + b)) AS nrm
         |    FROM (
         |      SELECT rec.i AS i,
         |        list_transform(generate_series(1, 5), g ->
         |          list_reduce(list_transform(generate_series(1, 5), j ->
         |            m.rm[g][j] * rec.v[j]), (a, b) -> a + b)) AS w
         |      FROM $name rec, $matrix m) t0) t1
         |  WHERE i < 150)""".stripMargin
    // `hint` = "MATERIALIZED " on `rmat` and on the chain the second
    // iteration reads: DuckDB re-expands a plain CTE once per reference,
    // so every step of `pw2` would re-run all of `pw1` and re-aggregate
    // the events
    def signFix(src: String, out: String, hint: String = "") =
      s"""$out AS ${hint}(SELECT CASE WHEN v[1] < 0 OR (v[1] = 0 AND (v[2] < 0
         |    OR (v[2] = 0 AND (v[3] < 0 OR (v[3] = 0 AND (v[4] < 0
         |    OR (v[4] = 0 AND v[5] < 0))))))) THEN
         |  list_transform(v, x -> -x + 0.0) ELSE v END AS v FROM $src)""".stripMargin
    def rayleigh(vsrc: String, out: String, hint: String = "") =
      s"""$out AS ${hint}(SELECT round(list_reduce(list_transform(generate_series(1, 5), g ->
         |    s.v[g] * list_reduce(list_transform(generate_series(1, 5), j ->
         |      m.rm[g][j] * s.v[j]), (a, b) -> a + b)), (a, b) -> a + b), 9) AS lam
         |  FROM $vsrc s, rmat m)""".stripMargin
    val nmVals = types.zipWithIndex
      .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
    def outArm(c: Int, vsrc: String, lsrc: String) =
      s"""SELECT $c AS component, nm.f AS feature,
         |    round(s.v[nm.i], 6) + 0.0 AS loading,
         |    round(l.lam, 6) AS eigenvalue,
         |    round(l.lam / t.tr, 6) AS explained_ratio
         |  FROM $vsrc s, $lsrc l, trc t, (VALUES $nmVals) nm(i, f)""".stripMargin
    s"""WITH RECURSIVE ser0 AS (
       |  SELECT epoch_ns(ts) // 21600000000000 AS bucket,
       |    $cases
       |  FROM events GROUP BY 1),
       |ser AS (SELECT * FROM ser0 WHERE $notNull),
       |mo AS (
       |  SELECT count(*) AS n,
       |    $sums,
       |    $prods
       |  FROM ser),
       |sg AS (
       |  SELECT *,
       |    $sigs
       |  FROM mo),
       |rmat AS MATERIALIZED (
       |  SELECT
       |    $rmRows AS rm
       |  FROM sg),
       |r0 AS (SELECT round(1.0 / sqrt(5.0), 9) AS v0 FROM rmat),
       |${pw("pw1", "rmat")},
       |vf1 AS MATERIALIZED (SELECT v FROM pw1 WHERE i = 150),
       |${signFix("vf1", "sv1", "MATERIALIZED ")},
       |${rayleigh("sv1", "l1c", "MATERIALIZED ")},
       |rmat2 AS MATERIALIZED (
       |  SELECT list_transform(generate_series(1, 5), i ->
       |    list_transform(generate_series(1, 5), j ->
       |      round(m.rm[i][j] - l.lam * s.v[i] * s.v[j], 9) + 0.0)) AS rm
       |  FROM rmat m, l1c l, sv1 s),
       |${pw("pw2", "rmat2")},
       |vf2 AS (SELECT v FROM pw2 WHERE i = 150),
       |${signFix("vf2", "sv2")},
       |${rayleigh("sv2", "l2c")},
       |trc AS (SELECT round(list_reduce(list_transform(generate_series(1, 5), g ->
       |    m.rm[g][g]), (a, b) -> a + b), 9) AS tr FROM rmat m),
       |outp AS (
       |  ${outArm(1, "sv1", "l1c")}
       |  UNION ALL
       |  ${outArm(2, "sv2", "l2c")})
       |SELECT component, feature, loading, eigenvalue, explained_ratio
       |FROM outp ORDER BY component, feature""".stripMargin
  }

  /** Holt–Winters filter twin: the sequential recursion joining the
    * indexed series per step, the 48-slot seasonal list sliding through
    * the state, every update on the 1e-9 grid with signed-zero guards. */
  private def hwFilterSql: String =
    s"""WITH RECURSIVE b AS (
       |  SELECT epoch_ns(ts) // 1800000000000 AS bucket,
       |    ${Grid.mean6Sql("value")} AS yv
       |  FROM events WHERE event_type = 'click' GROUP BY 1),
       |s AS MATERIALIZED (SELECT row_number() OVER (ORDER BY bucket) AS idx, yv FROM b),
       |nn AS (SELECT count(*) AS n FROM s),
       |m1 AS (SELECT round(CAST(sum(CAST(yv AS DECIMAL(18,6))) AS DOUBLE)
       |  / count(yv), 6) AS v FROM s WHERE idx <= 48),
       |m2 AS (SELECT round(CAST(sum(CAST(yv AS DECIMAL(18,6))) AS DOUBLE)
       |  / count(yv), 6) AS v FROM s WHERE idx > 48 AND idx <= 96),
       |init AS (SELECT m1.v AS l0, round((m2.v - m1.v) / 48, 9) + 0.0 AS b0,
       |  (SELECT list(round(yv - m1.v, 6) + 0.0 ORDER BY idx)
       |   FROM s, m1 WHERE idx <= 48) AS s0
       |  FROM m1, m2),
       |hw(t, l, b, sl, sse, ne) AS (
       |  SELECT CAST(48 AS BIGINT), l0, b0, s0, CAST(0.0 AS DOUBLE),
       |    CAST(0 AS BIGINT) FROM init
       |  UNION ALL
       |  SELECT t + 1, nl,
       |    round(0.1 * (nl - l) + 0.9 * b, 9) + 0.0,
       |    list_append(sl[2:48], round(0.1 * (yv - nl) + 0.9 * sold, 9) + 0.0),
       |    sse + (yv - f) * (yv - f),
       |    ne + 1
       |  FROM (
       |    SELECT u.*,
       |      round(0.2 * (u.yv - u.sold) + 0.8 * (u.l + u.b), 9) + 0.0 AS nl,
       |      round(u.l + u.b + u.sold, 6) AS f
       |    FROM (
       |      SELECT rec.t AS t, rec.l AS l, rec.b AS b, rec.sl AS sl,
       |        rec.sse AS sse, rec.ne AS ne, sr.yv AS yv, rec.sl[1] AS sold
       |      FROM hw rec JOIN s sr ON sr.idx = rec.t + 1) u) u2, nn
       |  WHERE t < nn.n)
       |SELECT CAST(nn.n AS BIGINT) AS n_obs, round(l, 6) + 0.0 AS level,
       |  round(b, 6) + 0.0 AS trend,
       |  round(l + 1 * b + sl[1], 6) + 0.0 AS forecast_1,
       |  round(l + 48 * b + sl[48], 6) + 0.0 AS forecast_1day,
       |  round(sqrt(sse / ne), 6) AS rmse
       |FROM hw, nn WHERE t = nn.n""".stripMargin

  /** The GRID-SEARCHED Holt–Winters twin (`ml_holt_winters`, r15): the
    * same init and recursion as [[hwFilterSql]] generalized to carry the
    * 48-point (α, β, γ) grid as an extra recursion dimension — all 48
    * passes advance together, one series join per step; the winner is
    * the deterministic (sse, α, β, γ) minimum. Complements are written
    * `(1 - a)` to match `HwFilter.stepParam`'s computed complements. */
  private def hwGridSql: String = {
    val pts = for {
      a <- Seq(0.1, 0.3, 0.5, 0.8)
      b <- Seq(0.01, 0.1, 0.3)
      g <- Seq(0.05, 0.1, 0.3, 0.5)
    } yield s"(CAST($a AS DOUBLE), CAST($b AS DOUBLE), CAST($g AS DOUBLE))"
    s"""WITH RECURSIVE b AS (
       |  SELECT epoch_ns(ts) // 1800000000000 AS bucket,
       |    ${Grid.mean6Sql("value")} AS yv
       |  FROM events WHERE event_type = 'click' GROUP BY 1),
       |s AS MATERIALIZED (SELECT row_number() OVER (ORDER BY bucket) AS idx, yv FROM b),
       |nn AS (SELECT count(*) AS n FROM s),
       |m1 AS (SELECT round(CAST(sum(CAST(yv AS DECIMAL(18,6))) AS DOUBLE)
       |  / count(yv), 6) AS v FROM s WHERE idx <= 48),
       |m2 AS (SELECT round(CAST(sum(CAST(yv AS DECIMAL(18,6))) AS DOUBLE)
       |  / count(yv), 6) AS v FROM s WHERE idx > 48 AND idx <= 96),
       |init AS (SELECT m1.v AS l0, round((m2.v - m1.v) / 48, 9) + 0.0 AS b0,
       |  (SELECT list(round(yv - m1.v, 6) + 0.0 ORDER BY idx)
       |   FROM s, m1 WHERE idx <= 48) AS s0
       |  FROM m1, m2),
       |grid(a, bb, gg) AS (VALUES ${pts.mkString(",\n    ")}),
       |hw(a, bb, gg, t, l, b, sl, sse, ne) AS (
       |  SELECT g.a, g.bb, g.gg, CAST(48 AS BIGINT), l0, b0, s0,
       |    CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT) FROM init, grid g
       |  UNION ALL
       |  SELECT a, bb, gg, t + 1, nl,
       |    round(bb * (nl - l) + (1 - bb) * b, 9) + 0.0,
       |    list_append(sl[2:48], round(gg * (yv - nl) + (1 - gg) * sold, 9) + 0.0),
       |    sse + (yv - f) * (yv - f),
       |    ne + 1
       |  FROM (
       |    SELECT u.*,
       |      round(u.a * (u.yv - u.sold) + (1 - u.a) * (u.l + u.b), 9) + 0.0 AS nl,
       |      round(u.l + u.b + u.sold, 6) AS f
       |    FROM (
       |      SELECT rec.a AS a, rec.bb AS bb, rec.gg AS gg, rec.t AS t,
       |        rec.l AS l, rec.b AS b, rec.sl AS sl,
       |        rec.sse AS sse, rec.ne AS ne, sr.yv AS yv, rec.sl[1] AS sold
       |      FROM hw rec JOIN s sr ON sr.idx = rec.t + 1) u) u2, nn
       |  WHERE t < nn.n),
       |win AS (SELECT hw.* FROM hw, nn WHERE t = nn.n
       |  ORDER BY sse, a, bb, gg LIMIT 1)
       |SELECT a AS alpha, bb AS beta, gg AS gamma, 48 AS season,
       |  CAST(nn.n AS BIGINT) AS n_obs,
       |  round(sqrt(sse / ne), 6) AS rmse,
       |  round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend,
       |  round(l + 1 * b + sl[1], 6) + 0.0 AS forecast_1,
       |  round(l + 48 * b + sl[48], 6) + 0.0 AS forecast_1day
       |FROM win, nn""".stripMargin
  }

  /** Banded-DTW twin — the prefix-min reformulation (see the
    * `ts_dtw_pairs` Scaladoc in Fin.scala): per DP row,
    * cur(j) = S_j + min_{k≤j}(A_k − S_{k−1}) where A_k =
    * min(prev(k), prev(k−1)); the row loop is a recursive CTE whose
    * step is ONE window sum + ONE running window min over the banded
    * cell frame (windows inside the recursive term — the lttb
    * precedent). Band frames carry a LEFT PAD cell (j = lo−1) so the
    * lag() that reads prev(j−1) sees the previous row's left-edge value
    * when the band slides; pad cells are excluded from sums, mins, and
    * output. All values are exact 1e-6 multiples ≪ 2^53, so this equals
    * the Scala kernel bit-for-bit; 1e18 stands in for +∞ (never
    * selected — every in-band cell has a finite path). */
  private def dtwPairsSql: String =
    s"""WITH RECURSIVE b AS (
       |  SELECT event_type AS g, epoch_ns(ts) // 21600000000000 AS bucket,
       |    ${Grid.mean6Sql("value")} AS px
       |  FROM events GROUP BY 1, 2),
       |si AS MATERIALIZED (
       |  SELECT g, row_number() OVER (PARTITION BY g ORDER BY bucket) AS idx, px
       |  FROM b),
       |ln AS (SELECT g, count(*) AS n FROM si GROUP BY g),
       |pr AS MATERIALIZED (
       |  SELECT a.g AS ga, c.g AS gb, a.n AS na, c.n AS nb,
       |    greatest(4, abs(a.n - c.n)) AS r
       |  FROM ln a JOIN ln c ON a.g < c.g),
       |jdom AS MATERIALIZED (
       |  SELECT pr.ga, pr.gb, xa.idx AS i, xb.idx AS j,
       |    abs(xa.px - xb.px) AS c,
       |    xb.idx >= xa.idx - pr.r AS inband
       |  FROM pr
       |  JOIN si xa ON xa.g = pr.ga
       |  JOIN si xb ON xb.g = pr.gb
       |    AND xb.idx BETWEEN xa.idx - pr.r - 1 AND xa.idx + pr.r),
       |dtw(i, ga, gb, j, dp) AS (
       |  SELECT CAST(1 AS BIGINT), ga, gb, j,
       |    sum(c) OVER (PARTITION BY ga, gb ORDER BY j
       |      ROWS UNBOUNDED PRECEDING)
       |  FROM jdom WHERE i = 1 AND inband
       |  UNION ALL
       |  SELECT u.i, u.ga, u.gb, u.j,
       |    u.s + min(u.am) OVER (PARTITION BY u.ga, u.gb, u.i ORDER BY u.j
       |      ROWS UNBOUNDED PRECEDING) AS dp
       |  FROM (
    -- q holds band cells for EVERY i (the i = prev+1 restriction only
    -- lands in the outer WHERE via `live`), so every window here MUST
    -- partition by q.i as well — the prefix sums/mins are per DP row.
       |    SELECT q.ga, q.gb, q.i, q.j, q.inband,
       |      sum(CASE WHEN q.inband THEN q.c END) OVER (
       |        PARTITION BY q.ga, q.gb, q.i ORDER BY q.j
       |        ROWS UNBOUNDED PRECEDING) AS s,
       |      CASE WHEN q.inband THEN
       |        least(coalesce(q.pdp, 1e18),
       |              coalesce(lag(q.pdp) OVER (
       |                PARTITION BY q.ga, q.gb, q.i ORDER BY q.j), 1e18))
       |        - coalesce(sum(CASE WHEN q.inband THEN q.c END) OVER (
       |            PARTITION BY q.ga, q.gb, q.i ORDER BY q.j
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
       |      END AS am,
       |      max(CASE WHEN q.pdp IS NOT NULL THEN 1 END) OVER (
       |        PARTITION BY q.ga, q.gb, q.i) AS live
       |    FROM (
       |      SELECT jd.ga, jd.gb, jd.i, jd.j, jd.c, jd.inband, rec.dp AS pdp
       |      FROM jdom jd LEFT JOIN dtw rec
       |        ON rec.ga = jd.ga AND rec.gb = jd.gb AND rec.j = jd.j
       |          AND rec.i = jd.i - 1) q) u
       |  WHERE u.inband AND u.live = 1)
       |SELECT dtw.ga AS type_a, dtw.gb AS type_b,
       |  CAST(pr.na AS BIGINT) AS n_a, CAST(pr.nb AS BIGINT) AS n_b,
       |  CAST(4 AS BIGINT) AS radius,
       |  round(dtw.dp, 6) AS dtw_dist,
       |  round(dtw.dp / (pr.na + pr.nb), 6) AS dtw_norm
       |FROM dtw JOIN pr ON dtw.ga = pr.ga AND dtw.gb = pr.gb
       |WHERE dtw.i = pr.na AND dtw.j = pr.nb
       |ORDER BY type_a, type_b""".stripMargin

  val sql: Map[String, String] = Map(

    "ml_lasso_cd" -> lassoCdSql,



    "stream_drift_psi" -> graft.queries.Ts.sql("drift_psi"),

    "stream_drift_ks" -> graft.queries.Ts.sql("drift_ks"),

    "stream_volume_anomaly" -> graft.queries.Feat.sql("dq_volume_anomaly"),

    "stream_schema_drift" -> graft.queries.Feat.sql("dq_schema_drift"),

    "stream_freshness_sla" -> graft.queries.Feat.sql("dq_freshness_sla"),

    "stream_dq_expectations" ->
      s"""WITH base AS (
         |  SELECT e.*, c.c_custkey FROM events e
         |  LEFT JOIN customer c ON e.user_id = c.c_custkey),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
         |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_nullvalue,
         |    CAST(sum(CASE WHEN event_type IN ('click', 'view', 'purchase')
         |      THEN 0 ELSE 1 END) AS BIGINT) AS v_type,
         |    CAST(sum(CASE WHEN value IS NULL OR value <= 250 THEN 0 ELSE 1 END)
         |      AS BIGINT) AS v_value,
         |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_fk,
         |    CAST(sum(CASE WHEN epoch_us(ts) BETWEEN 1577836800000000
         |      AND 1893456000000000 THEN 0 ELSE 1 END) AS BIGINT) AS v_ts
         |  FROM base)
         |SELECT rule, n_violations, n_violations = 0 AS passed FROM (
         |  SELECT 'accepted_type_serving' AS rule, v_type AS n_violations FROM agg
         |  UNION ALL SELECT 'fk_user_in_customer', v_fk FROM agg
         |  UNION ALL SELECT 'not_null_value', v_nullvalue FROM agg
         |  UNION ALL SELECT 'ts_calendar_bounds', v_ts FROM agg
         |  UNION ALL SELECT 'unique_event_id', n - n_distinct FROM agg
         |  UNION ALL SELECT 'value_le_250', v_value FROM agg) t
         |ORDER BY rule""".stripMargin,

    "stream_page_hinkley" -> shared("stat_page_hinkley").oracle,




    "stream_sgd_online" -> shared("ml_sgd_online").oracle,

    "ml_kmeans_lloyd" -> kmeansLloydSql,

    "ml_pca_power" -> pcaPowerSql,

    "ml_holt_winters_filter" -> hwFilterSql,

    "ml_holt_winters" -> hwGridSql,

    "stream_holt_winters" -> hwFilterSql,








    /** Final watermark = min of the two sides' (max event time − delay);
      * matched pairs emit eagerly, unmatched clicks only once evicted
      * (click_ts strictly below the final watermark — the boundary
      * StreamingSpec pins). */
    "stream_join_left_outer" ->
      """WITH c AS MATERIALIZED (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'),
        |v AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS vts
        |  FROM events WHERE event_type = 'view'),
        |wm AS (
        |  SELECT least((SELECT max(cts) FROM c), (SELECT max(vts) FROM v))
        |    - 86400000000 AS w),
        |nm AS (
        |  SELECT c.user_id, count(*) AS n_matched
        |  FROM c JOIN v ON c.user_id = v.user_id
        |    AND v.vts BETWEEN c.cts - 21600000000 AND c.cts
        |  GROUP BY 1),
        |nu AS (
        |  SELECT c.user_id, count(*) AS n_unmatched
        |  FROM c, wm
        |  WHERE c.cts < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM v WHERE v.user_id = c.user_id
        |      AND v.vts BETWEEN c.cts - 21600000000 AND c.cts)
        |  GROUP BY 1)
        |SELECT user_id,
        |  CAST(coalesce(nm.n_matched, 0) AS BIGINT) AS n_matched,
        |  CAST(coalesce(nu.n_unmatched, 0) AS BIGINT) AS n_unmatched
        |FROM nm FULL OUTER JOIN nu USING (user_id)
        |ORDER BY user_id""".stripMargin,







    /** DBSCAN twin: the exact ε-disk over an n² candidate join (the
      * oracle needs correctness, not the cell index), components by the
      * `dedup_clusters_cc` transitive-closure CTE, border = min core
      * neighbor's component, noise = −1. */
    "ml_dbscan_grid" ->
      """WITH RECURSIVE b AS (
        |  SELECT bucket,
        |    round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
        |        AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(CASE WHEN event_type = 'click' THEN value END), 6) AS x,
        |    round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
        |        AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(CASE WHEN event_type = 'purchase' THEN value END), 6) AS y
        |  FROM (
        |    SELECT epoch_ns(ts) // 1800000000000 AS bucket, event_type, value
        |    FROM events WHERE event_type IN ('click', 'purchase')) t
        |  GROUP BY 1),
        |p AS MATERIALIZED (
        |  SELECT bucket, x, y FROM b WHERE x IS NOT NULL AND y IS NOT NULL),
        |nb AS MATERIALIZED (
        |  SELECT a.bucket AS ab, c.bucket AS cb
        |  FROM p a JOIN p c
        |    ON (a.x - c.x) * (a.x - c.x) + (a.y - c.y) * (a.y - c.y) <= 9.0),
        |core AS MATERIALIZED (
        |  SELECT ab AS bucket FROM nb GROUP BY ab HAVING count(*) >= 5),
        |ce AS MATERIALIZED (
        |  SELECT nb.ab AS a, nb.cb AS b FROM nb
        |  JOIN core k1 ON nb.ab = k1.bucket
        |  JOIN core k2 ON nb.cb = k2.bucket
        |  WHERE nb.ab < nb.cb),
        |edges AS (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS bucket, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |corelab AS MATERIALIZED (
        |  SELECT k.bucket, coalesce(cc.component, k.bucket) AS component,
        |    'core' AS role
        |  FROM core k LEFT JOIN cc ON cc.bucket = k.bucket),
        |borderlab AS (
        |  SELECT nb.ab AS bucket, min(cl.component) AS component,
        |    'border' AS role
        |  FROM nb JOIN corelab cl ON nb.cb = cl.bucket
        |  WHERE nb.ab NOT IN (SELECT bucket FROM core)
        |  GROUP BY nb.ab),
        |lab AS (
        |  SELECT bucket, component, role FROM corelab
        |  UNION ALL SELECT bucket, component, role FROM borderlab)
        |SELECT component,
        |  CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_core,
        |  CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_border,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        |    AS ctr_x,
        |  round(CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        |    AS ctr_y
        |FROM (
        |  SELECT p.x, p.y, coalesce(l.component, -1) AS component,
        |    coalesce(l.role, 'noise') AS role
        |  FROM p LEFT JOIN lab l ON p.bucket = l.bucket) u
        |GROUP BY component ORDER BY component""".stripMargin,

    "ts_dtw_pairs" -> dtwPairsSql,


    /** The driver loop above, replayed: same grid constants, same
      * index-ordered folds (list ORDER BY), same per-step 1e-12 grid. */
    "fin_gmv_audit" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT event_type AS g, epoch_ns(ts) // 21600000000000 AS bucket,
         |    ${Grid.mean6Sql("value")} AS px
         |  FROM events GROUP BY 1, 2),
         |r0 AS (
         |  SELECT g, bucket,
         |    round(ln(px / lag(px, 1) OVER (PARTITION BY g ORDER BY bucket)), 6) AS r
         |  FROM b),
         |r1 AS (SELECT g, bucket, CAST(r AS DECIMAL(18,6)) AS r
         |       FROM r0 WHERE r IS NOT NULL),
         |kk AS (SELECT count(DISTINCT g) AS k FROM r1),
         |comp AS MATERIALIZED (SELECT bucket FROM r1 GROUP BY bucket
         |  HAVING count(*) = (SELECT k FROM kk)),
         |rr AS MATERIALIZED (
         |  SELECT r1.g, r1.bucket, r1.r FROM r1 JOIN comp USING (bucket)),
         |mo AS (
         |  SELECT a.g AS ga, c.g AS gb, count(*) AS n,
         |    sum(a.r) AS sa, sum(c.r) AS sb,
         |    sum(CAST(a.r * c.r AS DECIMAL(30,12))) AS sab
         |  FROM rr a JOIN rr c ON a.bucket = c.bucket
         |  GROUP BY 1, 2),
         |cov AS MATERIALIZED (
         |  SELECT ga, gb, n,
         |    round((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / n)
         |      / n * 100000000.0, 6) + 0.0 AS c
         |  FROM mo),
         |trc AS (SELECT round(list_reduce(list(c ORDER BY ga), (x, z) -> x + z), 6)
         |  AS trace FROM cov WHERE ga = gb),
         |e AS (SELECT round(1.0 / trace, 12) AS eta FROM trc),
         |am AS MATERIALIZED (
         |  SELECT ga, gb,
         |    round((CASE WHEN ga = gb THEN 1.0 ELSE 0.0 END) - eta * c, 12) + 0.0 AS v
         |  FROM cov, e),
         |it(i, g, y) AS (
         |  SELECT 0, ga, eta FROM (SELECT DISTINCT ga FROM cov), e
         |  UNION ALL
         |  SELECT rec.i + 1, am.ga,
         |    round(list_reduce(list(rec.y * am.v ORDER BY am.gb),
         |      (x, z) -> x + z) + e.eta, 12) + 0.0
         |  FROM it rec JOIN am ON am.gb = rec.g, e
         |  WHERE rec.i < $GmvIters
         |  GROUP BY rec.i, am.ga, e.eta),
         |yf AS MATERIALIZED (SELECT g, y FROM it WHERE i = $GmvIters),
         |sums AS (SELECT round(list_reduce(list(y ORDER BY g), (x, z) -> x + z), 12)
         |  AS sumy FROM yf),
         |w AS MATERIALIZED (
         |  SELECT g, round(y / sumy, 6) + 0.0 AS w FROM yf, sums),
         |sg AS (
         |  SELECT cov.ga AS g,
         |    round(list_reduce(list(cov.c * yf.y ORDER BY cov.gb),
         |      (x, z) -> x + z) - 1.0, 6) + 0.0 AS grad_residual
         |  FROM cov JOIN yf ON cov.gb = yf.g GROUP BY cov.ga),
         |pv AS (
         |  SELECT round(list_reduce(list(wa.w * cov.c * wb.w
         |      ORDER BY cov.ga, cov.gb), (x, z) -> x + z), 6) + 0.0
         |    AS port_variance_bp
         |  FROM cov JOIN w wa ON cov.ga = wa.g JOIN w wb ON cov.gb = wb.g),
         |ev AS (
         |  SELECT round(list_reduce(list(c ORDER BY ga, gb), (x, z) -> x + z)
         |      / ((SELECT k FROM kk) * (SELECT k FROM kk)), 6) + 0.0
         |    AS equal_weight_variance_bp
         |  FROM cov),
         |nn AS (SELECT max(n) AS n_obs FROM cov)
         |SELECT w.g AS series, w.w AS weight, sg.grad_residual,
         |  CAST(nn.n_obs AS BIGINT) AS n_obs,
         |  CAST($GmvIters AS BIGINT) AS n_iter,
         |  pv.port_variance_bp, ev.equal_weight_variance_bp,
         |  round(pv.port_variance_bp / ev.equal_weight_variance_bp, 6)
         |    AS variance_ratio
         |FROM w JOIN sg ON w.g = sg.g, pv, ev, nn
         |ORDER BY series""".stripMargin
  ) ++ Shared.oracles(shared)
}
