package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.Tables

/** Feature-engineering / model-prep pack (round 8, eighth wave) — the
  * operations that sit between this engine's profiling surface
  * (`agg_describe`, `agg_skew_report`) and its model fits (`ml_*`): risk
  * encodings, the hashing trick, snapshot drift audits, an exact
  * contingency test, and recursive state-space smoothing (its graph
  * keys live in `Graph`). The reference's pipeline hand-rolls exactly
  * this layer in pandas between `df_transformed` and the model cells
  * (`app.py:93-113` builds lag/spread features; the notebooks add ad-hoc
  * encodings) — here each step is a declarative Spark plan with a DuckDB
  * twin.
  *
  * Cross-engine float discipline is the house convention set: inputs
  * pre-rounded to the 1e-6 grid, counts/sums that feed divisions kept
  * integer- or DECIMAL-exact (order-independent), doubles only in fixed
  * expression trees both engines evaluate in the same operation order,
  * and recursions re-rounded to the 1e-9 grid every step (the
  * `graph_pagerank` rule) so drift cannot compound.
  */
object Feat {

  type Q = (SparkSession, String) => DataFrame

  /** `$.k` payload as BIGINT — the one JSON field the events table
    * carries (same extraction as `json_extract_field`). */
  private def kCol = get_json_object(col("props"), "$.k").cast("long")

  /** The (day, user_id, event_type, v, k) frame `dq_schema_drift` and
    * its streaming twin profile (r12 split — expressions unchanged). */
  def schemaDriftFrame(ev0: DataFrame): DataFrame =
    ev0.select(Tables.epochDay(col("ts")).cast("long").as("day"),
      col("user_id"), col("event_type"),
      round(col("value"), 6).cast("decimal(18,6)").as("v"), kCol.as("k"))

  /** The long-form (metric, before, after, rel_delta) assembly over a
    * 1-row profile frame — shared by the batch census and the
    * streaming twin so the two hashes cannot drift. */
  def schemaDriftAssemble(prof: DataFrame): DataFrame =
    prof.select(expr(
      """stack(5,
        |  'n_rows', CAST(rows_b AS DOUBLE), CAST(rows_a AS DOUBLE),
        |  'n_users', CAST(users_b AS DOUBLE), CAST(users_a AS DOUBLE),
        |  'n_event_types', CAST(types_b AS DOUBLE), CAST(types_a AS DOUBLE),
        |  'avg_value', round(CAST(sv_b AS DOUBLE) / rows_b, 6),
        |              round(CAST(sv_a AS DOUBLE) / rows_a, 6),
        |  'avg_k', round(CAST(sk_b AS DOUBLE) / rows_b, 6),
        |          round(CAST(sk_a AS DOUBLE) / rows_a, 6)
        |) AS (metric, before, after)""".stripMargin))
      .select(col("metric"), col("before"), col("after"),
        round((col("after") - col("before")) / col("before"), 6).as("rel_delta"))
      .orderBy("metric")

  /** Final assembly shared by `dq_freshness_sla` and its streaming twin
    * `stream_freshness_sla`: from a per-type (event_type, last_ts_ns,
    * n_events) frame, attach the global watermark and the integer
    * lag/SLA columns. Kept here so the stream's final snapshot runs the
    * byte-identical expressions the batch oracle hash-checks. */
  def freshnessAssemble(perType: DataFrame): DataFrame =
    perType
      .withColumn("wm_ns",
        max(col("last_ts_ns")).over(Window.partitionBy(lit(1))))
      .select(col("event_type"), col("n_events"), col("last_ts_ns"),
        expr("(wm_ns - last_ts_ns) div 60000000000").as("lag_minutes"),
        (col("wm_ns") - col("last_ts_ns") <= 1800000000000L).cast("int")
          .as("fresh_30m"))
      .orderBy("event_type")

  // ------------------------------------------------------------------
  // ln(x!) as a SHARED SQL expression: exact lookup for x ≤ 20, then the
  // Stirling–de Moivre series (error < 1e-13 relative for x ≥ 21 — far
  // below the 1e-9 decision slack and 1e-6 output grid downstream).
  // Both engines parse the SAME text, so the expression trees — and the
  // IEEE operation order — are identical; no x! ever overflows because
  // only LOGS are materialized. Powers are explicit multiplication
  // chains, not `power()` (libm pow may differ across runtimes;
  // IEEE multiply may not).
  // ------------------------------------------------------------------
  private[graft] def lnFactSql(x: String): String = {
    val lut = (0 to 20).scanLeft(0.0)((acc, i) => if (i == 0) 0.0 else acc + math.log(i)).tail
    val cases = (0 to 20).map(i => s"WHEN $x = $i THEN ${if (i <= 1) "0.0" else lut(i).toString}")
    val xd = s"CAST($x AS DOUBLE)"
    val stirling =
      s"0.9189385332046727 + ($xd + 0.5) * ln($xd) - $xd" +
        s" + 1.0/(12.0*$xd) - 1.0/(360.0*$xd*$xd*$xd)" +
        s" + 1.0/(1260.0*$xd*$xd*$xd*$xd*$xd) - 1.0/(1680.0*$xd*$xd*$xd*$xd*$xd*$xd*$xd)"
    s"(CASE ${cases.mkString(" ")} ELSE $stirling END)"
  }

  /** Fisher's exact test template — ONE text for both engines. The 2×2
    * table is purchase-vs-error × low-k-vs-high-k; the two-sided p-value
    * sums hypergeometric probabilities of every table at least as
    * extreme as the observed one (prob ≤ observed,
    * the standard definition). Numerics: cell counts are exact
    * integers; log-probabilities come from [[lnFactSql]] (identical
    * trees); the mirror table's probability is ANALYTICALLY equal to
    * the observed one but computed in floats, so inclusion carries a
    * 1e-9 log-domain slack; and the num/den mass sums accumulate
    * DECIMAL(38,30) (exact under any partition order — the
    * `stat_anova_f` convention) after a max-shifted exp that also
    * cancels any shared Stirling bias. Scale shape: one scan for the
    * cells, then the enumeration is MARGIN-sized (min(r1,c1)+1 rows —
    * ~20k at sf0.1) and every per-table term is a narrow map; nothing
    * quadratic, nothing driver-side. */
  private def fisherSql(events: String, dl: Dialect): String = {
    // `lp` is consumed THREE times (obs/mx/terms) and each plain-CTE
    // re-expansion re-evaluates the whole enumeration with its nine
    // ln-factorial CASE ladders; `cells` is consumed twice.
    // Allocation-lean oracle texts keep a single-connection replay
    // alive (r11).
    val mat = dl.mat
    val kx = dl.jsonLong("props", "$.k")
    val enumFrom = dl.seriesFrom("marg m", """
      |    CAST(greatest(0, c1 - r2) AS BIGINT),
      |    CAST(least(r1, c1) AS BIGINT)""".stripMargin, "ex", "x")
    val lf = lnFactSql _
    s"""WITH cells AS $mat(
       |  SELECT CAST(sum(CASE WHEN pos AND lowk THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |         CAST(sum(CASE WHEN pos AND NOT lowk THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(sum(CASE WHEN NOT pos AND lowk THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN NOT pos AND NOT lowk THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM (SELECT event_type = 'purchase' AS pos, $kx < 50 AS lowk
       |        FROM $events WHERE event_type IN ('purchase', 'error')) t),
       |marg AS (
       |  SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1, b + d AS c2,
       |         a + b + c + d AS n
       |  FROM cells),
       |enum AS (
       |  SELECT m.a, m.r1, m.r2, m.c1, m.c2, m.n, x
       |  $enumFrom),
       |lp AS $mat(
       |  SELECT x, a,
       |    ${lf("r1")} + ${lf("r2")} + ${lf("c1")} + ${lf("c2")} - ${lf("n")}
       |      - ${lf("x")} - ${lf("(r1 - x)")} - ${lf("(c1 - x)")}
       |      - ${lf("(r2 - c1 + x)")} AS l
       |  FROM enum),
       |obs AS (SELECT l AS lobs FROM lp WHERE x = a),
       |mx AS (SELECT max(l) AS m FROM lp),
       |terms AS (
       |  SELECT CAST(exp(l - m) AS DECIMAL(38,30)) AS t,
       |         l <= lobs + 1e-9 AS incl
       |  FROM lp, mx, obs),
       |sums AS (
       |  SELECT sum(t) AS den,
       |         sum(CASE WHEN incl THEN t ELSE CAST(0 AS DECIMAL(38,30)) END) AS num
       |  FROM terms)
       |SELECT a, b, c, d,
       |  round(((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5))
       |      / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)), 6) AS odds_ratio,
       |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS p_value
       |FROM cells, sums""".stripMargin
  }

  /** SPECTRAL ENTROPY template — normalized Shannon entropy of the
    * direct-DFT power spectrum over periods 2..96 (Goerg 2013 /
    * tsfeatures `entropy`): ≈1 ⇒ white noise (unforecastable), low ⇒
    * concentrated spectral mass (forecastable). The FORECASTABILITY
    * triage run before any `ml_*` fit. All sums DECIMAL-exact from
    * grid-rounded centered values and trig factors; entropy terms
    * re-gridded at 1e-9 before the cross-period sum so aggregation
    * order cannot drift.
    *
    * The grid hint (r16, engine-only): the (series × 95-period) DFT grid
    * inherits the window stage's per-series partitioning (≤ 5 tasks at
    * any width — the ts_matrix_profile AQE-coalescing class), so the
    * trig-term evaluation ran near-serial. The engine passes a
    * `REPARTITION(g, p)` hint so the per-(series, period) cos/sin terms
    * spread across the session's shuffle width; the DECIMAL term sums
    * are order-free, so the hint cannot move a bit. `width` is the
    * session's shuffle width: without an explicit count AQE treats the
    * keyed repartition as coalescable and folds the tiny grid shuffle
    * back to ~1 partition (r17). */
  private def spectralEntropySql(events: String, dl: Dialect,
                                 width: => Int): String =
    s"""WITH b AS (
       |  SELECT event_type AS g, (${dl.bucket}) AS bucket, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
       |  FROM $events GROUP BY 1, 2),
       |st AS (
       |  SELECT g, bucket, CAST(px AS DECIMAL(18,6)) AS pxd,
       |    row_number() OVER (PARTITION BY g ORDER BY bucket) - 1 AS t
       |  FROM b),
       |mu AS (
       |  SELECT g, round(CAST(sum(pxd) AS DOUBLE) / count(*), 6) AS mu
       |  FROM st GROUP BY g),
       |cent AS (
       |  SELECT st.g AS g, t,
       |    CAST(round(CAST(pxd AS DOUBLE) - mu, 6) AS DECIMAL(18,6)) AS c
       |  FROM st JOIN mu ON st.g = mu.g),
       |grid AS (
       |  SELECT ${dl.hint(s"REPARTITION($width, g, p)")} g, t, c, p
       |  ${dl.seriesFrom("cent", "2, 96", "pe", "p")}),
       |trig AS (
       |  SELECT g, p,
       |    sum(c * CAST(round(cos(CAST(6.283185307179586 AS DOUBLE)
       |      * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)), 6) AS DECIMAL(18,6))) AS a,
       |    sum(c * CAST(round(sin(CAST(6.283185307179586 AS DOUBLE)
       |      * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)), 6) AS DECIMAL(18,6))) AS bb
       |  FROM grid GROUP BY g, p),
       |pw AS (
       |  SELECT g, p,
       |    CAST(round(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
       |      + CAST(bb AS DOUBLE) * CAST(bb AS DOUBLE), 6) AS DECIMAL(28,6)) AS pw
       |  FROM trig),
       |tot AS (SELECT g, sum(pw) AS tp, count(*) AS np FROM pw GROUP BY g),
       |q AS (
       |  SELECT pw.g AS g, p, pw, np,
       |    CAST(pw AS DOUBLE) / CAST(tp AS DOUBLE) AS q
       |  FROM pw JOIN tot ON pw.g = tot.g),
       |hterm AS (
       |  SELECT g, np,
       |    CAST(round(CASE WHEN q <= 0.0 THEN 0.0 ELSE -q * ln(q) END, 9)
       |      AS DECIMAL(20,9)) AS h
       |  FROM q),
       |peak AS (
       |  SELECT g, p AS peak_period FROM (
       |    SELECT g, p, row_number() OVER (PARTITION BY g ORDER BY pw DESC, p) AS rk
       |    FROM pw) rkt WHERE rk = 1),
       |ent AS (
       |  SELECT g, CAST(max(np) AS BIGINT) AS n_periods,
       |    round(CAST(sum(h) AS DOUBLE) / ln(CAST(max(np) AS DOUBLE)), 6)
       |      AS spectral_entropy
       |  FROM hterm GROUP BY g)
       |SELECT ent.g AS event_type, n_periods, peak_period, spectral_entropy
       |FROM ent JOIN peak ON ent.g = peak.g
       |ORDER BY event_type""".stripMargin

  /** HIERARCHICAL FORECAST RECONCILIATION template (Hyndman et al.
    * 2011, bottom-up / top-down over the event_type → total hierarchy):
    * daily-seasonal-naive forecasts (lag 4 over 6-hour bars — grain and
    * lag chosen so complete buckets exist at every SF) on the last 12
    * complete buckets,
    * scored four ways — series-level naive vs top-down allocation of
    * the direct total forecast (historical train shares), and
    * total-level bottom-up sum vs direct. The COHERENCE question
    * (forecast the parts and add, or forecast the whole and split) a
    * forecasting deployment over any hierarchy must answer. Grid
    * absolute errors summed in DECIMAL. */
  private def reconcileSql(events: String, dl: Dialect): String = {
    // b/sb/tt/tr/test/ttest all have 2+ consumers (DuckDB materialized:
    // 133 MB -> 22 MB, identical result; the r11 map-exhaustion class)
    val mat = dl.mat
    s"""WITH b AS $mat(
       |  SELECT event_type AS g, (${dl.tsDiv(21600000000000L)}) AS bucket,
       |    CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS DECIMAL(18,6)) AS px
       |  FROM $events GROUP BY 1, 2),
       |comp AS $mat(SELECT bucket FROM b GROUP BY bucket
       |  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM $events)),
       |sb AS $mat(
       |  SELECT g, b.bucket AS bucket, px,
       |    row_number() OVER (PARTITION BY g ORDER BY b.bucket) AS rn,
       |    count(*) OVER (PARTITION BY g) AS n
       |  FROM b JOIN comp ON b.bucket = comp.bucket),
       |tt AS $mat(
       |  SELECT bucket, tot,
       |    row_number() OVER (ORDER BY bucket) AS rn, count(*) OVER () AS n
       |  FROM (SELECT bucket, sum(px) AS tot FROM sb GROUP BY bucket) t0),
       |tr AS $mat(SELECT g, sum(px) AS sp FROM sb WHERE rn <= n - 12 GROUP BY g),
       |trt AS $mat(SELECT sum(sp) AS stt FROM tr),
       |share AS $mat(
       |  SELECT g, CAST(sp AS DOUBLE) / CAST(stt AS DOUBLE) AS sh FROM tr, trt),
       |test AS $mat(
       |  SELECT cur.g AS g, cur.bucket AS bucket, cur.px AS actual,
       |    prev.px AS f_naive
       |  FROM sb cur JOIN sb prev ON cur.g = prev.g AND prev.rn = cur.rn - 4
       |  WHERE cur.rn > cur.n - 12),
       |ttest AS $mat(
       |  SELECT cur.bucket AS bucket, cur.tot AS actual_tot, prev.tot AS f_direct
       |  FROM tt cur JOIN tt prev ON prev.rn = cur.rn - 4
       |  WHERE cur.rn > cur.n - 12),
       |bu AS $mat(SELECT bucket, sum(f_naive) AS f_bu FROM test GROUP BY bucket),
       |toterr AS (
       |  SELECT 'total' AS level, 'bottom_up' AS method,
       |    round(CAST(sum(CAST(round(abs(CAST(f_bu AS DOUBLE)
       |      - CAST(actual_tot AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS mae
       |  FROM bu JOIN ttest ON bu.bucket = ttest.bucket
       |  UNION ALL
       |  SELECT 'total', 'direct',
       |    round(CAST(sum(CAST(round(abs(CAST(f_direct AS DOUBLE)
       |      - CAST(actual_tot AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6)
       |  FROM ttest),
       |serr AS (
       |  SELECT 'series' AS level, 'naive' AS method,
       |    round(CAST(sum(CAST(round(abs(CAST(f_naive AS DOUBLE)
       |      - CAST(actual AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS mae
       |  FROM test
       |  UNION ALL
       |  SELECT 'series', 'top_down',
       |    round(CAST(sum(CAST(round(abs(CAST(f_direct AS DOUBLE) * sh
       |      - CAST(actual AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6)
       |  FROM test
       |  JOIN ttest ON test.bucket = ttest.bucket
       |  JOIN share ON test.g = share.g)
       |SELECT level, method, mae FROM toterr
       |UNION ALL SELECT level, method, mae FROM serr
       |ORDER BY level, method""".stripMargin
  }

  /** THETA-METHOD template (Assimakopoulos & Nikolopoulos 2000 — the
    * M3-competition winner): decompose each series into the θ=0 line
    * (the OLS linear trend, carrying ALL long-run signal) and the θ=2
    * line Z₂ = 2X − trend (double the local curvature), extrapolate the
    * trend exactly and the θ=2 line by SES (the house truncated-EWMA,
    * α=0.3, depth 40), forecast = their equal-weight average. Completes
    * the classical family (naive/seasonal/drift → Holt-Winters → AR/
    * SARIMA/VAR → Croston → Theta). OLS moments are DECIMAL/integer-
    * exact; Z₂ re-grids at 1e-6 before smoothing; per-series windows
    * throughout. */
  private def thetaSql(events: String, dl: Dialect): String = {
    val (sN, sD) = emaTruncSqlPair("z2", "w", 0.3, 40)
    s"""WITH b AS (
       |  SELECT event_type AS g, (${dl.bucket}) AS bucket,
       |    CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS DECIMAL(18,6)) AS x
       |  FROM $events GROUP BY 1, 2),
       |st AS (
       |  SELECT g, bucket, x,
       |    CAST(row_number() OVER (PARTITION BY g ORDER BY bucket) - 1 AS BIGINT) AS t
       |  FROM b),
       |mom AS (
       |  SELECT g, CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x * t) AS DOUBLE) AS sxt,
       |    CAST(sum(t) AS DOUBLE) AS stt, CAST(sum(t * t) AS DOUBLE) AS st2
       |  FROM st GROUP BY g),
       |ab AS (
       |  SELECT g, n,
       |    (n * sxt - stt * sx) / (n * st2 - stt * stt) AS slope,
       |    (sx - (n * sxt - stt * sx) / (n * st2 - stt * stt) * stt) / n
       |      AS intercept
       |  FROM mom),
       |z AS (
       |  SELECT st.g AS g, bucket, t, n, slope, intercept,
       |    round(2.0 * CAST(x AS DOUBLE) - (intercept + slope * t), 6) AS z2
       |  FROM st JOIN ab ON st.g = ab.g),
       |e AS (
       |  SELECT g, t, n, slope, intercept,
       |    $sN / $sD AS ses
       |  FROM z
       |  WINDOW w AS (PARTITION BY g ORDER BY bucket))
       |SELECT g AS event_type, CAST(n AS BIGINT) AS n_obs,
       |  round(intercept, 6) AS intercept, round(slope, 6) AS slope,
       |  round(ses, 6) AS ses_theta2,
       |  round(0.5 * (intercept + slope * n) + 0.5 * ses, 6) AS forecast_next
       |FROM e WHERE t = CAST(n AS BIGINT) - 1
       |ORDER BY event_type""".stripMargin
  }

  /** DAILY VOLUME ANOMALY CENSUS (`dq_volume_anomaly`, r11): the
    * monitoring question `dq_freshness_sla` doesn't answer — a source
    * can be FRESH yet silently half-empty (an upstream filter deployed
    * wrong) or doubled (a replay). Robust center/scale: per-day event
    * counts (integers) against the median ± 3·MAD band — median and MAD
    * as EXACT order statistics carried at 2× and 4× so no half or
    * quarter ever materializes (med2 = sum of the two middle counts;
    * dev2 = |2n − med2| integer; mad4 = sum of the two middle dev2s),
    * and the anomaly decision is pure INTEGER cross-multiplication
    * `2·dev2 > 3·mad4` ⟺ |n − med| > 3·MAD. Day key is the integer ns
    * day index (no DATE rendering divergence). Output medians/MADs are
    * output-only grid-6 doubles. One aggregation + two bounded
    * |days|-frame windows; flags fire 2/30 at sf0.01 (discriminating,
    * verified in-wave). */
  /** The median±3·MAD assembly over a per-day count frame `daysRef` —
    * split out (r12) so the streaming twin `stream_volume_anomaly`
    * can run the SAME expressions over its Update-mode count snapshot;
    * the batch text below is byte-identical to the pre-split form, so
    * the hash is pinned. */
  def volumeAssembleSql(daysRef: String, dl: Dialect): String = {
    def idiv(e: String) = s"($e) ${dl.div} 2"
    s"""st AS (
       |  SELECT day, n,
       |    row_number() OVER (ORDER BY n ASC, day ASC) AS rn,
       |    (SELECT CAST(count(*) AS BIGINT) FROM $daysRef) AS nn
       |  FROM $daysRef),
       |med AS (
       |  SELECT
       |    CAST(sum(CASE WHEN rn = ${idiv("nn + 1")} THEN n ELSE 0 END)
       |      + sum(CASE WHEN rn = ${idiv("nn + 2")} THEN n ELSE 0 END)
       |      AS BIGINT) AS med2
       |  FROM st),
       |devs AS (
       |  SELECT st.day, st.n, st.nn, abs(2 * st.n - med.med2) AS dev2,
       |    med.med2
       |  FROM st CROSS JOIN med),
       |dst AS (
       |  SELECT devs.*,
       |    row_number() OVER (ORDER BY dev2 ASC, day ASC) AS drn
       |  FROM devs),
       |mad AS (
       |  SELECT
       |    CAST(sum(CASE WHEN drn = ${idiv("nn + 1")} THEN dev2 ELSE 0 END)
       |      + sum(CASE WHEN drn = ${idiv("nn + 2")} THEN dev2 ELSE 0 END)
       |      AS BIGINT) AS mad4
       |  FROM dst)
       |SELECT dst.day, dst.n AS n_events,
       |  round(CAST(dst.med2 AS DOUBLE) / 2, 6) AS median_volume,
       |  round(CAST(mad.mad4 AS DOUBLE) / 4, 6) AS mad_volume,
       |  2 * dst.dev2 > 3 * mad.mad4 AS anomaly
       |FROM dst CROSS JOIN mad
       |ORDER BY day""".stripMargin
  }

  private def volumeAnomalySql(events: String, dl: Dialect): String =
    s"""WITH days AS (
       |  SELECT ${dl.day} AS day, CAST(count(*) AS BIGINT) AS n
       |  FROM $events GROUP BY 1),
       |${volumeAssembleSql("days", dl)}""".stripMargin

  /** Null-aware truncated-EWMA term pair (numerator, denominator) — the
    * `ewma_halflife` convention generated as SHARED SQL text: depth-D
    * lag expansion with weights (1−α)^i, null lags renormalized out.
    * Both engines parse the same string, so the left-associated term
    * chains are identical double trees. `lag(c, 0)` is the row itself. */
  private def emaTruncSqlPair(c: String, win: String, alpha: Double,
                              depth: Int): (String, String) = {
    // weights as explicit DOUBLE casts: a bare high-precision literal
    // parses as DECIMAL in both engines, and their 40-term decimal sum
    // chains rescale DIFFERENTLY (Spark drops scale on precision
    // overflow) — observed as a 1e-6-relative p_hat drift before the cast
    val ts = (0 until depth).map { i =>
      val wi = math.pow(1.0 - alpha, i)
      val l = if (i == 0) c else s"lag($c, $i) OVER $win"
      (s"CASE WHEN $l IS NULL THEN 0.0 ELSE CAST($wi AS DOUBLE) * $l END",
        s"CASE WHEN $l IS NULL THEN 0.0 ELSE CAST($wi AS DOUBLE) END")
    }
    (ts.map(_._1).mkString("(", " + ", ")"), ts.map(_._2).mkString("(", " + ", ")"))
  }

  /** Croston template — ONE text for both engines. */
  private def crostonSql(lineitem: String, dl: Dialect): String = {
    val dayExpr = dl.epochDay("CAST(l_shipdate AS DATE)")
    val (zN, zD) = emaTruncSqlPair("q", "w", 0.1, 40)
    val (pN, pD) = emaTruncSqlPair("iv", "w", 0.1, 40)
    s"""WITH d AS (
       |  SELECT l_partkey AS part, $dayExpr AS day,
       |    CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
       |      AS DOUBLE) AS q
       |  FROM $lineitem GROUP BY 1, 2),
       |top5 AS (
       |  SELECT part FROM (
       |    SELECT part, row_number() OVER (ORDER BY count(*) DESC, part) AS rk
       |    FROM d GROUP BY part) t
       |  WHERE rk <= 5),
       |s AS (
       |  SELECT d.part AS part, day, q,
       |    row_number() OVER w AS rn,
       |    count(*) OVER (PARTITION BY d.part) AS n_points,
       |    CAST(day - lag(day, 1) OVER w AS DOUBLE) AS iv
       |  FROM d JOIN top5 ON d.part = top5.part
       |  WINDOW w AS (PARTITION BY d.part ORDER BY day)),
       |e AS (
       |  SELECT part, n_points, rn,
       |    $zN / $zD AS z_hat,
       |    $pN / $pD AS p_hat
       |  FROM s
       |  WINDOW w AS (PARTITION BY part ORDER BY day))
       |SELECT part, CAST(n_points AS BIGINT) AS n_points,
       |  round(z_hat, 6) AS z_hat, round(p_hat, 6) AS p_hat,
       |  round(z_hat / p_hat, 6) AS croston_forecast
       |FROM e WHERE rn = n_points ORDER BY part""".stripMargin
  }

  /** Mahalanobis template — per-user 3-feature vectors, DECIMAL-exact
    * moment sums, population covariance, closed-form 3×3 Cramer
    * inverse, quadratic-form distances: every float op is one shared
    * expression tree. */
  private def mahalanobisSql(events: String, dl: Dialect): String = {
    val kx = dl.jsonLong("props", "$.k")
    s"""WITH f AS (
       |  SELECT user_id,
       |    CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
       |        AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS f1,
       |    CAST(round(ln(CAST(count(*) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS f2,
       |    CAST(round(CAST(sum($kx) AS DOUBLE) / count(*), 6)
       |      AS DECIMAL(18,6)) AS f3
       |  FROM $events GROUP BY user_id),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(f1) AS DOUBLE) AS s1, CAST(sum(f2) AS DOUBLE) AS s2,
       |    CAST(sum(f3) AS DOUBLE) AS s3,
       |    CAST(sum(f1 * f1) AS DOUBLE) AS s11, CAST(sum(f1 * f2) AS DOUBLE) AS s12,
       |    CAST(sum(f1 * f3) AS DOUBLE) AS s13, CAST(sum(f2 * f2) AS DOUBLE) AS s22,
       |    CAST(sum(f2 * f3) AS DOUBLE) AS s23, CAST(sum(f3 * f3) AS DOUBLE) AS s33
       |  FROM f),
       |c AS (
       |  SELECT n, s1 / n AS mu1, s2 / n AS mu2, s3 / n AS mu3,
       |    s11 / n - (s1 / n) * (s1 / n) AS c11,
       |    s12 / n - (s1 / n) * (s2 / n) AS c12,
       |    s13 / n - (s1 / n) * (s3 / n) AS c13,
       |    s22 / n - (s2 / n) * (s2 / n) AS c22,
       |    s23 / n - (s2 / n) * (s3 / n) AS c23,
       |    s33 / n - (s3 / n) * (s3 / n) AS c33
       |  FROM m),
       |inv AS (
       |  SELECT mu1, mu2, mu3,
       |    (c22 * c33 - c23 * c23) / det AS i11,
       |    (c13 * c23 - c12 * c33) / det AS i12,
       |    (c12 * c23 - c13 * c22) / det AS i13,
       |    (c11 * c33 - c13 * c13) / det AS i22,
       |    (c13 * c12 - c11 * c23) / det AS i23,
       |    (c11 * c22 - c12 * c12) / det AS i33
       |  FROM (SELECT c.*,
       |    c11 * (c22 * c33 - c23 * c23) - c12 * (c12 * c33 - c23 * c13)
       |      + c13 * (c12 * c23 - c22 * c13) AS det
       |    FROM c) cd),
       |dist AS (
       |  SELECT user_id,
       |    CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
       |    CAST(f3 AS DOUBLE) AS f3,
       |    (CAST(f1 AS DOUBLE) - mu1) * (CAST(f1 AS DOUBLE) - mu1) * i11
       |      + (CAST(f2 AS DOUBLE) - mu2) * (CAST(f2 AS DOUBLE) - mu2) * i22
       |      + (CAST(f3 AS DOUBLE) - mu3) * (CAST(f3 AS DOUBLE) - mu3) * i33
       |      + 2.0 * ((CAST(f1 AS DOUBLE) - mu1) * (CAST(f2 AS DOUBLE) - mu2) * i12
       |        + (CAST(f1 AS DOUBLE) - mu1) * (CAST(f3 AS DOUBLE) - mu3) * i13
       |        + (CAST(f2 AS DOUBLE) - mu2) * (CAST(f3 AS DOUBLE) - mu3) * i23)
       |      AS d2
       |  FROM f, inv)
       |SELECT user_id, f1, f2, f3, round(d2, 6) AS mahal_sq,
       |  round(d2, 6) > 9.348404 AS is_outlier_975
       |FROM dist
       |ORDER BY round(d2, 6) DESC, user_id LIMIT 10""".stripMargin
  }


  /** Shared DuckDB twin for BOTH the batch RANGE-window burst query and
    * its streaming CEP twin — streaming ≡ batch is the contract. */
  private val errorBurstSql: String =
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns FROM events
        |  WHERE event_type = 'error'),
        |c AS (
        |  SELECT user_id, ts_ns, count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts_ns
        |    RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW) AS n_1h
        |  FROM e),
        |q AS (SELECT user_id, ts_ns FROM c WHERE n_1h >= 2),
        |ep AS (
        |  SELECT user_id, ts_ns,
        |    CASE WHEN lag(ts_ns, 1) OVER (PARTITION BY user_id ORDER BY ts_ns)
        |           IS NULL
        |         OR ts_ns - lag(ts_ns, 1) OVER (PARTITION BY user_id ORDER BY ts_ns)
        |           > 3600000000000
        |      THEN 1 ELSE 0 END AS new_episode
        |  FROM q)
        |SELECT user_id, sum(new_episode)::BIGINT AS n_bursts,
        |  count(*)::BIGINT AS n_burst_rows,
        |  min(ts_ns)::BIGINT AS first_burst_ns, max(ts_ns)::BIGINT AS last_burst_ns
        |FROM ep GROUP BY user_id ORDER BY user_id""".stripMargin


  // ------------------------------------------------------------------

  private[graft] lazy val shared: Map[String, Shared] = Map(
    /** The robust volume band — see `volumeAnomalySql` (one shared
      * template): per-day counts vs median ± 3·MAD with every decision
      * integer cross-multiplied. */
    "dq_volume_anomaly" -> Shared.sql((dl, t) => volumeAnomalySql(t("events"), dl)),

    /** FISHER'S EXACT TEST (2×2) — the small-cell-safe sibling of
      * `stat_chi2_independence`: is a purchase (vs error) independent of
      * the payload band k<50? Runs the SHARED template through
      * `spark.sql` (see [[fisherSql]] — enumeration is margin-sized,
      * log-factorials via the shared Stirling/lookup expression, mass
      * sums DECIMAL-exact). */
    "stat_fisher_exact" -> Shared.sql((dl, t) => fisherSql(t("events"), dl)),

    /** CROSTON'S METHOD (Croston 1972) — the forecaster for INTERMITTENT
      * demand, which is what per-part order streams actually look like
      * (most parts sell on a minority of days; an SES/ARIMA fit on the
      * zero-padded series biases toward zero): separate truncated-EWMA
      * smoothing of nonzero demand SIZES and inter-demand INTERVALS,
      * forecast = z/p demand per day. Runs on the top-5 most-regularly-
      * ordered parts via ONE shared SQL template; demand collapse is one
      * keyed DECIMAL aggregation, smoothing is per-part partitioned
      * windows under the `ewma_halflife` lag-expansion convention. Commodity-demand planning is the
      * reference's own domain. */
    "ml_croston" -> Shared.sql((dl, t) => crostonSql(t("lineitem"), dl)),

    /** MAHALANOBIS MULTIVARIATE OUTLIERS — the correlated-feature
      * anomaly score `ts_outlier_hampel` (univariate) and
      * `ml_isolation_forest` (tree-based, rows-only) bracket: per-user
      * 3-feature vectors (mean value, ln activity, mean payload),
      * population covariance from DECIMAL-exact moment sums, the 3×3
      * inverse in CLOSED FORM (Cramer adjugate — no iterative solver,
      * so the whole statistic is one shared expression tree and the
      * query is FULL-ORACLE where the 6×6-breeze
      * `ml_influence_diagnostics` had to stay rows-only), quadratic-form
      * distances, χ²₃(0.975) flag decided on the 1e-6 grid. One keyed
      * aggregation + a broadcast 1-row moment frame — nothing iterative,
      * nothing driver-side. */
    "ml_anomaly_mahalanobis" -> Shared.sql((dl, t) => mahalanobisSql(t("events"), dl)),

    /** Theta-method forecast — see [[thetaSql]]. */
    "ml_theta_forecast" -> Shared.sql((dl, t) => thetaSql(t("events"), dl)),

    /** Spectral entropy — see [[spectralEntropySql]]; the grid hint's
      * partition count is the session's shuffle width, which a
      * deployment sizes. */
    "ts_spectral_entropy" -> Shared((s, t) => s.sql(spectralEntropySql(t("events"),
      Dialect.Spark, s.sessionState.conf.numShufflePartitions)))(
      (dl, t) => spectralEntropySql(t("events"), dl, SQLConf.get.numShufflePartitions)),

    /** Hierarchical forecast reconciliation — see [[reconcileSql]]. */
    "ml_hierarchical_reconcile" -> Shared.sql((dl, t) => reconcileSql(t("events"), dl)))

  val qs: Map[String, Q] = Map[String, Q](

    /** WEIGHT-OF-EVIDENCE ENCODING + information value — the credit-risk
      * categorical encoding (Siddiqi 2006) this registry's
      * `feature_target_encode_oof` is the mean-target sibling of: per
      * k-decile band, WoE = ln(P(band|positive)/P(band|negative)) with
      * Laplace 0.5 on the band cells (never a ±∞ WoE from an empty
      * cell), and the band's information-value term. Positives are
      * purchase events. ONE keyed aggregation over the fact; totals ride
      * an unpartitioned window over the BAND-sized frame (10 rows — the
      * repo's bounded-frame window convention). Counts are exact
      * integers, so both engines divide identical operands. */
    "feature_woe_encode" -> ((s, d) => {
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select((kCol / 10).cast("long").as("band"),
          (col("event_type") === "purchase").cast("int").as("pos"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
        .withColumn("tp", sum("n_pos").over(w))
        .withColumn("tn", sum("n_neg").over(w))
        .select(col("band"), col("n"), col("n_pos"), col("n_neg"),
          // `+ 0.0` after round(): both woe and iv_term are sign-indefinite
          // near zero, and DuckDB's round() is sign-preserving (-1e-8 → -0.0)
          // while Spark's BigDecimal path yields +0.0 — IEEE -0.0 + 0.0 = +0.0
          // normalizes the bit pattern on both sides (r8 hash-mismatch fix).
          (round(log(((col("n_pos") + 0.5) / col("tp")) /
            ((col("n_neg") + 0.5) / col("tn"))), 6) + 0.0).as("woe"),
          (round((col("n_pos") / col("tp") - col("n_neg") / col("tn")) *
            log(((col("n_pos") + 0.5) / col("tp")) /
              ((col("n_neg") + 0.5) / col("tn"))), 6) + 0.0).as("iv_term"))
        .orderBy("band")
    }),

    /** THE HASHING TRICK (Weinberger et al. 2009) — fixed-width
      * featurization with NO vocabulary pass: feature string
      * `event_type:k` → md5 → bucket (first 8 hex digits mod 32) and
      * sign (9th hex digit parity), the signed-sum collision correction
      * of the original paper. md5 is the house cross-engine hash (the
      * `corpus_mixture_sample` convention — DuckDB replays it exactly,
      * unlike xxhash64). Two-phase: per-FEATURE counts first (wordcount
      * shape, map-side combine), then the 32-bucket collapse; the output
      * is the bucket census a serving layer ships. At 100 TB this is
      * the one featurizer whose memory is O(width), not O(vocabulary). */
    "feature_hashing_trick" -> ((s, d) =>
      Tables.events(s, d)
        .select(concat(col("event_type"), lit(":"), kCol.cast("string")).as("f"))
        .groupBy("f").agg(count(lit(1)).as("cnt"))
        .select(col("f"), col("cnt"),
          (expr("conv(substring(md5(f), 1, 8), 16, 10)").cast("long") % 32).as("bucket"),
          when(expr("conv(substring(md5(f), 9, 1), 16, 10)").cast("long") % 2 === 0, 1L)
            .otherwise(-1L).as("sign"))
        .groupBy("bucket")
        .agg(sum(col("sign") * col("cnt")).as("signed_count"),
          count(lit(1)).as("n_features"), sum("cnt").as("n_rows"))
        .orderBy("bucket")),

    /** FRESHNESS SLA — the per-stream staleness census a pipeline's
      * on-call reads first (is any source LAGGING the watermark?):
      * per event type, last-arrival timestamp, total volume, the lag
      * behind the GLOBAL watermark (max ts over all types) in integer
      * minutes, and a 30-minute SLA flag — every value and every
      * decision pure INTEGER ns arithmetic (no clock, no double). The
      * watermark attaches via an unpartitioned window over the
      * |event-types|-bounded frame. */
    "dq_freshness_sla" -> ((s, d) =>
      Feat.freshnessAssemble(
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(max(col("ts_ns")).as("last_ts_ns"),
            count(lit(1)).as("n_events")))),


    /** SNAPSHOT DRIFT AUDIT — the before/after profile diff a pipeline
      * runs when a new data drop lands (this repo lived the failure mode
      * it guards: the harness regenerated `/root/testdata` mid-round-7
      * and every span-sensitive query moved — BENCH_TRIAGE_r07.md). The
      * fact is split at its integer midpoint day (exact arithmetic on
      * epoch days); each half's profile — rows, distinct users, distinct
      * types, value mean, k mean — is computed by CONDITIONAL aggregates
      * in ONE scan (no second pass, no self-join), means divide
      * DECIMAL/integer-exact sums, and the long-form metric table is an
      * unpivot of the single profile row. `drift_psi`/`drift_ks` are the
      * distribution-shape siblings; this is the schema-level census. */
    "dq_schema_drift" -> ((s, d) => {
      val ev = schemaDriftFrame(Tables.events(s, d))
      val mid = ev.agg(((min("day") + max("day") + 1) / 2).cast("long").as("mid"))
      val early = col("day") < col("mid")
      val prof = ev.crossJoin(broadcast(mid))
        .agg(
          sum(when(early, 1L).otherwise(0L)).as("rows_b"),
          sum(when(!early, 1L).otherwise(0L)).as("rows_a"),
          countDistinct(when(early, col("user_id"))).as("users_b"),
          countDistinct(when(!early, col("user_id"))).as("users_a"),
          countDistinct(when(early, col("event_type"))).as("types_b"),
          countDistinct(when(!early, col("event_type"))).as("types_a"),
          sum(when(early, col("v"))).as("sv_b"),
          sum(when(!early, col("v"))).as("sv_a"),
          sum(when(early, col("k")).otherwise(0L)).as("sk_b"),
          sum(when(!early, col("k")).otherwise(0L)).as("sk_a"))
      schemaDriftAssemble(prof)
    }),

    /** MATRIX PROFILE (Yeh et al. 2016) — per-series all-subsequence
      * nearest neighbors over z-normalized hourly bars (m = 24 ≅ one
      * day): the motif-and-discord primitive of modern time-series
      * mining (min of the profile = the series' best-repeated day;
      * max = its most anomalous one). Shape: windows built by ONE
      * partitioned frame-collect; the pair stage is the BLOCKED
      * self-join of the distributed brute-force kNN family (each
      * window replicated once per 256-window target block, so
      * parallelism is block-pairs — never one task per series;
      * exclusion zone |i−j| ≥ m/2 drops trivial matches), and the
      * per-window argmin is a (series, i)-keyed window rank. Per-series
      * work is inherently O(n²m) for exact profiles — the scale levers
      * are the block grid here and per-partition STOMP once a single
      * series outgrows a task. Numerics: dot/Σ/Σ² accumulate
      * DECIMAL (exact under any order) from 1e-6-grid bars; μ/σ/dist
      * are identical double trees in both engines; degenerate
      * (σ ≈ 0) windows are excluded by a shared rule. */
    "ts_matrix_profile" -> ((s, d) => {
      val m = 24
      val bars = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .withColumn("bucket", expr("ts_ns div 3600000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("y"))
        .withColumn("v", col("y").cast("decimal(18,6)"))
        .withColumn("idx", row_number().over(
          Window.partitionBy("event_type").orderBy("bucket")))
      val frame = Window.partitionBy("event_type").orderBy("idx")
        .rowsBetween(Window.currentRow, m - 1)
      val win = bars
        .withColumn("arr", collect_list(col("v")).over(frame))
        .withColumn("sv", sum(col("v")).over(frame))
        .withColumn("sv2", sum(col("v") * col("v")).over(frame))
        .filter(size(col("arr")) === m)
        .withColumn("mu", col("sv").cast("double") / lit(24.0))
        .withColumn("sig", sqrt(greatest(
          col("sv2").cast("double") / lit(24.0) - col("mu") * col("mu"), lit(0.0))))
        .filter(col("sig") > 1e-9)
        // Block size 256 and an EXPLICIT-N repartition on the block key
        // (guide §2.2/§2.5): the pair stage's shuffle input is only ~1 MB
        // of window rows, so AQE's size-based coalescing folded it to ONE
        // partition — and then the stage exploded to n²/2 pair-rows, each
        // paying the 24-term decimal fold, single-threaded (profiled: an
        // 11.5 s one-task stage, the query's whole cost). The explicit
        // partition count pins the fan-out stage at the session's shuffle
        // width (scale-adaptive: a deploy sizes
        // spark.sql.shuffle.partitions). r16 shipped block 64, which
        // QUADRUPLED the replicated a-side shuffle (each window row
        // copies to n/B target blocks carrying the 24-decimal array) and
        // collapsed under 32 concurrent tasks in one heap (60.3 s cold at
        // local[32] vs 3.8 s at local[8] — guide §5 memory-pressure
        // cliff). Block 256 keeps replication at the r15 level while the
        // explicit width still fixes the one-task serialization; the
        // enumerated pair SET is block-size-independent (each (a,b)
        // appears exactly once: a rides to target block tb, matches when
        // tb = b.blk).
        .select(col("event_type").as("g"), col("idx"), col("arr"),
          col("mu"), col("sig"), (col("idx") / 256).cast("long").as("blk"))
      val nBlk = win.groupBy("g").agg(max("blk").as("max_blk"))
      val shuffleP = s.sessionState.conf.numShufflePartitions
      val left = win.join(broadcast(nBlk), "g")
        .withColumn("tb", explode(expr("sequence(0L, max_blk)")))
        .repartition(shuffleP, col("g"), col("tb"))
      val pairs = left.as("a")
        .join(win.repartition(shuffleP, col("g"), col("blk")).as("b"),
          col("a.g") === col("b.g") && col("a.tb") === col("b.blk") &&
            abs(col("a.idx") - col("b.idx")) >= m / 2)
      // dot as an IN-ROW decimal fold — no positional explode, no 24×
      // pair-row blow-up through a hash aggregate (A/B: the explode+
      // groupBy form pushed ~22M rows through a shuffle-side aggregate
      // and was the query's whole cost). Exactness is preserved by
      // explicit casts that keep scale 12 with integer headroom 1e18
      // (|v| ≤ 1e3 ⇒ |dot| ≤ 1e7): a bare `acc + p` at (38,12) would
      // trip Spark's precision-overflow rescale to scale 11 and drop
      // the 12th digit the DuckDB twin keeps.
      val dots = pairs
        .select(col("a.g").as("g"), col("a.idx").as("idx"), col("b.idx").as("j"),
          col("a.mu").as("mua"), col("b.mu").as("mub"),
          col("a.sig").as("siga"), col("b.sig").as("sigb"),
          expr(
            """aggregate(zip_with(a.arr, b.arr,
              |    (x, y) -> CAST(x * y AS DECIMAL(28,12))),
              |  CAST(0 AS DECIMAL(30,12)),
              |  (acc, p) -> CAST(acc + p AS DECIMAL(30,12)))""".stripMargin).as("dt"))
      dots
        .select(col("g"), col("idx"), col("j"),
          round(sqrt(greatest(lit(48.0) * (lit(1.0) -
            (col("dt").cast("double") - lit(24.0) * col("mua") * col("mub")) /
              (lit(24.0) * col("siga") * col("sigb"))), lit(0.0))), 6).as("dist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("g", "idx").orderBy(col("dist"), col("j"))))
        .filter(col("rk") === 1)
        .select(col("g").as("event_type"), col("idx"), col("j").as("nn_idx"),
          col("dist").as("nn_dist"))
        .orderBy("event_type", "idx")
    }),

    /** SHINGLE CONTAINMENT DEDUP — the ASYMMETRIC near-dup relation
      * whole-doc Jaccard misses (`dedup_ngram_jaccard`'s blind spot): a
      * short doc quoted inside a long one has high containment
      * C(A,B) = |S_A∩S_B|/|S_A| but low Jaccard (Broder 1997 defines
      * both). 5-gram shingles, distinct per doc; shingles with document
      * frequency > 50 are dropped BEFORE pairing (the Σdf² bound that
      * keeps the shingle equi-join linear in the corpus — boilerplate
      * grams are exactly the ones that would explode it, and both
      * sizes and intersections are defined over the capped universe so
      * the measure stays self-consistent). One shingle-keyed shuffle
      * generates candidates; both directions are reported per unordered
      * pair; the keep rule (max containment ≥ 0.6) is decided on the
      * 1e-6 grid. */
    "dedup_containment" -> ((s, d) => {
      val sh0 = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))")))
          .as("sh"))
      val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select("sh")
      val cap = sh0.join(rare, "sh")
      val sz = cap.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      cap.as("a").join(cap.hint("shuffle_hash").as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
        .join(sz.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
        .withColumn("containment_a",
          round(col("inter").cast("double") / col("n_a"), 6))
        .withColumn("containment_b",
          round(col("inter").cast("double") / col("n_b"), 6))
        .filter(greatest(col("containment_a"), col("containment_b")) >= 0.6)
        .select("id_a", "id_b", "inter", "n_a", "n_b",
          "containment_a", "containment_b")
        .orderBy("id_a", "id_b")
    }),

    /** DATA-SELECTION IMPORTANCE RESAMPLING (DSIR — Xie et al. 2023) —
      * the pretraining-mix selector one tier above the perplexity
      * filter: score every raw doc by how much more likely its hashed
      * unigram features are under a TARGET corpus (here the `en` slice)
      * than under the raw pool, then keep docs whose length-normalized
      * log-ratio is positive. Features are md5-hashed token buckets
      * (width 1024 — memory is O(width), never O(vocabulary); the
      * `feature_hashing_trick` posture), both LMs are one wordcount
      * aggregation, the per-bucket log-ratio λ is pre-rounded to the
      * 1e-6 grid, and per-doc Σλ accumulates DECIMAL (exact under any
      * partition order — stricter than the perplexity filter's double
      * sum). Output is the per-source audit: volume, kept, mean score. */
    "corpus_importance_resample" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .withColumn("b",
          expr("conv(substring(md5(token), 1, 8), 16, 10)").cast("long") % 1024)
      val rawC = tok.groupBy("b").agg(count(lit(1)).as("cr"))
      val tgtC = tok.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val lam = rawC.join(tgtC, Seq("b"), "left")
        .na.fill(0L, Seq("ct"))
      val tots = lam.agg(sum("cr").as("nr"), sum("ct").as("nt")).head()
      val (nr, nt) = (tots.getLong(0), tots.getLong(1))
      val lamR = lam.select(col("b"),
        round(log(((col("ct") + 0.5) / lit(nt + 0.5 * 1024)) /
          ((col("cr") + 0.5) / lit(nr + 0.5 * 1024))), 6)
          .cast("decimal(18,6)").as("lam"))
      tok.join(lamR, "b")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tok"), sum(col("lam")).as("slam"))
        .select(col("doc_id"), col("source"),
          round(col("slam").cast("double") / col("n_tok"), 6).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("kept"),
          round(sum(col("score").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_score"))
        .withColumn("keep_rate", round(col("kept").cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }),

    /** MOVING-BLOCK BOOTSTRAP CI (Künsch 1989) — the bootstrap that is
      * actually valid for AUTOCORRELATED data (`ml_bootstrap_ci` is the
      * iid form; on a dependent series it understates the variance):
      * the CI for the mean 30-minute log-return resamples CONTIGUOUS
      * blocks (L=24 ≅ half a day), preserving within-block dependence.
      * Scale shape: raw values are touched exactly once — every block's
      * sum is ONE windowed DECIMAL aggregation, and each of the B=200
      * resamples is a K-row join against that block-sum table (md5-
      * derived deterministic offsets both engines replay), so resample
      * cost is O(B·K) block rows, never O(B·n) values. CI bounds are
      * exact order statistics over the B resample means; the bootstrap
      * SE accumulates 1e-9-grid means in DECIMAL. */
    "ts_block_bootstrap" -> ((s, d) => {
      val (bB, lL) = (200, 24)
      val wOrd = Window.orderBy("bucket")
      val r = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("bucket").agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("rd", col("r").cast("decimal(18,6)"))
      val wBlk = Window.orderBy("rn").rowsBetween(Window.currentRow, lL - 1)
      val bs = r
        .withColumn("bsum", sum("rd").over(wBlk))
        .withColumn("cnt", count(lit(1)).over(wBlk))
        .filter(col("cnt") === lL)
        .select(col("rn").as("o"), col("bsum"))
      val bounds = r.agg(max("rn").cast("long").as("n_r"),
          sum("rd").as("sr"))
        .select(col("n_r"), col("sr"),
          (col("n_r") - (lL - 1)).as("n_off"),
          expr(s"(n_r + ${lL - 1}) div $lL").as("k_blocks"))
      val grid = s.range(1, bB + 1).select(col("id").as("b"))
        .crossJoin(broadcast(bounds))
        .withColumn("j", explode(expr("sequence(1L, k_blocks)")))
        .withColumn("o", expr(
          """CAST(conv(substring(md5(concat(CAST(b AS STRING), ':',
            |  CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)
            |  % n_off + 1""".stripMargin))
      val means = grid.join(bs, "o")
        .groupBy("b", "k_blocks")
        .agg((sum("bsum").cast("double") /
          (col("k_blocks") * lL).cast("double")).as("m"))
        .select(col("b"),
          round(col("m"), 9).cast("decimal(18,9)").as("md"))
        .withColumn("rk", row_number().over(Window.orderBy(col("md"), col("b"))))
      val ciLo = math.ceil(0.025 * bB).toInt
      val ciHi = math.ceil(0.975 * bB).toInt
      val boot = means.agg(
        count(lit(1)).as("n_resamples"),
        sum(col("md")).as("s1"), sum(col("md") * col("md")).as("s2"),
        min(when(col("rk") === ciLo, col("md"))).as("lo"),
        min(when(col("rk") === ciHi, col("md"))).as("hi"))
      boot.crossJoin(broadcast(bounds))
        .select(col("n_r").as("n_ret"), lit(lL).cast("long").as("block_len"),
          col("n_resamples"),
          round(col("sr").cast("double") / col("n_r"), 6).as("mean_ret"),
          round(col("lo").cast("double"), 6).as("ci_lo"),
          round(col("hi").cast("double"), 6).as("ci_hi"),
          round(sqrt(greatest(
            (col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / lit(bB.toDouble)) /
              lit((bB - 1).toDouble), lit(0.0))), 6).as("se_boot"))
    }),

    /** ROLLING MEDIAN (49-bar centered) per series — the robust smoother
      * beside `rolling_stats`' moments: a single level shift or outlier
      * run moves a rolling mean for the whole window but leaves the
      * median untouched until half the window crosses (`ts_outlier_hampel`
      * scores points against this same idea; this emits the smoothed
      * SERIES). Exact interpolated percentile over a partitioned row
      * frame — per-series windows, never a global sort. Both engines
      * interpolate linearly (Spark `percentile` ≡ DuckDB
      * `quantile_cont`) on identical 1e-6-grid inputs. */
    "ts_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(-24, 24)
      Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("roll_med", round(expr("percentile(px, 0.5)").over(w), 6))
        .withColumn("n_in_window", count(lit(1)).over(w))
        .orderBy("event_type", "bucket")
    }),

    /** ERROR-BURST DETECTION — the CEP-style "k events within T per
      * key" pattern (2+ errors in one hour), run as a declarative
      * RANGE window over the canonical ts_ns key: each error row sees
      * the count of same-user errors in its trailing one-hour
      * interval — per-user partitions, so the state is the window
      * frame, never a global scan. A burst EPISODE is then the
      * first row that crosses the threshold after a quiet gap (the
      * previous qualifying row is > 1 h away — the same
      * island-numbering idiom as `sessionize_events`), so one
      * sustained storm counts once. Output: per-user episode count +
      * span, deterministic. */
    "dq_error_burst" -> ((s, d) => {
      val we = Window.partitionBy("user_id").orderBy("ts_ns")
        .rangeBetween(-3600000000000L, 0L)
      val wo = Window.partitionBy("user_id").orderBy("ts_ns")
      val errs = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("ts_ns"))
        .withColumn("n_1h", count(lit(1)).over(we))
        .filter(col("n_1h") >= 2)
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(wo))
        .withColumn("new_episode",
          when(col("prev_ns").isNull ||
            col("ts_ns") - col("prev_ns") > 3600000000000L, 1L).otherwise(0L))
      errs.groupBy("user_id")
        .agg(sum("new_episode").as("n_bursts"),
          count(lit(1)).as("n_burst_rows"),
          min("ts_ns").as("first_burst_ns"),
          max("ts_ns").as("last_burst_ns"))
        .orderBy("user_id")
    }),



    /** TIME-TO-CONVERT — the timing companion of `funnel_conversion`'s
      * counts: per signup user, hours from first signup to first
      * subsequent purchase; output is the conversion-latency audit
      * (volume, converted, rate, interpolated p50/p90 hours). One keyed
      * min per side + one left join; percentiles over the user-sized
      * latency frame. */
    "agg_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_ns").as("s_ns"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"))
      su.join(pu, Seq("user_id"), "left")
        .groupBy("user_id", "s_ns")
        .agg(min(when(col("ts_ns") >= col("s_ns"), col("ts_ns"))).as("p_ns"))
        .withColumn("hrs",
          round((col("p_ns") - col("s_ns")) / lit(3.6e12), 6))
        .agg(count(lit(1)).as("n_users"),
          count(col("hrs")).as("n_converted"),
          round(count(col("hrs")).cast("double") / count(lit(1)), 6).as("conv_rate"),
          round(expr("percentile(hrs, 0.5)"), 6).as("p50_hours"),
          round(expr("percentile(hrs, 0.9)"), 6).as("p90_hours"))
    }),

    /** KUPIEC POF VaR BACKTEST (Kupiec 1995) — the regulatory audit of
      * `ts_risk_profile`'s VaR95: does the 5% tail quantile actually get
      * exceeded 5% of the time? Per series: exact ceil-rank VaR over the
      * 30-min log returns (the house order-statistic convention — no
      * interpolation disagreement), exceedance count, and the
      * proportion-of-failures likelihood ratio
      * LR = −2[(n−x)ln(1−p)+x ln p −(n−x)ln(1−x̂)−x ln x̂] against
      * χ²₁(0.95), decided on the 1e-6 grid. All inputs are exact
      * integers/grid values, so both engines evaluate identical trees;
      * the x=0 branch is an explicit shared CASE. In-sample by design
      * (the audit shape; rolling OOS is the same plan on split frames). */
    "fin_var_backtest_kupiec" -> ((s, d) => {
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      val wRnk = Window.partitionBy("event_type").orderBy(col("r"), col("bucket"))
      val wAll = Window.partitionBy("event_type")
      val r = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
        .withColumn("rk", row_number().over(wRnk))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("var95",
          max(when(col("rk") === ceil(col("n") * 0.05).cast("long"), col("r")))
            .over(wAll))
      val x = sum(when(col("r") <= col("var95"), 1L).otherwise(0L))
      r.groupBy("event_type")
        .agg(max("n").as("n_ret"), max("var95").as("var95"), x.as("n_exceed"))
        .withColumn("xr", col("n_exceed").cast("double") / col("n_ret"))
        .withColumn("lr_pof",
          // both degenerate branches of the POF likelihood are guarded:
          // x=0 makes x·ln(x̂) → 0·ln(0), and x=n makes (n−x)·ln(1−x̂) →
          // 0·ln(0) — each is 0 in the limit, but evaluates to NaN left
          // bare (tie-heavy 1e-6-grid returns can genuinely inflate
          // exceedances to n via r <= var95)
          round(lit(-2.0) * ((col("n_ret") - col("n_exceed")) * log(lit(0.95)) +
            col("n_exceed") * log(lit(0.05)) -
            when(col("n_exceed") === col("n_ret"), lit(0.0))
              .otherwise((col("n_ret") - col("n_exceed")) * log(lit(1.0) - col("xr"))) -
            when(col("n_exceed") === 0, lit(0.0))
              .otherwise(col("n_exceed") * log(col("xr")))), 6))
        .select(col("event_type"), col("n_ret"), col("var95"),
          col("n_exceed"), col("lr_pof"),
          (col("lr_pof") > 3.841459).as("reject_95"))
        .orderBy("event_type")
    }),

    /** MASE (Hyndman & Koehler 2006) — the scale-free forecast-accuracy
      * metric that completes the `ml_metric_*` family (MAPE breaks at
      * zero, sMAPE is asymmetric; MASE is THE standard for
      * intermittent/seasonal comparison — the `ml_croston` evaluation
      * metric): per series, MAE of the seasonal-naive-48 forecast scaled
      * by in-sample MAE of the naive-1 forecast. Absolute errors are
      * grid values summed in DECIMAL; the ratio divides exact sums. */
    "ml_metric_mase" -> ((s, d) => {
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("e_seas",
          round(abs(col("px") - lag(col("px"), 48).over(wOrd)), 6)
            .cast("decimal(18,6)"))
        .withColumn("e_naive",
          round(abs(col("px") - lag(col("px"), 1).over(wOrd)), 6)
            .cast("decimal(18,6)"))
        .filter(col("e_seas").isNotNull && col("e_naive").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("e_seas").as("ss"), sum("e_naive").as("sn"))
        .select(col("event_type"), col("n"),
          round(col("ss").cast("double") / col("n"), 6).as("mae_seasonal"),
          round(col("sn").cast("double") / col("n"), 6).as("mae_naive"),
          round((col("ss").cast("double") / col("n")) /
            (col("sn").cast("double") / col("n")), 6).as("mase"))
        .orderBy("event_type")
    }),

    /** The REAL streaming twin of `dq_error_burst` —
      * `EventStream.burstStream`, a stateful `flatMapGroupsWithState`
      * CEP pattern detector (Flink-CEP territory): per-user buffered
      * error times, qualification and episodes recomputed on every
      * state change so late errors can qualify earlier lone errors or
      * bridge episodes, watermark-proved exactly-once episode
      * finalization. Run to completion under AvailableNow with the wide-
      * watermark convention (micro-batch boundaries must not decide
      * oracle rows); hash-compared against the SAME DuckDB oracle as
      * the batch RANGE-window query — streaming ≡ batch is the
      * correctness contract. Eviction/late-data paths are pinned by
      * StreamingSpec's multi-batch MemoryStream test. */
    "stream_error_burst" -> ((s, d) =>
      graft.streaming.EventStream.runBurstOnce(s, d,
          Shared.unique("stream_error_burst"))
        .orderBy("user_id")),

    /** LOCAL-LEVEL KALMAN FILTER per series — the state-space smoother
      * under `ml_sarimax`'s full MLE machinery, run as a DATA-PARALLEL
      * per-key scan: events collapse to per-type 30-minute bars (the
      * `Fin.bars` frame), then each series' filter recursion
      * (q=0.01, r=1: predict P+q, gain, update) runs INSIDE its group —
      * the `sessionize_events` shape, distributed ACROSS series, each
      * group's state O(1). At 100 TB with millions of series this is
      * exactly how per-entity recursive state runs without a single
      * sequential bottleneck (and it is the batch twin of
      * `flatMapGroupsWithState`). Every step re-rounds level/P/gain to
      * the 1e-9 grid (HALF_UP — SQL `round` semantics, not rint's
      * half-even) so the DuckDB recursive-CTE oracle replays the
      * recursion BITWISE; inputs are the 1e-6-rounded bar means. */
    "ts_kalman_level" -> ((s, d) => {
      import s.implicits._
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("y"))
      val out = bars.select("event_type", "bucket", "y").as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val pts = it.toArray.sortBy(_._2)
          var level = 0.0; var p = 0.0
          pts.iterator.zipWithIndex.map { case ((_, bucket, y), i) =>
            val gain =
              if (i == 0) { level = y; p = 1.0; 1.0 }
              else {
                val pp = Grid.r9(p + 0.01)
                val kg = Grid.r9(pp / (pp + 1.0))
                level = Grid.r9(level + kg * (y - level))
                p = Grid.r9((1.0 - kg) * pp)
                kg
              }
            (g, bucket, y, level, gain)
          }
        }
      out.toDF("event_type", "bucket", "y", "level", "gain")
        .orderBy("event_type", "bucket")
    })
  ) ++ Shared.engines(shared)

  // ------------------------------------------------------------------

  val sql: Map[String, String] = Map(

    "feature_woe_encode" ->
      """WITH cell AS (
        |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS band,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_pos
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT band, n, n_pos, n - n_pos AS n_neg,
        |    sum(n_pos) OVER () AS tp, sum(n - n_pos) OVER () AS tn
        |  FROM cell)
        |SELECT band, n, n_pos, n_neg,
        |  round(ln(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn)), 6) + 0.0 AS woe,
        |  round((n_pos / tp - n_neg / tn)
        |    * ln(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn)), 6) + 0.0 AS iv_term
        |FROM t ORDER BY band""".stripMargin,

    "feature_hashing_trick" ->
      """WITH feat AS (
        |  SELECT event_type || ':' || CAST(json_extract(props, '$.k') AS BIGINT) AS f,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1),
        |hashed AS (
        |  SELECT cnt,
        |    ('0x' || substr(md5(f), 1, 8))::BIGINT % 32 AS bucket,
        |    CASE WHEN ('0x' || substr(md5(f), 9, 1))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS sign
        |  FROM feat)
        |SELECT bucket, sum(sign * cnt)::BIGINT AS signed_count,
        |  count(*)::BIGINT AS n_features, sum(cnt)::BIGINT AS n_rows
        |FROM hashed GROUP BY bucket ORDER BY bucket""".stripMargin,


    "dq_freshness_sla" ->
      """WITH a AS (
        |  SELECT event_type, max(epoch_ns(ts)) AS last_ts_ns,
        |    count(*)::BIGINT AS n_events
        |  FROM events GROUP BY event_type),
        |b AS (SELECT *, max(last_ts_ns) OVER () AS wm_ns FROM a)
        |SELECT event_type, n_events, last_ts_ns,
        |  (wm_ns - last_ts_ns) // 60000000000 AS lag_minutes,
        |  CASE WHEN wm_ns - last_ts_ns <= 1800000000000 THEN 1 ELSE 0 END
        |    AS fresh_30m
        |FROM b ORDER BY event_type""".stripMargin,

    "dq_schema_drift" ->
      """WITH ev AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS day,
        |    user_id, event_type,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |prof AS (
        |  SELECT
        |    sum(CASE WHEN day < mid THEN 1 ELSE 0 END)::BIGINT AS rows_b,
        |    sum(CASE WHEN day >= mid THEN 1 ELSE 0 END)::BIGINT AS rows_a,
        |    count(DISTINCT CASE WHEN day < mid THEN user_id END)::BIGINT AS users_b,
        |    count(DISTINCT CASE WHEN day >= mid THEN user_id END)::BIGINT AS users_a,
        |    count(DISTINCT CASE WHEN day < mid THEN event_type END)::BIGINT AS types_b,
        |    count(DISTINCT CASE WHEN day >= mid THEN event_type END)::BIGINT AS types_a,
        |    sum(CASE WHEN day < mid THEN v END) AS sv_b,
        |    sum(CASE WHEN day >= mid THEN v END) AS sv_a,
        |    sum(CASE WHEN day < mid THEN k ELSE 0 END)::BIGINT AS sk_b,
        |    sum(CASE WHEN day >= mid THEN k ELSE 0 END)::BIGINT AS sk_a
        |  FROM ev, mid),
        |longf AS (
        |  SELECT 'n_rows' AS metric, rows_b::DOUBLE AS before, rows_a::DOUBLE AS after FROM prof
        |  UNION ALL SELECT 'n_users', users_b::DOUBLE, users_a::DOUBLE FROM prof
        |  UNION ALL SELECT 'n_event_types', types_b::DOUBLE, types_a::DOUBLE FROM prof
        |  UNION ALL SELECT 'avg_value', round(sv_b::DOUBLE / rows_b, 6),
        |    round(sv_a::DOUBLE / rows_a, 6) FROM prof
        |  UNION ALL SELECT 'avg_k', round(sk_b::DOUBLE / rows_b, 6),
        |    round(sk_a::DOUBLE / rows_a, 6) FROM prof)
        |SELECT metric, "before", "after",
        |  round(("after" - "before") / "before", 6) AS rel_delta
        |FROM longf ORDER BY metric""".stripMargin,

    "ts_matrix_profile" ->
      """WITH b AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 3600000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS y
        |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2),
        |bi AS (
        |  SELECT g, CAST(y AS DECIMAL(18,6)) AS v,
        |    row_number() OVER (PARTITION BY g ORDER BY bucket) AS idx
        |  FROM b),
        |w0 AS (
        |  SELECT g, idx, list(v) OVER fr AS arr, sum(v) OVER fr AS sv,
        |    sum(v * v) OVER fr AS sv2
        |  FROM bi
        |  WINDOW fr AS (PARTITION BY g ORDER BY idx
        |                ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)),
        |w AS (
        |  SELECT g, idx, arr, CAST(sv AS DOUBLE) / 24.0 AS mu,
        |    sqrt(greatest(CAST(sv2 AS DOUBLE) / 24.0
        |      - (CAST(sv AS DOUBLE) / 24.0) * (CAST(sv AS DOUBLE) / 24.0), 0.0)) AS sig
        |  FROM w0 WHERE len(arr) = 24),
        |wf AS (SELECT * FROM w WHERE sig > 1e-9),
        |pz AS (
        |  SELECT a.g AS g, a.idx AS idx, b.idx AS j, a.mu AS mua, b.mu AS mub,
        |    a.sig AS siga, b.sig AS sigb, unnest(list_zip(a.arr, b.arr)) AS z
        |  FROM wf a JOIN wf b ON a.g = b.g AND abs(a.idx - b.idx) >= 12),
        |dots AS (
        |  SELECT g, idx, j, mua, mub, siga, sigb, sum(z[1] * z[2]) AS dt
        |  FROM pz GROUP BY g, idx, j, mua, mub, siga, sigb),
        |dist AS (
        |  SELECT g, idx, j,
        |    round(sqrt(greatest(48.0 * (1.0
        |      - (CAST(dt AS DOUBLE) - 24.0 * mua * mub)
        |        / (24.0 * siga * sigb)), 0.0)), 6) AS dist
        |  FROM dots),
        |rk AS (
        |  SELECT g, idx, j, dist,
        |    row_number() OVER (PARTITION BY g, idx ORDER BY dist, j) AS rk
        |  FROM dist)
        |SELECT g AS event_type, idx, j AS nn_idx, dist AS nn_dist
        |FROM rk WHERE rk = 1 ORDER BY event_type, idx""".stripMargin,

    "dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(0, len(toks) - 5),
        |    i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh
        |  FROM t WHERE len(toks) >= 5),
        |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
        |cap AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM cap GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
        |  FROM cap a JOIN cap b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |    round(inter::DOUBLE / sa.n_sh, 6) AS containment_a,
        |    round(inter::DOUBLE / sb.n_sh, 6) AS containment_b
        |  FROM pr
        |  JOIN sz sa ON sa.doc_id = id_a
        |  JOIN sz sb ON sb.doc_id = id_b)
        |SELECT * FROM sc
        |WHERE greatest(containment_a, containment_b) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    "corpus_importance_resample" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tokb AS (
        |  SELECT doc_id, source, lang,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 1024 AS b
        |  FROM t),
        |rawc AS (SELECT b, count(*)::BIGINT AS cr FROM tokb GROUP BY b),
        |tgtc AS (SELECT b, count(*)::BIGINT AS ct FROM tokb
        |         WHERE lang = 'en' GROUP BY b),
        |j AS (
        |  SELECT rawc.b, cr, coalesce(ct, 0)::BIGINT AS ct
        |  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b),
        |tots AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM j),
        |lam AS (
        |  SELECT b, CAST(round(ln(
        |    ((ct + 0.5) / (nt + 0.5 * 1024)) / ((cr + 0.5) / (nr + 0.5 * 1024))
        |    ), 6) AS DECIMAL(18,6)) AS lam
        |  FROM j, tots),
        |pd AS (
        |  SELECT doc_id, source,
        |    round(CAST(sum(lam) AS DOUBLE) / count(*), 6) AS score
        |  FROM tokb JOIN lam USING (b) GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS kept,
        |  round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        |    AS mean_score,
        |  round(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |    AS keep_rate
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,

    "ts_block_bootstrap" ->
      """WITH px AS (
        |  SELECT epoch_ns(ts) // 1800000000000 AS bucket, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r0 AS (
        |  SELECT bucket, round(ln(px / lag(px, 1) OVER (ORDER BY bucket)), 6) AS r
        |  FROM px),
        |r AS (
        |  SELECT CAST(r AS DECIMAL(18,6)) AS rd,
        |    row_number() OVER (ORDER BY bucket) AS rn
        |  FROM r0 WHERE r IS NOT NULL),
        |bs AS (
        |  SELECT rn AS o, sum(rd) OVER w AS bsum, count(*) OVER w AS cnt
        |  FROM r WINDOW w AS (ORDER BY rn ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)),
        |bsf AS (SELECT o, bsum FROM bs WHERE cnt = 24),
        |bounds AS (
        |  SELECT max(rn)::BIGINT AS n_r, sum(rd) AS sr,
        |    max(rn)::BIGINT - 23 AS n_off,
        |    (max(rn)::BIGINT + 23) // 24 AS k_blocks
        |  FROM r),
        |grid AS (
        |  SELECT b, k_blocks,
        |    ('0x' || substr(md5(b::VARCHAR || ':' || j::VARCHAR), 1, 8))::BIGINT
        |      % n_off + 1 AS o
        |  FROM bounds, unnest(generate_series(1::BIGINT, 200::BIGINT)) AS tb(b),
        |       unnest(generate_series(1::BIGINT, k_blocks)) AS tj(j)),
        |means AS (
        |  SELECT b, CAST(round(sum(bsum)::DOUBLE / (k_blocks * 24)::DOUBLE, 9)
        |    AS DECIMAL(18,9)) AS md
        |  FROM grid JOIN bsf USING (o) GROUP BY b, k_blocks),
        |rkm AS (SELECT b, md, row_number() OVER (ORDER BY md, b) AS rk FROM means),
        |boot AS (
        |  SELECT count(*)::BIGINT AS n_resamples, sum(md) AS s1, sum(md * md) AS s2,
        |    min(CASE WHEN rk = 5 THEN md END) AS lo,
        |    min(CASE WHEN rk = 195 THEN md END) AS hi
        |  FROM rkm)
        |SELECT n_r AS n_ret, 24::BIGINT AS block_len, n_resamples,
        |  round(sr::DOUBLE / n_r, 6) AS mean_ret,
        |  round(lo::DOUBLE, 6) AS ci_lo, round(hi::DOUBLE, 6) AS ci_hi,
        |  round(sqrt(greatest(
        |    (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / 200.0) / 199.0, 0.0)), 6)
        |    AS se_boot
        |FROM boot, bounds""".stripMargin,

    "ts_rolling_median" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket, px,
        |  round(quantile_cont(px, 0.5) OVER w, 6) AS roll_med,
        |  count(*) OVER w AS n_in_window
        |FROM b
        |WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |             ROWS BETWEEN 24 PRECEDING AND 24 FOLLOWING)
        |ORDER BY event_type, bucket""".stripMargin,

    "dq_error_burst" -> errorBurstSql,

    "stream_error_burst" -> errorBurstSql,



    "agg_time_to_convert" ->
      """WITH su AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS s_ns FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (
        |  SELECT user_id, epoch_ns(ts) AS t FROM events
        |  WHERE event_type = 'purchase'),
        |per AS (
        |  SELECT su.user_id, s_ns, min(CASE WHEN t >= s_ns THEN t END) AS p_ns
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id GROUP BY 1, 2),
        |h AS (SELECT round((p_ns - s_ns) / 3600000000000.0, 6) AS hrs FROM per)
        |SELECT count(*)::BIGINT AS n_users, count(hrs)::BIGINT AS n_converted,
        |  round(count(hrs)::DOUBLE / count(*), 6) AS conv_rate,
        |  round(quantile_cont(hrs, 0.5), 6) AS p50_hours,
        |  round(quantile_cont(hrs, 0.9), 6) AS p90_hours
        |FROM h""".stripMargin,

    "fin_var_backtest_kupiec" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |r0 AS (
        |  SELECT event_type, bucket,
        |    round(ln(px / lag(px, 1) OVER (PARTITION BY event_type ORDER BY bucket)), 6) AS r
        |  FROM b),
        |r AS (
        |  SELECT event_type, bucket, r,
        |    row_number() OVER (PARTITION BY event_type ORDER BY r, bucket) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM r0 WHERE r IS NOT NULL),
        |v AS (
        |  SELECT event_type, r, n,
        |    max(CASE WHEN rk = CAST(ceil(n * 0.05) AS BIGINT) THEN r END)
        |      OVER (PARTITION BY event_type) AS var95
        |  FROM r),
        |agg AS (
        |  SELECT event_type, max(n)::BIGINT AS n_ret, max(var95) AS var95,
        |    sum(CASE WHEN r <= var95 THEN 1 ELSE 0 END)::BIGINT AS n_exceed
        |  FROM v GROUP BY event_type),
        |lr AS (
        |  SELECT event_type, n_ret, var95, n_exceed,
        |    CAST(n_exceed AS DOUBLE) / n_ret AS xr
        |  FROM agg)
        |SELECT event_type, n_ret, var95, n_exceed,
        |  round(-2.0 * ((n_ret - n_exceed) * ln(0.95) + n_exceed * ln(0.05)
        |    - CASE WHEN n_exceed = n_ret THEN 0.0
        |        ELSE (n_ret - n_exceed) * ln(1.0 - xr) END
        |    - CASE WHEN n_exceed = 0 THEN 0.0 ELSE n_exceed * ln(xr) END), 6)
        |    AS lr_pof,
        |  round(-2.0 * ((n_ret - n_exceed) * ln(0.95) + n_exceed * ln(0.05)
        |    - CASE WHEN n_exceed = n_ret THEN 0.0
        |        ELSE (n_ret - n_exceed) * ln(1.0 - xr) END
        |    - CASE WHEN n_exceed = 0 THEN 0.0 ELSE n_exceed * ln(xr) END), 6)
        |    > 3.841459 AS reject_95
        |FROM lr ORDER BY event_type""".stripMargin,

    "ml_metric_mase" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |e AS (
        |  SELECT event_type,
        |    CAST(round(abs(px - lag(px, 48) OVER w), 6) AS DECIMAL(18,6)) AS e_seas,
        |    CAST(round(abs(px - lag(px, 1) OVER w), 6) AS DECIMAL(18,6)) AS e_naive
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        |f AS (SELECT * FROM e WHERE e_seas IS NOT NULL AND e_naive IS NOT NULL)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  round(CAST(sum(e_seas) AS DOUBLE) / count(*), 6) AS mae_seasonal,
        |  round(CAST(sum(e_naive) AS DOUBLE) / count(*), 6) AS mae_naive,
        |  round((CAST(sum(e_seas) AS DOUBLE) / count(*))
        |    / (CAST(sum(e_naive) AS DOUBLE) / count(*)), 6) AS mase
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_kalman_level" ->
      """WITH RECURSIVE b AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT g, bucket, y,
        |    row_number() OVER (PARTITION BY g ORDER BY bucket) AS rn
        |  FROM b),
        |k AS (
        |  SELECT g, bucket, y, rn, y AS level, CAST(1.0 AS DOUBLE) AS p,
        |    CAST(1.0 AS DOUBLE) AS gain
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT g, bucket, y, rn,
        |    round(level + kg * (y - level), 9),
        |    round((1 - kg) * pp, 9), kg
        |  FROM (
        |    SELECT s.g, s.bucket, s.y, s.rn, k.level,
        |      round(k.p + 0.01, 9) AS pp,
        |      round(round(k.p + 0.01, 9) / (round(k.p + 0.01, 9) + 1.0), 9) AS kg
        |    FROM k JOIN s ON s.g = k.g AND s.rn = k.rn + 1) q)
        |SELECT g AS event_type, bucket, y, level, gain
        |FROM k ORDER BY event_type, bucket""".stripMargin
  ) ++ Shared.oracles(shared)
}
