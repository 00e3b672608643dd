package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries

/** Time-series / window queries (SURVEY.md §2.7) + regression-metric
  * queries (§2.9, the SQL-expressible slice) on the `events` table.
  *
  * `events` plays the role of the reference's global 1961-row price
  * series, but partitioned by `user_id` as the series key — the 100 TB
  * layout SURVEY.md §4.3.3 calls for (each window is a bounded parallel
  * task, not one global sort).
  */
object Ts {

  type Q = (SparkSession, String) => DataFrame

  private def userW = Window.partitionBy(col("user_id")).orderBy(col("event_id"))

  /** 30-minute per-type price series for the indicator pack: the
    * distributed collapse (one shuffle) every indicator shares. Prices
    * land on the 1e-6 grid HERE so all window math downstream sees
    * identical numbers in both engines; buckets are integer division of
    * the lossless ts_ns key. */
  private def indicatorSeries(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bucket", expr("ts_ns div 1800000000000L"))
      .groupBy("event_type", "bucket")
      .agg(Grid.mean6(col("value")).as("px"))

  /** DuckDB twin of [[indicatorSeries]] (`epoch_ns` ↔ ts_ns contract). */
  private val indicatorSeriesSql: String =
    s"""WITH b AS (
      |  SELECT event_type, epoch_ns(ts) // 1800000000000 AS bucket,
      |         ${Grid.mean6Sql("value")} AS px
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Per-event-type lead horizons — the `target_pairs.lag` analog
    * (`Marilyn_Cleaning.ipynb` cell 67; lag ∈ {1..4}). */
  private val horizons = Map(
    "click" -> 1, "error" -> 1, "purchase" -> 3, "signup" -> 4, "view" -> 2)

  /** Synthetic (y, ŷ) frame for the metric oracle: y is the centered
    * value, ŷ a deterministic linear pseudo-prediction from the lagged
    * series (`ml_metric_*` need a prediction column; the fixture follows
    * FIXTURES.md §5). */
  private def pred(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("lagv", lag(col("value"), 1).over(userW))
      .filter(col("lagv").isNotNull)
      .select(col("event_id"), (col("value") - 100).as("y"),
        ((col("value") - 100) * 0.8 + (col("lagv") - 100) * 0.1).as("yhat"))

  private val predSql: String =
    """WITH p AS (
      |  SELECT event_id, value - 100 AS y, (value - 100) * 0.8 + (lagv - 100) * 0.1 AS yhat
      |  FROM (SELECT event_id, value,
      |          lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS lagv
      |        FROM events)
      |  WHERE lagv IS NOT NULL)
      |""".stripMargin

  /** Shared by `drift_psi` and its streaming twin `stream_drift_psi`
    * (`EventStream.runPsiOnce`): the gridded value frame, the span
    * midpoint, and the reference half's exact decile cuts (percentile on
    * the 1e-6 grid so both engines cut identically). */
  def psiProfile(s: SparkSession, d: String): (DataFrame, Long, Seq[Double]) = {
    val ev = Tables.events(s, d)
      .select(expr("unix_micros(ts)").as("t"), round(col("value"), 6).as("v"))
    val b = ev.agg(min("t"), max("t")).head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val qs = (1 to 9).map(_ / 10.0)
    val cuts = ev.filter(col("t") < mid).agg(
      expr(s"percentile(v, array(${qs.mkString(",")}))").as("c")).head()
      .getSeq[Double](0).map(c => math.rint(c * 1e6) / 1e6)
    (ev, mid, cuts)
  }

  /** Decile binning over `v` — fold from the largest cut so the
    * ascending `v <= c` test wins over every later one (when-chains take
    * the FIRST match). */
  def psiBin(cuts: Seq[Double]): Column =
    cuts.zipWithIndex.reverse.foldLeft(lit(10)) { case (acc, (c, i)) =>
      when(col("v") <= lit(c), lit(i + 1)).otherwise(acc) }

  /** The Laplace-smoothing/term expressions over per-bin
    * (bin, n_ref, n_cur) counts — expression-identical to the pre-r11
    * inline form, so the batch hash is pinned and the streaming twin
    * hash-matches the SAME oracle. */
  def psiAssemble(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round((col("n_ref") + 0.5) / (col("tr") + 5.0), 6).as("p_ref"),
        round((col("n_cur") + 0.5) / (col("tc") + 5.0), 6).as("p_cur"),
        round(((col("n_ref") + 0.5) / (col("tr") + 5.0) -
               (col("n_cur") + 0.5) / (col("tc") + 5.0)) *
          log(((col("n_ref") + 0.5) / (col("tr") + 5.0)) /
              ((col("n_cur") + 0.5) / (col("tc") + 5.0))), 6).as("psi_term"))
      .orderBy("bin")
  }

  /** The KS tail shared by `drift_ks` and its streaming twin
    * `stream_drift_ks` (`EventStream.runKsOnce`) — expression-identical
    * to the pre-r12 inline form, so the batch hash is pinned and the
    * twin hash-matches the SAME oracle. Input: per-distinct-value
    * counts (v, c1, c2) over the pooled sample; output: the 1-row
    * (d_stat, n_click, n_purchase, crit_95, reject_95) report. */
  def ksAssemble(s: SparkSession, pts: DataFrame): DataFrame = {
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cdf = pts
      .withColumn("r1", sum("c1").over(w))
      .withColumn("r2", sum("c2").over(w))
    val n = cdf.agg(max("r1").as("n1"), max("r2").as("n2")).head()
    val (n1, n2) = (n.getLong(0), n.getLong(1))
    val dRow = cdf
      .select(abs(col("r1").cast("double") / n1 -
        col("r2").cast("double") / n2).as("diff"))
      .agg(max("diff")).head()
    val dStat = dRow.getDouble(0)
    val crit = 1.358 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2))
    import s.implicits._
    Seq((math.rint(dStat * 1e6) / 1e6, n1, n2,
        math.rint(crit * 1e6) / 1e6, dStat > crit))
      .toDF("d_stat", "n_click", "n_purchase", "crit_95", "reject_95")
  }

  val qs: Map[String, Q] = Map(
    /** Calendar resampling (`TimeSeries.resampleOhlc`): weekly OHLC bars
      * per event_type — one keyed aggregation, open/close via min_by/
      * max_by on the (ts_us, event_id) total order. Values pass through
      * untouched (no fp arithmetic), so the oracle compares them raw. */
    "ts_resample_ohlc" -> ((s, d) =>
      TimeSeries.resampleOhlc(
          Tables.events(s, d).withColumn("day",
            Tables.epochDay(col("ts"))),
          Seq(col("event_type")), col("day"),
          Seq(expr("ts_ns div 1000"), col("event_id")), "value", days = 7)
        .orderBy("event_type", "bar")),

    /** Ordered-step FUNNEL — the events-analytics staple (view → click
      * within 24 h → purchase within a further 24 h; each step strictly
      * AFTER the user's previous step's first occurrence, so out-of-order
      * events don't count, and the conversion WINDOW makes the funnel
      * discriminating — 150 → 60 → 25 users at sf0.01, not everyone
      * converts): stage k is "first qualifying event inside
      * (t_{k−1}, t_{k−1}+24h]", computed as filter → keyed min, joined
      * back per stage. Every aggregation and join in the chain is keyed
      * by `user_id` — ONE hash partitioning serves all three stages
      * (co-partitioned joins, no re-shuffle), and per-stage outputs are
      * one row per converting user collapsing to a 3-row report. The µs
      * clock makes ordering and window bounds identical in both
      * engines. */
    "funnel_conversion" -> ((s, d) => {
      val winUs = 86400000000L // 24 h in µs
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("t") > col("t_view") && col("t") <= col("t_view") + winUs)
        .groupBy("user_id").agg(min(col("t")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("t") > col("t_click") && col("t") <= col("t_click") + winUs)
        .groupBy("user_id").agg(min(col("t")).as("t_purchase"))
      v.agg(count(lit(1)).as("n")).select(lit("1_view").as("stage"), col("n"))
        .unionByName(c.agg(count(lit(1)).as("n"))
          .select(lit("2_click_after_view").as("stage"), col("n")))
        .unionByName(p.agg(count(lit(1)).as("n"))
          .select(lit("3_purchase_after_click").as("stage"), col("n")))
        .orderBy("stage")
    }),

    /** CUSUM CHANGEPOINT detection — the structural-break check a
      * forecasting pipeline runs before trusting one model over the
      * whole history (a mean shift silently wrecks a global fit): the
      * cumulative sum S_t = Σ_{i≤t}(x_i − μ) over the daily click
      * series, the changepoint = argmax\|S_t\| (day tiebreak), and the
      * normalized statistic max\|S\|/(σ√n). The running sum is a
      * sequential unbounded-preceding window — both engines add the SAME
      * operands in the SAME day order, so S_t is bit-identical; μ, σ, n
      * ride one broadcast 1-row aggregate. Day-grain rows per the
      * bounded-window convention; output is a single row. */
    "ml_changepoint_cusum" -> ((s, d) => {
      val daily = Tables.events(s, d).filter(col("event_type") === "click")
        .withColumn("day", Tables.epochDay(col("ts")).cast("long"))
        .groupBy("day").agg(avg(col("value")).as("x"))
      val m = daily.agg(avg(col("x")).as("mu"),
        stddev_pop(col("x")).as("sigma"), count(lit(1)).as("n"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      daily.crossJoin(broadcast(m))
        .withColumn("s", sum(col("x") - col("mu")).over(w))
        .select(col("day").as("cp_day"), abs(col("s")).as("abs_s"),
          (abs(col("s")) / (col("sigma") * sqrt(col("n")))).as("stat"))
        .orderBy(col("abs_s").desc, col("cp_day"))
        .limit(1)
        .select(col("cp_day"), round(col("abs_s"), 6).as("max_cusum"),
          round(col("stat"), 6).as("stat"))
    }),

    /** COHORT RETENTION — the other events-analytics staple next to the
      * funnel: users grouped by first-seen week, per (cohort, week
      * offset) the fraction still PURCHASE-active (conversion-grade
      * activity — any-event activity is vacuously 1.0 on this dense
      * harness data; retention runs 0.81–0.94 across offsets at sf0.01).
      * Three keyed aggregations — first-seen per user, distinct
      * (user, active-week), then the (cohort, offset) rollup — all
      * shuffling on `user_id` first, with the cohort-size dimension
      * broadcast back onto the bounded weeks² report. Integer epoch-week
      * arithmetic in both engines. */
    "retention_cohorts" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)").as("week"))
      val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort"))
      val active = ev.filter(col("event_type") === "purchase")
        .select("user_id", "week").distinct()
      val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      active.join(first, "user_id")
        .select(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .groupBy("cohort", "offset").agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("offset"), col("n_active"), col("cohort_size"),
          round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
        .orderBy("cohort", "offset")
    }),

    /** HAMPEL outlier filter — the robust time-series cleaning step a
      * financial pipeline runs before modeling (rolling median ± k·MAD,
      * the median-based alternative to z-scores that one spike cannot
      * corrupt): per series, a ±3-row centered window collects the
      * neighborhood ONCE (`collect_list` over a ROWS frame — bounded
      * 7-element arrays over day-grain rows), the median and the median
      * absolute deviation are explicit sorted-array arithmetic (not a
      * library `median()` whose interpolation rule could differ between
      * engines), and a point is flagged when |x−m| > 3·1.4826·MAD. The
      * windows are PARTITIONED by the series key per the §2.7 scale
      * convention; the DuckDB twin replays frame, sort, and index
      * arithmetic identically. */
    "ts_outlier_hampel" -> ((s, d) => {
      def med(a: Column): Column =
        (element_at(a, (((size(a) - 1) / 2).cast("int") + 1)) +
          element_at(a, ((size(a) / 2).cast("int") + 1))) / 2.0
      val daily = Tables.events(s, d)
        .withColumn("day", Tables.epochDay(col("ts")).cast("long"))
        .groupBy("event_type", "day").agg(avg(col("value")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
      daily
        .withColumn("arr", sort_array(collect_list(col("x")).over(w)))
        .withColumn("m", med(col("arr")))
        .withColumn("mad", med(sort_array(transform(col("arr"), v => abs(v - col("m"))))))
        .select(col("event_type"), col("day"),
          round(col("x"), 6).as("x"), round(col("m"), 6).as("med"),
          // boundary decided on the 1e-6 grid in BOTH engines (the repo's
          // conformal-coverage convention): x is a float avg whose
          // summation order differs between Spark and DuckDB, so an
          // unrounded comparison can flip within a few ulps of the
          // threshold in one engine only
          (round(abs(col("x") - col("m")), 6) >
            round(lit(3.0 * 1.4826) * col("mad"), 6)).as("is_outlier"))
        .orderBy("event_type", "day")
    }),

    /** Calendar-spine gap fill — pandas `reindex(date_range) + ffill`:
      * rebuild a complete daily axis per series and forward-fill the
      * holes, flagging which rows were reconstructed. Gaps are injected
      * deterministically (drop day % 7 == 3 from the daily aggregate) so
      * the fill is observable and the oracle replays it. The spine is a
      * per-key `sequence(min_day, max_day)` explode off a two-row agg —
      * narrow, no driver round-trip; the fill is one `last(IGNORE
      * NULLS)` window per series key over day-granularity rows (bounded
      * rows per key — the frame a 100 TB run would window over is the
      * day-aggregated series, never raw events). Epoch-day longs, not
      * DATEs, so both engines compare identical integers. */
    "ts_gap_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .withColumn("day", Tables.epochDay(col("ts")).cast("long"))
        .groupBy("event_type", "day")
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"), 6).as("v"))
        .filter(pmod(col("day"), lit(7)) =!= 3)
      val spine = daily.groupBy("event_type")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          col("v").isNull.as("was_gap"),
          last("v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("event_type", "day")
    }),

    /** Calendar-RANGE rolling window — pandas `rolling('7D')`: the frame
      * is "all of this user's events in the trailing 7 calendar days",
      * however many rows that is (a ROWS frame like `rolling_stats`
      * cannot express it). The mean divides an EXACT decimal running sum
      * by the frame count so both engines divide identical operands — a
      * double sum's value would depend on the frame-walk order. */
    "rolling_time_range" -> ((s, d) => {
      val day = Tables.epochDay(col("ts"))
      val w = Window.partitionBy("user_id").orderBy(col("day"))
        .rangeBetween(-6, 0)
      Tables.events(s, d).withColumn("day", day.cast("long"))
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_7d"),
          round(sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            / count(lit(1)).over(w), 6).as("avg_7d"))
        .orderBy("event_id")
    }),

    // ---- §2.7 window / time-series -------------------------------------
    "lead_per_target" -> ((s, d) =>
      TimeSeries.leadPerKey(Tables.events(s, d), col("event_type"),
          Seq(col("user_id")), Seq(col("event_id")), "value", horizons, "led")
        .filter(col("led").isNotNull)
        .select("event_id", "event_type", "led")
        .orderBy("event_id")),

    "spread_compute" -> ((s, d) =>
      TimeSeries.spreads(
          Tables.lineitem(s, d)
            .withColumn("gross", col("l_extendedprice") * (lit(1) - col("l_discount"))),
          Seq(("spread", "l_extendedprice", "gross")))
        .select(col("l_orderkey"), col("l_linenumber"), round(col("spread"), 6).as("spread"))
        .orderBy("l_orderkey", "l_linenumber")),

    "log_returns" -> ((s, d) =>
      TimeSeries.logReturns(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("event_id")), "value", "log_ret")
        .filter(col("log_ret").isNotNull)
        .select(col("event_id"), round(col("log_ret"), 6).as("log_ret"))
        .orderBy("event_id")),

    "lag_features" -> ((s, d) =>
      TimeSeries.lagFeatures(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("event_id")), "value", Seq(1, 2, 3))
        .select("event_id", "value_lag1", "value_lag2", "value_lag3")
        .orderBy("event_id")),

    "rolling_stats" -> ((s, d) =>
      TimeSeries.rollingStats(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("event_id")), "value", window = 7)
        .select(col("event_id"), round(col("value_rollmean"), 6).as("rollmean"),
          round(col("value_rollstd"), 6).as("rollstd"))
        .orderBy("event_id")),

    "stationarity_test" -> ((s, d) =>
      TimeSeries.dfTestStat(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("event_id")), "value")
        .select(col("user_id"), col("n"), round(col("slope"), 6).as("slope"),
          round(col("df_tstat"), 4).as("df_tstat"))
        .orderBy("user_id")),

    /** `seasonal_design_by_series` (SURVEY.md §4.3.3's 100 TB prescription
      * for the §2.7 spine, exercised end-to-end): the SARIMA design
      * builder in MULTI-SERIES long format — every window in the plan is
      * `Window.partitionBy(user_id)`, so the sort is per-series and the
      * stage parallelizes across keys instead of collapsing to the
      * single-task global window the reference's one-series notebook
      * shape implies. Same [[TimeSeries.seasonalDesign]] code path as
      * `ml_sarima` (which runs it with `Nil` on the provably tiny daily
      * frame); PlanAuditSpec asserts the partitioned window. */
    "seasonal_design_by_series" -> ((s, d) =>
      TimeSeries.seasonalDesign(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("event_id")), "value",
          TimeSeries.SeasonalOrder(p = 2, d = 1, P = 1, D = 0, s = 7))
        .filter(col("sar_lag1").isNotNull && col("sar_lag2").isNotNull &&
          col("sar_slag7").isNotNull)
        .select(col("event_id"), col("user_id"),
          round(col("sar_y"), 6).as("sar_y"),
          round(col("sar_lag1"), 6).as("sar_lag1"),
          round(col("sar_lag2"), 6).as("sar_lag2"),
          round(col("sar_slag7"), 6).as("sar_slag7"))
        .orderBy("event_id")),

    // ---- §2.9 metric aggregates (SQL-expressible ML slice) -------------
    "ml_metric_r2" -> ((s, d) => {
      val p = pred(s, d)
      val m = p.agg(avg(col("y")).as("ay"))
      p.crossJoin(broadcast(m))
        .agg(round(lit(1) - sum((col("y") - col("yhat")) * (col("y") - col("yhat")))
          / sum((col("y") - col("ay")) * (col("y") - col("ay"))), 6).as("r2"))
    }),

    "ml_metric_mae" -> ((s, d) =>
      pred(s, d).agg(round(avg(abs(col("y") - col("yhat"))), 6).as("mae"))),

    "ml_metric_rmse" -> ((s, d) =>
      pred(s, d).agg(round(sqrt(avg((col("y") - col("yhat")) * (col("y") - col("yhat")))), 6)
        .as("rmse"))),

    "ml_metric_mape" -> ((s, d) =>
      pred(s, d).filter(col("y") =!= 0)
        .agg(round(avg(abs((col("y") - col("yhat")) / col("y"))), 6).as("mape"))),

    "ml_metric_smape" -> ((s, d) =>
      pred(s, d).filter(col("y") =!= 0)
        .agg(round(avg(abs(col("y") - col("yhat"))
          / ((abs(col("y")) + abs(col("yhat"))) / 2)), 6).as("smape"))),

    "ml_metric_diracc" -> ((s, d) =>
      pred(s, d).agg(round(avg(when(signum(col("y")) === signum(col("yhat")), 1.0)
        .otherwise(0.0)), 6).as("diracc"))),

    "ml_linear_regression" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("lagv", lag(col("value"), 1).over(userW))
        .filter(col("lagv").isNotNull)
        .groupBy("event_type")
        .agg(expr("regr_count(value, lagv)").as("n"),
          round(expr("regr_slope(value, lagv)"), 6).as("slope"),
          round(expr("regr_intercept(value, lagv)"), 6).as("intercept"),
          round(expr("regr_r2(value, lagv)"), 6).as("r2"))
        .orderBy("event_type")),

    /** Sessionization (`TimeSeries.sessionize`) + per-session stats:
      * 10-minute gap threshold on the µs clock, then one aggregation on
      * the (user, session) key. */
    "sessionize_events" -> ((s, d) =>
      TimeSeries.sessionize(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            expr("ts_ns div 1000").as("ts_us")),
          Seq(col("user_id")), Seq(col("ts_us"), col("event_id")),
          "ts_us", maxGap = 600000000L, "session_id")
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
        .orderBy("user_id", "session_id")),

    /** The ACTUAL streaming sessionizer (`EventStream.sessionizeStream`,
      * flatMapGroupsWithState) run to completion under AvailableNow and
      * hash-compared against the DuckDB gaps-and-islands oracle — not a
      * batch twin. Session identity = session start time (µs), which the
      * oracle reproduces as `min(ts_us)` per island. The watermark is set
      * beyond the data's horizon so no state is evicted mid-stream:
      * eviction timing depends on micro-batch/file boundaries, which an
      * oracle row must not — the eviction semantics are pinned separately
      * by StreamingSpec's multi-batch MemoryStream test. */
    "stream_sessionize" -> ((s, d) =>
      graft.streaming.EventStream.runSessionizeOnce(s, d,
          Shared.unique("stream_sessionize"),
          watermark = "3650 days")
        .orderBy("user_id", "session_id")),

    /** The REAL streaming windowed aggregation (`EventStream.windowedAgg`
      * — watermarked tumbling windows over the file-source stream) run to
      * completion under AvailableNow and hash-compared against the same
      * DuckDB oracle as its batch twin `stream_window_agg`. */
    "stream_window_agg_live" -> ((s, d) =>
      graft.streaming.EventStream.runWindowedAggOnce(s, d,
          Shared.unique("stream_window_live"))
        .orderBy("day", "event_type")),

    /** Input/output reconciliation of the live windowed aggregation
      * (`EventStream.runObservedAuditOnce`): observed pre-aggregation
      * metrics vs materialized post-watermark output — the audit row a
      * streaming dashboard alerts on. Deterministic under AvailableNow
      * (single batch ⇒ provably zero drops), so it carries a full
      * DuckDB oracle; the multi-batch late-drop path is pinned in
      * StreamingSpec via MemoryStream. */
    "stream_observe_audit" -> ((s, d) =>
      graft.streaming.EventStream.runObservedAuditOnce(s, d,
        Shared.unique("stream_observe"))),

    /** Continuous top-k users per 6-hour window
      * (`EventStream.topkWindowed`): the stream maintains watermarked
      * (window, user) counts — the incremental part — and the top-3 is
      * a deterministic serving-side rank over the materialized
      * aggregate, run here to completion under AvailableNow and
      * hash-compared against the DuckDB window/rank twin. */
    "stream_topk_users" -> ((s, d) =>
      graft.streaming.EventStream.runTopkOnce(s, d,
          Shared.unique("stream_topk"))
        .orderBy("win_start_us", "rk")),

    /** The REAL watermarked stream-stream interval join
      * (`EventStream.attributionJoin`): clicks ⋈ same-user views within
      * the preceding 6 hours, run to completion under AvailableNow and
      * hash-compared against the DuckDB join twin. Inner-join matches
      * emit eagerly, so the pass yields the complete pair set; the
      * per-user count is a batch aggregate over the materialized
      * pairs. */
    "stream_join_attrib" -> ((s, d) =>
      graft.streaming.EventStream.runAttributionOnce(s, d,
          Shared.unique("stream_attrib"))
        .orderBy("user_id")),

    /** Spark's NATIVE session-window operator (`session_window` — the
      * builtin the hand-rolled `sessionize_events` gaps-and-islands
      * rewrite matches): one keyed aggregation, sessions merge while the
      * inter-event gap is ≤ 10 min (Spark merges touching windows, so a
      * gap of exactly the threshold continues the session — the oracle's
      * `> gap` island rule is the same boundary). Session identity is
      * surfaced as its start µs (engine-neutral), not an ordinal. */
    "sessionize_builtin" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (max("ts_us") - min("ts_us")).as("dur_us"),
          min("ts_us").as("session_start_us"))
        .select("user_id", "session_start_us", "n_events", "dur_us")
        .orderBy("user_id", "session_start_us")),

    /** Hopping (sliding) window aggregation — `window(ts, 1 day, 6 h)`:
      * each event lands in 4 overlapping windows; Spark expands the
      * slide assignments and aggregates in ONE pass (partial agg before
      * the shuffle). Window identity is the slide-aligned start µs; the
      * oracle replays the assignment arithmetic (base = 6h-floor, starts
      * = base − k·6h, k<4). Sums accumulate DECIMAL. */
    "agg_hopping_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start_us", "event_type")),

    /** Streaming CDC into a lake path
      * (`EventStream.runIncrementalUpsertOnce`): foreachBatch folds each
      * micro-batch into versioned parquet state as a keyed upsert (MERGE
      * without a table format, applied incrementally). The oracle is the
      * BATCH latest-per-key dedup — the stream's final state must equal
      * it regardless of micro-batch boundaries; StreamingSpec pins the
      * multi-batch + late-arrival path with maxFilesPerTrigger=1. */
    "stream_upsert_cdc" -> ((s, d) => {
      val scratch = graft.sources.Scratch.dir("stream_upsert", d,
        Shared.unique("run"))
      graft.streaming.EventStream.runIncrementalUpsertOnce(s, d, scratch)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us"),
          col("event_type"), round(col("value"), 6).as("value"))
        .orderBy("user_id")
    }),

    /** The REAL streaming SCD2 builder (`EventStream.scd2Stream`,
      * flatMapGroupsWithState with buffered-region recompute and
      * watermark-proved finalization) run to completion under
      * AvailableNow and hash-compared against the SAME DuckDB oracle as
      * the batch `scd2_history` — the stream's merged emissions must
      * reproduce the batch chain exactly, regardless of micro-batch
      * boundaries. Wide watermark per the `stream_sessionize`
      * convention; incremental finalize/eviction is pinned by
      * StreamingSpec's multi-batch MemoryStream test. */
    "stream_scd2" -> ((s, d) =>
      graft.streaming.EventStream.runScd2Once(s, d,
          Shared.unique("stream_scd2"))
        .orderBy("user_id", "valid_from_us")),

    // ---- §2.10 streaming (batch-equivalent plans; the streaming jobs in
    //      graft.streaming run the same logic incrementally) --------------
    "stream_window_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("day", "event_type")),

    /** Batch twin of the streaming ingest dedup (`streaming.EventStream
      * .dedupByContent`, first-arrival-wins on the 8-byte content hash):
      * the admitted set is exactly the distinct contents. */
    "stream_dedup_docs" -> ((s, d) =>
      graft.Tables.documents(s, d).select("text").distinct().orderBy("text")),

    /** Batch twin of the drift monitor (`streaming.EventStream
      * .driftMonitor`): per (event_type, day) z-score of the day's mean
      * value against the event_type's overall distribution. */
    "stream_drift_scores" -> ((s, d) => {
      val days = Tables.events(s, d)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_day"), avg(col("value")).as("day_mean"))
      val overall = Tables.events(s, d)
        .groupBy("event_type")
        .agg(avg(col("value")).as("all_mean"), stddev_samp(col("value")).as("all_std"))
      days.join(broadcast(overall), "event_type")
        .select(col("event_type"), col("day"), col("n_day"),
          round((col("day_mean") - col("all_mean"))
            / (col("all_std") / sqrt(col("n_day"))), 4).as("z"))
        .orderBy("event_type", "day")
    }),

    // ---- drift / monitoring pack (README.md:89-90's future-work
    //      "Monitoring System … alerts for when performance drops" made
    //      first-class): the standard model-monitoring aggregations,
    //      each ONE or two keyed aggregations over the fact table —
    //      at 100 TB these run as scheduled audits on the same partition
    //      layout as the serving queries. --------------------------------

    /** Population Stability Index of the value distribution, second half
      * of the span vs first (the retrain-trigger metric): 10 bins from
      * the REFERENCE half's exact deciles (percentile on the 1e-6 grid
      * so both engines cut identically), per-bin shares Laplace-smoothed
      * (+0.5) so an empty current bin stays finite, term =
      * (p−q)·ln(p/q). Two aggregations: decile stats, then one binned
      * count over the fact; the 10-row result carries the per-bin audit
      * (the alerting consumer sums the terms). */
    "drift_psi" -> ((s, d) => {
      val (ev, mid, cuts) = psiProfile(s, d)
      psiAssemble(ev
        .withColumn("half", when(col("t") < mid, "ref").otherwise("cur"))
        .withColumn("bin", psiBin(cuts))
        .groupBy("bin")
        .agg(sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur")))
    }),

    /** Two-sample Kolmogorov–Smirnov distance between the click and
      * purchase value distributions (covariate-shift check between
      * segments): D = max |F̂₁ − F̂₂| over the pooled sample points —
      * grouped distinct values, two cumulative-count windows, one max.
      * The reject flag applies the large-sample 95 % threshold
      * c(α)·√((n₁+n₂)/(n₁n₂)), c(0.05)=1.358. All counts are integers;
      * the single division per CDF step makes the comparison exact. */
    "drift_ks" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("g"), round(col("value"), 6).as("v"))
      val pts = ev.groupBy("v")
        .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("c2"))
      ksAssemble(s, pts)
    }),

    /** Mutual information between event_type and the value DECILE (the
      * feature-relevance screen a pipeline runs before modeling):
      * global-decile binning on the 1e-6 grid, one (type × bin) count
      * aggregation, MI = ΣΣ p·ln(p/(p_row·p_col)) in nats plus both
      * marginal entropies (the normalizing quantities). Counts are
      * exact integers; only the final 60-term sum is floating. */
    "agg_mutual_information" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type").as("g"), round(col("value"), 6).as("v"))
      val qs = (1 to 9).map(_ / 10.0)
      val cuts = ev.agg(
        expr(s"percentile(v, array(${qs.mkString(",")}))").as("c")).head()
        .getSeq[Double](0).map(c => math.rint(c * 1e6) / 1e6)
      val bin = cuts.zipWithIndex.reverse.foldLeft(lit(10)) { case (acc, (c, i)) =>
        when(col("v") <= lit(c), lit(i + 1)).otherwise(acc) }
      val cell = ev.withColumn("bin", bin).groupBy("g", "bin").count()
      val rows = cell.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2)))
      val nTot = rows.map(_._3).sum.toDouble
      val pg = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum / nTot }
      val pb = rows.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum / nTot }
      // deterministic accumulation order (sorted cells) — driver-side
      // metadata math on the |types|×10 table, same bound as ml_pca's k×k
      val sorted = rows.sortBy(r => (r._1, r._2))
      val mi = sorted.map { case (g, bn, c) =>
        val p = c / nTot
        p * math.log(p / (pg(g) * pb(bn)))
      }.sum
      val hg = -pg.toSeq.sortBy(_._1).map { case (_, p) => p * math.log(p) }.sum
      val hb = -pb.toSeq.sortBy(_._1).map { case (_, p) => p * math.log(p) }.sum
      import s.implicits._
      def r6(x: Double) = math.rint(x * 1e6) / 1e6 + 0.0
      Seq((r6(mi), r6(hg), r6(hb), r6(mi / math.min(hg, hb))))
        .toDF("mi_nats", "h_type", "h_bin", "nmi")
    }),

    // ---- hypothesis-test pack (the statistical tests the reference's
    //      EDA notebook runs via scipy/statsmodels, re-expressed as
    //      distributed aggregations; SURVEY §5.1): every statistic is
    //      derived from EXACT sufficient statistics — DECIMAL sums,
    //      integer counts, integer rank arithmetic — so both engines
    //      assemble the final floating value from identical operands.
    //      At 100 TB each test is one (or two) keyed aggregations over
    //      the fact table: nothing but the k-row sufficient-statistic
    //      frame ever leaves the executors. ----------------------------

    /** Welch two-sample t-test (unequal variances): click vs purchase
      * event values. Per-group n/Σv/Σv² accumulate as exact DECIMALs in
      * ONE conditional-aggregation pass (no second scan, no shuffle of
      * raw rows — the map-side partials already reduce to six numbers);
      * mean/variance/t/df are then pure scalar arithmetic on those
      * exact sums, so the Welch–Satterthwaite df and the t statistic
      * are bit-identical in both engines. Large-sample 95 % flag. */
    "stat_ttest_welch" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("g"),
          round(col("value"), 6).cast("decimal(18,6)").as("v"))
      val stats = ev.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "click", col("v"))).as("s1a"),
        sum(when(col("g") === "click", col("v") * col("v"))).as("s2a"),
        sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === "purchase", col("v"))).as("s1b"),
        sum(when(col("g") === "purchase", col("v") * col("v"))).as("s2b"))
      val m1 = col("s1a").cast("double") / col("n1")
      val m2 = col("s1b").cast("double") / col("n2")
      val v1 = (col("s2a").cast("double") - col("s1a").cast("double") * col("s1a").cast("double") / col("n1")) / (col("n1") - 1)
      val v2 = (col("s2b").cast("double") - col("s1b").cast("double") * col("s1b").cast("double") / col("n2")) / (col("n2") - 1)
      val se2 = v1 / col("n1") + v2 / col("n2")
      val t = (m1 - m2) / sqrt(se2)
      val df = se2 * se2 /
        ((v1 / col("n1")) * (v1 / col("n1")) / (col("n1") - 1) +
         (v2 / col("n2")) * (v2 / col("n2")) / (col("n2") - 1))
      stats.select(col("n1"), col("n2"),
        round(m1, 6).as("mean_click"), round(m2, 6).as("mean_purchase"),
        round(t, 6).as("t_stat"), round(df, 6).as("df_welch"),
        (abs(t) > 1.96).as("reject_95"))
    }),

    /** Chi-square test of independence: event_type × weekday of the
      * event. The weekday comes from pure epoch-day integer arithmetic
      * ((days+3) mod 7, 0=Monday) — never from an engine's calendar
      * function, whose week-start conventions differ. One (type ×
      * weekday) count aggregation; expected counts E = rowTot·colTot/N
      * from exact integers via two broadcast-joined marginal rollups of
      * the SAME cell frame; χ² = Σ(O−E)²/E summed over the ≤35-cell
      * grid in DECIMAL-exact O with deterministic E. Cramér's V
      * normalizes. */
    "stat_chi2_independence" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .select(col("event_type").as("g"),
          pmod(floor(unix_micros(col("ts")) / lit(86400000000L)) + 3, lit(7))
            .cast("int").as("wd"))
        .groupBy("g", "wd").agg(count(lit(1)).as("o"))
      val rowT = cell.groupBy("g").agg(sum("o").as("ng"))
      val colT = cell.groupBy("wd").agg(sum("o").as("nw"))
      val nTot = cell.agg(sum("o").as("n"))
      val terms = cell.join(broadcast(rowT), "g").join(broadcast(colT), "wd")
        .crossJoin(broadcast(nTot))
        .select(col("g"), col("wd"), col("o"), col("ng"), col("nw"), col("n"),
          (col("ng").cast("double") * col("nw") / col("n")).as("e"))
        .select(col("g"), col("wd"),
          ((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("term"),
          col("n"), col("ng"), col("nw"))
      // the ≤ 5×7 term grid is metadata-sized: accumulate driver-side in
      // sorted order so the 35-term float sum is deterministic (the same
      // convention agg_mutual_information uses for its 50-term sum)
      val rows = terms.select("g", "wd", "term").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        .sortBy(r => (r._1, r._2))
      val chi2 = rows.map(_._3).sum
      val gN = rows.map(_._1).distinct.length
      val wN = rows.map(_._2).distinct.length
      val df = (gN - 1) * (wN - 1)
      val n = terms.select(max("n")).head().getLong(0)
      val cramersV = math.sqrt(chi2 / (n.toDouble * math.min(gN - 1, wN - 1)))
      import s.implicits._
      def r6(x: Double) = math.rint(x * 1e6) / 1e6 + 0.0
      Seq((r6(chi2), df.toLong, n, r6(cramersV)))
        .toDF("chi2", "df", "n", "cramers_v")
    }),

    /** Mann–Whitney U (Wilcoxon rank-sum): click vs view values — the
      * nonparametric twin of the t-test. Midranks come from integer
      * arithmetic over the grouped-distinct value frame (cumulative
      * count window: midrank = prevCum + (ties+1)/2), so rank sums are
      * exact multiples of ½; the tie-corrected normal approximation
      * var = n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))) is assembled from
      * integer tie counts. One grouped count + one cumulative window
      * over the |distinct values| frame — raw rows never sort globally. */
    "stat_mannwhitney_u" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"), round(col("value"), 6).as("v"))
      val pts = ev.groupBy("v")
        .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === "view", 1L).otherwise(0L)).as("c2"))
        .withColumn("t", col("c1") + col("c2"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val ranked = pts
        .withColumn("prev", coalesce(sum("t").over(w), lit(0L)))
        .withColumn("midrank", col("prev") + (col("t") + 1) / lit(2.0))
      val agg = ranked.agg(
        sum(col("c1") * col("midrank")).as("r1"),
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
        .head()
      val (r1, n1, n2, tie3) =
        (agg.getDouble(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
      val u1 = r1 - n1.toDouble * (n1 + 1) / 2
      val nn = n1 + n2
      val mu = n1.toDouble * n2 / 2
      val varU = n1.toDouble * n2 / 12.0 *
        ((nn + 1).toDouble - tie3.toDouble / (nn.toDouble * (nn - 1)))
      val z = (u1 - mu) / math.sqrt(varU)
      import s.implicits._
      def r6(x: Double) = math.rint(x * 1e6) / 1e6 + 0.0
      Seq((r6(u1), n1, n2, r6(z), math.abs(z) > 1.96))
        .toDF("u_stat", "n_click", "n_view", "z_stat", "reject_95")
    }),

    /** KRUSKAL–WALLIS rank test — the nonparametric ANOVA companion
      * (`stat_anova_f` compares means assuming normality; this compares
      * DISTRIBUTIONS by midrank, immune to the fat tails
      * `stat_jarque_bera` just demonstrated): pooled midranks over the
      * grouped-value frame (the `stat_mannwhitney_u` machinery extended
      * to k=5 groups), per-type rank sums in ONE aggregation,
      * H = 12/(N(N+1))·ΣR²ⱼ/nⱼ − 3(N+1) with the standard tie
      * correction, χ²(k−1) threshold on the rounded statistic. */
    "stat_kruskal_wallis" -> ((s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, d)
        .select(col("event_type").as("g"), round(col("value"), 6).as("v"))
      val counts = types.map(t =>
        sum(when(col("g") === t, 1L).otherwise(0L)).as(s"c_$t"))
      val pts = ev.groupBy("v").agg(counts.head, counts.tail: _*)
        .withColumn("t", types.map(t => col(s"c_$t")).reduce(_ + _))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val ranked = pts
        .withColumn("prev", coalesce(sum("t").over(w), lit(0L)))
        .withColumn("midrank", col("prev") + (col("t") + 1) / lit(2.0))
      val aggs = types.flatMap(t => Seq(
        sum(col(s"c_$t") * col("midrank")).as(s"r_$t"),
        sum(col(s"c_$t")).as(s"n_$t"))) :+
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3")
      val r = ranked.agg(aggs.head, aggs.tail: _*).head()
      val ns = types.map(t => r.getAs[Long](s"n_$t"))
      val nTot = ns.sum
      val sumTerm = types.map { t =>
        val rj = r.getAs[Double](s"r_$t"); val nj = r.getAs[Long](s"n_$t")
        rj * rj / nj }.sum
      val h = 12.0 / (nTot.toDouble * (nTot + 1)) * sumTerm - 3.0 * (nTot + 1)
      val corr = 1.0 - r.getAs[Long]("tie3").toDouble /
        (nTot.toDouble * nTot * nTot - nTot)
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val hC = r6(h / corr)
      Seq((nTot, types.length.toLong, r6(h), hC, 9.487729, hC > 9.487729))
        .toDF("n", "k_groups", "h_stat", "h_corrected", "crit_95", "reject_95")
    }),

    /** One-way ANOVA F-test across ALL event types: does mean value
      * differ by type? Per-group n/Σv/Σv² in one exact-DECIMAL pass
      * (k×3 sufficient statistics); SSB/SSW assemble driver-side in
      * sorted group order (deterministic 5-term accumulation, the
      * `agg_mutual_information` convention). Reports F, both df, and
      * η² (SSB/SST) — the effect size the EDA notebook would read. */
    /** MARKOV TRANSITION MATRIX of the per-user event sequence — the
      * behavioral-analytics complement to the funnel (the funnel tests
      * ONE path; this maps the whole first-order chain): transitions
      * from each event to the user's NEXT event on the (t, event_id)
      * total order, collapsed to P(to | from) with row counts. One
      * per-user window pass + one k²-sized aggregation. The stationary
      * distribution of the estimated chain ships separately
      * (`seq_markov_stationary` — its power iteration has no SQL
      * form). */
    "seq_markov_transitions" -> ((s, d) => {
      val uw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("next_type", lead(col("event_type"), 1).over(uw))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("row_total"), 6).as("p"))
        .orderBy("from_type", "to_type")
    }),

    /** Stationary distribution of the estimated user-behavior chain —
      * where the process SPENDS ITS TIME in the long run (the
      * page-importance number for behavioral states): deterministic
      * power iteration on the k×k transition matrix (aggregate-sized
      * driver state — the `ml_pacf` bound), 100 steps from uniform.
      * FULL ORACLE (flipped from rows-only in r9): each step re-rounds
      * π to the 1e-9 HALF_UP grid — the `ts_kalman_level` grid-pinned
      * recursion convention — so a DuckDB RECURSIVE CTE carrying
      * (iter, state, π) rows and aggregating the matrix-vector product
      * per step replays the fixpoint bit-exactly (the `graph_pagerank`
      * oracle's unrolled-iteration idea, as a recursion because DuckDB
      * allows GROUP BY in the recursive term). StatsSpec still pins the
      * πP = π law and agreement with empirical state frequencies. */
    "seq_markov_stationary" -> ((s, d) => {
      import s.implicits._
      val uw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("next_type", lead(col("event_type"), 1).over(uw))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("f"), col("next_type").as("tt"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val states = trans.keySet.flatMap(k => Seq(k._1, k._2)).toSeq.sorted
      val k = states.length
      val p = Array.tabulate(k, k) { (i, j) =>
        val row = states.indices.map(jj => trans.getOrElse((states(i), states(jj)), 0L)).sum
        if (row == 0) if (i == j) 1.0 else 0.0
        else trans.getOrElse((states(i), states(j)), 0L).toDouble / row
      }
      var pi = Array.fill(k)(Grid.r9(1.0 / k))
      for (_ <- 1 to 100)
        pi = Array.tabulate(k)(j => Grid.r9((0 until k).map(i => pi(i) * p(i)(j)).sum))
      states.indices.map(i => (states(i), Grid.r6z(pi(i))))
        .toDF("state", "stationary_p").orderBy("state")
    }),

    /** LAST-TOUCH ATTRIBUTION — the marketing-analytics staple over the
      * event stream: each purchase is credited to the user's most
      * recent non-purchase touch within 24 h (the classic lookback
      * window), unmatched purchases land in the 'none' bucket. The
      * point-in-time pick IS `Joins.asof` with a tolerance — one keyed
      * union-window shuffle, no non-equi join — and the credit report
      * is one channel-sized aggregation with a window share. Touches
      * are deduped per (user, µs) with a deterministic tiebreak so the
      * ASOF twin picks identically. */
    "attribution_last_touch" -> ((s, d) => {
      val winUs = 86400000000L
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"), col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "t")
      val touch = graft.operators.Relational.dedupByKey(
        ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("t"), col("event_type").as("ch")),
        Seq("user_id", "t"), Seq(col("ch").desc))
      val credited = graft.operators.Joins.asof(purch, touch, Seq("user_id"),
          "t", "t", Seq("ch"), tolerance = Some(winUs))
        .select(coalesce(col("asof_ch"), lit("none")).as("channel"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      credited.groupBy("channel").agg(count(lit(1)).as("n_purchases"))
        .withColumn("share", round(col("n_purchases") /
          sum(col("n_purchases")).over(w), 6))
        .orderBy("channel")
    }),

    /** LEVENE'S TEST (Brown–Forsythe median variant) — the
      * variance-homogeneity precondition check in front of
      * `stat_anova_f` (ANOVA assumes it; this is the test a careful
      * workflow runs first): W = the one-way F statistic on the
      * median-centered absolute deviations zᵢⱼ = |xᵢⱼ − medianⱼ|.
      * Per-group exact medians (one percentile aggregation), the
      * deviations re-aggregated to k×3 DECIMAL sufficient statistics,
      * the same 5-term driver assembly as the ANOVA query. Full
      * oracle. */
    "stat_levene" -> ((s, d) => {
      val vals = Tables.events(s, d)
        .select(col("event_type").as("g"), round(col("value"), 6).as("x"))
      val med = vals.groupBy("g")
        .agg(round(expr("percentile(x, 0.5)"), 6).as("m"))
      val gstats = vals.join(broadcast(med), Seq("g"))
        .select(col("g"), round(abs(col("x") - col("m")), 6)
          .cast("decimal(18,6)").as("z"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"), sum("z").as("s1"),
          sum(col("z") * col("z")).as("s2"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).doubleValue(), r.getDecimal(3).doubleValue()))
        .sortBy(_._1)
      val k = gstats.length
      val n = gstats.map(_._2).sum
      val gs1 = gstats.map(_._3).sum
      val ssw = gstats.map { case (_, ng, s1, s2) => s2 - s1 * s1 / ng }.sum
      val ssb = gstats.map { case (_, ng, s1, _) => s1 * s1 / ng }.sum -
        gs1 * gs1 / n
      val w = (ssb / (k - 1)) / (ssw / (n - k))
      import s.implicits._
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      // F(4, large) 95% critical value — public constant (k=5 groups)
      Seq((k.toLong, n, r6(w), (k - 1).toLong, (n - k), 2.372,
          r6(w) > 2.372))
        .toDF("k_groups", "n", "w_stat", "df_between", "df_within",
          "crit_95", "reject_95")
    }),

    "stat_anova_f" -> ((s, d) => {
      val gstats = Tables.events(s, d)
        .select(col("event_type").as("g"),
          round(col("value"), 6).cast("decimal(18,6)").as("v"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("s1"),
          sum(col("v") * col("v")).as("s2"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).doubleValue(), r.getDecimal(3).doubleValue()))
        .sortBy(_._1)
      val k = gstats.length
      val n = gstats.map(_._2).sum
      val gs1 = gstats.map(_._3).sum
      val ssw = gstats.map { case (_, ng, s1, s2) => s2 - s1 * s1 / ng }.sum
      val ssb = gstats.map { case (_, ng, s1, _) => s1 * s1 / ng }.sum -
        gs1 * gs1 / n
      val f = (ssb / (k - 1)) / (ssw / (n - k))
      import s.implicits._
      def r6(x: Double) = math.rint(x * 1e6) / 1e6 + 0.0
      Seq((k.toLong, n, r6(f), (k - 1).toLong, (n - k),
          r6(ssb / (ssb + ssw))))
        .toDF("k_groups", "n", "f_stat", "df_between", "df_within", "eta_sq")
    }),

    // ---- technical-indicator pack (the reference's DOMAIN: commodity
    //      price analytics; `Presentation.pptx` frames the product as a
    //      trading-signal tool). Each indicator runs on the 30-minute
    //      per-type price series (`indicatorSeries`) with windows
    //      PARTITIONED by the series key — the §4.3.3 multi-series 100 TB
    //      layout: bounded parallel windows, never one global sort.
    //      Prices pre-rounded to the 1e-6 grid so both engines window
    //      identical numbers; divisions nullif-guarded (ANSI-safe). ----

    /** Bollinger bands (20-bucket SMA ± 2σ + %B): the classic
      * mean-reversion envelope. Complete windows only (n=20) so no
      * partial-window NULL conventions leak into the hash. */
    "ts_bollinger" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(-19, 0)
      indicatorSeries(s, d)
        .withColumn("n_w", count(lit(1)).over(w))
        .withColumn("sma", avg(col("px")).over(w))
        .withColumn("sd", stddev_samp(col("px")).over(w))
        .filter(col("n_w") === 20)
        .select(col("event_type"), col("bucket"), col("px"),
          round(col("sma"), 6).as("sma"),
          round(col("sma") + lit(2) * col("sd"), 6).as("upper"),
          round(col("sma") - lit(2) * col("sd"), 6).as("lower"),
          round((col("px") - (col("sma") - lit(2) * col("sd"))) /
            nullif(lit(4) * col("sd"), lit(0.0)), 6).as("pct_b"))
        .orderBy("event_type", "bucket")
    }),

    /** RSI(14), SMA (Cutler) variant: 100·ag/(ag+al) over the trailing
      * 14 deltas — the rolling-mean form, NOT Wilder's recursive
      * smoothing, so the whole indicator stays one window expression in
      * both engines (the recursion has no bounded SQL form). al=0 (a
      * 14-bucket monotone rise) is the textbook RSI=100 case, expressed
      * divisionlessly via the ag/(ag+al) identity + nullif guard. */
    "ts_rsi" -> ((s, d) => {
      val sw = Window.partitionBy("event_type").orderBy("bucket")
      val w = sw.rowsBetween(-13, 0)
      indicatorSeries(s, d)
        .withColumn("diff", round(col("px") - lag(col("px"), 1).over(sw), 6))
        .filter(col("diff").isNotNull)
        .withColumn("n_w", count(lit(1)).over(w))
        .withColumn("ag", avg(greatest(col("diff"), lit(0.0))).over(w))
        .withColumn("al", avg(greatest(-col("diff"), lit(0.0))).over(w))
        .filter(col("n_w") === 14)
        .select(col("event_type"), col("bucket"),
          round(coalesce(lit(100.0) * col("ag") /
            nullif(col("ag") + col("al"), lit(0.0)), lit(50.0)), 6).as("rsi"))
        .orderBy("event_type", "bucket")
    }),

    /** Stochastic oscillator %K/%D(14,3): position of the close inside
      * the trailing 14-bucket range, then the 3-bucket signal average of
      * the PRE-ROUNDED %K (both engines average identical grid values).
      * Flat 14-bucket range → %K defined as 50 (neutral), the common
      * library convention for a degenerate range. */
    "ts_stochastic" -> ((s, d) => {
      val sw = Window.partitionBy("event_type").orderBy("bucket")
      val w14 = sw.rowsBetween(-13, 0)
      val w3 = sw.rowsBetween(-2, 0)
      indicatorSeries(s, d)
        .withColumn("n_w", count(lit(1)).over(w14))
        .withColumn("lo", min(col("px")).over(w14))
        .withColumn("hi", max(col("px")).over(w14))
        .withColumn("k", round(coalesce(lit(100.0) * (col("px") - col("lo")) /
          nullif(col("hi") - col("lo"), lit(0.0)), lit(50.0)), 6))
        .withColumn("n_k", count(when(col("n_w") === 14, 1)).over(w3))
        // d_sig BEFORE the completeness filter: the first emitted row's
        // signal window reaches back to complete-k rows that the filter
        // drops from the output (the oracle's CTE structure — windows
        // over the full series, WHERE at the end)
        .withColumn("d_sig", round(avg(col("k")).over(w3), 6))
        .filter(col("n_w") === 14 && col("n_k") === 3)
        .select(col("event_type"), col("bucket"), col("k"), col("d_sig"))
        .orderBy("event_type", "bucket")
    }),

    /** Seasonal-trend decomposition (STL-lite, the moving-average
      * `seasonal_decompose` the reference's statsmodels workflow pairs
      * with SARIMAX): per series, trend = centered 49-bucket moving
      * average (one full daily cycle of 48 plus the center — the odd
      * window standing in for the textbook 2×48 MA), seasonal = phase
      * mean of the detrended series (phase = bucket mod 48), remainder =
      * px − trend − seasonal. One partitioned window for the trend, one
      * phase-keyed aggregation for the seasonal — additive decomposition
      * with NO recursion, so it is fully replayable in SQL and
      * hash-checked (statsmodels' default is this same MA estimator).
      * Complete trend windows only; seasonal means re-centered to sum
      * to zero over the cycle (the statsmodels convention). */
    "ts_stl_decompose" -> ((s, d) => {
      val sw = Window.partitionBy("event_type").orderBy("bucket")
      val wTrend = sw.rowsBetween(-24, 24)
      val base = indicatorSeries(s, d)
        .withColumn("n_w", count(lit(1)).over(wTrend))
        .withColumn("trend", round(avg(col("px")).over(wTrend), 6))
        .filter(col("n_w") === 49)
        .withColumn("phase", pmod(col("bucket"), lit(48)).cast("long"))
        .withColumn("det", round(col("px") - col("trend"), 6))
      val wPhase = Window.partitionBy("event_type", "phase")
      val wSeries = Window.partitionBy("event_type")
      base
        .withColumn("phase_mean", avg(col("det")).over(wPhase))
        .withColumn("cycle_mean", avg(col("det")).over(wSeries))
        .withColumn("seasonal", round(col("phase_mean") - col("cycle_mean"), 6))
        .select(col("event_type"), col("bucket"), col("px"), col("trend"),
          col("seasonal"),
          round(col("px") - col("trend") - col("seasonal"), 6).as("remainder"))
        .orderBy("event_type", "bucket")
    }),

    /** Daily VWAP + 7-day rolling VWAP over lineitem (price×volume is
      * the reference's market microstructure analog: extendedprice ×
      * quantity). Sums ride DECIMAL so both engines aggregate exactly;
      * the rolling variant re-aggregates the DAILY decimal sums (ratio
      * of 7-day totals — the correct multi-day VWAP, not a mean of
      * ratios). The daily collapse is the distributed stage; the
      * ~2.4k-row day series makes the global window bounded. */
    "ts_vwap" -> ((s, d) => {
      val w7 = Window.orderBy("day").rowsBetween(-6, 0)
      Tables.lineitem(s, d)
        .withColumn("day", Tables.epochDay(col("l_shipdate")).cast("long"))
        .groupBy("day")
        .agg(sum((col("l_extendedprice") * col("l_quantity")).cast("decimal(28,6)")).as("pv"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("v"))
        .withColumn("pv7", sum(col("pv")).over(w7))
        .withColumn("v7", sum(col("v")).over(w7))
        .select(col("day"),
          round(col("pv").cast("double") / col("v").cast("double"), 6).as("vwap"),
          round(col("pv7").cast("double") / col("v7").cast("double"), 6).as("vwap7"))
        .orderBy("day")
    }),

    /** On-balance volume over the daily lineitem series: volume signed
      * by the day-over-day VWAP direction, accumulated. The running sum
      * is a DECIMAL cumulative window (exact under any accumulation
      * order); sign compares 1e-6-rounded VWAPs so the direction bit is
      * grid-decided in both engines. */
    "ts_obv" -> ((s, d) => {
      val sw = Window.orderBy("day")
      Tables.lineitem(s, d)
        .withColumn("day", Tables.epochDay(col("l_shipdate")).cast("long"))
        .groupBy("day")
        .agg(sum((col("l_extendedprice") * col("l_quantity")).cast("decimal(28,6)")).as("pv"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("v"))
        .withColumn("vwap", round(col("pv").cast("double") / col("v").cast("double"), 6))
        .withColumn("dir", signum(col("vwap") - lag(col("vwap"), 1).over(sw)))
        .filter(col("dir").isNotNull)
        .withColumn("obv", sum((col("dir") * col("v")).cast("decimal(28,6)"))
          .over(sw.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day"), col("dir").cast("int").as("dir"),
          round(col("obv").cast("double"), 6).as("obv"))
        .orderBy("day")
    }),

    /** STL-RESIDUAL ANOMALY DETECTION — the "twitter anomaly" shape:
      * decompose the 30-minute click series (the `ts_stl_decompose`
      * machinery: centered-MA trend + re-centered phase-mean seasonal),
      * then flag buckets whose REMAINDER sits beyond 3 robust sigmas
      * (1.4826·MAD — the Hampel scale, immune to the anomalies being
      * scored). Seasonality-aware where a raw z-score would flag every
      * daily peak. One partitioned-window pass + one phase aggregation +
      * one MAD aggregation; the boolean and the z-score are decided on
      * 1e-6-grid operands in both engines; only anomalous rows emit. */
    "ts_anomaly_stl" -> ((s, d) => {
      val sw = Window.orderBy("bucket")
      val wTrend = sw.rowsBetween(-24, 24)
      val base = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("n_w", count(lit(1)).over(wTrend))
        .withColumn("trend", round(avg(col("px")).over(wTrend), 6))
        .filter(col("n_w") === 49)
        .withColumn("phase", pmod(col("bucket"), lit(48)).cast("long"))
        .withColumn("det", round(col("px") - col("trend"), 6))
      val wPhase = Window.partitionBy("phase")
      val wAll = Window.partitionBy(lit(1))
      val rem = base
        .withColumn("seasonal", round(avg(col("det")).over(wPhase) -
          avg(col("det")).over(wAll), 6))
        .withColumn("remainder", round(col("det") - col("seasonal"), 6))
      // medians interpolate between grid values, so they CAN land exactly
      // on a half-grid point — explicit half-up floor(x·1e6 + 0.5) is the
      // same operation in both engines (rint/round half conventions differ)
      def rh(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
      val st = rem.agg(
        expr("percentile(remainder, 0.5)").as("med"),
        count(lit(1)).as("n")).head()
      val med = rh(st.getDouble(0))
      val mad = rem
        .select(round(abs(col("remainder") - med), 6).as("ad"))
        .agg(expr("percentile(ad, 0.5)")).head().getDouble(0)
      val sigma = rh(1.4826 * rh(mad))
      rem
        .withColumn("z", round((col("remainder") - med) / sigma, 6))
        .filter(abs(col("z")) > 3.0)
        .select(col("bucket"), col("px"), col("remainder"), col("z"))
        .orderBy("bucket")
    }),

    /** JARQUE–BERA normality test on the 30-minute click returns — the
      * fat-tails check every returns study runs (commodity returns are
      * famously non-Gaussian; a model assuming normal innovations should
      * have to show this first): skewness and excess kurtosis from ONE
      * aggregation of the four raw power sums, JB = n/6·(S² + K²/4),
      * asymptotic χ²(2) threshold. All statistics assembled from
      * identical sums in both engines; verdict on the rounded value. */
    "stat_jarque_bera" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val r = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("dx", round(col("px") - lag(col("px"), 1).over(sw), 6))
        .filter(col("dx").isNotNull)
        .agg(count(lit(1)).as("n"), sum(col("dx")).as("s1"),
          sum(col("dx") * col("dx")).as("s2"),
          sum(col("dx") * col("dx") * col("dx")).as("s3"),
          sum(col("dx") * col("dx") * col("dx") * col("dx")).as("s4"))
        .head()
      val n = r.getAs[Long]("n").toDouble
      val m = r.getAs[Double]("s1") / n
      val m2 = r.getAs[Double]("s2") / n - m * m
      val m3 = r.getAs[Double]("s3") / n - 3 * m * r.getAs[Double]("s2") / n + 2 * m * m * m
      val m4 = r.getAs[Double]("s4") / n - 4 * m * r.getAs[Double]("s3") / n +
        6 * m * m * r.getAs[Double]("s2") / n - 3 * m * m * m * m
      val skew = m3 / math.pow(m2, 1.5)
      val exKurt = m4 / (m2 * m2) - 3.0
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val jb = r6(n / 6.0 * (skew * skew + exKurt * exKurt / 4.0))
      Seq((r.getAs[Long]("n"), r6(skew), r6(exKurt), jb, 5.991465,
          jb > 5.991465))
        .toDF("n", "skewness", "excess_kurtosis", "jb_stat", "crit_95",
          "reject_normal_95")
    }),

    /** WALD–WOLFOWITZ runs test — are the return SIGNS serially random?
      * (the nonparametric momentum/mean-reversion screen): runs of
      * positive/non-positive returns counted by one window pass, then
      * the exact-moments z-statistic z = (R − E[R])/√Var[R] with
      * E[R] = 2n₁n₂/n + 1. Sign decided on the 1e-6 grid (a zero return
      * counts as non-positive, documented); counts are exact integers so
      * both engines assemble identical statistics. */
    "stat_runs_test" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val signs = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("dx", round(col("px") - lag(col("px"), 1).over(sw), 6))
        .filter(col("dx").isNotNull)
        .withColumn("pos", (col("dx") > 0).cast("int"))
        .withColumn("chg",
          when(lag(col("pos"), 1).over(sw).isNull ||
            col("pos") =!= lag(col("pos"), 1).over(sw), 1).otherwise(0))
      val r = signs.agg(count(lit(1)).as("n"),
        sum(col("pos")).as("n1"), sum(col("chg")).as("runs")).head()
      val n = r.getAs[Long]("n"); val n1 = r.getAs[Long]("n1")
      val n2 = n - n1; val runs = r.getAs[Long]("runs")
      val eR = 2.0 * n1 * n2 / n + 1.0
      val vR = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n.toDouble * n * (n - 1))
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val z = r6((runs - eR) / math.sqrt(vR))
      Seq((n, n1, n2, runs, r6(eR), z, math.abs(z) > 1.959964))
        .toDF("n", "n_pos", "n_nonpos", "runs", "expected_runs", "z_stat",
          "reject_random_95")
    }),

    /** HURST EXPONENT by rescaled-range analysis (Hurst 1951; Peters'
      * fractal-markets reading for commodities) — the long-memory
      * diagnostic: H ≈ 0.5 for a random walk's increments, > 0.5 for
      * trending/persistent series. For block sizes 16..256 (powers of 2,
      * so the regression abscissa log₂(bs) is EXACT in both engines),
      * every full block's rescaled range R/S comes from partitioned
      * windows (cumulative deviation range / population σ — bounded
      * per-block work, the multi-series window layout), one (bs, block)
      * collapse, one per-bs average; the 5-point log-log slope is the
      * closed-form simple regression both engines replay. */
    "ml_hurst" -> ((s, d) => {
      val sizes = Seq(16, 32, 64, 128, 256)
      val sw = Window.orderBy("bucket")
      val ser = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("dx", round(col("px") - lag(col("px"), 1).over(sw), 6))
        .filter(col("dx").isNotNull)
        .withColumn("t", row_number().over(Window.orderBy("bucket")) - 1)
      val blocks = ser
        .withColumn("bs", explode(array(sizes.map(lit(_)): _*)))
        .withColumn("blk", expr("t div bs"))
      val wAll = Window.partitionBy("bs", "blk")
      val wCum = wAll.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
      val perBlock = blocks
        .withColumn("nb", count(lit(1)).over(wAll))
        .filter(col("nb") === col("bs"))
        .withColumn("m", avg(col("dx")).over(wAll))
        .withColumn("cum", sum(col("dx") - col("m")).over(wCum))
        .groupBy("bs", "blk")
        .agg((max(col("cum")) - min(col("cum"))).as("r"),
          stddev_pop(col("dx")).as("sd"))
        .filter(col("sd") > 0)
        .select(col("bs"), round(col("r") / col("sd"), 6).as("rs"))
      val perSize = perBlock.groupBy("bs")
        .agg(count(lit(1)).as("n_blocks"), Grid.mean6(col("rs")).as("mean_rs"))
        .orderBy("bs")
      import s.implicits._
      val rows = perSize.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getDouble(2)))
      // 5-point simple regression of ln(RS) on ln(bs) — closed form
      val pts = rows.map { case (bs, _, rs) => (math.log(bs.toDouble), math.log(rs)) }
      val k = pts.length
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val h = r6((k * sxy - sx * sy) / (k * sxx - sx * sx))
      rows.toSeq.map { case (bs, nb, rs) => (bs, nb, rs, h) }
        .toDF("block_size", "n_blocks", "mean_rs", "hurst")
        .orderBy("block_size")
    }),

    /** PERIODOGRAM scan — which cycle length actually dominates the
      * series? (the question the STL pack ANSWERS BY ASSUMING 48; this
      * measures it): spectral power at every candidate period p ∈ [2,96]
      * buckets via the direct DFT projections a_p = Σ c_t·cos(2πt/p),
      * b_p = Σ c_t·sin(2πt/p), power = (a²+b²)·2/n. The frequency grid
      * EXPLODES against the series (95× fan-out of a bounded frame) and
      * collapses in ONE keyed aggregation — embarrassingly parallel, the
      * same grid-explode shape as `ml_bootstrap_ci`. cos/sin factors are
      * pre-rounded to the 1e-6 grid in both engines (libm's last ulp
      * cannot leak into the sums). Top-10 periods by power — on the
      * harness data the winner sits near p≈72, NOT the daily 48 the STL
      * queries assume: exactly the kind of fact this scan exists to
      * surface before a seasonal model hardcodes its period. */
    /** WELCH'S AVERAGED PERIODOGRAM — the variance-reduced upgrade of
      * `ts_periodogram` (a raw periodogram is an inconsistent
      * estimator; Welch 1967 averages windowed overlapping segments):
      * 256-bucket Hann-windowed segments at 50% overlap (each point
      * feeds ≤ 2 segments — a bounded ×2 explode, not a per-segment
      * scan), per-(segment, period) DFT power from ONE aggregation,
      * then the across-segment mean on exact DECIMAL sums. All
      * trig/window factors grid-rounded so both engines sum identical
      * operands. */
    "ts_welch_psd" -> ((s, d) => {
      val sw = Window.orderBy("bucket")
      val segLen = 256
      val stride = 128
      val ser = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("t", row_number().over(sw) - 1)
      val nTot = ser.count()
      val maxSeg = math.max(0L, (nTot - segLen) / stride)
      val mu = ser.agg(avg(col("px"))).head().getDouble(0)
      val twoPi = 6.283185307179586
      ser.select(col("t"), round(col("px") - mu, 6).as("c"))
        .withColumn("k", explode(array(
          floor(col("t") / stride), floor(col("t") / stride) - 1)))
        .filter(col("k") >= 0 && col("k") <= maxSeg &&
          col("t") - col("k") * stride < segLen)
        .withColumn("tau", col("t") - col("k") * stride)
        .withColumn("w", round(lit(0.5) *
          (lit(1.0) - cos(lit(twoPi) * col("tau") / (segLen - 1))), 6))
        .withColumn("cw", round(col("c") * col("w"), 6))
        .withColumn("p", explode(array((2 to 96).map(lit(_)): _*)))
        .withColumn("ang", lit(twoPi) * col("tau") / col("p"))
        .withColumn("co", round(cos(col("ang")), 6))
        .withColumn("si", round(sin(col("ang")), 6))
        .groupBy("k", "p")
        .agg(sum(col("cw") * col("co")).as("a"),
          sum(col("cw") * col("si")).as("b"), count(lit(1)).as("n"))
        .select(col("p"), round((col("a") * col("a") + col("b") * col("b")) *
          2 / col("n"), 6).cast("decimal(18,6)").as("pw"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_segments"),
          round(sum(col("pw")).cast("double") / count(lit(1)), 6).as("power"))
        .select(col("p").as("period"), col("n_segments"), col("power"))
        .orderBy(col("power").desc, col("period")).limit(10)
    }),

    "ts_periodogram" -> ((s, d) => {
      val sw = Window.orderBy("bucket")
      val ser = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("t", row_number().over(sw) - 1)
      val mu = ser.agg(avg(col("px"))).head().getDouble(0)
      val cent = ser.select(col("t"),
        round(col("px") - mu, 6).as("c"))
      val twoPi = 6.283185307179586
      cent
        .withColumn("p", explode(array((2 to 96).map(lit(_)): _*)))
        .withColumn("ang", lit(twoPi) * col("t") / col("p"))
        .withColumn("co", round(cos(col("ang")), 6))
        .withColumn("si", round(sin(col("ang")), 6))
        .groupBy("p")
        .agg(sum(col("c") * col("co")).as("a"),
          sum(col("c") * col("si")).as("b"), count(lit(1)).as("n"))
        .select(col("p").as("period"),
          round((col("a") * col("a") + col("b") * col("b")) * 2 / col("n"), 6)
            .as("power"))
        .orderBy(col("power").desc, col("period")).limit(10)
    }),

    /** CROSS-CORRELATION function click ⇄ purchase at lags −12..+12
      * buckets — the lead/lag screen (`ml_granger` tests ONE lag
      * hypothesis; this maps the whole neighborhood): r_k =
      * Σ(a_t−ā)(b_{t+k}−b̄) / (√Σ(a−ā)²·√Σ(b−b̄)²), full-series
      * denominators, shifted products over the common support (the
      * standard sample CCF). One bucket-joined collapse, 25 window
      * expressions, ONE aggregation. */
    "ml_ccf" -> ((s, d) => {
      import s.implicits._
      val w = Window.orderBy("bucket")
      val maxLag = 12
      val ser = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("bucket")
        .agg(Grid.mean6(when(col("event_type") === "click", col("value"))).as("a"),
          Grid.mean6(when(col("event_type") === "purchase", col("value"))).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
      val m = ser.agg(
        (sum(col("a").cast("decimal(18,6)")).cast("double") / count(col("a")))
          .as("ma"),
        (sum(col("b").cast("decimal(18,6)")).cast("double") / count(col("b")))
          .as("mb")).head()
      val (ma, mb) = (m.getDouble(0), m.getDouble(1))
      val cent = ser.select(col("bucket"), (col("a") - ma).as("ca"),
        (col("b") - mb).as("cb"))
      val led = (-maxLag to maxLag).foldLeft(cent) { (df, k) =>
        val shifted = if (k >= 0) lead(col("cb"), k).over(w)
          else lag(col("cb"), -k).over(w)
        df.withColumn(s"s$k".replace("-", "m"), shifted)
      }
      val aggs = Seq(sum(col("ca") * col("ca")).as("va"),
        sum(col("cb") * col("cb")).as("vb")) ++
        (-maxLag to maxLag).map(k =>
          sum(col("ca") * col(s"s$k".replace("-", "m"))).as(s"n$k".replace("-", "m")))
      val r = led.agg(aggs.head, aggs.tail: _*).head()
      val den = math.sqrt(r.getAs[Double]("va")) * math.sqrt(r.getAs[Double]("vb"))
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      (-maxLag to maxLag).map { k =>
        (k, r6(r.getAs[Double](s"n$k".replace("-", "m")) / den))
      }.toDF("lag_buckets", "ccf").orderBy("lag_buckets")
    }),

    /** SEASONAL / TREND STRENGTH (FPP3 §4.3, Wang-Smith-Hyndman feature
      * space): F_T = max(0, 1 − Var(R)/Var(T+R)) and
      * F_S = max(0, 1 − Var(R)/Var(S+R)) from the same decomposition
      * `ts_stl_decompose` runs — the two numbers a forecasting triage
      * reads to pick between a trend model, a seasonal model, or
      * neither. One window pass + one phase aggregation + ONE variance
      * aggregation over grid-rounded components. */
    "ml_seasonal_strength" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val wTrend = sw.rowsBetween(-24, 24)
      val base = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("n_w", count(lit(1)).over(wTrend))
        .withColumn("trend", round(avg(col("px")).over(wTrend), 6))
        .filter(col("n_w") === 49)
        .withColumn("phase", pmod(col("bucket"), lit(48)).cast("long"))
        .withColumn("det", round(col("px") - col("trend"), 6))
      val wPhase = Window.partitionBy("phase")
      val wAll = Window.partitionBy(lit(1))
      val rem = base
        .withColumn("seasonal", round(avg(col("det")).over(wPhase) -
          avg(col("det")).over(wAll), 6))
        .withColumn("remainder", round(col("det") - col("seasonal"), 6))
        .withColumn("tr", round(col("px") - col("seasonal"), 6))
      val r = rem.agg(count(lit(1)).as("n"),
        var_pop(col("remainder")).as("vr"),
        var_pop(col("tr")).as("vtr"),
        var_pop(col("det")).as("vsr")).head()
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      Seq((r.getAs[Long]("n"),
          r6(math.max(0.0, 1.0 - r.getAs[Double]("vr") / r.getAs[Double]("vtr"))),
          r6(math.max(0.0, 1.0 - r.getAs[Double]("vr") / r.getAs[Double]("vsr")))))
        .toDF("n", "strength_trend", "strength_seasonal")
    }),

    /** DETERMINISTIC BOOTSTRAP confidence interval for the mean daily
      * click level — resampling as a DATAFLOW (B×n index grid exploded,
      * equi-joined back to the day series, one keyed mean per replicate,
      * percentile CI): the embarrassingly-parallel shape bootstrap takes
      * on a cluster. "Randomness" is a pure-integer LCG on (replicate,
      * draw) — the `corpus_mixture_sample` convention — so both engines
      * replay the exact index sequence and the oracle hash-matches what
      * a seeded RNG could never give. B=200 percentile-bootstrap
      * (Efron), 95 % interval, exact integer index arithmetic. */
    "ml_bootstrap_ci" -> ((s, d) => {
      val bReps = 200
      val daily = Tables.events(s, d).filter(col("event_type") === "click")
        .groupBy(Tables.epochDay(col("ts")).cast("long").as("day"))
        .agg(Grid.mean6(col("value")).as("x"))
      val idx = daily.select(row_number().over(Window.orderBy("day")).as("i"),
        col("x"))
      val n = idx.count()
      val draws = s.range(0, bReps.toLong).select(col("id").as("b"))
        .withColumn("j", explode(expr(s"sequence(0, ${n - 1})")))
        .withColumn("i",
          (pmod(lit(1103515245L) * (col("b") * 100003L + col("j")) + 12345L,
            lit(2147483648L)) % n + 1).cast("int"))
      val means = draws.join(idx, "i")
        .groupBy("b").agg(Grid.mean6(col("x")).as("m"))
      val pt = idx.agg(Grid.mean6(col("x")).as("mean")).head().getDouble(0)
      val ci = means.agg(
        expr("percentile(m, 0.025)").as("lo"),
        expr("percentile(m, 0.975)").as("hi"),
        round(stddev_samp(col("m")), 6).as("se")).head()
      import s.implicits._
      // interpolated percentiles → explicit half-up grid decision (the
      // same floor(x·1e6 + 0.5) the anomaly query uses)
      def rh(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
      Seq((n, bReps.toLong, pt, rh(ci.getDouble(0)), rh(ci.getDouble(1)),
          ci.getDouble(2)))
        .toDF("n_days", "n_replicates", "mean", "ci_lo", "ci_hi", "boot_se")
    }),

    /** FORECAST BASELINES — the three reference methods every forecasting
      * study must beat before a SARIMAX/ensemble earns its keep
      * (Hyndman & Athanasopoulos, FPP3 §5.2): one-step in-sample
      * naive (ŷ_t = x_{t−1}), seasonal-naive (ŷ_t = x_{t−s}, s = 48
      * buckets = one day), and drift (x_{t−1} + the average historical
      * step). Runs on the 30-minute click series: one collapse shuffle,
      * then lag/first window expressions over the bounded single-series
      * frame and ONE aggregation carrying all three methods' error sums
      * — the scoreboard never scans the series per method. Errors are
      * pre-rounded to the 1e-6 grid (predictions too, for drift's
      * division) so both engines aggregate identical operands; rows
      * where any method is undefined (t ≤ s) are excluded for all
      * three, making the comparison like-for-like. */
    "ts_forecast_baselines" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val cum = sw.rowsBetween(Window.unboundedPreceding, 0)
      val base = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(sw))
        .withColumn("naive", lag(col("px"), 1).over(sw))
        .withColumn("snaive", lag(col("px"), 48).over(sw))
        .withColumn("x1", first(col("px")).over(cum))
        .withColumn("drift", round(col("naive") +
          (col("naive") - col("x1")) / (col("rn") - lit(2)), 6))
        .filter(col("rn") > 48)
      val errs = Seq("naive" -> "naive", "seasonal_naive" -> "snaive",
        "drift" -> "drift")
      val aggs = count(lit(1)).as("n") +: errs.flatMap { case (_, c) =>
        val e = round(col("px") - col(c), 6)
        Seq(sum(abs(e)).as(s"sae_$c"), sum(e * e).as(s"sse_$c")) }
      val r = base.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("n")
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      errs.map { case (name, c) =>
        (name, n, r6(r.getAs[Double](s"sae_$c") / n),
          r6(math.sqrt(r.getAs[Double](s"sse_$c") / n)))
      }.toDF("method", "n", "mae", "rmse").orderBy("method")
    }),

    /** FORECAST COMBINATION (Bates & Granger 1969; the "combinations
      * beat components" result forecasting practice is built on):
      * inverse-MSE weights for the three baselines estimated on the
      * FIRST HALF of the common support, the weighted combination
      * evaluated against each member on the SECOND half — an honest
      * out-of-sample comparison with no leakage. One window pass builds
      * all member predictions, ONE aggregation per half; weights and the
      * report are scalar math on grid-rounded operands both engines
      * share. */
    "ml_forecast_combination" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val cum = sw.rowsBetween(Window.unboundedPreceding, 0)
      val base = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(sw))
        .withColumn("naive", lag(col("px"), 1).over(sw))
        .withColumn("snaive", lag(col("px"), 48).over(sw))
        .withColumn("x1", first(col("px")).over(cum))
        .withColumn("drift", round(col("naive") +
          (col("naive") - col("x1")) / (col("rn") - lit(2)), 6))
        .filter(col("rn") > 48)
        .localCheckpoint()
      val n = base.count()
      val cut = 48 + (n / 2) // train: rn in (48, cut]; test: rn > cut
      val methods = Seq("naive", "snaive", "drift")
      val trainAggs = methods.map { c =>
        val e = round(col("px") - col(c), 6)
        sum(e * e).as(s"sse_$c") } :+ count(lit(1)).as("n")
      val tr = base.filter(col("rn") <= cut)
        .agg(trainAggs.head, trainAggs.tail: _*).head()
      val mses = methods.map(c =>
        c -> tr.getAs[Double](s"sse_$c") / tr.getAs[Long]("n"))
      val invSum = mses.map(1.0 / _._2).sum
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val ws = mses.map { case (c, mse) => c -> r6((1.0 / mse) / invSum) }.toMap
      val comb = round(lit(ws("naive")) * col("naive") +
        lit(ws("snaive")) * col("snaive") + lit(ws("drift")) * col("drift"), 6)
      val testAggs = (methods.map(c => c -> col(c)) :+ ("combined" -> comb))
        .flatMap { case (name, p) =>
          val e = round(col("px") - p, 6)
          Seq(sum(abs(e)).as(s"sae_$name"), sum(e * e).as(s"sse_$name")) } :+
        count(lit(1)).as("n")
      val te = base.filter(col("rn") > cut)
        .agg(testAggs.head, testAggs.tail: _*).head()
      val nTest = te.getAs[Long]("n")
      (methods.map(c => (c, ws(c))) :+ (("combined", 1.0))).map { case (name, w) =>
        (name, w, nTest,
          r6(te.getAs[Double](s"sae_$name") / nTest),
          r6(math.sqrt(te.getAs[Double](s"sse_$name") / nTest)))
      }.toDF("model", "weight", "n_test", "test_mae", "test_rmse")
        .orderBy("model")
    }),

    /** LJUNG–BOX portmanteau test (the residual-whiteness check a SARIMAX
      * workflow runs after fitting — statsmodels `acorr_ljungbox`):
      * Q(k) = n(n+2)·Σ_{j≤k} r_j²/(n−j) over the first 10 sample
      * autocorrelations of the DIFFERENCED 30-minute click series (the
      * stationarity transform, so the test examines innovations rather
      * than the trending level). The ACF comes from one lead-window pass
      * + ONE aggregation (the `ml_acf` distributed shape) on the bounded
      * single-series frame; the 10-term Q ladder is driver scalar math on
      * the 1-row sufficient-statistic result, with r_j pre-rounded to the
      * 1e-6 grid so both engines assemble Q from identical operands.
      * χ²(k) 95 % critical values are public constants. */
    "stat_ljung_box" -> ((s, d) => {
      import s.implicits._
      val maxLag = 10
      val sw = Window.orderBy("bucket")
      val diff = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("dx", round(col("px") - lag(col("px"), 1).over(sw), 6))
        .filter(col("dx").isNotNull)
      val mu = diff.agg(avg(col("dx")).as("mu")).head().getDouble(0)
      val cent = diff.select(col("bucket"), (col("dx") - mu).as("c"))
      val led = (1 to maxLag).foldLeft(cent)((df, k) =>
        df.withColumn(s"c$k", lead(col("c"), k).over(Window.orderBy("bucket"))))
      val aggs = Seq(count(lit(1)).as("n"), sum(col("c") * col("c")).as("den")) ++
        (1 to maxLag).map(k => sum(col("c") * col(s"c$k")).as(s"num$k"))
      val r = led.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("n")
      val den = r.getAs[Double]("den")
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      val acf = (1 to maxLag).map(k => r6(r.getAs[Double](s"num$k") / den))
      // χ²_{0.95}(df) for df = 1..10 (Abramowitz & Stegun table 26.8)
      val crit = Seq(3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
        12.591587, 14.06714, 15.507313, 16.918978, 18.307038)
      val q = acf.zipWithIndex.scanLeft(0.0) { case (acc, (rk, i)) =>
        acc + rk * rk / (n - (i + 1)) }.tail.map(s => n * (n + 2.0) * s)
      (1 to maxLag).map { k =>
        // boolean decided on the rounded grid (the repo's boundary-rounding
        // convention) so an ulp of sum-order drift can't flip it
        (k, acf(k - 1), r6(q(k - 1)), crit(k - 1), r6(q(k - 1)) > crit(k - 1))
      }.toDF("lag", "acf", "q_stat", "crit_95", "reject_95").orderBy("lag")
    }),

    /** NADARAYA–WATSON kernel smoother over the daily click series — the
      * nonparametric trend read (the classic alternative to the rolling
      * mean; locally-weighted like LOWESS but with a closed window form):
      * ŷ(t) = Σ K(Δ)·x_{t+Δ} / Σ K(Δ) with a truncated Gaussian kernel
      * K(Δ) = exp(−Δ²/(2h²)), h = 3 days, |Δ| ≤ 7. The neighbor lookup is
      * an EXPLODE of the 15 integer offsets + one equi-join on the
      * neighbor day (the gap-fill pattern — never a non-equi self-join),
      * so the plan stays hash-partitionable at any calendar span; the 15
      * kernel weights are constants pre-rounded to the 1e-6 grid in both
      * engines. Missing neighbors at the span edges just drop out of the
      * weighted sums (the standard boundary renormalization). */
    "ml_kernel_smoother" -> ((s, d) => {
      val h = 3.0
      val offs = (-7 to 7)
      val w = offs.map(o => o -> math.rint(math.exp(-(o * o) / (2 * h * h)) * 1e6) / 1e6).toMap
      val daily = Tables.events(s, d).filter(col("event_type") === "click")
        .groupBy(Tables.epochDay(col("ts")).cast("long").as("date_id"))
        .agg(Grid.mean6(col("value")).as("x"))
      val wCol = offs.tail.foldLeft(when(col("off") === offs.head, lit(w(offs.head)))) {
        (acc, o) => acc.when(col("off") === o, lit(w(o))) }
      val neigh = daily
        .withColumn("off", explode(array(offs.map(lit(_)): _*)))
        .withColumn("nb", col("date_id") + col("off"))
        .withColumn("kw", wCol)
        .join(daily.select(col("date_id").as("nb"), col("x").as("xn")), "nb")
      neigh.groupBy("date_id")
        .agg(first(col("x")).as("x"),
          round(sum(col("kw") * col("xn")) / sum(col("kw")), 6).as("smoothed"))
        .select(col("date_id"), col("x"), col("smoothed"),
          round(col("x") - col("smoothed"), 6).as("residual"))
        .orderBy("date_id")
    }),

    /** DIEBOLD–MARIANO forecast-comparison test (Diebold & Mariano 1995)
      * between the naive and seasonal-naive baselines on the 30-minute
      * click series — the statistical answer to "is method A actually
      * better, or is the MAE gap noise?": loss differential d_t =
      * e²_naive − e²_snaive on the common support, DM = d̄/√(γ̂₀/n)
      * with the lag-0 HAC variance (exact for 1-step forecasts, where
      * d_t is serially uncorrelated under the null). One window pass +
      * ONE aggregation of (n, Σd, Σd²); the test statistic is scalar
      * math on that 1-row frame. d_t pre-rounded to the 1e-6 grid. */
    "ml_diebold_mariano" -> ((s, d) => {
      import s.implicits._
      val sw = Window.orderBy("bucket")
      val base = indicatorSeries(s, d).filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(sw))
        .withColumn("naive", lag(col("px"), 1).over(sw))
        .withColumn("snaive", lag(col("px"), 48).over(sw))
        .filter(col("rn") > 48)
        .withColumn("d", round((col("px") - col("naive")) * (col("px") - col("naive")) -
          (col("px") - col("snaive")) * (col("px") - col("snaive")), 6))
      val r = base.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sdd")).head()
      val n = r.getAs[Long]("n").toDouble
      val mean = r.getAs[Double]("sd") / n
      val g0 = r.getAs[Double]("sdd") / n - mean * mean
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
      // sign and rejection decided on the ROUNDED statistic (boundary-
      // rounding convention) so sum-order drift can't flip the verdict
      val dm = r6(mean / math.sqrt(g0 / n))
      Seq((r.getAs[Long]("n"), r6(mean), r6(g0), dm,
          if (dm < 0) "naive" else "seasonal_naive", math.abs(dm) > 1.959964))
        .toDF("n", "mean_loss_diff", "var_loss_diff", "dm_stat",
          "favored", "reject_95")
    }),
  )

  val sql: Map[String, String] = Map(
    "lead_per_target" ->
      """SELECT event_id, event_type, led FROM (
        |  SELECT event_id, event_type,
        |    CASE event_type
        |      WHEN 'click' THEN lead(value, 1) OVER w
        |      WHEN 'error' THEN lead(value, 1) OVER w
        |      WHEN 'purchase' THEN lead(value, 3) OVER w
        |      WHEN 'signup' THEN lead(value, 4) OVER w
        |      WHEN 'view' THEN lead(value, 2) OVER w
        |    END AS led
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |WHERE led IS NOT NULL ORDER BY event_id""".stripMargin,

    "spread_compute" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice - l_extendedprice * (1 - l_discount), 6) AS spread
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(t) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click'
        |        AND t > t_view AND t <= t_view + 86400000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(t) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase'
        |        AND t > t_click AND t <= t_click + 86400000000 GROUP BY 1)
        |SELECT stage, n FROM (
        |  SELECT '1_view' AS stage, count(*)::BIGINT AS n FROM v
        |  UNION ALL SELECT '2_click_after_view', count(*)::BIGINT FROM c
        |  UNION ALL SELECT '3_purchase_after_click', count(*)::BIGINT FROM p)
        |ORDER BY stage""".stripMargin,

    "ml_changepoint_cusum" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |         avg(value) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |m AS (SELECT avg(x) AS mu, stddev_pop(x) AS sigma,
        |        count(*)::BIGINT AS n FROM daily),
        |c AS (SELECT day, sum(x - mu) OVER (ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |      FROM daily, m)
        |SELECT day::BIGINT AS cp_day, round(abs(s), 6) AS max_cusum,
        |  round(abs(s) / (m.sigma * sqrt(m.n)), 6) AS stat
        |FROM c, m ORDER BY abs(s) DESC, day LIMIT 1""".stripMargin,

    "retention_cohorts" ->
      """WITH e AS (SELECT user_id, event_type,
        |             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        |           FROM events),
        |f AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM e WHERE event_type = 'purchase'),
        |cs AS (SELECT cohort, count(*)::BIGINT AS cohort_size FROM f GROUP BY 1),
        |r AS (SELECT f.cohort, a.week - f.cohort AS "offset", count(*)::BIGINT AS n_active
        |      FROM a JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT r.cohort::BIGINT AS cohort, r."offset"::BIGINT AS "offset",
        |  n_active, cohort_size,
        |  round(n_active / cohort_size::DOUBLE, 6) AS retention
        |FROM r JOIN cs USING (cohort) ORDER BY cohort, "offset" """.stripMargin,

    /** Hampel twin: same frame, same sorted-array median index math. */
    "ts_outlier_hampel" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |         avg(value) AS x
        |  FROM events GROUP BY 1, 2),
        |wnd AS (
        |  SELECT event_type, day, x,
        |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
        |                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        |  FROM daily),
        |m1 AS (SELECT *,
        |         (arr[(len(arr) - 1) // 2 + 1] + arr[len(arr) // 2 + 1]) / 2.0 AS m
        |       FROM wnd),
        |m2 AS (SELECT *,
        |         list_sort(list_transform(arr, v -> abs(v - m))) AS dev
        |       FROM m1),
        |fin AS (SELECT event_type, day, x, m,
        |          (dev[(len(dev) - 1) // 2 + 1] + dev[len(dev) // 2 + 1]) / 2.0 AS mad
        |        FROM m2)
        |SELECT event_type, day, round(x, 6) AS x, round(m, 6) AS med,
        |  round(abs(x - m), 6) > round(3.0 * 1.4826 * mad, 6) AS is_outlier
        |FROM fin ORDER BY event_type, day""".stripMargin,

    "log_returns" ->
      """SELECT event_id, round(log_ret, 6) AS log_ret FROM (
        |  SELECT event_id,
        |    CASE WHEN value / nullif(lagv, 0) > 0
        |         THEN ln(value / nullif(lagv, 0)) END AS log_ret FROM (
        |    SELECT event_id, value,
        |      lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS lagv
        |    FROM events))
        |WHERE log_ret IS NOT NULL ORDER BY event_id""".stripMargin,

    "lag_features" ->
      """SELECT event_id,
        |  lag(value, 1) OVER w AS value_lag1,
        |  lag(value, 2) OVER w AS value_lag2,
        |  lag(value, 3) OVER w AS value_lag3
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    "rolling_stats" ->
      """SELECT event_id,
        |  round(avg(value) OVER w, 6) AS rollmean,
        |  round(stddev_samp(value) OVER w, 6) AS rollstd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "seasonal_design_by_series" ->
      """WITH dsr AS (
        |  SELECT event_id, user_id,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS sar_y
        |  FROM events),
        |lagged AS (
        |  SELECT event_id, user_id, sar_y,
        |    lag(sar_y, 1) OVER w AS sar_lag1,
        |    lag(sar_y, 2) OVER w AS sar_lag2,
        |    lag(sar_y, 7) OVER w AS sar_slag7
        |  FROM dsr WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT event_id, user_id, round(sar_y, 6) AS sar_y,
        |  round(sar_lag1, 6) AS sar_lag1, round(sar_lag2, 6) AS sar_lag2,
        |  round(sar_slag7, 6) AS sar_slag7
        |FROM lagged
        |WHERE sar_lag1 IS NOT NULL AND sar_lag2 IS NOT NULL
        |  AND sar_slag7 IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    "stationarity_test" ->
      """WITH s AS (
        |  SELECT user_id, value - lagv AS dy, lagv FROM (
        |    SELECT user_id, value,
        |      lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS lagv
        |    FROM events)
        |  WHERE lagv IS NOT NULL)
        |SELECT user_id, regr_count(dy, lagv) AS n,
        |  round(regr_slope(dy, lagv), 6) AS slope,
        |  round(regr_slope(dy, lagv) / sqrt(
        |    (regr_syy(dy, lagv) - regr_sxy(dy, lagv) * regr_sxy(dy, lagv) / regr_sxx(dy, lagv))
        |    / (regr_count(dy, lagv) - 2) / regr_sxx(dy, lagv)), 4) AS df_tstat
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ml_metric_r2" -> (predSql +
      """, a AS (SELECT avg(y) AS ay FROM p)
        |SELECT round(1 - sum((y - yhat) * (y - yhat)) / sum((y - ay) * (y - ay)), 6) AS r2
        |FROM p, a""".stripMargin),

    "ml_metric_mae" -> (predSql +
      "SELECT round(avg(abs(y - yhat)), 6) AS mae FROM p"),

    "ml_metric_rmse" -> (predSql +
      "SELECT round(sqrt(avg((y - yhat) * (y - yhat))), 6) AS rmse FROM p"),

    "ml_metric_mape" -> (predSql +
      "SELECT round(avg(abs((y - yhat) / y)), 6) AS mape FROM p WHERE y <> 0"),

    "ml_metric_smape" -> (predSql +
      "SELECT round(avg(abs(y - yhat) / ((abs(y) + abs(yhat)) / 2)), 6) AS smape FROM p WHERE y <> 0"),

    "ml_metric_diracc" -> (predSql +
      """SELECT round(avg(CASE WHEN sign(y) = sign(yhat) THEN 1.0 ELSE 0.0 END), 6) AS diracc
        |FROM p""".stripMargin),

    "ml_linear_regression" ->
      """SELECT event_type, regr_count(value, lagv) AS n,
        |  round(regr_slope(value, lagv), 6) AS slope,
        |  round(regr_intercept(value, lagv), 6) AS intercept,
        |  round(regr_r2(value, lagv), 6) AS r2
        |FROM (SELECT event_type, value,
        |        lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS lagv
        |      FROM events)
        |WHERE lagv IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same deterministic gaps (day % 7 == 3 dropped from the daily agg),
    // same spine and IGNORE-NULLS fill; epoch-day longs on both engines.
    "ts_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS v
        |  FROM events GROUP BY 1, 2),
        |gapped AS (SELECT * FROM daily WHERE day % 7 != 3),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(min(day), max(day))) AS day
        |  FROM gapped GROUP BY event_type)
        |SELECT s.event_type, s.day, g.v IS NULL AS was_gap,
        |  last_value(g.v IGNORE NULLS)
        |    OVER (PARTITION BY s.event_type ORDER BY s.day) AS v_filled
        |FROM spine s LEFT JOIN gapped g USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin,

    "ts_resample_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS ts_us, event_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |b AS (SELECT *, CAST(floor(day / 7.0) AS BIGINT) AS bar FROM e),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bar
        |                       ORDER BY ts_us, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, bar
        |                       ORDER BY ts_us DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT event_type, bar,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM r GROUP BY event_type, bar
        |ORDER BY event_type, bar""".stripMargin,

    "rolling_time_range" ->
      """SELECT event_id, count(*) OVER w AS n_7d,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |        / count(*) OVER w, 6) AS avg_7d
        |FROM (SELECT event_id, user_id, value,
        |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "stream_window_agg" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "stream_window_agg_live" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    /** Single-batch AvailableNow ⇒ input equals output mass exactly. */
    "stream_observe_audit" ->
      """WITH base AS (
        |  SELECT count(*) AS n_input,
        |    round(sum(CAST(value AS DECIMAL(18,2))), 2) AS mass,
        |    count(DISTINCT (strftime(ts, '%Y-%m-%d'), event_type)) AS n_groups
        |  FROM events)
        |SELECT n_input, n_input AS n_output, n_groups::BIGINT AS n_groups,
        |  CAST(mass AS DOUBLE) AS mass_input, CAST(mass AS DOUBLE) AS mass_output,
        |  0::BIGINT AS n_dropped
        |FROM base""".stripMargin,

    /** Epoch-aligned 6-hour tumbling windows (Spark's window() aligns
      * to the epoch in UTC) + the same (n desc, user asc) rank. */
    "stream_topk_users" ->
      """WITH c AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS win_start_us,
        |    user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY win_start_us
        |    ORDER BY n_events DESC, user_id ASC) AS rk
        |  FROM c)
        |SELECT win_start_us, rk::BIGINT AS rk, user_id, n_events
        |FROM r WHERE rk <= 3 ORDER BY win_start_us, rk""".stripMargin,

    "sessionize_events" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(ts_us) - min(ts_us) AS dur_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "stream_dedup_docs" ->
      "SELECT DISTINCT text FROM documents ORDER BY text",

    "stream_join_attrib" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vts
        |  FROM events WHERE event_type = 'view')
        |SELECT c.user_id, count(*) AS n_pairs
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.vts BETWEEN c.cts - 21600000000 AND c.cts
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    "sessionize_builtin" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flagged)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(ts_us) - min(ts_us) AS dur_us
        |FROM sess GROUP BY user_id, grp
        |ORDER BY user_id, session_start_us""".stripMargin,

    "agg_hopping_window" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    21600000000 * (epoch_us(ts) // 21600000000) AS base
        |  FROM events),
        |x AS (
        |  SELECT event_type, value, base - 21600000000 * k AS win_start_us
        |  FROM e, (SELECT unnest([0, 1, 2, 3]) AS k) t)
        |SELECT win_start_us, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The stream's final state must equal the batch latest-per-key dedup.
    "stream_upsert_cdc" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |  round(value, 6) AS value
        |FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flagged)
        |SELECT user_id, CAST(min(ts_us) AS BIGINT) AS session_id,
        |  count(*) AS n_events, max(ts_us) - min(ts_us) AS dur_us
        |FROM sess GROUP BY user_id, grp
        |ORDER BY user_id, session_id""".stripMargin,

    "stream_drift_scores" ->
      """WITH days AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS n_day, avg(value) AS day_mean
        |  FROM events GROUP BY 1, 2),
        |overall AS (
        |  SELECT event_type, avg(value) AS all_mean, stddev_samp(value) AS all_std
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.day, d.n_day,
        |  round((d.day_mean - o.all_mean) / (o.all_std / sqrt(d.n_day)), 4) AS z
        |FROM days d JOIN overall o ON d.event_type = o.event_type
        |ORDER BY d.event_type, d.day""".stripMargin,

    "drift_psi" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts)::BIGINT AS t, round(value, 6) AS v FROM events),
        |bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM ev),
        |mid AS (SELECT lo + (hi - lo) // 2 AS m FROM bounds),
        |cuts AS (
        |  SELECT list_transform(
        |    quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    q -> round(q, 6)) AS c
        |  FROM ev, mid WHERE t < m),
        |binned AS (
        |  SELECT CASE
        |    WHEN v <= c[1] THEN 1 WHEN v <= c[2] THEN 2 WHEN v <= c[3] THEN 3
        |    WHEN v <= c[4] THEN 4 WHEN v <= c[5] THEN 5 WHEN v <= c[6] THEN 6
        |    WHEN v <= c[7] THEN 7 WHEN v <= c[8] THEN 8 WHEN v <= c[9] THEN 9
        |    ELSE 10 END AS bin,
        |    CASE WHEN t < m THEN 'ref' ELSE 'cur' END AS half
        |  FROM ev, cuts, mid),
        |counts AS (
        |  SELECT bin,
        |    sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
        |    sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM counts)
        |SELECT bin, n_ref, n_cur,
        |  round((n_ref + 0.5) / (tr + 5.0), 6) AS p_ref,
        |  round((n_cur + 0.5) / (tc + 5.0), 6) AS p_cur,
        |  round(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0)) *
        |        ln(((n_ref + 0.5) / (tr + 5.0)) / ((n_cur + 0.5) / (tc + 5.0))), 6)
        |    AS psi_term
        |FROM counts, tot ORDER BY bin""".stripMargin,

    "drift_ks" ->
      """WITH ev AS (
        |  SELECT event_type AS g, round(value, 6) AS v FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |pts AS (
        |  SELECT v,
        |    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c2
        |  FROM ev GROUP BY v),
        |cdf AS (
        |  SELECT v,
        |    sum(c1) OVER wv AS r1, sum(c2) OVER wv AS r2
        |  FROM pts
        |  WINDOW wv AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT max(r1)::BIGINT AS n1, max(r2)::BIGINT AS n2 FROM cdf),
        |d AS (SELECT max(abs(r1::DOUBLE / n1 - r2::DOUBLE / n2)) AS ds FROM cdf, n)
        |SELECT round(ds, 6) AS d_stat, n1 AS n_click, n2 AS n_purchase,
        |  round(1.358 * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2)), 6) AS crit_95,
        |  ds > 1.358 * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2)) AS reject_95
        |FROM d, n""".stripMargin,

    "agg_mutual_information" ->
      """WITH ev AS (
        |  SELECT event_type AS g, round(value, 6) AS v FROM events),
        |cuts AS (
        |  SELECT list_transform(
        |    quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    q -> round(q, 6)) AS c
        |  FROM ev),
        |cell AS (
        |  SELECT g, CASE
        |    WHEN v <= c[1] THEN 1 WHEN v <= c[2] THEN 2 WHEN v <= c[3] THEN 3
        |    WHEN v <= c[4] THEN 4 WHEN v <= c[5] THEN 5 WHEN v <= c[6] THEN 6
        |    WHEN v <= c[7] THEN 7 WHEN v <= c[8] THEN 8 WHEN v <= c[9] THEN 9
        |    ELSE 10 END AS bin, count(*)::BIGINT AS n
        |  FROM ev, cuts GROUP BY 1, 2),
        |tot AS (SELECT sum(n)::DOUBLE AS nt FROM cell),
        |pg AS (SELECT g, sum(n)::DOUBLE AS ng FROM cell GROUP BY g),
        |pb AS (SELECT bin, sum(n)::DOUBLE AS nb FROM cell GROUP BY bin),
        |mi AS (
        |  SELECT sum((n / nt) * ln((n / nt) / ((ng / nt) * (nb / nt)))) AS mi
        |  FROM cell JOIN pg USING (g) JOIN pb USING (bin), tot),
        |hh AS (
        |  SELECT (SELECT -sum((ng / nt) * ln(ng / nt)) FROM pg, tot) AS hg,
        |         (SELECT -sum((nb / nt) * ln(nb / nt)) FROM pb, tot) AS hb)
        |SELECT round(mi, 6) AS mi_nats, round(hg, 6) AS h_type,
        |  round(hb, 6) AS h_bin, round(mi / least(hg, hb), 6) AS nmi
        |FROM mi, hh""".stripMargin,

    "stat_ttest_welch" ->
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |st AS (
        |  SELECT
        |    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN g = 'click' THEN v END) AS s1a,
        |    sum(CASE WHEN g = 'click' THEN v * v END) AS s2a,
        |    sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN g = 'purchase' THEN v END) AS s1b,
        |    sum(CASE WHEN g = 'purchase' THEN v * v END) AS s2b
        |  FROM ev),
        |c AS (
        |  SELECT n1, n2,
        |    s1a::DOUBLE / n1 AS m1, s1b::DOUBLE / n2 AS m2,
        |    (s2a::DOUBLE - s1a::DOUBLE * s1a::DOUBLE / n1) / (n1 - 1) AS v1,
        |    (s2b::DOUBLE - s1b::DOUBLE * s1b::DOUBLE / n2) / (n2 - 1) AS v2
        |  FROM st),
        |t AS (
        |  SELECT n1, n2, m1, m2,
        |    (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS tt,
        |    (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |      / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |         + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS dfw
        |  FROM c)
        |SELECT n1, n2, round(m1, 6) AS mean_click, round(m2, 6) AS mean_purchase,
        |  round(tt, 6) AS t_stat, round(dfw, 6) AS df_welch,
        |  abs(tt) > 1.96 AS reject_95
        |FROM t""".stripMargin,

    "stat_chi2_independence" ->
      """WITH cell AS (
        |  SELECT event_type AS g,
        |    CAST(((epoch_us(ts) // 86400000000) + 3) % 7 AS INT) AS wd,
        |    count(*)::BIGINT AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT g, sum(o)::BIGINT AS ng FROM cell GROUP BY g),
        |ct AS (SELECT wd, sum(o)::BIGINT AS nw FROM cell GROUP BY wd),
        |nt AS (SELECT sum(o)::BIGINT AS n FROM cell),
        |terms AS (
        |  SELECT g, wd,
        |    (o - ng::DOUBLE * nw / n) * (o - ng::DOUBLE * nw / n)
        |      / (ng::DOUBLE * nw / n) AS term, n
        |  FROM cell JOIN rt USING (g) JOIN ct USING (wd), nt),
        |agg AS (
        |  SELECT sum(term) AS chi2, count(DISTINCT g)::BIGINT AS gn,
        |    count(DISTINCT wd)::BIGINT AS wn, max(n) AS n
        |  FROM terms)
        |SELECT round(chi2, 6) AS chi2, ((gn - 1) * (wn - 1))::BIGINT AS df, n,
        |  round(sqrt(chi2 / (n * least(gn - 1, wn - 1))), 6) AS cramers_v
        |FROM agg""".stripMargin,

    "stat_mannwhitney_u" ->
      """WITH ev AS (
        |  SELECT event_type AS g, round(value, 6) AS v FROM events
        |  WHERE event_type IN ('click', 'view')),
        |pts AS (
        |  SELECT v,
        |    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END)::BIGINT AS c2
        |  FROM ev GROUP BY v),
        |rk AS (
        |  SELECT v, c1, c2, c1 + c2 AS t,
        |    coalesce(sum(c1 + c2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM pts),
        |ag AS (
        |  SELECT sum(c1 * (prev + (t + 1) / 2.0)) AS r1,
        |    sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
        |    sum(t * t * t - t)::BIGINT AS tie3
        |  FROM rk),
        |fin AS (
        |  SELECT r1 - n1 * (n1 + 1) / 2.0 AS u1, n1, n2,
        |    n1::DOUBLE * n2 / 2 AS mu,
        |    n1::DOUBLE * n2 / 12.0 * ((n1 + n2 + 1)
        |      - tie3::DOUBLE / ((n1 + n2)::DOUBLE * (n1 + n2 - 1))) AS varu
        |  FROM ag)
        |SELECT round(u1, 6) AS u_stat, n1 AS n_click, n2 AS n_view,
        |  round((u1 - mu) / sqrt(varu), 6) AS z_stat,
        |  abs((u1 - mu) / sqrt(varu)) > 1.96 AS reject_95
        |FROM fin""".stripMargin,

    "stat_anova_f" ->
      """WITH g AS (
        |  SELECT event_type AS gg, count(*)::BIGINT AS n,
        |    sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS s1,
        |    sum(CAST(round(value, 6) AS DECIMAL(18,6))
        |      * CAST(round(value, 6) AS DECIMAL(18,6))) AS s2
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
        |    sum(s1::DOUBLE) AS gs1,
        |    sum(s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) AS ssw,
        |    sum(s1::DOUBLE * s1::DOUBLE / n) AS ssbp
        |  FROM g),
        |fin AS (SELECT k, nn, ssw, ssbp - gs1 * gs1 / nn AS ssb FROM tot)
        |SELECT k AS k_groups, nn AS n,
        |  round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat,
        |  (k - 1)::BIGINT AS df_between, (nn - k)::BIGINT AS df_within,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM fin""".stripMargin,

    "seq_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |l AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n
        |  FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    /** The grid-pinned power iteration as a RECURSIVE CTE: the working
      * table carries (iter, state, π), each step joins the k²-row
      * transition matrix and aggregates the matrix-vector product,
      * re-rounding to the shared 1e-9 grid exactly like the Spark
      * driver loop. Dangling states get the identity self-loop; states
      * with no inflow leave the recursion (their π is 0) and re-enter
      * via the final LEFT JOIN. All matrix entries are BIGINT/BIGINT
      * divisions promoted to DOUBLE — identical operands both engines. */
    "seq_markov_stationary" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |l AS (
        |  SELECT event_type AS f,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS tt
        |  FROM e),
        |tr AS MATERIALIZED (
        |  SELECT f, tt, count(*)::BIGINT AS n
        |  FROM l WHERE tt IS NOT NULL GROUP BY 1, 2),
        |states AS MATERIALIZED (SELECT DISTINCT st FROM (
        |  SELECT f AS st FROM tr UNION ALL SELECT tt FROM tr) u),
        |rowt AS MATERIALIZED (SELECT f, sum(n)::BIGINT AS rt FROM tr GROUP BY f),
        |m AS MATERIALIZED (
        |  SELECT tr.f AS i, tr.tt AS j, CAST(tr.n AS DOUBLE) / rowt.rt AS p
        |  FROM tr JOIN rowt ON tr.f = rowt.f
        |  UNION ALL
        |  SELECT st, st, CAST(1.0 AS DOUBLE) FROM states
        |  WHERE st NOT IN (SELECT f FROM tr)),
        |kk AS MATERIALIZED (SELECT count(*)::BIGINT AS k FROM states),
        |rec(it, state, pi) AS (
        |  SELECT 0, st, round(CAST(1.0 AS DOUBLE) / kk.k, 9) FROM states, kk
        |  UNION ALL
        |  SELECT it + 1, m.j,
        |    round(list_reduce(list(rec.pi * m.p ORDER BY m.i),
        |      (a, b) -> a + b), 9)
        |  FROM rec JOIN m ON rec.state = m.i
        |  WHERE it < 100
        |  GROUP BY it, m.j)
        |SELECT s.st AS state,
        |  coalesce(round(r.pi, 6), 0.0) + 0.0 AS stationary_p
        |FROM states s
        |LEFT JOIN (SELECT state, pi FROM rec WHERE it = 100) r ON s.st = r.state
        |ORDER BY state""".stripMargin,

    /** ASOF-joined touch with the 24 h staleness gate, identical dedup
      * tiebreak, share over the channel frame. */
    "attribution_last_touch" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
        |purch AS (SELECT user_id, event_id, t FROM ev WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, t, ch FROM (
        |    SELECT user_id, t, event_type AS ch,
        |      row_number() OVER (PARTITION BY user_id, t ORDER BY event_type DESC) AS rn
        |    FROM ev WHERE event_type <> 'purchase')
        |  WHERE rn = 1),
        |j AS (
        |  SELECT CASE WHEN k.t IS NOT NULL AND p.t - k.t <= 86400000000
        |           THEN k.ch ELSE 'none' END AS channel
        |  FROM purch p ASOF LEFT JOIN touch k
        |    ON p.user_id = k.user_id AND p.t >= k.t),
        |c AS (SELECT channel, count(*)::BIGINT AS n_purchases FROM j GROUP BY channel)
        |SELECT channel, n_purchases,
        |  round(n_purchases / sum(n_purchases) OVER (), 6) AS share
        |FROM c ORDER BY channel""".stripMargin,

    "stat_levene" ->
      """WITH vals AS (
        |  SELECT event_type AS g, round(value, 6) AS x FROM events),
        |med AS (
        |  SELECT g, round(quantile_cont(x, 0.5), 6) AS m FROM vals GROUP BY g),
        |z AS (
        |  SELECT vals.g, CAST(round(abs(x - m), 6) AS DECIMAL(18,6)) AS z
        |  FROM vals JOIN med ON vals.g = med.g),
        |gr AS (
        |  SELECT g, count(*)::BIGINT AS n, sum(z) AS s1, sum(z * z) AS s2
        |  FROM z GROUP BY g),
        |tot AS (
        |  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
        |    sum(s1::DOUBLE) AS gs1,
        |    sum(s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) AS ssw,
        |    sum(s1::DOUBLE * s1::DOUBLE / n) AS ssbp
        |  FROM gr),
        |fin AS (SELECT k, nn, ssw, ssbp - gs1 * gs1 / nn AS ssb FROM tot)
        |SELECT k AS k_groups, nn AS n,
        |  round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS w_stat,
        |  (k - 1)::BIGINT AS df_between, (nn - k)::BIGINT AS df_within,
        |  CAST(2.372 AS DOUBLE) AS crit_95,
        |  round((ssb / (k - 1)) / (ssw / (nn - k)), 6) > 2.372 AS reject_95
        |FROM fin""".stripMargin,

    "ts_bollinger" -> (indicatorSeriesSql +
      """, w AS (
        |  SELECT event_type, bucket, px,
        |    count(*) OVER ww AS n_w,
        |    avg(px) OVER ww AS sma,
        |    stddev_samp(px) OVER ww AS sd
        |  FROM b
        |  WINDOW ww AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket, px,
        |  round(sma, 6) AS sma,
        |  round(sma + 2 * sd, 6) AS upper,
        |  round(sma - 2 * sd, 6) AS lower,
        |  round((px - (sma - 2 * sd)) / nullif(4 * sd, 0), 6) AS pct_b
        |FROM w WHERE n_w = 20 ORDER BY event_type, bucket""".stripMargin),

    "ts_rsi" -> (indicatorSeriesSql +
      """, dd AS (
        |  SELECT event_type, bucket,
        |    round(px - lag(px) OVER (PARTITION BY event_type ORDER BY bucket), 6) AS diff
        |  FROM b),
        |w AS (
        |  SELECT event_type, bucket,
        |    count(*) OVER ww AS n_w,
        |    avg(greatest(diff, 0)) OVER ww AS ag,
        |    avg(greatest(-diff, 0)) OVER ww AS al
        |  FROM dd WHERE diff IS NOT NULL
        |  WINDOW ww AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket,
        |  round(coalesce(100.0 * ag / nullif(ag + al, 0), 50.0), 6) AS rsi
        |FROM w WHERE n_w = 14 ORDER BY event_type, bucket""".stripMargin),

    "ts_stochastic" -> (indicatorSeriesSql +
      """, w AS (
        |  SELECT event_type, bucket,
        |    count(*) OVER w14 AS n_w,
        |    min(px) OVER w14 AS lo,
        |    max(px) OVER w14 AS hi,
        |    px
        |  FROM b
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY bucket
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |kk AS (
        |  SELECT event_type, bucket, n_w,
        |    round(coalesce(100.0 * (px - lo) / nullif(hi - lo, 0), 50.0), 6) AS k
        |  FROM w),
        |sig AS (
        |  SELECT event_type, bucket, n_w, k,
        |    count(CASE WHEN n_w = 14 THEN 1 END) OVER w3 AS n_k,
        |    avg(k) OVER w3 AS d_sig
        |  FROM kk
        |  WINDOW w3 AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket, k, round(d_sig, 6) AS d_sig
        |FROM sig WHERE n_w = 14 AND n_k = 3
        |ORDER BY event_type, bucket""".stripMargin),

    "ts_stl_decompose" -> (indicatorSeriesSql +
      """, tr AS (
        |  SELECT event_type, bucket, px,
        |    count(*) OVER wt AS n_w,
        |    round(avg(px) OVER wt, 6) AS trend
        |  FROM b
        |  WINDOW wt AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 24 PRECEDING AND 24 FOLLOWING)),
        |det AS (
        |  SELECT event_type, bucket, px, trend,
        |    bucket % 48 AS phase,
        |    round(px - trend, 6) AS det
        |  FROM tr WHERE n_w = 49),
        |sea AS (
        |  SELECT event_type, bucket, px, trend,
        |    avg(det) OVER (PARTITION BY event_type, phase) AS phase_mean,
        |    avg(det) OVER (PARTITION BY event_type) AS cycle_mean
        |  FROM det)
        |SELECT event_type, bucket, px, trend,
        |  round(phase_mean - cycle_mean, 6) AS seasonal,
        |  round(px - trend - round(phase_mean - cycle_mean, 6), 6) AS remainder
        |FROM sea ORDER BY event_type, bucket""".stripMargin),

    "ts_vwap" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))::BIGINT AS day,
        |    sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS pv,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS v
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT day, pv, v,
        |    sum(pv) OVER w7 AS pv7, sum(v) OVER w7 AS v7
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, round(pv::DOUBLE / v::DOUBLE, 6) AS vwap,
        |  round(pv7::DOUBLE / v7::DOUBLE, 6) AS vwap7
        |FROM w ORDER BY day""".stripMargin,

    "ts_obv" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))::BIGINT AS day,
        |    sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS pv,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS v
        |  FROM lineitem GROUP BY 1),
        |vw AS (
        |  SELECT day, v, round(pv::DOUBLE / v::DOUBLE, 6) AS vwap FROM daily),
        |dd AS (
        |  SELECT day, v, sign(vwap - lag(vwap) OVER (ORDER BY day)) AS dir FROM vw)
        |SELECT day, dir::INT AS dir,
        |  round(sum(CAST(dir * v AS DECIMAL(28,6)))
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE,
        |        6) AS obv
        |FROM dd WHERE dir IS NOT NULL ORDER BY day""".stripMargin,

    /** The streaming SCD2 must reproduce the batch chain exactly — same
      * oracle by construction. */
    "stream_scd2" -> graft.queries.Rel.sql("scd2_history"),

    "stat_kruskal_wallis" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cnts = types.map(t =>
        s"sum(CASE WHEN g = '$t' THEN 1 ELSE 0 END)::BIGINT AS c_$t")
        .mkString(",\n        |    ")
      val tSum = types.map(t => s"c_$t").mkString(" + ")
      val rs = types.flatMap(t => Seq(
        s"sum(c_$t * midrank) AS r_$t", s"sum(c_$t)::BIGINT AS n_$t"))
        .mkString(",\n        |    ")
      val nTot = types.map(t => s"n_$t").mkString(" + ")
      val sumTerm = types.map(t => s"r_$t * r_$t / n_$t").mkString(" + ")
      s"""WITH ev AS (
        |  SELECT event_type AS g, round(value, 6) AS v FROM events),
        |pts AS (
        |  SELECT v,
        |    $cnts
        |  FROM ev GROUP BY v),
        |pt2 AS (SELECT *, $tSum AS t FROM pts),
        |ranked AS (
        |  SELECT *,
        |    coalesce(sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (t + 1) / 2.0 AS midrank
        |  FROM pt2),
        |ag AS (
        |  SELECT
        |    $rs,
        |    sum(t * t * t - t)::BIGINT AS tie3
        |  FROM ranked),
        |st AS (
        |  SELECT ($nTot) AS n,
        |    12.0 / (($nTot)::DOUBLE * (($nTot) + 1)) * ($sumTerm)
        |      - 3.0 * (($nTot) + 1) AS h,
        |    1.0 - tie3::DOUBLE
        |      / (($nTot)::DOUBLE * ($nTot) * ($nTot) - ($nTot)) AS corr
        |  FROM ag)
        |SELECT n, 5::BIGINT AS k_groups, round(h, 6) AS h_stat,
        |  round(h / corr, 6) AS h_corrected,
        |  CAST(9.487729 AS DOUBLE) AS crit_95,
        |  round(h / corr, 6) > 9.487729 AS reject_95
        |FROM st""".stripMargin
    },

    "ml_forecast_combination" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT bucket, px, row_number() OVER w AS rn,
        |    lag(px, 1) OVER w AS naive, lag(px, 48) OVER w AS snaive,
        |    first_value(px) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1
        |  FROM b WHERE event_type = 'click' WINDOW w AS (ORDER BY bucket)),
        |e AS (
        |  SELECT px, rn, naive, snaive,
        |    round(naive + (naive - x1) / (rn - 2), 6) AS drift
        |  FROM s WHERE rn > 48),
        |nn AS (SELECT count(*)::BIGINT AS n FROM e),
        |tr AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(round(px - naive, 6) * round(px - naive, 6)) AS sse_n,
        |    sum(round(px - snaive, 6) * round(px - snaive, 6)) AS sse_s,
        |    sum(round(px - drift, 6) * round(px - drift, 6)) AS sse_d
        |  FROM e, nn WHERE rn <= 48 + nn.n // 2),
        |ms AS (SELECT sse_n / n AS mse_n, sse_s / n AS mse_s,
        |        sse_d / n AS mse_d FROM tr),
        |w AS (
        |  SELECT
        |    round((1.0/mse_n) / ((1.0/mse_n) + (1.0/mse_s) + (1.0/mse_d)), 6)
        |      AS w_naive,
        |    round((1.0/mse_s) / ((1.0/mse_n) + (1.0/mse_s) + (1.0/mse_d)), 6)
        |      AS w_snaive,
        |    round((1.0/mse_d) / ((1.0/mse_n) + (1.0/mse_s) + (1.0/mse_d)), 6)
        |      AS w_drift
        |  FROM ms),
        |te AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(abs(round(px - naive, 6))) AS sae_naive,
        |    sum(round(px - naive, 6) * round(px - naive, 6)) AS sse_naive,
        |    sum(abs(round(px - snaive, 6))) AS sae_snaive,
        |    sum(round(px - snaive, 6) * round(px - snaive, 6)) AS sse_snaive,
        |    sum(abs(round(px - drift, 6))) AS sae_drift,
        |    sum(round(px - drift, 6) * round(px - drift, 6)) AS sse_drift,
        |    sum(abs(round(px - round(w_naive*naive + w_snaive*snaive
        |      + w_drift*drift, 6), 6))) AS sae_combined,
        |    sum(round(px - round(w_naive*naive + w_snaive*snaive
        |      + w_drift*drift, 6), 6) * round(px - round(w_naive*naive
        |      + w_snaive*snaive + w_drift*drift, 6), 6)) AS sse_combined
        |  FROM e, nn, w WHERE rn > 48 + nn.n // 2),
        |fin AS (
        |  SELECT 'naive' AS model, w_naive AS weight, te.n AS n_test,
        |    round(sae_naive / te.n, 6) AS test_mae,
        |    round(sqrt(sse_naive / te.n), 6) AS test_rmse FROM te, w
        |  UNION ALL SELECT 'snaive', w_snaive, te.n,
        |    round(sae_snaive / te.n, 6), round(sqrt(sse_snaive / te.n), 6)
        |  FROM te, w
        |  UNION ALL SELECT 'drift', w_drift, te.n,
        |    round(sae_drift / te.n, 6), round(sqrt(sse_drift / te.n), 6)
        |  FROM te, w
        |  UNION ALL SELECT 'combined', 1.0, te.n,
        |    round(sae_combined / te.n, 6), round(sqrt(sse_combined / te.n), 6)
        |  FROM te, w)
        |SELECT model, weight, n_test, test_mae, test_rmse
        |FROM fin ORDER BY model""".stripMargin),

    "stat_jarque_bera" -> (indicatorSeriesSql +
      """, dx AS (
        |  SELECT round(px - lag(px) OVER (ORDER BY bucket), 6) AS dx
        |  FROM b WHERE event_type = 'click'),
        |d2 AS (SELECT dx FROM dx WHERE dx IS NOT NULL),
        |st AS (
        |  SELECT count(*)::BIGINT AS n, sum(dx) AS s1, sum(dx*dx) AS s2,
        |    sum(dx*dx*dx) AS s3, sum(dx*dx*dx*dx) AS s4
        |  FROM d2),
        |mo AS (
        |  SELECT n, s1 / n AS m, s2, s3, s4 FROM st),
        |cm AS (
        |  SELECT n,
        |    s2/n - m*m AS m2,
        |    s3/n - 3*m*s2/n + 2*m*m*m AS m3,
        |    s4/n - 4*m*s3/n + 6*m*m*s2/n - 3*m*m*m*m AS m4
        |  FROM mo),
        |sk AS (
        |  SELECT n, m3 / power(m2, 1.5) AS skew, m4 / (m2*m2) - 3.0 AS ek
        |  FROM cm),
        |jb AS (
        |  SELECT n, round(skew, 6) AS skewness, round(ek, 6) AS excess_kurtosis,
        |    round(n / 6.0 * (skew*skew + ek*ek/4.0), 6) AS jb_stat
        |  FROM sk)
        |SELECT n, skewness, excess_kurtosis, jb_stat,
        |  CAST(5.991465 AS DOUBLE) AS crit_95,
        |  jb_stat > 5.991465 AS reject_normal_95
        |FROM jb""".stripMargin),

    "stat_runs_test" -> (indicatorSeriesSql +
      """, dx AS (
        |  SELECT bucket, round(px - lag(px) OVER (ORDER BY bucket), 6) AS dx
        |  FROM b WHERE event_type = 'click'),
        |d2 AS (SELECT bucket, dx FROM dx WHERE dx IS NOT NULL),
        |sg AS (
        |  SELECT bucket, CASE WHEN dx > 0 THEN 1 ELSE 0 END AS pos FROM d2),
        |ch AS (
        |  SELECT pos,
        |    CASE WHEN lag(pos) OVER (ORDER BY bucket) IS NULL
        |           OR pos <> lag(pos) OVER (ORDER BY bucket) THEN 1 ELSE 0 END
        |      AS chg
        |  FROM sg),
        |st AS (
        |  SELECT count(*)::BIGINT AS n, sum(pos)::BIGINT AS n1,
        |    sum(chg)::BIGINT AS runs
        |  FROM ch),
        |ex AS (
        |  SELECT n, n1, n - n1 AS n2, runs,
        |    2.0 * n1 * (n - n1) / n + 1.0 AS er,
        |    2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n)
        |      / (n::DOUBLE * n * (n - 1)) AS vr
        |  FROM st)
        |SELECT n, n1 AS n_pos, n2 AS n_nonpos, runs,
        |  round(er, 6) AS expected_runs,
        |  round((runs - er) / sqrt(vr), 6) AS z_stat,
        |  abs(round((runs - er) / sqrt(vr), 6)) > 1.959964 AS reject_random_95
        |FROM ex""".stripMargin),

    "ml_hurst" -> (indicatorSeriesSql +
      """, dx0 AS (
        |  SELECT bucket, round(px - lag(px) OVER (ORDER BY bucket), 6) AS dx
        |  FROM b WHERE event_type = 'click'),
        |ser AS (
        |  SELECT dx, row_number() OVER (ORDER BY bucket) - 1 AS t
        |  FROM dx0 WHERE dx IS NOT NULL),
        |blocks AS (
        |  SELECT s.t, s.dx, z.bs, s.t // z.bs AS blk
        |  FROM ser s, (SELECT unnest([16, 32, 64, 128, 256]) AS bs) z),
        |full_blocks AS (
        |  SELECT bs, blk FROM blocks GROUP BY bs, blk HAVING count(*) = bs),
        |wb AS (
        |  SELECT b2.bs, b2.blk, b2.t, b2.dx,
        |    avg(b2.dx) OVER (PARTITION BY b2.bs, b2.blk) AS m
        |  FROM blocks b2 JOIN full_blocks USING (bs, blk)),
        |cum AS (
        |  SELECT bs, blk, dx,
        |    sum(dx - m) OVER (PARTITION BY bs, blk ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM wb),
        |per_block AS (
        |  SELECT bs, blk, max(cum) - min(cum) AS r, stddev_pop(dx) AS sd
        |  FROM cum GROUP BY bs, blk),
        |rs AS (
        |  SELECT bs, round(r / sd, 6) AS rs FROM per_block WHERE sd > 0),
        |per_size AS (
        |  SELECT bs, count(*)::BIGINT AS n_blocks,
        |    round(CAST(sum(CAST(rs AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(rs), 6) AS mean_rs
        |  FROM rs GROUP BY bs),
        |reg AS (
        |  SELECT count(*)::DOUBLE AS k, sum(lx) AS sx, sum(ly) AS sy,
        |    sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        |  FROM (SELECT ln(bs::DOUBLE) AS lx, ln(mean_rs) AS ly FROM per_size))
        |SELECT bs::INT AS block_size, n_blocks, mean_rs,
        |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst
        |FROM per_size, reg ORDER BY block_size""".stripMargin),

    /** Same ×2 segment explode, Hann factors and trig on the grid, the
      * across-segment mean from exact decimal sums. */
    "ts_welch_psd" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT px, row_number() OVER (ORDER BY bucket) - 1 AS t
        |  FROM b WHERE event_type = 'click'),
        |nn AS (SELECT greatest(0, (count(*) - 256) // 128) AS max_seg FROM s),
        |m AS (SELECT avg(px) AS mu FROM s),
        |c AS (SELECT t, round(px - mu, 6) AS c FROM s, m),
        |seg AS (
        |  SELECT c.t, c.c, c.t // 128 + d.dk AS k
        |  FROM c, nn, (SELECT unnest([0, -1]) AS dk) d
        |  WHERE c.t // 128 + d.dk >= 0 AND c.t // 128 + d.dk <= max_seg
        |    AND c.t - (c.t // 128 + d.dk) * 128 < 256),
        |wv AS (
        |  SELECT k, t - k * 128 AS tau,
        |    round(c * round(0.5 * (1.0 - cos(6.283185307179586 * (t - k * 128) / 255)), 6), 6) AS cw
        |  FROM seg),
        |g AS (
        |  SELECT wv.k, wv.cw, wv.tau, pp.p,
        |    round(cos(6.283185307179586 * wv.tau / pp.p), 6) AS co,
        |    round(sin(6.283185307179586 * wv.tau / pp.p), 6) AS si
        |  FROM wv, (SELECT unnest(generate_series(2, 96)) AS p) pp),
        |ag AS (
        |  SELECT k, p, sum(cw * co) AS a, sum(cw * si) AS bb,
        |    count(*)::BIGINT AS n
        |  FROM g GROUP BY k, p),
        |pw AS (
        |  SELECT p, CAST(round((a * a + bb * bb) * 2 / n, 6) AS DECIMAL(18,6)) AS pw
        |  FROM ag)
        |SELECT p::INT AS period, count(*)::BIGINT AS n_segments,
        |  round(CAST(sum(pw) AS DOUBLE) / count(*), 6) AS power
        |FROM pw GROUP BY p
        |ORDER BY power DESC, period LIMIT 10""".stripMargin),

    "ts_periodogram" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT px, row_number() OVER (ORDER BY bucket) - 1 AS t
        |  FROM b WHERE event_type = 'click'),
        |m AS (SELECT avg(px) AS mu FROM s),
        |c AS (SELECT t, round(px - mu, 6) AS c FROM s, m),
        |g AS (
        |  SELECT c.t, c.c, pp.p,
        |    round(cos(6.283185307179586 * c.t / pp.p), 6) AS co,
        |    round(sin(6.283185307179586 * c.t / pp.p), 6) AS si
        |  FROM c, (SELECT unnest(generate_series(2, 96)) AS p) pp),
        |ag AS (
        |  SELECT p, sum(c * co) AS a, sum(c * si) AS bb,
        |    count(*)::BIGINT AS n
        |  FROM g GROUP BY p)
        |SELECT p::INT AS period,
        |  round((a * a + bb * bb) * 2 / n, 6) AS power
        |FROM ag ORDER BY power DESC, period LIMIT 10""".stripMargin),

    "ml_ccf" -> {
      val maxLag = 12
      def nm(k: Int) = s"n${if (k < 0) "m" + (-k) else k.toString}"
      def sm(k: Int) = s"s${if (k < 0) "m" + (-k) else k.toString}"
      val shifts = (-maxLag to maxLag).map(k =>
        if (k >= 0) s"lead(cb, $k) OVER w AS ${sm(k)}"
        else s"lag(cb, ${-k}) OVER w AS ${sm(k)}").mkString(",\n        |    ")
      val nums = (-maxLag to maxLag).map(k =>
        s"sum(ca * ${sm(k)}) AS ${nm(k)}").mkString(",\n        |    ")
      val arms = (-maxLag to maxLag).map(k =>
        s"SELECT $k AS lag_buckets, round(${nm(k)} / (sqrt(va) * sqrt(vb)), 6) AS ccf FROM st")
        .mkString("\n        |  UNION ALL ")
      s"""WITH ser0 AS (
        |  SELECT epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
        |        AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(CASE WHEN event_type = 'click' THEN value END), 6) AS a,
        |    round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
        |        AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(CASE WHEN event_type = 'purchase' THEN value END), 6) AS b
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |ser AS (SELECT bucket, a, b FROM ser0
        |        WHERE a IS NOT NULL AND b IS NOT NULL),
        |m AS (SELECT CAST(sum(CAST(a AS DECIMAL(18,6))) AS DOUBLE) / count(a) AS ma,
        |  CAST(sum(CAST(b AS DECIMAL(18,6))) AS DOUBLE) / count(b) AS mb FROM ser),
        |c AS (SELECT bucket, a - ma AS ca, b - mb AS cb FROM ser, m),
        |led AS (
        |  SELECT ca, cb,
        |    $shifts
        |  FROM c WINDOW w AS (ORDER BY bucket)),
        |st AS (
        |  SELECT sum(ca * ca) AS va, sum(cb * cb) AS vb,
        |    $nums
        |  FROM led)
        |SELECT lag_buckets, ccf FROM (
        |  $arms)
        |ORDER BY lag_buckets""".stripMargin
    },

    "ml_seasonal_strength" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT bucket, px, count(*) OVER wt AS n_w,
        |    round(avg(px) OVER wt, 6) AS trend
        |  FROM b WHERE event_type = 'click'
        |  WINDOW wt AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 24 FOLLOWING)),
        |base AS (
        |  SELECT bucket, px, bucket % 48 AS phase, round(px - trend, 6) AS det
        |  FROM s WHERE n_w = 49),
        |sea AS (
        |  SELECT bucket, px, det,
        |    round(avg(det) OVER (PARTITION BY phase) - avg(det) OVER (), 6)
        |      AS seasonal
        |  FROM base),
        |rem AS (
        |  SELECT round(det - seasonal, 6) AS remainder,
        |    round(px - seasonal, 6) AS tr, det
        |  FROM sea),
        |v AS (
        |  SELECT count(*)::BIGINT AS n, var_pop(remainder) AS vr,
        |    var_pop(tr) AS vtr, var_pop(det) AS vsr
        |  FROM rem)
        |SELECT n, round(greatest(0.0, 1.0 - vr / vtr), 6) AS strength_trend,
        |  round(greatest(0.0, 1.0 - vr / vsr), 6) AS strength_seasonal
        |FROM v""".stripMargin),

    "ts_anomaly_stl" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT bucket, px, count(*) OVER wt AS n_w,
        |    round(avg(px) OVER wt, 6) AS trend
        |  FROM b WHERE event_type = 'click'
        |  WINDOW wt AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 24 FOLLOWING)),
        |base AS (
        |  SELECT bucket, px, bucket % 48 AS phase, round(px - trend, 6) AS det
        |  FROM s WHERE n_w = 49),
        |sea AS (
        |  SELECT bucket, px, det,
        |    round(avg(det) OVER (PARTITION BY phase) - avg(det) OVER (), 6)
        |      AS seasonal
        |  FROM base),
        |rem AS (SELECT bucket, px, round(det - seasonal, 6) AS remainder FROM sea),
        |m1 AS (
        |  SELECT floor(quantile_cont(remainder, 0.5) * 1000000 + 0.5) / 1000000
        |    AS med FROM rem),
        |m2 AS (
        |  SELECT floor(quantile_cont(round(abs(remainder - med), 6), 0.5)
        |          * 1000000 + 0.5) / 1000000 AS mad
        |  FROM rem, m1),
        |sg AS (
        |  SELECT floor(1.4826 * mad * 1000000 + 0.5) / 1000000 AS sigma
        |  FROM m2)
        |SELECT bucket, px, remainder,
        |  round((remainder - med) / sigma, 6) AS z
        |FROM rem, m1, sg
        |WHERE abs(round((remainder - med) / sigma, 6)) > 3.0
        |ORDER BY bucket""".stripMargin),

    "ml_bootstrap_ci" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(value), 6) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |idx AS (SELECT row_number() OVER (ORDER BY day) AS i, x FROM daily),
        |nn AS (SELECT count(*)::BIGINT AS n FROM idx),
        |grid AS (
        |  SELECT bb.b, jj.j
        |  FROM (SELECT unnest(range(0, 200)) AS b) bb,
        |       (SELECT unnest(range(0, (SELECT n FROM nn))) AS j) jj),
        |draws AS (
        |  SELECT b,
        |    (((1103515245 * (b * 100003 + j) + 12345) % 2147483648) % n + 1)::INT
        |      AS i
        |  FROM grid, nn),
        |means AS (
        |  SELECT b, round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(x), 6) AS m
        |  FROM draws JOIN idx USING (i) GROUP BY b),
        |pt AS (SELECT round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
        |  / count(x), 6) AS mean FROM idx),
        |ci AS (
        |  SELECT floor(quantile_cont(m, 0.025) * 1000000 + 0.5) / 1000000 AS lo,
        |    floor(quantile_cont(m, 0.975) * 1000000 + 0.5) / 1000000 AS hi,
        |    round(stddev_samp(m), 6) AS se
        |  FROM means)
        |SELECT n AS n_days, 200::BIGINT AS n_replicates, mean,
        |  lo AS ci_lo, hi AS ci_hi, se AS boot_se
        |FROM nn, pt, ci""".stripMargin,

    "ts_forecast_baselines" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT bucket, px, row_number() OVER w AS rn,
        |    lag(px, 1) OVER w AS naive, lag(px, 48) OVER w AS snaive,
        |    first_value(px) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1
        |  FROM b WHERE event_type = 'click' WINDOW w AS (ORDER BY bucket)),
        |e AS (
        |  SELECT px, naive, snaive,
        |    round(naive + (naive - x1) / (rn - 2), 6) AS drift
        |  FROM s WHERE rn > 48),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(abs(round(px - naive, 6))) AS sae_n,
        |    sum(round(px - naive, 6) * round(px - naive, 6)) AS sse_n,
        |    sum(abs(round(px - snaive, 6))) AS sae_s,
        |    sum(round(px - snaive, 6) * round(px - snaive, 6)) AS sse_s,
        |    sum(abs(round(px - drift, 6))) AS sae_d,
        |    sum(round(px - drift, 6) * round(px - drift, 6)) AS sse_d
        |  FROM e)
        |SELECT method, n, mae, rmse FROM (
        |  SELECT 'naive' AS method, n, round(sae_n / n, 6) AS mae,
        |    round(sqrt(sse_n / n), 6) AS rmse FROM agg
        |  UNION ALL SELECT 'seasonal_naive', n, round(sae_s / n, 6),
        |    round(sqrt(sse_s / n), 6) FROM agg
        |  UNION ALL SELECT 'drift', n, round(sae_d / n, 6),
        |    round(sqrt(sse_d / n), 6) FROM agg)
        |ORDER BY method""".stripMargin),

    "stat_ljung_box" -> (indicatorSeriesSql +
      """, dx AS (
        |  SELECT bucket, round(px - lag(px) OVER (ORDER BY bucket), 6) AS dx
        |  FROM b WHERE event_type = 'click'),
        |d2 AS MATERIALIZED (SELECT bucket, dx FROM dx WHERE dx IS NOT NULL),
        |m AS (SELECT avg(dx) AS mu FROM d2),
        |c AS (SELECT bucket, dx - mu AS c FROM d2, m),
        |led AS (
        |  SELECT c, lead(c, 1) OVER w AS c1, lead(c, 2) OVER w AS c2,
        |    lead(c, 3) OVER w AS c3, lead(c, 4) OVER w AS c4,
        |    lead(c, 5) OVER w AS c5, lead(c, 6) OVER w AS c6,
        |    lead(c, 7) OVER w AS c7, lead(c, 8) OVER w AS c8,
        |    lead(c, 9) OVER w AS c9, lead(c, 10) OVER w AS c10
        |  FROM c WINDOW w AS (ORDER BY bucket)),
        |st AS (
        |  SELECT count(*)::BIGINT AS n, sum(c*c) AS den,
        |    sum(c*c1) AS n1, sum(c*c2) AS n2, sum(c*c3) AS n3,
        |    sum(c*c4) AS n4, sum(c*c5) AS n5, sum(c*c6) AS n6,
        |    sum(c*c7) AS n7, sum(c*c8) AS n8, sum(c*c9) AS n9,
        |    sum(c*c10) AS n10
        |  FROM led),
        |a AS (
        |  SELECT n, k,
        |    round(CASE k WHEN 1 THEN n1 WHEN 2 THEN n2 WHEN 3 THEN n3
        |      WHEN 4 THEN n4 WHEN 5 THEN n5 WHEN 6 THEN n6 WHEN 7 THEN n7
        |      WHEN 8 THEN n8 WHEN 9 THEN n9 ELSE n10 END / den, 6) AS r,
        |    CASE k WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
        |      WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498
        |      WHEN 6 THEN 12.591587 WHEN 7 THEN 14.06714 WHEN 8 THEN 15.507313
        |      WHEN 9 THEN 16.918978 ELSE 18.307038 END AS crit
        |  FROM st, (SELECT unnest(generate_series(1, 10)) AS k)),
        |q AS (
        |  SELECT n, k, r, crit,
        |    round(n * (n + 2.0) * sum(r * r / (n - k)) OVER (ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS q
        |  FROM a)
        |SELECT k::INT AS lag, r AS acf, q AS q_stat,
        |  CAST(crit AS DOUBLE) AS crit_95,
        |  q > crit AS reject_95
        |FROM q ORDER BY lag""".stripMargin),

    "ml_kernel_smoother" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS date_id,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(value), 6) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |w AS (
        |  SELECT o, round(exp(-(o * o) / 18.0), 6) AS kw
        |  FROM (SELECT unnest(generate_series(-7, 7)) AS o)),
        |n AS (
        |  SELECT d.date_id, d.x, w.kw, d2.x AS xn
        |  FROM daily d CROSS JOIN w
        |  JOIN daily d2 ON d2.date_id = d.date_id + w.o),
        |sm AS (
        |  SELECT date_id, x, round(sum(kw * xn) / sum(kw), 6) AS smoothed
        |  FROM n GROUP BY date_id, x)
        |SELECT date_id, x, smoothed, round(x - smoothed, 6) AS residual
        |FROM sm ORDER BY date_id""".stripMargin,

    "ml_diebold_mariano" -> (indicatorSeriesSql +
      """, s AS (
        |  SELECT px, row_number() OVER w AS rn,
        |    lag(px, 1) OVER w AS naive, lag(px, 48) OVER w AS snaive
        |  FROM b WHERE event_type = 'click' WINDOW w AS (ORDER BY bucket)),
        |e AS (
        |  SELECT round((px - naive) * (px - naive) -
        |    (px - snaive) * (px - snaive), 6) AS d
        |  FROM s WHERE rn > 48),
        |st AS (SELECT count(*)::BIGINT AS n, sum(d) AS sd, sum(d*d) AS sdd FROM e),
        |t AS (
        |  SELECT n, round(sd / n, 6) AS md,
        |    round(sdd / n - (sd / n) * (sd / n), 6) AS vd,
        |    round((sd / n) / sqrt((sdd / n - (sd / n) * (sd / n)) / n), 6) AS dm
        |  FROM st)
        |SELECT n, md AS mean_loss_diff, vd AS var_loss_diff, dm AS dm_stat,
        |  CASE WHEN dm < 0 THEN 'naive' ELSE 'seasonal_naive' END AS favored,
        |  abs(dm) > 1.959964 AS reject_95
        |FROM t""".stripMargin),
  )
}
