package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 wave registry: sequence mining, sketch-sampled quantiles,
  * permutation inference with FDR control, mRMR feature selection, and
  * minimum-variance portfolio optimization.
  *
  * House conventions throughout: 1e-6-grid inputs, DECIMAL accumulation
  * for any sum that feeds a division or crosses an aggregation whose
  * order the engines don't share, `round(x, n) + 0.0` on sign-indefinite
  * outputs (the r8 signed-zero lesson), md5 as the cross-engine
  * deterministic hash, unpartitioned windows only over bounded frames.
  */
object R9 {

  type Q = (SparkSession, String) => DataFrame

  // ---- shared templates ---------------------------------------------------

  /** RANDOMIZATION TEST + BENJAMINI–HOCHBERG FDR — multiple-testing
    * inference done the way a 100 TB engine has to do it: the "random"
    * relabeling is the house md5 hash (deterministic, mergeable,
    * replayable by any engine — no RNG state), so each of the B=100
    * replicates is one CASE expression, the whole family of 10 pairwise
    * mean-difference tests is TWO aggregations over an exploded
    * (pair × replicate) frame, and the step-up BH rule is a 10-row
    * window. Hash relabeling (each pooled bar flips sides with p=1/2) is
    * the binomial approximation of the exact permutation — standard for
    * n in the thousands, and the only form whose replicates need no
    * global shuffle of labels. p = (1 + #extreme)/(B + 1).
    *
    * Extremity is decided EXACTLY (the r9 red-row lesson): t = sa/ca −
    * sb/cb over DECIMAL(18,6) bucket means, so |t_r| >= |t_obs| is the
    * integer-rational comparison |s0·c1 − s1·c0|·(ca·cb) >=
    * |sa·cb − sb·ca|·(c0·c1) — no `round(double) >= round(double)` at a
    * boundary the construction makes common (a relabeling that
    * reproduces/mirrors the observed split gives t_r = ±t_obs). The
    * bucket means themselves ride DECIMAL sums, never a partial-merge-
    * order-dependent double avg. Widths: px ≤ 1e3 ⇒ s ≤ 1e3·c on a 1e-6
    * grid; with c ≤ 1e5 buckets the cross-products fit DECIMAL(38,6)
    * (Spark) / DECIMAL(37,6) (DuckDB) with 9+ digits of headroom. */
  /** b/types/pairs/pool/obs/reps/rep/ranked all have ≥2 consumers
    * (materialized on DuckDB: the 99-replicate pool chain re-evaluated
    * per consumer took 188 MB, 17 MB materialized). */
  private def permutationFdrSql(events: String, dl: Dialect): String = {
    val mat = dl.mat
    s"""WITH b AS $mat(
       |  SELECT event_type AS g, ${dl.bucket} AS bucket,
       |    CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS DECIMAL(18,6)) AS px
       |  FROM $events GROUP BY 1, 2),
       |types AS $mat(SELECT DISTINCT g FROM b),
       |pairs AS $mat(SELECT a.g AS ga, c.g AS gb FROM types a
       |  JOIN types c ON a.g < c.g),
       |pool AS $mat(
       |  SELECT p.ga, p.gb, b.g, b.bucket, b.px FROM pairs p
       |    JOIN b ON b.g = p.ga
       |  UNION ALL
       |  SELECT p.ga, p.gb, b.g, b.bucket, b.px FROM pairs p
       |    JOIN b ON b.g = p.gb),
       |obs AS $mat(
       |  SELECT ga, gb,
       |    CAST(sum(CASE WHEN g = ga THEN px END) AS DECIMAL(20,6)) AS sa,
       |    count(CASE WHEN g = ga THEN 1 END) AS ca,
       |    CAST(sum(CASE WHEN g = gb THEN px END) AS DECIMAL(20,6)) AS sb,
       |    count(CASE WHEN g = gb THEN 1 END) AS cb
       |  FROM pool GROUP BY 1, 2),
       |reps AS $mat(${dl.series("0, 99", "r")}),
       |rep AS $mat(
       |  SELECT ga, gb, r,
       |    CAST(sum(CASE WHEN side = 0 THEN px END) AS DECIMAL(20,6)) AS s0,
       |    count(CASE WHEN side = 0 THEN 1 END) AS c0,
       |    CAST(sum(CASE WHEN side = 1 THEN px END) AS DECIMAL(20,6)) AS s1,
       |    count(CASE WHEN side = 1 THEN 1 END) AS c1
       |  FROM (
       |    SELECT pool.ga, pool.gb, reps.r, pool.px,
       |      (${dl.md5Int(dl.concat(dl.str("reps.r"), "':'", "pool.g", "':'",
                   "\n        " + dl.str("pool.bucket")))} % 2) AS side
       |    FROM pool CROSS JOIN reps) t
       |  GROUP BY 1, 2, 3),
       |pv AS (
       |  SELECT obs.ga, obs.gb,
       |    round(CAST(obs.sa AS DOUBLE) / obs.ca
       |      - CAST(obs.sb AS DOUBLE) / obs.cb, 6) + 0.0 AS t_obs,
       |    round(CAST(1 + sum(CASE WHEN
       |        CAST(abs(rep.s0 * CAST(rep.c1 AS DECIMAL(10,0))
       |          - rep.s1 * CAST(rep.c0 AS DECIMAL(10,0))) AS DECIMAL(24,6))
       |          * CAST(obs.ca * obs.cb AS DECIMAL(13,0))
       |        >= CAST(abs(obs.sa * CAST(obs.cb AS DECIMAL(10,0))
       |          - obs.sb * CAST(obs.ca AS DECIMAL(10,0))) AS DECIMAL(24,6))
       |          * CAST(rep.c0 * rep.c1 AS DECIMAL(13,0))
       |      THEN 1 ELSE 0 END) AS DOUBLE) / 101, 6) AS p_value
       |  FROM rep JOIN obs ON rep.ga = obs.ga AND rep.gb = obs.gb
       |  GROUP BY 1, 2, obs.sa, obs.ca, obs.sb, obs.cb),
       |ranked AS $mat(
       |  SELECT ga, gb, t_obs, p_value,
       |    row_number() OVER (ORDER BY p_value, ga, gb) AS p_rank,
       |    count(*) OVER () AS m
       |  FROM pv),
       |kmax AS $mat(
       |  SELECT coalesce(max(CASE WHEN p_value * m <= p_rank * 0.1
       |    THEN p_rank END), 0) AS km FROM ranked)
       |SELECT ga AS series_a, gb AS series_b, t_obs, p_value,
       |  p_rank, round(CAST(p_rank * 0.1 AS DOUBLE) / m, 6) AS bh_threshold,
       |  p_rank <= kmax.km AS reject_fdr10
       |FROM ranked CROSS JOIN kmax
       |ORDER BY p_rank""".stripMargin
  }

  /** mRMR FEATURE SELECTION (Peng et al. 2005 — max-relevance
    * min-redundancy, MID form): the feature-selection pass a modeling
    * pipeline runs before any `ml_*` fit. Five discrete candidate
    * features over the event fact (hour-of-day band, payload-k band,
    * value-vs-median, user bucket, day-of-week) against the purchase
    * target. ONE scan collapses the fact to the joint contingency CUBE
    * (≤ a few thousand cells); every relevance MI(f; y) and redundancy
    * MI(f; f') then re-aggregates the cube — never the fact. The greedy
    * selection unrolls as five chained CTE steps (argmax is a window
    * rank with a name tiebreak), so the full selection ORDER ships in
    * the result and the DuckDB twin replays it exactly. MI terms are
    * re-gridded at 1e-9 and summed in DECIMAL (cell order differs per
    * engine); counts are exact integers so both engines ln() identical
    * rationals. */
  private val mrmrFeats = Seq("f_hour", "f_k", "f_val", "f_user", "f_dow")

  /** The SHARED MI section of the mRMR query, downstream of the joint
    * contingency cube: the relevance vector MI(f; y) and symmetric
    * redundancy matrix MI(f; f') from cube re-aggregation. One text for
    * both engines (`cube` is a table reference — a checkpointed temp
    * view on the Spark side, a MATERIALIZED CTE on the DuckDB side,
    * because BOTH engines re-evaluate a plain CTE per reference and
    * this section references the cube ~16 times). Returns the text
    * AFTER the `WITH` keyword. The DERIVED CTEs are materialized on
    * DuckDB (rel/red are each consumed up to 5× by the greedy tail) —
    * without it the oracle re-expands the whole MI chain per consumer
    * (measured 2.7 GB peak /
    * 5.3 s; with it 53 MB / 0.07 s, identical result — and the 2.7 GB
    * burst was one of the allocation spikes that killed the driver
    * harness's map-starved single-connection replay in r11); on Spark
    * the cube view is a localCheckpoint, and rel/red are each read once. */
  private def mrmrMiSql(cube: String, dl: Dialect): String = {
    val mat = dl.mat
    val feats = mrmrFeats
    val fy = feats.map(f =>
      s"SELECT '$f' AS f, $f AS lv, y, sum(c) AS c FROM $cube GROUP BY 2, 3")
      .mkString("\n  UNION ALL\n  ")
    val prs = (for {
      i <- feats.indices; j <- feats.indices if i < j
    } yield s"SELECT '${feats(i)}' AS fa, '${feats(j)}' AS fb, " +
        s"${feats(i)} AS la, ${feats(j)} AS lb, sum(c) AS c " +
        s"FROM $cube GROUP BY 3, 4")
      .mkString("\n  UNION ALL\n  ")
    s"""nt AS $mat(SELECT CAST(sum(c) AS DOUBLE) AS n FROM $cube),
       |fy AS $mat(
       |  $fy),
       |rel AS $mat(
       |  SELECT f,
       |    CAST(sum(CAST(round((c / nt.n) * ln(c * nt.n / (cx * cy)), 9)
       |      AS DECIMAL(28,9))) AS DOUBLE) AS mi
       |  FROM (
       |    SELECT f, lv, y, c,
       |      sum(c) OVER (PARTITION BY f, lv) AS cx,
       |      sum(c) OVER (PARTITION BY f, y) AS cy
       |    FROM fy) t CROSS JOIN nt
       |  GROUP BY f),
       |pr AS $mat(
       |  $prs),
       |red0 AS $mat(
       |  SELECT fa, fb,
       |    CAST(sum(CAST(round((c / nt.n) * ln(c * nt.n / (ca * cb)), 9)
       |      AS DECIMAL(28,9))) AS DOUBLE) AS mi
       |  FROM (
       |    SELECT fa, fb, la, lb, c,
       |      sum(c) OVER (PARTITION BY fa, fb, la) AS ca,
       |      sum(c) OVER (PARTITION BY fa, fb, lb) AS cb
       |    FROM pr) t CROSS JOIN nt
       |  GROUP BY fa, fb),
       |red AS $mat(SELECT fa, fb, mi FROM red0
       |  UNION ALL SELECT fb AS fa, fa AS fb, mi FROM red0)""".stripMargin
  }

  /** The greedy-selection tail of the oracle (unrolled CTE steps over
    * the MI section — the DuckDB side only; Spark replays this exact
    * arithmetic on the driver because Catalyst's re-planning of the
    * chain's ~2⁵ inlined CTE references is a many-minutes analysis
    * blow-up even over a tiny materialized cube). */
  private def mrmrStepsSql: String = {
    val feats = mrmrFeats
    // every sN/selN below is MATERIALIZED: each selN is consumed by
    // s(N+1) twice plus sel(N+1), so a plain CTE re-expands the whole
    // prior-step chain per consumer (the multi-consumer explosion —
    // same class as the Spark-side ~2⁵ blow-up documented above)
    val steps = (2 to feats.length).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT $k AS step, f, relevance, redundancy, score FROM (
         |    SELECT r.f, r.mi AS relevance, rd.ar AS redundancy,
         |      round(r.mi - rd.ar, 9) AS score,
         |      row_number() OVER (ORDER BY round(r.mi - rd.ar, 9) DESC, r.f)
         |        AS rn
         |    FROM rel r JOIN (
         |      SELECT red.fa AS f,
         |        CAST(sum(CAST(round(red.mi, 9) AS DECIMAL(28,9)))
         |          AS DOUBLE) / ${k - 1}.0 AS ar
         |      FROM red JOIN sel${k - 1} sp ON red.fb = sp.f
         |      GROUP BY red.fa) rd ON rd.f = r.f
         |    WHERE r.f NOT IN (SELECT f FROM sel${k - 1})) t
         |  WHERE rn = 1),
         |sel$k AS MATERIALIZED (SELECT f FROM sel${k - 1} UNION ALL SELECT f FROM s$k)"""
        .stripMargin
    }.mkString(",\n")
    val unionAll = (1 to feats.length).map(k => s"SELECT * FROM s$k")
      .mkString(" UNION ALL ")
    s"""s1 AS MATERIALIZED (
       |  SELECT 1 AS step, f, mi AS relevance, CAST(0.0 AS DOUBLE)
       |    AS redundancy, mi AS score
       |  FROM (SELECT f, mi, row_number() OVER (ORDER BY mi DESC, f) AS rn
       |        FROM rel) t WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT f FROM s1),
       |$steps
       |SELECT step, f AS feature,
       |  round(relevance, 6) + 0.0 AS relevance,
       |  round(redundancy, 6) + 0.0 AS redundancy,
       |  round(score, 6) + 0.0 AS score
       |FROM ($unionAll) allsteps
       |ORDER BY step""".stripMargin
  }

  /** HAAR WAVELET ENERGY DECOMPOSITION — the multi-resolution
    * companion to `ts_periodogram`/`ts_welch_psd`: per series, detail
    * coefficients at dyadic scales 2¹…2⁸ over the first ≤256 30-min
    * bars (d_{ℓ,i} = (mean of first half − mean of second half)/2 of
    * each 2^ℓ block — the closed BLOCK form of the Haar cascade, so
    * every level is one grouped aggregation over the base bars, no
    * recursion), per-level energy Σd² and its share. ONE shared text:
    * the level table is an explicit 8-row UNION (no power()), block
    * and half indices come from exact floor arithmetic on ≤256-sized
    * integers, block sums are DECIMAL-exact, d is re-gridded at 1e-9,
    * and the energy share divides exact DECIMAL window sums. The ≤256
    * window cap is the scale posture: cost is per-series-bounded no
    * matter the corpus. */
  private def haarSql(events: String, dl: Dialect): String = {
    val lv = (1 to 8).map(l => s"SELECT $l AS l, ${1 << l} AS bs")
      .mkString(" UNION ALL ")
    s"""WITH b AS (
       |  SELECT event_type AS g, ${dl.bucket} AS bucket,
       |    CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS DECIMAL(18,6)) AS px
       |  FROM $events GROUP BY 1, 2),
       |s AS (
       |  SELECT g, px,
       |    row_number() OVER (PARTITION BY g ORDER BY bucket) AS rn,
       |    count(*) OVER (PARTITION BY g) AS n
       |  FROM b),
       |m AS (
       |  SELECT g, CASE WHEN max(n) >= 256 THEN 256
       |    WHEN max(n) >= 128 THEN 128 WHEN max(n) >= 64 THEN 64
       |    WHEN max(n) >= 32 THEN 32 ELSE 16 END AS m
       |  FROM s GROUP BY g),
       |lv AS ($lv),
       |x AS (
       |  SELECT s.g, s.rn, s.px, m.m FROM s JOIN m ON s.g = m.g
       |  WHERE s.rn <= m.m),
       |c AS (
       |  SELECT x.g, lv.l, lv.bs,
       |    CAST(floor((x.rn - 1) / (lv.bs * 1.0)) AS BIGINT) AS blk,
       |    CAST(floor(((x.rn - 1) % lv.bs) / (lv.bs / 2.0)) AS BIGINT) AS half,
       |    x.px
       |  FROM x JOIN lv ON lv.bs <= x.m),
       |h AS (
       |  SELECT g, l, blk, half, sum(px) AS sp, count(*) AS cnt
       |  FROM c GROUP BY 1, 2, 3, 4),
       |dcoef AS (
       |  SELECT g, l, blk,
       |    round((CAST(max(CASE WHEN half = 0 THEN sp END) AS DOUBLE)
       |        / max(CASE WHEN half = 0 THEN cnt END)
       |      - CAST(max(CASE WHEN half = 1 THEN sp END) AS DOUBLE)
       |        / max(CASE WHEN half = 1 THEN cnt END)) / 2.0, 9) AS d
       |  FROM h GROUP BY 1, 2, 3),
       |e AS (
       |  SELECT g, l, count(*) AS n_coeffs,
       |    sum(CAST(round(d * d, 9) AS DECIMAL(28,9))) AS edec
       |  FROM dcoef GROUP BY 1, 2)
       |SELECT g AS event_type, l AS level, n_coeffs,
       |  round(CAST(edec AS DOUBLE), 6) AS energy,
       |  round(CAST(edec AS DOUBLE) /
       |    CAST(sum(edec) OVER (PARTITION BY g) AS DOUBLE), 6) AS energy_share
       |FROM e ORDER BY event_type, level""".stripMargin
  }

  /** DuckDB rendition: cube built inline from the events table as
    * MATERIALIZED CTEs (without the hint DuckDB re-evaluates the whole
    * fw scan per cube reference — measured 99 s → 5 s at sf0.01). */
  private def mrmrOracleSql(events: String): String = {
    val dl = Dialect.DuckDb
    s"""WITH med AS MATERIALIZED (SELECT ${dl.median("value")} AS m FROM $events),
       |fw AS MATERIALIZED (
       |  SELECT
       |    CAST(floor(hour(ts) / 6.0) AS BIGINT) AS f_hour,
       |    CAST(floor(${dl.jsonLong("props", "$.k")} / 25.0) AS BIGINT) AS f_k,
       |    CASE WHEN value >= med.m THEN 1 ELSE 0 END AS f_val,
       |    user_id % 3 AS f_user,
       |    (${dl.day}) % 7 AS f_dow,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM $events CROSS JOIN med),
       |mrmr_cube AS MATERIALIZED (
       |  SELECT f_hour, f_k, f_val, f_user, f_dow, y, count(*) AS c
       |  FROM fw GROUP BY 1, 2, 3, 4, 5, 6),
       |${mrmrMiSql("mrmr_cube", dl)},
       |$mrmrStepsSql""".stripMargin
  }

  // ---- queries ------------------------------------------------------------

  private[graft] lazy val shared: Map[String, Shared] = Map(
    "stat_permutation_fdr" -> Shared.sql((dl, t) => permutationFdrSql(t("events"), dl)),
    "ts_haar_energy" -> Shared.sql((dl, t) => haarSql(t("events"), dl)))

  val qs: Map[String, Q] = Map[String, Q](

    /** SEQUENTIAL PATTERN MINING, length-3 — the path generalization of
      * `seq_markov_transitions` (pairs) and `funnel` (one fixed path):
      * every per-user consecutive event-type trigram on the
      * (t, event_id) total order, counted and ranked. ONE per-user
      * window pass (two leads share the frame) + one ≤k³-sized
      * aggregation; the share rides a window over that bounded frame.
      * The "what do users actually do" query behind any funnel design. */
    "seq_path_trigrams" -> ((s, d) => {
      val uw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val all = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("e2", lead(col("event_type"), 1).over(uw))
        .withColumn("e3", lead(col("event_type"), 2).over(uw))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2").as("s2"),
          col("e3").as("s3"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum(col("n")).over(all), 6))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
        .limit(20)
    }),

    /** BOTTOM-K QUANTILE SKETCH AUDIT — the mergeable quantile path
      * (KMV/bottom-k sampling: keep the k rows with the smallest
      * md5(event_id); the bottom-k of a union is the bottom-k of the
      * merged bottom-k's, so the sample is mergeable across partitions
      * and DETERMINISTIC, unlike a t-digest whose merge order leaks into
      * the result). Per series: interpolated quantiles over the 256-row
      * sample NEXT TO the exact quantiles over the full data, absolute
      * error in the result — the audit a serving layer runs before
      * trusting the sketch. Sample membership is a rank over the house
      * hash; both engines pick identical rows and interpolate identical
      * grid values. */
    "agg_quantile_bottomk" -> ((s, d) => {
      val hv = expr("conv(substring(md5(cast(event_id AS string)), 1, 8), 16, 10)")
        .cast("long")
      val rw = Window.partitionBy("event_type").orderBy(col("hv"), col("event_id"))
      val base = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value"), 6).as("v"))
        .withColumn("hv", hv)
        .withColumn("rk", row_number().over(rw))
      val qsArr = "array(0.1, 0.25, 0.5, 0.75, 0.9)"
      val est = base.filter(col("rk") <= 256)
        .groupBy("event_type")
        .agg(expr(s"percentile(v, $qsArr)").as("est"),
          count(lit(1)).as("n_sample"))
      val exact = base.groupBy("event_type")
        .agg(expr(s"percentile(v, $qsArr)").as("ex"),
          count(lit(1)).as("n_total"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_total"), col("n_sample"),
          posexplode(arrays_zip(col("est"), col("ex"))))
        .select(col("event_type"), col("n_total"), col("n_sample"),
          element_at(lit(Array(0.1, 0.25, 0.5, 0.75, 0.9)), col("pos") + 1)
            .as("q"),
          (round(col("col.est"), 6) + 0.0).as("est_q"),
          (round(col("col.ex"), 6) + 0.0).as("exact_q"),
          round(abs(col("col.est") - col("col.ex")), 6).as("abs_err"))
        .orderBy("event_type", "q")
    }),


    /** IRREGULAR-TIME EWMA — the time-decay smoother real event streams
      * need (bar-based EWMA assumes equal spacing; market/event data is
      * not): s_t = s_{t-1} + α_t (v_t − s_{t-1}) with
      * α_t = 1 − exp(−Δt/τ), τ = 6 h, on RAW event times. Per-series
      * `flatMapGroups` scan (O(1) state per group, distributed ACROSS
      * series — the `ts_kalman_level` machinery) with every α and state
      * re-rounded to the 1e-9 grid so the DuckDB RECURSIVE-CTE twin
      * replays the recursion bitwise. (t, event_id) total order makes
      * simultaneous events deterministic. */
    "ts_ewma_irregular" -> ((s, d) => {
      import s.implicits._
      val tauUs = 21600000000.0
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("t"), round(col("value"), 6).as("v"))
        .as[(String, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val pts = it.toArray.sortBy(p => (p._3, p._2))
          var ewma = 0.0
          var tPrev = 0L
          pts.iterator.zipWithIndex.map { case ((_, id, t, v), i) =>
            val alpha =
              if (i == 0) { ewma = v; tPrev = t; 1.0 }
              else {
                val a = Grid.r9(1.0 - math.exp(-(t - tPrev).toDouble / tauUs))
                ewma = Grid.r9(ewma + a * (v - ewma))
                tPrev = t
                a
              }
            (g, t, id, v, alpha, ewma)
          }
        }
        .toDF("event_type", "t", "event_id", "v", "alpha", "ewma")
        .orderBy("event_type", "t", "event_id")
    }),

    /** RAKE KEYWORD EXTRACTION (Rose et al. 2010) — the unsupervised
      * keyphrase staple over the corpus: candidate phrases are maximal
      * stopword-free token runs (capped at 4 tokens), word scores are
      * degree/frequency over the kept phrases, a phrase scores the sum
      * of its word scores. Phrase segmentation is ONE per-doc window
      * (cumulative stopword count = phrase id); all scoring is corpus-
      * level aggregation; per-phrase word-score sums ride the 1e-9
      * DECIMAL grid (≤4 terms, order-free). Top-20 by (score, phrase). */
    "text_rake_keywords" -> ((s, d) => {
      val wp = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val toks = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("pos", "pos").withColumnRenamed("col", "tok")
        .withColumn("stop",
          col("tok").isin(graft.functions.Text.stopwords: _*))
        .withColumn("pid", sum(col("stop").cast("int")).over(wp))
      val words = toks.filter(!col("stop"))
        .select("doc_id", "pid", "pos", "tok")
      val phraseLen = words.groupBy("doc_id", "pid")
        .agg(count(lit(1)).as("n_words"))
        .filter(col("n_words") <= 4)
      val kept = words.join(phraseLen, Seq("doc_id", "pid"))
      val wordScore = kept.groupBy("tok")
        .agg(count(lit(1)).as("freq"), sum("n_words").as("degree"))
        .select(col("tok"),
          round(col("degree") / col("freq"), 9).as("wscore"))
      val scored = kept.join(wordScore, "tok")
        .groupBy("doc_id", "pid")
        .agg(
          array_join(transform(array_sort(collect_list(struct(col("pos"),
            col("tok")))), x => x.getField("tok")), " ").as("phrase"),
          sum(round(col("wscore"), 9).cast("decimal(28,9)")).as("pscore"))
      scored.groupBy("phrase")
        .agg(count(lit(1)).as("n_occurrences"),
          (round(max(col("pscore")).cast("double"), 6) + 0.0).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(20)
    }),

    /** PAIRS-TRADING BACKTEST — the strategy `ml_cointegration` exists
      * to justify: per series pair, hedge ratio β by exact-sum OLS,
      * spread = pa − β·pb, full-sample z-score, and the classic
      * enter-at-|z|>1 / exit-at-|z|<0.25 state machine applied to
      * NEXT-bar spread changes (no lookahead: bar t's PnL uses the
      * position decided at t−1). The position scan is a per-pair
      * `flatMapGroups` over grid-rounded (spread, z) — all state
      * transitions decided on the 1e-6 grid, so the DuckDB
      * RECURSIVE-CTE twin replays the machine exactly; PnL sums are
      * exact DECIMAL over grid values. In-sample by design (the audit
      * shape, as `fin_var_backtest_kupiec`). */
    "fin_pairs_backtest" -> ((s, d) => {
      import s.implicits._
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
      val a = bars.select(col("event_type").as("ga"), col("bucket"),
        col("px").as("pa"))
      val b = bars.select(col("event_type").as("gb"), col("bucket"),
        col("px").as("pb"))
      val paired = a.join(b, Seq("bucket")).filter(col("ga") < col("gb"))
      def dec(c: Column) = c.cast("decimal(18,6)")
      val stats = paired.groupBy("ga", "gb").agg(
        count(lit(1)).as("n"),
        sum(dec(col("pa"))).as("sa"), sum(dec(col("pb"))).as("sb"),
        sum((dec(col("pa")) * dec(col("pb"))).cast("decimal(30,12)")).as("sab"),
        sum((dec(col("pb")) * dec(col("pb"))).cast("decimal(30,12)")).as("sbb"))
        // degenerate-pair guard (ADVICE r9): a constant pb zeroes the OLS
        // denominator; NaN must never reach a cross-engine decision, so
        // β falls back to 0 (spread = pa) deterministically on both sides
        .withColumn("bden",
          col("n") * col("sbb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double"))
        .withColumn("beta", when(col("bden") === 0.0, lit(0.0)).otherwise(
          round(
            (col("n") * col("sab").cast("double") -
              col("sa").cast("double") * col("sb").cast("double")) /
            col("bden"), 9)))
      val spreads = paired.join(stats.select("ga", "gb", "beta"), Seq("ga", "gb"))
        .withColumn("spread", round(col("pa") - col("beta") * col("pb"), 6))
      val zstats = spreads.groupBy("ga", "gb").agg(
        count(lit(1)).as("nz"),
        sum(dec(col("spread"))).as("ss"),
        sum((dec(col("spread")) * dec(col("spread"))).cast("decimal(30,12)"))
          .as("ss2"))
        .withColumn("mu", col("ss").cast("double") / col("nz"))
        .withColumn("sigma", sqrt(greatest(
          (col("ss2").cast("double") -
            col("ss").cast("double") * col("ss").cast("double") / col("nz")) /
            col("nz"), lit(0.0))))
      spreads.join(zstats.select("ga", "gb", "mu", "sigma"), Seq("ga", "gb"))
        // σ=0 (constant spread) ⇒ z := 0 ⇒ the machine stays flat — the
        // Scala NaN-compares-false path and DuckDB's NaN-sorts-greater
        // CASE would otherwise diverge (ADVICE r9)
        .withColumn("z", when(col("sigma") === 0.0, lit(0.0)).otherwise(
          round((col("spread") - col("mu")) / col("sigma"), 6)))
        .select(col("ga"), col("gb"), col("bucket"), col("spread"), col("z"),
          col("mu"), col("sigma"))
        .as[(String, String, Long, Double, Double, Double, Double)]
        .groupByKey(p => (p._1, p._2))
        .mapGroups { (key: (String, String), it) =>
          val (ga, gb) = key
          val pts = it.toArray.sortBy(_._3)
          var pos = 0
          var trades = 0L
          var pnl = BigDecimal(0)
          var win = 0L; var lose = 0L
          var prevSpread = 0.0
          pts.zipWithIndex.foreach { case ((_, _, _, sp, z, _, _), i) =>
            if (i > 0) {
              val p = BigDecimal(Grid.r9(pos * (sp - prevSpread)))
              pnl += p
              if (p > 0) win += 1 else if (p < 0) lose += 1
            }
            val next =
              if (math.abs(z) < 0.25) 0
              else if (z > 1.0) -1
              else if (z < -1.0) 1
              else pos
            if (next != pos && next != 0) trades += 1
            pos = next
            prevSpread = sp
          }
          val hit = if (win + lose == 0) 0.0
            else Grid.r6z(win.toDouble / (win + lose))
          (ga, gb, pts.length.toLong, trades, Grid.r6z(pnl.toDouble), hit)
        }
        .toDF("series_a", "series_b", "n_bars", "n_trades", "total_pnl",
          "hit_rate")
        .orderBy("series_a", "series_b")
    }),


    /** WILCOXON SIGNED-RANK TEST for every series pair — the PAIRED
      * nonparametric location test the unpaired `stat_mannwhitney_u`
      * cannot be (pairs share the bucket, so common market shocks
      * cancel): per pair, bar differences on shared 30-min buckets
      * (grid-exact), zeros dropped per Wilcoxon, midranks of |d| via
      * rank + tie-count arithmetic (the Mann–Whitney convention), W⁺ on
      * an exact DECIMAL sum, tie-corrected normal z, |z| > 1.959964
      * decided on the 1e-6 grid. One bar self-join + two windowed
      * passes per pair — never a cross product. */
    "stat_wilcoxon_signed_rank" -> ((s, d) => {
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
      val a = bars.select(col("event_type").as("ga"), col("bucket"),
        col("px").as("pa"))
      val b = bars.select(col("event_type").as("gb"), col("bucket"),
        col("px").as("pb"))
      val diffs = a.join(b, Seq("bucket")).filter(col("ga") < col("gb"))
        .withColumn("dv", round(col("pa") - col("pb"), 6))
        .filter(col("dv") =!= 0.0)
        .withColumn("ad", abs(col("dv")))
      val wr = Window.partitionBy("ga", "gb").orderBy("ad")
      val wt = Window.partitionBy("ga", "gb", "ad")
      val ranked = diffs
        .withColumn("minrk", rank().over(wr))
        .withColumn("tcnt", count(lit(1)).over(wt))
        .withColumn("midrank",
          col("minrk") + (col("tcnt") - 1) / lit(2.0))
      ranked.groupBy("ga", "gb")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dv") > 0, col("midrank")).otherwise(lit(0.0))
            .cast("decimal(28,9)")).as("wp"),
          sum((col("tcnt") * col("tcnt") - 1).cast("decimal(28,9)"))
            .as("tie3m"))
        // degenerate guard (ADVICE r9): a zero variance term must yield
        // z = NULL (and a NULL reject flag) on BOTH sides — NaN/Inf
        // crossing a cross-engine comparison is the r9 flake class.
        // (Provably unreachable for n ≥ 1 after the zero-diff drop, but
        // the guard keeps NaN out of the decision by construction.)
        .withColumn("varw",
          col("n") * (col("n") + 1) * (col("n") * 2 + 1) / 24.0 -
            col("tie3m").cast("double") / 48.0)
        .select(col("ga").as("series_a"), col("gb").as("series_b"), col("n"),
          col("wp").cast("double").as("w_plus"),
          when(col("varw") <= 0.0, lit(null).cast("double")).otherwise(
            round((col("wp").cast("double") -
                col("n") * (col("n") + 1) / 4.0) /
              sqrt(col("varw")), 6)).as("z"))
        .withColumn("reject_95", abs(col("z")) > 1.959964)
        .orderBy("series_a", "series_b")
    }),

    /** CALENDAR (day-of-week) EFFECTS — the seasonality audit a
      * trading/ops calendar runs before believing any weekday pattern:
      * per (series, epoch-weekday) bar-return moments from DECIMAL
      * sums, with the one-sample t statistic against zero per cell.
      * Weekday from exact epoch-day arithmetic — no locale/dialect
      * divergence. */
    "fin_dow_effects" -> ((s, d) => {
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      def dec(c: Column) = c.cast("decimal(18,6)")
      Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
        .withColumn("dow", expr("(bucket div 48) % 7"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(dec(col("r"))).as("sr"),
          sum((dec(col("r")) * dec(col("r"))).cast("decimal(30,12)")).as("sr2"))
        .withColumn("mean_ret",
          round(col("sr").cast("double") / col("n"), 6) + 0.0)
        .withColumn("sd", sqrt(greatest(
          (col("sr2").cast("double") -
            col("sr").cast("double") * col("sr").cast("double") / col("n")) /
            (col("n") - 1), lit(0.0))))
        .withColumn("t_vs_zero", round(
          (col("sr").cast("double") / col("n")) /
            (col("sd") / sqrt(col("n").cast("double"))), 6) + 0.0)
        .select(col("event_type"), col("dow"), col("n"), col("mean_ret"),
          (round(col("sd"), 6) + 0.0).as("sd_ret"), col("t_vs_zero"))
        .orderBy("event_type", "dow")
    }),

    /** SAX SYMBOLIZATION (Lin/Keogh Symbolic Aggregate approXimation) —
      * the discretization that turns series into text so motif/index
      * machinery applies (the indexing companion to
      * `ts_matrix_profile`'s exact distances): per series,
      * NON-OVERLAPPING 24-bar windows z-normalize on their own
      * DECIMAL-exact moments, PAA-collapse to 6 segment means, and each
      * segment maps to a 4-letter alphabet through the N(0,1) quartile
      * breakpoints (±0.6745, 0). Words aggregate to the motif census.
      * Degenerate σ=0 windows symbolize identically in both engines
      * (NaN comparisons fall through the same CASE branches). One
      * keyed aggregation per stage — no window sorts over the fact. */
    "ts_sax_symbols" -> ((s, d) => {
      val win = 24; val seg = 4 // 6 segments of 4 bars
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("rn", row_number().over(wOrd) - 1)
        .withColumn("w", (col("rn") / win).cast("long"))
        .withColumn("sg", ((col("rn") % win) / seg).cast("long"))
      def dec(c: Column) = c.cast("decimal(18,6)")
      val moments = bars.groupBy("event_type", "w")
        .agg(count(lit(1)).as("nw"), sum(dec(col("px"))).as("sw"),
          sum((dec(col("px")) * dec(col("px"))).cast("decimal(30,12)")).as("sw2"))
        .filter(col("nw") === win)
        .withColumn("mu", col("sw").cast("double") / col("nw"))
        .withColumn("sigma", sqrt(greatest(
          (col("sw2").cast("double") -
            col("sw").cast("double") * col("sw").cast("double") / col("nw")) /
            col("nw"), lit(0.0))))
      val segs = bars.groupBy("event_type", "w", "sg")
        .agg(sum(dec(col("px"))).as("ss"), count(lit(1)).as("ns"))
      val sym = segs.join(moments.select("event_type", "w", "mu", "sigma"),
          Seq("event_type", "w"))
        .withColumn("z", round(
          (col("ss").cast("double") / col("ns") - col("mu")) / col("sigma"), 6))
        .withColumn("c",
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d"))
      sym.groupBy("event_type", "w")
        .agg(array_join(transform(array_sort(collect_list(struct(col("sg"),
          col("c")))), x => x.getField("c")), "").as("word"))
        .groupBy("event_type", "word")
        .agg(count(lit(1)).as("n_windows"))
        .orderBy(col("n_windows").desc, col("event_type"), col("word"))
        .limit(20)
    }),

    /** INVERSE-VOLATILITY WEIGHTS — the naive-risk-parity sibling of
      * `fin_min_variance_portfolio` (the allocation desks actually run
      * when covariance estimates are too noisy to invert): per-series
      * annualized vol from DECIMAL-exact return moments, weights ∝ 1/σ
      * normalized over the complete-series set — one aggregation, no
      * matrix algebra, fully SQL-replayable where the GMV row stayed
      * rows-only. */
    "fin_inverse_vol_weights" -> ((s, d) => {
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      val all = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      def dec(c: Column) = c.cast("decimal(18,6)")
      Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(dec(col("r"))).as("sr"),
          sum((dec(col("r")) * dec(col("r"))).cast("decimal(30,12)")).as("sr2"))
        .withColumn("sigma", sqrt(greatest(
          (col("sr2").cast("double") -
            col("sr").cast("double") * col("sr").cast("double") / col("n")) /
            col("n"), lit(0.0))))
        .withColumn("inv", round(lit(1.0) / col("sigma"), 9))
        .withColumn("weight", round(col("inv") /
          sum(col("inv").cast("decimal(28,9)")).over(all).cast("double"), 6))
        .select(col("event_type"), col("n"),
          round(col("sigma"), 6).as("vol"), col("weight"))
        .orderBy("event_type")
    }),

    /** LTTB DOWNSAMPLING (Steinarsson's Largest-Triangle-Three-Buckets
      * — the time-series visualization standard behind Grafana-class
      * dashboards): each series' bar sequence reduces to 100 points
      * that preserve visual shape — first/last pinned, the middle 98
      * buckets each contribute the point maximizing the triangle area
      * with the PREVIOUSLY selected point and the NEXT bucket's
      * average. The selection is a per-series sequential scan
      * (`flatMapGroups`, bounded bar arrays — the DTW posture); areas
      * are grid-rounded at 1e-9 with an (area desc, position asc)
      * tiebreak, bucket boundaries are exact integer arithmetic, and
      * next-bucket means ride exact sums — so the DuckDB RECURSIVE-CTE
      * twin (window argmax inside the recursive term) replays every
      * pick bit-exactly. */
    "ts_lttb_downsample" -> ((s, d) => {
      import s.implicits._
      val target = 100
      Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 1800000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .select(col("event_type"), col("bucket"), col("px"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val pts = it.toArray.sortBy(_._2).map(_._3)
          val n = pts.length
          require(n >= target + 2,
            s"ts_lttb_downsample: series $g has $n bars < ${target + 2}")
          val mid = target - 2
          def lo(b: Int) = 2 + ((b - 1).toLong * (n - 2) / mid).toInt
          def hi(b: Int) = 1 + (b.toLong * (n - 2) / mid).toInt
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, Long, Double)]
          var prevRn = 1
          out += ((g, 0, 1L, pts(0)))
          for (b <- 1 to mid) {
            val (ax, ay) =
              if (b == mid) (n.toDouble, pts(n - 1))
              else {
                val (l, h) = (lo(b + 1), hi(b + 1))
                val cnt = h - l + 1
                val rnSum = (l.toLong to h.toLong).sum
                val ySum = (l to h).map(r => BigDecimal(pts(r - 1))).sum
                (rnSum.toDouble / cnt, ySum.toDouble / cnt)
              }
            val (xp, yp) = (prevRn.toDouble, pts(prevRn - 1))
            var bestRn = -1
            var bestArea = -1.0
            for (r <- lo(b) to hi(b)) {
              val a = Grid.r9(math.abs((xp - ax) * (pts(r - 1) - yp) -
                (xp - r.toDouble) * (ay - yp)))
              if (a > bestArea || (a == bestArea && (bestRn < 0 || r < bestRn))) {
                bestArea = a; bestRn = r
              }
            }
            out += ((g, b, bestRn.toLong, pts(bestRn - 1)))
            prevRn = bestRn
          }
          out += ((g, mid + 1, n.toLong, pts(n - 1)))
          out.iterator
        }
        .toDF("event_type", "position", "rn", "y")
        .orderBy("event_type", "position")
    }),

    /** GRID-BLOCKED SPATIAL SELF-JOIN — the ε-radius pair search every
      * geo/embedding-2D workload runs, in its scale shape: points land
      * in G×G grid cells, each point fans out to its 3×3 neighborhood
      * (a bounded 9-way explode — the spatial analog of the LSH band
      * explode), candidates meet in a CELL-KEYED equi-join, and only
      * the exact ε-disk filter touches pair rows. Never an all-pairs
      * distance join: the shuffle key is the cell, skew hits AQE. The
      * 2-D space here is (value, time) normalized by plan-derived
      * bounds (broadcast 1-row frame); pairs count once under id order
      * in the lower-id point's cell. */
    "join_spatial_grid" -> ((s, d) => {
      val g = 64
      val eps = 0.01
      val pts = Tables.events(s, d)
        .select(col("event_id").as("id"), col("value"),
          col("ts_ns").cast("double").as("tn"))
      val mm = pts.agg(min("value").as("vlo"), max("value").as("vhi"),
        min("tn").as("tlo"), max("tn").as("thi"))
      val norm = pts.crossJoin(broadcast(mm))
        .select(col("id"),
          ((col("value") - col("vlo")) / (col("vhi") - col("vlo"))).as("x"),
          ((col("tn") - col("tlo")) / (col("thi") - col("tlo"))).as("y"))
        .select(col("id"), col("x"), col("y"),
          least(floor(col("x") * g), lit(g - 1)).cast("long").as("cx"),
          least(floor(col("y") * g), lit(g - 1)).cast("long").as("cy"))
      val probes = norm.select(col("id").as("id_a"), col("x").as("xa"),
          col("y").as("ya"), col("cx").as("ca"), col("cy").as("cb"))
        .withColumn("o", explode(expr(
          "array(-1, 0, 1)")))
        .withColumn("p", explode(expr("array(-1, 0, 1)")))
        .select(col("id_a"), col("xa"), col("ya"),
          col("ca"), col("cb"),
          (col("ca") + col("o")).as("tx"), (col("cb") + col("p")).as("ty"))
      val pairs = probes.join(norm,
          probes("tx") === norm("cx") && probes("ty") === norm("cy") &&
            probes("id_a") < norm("id"))
        .filter((col("xa") - col("x")) * (col("xa") - col("x")) +
          (col("ya") - col("y")) * (col("ya") - col("y")) <= eps * eps)
        .select(col("ca").as("cell_x"), col("cb").as("cell_y"))
      val counts = norm.groupBy(col("cx").as("cell_x"), col("cy").as("cell_y"))
        .agg(count(lit(1)).as("n_points"))
      pairs.groupBy("cell_x", "cell_y").agg(count(lit(1)).as("n_pairs"))
        .join(counts, Seq("cell_x", "cell_y"))
        .orderBy(col("n_pairs").desc, col("cell_x"), col("cell_y"))
        .limit(20)
        .select("cell_x", "cell_y", "n_points", "n_pairs")
    }),

    /** NTILE + CUME_DIST + PERCENT_RANK — the remaining SQL analytic
      * window functions (`window_rank_percentile` covers rank forms):
      * per-series value quartiles with each quartile's size, value
      * range, and mean cumulative distribution. Exercises the three
      * functions through one partitioned window, collapsed to a
      * k×4-sized audit. */
    "window_ntile_cume" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("v", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value"), 6).as("v"))
        .withColumn("q", ntile(4).over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("pr", percent_rank().over(w))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
          round(min("v"), 6).as("min_v"), round(max("v"), 6).as("max_v"),
          // mean of grid values rides DECIMAL — double-sum order differs
          // across engines
          round(sum(round(col("cd"), 9).cast("decimal(28,9)")).cast("double")
            / count(lit(1)), 6).as("mean_cume_dist"),
          round(max(round(col("pr"), 9)), 6).as("max_percent_rank"))
        .orderBy("event_type", "q")
    }),

    /** CODE-vs-PROSE DETECTION — the corpus filter every LLM pipeline
      * runs to route code out of (or into) the text mix: symbol density
      * via `translate` strip-count (dialect-free in both engines — no
      * regex-flag divergence), digit density, mean token length.
      * Integer character counts make every ratio a division of exact
      * operands; the flag decides on the 1e-6 grid. Per-source audit
      * output. */
    "text_code_detect" -> ((s, d) => {
      val toked = Tables.documents(s, d)
        .withColumn("n_ch", length(col("text")))
        .withColumn("n_sym",
          col("n_ch") - length(translate(col("text"), "{}();=<>[]#", "")))
        .withColumn("n_dig",
          col("n_ch") - length(translate(col("text"), "0123456789", "")))
        .withColumn("score",
          round((col("n_sym") * 3 + col("n_dig")) / col("n_ch").cast("double"), 6))
        .withColumn("is_code", col("score") >= 0.05)
      toked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_code").cast("long")).as("n_code"),
          round(sum(col("score").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("mean_score"),
          round(max("score"), 6).as("max_score"))
        .orderBy("source")
    }),

    /** ISOTONIC CALIBRATION — the monotone score→probability map a
      * filtering pipeline fits when `ml_calibration_bins` says the raw
      * scores are miscalibrated: P(purchase) as a non-decreasing function
      * of the payload-k feature, fitted on per-k aggregates (k-sized
      * input — the weights ARE the bin counts, so the distributed fit
      * sees the whole fact through one aggregation). FULL ORACLE (r15,
      * VERDICT ask #2): PAVA's pooled solution is computed through its
      * MINIMAX characterization ŷᵢ = max_{j≤i} min_{l≥i} Avg(j..l) —
      * mathematically THE weighted-L2 isotonic fit, but expressed as
      * windows + bounded range joins over the k-sized aggregate instead
      * of MLlib's sequential pooling. Every block average divides two
      * exact BIGINT prefix-sum differences (counts and purchase counts),
      * so both engines produce bit-identical doubles with no grid
      * rounding; the O(k³) triple frame is DOMAIN-bounded (k ≤ 100 —
      * scale-free at any SF). R9Spec still pins monotonicity, the
      * pooled-mean law, and MSE dominance over the raw rates. */
    "ml_isotonic_calibration" -> ((s, d) => {
      val agg = Tables.events(s, d)
        .select(expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"),
          (col("event_type") === "purchase").cast("long").as("y"))
        .filter(col("k").isNotNull)
        .groupBy("k")
        .agg(count(lit(1)).as("w"), sum("y").as("s"))
      // cumulative count/positive mass per k (k-sized frame — the
      // single-partition window is over ≤100 aggregate rows, not fact)
      val cw = Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = agg
        .withColumn("cw", sum("w").over(cw))
        .withColumn("cs", sum("s").over(cw))
        .localCheckpoint(eager = true) // 3 self-join consumers
      val ji = cum.select(col("k").as("jk"),
        (col("cw") - col("w")).as("wp"), (col("cs") - col("s")).as("sp"))
      val li = cum.select(col("k").as("lk"), col("cw").as("wl"), col("cs").as("sl"))
      val ii = cum.select(col("k").as("ik"))
      val tri = ji.join(li, col("jk") <= col("lk"))
        .join(ii, col("ik") >= col("jk") && col("ik") <= col("lk"))
        .withColumn("av",
          (col("sl") - col("sp")).cast("double") /
            (col("wl") - col("wp")).cast("double"))
      val fit = tri.groupBy("ik", "jk").agg(min("av").as("mn"))
        .groupBy("ik").agg(max("mn").as("yhat"))
      agg.join(fit, col("k") === col("ik"))
        .select(col("k"), col("w").as("n"),
          round(col("s").cast("double") / col("w"), 6).as("raw_rate"),
          round(col("yhat"), 6).as("calibrated_rate"))
        .orderBy("k")
    }),

    /** The REAL streaming twin of `ts_ewma_irregular`
      * (`EventStream.ewmaStream`): flatMapGroupsWithState per series
      * with an O(1) finalized-prefix anchor + watermark-horizon suffix
      * buffer, run to completion under AvailableNow and hash-compared
      * against the SAME DuckDB recursive oracle as the batch scan —
      * streaming ≡ batch is the contract, regardless of micro-batch
      * boundaries. Multi-batch late-data recompute and exactly-once
      * finalization pinned in StreamingSpec. */
    "stream_ewma_irregular" -> ((s, d) =>
      graft.streaming.EventStream.runEwmaOnce(s, d,
          Shared.unique("stream_ewma"))
        .orderBy("event_type", "t", "event_id")),

    /** Spark side of mRMR: the fact collapses to the joint contingency
      * cube ONCE (one scan — json parse, bucketing, the exact global
      * median as a driver scalar), the cube is localCheckpoint'd and
      * registered as a temp view, and the SHARED MI core (identical
      * text to the DuckDB twin's rel/red section) computes the
      * relevance vector and redundancy matrix through the `spark.sql`
      * front door. The greedy selection itself runs on the DRIVER over
      * the collected 5+20-value MI matrix (aggregate-sized — the
      * `ml_pacf` bound) with BigDecimal arithmetic replicating the
      * oracle's unrolled CTE chain exactly: Catalyst re-plans the
      * 5-step chain's ~2⁵ inlined CTE references into a
      * many-minutes analysis blow-up even over the tiny cube view, and
      * a 25-value greedy loop is driver work by any honest reading. */
    "feature_select_mrmr" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val med = ev.agg(expr(Dialect.Spark.median("value"))).head().getDouble(0)
      val cube = ev.select(
          expr("CAST(floor(hour(ts) / 6.0) AS BIGINT)").as("f_hour"),
          expr(s"CAST(floor(${Dialect.Spark.jsonLong("props", "$.k")} / 25.0) AS BIGINT)")
            .as("f_k"),
          when(col("value") >= med, 1).otherwise(0).as("f_val"),
          (col("user_id") % 3).as("f_user"),
          expr(s"(${Dialect.Spark.day}) % 7").as("f_dow"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
        .groupBy("f_hour", "f_k", "f_val", "f_user", "f_dow", "y")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val v = Shared.unique("mrmr_cube")
      val (rel, red) = try {
        cube.createOrReplaceTempView(v)
        val rel = s.sql("WITH " + mrmrMiSql(v, Dialect.Spark) + " SELECT f, mi FROM rel")
          .as[(String, Double)].collect().toMap
        val red = s.sql("WITH " + mrmrMiSql(v, Dialect.Spark) + " SELECT fa, fb, mi FROM red")
          .as[(String, String, Double)].collect()
          .map { case (a, b, m) => (a, b) -> m }.toMap
        (rel, red)
      } finally { s.catalog.dropTempView(v); () }
      // driver greedy — the exact arithmetic of the oracle's CTE chain:
      // ar = exact-DECIMAL sum of round(mi, 9) over selected, / (k-1);
      // score = round(mi - ar, 9); argmax with the feature-name tiebreak
      val selected = scala.collection.mutable.ArrayBuffer.empty[
        (Int, String, Double, Double, Double)]
      val remaining = scala.collection.mutable.SortedSet(mrmrFeats: _*)
      for (step <- 1 to mrmrFeats.length) {
        val scored = remaining.toSeq.map { f =>
          val ar =
            if (step == 1) 0.0
            else selected.map(sp => BigDecimal(Grid.r9(red((f, sp._2)))))
              .sum.toDouble / (step - 1).toDouble
          val score = if (step == 1) rel(f) else Grid.r9(rel(f) - ar)
          (f, rel(f), ar, score)
        }
        val best = scored.sortBy { case (f, _, _, sc) => (-sc, f) }.head
        selected += ((step, best._1, best._2, best._3, best._4))
        remaining -= best._1
      }
      selected.toSeq.map { case (st, f, relv, ar, sc) =>
        (st, f, Grid.r6z(relv), Grid.r6z(ar), Grid.r6z(sc)) }
        .toDF("step", "feature", "relevance", "redundancy", "score")
    }),

    /** MINIMUM-VARIANCE PORTFOLIO (Markowitz 1952, the GMV corner of the
      * frontier) over the five event-type "instruments": 30-min
      * log-return series pivoted wide on COMPLETE buckets (cardinality
      * computed, never assumed — the r8 reconcile lesson), the k×k
      * covariance from ONE DECIMAL-exact moment aggregation
      * (aggregate-sized driver state), then w = Σ⁻¹1 / (1ᵀΣ⁻¹1) via
      * driver Gaussian elimination with partial pivoting — k² numbers,
      * the `ml_influence_diagnostics` posture. Output carries the
      * portfolio variance next to the equal-weight variance so the
      * optimality claim is IN the result. FULL ORACLE (r14, the VERDICT
      * ask-#2 conversion): Σ is SPD, so the solve is a no-pivot
      * Cholesky whose every sum is a LEFT-ASSOCIATED fold in ascending
      * index order, textually mirrored by [[minVarianceSql]]'s
      * generated expressions — +,−,×,÷ and sqrt are all correctly
      * rounded in IEEE-754, so identical order ⇒ bit-identical doubles
      * in both engines (the acfMoments doctrine extended to a matrix
      * solve). R9Spec additionally pins Σw=1, the KKT proportionality
      * Σw ∝ 1, and GMV-dominance over equal weight. */
    "fin_min_variance_portfolio" -> ((s, d) => {
      import s.implicits._
      val wOrd = Window.partitionBy("event_type").orderBy("bucket")
      // 6-hour bars — the `ml_hierarchical_reconcile` grain lesson:
      // complete all-series buckets must exist at EVERY SF, and 30-min
      // bars leave the sf0.001 pivot empty after the completeness drop
      val bars = Tables.events(s, d)
        .withColumn("bucket", expr("ts_ns div 21600000000000L"))
        .groupBy("event_type", "bucket")
        .agg(Grid.mean6(col("value")).as("px"))
        .withColumn("r", round(log(col("px") / lag(col("px"), 1).over(wOrd)), 6))
        .filter(col("r").isNotNull)
      val types = bars.select("event_type").distinct()
        .as[String].collect().sorted
      // LOUD type-coverage contract with minVarianceSql (ADVICE r14): the
      // oracle text is generated from ModelingFrame.EventTypes, so a
      // dataset missing (or adding) a type must fail HERE, on both paths,
      // not silently diverge when the oracle's pivot empties its frame.
      require(types.toSeq == graft.ml.ModelingFrame.EventTypes,
        s"fin_min_variance_portfolio: event types ${types.mkString(",")} != " +
          s"the oracle contract ${graft.ml.ModelingFrame.EventTypes.mkString(",")}")
      val k = types.length
      val wide = bars.groupBy("bucket").pivot("event_type", types)
        .agg(first(col("r")))
        .na.drop("any")
        .cache()
      try {
        def dec(c: Column) = c.cast("decimal(18,6)")
        val aggs =
          types.map(t => sum(dec(col(t))).as(s"s_$t")) ++
          (for (i <- 0 until k; j <- i until k) yield
            sum((dec(col(types(i))) * dec(col(types(j))))
              .cast("decimal(30,12)")).as(s"p_${i}_$j"))
        val row = wide.agg(count(lit(1)).as("n"), aggs: _*).head()
        require(row.getAs[Long]("n") > k + 1,
          s"fin_min_variance_portfolio: only ${row.getAs[Long]("n")} complete " +
            s"all-series bars — covariance of $k series needs more observations")
        val n = row.getAs[Long]("n").toDouble
        val sums = types.map(t =>
          row.getAs[java.math.BigDecimal](s"s_$t").doubleValue)
        val cov = Array.tabulate(k, k) { (i, j) =>
          val (a, b) = (math.min(i, j), math.max(i, j))
          val sij = row.getAs[java.math.BigDecimal](s"p_${a}_$b").doubleValue
          (sij - sums(i) * sums(j) / n) / n
        }
        // solve cov * w0 = 1-vector by NO-PIVOT CHOLESKY — Σ is SPD
        // (n > k+1 enforced above), so pivoting is mathematically
        // unnecessary, and a pivot-free factorization is the one solve
        // a static SQL text can replay. ORDER CONTRACT with
        // minVarianceSql: every accumulation below is a left-associated
        // sequential subtraction/addition in ascending index order,
        // matching the generated SQL expression text term for term.
        val lm = Array.ofDim[Double](k, k)
        for (j <- 0 until k) {
          var dAcc = cov(j)(j)
          for (m <- 0 until j) dAcc -= lm(j)(m) * lm(j)(m)
          lm(j)(j) = math.sqrt(dAcc)
          for (i <- j + 1 until k) {
            var acc = cov(i)(j)
            for (m <- 0 until j) acc -= lm(i)(m) * lm(j)(m)
            lm(i)(j) = acc / lm(j)(j)
          }
        }
        // forward L z = 1, then back Lᵀ w0 = z (ascending-m folds)
        val z = Array.ofDim[Double](k)
        for (i <- 0 until k) {
          var acc = 1.0
          for (m <- 0 until i) acc -= lm(i)(m) * z(m)
          z(i) = acc / lm(i)(i)
        }
        val w0 = Array.ofDim[Double](k)
        for (i <- k - 1 to 0 by -1) {
          var acc = z(i)
          for (m <- i + 1 until k) acc -= lm(m)(i) * w0(m)
          w0(i) = acc / lm(i)(i)
        }
        val s0 = w0.reduce(_ + _)
        val w = w0.map(_ / s0)
        val portVar = 1.0 / s0
        val ewVar =
          (for (i <- 0 until k; j <- 0 until k) yield cov(i)(j))
            .reduce(_ + _) / (k.toDouble * k)
        def r6(v: Double): Double =
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble + 0.0
        def r12(v: Double): Double =
          BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
            .toDouble + 0.0
        types.indices.map(i => (types(i), r6(w(i)), n.toLong,
            r12(portVar), r12(ewVar), r6(portVar / ewVar)))
          .toDF("series", "weight", "n_obs", "port_variance",
            "equal_weight_variance", "variance_ratio")
          .orderBy("series")
      } finally { wide.unpersist(); () }
    })
  ) ++ Shared.engines(shared)

  // ---- DuckDB oracle twins ------------------------------------------------

  /** Local copy of the Docs tokenizer CTE (private there): text split
    * once on the single-space contract. Must precede the `sql` map —
    * object-body vals initialize in order. */
  private val tokedSqlR9 =
    "WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents)\n"

  /** Shared twin for the batch AND streaming irregular EWMA. `s` is
    * MATERIALIZED: every recursive step joins it, and DuckDB would
    * otherwise re-run its `row_number()` window per step. */
  private val ewmaIrregularSql =
    """WITH RECURSIVE e AS (
      |  SELECT event_type AS g, event_id, epoch_us(ts) AS t,
      |    round(value, 6) AS v
      |  FROM events),
      |s AS MATERIALIZED (
      |  SELECT g, event_id, t, v,
      |    row_number() OVER (PARTITION BY g ORDER BY t, event_id) AS rn
      |  FROM e),
      |k AS (
      |  SELECT g, t, event_id, v, rn, CAST(1.0 AS DOUBLE) AS alpha,
      |    v AS ewma
      |  FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT q.g, q.t, q.event_id, q.v, q.rn, q.alpha,
      |    round(q.ewma0 + q.alpha * (q.v - q.ewma0), 9)
      |  FROM (
      |    SELECT s.g, s.t, s.event_id, s.v, s.rn, k.ewma AS ewma0,
      |      round(1.0 - exp(-((s.t - k.t) / 21600000000.0)), 9) AS alpha
      |    FROM k JOIN s ON s.g = k.g AND s.rn = k.rn + 1) q)
      |SELECT g AS event_type, t, event_id, v, alpha, ewma
      |FROM k ORDER BY event_type, t, event_id""".stripMargin

  /** The DuckDB twin of `fin_min_variance_portfolio` (the r14 VERDICT
    * ask-#2 conversion). Frame: the same 6-hour grid-6 bars, round-6
    * log returns, complete 5-series buckets, exact DECIMAL moments.
    * Solve: the SAME no-pivot Cholesky the engine runs, generated
    * expression-for-expression in the engine's left-associated
    * ascending-index fold order over CAST-to-DOUBLE moments — +,−,×,÷
    * and sqrt are all IEEE-correctly-rounded, so every intermediate
    * double is bit-identical across engines and the only rounding is
    * the output grid (round 6/12 + 0.0). Each 1-row solve CTE is
    * MATERIALIZED (multi-consumer scalars). */
  private def minVarianceSql: String = {
    // single source of truth with the engine path (ADVICE r14): both
    // sides derive from ModelingFrame.EventTypes, and the engine asserts
    // its collected distinct types equal this set before solving
    val types = graft.ml.ModelingFrame.EventTypes
    val k = types.length
    def d(x: String) = s"CAST($x AS DOUBLE)"
    def cRef(i: Int, j: Int) =
      s"c_${math.min(i, j)}_${math.max(i, j)}"
    val wideCols = types.indices.map(i =>
      s"max(CASE WHEN event_type = '${types(i)}' THEN r END) AS r$i")
    val sCols = types.indices.map(i =>
      s"sum(CAST(r$i AS DECIMAL(18,6))) AS s_$i")
    val pCols = for (i <- 0 until k; j <- i until k) yield
      s"sum(CAST(CAST(r$i AS DECIMAL(18,6)) * CAST(r$j AS DECIMAL(18,6)) " +
        s"AS DECIMAL(30,12))) AS p_${i}_$j"
    val covCols = for (i <- 0 until k; j <- i until k) yield
      s"(${d(s"p_${i}_$j")} - ${d(s"s_$i")} * ${d(s"s_$j")} / nd) / nd " +
        s"AS c_${i}_$j"
    // Cholesky, two CTEs per column j: the diagonal, then the below-
    // diagonal entries that divide by it (mirrors the engine loop)
    val chol = (0 until k).flatMap { j =>
      val dTerms = (0 until j).map(m => s" - l_${j}_$m * l_${j}_$m").mkString
      val diag = s"chd$j AS MATERIALIZED (SELECT *, " +
        s"sqrt(${cRef(j, j)}$dTerms) AS l_${j}_$j FROM " +
        (if (j == 0) "cv" else s"cho${j - 1}") + ")"
      if (j == k - 1) Seq(diag)
      else {
        val below = (j + 1 until k).map { i =>
          val t = (0 until j).map(m => s" - l_${i}_$m * l_${j}_$m").mkString
          s"(${cRef(i, j)}$t) / l_${j}_$j AS l_${i}_$j"
        }.mkString(",\n    ")
        Seq(diag, s"cho$j AS MATERIALIZED (SELECT *,\n    $below FROM chd$j)")
      }
    }
    val fwd = (0 until k).map { i =>
      val t = (0 until i).map(m => s" - l_${i}_$m * z_$m").mkString
      val src = if (i == 0) s"chd${k - 1}" else s"fz${i - 1}"
      s"fz$i AS MATERIALIZED (SELECT *, (1.0$t) / l_${i}_$i AS z_$i FROM $src)"
    }
    val bwd = (k - 1 to 0 by -1).map { i =>
      val t = (i + 1 until k).map(m => s" - l_${m}_$i * w0_$m").mkString
      val src = if (i == k - 1) s"fz${k - 1}" else s"bw${i + 1}"
      s"bw$i AS MATERIALIZED (SELECT *, (z_$i$t) / l_${i}_$i AS w0_$i FROM $src)"
    }
    val s0Expr = (0 until k).map(i => s"w0_$i").mkString(" + ")
    val ewExpr = (for (i <- 0 until k; j <- 0 until k) yield cRef(i, j))
      .mkString(" + ")
    val arms = types.indices.map { i =>
      s"""SELECT '${types(i)}' AS series,
         |    round(w0_$i / s0, 6) + 0.0 AS weight, n AS n_obs,
         |    round(pv, 12) + 0.0 AS port_variance,
         |    round(ew, 12) + 0.0 AS equal_weight_variance,
         |    round(pv / ew, 6) + 0.0 AS variance_ratio
         |  FROM fin2""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH bars0 AS MATERIALIZED (
       |  SELECT event_type, epoch_ns(ts) // 21600000000000 AS bucket,
       |    ${Grid.mean6Sql("value")} AS px
       |  FROM events GROUP BY 1, 2),
       |bars AS MATERIALIZED (
       |  SELECT event_type, bucket,
       |    round(ln(px / lag(px) OVER (PARTITION BY event_type ORDER BY bucket)), 6) AS r
       |  FROM bars0),
       |wide AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT bucket,
       |      ${wideCols.mkString(",\n      ")}
       |    FROM bars WHERE r IS NOT NULL GROUP BY bucket) t
       |  WHERE ${types.indices.map(i => s"r$i IS NOT NULL").mkString(" AND ")}),
       |m AS MATERIALIZED (
       |  SELECT count(*)::BIGINT AS n,
       |    ${(sCols ++ pCols).mkString(",\n    ")}
       |  FROM wide),
       |mc AS MATERIALIZED (SELECT *, CAST(n AS DOUBLE) AS nd FROM m),
       |cv AS MATERIALIZED (
       |  SELECT n, nd,
       |    ${covCols.mkString(",\n    ")}
       |  FROM mc),
       |${(chol ++ fwd ++ bwd).mkString(",\n")},
       |fin1 AS MATERIALIZED (SELECT *, $s0Expr AS s0 FROM bw0),
       |fin2 AS MATERIALIZED (SELECT *, 1.0 / s0 AS pv,
       |  ($ewExpr) / ${k.toDouble * k} AS ew FROM fin1)
       |$arms
       |ORDER BY series""".stripMargin
  }

  val sql: Map[String, String] = Map(

    "fin_min_variance_portfolio" -> minVarianceSql,

    /** The minimax isotonic fit replayed exactly: identical BIGINT
      * prefix sums, identical single-division block averages, min/max
      * over bit-identical doubles. */
    "ml_isotonic_calibration" ->
      """WITH a AS MATERIALIZED (
        |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |    count(*)::BIGINT AS w,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS s
        |  FROM events
        |  WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1),
        |c AS MATERIALIZED (
        |  SELECT k, w, s,
        |    sum(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(s) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM a),
        |tri AS (
        |  SELECT i.k AS ik, j.k AS jk,
        |    CAST(l.cs - (j.cs - j.s) AS DOUBLE)
        |      / CAST(l.cw - (j.cw - j.w) AS DOUBLE) AS av
        |  FROM c j JOIN c l ON j.k <= l.k
        |  JOIN c i ON i.k >= j.k AND i.k <= l.k),
        |mn AS (SELECT ik, jk, min(av) AS mn FROM tri GROUP BY 1, 2),
        |f AS (SELECT ik AS k, max(mn) AS yhat FROM mn GROUP BY 1)
        |SELECT a.k, a.w AS n,
        |  round(CAST(a.s AS DOUBLE) / a.w, 6) AS raw_rate,
        |  round(f.yhat, 6) AS calibrated_rate
        |FROM a JOIN f ON f.k = a.k
        |ORDER BY a.k""".stripMargin,

    "seq_path_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |l AS (
        |  SELECT event_type AS s1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS s2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS s3
        |  FROM e),
        |c AS (
        |  SELECT s1, s2, s3, count(*)::BIGINT AS n
        |  FROM l WHERE s3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT s1, s2, s3, n, round(n / sum(n) OVER (), 6) AS share
        |FROM c ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin,

    "agg_quantile_bottomk" ->
      """WITH base AS (
        |  SELECT event_type, event_id, round(value, 6) AS v,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT AS hv
        |  FROM events),
        |rk AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv, event_id)
        |      AS rk
        |  FROM base),
        |est AS (
        |  SELECT event_type,
        |    quantile_cont(v, [0.1, 0.25, 0.5, 0.75, 0.9]) AS est,
        |    count(*)::BIGINT AS n_sample
        |  FROM rk WHERE rk <= 256 GROUP BY event_type),
        |exact AS (
        |  SELECT event_type,
        |    quantile_cont(v, [0.1, 0.25, 0.5, 0.75, 0.9]) AS ex,
        |    count(*)::BIGINT AS n_total
        |  FROM base GROUP BY event_type),
        |j AS (SELECT est.event_type, n_total, n_sample, est, ex
        |      FROM est JOIN exact ON est.event_type = exact.event_type),
        |ql AS (SELECT unnest(generate_series(1, 5)) AS i)
        |SELECT event_type, n_total, n_sample,
        |  CAST([0.1, 0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS q,
        |  round(est[i], 6) + 0.0 AS est_q,
        |  round(ex[i], 6) + 0.0 AS exact_q,
        |  round(abs(est[i] - ex[i]), 6) AS abs_err
        |FROM j CROSS JOIN ql
        |ORDER BY event_type, q""".stripMargin,


    "feature_select_mrmr" -> mrmrOracleSql("events"),

    /** The irregular-EWMA recursion replayed exactly (the
      * `ts_kalman_level` oracle shape): α and state re-round to the
      * 1e-9 grid each step, Δt/τ divides identical BIGINT/DOUBLE
      * operands, (t, event_id) breaks simultaneous events. */
    "ts_ewma_irregular" -> ewmaIrregularSql,

    /** The streaming twin answers to the SAME oracle — streaming ≡
      * batch. */
    "stream_ewma_irregular" -> ewmaIrregularSql,


    /** RAKE replay: phrase ids from the same cumulative-stopword
      * window, phrase strings via ORDER BY string_agg, word and phrase
      * scores from identical integer counts, score sums on the 1e-9
      * DECIMAL grid. */
    "text_rake_keywords" -> (tokedSqlR9 +
      """, tk0 AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
        |  FROM t),
        |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tk0),
        |fl AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN tok IN (""".stripMargin +
      graft.functions.Text.stopwords.map(w => s"'$w'").mkString(", ") +
      """) THEN 1 ELSE 0 END AS stop
        |  FROM tk),
        |pid AS (
        |  SELECT doc_id, pos, tok, stop,
        |    sum(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        |  FROM fl),
        |words AS (SELECT doc_id, pid, pos, tok FROM pid WHERE stop = 0),
        |plen AS (
        |  SELECT doc_id, pid, count(*)::BIGINT AS n_words
        |  FROM words GROUP BY 1, 2 HAVING count(*) <= 4),
        |kept AS (
        |  SELECT w.doc_id, w.pid, w.pos, w.tok, p.n_words
        |  FROM words w JOIN plen p ON w.doc_id = p.doc_id AND w.pid = p.pid),
        |ws AS (
        |  SELECT tok, round(sum(n_words) / count(*), 9) AS wscore
        |  FROM kept GROUP BY tok),
        |ph AS (
        |  SELECT k.doc_id, k.pid,
        |    string_agg(k.tok, ' ' ORDER BY k.pos) AS phrase,
        |    sum(CAST(round(ws.wscore, 9) AS DECIMAL(28,9))) AS pscore
        |  FROM kept k JOIN ws ON k.tok = ws.tok GROUP BY 1, 2)
        |SELECT phrase, count(*)::BIGINT AS n_occurrences,
        |  round(CAST(max(pscore) AS DOUBLE), 6) + 0.0 AS score
        |FROM ph GROUP BY phrase
        |ORDER BY score DESC, phrase LIMIT 20""".stripMargin),

    /** The pairs-trading state machine replayed: β/μ/σ from the same
      * DECIMAL-exact sums, z on the 1e-6 grid, the position recursion a
      * RECURSIVE CTE over rn (all pairs advance in parallel), PnL and
      * trade counts from lag windows over the recursion's output. */
    "fin_pairs_backtest" ->
      """WITH RECURSIVE b AS MATERIALIZED (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |p AS MATERIALIZED (
        |  SELECT a.g AS ga, c.g AS gb, a.bucket AS bucket,
        |    a.px AS pa, c.px AS pb
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.g < c.g),
        |st AS (
        |  SELECT ga, gb, count(*)::BIGINT AS n,
        |    sum(CAST(pa AS DECIMAL(18,6))) AS sa,
        |    sum(CAST(pb AS DECIMAL(18,6))) AS sb,
        |    sum(CAST(CAST(pa AS DECIMAL(18,6)) * CAST(pb AS DECIMAL(18,6))
        |      AS DECIMAL(30,12))) AS sab,
        |    sum(CAST(CAST(pb AS DECIMAL(18,6)) * CAST(pb AS DECIMAL(18,6))
        |      AS DECIMAL(30,12))) AS sbb
        |  FROM p GROUP BY 1, 2),
        |bt AS MATERIALIZED (
        |  SELECT ga, gb,
        |    CASE WHEN (n * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) = 0 THEN 0.0
        |      ELSE round((n * CAST(sab AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (n * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 9) END AS beta
        |  FROM st),
        |sp AS MATERIALIZED (
        |  SELECT p.ga, p.gb, p.bucket, round(p.pa - bt.beta * p.pb, 6) AS spread
        |  FROM p JOIN bt ON p.ga = bt.ga AND p.gb = bt.gb),
        |zs AS (
        |  SELECT ga, gb, count(*)::BIGINT AS nz,
        |    sum(CAST(spread AS DECIMAL(18,6))) AS ss,
        |    sum(CAST(CAST(spread AS DECIMAL(18,6))
        |      * CAST(spread AS DECIMAL(18,6)) AS DECIMAL(30,12))) AS ss2
        |  FROM sp GROUP BY 1, 2),
        |zz AS MATERIALIZED (
        |  SELECT ga, gb, CAST(ss AS DOUBLE) / nz AS mu,
        |    sqrt(greatest((CAST(ss2 AS DOUBLE)
        |      - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nz) / nz, 0.0))
        |      AS sigma
        |  FROM zs),
        |sq AS MATERIALIZED (
        |  SELECT sp.ga, sp.gb, sp.bucket, sp.spread,
        |    CASE WHEN zz.sigma = 0 THEN 0.0
        |      ELSE round((sp.spread - zz.mu) / zz.sigma, 6) END AS z,
        |    row_number() OVER (PARTITION BY sp.ga, sp.gb ORDER BY sp.bucket)
        |      AS rn
        |  FROM sp JOIN zz ON sp.ga = zz.ga AND sp.gb = zz.gb),
        |k AS MATERIALIZED (
        |  SELECT ga, gb, rn, spread,
        |    CASE WHEN abs(z) < 0.25 THEN 0 WHEN z > 1.0 THEN -1
        |      WHEN z < -1.0 THEN 1 ELSE 0 END AS pos
        |  FROM sq WHERE rn = 1
        |  UNION ALL
        |  SELECT q.ga, q.gb, q.rn, q.spread,
        |    CASE WHEN abs(q.z) < 0.25 THEN 0 WHEN q.z > 1.0 THEN -1
        |      WHEN q.z < -1.0 THEN 1 ELSE q.pos0 END
        |  FROM (
        |    SELECT sq.ga, sq.gb, sq.rn, sq.spread, sq.z, k.pos AS pos0
        |    FROM k JOIN sq ON sq.ga = k.ga AND sq.gb = k.gb
        |      AND sq.rn = k.rn + 1) q),
        |pnl AS (
        |  SELECT ga, gb, rn, pos,
        |    lag(pos) OVER (PARTITION BY ga, gb ORDER BY rn) AS pos_prev,
        |    round(coalesce(lag(pos) OVER (PARTITION BY ga, gb ORDER BY rn), 0)
        |      * (spread - lag(spread) OVER (PARTITION BY ga, gb ORDER BY rn)),
        |      9) AS pv
        |  FROM k)
        |SELECT ga AS series_a, gb AS series_b,
        |  count(*)::BIGINT AS n_bars,
        |  sum(CASE WHEN pos != coalesce(pos_prev, 0) AND pos != 0
        |    THEN 1 ELSE 0 END)::BIGINT AS n_trades,
        |  round(CAST(sum(CAST(pv AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0
        |    AS total_pnl,
        |  CASE WHEN sum(CASE WHEN pv > 0 THEN 1 WHEN pv < 0 THEN 1 ELSE 0 END)
        |      = 0 THEN 0.0
        |    ELSE round(sum(CASE WHEN pv > 0 THEN 1 ELSE 0 END)
        |      / sum(CASE WHEN pv > 0 THEN 1 WHEN pv < 0 THEN 1 ELSE 0 END), 6)
        |    END AS hit_rate
        |FROM pnl GROUP BY 1, 2 ORDER BY series_a, series_b""".stripMargin,


    /** Signed-rank replay: identical midranks (rank + tie counts), the
      * per-row (t²−1) trick sums to Σ(t³−t) exactly, W⁺ DECIMAL. */
    "stat_wilcoxon_signed_rank" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT a.g AS ga, c.g AS gb, round(a.px - c.px, 6) AS dv,
        |    abs(round(a.px - c.px, 6)) AS ad
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.g < c.g
        |  WHERE round(a.px - c.px, 6) <> 0),
        |rk AS (
        |  SELECT ga, gb, dv,
        |    rank() OVER (PARTITION BY ga, gb ORDER BY ad) AS minrk,
        |    count(*) OVER (PARTITION BY ga, gb, ad) AS tcnt
        |  FROM d),
        |agg AS (
        |  SELECT ga, gb, count(*)::BIGINT AS n,
        |    sum(CAST(CASE WHEN dv > 0 THEN minrk + (tcnt - 1) / 2.0
        |      ELSE 0.0 END AS DECIMAL(28,9))) AS wp,
        |    sum(CAST(tcnt * tcnt - 1 AS DECIMAL(28,9))) AS tie3m
        |  FROM rk GROUP BY 1, 2),
        |zf AS (
        |  SELECT ga, gb, n, CAST(wp AS DOUBLE) AS w_plus,
        |    CASE WHEN (n * (n + 1) * (2 * n + 1) / 24.0
        |        - CAST(tie3m AS DOUBLE) / 48.0) <= 0 THEN NULL
        |      ELSE round((CAST(wp AS DOUBLE) - n * (n + 1) / 4.0) /
        |        sqrt(n * (n + 1) * (2 * n + 1) / 24.0
        |          - CAST(tie3m AS DOUBLE) / 48.0), 6) END AS z
        |  FROM agg)
        |SELECT ga AS series_a, gb AS series_b, n, w_plus, z,
        |  abs(z) > 1.959964 AS reject_95
        |FROM zf ORDER BY series_a, series_b""".stripMargin,

    "fin_dow_effects" ->
      """WITH b AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, bucket, round(ln(px / lag(px, 1)
        |    OVER (PARTITION BY g ORDER BY bucket)), 6) AS r
        |  FROM b),
        |a AS (
        |  SELECT g, (bucket // 48) % 7 AS dow, count(*)::BIGINT AS n,
        |    sum(CAST(r AS DECIMAL(18,6))) AS sr,
        |    sum(CAST(CAST(r AS DECIMAL(18,6)) * CAST(r AS DECIMAL(18,6))
        |      AS DECIMAL(30,12))) AS sr2
        |  FROM r WHERE r IS NOT NULL GROUP BY 1, 2),
        |v AS (
        |  SELECT g, dow, n, sr,
        |    sqrt(greatest((CAST(sr2 AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n) / (n - 1), 0.0))
        |      AS sd
        |  FROM a)
        |SELECT g AS event_type, dow, n,
        |  round(CAST(sr AS DOUBLE) / n, 6) + 0.0 AS mean_ret,
        |  round(sd, 6) + 0.0 AS sd_ret,
        |  round((CAST(sr AS DOUBLE) / n) / (sd / sqrt(CAST(n AS DOUBLE))), 6)
        |    + 0.0 AS t_vs_zero
        |FROM v ORDER BY event_type, dow""".stripMargin,

    /** SAX replayed: same window/segment integer arithmetic, the same
      * DECIMAL moments, grid-rounded z through the identical CASE
      * ladder (NaN falls to 'd' in both engines), ordered string_agg
      * words. */
    "ts_sax_symbols" ->
      """WITH b AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |rr AS (
        |  SELECT g, px,
        |    row_number() OVER (PARTITION BY g ORDER BY bucket) - 1 AS rn
        |  FROM b),
        |w AS (SELECT g, px, rn // 24 AS w, (rn % 24) // 4 AS sg FROM rr),
        |m AS (
        |  SELECT g, w, count(*)::BIGINT AS nw,
        |    sum(CAST(px AS DECIMAL(18,6))) AS sw,
        |    sum(CAST(CAST(px AS DECIMAL(18,6)) * CAST(px AS DECIMAL(18,6))
        |      AS DECIMAL(30,12))) AS sw2
        |  FROM w GROUP BY 1, 2 HAVING count(*) = 24),
        |mm AS (
        |  SELECT g, w, CAST(sw AS DOUBLE) / nw AS mu,
        |    sqrt(greatest((CAST(sw2 AS DOUBLE)
        |      - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / nw) / nw, 0.0))
        |      AS sigma
        |  FROM m),
        |sgm AS (
        |  SELECT g, w, sg, sum(CAST(px AS DECIMAL(18,6))) AS ss,
        |    count(*)::BIGINT AS ns
        |  FROM w GROUP BY 1, 2, 3),
        |sym AS (
        |  SELECT g, w, sg,
        |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |      WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS c
        |  FROM (
        |    SELECT sgm.g, sgm.w, sgm.sg,
        |      round((CAST(ss AS DOUBLE) / ns - mu) / sigma, 6) AS z
        |    FROM sgm JOIN mm ON sgm.g = mm.g AND sgm.w = mm.w) z0),
        |words AS (
        |  SELECT g, w, string_agg(c, '' ORDER BY sg) AS word
        |  FROM sym GROUP BY 1, 2)
        |SELECT g AS event_type, word, count(*)::BIGINT AS n_windows
        |FROM words GROUP BY 1, 2
        |ORDER BY n_windows DESC, event_type, word LIMIT 20""".stripMargin,

    "fin_inverse_vol_weights" ->
      """WITH b AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, round(ln(px / lag(px, 1)
        |    OVER (PARTITION BY g ORDER BY bucket)), 6) AS r
        |  FROM b),
        |a AS (
        |  SELECT g, count(*)::BIGINT AS n,
        |    sum(CAST(r AS DECIMAL(18,6))) AS sr,
        |    sum(CAST(CAST(r AS DECIMAL(18,6)) * CAST(r AS DECIMAL(18,6))
        |      AS DECIMAL(30,12))) AS sr2
        |  FROM r WHERE r IS NOT NULL GROUP BY g),
        |v AS (
        |  SELECT g, n, sqrt(greatest((CAST(sr2 AS DOUBLE)
        |    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n) / n, 0.0)) AS sigma
        |  FROM a),
        |i AS (SELECT g, n, sigma, round(1.0 / sigma, 9) AS inv FROM v)
        |SELECT g AS event_type, n, round(sigma, 6) AS vol,
        |  round(inv / CAST(sum(CAST(inv AS DECIMAL(28,9))) OVER ()
        |    AS DOUBLE), 6) AS weight
        |FROM i ORDER BY event_type""".stripMargin,

    /** The LTTB selection replayed: bucket ranges from the same integer
      * arithmetic, next-bucket means from exact sums, the per-bucket
      * argmax a window inside the recursive term with the identical
      * grid-rounded area and (area desc, rn asc) tiebreak. */
    "ts_lttb_downsample" ->
      """WITH RECURSIVE b0 AS (
        |  SELECT event_type AS g, epoch_ns(ts) // 1800000000000 AS bucket,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS px
        |  FROM events GROUP BY 1, 2),
        |s AS MATERIALIZED (
        |  SELECT g, px, row_number() OVER (PARTITION BY g ORDER BY bucket) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM b0),
        |bks AS (SELECT unnest(generate_series(1, 98)) AS b),
        |rng AS MATERIALIZED (
        |  SELECT s2.g, bks.b,
        |    2 + ((bks.b - 1) * (s2.n - 2)) // 98 AS lo,
        |    1 + (bks.b * (s2.n - 2)) // 98 AS hi
        |  FROM (SELECT g, max(n) AS n FROM s GROUP BY g) s2 CROSS JOIN bks),
        |cand AS MATERIALIZED (
        |  SELECT s.g, rng.b, s.rn, CAST(s.rn AS DOUBLE) AS x, s.px AS y
        |  FROM s JOIN rng ON s.g = rng.g AND s.rn BETWEEN rng.lo AND rng.hi),
        |navg AS MATERIALIZED (
        |  SELECT g, b - 1 AS b, CAST(sum(rn) AS DOUBLE) / count(*) AS ax,
        |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS ay
        |  FROM cand WHERE b >= 2 GROUP BY g, b
        |  UNION ALL
        |  SELECT g, 98 AS b, CAST(max(n) AS DOUBLE) AS ax,
        |    max(CASE WHEN rn = n THEN px END) AS ay
        |  FROM s GROUP BY g),
        |rec(g, b, rn, x, y) AS (
        |  SELECT g, 0 AS b, rn, CAST(rn AS DOUBLE) AS x, px AS y
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT q.g, q.b, q.rn, q.x, q.y FROM (
        |    SELECT c.g, c.b, c.rn, c.x, c.y,
        |      row_number() OVER (PARTITION BY c.g ORDER BY
        |        round(abs((r.x - nv.ax) * (c.y - r.y)
        |          - (r.x - c.x) * (nv.ay - r.y)), 9) DESC,
        |        c.rn ASC) AS pick
        |    FROM rec r
        |    JOIN cand c ON c.g = r.g AND c.b = r.b + 1
        |    JOIN navg nv ON nv.g = r.g AND nv.b = r.b + 1
        |    WHERE r.b < 98) q
        |  WHERE q.pick = 1)
        |SELECT event_type, position, rn, y FROM (
        |  SELECT g AS event_type, b AS position, rn, y FROM rec
        |  UNION ALL
        |  SELECT g, 99 AS position, rn, px AS y FROM s WHERE rn = n) u
        |ORDER BY event_type, position""".stripMargin,

    /** The grid-blocked spatial join replayed: identical normalization
      * (1-row min/max attach), identical cell math, the same 9-way
      * neighborhood fan-out, exact ε-disk filter on identical doubles. */
    "join_spatial_grid" ->
      """WITH pts AS (
        |  SELECT event_id AS id, value, CAST(epoch_ns(ts) AS DOUBLE) AS tn
        |  FROM events),
        |mm AS (SELECT min(value) AS vlo, max(value) AS vhi,
        |  min(tn) AS tlo, max(tn) AS thi FROM pts),
        |norm AS (
        |  SELECT id, x, y,
        |    CAST(least(floor(x * 64), 63) AS BIGINT) AS cx,
        |    CAST(least(floor(y * 64), 63) AS BIGINT) AS cy
        |  FROM (
        |    SELECT id, (value - vlo) / (vhi - vlo) AS x,
        |      (tn - tlo) / (thi - tlo) AS y
        |    FROM pts CROSS JOIN mm) n0),
        |probes AS (
        |  SELECT id AS id_a, x AS xa, y AS ya, cx AS ca, cy AS cb,
        |    cx + o AS tx, cy + p AS ty
        |  FROM norm,
        |    (SELECT unnest([-1, 0, 1]) AS o) oo,
        |    (SELECT unnest([-1, 0, 1]) AS p) pp),
        |pairs AS (
        |  SELECT probes.ca AS cell_x, probes.cb AS cell_y
        |  FROM probes JOIN norm ON probes.tx = norm.cx
        |    AND probes.ty = norm.cy AND probes.id_a < norm.id
        |  WHERE (xa - x) * (xa - x) + (ya - y) * (ya - y) <= 0.01 * 0.01),
        |counts AS (
        |  SELECT cx AS cell_x, cy AS cell_y, count(*)::BIGINT AS n_points
        |  FROM norm GROUP BY 1, 2),
        |pc AS (
        |  SELECT cell_x, cell_y, count(*)::BIGINT AS n_pairs
        |  FROM pairs GROUP BY 1, 2)
        |SELECT pc.cell_x, pc.cell_y, counts.n_points, pc.n_pairs
        |FROM pc JOIN counts ON pc.cell_x = counts.cell_x
        |  AND pc.cell_y = counts.cell_y
        |ORDER BY n_pairs DESC, pc.cell_x, pc.cell_y LIMIT 20""".stripMargin,

    "window_ntile_cume" ->
      """WITH b AS (
        |  SELECT event_type, event_id, round(value, 6) AS v FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    ntile(4) OVER (PARTITION BY event_type ORDER BY v, event_id) AS q,
        |    cume_dist() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS cd,
        |    percent_rank() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS pr
        |  FROM b)
        |SELECT event_type, q, count(*)::BIGINT AS n,
        |  round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
        |  round(CAST(sum(CAST(round(cd, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    / count(*), 6) AS mean_cume_dist,
        |  round(max(round(pr, 9)), 6) AS max_percent_rank
        |FROM w GROUP BY 1, 2 ORDER BY event_type, q""".stripMargin,

    "text_code_detect" ->
      """WITH s AS (
        |  SELECT source, length(text) AS n_ch,
        |    length(text) - length(translate(text, '{}();=<>[]#', '')) AS n_sym,
        |    length(text) - length(translate(text, '0123456789', '')) AS n_dig
        |  FROM documents),
        |sc AS (
        |  SELECT source,
        |    round((n_sym * 3 + n_dig) / CAST(n_ch AS DOUBLE), 6) AS score
        |  FROM s)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_code,
        |  round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_score,
        |  round(max(score), 6) AS max_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin
  ) ++ Shared.oracles(shared)
}
