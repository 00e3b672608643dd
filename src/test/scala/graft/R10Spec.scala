package graft

import org.apache.spark.sql.functions._

/** Laws for the round-10 wave (`queries/R10.scala`). The oracle gate
  * hash-checks `fin_gmv_audit` and `ml_ensemble_grouped`; these tests pin
  * what the gate cannot see — agreement of the fixed-iteration GMV solve
  * with the direct Gaussian-elimination solve, and closed-form recovery
  * of a planted AR(2) by the grouped ensemble. */
class R10Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("gmv audit: weights sum to 1, gradient residual small, GMV dominates") {
    val rows = SparkEntry.queries("fin_gmv_audit")(spark, dir)
      .orderBy("series").collect()
    assert(rows.length >= 2)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-5, s"weights must sum to 1, got $wsum")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("grad_residual")) < 0.05,
        s"fixed-iteration solve did not converge: residual " +
          s"${r.getAs[Double]("grad_residual")} for ${r.getAs[String]("series")}")
    }
    val pv = rows.head.getAs[Double]("port_variance_bp")
    val ev = rows.head.getAs[Double]("equal_weight_variance_bp")
    assert(pv > 0.0 && pv <= ev + 1e-9,
      s"GMV variance $pv must not exceed equal-weight variance $ev")
    assert(rows.head.getAs[Long]("n_iter") == 400L)
  }

  test("gmv audit: fixed-iteration weights agree with the direct solve") {
    // the same minimization solved two ways — Gaussian elimination
    // (fin_min_variance_portfolio) vs the contraction iteration
    // (fin_gmv_audit); both at sf0.001, per-series agreement
    val direct = SparkEntry.queries("fin_min_variance_portfolio")(spark, dir)
      .orderBy("series").collect()
      .map(r => r.getAs[String]("series") -> r.getAs[Double]("weight")).toMap
    val iter = SparkEntry.queries("fin_gmv_audit")(spark, dir)
      .orderBy("series").collect()
      .map(r => r.getAs[String]("series") -> r.getAs[Double]("weight")).toMap
    assert(direct.keySet == iter.keySet)
    direct.foreach { case (g, wd) =>
      assert(math.abs(wd - iter(g)) < 0.02,
        s"$g: direct $wd vs iterative ${iter(g)}")
    }
  }

  test("grouped ensemble: member weights normalize, error metrics are lawful") {
    val rows = SparkEntry.queries("ml_ensemble_grouped")(spark, dir).collect()
    assert(rows.length >= 2, "expected one row per series")
    rows.foreach { r =>
      val (wo, wr) = (r.getAs[Double]("w_ols"), r.getAs[Double]("w_ridge"))
      assert(wo >= 0.0 && wr >= 0.0 && math.abs(wo + wr - 1.0) < 2e-6,
        s"weights must normalize: $wo + $wr")
      val (mae, rmse) = (r.getAs[Double]("mae"), r.getAs[Double]("rmse"))
      assert(mae >= 0.0 && rmse + 1e-9 >= mae,
        s"RMSE $rmse must dominate MAE $mae")
      val da = r.getAs[Double]("dir_acc")
      assert(da >= 0.0 && da <= 1.0)
      assert(r.getAs[Double]("r2_test") <= 1.0)
      assert(r.getAs[Long]("n_train") > r.getAs[Long]("n_test"))
      assert(r.getAs[Long]("n_test") > 0)
    }
  }

  test("lasso CD: orthonormal design gives the soft-threshold closed form") {
    // with G = n·I the coordinates decouple and one sweep lands each
    // β_j on S(ρ_j, λ)/n exactly — the textbook lasso fixed point
    val n = 100.0
    val k = 5
    val gm = Array.tabulate(k, k)((i, j) => if (i == j) n else 0.0)
    val xty = Array(250.0, -30.0, 5.0, -5.0, 120.0)
    val lam = 10.0
    val beta = graft.queries.R10.lassoCd(gm, xty, lam, steps = 60 * k)
    val expect = xty.map { r =>
      if (r > lam) (r - lam) / n else if (r < -lam) (r + lam) / n else 0.0
    }
    beta.zip(expect).zipWithIndex.foreach { case ((b, e), i) =>
      assert(math.abs(b - e) < 1e-9, s"coord $i: $b vs $e")
    }
    // the correlation-threshold behavior: |xty| <= lam coordinates are 0
    assert(beta(2) == 0.0 && beta(3) == 0.0)
  }

  test("ml_lasso_cd: registered query emits the widened lasso schema, lawful") {
    val rows = SparkEntry.queries("ml_lasso_cd")(spark, dir).collect()
    assert(rows.length == 6)
    val byF = rows.map(r => r.getString(0) ->
      (r.getAs[Double]("coef_std"), r.getAs[Double]("coefficient"))).toMap
    assert(byF.contains("__intercept"))
    assert(byF("__intercept")._1 == 0.0)
    byF.foreach { case (f, (cs, c)) =>
      assert(!cs.isNaN && !c.isNaN && math.abs(c) < 1e6, s"$f: $cs / $c")
    }
  }

  test("label propagation: coarsening trajectory is monotone and node-conserving") {
    val rows = SparkEntry.queries("graph_label_propagation")(spark, dir)
      .orderBy("iter").collect()
    assert(rows.length == 4, "one census row per LPA round")
    val comm = rows.map(_.getAs[Long]("n_communities")).toSeq
    val largest = rows.map(_.getAs[Long]("largest_size")).toSeq
    // sync-LPA with self-loops coarsens on this graph: community count
    // never increases round-over-round, the giant component only grows
    comm.sliding(2).foreach { case Seq(a, b) => assert(b <= a, s"$comm") }
    largest.sliding(2).foreach { case Seq(a, b) => assert(b >= a, s"$largest") }
    rows.foreach(r => assert(r.getAs[Long]("largest_size") >= 1L &&
      r.getAs[Long]("n_communities") >= 1L))
  }

  test("huber IRLS: planted outliers pull OLS but not the robust fit") {
    import spark.implicits._
    // y = 2 + 0.5x exactly, except 4 gross outliers — iteration 0 (OLS)
    // must be dragged, iteration 4 must sit near the true slope
    val rows = (0 until 200).flatMap { b =>
      val x = 100.0 + (b % 50)
      val y = 2.0 + 0.5 * x + (if (b % 50 == 7 && b < 200 && b % 100 < 50) 300.0 else 0.0)
      Seq(("purchase", b.toLong * 21600000000000L, x),
        ("click", b.toLong * 21600000000000L, y))
    }
    val df = rows.toDF("event_type", "ts_ns", "value")
    df.createOrReplaceTempView("r10_huber_planted")
    try {
      val out = spark.sql(graft.queries.R10.huberIrlsSql(
          "r10_huber_planted", graft.queries.Dialect.Spark))
        .orderBy("iter").collect()
      assert(out.length == 5)
      val b0 = out.head.getAs[Double]("beta")
      val b4 = out.last.getAs[Double]("beta")
      assert(math.abs(b4 - 0.5) < math.abs(b0 - 0.5) / 2,
        s"IRLS must robustify: ols $b0 vs huber $b4")
      assert(math.abs(b4 - 0.5) < 0.05, s"robust slope $b4 should be ~0.5")
      assert(out.last.getAs[Long]("n_outliers") > 0L)
      // the registered entry is the driver-side replay (r11: 6 s of
      // Catalyst planning → 1.1 s); it must be BIT-identical to the
      // monolithic template on the planted frame, column by column
      val replay = graft.queries.R10.huberIrlsSpark(spark,
          "r10_huber_planted")
        .orderBy("iter").collect()
      assert(replay.length == out.length)
      replay.zip(out).foreach { case (a, b) =>
        assert(a.getAs[Int]("iter") == b.getAs[Int]("iter"))
        Seq("beta", "alpha", "delta").foreach { c =>
          assert(java.lang.Double.doubleToLongBits(a.getAs[Double](c)) ==
            java.lang.Double.doubleToLongBits(b.getAs[Double](c)),
            s"replay drift at iter ${a.getAs[Int]("iter")} col $c: " +
              s"${a.getAs[Double](c)} vs ${b.getAs[Double](c)}")
        }
        assert(a.getAs[Long]("n_outliers") == b.getAs[Long]("n_outliers"))
      }
    } finally { spark.catalog.dropTempView("r10_huber_planted"); () }
  }

  test("kmeans lloyd: partition is exhaustive, centroids finite, WCSS lawful") {
    val rows = SparkEntry.queries("ml_kmeans_lloyd")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    val total = rows.map(_.getAs[Long]("n_points")).sum
    // every point lands in exactly one cluster (windowed argmin rn=1)
    import org.apache.spark.sql.functions._
    val nPts = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("bucket", expr("ts_ns div 1800000000000L"))
      .groupBy("bucket")
      .agg(sum(when(col("event_type") === "click", 1)).as("c"),
        sum(when(col("event_type") === "purchase", 1)).as("p"))
      .filter(col("c").isNotNull && col("p").isNotNull).count()
    assert(total == nPts, s"partition must cover all $nPts points, got $total")
    rows.foreach { r =>
      assert(!r.getAs[Double]("cx").isNaN && !r.getAs[Double]("cy").isNaN)
      assert(r.getAs[Double]("wcss") >= 0.0)
    }
  }

  test("pca power: orthonormal components, ordered positive spectrum") {
    val rows = SparkEntry.queries("ml_pca_power")(spark, dir)
      .orderBy("component", "feature").collect()
    assert(rows.length == 10)
    val v1 = rows.take(5).map(_.getAs[Double]("loading"))
    val v2 = rows.drop(5).map(_.getAs[Double]("loading"))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(v1, v1) - 1.0) < 1e-3, s"PC1 norm ${dot(v1, v1)}")
    assert(math.abs(dot(v2, v2) - 1.0) < 1e-3, s"PC2 norm ${dot(v2, v2)}")
    assert(math.abs(dot(v1, v2)) < 1e-2, s"PC1·PC2 = ${dot(v1, v2)}")
    val l1 = rows.head.getAs[Double]("eigenvalue")
    val l2 = rows.last.getAs[Double]("eigenvalue")
    assert(l1 >= l2 && l2 > 0.0, s"spectrum $l1, $l2")
    val e1 = rows.head.getAs[Double]("explained_ratio")
    val e2 = rows.last.getAs[Double]("explained_ratio")
    assert(e1 + e2 <= 1.0 + 1e-6 && e1 >= e2)
  }

  test("holt-winters filter: one finite row with lawful error metrics") {
    val r = SparkEntry.queries("ml_holt_winters_filter")(spark, dir).head()
    assert(r.getAs[Long]("n_obs") > 96L)
    assert(r.getAs[Double]("rmse") >= 0.0)
    Seq("level", "trend", "forecast_1", "forecast_1day").foreach { c =>
      assert(!r.getAs[Double](c).isNaN && !r.getAs[Double](c).isInfinite, c)
    }
  }

  test("grouped ensemble: recovers a planted noiseless AR(2) per series") {
    import spark.implicits._
    // two series, each y_t = c + a·y_{t-1} + b·y_{t-2} exactly, values on
    // the 1e-2 grid via rounding — the OLS member must fit near-exactly
    // and the blend inherit it (test R² ≈ 1, tiny RMSE)
    // complex AR roots (damped oscillation) + a displaced start so the
    // training window carries real dynamics instead of a fixed point
    def series(g: String, c: Double, a: Double, b: Double): Seq[(String, Long, Double)] = {
      var (y1, y2) = (150.0, 100.0)
      (0 until 240).map { t =>
        val y = math.rint((c + a * y1 + b * y2) * 100) / 100
        y2 = y1; y1 = y
        (g, t.toLong * 1800000000000L, y)
      }
    }
    val df = (series("s1", 33.0, 1.6, -0.93) ++ series("s2", 30.0, 1.2, -0.5))
      .toDF("event_type", "ts_ns", "value")
    df.createOrReplaceTempView("r10_planted")
    try {
      val out = spark.sql(graft.queries.R10.groupedEnsembleSql(
          "r10_planted", graft.queries.Dialect.Spark, "event_type"))
        .collect()
      assert(out.length == 2)
      out.foreach { r =>
        assert(r.getAs[Double]("rmse") < 0.5,
          s"planted AR(2) not recovered: rmse ${r.getAs[Double]("rmse")} " +
            s"for ${r.getAs[String]("series")}")
        assert(r.getAs[Double]("r2_train_ols") > 0.9)
      }
    } finally { spark.catalog.dropTempView("r10_planted"); () }
  }

  test("logistic newton: planted separation drives accuracy up, log-loss down") {
    import spark.implicits._
    // purchase = 100 exactly when x1 >= 75 (else 10), so the label the
    // query derives (purchase > median) is x1-separable; x2 is noise
    val rows = (0 until 200).flatMap { b =>
      val x1 = 50.0 + (b % 100) * 0.5
      val x2 = 60.0 + (b % 7)
      val pv = if (x1 >= 75.0) 100.0 else 10.0
      Seq(("click", b.toLong * 1800000000000L, x1),
        ("view", b.toLong * 1800000000000L, x2),
        ("purchase", b.toLong * 1800000000000L, pv))
    }
    val df = rows.toDF("event_type", "ts_ns", "value")
    df.createOrReplaceTempView("r10_logit_planted")
    try {
      val out = graft.queries.R10.logisticNewtonChain(
          "r10_logit_planted", graft.queries.Dialect.Spark).run(spark)
        .orderBy("iter").collect()
      assert(out.length == 5)
      val first = out.head; val last = out.last
      assert(first.getAs[Double]("log_loss") > last.getAs[Double]("log_loss"),
        "Newton steps must reduce training log-loss on separable data")
      assert(last.getAs[Double]("beta1") > 0.0,
        "the separating feature must get a positive weight")
      assert(last.getAs[Long]("n_correct") >= 190L,
        s"separable data should classify nearly perfectly, " +
          s"got ${last.getAs[Long]("n_correct")}/200")
    } finally { spark.catalog.dropTempView("r10_logit_planted"); () }
  }

  test("threshold sweep: full decile replay from the model's own scores, real-data discrimination") {
    // REAL harness data: the decile thresholds exist exactly so the sweep
    // discriminates on the weakly-separable real fit (p in (0.39, 0.60)).
    // sf0.01, not sf0.001: 30-min buckets with all three event types are
    // near-empty at the smallest SF and the model frame vanishes
    val dir = "/root/testdata/sf0.01"
    val sweep = SparkEntry.queries("ml_threshold_sweep")(spark, dir)
      .orderBy("decile").collect()
    assert(sweep.length == 9)
    // pull the scored frame through the SAME steps the sweep uses
    graft.Tables.events(spark, dir).createOrReplaceTempView("r10_sweep_ev")
    try {
      val scored = graft.plans.StepChain(
          graft.queries.R10.logisticScoredSteps("r10_sweep_ev",
            graft.queries.Dialect.Spark),
          r => s"SELECT y, p FROM ${r("p5")}").run(spark)
        .collect().map(r => (r.getAs[Int]("y"), r.getAs[Double]("p")))
      val n = scored.length
      val ps = scored.map(_._2).sorted
      def g6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // Spark percentile interpolation: pos = (n-1)q, lk*(hi-pos)+hk*(pos-lo)
      def decile(i: Int): Double = {
        val pos = (n - 1) * (i.toDouble / 10)
        val lo = pos.toInt; val hi = math.min(lo + 1, n - 1)
        g6(ps(lo) * (hi - pos) + ps(hi) * (pos - lo) +
          (if (lo == hi) ps(lo) else 0.0))
      }
      sweep.foreach { r =>
        val i = r.getAs[Int]("decile")
        val tau = decile(i)
        assert(math.abs(r.getAs[Double]("threshold") - tau) < 1e-12,
          s"decile $i threshold: got ${r.getAs[Double]("threshold")} want $tau")
        val tp = scored.count { case (y, p) => p >= tau && y == 1 }
        val fp = scored.count { case (y, p) => p >= tau && y == 0 }
        assert(r.getAs[Long]("tp") == tp.toLong, s"decile $i tp")
        assert(r.getAs[Long]("fp") == fp.toLong, s"decile $i fp")
        assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") +
          r.getAs[Long]("fn") + r.getAs[Long]("tn") == n.toLong)
      }
      // monotone: raising tau can only shrink the predicted-positive set
      val pps = sweep.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp"))
      assert(pps.zip(pps.tail).forall { case (a, b) => a >= b })
      // decile thresholds DISCRIMINATE by construction: ~10% of the frame
      // sits between consecutive operating points
      assert(pps.distinct.length >= 5,
        s"decile sweep must spread the operating points: ${pps.toSeq}")
    } finally { spark.catalog.dropTempView("r10_sweep_ev"); () }
  }

  test("auc roc: exact Mann-Whitney replay from the model's own scores") {
    val dir = "/root/testdata/sf0.01"
    val row = SparkEntry.queries("ml_auc_roc")(spark, dir).collect()
    assert(row.length == 1)
    graft.Tables.events(spark, dir).createOrReplaceTempView("r10_auc_ev")
    try {
      val scored = graft.plans.StepChain(
          graft.queries.R10.logisticScoredSteps("r10_auc_ev",
            graft.queries.Dialect.Spark),
          r => s"SELECT y, p FROM ${r("p5")}").run(spark)
        .collect().map(r => (r.getAs[Int]("y"), r.getAs[Double]("p")))
      val sorted = scored.sortBy(_._2)
      // average ranks with ties, carried as 2x to stay integer
      val tieCount = scored.groupBy(_._2).map { case (p, g) => p -> g.length }
      var r2 = 0L
      sorted.zipWithIndex.foreach { case ((y, p), idx0) =>
        if (y == 1) {
          val rmin = sorted.indexWhere(_._2 == p) + 1
          r2 += 2L * rmin + tieCount(p) - 1
        }
      }
      val nPos = scored.count(_._1 == 1).toLong
      val nNeg = scored.count(_._1 == 0).toLong
      val u2 = r2 - nPos * (nPos + 1)
      val r = row.head
      assert(r.getAs[Long]("n_pos") == nPos && r.getAs[Long]("n_neg") == nNeg)
      assert(r.getAs[Long]("u2") == u2,
        s"2U statistic: got ${r.getAs[Long]("u2")} want $u2")
      val auc = r.getAs[Double]("auc")
      assert(math.abs(auc - u2.toDouble / (2 * nPos * nNeg)) < 1e-6)
      assert(math.abs(r.getAs[Double]("gini") - (2 * auc - 1)) < 2e-6)
      // the fit beats coin-flip on its own training data
      assert(auc > 0.5, s"training AUC must exceed 0.5: $auc")
    } finally { spark.catalog.dropTempView("r10_auc_ev"); () }
  }

  test("learning curve: prefix sizes exact, f=10 ridge replays bit-for-bit, more data helps") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("ml_learning_curve")(spark, dir)
      .orderBy("fraction").collect()
    assert(rows.length == 10)
    // rebuild the modeling frame + fold exactly as the template does
    val ev = graft.Tables.events(spark, dir)
    ev.createOrReplaceTempView("r10_lc_ev")
    try {
      val b = spark.sql(
        """SELECT bucket, x1, x2, y FROM (
          |  SELECT ts_ns div 1800000000000 AS bucket,
          |    round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
          |        AS DECIMAL(18,6))) AS DOUBLE)
          |      / count(CASE WHEN event_type = 'click' THEN value END), 6) AS x1,
          |    round(CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END
          |        AS DECIMAL(18,6))) AS DOUBLE)
          |      / count(CASE WHEN event_type = 'view' THEN value END), 6) AS x2,
          |    round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
          |        AS DECIMAL(18,6))) AS DOUBLE)
          |      / count(CASE WHEN event_type = 'purchase' THEN value END), 6) AS y
          |  FROM r10_lc_ev
          |  WHERE event_type IN ('click', 'view', 'purchase')
          |  GROUP BY 1) t
          |WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      def md5hex(k: Long): String = java.security.MessageDigest
        .getInstance("MD5").digest(k.toString.getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      def fold(k: Long): Long =
        java.lang.Long.parseLong(md5hex(k).take(8), 16) % 5
      val tst = b.filter(t => fold(t._1) == 0)
      val trn = b.filter(t => fold(t._1) != 0)
        .sortBy(t => (md5hex(t._1), t._1))
      val n = trn.length.toLong
      rows.foreach { r =>
        val f = r.getAs[Int]("fraction")
        // the integer prefix rule, replayed
        val want = trn.zipWithIndex.count { case (_, i) => 10L * (i + 1) <= f * n }
        assert(r.getAs[Long]("n_train") == want.toLong, s"f=$f size")
        assert(r.getAs[Long]("n_test") == tst.length.toLong)
      }
      // exact BigDecimal replay of the f=10 ridge + held-out RMSE
      def d9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      def rnd(x: Double, s: Int) =
        BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      val g = trn.foldLeft(Map.empty[String, BigDecimal].withDefaultValue(BigDecimal(0))) {
        case (m, (_, x1, x2, y)) =>
          m + ("s1" -> (m("s1") + d9(x1))) + ("s2" -> (m("s2") + d9(x2))) +
            ("sy" -> (m("sy") + d9(y))) + ("s11" -> (m("s11") + d9(x1 * x1))) +
            ("s12" -> (m("s12") + d9(x1 * x2))) + ("s22" -> (m("s22") + d9(x2 * x2))) +
            ("s1y" -> (m("s1y") + d9(x1 * y))) + ("s2y" -> (m("s2y") + d9(x2 * y)))
      }
      val (sw, s1, s2, sy) = (n.toDouble, g("s1").toDouble, g("s2").toDouble, g("sy").toDouble)
      val (s11, s12, s22) = (g("s11").toDouble + 1, g("s12").toDouble, g("s22").toDouble + 1)
      val (s1y, s2y) = (g("s1y").toDouble, g("s2y").toDouble)
      def det3(m: Seq[Double]) = {
        val Seq(a, bb, c, d, e, ff, gg, h, i) = m
        a * (e * i - ff * h) - bb * (d * i - ff * gg) + c * (d * h - e * gg)
      }
      val det = det3(Seq(sw, s1, s2, s1, s11, s12, s2, s12, s22))
      val a = rnd(det3(Seq(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)) / det, 9)
      val b1 = rnd(det3(Seq(sw, sy, s2, s1, s1y, s12, s2, s2y, s22)) / det, 9)
      val b2 = rnd(det3(Seq(sw, s1, sy, s1, s11, s1y, s2, s12, s2y)) / det, 9)
      val last = rows.last
      assert(last.getAs[Double]("alpha") == a, s"alpha ${last.getAs[Double]("alpha")} vs $a")
      assert(last.getAs[Double]("beta1") == b1)
      assert(last.getAs[Double]("beta2") == b2)
      val sse = tst.foldLeft(BigDecimal(0)) { case (acc, (_, x1, x2, y)) =>
        val e = y - rnd(a + b1 * x1 + b2 * x2, 6); acc + d9(e * e)
      }
      val rmse = rnd(math.sqrt(sse.toDouble / tst.length), 6)
      assert(last.getAs[Double]("rmse_test") == rmse,
        s"rmse ${last.getAs[Double]("rmse_test")} vs $rmse")
      // the curve's reason to exist: the first fit is WORSE than the last
      assert(rows.head.getAs[Double]("rmse_test") > last.getAs[Double]("rmse_test"),
        "held-out error must improve from 10% to 100% of the data")
    } finally { spark.catalog.dropTempView("r10_lc_ev"); () }
  }

  test("residual diagnostics: DW identity on real data, planted autocorrelation fires the flag") {
    val dir = "/root/testdata/sf0.01"
    val r = SparkEntry.queries("ml_residual_diagnostics")(spark, dir)
      .collect().head
    val dw = r.getAs[Double]("dw_stat"); val rho1 = r.getAs[Double]("rho1")
    assert(r.getAs[Long]("n_obs") > 100L)
    // the Durbin-Watson identity DW = 2(1 - rho1) up to the boundary terms
    assert(math.abs(dw - 2 * (1 - rho1)) < 0.05, s"dw=$dw rho1=$rho1")
    assert(!r.getAs[Boolean]("positive_autocorr"),
      "real bucket means carry no strong serial correlation")
    // planted: y quadratic in time while the features are flat-ish, so the
    // linear fit leaves a smooth (strongly autocorrelated) residual arc
    import spark.implicits._
    val rows = (0 until 300).flatMap { b =>
      val t = b.toDouble
      Seq(("click", b.toLong * 1800000000000L, 50.0 + (b % 3)),
        ("view", b.toLong * 1800000000000L, 60.0 + (b % 2)),
        ("purchase", b.toLong * 1800000000000L, 0.01 * (t - 150.0) * (t - 150.0)))
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_dw_planted")
    try {
      val p = spark.sql(graft.queries.R10.residualDiagnosticsSql(
          "r10_dw_planted", graft.queries.Dialect.Spark)).collect().head
      assert(p.getAs[Double]("dw_stat") < 1.0,
        s"quadratic residual arc must show DW << 2: ${p.getAs[Double]("dw_stat")}")
      assert(p.getAs[Boolean]("positive_autocorr"),
        "the coarse flag must fire on the planted arc")
      assert(p.getAs[Double]("rho1") > 0.5)
    } finally { spark.catalog.dropTempView("r10_dw_planted"); () }
  }

  test("gbt stumps: planted two-cluster target found at the exact threshold, geometric SSE decay") {
    import spark.implicits._
    // x in {10, 100}, y constant within cluster: the best stump is the
    // cluster boundary; with nu = 0.5 and piecewise-constant residuals the
    // leaf values absorb exactly half the residual each round, so SSE
    // contracts by 0.25 per iteration until grid rounding bites
    val rows = (0 until 200).flatMap { b =>
      val x = if (b % 2 == 0) 10.0 else 100.0
      val y = if (b % 2 == 0) 5.0 else 50.0
      Seq(("click", b.toLong * 1800000000000L, x),
        ("purchase", b.toLong * 1800000000000L, y))
    }
    val df = rows.toDF("event_type", "ts_ns", "value")
    df.createOrReplaceTempView("r10_gbt_planted")
    try {
      val out = graft.queries.R10.gbtStumpsChain(
          "r10_gbt_planted", graft.queries.Dialect.Spark).run(spark)
        .orderBy("iter").collect()
      assert(out.length == 7)
      val sses = out.map(_.getAs[Double]("train_sse"))
      assert(sses.sliding(2).forall { case Array(a, b) => b <= a + 1e-9 },
        s"boosting SSE must be non-increasing: ${sses.mkString(",")}")
      out.drop(1).foreach { r =>
        assert(r.getAs[Double]("threshold") == 10.0,
          s"stump must split at the cluster boundary, " +
            s"got ${r.getAs[Double]("threshold")}")
      }
      val ratio = sses(1) / sses(0)
      assert(math.abs(ratio - 0.25) < 0.01,
        s"first boosting round should contract SSE by ~0.25, got $ratio")
    } finally { spark.catalog.dropTempView("r10_gbt_planted"); () }
  }

  test("dbscan: registered query matches a brute-force driver DBSCAN") {
    import spark.implicits._
    val eps = 3.0; val minPts = 5
    // sf0.01: ~800 points, enough for non-trivial cluster structure
    // (sf0.001 yields only ~26 joint buckets); brute force is O(n²) driver
    val bfDir = "/root/testdata/sf0.01"
    // the same point frame the query builds, collected (test-sized)
    val pts = graft.Tables.events(spark, bfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("bucket", expr("ts_ns div 1800000000000L"))
      .groupBy("bucket")
      .agg(graft.queries.Grid.mean6(when(col("event_type") === "click", col("value"))).as("x"),
        graft.queries.Grid.mean6(when(col("event_type") === "purchase", col("value"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val n = pts.length
    assert(n > 100)
    val nbr = Array.tabulate(n) { i =>
      (0 until n).filter { j =>
        val dx = pts(i)._2 - pts(j)._2; val dy = pts(i)._3 - pts(j)._3
        dx * dx + dy * dy <= eps * eps
      }
    }
    val isCore = (0 until n).map(i => nbr(i).length >= minPts)
    // union-find over core-core edges
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var x = a; while (parent(x) != x) x = parent(x); x }
    for (i <- 0 until n if isCore(i); j <- nbr(i) if isCore(j)) {
      val (a, b) = (find(i), find(j))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // component label = min BUCKET id among member cores (the query's rule)
    val compOf = scala.collection.mutable.Map[Int, Long]()
    for (i <- 0 until n if isCore(i)) {
      val r = find(i)
      compOf(r) = math.min(compOf.getOrElse(r, Long.MaxValue), pts(i)._1)
    }
    val label = (0 until n).map { i =>
      if (isCore(i)) compOf(find(i))
      else {
        val coreN = nbr(i).filter(isCore)
        if (coreN.nonEmpty) coreN.map(j => compOf(find(j))).min else -1L
      }
    }
    val wantSizes = label.zipWithIndex.groupBy(_._1).map { case (c, m) =>
      (c, m.size, m.count(p => isCore(p._2)))
    }.toSet
    val got = SparkEntry.queries("ml_dbscan_grid")(spark, bfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3).toInt, r.getLong(1).toInt)).toSet
    assert(got == wantSizes,
      s"distributed DBSCAN must equal brute force:\ngot  $got\nwant $wantSizes")
  }

  test("logrank: planted weekend-longer sessions reject decisively") {
    import spark.implicits._
    val day = 86400000000000L // ns
    val satBase = 7002L * day // epoch day ≡ 2 mod 7 → Saturday
    val monBase = 7004L * day // Monday
    var eid = 0L
    val rows = ((0 until 100).flatMap { k =>
      eid += 2
      // weekend session: two events 9 min apart (duration 9 min)
      // 20-min spacing keeps all 100 sessions inside Sat+Sun (33 h span)
      Seq((1000L + k, eid - 1, satBase + k * 1200000000000L),
        (1000L + k, eid, satBase + k * 1200000000000L + 540000000000L))
    } ++ (0 until 100).map { k =>
      eid += 1
      // weekday session: a single event (duration 0)
      (2000L + k, eid, monBase + k * 1200000000000L)
    } :+ ((9999L, eid + 1, monBase + 30L * day))) // far sentinel: censors itself
    val df = rows.toDF("user_id", "event_id", "ts_ns")
    df.createOrReplaceTempView("r10_logrank_planted")
    try {
      val out = spark.sql(graft.queries.R10.logrankSql(
        "r10_logrank_planted", graft.queries.Dialect.Spark)).head()
      assert(out.getAs[Long]("n_sessions_weekend") == 100L)
      assert(out.getAs[Long]("n_sessions_weekday") == 101L)
      assert(out.getAs[Long]("n_censored") == 1L)
      assert(out.getAs[Double]("chi2") > 50.0,
        s"planted duration gap must be decisive, chi2 ${out.getAs[Double]("chi2")}")
      assert(out.getAs[Long]("reject_95") == 1L)
    } finally { spark.catalog.dropTempView("r10_logrank_planted"); () }
  }

  test("cox ph: iteration-0 score IS the log-rank O−E (score-test identity)") {
    val lr = SparkEntry.queries("stat_logrank")(spark, dir).head()
    val oMinusE = lr.getAs[Long]("events_we") - lr.getAs[Double]("expected_weekend")
    val cox = SparkEntry.queries("ml_cox_ph")(spark, dir)
      .orderBy("iter").collect()
    assert(cox.length == 5)
    assert(math.abs(cox.head.getAs[Double]("score") - oMinusE) < 1e-4,
      s"Cox score at beta=0 must equal log-rank O−E: " +
        s"${cox.head.getAs[Double]("score")} vs $oMinusE")
    // Newton converged: the final score (gradient) is ~0
    assert(math.abs(cox.last.getAs[Double]("score")) < 0.01)
    assert(cox.last.getAs[Double]("info") > 0.0)
    assert(cox.last.getAs[Double]("se_beta") > 0.0)
  }

  test("cox ph: planted weekend-longer sessions give a hazard ratio well below 1") {
    import spark.implicits._
    val day = 86400000000000L
    val satBase = 7002L * day
    val monBase = 7004L * day
    var eid = 0L
    val rows = ((0 until 100).flatMap { k =>
      eid += 2
      Seq((1000L + k, eid - 1, satBase + k * 1200000000000L),
        (1000L + k, eid, satBase + k * 1200000000000L + 540000000000L))
    } ++ (0 until 100).map { k =>
      eid += 1
      (2000L + k, eid, monBase + k * 1200000000000L)
    } :+ ((9999L, eid + 1, monBase + 30L * day)))
    val df = rows.toDF("user_id", "event_id", "ts_ns")
    df.createOrReplaceTempView("r10_cox_planted")
    try {
      val out = graft.queries.R10.coxPhChain(
          "r10_cox_planted", graft.queries.Dialect.Spark).run(spark)
        .orderBy("iter").collect()
      val hr = out.last.getAs[Double]("hazard_ratio")
      assert(hr < 0.5,
        s"weekend sessions survive 9× longer — hazard ratio $hr must be ≪ 1")
      assert(out.last.getAs[Double]("beta") < -0.5)
    } finally { spark.catalog.dropTempView("r10_cox_planted"); () }
  }

  test("gmm em: planted bimodal mixture recovered, loglik monotone") {
    import spark.implicits._
    // two tight Gaussians at 20 and 80 (deterministic residue jitter)
    val rows = (0 until 400).map { b =>
      val base = if (b % 2 == 0) 20.0 else 80.0
      ("click", b.toLong * 1800000000000L, base + (b % 7) * 0.5 - 1.5)
    }
    val df = rows.toDF("event_type", "ts_ns", "value")
    df.createOrReplaceTempView("r10_gmm_planted")
    try {
      val out = spark.sql(graft.queries.R10.gmmEmSql(
          "r10_gmm_planted", graft.queries.Dialect.Spark))
        .orderBy("iter").collect()
      assert(out.length == 5)
      val lls = out.map(_.getAs[Double]("loglik"))
      assert(lls.sliding(2).forall { case Array(a, b) => b >= a - 1e-9 },
        s"EM loglik must be non-decreasing: ${lls.mkString(",")}")
      val last = out.last
      assert(math.abs(last.getAs[Double]("mu1") - 20.0) < 2.0,
        s"mu1 ${last.getAs[Double]("mu1")} should find the 20-cluster")
      assert(math.abs(last.getAs[Double]("mu2") - 80.0) < 2.0,
        s"mu2 ${last.getAs[Double]("mu2")} should find the 80-cluster")
      assert(math.abs(last.getAs[Double]("w2") - 0.5) < 0.05)
    } finally { spark.catalog.dropTempView("r10_gmm_planted"); () }
  }

  test("gmm em on data: loglik monotone, variances floored positive") {
    val out = SparkEntry.queries("ml_gmm_em")(spark, dir)
      .orderBy("iter").collect()
    assert(out.length == 5)
    val lls = out.map(_.getAs[Double]("loglik"))
    assert(lls.sliding(2).forall { case Array(a, b) => b >= a - 1e-6 },
      s"EM loglik must ascend: ${lls.mkString(",")}")
    out.foreach { r =>
      assert(r.getAs[Double]("var1") > 0.0 && r.getAs[Double]("var2") > 0.0)
      val w2 = r.getAs[Double]("w2")
      assert(w2 > 0.0 && w2 < 1.0)
    }
  }

  test("black-scholes: put-call parity exact, deltas in (0,1), strike monotonicity") {
    val rows = SparkEntry.queries("fin_black_scholes")(spark, dir)
      .orderBy("series", "moneyness").collect()
    assert(rows.nonEmpty && rows.length % 3 == 0)
    val df = 0.9958988437642043
    rows.foreach { r =>
      val (s0, k) = (r.getAs[Double]("s0"), r.getAs[Double]("k"))
      val (c, p) = (r.getAs[Double]("call"), r.getAs[Double]("put"))
      // C − P = S − K·e^{−rT}: the same N() values cancel exactly
      assert(math.abs((c - p) - (s0 - k * df)) < 3e-6,
        s"put-call parity broken: ${r.getAs[String]("series")} " +
          s"m=${r.getAs[Double]("moneyness")}: ${c - p} vs ${s0 - k * df}")
      val d = r.getAs[Double]("delta_call")
      assert(d > 0.0 && d < 1.0, s"degenerate delta $d (vol calibration?)")
      assert(c >= 0.0 && p >= 0.0)
    }
    rows.grouped(3).foreach { g =>
      assert(g(0).getAs[Double]("call") >= g(1).getAs[Double]("call") &&
        g(1).getAs[Double]("call") >= g(2).getAs[Double]("call"),
        "calls must fall as strike rises")
      assert(g(0).getAs[Double]("put") <= g(1).getAs[Double]("put") &&
        g(1).getAs[Double]("put") <= g(2).getAs[Double]("put"),
        "puts must rise with strike")
    }
  }

  test("mc var: matches the closed-form lognormal quantile, tail laws hold") {
    val rows = SparkEntry.queries("fin_mc_var")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s0, mu, sig) = (r.getAs[Double]("s0"), r.getAs[Double]("mu_bar"),
        r.getAs[Double]("sigma_bar"))
      val (v95, e95) = (r.getAs[Double]("var_95"), r.getAs[Double]("es_95"))
      val (v99, e99) = (r.getAs[Double]("var_99"), r.getAs[Double]("es_99"))
      // closed form: loss quantile of s0·(1 − exp(N(m5, s5²)))
      val m5 = (mu - sig * sig / 2.0) * 5.0
      val s5 = sig * math.sqrt(5.0)
      val want95 = s0 * (1.0 - math.exp(m5 + s5 * -1.6448536269514722))
      assert(math.abs(v95 - want95) < 0.03 * s0,
        s"${r.getAs[String]("series")}: MC var95 $v95 vs closed-form $want95")
      assert(e95 >= v95 && v99 >= v95 && e99 >= v99,
        s"tail ordering broken: $v95 $e95 $v99 $e99")
    }
  }

  test("boruvka mst: equals a driver Kruskal under the same edge order") {
    // the (weight, a, b) total order makes the MST unique, so the
    // distributed Borůvka result must equal sequential Kruskal exactly
    val edges = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("a"),
        concat(lit("s"), col("l_suppkey")).as("b"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.length > 50)
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = scala.collection.mutable.Set[(String, String, Long)]()
    edges.sortBy(e => (e._3, e._1, e._2)).foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; want += ((a, b, w)) }
    }
    val got = SparkEntry.queries("graph_mst_boruvka")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want.toSet,
      s"MST mismatch: ${got.size} vs ${want.size} edges; " +
        s"sym-diff ${(got diff want.toSet) ++ (want.toSet diff got)}")
  }

  test("boruvka mst: distributed merge path (past the gate) is bit-identical") {
    // the per-round merge map rides the GraphLayout gate: driver
    // union-find under it, distributed Dedup.connectedComponents past it.
    // Forcing the limit to 1 exercises the distributed path end-to-end;
    // both modes must close each round's merge pairs to the same
    // min-label fixpoint, so the MST must match exactly.
    val gated = SparkEntry.queries("graph_mst_boruvka")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // force BOTH scale paths: the distributed connected-components merge (its own
    // driver-collect budget) and the shuffle-hinted relabel joins
    System.setProperty("graft.graph.mstMergeDriverLimit", "1")
    System.setProperty("graft.graph.broadcastNodeLimit", "1")
    try {
      val dist = SparkEntry.queries("graph_mst_boruvka")(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(dist == gated,
        s"merge-mode divergence: ${dist.size} vs ${gated.size} edges")
    } finally {
      System.clearProperty("graft.graph.mstMergeDriverLimit")
      System.clearProperty("graft.graph.broadcastNodeLimit")
    }
  }

  test("sprt: lawful extremes on data; a planted shifted suffix alarms") {
    import spark.implicits._
    val onData = SparkEntry.queries("stat_sprt")(spark, dir).head()
    assert(Set("accept_h0", "accept_h1", "continue")
      .contains(onData.getAs[String]("decision")))
    assert(onData.getAs[Double]("llr_min") <= onData.getAs[Double]("llr_final") &&
      onData.getAs[Double]("llr_final") <= onData.getAs[Double]("llr_max"))
    // planted: the training half (80 buckets) at 50, the monitored half
    // shifted +2σ-ish from its first bucket — the test must cross up
    val rows = (0 until 160).map { t =>
      val v = if (t < 80) 50.0 + (t % 5) else 58.0 + (t % 5)
      ("click", t.toLong * 1800000000000L, v)
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_sprt_planted")
    try {
      val out = spark.sql(graft.queries.R10.sprtSql(
        "r10_sprt_planted", graft.queries.Dialect.Spark)).head()
      assert(out.getAs[String]("decision") == "accept_h1",
        s"shifted suffix must alarm: $out")
      assert(out.getAs[Long]("decision_bucket") >= 80L,
        s"alarm must come from the shifted region: $out")
    } finally { spark.catalog.dropTempView("r10_sprt_planted"); () }
  }

  test("online SGD: one pass on a perfectly correlated stream recovers slope 1") {
    import spark.implicits._
    val onData = SparkEntry.queries("ml_sgd_online")(spark, dir).head()
    assert(onData.getAs[Long]("n_steps") > 10) // sf0.001 has ~23 buckets
    assert(onData.getAs[Double]("rmse") > 0.0)
    // planted: click = 2*view + 5 per bucket, so the standardized pair is
    // identical and SGD must drive w1 -> 1, w0 -> 0
    val rows = (0 until 400).flatMap { t =>
      val p = 50.0 + (t * 7 % 13) + 0.5 * (t % 4)
      Seq(("view", t.toLong * 1800000000000L, p),
        ("click", t.toLong * 1800000000000L, 2.0 * p + 5.0))
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_sgd_planted")
    try {
      val z = spark.sql("WITH " + graft.queries.R10.sgdZSql(
          "r10_sgd_planted", graft.queries.Dialect.Spark) +
          "\nSELECT i, zx, zy FROM z").collect()
        .map(r => (r.getAs[Number](0).longValue, r.getDouble(1),
          r.getDouble(2)))
      // the standardized pair agrees up to the grid-6 rounding of the
      // mean/sigma statistics under the affine map
      z.foreach { case (_, zx, zy) =>
        assert(math.abs(zx - zy) < 1e-4, s"z mismatch $zx $zy")
      }
      val (n, w0, w1, rmse) = graft.queries.R10.sgdFold(z)
      assert(n == 400L)
      assert(math.abs(w1 - 1.0) < 0.1, s"slope must converge to 1: $w1")
      assert(math.abs(w0) < 0.1, s"intercept near 0: $w0")
      assert(rmse < 0.35, s"loss must shrink: $rmse")
    } finally { spark.catalog.dropTempView("r10_sgd_planted"); () }
  }

  test("page-hinkley: quiet series stays silent, a sustained shift alarms upward") {
    import spark.implicits._
    // quiet: periodic +/-2% wiggle around 100; shifted: same for 200
    // buckets then a sustained +1.5% drift
    val rows = (0 until 400).flatMap { t =>
      val quiet = 100.0 + 2.0 * (t % 5)
      val shifted = if (t < 200) 100.0 + 2.0 * (t % 5)
        else (100.0 + 2.0 * (t % 5)) * math.pow(1.05, (t - 199).toDouble)
      Seq(("quiet", t.toLong * 1800000000000L, quiet),
        ("shifted", t.toLong * 1800000000000L, shifted))
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_ph_planted")
    try {
      val out = spark.sql(graft.queries.R10.pageHinkleySql(
        "r10_ph_planted", graft.queries.Dialect.Spark)).collect()
        .map(r => r.getAs[String]("series") -> r).toMap
      assert(out("quiet").getAs[Int]("alarmed") == 0,
        s"periodic noise must not alarm: ${out("quiet")}")
      val sh = out("shifted")
      assert(sh.getAs[Long]("alarm_up_bucket") >= 200L,
        s"the up-alarm must come from the shifted region: $sh")
      assert(sh.getAs[Int]("alarmed") == 1)
    } finally { spark.catalog.dropTempView("r10_ph_planted"); () }
  }

  test("sample entropy: a regular ramp scores lower than an irregular series") {
    import spark.implicits._
    val rows = (0 until 200).flatMap { t =>
      Seq(("regular", t.toLong * 1800000000000L, 100.0 + (t % 10)),
        ("irregular", t.toLong * 1800000000000L,
          100.0 + (((t * 2654435761L) >> 7) % 13).toDouble))
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_sampen_planted")
    try {
      val out = spark.sql(graft.queries.R10.sampleEntropySql(
        "r10_sampen_planted", graft.queries.Dialect.Spark)).collect()
        .map(r => r.getAs[String]("series") -> r).toMap
      val reg = out("regular")
      val irr = out("irregular")
      assert(reg.getAs[Long]("a_count") <= reg.getAs[Long]("b_count"))
      // the periodic ramp is perfectly predictable: every matching
      // 2-template extends (A = B), so SampEn is exactly 0
      assert(reg.getAs[Double]("sampen") == 0.0, s"ramp: $reg")
      assert(irr.getAs[Double]("sampen") > 0.3,
        s"aperiodic series must score higher: $reg vs $irr")
    } finally { spark.catalog.dropTempView("r10_sampen_planted"); () }
  }

  test("friedman: rank-sum conservation on data; a dominant series rejects") {
    import spark.implicits._
    val out = SparkEntry.queries("stat_friedman")(spark, dir).collect()
    val k = out.length.toLong
    val n = out.head.getAs[Long]("n_days")
    // within each complete day the mean ranks sum to k(k+1)/2, so the
    // mr2 sums conserve exactly: sum over series = n * k * (k+1)
    assert(out.map(_.getAs[Long]("sum_rank2")).sum == n * k * (k + 1))
    assert(out.map(_.getAs[Double]("chi2")).distinct.length == 1)
    // planted: series 'a' strictly highest every day, the rest cycle —
    // the test must reject decisively
    val rows = for (day <- 0 until 40; (t, i) <- Seq("a", "b", "c", "d", "e").zipWithIndex)
      yield (t, day.toLong * 86400000000000L,
        if (t == "a") 100.0 else 10.0 + ((day + i) % 4))
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("r10_friedman_planted")
    try {
      val p = spark.sql(graft.queries.R10.friedmanSql(
        "r10_friedman_planted", graft.queries.Dialect.Spark)).collect()
      assert(p.forall(_.getAs[Int]("reject_95") == 1),
        s"dominant series must reject: ${p.mkString(";")}")
      val aRank = p.find(_.getAs[String]("series") == "a").get
        .getAs[Double]("mean_rank")
      assert(aRank == 5.0, s"always-highest series must have mean rank k: $aRank")
    } finally { spark.catalog.dropTempView("r10_friedman_planted"); () }
  }

  test("capm: equal-weight market forces mean beta 1 and mean alpha 0") {
    val out = SparkEntry.queries("fin_capm_beta")(spark, dir).collect()
    val k = out.length
    assert(k >= 2)
    assert(out.map(_.getAs[Long]("n_days")).distinct.length == 1)
    out.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"R2 out of range: $r")
    }
    // the market is the equal-weight mean of the series, so betas
    // average to 1 and alphas to 0 (up to the 1e-6 grid on returns)
    assert(math.abs(out.map(_.getAs[Double]("beta")).sum / k - 1.0) < 0.01)
    assert(math.abs(out.map(_.getAs[Double]("alpha")).sum / k) < 0.01)
  }

  test("modularity: conservation laws and exact per-community recomputation") {
    val out = SparkEntry.queries("graph_modularity")(spark, dir).collect()
    assert(out.nonEmpty)
    val twoM = out.map(_.getAs[Long]("degree_sum")).sum
    assert(twoM % 2 == 0)
    val m = twoM / 2
    assert(out.map(_.getAs[Long]("internal_edges")).sum <= m)
    out.foreach { r =>
      val l = r.getAs[Long]("internal_edges")
      val dS = r.getAs[Long]("degree_sum")
      val want = BigDecimal((4L * m * l - dS * dS).toDouble / (4L * m * m).toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(r.getAs[Double]("q_term") == want, s"q_term mismatch: $r vs $want")
      assert(l <= dS * (dS - 1) / 2)
    }
  }

  test("local clustering coefficient matches a brute-force driver count") {
    val out = SparkEntry.queries("graph_local_clustering")(spark, dir).collect()
    assert(out.nonEmpty)
    // rebuild the >=2-order co-purchase edge set on the driver (bounded
    // at sf0.001) and count each output node's triangles by adjacency
    // intersection
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = b.as("b1").join(b.as("b2"),
        col("b1.o") === col("b2.o") && col("b1.p") < col("b2.p"))
      .groupBy(col("b1.p").as("pa"), col("b2.p").as("pb"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("pa", "pb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, c) =>
      adj(a) = adj(a) + c; adj(c) = adj(c) + a
    }
    out.foreach { r =>
      val node = r.getAs[Long]("node")
      val deg = r.getAs[Long]("deg")
      val nTri = r.getAs[Long]("n_tri")
      val ns = adj(node)
      assert(ns.size.toLong == deg, s"degree mismatch at $node")
      val want = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      assert(nTri == want.toLong, s"triangle count mismatch at $node")
      val lcc = r.getAs[Double]("lcc")
      assert(math.abs(lcc - 2.0 * want / (deg * (deg - 1.0))) < 1e-6)
    }
  }

  test("gbt stumps on data: SSE strictly decreases and leaves are finite") {
    val out = SparkEntry.queries("ml_gbt_stumps")(spark, dir)
      .orderBy("iter").collect()
    assert(out.length == 7)
    val sses = out.map(_.getAs[Double]("train_sse"))
    assert(sses.sliding(2).forall { case Array(a, b) => b <= a },
      s"SSE must not increase: ${sses.mkString(",")}")
    out.foreach { r =>
      assert(!r.getAs[Double]("left_val").isNaN &&
        !r.getAs[Double]("right_val").isNaN)
    }
  }
}
