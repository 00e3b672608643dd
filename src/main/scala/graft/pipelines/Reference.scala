package graft.pipelines

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ml.{Ensemble, Models, ModelingFrame}

/** The reference's top entry points recomposed from engine operators
  * (SURVEY.md §3): the serving query (`app.py` "Run Analysis", §3.1) and
  * the notebook cleaning spine (§3.2). These are driver-level
  * orchestrations of lazy DataFrame plans — the only actions are the
  * model fits and the driver-sized metric rows, exactly the adaptive
  * points SURVEY.md §4.3 allows.
  */
object Reference {

  /** §3.1 — the serving query: frame → ensemble fit → latest-row input →
    * point prediction → confidence + trade decision. One-row result, the
    * app's signal record (`app.py:159-189`).
    *
    * The fit and the latest feature row are memoized together
    * (`Ensemble.servingCached`, keyed on the files under `dir`). A miss
    * lists `dir` and runs 2 Spark jobs, both in building the day-grain
    * frame (`ModelingFrame.assembled`: one aggregate with one shuffle).
    * That frame is local, so the driver-path fit and the latest-row
    * lookup on it run no job. A hit lists `dir` and runs no Spark job:
    * the members predict the memoized row on the driver and the result
    * is a local one-row frame. Only MLlib-backed members (a frame past
    * `Forest.driverFitLimit`) fit and score with jobs, the score through
    * `withMemberPredictions` on a one-row local frame.
    *
    * @param threshold     signal gate (deployed default 0.6, `app.py:218`)
    * @param minConfidence R² gate (deployed default 0.6, `app.py:224`)
    */
  def servingSignal(spark: SparkSession, dir: String,
                    threshold: Double = 0.6, minConfidence: Double = 0.6): DataFrame = {
    // memoized fit on the DAY-grain reference frame (grain="daily" —
    // distinct cache entry from ml_ensemble_weighted's 30-minute frame)
    val (fitted, x) = Ensemble.servingCached(spark, dir, ModelingFrame.Target) {
      val frame = ModelingFrame.assembled(spark, dir)
        .select(col("date_id"), col(Models.FeaturesCol), col(ModelingFrame.Target))
      val rows = frame.collect() // a local frame: no job
      require(rows.nonEmpty,
        s"serving_signal: the modeling frame of $dir has no rows " +
          "(every day lacks an event type or a next-day click mean)")
      // default input = latest feature row (`app.py:242` last_row_lookup)
      val latest = rows.maxBy(_.getInt(0))
        .getAs[org.apache.spark.ml.linalg.Vector](1).toArray
      (frame, latest)
    }
    // driver-path fit: all members predict on the driver (bit-identical
    // to the column/map scoring — Ensemble.Scorer.predictLocal)
    val localPreds = fitted.members.map(m => m.scorer.predictLocal(x))
    val pointPred =
      if (localPreds.forall(_.isDefined))
        fitted.members.zip(localPreds)
          .map { case (m, p) => m.weight * p.get }.sum
      else {
        // MLlib-backed members (past the driver gate): one chained-
        // transform action scores all members at once
        val xInput = spark.createDataFrame(
          Seq(Row(org.apache.spark.ml.linalg.Vectors.dense(x))).asJava,
          StructType(Seq(StructField(Models.FeaturesCol,
            org.apache.spark.ml.linalg.SQLDataTypes.VectorType))))
        val predRow = fitted.withMemberPredictions(xInput)
          .select(fitted.members.map(m => col(s"yhat_${m.name}")): _*).head()
        fitted.members.zipWithIndex
          .map { case (m, i) => m.weight * predRow.getDouble(i) }.sum
      }
    val avgR2 = fitted.members.map(_.r2).sum / fitted.members.size
    val avgMae = fitted.members.map(_.mae).sum / fitted.members.size

    // `interpret_confidence` (app.py:150-156) + decision table (159-189)
    val confidence =
      if (avgR2 >= 0.7) "High" else if (avgR2 >= 0.4) "Medium" else "Low"
    val (signal, reason) =
      if (math.abs(pointPred) < threshold || avgR2 < minConfidence)
        ("WAIT", f"signal ${math.abs(pointPred)}%.4f below threshold $threshold%.2f " +
          f"or confidence $avgR2%.4f below $minConfidence%.2f")
      else if (pointPred > 0)
        ("BUY_A_SELL_B", f"predicted rise ${pointPred}%.4f at confidence $avgR2%.4f")
      else
        ("SELL_A_BUY_B", f"predicted fall ${pointPred}%.4f at confidence $avgR2%.4f")
    val strength = math.min(math.abs(pointPred) / threshold, 1.0)

    spark.createDataFrame(
      Seq(Row(ModelingFrame.Target, pointPred, avgR2, avgMae, confidence, signal,
        strength, reason)).asJava,
      SignalSchema)
  }

  /** The signal record's columns (the types and nullability a tuple
    * `toDF` of the same record gives). */
  private val SignalSchema = StructType(Seq(
    StructField("target", StringType),
    StructField("prediction", DoubleType, nullable = false),
    StructField("avg_r2", DoubleType, nullable = false),
    StructField("avg_mae", DoubleType, nullable = false),
    StructField("confidence", StringType),
    StructField("signal", StringType),
    StructField("strength", DoubleType, nullable = false),
    StructField("reason", StringType)))

  /** §3.2 — the cleaning spine on a wide frame: profile nulls → drop
    * sparse columns → ffill/bfill impute → assert no nulls → select
    * top-variance targets → lead-align → inner join features⋈targets.
    * Returns the merged modeling table (`df_merged`, cell 67/68).
    *
    * Operates on any wide frame keyed by `timeCol`; `featureCols` are
    * imputation candidates, `targetCols` ranked by variance. */
  def cleaningPipeline(wide: DataFrame, timeCol: String,
                       featureCols: Seq[String], targetCols: Seq[String],
                       maxNullPct: Double = 50.0, topK: Int = 2,
                       leadDays: Int = 1): DataFrame = {
    import graft.operators.{MissingData, Relational, TimeSeries}
    import org.apache.spark.sql.expressions.Window

    // profile (drives nothing downstream, mirrors notebook cells 9-26)
    val clean0 = MissingData.dropSparseColumns(wide, featureCols, maxNullPct)
    val kept = featureCols.filter(clean0.columns.contains)
    val imputed = MissingData.ffillBfill(clean0, Nil, Seq(col(timeCol)), kept)

    val nNulls = MissingData.totalNullCount(imputed, kept).head().getLong(0)
    require(nNulls == 0, s"impute left $nNulls nulls") // cell 52 assertion

    val top = Relational.topKByVariance(imputed, targetCols.filter(
        imputed.columns.contains), topK)
      .collect().map(_.getString(0)).toSeq.sorted

    val w = Window.orderBy(timeCol)
    val led = top.foldLeft(imputed) { (acc, t) =>
      acc.withColumn(s"${t}_next", lead(col(t), leadDays).over(w))
    }.na.drop("any", top.map(t => s"${t}_next"))

    val features = imputed.select((timeCol +: kept).map(col): _*)
    val targets = led.select((timeCol +: top.map(t => s"${t}_next")).map(col): _*)
    features.join(targets, timeCol)
  }
}
