package graft.ml

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.Tables

/** Builds the harness analog of the reference's modeling table
  * (`df_transformed.csv`, SURVEY.md §1.2): a compact wide frame keyed by a
  * time ordinal with one feature column per series and a next-period
  * target.
  *
  * Shape mirror: events → one row per day (`date_id` ordinal), features =
  * per-event-type daily mean value (a fixed column set, [[EventTypes]]),
  * target = next day's `click` mean (the reference's lag-aligned target,
  * `Marilyn_Cleaning.ipynb` cell 67).
  *
  * The day-grain frame is aggregated near the data and finished on the
  * driver: Spark computes the mean `value` of every (day, event type)
  * cell — one shuffle, the same first aggregate Spark's two-phase pivot
  * runs, so every cell has the same bits — and the driver pivots, orders,
  * leads and drops the collected cells. The frame holds one row per
  * calendar day at any scale factor, so collecting it is bounded; the
  * result is a local DataFrame, and actions on it run no Spark job.
  * `ModelingFrameSpec` pins it bit for bit to the pivot → `lead` window →
  * `na.drop` plan it replaces.
  */
object ModelingFrame {

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val Target = "target_click_next"

  private val DailySchema = StructType(StructField("date_id", IntegerType) +:
    EventTypes.map(StructField(_, DoubleType)))

  /** One row per day, one feature column per event type (pre-target). */
  def daily(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(dayRows(spark, dir).asJava, DailySchema)

  /** [[daily]] plus the next day's `click` mean as [[Target]], keeping only
    * the rows with no null: a day that lacks an event type, and the last
    * day (it has no next day), drop out. */
  def build(spark: SparkSession, dir: String): DataFrame = {
    val days = dayRows(spark, dir)
    val click = 1 + EventTypes.indexOf("click")
    val next = days.drop(1).map(_.get(click)) :+ null
    val rows = days.zip(next).map { case (day, target) => Row.fromSeq(day.toSeq :+ target) }
    spark.createDataFrame(rows.filterNot(_.anyNull).asJava, DailySchema.add(Target, DoubleType))
  }

  /** Assembled (features vector + label + key) frame ready for MLlib. */
  def assembled(spark: SparkSession, dir: String): DataFrame =
    Models.assemble(build(spark, dir), EventTypes)

  /** The day rows of [[daily]], in `date_id` order: the (day, event type)
    * mean cells from one Spark aggregate, pivoted on the driver. A cell
    * the data lacks stays null, and an event type outside [[EventTypes]]
    * fills no column (its day still gets a row). A null `date_id` is a
    * day of its own and sorts first, as `Window.orderBy` sorts it. */
  private def dayRows(spark: SparkSession, dir: String): Seq[Row] = {
    val cells = Tables.events(spark, dir)
      .withColumn("date_id", Tables.epochDay(col("ts")))
      .groupBy("date_id", "event_type")
      .agg(avg(col("value")))
      .collect()
    val slot = EventTypes.zipWithIndex.toMap
    val days = mutable.Map.empty[Option[Int], Array[Any]]
    cells.foreach { cell =>
      val day = Option(cell.getAs[Integer](0)).map(_.intValue)
      val means = days.getOrElseUpdate(day, new Array[Any](EventTypes.size))
      slot.get(cell.getString(1)).foreach(i => means(i) = cell.get(2))
    }
    days.toSeq.sortBy(_._1).map { case (day, means) =>
      Row.fromSeq(day.fold[Any](null)(identity) +: means.toSeq)
    }
  }

  // --- fine-grain frame -------------------------------------------------

  /** 30-minute bucket width in ns of the canonical `ts_ns` key. */
  val BucketNs: Long = 30L * 60L * 1000L * 1000L * 1000L

  /** Fine-grain twin of [[daily]]: one row per 30-MINUTE bucket. The
    * harness generator ships a fixed ~30-day events span, which collapses
    * the day-grain frame to ~29 rows at ANY scale factor — a degenerate
    * input for the iterative fits (a 29-row GBT measures scheduler
    * overhead, not the operator). The 30-min grain restores 10³+ rows
    * (~1.4k) at sf0.1 while keeping the frame aggregate-sized (48
    * buckets/day — bounded by the calendar, not the row count, so the
    * single-partition windows below stay safe at 100 TB).
    *
    * Buckets are integer division of the canonical lossless `ts_ns` key —
    * no timezone or calendar arithmetic can shift a row across a bucket
    * edge. */
  def fine(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket_id", expr(s"ts_ns div ${BucketNs}L"))
      .groupBy("bucket_id")
      .pivot("event_type", EventTypes)
      // grid-6 means, not avg(double) (r14): a grouped double avg rides
      // partial sums whose merge order is engine- and run-specific (the
      // Grid.scala doctrine), which made every fine-frame model output
      // only same-host-reproducible and blocked any future DuckDB twin
      // of a fine-frame fit. `value` is 1e-2-grid, so the DECIMAL cast
      // is exact and this is the same mean, deterministically rounded.
      .agg(graft.queries.Grid.mean6(col("value")))

  /** [[fine]] + gap repair + next-bucket target. Sparse SFs leave some
    * (bucket, type) cells empty (sf0.001 averages ~0.7 events per cell);
    * a `na.drop` would then delete nearly the whole frame, so instead
    * each feature column is forward- then back-filled over the bucket
    * order — the reference's own cleaning idiom (`ffill().bfill()`,
    * mirrored from the engine's `impute_ffill_bfill`) — which leaves the
    * frame dense at every SF. Both windows are single-partition passes
    * over the aggregate-sized frame. */
  def buildFine(spark: SparkSession, dir: String): DataFrame = {
    // Deliberately a GLOBAL window: the frame is 48 rows per calendar day
    // at any scale factor, so "all data to a single partition" is a
    // bounded, intended layout, not a scale hazard (OPTIMIZATION_r17.md).
    val w = Window.orderBy("bucket_id")
    val filled = EventTypes.foldLeft(fine(spark, dir)) { (df, c) =>
      df.withColumn(c, coalesce(
        last(col(c), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)),
        first(col(c), ignoreNulls = true)
          .over(w.rowsBetween(0, Window.unboundedFollowing))))
    }
    filled
      .withColumn(Target, lead(col("click"), 1).over(w))
      .na.drop("any")
  }

  /** Assembled fine-grain frame ready for MLlib. */
  def assembledFine(spark: SparkSession, dir: String): DataFrame =
    Models.assemble(buildFine(spark, dir), EventTypes)

  /** Tree depth bound for fits on the fine frame. MLlib trains trees
    * level-synchronously — one scheduled job per level across all trees —
    * so wall cost grows linearly in depth regardless of row count
    * (measured on this frame: depth 30 ≈ 41 s, depth 12 ≈ 9 s for the
    * 100-tree forest). 12 ≥ log₂(1439), so balanced splits still reach
    * single-row leaves; only pathological chain-splits are cut. The
    * sklearn-parity paths (reference CSV golden tests, day-grain serving
    * pipeline) keep the ≈fully-grown depth-30 default. */
  val FineRfMaxDepth: Int = 12
}
