package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ml.ModelingFrame
import graft.ml.ModelingFrame.{EventTypes, Target}
import graft.pipelines.Reference

/** `ModelingFrame.daily` and `build` aggregate the (day, event type) cells
  * on Spark and finish the frame on the driver. They must equal, in schema
  * and in every double's bits, the all-Spark plan they replace — the
  * `pivot` → global `lead` window → `na.drop` plan kept below as the
  * reference — on the harness data and on planted edge cases. Planted
  * events are written to temp dirs, deleted afterwards; testdata is
  * read-only. */
class ModelingFrameSpec extends SparkSpec {

  private val ScaleFactors = Seq("sf0.001", "sf0.01", "sf0.1")

  private def referenceDaily(dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("date_id", Tables.epochDay(col("ts")))
      .groupBy("date_id")
      .pivot("event_type", EventTypes)
      .agg(avg(col("value")))

  private def referenceBuild(dir: String): DataFrame =
    referenceDaily(dir)
      .withColumn(Target, lead(col("click"), 1).over(Window.orderBy("date_id")))
      .na.drop("any")

  /** Rows as values, each double as its raw bits. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  /** `daily` in `date_id` order (nulls first) and `build` in its window
    * order, both bit-equal to the reference; returns the two frames' rows. */
  private def assertMatchesReference(dir: String): (Seq[Row], Seq[Row]) = {
    val daily = ModelingFrame.daily(spark, dir)
    val refDaily = referenceDaily(dir)
    assert(daily.schema == refDaily.schema)
    val dailyRows = daily.collect().toSeq
    assert(bits(dailyRows) ==
      bits(refDaily.orderBy(col("date_id").asc_nulls_first).collect().toSeq))

    val built = ModelingFrame.build(spark, dir)
    val refBuilt = referenceBuild(dir)
    assert(built.schema == refBuilt.schema)
    val builtRows = built.collect().toSeq
    assert(bits(builtRows) == bits(refBuilt.collect().toSeq))
    (dailyRows, builtRows)
  }

  for (sf <- ScaleFactors)
    test(s"daily and build equal the Spark pivot/lead/drop plan bit for bit at $sf") {
      val (daily, built) = assertMatchesReference(s"/root/testdata/$sf")
      assert(daily.nonEmpty && built.nonEmpty)
    }

  // --- planted events ---------------------------------------------------

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val Day0 = 20000 // days since the epoch

  private def at(day: Int, hour: Int): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + hour * 3600L))

  /** An event's (day, type, value); a None day is a null `ts`. */
  private type Event = (Option[Int], String, java.lang.Double)

  private def event(day: Option[Int], kind: String, value: java.lang.Double): Event =
    (day, kind, value)

  /** One event row per [[Event]]. */
  private def events(cells: Seq[Event]): Seq[Row] =
    cells.zipWithIndex.map { case ((day, kind, value), i) =>
      Row(i.toLong, day.map(at(_, i % 24)).orNull, 7L, kind, value, "{}")
    }

  /** Every known type on `day`, with values that make uneven means. */
  private def fullDay(day: Int): Seq[Event] =
    EventTypes.zipWithIndex.flatMap { case (kind, k) =>
      Seq(0.1 * (day - Day0 + 1) + k, 0.3 + k / 7.0, 1.0 / (day - Day0 + 3))
        .map(v => event(Some(day), kind, v))
    }

  private def withEvents(rows: Seq[Row])(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-modeling-frame")
    try {
      spark.createDataFrame(rows.asJava, EventsSchema).coalesce(1)
        .write.parquet(dir.resolve("events.parquet").toString)
      f(dir.toString)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Using.resource(Files.list(p))(_.forEach(deleteTree))
    Files.delete(p)
  }

  private def dayOf(rows: Seq[Row], day: Int): Row =
    rows.find(r => !r.isNullAt(0) && r.getInt(0) == day).get

  private def column(name: String): Int = 1 + EventTypes.indexOf(name)

  test("planted gaps, null values, unknown types and null days match the reference") {
    val planted =
      fullDay(Day0) ++
        // day 1 lacks `error`
        fullDay(Day0 + 1).filterNot(_._2 == "error") ++
        // day 2 adds events of a type outside EventTypes and of a null type
        fullDay(Day0 + 2) ++
        Seq(event(Some(Day0 + 2), "refund", 5.0), event(Some(Day0 + 2), null, 6.0)) ++
        // day 3's `purchase` cell has only null values
        fullDay(Day0 + 3).map(e => if (e._2 == "purchase") e.copy(_3 = null) else e) ++
        // day 4 has only an unknown type, so day 3's next-day click is null
        Seq(event(Some(Day0 + 4), "refund", 1.5)) ++
        fullDay(Day0 + 5) ++ fullDay(Day0 + 6) ++
        // null-ts events: a null date_id day, which sorts first
        Seq(event(None, "click", 9.0), event(None, "view", 2.0))
    withEvents(events(planted)) { dir =>
      val (daily, built) = assertMatchesReference(dir)
      assert(daily.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))) ==
        None +: (0 to 6).map(d => Some(Day0 + d)))
      assert(dayOf(daily, Day0 + 1).isNullAt(column("error")))
      assert(dayOf(daily, Day0 + 3).isNullAt(column("purchase")))
      assert((1 to EventTypes.size).forall(dayOf(daily, Day0 + 4).isNullAt))
      // days 0, 2 and 5 keep their rows; the last day (6) has no next day
      assert(built.map(_.getInt(0)) == Seq(Day0, Day0 + 2, Day0 + 5))
      assert(built.last.getDouble(1 + EventTypes.size) ==
        dayOf(daily, Day0 + 6).getDouble(column("click")))
    }
  }

  test("a one-day events file builds an empty frame and serving_signal rejects it") {
    withEvents(events(fullDay(Day0))) { dir =>
      val (daily, built) = assertMatchesReference(dir)
      assert(daily.size == 1 && built.isEmpty)
      val e = intercept[IllegalArgumentException](Reference.servingSignal(spark, dir))
      assert(e.getMessage.contains(dir))
    }
  }

  test("collecting the assembled frame runs 2 Spark jobs") {
    val dir = "/root/testdata/sf0.01"
    val (rows, jobs) = jobsDuring(ModelingFrame.assembled(spark, dir).collect())
    assert(rows.nonEmpty)
    assert(jobs == 2, s"building and collecting the frame ran $jobs Spark jobs")
  }
}
