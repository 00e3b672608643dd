package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.Using

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{Ensemble, ModelingFrame, Models}
import graft.pipelines.Reference

/** `Reference.servingSignal` as a request: the memo holds the fit and the
  * latest feature row per data dir content, so a repeat request runs no
  * Spark job, and a dir whose files change is refitted. Every case works
  * on its own temp-dir copy of the sf0.001 tables (testdata is read-only),
  * so no case sees another's memo entry. */
class ServingSpec extends SparkSpec {

  private val Source = Paths.get("/root/testdata/sf0.001")

  /** Runs `f` on a fresh copy of the sf0.001 tables, deleted afterwards. */
  private def withCopy(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-serving")
    try {
      Using.resource(Files.list(Source))(
        _.forEach(t => { Files.copy(t, dir.resolve(t.getFileName)); () }))
      f(dir.toString)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Using.resource(Files.list(p))(_.forEach(deleteTree))
    Files.delete(p)
  }

  /** Rewrites `dir`'s events file as `f` of its raw (at-rest) rows. */
  private def rewriteEvents(dir: String)(f: DataFrame => DataFrame): Unit = {
    val target = Paths.get(dir, "events.parquet")
    val staging = Files.createTempDirectory("graft-serving-events")
    val staged = staging.resolve("events.parquet")
    f(spark.read.parquet(target.toString)).coalesce(1).write.parquet(staged.toString)
    deleteTree(target)
    Files.move(staged, target)
    Files.delete(staging)
  }

  /** The latest feature row of `dir`'s day-grain frame, looked up on Spark. */
  private def latestRow(dir: String): (Int, Array[Double]) = {
    val r = ModelingFrame.assembled(spark, dir).orderBy(desc("date_id")).limit(1)
      .select(col("date_id"), col(Models.FeaturesCol)).head()
    (r.getInt(0), r.getAs[Vector](1).toArray)
  }

  private def weighted(f: Ensemble.Fitted, x: Array[Double]): Double =
    f.members.map(m => m.weight * m.scorer.predictLocal(x).get).sum

  /** A fit on a fresh memo key: no entry of any request is reused. */
  private def freshFit(dir: String): Ensemble.Fitted =
    Ensemble.fittedCached(new Object, dir, ModelingFrame.Target,
      ModelingFrame.assembled(spark, dir))

  private def prediction(dir: String): Double =
    Reference.servingSignal(spark, dir).collect().head.getDouble(1)

  test("a repeat request on an unchanged dir runs no Spark job and returns the first row") {
    withCopy { dir =>
      val (first, missJobs) = jobsDuring(Reference.servingSignal(spark, dir).collect())
      assert(first.length == 1)
      // the frame's one aggregate; the fit and the latest row are driver-side
      assert(missJobs == 2, s"a re-fit ran $missJobs Spark jobs")
      val (repeat, hitJobs) = jobsDuring(Reference.servingSignal(spark, dir).collect())
      assert(hitJobs == 0, s"a memo hit ran $hitJobs Spark jobs")
      assert(repeat.toSeq == first.toSeq)
    }
  }

  test("the prediction is the weighted sum of predictLocal on the latest frame row") {
    withCopy { dir =>
      val p = prediction(dir)
      val expected = weighted(freshFit(dir), latestRow(dir)._2)
      assert(approx(p, expected, 1e-9), s"$p != $expected")
      // the request's entry is the one fittedCached serves for this dir
      var misses = 0
      Ensemble.fittedCached(spark, dir, ModelingFrame.Target,
        { misses += 1; ModelingFrame.assembled(spark, dir) })
      assert(misses == 0)
    }
  }

  test("past the driver-fit limit the MLlib members still score the memoized row") {
    withCopy { dir =>
      val key = "graft.ml.rfDriverFitLimit"
      val prev = sys.props.get(key)
      sys.props(key) = "5" // the sf0.001 day-grain frame has 29 rows
      try {
        val rows = Reference.servingSignal(spark, dir).collect()
        assert(rows.length == 1)
        assert(!rows.head.getDouble(1).isNaN && !rows.head.getDouble(1).isInfinite)
        val f = Ensemble.fittedCached(spark, dir, ModelingFrame.Target,
          fail("the request left no memo entry"))
        assert(f.members.forall(_.scorer.isInstanceOf[Ensemble.MlScorer]))
        assert(Reference.servingSignal(spark, dir).collect().toSeq == rows.toSeq)
      } finally prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props -= key
      }
    }
  }

  test("a dir whose events gained a day is refitted, not served the stale fit") {
    withCopy { dir =>
      prediction(dir)
      val stale = Ensemble.fittedCached(spark, dir, ModelingFrame.Target,
        fail("the request left no memo entry"))
      val (oldDay, _) = latestRow(dir)
      // one more day: a copy of the last day's events, a day later
      rewriteEvents(dir) { ev =>
        val lastDay = ev.agg(max(to_date(col("ts")))).head().getDate(0)
        val maxId = ev.agg(max("event_id")).head().getLong(0)
        ev.unionByName(ev.filter(to_date(col("ts")) === lit(lastDay))
          .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))
          .withColumn("event_id", col("event_id") + maxId))
      }
      val (newDay, x) = latestRow(dir)
      assert(newDay > oldDay)

      val p = prediction(dir)
      val expected = weighted(freshFit(dir), x)
      assert(approx(p, expected, 1e-9), s"$p != $expected (stale fit served?)")
      var misses = 0
      val refitted = Ensemble.fittedCached(spark, dir, ModelingFrame.Target,
        { misses += 1; ModelingFrame.assembled(spark, dir) })
      assert(misses == 0)
      assert(refitted ne stale)
    }
  }

  test("a one-day events file is an IllegalArgumentException naming the dir") {
    withCopy { dir =>
      // one day leaves no next-day target, so the frame has no row
      rewriteEvents(dir) { ev =>
        val firstDay = ev.agg(min(to_date(col("ts")))).head().getDate(0)
        ev.filter(to_date(col("ts")) === lit(firstDay))
      }
      assert(ModelingFrame.assembled(spark, dir).isEmpty)
      val e = intercept[IllegalArgumentException](Reference.servingSignal(spark, dir))
      assert(e.getMessage.contains(dir))
    }
  }
}
