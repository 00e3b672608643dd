package graft

import org.apache.spark.sql.functions._

import graft.plans.StepChain
import graft.plans.StepChain.Step

/** The two renderings of [[StepChain]]: the oracle text's shape, and the
  * Spark run's view/block hygiene on success and on failure — for a step
  * chain and for an iterative loop held by one scope. */
class StepChainSpec extends SparkSpec {

  // ids, not a count: the registry holds its RDDs weakly, so an
  // unreferenced RDD an earlier suite left persisted may vanish mid-test
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("oracleSql renders the steps in order as MATERIALIZED CTEs, then the tail") {
    val chain = StepChain(Seq(
        Step("a", _ => "SELECT 1 AS x"),
        Step("b", r => s"SELECT x + 1 AS x FROM ${r("a")}")),
      r => s"SELECT x FROM ${r("b")} ORDER BY x")
    assert(chain.oracleSql ==
      """WITH a AS MATERIALIZED (
        |SELECT 1 AS x),
        |b AS MATERIALIZED (
        |SELECT x + 1 AS x FROM a)
        |SELECT x FROM b ORDER BY x""".stripMargin)
  }

  test("run returns the tail's rows and leaves no tagged view or persisted block") {
    val before = persisted
    var seen: Seq[String] = Nil
    var heldMidRun = Set.empty[Int]
    val chain = StepChain(Seq(
        Step("a", _ => "SELECT id AS x FROM range(5)"),
        Step("b", r => {
          seen :+= r("a"); heldMidRun = persisted -- before
          s"SELECT x * 2 AS x FROM ${r("a")}"
        })),
      r => { seen :+= r("b"); s"SELECT sum(x) AS s FROM ${r("b")}" })
    val out = chain.run(spark).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(20L))
    assert(heldMidRun.size == 1, "step a must be checkpointed while b plans")
    assert(seen.nonEmpty && seen.forall(_ != "a"), s"Spark refs carry a tag: $seen")
    seen.foreach(v => assert(!spark.catalog.tableExists(v), s"view $v left behind"))
    assert((persisted -- before).isEmpty, "every checkpoint must be released")
  }

  test("a middle step that fails at run time still releases the earlier steps") {
    val before = persisted
    var seen: Seq[String] = Nil
    val chain = StepChain(Seq(
        Step("a", _ => "SELECT id AS x FROM range(5)"),
        // fails inside the checkpoint job, after its RDD is persisted
        Step("b", r => { seen :+= r("a"); s"SELECT assert_true(x < 0) AS t FROM ${r("a")}" }),
        Step("c", r => { seen :+= r("b"); s"SELECT * FROM ${r("b")}" })),
      r => s"SELECT * FROM ${r("c")}")
    intercept[Exception](chain.run(spark).collect())
    assert(seen.length == 1, "the chain must stop at the failing step")
    (seen :+ seen.head.stripSuffix("_a") + "_b").foreach(v =>
      assert(!spark.catalog.tableExists(v), s"view $v left behind"))
    assert((persisted -- before).isEmpty, "a failed run must release every checkpoint")
  }

  test("a scoped loop keeps only the checkpoints its returned frame reads") {
    val before = persisted
    val out = StepChain.scoped(spark) { sc =>
      val edges = sc.cache(spark.range(20).toDF("x"))
      var cur = sc.checkpoint(edges.select((col("x") + 1).as("x")))
      for (_ <- 1 to 3) {
        val next = sc.checkpoint(cur.select((col("x") * 2).as("x")))
        sc.release(cur)
        cur = next
      }
      // an unread checkpoint, held until the scope exits
      sc.checkpoint(edges.select(col("x")))
      cur.agg(sum("x"))
    }
    val left = persisted -- before
    assert(left.size == 1, s"only the last round stays: $left")
    assert(out.head().getLong(0) == (1L to 20L).sum * 8)
  }

  test("a scoped loop whose round fails inside its checkpoint job releases every block") {
    val before = persisted
    var rounds = 0
    intercept[Exception] {
      StepChain.scoped(spark) { sc =>
        val edges = sc.cache(spark.range(20).toDF("x"))
        var cur = sc.checkpoint(edges.select(col("x")))
        for (r <- 1 to 3) {
          rounds = r
          // round 3 fails inside the checkpoint job, after its RDD is persisted
          val next = sc.checkpoint(cur.select(
            (if (r == 3) assert_true(col("x") < 0).cast("long") else col("x") + 1).as("x")))
          sc.release(cur)
          cur = next
        }
        cur
      }
    }
    assert(rounds == 3)
    assert((persisted -- before).isEmpty, "a failed loop must release every block")
  }

  test("gbt stumps: no split candidate (one distinct x) returns only iteration 0") {
    import spark.implicits._
    val rows = (0 until 50).flatMap { b =>
      Seq(("click", b.toLong * 1800000000000L, 42.0),
        ("purchase", b.toLong * 1800000000000L, 5.0 + b % 3))
    }
    rows.toDF("event_type", "ts_ns", "value")
      .createOrReplaceTempView("stepchain_gbt_flat")
    try {
      val before = persisted
      val out = graft.queries.R10.gbtStumpsChain(
          "stepchain_gbt_flat", graft.queries.Dialect.Spark).run(spark)
        .collect()
      assert(out.length == 1, s"expected only iteration 0, got ${out.toSeq}")
      assert(out.head.getAs[Int]("iter") == 0)
      assert(out.head.getAs[Double]("threshold") == 0.0)
      assert(out.head.getAs[Double]("left_val") == out.head.getAs[Double]("right_val"))
      assert((persisted -- before).isEmpty)
    } finally { spark.catalog.dropTempView("stepchain_gbt_flat"); () }
  }
}
