package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashImpl
import graft.ml.Evaluation
import graft.operators.{MissingData, Relational}

/** Property-based invariants (SURVEY.md §5.2) over deterministic
  * ScalaCheck samples (no scalatest-scalacheck bridge in the offline
  * cache — generators are sampled with a fixed seed). Pure-kernel
  * properties use many cases; Spark-job properties use few bounded cases
  * (each case is a distributed job). */
class PropertySpec extends AnyFunSuite {

  lazy val spark = SharedSpark.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  private def arr(xs: Seq[Long]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray)

  // ---- pure kernels: many cases ----------------------------------------

  test("strHash is deterministic and within [0, P)") {
    samples(Gen.alphaNumStr, 500).foreach { s =>
      val h = HashImpl.strHash(s)
      assert(h == HashImpl.strHash(s))
      assert(h >= 0 && h < HashImpl.P)
    }
  }

  test("minhash: identical sets agree everywhere, disjoint sets don't") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, HashImpl.P - 1))
    samples(Gen.zip(gen, gen), 200).foreach { case (a, b) =>
      val sa = HashImpl.minhashSig(arr(a.distinct), 16)
      val sb = HashImpl.minhashSig(arr(b.distinct), 16)
      val agree = (0 until 16).count(i => sa.getLong(i) == sb.getLong(i))
      if (a.distinct == b.distinct) assert(agree == 16)
      if (a.distinct.toSet.intersect(b.distinct.toSet).isEmpty && a.distinct.nonEmpty
          && b.distinct.nonEmpty && a.distinct != b.distinct) {
        assert(agree < 16, s"full agreement on disjoint sets $a $b")
      }
    }
  }

  test("simhash of a permuted token multiset is identical") {
    val gen = Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0L, HashImpl.P - 1)), Gen.long)
    samples(gen, 200).foreach { case (hs, seed) =>
      val perm = new scala.util.Random(seed).shuffle(hs)
      assert(HashImpl.simhash64(arr(hs)) == HashImpl.simhash64(arr(perm)))
    }
  }

  test("fingerprint is order-sensitive (differs for some permutation)") {
    val hs = samples(Gen.chooseNum(1L, HashImpl.P - 1), 8)
    assert(HashImpl.fingerprint(arr(hs)) != HashImpl.fingerprint(arr(hs.reverse)))
  }

  test("dot is bilinear on generated vectors") {
    val vec = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0))
    def gad(xs: Seq[Double]) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray)
    samples(Gen.zip(vec, vec), 200).foreach { case (a, b) =>
      val d = HashImpl.dot(gad(a), gad(b))
      assert(math.abs(d - a.zip(b).map { case (x, y) => x * y }.sum) < 1e-9)
      val scaled = HashImpl.dot(gad(a.map(_ * 2)), gad(b))
      assert(math.abs(scaled - 2 * d) < 1e-9)
    }
  }

  // ---- Spark-job properties: few bounded cases -------------------------

  test("metricsFull identities on generated prediction frames") {
    val s = spark; import s.implicits._
    samples(Gen.listOfN(12, Gen.chooseNum(-50, 50).map(_.toDouble)), 5)
      .filter(ys => ys.distinct.size > 1)
      .foreach { ys =>
        val perfect = ys.map(y => (y, y)).toDF("y", "yhat")
        val r = Evaluation.metricsFull(perfect, "y", "yhat").head()
        assert(math.abs(r.getAs[Double]("mae")) < 1e-12)
        assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
        val mean = ys.sum / ys.size
        val base = ys.map(y => (y, mean)).toDF("y", "yhat")
        val r0 = Evaluation.metricsFull(base, "y", "yhat").head()
        assert(math.abs(r0.getAs[Double]("r2")) < 1e-9)
      }
  }

  test("ffillBfill leaves no nulls when a partition has any value; all-null stays null") {
    val s = spark; import s.implicits._
    samples(Gen.listOfN(10, Gen.option(Gen.chooseNum(-5.0, 5.0))), 5).foreach { vs =>
      val d = vs.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
        .toDF("id", "grp", "x")
      val out = MissingData.ffillBfill(d, Seq(col("grp")), Seq(col("id")), Seq("x"))
      val nulls = MissingData.totalNullCount(out, Seq("x")).head().getLong(0)
      if (vs.exists(_.isDefined)) assert(nulls == 0)
      else assert(nulls == vs.size.toLong)
    }
  }

  test("dedupByKey emits exactly one row per distinct key, min tiebreak") {
    val s = spark; import s.implicits._
    samples(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 100))), 5)
      .foreach { rows =>
        val d = rows.map { case (k, v) => (s"k$k", v.toLong) }.toDF("k", "v")
        val out = Relational.dedupByKey(d, Seq("k"), Seq(col("v")))
        assert(out.count() == rows.map(_._1).distinct.size.toLong)
        val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        rows.groupBy(_._1).foreach { case (k, g) =>
          assert(got(s"k$k") == g.map(_._2).min.toLong)
        }
      }
  }

  test("asof preserves the left row set exactly (one output row per left row)") {
    val s = spark; import s.implicits._
    samples(Gen.zip(Gen.chooseNum(5, 40), Gen.chooseNum(0, 30)), 3).foreach {
      case (nl, nr) =>
        val left = (1 to nl).map(i => (s"k${i % 3}", i.toLong * 2, i.toLong))
          .toDF("k", "lts", "lid")
        val right = (1 to math.max(nr, 1)).map(j => (s"k${j % 4}", j.toLong * 3, j.toDouble))
          .toDF("k", "rts", "v")
        val out = graft.operators.Joins.asof(left, right, Seq("k"), "lts", "rts", Seq("v"))
        assert(out.count() == nl.toLong)
        assert(out.select("lid").distinct().count() == nl.toLong)
    }
  }

  test("connectedComponents is invariant under edge order and direction") {
    val s = spark; import s.implicits._
    val edges = samples(Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)), 20)
      .filter { case (a, b) => a != b }
    def comps(es: Seq[(Long, Long)]): Map[Long, Long] =
      graft.plans.StepChain.scoped(spark)(
        graft.operators.Dedup.connectedComponents(_, es.toDF("a", "b"), "a", "b").collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = comps(edges)
    assert(base == comps(edges.reverse.map { case (a, b) => (b, a) }))
  }

  test("interpolateLinear is the identity on a complete series") {
    val s = spark; import s.implicits._
    val d = (1 to 30).map(i => (i.toLong, math.sin(i.toDouble))).toDF("id", "v")
    val out = MissingData.interpolateLinear(d, Nil, Seq(col("id")), "v", "vi")
      .filter(col("v") =!= col("vi")).count()
    assert(out == 0L)
  }

  test("hash-based stratifiedSample hits its rate within 5% absolute") {
    val s = spark; import s.implicits._
    val d = (1L to 4000L).map(i => (i, "en")).toDF("id", "lang")
    val kept = Relational.stratifiedSample(d, col("lang"), Map("en" -> 300),
      pmod(xxhash64(col("id")), lit(1000))).count()
    val rate = kept.toDouble / 4000.0
    assert(math.abs(rate - 0.3) < 0.05, s"rate $rate")
  }
}
