package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

case class L(k: String, lts: Long, lid: Long)
case class R(k: String, rts: Long, v: Double)
case class Pt(g: String, p: Long, pid: Long)
case class Iv(g: String, lo: Long, hi: Long, band: Int)

class JoinsSpec extends SparkSpec {

  test("asof: latest right at-or-before each left, inclusive ties, null when none") {
    val left = df(Seq(
      L("a", 10, 100), L("a", 20, 101), L("a", 5, 102), // 5 precedes all rights
      L("b", 50, 103)))                                 // key with one old right
    val right = df(Seq(
      R("a", 7, 1.0), R("a", 10, 2.0), R("a", 18, 3.0), // tie at 10 is inclusive
      R("b", 8, 9.0), R("c", 1, 7.0)))                  // c: right-only key
    val out = Joins.asof(left, right, Seq("k"), "lts", "rts", Seq("v"))
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(out == Map(
      100L -> Some(2.0), // ts 10: the tied right at 10 wins over 7
      101L -> Some(3.0), // ts 20: latest right is 18
      102L -> None,      // ts 5: no right at or before
      103L -> Some(9.0)))
  }

  test("asof: a matched right row with a null value yields null, not an older value") {
    val s = spark; import s.implicits._
    val left = df(Seq(L("a", 10, 100)))
    val right = Seq(("a", 5L, Some(1.0)), ("a", 8L, Option.empty[Double]))
      .toDF("k", "rts", "v")
    val out = Joins.asof(left, right, Seq("k"), "lts", "rts", Seq("v")).head()
    // the ts=8 row IS the as-of match; its null value must come through
    assert(out.isNullAt(out.fieldIndex("asof_v")))
  }

  test("asofNearest: closer side wins, backward tie rule, equal-ts is a zero match") {
    val left = df(Seq(
      L("a", 10, 100), // backward 7 (d=3) vs forward 18 (d=8) -> backward
      L("a", 17, 101), // backward 7 (d=10) vs forward 18 (d=1) -> forward
      L("a", 7, 102),  // exact hit -> d=0
      L("b", 50, 103), // only backward exists
      L("c", 1, 104))) // no rights at all for key c in this fixture
    val right = df(Seq(
      R("a", 7, 1.0), R("a", 18, 3.0),
      R("b", 8, 9.0)))
    val out = Joins.asofNearest(left, right, Seq("k"), "lts", "rts", Seq("v"))
      .collect().map(r => r.getAs[Long]("lid") ->
        ((Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble),
          Option(r.getAs[java.lang.Long]("asof_dt")).map(_.toLong)))).toMap
    assert(out == Map(
      100L -> ((Some(1.0), Some(3L))),
      101L -> ((Some(3.0), Some(1L))),
      102L -> ((Some(1.0), Some(0L))),
      103L -> ((Some(9.0), Some(42L))),
      104L -> ((None, None))))
    // exact tie in both directions prefers backward (pandas rule)
    val tieL = df(Seq(L("a", 10, 200)))
    val tieR = df(Seq(R("a", 7, 1.0), R("a", 13, 2.0)))
    val tie = Joins.asofNearest(tieL, tieR, Seq("k"), "lts", "rts", Seq("v")).head()
    assert(tie.getAs[Double]("asof_v") == 1.0 && tie.getAs[Long]("asof_dt") == 3L)
  }

  test("asofNearest equals the naive min-|dt| nested-loop formulation") {
    val rnd = new scala.util.Random(11)
    val left = df((1 to 120).map(i =>
      L(s"k${i % 4}", rnd.nextInt(1000).toLong, i.toLong)))
    val right = df((1 to 60).map(i =>
      R(s"k${i % 5}", rnd.nextInt(1000).toLong, i.toDouble)))
    // dedup rights per (k, ts) by max v — the query-layer convention
    val rDedup = right.groupBy("k", "rts").agg(max("v").as("v"))
    val got = Joins.asofNearest(left, rDedup, Seq("k"), "lts", "rts", Seq("v"))
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    val rs = rDedup.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("rts"),
      r.getAs[Double]("v")))
    val ls = left.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("lts"),
      r.getAs[Long]("lid")))
    ls.foreach { case (k, lts, lid) =>
      val cands = rs.filter(_._1 == k)
      val want =
        if (cands.isEmpty) None
        else Some(cands.minBy(c =>
          (math.abs(c._2 - lts), if (c._2 <= lts) 0 else 1, -c._2))._3)
      assert(got(lid) == want, s"lid $lid: got ${got(lid)} want $want")
    }
  }

  test("asof tolerance: stale matches null out, fresh and boundary matches survive") {
    val left = df(Seq(
      L("a", 10, 100),  // match at 7, gap 3 <= 5 -> fresh
      L("a", 20, 101),  // match at 7, gap 13 > 5 -> stale -> null
      L("a", 12, 102))) // match at 7, gap 5 == tolerance -> inclusive
    val right = df(Seq(R("a", 7, 1.0)))
    val out = Joins.asof(left, right, Seq("k"), "lts", "rts", Seq("v"),
        tolerance = Some(5L))
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(out == Map(100L -> Some(1.0), 101L -> None, 102L -> Some(1.0)))
  }

  test("asof result equals the naive non-equi argmax formulation") {
    val left = df((1 to 60).map(i => L(s"k${i % 5}", i.toLong * 3, i.toLong)))
    val right = df((1 to 40).map(j => R(s"k${j % 5}", j.toLong * 4, j.toDouble)))
    val fast = Joins.asof(left, right, Seq("k"), "lts", "rts", Seq("v"))
      .select("lid", "asof_v").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("asof_v"))).toMap
    val l = left; val r = right
    val naive = l.join(r, l("k") === r("k") && r("rts") <= l("lts"), "left")
      .groupBy(l("lid")).agg(max_by(r("v"), r("rts")).as("v"))
      .collect().map(x => x.getLong(0) -> Option(x.getAs[java.lang.Double]("v"))).toMap
    assert(fast == naive)
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    val s = spark; import s.implicits._
    // 90% of rows on one hot key — the distribution salting exists for
    val left = df((1 to 200).map(i =>
      L(if (i % 10 == 0) s"k${i % 3}" else "hot", i.toLong, i.toLong)))
    val dim = Seq(("hot", 1.0), ("k0", 2.0), ("k1", 3.0), ("k2", 4.0))
      .toDF("k", "w")
    val salted = Joins.saltedJoin(left, dim, Seq("k"), "lid", saltFactor = 8)
      .select("lid", "w").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val plain = left.join(dim, "k")
      .select("lid", "w").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(salted.sameElements(plain) && salted.length == 200)
  }

  test("saltedJoin shuffles on (key, salt): the hot key spreads across partitions") {
    val s = spark; import s.implicits._
    val left = df((1 to 100).map(i => L("hot", i.toLong, i.toLong)))
    val dim = Seq(("hot", 1.0)).toDF("k", "w")
    // force the shuffle join (a broadcast would hide the salted topology)
    val plan = Joins.saltedJoin(left.hint("merge"), dim, Seq("k"), "lid", saltFactor = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from the plan:\n$plan")
    assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
      s"salt not part of the shuffle key:\n$plan")
  }

  test("bucketed co-located join: SortMergeJoin with no Exchange on either side") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_spec").toString
    val fact = (1 to 500).map(i => (i.toLong % 50, i.toLong)).toDF("key", "a")
    val dim = (0L until 50L).map(k => (k, s"v$k")).toDF("key", "b")
    Joins.writeBucketed(fact, "key", buckets = 4, "g_spec_fact", s"$dir/fact")
    Joins.writeBucketed(dim, "key", buckets = 4, "g_spec_dim", s"$dir/dim")
    val joined = spark.table("g_spec_fact").hint("merge")
      .join(spark.table("g_spec_dim"), "key")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == 500)
    // one file per bucket: the repartition-by-key write contract
    val files = new java.io.File(s"$dir/fact").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 4, s"expected 4 bucket files, got $files")
  }

  test("rangeJoinBinned equals the naive inequality join, hi exclusive") {
    val pts = df((0 until 50).map(i => Pt(s"g${i % 2}", i.toLong * 7 % 100, i.toLong)))
    val ivs = df(Seq(
      Iv("g0", 0, 30, 0), Iv("g0", 30, 100, 1), Iv("g1", 10, 50, 2),
      Iv("g1", 50, 50, 3))) // empty interval matches nothing
    val fast = Joins.rangeJoinBinned(pts, ivs, Seq("g"), "p", "lo", "hi", binWidth = 25)
      .select("pid", "band").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val p = pts; val i = ivs
    val naive = p.join(i, p("g") === i("g") && p("p") >= i("lo") && p("p") < i("hi"))
      .select(p("pid"), i("band")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(fast == naive && fast.nonEmpty)
    assert(!fast.exists(_._2 == 3)) // the empty interval
  }

  test("bloomPreFilteredJoin equals the plain join and actually prunes map-side") {
    import spark.implicits._
    // 1000 fact rows over 100 keys; the dim keeps 10 of them
    val big = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "row_id")
    val small = (0L until 100L by 10L).map(i => (i, s"d$i")).toDF("dk", "tag")
    val out = Joins.bloomPreFilteredJoin(big, "k", small, "dk",
      expectedItems = 100L, fpp = 0.01)
    val plain = big.join(small, big("k") === small("dk"))
    assert(out.select("row_id").collect().map(_.getLong(0)).toSet ==
      plain.select("row_id").collect().map(_.getLong(0)).toSet)
    // the probe alone (before the exact join) must reject most fact
    // rows: ~100 survivors of 1000 at fpp=0.01 — allow bloom slack
    val bf = small.stat.bloomFilter("dk", 100L, 0.01)
    val survivors = big.collect().count(r => bf.mightContainLong(r.getLong(0)))
    assert(survivors < 200, s"bloom kept $survivors of 1000 fact rows")
  }

  test("fuzzyJoinQgram equals the naive levenshtein join on long-enough strings") {
    import spark.implicits._
    val right = Seq((1L, "alpha widget deluxe"), (2L, "beta gadget prime"),
      (3L, "gamma sprocket lux")).toDF("rid", "rname")
    val left = Seq(
      (10L, "zlpha widget delux"),   // dist 2 from rid 1 (sub + del)
      (11L, "beta gadget prime"),    // dist 0 from rid 2
      (12L, "zzzha widget deluxe"),  // dist 3 from rid 1 — must NOT match
      (13L, "qqqqqqqqqqqqq"))        // shares no gram with anything
      .toDF("lid", "lname")
    val got = Joins.fuzzyJoinQgram(left, "lid", "lname", right, "rid", "rname",
        q = 3, maxDist = 2)
      .select("lid", "rid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((10L, 1L, 2), (11L, 2L, 0)), s"got $got")
    // completeness check against the nested-loop formulation (all names
    // exceed the q-gram guarantee length q*(d+1) + q - 1 = 11)
    val naive = left.crossJoin(right)
      .filter(levenshtein(col("lname"), col("rname")) <= 2)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)) == naive)
  }
}
