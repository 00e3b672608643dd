package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.StepChain

case class Doc(doc_id: Long, text: String, lang: String, source: String)

class DedupSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today " +
    "while the sun sets slowly behind the old green hills near the quiet river bend"
  private val nearDup = base.replace("today", "tonight") // 1 token differs
  private val other = "completely different content with none of those words present here at all now"

  private def fixture = df(Seq(
    Doc(1, base, "en", "s1"), Doc(2, base, "en", "s1"),
    Doc(3, nearDup, "en", "s1"), Doc(4, other, "en", "s1")))

  test("exactByContent keeps min id and counts copies") {
    val out = Dedup.exactByContent(fixture, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngramJaccardPairs finds token-overlapping pairs inside blocks") {
    val toked = fixture.withColumn("toks", split(col("text"), " "))
    val out = Dedup.ngramJaccardPairs(toked, "doc_id", "toks",
        Seq("lang", "source"), threshold = 0.8)
      .orderBy("id_a", "id_b").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(approx(out.head.getAs[Double]("jaccard"), 1.0)) // exact dup pair
  }

  test("ngramJaccard prefix filter: complete vs brute force, candidates << block^2 on a hot block") {
    // One hot block of 60 mostly-dissimilar docs: each doc has 16 unique
    // rare tokens plus 4 corpus-wide stopwords (which would make naive
    // single-token blocking quadratic too). Planted near-dups: (i, i+100)
    // differ in one token out of 20.
    val stop = "the of and a"
    val docs = (0 until 60).map { i =>
      val rare = (0 until 16).map(j => s"w${i}x$j").mkString(" ")
      Doc(i.toLong, s"$stop $rare", "en", "s1")
    } ++ Seq(101L, 107L, 113L).map { id =>
      val i = id - 100
      val rare = (0 until 15).map(j => s"w${i}x$j").mkString(" ")
      Doc(id, s"$stop $rare zz$id", "en", "s1")
    }
    val toked = df(docs).withColumn("toks", split(col("text"), " "))
    val t = 0.8
    // brute-force reference on the driver (63 docs)
    val sets = docs.map(d => d.doc_id -> d.text.split(" ").toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= t
    } yield (a, b)).toSet
    assert(expected == Set((1L, 101L), (7L, 107L), (13L, 113L)))
    val out = Dedup.ngramJaccardPairs(toked, "doc_id", "toks",
      Seq("lang", "source"), threshold = t)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    // the scale claim: candidate pairs are the near-dups plus rare-gram
    // noise, nowhere near the 63*62/2 = 1953 all-pairs of the hot block
    val nCand = Dedup.ngramJaccardCandidates(toked, "doc_id", "toks",
      Seq("lang", "source"), threshold = t).count()
    assert(nCand >= expected.size && nCand <= 50,
      s"prefix filtering should bound candidates (got $nCand of 1953 block pairs)")
  }

  test("minhashLshPairs: exact dup always collides; disjoint text never does") {
    val out = Dedup.minhashLshPairs(fixture, "doc_id", "text",
        numHashes = 16, numBands = 4, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L))) // identical -> identical signature
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // identical docs: jaccard exactly 1
    assert(approx(out.head.getAs[Double]("jaccard"), 1.0))
  }

  test("incrementalLshDedup: exact copy matches the corpus, clean docs admit, one row each") {
    // docs 2 and 3 form the "new batch"; 1 and 4 are the corpus. Doc 2 is
    // an exact copy of corpus doc 1 — an exact dup ALWAYS collides
    // (identical signature in every band). Doc 3's near-dup match is
    // recall-probabilistic by LSH design (this fixture's hashes happen to
    // miss — the measured-vs-theoretical gap `dedup_lsh_recall_audit`
    // exists to quantify), so the assertion is one row per new doc and
    // never a match AGAINST a fellow new doc, not guaranteed recall.
    val out = Dedup.incrementalLshDedup(fixture, "doc_id", "text",
        newFlag = col("doc_id").isin(2L, 3L),
        numHashes = 16, numBands = 4, threshold = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L),
      "exactly one row per new-batch doc")
    val byId = out.map(r => r.getLong(0) ->
      (r.getBoolean(1), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(byId(2L) == ((true, Some(1L))), "exact copy must match corpus doc 1")
    assert(approx(out.head.getAs[Double]("jaccard"), 1.0))
    // no new doc may ever be matched against the other NEW doc
    assert(!byId.values.exists(_._2.exists(Set(2L, 3L))),
      "matches must come from the corpus side only")
    // a clean new doc admits without a match
    val clean = Dedup.incrementalLshDedup(fixture, "doc_id", "text",
        newFlag = col("doc_id") === 4L,
        numHashes = 16, numBands = 4, threshold = 0.5).collect()
    assert(clean.length == 1 && !clean.head.getBoolean(1))
  }

  test("simhash: identical text -> identical signature; near-dup -> small hamming") {
    val sigs = Dedup.simhashSignatures(fixture, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(sigs(0) == sigs(1))
    val hammingNear = java.lang.Long.bitCount(sigs(0) ^ sigs(2))
    val hammingFar = java.lang.Long.bitCount(sigs(0) ^ sigs(3))
    assert(hammingNear < hammingFar)
    assert(hammingNear <= 6)
  }

  test("simhashClusters: exact dups share a cluster with min-id representative") {
    val sigs = Dedup.simhashSignatures(fixture, "doc_id", "text")
    val out = Dedup.simhashClusters(sigs, "doc_id").collect()
    assert(out.exists(r => r.getAs[Long]("n_docs") == 2L && r.getAs[Long]("rep_id") == 1L))
  }

  test("simhashPairs links near-dup clusters by signature hamming") {
    val sigs = Dedup.simhashSignatures(fixture, "doc_id", "text")
    val out = Dedup.simhashPairs(sigs, "doc_id", maxHamming = 6).collect()
    // the base cluster {1,2} and the near-dup {3} should pair up
    assert(out.exists(r =>
      Set(r.getAs[Long]("min_id_a"), r.getAs[Long]("min_id_b")) == Set(1L, 3L) &&
        r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 3L))
  }

  test("connectedComponents on an empty pair list returns empty (no NPE)") {
    val empty = df(Seq.empty[(Long, Long)]).toDF("id_a", "id_b")
    assert(StepChain.scoped(spark)(
      Dedup.connectedComponents(_, empty, "id_a", "id_b").count()) == 0L)
  }

  test("connectedComponents resolves chains and stars to min-id groups") {
    // a 6-node path (diameter 5 — forces several propagation rounds),
    // a star, and an isolated pair
    val pairs = df(Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // path
      (20L, 21L), (20L, 22L), (20L, 23L),                          // star
      (30L, 31L)))                                                 // pair
      .toDF("id_a", "id_b")
    val out = StepChain.scoped(spark)(Dedup.connectedComponents(_, pairs, "id_a", "id_b")
      .collect()).map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert((10L to 15L).forall(out(_) == 10L), s"path: $out")
    assert((20L to 23L).forall(out(_) == 20L))
    assert(out(30L) == 30L && out(31L) == 30L)
    assert(out.size == 12)
  }

  test("substringCoverage: overlapping dup spans merge, clean docs score zero") {
    // 4-gram sets: d1 {abcd, bcde, cdef}, d2 {xyab, yabc, abcd, bcdz},
    // d5 {abcd, bcde, cdef, defm}, d3 disjoint. Duplicated (>=2 docs):
    // abcd, bcde, cdef.
    val docs = df(Seq(
      Doc(1, "a b c d e f", "en", "s1"),
      Doc(2, "x y a b c d z", "en", "s1"),
      Doc(3, "p q r s t", "en", "s1"),
      Doc(5, "a b c d e f m", "en", "s1")))
      .withColumn("toks", split(col("text"), " "))
    val out = Dedup.substringCoverage(docs, "doc_id", "toks", 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_grams"), r.getAs[Long]("covered"),
          r.getAs[Double]("dup_frac")))).toMap
    // d1: spans 1-4, 2-5, 3-6 union to ALL 6 positions (distinct count,
    // not 3×4 — the overlap test)
    assert(out(1L) == ((3L, 6L, 1.0)), s"d1: ${out(1L)}")
    assert(out(2L) == ((1L, 4L, 0.571429)), s"d2: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0.0)), s"d3: ${out(3L)}")
    assert(out(5L) == ((3L, 6L, 0.857143)), s"d5: ${out(5L)}")
  }

  test("substringCoverage clamps docs shorter than n to one full-cover gram") {
    val docs = df(Seq(Doc(1, "hi yo", "en", "s1"), Doc(2, "hi yo", "en", "s1")))
      .withColumn("toks", split(col("text"), " "))
    val out = Dedup.substringCoverage(docs, "doc_id", "toks", 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("covered"), r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) == ((2L, 1.0)) && out(2L) == ((2L, 1.0)), s"got $out")
  }

  test("lsh recall audit: found within truth, recall bounded, theory column sane") {
    val rows = SparkEntry.queries("dedup_lsh_recall_audit")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "the synthetic corpus plants near-dup pairs")
    rows.foreach { r =>
      val (nt, nf) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_found"))
      assert(nf <= nt, "the banded pipeline verifies, so found is a subset of truth")
      val rec = r.getAs[Double]("recall")
      val exp = r.getAs[Double]("expected_recall")
      assert(rec >= 0 && rec <= 1 && exp > 0 && exp <= 1)
      assert(r.getAs[Long]("decile") >= 5, "truth pairs all have jaccard >= 0.5")
    }
    // the planted near-dups are extreme-overlap pairs: banding theory
    // predicts near-certain recall there, and the measured value agrees
    val top = rows.maxBy(_.getAs[Long]("decile"))
    assert(top.getAs[Double]("expected_recall") > 0.9)
    assert(top.getAs[Double]("recall") >= top.getAs[Double]("expected_recall") - 0.25)
  }

  test("threshold sweep: monotone in tau, conservation, constant candidates") {
    val out = SparkEntry.queries("dedup_threshold_sweep")(
      spark, "/root/testdata/sf0.001").collect().sortBy(_.getAs[Double]("threshold"))
    assert(out.length == 5)
    val cand = out.map(_.getAs[Long]("n_cand_pairs")).distinct
    assert(cand.length == 1, "candidate frame must not depend on tau")
    val dups = out.map(_.getAs[Long]("n_dup_pairs"))
    val rem = out.map(_.getAs[Long]("n_docs_removed"))
    dups.sliding(2).foreach { case Array(a, b) => assert(b <= a, s"${dups.toSeq}") }
    rem.sliding(2).foreach { case Array(a, b) => assert(b <= a, s"${rem.toSeq}") }
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_pairs") <= r.getAs[Long]("n_cand_pairs"))
      assert(r.getAs[Long]("n_docs_removed") <= r.getAs[Long]("n_dup_pairs") ||
        r.getAs[Long]("n_dup_pairs") == 0)
      assert(r.getAs[Long]("n_docs_kept") + r.getAs[Long]("n_docs_removed") == 500L)
    }
    // the sweep must discriminate on this corpus, not plateau
    assert(rem.head > rem.last, s"sweep is flat: ${rem.toSeq}")
  }
}
