package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Document deduplication operators for the training-data pipeline.
  * No reference analog (the reference's only dedup is row-level
  * `duplicated()`/`drop_duplicates`, SURVEY.md §2.4); these are the
  * corpus-scale versions a 100 TB text pipeline needs.
  *
  * Scale design notes:
  *  - exact dedup is one hash-shuffle on the content key (map-side
  *    partial aggregation applies);
  *  - MinHash-LSH replaces the O(n²) all-pairs comparison with
  *    an explode-by-band + equi-join on (band, signature-slice) — the
  *    classic shingle→minhash→band→bucket-join pipeline. Bucket joins are
  *    plain shuffles on the band key, so skewed buckets hit AQE's
  *    skew-join split;
  *  - n-gram Jaccard generates candidates by PREFIX FILTERING (the
  *    SSJoin/PPJoin principle): only docs sharing one of their
  *    ⌊(1−t)·|A|⌋+1 globally rarest tokens can reach the verifier, so
  *    a hot equality block (`lang='en'` at corpus scale) never goes
  *    quadratic the way all-pairs-within-blocks (Σ block²) does.
  */
object Dedup {

  import org.apache.spark.sql.expressions.Window

  /** Signature computation is CPU-heavy per row (interpreted higher-order
    * lambdas) while the corpus often arrives in few partitions (small/
    * compacted files). Fan out to the session's full parallelism before
    * computing — a narrow-input shuffle that buys linear speedup; at
    * cluster scale the same holds (signatures want cores, not locality). */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** `dedup_exact`: exact content dedup — keep the smallest id per
    * distinct key column. One shuffle; at 100 TB hash the content first
    * (`xxhash64(text)`) so the shuffle key is 8 bytes, not the document. */
  def exactByContent(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.withColumn("__ck", xxhash64(col(contentCol)))
      .groupBy("__ck")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__ck")

  /** Distinct-token view shared by candidate generation and verification:
    * (id, blockCols…, __dtoks, __sz). */
  private def distinctToks(df: DataFrame, idCol: String, toksCol: String,
                           blockCols: Seq[String]): DataFrame =
    df.select(Seq(col(idCol), array_distinct(col(toksCol)).as("__dtoks"))
        ++ blockCols.map(col): _*)
      .withColumn("__sz", size(col("__dtoks")))

  /** Candidate (id_a, id_b) pairs for [[ngramJaccardPairs]], by PREFIX
    * FILTERING (SSJoin / PPJoin Lemma 1): under any global total order on
    * tokens, two sets with `J(A,B) ≥ t` must share a token within their
    * first `⌊(1−t)·|X|⌋ + 1` elements — because `J ≥ t` forces an overlap
    * of at least `⌈t·|X|⌉` on each side, and a set whose whole prefix
    * misses the overlap has at most `|X| − pfx < ⌈t·|X|⌉` slots left for
    * it. Ordering by ASCENDING corpus document frequency makes the kept
    * prefix the RAREST tokens, so candidate fan-in per join key is the
    * rare token's df, not the block size: a hot block (`lang='en'` over
    * half a 100 TB corpus) costs Σ df_rare², not |block|².
    *
    * The equi-join key is (token, blockCols…); a PPJoin length filter
    * (`t·|A| ≤ |B| ≤ |A|/t`, necessary since `J ≤ min/max`) prunes
    * size-incompatible collisions before the verifier. Shape at scale:
    * token df is a wordcount (map-side combine), the prefix rank is a
    * window over ≤|doc| rows per doc, and both join sides are the SAME
    * plan so the prefix exchange is computed once (ReuseExchange). */
  def ngramJaccardCandidates(df: DataFrame, idCol: String, toksCol: String,
                             blockCols: Seq[String], threshold: Double): DataFrame =
    ngramJaccardCandidates(distinctToks(df, idCol, toksCol, blockCols),
      idCol, blockCols, threshold)

  /** Candidate generation over a precomputed [[distinctToks]] frame —
    * [[ngramJaccardPairs]] passes the SAME `dt` plan it verifies against,
    * so the two sides share one subplan object. (The tokenize/explode
    * still evaluates once per consuming exchange — recomputing a narrow
    * projection is the intended trade at 100 TB; materializing a
    * corpus-wide cache to save it would cost more than it buys.) */
  private def ngramJaccardCandidates(dt: DataFrame, idCol: String,
                                     blockCols: Seq[String], threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"need 0 < t <= 1, got $threshold")
    val toks = dt.select(
      Seq(col(idCol), col("__sz"), explode(col("__dtoks")).as("__tok"))
        ++ blockCols.map(col): _*)
    // corpus document frequency (tokens are already distinct per doc)
    val tdf = toks.groupBy("__tok").agg(count(lit(1)).as("__tdf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__tdf"), col("__tok"))
    // +1e-9: the boundary case (1−t)·|X| integral must round UP — a too-
    // long prefix only costs candidates, a too-short one loses pairs
    val prefix = toks.join(tdf, "__tok")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <=
        floor(lit(1.0 - threshold) * col("__sz") + lit(1e-9)) + lit(1))
    val joinCond = (Seq(col("a.__tok") === col("b.__tok"))
        ++ blockCols.map(c => col(s"a.$c") === col(s"b.$c"))).reduce(_ && _) &&
      col(s"a.$idCol") < col(s"b.$idCol") &&
      // same 1e-9 slack as the prefix bound: at an exact boundary
      // (t·|B| == |A| in ℝ) double rounding must not prune a pair the
      // verifier would emit — extra slack only admits candidates, and
      // the exact verifier removes them
      col("b.__sz") * lit(threshold) <= col("a.__sz") + lit(1e-9) &&
      col("a.__sz") * lit(threshold) <= col("b.__sz") + lit(1e-9)
    prefix.as("a").join(prefix.as("b"), joinCond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** `dedup_ngram_jaccard`: token-set Jaccard near-dup pairs,
    * `jaccard = |A∩B| / |A∪B|` over DISTINCT tokens, emitted for
    * jaccard ≥ threshold with a < b and equal `blockCols`. Candidates
    * come from [[ngramJaccardCandidates]] (prefix-filtered, complete by
    * the prefix lemma); each candidate is then verified exactly against
    * the full token arrays, rejoined by id so the wide arrays never ride
    * the candidate join. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, toksCol: String,
                        blockCols: Seq[String], threshold: Double): DataFrame = {
    val dt = distinctToks(df, idCol, toksCol, blockCols)
    val cand = ngramJaccardCandidates(dt, idCol, blockCols, threshold)
    cand
      .join(dt.select(col(idCol).as("id_a"), col("__dtoks").as("toks_a")), "id_a")
      .join(dt.select(col(idCol).as("id_b"), col("__dtoks").as("toks_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** `dedup_minhash_lsh`: band the signature (numBands bands of rowsPerBand),
    * explode one row per band, equi-join on (band index, band slice) →
    * candidate pairs, then verify candidates with exact shingle-hash
    * Jaccard ≥ threshold. The join is the LSH bucket join; the verify step
    * only touches candidate pairs (≪ n²). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int, numBands: Int, threshold: Double): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into bands")
    val rows = numHashes / numBands
    val withSig = fanOut(df)
      .withColumn("__sh", array_distinct(Text.shingleHashes(col(textCol))))
      .withColumn("__sig", Text.minhashSignature(col("__sh"), numHashes))
    val banded = withSig.select(
      col(idCol), col("__sh"),
      explode(expr(s"transform(sequence(0, ${numBands - 1}), " +
        s"b -> struct(b AS band, slice(__sig, b * $rows + 1, $rows) AS chunk))")).as("bk"))
      .select(col(idCol), col("__sh"), col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    // alias self-join over ONE plan: both shuffle exchanges canonicalize
    // equal, so ReuseExchange computes the signatures once, not per side
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__sh").as("sh_a"), col("b.__sh").as("sh_b")).distinct()
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL near-dup admission — the nightly-production dedup
    * shape: a NEW batch is checked AGAINST the existing corpus, never
    * the corpus against itself (that work was done when the corpus was
    * admitted). Same signature/banding machinery as [[minhashLshPairs]]
    * but the bucket join is ASYMMETRIC (new bands × corpus bands), so
    * the per-night cost is O(|batch| · bucket-collision rate), not
    * O(|corpus|²); at 100 TB the corpus side is a PRECOMPUTED signature
    * table read from the lake — here both sides derive from one
    * checkpointed signature pass, which is the same plan with the scan
    * swapped. Every new doc emits exactly one row: its best corpus
    * match (max verified Jaccard, id tiebreak) or a clean-admission
    * row. */
  def incrementalLshDedup(df: DataFrame, idCol: String, textCol: String,
                          newFlag: Column, numHashes: Int, numBands: Int,
                          threshold: Double): DataFrame = {
    val withSig = lshSignatures(df, idCol, textCol, numHashes)
      .withColumn("__new", newFlag)
      .localCheckpoint()
    val banded = bandExplode(withSig, idCol, numHashes, numBands,
      carry = Seq("__new"))
    admitAgainst(banded.filter(col("__new")).drop("__new"),
      banded.filter(!col("__new")).drop("__new"),
      withSig.filter(col("__new")).select(col(idCol)), idCol, threshold)
      .orderBy(idCol)
  }

  /** The house "new tonight" split (~10 % of docs): md5 of the id's
    * first 8 hex digits mod 10 — deterministic, so the batch entry, the
    * streaming twin, and the DuckDB oracle all mark the same docs. */
  def nightlyNewFlag(idCol: String): Column =
    (expr(s"conv(substring(md5(cast($idCol AS string)), 1, 8), 16, 10)")
      .cast("long") % 10) === 0

  /** (input cols…, __sh, __sig): the shingle/MinHash signature ladder
    * shared by the batch admission and its streaming foreachBatch twin
    * (`EventStream.runDedupAdmissionOnce`) — ONE definition so the two
    * paths cannot drift. */
  def lshSignatures(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int): DataFrame =
    fanOut(df)
      .withColumn("__sh", array_distinct(Text.shingleHashes(col(textCol))))
      .withColumn("__sig", Text.minhashSignature(col("__sh"), numHashes))

  /** Band-explode a signature frame → (id, carry…, __sh, band, chunk):
    * one row per (doc, band) keyed by the band's signature slice — the
    * LSH bucket key of the asymmetric admission join. */
  def bandExplode(sig: DataFrame, idCol: String, numHashes: Int,
                  numBands: Int, carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into bands")
    val rows = numHashes / numBands
    sig.select(Seq(col(idCol)) ++ carry.map(col) ++ Seq(col("__sh"),
        explode(expr(s"transform(sequence(0, ${numBands - 1}), " +
          s"b -> struct(b AS band, slice(__sig, b * $rows + 1, $rows) AS chunk))"))
          .as("bk")): _*)
      .select(Seq(col(idCol)) ++ carry.map(col) ++ Seq(col("__sh"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk")): _*)
  }

  /** The asymmetric admission core: band-bucket join of NEW docs against
    * the CORPUS signature table, exact-Jaccard verify, best match per
    * new doc under (jaccard desc, corpus id) — one row per new doc,
    * matched or clean. A doc's row depends only on (itself × corpus), so
    * any partition of the new side into batches unions to the same
    * result — the property the streaming twin's micro-batch split
    * invariance rides on. */
  def admitAgainst(newBanded: DataFrame, corpusBanded: DataFrame,
                   newIds: DataFrame, idCol: String,
                   threshold: Double): DataFrame = {
    val cand = newBanded.as("a")
      .join(corpusBanded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk"))
      .select(col(s"a.$idCol").as("id_new"), col(s"b.$idCol").as("id_corpus"),
        col("a.__sh").as("sh_a"), col("b.__sh").as("sh_b"))
      .distinct()
    val best = cand
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .withColumn("rk", row_number().over(Window.partitionBy("id_new")
        .orderBy(col("jaccard").desc, col("id_corpus"))))
      .filter(col("rk") === 1)
      .select(col("id_new").as(idCol), col("id_corpus").as("dup_of"),
        round(col("jaccard"), 6).as("jaccard"))
    newIds
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("is_duplicate"),
        col("dup_of"), col("jaccard"))
  }

  /** SimHash signatures: (id, simhash long). Near-dup candidates are rows
    * whose signatures agree on a byte-band (same blocking idea as MinHash
    * bands, over Hamming space). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fanOut(df).withColumn("__th", Text.tokenHashes(col(textCol)))
      .select(col(idCol), Text.simhash(col("__th")).as("simhash"))

  /** `dedup_simhash`: near-dup structure at CLUSTER granularity. Documents
    * are first grouped by exact signature (hamming 0 — on real corpora
    * near-dups collapse here), then DISTINCT signatures are pair-joined
    * through 8-bit byte bands (a pair within hamming ≤ 7 must agree on at
    * least one of the 8 bytes of the 64-bit signature —
    * pigeonhole-complete, enforced by the `require`). Emitting signature
    * pairs with member counts instead of doc pairs keeps the output
    * O(distinct-sigs²), not O(docs²): enumerating doc pairs inside a
    * near-dup cluster is quadratic by definition and never what a dedup
    * pipeline materializes (it keeps one representative per cluster).
    * Output: (sig_a, sig_b, hamming, n_a, n_b, min_id_a, min_id_b). */
  def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      s"8-byte banding is pigeonhole-complete only for hamming <= 7; " +
        s"maxHamming=$maxHamming would silently lose recall")
    val clusters = sigs.groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"))
    val banded = clusters.select(col("simhash"), col("n_docs"), col("min_id"),
      explode(expr("transform(sequence(0, 7), b -> " +
        "struct(b AS band, shiftright(simhash, b * 8) & 255 AS byte))")).as("bk"))
      .select(col("simhash"), col("n_docs"), col("min_id"),
        col("bk.band").as("band"), col("bk.byte").as("byte"))
    // alias self-join over ONE plan → ReuseExchange (signatures once)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
        col("a.n_docs").as("n_a"), col("b.n_docs").as("n_b"),
        col("a.min_id").as("min_id_a"), col("b.min_id").as("min_id_b")).distinct()
      .withColumn("hamming", bit_count(expr("sig_a ^ sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("sig_a", "sig_b", "hamming", "n_a", "n_b", "min_id_a", "min_id_b")
  }

  /** Exact-signature clusters: one row per distinct simhash with its
    * member count and representative (min id). */
  def simhashClusters(sigs: DataFrame, idCol: String): DataFrame =
    sigs.groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("rep_id"))

  /** Connected components over an undirected near-dup pair list — the
    * step that turns pairwise matches (MinHash/SimHash/cosine) into dedup
    * GROUPS, so a pipeline can keep one representative per component.
    *
    * Distributed min-label propagation: every node starts labeled with
    * its own id; each round a node takes the min of its label and its
    * neighbors' labels. Labels are monotonically non-increasing, so the
    * count of changed labels is an exact convergence test for any
    * orderable id type (numeric ids, or the string component ids of
    * Borůvka's merge step). Rounds needed =
    * graph diameter — near-dup components are shallow (stars/short
    * chains), so this converges in a handful of fully-distributed rounds
    * at any corpus size; `localCheckpoint` truncates the iterative
    * lineage each round. Output: (id, component = min id in component).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val adj = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .cache()
    var labels = adj.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var it = 0
    var converged = labels.isEmpty // empty input: already at fixpoint
    while (!converged && it < maxIter) {
      val nbrMin = adj
        .join(labels.select(col("id").as("dst"), col("component").as("ncomp")), "dst")
        .groupBy("src").agg(min("ncomp").as("nmin"))
      val half = labels
        .join(nbrMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
        .localCheckpoint()
      // Pointer-jump from round 9 on (r16, gate raised r17): follow each
      // label to ITS current label — label(v) ← min(label(v),
      // label(label(v))). Labels stay node ids and monotonically
      // non-increasing, so the fixpoint (min id per component) is
      // UNCHANGED; what changes is the round count — propagation doubles
      // its reach per round, O(log diameter) rounds instead of
      // O(diameter) once engaged. The gate exists because the jump costs
      // an extra node-sized self-join EVERY round it runs: near-dup
      // dedup components are stars/short chains done in < 8 plain
      // rounds and must never pay it (r16's round-3 gate measured
      // dedup_clusters_cc 2.7 → 17.3 s and ml_dbscan_grid 6.2 → 15.3 s
      // cold at the 32-core driver config — the jump joins dominated).
      // Only genuinely long-diameter graphs (the DBSCAN spatial chains:
      // ~60+ plain rounds) reach round 9 still unconverged, and for
      // them 8 plain + O(log d) jumped rounds still beats O(d): the
      // worst case drops from ~60 rounds to ~8 + log2(60) ≈ 14.
      val next = if (it < 8) half else half.as("l")
        .join(half.select(col("id").as("cid"), col("component").as("cc")).as("r"),
          col("l.component") === col("cid"), "left")
        .select(col("l.id").as("id"), col("l.old").as("old"),
          least(col("l.component"), coalesce(col("cc"), col("l.component")))
            .as("component"))
        .localCheckpoint()
      // the round's old label rides the checkpointed frame, so finding a
      // changed label scans materialized rows instead of another join
      converged = next.filter(col("component") =!= col("old")).isEmpty
      // the superseded round's checkpoints are dead once `next` is
      // materialized (localCheckpoint is eager) — release their blocks
      // NOW instead of letting one frame per round pile up in the block
      // manager for the query's whole lifetime (guide §5; Dataset
      // .unpersist is a no-op for checkpoints, see graft.plans.Blocks)
      if (!(next eq half)) graft.plans.Blocks.free(half)
      graft.plans.Blocks.free(labels)
      labels = next.select("id", "component")
      it += 1
    }
    adj.unpersist()
    // silent partial convergence would split true components into several
    // groups with no signal — refuse instead (diameter > maxIter rounds)
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** `dedup_substring_coverage`: per-document duplicated-span coverage —
    * the exact-substring view of corpus self-duplication (the measure
    * behind span-level training-data dedup, complementing the whole-doc
    * verdicts of MinHash/SimHash: a doc can be 40 % boilerplate yet no
    * one doc's near-duplicate). An `n`-token gram is DUPLICATED when it
    * occurs in ≥ 2 distinct documents; a token position is COVERED when
    * some duplicated gram's span [pos, pos+n) contains it.
    *
    * Emits per doc: `n_tokens`, `n_dup_grams` (occurrences of duplicated
    * grams), `covered` (distinct covered positions) and
    * `dup_frac = covered / n_tokens`.
    *
    * Shape at 100 TB: positional gram explode is narrow (~len× rows but
    * no shuffle); one shuffle groups by gram to find duplicated ones
    * (map-side partial agg applies); the semi-join back rides the same
    * gram partitioning (ReuseExchange); the position explode that feeds
    * coverage runs over duplicated occurrences ONLY — on a mostly-clean
    * corpus that is a small fraction of the input. Grams join on their
    * STRING for exactness; hash to `xxhash64` 8-byte keys when the gram
    * payload dominates the exchange (same note as [[Corpus.decontaminate]]).
    */
  def substringCoverage(df: DataFrame, idCol: String, toksCol: String,
                        n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    val gramParts = (0 until n).map {
      case 0 => s"element_at($toksCol, pos)"
      case k => s"element_at($toksCol, least(pos + $k, size($toksCol)))"
    }.mkString(", ")
    val occ = df
      .filter(size(col(toksCol)) >= 1)
      .withColumn("pos",
        explode(expr(s"sequence(1, greatest(size($toksCol) - ${n - 1}, 1))")))
      .select(col(idCol), size(col(toksCol)).as("n_toks"), col("pos"),
        expr(s"concat_ws(' ', $gramParts)").as("gram"))
    val dupGrams = occ.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    val dupOcc = occ.join(dupGrams, Seq("gram"), "left_semi")
    val perDocGrams = dupOcc.groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_grams"))
    val covered = dupOcc
      .select(col(idCol),
        explode(expr(s"sequence(pos, least(pos + ${n - 1}, n_toks))")).as("p"))
      .groupBy(idCol)
      .agg(countDistinct(col("p")).as("covered"))
    df.select(col(idCol), size(col(toksCol)).as("n_tokens"))
      .join(perDocGrams, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        // Zero-token docs have zero coverage by definition; guarding the
        // division avoids 0/0 = NaN (DuckDB's 0/0 is NULL — a divergence).
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(coalesce(col("covered"), lit(0L)) /
            col("n_tokens").cast("double"), 6)).as("dup_frac"))
  }
}
