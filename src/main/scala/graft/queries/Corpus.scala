package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Corpus => C}

/** Corpus-hygiene + distribution-shaping queries (round-3 additions to
  * the training-data-pipeline surface): chunking, eval-set
  * decontamination, PII redaction, mixture sampling, rollup profiling,
  * decile binning, IQR winsorizing, truncated EWMA. Each carries a DuckDB
  * twin recomputing identical deterministic arithmetic.
  */
object Corpus {

  type Q = (SparkSession, String) => DataFrame

  private def toked(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", split(col("text"), " "))

  private val tokedSql =
    "WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents)\n"

  private val CHUNK_W = 32
  private val CHUNK_S = 24
  /** Context budget (tokens) for `corpus_pack_sequences`. */
  private val PACK_BUDGET = 512L
  /** Eval-set membership for decontamination: a fixed id slice standing
    * in for the benchmark suite (deterministic on both engines). */
  private val EVAL_MOD = 25
  private val SHINGLE_N = 5
  /** Gram width for `dedup_substring_coverage` — 4 rather than the
    * decontamination 5: the synthetic vocabulary is 31 uniform tokens,
    * and 4-grams are the width where cross-document repeats actually
    * occur at harness scale (5-grams are near-unique there). */
  private val COVER_N = 4

  /** Mixture targets for `corpus_mixture_sample` (rows per source). */
  private val QUOTAS = Map("src0" -> 30, "src1" -> 20)
  private val DEFAULT_QUOTA = 10

  /** TOKEN-BUDGET MIX PLAN (`corpus_token_budget_plan`, r11) — the
    * data-constrained-scaling solve every pretraining run does before
    * sampling weights mean anything: given a token budget B (here 4× the
    * corpus — the Muennighoff et al. 2023 "repeat up to ~4 epochs"
    * regime), per-source availability (whitespace tokens — the spaces+1
    * length arithmetic, no array materialized), a quality weight (the
    * source's ENGLISH token volume — the in-language upweighting an
    * English-model mix applies), and a hard per-source cap of 4 epochs,
    * allocate B by WATER-FILLING: alloc_s = min(cap_s, λ·w_s) with λ
    * chosen so allocations sum to B. Closed form over the saturation
    * order r_s = cap_s/w_s ascending (identical single-division doubles
    * both engines order it; a source saturates exactly when
    * `(B − prefix_cap)·w_s ≥ cap_s·suffix_w` — INTEGER cross-
    * multiplication, no λ ever materialized for a decision; at sf-scale
    * the products sit far inside BIGINT — a >10⁹-token corpus moves the
    * cross-mult to DECIMAL(38,0), noted here deliberately). Unsaturated
    * allocations and epoch counts are output-only grid-6 doubles. One
    * |sources|-row frame after a single corpus scan; the windowed
    * prefix/suffix sums ride the bounded source frame. Budget
    * calibration (the Gopher/temperature-mix lesson — verified on
    * data): B = 4×total equals the SUM of the caps exactly, so the
    * water reaches every rim and the flag is constant-True (audits
    * nothing — caught in-wave); at B = 3×total the λ water level lands
    * at ≈ 6.9 epochs-per-en-token against saturation points 4/en_share
    * ∈ [6.2, 14.8], so the high-en-share sources saturate at 4 epochs
    * and the rest split the remainder — both branches populated. */
  private def tokenBudgetSql(docs: String): String = {
    val ntok = "length(text) - length(replace(text, ' ', '')) + 1"
    s"""WITH per_doc AS (
       |  SELECT source, lang, CAST($ntok AS BIGINT) AS n_tok FROM $docs),
       |per_source AS (
       |  SELECT source,
       |    CAST(sum(n_tok) AS BIGINT) AS avail_tokens,
       |    CAST(sum(CASE WHEN lang = 'en' THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS en_tokens
       |  FROM per_doc GROUP BY 1),
       |budget AS (
       |  SELECT CAST(3 * sum(avail_tokens) AS BIGINT) AS b FROM per_source),
       |ordered AS (
       |  SELECT source, avail_tokens, en_tokens,
       |    4 * avail_tokens AS cap_tokens,
       |    row_number() OVER (ORDER BY
       |      CASE WHEN en_tokens = 0 THEN 1 ELSE 0 END,
       |      CASE WHEN en_tokens = 0 THEN CAST(0 AS DOUBLE)
       |           ELSE CAST(4 * avail_tokens AS DOUBLE) / en_tokens END,
       |      source) AS rn
       |  FROM per_source),
       |pre AS (
       |  SELECT ordered.*,
       |    coalesce(sum(cap_tokens) OVER (ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc,
       |    sum(en_tokens) OVER (ORDER BY rn
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sw
       |  FROM ordered),
       |dec AS (
       |  SELECT pre.*, budget.b,
       |    en_tokens > 0 AND (budget.b - pc) * en_tokens >= cap_tokens * sw
       |      AS saturated
       |  FROM pre CROSS JOIN budget),
       |lam AS (
       |  SELECT
       |    CAST(max(b) - coalesce(sum(CASE WHEN saturated THEN cap_tokens END),
       |      0) AS BIGINT) AS lnum,
       |    CAST(coalesce(sum(CASE WHEN NOT saturated THEN en_tokens END), 0)
       |      AS BIGINT) AS lden
       |  FROM dec)
       |SELECT dec.source, dec.avail_tokens, dec.en_tokens, dec.cap_tokens,
       |  dec.saturated,
       |  CASE WHEN dec.saturated THEN CAST(dec.cap_tokens AS DOUBLE)
       |       WHEN dec.en_tokens = 0 OR lam.lden = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE round(CAST(lam.lnum AS DOUBLE) * dec.en_tokens / lam.lden, 6)
       |  END AS alloc_tokens,
       |  CASE WHEN dec.saturated THEN CAST(4 AS DOUBLE)
       |       WHEN dec.en_tokens = 0 OR lam.lden = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE round(CAST(lam.lnum AS DOUBLE) * dec.en_tokens / lam.lden
       |              / dec.avail_tokens, 6)
       |  END AS epochs
       |FROM dec CROSS JOIN lam
       |ORDER BY source""".stripMargin
  }

  // Identical weight ladder on both engines: α = 0.5 ⇒ weights 2^−i,
  // exactly representable in binary AND in their decimal renderings.
  private val EWMA_DEPTH = 8
  private def ewmaSqlTerms: (String, String) = {
    val ts = (0 until EWMA_DEPTH).map { i =>
      val wi = math.pow(0.5, i)
      val l = if (i == 0) "value" else s"lag(value, $i) OVER ww"
      (s"CASE WHEN $l IS NULL THEN 0.0 ELSE ($wi)::DOUBLE * $l END",
        s"CASE WHEN $l IS NULL THEN 0.0 ELSE ($wi)::DOUBLE END")
    }
    (ts.map(_._1).mkString(" + "), ts.map(_._2).mkString(" + "))
  }

  /** Merge budget for `corpus_bpe_train`. */
  private val BPE_MERGES = 20

  private[graft] lazy val shared: Map[String, Shared] = Map(
    /** TOKEN-BUDGET MIX PLAN (`tokenBudgetSql` — one shared template):
      * the water-filling allocation under per-source epoch caps, every
      * saturation decision integer cross-multiplied. */
    "corpus_token_budget_plan" -> Shared.sql((_, t) => tokenBudgetSql(t("documents"))))

  val qs: Map[String, Q] = Map[String, Q](
    /** JENSEN–SHANNON drift between corpus halves — the mixture-shift
      * alarm of an LLM data pipeline (a changed source mix silently
      * changes the model; `drift_psi` watches a VALUE distribution,
      * this watches the CATEGORICAL source mix, and JS is symmetric and
      * bounded in [0, ln 2] where KL is neither): P = source shares of
      * the first half (doc_id median split), Q = second half, JS =
      * ½KL(P‖M) + ½KL(Q‖M). Long-form per source with each source's
      * divergence contribution plus the window total — one aggregation
      * over the source-cardinality frame. */
    "corpus_drift_js" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
      val counts = docs
        .withColumn("half", when(col("doc_id") <= mid, "a").otherwise("b"))
        .groupBy("source")
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      counts
        .withColumn("ta", sum("na").over(w))
        .withColumn("tb", sum("nb").over(w))
        .withColumn("p", col("na") / col("ta"))
        .withColumn("q", col("nb") / col("tb"))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("contrib", round(
          when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0)) / 2 +
          when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0)) / 2, 6))
        .select(col("source"), col("na"), col("nb"),
          round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
          col("contrib"),
          round(sum(col("contrib")).over(w), 6).as("js_total"))
        .orderBy("source")
    }),

    /** BPE TOKENIZER TRAINING (`operators/Bpe.scala`, Sennrich et al.
      * 2016) — the vocabulary-construction step of an LLM pipeline, in
      * its production division of labor: the corpus collapses to the
      * (word, count) table in ONE wordcount shuffle; the merge loop runs
      * driver-side over that vocabulary-sized table (exactly how the
      * HuggingFace/SentencePiece trainers hold it — vocabulary grows
      * sublinearly with corpus size). Deterministic argmax (count desc,
      * pair asc) ⇒ the same merge table on every run. Rows-only: an
      * iterative merge loop has no SQL form; BpeSpec pins the classic
      * hand-derivable fixture and the laws. */
    "corpus_bpe_train" -> ((s, d) => {
      import s.implicits._
      val words = toked(s, d)
        .select(explode(col("toks")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (w, c) => (-c, w) }
      graft.operators.Bpe.train(words, BPE_MERGES)
        .map(m => (m.rank, m.left, m.right, m.merged, m.pairCount))
        .toDF("rank", "left", "right", "merged", "pair_count")
        .orderBy("rank")
    }),

    /** BPE ENCODE audit — the trained merges applied back to the corpus
      * (broadcast merge list, narrow `mapPartitions`, no shuffle at
      * apply time — the serving posture of a tokenizer): per-source
      * compression report chars/word vs BPE symbols/word. Rows-only;
      * BpeSpec pins encode laws (concatenation invariant, merge-order
      * priority). */
    "corpus_bpe_encode" -> ((s, d) => {
      import s.implicits._
      // ONE tokenize pass: the per-(source, word) count frame is
      // checkpointed and serves BOTH the training vocabulary (its global
      // rollup) and the audit join below
      val bySrcWord = toked(s, d)
        .select(col("source"), explode(col("toks")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val words = bySrcWord.groupBy("w").agg(sum(col("c")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (w, c) => (-c, w) }
      val merges = graft.operators.Bpe.train(words, BPE_MERGES)
      // encode each DISTINCT word once on the driver (the vocabulary is
      // already collected for training) and broadcast the length table;
      // the corpus side then pays one keyed count + a broadcast join —
      // never a per-occurrence encode
      val encDf = words.map { case (w, _) =>
        (w, w.length.toLong,
          graft.operators.Bpe.encodeWord(w, merges).length.toLong)
      }.toDF("w", "n_chars", "n_syms")
      bySrcWord
        .join(broadcast(encDf), "w")
        .groupBy("source")
        .agg(sum(col("c")).as("n_words"),
          round(sum(col("c") * col("n_chars")) / sum(col("c")), 6)
            .as("chars_per_word"),
          round(sum(col("c") * col("n_syms")) / sum(col("c")), 6)
            .as("syms_per_word"),
          round(lit(1.0) - sum(col("c") * col("n_syms")).cast("double")
            / sum(col("c") * col("n_chars")), 6).as("compression"))
        .orderBy("source")
    }),

    /** Overlapping token windows (32/stride 24) — the pre-training feed
      * shape. Narrow explode, zero shuffles. */
    "text_chunk_windows" -> ((s, d) =>
      C.chunkTokens(toked(s, d), "doc_id", "toks", CHUNK_W, CHUNK_S)
        .orderBy("doc_id", "chunk_id")),

    /** Drop training docs sharing any distinct 5-gram with the eval
      * slice (doc_id ≡ 0 mod 25) — benchmark decontamination. */
    "dedup_decontaminate" -> ((s, d) => {
      val t = toked(s, d)
      C.decontaminate(
          t.filter(col("doc_id") % EVAL_MOD =!= 0),
          t.filter(col("doc_id") % EVAL_MOD === 0),
          "doc_id", "toks", SHINGLE_N)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    /** Span-level self-duplication: per document, the fraction of token
      * positions covered by 4-grams that also occur in ANOTHER document —
      * the exact-substring dedup measure (a doc can be heavily
      * boilerplate without being any one doc's near-duplicate, which is
      * what the whole-doc MinHash/SimHash verdicts miss). Narrow
      * positional explode, one shuffle on the gram, coverage explode over
      * duplicated occurrences only. */
    "dedup_substring_coverage" -> ((s, d) =>
      graft.operators.Dedup.substringCoverage(toked(s, d), "doc_id", "toks", COVER_N)
        .orderBy("doc_id")),

    /** Scrub synthetic PII (deterministically injected so the redaction
      * is observable) and count the hits — the audit a compliance
      * pipeline logs. */
    "text_pii_redact" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("text2", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.com or call 555-"),
          lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"), C.piiHits(col("text2")).as("n_hits"),
          C.redactPii(col("text2")).as("redacted"))
        .orderBy("doc_id")),

    /** Quota sampling toward a target source mixture, md5-of-id order —
      * deterministic "random" both engines replay. */
    "corpus_mixture_sample" -> ((s, d) =>
      C.quotaSample(Tables.documents(s, d), "source", "doc_id",
          QUOTAS, DEFAULT_QUOTA)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    /** TEMPERATURE-BASED mixture weights (Conneau & Lample 2019; the
      * multilingual-pretraining sampling rule every major LM corpus
      * uses): p_s ∝ n_s^τ at τ = 0.7 flattens the source distribution —
      * high-resource languages are downsampled, low-resource upsampled
      * (the harness corpus has the real skew on the LANG axis: en ~44 %
      * vs fr ~13 % — the source axis is uniform by construction and
      * would make the operator vacuous).
      * n^τ = exp(0.7·ln n) on INTEGER counts, re-gridded 1e-6 (the
      * text_entropy libm class: no decision rides it), weights summed in
      * DECIMAL (tiny frame, but aggregation order must not matter);
      * totals attached by an unpartitioned window over the
      * |sources|-bounded frame (no cross join, plan-audit clean).
      * Output: per-source natural share, temperature share, and the
      * upsample factor a sampler applies. */
    "corpus_temperature_mix" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("wt", round(exp(lit(0.7) * log(col("n_docs"))), 6))
        .withColumn("nn", sum(col("n_docs")).over(w))
        .withColumn("ww", sum(col("wt").cast("decimal(18,6)")).over(w))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs").cast("double") / col("nn"), 6)
            .as("natural_share"),
          round(col("wt") / col("ww").cast("double"), 6)
            .as("temperature_share"))
        .withColumn("upsample_factor",
          round(col("temperature_share") / col("natural_share"), 6))
        .orderBy("lang")
    }),


    /** Multi-granularity corpus profile in ONE pass: (lang, source),
      * per-lang subtotals, grand total via rollup — no union of three
      * aggregations. */
    "agg_rollup_profile" -> ((s, d) =>
      Tables.documents(s, d)
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("avg_chars"))
        .orderBy("lang", "source")),

    /** Arbitrary GROUPING SETS (the general form rollup/cube specialize):
      * the (lang, source) detail and the per-SOURCE subtotal in ONE pass
      * — a combination no rollup can express (rollup would subtotal by
      * the leading key). Same single-shuffle expand-aggregate plan. */
    "agg_grouping_sets" -> ((s, d) =>
      Tables.documents(s, d)
        .groupingSets(
          Seq(Seq(col("lang"), col("source")), Seq(col("source"))),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          col("source"), col("n_docs"), col("avg_chars"))
        .orderBy("lang", "source")),

    /** Sorted string aggregation (pandas `groupby().apply(','.join)` /
      * SQL `string_agg`): per-lang roster of distinct sources. The set
      * is sorted BEFORE concatenation — collect_set order is
      * partition-nondeterministic, so an unsorted concat would not even
      * equal itself across runs. */
    "agg_string_concat_sorted" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(concat_ws(",", array_sort(collect_set(col("source")))).as("sources"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    /** CUBE — all four granularities ((lang, source), per-lang,
      * per-source, grand total) in ONE expand-aggregate pass; completes
      * the grouping-flavor family next to rollup and grouping sets. */
    "agg_cube_profile" -> ((s, d) =>
      Tables.documents(s, d)
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("avg_chars"))
        .orderBy("lang", "source")),

    /** Decile binning without a global sort: exact cut points are one
      * aggregation collected to the driver (9 doubles), assignment is a
      * narrow codegen'd comparison ladder — the scale-safe alternative
      * to an `ntile` window (which would single-partition the table). */
    "bin_deciles" -> ((s, d) => {
      // r16 note: a repartition-before-percentile variant was A/B'd and
      // REVERTED — the exact-percentile buffer is value-count-sized, so
      // spreading the partials only moves the whole multiset through
      // serialization into a single merge task (measured 3.9 → 5.7 s).
      // The one needed column IS projected (reader pruning).
      val li = Tables.lineitem(s, d).select("l_extendedprice")
      val cuts = C.quantileCuts(li, "l_extendedprice", 10)
      li.withColumn("bin", C.binByCuts(col("l_extendedprice"), cuts))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 6).as("lo"),
          round(max(col("l_extendedprice")), 6).as("hi"))
        .orderBy("bin")
    }),

    /** IQR winsorizing per event type: one quartile aggregation
      * broadcast back, narrow clamp. */
    "outlier_iqr_clip" -> ((s, d) =>
      C.winsorizeByIqr(Tables.events(s, d).select("event_id", "event_type", "value"),
          "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round(col("clipped"), 6).as("clipped"))
        .orderBy("event_id")),

    /** Truncated EWMA (α=0.5, 8 lags) per event type — pandas
      * `ewm(alpha=.5).mean()` semantics with renormalizing short
      * history, as explicit codegen'd lag terms. */
    "ewma_halflife" -> ((s, d) =>
      C.ewmaTruncated(Tables.events(s, d).select("event_id", "event_type", "value"),
          "event_type", "event_id", "value", alpha = 0.5, depth = EWMA_DEPTH)
        .select(col("event_id"), col("event_type"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id")),

    /** Token-budget sequence packing — the step that turns a cleaned
      * corpus into fixed-context training shards: documents are laid out
      * in deterministic (doc_id) order within each (lang, source) block
      * and cut into `PACK_BUDGET`-token shards; a document's shard is the
      * block its first token lands in (the loader splits overflow — the
      * standard pack-then-split bookkeeping). One running-total window
      * per block + one aggregation; blocks keep the windows parallel
      * (at 100 TB the block key gains a date/hash bucket — same plan). */
    "corpus_pack_sequences" -> ((s, d) =>
      C.packSequences(toked(s, d), Seq("lang", "source"), "doc_id", "toks",
          PACK_BUDGET)
        .groupBy("lang", "source", "shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "source", "shard_id")),

    /** Mixture reweighting — the data-mixing step of a pretraining run:
      * per-source sampling weight = target token share / actual token
      * share, so a sampler drawing documents proportional to
      * weight·n_tokens lands on the target mixture. One aggregation plus
      * a broadcast 1-row grand total (same shape as `agg_histogram`'s
      * min/max broadcast — no second shuffle, no driver loop). */
    "corpus_upsample_weights" -> ((s, d) => {
      val per = toked(s, d)
        .select(col("source"), size(col("toks")).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      val tot = per.agg(sum("n_tokens").cast("double").as("tot"))
      val target = when(col("source") === "src0", lit(0.15))
        .when(col("source") === "src1", lit(0.10))
        .otherwise(lit(0.75 / 18))
      per.crossJoin(broadcast(tot))
        .withColumn("token_share", col("n_tokens") / col("tot"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("token_share"), 6).as("token_share"),
          round(target, 6).as("target_share"),
          round(target / col("token_share"), 6).as("weight"))
        .orderBy("source")
    }),
  ) ++ Shared.engines(shared)

  // ---- DuckDB oracle twins ----------------------------------------------

  /** Shared 5-gram shingle CTE `s5(doc_id, lang, source, shl)` (distinct
    * shingle strings, tail clamped like the engine). */
  private val shingle5Sql = tokedSql +
    """, s5 AS (SELECT doc_id, lang, source, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 4, 1)),
      |    i -> concat_ws(' ', toks[i], toks[least(i + 1, len(toks))],
      |                   toks[least(i + 2, len(toks))], toks[least(i + 3, len(toks))],
      |                   toks[least(i + 4, len(toks))]))) AS shl FROM t)
      |""".stripMargin

  /** The BPE merge recursion shared by both BPE twins (r16 — the
    * `ml_changepoint_pelt` list-carrying recursive-CTE precedent, with
    * NO numeric grid: every quantity is an integer count or a string):
    * the whole working vocabulary rides ONE row as a LIST of
    * {w, s: symbol LIST, c} structs; each step (a) flattens the
    * weighted adjacent-pair multiset with lambdas and picks the argmax
    * by (count DESC, pair ASC) via a LATERAL GROUP BY — exactly
    * `Bpe.train`'s tie-break, (b) applies the merge to every word as a
    * left fold (`list_reduce`) that is provably the greedy
    * non-overlapping scan: the fold merges acc's top with the incoming
    * symbol iff top = left ∧ incoming = right, and a just-merged top
    * can never re-trigger (left+right ≠ left since right is nonempty).
    * The recursion stops when no pairs remain (empty LATERAL) or at
    * [[BPE_MERGES]] — the same two exits as the engine loop. The final
    * vocab row IS the encoding of every distinct word (train applies
    * each merge to all words as it goes — exactly `Bpe.encodeWord`'s
    * rank-order fold), which is what the encode twin reads. */
  private def bpeRecursionSql(withWord: Boolean): String = {
    val w0Field = if (withWord) "'w': w, " else ""
    val wStepField = if (withWord) "'w': w.w, " else ""
    s"""t AS (SELECT string_split(text, ' ') AS toks FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS c
       |  FROM (SELECT unnest(toks) AS w FROM t) WHERE length(w) > 0 GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT list({$w0Field's': list_transform(generate_series(1, length(w)),
       |      i -> substr(w, i, 1)), 'c': c}) AS vocab
       |  FROM wc),
       |bpe(rank, l, r, n, vocab) AS (
       |  SELECT 0, '', '', 0::BIGINT, vocab FROM v0
       |  UNION ALL
       |  SELECT q.rank + 1, b.l, b.r, b.n,
       |    list_transform(q.vocab, w -> {$wStepField's':
       |      list_reduce(list_transform(w.s, x -> [x]),
       |        (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
       |          THEN list_append(acc[:len(acc)-1], b.l || b.r)
       |          ELSE list_append(acc, x[1]) END),
       |      'c': w.c})
       |  FROM (SELECT * FROM bpe WHERE rank < $BPE_MERGES) q,
       |  LATERAL (
       |    SELECT l, r, sum(c)::BIGINT AS n
       |    FROM (SELECT unnest(flatten(list_transform(q.vocab, w ->
       |          list_transform(generate_series(1, len(w.s) - 1),
       |            i -> {'l': w.s[i], 'r': w.s[i+1], 'c': w.c}))), recursive:=true))
       |    GROUP BY l, r
       |    ORDER BY n DESC, l, r
       |    LIMIT 1) b
       |)""".stripMargin
  }

  val sql: Map[String, String] = Map(

    /** Twin of `corpus_bpe_train` — the merge table straight off the
      * recursion. All-integer/string state: nothing to grid. */
    "corpus_bpe_train" -> {
      s"""WITH RECURSIVE ${bpeRecursionSql(withWord = false)}
         |SELECT rank, l AS left, r AS right, l || r AS merged, n AS pair_count
         |FROM bpe WHERE rank >= 1 ORDER BY rank""".stripMargin
    },

    /** Twin of `corpus_bpe_encode` — the FINAL vocab row of the same
      * recursion is the encode of every distinct word (rank-order fold
      * ≡ `Bpe.encodeWord`); join it back to the per-(source, word)
      * counts and replay the engine's exact-integer ratio arithmetic. */
    "corpus_bpe_encode" -> {
      s"""WITH RECURSIVE ${bpeRecursionSql(withWord = true)},
         |fin AS MATERIALIZED (
         |  SELECT u.w AS w, length(u.w)::BIGINT AS n_chars, len(u.s)::BIGINT AS n_syms
         |  FROM (SELECT unnest(vocab) AS u FROM bpe
         |        WHERE rank = (SELECT max(rank) FROM bpe))),
         |bysw AS MATERIALIZED (
         |  SELECT source, w, count(*)::BIGINT AS c
         |  FROM (SELECT source, unnest(toks) AS w
         |        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents))
         |  WHERE length(w) > 0 GROUP BY source, w)
         |SELECT source, sum(c)::BIGINT AS n_words,
         |  round(sum(c * n_chars) / sum(c), 6) AS chars_per_word,
         |  round(sum(c * n_syms) / sum(c), 6) AS syms_per_word,
         |  round(1.0 - CAST(sum(c * n_syms) AS DOUBLE) / sum(c * n_chars), 6) AS compression
         |FROM bysw JOIN fin USING (w)
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "corpus_drift_js" ->
      """WITH mid AS (SELECT quantile_cont(doc_id, 0.5) AS m FROM documents),
        |c AS (
        |  SELECT source,
        |    sum(CASE WHEN doc_id <= mid.m THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN doc_id <= mid.m THEN 0 ELSE 1 END)::BIGINT AS nb
        |  FROM documents, mid GROUP BY source),
        |t AS (
        |  SELECT *, sum(na) OVER () AS ta, sum(nb) OVER () AS tb FROM c),
        |pq AS (
        |  SELECT source, na, nb,
        |    na / ta AS p, nb / tb AS q, (na / ta + nb / tb) / 2 AS m
        |  FROM t),
        |k AS (
        |  SELECT source, na, nb, p, q,
        |    round(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0.0 END / 2 +
        |          CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0.0 END / 2, 6) AS contrib
        |  FROM pq)
        |SELECT source, na, nb, round(p, 6) AS p, round(q, 6) AS q, contrib,
        |  round(sum(contrib) OVER (), 6) AS js_total
        |FROM k ORDER BY source""".stripMargin,

    "text_chunk_windows" -> (tokedSql +
      s""", c AS (
         |  SELECT doc_id, toks,
         |         unnest(generate_series(0,
         |           (greatest(len(toks) - $CHUNK_W, 0) + ${CHUNK_S - 1}) // $CHUNK_S)) AS chunk_id
         |  FROM t)
         |SELECT doc_id, chunk_id,
         |  len(list_slice(toks, chunk_id * $CHUNK_S + 1, chunk_id * $CHUNK_S + $CHUNK_W)) AS n_chunk_tokens,
         |  array_to_string(list_slice(toks, chunk_id * $CHUNK_S + 1, chunk_id * $CHUNK_S + $CHUNK_W), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    "dedup_decontaminate" -> (shingle5Sql +
      s""", ev AS (SELECT DISTINCT unnest(shl) AS sh FROM s5 WHERE doc_id % $EVAL_MOD = 0)
         |, contam AS (
         |  SELECT DISTINCT doc_id FROM
         |    (SELECT doc_id, unnest(shl) AS sh FROM s5 WHERE doc_id % $EVAL_MOD <> 0) x
         |  JOIN ev USING (sh))
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % $EVAL_MOD <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contam)
         |ORDER BY doc_id""".stripMargin),

    // Same positional-gram ladder as the engine (clamped tail, n = 4);
    // a gram is duplicated when seen in >= 2 distinct docs, coverage is
    // distinct positions under duplicated spans.
    "dedup_substring_coverage" -> (tokedSql +
      s""", occ AS (
         |  SELECT doc_id, len(toks) AS n_toks, toks,
         |         unnest(generate_series(1, greatest(len(toks) - ${COVER_N - 1}, 1))) AS pos
         |  FROM t),
         |g AS (
         |  SELECT doc_id, n_toks, pos,
         |    concat_ws(' ', toks[pos], toks[least(pos + 1, n_toks)],
         |              toks[least(pos + 2, n_toks)], toks[least(pos + 3, n_toks)]) AS gram
         |  FROM occ),
         |dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |docc AS (SELECT g.* FROM g JOIN dupg USING (gram)),
         |dn AS (SELECT doc_id, count(*)::BIGINT AS n_dup_grams FROM docc GROUP BY doc_id),
         |cov AS (
         |  SELECT doc_id, count(DISTINCT p)::BIGINT AS covered FROM (
         |    SELECT doc_id, unnest(generate_series(pos, least(pos + ${COVER_N - 1}, n_toks))) AS p
         |    FROM docc) GROUP BY doc_id)
         |SELECT t.doc_id, len(t.toks) AS n_tokens,
         |  coalesce(dn.n_dup_grams, 0)::BIGINT AS n_dup_grams,
         |  coalesce(cov.covered, 0)::BIGINT AS covered,
         |  CASE WHEN len(t.toks) = 0 THEN 0.0
         |       ELSE round(coalesce(cov.covered, 0) / len(t.toks), 6) END AS dup_frac
         |FROM t LEFT JOIN dn USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    "text_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.com or call 555-' ||
        |      lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2, '[a-z0-9]+@[a-z]+\.com|[0-9]{3}-[0-9]{4}')) AS n_hits,
        |  regexp_replace(regexp_replace(text2,
        |    '[a-z0-9]+@[a-z]+\.com', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    "corpus_mixture_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= (CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 20
         |             ELSE 10 END)
         |ORDER BY doc_id""".stripMargin,


    "corpus_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs FROM documents
        |  GROUP BY lang),
        |wts AS (
        |  SELECT lang, n_docs,
        |    round(exp(0.7 * ln(n_docs)), 6) AS wt FROM c),
        |tot AS (
        |  SELECT lang, n_docs, wt,
        |    sum(n_docs) OVER () AS nn,
        |    sum(CAST(wt AS DECIMAL(18,6))) OVER () AS ww
        |  FROM wts),
        |shares AS (
        |  SELECT lang, n_docs,
        |    round(CAST(n_docs AS DOUBLE) / nn, 6) AS natural_share,
        |    round(wt / CAST(ww AS DOUBLE), 6) AS temperature_share
        |  FROM tot)
        |SELECT lang, n_docs, natural_share, temperature_share,
        |  round(temperature_share / natural_share, 6) AS upsample_factor
        |FROM shares ORDER BY lang""".stripMargin,

    "agg_rollup_profile" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |       count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY lang, source""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT coalesce(lang, 'ALL') AS lang, source,
        |       count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (source))
        |ORDER BY lang, source""".stripMargin,

    "agg_string_concat_sorted" ->
      """SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "agg_cube_profile" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |       count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin,

    "bin_deciles" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(l_extendedprice,
        |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM lineitem),
        |b AS (
        |  SELECT l_extendedprice AS v,
        |    1 + (CASE WHEN l_extendedprice > qs[1] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[2] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[3] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[4] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[5] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[6] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[7] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[8] THEN 1 ELSE 0 END)
        |      + (CASE WHEN l_extendedprice > qs[9] THEN 1 ELSE 0 END) AS bin
        |  FROM lineitem, cuts)
        |SELECT bin, count(*) AS n, round(min(v), 6) AS lo, round(max(v), 6) AS hi
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "outlier_iqr_clip" ->
      """WITH q AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, round(value, 6) AS value,
        |  round(greatest(q1 - 1.5 * (q3 - q1),
        |                 least(q3 + 1.5 * (q3 - q1), value)), 6) AS clipped
        |FROM events e JOIN q ON e.event_type = q.event_type
        |ORDER BY event_id""".stripMargin,

    "ewma_halflife" -> {
      val (num, den) = ewmaSqlTerms
      s"""SELECT event_id, event_type,
         |  round(($num) / ($den), 6) AS ewma
         |FROM events WINDOW ww AS (PARTITION BY event_type ORDER BY event_id)
         |ORDER BY event_id""".stripMargin
    },

    "corpus_upsample_weights" -> (tokedSql +
      """, per AS (
        |  SELECT source, count(*) AS n_docs, sum(len(toks))::BIGINT AS n_tokens
        |  FROM t GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens / tot, 6) AS token_share,
        |  round((CASE source WHEN 'src0' THEN 0.15::DOUBLE WHEN 'src1' THEN 0.10::DOUBLE
        |         ELSE 0.75::DOUBLE / 18 END)::DOUBLE, 6) AS target_share,
        |  round((CASE source WHEN 'src0' THEN 0.15::DOUBLE WHEN 'src1' THEN 0.10::DOUBLE
        |         ELSE 0.75::DOUBLE / 18 END)::DOUBLE / (n_tokens / tot), 6) AS weight
        |FROM per, tot ORDER BY source""".stripMargin),

    "corpus_pack_sequences" -> (tokedSql +
      s""", p AS (
         |  SELECT doc_id, lang, source, len(toks)::BIGINT AS n_tokens,
         |    sum(len(toks)) OVER (PARTITION BY lang, source
         |                         ORDER BY doc_id)::BIGINT AS cum
         |  FROM t)
         |SELECT lang, source, ((cum - n_tokens) // $PACK_BUDGET)::BIGINT AS shard_id,
         |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY lang, source, shard_id
         |ORDER BY lang, source, shard_id""".stripMargin),
  ) ++ Shared.oracles(shared)
}
