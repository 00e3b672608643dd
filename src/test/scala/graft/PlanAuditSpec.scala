package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.util.QueryExecutionListener

/** Structural audit of every registered query's physical plan at
  * sf0.001 — the automated version of the "would this survive 100 TB"
  * plan review: no accidental cartesian products, nested-loop joins only
  * where a driver-sized side is broadcast BY DESIGN, and the lake scans
  * keep their filter pushdown.
  *
  * Queries run real driver-side work while BUILDING their DataFrame
  * (adaptive cleaning steps, MLlib fits), so this suite costs one
  * sf0.001 pass — but it asserts on the PLAN, which is what code review
  * cannot re-check on every commit.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Ops whose plans legitimately contain a broadcast nested-loop join:
    * a deliberately-broadcast driver-sized side (1-row min/max cut
    * frames, the query set of the brute-force baseline, ±1-row
    * validation lookups). */
  private val nestedLoopByDesign = Set(
    "agg_histogram", "bin_deciles", "similarity_topk_bruteforce",
    "dedup_embedding_cosine", "last_row_lookup", "ewma_halflife",
    "outlier_iqr_clip",
    "ml_metric_r2",    // crossJoin(broadcast(1-row avg(y)))
    "text_tfidf_topk", // crossJoin(broadcast(1-row corpus count))
    "corpus_upsample_weights", // crossJoin(broadcast(1-row token total))
    "value_counts",            // crossJoin(broadcast(1-row grand total))
    "zorder_curve",            // crossJoin(broadcast(1-row min/max bounds))
    "agg_heavy_hitters",       // crossJoin(broadcast(1-row grand total))
    "feature_target_encode_oof", // crossJoin(broadcast(1-row grand total))
    "ml_acf",                  // crossJoin(broadcast(1-row global mean))
    "ml_changepoint_cusum",    // crossJoin(broadcast(1-row mu/sigma/n))
    "drift_psi",               // crossJoin(broadcast(1-row ref/cur totals))
    "stream_drift_psi",        // same psiAssemble crossJoin as drift_psi
    "stat_chi2_independence",  // crossJoin(broadcast(1-row grand total))
    "mba_frequent_pairs",      // crossJoin(broadcast(1-row basket count))
    "ml_naive_bayes",          // crossJoin(broadcast(k-row param frame + 1-row total))
    "graph_triangles",         // crossJoin(broadcast(1-row triangle count))
    "stat_benford",            // crossJoin(broadcast(1-row digit total))
    "ml_survival_km",          // crossJoin(broadcast(1-row span_end/n_users))
    "agg_rolling_distinct_users", // crossJoin(broadcast(1-row max-day bound))
    "agg_rolling_distinct_hll",   // crossJoin(broadcast(1-row max-day bound))
    "ts_dtw_pairs",            // crossJoin of the 5-row per-series array frame
    "dedup_lsh_recall_audit",  // brute-force truth baseline (audit-sample posture)
    "dq_schema_drift",         // crossJoin(broadcast(1-row midpoint-day bound))
    "stat_fisher_exact",       // 1-row cells × 1-row max-logprob × 1-row observed
    "ts_block_bootstrap",      // crossJoin(broadcast(1-row n/offsets/blocks bounds))
    "ml_anomaly_mahalanobis",  // 1-row moment/inverse frame × user features
    "ml_hierarchical_reconcile", // 1-row train-total frame × per-series shares
    "similarity_pq_adc",       // corpus × 16-row codebook × 8-row subspace attach
    "similarity_pq_drift",     // same corpus × 16×8 codebook attach (QE audit)
    "similarity_pq_retrain",   // same corpus × 16×8 codebook attach + 8-row dims frame (Lloyd half-step)
    "similarity_recall_curve", // bounded audit-query × corpus truth + 5-row sweep
    "embedding_truncation_recall", // same bounded truth shape × 4 dim prefixes
    "stat_permutation_fdr",    // pool × 100-row replicate frame + 1-row kmax
    "feature_select_mrmr",     // cube-sized frames × 1-row grand total
    "ts_haar_energy",          // ≤256-bar frame × 8-row dyadic level table
    "similarity_ivf_probe",    // corpus/queries × 16-row sampled-quantizer attach
    "similarity_ivf_incremental", // resident/new × 16-row quantizer attach + 1-row corpus total
    "similarity_mmr_rerank",   // brute-force shortlist baseline (audit posture)
    "join_spatial_grid",       // crossJoin(broadcast(1-row min/max bounds))
    "ml_kmeans_lloyd",         // crossJoin(broadcast(k-row centroid frame)) per Lloyd round
    "ml_huber_irls",           // 1-row coefficient/threshold frames × the bar scan per IRLS step
    "ml_logistic_newton",      // 1-row coefficient/moment frames × the bucket scan per Newton step
    "ml_threshold_sweep",      // same chain + 9-row sweep × the model-sized score frame
    "corpus_token_budget_plan", // |sources|-row frame × 1-row budget/lambda attaches
    "stream_dq_expectations",  // 1-row rule-sum snapshot × 1-row distinct count
    "ml_auc_roc",              // same logistic chain's 1-row attaches
    "ml_learning_curve",       // 10-row fraction × bucket frame + 1-row count attach
    "ml_residual_diagnostics", // 1-row coefficient frame × the bucket frame
    "dq_volume_anomaly",       // |days|-frame × 1-row median/MAD attaches
    "stream_volume_anomaly",   // same volumeAssembleSql 1-row med/MAD attaches
    "ml_gbt_stumps",           // 1-row best-split/total frames × the residual scan per round
    "stat_logrank",            // 1-row span-end/aggregate frames × the session scan
    "ml_cox_ph",               // 1-row coefficient frame × the 10-row risk frame per Newton step
    "graph_hits",              // crossJoin(broadcast(1-row L1-total)) normalization per half-round (r17)
    "ml_gmm_em",               // 1-row parameter frame × the bucket scan per EM step
    "fin_black_scholes",       // 5-row (series, vol) frame × 3-row strike grid
    "fin_mc_var",              // 5-row parameter frame × the 20k deterministic path index
    "stat_sprt",               // 1-row calibration frame × the monitored bucket scan
    "stat_friedman",           // per-series rank sums × 1-row (sr2, n, k) total frame
    "ml_sgd_online",           // bar frame × 1-row standardization-stats frame
    "agg_describe_approx",     // 1-row exact-stats frame × 1-row sample-quantile frame
    "ml_isotonic_calibration") // minimax range joins over the k≤100 per-bin aggregate

  private lazy val plans: Map[String, String] = {
    graft.plans.GraftExtensions.register(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }.toMap
  }

  /** The one sanctioned cartesian: MLlib's recommendForUserSubset
    * scores every (user-block, item-block) factor pair — that blocked
    * cross IS the recommend-over-all-items algorithm, bounded by
    * rank-sized factor blocks, not a planner accident. */
  private val cartesianByDesign = Set("ml_als_recommend")

  test("no query plan contains a cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct")
        && !cartesianByDesign(n) => n }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("nested-loop joins appear only where a side is broadcast by design") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin")
        && !nestedLoopByDesign(n) => n }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  test("parquet scans under a filter keep pushdown (representative query)") {
    val p = plans("filter_gt")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters in filter_gt plan:\n$p")
  }

  test("equi-joins against driver-sized dimensions broadcast (representative query)") {
    assert(plans("join_mapping_left").contains("BroadcastHashJoin"),
      "join_mapping_left should broadcast the pairs side")
  }

  test("the bounded top-k aggregate plans as a two-phase agg, not a window sort") {
    val p = plans("topk_per_key_agg")
    assert(!p.contains("Window"),
      s"topk_per_key_agg must not fall back to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"expected the typed-buffer aggregate pair in:\n$p")
  }

  test("the multi-series seasonal design windows are PARTITIONED, not single-task") {
    // §2.7 spine at 100 TB: every Window node must carry a partition spec
    // (per-series sort) — the plan string prints
    // `Window [exprs], [user_id#N], [event_id#M ASC ...]`; a global window
    // would print no partition list and run as ONE task.
    val p = plans("seasonal_design_by_series")
    assert(p.contains("Window ["), s"expected a window node in:\n$p")
    val partitioned = "Window \\[[^\\]]*\\], \\[user_id#\\d+L?\\], \\[event_id#".r
    assert(partitioned.findFirstIn(p).isDefined,
      s"seasonal design window must partition by the series key:\n$p")
  }

  test("heavy hitters: candidate set is broadcast, sketch runs as an object-hash aggregate") {
    val p = plans("agg_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"agg_heavy_hitters must broadcast the <=k candidate keys:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the MG sketch should ride the object-hash aggregate path:\n$p")
  }

  test("ngram-Jaccard candidates come from a token-keyed equi-join, not block all-pairs") {
    // The scale contract of the prefix filter: the candidate join must be
    // keyed by the (rare) token — hash-partitionable, bounded fan-in —
    // not an all-pairs comparison keyed only by the coarse block columns.
    val p = plans("dedup_ngram_jaccard")
    val joinKeyed = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[[^\\]]*__tok".r
    assert(joinKeyed.findFirstIn(p).isDefined,
      s"candidate join should equi-join on the prefix token:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "ngram-Jaccard must not fall back to a nested-loop join")
  }

  test("the bloom pre-filter guards a real shuffle join (merge hint honored)") {
    val p = plans("join_bloom_prefilter")
    assert(p.contains("SortMergeJoin"),
      s"join_bloom_prefilter should keep the exchange topology the bloom guards:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      "the thin dim must not broadcast here — that would hide the " +
        "map-side shuffle reduction this query exists to exercise")
  }

  test("the range join decomposes to a broadcast HASH join, not a nested loop") {
    val p = plans("join_range_interval")
    assert(p.contains("BroadcastHashJoin"),
      s"join_range_interval should equi-join on the exploded day bucket:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the interval predicate must not reach the join as an inequality")
  }

  test("LSH/simhash self-joins compute signatures ONCE at the shuffle-join shape (ReusedExchange)") {
    // At 100 TB both sides of the banded self-join shuffle (no broadcast);
    // the two alias subtrees must canonicalize equal so AQE reuses the
    // signature exchange instead of hashing every document twice. The
    // reuse only materializes in the EXECUTED final plan, so this test
    // runs the queries (sf0.001) rather than inspecting the static plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      for (q <- Seq("dedup_minhash_lsh", "dedup_simhash", "similarity_ann_lsh")) {
        val df = SparkEntry.queries(q)(spark, dir)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("isFinalPlan=true"), s"$q did not run under AQE")
        assert(p.contains("ReusedExchange"),
          s"$q recomputes signatures per join side:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("matrix profile pairs come from the blocked equi-join, dot stays in-row") {
    // The scale contract: window pairing must be keyed by
    // (series, target-block) — hash-partitionable block-pairs — never a
    // nested loop over windows; and the 24-lag dot product must not
    // explode pair rows through an aggregate (the in-row fold rewrite,
    // A/B'd 2.8× in BENCH_TRIAGE_r08).
    val p = plans("ts_matrix_profile")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findFirstIn(p).isDefined, s"pair stage should be an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "window pairing must not be a nested loop")
    // the ONLY Generate allowed is the deliberate target-block fan-out
    // (explode(sequence(...))); the lag dot must be the in-row
    // zip_with/aggregate fold, never an exploded-product aggregate
    assert(!p.contains("explode(zip_with"),
      s"the lag dot must be an in-row fold, not an explode:\n$p")
    assert(p.contains("zip_with"),
      s"expected the in-row dot fold in the projection:\n$p")
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** A node-sized frame as its join sees it: the edge side's join key,
    * and the columns the node side may output (column pruning can drop
    * its value column, e.g. BFS's frontier distance). */
  private case class NodeFrame(edgeKey: String, cols: Set[String])

  /** How each join of an edge-side `edgeKey` against a node frame plans:
    * "BroadcastHashJoin" or "ShuffledHashJoin" when the node frame is the
    * build side; anything else names the join and says the node frame is
    * not its build side. Other joins (lineitem ⋈ orders, the co-purchase
    * self-join, BFS's visited anti-join) are not counted, however they
    * plan. */
  private def nodeJoins(p: SparkPlan, frames: Seq[NodeFrame]): Seq[String] = {
    def names(keys: Seq[Expression]) = keys.collect { case a: Attribute => a.name }
    def isFrame(side: SparkPlan, otherKeys: Seq[Expression]) = frames.exists { f =>
      names(otherKeys) == Seq(f.edgeKey) && side.output.map(_.name).toSet.subsetOf(f.cols)
    }
    Aqe.collect(p) {
      case j: BaseJoinExec if isFrame(j.right, j.leftKeys) || isFrame(j.left, j.rightKeys) =>
        val side = if (isFrame(j.right, j.leftKeys)) BuildRight else BuildLeft
        j match {
          case b: BroadcastHashJoinExec if b.buildSide == side => "BroadcastHashJoin"
          case h: ShuffledHashJoinExec if h.buildSide == side => "ShuffledHashJoin"
          case _ => s"${j.nodeName} (node frame not the build side)"
        }
    }
  }

  /** Runs `q` and returns how its node-frame joins planned, and its rows.
    * The plans are every executed plan the session reported meanwhile,
    * read from a `QueryExecutionListener`: one per action, so each
    * round's `localCheckpoint` hands over that round's plan (the returned
    * frame's own lineage starts at the last checkpoint). */
  private def graphRun(q: String, frames: Seq[NodeFrame]): (Seq[String], Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    BusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val rows = SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
      BusDrain.drain(spark.sparkContext)
      (plans.asScala.toSeq.flatMap(nodeJoins(_, frames)), rows)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Pins `GraphLayout`'s contract on the node-frame joins of `keys`:
    * broadcast under the gate; past it (the sys-prop limit at 0, and
    * Catalyst's auto-broadcast off so the size estimator cannot sneak the
    * refused broadcast back in — which is exactly what the explicit
    * shuffle_hash hint prevents in production) a shuffled-hash join;
    * results identical either way. */
  private def assertGated(keys: Map[String, Seq[NodeFrame]], what: String): Unit = {
    val under = keys.map { case (q, frames) => q -> graphRun(q, frames) }
    for ((q, (joins, _)) <- under)
      assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"),
        s"$q should broadcast the $what under the gate: $joins")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.graph.broadcastNodeLimit") = "0"
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      for ((q, frames) <- keys) {
        val (joins, rows) = graphRun(q, frames)
        assert(joins.nonEmpty && joins.forall(_ == "ShuffledHashJoin"),
          s"$q must plan a shuffled-hash $what join past the gate: $joins")
        assert(rows == under(q)._2, s"$q results must not depend on the join mode")
      }
    } finally {
      sys.props.remove("graft.graph.broadcastNodeLimit")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("iterative graph joins: broadcast under the node gate, shuffled-hash past it") {
    // GraphLayout's contract (VERDICT r8 What's-wrong #2): the node-sized
    // rank/estimate/frontier frame broadcasts per round ONLY while the
    // node count fits a broadcast; past the limit the same queries must
    // plan a shuffled-hash join (edge cache pre-partitioned on the join
    // key → only the node frame exchanges). Every round's join is read
    // from the plan its checkpoint executes.
    assertGated(Map(
      "graph_pagerank" -> Seq(NodeFrame("src", Set("node", "rank"))),
      "graph_k_core" -> Seq(NodeFrame("dst", Set("dst", "nv"))),
      "graph_bfs_distance" -> Seq(NodeFrame("src", Set("node", "dist")))),
      "node frame")
  }

  test("graph_hits gates hubs on the customer count and authorities on the supplier count") {
    // the directed trade graph has far fewer suppliers than customers: a
    // limit between the two counts broadcasts the authority frame and
    // shuffles the hub frame
    val counts = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .agg(countDistinct("o_custkey"), countDistinct("l_suppkey")).head()
    val (customers, suppliers) = (counts.getLong(0), counts.getLong(1))
    assert(suppliers < customers)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.graph.broadcastNodeLimit") = suppliers.toString
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val (joins, _) = graphRun("graph_hits",
        Seq(NodeFrame("src", Set("node", "h")), NodeFrame("dst", Set("node", "a"))))
      // 4 rounds: 4 authority-frame joins, and 3 hub-frame joins (round
      // 1 weighs every hub 1.0 and joins no hub frame)
      assert(joins.groupBy(identity).view.mapValues(_.size).toMap ==
        Map("BroadcastHashJoin" -> 4, "ShuffledHashJoin" -> 3),
        s"$suppliers authorities broadcast, $customers hubs shuffle: $joins")
    } finally {
      sys.props.remove("graft.graph.broadcastNodeLimit")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("one-shot degree attaches ride the GraphLayout gate (VERDICT r12 #2)") {
    // These keys attach a NODE-sized degree frame to an edge-sized frame.
    // r12 shipped them as unconditional broadcast(deg) — an executor OOM
    // at the 10⁸-node design point. They ride GraphLayout.nodeSide like
    // the iterative family: broadcast under the measured node gate,
    // shuffled-hash past it, results identical either way.
    def attach(a: (String, String), b: (String, String)) =
      Seq(NodeFrame(a._1, Set(a._1, a._2)), NodeFrame(b._1, Set(b._1, b._2)))
    assertGated(Map(
      "graph_local_clustering" -> attach("pa" -> "da", "pb" -> "db"),
      "graph_triangles" -> attach("pa" -> "da", "pb" -> "db"),
      "graph_common_neighbors" -> attach("u" -> "deg_u", "v" -> "deg_v"),
      "graph_assortativity" -> attach("src" -> "du", "dst" -> "dv")), "degree")
  }

  test("containment dedup candidates come from a shingle-keyed equi-join") {
    val p = plans("dedup_containment")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[sh".r
      .findFirstIn(p).isDefined,
      s"candidate join should be keyed by the capped shingle:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment must never compare documents all-pairs")
  }
}
