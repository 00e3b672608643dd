package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.operators.GraphLayout
import graft.plans.StepChain

/** The graph family — every `graph_*` registry key, its DuckDB twin, and
  * the edge builders they share. Two graphs underlie all thirteen:
  *  - the CO-PURCHASE graph ([[coPurchase]]): parts co-ordered in ≥ 2
  *    distinct orders, one row per unordered pair (`pa < pb`) — degree
  *    distribution, common neighbours, k-core, assortativity, triangles,
  *    local clustering;
  *  - the customer–supplier TRADE graph ([[tradePairs]]): distinct
  *    (custkey, suppkey) pairs of lineitem ⋈ orders — pagerank, BFS,
  *    HITS (tagged-long node ids, [[custId]]/[[suppId]]), random walks,
  *    label propagation, modularity (`c…`/`s…` string ids, [[namedPairs]])
  *    and Borůvka (the weighted pair aggregate over [[trade]]).
  *
  * Every node-sized frame joined to an edge-sized one — a per-round
  * rank/estimate/frontier/label/walk frame, or a one-shot degree attach —
  * goes through `GraphLayout.nodeSide`: broadcast under the measured node
  * gate, shuffled-hash past it. The gate reads a node count; where a key
  * has a degree frame, that count is its node census ([[census]]), the
  * checkpointed frame's own row count. */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  /** A key that caches or checkpoints, run in one [[StepChain.Scope]]. */
  private def scoped(body: (SparkSession, String, StepChain.Scope) => DataFrame): Q =
    (s, d) => StepChain.scoped(s)(body(s, d, _))

  // ---- edge builders ------------------------------------------------------

  /** The co-purchase edge set: (pa, pb), pa < pb, parts co-ordered in at
    * least 2 distinct orders. */
  private def coPurchase(s: SparkSession, d: String): DataFrame = {
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    b.as("b1").join(b.hint("shuffle_hash").as("b2"),
        col("b1.o") === col("b2.o") && col("b1.p") < col("b2.p"))
      .groupBy(col("b1.p").as("pa"), col("b2.p").as("pb"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("pa", "pb")
  }

  /** lineitem ⋈ orders — one row per traded line. */
  private def trade(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))

  /** The distinct trade pairs under the two (aliased) key projections. */
  private def tradePairs(s: SparkSession, d: String)(
      cust: Column, supp: Column): DataFrame =
    trade(s, d).select(cust, supp).distinct()

  /** Tagged-long trade node ids (guide §2.3): customer k → 2k, supplier
    * k → 2k+1. A bijection with the `c`/`s` strings, so every group and
    * join match is unchanged, while joins, aggregations and shuffles key
    * on a long instead of a ~10-char string. [[tagName]] inverts it. */
  private def custId: Column = col("o_custkey") * 2
  private def suppId: Column = col("l_suppkey") * 2 + 1

  /** The display string of a tagged id — derived only for the output,
    * whose tie-break order stays on the string form. */
  private def tagName(c: Column): Column =
    when(c % 2 === 0, concat(lit("c"), (c / 2).cast("long")))
      .otherwise(concat(lit("s"), ((c - 1) / 2).cast("long")))

  /** String-named trade pairs (cn, sn): the distinct runs on the LONG key
    * pair and each string is built once per distinct pair (r16, guide
    * §2.3). Keys whose tie-breaks or md5 RNG read the strings use these. */
  private def namedPairs(s: SparkSession, d: String): DataFrame =
    tradePairs(s, d)(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .select(concat(lit("c"), col("ck")).as("cn"),
        concat(lit("s"), col("sk")).as("sn"))

  /** Both orientations of each pair as (src, dst). */
  private def bothWays(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a).as("src"), col(b).as("dst"))
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))

  /** Every endpoint occurrence of each pair as `node`. */
  private def endpoints(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a).as("node")).unionAll(pairs.select(col(b).as("node")))

  /** The node census: the degree frame (`key`, `name` = count of rows per
    * key), checkpointed, and its row count — the node count the
    * GraphLayout gate reads, with no separate countDistinct pass. */
  private def census(sc: StepChain.Scope, ends: DataFrame, key: String,
                     name: String): (DataFrame, Long) = {
    val deg = sc.checkpoint(ends.groupBy(key).agg(count(lit(1)).as(name)))
    (deg, deg.count())
  }

  /** The degree-ordered orientation of compact-forward triangle
    * enumeration (Latapy 2008): attach both endpoint degrees (node-sized
    * `deg` through the gate), then orient each edge from the
    * (degree, id)-smaller endpoint `u` to the larger `v`, carrying `v`'s
    * degree `dv`. */
  private def orient(edges: DataFrame, deg: DataFrame, nNodes: Long): DataFrame = {
    val withDeg = edges
      .join(GraphLayout.nodeSide(
        deg.select(col("node").as("pa"), col("deg").as("da")), nNodes), "pa")
      .join(GraphLayout.nodeSide(
        deg.select(col("node").as("pb"), col("deg").as("db")), nNodes), "pb")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    withDeg.select(
      when(aFirst, col("pa")).otherwise(col("pb")).as("u"),
      when(aFirst, col("pb")).otherwise(col("pa")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
  }

  /** Oriented wedges: pairs of oriented edges `w1`, `w2` sharing their
    * source, ordered by (dv, v) — per-node fan-out O(√m). */
  private def wedges(oriented: DataFrame): DataFrame = {
    val vFirst = col("w1.dv") < col("w2.dv") ||
      (col("w1.dv") === col("w2.dv") && col("w1.v") < col("w2.v"))
    oriented.as("w1").join(oriented.hint("shuffle_hash").as("w2"),
      col("w1.u") === col("w2.u") && vFirst)
  }

  /** The label-propagation substrate over string-named trade pairs: the
    * checkpointed node set, its count, and the cached edge frame (both
    * orientations plus a self-loop per node, which damps sync-LPA's
    * bipartite oscillation), partitioned by src under the broadcast gate
    * (the broadcast label join keeps it, so the argmax runs without an
    * exchange) and by dst past it (the join key). */
  private def labelGraph(sc: StepChain.Scope,
                         pairs: DataFrame): (DataFrame, Long, DataFrame) = {
    val nodes = sc.checkpoint(endpoints(pairs, "cn", "sn").distinct())
    val n = nodes.count()
    val edges = sc.cache(bothWays(pairs, "cn", "sn")
      .unionAll(nodes.select(col("node").as("src"), col("node").as("dst")))
      .repartition(if (GraphLayout.useBroadcast(n)) col("src") else col("dst")))
    (nodes, n, edges)
  }

  /** One synchronous label-propagation round: every node takes the label
    * most frequent among its neighbours (cnt desc, label asc — integer
    * counts and a lexicographic tie-break make the pick exact). */
  private def lpaRound(edges: DataFrame, labels: DataFrame, n: Long): DataFrame = {
    val wArg = Window.partitionBy("src").orderBy(col("cnt").desc, col("label").asc)
    edges
      .join(GraphLayout.nodeSide(labels, n), edges("dst") === labels("node"))
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("src").as("node"), col("label"))
  }

  val qs: Map[String, Q] = Map[String, Q](

    /** DEGREE DISTRIBUTION of the co-purchase graph (same support-≥2
      * edge set as `graph_triangles` — parts co-ordered in ≥2 distinct
      * orders) — the first diagnostic of any graph workload: a
      * heavy-tailed degree histogram is WHY `graph_triangles` needs its
      * degree orientation and `join_skew_salted` its salt. Output is
      * degree → node count → share; the histogram frame is
      * degree-domain-sized, so its share window is bounded. */
    "graph_degree_distribution" -> ((s, d) => {
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      endpoints(coPurchase(s, d), "pa", "pb")
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .withColumn("share", round(col("n_nodes") / sum("n_nodes").over(w), 6))
        .orderBy("degree")
    }),

    /** COMMON-NEIGHBOR / JACCARD LINK PREDICTION (Liben-Nowell &
      * Kleinberg 2003) — scores for node pairs NOT yet connected:
      * wedges enumerated per center (the one pair-generating step —
      * keyed by center node, C(deg,2) fan-out bounded by the support
      * floor exactly as in `graph_triangles`; a production run caps or
      * samples hub centers first, which the degree histogram above
      * sizes), distinct-center counts per candidate pair, existing
      * edges removed by an anti-join, degrees attached through the
      * GraphLayout gate. Deterministic global top-20 by (common desc,
      * pair). */
    "graph_common_neighbors" -> scoped { (s, d, sc) =>
      val edges = sc.checkpoint(coPurchase(s, d))
      val und = bothWays(edges, "pa", "pb")
      val (deg, nNodes) = census(sc, und, "src", "deg")
      val cand = und.as("e1").join(und.hint("shuffle_hash").as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .groupBy(col("e1.dst").as("u"), col("e2.dst").as("v"))
        .agg(count(lit(1)).as("common"))
        .join(edges, col("u") === col("pa") && col("v") === col("pb"), "left_anti")
      cand
        .join(GraphLayout.nodeSide(
          deg.select(col("src").as("u"), col("deg").as("deg_u")), nNodes), "u")
        .join(GraphLayout.nodeSide(
          deg.select(col("src").as("v"), col("deg").as("deg_v")), nNodes), "v")
        .select(col("u"), col("v"), col("common"), col("deg_u"), col("deg_v"),
          round(col("common") / (col("deg_u") + col("deg_v") - col("common")), 6)
            .as("jaccard"))
        .orderBy(col("common").desc, col("u"), col("v")).limit(20)
    },

    /** K-CORE DECOMPOSITION — coreness per node of the co-purchase
      * graph via the distributed H-INDEX fixpoint (Lü et al. 2016:
      * start from degrees, repeatedly replace each node's estimate
      * with the h-index of its neighbors' estimates; the sequence is
      * non-increasing and converges to the core number — the
      * peeling algorithm's result WITHOUT its sequential peel order).
      * Each round is ONE edge-keyed join + ONE per-node window rank
      * (h = max over desc-ranked neighbor values of min(rank, value)),
      * the same cached pre-partitioned edge layout as
      * `graph_pagerank`; convergence is "no estimate changed" (exact —
      * no float tolerance), scanned on each round's checkpoint, which
      * also keeps the plan shallow. Output: the coreness histogram. The
      * DuckDB twin unrolls the fixpoint 30× ([[kCoreSql]]); FeatSpec
      * also pins equality with driver-side exact peeling. */
    "graph_k_core" -> scoped { (s, d, sc) =>
      val und0 = sc.cache(bothWays(coPurchase(s, d), "pa", "pb"))
      // Gated layout (GraphLayout): while the node-sized estimate frame
      // fits a broadcast, partition the edge cache by src — the broadcast
      // dst-keyed lookup preserves that partitioning, so the per-node
      // window rank runs with NO per-round exchange. Past the limit
      // (10⁸-node graphs, where a per-round full broadcast dies at the
      // driver), partition by dst instead: the shuffled-hash est join then
      // exchanges only the node-sized frame, and the src-keyed window
      // exchanges the per-edge (src, neighbor-value) messages — the
      // Pregel-minimal volume for an h-index gather, which has no smaller
      // exchange than its messages. The census degree frame seeds the
      // h-index fixpoint.
      val (deg, nNodes) = census(sc, und0, "src", "est")
      val und = sc.cache(und0.repartition(
        if (GraphLayout.useBroadcast(nNodes)) col("src") else col("dst")))
      val hw = Window.partitionBy("src").orderBy(col("nv").desc, col("dst"))
      var est = deg
      var converged = false
      var rounds = 0
      while (!converged && rounds < 30) {
        // every round checkpoints its new estimate beside the one it
        // replaced, so the convergence test scans materialized rows
        val next = sc.checkpoint(und
          .join(GraphLayout.nodeSide(
              est.select(col("src").as("dst"), col("est").as("nv")), nNodes),
            "dst")
          .withColumn("rk", row_number().over(hw))
          .groupBy("src")
          .agg(max(least(col("rk").cast("long"), col("nv"))).as("h"))
          .join(est, "src")
          .select(col("src"), col("est").as("old"),
            least(col("est"), col("h")).as("est")))
        // estimates never increase, so the fixpoint is the first round
        // that changes none
        converged = next.filter(col("est") =!= col("old")).isEmpty
        rounds += 1
        sc.release(est) // the superseded round, the deg seed included
        est = next
      }
      if (!converged)
        // The h-index sequence is non-increasing and integer, so it
        // converges in ≤ max-degree rounds — but a stringier graph than
        // the test pins could need more than the cap, and returning the
        // partial estimates silently would hand back UPPER BOUNDS, not
        // core numbers.
        org.slf4j.LoggerFactory.getLogger("graft.graph_k_core").warn(
          s"h-index fixpoint NOT converged after $rounds rounds; " +
            "returned values are upper bounds")
      est.groupBy(col("est").as("coreness"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("coreness")
    },

    /** DEGREE ASSORTATIVITY (Newman 2002) — do high-degree parts
      * co-purchase with high-degree parts? Pearson correlation of
      * endpoint degrees over the DIRECTED edge list (both orientations,
      * the standard undirected convention): one gated degree attach
      * + one aggregation of exact integer sums; the correlation divides
      * exact operands. The sign is the one-number summary the degree
      * histogram (`graph_degree_distribution`) cannot give. */
    "graph_assortativity" -> scoped { (s, d, sc) =>
      val und = bothWays(sc.checkpoint(coPurchase(s, d)), "pa", "pb")
      val (deg, nNodes) = census(sc, und, "src", "deg")
      und
        .join(GraphLayout.nodeSide(
          deg.select(col("src"), col("deg").as("du")), nNodes), "src")
        .join(GraphLayout.nodeSide(
          deg.select(col("src").as("dst"), col("deg").as("dv")), nNodes), "dst")
        .agg(count(lit(1)).as("m"), sum("du").as("su"), sum("dv").as("sv"),
          sum(col("du") * col("dv")).as("suv"),
          sum(col("du") * col("du")).as("suu"),
          sum(col("dv") * col("dv")).as("svv"))
        .select((col("m") / 2).cast("long").as("n_edges"),
          round((col("suv").cast("double") / col("m") -
            (col("su").cast("double") / col("m")) * (col("sv").cast("double") / col("m"))) /
            (sqrt(col("suu").cast("double") / col("m") -
              (col("su").cast("double") / col("m")) * (col("su").cast("double") / col("m"))) *
              sqrt(col("svv").cast("double") / col("m") -
                (col("sv").cast("double") / col("m")) * (col("sv").cast("double") / col("m")))), 6)
            .as("assortativity"))
    },

    /** TRIANGLE COUNT + global clustering coefficient of the co-purchase
      * graph (parts appearing together in ≥ 2 distinct orders — the
      * support threshold that separates signal pairs from one-off basket
      * noise, as in `mba_frequent_pairs`). The algorithm is the
      * degree-ordered compact-forward method (Latapy 2008 / the
      * Suri–Vassilvitskii MR formulation): orient every edge from the
      * (degree, id)-smaller endpoint to the larger, enumerate wedges by
      * self-joining oriented edges on their SOURCE, and close them
      * against the oriented edge set with an equi-join — per-node wedge
      * fan-out is bounded by O(√m), so the shuffle never sees the
      * quadratic hub blow-up a naive id-ordering admits at 100 TB.
      * Everything is integer-exact; the clustering coefficient
      * 3·T / Σ C(deg,2) gets the one rounded division. */
    "graph_triangles" -> scoped { (s, d, sc) =>
      // the gate needs the node count before the final plan is built, so
      // the edges are checkpointed once: otherwise the census job and the
      // final plan would each run the co-purchase self-join
      val edges = sc.checkpoint(coPurchase(s, d))
      val (deg, nNodes) = census(sc, endpoints(edges, "pa", "pb"), "node", "deg")
      val oriented = orient(edges, deg, nNodes)
      val tri = wedges(oriented).select(col("w1.v").as("u"), col("w2.v").as("v"))
        .join(oriented.select("u", "v"), Seq("u", "v"))
        .agg(count(lit(1)).as("n_triangles"))
      val totals = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("deg")) / 2).cast("long").as("n_edges"),
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
      totals.crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering"))
    },

    /** PER-NODE local clustering coefficient (Watts–Strogatz 1998) over
      * the same ≥2-order co-purchase graph as `graph_triangles` — the
      * global row reports ONE scalar (3T/wedges); ego-level cohesion
      * (which nodes sit in tight cliques vs hub-and-spoke stars) needs
      * the per-node ratio lcc(v) = 2·T(v)/(deg(v)·(deg(v)−1)). Same
      * degree-ordered compact-forward enumeration (per-node wedge
      * fan-out O(√m) — hub-safe at 100 TB), but each closed wedge now
      * keeps its CENTER so the triangle emits all three corners; one
      * explode + keyed count gives T(v). All counts integer-exact; the
      * single rounded division is output-only (no decision rides it —
      * COVERAGE doctrine); ordering on identical doubles with integer
      * tiebreak. Top-50 by lcc. */
    "graph_local_clustering" -> scoped { (s, d, sc) =>
      val edges = sc.checkpoint(coPurchase(s, d))
      val (deg, nNodes) = census(sc, endpoints(edges, "pa", "pb"), "node", "deg")
      val oriented = orient(edges, deg, nNodes)
      val perNode = wedges(oriented)
        .select(col("w1.u").as("c"), col("w1.v").as("a"), col("w2.v").as("b"))
        .join(oriented.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"))
        .select(explode(array(col("c"), col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      deg.join(perNode, Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("lcc", round(
          lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6))
        .orderBy(col("lcc").desc, col("node")).limit(50)
    },

    /** PAGERANK on the customer↔supplier trade graph — the canonical
      * iterative-distributed-joins algorithm (the shape GraphX/Pregel
      * formalize, expressed directly in the DataFrame API so Catalyst
      * plans every step): nodes = customers and suppliers that traded,
      * undirected edges = distinct (customer, supplier) pairs from
      * lineitem⋈orders, 8 damped (0.85) power iterations from uniform.
      * Each iteration is ONE join + ONE keyed aggregation; the edge
      * frame is computed once, cached, and reused — at 100 TB it is
      * hash-partitioned once on src and every iteration co-locates on
      * that layout. Ranks are re-rounded to the 1e-9 grid every
      * iteration so both engines accumulate IDENTICAL operands (float
      * sum-order drift cannot compound); the degree division is by an
      * exact integer. Top-25 by rank, deterministic tiebreak. */
    "graph_pagerank" -> scoped { (s, d, sc) =>
      val damping = 0.85
      val iters = 8
      // Node ids ride the tagged long through the whole derivation and
      // every iteration (r16: measured 7.1 → 3.8 s at sf0.1, bit-identical
      // output at all SFs); the display string is derived only in the
      // final top-25 select.
      val edges0 = sc.cache(bothWays(tradePairs(s, d)(custId.as("cn"), suppId.as("sn")),
        "cn", "sn"))
      // ONE cached edge frame carrying the out-degree (the structure is
      // static across iterations — join it once, not once per round),
      // hash-partitioned UP FRONT by the key its per-iteration consumer
      // needs. Broadcast mode (nodes fit a broadcast): partition by dst —
      // the broadcast rank join preserves the child's partitioning, so
      // the dst-keyed inflow aggregation runs with NO per-iteration
      // exchange; eight shuffles collapse into this single one. Shuffle
      // mode (past GraphLayout.broadcastNodeLimit, where a per-iteration
      // full broadcast of a 10⁸-row rank vector dies at the driver):
      // partition by src — the shuffled-hash rank join then exchanges
      // ONLY the node-sized rank frame per round, and the dst aggregation
      // exchanges map-side-combined partials (node-bounded per task),
      // never the raw edge frame. The census degree frame also seeds the
      // uniform rank vector.
      val (deg, n) = census(sc, edges0, "src", "deg")
      val edgesDeg = sc.cache(edges0
        .join(deg, "src")
        .repartition(if (GraphLayout.useBroadcast(n)) col("dst") else col("src")))
      // One power iteration. The rank frame is node-sized → gated side of
      // the join (see the layout note above); the edge scan stays in place.
      def step(ranks: DataFrame): DataFrame = {
        val contrib = edgesDeg
          .join(GraphLayout.nodeSide(ranks, n),
            edgesDeg("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") / col("deg")).as("inflow"))
        contrib.select(col("dst").as("node"),
          round(lit((1 - damping) / n) + lit(damping) * col("inflow"), 9).as("rank"))
      }
      // A checkpoint truncates the lineage so the plan stays shallow (an
      // 8-deep nested join tree sends Catalyst re-analysis superlinear —
      // the same reason GraphX/ALS checkpoint iteratively) — but
      // materializing EVERY iteration pays one extra distributed job per
      // round, so checkpoint every second round: plans stay ≤ 2 joins
      // deep and half the materialization jobs disappear (A/B-measured
      // ~15 % off the query's wall time at sf0.1, before the
      // pre-partitioning above removed the per-iteration exchange). The
      // final round is always checkpointed: the caches this plan reads
      // are released on return, so an un-truncated final lineage would
      // force the caller's action to recompute the whole edge pipeline
      // (measured ~1.6× on the query). Only the latest checkpoint stays
      // resident; the seed reads `deg`, which stays with the edge cache.
      // The seed divides in Scala: on an empty graph (n = 0) Spark's ANSI
      // division would throw while constant folding.
      var ranks = sc.checkpoint(step(step(deg
        .select(col("src").as("node"), round(lit(1.0 / n), 9).as("rank")))))
      for (_ <- 2 to iters / 2) {
        val next = sc.checkpoint(step(step(ranks)))
        sc.release(ranks)
        ranks = next
      }
      ranks.select(tagName(col("node")).as("node"),
          round(col("rank"), 9).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(25)
    },

    /** SINGLE-SOURCE BFS over the customer↔supplier trade graph — the
      * other canonical iterative-joins primitive next to
      * `graph_pagerank` (reachability / hop-distance; the Pregel
      * textbook example). Frontier expansion: each round joins the
      * (node-sized, gated) frontier against the one cached,
      * src-pre-partitioned edge frame and anti-joins the visited set —
      * so every round is one co-located join plus one keyed dedup, and
      * the edge scan never re-shuffles (the pagerank layout). The
      * source is the smallest customer node (deterministic); 6 rounds
      * covers the diameter of the dense bipartite trade graph. Output
      * is the hop-distance histogram; the oracle replays the expansion
      * as a recursive CTE with UNION-dedup (textbook SQL BFS). */
    "graph_bfs_distance" -> scoped { (s, d, sc) =>
      import s.implicits._
      val maxHops = 6
      // Tagged-long node ids: the frontier joins, the distinct dedup and
      // the visited anti-join all key on a long (node ids never appear
      // in the output at all).
      val pairs = tradePairs(s, d)(custId.as("cn"), suppId.as("sn"))
      val edges = sc.cache(bothWays(pairs, "cn", "sn").repartition(col("src")))
      // min over the (even-tagged) customer side = 2 · min custkey —
      // the same source node the string form picked; none on an empty
      // graph, whose histogram is then empty
      val src0 = Option(pairs.agg(min(col("cn"))).head().getAs[java.lang.Long](0))
        .map(_.longValue)
      var visited = src0.map((_, 0)).toSeq.toDF("node", "dist")
      var frontier = visited
      // The frontier can reach O(nodes) at the middle hop of a dense
      // graph, so its join side is gated per round on the measured
      // frontier size (GraphLayout): broadcast while it fits, else a
      // shuffled-hash join that — edges being pre-partitioned by src,
      // the join key — exchanges only the frontier frame. The count is
      // free: it doubles as the loop's emptiness check and reads the
      // just-checkpointed frame.
      var frontierN = src0.size.toLong
      var hop = 0
      while (hop < maxHops && frontierN > 0) {
        hop += 1
        val next = sc.checkpoint(edges
          .join(GraphLayout.nodeSide(frontier, frontierN),
            edges("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node").as("vn")), col("node") === col("vn"), "left_anti")
          .select(col("node"), lit(hop).as("dist")))
        val grown = sc.checkpoint(visited.unionAll(next))
        // the prior visited/frontier checkpoints are superseded once
        // `next` and `grown` are materialized
        sc.release(visited)
        sc.release(frontier)
        visited = grown
        frontier = next
        frontierN = next.count()
      }
      visited.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },

    /** HITS (Kleinberg's hubs-and-authorities) over the DIRECTED
      * customer→supplier trade graph — the link-analysis sibling
      * `graph_pagerank` leaves open: customers score as HUBS (they buy
      * from good suppliers), suppliers as AUTHORITIES (they are bought
      * by good hubs), by 4 rounds of mutual reinforcement with L1
      * normalization. Each half-round is ONE equi-join + ONE keyed
      * aggregation over the cached edge frame (the first, whose hub
      * weights are all 1.0, needs no join); score vectors ride the
      * GraphLayout broadcast gate like pagerank's ranks; every score
      * re-rounds to the 1e-9 grid and per-node sums of grid values ride
      * DECIMAL, so the DuckDB twin's unrolled-iteration CTE chain (the
      * `graph_pagerank` oracle trick) replays the fixpoint bit-exactly.
      * Output: top-10 hubs and top-10 authorities. */
    "graph_hits" -> scoped { (s, d, sc) =>
      val iters = 4
      // Tagged-long node ids: every half-round join and keyed DECIMAL
      // aggregation keys on a long; the display string is derived just
      // before the top-10 selects, which keep their tie-break order on
      // the string form.
      val edges = sc.cache(tradePairs(s, d)(custId.as("src"), suppId.as("dst"))
        .repartition(col("src")))
      // hubs are customers and authorities suppliers: each score frame
      // rides the gate on its own node count, both from one aggregate
      val counts = edges.agg(countDistinct("src"), countDistinct("dst")).head()
      val (nHubs, nAuths) = (counts.getLong(0), counts.getLong(1))
      // round 1 weighs every hub 1.0, so it joins no hub frame: each
      // authority's raw score is its in-degree
      var hubs: DataFrame = null
      var auths: DataFrame = null
      for (i <- 1 to iters) {
        val weighted =
          if (hubs == null) edges.select(col("dst"), lit(1.0).as("h"))
          else edges.join(GraphLayout.nodeSide(hubs, nHubs), edges("src") === hubs("node"))
        val aRaw = sc.checkpoint(weighted
          .groupBy(col("dst"))
          .agg(sum(col("h").cast("decimal(28,9)")).as("araw")))
        // the previous round's score checkpoints are superseded once this
        // one materializes: only the final pair stays for the top-10s
        if (i > 1) { sc.release(hubs); sc.release(auths) }
        // the L1 total rides as a BROADCAST 1-row cross join instead of
        // a driver `.head()` collect (r17): the normalization stays a
        // lazy narrow projection over the just-checkpointed raw frame
        // (the r16 form), and the per-half-round blocking round-trip is
        // gone — 2 driver actions per iteration (the two checkpoints)
        // instead of 4. Arithmetic unchanged: sum(decimal(28,9)) cast
        // to double is exactly the old getDecimal.doubleValue scalar.
        auths = aRaw
          .crossJoin(broadcast(aRaw.agg(sum("araw").as("atot"))))
          .select(col("dst").as("node"),
            round(col("araw").cast("double") / col("atot").cast("double"), 9)
              .as("a"))
        val hRaw = sc.checkpoint(edges
          .join(GraphLayout.nodeSide(auths, nAuths),
            edges("dst") === auths("node"))
          .groupBy(col("src"))
          .agg(sum(col("a").cast("decimal(28,9)")).as("hraw")))
        hubs = hRaw
          .crossJoin(broadcast(hRaw.agg(sum("hraw").as("htot"))))
          .select(col("src").as("node"),
            round(col("hraw").cast("double") / col("htot").cast("double"), 9)
              .as("h"))
      }
      val topH = hubs.select(tagName(col("node")).as("node"), col("h"))
        .orderBy(col("h").desc, col("node")).limit(10)
        .select(lit("hub").as("role"), col("node"), col("h").as("score"))
      val topA = auths.select(tagName(col("node")).as("node"), col("a"))
        .orderBy(col("a").desc, col("node")).limit(10)
        .select(lit("authority").as("role"), col("node"),
          col("a").as("score"))
      topH.unionAll(topA).orderBy("role", "node")
    },

    /** DETERMINISTIC RANDOM WALKS over the trade graph — the walk
      * corpus node2vec/DeepWalk embeddings train on, generated the way
      * a 100 TB graph must: the edge frame carries each neighbor's
      * per-source INDEX and the source degree (one window pass, cached
      * pre-partitioned on the join key), and every step is ONE
      * equi-join — the walk frontier joins its current nodes and picks
      * neighbor index md5(walk, step, node) % degree. The house md5 is
      * the RNG (mergeable, replayable — no RNG state, the
      * `ml_bootstrap_ci` trick on a graph), so the DuckDB twin replays
      * every walk exactly through a recursive CTE. 64 highest-degree
      * starts × 4 walks × 6 steps; output is the visit census the
      * embedding sampler consumes. The walk frame rides the GraphLayout
      * gate: bounded here, node-scale walk sets flip to the
      * shuffled-hash join like pagerank's rank vector. */
    "graph_random_walks" -> scoped { (s, d, sc) =>
      val steps = 6
      // string ids throughout — they are md5-RNG inputs (`pick`) and
      // must stay bit-identical
      val iw = Window.partitionBy("src").orderBy("dst")
      val edges = sc.cache(bothWays(namedPairs(s, d), "cn", "sn")
        .withColumn("idx", row_number().over(iw) - 1)
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
        .repartition(col("src")))
      val starts = edges.groupBy("src").agg(max("deg").as("deg"))
        .orderBy(col("deg").desc, col("src")).limit(64)
        .select(col("src").as("start"))
      var walks = sc.checkpoint(starts
        .crossJoin(broadcast(s.range(4).select(col("id").as("w"))))
        .select(concat(col("start"), lit("#"), col("w")).as("walk_id"),
          col("start").as("cur")))
      val nWalks = walks.count()
      var visits = walks.select(col("cur").as("node"),
        lit(0).as("step"))
      for (st <- 1 to steps) {
        val pick = expr(s"CAST(conv(substring(md5(concat(walk_id, ':', " +
          s"$st, ':', cur)), 1, 8), 16, 10) AS BIGINT)")
        // every step checkpoints: the walk frame is start-set-sized
        // (cheap to materialize), each frame is consumed TWICE (next
        // step + the visit union), and an un-truncated final lineage
        // would recompute against the by-then-released edge cache
        // at action time (the BENCH_TRIAGE_r09 checkpoint lesson)
        walks = sc.checkpoint(edges
          .join(GraphLayout.nodeSide(walks.withColumn("h", pick), nWalks),
            col("src") === col("cur") && col("idx") === col("h") % col("deg"))
          .select(col("walk_id"), col("dst").as("cur")))
        visits = visits.unionAll(
          walks.select(col("cur").as("node"), lit(st).as("step")))
      }
      visits.groupBy("node").agg(count(lit(1)).as("n_visits"),
          countDistinct("step").as("n_steps_seen"))
        .orderBy(col("n_visits").desc, col("node")).limit(25)
    },

    /** LABEL PROPAGATION community detection (Raghavan et al. 2007) on
      * the customer↔supplier trade graph — the distributed community
      * primitive the graph suite lacked (pagerank/HITS rank, k-core
      * peels, components connect; LPA CLUSTERS). Synchronous updates, 4
      * rounds, each ONE equi-join + ONE keyed count + ONE windowed
      * argmax (cnt DESC, label ASC — integer counts and a lexicographic
      * tiebreak make every pick exact); self-loops damp the bipartite
      * two-coloring oscillation sync-LPA is known for. The edge frame is
      * cached and pre-partitioned ONCE on the aggregation key; the
      * node-sized label frame rides the GraphLayout broadcast/shuffle
      * gate; every round checkpoints (each label frame feeds BOTH the
      * next round and the census union). Oracle: the fixpoint unrolled
      * as chained CTEs. Output: the COARSENING TRAJECTORY — per round,
      * community count and largest-community size (on the dense trade
      * graph LPA collapses 1500 → 9 → 4 → 1 at sf0.01; the trajectory
      * is the informative object, and is what a mixture-balance pipeline
      * actually monitors). */
    "graph_label_propagation" -> scoped { (s, d, sc) =>
      val iters = 4
      // labels stay strings: the per-round argmax tie-break compares
      // label strings and must keep doing so bit-for-bit
      val (nodes, n, edges) = labelGraph(sc, namedPairs(s, d))
      var labels = nodes.select(col("node"), col("node").as("label"))
      val perRound = (1 to iters).map { i =>
        labels = sc.checkpoint(lpaRound(edges, labels, n))
        labels.withColumn("iter", lit(i))
      }
      perRound.reduce(_ unionAll _)
        .groupBy("iter", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("iter").agg(count(lit(1)).as("n_communities"),
          max(col("cnt")).as("largest_size"))
        .orderBy("iter")
    },

    /** MODULARITY of the 2-round label-propagation partition — the
      * QUALITY measure community detection is incomplete without
      * (`graph_label_propagation` reports the coarsening trajectory;
      * this scores the partition at the informative depth — round 2,
      * before the dense trade graph collapses to one block):
      * Q = Σ_c [L_c/m − (D_c/2m)²] computed as the EXACT integer
      * rational (4·m·L_c − D_c²)/(4·m²) per community — internal-edge
      * counts by joining the (checkpointed) edge list against the
      * node-sized label frame on BOTH endpoints (each side rides the
      * GraphLayout broadcast/shuffle gate), degree sums integer. The one
      * division is output-only, grid-9 with the signed-zero guard (a
      * 1-internal-edge community's q_term can round to ±0). Same
      * propagation discipline as LPA: cached pre-partitioned edges,
      * per-round checkpoint. */
    "graph_modularity" -> scoped { (s, d, sc) =>
      // read by m, degrees, and the two-sided label join
      val pairs = sc.checkpoint(namedPairs(s, d))
      val (nodes, n, edges) = labelGraph(sc, pairs)
      val m = pairs.count()
      val round1 = sc.checkpoint(
        lpaRound(edges, nodes.select(col("node"), col("node").as("label")), n))
      val labels = sc.checkpoint(lpaRound(edges, round1, n))
      sc.release(round1)
      val deg = endpoints(pairs, "cn", "sn")
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val la = GraphLayout.nodeSide(
        labels.select(col("node").as("cn"), col("label").as("lab_a")), n)
      val lb = GraphLayout.nodeSide(
        labels.select(col("node").as("sn"), col("label").as("lab_b")), n)
      val lin = pairs.join(la, "cn").join(lb, "sn")
        .filter(col("lab_a") === col("lab_b"))
        .groupBy(col("lab_a")).agg(count(lit(1)).as("internal_edges"))
        .withColumnRenamed("lab_a", "label")
      val dsum = labels.join(GraphLayout.nodeSide(deg, n)
          .withColumnRenamed("node", "dnode"),
          col("node") === col("dnode"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
      dsum.join(lin, Seq("label"), "left")
        .select(col("label").as("community"), col("n_nodes"),
          coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
          col("degree_sum"))
        .withColumn("q_term", round(
          (lit(4L) * lit(m) * col("internal_edges")
            - col("degree_sum") * col("degree_sum")).cast("double")
            / lit(4L * m * m).cast("double"), 9) + lit(0.0))
        .orderBy("community")
    },

    /** MINIMUM SPANNING FOREST by distributed Borůvka — the graph
      * suite's first OPTIMIZATION operator (everything else measures or
      * propagates; this one SOLVES): weighted customer–supplier trade
      * edges (weight = exact integer cents of traded value), each round every component
      * picks its cheapest incident edge under the (weight, a, b) total
      * order — the tie-break makes the MST UNIQUE, so Borůvka here must
      * equal Prim/Kruskal anywhere — then chosen components merge via
      * `Dedup.connectedComponents`. ≤ ⌈log₂ n⌉ rounds, each ONE
      * equi-join + ONE windowed min + one bounded CC — the
      * vertex-centric MST shape that scales (GraphFrames/Giraph run
      * exactly this). Everything is integers and strings: the oracle
      * (12 unrolled Borůvka rounds, per-round closure CTEs) is exact
      * with NO numeric grid at all. Output: the forest edge list.
      * R10Spec cross-checks against a driver Kruskal. */
    "graph_mst_boruvka" -> scoped { (s, d, sc) =>
      // the 600k-row weight aggregation groups by LONG keys and builds
      // the endpoint strings once per GROUP (r16, guide §2.3) — the key
      // pair is in bijection with the string pair, so the groups, the
      // DECIMAL weight sums, and everything downstream (including the
      // (w, a, b) string tie-break) are unchanged
      val we = sc.checkpoint(trade(s, d)
        .groupBy(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        // exact integer cents: distinct real-valued weights, no grid
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("w"))
        .select(concat(lit("c"), col("ck")).as("a"),
          concat(lit("s"), col("sk")).as("b"), col("w")))
      // The MST output needs only ORIGINAL endpoints, so no node→component
      // map is ever maintained: current component labels ride the edge
      // frame itself, which SHRINKS every round as intra-component edges
      // drop (labels only merge, so a dropped edge can never come back).
      // This replaces the old per-round relabel of the FULL original edge
      // set through two node-sized joins + a node-sized map update.
      var edges = sc.checkpoint(we.select(col("a"), col("b"), col("w"),
        col("a").as("ca"), col("b").as("cb")))
      sc.release(we) // superseded by the labeled copy
      var mst = s.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("a", StringType),
          StructField("b", StringType), StructField("w", LongType))))
      val wMin = Window.partitionBy("cpick")
        .orderBy(col("w").asc, col("a").asc, col("b").asc)
      var round = 0
      var done = false
      while (!done && round < 20) {
        if (edges.isEmpty) done = true
        else {
          val cand = edges.select(col("ca").as("cpick"), col("a"), col("b"),
              col("w"), col("ca"), col("cb"))
            .unionAll(edges.select(col("cb").as("cpick"), col("a"), col("b"),
              col("w"), col("ca"), col("cb")))
          // `chosen` stays held: the lazy MST union reads every round's
          // picks at the final action
          val chosen = sc.checkpoint(cand.withColumn("rn", row_number().over(wMin))
            .filter(col("rn") === 1)
            .select(col("a"), col("b"), col("w"), col("ca"), col("cb"))
            .distinct())
          mst = mst.unionAll(chosen.select("a", "b", "w"))
          // merge map is COMPONENT-sized (≤ one chosen pair per live
          // component) — gated driver union-find / distributed CC. It
          // lives in the round's own scope, released once the relabeled
          // edge frame (held by the key's scope) is materialized.
          val relabeled = StepChain.scoped(s) { merging =>
            val (merge, nMerge) =
              boruvkaMerge(merging, chosen.select(col("ca"), col("cb")).distinct())
            sc.checkpoint(edges
              .join(GraphLayout.nodeSide(
                merge.select(col("id").as("ca"), col("component").as("na")),
                nMerge), Seq("ca"), "left")
              .join(GraphLayout.nodeSide(
                merge.select(col("id").as("cb"), col("component").as("nb")),
                nMerge), Seq("cb"), "left")
              .select(col("a"), col("b"), col("w"),
                coalesce(col("na"), col("ca")).as("ca"),
                coalesce(col("nb"), col("cb")).as("cb"))
              .filter(col("ca") =!= col("cb")))
          }
          sc.release(edges) // the previous round's edges
          edges = relabeled
          round += 1
        }
      }
      require(done, s"Borůvka did not converge in 20 rounds")
      mst.select(col("a"), col("b"), col("w").as("weight")).orderBy("a", "b")
    }
  )

  // ---- Borůvka merge step ---------------------------------------------------

  /** Max merge-pair count the driver union-find may collect. This is a
    * DRIVER-MEMORY budget, not the executor-broadcast budget
    * `GraphLayout.broadcastNodeLimit` gates. Honest accounting (ADVICE
    * r13): a collected pair is not ~50 B — it is two GenericRow-boxed
    * Strings, two String→String HashMap entries in the union-find, and
    * an output tuple, realistically ~1 KB transient per pair — so the
    * default budgets ~0.5 GB transient at the cap, safe on a
    * default-sized local driver and trivial on one sized for a 100 TB
    * job. 500k still clears every merge round the probes measured (the
    * 10×-probe's largest round is 160k pairs; rounds halve from there);
    * past the limit — the 10⁸-node first rounds of the design-point
    * graph — the bit-identical distributed fixpoint runs instead.
    * Tunable per deploy. */
  private def mstMergeDriverLimit: Long =
    sys.props.get("graft.graph.mstMergeDriverLimit").map(_.toLong)
      .getOrElse(500000L)

  /** Close Borůvka's per-round merge pairs into (id, component=min label).
    *
    * Every chosen edge merges exactly two CURRENT components, so `pairs`
    * is component-sized — it halves every round and is ≤ one row per
    * live component. Under the measured `GraphLayout` gate that is
    * broadcast-class data, so it is collected and closed with a
    * path-compressed min-label union-find in one job (replacing the
    * distributed fixpoint's ~4 jobs × O(log diameter) rounds); past the
    * gate (the 10⁸-node first rounds of a 100 TB graph) the distributed
    * `Dedup.connectedComponents` runs instead. Both produce the same
    * fixpoint — each id maps to the lexicographic MIN label of its merged
    * group (ASCII labels, so Scala's String order matches Spark's
    * UTF8String order) — so the result is bit-identical either way.
    * Returns the map and its row count (the downstream relabel join rides
    * the same gate). */
  private def boruvkaMerge(sc: StepChain.Scope, pairs: DataFrame): (DataFrame, Long) = {
    if (pairs.count() > mstMergeDriverLimit) {
      val cc = graft.operators.Dedup.connectedComponents(sc, pairs, "ca", "cb")
      (cc, cc.count())
    } else {
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.collect().foreach { row =>
        val x = row.getString(0); val y = row.getString(1)
        val rx = find(x); val ry = find(y)
        if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
      }
      val ids = parent.keySet.toSet ++ parent.valuesIterator
      import sc.session.implicits._
      val out = ids.toSeq.map(id => (id, find(id)))
      (out.toDF("id", "component"), out.size.toLong)
    }
  }

  // ---- DuckDB oracle twins -------------------------------------------------

  /** The DuckDB twin of `graph_k_core` — the h-index fixpoint unrolled
    * 30× (the Spark loop's own round cap; converged rounds are
    * idempotent no-ops, the `mstBoruvkaSql` unrolled-oracle precedent —
    * VERDICT r13 ask #2). Every quantity is an INTEGER: degrees seed
    * the estimates, each round replaces a node's estimate with
    * min(est, h-index of its neighbors' estimates) where the h-index
    * is max over desc-ranked neighbor values of min(rank, value) —
    * exact arithmetic end to end, no grid discipline needed. Each
    * round's estimate frame is MATERIALIZED (consumed twice: the
    * neighbor gather and the least() attach). */
  private def kCoreSql: String = {
    val rounds = (1 to 30).map { r =>
      val p = r - 1
      s"""est$r AS MATERIALIZED (
         |  SELECT h.src, least(e.est, h.h) AS est
         |  FROM (
         |    SELECT src, max(least(rk, nv)) AS h FROM (
         |      SELECT u.src, l.est AS nv,
         |        row_number() OVER (PARTITION BY u.src
         |          ORDER BY l.est DESC, u.dst ASC) AS rk
         |      FROM und u JOIN est$p l ON l.src = u.dst) t
         |    GROUP BY src) h
         |  JOIN est$p e ON e.src = h.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT b1.p AS pa, b2.p AS pb
       |  FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM e0
       |  UNION ALL SELECT pb, pa FROM e0),
       |est0 AS MATERIALIZED (
       |  SELECT src, count(*)::BIGINT AS est FROM und GROUP BY src),
       |$rounds
       |SELECT est AS coreness, count(*)::BIGINT AS n_nodes
       |FROM est30 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The HITS fixpoint unrolled (the `graph_pagerank` oracle trick):
    * four rounds × two phases as chained CTEs, per-node sums of grid
    * scores in DECIMAL, L1 totals as exact DECIMAL sums cast to DOUBLE
    * for the one rounded division per phase. */
  private def hitsSql: String = {
    val iters = 4
    val rounds = (1 to iters).map { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      // every per-round CTE is MATERIALIZED: a{i}raw/h{i}raw each have
      // two consumers (tot + normalize), so plain CTEs re-expand the
      // whole prior-round chain per reference — 2^rounds evaluation,
      // measured 4.8 GB / 9.7 s vs 71 MB / 0.08 s materialized
      // (identical result; part of the r11 driver map-exhaustion class)
      s"""a${i}raw AS MATERIALIZED (
         |  SELECT e.dst, sum(CAST(p.h AS DECIMAL(28,9))) AS araw
         |  FROM e JOIN $hPrev p ON e.src = p.node GROUP BY e.dst),
         |a${i}tot AS MATERIALIZED (SELECT sum(araw) AS t FROM a${i}raw),
         |a$i AS MATERIALIZED (
         |  SELECT dst AS node,
         |    round(CAST(araw AS DOUBLE) / CAST(t AS DOUBLE), 9) AS a
         |  FROM a${i}raw CROSS JOIN a${i}tot),
         |h${i}raw AS MATERIALIZED (
         |  SELECT e.src, sum(CAST(p.a AS DECIMAL(28,9))) AS hraw
         |  FROM e JOIN a$i p ON e.dst = p.node GROUP BY e.src),
         |h${i}tot AS MATERIALIZED (SELECT sum(hraw) AS t FROM h${i}raw),
         |h$i AS MATERIALIZED (
         |  SELECT src AS node,
         |    round(CAST(hraw AS DOUBLE) / CAST(t AS DOUBLE), 9) AS h
         |  FROM h${i}raw CROSS JOIN h${i}tot)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h FROM e),
       |$rounds
       |SELECT role, node, score FROM (
       |  SELECT 'hub' AS role, node, h AS score,
       |    row_number() OVER (ORDER BY h DESC, node) AS rk FROM h$iters
       |  UNION ALL
       |  SELECT 'authority' AS role, node, a AS score,
       |    row_number() OVER (ORDER BY a DESC, node) AS rk FROM a$iters) u
       |WHERE rk <= 10 ORDER BY role, node""".stripMargin
  }

  /** The DuckDB twin of `graph_mst_boruvka`: Borůvka's rounds unrolled
    * 12× (2^12 ≫ any component count at gate SF; converged rounds are
    * idempotent no-ops). Every quantity is an INTEGER or a string —
    * min-edge selection orders by (weight, a, b), merges close over the
    * chosen component pairs with a per-round transitive-closure CTE —
    * so the oracle is exact with no grid discipline needed at all.
    * Every per-round CTE is MATERIALIZED: l{r} is referenced twice by
    * e{r+1} (both endpoints), which would otherwise re-inline the whole
    * prefix 2^rounds times. */
  private def mstBoruvkaSql: String = {
    val rounds = (1 to 12).map { r =>
      val p = r - 1
      s"""e$r AS MATERIALIZED (
         |  SELECT we.a, we.b, we.w, la.c AS ca, lb.c AS cb
         |  FROM we JOIN l$p la ON we.a = la.node
         |  JOIN l$p lb ON we.b = lb.node
         |  WHERE la.c <> lb.c),
         |ch$r AS MATERIALIZED (
         |  SELECT DISTINCT a, b, w, ca, cb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY c
         |      ORDER BY w ASC, a ASC, b ASC) AS rn
         |    FROM (
         |      SELECT ca AS c, a, b, w, ca, cb FROM e$r
         |      UNION ALL SELECT cb, a, b, w, ca, cb FROM e$r) u) t
         |  WHERE rn = 1),
         |me$r AS MATERIALIZED (
         |  SELECT ca AS x, cb AS y FROM ch$r
         |  UNION ALL SELECT cb, ca FROM ch$r),
         |reach$r(x, y) AS (
         |  SELECT x, y FROM me$r
         |  UNION
         |  SELECT rr.x, e.y FROM reach$r rr JOIN me$r e ON rr.y = e.x),
         |mm$r AS MATERIALIZED (
         |  SELECT x AS oc, least(x, min(y)) AS nc FROM reach$r GROUP BY x),
         |l$r AS MATERIALIZED (
         |  SELECT l.node, coalesce(m.nc, l.c) AS c
         |  FROM l$p l LEFT JOIN mm$r m ON l.c = m.oc)""".stripMargin
    }.mkString(",\n")
    val arms = (1 to 12).map(r => s"SELECT a, b, w FROM ch$r")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE p AS MATERIALIZED (
       |  SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |      AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |we AS MATERIALIZED (SELECT a, b, w FROM p),
       |nd AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT a AS node FROM we UNION ALL SELECT b FROM we) u),
       |l0 AS MATERIALIZED (SELECT node, node AS c FROM nd),
       |$rounds
       |SELECT a, b, w AS weight FROM (
       |  $arms) m
       |ORDER BY a, b""".stripMargin
  }

  /** The label-propagation replay both LPA twins open with — string
    * trade pairs `p`, nodes `nd`, self-looped edges `e`, and `rounds`
    * synchronous rounds unrolled as chained CTEs `l1`…`l<rounds>` (the
    * pagerank-oracle trick): integer counts, lexicographic tie-break. */
  private def lpaSqlPrefix(rounds: Int): String = {
    val ls = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT src AS node, label FROM (
         |  SELECT e.src, l.label,
         |    row_number() OVER (PARTITION BY e.src
         |      ORDER BY count(*) DESC, l.label) AS rn
         |  FROM e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY e.src, l.label) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nd AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT cn AS node FROM p UNION ALL SELECT sn FROM p) u),
       |e AS MATERIALIZED (
       |  SELECT cn AS src, sn AS dst FROM p
       |  UNION ALL SELECT sn, cn FROM p
       |  UNION ALL SELECT node, node FROM nd),
       |l0 AS (SELECT node, node AS label FROM nd),
       |$ls""".stripMargin
  }

  /** LPA twin: the 4-round fixpoint, then the per-round community census. */
  private def lpaSql: String =
    s"""${lpaSqlPrefix(4)},
       |x AS (${(1 to 4).map(i => s"SELECT $i AS iter, label FROM l$i")
        .mkString("\n  UNION ALL ")})
       |SELECT iter, count(*)::BIGINT AS n_communities,
       |  max(cnt)::BIGINT AS largest_size
       |FROM (SELECT iter, label, count(*) AS cnt FROM x GROUP BY iter, label) c
       |GROUP BY iter ORDER BY iter""".stripMargin

  /** 2-round LPA replay + the exact integer modularity rational per
    * community. */
  private def modularitySql: String =
    s"""${lpaSqlPrefix(2)},
       |mm AS MATERIALIZED (SELECT count(*)::BIGINT AS m FROM p),
       |degr AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
       |  SELECT cn AS node FROM p UNION ALL SELECT sn FROM p) u GROUP BY node),
       |lin AS MATERIALIZED (
       |  SELECT la.label, count(*)::BIGINT AS internal_edges
       |  FROM p JOIN l2 la ON p.cn = la.node JOIN l2 lb ON p.sn = lb.node
       |  WHERE la.label = lb.label GROUP BY la.label),
       |ds AS MATERIALIZED (
       |  SELECT l2.label, count(*)::BIGINT AS n_nodes,
       |    CAST(sum(degr.deg) AS BIGINT) AS degree_sum
       |  FROM l2 JOIN degr ON l2.node = degr.node GROUP BY l2.label)
       |SELECT ds.label AS community, ds.n_nodes,
       |  coalesce(lin.internal_edges, 0)::BIGINT AS internal_edges,
       |  ds.degree_sum,
       |  round(CAST(4 * mm.m * coalesce(lin.internal_edges, 0)
       |      - ds.degree_sum * ds.degree_sum AS DOUBLE)
       |    / CAST(4 * mm.m * mm.m AS DOUBLE), 9) + 0.0 AS q_term
       |FROM ds LEFT JOIN lin ON ds.label = lin.label, mm
       |ORDER BY community""".stripMargin

  /** The co-purchase edge set as the twins write it: `b`, the distinct
    * (order, part) pairs, and `edges`, (pa, pb) with pa < pb and support
    * ≥ 2 — the oracle side of [[coPurchase]]. An open WITH list. */
  private val coPurchaseSql =
    """WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT b1.p AS pa, b2.p AS pb
      |  FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),""".stripMargin

  /** [[coPurchaseSql]] plus the node degrees `deg` and the degree-ordered
    * orientation `oriented` (u, v, dv) — the oracle side of [[orient]],
    * shared by the triangle and local-clustering twins. */
  private val orientedSql =
    s"""$coPurchaseSql
       |deg AS MATERIALIZED (
       |  SELECT node, count(*)::BIGINT AS deg FROM (
       |    SELECT pa AS node FROM edges
       |    UNION ALL SELECT pb FROM edges)
       |  GROUP BY node),
       |oriented AS MATERIALIZED (
       |  SELECT
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND pa < pb)
       |      THEN pa ELSE pb END AS u,
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND pa < pb)
       |      THEN pb ELSE pa END AS v,
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND pa < pb)
       |      THEN d2.deg ELSE d1.deg END AS dv
       |  FROM edges
       |  JOIN deg d1 ON edges.pa = d1.node
       |  JOIN deg d2 ON edges.pb = d2.node),""".stripMargin

  val sql: Map[String, String] = Map(

    "graph_degree_distribution" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT b1.p AS pa, b2.p AS pb
        |  FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS degree FROM (
        |    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
        |  GROUP BY node),
        |h AS (SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY degree)
        |SELECT degree, n_nodes,
        |  round(n_nodes / sum(n_nodes) OVER (), 6) AS share
        |FROM h ORDER BY degree""".stripMargin,

    "graph_common_neighbors" ->
      s"""$coPurchaseSql
        |und AS MATERIALIZED (
        |  SELECT pa AS src, pb AS dst FROM edges
        |  UNION ALL SELECT pb, pa FROM edges),
        |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM und GROUP BY src),
        |cand AS (
        |  SELECT e1.dst AS u, e2.dst AS v, count(*)::BIGINT AS common
        |  FROM und e1 JOIN und e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY 1, 2),
        |new_pairs AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM edges e WHERE e.pa = c.u AND e.pb = c.v))
        |SELECT u, v, common, du.deg AS deg_u, dv.deg AS deg_v,
        |  round(common / (du.deg + dv.deg - common), 6) AS jaccard
        |FROM new_pairs
        |JOIN deg du ON du.src = u
        |JOIN deg dv ON dv.src = v
        |ORDER BY common DESC, u, v LIMIT 20""".stripMargin,


    "graph_k_core" -> kCoreSql,

    "graph_assortativity" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT b1.p AS pa, b2.p AS pb
        |  FROM bk b1 JOIN bk b2 ON b1.o = b2.o AND b1.p < b2.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (
        |  SELECT pa AS src, pb AS dst FROM edges
        |  UNION ALL SELECT pb, pa FROM edges),
        |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM und GROUP BY src),
        |j AS (
        |  SELECT du.deg AS du, dv.deg AS dv
        |  FROM und JOIN deg du ON und.src = du.src
        |  JOIN deg dv ON und.dst = dv.src),
        |m AS (
        |  SELECT count(*)::BIGINT AS m, sum(du)::BIGINT AS su, sum(dv)::BIGINT AS sv,
        |    sum(du * dv)::BIGINT AS suv, sum(du * du)::BIGINT AS suu,
        |    sum(dv * dv)::BIGINT AS svv
        |  FROM j)
        |SELECT (m // 2)::BIGINT AS n_edges,
        |  round((CAST(suv AS DOUBLE) / m
        |      - (CAST(su AS DOUBLE) / m) * (CAST(sv AS DOUBLE) / m))
        |    / (sqrt(CAST(suu AS DOUBLE) / m
        |        - (CAST(su AS DOUBLE) / m) * (CAST(su AS DOUBLE) / m))
        |      * sqrt(CAST(svv AS DOUBLE) / m
        |        - (CAST(sv AS DOUBLE) / m) * (CAST(sv AS DOUBLE) / m))), 6)
        |    AS assortativity
        |FROM m""".stripMargin,

    "graph_pagerank" -> {
      val iterCtes = (1 to 8).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT e.dst AS node,
           |    round(0.15 / nn.n + 0.85 * sum(r.rank / d.deg), 9) AS rank
           |  FROM edges e
           |  JOIN deg d ON e.src = d.src
           |  JOIN r${i - 1} r ON e.src = r.node, nn
           |  GROUP BY e.dst, nn.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS MATERIALIZED (
         |  SELECT cn AS src, sn AS dst FROM pairs
         |  UNION ALL SELECT sn AS src, cn AS dst FROM pairs),
         |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM deg),
         |r0 AS MATERIALIZED (SELECT src AS node, round(1.0 / n, 9) AS rank FROM deg, nn),
         |$iterCtes
         |SELECT node, round(rank, 9) AS rank FROM r8
         |ORDER BY rank DESC, node LIMIT 25""".stripMargin
    },

    /** Degree-ordered compact-forward replay — identical orientation,
      * wedge, and closing joins; all counts integer-exact. */
    "graph_triangles" ->
      s"""$orientedSql
        |wedges AS MATERIALIZED (
        |  SELECT w1.v AS u, w2.v AS v
        |  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u
        |   AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))),
        |tri AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM wedges JOIN oriented o ON wedges.u = o.u AND wedges.v = o.v),
        |tot AS (
        |  SELECT count(*)::BIGINT AS n_nodes,
        |    (sum(deg) / 2)::BIGINT AS n_edges,
        |    (sum(deg * (deg - 1) / 2))::BIGINT AS n_wedges
        |  FROM deg)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  round(3.0 * n_triangles / n_wedges, 6) AS clustering
        |FROM tot, tri""".stripMargin,

    /** Textbook SQL BFS: recursive CTE with UNION dedup over (node,
      * dist) pairs, hop-capped at 6; min(dist) per node is the BFS
      * distance (a node re-reached deeper contributes a dominated
      * row). */
    "graph_bfs_distance" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT cn AS src, sn AS dst FROM pairs
        |  UNION ALL SELECT sn AS src, cn AS dst FROM pairs),
        |walk(node, dist) AS (
        |  SELECT 'c' || CAST(min(CAST(substr(cn, 2) AS BIGINT)) AS VARCHAR), 0
        |  FROM pairs
        |  UNION
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.dist < 6),
        |best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
        |SELECT dist, count(*)::BIGINT AS n_nodes FROM best
        |GROUP BY dist ORDER BY dist""".stripMargin,

    "graph_mst_boruvka" -> mstBoruvkaSql,

    /** Compact-forward replay with the wedge CENTER carried through;
      * per-node triangle count by a 3-way UNION ALL of the corners. */
    "graph_local_clustering" ->
      s"""$orientedSql
        |wedges AS MATERIALIZED (
        |  SELECT w1.u AS c, w1.v AS a, w2.v AS b
        |  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u
        |   AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))),
        |tris AS MATERIALIZED (
        |  SELECT c, a, b
        |  FROM wedges JOIN oriented o ON wedges.a = o.u AND wedges.b = o.v),
        |pernode AS (
        |  SELECT node, count(*)::BIGINT AS n_tri FROM (
        |    SELECT c AS node FROM tris
        |    UNION ALL SELECT a FROM tris
        |    UNION ALL SELECT b FROM tris) z
        |  GROUP BY node)
        |SELECT d.node, d.deg, coalesce(p.n_tri, 0)::BIGINT AS n_tri,
        |  round(2.0 * coalesce(p.n_tri, 0) / (d.deg * (d.deg - 1)), 6) AS lcc
        |FROM deg d LEFT JOIN pernode p ON d.node = p.node
        |WHERE d.deg >= 2
        |ORDER BY lcc DESC, d.node LIMIT 50""".stripMargin,

    "graph_hits" -> hitsSql,

    /** Every walk replayed exactly: identical neighbor indexing
      * (row_number over the dst order), the same md5 pick per step,
      * recursion over (walk, step). */
    "graph_random_walks" ->
      """WITH RECURSIVE pr AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e0 AS (SELECT cn AS src, sn AS dst FROM pr
        |  UNION ALL SELECT sn AS src, cn AS dst FROM pr),
        |edges AS MATERIALIZED (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
        |    count(*) OVER (PARTITION BY src) AS deg
        |  FROM e0),
        |starts AS (
        |  SELECT src AS start FROM (
        |    SELECT src, max(deg) AS deg FROM edges GROUP BY src
        |    ORDER BY deg DESC, src LIMIT 64) t),
        |wk AS (
        |  SELECT start || '#' || w AS walk_id, start AS cur
        |  FROM starts CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS w) ws),
        |rec(walk_id, step, cur) AS (
        |  SELECT walk_id, 0 AS step, cur FROM wk
        |  UNION ALL
        |  SELECT r.walk_id, r.step + 1, e.dst
        |  FROM rec r JOIN edges e ON e.src = r.cur
        |    AND e.idx = (('0x' || substr(md5(r.walk_id || ':'
        |      || (r.step + 1) || ':' || r.cur), 1, 8))::BIGINT % e.deg)
        |  WHERE r.step < 6)
        |SELECT cur AS node, count(*)::BIGINT AS n_visits,
        |  count(DISTINCT step)::BIGINT AS n_steps_seen
        |FROM rec GROUP BY cur
        |ORDER BY n_visits DESC, node LIMIT 25""".stripMargin,

    "graph_label_propagation" -> lpaSql,

    "graph_modularity" -> modularitySql
  )
}
