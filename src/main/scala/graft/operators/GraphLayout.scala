package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join-strategy gate for the node-sized frames of the graph family
  * (`graft.queries.Graph`). Every join of a node-sized frame against an
  * edge-sized one goes through [[nodeSide]]:
  *  - per round: the rank vector of `graph_pagerank`, the estimates of
  *    `graph_k_core`, the frontier of `graph_bfs_distance`, the hub and
  *    authority scores of `graph_hits`, the walk frame of
  *    `graph_random_walks`, the labels of `graph_label_propagation` and
  *    `graph_modularity`, and the merge map of `graph_mst_boruvka`;
  *  - once: the degree attaches of `graph_common_neighbors`,
  *    `graph_assortativity`, `graph_triangles` and
  *    `graph_local_clustering`, and `graph_modularity`'s label and
  *    degree attaches.
  *
  * The zero-edge-exchange layout those queries use — cache the edge frame
  * pre-partitioned, broadcast the node-sized frame every round — is
  * optimal while the node frame actually fits a broadcast. At the 100 TB
  * design point the node vector is 10⁸–10⁹ rows and a per-iteration full
  * broadcast dies at the driver, so past [[broadcastNodeLimit]] nodes the
  * queries flip to a shuffled-hash join: the edge cache is then
  * pre-partitioned by the JOIN key, so the shuffle exchanges only the
  * node-sized frame (pagerank/BFS) or the Pregel-minimal per-edge message
  * frame (k-core's gather has no smaller exchange). The edge cache and
  * the round checkpoints belong to the key's `StepChain.Scope`, which
  * releases each superseded round and, on return, all but what the
  * result reads.
  *
  * The limit is a system property so tests can force either mode on tiny
  * data: `PlanAuditSpec` pins both plans structurally, on the per-round
  * plans each round's checkpoint hands to a `QueryExecutionListener`.
  */
object GraphLayout {

  /** Max node count for which a node-sized frame may ride the broadcast
    * path. The r10 on-data A/Bs (BENCH_SCALE_PROBE.md probes A and E;
    * trade-graph node counts 16k / 160k / 480k — probe A's text
    * mislabeled these 10× high, corrected in probe E) measured the
    * crossover: at 16k nodes broadcast wins everywhere (shuffle pays
    * 1.0–1.35×); at 160k the heaviest per-round consumer (pagerank,
    * 8 full-vector broadcasts) already inverts to 0.67× on the shuffle
    * path; at 480k NOTHING favors broadcast (pagerank 0.53×, HITS
    * 0.93×, modularity 0.98×). 150k sits between the measured points:
    * small graphs keep the cheap broadcast, the vector-iterating
    * family flips before its inversion, and the gate errs toward the
    * mode that survives 10⁸-node graphs. Tunable per deploy via the
    * system property. */
  def broadcastNodeLimit: Long =
    sys.props.get("graft.graph.broadcastNodeLimit").map(_.toLong)
      .getOrElse(150000L)

  /** Whether an `nNodes`-row node frame should broadcast. */
  def useBroadcast(nNodes: Long): Boolean = nNodes <= broadcastNodeLimit

  /** The node-frame side of the per-iteration join: explicit broadcast
    * under the limit; an explicit shuffled-hash hint above it (the frame
    * needs no sort, and the hint also stops Catalyst's size estimator from
    * silently re-broadcasting what the gate just refused). */
  def nodeSide(df: DataFrame, nNodes: Long): DataFrame =
    if (useBroadcast(nNodes)) broadcast(df) else df.hint("shuffle_hash")
}
