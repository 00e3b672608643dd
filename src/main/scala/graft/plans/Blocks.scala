package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Block hygiene for `localCheckpoint()`ed frames (guide §5).
  *
  * `Dataset.unpersist()` only routes through the CacheManager, so it is a
  * NO-OP for a locally checkpointed Dataset: the persisted blocks belong
  * to the internal RDD wrapped by the checkpoint's `LogicalRDD`, which the
  * CacheManager never saw (verified against the Spark 4.1.2 bytecode —
  * `unpersist` is exactly `cacheManager.uncacheQuery`). Every
  * `frames.foreach(_.unpersist())` cleanup in the query paths therefore
  * silently leaked its blocks until Bench's post-query
  * `getPersistentRDDs` sweep — and iterative operators (connected
  * components, pagerank, BFS, label propagation, Borůvka, the NSW beam)
  * accumulated one superseded checkpoint per round INSIDE the timed
  * query, crowding the unified memory pool exactly at the 32-core
  * single-JVM configuration the driver measures (r16: the 32-core suite
  * ran SLOWER than the 8-core one).
  *
  * [[Blocks.free]] releases the real thing: it walks the frame's RDD
  * lineage from `queryExecution.toRdd` (plan construction only — no job)
  * and unpersists the first persisted ancestor on each path, which for a
  * checkpointed frame is precisely the checkpoint RDD. Calling it on a
  * frame whose plan reads persisted state it does not own would
  * unpersist that state too — only hand it frames you checkpointed.
  *
  * Callers: the iterative operators that supersede one checkpoint per
  * round (connected components, pagerank, BFS, HITS, k-core,
  * modularity, Borůvka) and the streaming dedup admission's corpus
  * frame. The stepwise executors and the streaming index views go
  * through [[StepChain]], whose scope holds each checkpoint RDD itself
  * and unpersists it directly.
  */
object Blocks {
  def free(df: DataFrame): Unit = {
    def walk(r: RDD[_], depth: Int): Unit =
      if (depth < 16) {
        if (r.getStorageLevel != StorageLevel.NONE) { r.unpersist(blocking = false); () }
        else r.dependencies.foreach(d => walk(d.rdd, depth + 1))
      }
    try walk(df.queryExecution.toRdd, 0)
    catch { case _: Throwable => () } // hygiene must never fail a query
  }
}
