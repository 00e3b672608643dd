package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The iterative keys' block lifecycle and their degenerate input. Each
  * key runs its rounds in one `StepChain.Scope`, so the call leaves
  * persisted exactly the checkpoints its lazy result reads. On a trade
  * graph with no edges (an empty `lineitem`) each iterative graph key
  * returns no rows and throws nothing. */
class IterativeLoopSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val graphLoops = Seq("graph_k_core", "graph_pagerank",
    "graph_bfs_distance", "graph_hits", "graph_random_walks",
    "graph_label_propagation", "graph_modularity", "graph_mst_boruvka")

  // ids, not a count: the registry holds its RDDs weakly, so an
  // unreferenced RDD an earlier suite left persisted may vanish mid-test
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet

  for (key <- graphLoops ++ Seq("ml_kmeans_lloyd", "dedup_clusters_cc"))
    test(s"$key leaves persisted only the checkpoints its result reads") {
      val before = persisted
      val out = SparkEntry.queries(key)(spark, dir)
      val left = persisted -- before
      val reads = leafRdds(out)
      assert(reads.nonEmpty, s"$key returns a frame over its last round")
      assert(left == reads, s"$key left ${left -- reads} it does not read")
      assert(out.collect().nonEmpty)
    }

  /** Runs `f` on a copy of the sf0.001 tables whose `lineitem` has the
    * same schema and no rows, deleted afterwards. */
  private def withEmptyLineitem(f: String => Unit): Unit = {
    val copy = Files.createTempDirectory("graft-empty-lineitem")
    try {
      Using.resource(Files.list(Paths.get(dir)))(_.forEach { t =>
        if (t.getFileName.toString != "lineitem.parquet")
          Files.copy(t, copy.resolve(t.getFileName))
        ()
      })
      Tables.lineitem(spark, dir).limit(0).coalesce(1)
        .write.parquet(copy.resolve("lineitem.parquet").toString)
      f(copy.toString)
    } finally deleteTree(copy)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Using.resource(Files.list(p))(_.forEach(deleteTree))
    Files.delete(p)
  }

  private def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  for (key <- graphLoops)
    test(s"$key returns no rows on a graph with no edges") {
      withEmptyLineitem { empty =>
        assert(columns(Tables.lineitem(spark, empty)) == columns(Tables.lineitem(spark, dir)))
        assert(SparkEntry.queries(key)(spark, empty).collect().isEmpty)
      }
    }
}
