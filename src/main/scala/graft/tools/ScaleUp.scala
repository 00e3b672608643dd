package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: replicate the sf0.1 tables N× with
  * key-space remapping, so the heavy queries can be timed at an
  * sf1-equivalent volume and their empirical scaling exponents recorded
  * (VERDICT r8 ask #8). Each copy `i` shifts every entity key by
  * `i * (max_key + 1)` — deltas computed ONCE from the canonical owner
  * table and shared by every foreign-key site, so referential structure
  * is preserved within a copy and disjoint across copies (the graph
  * probe sees N disconnected isomorphic components: N× nodes, N× edges;
  * the multi-series probes see N× users with unchanged per-series
  * length — the honest 100 TB growth mode for both).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val n = args(2).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts has shipped as TIMESTAMP(NANOS) in some harness
      // generations (TESTDATA.md); without this conf a plain read fails
      // on those files. A NANOS ts reads as a raw ns BIGINT and writes
      // back as BIGINT — which Tables.normalizeEventTs handles (its
      // LongType branch), so the scaled dataset stays loadable either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = graft.Tables.read(spark, s"$src/$t.parquet")
    // getAs[Number]: key columns are BIGINT today, but INT-at-rest
    // generations must not crash the probe generator
    def keyDelta(t: String, k: String): Long =
      read(t).agg(max(col(k))).head().getAs[Number](0).longValue() + 1L

    // canonical key owners → one delta per key space
    val deltas = Map(
      "o_orderkey" -> keyDelta("orders", "o_orderkey"),
      "c_custkey" -> keyDelta("customer", "c_custkey"),
      "s_suppkey" -> keyDelta("supplier", "s_suppkey"),
      "p_partkey" -> keyDelta("part", "p_partkey"),
      "event_id" -> keyDelta("events", "event_id"),
      "user_id" -> keyDelta("events", "user_id"),
      "doc_id" -> keyDelta("documents", "doc_id"),
      "vec_id" -> keyDelta("embeddings", "vec_id"))
    // foreign-key sites share their owner's delta
    val fk = Map(
      "l_orderkey" -> "o_orderkey", "o_custkey" -> "c_custkey",
      "l_suppkey" -> "s_suppkey", "l_partkey" -> "p_partkey")

    val copies = spark.range(n.toLong).select(col("id").as("__copy"))

    def scale(t: String): Unit = {
      val df = read(t)
      val out = df.crossJoin(broadcast(copies))
        .select(df.columns.map { c =>
          val d = deltas.get(c).orElse(fk.get(c).map(deltas))
          d match {
            case Some(delta) => (col(c) + col("__copy") * lit(delta)).as(c)
            case None => col(c)
          }
        }: _*)
      out.repartition(cpus.toInt).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
      System.err.println(s"[scaleup] $t x$n written")
    }
    def copyThrough(t: String): Unit = {
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scaleup] $t copied")
    }

    Seq("orders", "lineitem", "customer", "supplier", "part",
      "events", "documents", "embeddings").foreach(scale)
    Seq("region", "nation").foreach(copyThrough)
    spark.stop()
  }
}
