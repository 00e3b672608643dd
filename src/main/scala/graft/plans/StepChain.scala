package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.queries.Dialect

/** A stepwise query: named SQL steps, each reading the steps before it
  * through a resolver `ref`, then one tail query over the finished steps.
  * The one value has two renderings:
  *  - [[oracleSql]]: a single `WITH step AS MATERIALIZED (…), …` chain
  *    ending in the tail — the DuckDB oracle text;
  *  - [[run]]: every step `localCheckpoint`ed into a temp view under a
  *    per-run tag, so Catalyst plans one small step at a time (a chained
  *    CTE text that reads a step from several siblings re-expands into a
  *    plan tree exponential in depth, and Spark's parser has no
  *    MATERIALIZED hint), then the tail over those views, collected
  *    eagerly and rebuilt with `createDataFrame` so the views drop and
  *    the checkpoint blocks are released before `run` returns — on
  *    success and on failure alike.
  *
  * Both renderings read the same step texts, so engine and oracle agree
  * on the arithmetic by construction; the oracle's independence is the
  * engine (DuckDB against Spark), never a second hand-kept copy.
  *
  * A step body may open its own `WITH`, but DuckDB re-expands a plain
  * CTE once per consumer, so an expensive helper read twice belongs in
  * a step of its own. The tail may not open a `WITH`, because the oracle
  * appends it to the step chain — nest its helpers as subqueries or make
  * them steps. Inputs that are not
  * steps (an events view, an embeddings table) are plain strings that
  * the function assembling the chain captures.
  *
  * The run's [[StepChain.Scope]] also holds every iterative loop's
  * caches and round checkpoints: a loop releases each superseded round
  * at once and returns a lazy frame, and the scope keeps on exit only
  * the checkpoints that frame reads. */
final case class StepChain(steps: Seq[StepChain.Step], tail: StepChain.Sql) {

  /** The whole chain as one `WITH` text in `dl` — on DuckDB each step
    * `MATERIALIZED`. */
  def sql(dl: Dialect): String =
    steps.map(st => s"${st.name} AS ${dl.mat}(\n${st.sql(identity)})")
      .mkString("WITH ", ",\n", "\n") + tail(identity)

  def oracleSql: String = sql(Dialect.DuckDb)

  def run(s: SparkSession): DataFrame = StepChain.scoped(s)(runIn)

  /** [[run]] inside a caller's scope — for callers that checkpoint
    * inputs of their own first (the scope releases those too). */
  def runIn(sc: StepChain.Scope): DataFrame = {
    steps.foreach(st => sc.checkpoint(st.name, sc.session.sql(st.sql(sc.ref))))
    sc.collect(sc.session.sql(tail(sc.ref)))
  }
}

object StepChain {

  /** SQL text given the resolver from step name to table reference. */
  type Sql = (String => String) => String

  final case class Step(name: String, sql: Sql)

  /** The one owner of the blocks a Spark run persists: the step views,
    * and the edge caches and round checkpoints of the iterative loops. A
    * loop hands each superseded round to [[release]]. When [[scoped]]
    * exits, every view drops and every held block is released except the
    * checkpoints the returned frame reads (none if the body threw). A
    * checkpoint is released through its RDD: `Dataset.unpersist` only
    * consults the CacheManager, which never saw a local checkpoint. */
  final class Scope private[StepChain] (val session: SparkSession, tag: String) {
    private val views = mutable.ArrayBuffer.empty[String]
    private val checkpoints = mutable.Map.empty[Int, RDD[_]]
    private val caches = mutable.ArrayBuffer.empty[DataFrame]

    def ref(name: String): String = s"${tag}_$name"

    /** `df` locally checkpointed and held. The checkpoint RDD is
      * registered for release BEFORE its job runs: an eager
      * `localCheckpoint` persists the RDD first and only then runs the
      * job, so a round that failed mid-job would leave its persisted RDD
      * behind with no handle to free it. */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(eager = false)
      val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      checkpoints(rdd.id) = rdd
      rdd.count() // the one job an eager checkpoint runs
      cp
    }

    /** Checkpoints `df` into the view `ref(name)` and returns that name. */
    def checkpoint(name: String, df: DataFrame): String = {
      val v = ref(name)
      views += v
      checkpoint(df).createOrReplaceTempView(v)
      v
    }

    /** `df.cache()`, held until the scope exits. */
    def cache(df: DataFrame): DataFrame = { caches += df.cache(); df }

    /** Releases now every held checkpoint among `df`'s `LogicalRDD`
      * leaves: `df`'s round is superseded. */
    def release(df: DataFrame): Unit =
      reads(df).foreach(checkpoints.remove(_).foreach(unpersist))

    /** Collects `df` now and rebuilds it driver-side, so the result no
      * longer reads any view or checkpoint of this scope. Aggregate-sized
      * results only. */
    def collect(df: DataFrame): DataFrame =
      session.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

    private def reads(df: Dataset[_]): Set[Int] =
      df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet

    // release must never mask the run's own outcome
    private def quietly(f: => Any): Unit = try { f; () } catch { case _: Throwable => () }
    private def unpersist(rdd: RDD[_]): Unit = quietly(rdd.unpersist(blocking = false))

    private[StepChain] def close(result: Option[Any]): Unit = {
      val keep = result.collect { case df: Dataset[_] => reads(df) }.getOrElse(Set.empty)
      views.foreach(v => quietly(session.catalog.dropTempView(v)))
      caches.foreach(df => quietly(df.unpersist()))
      checkpoints.foreach { case (id, rdd) => if (!keep(id)) unpersist(rdd) }
    }
  }

  private val runs = new AtomicLong(0)

  def scoped[T](s: SparkSession)(body: Scope => T): T = {
    val sc = new Scope(s, s"chain_v${runs.incrementAndGet()}")
    val out = try body(sc) catch { case t: Throwable => sc.close(None); throw t }
    sc.close(Some(out))
    out
  }
}
