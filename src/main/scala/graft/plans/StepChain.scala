package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * the function assembling the chain captures. */
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

  /** The checkpoint-view lifecycle of one run: names under a unique tag,
    * every view dropped and every checkpoint RDD unpersisted when the
    * enclosing [[scoped]] block exits (`Dataset.unpersist` would be a
    * no-op here — see [[Blocks]]). */
  final class Scope private[StepChain] (val session: SparkSession, tag: String) {
    private val held = ArrayBuffer.empty[(String, RDD[_])]

    def ref(name: String): String = s"${tag}_$name"

    /** Checkpoints `df` into the view `ref(name)` and returns that name.
      * The checkpoint RDD is registered for release BEFORE its job runs:
      * an eager `localCheckpoint` persists the RDD first and only then
      * runs the job, so a step that failed mid-job would leave its
      * persisted RDD behind with no handle to free it. */
    def checkpoint(name: String, df: DataFrame): String = {
      val v = ref(name)
      val cp = df.localCheckpoint(eager = false)
      val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      held += v -> rdd
      cp.createOrReplaceTempView(v)
      rdd.count() // the one job an eager checkpoint runs
      v
    }

    /** Collects `df` now and rebuilds it driver-side, so the result no
      * longer reads any view of this scope. Aggregate-sized results only. */
    def collect(df: DataFrame): DataFrame =
      session.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

    private[StepChain] def close(): Unit = held.foreach { case (v, rdd) =>
      // release must never mask the run's own outcome
      try { session.catalog.dropTempView(v); () } catch { case _: Throwable => () }
      try { rdd.unpersist(blocking = false); () } catch { case _: Throwable => () }
    }
  }

  private val runs = new AtomicLong(0)

  def scoped[T](s: SparkSession)(body: Scope => T): T = {
    val sc = new Scope(s, s"chain_v${runs.incrementAndGet()}")
    try body(sc) finally sc.close()
  }
}
