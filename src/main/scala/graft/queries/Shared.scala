package graft.queries

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.plans.StepChain

/** A registry key served by ONE SQL template on both engines: the engine
  * function renders it with [[Dialect.Spark]] over per-invocation temp
  * views, the oracle text with [[Dialect.DuckDb]] over the tables named
  * as they are. A template reads each input table through its resolver
  * `t` (`t("events")`), so the same text serves both sides.
  *
  * A module lists these keys once, in its `shared` map, and merges
  * [[engines]] into its `qs` and [[oracles]] into its `sql`. */
final class Shared private (
    run: (SparkSession, String => String) => DataFrame,
    text: (Dialect, String => String) => String) {

  def engine(s: SparkSession, d: String): DataFrame =
    Shared.frontDoor(s, d)(t => run(s, t))

  /** The template rendered in `dl` over the tables named as they are. */
  def render(dl: Dialect): String = text(dl, identity)

  def oracle: String = render(Dialect.DuckDb)
}

object Shared {

  type Template[A] = (Dialect, String => String) => A

  /** The template's text is the whole query on both engines. */
  def sql(template: Template[String]): Shared =
    new Shared((s, t) => s.sql(template(Dialect.Spark, t)), template)

  /** The template is a step chain: checkpointed steps on the engine, one
    * `WITH` chain on the oracle. */
  def chain(template: Template[StepChain]): Shared =
    new Shared((s, t) => template(Dialect.Spark, t).run(s),
      (dl, t) => template(dl, t).sql(dl))

  /** The engine runs the Spark rendering its own way (stepwise, or with
    * a size chosen from the data); `text` is the template both sides
    * render. */
  def apply(run: (SparkSession, String => String) => DataFrame)(
      text: Template[String]): Shared =
    new Shared(run, text)

  def engines(m: Map[String, Shared]): Map[String, (SparkSession, String) => DataFrame] =
    m.map { case (k, sh) => k -> ((s: SparkSession, d: String) => sh.engine(s, d)) }

  def oracles(m: Map[String, Shared]): Map[String, String] =
    m.map { case (k, sh) => k -> sh.oracle }

  private val runs = new AtomicLong(0)

  /** A name unique to this invocation — temp views, stream query names
    * (Verify and Bench run queries concurrently in one session). */
  def unique(prefix: String): String = s"${prefix}_v${runs.incrementAndGet()}"

  /** The temp-view front door: `f` receives a resolver that registers
    * each table it names as a per-invocation temp view (`events`
    * normalized by `Tables.events`), and every view is dropped when `f`
    * returns — after `spark.sql`'s eager analysis, so a long-lived
    * session invoking these repeatedly leaks no catalog entry. */
  def frontDoor[T](s: SparkSession, d: String)(f: (String => String) => T): T = {
    val run = runs.incrementAndGet()
    val views = mutable.LinkedHashMap.empty[String, String]
    def view(table: String): String = views.getOrElse(table, {
      val v = s"${table}_v$run"
      val df = if (table == "events") Tables.events(s, d) else Tables.load(s, d, table)
      df.createOrReplaceTempView(v)
      views(table) = v
      v
    })
    try f(view)
    finally views.values.foreach(v => s.catalog.dropTempView(v))
  }
}
