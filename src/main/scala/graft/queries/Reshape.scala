package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ml.ModelingFrame

/** Reshaping / frame-algebra queries — the pandas hallmarks of the
  * reference's notebook style (`pivot_table`, `melt`, `crosstab`,
  * `pd.concat`, `value_counts`, `cumsum`/`cummax`) re-expressed as
  * declarative Spark plans (reference: `Marilyn_Cleaning.ipynb` builds
  * its wide daily frame by exactly this pivot, cells 60-67).
  *
  * Scale posture: every pivot pins its output vocabulary explicitly
  * (no extra distinct-scan job, stable schema at any SF); the melt is a
  * narrow expand (no shuffle); cumulative windows partition by the
  * series key so each task is bounded; `value_counts`' grand total rides
  * a broadcast 1-row frame, not a global window over raw rows.
  */
object Reshape {

  type Q = (SparkSession, String) => DataFrame

  private def round6(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((acc, c) => acc.withColumn(c, round(col(c), 6)))

  val qs: Map[String, Q] = Map(
    /** pandas `pivot_table(index=day, columns=event_type, values=value,
      * aggfunc=mean)` — long events → wide daily frame. This IS
      * `ModelingFrame.daily` (pinned vocabulary, one aggregation, no
      * values-discovery job); reusing it keeps this query and its oracle
      * (`Pipe.dailySql`, the same frame's SQL mirror) in lockstep. */
    "pivot_wide" -> ((s, d) =>
      round6(ModelingFrame.daily(s, d), ModelingFrame.EventTypes)
        .orderBy("date_id")),

    /** pandas `melt(id_vars=date_id)` — the inverse reshape, wide daily
      * frame → long (date_id, variable, value). `unpivot` is a narrow
      * expand over the day frame, which is local: no shuffle beyond the
      * day frame's own aggregate. */
    "unpivot_melt" -> ((s, d) =>
      round6(
        ModelingFrame.daily(s, d)
          .unpivot(Array(col("date_id")),
            ModelingFrame.EventTypes.map(col).toArray, "variable", "value"),
        Seq("value"))
        .orderBy("date_id", "variable")),

    /** pandas `crosstab(event_type, day_of_week)` — two-way frequency
      * table. Pivot on the pinned 1..7 day-of-week vocabulary, exact
      * integer counts (`na.fill(0)`: an empty cell is 0, not null). */
    "crosstab_freq" -> ((s, d) => {
      val pivoted = Tables.events(s, d)
        .withColumn("dow", dayofweek(col("ts")))
        .groupBy("event_type")
        .pivot("dow", 1 to 7)
        .count()
        .na.fill(0L, (1 to 7).map(_.toString))
      pivoted
        .select(col("event_type") +: (1 to 7).map(i => col(s"`$i`").as(s"dow_$i")): _*)
        .orderBy("event_type")
    }),

    /** pandas `pd.concat([a, b])` over frames with DIFFERENT column
      * subsets — `unionByName(allowMissingColumns = true)` null-fills
      * the absent side, preserving each source's columns by NAME (a
      * positional UNION would silently misalign). */
    "concat_union_by_name" -> ((s, d) => {
      val fulfilled = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
      val open = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_orderpriority")
      fulfilled.unionByName(open, allowMissingColumns = true)
        .orderBy("o_orderkey")
    }),

    /** pandas `value_counts(normalize=True)` — category frequencies with
      * shares. The grand total is a broadcast 1-row frame (the aggregated
      * side is tiny; never a global window over raw rows). */
    "value_counts" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(counts.agg(sum("n").as("total"))))
        .select(col("event_type"), col("n"),
          round(col("n") / col("total"), 6).as("pct"))
        .orderBy(desc("n"), col("event_type"))
    }),

    /** Semi-structured extraction: the `events.props` JSON metadata
      * column parsed with a PINNED schema (`from_json` — one codegen'd
      * parse per row, no schema-inference scan; the 100 TB posture for
      * typed access into JSON payload columns). */
    "json_extract_field" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
        .orderBy("event_id")),

    /** The extracted JSON field feeding relational ops — group by the
      * payload value, aggregate the metric column (proves the parse
      * composes with the engine, not just projects). */
    "json_groupby_extracted" -> ((s, d) =>
      Tables.events(s, d)
        .select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), Grid.mean6(col("value")).as("avg_value"))
        .orderBy("k")),

    /** pandas `cumsum()`/`cummax()`/`expanding().count()` per series —
      * running windows partitioned by the series key. The running sum
      * accumulates DECIMAL(18,2) so both engines add exactly (a double
      * running sum's value depends on association order). */
    "ts_cumulative" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d).select(
          col("event_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("cum_sum"),
          max("value").over(w).as("cum_max"),
          count(lit(1)).over(w).as("cum_n"))
        .orderBy("event_id")
    }),
  )

  private val dowSql =
    // DuckDB dayofweek: 0=Sunday..6=Saturday; Spark: 1=Sunday..7=Saturday
    "dayofweek(ts) + 1"

  val sql: Map[String, String] = Map(
    "pivot_wide" -> (Pipe.dailySql +
      """SELECT date_id, round(click, 6) AS click, round(error, 6) AS error,
        |  round(purchase, 6) AS purchase, round(signup, 6) AS signup,
        |  round(view, 6) AS view
        |FROM daily ORDER BY date_id""".stripMargin),

    "unpivot_melt" -> (Pipe.dailySql +
      s"""SELECT date_id, variable, round(value, 6) AS value FROM (
         |  ${ModelingFrame.EventTypes.map(c =>
              s"SELECT date_id, '$c' AS variable, $c AS value FROM daily")
              .mkString("\n  UNION ALL ")})
         |ORDER BY date_id, variable""".stripMargin),

    "crosstab_freq" ->
      s"""SELECT event_type,
         |  ${(1 to 7).map(i =>
              s"count(*) FILTER (WHERE $dowSql = $i) AS dow_$i").mkString(",\n  ")}
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "concat_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,

    "value_counts" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT event_type, n, round(n / total, 6) AS pct FROM c, t
        |ORDER BY n DESC, event_type""".stripMargin,

    "json_extract_field" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "json_groupby_extracted" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS avg_value
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "ts_cumulative" ->
      """SELECT event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cum_sum,
        |  max(value) OVER w AS cum_max,
        |  count(*) OVER w AS cum_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
  )
}
