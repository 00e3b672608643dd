package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.{Joins, MissingData, Relational}

/** Relational-core query registry (SURVEY.md §2.1-§2.6, §2.8) bound to the
  * harness tables, each with a DuckDB-oracle SQL twin.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *  - every query ends in a total ORDER BY mirrored in the SQL;
  *  - float aggregates are rounded identically on both sides, with digits
  *    chosen so cross-engine accumulation error ≪ the rounding step;
  *  - money sums go through DECIMAL(18,2) (exact) and back to double.
  */
object Rel {

  /** Exact money sum: cross-engine-stable (decimal accumulation). */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** `join_asof_tolerance` staleness bound: 6 h in µs. */
  private val ASOF_TOL_US = 6L * 3600L * 1000000L

  type Q = (SparkSession, String) => DataFrame

  /** Derived events frame with three deterministic null patterns. The
    * harness tables are null-free, so the missing-data operators
    * (§2.3) are exercised on nulls injected by fixed event_id rules:
    * v_sparse ≈ 87% null (the reference's US_Stock_GOLD_* analog),
    * v_moderate ≈ 30%, v_dense = 5%. */
  private[queries] def evd(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v_sparse",
        when(col("event_id") % 100 < 87, lit(null).cast("double")).otherwise(col("value")))
      .withColumn("v_moderate",
        when(col("event_id") % 10 < 3, lit(null).cast("double")).otherwise(col("value")))
      .withColumn("v_dense",
        when(col("event_id") % 20 === 7, lit(null).cast("double")).otherwise(col("value")))

  private[queries] val evdSql: String =
    """WITH evd AS (
      |  SELECT event_id, ts, user_id, event_type, value,
      |    CASE WHEN event_id % 100 < 87 THEN NULL ELSE value END AS v_sparse,
      |    CASE WHEN event_id % 10 < 3 THEN NULL ELSE value END AS v_moderate,
      |    CASE WHEN event_id % 20 = 7 THEN NULL ELSE value END AS v_dense
      |  FROM events)
      |""".stripMargin

  private val nullCols = Seq("v_sparse", "v_moderate", "v_dense")

  /** Events with (value, ts_us) quantized onto the 16-bit z-grid from
    * plan-derived min/max bounds (broadcast 1-row frame — adaptive at
    * any SF, no driver collect). Shared by `zorder_curve` (the
    * oracle-checked z arithmetic) and `zorder_layout_prune` (the layout
    * measurement). */
  private def zorderInput(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ZOrder
    val e = Tables.events(s, d)
      .select(col("event_id"), col("value"), expr("ts_ns div 1000").as("ts_us"))
    val mm = e.agg(min(col("value")).as("vlo"), max(col("value")).as("vhi"),
      min(col("ts_us")).as("tlo"), max(col("ts_us")).as("thi"))
    e.crossJoin(broadcast(mm))
      .select(col("event_id"),
        ZOrder.quantize(col("value"), col("vlo"), col("vhi")).as("zx"),
        ZOrder.quantize(col("ts_us"), col("tlo"), col("thi")).as("zy"))
  }

  /** DuckDB twin of `functions.ZOrder.spread16`: the identical
    * mask-and-shift doubling ladder, unrolled. */
  private def duckSpread(c: String): String = {
    val a = s"($c & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val d = s"(($b | ($b << 4)) & 252645135)"
    val e = s"(($d | ($d << 2)) & 858993459)"
    s"(($e | ($e << 1)) & 1431655765)"
  }

  /** The shared `revenue` money expression: DECIMAL accumulation (exact
    * under any aggregation order), surfaced as a rounded double. */
  private val revenueSql =
    """round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)""".stripMargin

  /** TPC-H Q1 pricing summary — ONE template for both the engine
    * (`spark.sql` over a temp view) and the DuckDB oracle; only the FROM
    * table differs, so the two sides cannot drift. All money sums
    * accumulate DECIMAL (exact under any aggregation order); averages
    * divide the exact sums so both engines divide identical operands. */
  private def pricingSummarySql(t: String => String): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |          * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_disc_price,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |          * CAST(1 - l_discount AS DECIMAL(18,2))
       |          * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_charge,
       |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
       |  count(*) AS count_order
       |FROM ${t("lineitem")}
       |WHERE l_shipdate <= DATE '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 (shipping priority), adapted to this star schema
    * (`o_orderpriority` stands in for the missing `o_shippriority`;
    * dates fit the generated 1995–2001 range). Two fact tables shuffle
    * on `o_orderkey`; the filtered customer dim broadcasts. The date
    * column is emitted as an ISO string via `CAST(CAST(x AS DATE) AS
    * STRING)` — `STRING` parses on both sides (Spark's native name, a
    * VARCHAR alias in DuckDB; bare `VARCHAR` fails Spark's parser) and
    * both render ISO dates identically. Top-10 is deterministic: revenue is an exact decimal
    * sum and `o_orderkey` breaks ties. */
  private def q3Sql(t: String => String): String =
    s"""SELECT o_orderkey, $revenueSql AS revenue,
       |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date, o_orderpriority
       |FROM ${t("customer")}, ${t("orders")}, ${t("lineitem")}
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < DATE '1997-03-15' AND l_shipdate > DATE '1997-03-15'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  /** TPC-H Q5 (local supplier volume): the 6-table join. region→nation
    * filter the supplier/customer dims (all broadcast-size next to the
    * facts); orders⋈lineitem is the only big shuffle, on `o_orderkey`;
    * the `c_nationkey = s_nationkey` cross-dimension predicate makes the
    * customer side a join condition rather than a standalone filter. */
  private def q5Sql(t: String => String): String =
    s"""SELECT n_name, $revenueSql AS revenue
       |FROM ${t("customer")}, ${t("orders")}, ${t("lineitem")},
       |  ${t("supplier")}, ${t("nation")}, ${t("region")}
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate —
    * every predicate reaches the parquet reader as a pushed filter and
    * the projection prunes to three columns; the plan is one partial +
    * one final agg, no shuffle of raw rows. */
  private def q6Sql(t: String => String): String =
    s"""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
       |FROM ${t("lineitem")}
       |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q12 (shipmode priority), adapted: conditional aggregation
    * inside the fact-fact join — both CASE counts come out of ONE join
    * pass, not two filtered joins. Counts cast BIGINT on both sides
    * (DuckDB sums to HUGEINT otherwise). */
  private def q12Sql(t: String => String): String =
    s"""SELECT l_returnflag,
       |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM ${t("orders")}, ${t("lineitem")}
       |WHERE o_orderkey = l_orderkey
       |  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q14 (promo revenue share): a scalar ratio whose numerator is
    * a conditional slice of the denominator — one join pass, both sums
    * DECIMAL-exact, the division performed on the two exact totals. The
    * part dim broadcasts against the filtered fact. */
  private def q14Sql(t: String => String): String =
    s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
       |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
       |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS promo_revenue_pct
       |FROM ${t("lineitem")}, ${t("part")}
       |WHERE l_partkey = p_partkey
       |  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'""".stripMargin

  /** TPC-H Q17 (small-quantity-order revenue): the correlated-scalar-
    * subquery decorrelation showcase. The per-part average-quantity
    * subquery would be a re-executed point lookup per outer row in a
    * naive engine; Catalyst decorrelates it into ONE aggregate over the
    * (brand-filtered) fact joined back on `l_partkey` — the filter
    * reaches the aggregate too, so the avg is computed only for
    * qualifying parts. The tiny brand dim broadcasts. The average is an
    * exact-decimal sum over a BIGINT count surfaced as double, so the
    * `0.2 · avg` threshold is bit-identical on both engines regardless
    * of aggregation order. */
  private def q17Sql(t: String => String): String =
    s"""SELECT count(*) AS n_small_qty,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
       |FROM ${t("lineitem")}, ${t("part")}
       |WHERE p_partkey = l_partkey
       |  AND p_brand = 'Brand#23'
       |  AND l_quantity < 0.2 * (
       |    SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*)
       |    FROM ${t("lineitem")} l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q18 (large-volume orders): the grouped-HAVING IN-subquery —
    * Catalyst plans the subquery as an aggregate feeding a (semi) join,
    * the fact side shuffles once on the shared `o_orderkey`, and the
    * top-100 is deterministic (totalprice DESC with orderkey tiebreak;
    * sum_qty is an exact decimal sum). */
  private def q18Sql(t: String => String): String =
    s"""SELECT c_name, o_orderkey,
       |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date, o_totalprice,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM ${t("customer")}, ${t("orders")}, ${t("lineitem")}
       |WHERE o_orderkey IN (
       |    SELECT l_orderkey FROM ${t("lineitem")}
       |    GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
       |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q7 (volume shipping): the two-nation trade-flow report. The
    * nation dim joins TWICE (supplier's and customer's side); both are
    * broadcast next to the single orders⋈lineitem fact shuffle, and the
    * symmetric pair filter keeps only the two flow directions. */
  private def q7Sql(t: String => String): String =
    s"""SELECT supp_nation, cust_nation, l_year, $revenueSql AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    year(CAST(l_shipdate AS DATE)) AS l_year,
       |    l_extendedprice, l_discount
       |  FROM ${t("supplier")}, ${t("lineitem")}, ${t("orders")},
       |    ${t("customer")}, ${t("nation")} n1, ${t("nation")} n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |    AND c_nationkey = n2.n_nationkey
       |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
       |) shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 (national market share): the EIGHT-table join — the widest
    * plan in the suite. Every dimension broadcasts; the only big
    * exchanges are the fact-fact orders⋈lineitem shuffle. The share is
    * a ratio of two DECIMAL-exact conditional sums divided as doubles. */
  private def q8Sql(t: String => String): String =
    s"""SELECT o_year,
       |  round(CAST(sum(CASE WHEN nation = 'NATION_3'
       |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
       |          * CAST(1 - l_discount AS DECIMAL(18,2))
       |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |        * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS mkt_share
       |FROM (
       |  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       |    l_extendedprice, l_discount, n2.n_name AS nation
       |  FROM ${t("part")}, ${t("supplier")}, ${t("lineitem")}, ${t("orders")},
       |    ${t("customer")}, ${t("nation")} n1, ${t("nation")} n2, ${t("region")}
       |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
       |    AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
       |    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
       |    AND p_type = 'PROMO'
       |) all_nations
       |GROUP BY o_year ORDER BY o_year""".stripMargin

  /** TPC-H Q10 (returned-item reporting): revenue lost to returns per
    * customer in a quarter — fact shuffle on o_orderkey, the customer
    * and nation dims broadcast, deterministic top-20. */
  private def q10Sql(t: String => String): String =
    s"""SELECT c_custkey, c_name, $revenueSql AS revenue, c_acctbal, n_name
       |FROM ${t("customer")}, ${t("orders")}, ${t("lineitem")}, ${t("nation")}
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** TPC-H Q19 (discounted revenue), adapted to the harness part schema
    * (no container column — brand × size bands carry the disjunction):
    * the OR-of-ANDs predicate showcase. Catalyst extracts the common
    * `p_partkey = l_partkey` conjunct so the plan is ONE broadcast hash
    * join with the disjunction as a post-join filter — not a nested
    * loop, and the per-branch brand filters still prune the build side. */
  private def q19Sql(t: String => String): String =
    s"""SELECT $revenueSql AS revenue
       |FROM ${t("lineitem")}, ${t("part")}
       |WHERE p_partkey = l_partkey AND (
       |    (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       |      AND l_quantity >= 1 AND l_quantity <= 21)
       |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       |      AND l_quantity >= 10 AND l_quantity <= 30)
       |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
       |      AND l_quantity >= 20 AND l_quantity <= 40))""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier), adapted: the harness star schema
    * has no `partsupp`, so the supplier↔part catalog and its cost are
    * DERIVED from observed trade — supplier s "offers" part p at the
    * minimum unit price ever transacted (`l_extendedprice/l_quantity`,
    * rounded on the 1e-6 grid BEFORE the min so both engines take min
    * over identical doubles). The correlated-scalar shape of Q2 is kept
    * intact: the outer row survives only if its offer equals the
    * region-wide minimum for that part, and Catalyst decorrelates the
    * scalar into an aggregate + join rather than a per-row re-execution.
    * The `offer` CTE is metadata-sized (|parts|×|suppliers| upper bound)
    * next to the lineitem scan that builds it — at 100 TB that scan is
    * the whole cost and it happens once, feeding both the outer join
    * and the decorrelated min. */
  private def q2Sql(dl: Dialect, t: String => String): String =
    // `offer` is consumed twice (outer join + the decorrelated min) —
    // the DuckDB twin materializes it so the lineitem group-by runs
    // once; Spark handles reuse in the plan
    s"""WITH offer AS ${dl.mat}(
       |  SELECT l_partkey AS pk, l_suppkey AS sk,
       |    min(round(CAST(l_extendedprice AS DOUBLE)
       |      / CAST(l_quantity AS DOUBLE), 6)) AS unit_cost
       |  FROM ${t("lineitem")} GROUP BY l_partkey, l_suppkey)
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
       |FROM ${t("part")}, ${t("supplier")}, offer, ${t("nation")}, ${t("region")}
       |WHERE p_partkey = pk AND s_suppkey = sk
       |  AND p_size = 15 AND p_type = 'LARGE'
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'EUROPE'
       |  AND unit_cost = (
       |    SELECT min(o2.unit_cost)
       |    FROM offer o2, ${t("supplier")} s2, ${t("nation")} n2, ${t("region")} r2
       |    WHERE o2.pk = p_partkey AND s2.s_suppkey = o2.sk
       |      AND s2.s_nationkey = n2.n_nationkey
       |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q4 (order-priority checking), adapted: the harness lineitem
    * has no commit/receipt dates, so "a line arrived late" is stood in
    * by "a line was returned" (`l_returnflag = 'R'`). The shape is the
    * point: a correlated EXISTS that Catalyst plans as a LEFT SEMI join
    * on `l_orderkey` — the fact table is never widened, only probed. */
  private def q4Sql(t: String => String): String =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM ${t("orders")}
       |WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
       |  AND EXISTS (
       |    SELECT * FROM ${t("lineitem")}
       |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q9 (product-type profit), adapted: without `ps_supplycost`
    * the unit cost is stood in by the part's list price
    * (`p_retailprice`), so profit = revenue − retailprice·qty; the
    * part-name LIKE filter uses this generator's vocabulary ("bolt").
    * The amount is assembled per-row in DECIMAL (exact under any
    * aggregation order), summed exactly, and surfaced rounded — the
    * five-table join keeps every dim broadcast-size next to the one
    * orders⋈lineitem fact shuffle. */
  private def q9Sql(t: String => String): String =
    s"""SELECT nation, o_year, round(CAST(sum(amount) AS DOUBLE), 4) AS sum_profit
       |FROM (
       |  SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS o_year,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
       |      - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
       |  FROM ${t("part")}, ${t("supplier")}, ${t("lineitem")},
       |    ${t("orders")}, ${t("nation")}
       |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
       |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |    AND p_name LIKE '%bolt%'
       |) profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11 (important stock), adapted: inventory value per part is
    * derived from traded value (`Σ extendedprice` by part through one
    * nation's suppliers) instead of the missing
    * `ps_supplycost·ps_availqty`. The HAVING-against-global-scalar
    * shape survives intact: a part qualifies when its value exceeds a
    * fixed fraction of the SAME aggregate computed over the whole
    * slice — both sides are exact DECIMAL sums cast to double, so the
    * threshold comparison sees identical operands in both engines. */
  private def q11Sql(t: String => String): String =
    s"""SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
       |FROM ${t("lineitem")}, ${t("supplier")}, ${t("nation")}
       |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND n_name = 'NATION_7'
       |GROUP BY l_partkey
       |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > 0.001 * (
       |  SELECT CAST(sum(CAST(l2.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       |  FROM ${t("lineitem")} l2, ${t("supplier")} s2, ${t("nation")} n2
       |  WHERE l2.l_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
       |    AND n2.n_name = 'NATION_7')
       |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q13 (customer distribution): the LEFT-OUTER-join-with-
    * filter-in-the-ON-clause showcase — customers who never ordered
    * must survive with count 0, so the priority filter belongs in the
    * join condition, NOT the WHERE (where it would silently turn the
    * join inner). Two aggregations: per-customer order count, then the
    * histogram of those counts. Verbatim TPC-H apart from the filter
    * column (`o_orderpriority` stands in for the comment pattern). */
  private def q13Sql(t: String => String): String =
    s"""SELECT c_count, count(*) AS custdist
       |FROM (
       |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
       |  FROM ${t("customer")} LEFT OUTER JOIN ${t("orders")}
       |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
       |  GROUP BY c_custkey
       |) c_orders
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 (top supplier): the shared-view shape — `revenue` is
    * defined ONCE as a CTE and consumed twice (outer join + the max
    * scalar). Per-supplier revenue is rounded on the 1e-4 grid inside
    * the CTE, so the `= max` equality compares identical doubles in
    * both engines regardless of aggregation order. Verbatim TPC-H. */
  private def q15Sql(t: String => String): String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no, $revenueSql AS total_revenue
       |  FROM ${t("lineitem")}
       |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM ${t("supplier")}, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q16 (parts/supplier relationship), adapted: the
    * supplier↔part catalog is the DISTINCT pairs observed in lineitem
    * (no `partsupp`), and the excluded-supplier subquery keys on
    * negative account balance (no comment column). The shape is
    * intact: NOT IN against an uncorrelated subquery (a broadcast
    * null-aware anti join — the hard join type), a distinct-pair
    * de-dup, then COUNT(DISTINCT) per group. */
  private def q16Sql(t: String => String): String =
    s"""SELECT p_brand, p_type, p_size,
       |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM ${t("lineitem")}) ps,
       |  ${t("part")}
       |WHERE p_partkey = l_partkey
       |  AND p_brand <> 'Brand#23' AND p_type <> 'PROMO'
       |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45)
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM ${t("supplier")} WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20 (potential part promotion), adapted: "supplier holds
    * excess stock of a part" becomes "supplier shipped more than half
    * of a part's total traded quantity" — the same nested rollup-vs-
    * rollup comparison `partsupp.ps_availqty > 0.5·Σ l_quantity`
    * expresses, derived entirely from the fact table. Both rollups come
    * from ONE grouped scan reused via CTEs (the per-(part,supplier)
    * frame re-aggregates to the per-part total — no second fact scan),
    * and the final IN probes a key-only list. Quantity sums are exact
    * DECIMAL cast to double, so the 0.5·total threshold compares
    * identical operands in both engines. */
  private def q20Sql(t: String => String): String =
    s"""WITH shipped AS (
       |  SELECT l_partkey AS pk, l_suppkey AS sk,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
       |  FROM ${t("lineitem")}, ${t("part")}
       |  WHERE l_partkey = p_partkey AND p_type = 'SMALL'
       |  GROUP BY l_partkey, l_suppkey),
       |tot AS (SELECT pk, sum(q) AS tq FROM shipped GROUP BY pk)
       |SELECT s_suppkey, s_name, n_name
       |FROM ${t("supplier")}, ${t("nation")}
       |WHERE s_nationkey = n_nationkey
       |  AND s_suppkey IN (
       |    SELECT sk FROM shipped, tot
       |    WHERE shipped.pk = tot.pk
       |      AND CAST(q AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE))
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted: "the line
    * was late" is stood in by "the line was returned" (no commit/
    * receipt dates). The double-correlated shape is the point — an
    * EXISTS proving the order is multi-supplier and a NOT EXISTS
    * proving THIS supplier is the only one with a returned line, both
    * correlated on `l_orderkey` with a non-equality supplier predicate;
    * Catalyst plans them as a semi and an anti join against the same
    * fact, not per-row re-executions. */
  private def q21Sql(t: String => String): String =
    s"""SELECT s_name, count(*) AS numwait
       |FROM ${t("supplier")}, ${t("lineitem")} l1, ${t("orders")}, ${t("nation")}
       |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
       |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
       |  AND EXISTS (
       |    SELECT * FROM ${t("lineitem")} l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT * FROM ${t("lineitem")} l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
       |  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  /** TPC-H Q22 (global sales opportunity), adapted: the country code is
    * derived from `c_nationkey % 5` (no phone column). The shape is
    * verbatim: an uncorrelated scalar average as the balance threshold
    * (computed as exact-decimal sum over count so both engines divide
    * identical operands) plus a NOT EXISTS anti join against orders —
    * customers with money who never bought. */
  private def q22Sql(t: String => String): String =
    s"""SELECT cntrycode, count(*) AS numcust,
       |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS totacctbal
       |FROM (
       |  SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode, c_acctbal, c_custkey
       |  FROM ${t("customer")}
       |  WHERE c_nationkey % 5 IN (0, 1, 3)
       |    AND c_acctbal > (
       |      SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
       |      FROM ${t("customer")} c2
       |      WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey % 5 IN (0, 1, 3))
       |    AND NOT EXISTS (
       |      SELECT * FROM ${t("orders")} WHERE o_custkey = c_custkey)
       |) custsale
       |GROUP BY cntrycode
       |ORDER BY cntrycode""".stripMargin

  /** The TPC-H front-door keys: one template per key, run by the engine
    * through `spark.sql` and by the oracle as is ([[Shared]]). */
  private[graft] lazy val shared: Map[String, Shared] = Map(
    /** The `spark.sql` front door — TPC-H Q1's pricing summary verbatim
      * ANSI SQL over a temp view, proving a reference user can drive the
      * engine through SQL, not just the DataFrame API. The query text is
      * `pricingSummarySql`, shared with the oracle. */
    "sql_pricing_summary" -> Shared.sql((_, t) => pricingSummarySql(t)),

    /** TPC-H Q3 through the front door — see `q3Sql` for the plan
      * posture (broadcast filtered dim + fact-fact shuffle join). */
    "sql_q3_shipping_priority" -> Shared.sql((_, t) => q3Sql(t)),

    /** TPC-H Q5 through the front door — the 6-table join (`q5Sql`). */
    "sql_q5_local_supplier" -> Shared.sql((_, t) => q5Sql(t)),

    /** TPC-H Q6 through the front door — scan-filter-aggregate with full
      * predicate pushdown (`q6Sql`). */
    "sql_q6_forecast_revenue" -> Shared.sql((_, t) => q6Sql(t)),

    /** TPC-H Q12 through the front door — conditional aggregation in one
      * join pass (`q12Sql`). */
    "sql_q12_priority_lines" -> Shared.sql((_, t) => q12Sql(t)),

    /** TPC-H Q14 through the front door — conditional-slice ratio over
      * one broadcast join pass (`q14Sql`). */
    "sql_q14_promo_share" -> Shared.sql((_, t) => q14Sql(t)),

    /** TPC-H Q17 through the front door — correlated scalar subquery,
      * decorrelated by Catalyst into one aggregate + join (`q17Sql`). */
    "sql_q17_small_qty_revenue" -> Shared.sql((_, t) => q17Sql(t)),

    /** TPC-H Q18 through the front door — grouped-HAVING IN-subquery
      * (`q18Sql`). */
    "sql_q18_large_orders" -> Shared.sql((_, t) => q18Sql(t)),

    /** TPC-H Q7 through the front door — double nation-dim join
      * (`q7Sql`). */
    "sql_q7_nation_volume" -> Shared.sql((_, t) => q7Sql(t)),

    /** TPC-H Q8 through the front door — the 8-table market-share join
      * (`q8Sql`). */
    "sql_q8_market_share" -> Shared.sql((_, t) => q8Sql(t)),

    /** TPC-H Q10 through the front door — returned-item top-20
      * (`q10Sql`). */
    "sql_q10_returned_items" -> Shared.sql((_, t) => q10Sql(t)),

    /** TPC-H Q19 through the front door — OR-of-ANDs predicate over one
      * broadcast join (`q19Sql`). */
    "sql_q19_discount_revenue" -> Shared.sql((_, t) => q19Sql(t)),

    /** TPC-H Q2 through the front door — correlated min-cost scalar
      * over a derived supplier↔part catalog (`q2Sql`). */
    "sql_q2_min_cost_supplier" -> Shared.sql(q2Sql),

    /** TPC-H Q4 through the front door — correlated EXISTS planned as a
      * left-semi join (`q4Sql`). */
    "sql_q4_priority_check" -> Shared.sql((_, t) => q4Sql(t)),

    /** TPC-H Q9 through the front door — five-table profit rollup by
      * nation × year (`q9Sql`). */
    "sql_q9_product_profit" -> Shared.sql((_, t) => q9Sql(t)),

    /** TPC-H Q11 through the front door — HAVING against a global
      * scalar subquery (`q11Sql`). */
    "sql_q11_important_stock" -> Shared.sql((_, t) => q11Sql(t)),

    /** TPC-H Q13 through the front door — left-outer join with the
      * filter in the ON clause, then a histogram of counts (`q13Sql`). */
    "sql_q13_cust_distribution" -> Shared.sql((_, t) => q13Sql(t)),

    /** TPC-H Q15 through the front door — shared revenue CTE consumed
      * by both the join and the max scalar (`q15Sql`). */
    "sql_q15_top_supplier" -> Shared.sql((_, t) => q15Sql(t)),

    /** TPC-H Q16 through the front door — NOT IN null-aware anti join +
      * COUNT(DISTINCT) per group (`q16Sql`). */
    "sql_q16_supplier_counts" -> Shared.sql((_, t) => q16Sql(t)),

    /** TPC-H Q20 through the front door — rollup-vs-rollup threshold
      * behind an IN probe (`q20Sql`). */
    "sql_q20_promotion_parts" -> Shared.sql((_, t) => q20Sql(t)),

    /** TPC-H Q21 through the front door — EXISTS + NOT EXISTS doubly
      * correlated on the same fact (`q21Sql`). */
    "sql_q21_waiting_suppliers" -> Shared.sql((_, t) => q21Sql(t)),

    /** TPC-H Q22 through the front door — scalar-average threshold +
      * NOT EXISTS anti join (`q22Sql`). */
    "sql_q22_sales_opportunity" -> Shared.sql((_, t) => q22Sql(t))
  )

  val qs: Map[String, Q] = Map[String, Q](
    // ---- §2.1 sources -------------------------------------------------
    "scan_parquet" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    /** Market-basket association mining (the A-Priori first pass):
      * frequent part PAIRS across order baskets with support /
      * confidence / lift. The pair generation is a self-equi-join of
      * the DISTINCT (order, part) frame on the order key — fan-out
      * bounded by Σ C(|basket|,2) with TPC-H-style baskets of ≤ ~7
      * items, never an all-pairs product — and the two item-frequency
      * joins broadcast the part-level rollup. All three measures derive
      * from exact integer counts (single division each), so top-25 by
      * (count, pair) is deterministic in both engines. At 100 TB this
      * is one shuffle of the basket frame on the order key plus
      * metadata-sized dimension joins. */
    "mba_frequent_pairs" -> ((s, d) => {
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val n = b.agg(countDistinct("o").as("n"))
      val item = b.groupBy("p").agg(count(lit(1)).as("c"))
      val pair = b.as("b1").join(b.hint("shuffle_hash").as("b2"),
          col("b1.o") === col("b2.o") && col("b1.p") < col("b2.p"))
        .groupBy(col("b1.p").as("pa"), col("b2.p").as("pb"))
        .agg(count(lit(1)).as("cab"))
      pair
        .join(broadcast(item.select(col("p").as("pa"), col("c").as("ca"))), "pa")
        .join(broadcast(item.select(col("p").as("pb"), col("c").as("cb"))), "pb")
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("cab"),
          round(col("cab").cast("double") / col("n"), 6).as("support"),
          round(col("cab").cast("double") / col("ca"), 6).as("confidence"),
          round(col("n").cast("double") * col("cab") / (col("ca") * col("cb")), 6)
            .as("lift"))
        .orderBy(col("cab").desc, col("pa"), col("pb")).limit(25)
    }),

    /** ITEM-ITEM COSINE SIMILARITY — the neighborhood-model recommender
      * primitive (Sarwar et al. 2001) on the order×part incidence:
      * sim(a,b) = |A∩B| / √(|A|·|B|) over the binary basket vectors,
      * assembled from the SAME distinct-basket self-join as
      * `mba_frequent_pairs` (co-occurrence is the only pair-generating
      * step, and it is keyed by order — never an item×item cross
      * product; at 100 TB the hot-basket fan-out is the `graph_triangles`
      * degree-capping story). A ≥2 co-occurrence floor drops one-off
      * noise pairs; global top-25 by (cosine, pair) keeps the output
      * bounded and deterministic. */
    "ml_item_similarity" -> ((s, d) => {
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val item = b.groupBy("p").agg(count(lit(1)).as("c"))
      val pair = b.as("b1").join(b.hint("shuffle_hash").as("b2"),
          col("b1.o") === col("b2.o") && col("b1.p") < col("b2.p"))
        .groupBy(col("b1.p").as("pa"), col("b2.p").as("pb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 2)
      pair
        .join(broadcast(item.select(col("p").as("pa"), col("c").as("ca"))), "pa")
        .join(broadcast(item.select(col("p").as("pb"), col("c").as("cb"))), "pb")
        .select(col("pa"), col("pb"), col("cab"), col("ca"), col("cb"),
          round(col("cab") / sqrt(col("ca") * col("cb")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("pa"), col("pb")).limit(25)
    }),

    /** SCD TYPE-2 HISTORY — the slowly-changing-dimension build every
      * warehouse runs on entity-attribute streams (Kimball): from the
      * per-user event stream, emit one VERSION row per value CHANGE with
      * its validity interval [valid_from, valid_to) and a current flag.
      * Change detection is lag() ≠ current on the (user, ts, event_id)
      * total order; interval close is lead() over the SURVIVING
      * versions. Everything is windowed per user_id — ONE hash
      * partitioning, bounded per-key work, the §4.3.3 multi-series
      * layout; the µs clock and the 1e-6 value grid decide both the
      * change predicate and the intervals identically in both
      * engines. */
    "scd2_history" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val uw = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("t"), round(col("value"), 6).as("v"))
      val changed = ev
        .withColumn("prev", lag(col("v"), 1).over(uw))
        .filter(col("prev").isNull || col("v") =!= col("prev"))
      changed
        .withColumn("valid_to", lead(col("t"), 1).over(uw))
        .select(col("user_id"), col("v").as("value"),
          col("t").as("valid_from_us"), col("valid_to").as("valid_to_us"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from_us")
    }),

    /** POINT-IN-TIME JOIN against the SCD2 dimension — the read side of
      * `scd2_history`: every click fact picks the purchase-value
      * VERSION that was valid at its event time (valid_from ≤ t <
      * valid_to, open-ended current rows). The interval predicate rides
      * the `user_id` equi-key, so the plan is one keyed join with a
      * residual range filter — per-user version chains are short
      * (bounded by that user's change count), so the per-key work stays
      * bounded at 100 TB, and facts and versions co-partition on the
      * same key. Output is the audit aggregate (match rate, current-row
      * share, exact value mass) rather than the fact-sized row
      * stream. */
    "join_point_in_time" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val uw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("t"), round(col("value"), 6).as("v"))
      val dim = ev
        .withColumn("prev", lag(col("v"), 1).over(uw))
        .filter(col("prev").isNull || col("v") =!= col("prev"))
        .withColumn("valid_to", lead(col("t"), 1).over(uw))
        .select(col("user_id").as("d_user"), col("v"),
          col("t").as("valid_from"), col("valid_to"))
      val fact = Tables.events(s, d).filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("ft"))
      fact.join(dim,
          col("user_id") === col("d_user") &&
            col("ft") >= col("valid_from") &&
            (col("valid_to").isNull || col("ft") < col("valid_to")),
          "left")
        .agg(count(lit(1)).as("n_facts"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("v").isNotNull && col("valid_to").isNull, 1L).otherwise(0L))
            .as("n_current"),
          sum(col("v").cast("decimal(18,6)")).cast("double").as("value_mass"),
          countDistinct(when(col("v").isNotNull, col("user_id"))).as("n_users_matched"))
    }),

    /** PARTIAL-AGGREGATE MERGE — the algebraic re-aggregation contract
      * behind every incremental ETL / materialized-view pipeline at
      * 100 TB (Jesus et al., "Survey of Distributed Data Aggregation
      * Algorithms"; Spark's own partial/final Aggregate split): per
      * (event_type, day) partial states (n, Σv as DECIMAL, min, max) —
      * what a daily ingest job would persist — then the per-type FINAL
      * stats assembled ONLY from those partials (counts/sums add,
      * min/max fold; the decimal sum makes merge order irrelevant),
      * alongside a `consistent` flag re-derived against a direct
      * single-pass aggregation of the fact. The flag is the query's
      * point: merged ≡ direct is the invariant that licenses incremental
      * maintenance, and it is asserted IN the result, not just in a
      * test. */
    "agg_partial_merge" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        Tables.epochDay(col("ts")).as("day"),
        round(col("value"), 6).cast("decimal(18,6)").as("v"))
      val partials = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      val merged = partials.groupBy("event_type")
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx"),
          count(lit(1)).as("n_partials"))
      val direct = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_d"), sum(col("v")).as("sv_d"),
          min(col("v")).as("mn_d"), max(col("v")).as("mx_d"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("n_partials"), col("n"),
          col("sv").cast("double").as("sum_v"),
          col("mn").cast("double").as("min_v"),
          col("mx").cast("double").as("max_v"),
          (col("n") === col("n_d") && col("sv") === col("sv_d") &&
           col("mn") === col("mn_d") && col("mx") === col("mx_d"))
            .as("consistent"))
        .orderBy("event_type")
    }),

    /** Grouped EXACT quantiles — per-series quartiles in one aggregation
      * (`percentile` with an array argument: one sort per group inside
      * the agg, not a per-quantile pass; both engines interpolate
      * linearly). The global-frame flavor is `agg_describe`. */
    "agg_group_quantiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.25, 0.5, 0.75))").as("q"))
        .select(col("event_type"),
          round(element_at(col("q"), 1), 6).as("q25"),
          round(element_at(col("q"), 2), 6).as("q50"),
          round(element_at(col("q"), 3), 6).as("q75"))
        .orderBy("event_type")),

    /** Set intersection with DISTINCT semantics (pandas `Index
      * .intersection` / SQL INTERSECT): users who both clicked AND
      * purchased. Distinct-per-side then an equi semi structure —
      * Catalyst plans INTERSECT as aggregate + join, never row-pairs. */
    "set_intersect_ids" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    }),

    /** EXCEPT with DISTINCT semantics — the intersect's complement
      * (users who clicked but never made a HIGH-VALUE purchase; the
      * value gate keeps the result non-vacuous at every SF — every user
      * has some purchase). Same plan family: aggregate + anti join,
      * never row-pairs. */
    "set_except_ids" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.filter(col("event_type") === "click").select("user_id")
        .except(e.filter(col("event_type") === "purchase" && col("value") > 150)
          .select("user_id"))
        .orderBy("user_id")
    }),

    /** Referential-integrity audit — orphan-FK counts per relation, the
      * lake-wide data-quality check (`check_no_nulls`' cross-table
      * sibling). Each relation is ONE anti join collapsed to a count
      * (never a full materialization of matches); the parent `orders`
      * side is deterministically thinned so the audit demonstrably
      * counts real orphans rather than vacuous zeros. */
    "check_referential_integrity" -> ((s, d) => {
      val ordersSub = Tables.orders(s, d).filter(col("o_orderkey") % 100 =!= 0)
      val lineToOrders = Tables.lineitem(s, d).select(col("l_orderkey").as("fk"))
        .join(ordersSub.select(col("o_orderkey").as("pk")), col("fk") === col("pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit("lineitem->orders").as("relation"), col("n_orphans"))
      val ordersToCust = Tables.orders(s, d).select(col("o_custkey").as("fk"))
        .join(Tables.customer(s, d).select(col("c_custkey").as("pk")), col("fk") === col("pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit("orders->customer").as("relation"), col("n_orphans"))
      lineToOrders.unionByName(ordersToCust).orderBy("relation")
    }),

    /** Deterministic leakage-safe train/test split — THE scalable
      * sampling idiom for training data: assignment is a pure function
      * of the GROUPING key (md5 hex prefix of user_id, < 0x29 → ~16%
      * test), so all of a user's events land on one side (no
      * cross-split leakage), no global sort or sample() pass exists,
      * re-runs are reproducible at any scale, and the split column is
      * computed map-side. md5 hex renders identically in both engines. */
    "split_train_test" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("split",
          when(substring(md5(col("user_id").cast("string")), 1, 2) < "29", "test")
            .otherwise("train"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
            .as("avg_value"))
        .orderBy("split")),

    /** Leakage-safe K-fold OUT-OF-FOLD target encoding — the categorical
      * feature-engineering step of a training pipeline done the only way
      * that survives an audit: a row's own fold NEVER contributes to its
      * encoded value. enc(cat, fold) = smoothed mean of `value` over the
      * category's rows in the OTHER K−1 folds, with an m=20 pseudo-count
      * pulled toward the (also out-of-fold) global prior — the standard
      * high-cardinality smoothing, so a 3-row category does not memorize
      * its own labels.
      *
      * Scale shape: ONE map-side-combined aggregation collapses the fact
      * to |cats|×K cells; every total (per-category, per-fold, grand) is
      * re-aggregated from those cells, so the fact is scanned once no
      * matter how many encodings ride on it, and the resulting encoding
      * table is metadata-sized — the thing you BROADCAST back onto the
      * fact at training time. Fold = `event_id % K` (deterministic,
      * map-side; for non-uniform id spaces hash the id first, same
      * device as `split_train_test`'s md5). Sums accumulate
      * DECIMAL(18,6) so out-of-fold differences are exact under any
      * aggregation order; the final smoothing arithmetic is one fixed
      * double expression both engines evaluate identically. */
    "feature_target_encode_oof" -> ((s, d) => {
      val m = 20.0 // smoothing pseudo-count
      // eager localCheckpoint of the |cats|×K cell frame: Spark does not
      // deduplicate the four common subplans below (cat/gf/tot/final
      // join), so an unmaterialized `cell` would scan the fact table four
      // times. Checkpointed blocks survive into the handed-back plan (a
      // cache()+unpersist() pair would not) and are reclaimed by the
      // ContextCleaner once the plan is dropped.
      val cell = Tables.events(s, d)
        .select(col("event_type"),
          (col("event_id") % 5).cast("int").as("fold"),
          col("value").cast("decimal(18,6)").as("v"))
        .groupBy("event_type", "fold")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .localCheckpoint()
      val cat = cell.groupBy("event_type").agg(sum("n").as("cn"), sum("sv").as("cs"))
      val gf = cell.groupBy("fold").agg(sum("n").as("gn"), sum("sv").as("gs"))
      val tot = cell.agg(sum("n").as("tn"), sum("sv").as("ts"))
      val priorOut = (col("ts") - col("gs")).cast("double") /
        (col("tn") - col("gn")).cast("double")
      cell.join(broadcast(cat), "event_type")
        .join(broadcast(gf), "fold")
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("fold"),
          col("n").as("n_fold"), (col("cn") - col("n")).as("n_out"),
          round(((col("cs") - col("sv")).cast("double") + lit(m) * priorOut) /
            ((col("cn") - col("n")).cast("double") + lit(m)), 6).as("enc"))
        .orderBy("event_type", "fold")
    }),

    // ---- §2.2 projection / filter ------------------------------------
    "project_by_name_predicate" -> ((s, d) =>
      Relational.selectByNamePredicate(Tables.lineitem(s, d),
          f => f.name.startsWith("l_") && f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        .orderBy("l_orderkey", "l_linenumber")),

    "project_subset" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"))
        .orderBy("o_orderkey")),

    "drop_columns" -> ((s, d) =>
      Tables.part(s, d).drop("p_name", "p_brand").orderBy("p_partkey")),

    "filter_gt" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    "filter_isin" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    "filter_threshold_signal" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("pred", (col("value") - 100) / 100)
        .withColumn("conf", (col("user_id") % 100) / lit(100.0))
        .select(col("event_id"), round(col("pred"), 6).as("pred"), col("conf"),
          when(abs(col("pred")) < 0.6 || col("conf") < 0.6, "WAIT")
            .when(col("pred") > 0, "BUY").otherwise("SELL").as("signal"))
        .orderBy("event_id")),

    // ---- §2.1 CSV source/sink (scan_csv_* / sink_csv_results): the
    //      reference's at-rest format round-tripped losslessly — write a
    //      typed extract to CSV, read it back with the schema pinned; the
    //      oracle recomputes the same extract from parquet, so any
    //      serialization loss would hash-mismatch ---------------------
    "scan_csv_train" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.sources.Scratch.dir("csv", d, "orders")
      val extract = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Csv.write(extract, path, single = true)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_date", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderpriority", StringType)))
      graft.sources.Csv.read(s, path, schema).orderBy("o_orderkey")
    }),

    /** Dirty-CSV ingest surfaced as a registry query (`Csv.readPermissive`
      * was spec-only until round 8): a typed orders extract is written to
      * CSV, three deterministically malformed lines are appended to the
      * file, and the PERMISSIVE read keeps every row — parsed columns
      * where possible, raw text in the corrupt-record channel otherwise.
      * The summary separates clean from quarantined; the oracle
      * recomputes the clean side from parquet and the corrupt count is
      * the injected constant. At 100 TB this is the ingest posture:
      * never FAILFAST on one bad row, never silently DROPMALFORMED. */
    "scan_csv_malformed" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = graft.sources.Scratch.dir("csvbad", d, "orders")
      val extract = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.Csv.write(extract, path, single = true)
      // corrupt the landed file in place: three rows with unparseable keys
      val part = new java.io.File(path).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).get
      val w = new java.io.FileWriter(part, true)
      try w.write("not_a_key,42,1.5\nNaK,7,2.5\nbroken,9,3.5\n") finally w.close()
      // the writer leaves .crc sidecars; the raw append invalidates them
      // (ChecksumException on read), and real dirty CSVs don't ship CRCs
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType)))
      val back = graft.sources.Csv.readPermissive(s, path, schema).cache()
      try {
        val r = back.agg(
          sum(col("_corrupt_record").isNull.cast("long")).as("n_good"),
          sum(col("_corrupt_record").isNotNull.cast("long")).as("n_corrupt"),
          round(sum(when(col("_corrupt_record").isNull,
            col("o_totalprice").cast("decimal(18,2)"))).cast("double"), 2)
            .as("sum_good_totalprice")).head()
        Seq((r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toDF("n_good", "n_corrupt", "sum_good_totalprice")
      } finally { back.unpersist(); () }
    }),

    /** Schema evolution at the parquet layer — a lake's generations
      * rarely share a schema: generation 1 carries (key, totalprice),
      * generation 2 adds priority and drops totalprice. `mergeSchema`
      * unifies them BY NAME at read time (absent columns null-fill), the
      * at-rest analog of `concat_union_by_name`. The oracle recomputes
      * the union from the base table, so both the write split and the
      * merged read must be lossless. Generation subdirs under one root
      * make the merged scan ONE multi-file source, not a union of two
      * scans. */
    "scan_schema_evolution" -> ((s, d) => {
      val root = graft.sources.Scratch.dir("evolve", d, "orders")
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$root/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$root/gen=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    /** JSONL round-trip — THE training-data interchange format: the
      * documents table written as line-delimited JSON and read back with
      * a PINNED schema (no inference scan). Free-text content exercises
      * the escaping path (quotes/newlines must survive); the oracle
      * recomputes the extract from parquet, so any serialization loss
      * hash-mismatches. */
    "scan_jsonl_docs" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.sources.Scratch.dir("jsonl", d, "documents")
      Tables.documents(s, d).coalesce(1)
        .write.mode("overwrite").json(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // `scan_csv_labels`: the reference's train_labels.csv analog — a
    // targets extract WITH nulls (~10.5% NaN in the reference), so the
    // CSV null round-trip (null → empty field → null under the pinned
    // schema) is what this entry actually tests.
    "scan_csv_labels" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.sources.Scratch.dir("csv", d, "labels")
      val extract = evd(s, d).select(col("event_id"), col("v_sparse"), col("v_moderate"))
      graft.sources.Csv.write(extract, path, single = true)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("v_sparse", DoubleType),
        StructField("v_moderate", DoubleType)))
      graft.sources.Csv.read(s, path, schema).orderBy("event_id")
    }),

    // `scan_csv_pairs`: the reference's target_pairs.csv analog — a small
    // (target, lag, pair) mapping table (424×3, lag ∈ {1..4} there)
    // round-tripped through CSV with a pinned schema.
    "scan_csv_pairs" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.sources.Scratch.dir("csv", d, "pairs")
      val extract = Tables.part(s, d).select(
        col("p_partkey"),
        concat(trim(expr("split_part(p_name, ' ', 1)")), lit(" - "),
          trim(expr("split_part(p_name, ' ', 2)"))).as("target"),
        (col("p_size") % 4 + 1).as("lag"),
        col("p_name").as("pair"))
      graft.sources.Csv.write(extract, path, single = true)
      val schema = StructType(Seq(
        StructField("p_partkey", LongType), StructField("target", StringType),
        StructField("lag", IntegerType), StructField("pair", StringType)))
      graft.sources.Csv.read(s, path, schema).orderBy("p_partkey")
    }),

    /** ORC round-trip — the OTHER columnar at-rest format Spark ships
      * natively (§2.1 beyond-ref): a typed orders extract written to ORC
      * and read back schema-first. The oracle recomputes the extract
      * from parquet, so any type or value loss through the ORC
      * writer/reader (decimal handling, string encoding, predicate-
      * pushdown-visible stats) hash-mismatches. Date rides as a
      * formatted string per the repo's DATE-column oracle convention. */
    "scan_orc_roundtrip" -> ((s, d) => {
      val path = graft.sources.Scratch.dir("orc", d, "orders")
      val extract = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"), col("o_orderpriority"))
      extract.write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy("o_orderkey")
    }),

    "sink_csv_results" -> ((s, d) => {
      val path = graft.sources.Scratch.dir("csv", d, "results")
      val summary = Tables.orders(s, d).agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_totalprice"))
      graft.sources.Csv.write(summary, path, single = true)
      graft.sources.Csv.read(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_orders",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_totalprice",
            org.apache.spark.sql.types.DoubleType))))
    }),

    /** Partitioned-lake sink: write events hive-partitioned by
      * `event_type`, read back with a partition predicate — the scan must
      * show `PartitionFilters` (CsvSpec asserts it), i.e. the read touches
      * ONE directory, not the dataset. This is the layout that makes
      * 100 TB re-reads cheap: partition pruning happens at file listing,
      * before any IO. */
    "sink_parquet_partitioned" -> ((s, d) => {
      val path = s"/tmp/graft_pq/${new java.io.File(d).getName}/events_by_type"
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      s.read.parquet(path).filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_click"),
          moneySum(col("value")).as("sum_value_click"))
    }),

    /** SMALL-FILE COMPACTION — the lake-maintenance job every streaming
      * ingest needs (Delta/Iceberg `OPTIMIZE`): a fragmented table (64
      * tiny files, the micro-batch debris pattern) is rewritten into
      * size-targeted files, clustered by (event_type, event_id) via
      * repartitionByRange + sortWithinPartitions so the compacted files
      * also carry pruning-friendly min/max ranges (the `zorder_layout`
      * lesson applied to the 1-D case). The target file COUNT is
      * planned from the fragments' actual on-disk bytes — adaptive at
      * any SF, no hardcoded parallelism. The query's oracle-facing
      * output is the before/after CONTENT audit (row count, exact
      * DECIMAL value sum, key range, type count — identical rows ⇒
      * identical audit), which is exactly the invariant that licenses
      * compaction; file counts are asserted in LakeSpec, where the
      * filesystem is observable. */
    "lake_compact_small_files" -> ((s, d) => {
      val targetBytes = 8L << 20
      val frag = graft.sources.Scratch.dir("compact", d, "fragmented")
      val comp = graft.sources.Scratch.dir("compact", d, "compacted")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
      val fragBytes = Option(new java.io.File(frag).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val nTarget = math.max(1, math.ceil(fragBytes / targetBytes.toDouble).toInt)
      s.read.parquet(frag)
        .repartitionByRange(nTarget, col("event_type"), col("event_id"))
        .sortWithinPartitions("event_type", "event_id")
        .write.mode("overwrite").parquet(comp)
      def audit(path: String, phase: String) =
        s.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          countDistinct(col("event_type")).as("n_types"))
          .select(lit(phase).as("phase"), col("n_rows"), col("sum_value"),
            col("min_id"), col("max_id"), col("n_types"))
      audit(comp, "compacted").unionAll(audit(frag, "fragmented"))
        .orderBy("phase")
    }),

    /** Z-order curve values (`functions.ZOrder`): quantize (value, ts_us)
      * onto 16-bit buckets from plan-derived min/max (broadcast 1-row
      * bounds, the `agg_histogram` pattern — adaptive at any SF) and
      * Morton-interleave. All codegen'd integer built-ins; the oracle
      * unrolls the identical mask-and-shift ladder in SQL, so z-values
      * hash-match cross-engine. */
    "zorder_curve" -> ((s, d) => {
      val e = zorderInput(s, d)
      e.select(col("event_id"), col("zx"), col("zy"),
          graft.functions.ZOrder.zValue2(col("zx"), col("zy")).as("z"))
        .orderBy("event_id")
    }),

    /** The layout payoff, measured (`operators.Layout`): write the same
      * rows grid-clustered by z (fixed-width z-range buckets — each file
      * owns a compact z-range, hence a compact (value, ts) rectangle)
      * and, as the control, grid-clustered by ts alone; read the files
      * back and build the per-file min/max manifest a table format
      * keeps; emit it LONG-form with the planner's intersection verdict
      * per file for the same 2-D box predicate. Z-order prunes BOTH
      * dimensions where the single-column sort prunes only its own (the
      * box is one level-2 quadrant of the curve → ~2 of 32 z-buckets
      * intersect vs 8 of 32 linear buckets).
      *
      * Grid (equal-width) bucketing instead of sampled range partitioning
      * makes the WHOLE pipeline — bucket assignment, file layout,
      * manifest, pruning decision — a deterministic function of the
      * data, so the DuckDB twin replays it hash-for-hash (the adaptive-
      * oracle convention). The sampled `repartitionByRange` compaction
      * path stays in [[graft.operators.Layout.writeClustered]], pinned
      * by `ZOrderSpec`'s measured file-count inequality. */
    "zorder_layout_prune" -> ((s, d) => {
      import graft.operators.Layout
      val q = zorderInput(s, d)
        .withColumn("z", graft.functions.ZOrder.zValue2(col("zx"), col("zy")))
      val zDir = graft.sources.Scratch.dir("zorder", d, "by_z")
      val lDir = graft.sources.Scratch.dir("zorder", d, "by_time")
      // 32 buckets over the 32-bit z-domain / the 16-bit zy-domain
      Layout.writeGridBucketed(q, expr("z div 134217728"), zDir)
      Layout.writeGridBucketed(q, expr("zy div 2048"), lDir)
      // middle quarter of each dimension: 1/16 of the plane
      val box = Seq(("zx", 16384L, 32767L), ("zy", 16384L, 32767L))
      def manifest(dir: String, layout: String) =
        Layout.bucketStats(s, dir, Seq("zx", "zy"))
          .withColumn("layout", lit(layout))
          .withColumn("candidate", Layout.candidateExpr(box))
      manifest(zDir, "zorder").unionByName(manifest(lDir, "linear"))
        .select("layout", "bucket", "zx_min", "zx_max", "zy_min", "zy_max",
          "candidate")
        .orderBy("layout", "bucket")
    }),

    // ---- §2.3 missing data --------------------------------------------
    "agg_null_count_per_col" -> ((s, d) =>
      MissingData.nullCountPerColumn(evd(s, d), nullCols)),

    "agg_null_pct_per_col" -> ((s, d) =>
      MissingData.nullPctPerColumn(evd(s, d), nullCols)
        .select(col("column_name"), round(col("null_pct"), 6).as("null_pct"))),

    "agg_null_pct_total" -> ((s, d) =>
      MissingData.totalNullPct(evd(s, d), nullCols)
        .select(round(col("total_null_pct"), 6).as("total_null_pct"))),

    "dropna_rows" -> ((s, d) =>
      MissingData.dropnaRows(evd(s, d), nullCols)
        .select("event_id", "v_sparse", "v_moderate", "v_dense")
        .orderBy("event_id")),

    "drop_sparse_columns" -> ((s, d) =>
      MissingData.dropSparseColumns(evd(s, d), nullCols, maxNullPct = 50.0)
        .select("event_id", "v_moderate", "v_dense")
        .orderBy("event_id")),

    "impute_ffill_bfill" -> ((s, d) =>
      MissingData.ffillBfill(evd(s, d),
          partition = Seq(col("user_id")), order = Seq(col("event_id")),
          cols = Seq("v_moderate"))
        .select(col("event_id"), col("user_id"), col("v_moderate").as("v_imputed"))
        .orderBy("event_id")),

    "impute_interpolate" -> ((s, d) =>
      MissingData.interpolateLinear(evd(s, d),
          partition = Seq(col("user_id")), order = Seq(col("event_id")),
          valueCol = "v_moderate", outCol = "v_interp")
        .select(col("event_id"), col("user_id"), round(col("v_interp"), 6).as("v_interp"))
        .orderBy("event_id")),

    "check_no_nulls" -> ((s, d) =>
      MissingData.totalNullCount(
        MissingData.ffillBfill(evd(s, d),
          Seq(col("user_id")), Seq(col("event_id")), Seq("v_moderate")),
        Seq("v_moderate"))),

    // ---- §2.4 sort / dedup / top-k -------------------------------------
    "sort_by_time" -> ((s, d) =>
      // ts at µs resolution on both sides: DuckDB's parquet reader converts
      // TIMESTAMP(NANOS) to µs TIMESTAMP, so ns would never hash-match.
      Tables.events(s, d)
        .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"), col("value"))
        .orderBy("ts_us", "event_id")),

    "dup_count" -> ((s, d) => Relational.dupCount(Tables.lineitem(s, d))),

    "dedup_by_key" -> ((s, d) =>
      Relational.dedupByKey(Tables.orders(s, d),
          keys = Seq("o_custkey"), tiebreak = Seq(col("o_orderkey")))
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")),

    // µs-truncated clock on BOTH sides (the oracle's DuckDB reader only
    // sees µs timestamps): a series monotonic at µs but tied at ns must
    // agree with the oracle, so compare ts_ns div 1000, not raw ns.
    "check_monotonic" -> ((s, d) =>
      Relational.isMonotonic(Tables.events(s, d), Nil, col("event_id"),
        expr("ts_ns div 1000"))),

    "topk_by_variance" -> ((s, d) =>
      Relational.topKByVariance(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), k = 3)
        .select(col("column_name"), round(col("variance"), 2).as("variance"))),

    "tail_n" -> ((s, d) =>
      Relational.tailN(Tables.events(s, d), Seq(col("ts_ns"), col("event_id")), 50)
        .select("event_id", "user_id", "value")),

    "last_row_lookup" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(expr("max_by(value, event_id)").as("last_value"))
        .orderBy("event_type")),

    /** Ranking/analytic windows (SURVEY §2.7 notes the reference never
      * uses them — free in Spark): per-type top-5 by value with rank +
      * percent_rank. The window carries the event_type partition key, so
      * it scales — the per-type top-k is the pattern an ntile/global
      * sort would get wrong at 100 TB. Deterministic (event_id)
      * tiebreak so both engines rank identically. */
    /** Top-k per key WITHOUT a window sort — `functions.TopKByValue`:
      * the bounded two-phase aggregate whose map side keeps ≤k
      * candidates per key, so the exchange carries winners only (the
      * `window_rank_percentile` flavor shuffles and sorts EVERY row).
      * Identical result, different plan — `PlanAuditSpec` asserts no
      * WindowExec appears; the oracle is the window formulation. */
    "topk_per_key_agg" -> ((s, d) => {
      val top = graft.functions.TopKByValue.topK(5)
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(top(col("value"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("event_id"), round(col("col.v"), 6).as("value"))
        .orderBy("event_type", "rank")
    }),

    "window_rank_percentile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("value"),
          rank().over(w).as("rnk"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .filter(col("rnk") <= 5)
        .orderBy("event_type", "rnk", "event_id")
    }),

    // ---- §2.5 joins ----------------------------------------------------
    "join_mapping_left" -> ((s, d) => {
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    }),

    "join_xy_inner" -> ((s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("sum_totalprice"))
        .orderBy("c_mktsegment")
    }),

    /** As-of join (`Joins.asof`): each click aligned to the user's most
      * recent purchase at-or-before it — one shuffle on user_id, no
      * non-equi explosion. Right side deduped per (user, ts) with an
      * explicit tiebreak so tied timestamps have a well-defined winner. */
    "join_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = Relational.dedupByKey(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts_us", "value"),
        Seq("user_id", "ts_us"), Seq(col("value").desc))
      Joins.asof(clicks, purchases, Seq("user_id"), "ts_us", "ts_us", Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 6).as("last_purchase"))
        .orderBy("event_id")
    }),

    /** Nearest-direction as-of join (pandas `merge_asof(direction=
      * 'nearest')`, `Joins.asofNearest`): each click takes the CLOSER
      * purchase in time, backward winning ties — completing the asof
      * family (backward / tolerance / nearest) on the same one-shuffle
      * union-window plan: two window passes over one keyed exchange,
      * never a non-equi join. Emits the matched distance so the oracle
      * checks the pick, not just the value. */
    "join_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = Relational.dedupByKey(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts_us", "value"),
        Seq("user_id", "ts_us"), Seq(col("value").desc))
      Joins.asofNearest(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 6).as("nearest_purchase"),
          col("asof_dt").as("dt_us"))
        .orderBy("event_id")
    }),

    /** As-of join with a lookback tolerance (pandas
      * `merge_asof(tolerance=…)`): same union-window plan, but a match
      * older than 6 h reads as no-match — the staleness bound every
      * point-in-time feature store applies. */
    "join_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = Relational.dedupByKey(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts_us", "value"),
        Seq("user_id", "ts_us"), Seq(col("value").desc))
      Joins.asof(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
          Seq("value"), tolerance = Some(ASOF_TOL_US))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 6).as("recent_purchase"))
        .orderBy("event_id")
    }),

    /** Binned range join (`Joins.rangeJoinBinned`): orders priced inside
      * deterministic [lo, hi) bands — equi-join on (key, bin) + exact
      * refine, never a nested-loop plan. */
    "join_range" -> ((s, d) => {
      import s.implicits._
      val bandDefs = Seq(
        (0, 0L, 50000L), (1, 50000L, 150000L), (2, 150000L, 300000L),
        (3, 300000L, 600000L))
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      // per-priority interval table → a genuinely keyed (distributed)
      // equi-join on (priority, bin); the bands are identical per key so
      // the SQL twin can express the same result as a plain range join
      val bands = (for { p <- prios; (b, lo, hi) <- bandDefs } yield (p, b, lo, hi))
        .toDF("o_orderpriority", "band_id", "lo", "hi")
      val pts = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("price"))
      Joins.rangeJoinBinned(pts, bands, Seq("o_orderpriority"),
          "price", "lo", "hi", binWidth = 50000L)
        .select(col("o_orderkey"), col("band_id"))
        .orderBy("o_orderkey", "band_id")
    }),

    "anti_membership_cols" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    }),

    /** CDC-style keyed upsert (MERGE without a table format): base rows
      * whose key has an update are replaced, everything else passes
      * through — left_anti(base, updates) ∪ updates. One shuffle on the
      * 8-byte key; at rest this pairs with the hive-partitioned layout
      * (`sink_parquet_partitioned`) as dynamic partition overwrite —
      * rewrite only partitions containing touched keys, never the lake.
      * The update set here is a deterministic slice with a visible
      * column change, so the oracle can rebuild both sides. */
    "merge_upsert_keyed" -> ((s, d) => {
      val base = Tables.orders(s, d)
      val updates = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("U"))
      base.join(updates.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(updates)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    /** Semi join — left_anti's complement (pandas `isin` on a computed
      * key set): customers WITH at least one urgent order. left_semi
      * deduplicates matches inside the join (no distinct afterwards) and
      * ships only the probe side's columns. */
    "join_semi_members" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    /** Bucketed co-located join (`Joins.writeBucketed`): orders ⋈
      * lineitem on the order key with BOTH sides at rest as bucketed
      * tables — the shuffle is paid once at write time, and the join
      * plan has no Exchange on either side (JoinsSpec asserts it). The
      * `merge` hint pins SortMergeJoin so the demo doesn't degrade to a
      * broadcast at test SF — at 100 TB neither fact side broadcasts
      * and SMJ is what Catalyst picks unhinted. */
    "join_bucketed" -> ((s, d) => {
      // path/table names carry the PID: the layout is per-process scratch,
      // so a concurrent Verify/Bench pair on the same SF never overwrites
      // a directory the other is mid-read on
      val sf = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_") +
        "_p" + ProcessHandle.current().pid()
      val base = s"/tmp/graft_bucketed/$sf"
      Joins.scratchDeleteOnExit(base)
      Joins.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        "o_orderkey", buckets = 8, s"g_orders_b_$sf", s"$base/orders")
      Joins.writeBucketed(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        "l_orderkey", buckets = 8, s"g_lineitem_b_$sf", s"$base/lineitem")
      s.table(s"g_orders_b_$sf").hint("merge")
        .join(s.table(s"g_lineitem_b_$sf"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    /** Salted skewed join (`Joins.saltedJoin`): events (big side, skewed
      * join key) against a per-type category dim, joined on
      * (event_type, salt) so a hot type spreads over 16 shuffle
      * partitions instead of one straggler. The `merge` hint keeps the
      * exchange in the plan at test SF (the replicated dim would
      * broadcast and hide the salted topology this query exists to
      * exercise); the oracle is the PLAIN join — salting must be
      * invisible in the result. */
    /** Exact φ-heavy hitters through the Misra–Gries two-pass
      * (`functions.HeavyHitters`): sketch pass → ≤k candidates, exact
      * pass counts candidates only. The harness tables are uniform by
      * construction, so the tenant key plants a known skew profile
      * (hot ≈ 1/3, two warm ≈ 6–7 %, ~80 cold tenants ≈ 0.7 % each —
      * cold cardinality > k, so the sketch's eviction path actually
      * runs). The oracle is the full GROUP BY + HAVING — the sketch
      * must be invisible in the result. */
    "agg_heavy_hitters" -> ((s, d) => {
      val keyed = Tables.events(s, d).select(
        when(col("user_id") % 3 === 0, lit("hot_0"))
          .when(col("user_id") % 5 === 0,
            concat(lit("warm_"), (col("user_id") % 2).cast("string")))
          .otherwise(concat(lit("tail_"), col("user_id").cast("string")))
          .as("tenant"))
      graft.functions.HeavyHitters.exactHeavy(keyed, "tenant", phi = 0.05, k = 32)
        .orderBy("tenant")
    }),

    /** Entity resolution on the DISTINCT key domain: a deterministically
      * corrupted lookup side (first char substituted, last char dropped —
      * edit distance ≤ 2 from its source name) resolves back against the
      * clean part names through `Joins.fuzzyJoinQgram` — 3-gram blocking
      * equi-izes candidates, exact `levenshtein` verifies. The load-
      * bearing scale decision is the SHAPE: fuzzy matching runs over
      * `DISTINCT` names with their row counts, and row multiplicities
      * reattach by plain equi-join. Part names repeat heavily (64
      * distinct over 20k rows at sf0.1), so the row-level formulation's
      * OUTPUT is quadratic in SF (~1M pairs, measured 39 s) while the
      * distinct-domain result is bounded by name-pair matches — at
      * 100 TB the distinct entity strings are the small side, never the
      * row pairs. The oracle replays the distinct-domain blocking AND
      * verify, so a lost candidate fails the hash. */
    "join_fuzzy_qgram" -> ((s, d) => {
      val p = Tables.part(s, d)
      val clean = p.groupBy("p_name").agg(count(lit(1)).as("n_clean"))
      val dirty = p.filter(col("p_partkey") % 7 === 0)
        .select(concat(lit("z"), expr("substring(p_name, 2, length(p_name) - 2)"))
          .as("dirty_name"))
        .groupBy("dirty_name").agg(count(lit(1)).as("n_dirty"))
      val m = graft.operators.Joins.fuzzyJoinQgram(
        dirty.select(col("dirty_name"), col("dirty_name").as("d_str")),
        "dirty_name", "d_str",
        clean.select(col("p_name"), col("p_name").as("c_str")),
        "p_name", "c_str", q = 3, maxDist = 2)
      m.select("dirty_name", "p_name", "dist")
        .join(broadcast(dirty), "dirty_name")
        .join(broadcast(clean), "p_name")
        .select("dirty_name", "p_name", "dist", "n_dirty", "n_clean")
        .orderBy("dirty_name", "p_name")
    }),

    "join_skew_salted" -> ((s, d) => {
      import s.implicits._
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "conversion"), ("signup", "conversion"),
        ("error", "ops")).toDF("event_type", "category")
      Joins.saltedJoin(
          Tables.events(s, d).select("event_id", "event_type", "value").hint("merge"),
          dim, Seq("event_type"), saltIdCol = "event_id", saltFactor = 16)
        .groupBy("category")
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .orderBy("category")
    }),

    /** Temporal interval join, decomposed for scale — `join_range`'s
      * sibling: that one bins POINTS and exact-refines against wide
      * value bands; this one EXPLODES short intervals into their covered
      * epoch days (bounded fan-out: 3 rows per window) so the fact side
      * equi-joins on the day — a broadcast hash join with no inequality condition, so the
      * fact table never shuffles before the partial agg. The naive
      * formulation (`l.day >= w_start AND l.day < w_end`) is a
      * BroadcastNestedLoopJoin — every fact row tested against every
      * window — which is exactly what dies at 100 TB; the oracle runs
      * that naive inequality join in DuckDB, proving the decomposition
      * is result-identical. Window grid derives from min/max(o_orderdate)
      * inside the plan (a broadcast 1-row frame — adaptive at any SF, no
      * driver-side collect). */
    "join_range_interval" -> ((s, d) => {
      val mm = Tables.orders(s, d).agg(
        min(Tables.epochDay(col("o_orderdate"))).cast("long").as("d0"),
        max(Tables.epochDay(col("o_orderdate"))).cast("long").as("d1"))
      val days = mm.select(col("d0"),
          explode(sequence(lit(0L), expr("(d1 - d0) div 10"))).as("w_id"))
        .select(col("w_id"), explode(sequence(
          col("d0") + col("w_id") * 10,
          col("d0") + col("w_id") * 10 + 2)).as("day"))
      Tables.lineitem(s, d)
        .withColumn("day", Tables.epochDay(col("l_shipdate")).cast("long"))
        .join(broadcast(days), "day")
        .groupBy("w_id")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("revenue"))
        .orderBy("w_id")
    }),

    /** Bloom-pre-filtered join (`Joins.bloomPreFilteredJoin`) — the
      * runtime-filter pattern made explicit: urgent+fulfilled orders are
      * a selective key set, so a bloom over their keys kills most
      * lineitem rows MAP-SIDE before the shuffle writes them. The
      * `merge` hint keeps the exchange topology the bloom exists to
      * guard (the thin dim would broadcast at test SF and hide it);
      * the oracle is the PLAIN join — bloom false positives must be
      * invisible after the exact refine. */
    "join_bloom_prefilter" -> ((s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderpriority")
      val joined = Joins.bloomPreFilteredJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity").hint("merge"),
        "l_orderkey", dim, "o_orderkey", expectedItems = 100000L, fpp = 0.01)
      joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.6 aggregations ----------------------------------------------
    "agg_describe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def one(c: String): DataFrame = li.agg(
        count(col(c)).as("n"), Grid.mean6(col(c), 4).as("mean"),
        round(stddev_samp(col(c)), 4).as("std"), min(col(c)).as("min"),
        round(expr(s"percentile($c, 0.25)"), 4).as("p25"),
        round(expr(s"percentile($c, 0.5)"), 4).as("p50"),
        round(expr(s"percentile($c, 0.75)"), 4).as("p75"),
        max(col(c)).as("max")).select(lit(c).as("column_name"), col("*"))
      Seq("l_quantity", "l_extendedprice", "l_discount").map(one).reduce(_.union(_))
        .orderBy("column_name")
    }),

    /** Scale path for `agg_describe`/`agg_boxplot_stats`: exact
      * `percentile` is a full per-column sort — fine for the oracle at
      * test SF, a bottleneck at 100 TB. The approximate quartiles come
      * from a KMV BOTTOM-K sample (the 256 rows with the smallest house
      * hash of the row identity — the `agg_quantile_bottomk` posture):
      * the bottom-k of a union is the bottom-k of the merged bottom-k's,
      * so the sample is MERGEABLE across partitions (Spark plans the
      * orderBy+limit as TakeOrdered — per-partition partial top-k, no
      * full sort) and DETERMINISTIC, unlike `approx_percentile` whose
      * Greenwald–Khanna state is implementation-defined. FULL ORACLE
      * (r15, VERDICT ask #2): both engines pick identical sample rows
      * and interpolate identical quantiles; exact n/mean/std/min/max
      * ride the same one-pass aggregate as `agg_describe`.
      * RelationalSpec still bounds the sample quartiles against the
      * exact ones. */
    "agg_describe_approx" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val hv = expr(
        "conv(substring(md5(concat(cast(l_orderkey AS string), '_', " +
          "cast(l_linenumber AS string))), 1, 8), 16, 10)").cast("long")
      val samp = li
        .select(cols.map(col) ++ Seq(hv.as("hv"),
          col("l_orderkey"), col("l_linenumber")): _*)
        .orderBy(col("hv"), col("l_orderkey"), col("l_linenumber"))
        .limit(256)
      // ONE full-table pass carries every column's exact stats (the
      // whole point of the sketch path is not to rescan per column),
      // ONE 256-row aggregate carries every column's sample quantiles;
      // the long-form reshape is 3 selects off the joined 1-row frame
      val exAggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"nt_$c"), Grid.mean6(col(c), 4).as(s"mean_$c"),
        round(stddev_samp(col(c)), 4).as(s"std_$c"),
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val sqAggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"ns_$c"),
        round(expr(s"percentile($c, 0.25)"), 4).as(s"p25_$c"),
        round(expr(s"percentile($c, 0.5)"), 4).as(s"p50_$c"),
        round(expr(s"percentile($c, 0.75)"), 4).as(s"p75_$c")))
      val ex = li.agg(exAggs.head, exAggs.tail: _*)
      val sq = samp.agg(sqAggs.head, sqAggs.tail: _*)
      val one = ex.crossJoin(sq).localCheckpoint(eager = true) // 3 reshape reads
      cols.map(c => one.select(lit(c).as("column_name"),
          col(s"nt_$c").as("n_total"), col(s"ns_$c").as("n_sample"),
          col(s"mean_$c").as("mean"), col(s"std_$c").as("std"),
          col(s"min_$c").as("min"), col(s"p25_$c").as("p25"),
          col(s"p50_$c").as("p50"), col(s"p75_$c").as("p75"),
          col(s"max_$c").as("max")))
        .reduce(_.union(_))
        .orderBy("column_name")
    }),

    /** Skew-safe aggregation (`Relational.saltedAgg`): per-type event
      * stats where a hot event_type would otherwise own one reducer.
      * Decimal accumulation keeps the salted re-ordering exact, so the
      * result hash-matches the plain GROUP BY oracle. */
    "agg_salted_stats" -> ((s, d) =>
      Relational.saltedAgg(Tables.events(s, d), Seq("event_type"),
          salt = xxhash64(col("event_id")), buckets = 16,
          aggs = Seq(
            ("n", count(lit(1)), sum(_).cast("long")),
            ("sum_value", sum(col("value").cast("decimal(18,2)")), c => sum(c).cast("double")),
            ("max_value", max(col("value")), max(_))))
        .orderBy("event_type")),

    /** Sketch-distinct profiling: the scale path for distinct-
      * cardinality profiling — one pass, bounded mergeable register
      * state per group, map-side combine — where exact `countDistinct`
      * shuffles every distinct value. FULL ORACLE (r14, VERDICT ask #2
      * — replacing the impl-defined `approx_count_distinct` HLL++ with
      * the explicit `Grid.lcReg`/`lcEstimate` linear-counting register
      * sketch both engines replay exactly); RelationalSpec bounds its
      * error against the exact count. */
    "agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("reg", Grid.lcReg("user_id"))
        .groupBy("event_type")
        .agg(countDistinct(col("reg")).as("registers_filled"))
        .select(col("event_type"), col("registers_filled"),
          Grid.lcEstimate(col("registers_filled")).as("nd_users_lc"))
        .orderBy("event_type")),

    /** EXACT distinct counting at scale via the bitmap aggregates — the
      * third point on the distinct-count spectrum (exact-shuffle
      * `count_distinct` ↔ this ↔ approximate HLL `agg_approx_distinct`):
      * ids bucket into fixed 32k-bit ranges (`bitmap_bucket_number`),
      * each (key, bucket) partial-aggregates to ONE ≤4 KB bitmap with
      * map-side combine, and the final count is a sum of per-bucket
      * popcounts. The shuffle carries bitmaps bounded by the id RANGE
      * touched per partition — not one row per distinct id, which is
      * what makes exact distinct on a hot key feasible at 100 TB. Exact,
      * so it gets the same oracle as a plain COUNT(DISTINCT). */
    "agg_bitmap_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("nd_users"))
        .orderBy("event_type")),

    /** Cumulative distinct counting — "new vs returning" first-touch
      * attribution: each user's first active day via one keyed min, daily
      * new-user counts, and the running total of distinct users ever
      * seen. The cumulative window is UNpartitioned by construction —
      * acceptable ONLY because it runs over the day-granularity frame
      * (bounded rows ≈ calendar days), never raw events; the repo
      * convention for `partition = Nil` windows. This is the exact
      * running-distinct that a naive `count(DISTINCT) OVER (ORDER BY
      * day)` cannot express scalably (it would rescan the full prefix
      * per day). */
    "agg_cumulative_distinct" -> ((s, d) => {
      val firstDay = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(Tables.epochDay(col("ts")).cast("long")).as("day"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstDay.groupBy("day").agg(count(lit(1)).as("n_new_users"))
        .select(col("day"), col("n_new_users"),
          sum("n_new_users").over(w).as("cum_distinct_users"))
        .orderBy("day")
    }),

    /** CATEGORICAL ENTROPY PROFILE — the information-content column
      * audit beside `agg_dtype_counts`' type census: per categorical
      * column, Shannon entropy in nats and its ln(k)-normalized form
      * (≈0 ⇒ near-constant column, ≈1 ⇒ uniform), from one
      * wordcount-shaped aggregation per column over the category-sized
      * count frame. The feature-selection triage every profiling pass
      * wants. */
    "agg_categorical_entropy" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      def profile(df: DataFrame, c: String): DataFrame = {
        val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df.groupBy(col(c).cast("string").as("v"))
          .agg(count(lit(1)).as("n"))
          .withColumn("tot", sum("n").over(w))
          .withColumn("p", col("n") / col("tot"))
          .agg(count(lit(1)).as("n_categories"),
            (-sum(col("p") * log(col("p")))).as("h"))
          .select(lit(c).as("column_name"), col("n_categories"),
            round(col("h"), 6).as("entropy_nats"),
            round(col("h") / log(col("n_categories").cast("double")), 6)
              .as("entropy_norm"))
      }
      val pt = Tables.part(s, d)
      Seq(profile(o, "o_orderstatus"), profile(o, "o_orderpriority"),
        profile(li, "l_returnflag"), profile(li, "l_linestatus"),
        profile(pt, "p_brand"))
        .reduce(_.unionAll(_)).orderBy("column_name")
    }),

    /** KEY-SKEW PROFILE — the diagnostic run BEFORE choosing a shuffle
      * key at 100 TB (this registry's own `join_skew_salted` and
      * `agg_salted_stats` are the mitigations; this is the detector
      * that tells you whether you need them): per-key group sizes for
      * each candidate key, collapsed to the distribution stats a
      * planner reads — exact p50/p90/p99, max, the hot-key share of
      * all rows, and max/mean (the straggler multiplier). Two keyed
      * aggregations per candidate over the key-cardinality-sized size
      * frame; long-form, one row per candidate key. */
    "agg_skew_report" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def profile(keyCol: String): DataFrame =
        ev.groupBy(col(keyCol).cast("string").as("k"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
            round(avg("c"), 4).as("mean_sz"),
            round(expr("percentile(c, 0.5)"), 4).as("p50"),
            round(expr("percentile(c, 0.9)"), 4).as("p90"),
            round(expr("percentile(c, 0.99)"), 4).as("p99"),
            max("c").as("max_sz"))
          .select(lit(keyCol).as("key"), col("n_keys"), col("n_rows"),
            col("mean_sz"), col("p50"), col("p90"), col("p99"), col("max_sz"),
            round(col("max_sz") / col("n_rows"), 6).as("top1_share"),
            round(col("max_sz") / col("mean_sz"), 4).as("skew_ratio"))
      Seq("user_id", "event_type").map(profile).reduce(_.unionAll(_))
        .orderBy("key")
    }),

    /** ROLLING 7-DAY DISTINCT USERS (the "rolling MAU" product metric) —
      * the aggregation sliding windows canNOT express, because DISTINCT
      * does not merge across window frames. The scale-safe form is the
      * contribution explode: each (user, day) presence row contributes
      * to the 7 trailing windows that see it (`sequence(day, day+6)`,
      * a narrow ×7 explode on the DEDUPED presence frame — presence is
      * |users|×|days|, metadata-sized next to the fact), then ONE
      * count-distinct per window day. DAU rides the same presence frame
      * and joins back; windows past the data's edge are cut by the
      * broadcast 1-row max-day bound (the `agg_histogram` pattern). */
    "agg_rolling_distinct_users" -> ((s, d) => {
      val presence = Tables.events(s, d)
        .select(col("user_id"), Tables.epochDay(col("ts")).cast("long").as("day"))
        .distinct()
      val bounds = presence.agg(max("day").as("max_day"))
      val mau = presence
        .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wday"))
        .crossJoin(broadcast(bounds))
        .filter(col("wday") <= col("max_day"))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("user_id")).as("mau7"))
      val dau = presence.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      mau.join(dau, Seq("day"), "left")
        .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("mau7"))
        .orderBy("day")
    }),

    /** The SKETCH path of `agg_rolling_distinct_users` — at 100 TB the
      * exact rolling count-distinct shuffles every (user, window) pair;
      * a register sketch keeps per-window state BOUNDED (≤ K register
      * ids) and mergeable, which is how a production metrics store
      * actually serves rolling MAU. Same contribution explode; users
      * hash to K = 65536 md5 registers and each window aggregates its
      * DISTINCT-register fill plus the LINEAR-COUNTING estimate
      * −K·ln(1−V/K) (Whang et al. 1990 — the estimator HLL++ itself
      * serves in exactly this fill regime; a deploy sizes K to the
      * expected cardinality ceiling). FULL ORACLE (r14, VERDICT ask #2
      * — replacing the impl-defined `approx_count_distinct` sketch):
      * the register hash is the shared md5 idiom and the estimate one
      * shared ln expression, so DuckDB replays it exactly;
      * RelationalSpec pins the estimate's relative error against the
      * exact twin. */
    "agg_rolling_distinct_hll" -> ((s, d) => {
      val presence = Tables.events(s, d)
        .select(col("user_id"), Tables.epochDay(col("ts")).cast("long").as("day"))
        .distinct()
      val bounds = presence.agg(max("day").as("max_day"))
      presence
        .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wday"))
        .crossJoin(broadcast(bounds))
        .filter(col("wday") <= col("max_day"))
        .withColumn("reg", Grid.lcReg("user_id"))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("reg")).as("registers_filled"))
        .select(col("day"), col("registers_filled"),
          Grid.lcEstimate(col("registers_filled")).as("mau7_lc"))
        .orderBy("day")
    }),

    /** One-pass data-quality audit — the dbt-test / expectations suite
      * as a query: five constraint classes (uniqueness, not-null,
      * accepted values, range, calendar bounds) computed in a SINGLE
      * aggregate scan (conditional sums + one count-distinct), plus the
      * referential check as a broadcast anti-join count; long-form
      * `(rule, n_violations, passed)` output so downstream gating is a
      * filter, not a schema change. At 100 TB the audit costs one scan
      * of the fact — rules are columnar expressions, not per-rule
      * passes. */
    "dq_expectations" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val scanRules = o.agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_nullcust"),
          sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L)).as("v_status"),
          sum(when(col("o_totalprice") > 0, 0L).otherwise(1L)).as("v_price"),
          sum(when(year(col("o_orderdate")).between(1992, 1998), 0L).otherwise(1L)).as("v_date"))
        .select(expr(
          """stack(5,
            |  'unique_orderkey',    n - n_keys,
            |  'not_null_custkey',   v_nullcust,
            |  'accepted_status',    v_status,
            |  'positive_totalprice', v_price,
            |  'orderdate_1992_1998', v_date) AS (rule, n_violations)""".stripMargin))
      val fk = o.join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("fk_custkey_in_customer").as("rule"), col("n_violations"))
      scanRules.unionByName(fk)
        .withColumn("passed", col("n_violations") === 0L)
        .orderBy("rule")
    }),

    "agg_variance_per_col" -> ((s, d) =>
      Relational.unpivotAgg(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          c => var_samp(col(c)), "column_name", "variance")
        .select(col("column_name"), round(col("variance"), 2).as("variance"))
        .orderBy("column_name")),

    "agg_sum_scalar" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_extendedprice"),
        moneySum(col("l_quantity")).as("sum_quantity"))),

    "agg_corr_matrix" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("gross", col("l_extendedprice") * (lit(1) - col("l_discount")))
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "gross")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"$a|$b") }
      li.agg(aggs.head, aggs.tail: _*)
        .unpivot(Array.empty[Column], pairs.map(p => col(s"`${p._1}|${p._2}`")).toArray,
          "pair", "corr")
        .select(col("pair"), round(col("corr"), 6).as("corr"))
        .orderBy("pair")
    }),

    "agg_high_corr_pairs" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("gross", col("l_extendedprice") * (lit(1) - col("l_discount")))
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "gross")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"$a|$b") }
      li.agg(aggs.head, aggs.tail: _*)
        .unpivot(Array.empty[Column], pairs.map(p => col(s"`${p._1}|${p._2}`")).toArray,
          "pair", "corr")
        .filter(abs(col("corr")) > 0.9)
        .select(col("pair"), round(col("corr"), 6).as("corr"))
        .orderBy("pair")
    }),

    "agg_histogram" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val mm = li.agg(min(col("l_extendedprice")).as("mn"), max(col("l_extendedprice")).as("mx"))
      li.crossJoin(broadcast(mm))
        .withColumn("bucket",
          least(floor((col("l_extendedprice") - col("mn")) * 30.0 / (col("mx") - col("mn"))),
            lit(29L)).cast("int"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    /** WEIGHTED quantiles — the robust aggregation `percentile` cannot
      * express (every unit of l_quantity votes for its line's unit
      * price): lower weighted quantile, smallest price whose cumulative
      * weight reaches q·total. The decision is PURE DECIMAL integer-like
      * arithmetic (4·cw ≥ tot, 2·cw ≥ tot, 4·cw ≥ 3·tot — no float
      * thresholds anywhere), so both engines pick identical rows. Scale
      * shape: pre-aggregate to (group, price) cells FIRST — the window
      * then runs over the bounded distinct-price domain, not raw rows. */
    "agg_weighted_median" -> ((s, d) => {
      val cell = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("w"))
      val wOrd = Window.partitionBy("l_returnflag").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("l_returnflag")
      cell
        .withColumn("cw", sum(col("w")).over(wOrd))
        .withColumn("tot", sum(col("w")).over(wAll))
        .groupBy("l_returnflag")
        .agg(
          min(when(col("cw") * 4 >= col("tot"), col("price"))).as("w_p25"),
          min(when(col("cw") * 2 >= col("tot"), col("price"))).as("w_median"),
          min(when(col("cw") * 4 >= col("tot") * 3, col("price"))).as("w_p75"),
          max(col("tot")).cast("double").as("total_weight"))
        .orderBy("l_returnflag")
    }),

    "agg_boxplot_stats" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q1"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("q2"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("q3"),
          Grid.mean6(col("l_quantity"), 4).as("mean"),
          min(col("l_quantity")).as("min"), max(col("l_quantity")).as("max"))
        .withColumn("iqr", round(col("q3") - col("q1"), 4))
        .withColumn("lo_fence", round(col("q1") - col("iqr") * 1.5, 4))
        .withColumn("hi_fence", round(col("q3") + col("iqr") * 1.5, 4))
        .orderBy("l_returnflag")),

    "agg_dtype_counts" -> ((s, d) => {
      // Metadata histogram (`dtypes.value_counts()`, cell 55): driver-side
      // over the schema, zero data jobs.
      val counts = Tables.lineitem(s, d).schema.fields
        .groupBy(_.dataType.simpleString).view.mapValues(_.length).toSeq
        .sortBy(_._1)
      import s.implicits._
      counts.toDF("dtype", "n").orderBy("dtype")
    }),

    // ---- §2.8 scalar functions -------------------------------------------
    "str_split_pair" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          trim(expr("split_part(p_name, ' ', 1)")).as("leg_a"),
          trim(expr("split_part(p_name, ' ', 2)")).as("leg_b"))
        .orderBy("p_partkey")),

    "str_strip" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("stripped"))
        .orderBy("p_partkey")),

    "str_replace_display" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), expr("replace(c_name, '#', ' ')").as("display_name"))
        .orderBy("c_custkey")),

    "str_contains" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").contains("widget"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    /** Regex capture-group extraction (pandas `str.extract`): the
      * numeric rank and the word out of 'N-WORD' priority strings — a
      * codegen'd scalar, no UDF. */
    "str_regexp_extract" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-(.+)$", 1)
            .cast("int").as("prio_rank"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-(.+)$", 2)
            .as("prio_word"))
        .orderBy("o_orderkey")),

    /** Calendar-part reporting rollup (pandas `dt.year/quarter`): orders
      * bucketed by (year, quarter) with decimal-exact money sums — the
      * date-dimension breakdown every reporting workload needs. */
    "agg_orders_by_quarter" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_totalprice"))
        .orderBy("y", "q")),

    "to_datetime" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
          year(col("ts")).as("y"), month(col("ts")).as("m"),
          expr("ts_ns div 1000").as("ts_us"))
        .orderBy("event_id")),

    "math_abs_min" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          round(abs(col("value") - 100), 6).as("abs_dev"),
          round(least(abs(col("value") - 100) / 60.0, lit(1.0)), 6).as("strength"))
        .orderBy("event_id")),

    "case_confidence" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("r2v", col("value") / 500.0)
        .select(col("event_id"),
          when(col("r2v") >= 0.7, "High").when(col("r2v") >= 0.4, "Medium")
            .otherwise("Low").as("confidence"))
        .orderBy("event_id")),

    "case_trade_signal" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("pred", (col("value") - 100) / 100)
        .withColumn("conf", (col("user_id") % 100) / lit(100.0))
        .select(col("event_id"),
          when(abs(col("pred")) < 0.6 || col("conf") < 0.6, "WAIT")
            .when(col("pred") > 0, "BUY_A_SELL_B").otherwise("SELL_A_BUY_B").as("signal"),
          concat(lit("pred "), round(col("pred"), 4).cast("decimal(12,4)").cast("string"),
            lit(" conf "), col("conf").cast("decimal(12,2)").cast("string")).as("reason"))
        .orderBy("event_id")),

    "rename_to_pair" -> ((s, d) =>
      Tables.region(s, d)
        .select(col("r_regionkey").as("key"), col("r_name").as("pair_name"))
        .orderBy("key")),
  ) ++ Shared.engines(shared)

  val sql: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber",

    "project_by_name_predicate" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |       l_extendedprice, l_discount, l_tax
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    /** Same disjoint-interval semantics: each click matches at most one
      * version of its user's value chain. */
    "join_point_in_time" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, round(value, 6) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |ch AS (
        |  SELECT *, lag(v) OVER w AS prev
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |dim AS (
        |  SELECT user_id AS d_user, v, t AS valid_from,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
        |  FROM ch WHERE prev IS NULL OR v <> prev),
        |fact AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ft
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT fact.user_id, dim.v, dim.valid_to
        |  FROM fact LEFT JOIN dim ON fact.user_id = dim.d_user
        |    AND fact.ft >= dim.valid_from
        |    AND (dim.valid_to IS NULL OR fact.ft < dim.valid_to))
        |SELECT count(*) AS n_facts,
        |  sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
        |  sum(CASE WHEN v IS NOT NULL AND valid_to IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_current,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS value_mass,
        |  count(DISTINCT CASE WHEN v IS NOT NULL THEN user_id END)::BIGINT
        |    AS n_users_matched
        |FROM j""".stripMargin,

    /** SCD2 replay: same change predicate, same per-user interval
      * windows on the µs clock. */
    "scd2_history" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, round(value, 6) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |ch AS (
        |  SELECT user_id, event_id, t, v,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM ev),
        |keep AS (
        |  SELECT user_id, event_id, t, v FROM ch
        |  WHERE prev IS NULL OR v <> prev),
        |fin AS (
        |  SELECT user_id, v AS value, t AS valid_from_us,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS valid_to_us
        |  FROM keep)
        |SELECT user_id, value, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM fin ORDER BY user_id, valid_from_us""".stripMargin,

    /** Partial states re-merged and checked against the direct pass —
      * the decimal sums make both routes exactly equal. */
    "agg_partial_merge" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |partials AS (
        |  SELECT event_type, day, count(*)::BIGINT AS n, sum(v) AS sv,
        |    min(v) AS mn, max(v) AS mx
        |  FROM ev GROUP BY 1, 2),
        |merged AS (
        |  SELECT event_type, sum(n)::BIGINT AS n, sum(sv) AS sv,
        |    min(mn) AS mn, max(mx) AS mx, count(*)::BIGINT AS n_partials
        |  FROM partials GROUP BY 1),
        |direct AS (
        |  SELECT event_type, count(*)::BIGINT AS n_d, sum(v) AS sv_d,
        |    min(v) AS mn_d, max(v) AS mx_d
        |  FROM ev GROUP BY 1)
        |SELECT m.event_type, m.n_partials, m.n,
        |  m.sv::DOUBLE AS sum_v, m.mn::DOUBLE AS min_v, m.mx::DOUBLE AS max_v,
        |  (m.n = d.n_d AND m.sv = d.sv_d AND m.mn = d.mn_d AND m.mx = d.mx_d)
        |    AS consistent
        |FROM merged m JOIN direct d USING (event_type)
        |ORDER BY event_type""".stripMargin,


    "mba_frequent_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o)::BIGINT AS n FROM b),
        |item AS (SELECT p, count(*)::BIGINT AS c FROM b GROUP BY p),
        |pair AS (
        |  SELECT b1.p AS pa, b2.p AS pb, count(*)::BIGINT AS cab
        |  FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        |  GROUP BY 1, 2)
        |SELECT pa, pb, cab,
        |  round(cab::DOUBLE / n.n, 6) AS support,
        |  round(cab::DOUBLE / ia.c, 6) AS confidence,
        |  round(n.n::DOUBLE * cab / (ia.c * ib.c), 6) AS lift
        |FROM pair
        |JOIN item ia ON ia.p = pa
        |JOIN item ib ON ib.p = pb
        |CROSS JOIN n
        |ORDER BY cab DESC, pa, pb LIMIT 25""".stripMargin,

    "ml_item_similarity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |item AS (SELECT p, count(*)::BIGINT AS c FROM b GROUP BY p),
        |pair AS (
        |  SELECT b1.p AS pa, b2.p AS pb, count(*)::BIGINT AS cab
        |  FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, cab, ia.c AS ca, ib.c AS cb,
        |  round(cab / sqrt(ia.c * ib.c), 6) AS cosine
        |FROM pair
        |JOIN item ia ON ia.p = pa
        |JOIN item ib ON ib.p = pb
        |ORDER BY cosine DESC, pa, pb LIMIT 25""".stripMargin,

    "agg_group_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS q25,
        |  round(quantile_cont(value, 0.5), 6) AS q50,
        |  round(quantile_cont(value, 0.75), 6) AS q75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "set_intersect_ids" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "set_except_ids" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |ORDER BY user_id""".stripMargin,

    "scan_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // The NAIVE inequality range join — correct semantics, wrong plan at
    // scale; the engine's day-bucket decomposition must match it exactly.
    "join_range_interval" ->
      """WITH mm AS (
        |  SELECT min(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS d0,
        |         max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS d1
        |  FROM orders),
        |g AS (
        |  SELECT unnest(generate_series(0, CAST((d1 - d0) // 10 AS BIGINT))) AS w_id, d0
        |  FROM mm),
        |w AS (
        |  SELECT w_id, d0 + 10 * w_id AS w_start, d0 + 10 * w_id + 3 AS w_end FROM g)
        |SELECT w_id, count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem l
        |JOIN w ON date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) >= w.w_start
        |      AND date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) < w.w_end
        |GROUP BY w_id ORDER BY w_id""".stripMargin,

    "check_referential_integrity" ->
      """WITH orders_sub AS (SELECT * FROM orders WHERE o_orderkey % 100 <> 0)
        |SELECT 'lineitem->orders' AS relation,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders_sub o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders->customer' AS relation,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
        |ORDER BY relation""".stripMargin,

    "split_train_test" ->
      """SELECT CASE WHEN substr(md5(CAST(user_id AS STRING)), 1, 2) < '29'
        |            THEN 'test' ELSE 'train' END AS split,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY split""".stripMargin,

    "feature_target_encode_oof" ->
      """WITH cell AS (
        |  SELECT event_type, CAST(event_id % 5 AS INT) AS fold,
        |    count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS sv
        |  FROM events GROUP BY 1, 2),
        |cat AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS cn, sum(sv) AS cs
        |        FROM cell GROUP BY 1),
        |gf AS (SELECT fold, CAST(sum(n) AS BIGINT) AS gn, sum(sv) AS gs
        |       FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sv) AS ts FROM cell)
        |SELECT c.event_type, c.fold, c.n AS n_fold,
        |  CAST(ca.cn - c.n AS BIGINT) AS n_out,
        |  round((CAST(ca.cs - c.sv AS DOUBLE) +
        |         20.0 * (CAST(t.ts - g.gs AS DOUBLE) / CAST(t.tn - g.gn AS DOUBLE))) /
        |        (CAST(ca.cn - c.n AS DOUBLE) + 20.0), 6) AS enc
        |FROM cell c
        |JOIN cat ca USING (event_type)
        |JOIN gf g USING (fold)
        |CROSS JOIN tot t
        |ORDER BY event_type, fold""".stripMargin,

    "project_subset" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice FROM orders ORDER BY o_orderkey",

    "drop_columns" ->
      "SELECT p_partkey, p_type, p_size, p_retailprice FROM part ORDER BY p_partkey",

    "filter_gt" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber",

    "filter_isin" ->
      "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey",

    "filter_threshold_signal" ->
      """SELECT event_id, round(pred, 6) AS pred, conf,
        |  CASE WHEN abs(pred) < 0.6 OR conf < 0.6 THEN 'WAIT'
        |       WHEN pred > 0 THEN 'BUY' ELSE 'SELL' END AS signal
        |FROM (SELECT event_id, (value - 100) / 100 AS pred,
        |             (user_id % 100) / 100.0 AS conf FROM events)
        |ORDER BY event_id""".stripMargin,

    "scan_csv_train" ->
      """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "scan_jsonl_docs" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    /** The clean side is replayable from parquet; the corrupt count is
      * the injected constant (three unparseable lines). */
    "scan_csv_malformed" ->
      """SELECT count(*)::BIGINT AS n_good, 3::BIGINT AS n_corrupt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_good_totalprice
        |FROM orders""".stripMargin,

    "agg_weighted_median" ->
      """WITH cell AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, price, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM cell)
        |SELECT l_returnflag,
        |  min(CASE WHEN cw * 4 >= tot THEN price END) AS w_p25,
        |  min(CASE WHEN cw * 2 >= tot THEN price END) AS w_median,
        |  min(CASE WHEN cw * 4 >= tot * 3 THEN price END) AS w_p75,
        |  CAST(max(tot) AS DOUBLE) AS total_weight
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "scan_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "sink_csv_results" ->
      """SELECT count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
        |FROM orders""".stripMargin,

    "sink_parquet_partitioned" ->
      """SELECT count(*) AS n_click,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value_click
        |FROM events WHERE event_type = 'click'""".stripMargin,

    /** Both phases hold the same rows, so both audit rows equal the
      * source-table audit — that equality IS the compaction
      * invariant. */
    "lake_compact_small_files" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |    min(event_id) AS min_id, max(event_id) AS max_id,
        |    count(DISTINCT event_type) AS n_types
        |  FROM events)
        |SELECT 'compacted' AS phase, n_rows, sum_value, min_id, max_id, n_types FROM a
        |UNION ALL
        |SELECT 'fragmented', n_rows, sum_value, min_id, max_id, n_types FROM a
        |ORDER BY phase""".stripMargin,

    // Same quantize arithmetic (subtract in source type, scale in double,
    // clamp both ends) and the spread ladder unrolled via duckSpread —
    // z-values must hash-match bit-for-bit.
    "zorder_curve" -> (
      """WITH mm AS (SELECT min(value) AS vlo, max(value) AS vhi,
        |                   min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi FROM events),
        |q AS (
        |  SELECT event_id,
        |    CASE WHEN vhi <= vlo THEN 0 ELSE least(65535, greatest(0,
        |      CAST(floor((value - vlo) * 65535.0 / (vhi - vlo)) AS BIGINT))) END AS zx,
        |    CASE WHEN thi <= tlo THEN 0 ELSE least(65535, greatest(0,
        |      CAST(floor((epoch_us(ts) - tlo) * 65535.0 / (thi - tlo)) AS BIGINT))) END AS zy
        |  FROM events, mm)
        |SELECT event_id, zx, zy,
        |  (""".stripMargin + duckSpread("zx") + " | (" + duckSpread("zy") + """ << 1)) AS z
        |FROM q ORDER BY event_id""".stripMargin),

    // Replays the grid-bucketed layout end-to-end: same quantize + spread
    // ladder as zorder_curve, then the fixed-width bucket assignment, the
    // per-bucket min/max manifest, and the box-intersection planning
    // verdict — deterministic at every step, so the file layout the Spark
    // side actually wrote hash-matches this logical replay.
    "zorder_layout_prune" -> (
      """WITH mm AS (SELECT min(value) AS vlo, max(value) AS vhi,
        |                   min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi FROM events),
        |q AS (
        |  SELECT event_id,
        |    CASE WHEN vhi <= vlo THEN 0 ELSE least(65535, greatest(0,
        |      CAST(floor((value - vlo) * 65535.0 / (vhi - vlo)) AS BIGINT))) END AS zx,
        |    CASE WHEN thi <= tlo THEN 0 ELSE least(65535, greatest(0,
        |      CAST(floor((epoch_us(ts) - tlo) * 65535.0 / (thi - tlo)) AS BIGINT))) END AS zy
        |  FROM events, mm),
        |zc AS (
        |  SELECT zx, zy,
        |    (""".stripMargin + duckSpread("zx") + " | (" + duckSpread("zy") + """ << 1)) AS z
        |  FROM q),
        |b AS (
        |  SELECT 'zorder' AS layout, z // 134217728 AS bucket, zx, zy FROM zc
        |  UNION ALL
        |  SELECT 'linear' AS layout, zy // 2048 AS bucket, zx, zy FROM zc),
        |m AS (
        |  SELECT layout, bucket,
        |    min(zx) AS zx_min, max(zx) AS zx_max,
        |    min(zy) AS zy_min, max(zy) AS zy_max
        |  FROM b GROUP BY layout, bucket)
        |SELECT layout, bucket, zx_min, zx_max, zy_min, zy_max,
        |  (zx_max >= 16384 AND zx_min <= 32767 AND
        |   zy_max >= 16384 AND zy_min <= 32767) AS candidate
        |FROM m ORDER BY layout, bucket""".stripMargin),

    "scan_csv_labels" -> (evdSql +
      "SELECT event_id, v_sparse, v_moderate FROM evd ORDER BY event_id"),

    "scan_csv_pairs" ->
      """SELECT p_partkey,
        |  concat(trim(split_part(p_name, ' ', 1)), ' - ',
        |         trim(split_part(p_name, ' ', 2))) AS target,
        |  p_size % 4 + 1 AS lag, p_name AS pair
        |FROM part ORDER BY p_partkey""".stripMargin,

    "agg_null_count_per_col" -> (evdSql +
      """SELECT column_name, n_nulls FROM (
        |  SELECT 'v_sparse' AS column_name, count(CASE WHEN v_sparse IS NULL THEN 1 END) AS n_nulls FROM evd
        |  UNION ALL SELECT 'v_moderate', count(CASE WHEN v_moderate IS NULL THEN 1 END) FROM evd
        |  UNION ALL SELECT 'v_dense', count(CASE WHEN v_dense IS NULL THEN 1 END) FROM evd)
        |ORDER BY n_nulls DESC, column_name""".stripMargin),

    "agg_null_pct_per_col" -> (evdSql +
      """SELECT column_name, round(null_pct, 6) AS null_pct FROM (
        |  SELECT 'v_sparse' AS column_name, avg(CASE WHEN v_sparse IS NULL THEN 1.0 ELSE 0.0 END) * 100 AS null_pct FROM evd
        |  UNION ALL SELECT 'v_moderate', avg(CASE WHEN v_moderate IS NULL THEN 1.0 ELSE 0.0 END) * 100 FROM evd
        |  UNION ALL SELECT 'v_dense', avg(CASE WHEN v_dense IS NULL THEN 1.0 ELSE 0.0 END) * 100 FROM evd)
        |ORDER BY null_pct DESC, column_name""".stripMargin),

    "agg_null_pct_total" -> (evdSql +
      """SELECT round(avg(null_pct), 6) AS total_null_pct FROM (
        |  SELECT avg(CASE WHEN v_sparse IS NULL THEN 1.0 ELSE 0.0 END) * 100 AS null_pct FROM evd
        |  UNION ALL SELECT avg(CASE WHEN v_moderate IS NULL THEN 1.0 ELSE 0.0 END) * 100 FROM evd
        |  UNION ALL SELECT avg(CASE WHEN v_dense IS NULL THEN 1.0 ELSE 0.0 END) * 100 FROM evd)""".stripMargin),

    "dropna_rows" -> (evdSql +
      """SELECT event_id, v_sparse, v_moderate, v_dense FROM evd
        |WHERE v_sparse IS NOT NULL AND v_moderate IS NOT NULL AND v_dense IS NOT NULL
        |ORDER BY event_id""".stripMargin),

    "drop_sparse_columns" -> (evdSql +
      "SELECT event_id, v_moderate, v_dense FROM evd ORDER BY event_id"),

    "impute_ffill_bfill" -> (evdSql +
      """SELECT event_id, user_id, coalesce(
        |    last_value(v_moderate IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(v_moderate IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v_imputed
        |FROM evd ORDER BY event_id""".stripMargin),

    "impute_interpolate" -> (evdSql +
      """, r AS (
        |  SELECT event_id, user_id, v_moderate,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM evd),
        |k AS (
        |  SELECT *,
        |    last_value(v_moderate IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v_moderate IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prn,
        |    first_value(v_moderate IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v_moderate IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS nrn
        |  FROM r
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY rn
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY rn
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id,
        |  round(CASE WHEN v_moderate IS NOT NULL THEN v_moderate
        |             WHEN pv IS NOT NULL AND nv IS NOT NULL
        |               THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
        |             WHEN pv IS NOT NULL THEN pv END, 6) AS v_interp
        |FROM k ORDER BY event_id""".stripMargin),

    "check_no_nulls" -> (evdSql +
      """SELECT count(CASE WHEN v_imputed IS NULL THEN 1 END) AS n_nulls FROM (
        |  SELECT coalesce(
        |    last_value(v_moderate IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(v_moderate IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v_imputed
        |  FROM evd)""".stripMargin),

    "sort_by_time" ->
      "SELECT event_id, epoch_us(ts) AS ts_us, value FROM events ORDER BY ts_us, event_id",

    "dup_count" ->
      """SELECT count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)) AS n_duplicates
        |FROM lineitem""".stripMargin,

    "dedup_by_key" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "check_monotonic" ->
      """SELECT coalesce(bool_and(prev IS NULL OR ts >= prev), true) AS is_monotonic
        |FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS prev FROM events)""".stripMargin,

    "topk_by_variance" ->
      """SELECT column_name, round(variance, 2) AS variance FROM (
        |  SELECT 'l_quantity' AS column_name, var_samp(l_quantity) AS variance FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', var_samp(l_extendedprice) FROM lineitem
        |  UNION ALL SELECT 'l_discount', var_samp(l_discount) FROM lineitem
        |  UNION ALL SELECT 'l_tax', var_samp(l_tax) FROM lineitem)
        |ORDER BY variance DESC, column_name LIMIT 3""".stripMargin,

    "tail_n" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 50)
        |ORDER BY ts, event_id""".stripMargin,

    "last_row_lookup" ->
      "SELECT event_type, arg_max(value, event_id) AS last_value FROM events GROUP BY event_type ORDER BY event_type",

    "join_mapping_left" ->
      """SELECT n_nationkey, n_name, r_name FROM nation
        |LEFT JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin,

    "join_xy_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "anti_membership_cols" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "merge_upsert_keyed" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 97 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'U', o_totalprice + 1.0 FROM orders
        |WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "join_semi_members" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    // The window formulation IS the oracle: same rows, same order — the
    // aggregate form must be indistinguishable in result.
    "topk_per_key_agg" ->
      """SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id,
        |  round(value, 6) AS value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rank
        |  FROM events) WHERE rank <= 5
        |ORDER BY event_type, rank""".stripMargin,

    "window_rank_percentile" ->
      """SELECT event_type, event_id, value, rnk, pct_rank FROM (
        |  SELECT event_type, event_id, value,
        |    rank() OVER w AS rnk,
        |    round(percent_rank() OVER w, 6) AS pct_rank
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC))
        |WHERE rnk <= 5
        |ORDER BY event_type, rnk, event_id""".stripMargin,

    "join_asof" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts_us, value FROM (
        |    SELECT user_id, ts_us, value,
        |      row_number() OVER (PARTITION BY user_id, ts_us ORDER BY value DESC) AS rn
        |    FROM ev WHERE event_type = 'purchase')
        |  WHERE rn = 1)
        |SELECT c.event_id, c.user_id, round(p.value, 6) AS last_purchase
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY event_id""".stripMargin,

    /** Naive nearest replay: every (click, purchase) pair per user,
      * ranked by (|Δt|, backward-first); row 1 is the pick. */
    "join_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts_us, value FROM (
        |    SELECT user_id, ts_us, value,
        |      row_number() OVER (PARTITION BY user_id, ts_us ORDER BY value DESC) AS rn
        |    FROM ev WHERE event_type = 'purchase')
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT c.event_id, c.user_id, p.value, abs(c.ts_us - p.ts_us) AS dt,
        |    CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END AS fwd,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY abs(c.ts_us - p.ts_us) ASC,
        |        CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END ASC) AS pick
        |  FROM clicks c JOIN purchases p ON c.user_id = p.user_id)
        |SELECT c.event_id, c.user_id,
        |  round(k.value, 6) AS nearest_purchase, k.dt AS dt_us
        |FROM clicks c LEFT JOIN (SELECT * FROM cand WHERE pick = 1) k
        |  ON c.event_id = k.event_id
        |ORDER BY c.event_id""".stripMargin,

    "join_asof_tolerance" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts_us, value FROM (
        |    SELECT user_id, ts_us, value,
        |      row_number() OVER (PARTITION BY user_id, ts_us ORDER BY value DESC) AS rn
        |    FROM ev WHERE event_type = 'purchase')
        |  WHERE rn = 1)
        |SELECT c.event_id, c.user_id,
        |  CASE WHEN c.ts_us - p.ts_us <= ${6L * 3600L * 1000000L}
        |       THEN round(p.value, 6) END AS recent_purchase
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY event_id""".stripMargin,

    "agg_salted_stats" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_range" ->
      """WITH bands(band_id, lo, hi) AS (
        |  VALUES (0, 0, 50000), (1, 50000, 150000),
        |         (2, 150000, 300000), (3, 300000, 600000))
        |SELECT o_orderkey, band_id
        |FROM orders, bands
        |WHERE CAST(floor(o_totalprice) AS BIGINT) >= lo
        |  AND CAST(floor(o_totalprice) AS BIGINT) < hi
        |ORDER BY o_orderkey, band_id""".stripMargin,

    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The PLAIN join — the bloom pre-filter must be invisible.
    "join_bloom_prefilter" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The oracle is the unsketched full aggregation: same keys, same
    // exact counts — the candidate pass must not change the result.
    "agg_heavy_hitters" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 'hot_0'
        |              WHEN user_id % 5 = 0 THEN 'warm_' || CAST(user_id % 2 AS VARCHAR)
        |              ELSE 'tail_' || CAST(user_id AS VARCHAR) END AS tenant
        |  FROM events),
        |tot AS (SELECT count(*) AS n_total FROM keyed)
        |SELECT tenant, count(*) AS n,
        |  round(count(*) * 1.0 / n_total, 6) AS share
        |FROM keyed, tot GROUP BY tenant, n_total
        |HAVING count(*) > n_total * 0.05
        |ORDER BY tenant""".stripMargin,

    // Distinct-domain blocking replayed, not just the verify: candidates
    // are DISTINCT name pairs sharing >= 1 character 3-gram, then exact
    // levenshtein <= 2; row multiplicities reattach by equi-join.
    "join_fuzzy_qgram" ->
      """WITH cleann AS (
        |  SELECT p_name, count(*)::BIGINT AS n_clean FROM part GROUP BY p_name),
        |dirtyn AS (
        |  SELECT 'z' || substr(p_name, 2, length(p_name) - 2) AS dirty_name,
        |         count(*)::BIGINT AS n_dirty
        |  FROM part WHERE p_partkey % 7 = 0 GROUP BY 1),
        |lg AS (
        |  SELECT dirty_name,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(length(dirty_name) - 2, 1)),
        |      i -> substr(dirty_name, i, 3)))) AS g
        |  FROM dirtyn),
        |rg AS (
        |  SELECT p_name,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(length(p_name) - 2, 1)),
        |      i -> substr(p_name, i, 3)))) AS g
        |  FROM cleann),
        |cand AS (SELECT DISTINCT dirty_name, p_name FROM lg JOIN rg USING (g))
        |SELECT cand.dirty_name, cand.p_name,
        |       levenshtein(cand.dirty_name, cand.p_name) AS dist,
        |       d.n_dirty, c.n_clean
        |FROM cand
        |JOIN dirtyn d ON d.dirty_name = cand.dirty_name
        |JOIN cleann c ON c.p_name = cand.p_name
        |WHERE levenshtein(cand.dirty_name, cand.p_name) <= 2
        |ORDER BY cand.dirty_name, cand.p_name""".stripMargin,

    "join_skew_salted" ->
      """WITH dim(event_type, category) AS (
        |  VALUES ('click', 'engagement'), ('view', 'engagement'),
        |         ('purchase', 'conversion'), ('signup', 'conversion'),
        |         ('error', 'ops'))
        |SELECT category, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim USING (event_type)
        |GROUP BY category ORDER BY category""".stripMargin,

    "agg_describe" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, count($c) AS n, round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c), 4) AS mean,
           |  round(stddev_samp($c), 4) AS std, min($c) AS min,
           |  round(quantile_cont($c, 0.25), 4) AS p25,
           |  round(quantile_cont($c, 0.5), 4) AS p50,
           |  round(quantile_cont($c, 0.75), 4) AS p75, max($c) AS max
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    /** The bottom-k sampled describe replayed exactly: same house hash,
      * same 256-row sample membership, same interpolated quantiles. */
    "agg_describe_approx" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name,
           |  (SELECT count($c) FROM lineitem) AS n_total,
           |  count($c) AS n_sample,
           |  (SELECT round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c), 4) FROM lineitem) AS mean,
           |  (SELECT round(stddev_samp($c), 4) FROM lineitem) AS std,
           |  (SELECT min($c) FROM lineitem) AS min,
           |  round(quantile_cont($c, 0.25), 4) AS p25,
           |  round(quantile_cont($c, 0.5), 4) AS p50,
           |  round(quantile_cont($c, 0.75), 4) AS p75,
           |  (SELECT max($c) FROM lineitem) AS max
           |FROM samp""".stripMargin
      """WITH base AS (
        |  SELECT l_quantity, l_extendedprice, l_discount,
        |    ('0x' || substr(md5(l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR), 1, 8))::BIGINT AS hv,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |samp AS MATERIALIZED (
        |  SELECT * FROM base ORDER BY hv, l_orderkey, l_linenumber LIMIT 256)
        |""".stripMargin +
        Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    // Exact, so the oracle is the plain COUNT(DISTINCT) the bitmap
    // two-phase must reproduce bit-for-bit.
    "agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS nd_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_cumulative_distinct" ->
      """WITH fd AS (
        |  SELECT user_id,
        |    min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS day
        |  FROM events GROUP BY user_id),
        |nd AS (SELECT day, count(*)::BIGINT AS n_new_users FROM fd GROUP BY day)
        |SELECT day, n_new_users,
        |  sum(n_new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_distinct_users
        |FROM nd ORDER BY day""".stripMargin,

    /** Same contribution-explode construction: presence × trailing
      * windows via generate_series, one count-distinct per window
      * day. */
    "agg_rolling_distinct_users" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |mx AS (SELECT max(day) AS max_day FROM p),
        |contrib AS (
        |  SELECT p.user_id, unnest(generate_series(p.day, p.day + 6)) AS wday
        |  FROM p),
        |mau AS (
        |  SELECT wday AS day, count(DISTINCT user_id)::BIGINT AS mau7
        |  FROM contrib, mx WHERE wday <= max_day GROUP BY wday),
        |dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM p GROUP BY day)
        |SELECT mau.day, coalesce(dau.dau, 0)::BIGINT AS dau, mau.mau7
        |FROM mau LEFT JOIN dau ON mau.day = dau.day
        |ORDER BY mau.day""".stripMargin,

    /** The register-sketch twin: same contribution explode, users
      * hashed through the shared `Grid.lcRegSql` registers,
      * per-window distinct-register fill + the shared
      * `Grid.lcEstimateSql` linear-counting estimate. */
    "agg_rolling_distinct_hll" ->
      s"""WITH p AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |mx AS (SELECT max(day) AS max_day FROM p),
        |contrib AS (
        |  SELECT ${Grid.lcRegSql("user_id")} AS reg,
        |    unnest(generate_series(p.day, p.day + 6)) AS wday
        |  FROM p)
        |SELECT wday AS day, count(DISTINCT reg)::BIGINT AS registers_filled,
        |  ${Grid.lcEstimateSql("count(DISTINCT reg)")} AS mau7_lc
        |FROM contrib, mx WHERE wday <= max_day GROUP BY wday
        |ORDER BY day""".stripMargin,

    /** The per-type register-sketch twin of the distinct profile. */
    "agg_approx_distinct" ->
      s"""WITH r AS (
        |  SELECT event_type, ${Grid.lcRegSql("user_id")} AS reg FROM events)
        |SELECT event_type, count(DISTINCT reg)::BIGINT AS registers_filled,
        |  ${Grid.lcEstimateSql("count(DISTINCT reg)")} AS nd_users_lc
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dq_expectations" ->
      """WITH scan AS (
        |  SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_keys,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nullcust,
        |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS v_status,
        |    sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_price,
        |    sum(CASE WHEN year(o_orderdate) BETWEEN 1992 AND 1998 THEN 0 ELSE 1 END) AS v_date
        |  FROM orders),
        |rules AS (
        |  SELECT 'unique_orderkey' AS rule, (n - n_keys)::BIGINT AS n_violations FROM scan
        |  UNION ALL SELECT 'not_null_custkey', v_nullcust::BIGINT FROM scan
        |  UNION ALL SELECT 'accepted_status', v_status::BIGINT FROM scan
        |  UNION ALL SELECT 'positive_totalprice', v_price::BIGINT FROM scan
        |  UNION ALL SELECT 'orderdate_1992_1998', v_date::BIGINT FROM scan
        |  UNION ALL SELECT 'fk_custkey_in_customer', count(*)::BIGINT
        |    FROM orders o WHERE NOT EXISTS (
        |      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT rule, n_violations, n_violations = 0 AS passed
        |FROM rules ORDER BY rule""".stripMargin,

    "agg_categorical_entropy" -> {
      def one(table: String, c: String) =
        s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_categories,
           |  round(-sum(p * ln(p)), 6) AS entropy_nats,
           |  round(-sum(p * ln(p)) / ln(count(*)::DOUBLE), 6) AS entropy_norm
           |FROM (
           |  SELECT n / sum(n) OVER () AS p FROM (
           |    SELECT CAST($c AS VARCHAR) AS v, count(*)::BIGINT AS n
           |    FROM $table GROUP BY 1))""".stripMargin
      Seq(one("lineitem", "l_linestatus"), one("lineitem", "l_returnflag"),
        one("orders", "o_orderpriority"), one("orders", "o_orderstatus"),
        one("part", "p_brand"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "agg_skew_report" ->
      """WITH su AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |se AS (
        |  SELECT event_type AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |pu AS (
        |  SELECT 'user_id' AS key, count(*)::BIGINT AS n_keys,
        |    sum(c)::BIGINT AS n_rows, round(avg(c), 4) AS mean_sz,
        |    round(quantile_cont(c, 0.5), 4) AS p50,
        |    round(quantile_cont(c, 0.9), 4) AS p90,
        |    round(quantile_cont(c, 0.99), 4) AS p99,
        |    max(c)::BIGINT AS max_sz
        |  FROM su),
        |pe AS (
        |  SELECT 'event_type' AS key, count(*)::BIGINT AS n_keys,
        |    sum(c)::BIGINT AS n_rows, round(avg(c), 4) AS mean_sz,
        |    round(quantile_cont(c, 0.5), 4) AS p50,
        |    round(quantile_cont(c, 0.9), 4) AS p90,
        |    round(quantile_cont(c, 0.99), 4) AS p99,
        |    max(c)::BIGINT AS max_sz
        |  FROM se),
        |u AS (SELECT * FROM pu UNION ALL SELECT * FROM pe)
        |SELECT key, n_keys, n_rows, mean_sz, p50, p90, p99, max_sz,
        |  round(max_sz / n_rows, 6) AS top1_share,
        |  round(max_sz / mean_sz, 4) AS skew_ratio
        |FROM u ORDER BY key""".stripMargin,

    "agg_variance_per_col" ->
      """SELECT column_name, round(variance, 2) AS variance FROM (
        |  SELECT 'l_quantity' AS column_name, var_samp(l_quantity) AS variance FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', var_samp(l_extendedprice) FROM lineitem
        |  UNION ALL SELECT 'l_discount', var_samp(l_discount) FROM lineitem
        |  UNION ALL SELECT 'l_tax', var_samp(l_tax) FROM lineitem)
        |ORDER BY column_name""".stripMargin,

    "agg_sum_scalar" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_extendedprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_quantity
        |FROM lineitem""".stripMargin,

    "agg_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "gross")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val rows = pairs.map { case (a, b) =>
        s"SELECT '$a|$b' AS pair, corr($a, $b) AS corr FROM g" }
      "WITH g AS (SELECT *, l_extendedprice * (1 - l_discount) AS gross FROM lineitem)\n" +
        "SELECT pair, round(corr, 6) AS corr FROM (\n" +
        rows.mkString("", "\nUNION ALL ", ")\nORDER BY pair")
    },

    "agg_high_corr_pairs" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "gross")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val rows = pairs.map { case (a, b) =>
        s"SELECT '$a|$b' AS pair, corr($a, $b) AS corr FROM g" }
      "WITH g AS (SELECT *, l_extendedprice * (1 - l_discount) AS gross FROM lineitem)\n" +
        "SELECT pair, round(corr, 6) AS corr FROM (\n" +
        rows.mkString("", "\nUNION ALL ", ")\nWHERE abs(corr) > 0.9 ORDER BY pair")
    },

    "agg_histogram" ->
      """WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
        |SELECT bucket, count(*) AS n FROM (
        |  SELECT CAST(least(floor((l_extendedprice - mn) * 30.0 / (mx - mn)), 29) AS INT) AS bucket
        |  FROM lineitem, mm)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "agg_boxplot_stats" ->
      """SELECT l_returnflag, q1, q2, q3, mean, min, max,
        |  round(q3 - q1, 4) AS iqr,
        |  round(q1 - 1.5 * round(q3 - q1, 4), 4) AS lo_fence,
        |  round(q3 + 1.5 * round(q3 - q1, 4), 4) AS hi_fence
        |FROM (
        |  SELECT l_returnflag,
        |    round(quantile_cont(l_quantity, 0.25), 4) AS q1,
        |    round(quantile_cont(l_quantity, 0.5), 4) AS q2,
        |    round(quantile_cont(l_quantity, 0.75), 4) AS q3,
        |    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(l_quantity), 4) AS mean,
        |    min(l_quantity) AS min, max(l_quantity) AS max
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "agg_dtype_counts" ->
      """SELECT dtype, n FROM (VALUES
        |  ('bigint', 3), ('double', 4), ('int', 1), ('string', 2), ('timestamp_ntz', 1))
        |AS t(dtype, n) ORDER BY dtype""".stripMargin,

    "str_split_pair" ->
      """SELECT p_partkey, trim(split_part(p_name, ' ', 1)) AS leg_a,
        |  trim(split_part(p_name, ' ', 2)) AS leg_b
        |FROM part ORDER BY p_partkey""".stripMargin,

    "str_strip" ->
      "SELECT p_partkey, trim(concat('  ', p_name, '  ')) AS stripped FROM part ORDER BY p_partkey",

    "str_replace_display" ->
      "SELECT c_custkey, replace(c_name, '#', ' ') AS display_name FROM customer ORDER BY c_custkey",

    "str_contains" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%widget%' ORDER BY p_partkey",

    "str_regexp_extract" ->
      """SELECT o_orderkey,
        |  CAST(regexp_extract(o_orderpriority, '^(\d+)-(.+)$', 1) AS INTEGER) AS prio_rank,
        |  regexp_extract(o_orderpriority, '^(\d+)-(.+)$', 2) AS prio_word
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "agg_orders_by_quarter" ->
      """SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
        |FROM orders GROUP BY y, q ORDER BY y, q""".stripMargin,

    "to_datetime" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS event_date, year(ts) AS y, month(ts) AS m,
        |  epoch_ns(ts) // 1000 AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,

    "math_abs_min" ->
      """SELECT event_id, round(abs(value - 100), 6) AS abs_dev,
        |  round(least(abs(value - 100) / 60.0, 1.0), 6) AS strength
        |FROM events ORDER BY event_id""".stripMargin,

    "case_confidence" ->
      """SELECT event_id,
        |  CASE WHEN value / 500.0 >= 0.7 THEN 'High'
        |       WHEN value / 500.0 >= 0.4 THEN 'Medium' ELSE 'Low' END AS confidence
        |FROM events ORDER BY event_id""".stripMargin,

    "case_trade_signal" ->
      """SELECT event_id,
        |  CASE WHEN abs(pred) < 0.6 OR conf < 0.6 THEN 'WAIT'
        |       WHEN pred > 0 THEN 'BUY_A_SELL_B' ELSE 'SELL_A_BUY_B' END AS signal,
        |  concat('pred ', CAST(CAST(round(pred, 4) AS DECIMAL(12,4)) AS VARCHAR),
        |         ' conf ', CAST(CAST(conf AS DECIMAL(12,2)) AS VARCHAR)) AS reason
        |FROM (SELECT event_id, (value - 100) / 100 AS pred,
        |             (user_id % 100) / 100.0 AS conf FROM events)
        |ORDER BY event_id""".stripMargin,

    "rename_to_pair" ->
      "SELECT r_regionkey AS key, r_name AS pair_name FROM region ORDER BY key",
  ) ++ Shared.oracles(shared)
}
