package graft.queries

/** The engine-specific spellings of the SQL templates that both the
  * Spark engine and its DuckDB oracle parse. A shared template takes one
  * `dl: Dialect` and writes everything else as ONE text, so the two
  * sides cannot drift: the engine renders it with [[Dialect.Spark]]
  * (through [[Shared]]'s temp-view front door), the oracle with
  * [[Dialect.DuckDb]] over the tables named as they are.
  *
  * [[mat]] is the CTE materialization hint: DuckDB 1.0 re-expands a
  * plain CTE once per consumer, so every oracle CTE read twice or more
  * carries `MATERIALIZED` (the r11 map-count exhaustion of a
  * single-connection oracle replay came from those re-expansion bursts). Spark's parser has no such hint and reads
  * `""`; its multi-consumer fix is a checkpointed step
  * (`graft.plans.StepChain`). [[hint]] is the converse: a Spark-only
  * optimizer hint, `""` on DuckDB. */
sealed trait Dialect {

  /** The event time `ts` in integer ns, integer-divided by `ns` — the
    * bucket ordinal every event-time template groups by. */
  def tsDiv(ns: Long): String

  /** 30-minute bucket ordinal. */
  final def bucket: String = tsDiv(1800000000000L)

  /** Epoch-day ordinal. */
  final def day: String = tsDiv(86400000000000L)

  /** The event time in integer µs since the epoch. */
  def epochUs: String

  /** Days since 1970-01-01 of the DATE expression `d`. */
  def epochDay(d: String): String

  /** The integer-division operator. */
  def div: String

  /** The exact interpolated `p`-quantile aggregate of `x`. */
  def percentile(x: String, p: String): String

  final def median(x: String): String = percentile(x, "0.5")

  /** The CTE materialization hint, trailing blank included. */
  def mat: String

  /** 1-based element `i` of the list `e`. */
  def ix(e: String, i: String): String

  /** Dot product of two double lists. Spark's is the registered
    * `graft_dot` (`GraftExtensions`): a sequential fold, hash-identical
    * to DuckDB's `list_dot_product` and to the left-associated chain. */
  def dot(a: String, b: String): String

  /** `e` cast to a list of doubles. */
  def doubles(e: String): String

  /** `e` cast to a string. */
  def str(e: String): String

  /** String concatenation of `parts`. A part that begins with a line
    * break continues the expression on a new line. */
  def concat(parts: String*): String

  /** The first 8 hex digits of `md5(e)` as a BIGINT — the house
    * cross-engine deterministic hash. */
  def md5Int(e: String): String

  /** The BIGINT at `path` of the JSON string `json`. */
  def jsonLong(json: String, path: String): String

  /** `SELECT` of the integers `range` (`"lo, hi"`, both inclusive) as
    * the column `c`. */
  def series(range: String, c: String): String

  /** `FROM from` joined laterally to the integers `range` as the
    * table `t` with the column `c`. */
  def seriesFrom(from: String, range: String, t: String, c: String): String

  /** A Spark optimizer hint; `""` on DuckDB. */
  def hint(h: => String): String
}

object Dialect {

  case object Spark extends Dialect {
    def tsDiv(ns: Long): String = s"ts_ns div $ns"
    def epochUs: String = "ts_ns div 1000"
    def epochDay(d: String): String = s"datediff($d, DATE '1970-01-01')"
    def div: String = "div"
    def percentile(x: String, p: String): String = s"percentile($x, $p)"
    def mat: String = ""
    def ix(e: String, i: String): String = s"element_at($e, $i)"
    def dot(a: String, b: String): String = s"graft_dot($a, $b)"
    def doubles(e: String): String = s"CAST($e AS ARRAY<DOUBLE>)"
    def str(e: String): String = s"CAST($e AS STRING)"
    def concat(parts: String*): String = "concat(" +
      parts.reduce((a, b) => if (b.startsWith("\n")) s"$a,$b" else s"$a, $b") + ")"
    def md5Int(e: String): String =
      s"CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT)"
    def jsonLong(json: String, path: String): String =
      s"CAST(get_json_object($json, '$path') AS BIGINT)"
    def series(range: String, c: String): String =
      s"SELECT explode(sequence($range)) AS $c"
    def seriesFrom(from: String, range: String, t: String, c: String): String =
      s"FROM $from LATERAL VIEW explode(sequence($range)) $t AS $c"
    def hint(h: => String): String = s"/*+ $h */"
  }

  case object DuckDb extends Dialect {
    def tsDiv(ns: Long): String = s"epoch_ns(ts) // $ns"
    def epochUs: String = "epoch_us(ts)"
    def epochDay(d: String): String = s"date_diff('day', DATE '1970-01-01', $d)"
    def div: String = "//"
    def percentile(x: String, p: String): String = s"quantile_cont($x, $p)"
    def mat: String = "MATERIALIZED "
    def ix(e: String, i: String): String = s"list_extract($e, $i)"
    def dot(a: String, b: String): String = s"list_dot_product($a, $b)"
    def doubles(e: String): String = s"$e::DOUBLE[]"
    def str(e: String): String = s"$e::VARCHAR"
    def concat(parts: String*): String =
      parts.reduce((a, b) => if (b.startsWith("\n")) s"$a ||$b" else s"$a || $b")
    def md5Int(e: String): String = s"('0x' || substr(md5($e), 1, 8))::BIGINT"
    def jsonLong(json: String, path: String): String =
      s"CAST(json_extract($json, '$path') AS BIGINT)"
    def series(range: String, c: String): String =
      s"SELECT unnest(generate_series($range)) AS $c"
    def seriesFrom(from: String, range: String, t: String, c: String): String =
      s"FROM $from, unnest(generate_series($range)) AS $t($c)"
    def hint(h: => String): String = ""
  }
}
