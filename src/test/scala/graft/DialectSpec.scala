package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Dialect
import graft.queries.Dialect.{DuckDb, Spark}

/** Pure string rendering, no data: every [[Dialect]] spelling on both
  * engines, and every shared-template key rendered on each engine free
  * of the other engine's tokens. */
class DialectSpec extends AnyFunSuite {

  private def both(f: Dialect => String): (String, String) = (f(Spark), f(DuckDb))

  test("each spelling renders per engine") {
    val pinned: Seq[(String, (String, String))] = Seq(
      "tsDiv" -> both(_.tsDiv(21600000000000L)),
      "bucket" -> both(_.bucket),
      "day" -> both(_.day),
      "epochUs" -> both(_.epochUs),
      "epochDay" -> both(_.epochDay("CAST(l_shipdate AS DATE)")),
      "div" -> both(_.div),
      "percentile" -> both(_.percentile("x", "0.25")),
      "median" -> both(_.median("abs(r)")),
      "mat" -> both(_.mat),
      "ix" -> both(_.ix("e", "3")),
      "dot" -> both(_.dot("a", "b")),
      "doubles" -> both(_.doubles("embedding")),
      "str" -> both(_.str("k")),
      "concat" -> both(_.concat("a", "':'", "\n  b")),
      "md5Int" -> both(_.md5Int("s")),
      "jsonLong" -> both(_.jsonLong("props", "$.k")),
      "series" -> both(_.series("0, 99", "r")),
      "seriesFrom" -> both(_.seriesFrom("cent", "2, 96", "pe", "p")),
      "hint" -> both(_.hint("REPARTITION(8, g)")))
    val expected = Map(
      "tsDiv" -> ("ts_ns div 21600000000000", "epoch_ns(ts) // 21600000000000"),
      "bucket" -> ("ts_ns div 1800000000000", "epoch_ns(ts) // 1800000000000"),
      "day" -> ("ts_ns div 86400000000000", "epoch_ns(ts) // 86400000000000"),
      "epochUs" -> ("ts_ns div 1000", "epoch_us(ts)"),
      "epochDay" -> ("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')",
        "date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))"),
      "div" -> ("div", "//"),
      "percentile" -> ("percentile(x, 0.25)", "quantile_cont(x, 0.25)"),
      "median" -> ("percentile(abs(r), 0.5)", "quantile_cont(abs(r), 0.5)"),
      "mat" -> ("", "MATERIALIZED "),
      "ix" -> ("element_at(e, 3)", "list_extract(e, 3)"),
      "dot" -> ("graft_dot(a, b)", "list_dot_product(a, b)"),
      "doubles" -> ("CAST(embedding AS ARRAY<DOUBLE>)", "embedding::DOUBLE[]"),
      "str" -> ("CAST(k AS STRING)", "k::VARCHAR"),
      "concat" -> ("concat(a, ':',\n  b)", "a || ':' ||\n  b"),
      "md5Int" -> ("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)",
        "('0x' || substr(md5(s), 1, 8))::BIGINT"),
      "jsonLong" -> ("CAST(get_json_object(props, '$.k') AS BIGINT)",
        "CAST(json_extract(props, '$.k') AS BIGINT)"),
      "series" -> ("SELECT explode(sequence(0, 99)) AS r",
        "SELECT unnest(generate_series(0, 99)) AS r"),
      "seriesFrom" -> ("FROM cent LATERAL VIEW explode(sequence(2, 96)) pe AS p",
        "FROM cent, unnest(generate_series(2, 96)) AS pe(p)"),
      "hint" -> ("/*+ REPARTITION(8, g) */", ""))
    assert(pinned.map(_._1).toSet == expected.keySet)
    pinned.foreach { case (name, got) => assert(got == expected(name), name) }
  }

  test("DuckDB never evaluates a Spark-only hint") {
    assert(DuckDb.hint(sys.error("evaluated")) == "")
  }

  private val duckOnly =
    Seq("MATERIALIZED", "list_extract", "epoch_ns(", "quantile_cont", "json_extract", "::")
  private val sparkOnly =
    Seq("element_at", "ts_ns div", "percentile(", "get_json_object", "conv(", "/*+")

  test("every shared-template key renders without the other engine's tokens") {
    val shared = SparkEntry.shared
    assert(shared.size >= 59, s"shared-template keys: ${shared.size}")
    shared.toSeq.sortBy(_._1).foreach { case (key, sh) =>
      val spark = sh.render(Spark)
      val oracle = sh.oracle
      duckOnly.foreach(tok =>
        assert(!spark.contains(tok), s"$key: Spark text contains $tok"))
      sparkOnly.foreach(tok =>
        assert(!oracle.contains(tok), s"$key: oracle text contains $tok"))
    }
  }

  test("each shared-template key is registered as both an engine and an oracle") {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    SparkEntry.shared.foreach { case (key, sh) =>
      assert(queries.contains(key), key)
      assert(oracles.get(key).contains(sh.oracle), key)
    }
  }
}
