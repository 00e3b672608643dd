package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the canonical-render spec that `scripts/check.py` mirrors
  * byte-for-byte (`render`/`canonical_hash`). Each expected string here
  * is what the PYTHON side produces for the same Arrow value — if a
  * case in `Verify.renderCell` changes shape, this suite red-flags it
  * before the first HASH-SPEC-MISMATCH fires on a live dump. */
class VerifySpec extends SparkSpec {

  test("scalar renders: null, bool, double bits, signed zero, NaN, decimal") {
    assert(Verify.renderCell(null) == "\\N")
    assert(Verify.renderCell(true) == "true")
    assert(Verify.renderCell(false) == "false")
    // struct.pack('>d', 1.5).hex() == '3ff8000000000000'
    assert(Verify.renderCell(1.5) == "3ff8000000000000")
    // the whole point of the bit-render: -0.0 and +0.0 must differ
    assert(Verify.renderCell(0.0) == "0000000000000000")
    assert(Verify.renderCell(-0.0) == "8000000000000000")
    assert(Verify.renderCell(Double.NaN) == "7ff8000000000000")
    // decimals keep scale: str(Decimal('0.010000')) == '0.010000' —
    // exactly the DECIMAL-vs-DOUBLE render gap that kept
    // stat_permutation_fdr red for two rounds
    assert(Verify.renderCell(new java.math.BigDecimal("0.010000")) == "0.010000")
    assert(Verify.renderCell(7L) == "7")
  }

  test("temporal and binary renders") {
    assert(Verify.renderCell(java.time.LocalDate.of(1970, 1, 2)) == "1")
    assert(Verify.renderCell(java.sql.Date.valueOf("1970-01-11")) == "10")
    assert(Verify.renderCell(
      java.time.Instant.parse("1970-01-01T00:00:01Z")) == "1000000")
    assert(Verify.renderCell(Array[Byte](0x0a, -1)) == "0aff")
  }

  test("array, map, and struct render — struct is SORTED name=value (r10 ADVICE)") {
    assert(Verify.renderCell(Seq(1L, 2L)) == "[1, 2]")
    assert(Verify.renderCell(Map("b" -> 2L, "a" -> 1L)) == "{a=1, b=2}")
    // a schema'd Row must render like check.py renders the Arrow struct
    // dict: sorted "name=value", NOT positional "{v1, v2}"
    val schema = StructType(Seq(
      StructField("zeta", DoubleType), StructField("alpha", LongType)))
    val row = new GenericRowWithSchemaCompat(Array[Any](1.5, 3L), schema)
    assert(Verify.renderCell(row) == "{alpha=3, zeta=3ff8000000000000}")
    // schema-less Rows keep the positional fallback
    assert(Verify.renderCell(Row(1L, 2L)) == "{1, 2}")
  }

  test("canonicalHash end-to-end on a struct-typed output column") {
    val s = spark
    val df = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Row(2.5, "x")), Row(2L, Row(-0.0, "y"))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("payload", StructType(Seq(
          StructField("v", DoubleType), StructField("tag", StringType)))))))
    val (h1, n) = Verify.canonicalHash(df)
    assert(n == 2L)
    // field order inside the struct must NOT matter (sorted render)
    val df2 = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Row("x", 2.5)), Row(2L, Row("y", -0.0))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("payload", StructType(Seq(
          StructField("tag", StringType), StructField("v", DoubleType)))))))
    val (h2, _) = Verify.canonicalHash(df2)
    assert(h1 == h2, "struct field order must not change the canonical hash")
  }

  test("the hash mirror root: system property, then env, then the working directory") {
    val cwd = Map("user.dir" -> "/work/checkout")
    assert(Verify.mirrorRoot(cwd, Map.empty) == "/work/checkout")
    assert(Verify.mirrorRoot(cwd, Map("GRAFT_REPO_ROOT" -> "/env")) == "/env")
    assert(Verify.mirrorRoot(cwd + ("graft.repo.root" -> "/prop"),
      Map("GRAFT_REPO_ROOT" -> "/env")) == "/prop")
    // no override: a run mirrors into the checkout it was started from
    assert(Verify.mirrorRoot(sys.props.toMap - "graft.repo.root", Map.empty) ==
      sys.props("user.dir"))
  }
}

/** Minimal schema-carrying Row for the render test (mirrors Catalyst's
  * GenericRowWithSchema without importing a private package path). */
class GenericRowWithSchemaCompat(values: Array[Any], override val schema: StructType)
    extends org.apache.spark.sql.Row {
  override def length: Int = values.length
  override def get(i: Int): Any = values(i)
  override def copy(): Row = this
}
