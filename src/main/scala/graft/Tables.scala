package graft

import scala.util.{Try, Using}

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** Loaders for the harness star schema (TESTDATA.md): parquet tables under
  * `/root/testdata/sf*`. Parquet-at-rest is this engine's chosen format
  * (the reference is CSV-only — SURVEY.md §2.1); filters and column
  * projections placed on top of these scans reach the parquet reader via
  * Catalyst pushdown (`PushedFilters` / `ReadSchema`), which is the scan
  * behaviour we want at 100 TB.
  *
  * A table's schema comes from its own parquet footer, read on the
  * driver at every [[read]]: no schema-inference job, and no memo, so a
  * rewritten file never serves a stale schema. A table stored as a
  * directory of part files keeps Spark's inference.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** A parquet table as a DataFrame: `file` is a path, or a glob whose
    * matches are all read. The schema comes from the footer of the first
    * match ([[footerSchema]]) — Spark's inference would run a one-task job
    * to read the same footer — and the rows from every match. A path
    * whose first match is not a plain file (a directory of part files,
    * or nothing) goes to Spark's own reader, with its partition
    * discovery and its errors. */
  def read(spark: SparkSession, file: String): DataFrame =
    footerSchema(spark, file) match {
      case Some(schema) => spark.read.schema(schema).parquet(file)
      case None => spark.read.parquet(file)
    }

  /** The Spark schema in the footer of the first file `pattern` (a path
    * or a glob) matches, converted as Spark's inference converts it
    * (`FooterBridge`) under the session's current conf; None when the
    * first match is not a plain file or nothing matches. Only the
    * footer's schema is parsed: `SKIP_ROW_GROUPS` leaves out the
    * row-group list, as Spark's own inference tasks do. */
  private[graft] def footerSchema(spark: SparkSession, pattern: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(pattern)
    val first = Try(Option(path.getFileSystem(conf).globStatus(path))).toOption.flatten
      .flatMap(_.sortBy(_.getPath.toString).headOption)
    first.filter(_.isFile).map { status =>
      val options = HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val footer = Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), options))(_.getFooter)
      FooterBridge.schema(new Footer(status.getPath, footer), spark.sessionState.conf)
    }
  }

  /** Days since 1970-01-01 of a timestamp column — the engine-wide
    * `date_id` derivation. Every oracle pins the same epoch
    * (`date_diff('day', DATE '1970-01-01', …)` on the DuckDB side), so
    * this must stay the single Scala-side source of it. */
  def epochDay(ts: Column): Column = {
    import org.apache.spark.sql.functions.{datediff, lit}
    datediff(ts.cast("date"), lit("1970-01-01").cast("date"))
  }

  /** `events.ts` has shipped in two at-rest encodings across harness
    * generations — parquet TIMESTAMP(NANOS) (which Spark cannot
    * represent; `nanosAsLong` surfaces it as a raw long) and plain
    * TIMESTAMP(MICROS). [[normalizeEventTs]] makes the engine contract
    * independent of which one is on disk:
    *   - `ts_ns`: LongType nanos since epoch — the canonical, lossless
    *     ordering/equality key (what the oracle compares via
    *     `epoch_ns`/`epoch_us`; for µs-at-rest data the ×1000 widening
    *     is exact, so both encodings produce identical ts_ns semantics);
    *   - `ts`: TimestampType at micros — for calendar ops (day/year
    *     truncation is unaffected by any dropped sub-µs part).
    * Column order is pinned to the historical layout (ts_ns in the
    * original ts position, µs ts appended last). Sessions are UTC
    * engine-wide (Verify/Bench/tests), which is what makes the
    * NTZ-at-rest → instant interpretation match DuckDB's naive read.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // The µs branch casts NTZ-at-rest values through the SESSION timezone;
    // the canonical ts_ns key silently shifts under any non-UTC session.
    // Every entry point (Bench/Verify/tests) pins UTC — fail fast rather
    // than produce shifted keys if a future caller forgets.
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    require(tz == "UTC",
      s"events ts normalization requires spark.sql.session.timeZone=UTC, got $tz")
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) at rest, read as raw ns longs
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP/TIMESTAMP_NTZ (µs) at rest
        val ts = col("ts").cast(TimestampType)
        val inPlace = df.columns.toIndexedSeq.map {
          case "ts" => (unix_micros(ts) * lit(1000L)).as("ts_ns")
          case c    => col(c)
        }
        df.select(inPlace :+ ts.as("ts"): _*)
    }
  }

  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(read(spark, s"$dir/events.parquet"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def events(spark: SparkSession, dir: String): DataFrame = loadEvents(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
