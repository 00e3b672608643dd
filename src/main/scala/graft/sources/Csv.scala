package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink with pinned schemas.
  *
  * The reference loads every input with pandas `read_csv` and dtype
  * inference (`Marilyn_Cleaning.ipynb` cells 3/18/29, `app.py:95`) and
  * serializes results with `to_csv(index=False)` (`app.py:629-645`).
  * Spark-native policy (SURVEY.md §1.5): infer once on a bounded sample,
  * then pin an explicit `StructType` — inference over 100 TB of CSV is a
  * full extra pass, and all-null columns infer nondeterministically.
  */
object Csv {

  /** `scan_csv_*`: read with an explicit, pinned schema (one parquet-grade
    * pass; no inference job). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Dirty-data scan: PERMISSIVE mode with the corrupt-record side
    * channel. At 100 TB some CSV rows WILL be malformed; failing the job
    * (FAILFAST) or silently dropping them (DROPMALFORMED) are both wrong
    * for a pipeline — this keeps every row, parses what it can, and
    * lands the raw text of broken rows in `_corrupt_record` so a
    * downstream filter can count/quarantine them. The extra column must
    * be part of the pinned schema (Spark requirement), so callers pass
    * the DATA schema and this adds the channel. */
  def readPermissive(spark: SparkSession, path: String,
                     dataSchema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(dataSchema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** `sink_csv_results` (`app.py:629-645`): header'd CSV out. Single file
    * only when `single=true` (driver-sized results like the app's 1-row
    * signal frame); large results keep their partitioning. */
  def write(df: DataFrame, path: String, single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }
}
