package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer

import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Footer → Spark schema, the conversion Spark's own parquet schema
  * inference applies to each footer it reads. `readSchemaFromFooter` is
  * `private[parquet]`; this object re-exports it to the graft packages.
  * It prefers the schema a Spark writer stores under its row-metadata
  * key and otherwise converts the parquet message type under the
  * session's conf (binary-as-string, INT96, timestamp-NTZ inference,
  * `nanosAsLong`). */
object FooterBridge {
  def schema(footer: Footer, conf: SQLConf): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
}
