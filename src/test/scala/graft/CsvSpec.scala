package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.Csv

class CsvSpec extends SparkSpec {

  test("write/read round-trip with pinned schema") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val s = spark; import s.implicits._
    val d = Seq((1L, "x", 1.5), (2L, "y", -2.0)).toDF("id", "name", "v")
    Csv.write(d, s"$dir/out", single = true)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType)))
    val back = Csv.read(spark, s"$dir/out", schema).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getLong(0) == 1L && back(0).getString(1) == "x")
    assert(approx(back(1).getDouble(2), -2.0))
  }

  test("readPermissive keeps malformed rows in the corrupt-record channel") {
    val dir = Files.createTempDirectory("graft-csv3").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "id,v\n1,10.5\nnot_a_number,oops,extra\n3,30.0\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val back = Csv.readPermissive(spark, s"$dir/bad.csv", schema).cache()
    assert(back.count() == 3) // nothing dropped, nothing thrown
    val bad = back.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull)
    assert(bad.count() == 1)
    assert(bad.head().getAs[String]("_corrupt_record").startsWith("not_a_number"))
    val good = back.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNull)
    assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    back.unpersist()
  }

  test("partitioned parquet read-back prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val s = spark; import s.implicits._
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "k", "v")
      .write.mode("overwrite").partitionBy("k").parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
      .filter(org.apache.spark.sql.functions.col("k") === "a")
    val scan = back.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.isDefined, "expected a FileSourceScanExec leaf")
    // the predicate must be a PARTITION filter (pruned at file listing,
    // before any IO), not a data filter
    assert(scan.get.partitionFilters.exists(_.toString.contains("k")),
      s"partitionFilters = ${scan.get.partitionFilters}")
    assert(back.count() == 2)
  }
}
