package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** `Tables.read` takes each table's schema from its parquet footer on the
  * driver. The schema must be exactly the one Spark's inference returns
  * (every table, every scale factor, both `events.ts` encodings), must
  * follow a rewritten file, and the read must run no Spark job. Files
  * this spec writes go to temp dirs, deleted afterwards; testdata is
  * read-only. */
class TablesSpec extends SparkSpec {

  private val ScaleFactors = Seq("sf0.001", "sf0.01", "sf0.1")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withTempDir(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables")
    try f(dir) finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Using.resource(Files.list(p))(_.forEach(deleteTree))
    Files.delete(p)
  }

  /** Writes the sf0.001 events to `file` with `ts` stored as parquet
    * TIMESTAMP(`unit`) — pyarrow's layout: every column optional, `ts`
    * not adjusted to UTC. */
  private def writeEvents(file: Path, unit: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message schema {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val perNs = if (unit == "NANOS") 1L else 1000L
    val rows = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts_ns", "user_id", "event_type", "value", "props").collect()
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(new Configuration()).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.append("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.append("ts", r.getLong(1) / perNs)
      if (!r.isNullAt(2)) g.append("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.append("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
  }

  test("the footer schema is Spark's inferred schema for every table at three scale factors") {
    spark.conf.set(NanosAsLong, "true")
    for (sf <- ScaleFactors; t <- Tables.all) {
      val file = s"/root/testdata/$sf/$t.parquet"
      // no job: the schema is the footer's, not a fallback inference
      val (schema, jobs) = jobsDuring(Tables.read(spark, file).schema)
      assert(jobs == 0, s"$sf/$t")
      assert(schema == spark.read.parquet(file).schema, s"$sf/$t")
    }
  }

  test("both events.ts encodings: footer schema as inferred, one ts_ns contract") {
    withTempDir { dir =>
      val loaded = Seq("NANOS", "MICROS").map { unit =>
        val d = Files.createDirectory(dir.resolve(unit))
        writeEvents(d.resolve("events.parquet"), unit)
        val file = d.resolve("events.parquet").toString
        spark.conf.set(NanosAsLong, "true")
        val inferred = spark.read.parquet(file).schema
        assert(inferred("ts").dataType.typeName ==
          (if (unit == "NANOS") "long" else "timestamp_ntz"), unit)
        assert(Tables.read(spark, file).schema == inferred, unit)
        val events = Tables.events(spark, d.toString)
        assert(events.columns.toSeq ==
          Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"), unit)
        events.orderBy("event_id").collect().toSeq
      }
      assert(loaded.head.nonEmpty)
      assert(loaded.head == loaded(1))
    }
  }

  test("a file rewritten with an extra column loads with the new schema") {
    withTempDir { dir =>
      val file = dir.resolve("nation.parquet")
      Files.copy(Paths.get("/root/testdata/sf0.001/nation.parquet"), file)
      val before = Tables.load(spark, dir.toString, "nation")
      assert(!before.columns.contains("extra"))
      // one Spark-written part file moved over the table file: the footer
      // now also carries Spark's own row-metadata schema
      val staging = dir.resolve("staging")
      before.withColumn("extra", col("n_nationkey") * 2).coalesce(1)
        .write.parquet(staging.toString)
      val part = Using.resource(Files.list(staging))(
        _.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get)
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)

      val after = Tables.load(spark, dir.toString, "nation")
      assert(after.schema == spark.read.parquet(file.toString).schema)
      assert(after.columns.toSeq == before.columns.toSeq :+ "extra")
      assert(after.filter(col("extra") =!= col("n_nationkey") * 2).isEmpty)
      assert(after.count() == before.count())
    }
  }

  test("Tables.load, Tables.events and EventStream.readEvents run no Spark job") {
    val dir = "/root/testdata/sf0.01"
    for (t <- Tables.all) {
      val (_, jobs) = jobsDuring(Tables.load(spark, dir, t).schema)
      assert(jobs == 0, s"Tables.load($t) ran $jobs Spark jobs")
    }
    val (_, eventJobs) = jobsDuring(Tables.events(spark, dir).schema)
    assert(eventJobs == 0, s"Tables.events ran $eventJobs Spark jobs")
    val (_, streamJobs) = jobsDuring(EventStream.readEvents(spark, dir).schema)
    assert(streamJobs == 0, s"EventStream.readEvents ran $streamJobs Spark jobs")
  }

  test("readEvents on an empty directory falls back to the nanos-as-long ts") {
    withTempDir { dir =>
      val events = EventStream.readEvents(spark, dir.toString)
      assert(events.schema("ts_ns").dataType.typeName == "long")
      assert(events.schema("ts").dataType.typeName == "timestamp")
    }
  }
}
