package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg equals the batch aggregation (availableNow)") {
    val got = EventStream.runWindowedAggOnce(spark, dir, "win_test")
      .orderBy("day", "event_type").collect()
    val want = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day", "event_type").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("observe audit: single-batch run reconciles to zero dropped rows") {
    val got = EventStream.runObservedAuditOnce(spark, dir, "obs_audit_test").head()
    assert(got.getAs[Long]("n_dropped") == 0L, s"single batch cannot drop: $got")
    assert(got.getAs[Long]("n_input") == got.getAs[Long]("n_output"))
    assert(got.getAs[Long]("n_input") ==
      Tables.events(spark, dir).count())
    assert(math.abs(got.getAs[Double]("mass_input") -
      got.getAs[Double]("mass_output")) < 0.01)
  }

  test("observe audit: a late row past the watermark is counted in, dropped from output") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)](
      44, spark, None)
    val dayUs = 86400000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val t0 = 1700000000000000L
    val q = EventStream.windowedAggObserved(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("obs_late")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: one row on day 1, one 3 days later (watermark = max - 1 day
      // after this batch finalizes day 1's window)
      mem.addData(Seq((ts(t0), "click", 1.0), (ts(t0 + 3 * dayUs), "click", 1.0)))
      q.processAllAvailable()
      // batch 2: a LATE row back on day 1 — behind the watermark, dropped
      // by the aggregation, but the observe() metric still counts it
      mem.addData(Seq((ts(t0 + 1000), "click", 1.0)))
      q.processAllAvailable()
      // batch 3: advance far so remaining windows finalize and emit
      mem.addData(Seq((ts(t0 + 10 * dayUs), "click", 1.0)))
      q.processAllAvailable()
      val nIn = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_input")))
        .map(_.getAs[Long]("n_in")).sum
      assert(nIn == 4L, s"observe() must count every arriving row, got $nIn")
      val day1 = spark.table("obs_late")
        .filter(col("day") === "2023-11-14")
        .collect()
      assert(day1.length == 1 && day1.head.getAs[Long]("n") == 1L,
        s"the late day-1 row must NOT re-open the finalized window: ${day1.toSeq}")
    } finally { q.stop(); spark.catalog.dropTempView("obs_late"); () }
  }

  test("streaming topk maintains counts incrementally: equals the batch rank (availableNow)") {
    import org.apache.spark.sql.expressions.Window
    val got = EventStream.runTopkOnce(spark, dir, "topk_test")
      .orderBy("win_start_us", "rk").collect()
    val w = Window.partitionBy("win_start_us")
      .orderBy(col("n_events").desc, col("user_id").asc)
    val want = Tables.events(spark, dir)
      .select(expr("(unix_micros(ts) div 21600000000) * 21600000000")
        .as("win_start_us"), col("user_id"))
      .groupBy("win_start_us", "user_id").agg(count(lit(1)).as("n_events"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("win_start_us", "rk", "user_id", "n_events")
      .orderBy("win_start_us", "rk").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, x) => assert(g == x, s"$g vs $x") }
    // within every window, counts are rank-descending
    got.groupBy(_.getAs[Long]("win_start_us")).values.foreach { rows =>
      val byRk = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("n_events"))
      assert(byRk.toSeq == byRk.toSeq.sorted.reverse)
    }
  }

  test("streaming content dedup emits each distinct text once (equals batch DISTINCT)") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)](
      42, spark, None)
    val t0 = 1700000000000L
    mem.addData(Seq(
      (new java.sql.Timestamp(t0), "alpha"), (new java.sql.Timestamp(t0 + 1000), "beta"),
      (new java.sql.Timestamp(t0 + 2000), "alpha"), (new java.sql.Timestamp(t0 + 3000), "gamma"),
      (new java.sql.Timestamp(t0 + 4000), "beta")))
    val deduped = EventStream.dedupByContent(
      mem.toDF().toDF("ts", "text"), "ts", "text", watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val texts = spark.table("dedup_test").select("text").collect().map(_.getString(0)).sorted
    assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("streaming sessionize equals batch sessionize (availableNow, sf0.001)") {
    val got = EventStream.runSessionizeOnce(spark, dir, "sess_test")
      .select("user_id", "session_id", "n_events", "dur_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // batch twin: ordinal session ids -> session-start identity (min ts_us)
    val want = graft.operators.TimeSeries.sessionize(
        Tables.events(spark, dir).select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("ts_us")),
        Seq(col("user_id")), Seq(col("ts_us"), col("event_id")),
        "ts_us", maxGap = 600000000L, "session_id")
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("start_us"), count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
      .select("user_id", "start_us", "n_events", "dur_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("sessionize across micro-batches: continuation, gap split, and no id reuse after eviction") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)](
      43, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val gapUs = 600000000L     // 10 min
    val q = EventStream.sessionizeStream(toEvents(mem.toDF()), gapUs, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: user 7, two events 1s apart -> one open session
      mem.addData(Seq((7L, 1L, t0), (7L, 2L, t0 + 1000000L)))
      q.processAllAvailable()
      // batch 2: continuation within gap + a far-future event that will
      // advance the watermark past user 7's timeout
      mem.addData(Seq((7L, 3L, t0 + 2000000L), (9L, 4L, t0 + 7200L * 1000000L)))
      q.processAllAvailable()
      // batch 3: drains timers -> evicts user 7's state
      mem.addData(Seq((9L, 5L, t0 + 7201L * 1000000L)))
      q.processAllAvailable()
      // batch 4: user 7 reappears AFTER eviction -> must get a NEW id
      val tNew = t0 + 7300L * 1000000L
      mem.addData(Seq((7L, 6L, tNew)))
      q.processAllAvailable()
      val fin = EventStream.mergeSessionEmissions(spark.table("sess_mb"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // user 7: first session grew to 3 events across batches 1-2, then a
      // distinct post-eviction session; ids are start times, never reused
      assert(fin.contains((7L, t0, 3L, 2000000L)))
      assert(fin.contains((7L, tNew, 1L, 0L)))
      assert(fin.contains((9L, t0 + 7200L * 1000000L, 2L, 1000000L)))
      assert(fin.size == 3)
    } finally q.stop()
  }

  test("sessionize handles late-but-within-watermark events like the batch twin") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)](
      45, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val sec = 1000000L
    val gapUs = 600L * sec     // 10 min
    val q = EventStream.sessionizeStream(toEvents(mem.toDF()), gapUs, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: user 7 at T+1000s, user 8 at T+1000s
      mem.addData(Seq((7L, 1L, t0 + 1000L * sec), (8L, 2L, t0 + 1000L * sec)))
      q.processAllAvailable()
      // batch 2, before the watermark passes: user 7's event at T+100s —
      // 900s earlier than the open session, beyond the gap -> its OWN
      // earlier session (the old single-open-state design fused it);
      // user 8's event at T+500s — within gap BEFORE the open session ->
      // extends it backwards, so the session id itself changes
      mem.addData(Seq((7L, 3L, t0 + 100L * sec), (8L, 4L, t0 + 500L * sec)))
      q.processAllAvailable()
      val got = EventStream.mergeSessionEmissions(spark.table("sess_late"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == Set(
        (7L, t0 + 100L * sec, 1L, 0L),
        (7L, t0 + 1000L * sec, 1L, 0L),
        (8L, t0 + 500L * sec, 2L, 500L * sec)))
    } finally q.stop()
  }

  test("streaming scd2 equals the batch scd2_history chain (availableNow, sf0.001)") {
    val got = EventStream.runScd2Once(spark, dir, "scd2_test")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
        r.getBoolean(4))).toSet
    val want = SparkEntry.queries("scd2_history")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
        r.getBoolean(4))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("scd2 across micro-batches: late revision before finalization, exact-once finals") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Double)](
      47, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "event_id", "ts_us", "v")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val sec = 1000000L
    val q = EventStream.scd2Stream(toEvents(mem.toDF()), watermark = "1 hour")
      .writeStream.format("memory").queryName("scd2_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: user 7 holds 10.0 at t0 and t0+10s -> one open version
      mem.addData(Seq((7L, 1L, t0, 10.0), (7L, 2L, t0 + 10L * sec, 10.0)))
      q.processAllAvailable()
      // batch 2: a LATE (but within-watermark) change at t0+5s splits the
      // version into 10 -> 20 -> 10; the old snapshot must be superseded
      mem.addData(Seq((7L, 3L, t0 + 5L * sec, 20.0)))
      q.processAllAvailable()
      // batches 3-4: far-future events advance the watermark past user
      // 7's closed boundaries -> the first two versions finalize
      mem.addData(Seq((9L, 4L, t0 + 7200L * sec, 5.0)))
      q.processAllAvailable()
      mem.addData(Seq((9L, 5L, t0 + 7300L * sec, 5.0)))
      q.processAllAvailable()
      val emitted = spark.table("scd2_mb")
      val got = EventStream.mergeScdEmissions(emitted)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getBoolean(4))).toSet
      assert(got == Set(
        (7L, 10.0, t0, Some(t0 + 5L * sec), false),
        (7L, 20.0, t0 + 5L * sec, Some(t0 + 10L * sec), false),
        (7L, 10.0, t0 + 10L * sec, None, true),
        (9L, 5.0, t0 + 7200L * sec, None, true)))
      // exact-once finals: each finalized interval appears exactly once
      val finals = emitted.filter(col("finalized"))
        .select("user_id", "valid_from_us").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(finals.length == finals.distinct.length,
        "finalized versions must be emitted exactly once")
      assert(finals.toSet == Set((7L, t0), (7L, t0 + 5L * sec)))
    } finally q.stop()
  }

  test("streaming ewma across micro-batches: late event re-times the suffix, exact-once finals") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, Double)](
      48, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_type", "event_id", "ts_us", "v")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val hr = 3600000000L
    val q = EventStream.ewmaStream(toEvents(mem.toDF()), watermark = "1 hour")
      .writeStream.format("memory").queryName("ewma_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: series A at t0 and t0+4h
      mem.addData(Seq(("A", 1L, t0, 10.0), ("A", 2L, t0 + 4L * hr, 20.0)))
      q.processAllAvailable()
      // batch 2: a LATE (within-watermark: wm = t0+3h) event at t0+3.5h —
      // the recompute must re-time the t0+4h row's alpha (gap shrinks
      // from 4h to 0.5h); the t0 row finalizes (t < wm)
      mem.addData(Seq(("A", 3L, t0 + 3L * hr + 1800000000L, 15.0)))
      q.processAllAvailable()
      // batches 3-4: far-future events advance the watermark past A's
      // suffix -> the re-timed rows finalize exactly once
      mem.addData(Seq(("A", 4L, t0 + 100L * hr, 30.0)))
      q.processAllAvailable()
      mem.addData(Seq(("B", 5L, t0 + 200L * hr, 1.0)))
      q.processAllAvailable()
      val emitted = spark.table("ewma_mb")
      val got = EventStream.mergeEwmaEmissions(emitted)
        .orderBy("event_type", "t")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(4), r.getDouble(5)))
      // driver replay of the exact recursion over the final event set
      def r9(x: Double): Double =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val tau = 21600000000.0
      val pts = Seq((t0, 1L, 10.0), (t0 + 3L * hr + 1800000000L, 3L, 15.0),
        (t0 + 4L * hr, 2L, 20.0), (t0 + 100L * hr, 4L, 30.0))
      var ew = 0.0; var tp = 0L
      val wantA = pts.zipWithIndex.map { case ((t, id, v), i) =>
        val a = if (i == 0) { ew = v; tp = t; 1.0 }
          else {
            val al = r9(1.0 - math.exp(-(t - tp).toDouble / tau))
            ew = r9(ew + al * (v - ew)); tp = t; al
          }
        ("A", t, id, a, ew)
      }
      val want = wantA :+ (("B", t0 + 200L * hr, 5L, 1.0, 1.0))
      assert(got.toSeq == want,
        s"merged stream output must equal the batch recursion:\n" +
          s"got  ${got.toSeq}\nwant $want")
      // exact-once finals, and the late row's re-timed successors final only once
      val finals = emitted.filter(col("finalized"))
        .select("event_id").collect().map(_.getLong(0))
      assert(finals.length == finals.distinct.length,
        "finalized rows must be emitted exactly once")
      assert(finals.toSet == Set(1L, 2L, 3L, 4L),
        s"A's sealed rows should have finalized, got ${finals.toSeq}")
    } finally q.stop()
  }

  test("stream-stream attribution join equals the batch interval join (availableNow)") {
    val got = EventStream.runAttributionOnce(spark, dir, "attrib_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"), col("ts").as("vts"))
    val want = c.join(v, col("user_id") === col("vuser") &&
        col("vts") >= col("cts") - expr("INTERVAL 6 hours") && col("vts") <= col("cts"))
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("attribution join matches across micro-batches: a click in batch 2 finds views buffered in batch 1") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String, Long)](
      44, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = EventStream.attributionJoin(toEvents(mem.toDF()), horizon = "6 hours")
      .writeStream.format("memory").queryName("attrib_mb")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
    try {
      val t0 = 1700000000000000L // µs
      val h = 6L * 3600L * 1000000L
      // batch 1: two views for user 1 (one inside the future click's
      // horizon, one far outside it), plus a view for user 2
      mem.addData(Seq(
        (10L, 1L, "view", t0),
        (11L, 1L, "view", t0 - h - 1000000L),
        (12L, 2L, "view", t0)))
      q.processAllAvailable()
      // batch 2: user 1 clicks 1h after t0 -> must match view 10 (buffered
      // from batch 1) but not view 11 (outside horizon) or user 2's view
      mem.addData(Seq((20L, 1L, "click", t0 + 3600L * 1000000L)))
      q.processAllAvailable()
      val pairs = spark.table("attrib_mb")
        .select("user_id", "click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs == Set((1L, 20L, 10L)))
    } finally q.stop()
  }

  test("drift monitor: first batch has z=0, state accumulates all rows") {
    val events = EventStream.readEvents(spark, dir)
    val q = EventStream.driftMonitor(events)
      .writeStream.format("memory").queryName("drift_test")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("drift_test").collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_total")).sum
    assert(total == Tables.events(spark, dir).count())
    // single micro-batch -> no prior state -> no drift flags
    assert(out.forall(!_.getAs[Boolean]("drift")))
  }

  test("incremental CDC upsert across micro-batches equals the batch dedup, late data included") {
    // Split events into 3 files with the ts order SCRAMBLED across files
    // (file 3 carries EARLIER events than file 2 for the same users), so
    // the cross-batch merge must beat blind replace to pass.
    val src = java.nio.file.Files.createTempDirectory("cdc_src").toString
    val scratch = java.nio.file.Files.createTempDirectory("cdc_state").toString
    // own the nanos conf: this test must not depend on an earlier test
    // in the suite having read events first
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // no pinned schema: the split files must keep the harness's at-rest
    // ts encoding (ns-long or µs), whichever this generation ships
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.filter(col("event_id") % 3 === 0).coalesce(1).write.parquet(s"$src/f0")
    ev.filter(col("event_id") % 3 === 2).coalesce(1).write.parquet(s"$src/f1")
    ev.filter(col("event_id") % 3 === 1).coalesce(1).write.parquet(s"$src/f2")
    // runIncrementalUpsertOnce globs events*.parquet under its dir arg;
    // rename the part files into that shape
    val files = new java.io.File(src).listFiles().flatMap(d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")))
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Path.of(src, s"events_$i.parquet")) }
    val got = EventStream.runIncrementalUpsertOnce(spark, src, scratch,
        maxFilesPerTrigger = Some(1))
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.Relational.dedupByKey(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"), col("event_type"), col("value")),
        Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
    // more than one state version must exist (the multi-batch path ran)
    assert(new java.io.File(scratch).listFiles().count(_.getName.startsWith("v")) > 1)
  }

  test("incremental CDC upsert over a dir with no events files fails naming the dir") {
    // an empty watched dir starts a stream that runs no micro-batch, so
    // no state version exists to read back
    val src = java.nio.file.Files.createTempDirectory("cdc_empty_src").toString
    val scratch = java.nio.file.Files.createTempDirectory("cdc_empty_state").toString
    val e = intercept[IllegalArgumentException] {
      EventStream.runIncrementalUpsertOnce(spark, src, scratch)
    }
    assert(e.getMessage.contains("produced no micro-batches") &&
      e.getMessage.contains(src), e.getMessage)
  }

  test("streaming burst detector equals the batch RANGE-window query (availableNow, sf0.001)") {
    val got = EventStream.runBurstOnce(spark, dir, "burst_eq")
      .orderBy("user_id").collect().map(_.toSeq)
    val want = SparkEntry.queries("dq_error_burst")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("burst detector across micro-batches: late error qualifies a lone one, exact-once finals") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)](
      61, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val sec = 1000000L
    val hourUs = 3600L * sec
    val q = EventStream.burstStream(toEvents(mem.toDF()), hourUs, 2,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("burst_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: lone errors — user 7 at T, user 8 at T+1000s. No bursts.
      mem.addData(Seq((7L, "error", t0), (8L, "error", t0 + 1000L * sec)))
      q.processAllAvailable()
      // batch 2: user 7's SECOND error within the hour -> its trailing
      // window qualifies; user 8 gets a LATE error at T+400s — earlier
      // than its buffered one, still within watermark — which must
      // retroactively qualify the T+1000s row (trailing count 2): the
      // CEP case a single-row retained state cannot replay.
      mem.addData(Seq((7L, "error", t0 + 1800L * sec),
        (8L, "error", t0 + 400L * sec)))
      q.processAllAvailable()
      // batch 3: far-future error advances the watermark past both
      // episodes' finalization horizon (episode last + 1h)
      mem.addData(Seq((9L, "error", t0 + 14400L * sec)))
      q.processAllAvailable()
      // batch 4: timers drain (finalizing users 7/8) AND user 7 opens a
      // fresh episode far past the old one
      mem.addData(Seq((7L, "error", t0 + 14410L * sec),
        (7L, "error", t0 + 14420L * sec)))
      q.processAllAvailable()
      val merged = EventStream.mergeBurstEmissions(spark.table("burst_mb"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // user 7: the finalized first episode (qualifying row T+1800s) plus
      // the open second one (qualifying row T+14420s)
      assert(merged(7L) == (2L, 2L, (t0 + 1800L * sec) * 1000L,
        (t0 + 14420L * sec) * 1000L), s"user7: ${merged(7L)}")
      // user 8: one episode whose single qualifying row is the EARLIER-
      // arrived-later T+1000s row
      assert(merged(8L) == (1L, 1L, (t0 + 1000L * sec) * 1000L,
        (t0 + 1000L * sec) * 1000L), s"user8: ${merged(8L)}")
      // user 9: a lone error is never a burst
      assert(!merged.contains(9L))
      // exactly-once finalization: one finalized row per closed episode
      val finals = spark.table("burst_mb").filter(col("finalized"))
        .select("user_id").collect().map(_.getLong(0)).toSeq
      assert(finals.sorted == Seq(7L, 8L), s"finals: $finals")
    } finally q.stop()
  }

  test("streaming holt-winters equals the batch filter (availableNow, sf0.001)") {
    val got = EventStream.runHwOnce(spark, dir, "hw_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("ml_holt_winters_filter")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"stream snapshot must equal the batch recursion:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming holt-winters across micro-batches: sealed anchor + late re-mean") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](
      49, spark, None)
    val bucketUs = 1800000000L
    val t0 = 1700000000000000L // µs, bucket-aligned enough for the test
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_us", "v")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("bucket", expr(s"ts_us div $bucketUs"))
      .select(col("ts"), col("bucket"), col("v"))
    val q = EventStream.hwStream(toEvents(mem.toDF()), watermark = "1 hour")
      .writeStream.format("memory").queryName("hw_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def ts(bucket: Long) = t0 + bucket * bucketUs + 100L
      def v(i: Long): Double = 100.0 + (i % 48) + (i % 7) * 0.25
      // batch 1: 100 consecutive buckets (> 2 seasons, so the filter starts)
      mem.addData((0L until 100L).map(i => (ts(i), v(i))))
      q.processAllAvailable()
      // batch 2: a LATE within-watermark event lands in bucket 97 —
      // its mean must re-form and the snapshot re-time the suffix
      mem.addData(Seq((ts(97) + 500L, 140.0)))
      q.processAllAvailable()
      // batches 3-4: far-future buckets advance the watermark and seal
      mem.addData(Seq((ts(200), 120.0)))
      q.processAllAvailable()
      mem.addData(Seq((ts(400), 121.0)))
      q.processAllAvailable()
      val emitted = spark.table("hw_mb")
      assert(emitted.select("version").distinct.count() >= 3,
        "each state change must emit a fresh snapshot version")
      val got = EventStream.mergeHwEmissions(emitted).collect().map(_.toSeq)
      // driver replay over the FINAL per-bucket means (bucket 97 is the
      // two-value mean; buckets 200 and 400 extend the series)
      val means = ((0L until 100L).map(i =>
          i -> (if (i == 97L) graft.operators.HwFilter.mean6(Seq(v(97), 140.0))
                else graft.operators.HwFilter.mean6(Seq(v(i))))) ++
          Seq(200L -> graft.operators.HwFilter.mean6(Seq(120.0)),
            400L -> graft.operators.HwFilter.mean6(Seq(121.0))))
        .sortBy(_._1).map(_._2)
      val st = means.foldLeft(graft.operators.HwFilter.empty)(
        graft.operators.HwFilter.push)
      val (n, l, t, f1, f48, rmse) = graft.operators.HwFilter.summary(st)
      assert(got.toSeq == Seq(Seq(n, l, t, f1, f48, rmse)),
        s"merged snapshot must equal the full replay:\ngot  ${got.toSeq}\n" +
          s"want ${Seq(n, l, t, f1, f48, rmse)}")
    } finally q.stop()
  }

  test("streaming online SGD equals the batch scan (availableNow, sf0.001)") {
    val got = EventStream.runSgdOnce(spark, dir, "sgd_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("ml_sgd_online")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"stream snapshot must equal the batch pass:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming SGD across micro-batches: late data re-standardizes everything") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Boolean, Double)](
      51, spark, None)
    val bucketUs = 1800000000L
    val t0 = 1700000000000000L
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_us", "isX", "v")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("bucket", expr(s"ts_us div $bucketUs"))
      .select(col("ts"), col("bucket"), col("isX"), col("v"))
    val q = EventStream.sgdStream(toEvents(mem.toDF()), watermark = "1 hour")
      .writeStream.format("memory").queryName("sgd_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def ts(bucket: Long) = t0 + bucket * bucketUs + 100L
      def x(i: Long): Double = 50.0 + (i * 7 % 13)
      def y(i: Long): Double = 2.0 * x(i) + 5.0 + (i % 3) * 0.25
      // batch 1: 60 buckets of (view, click) pairs
      mem.addData((0L until 60L).flatMap(i =>
        Seq((ts(i), true, x(i)), (ts(i), false, y(i)))))
      q.processAllAvailable()
      // batch 2: a LATE second view in bucket 10 re-means that bucket —
      // which moves the global mean/sigma, hence EVERY z and the fit
      mem.addData(Seq((ts(10) + 500L, true, 90.0)))
      q.processAllAvailable()
      val emitted = spark.table("sgd_mb")
      assert(emitted.select("version").distinct.count() >= 2,
        "each state change must emit a fresh snapshot version")
      val got = EventStream.mergeSgdEmissions(emitted).collect().map(_.toSeq)
      // driver replay over the FINAL bars (bucket 10's x is a two-value
      // exact mean)
      def m6(vs: Seq[Double]) = {
        val s6 = vs.map(graft.operators.SgdOnline.scaled6).sum
        graft.operators.SgdOnline.mean6(s6, vs.length.toLong)
      }
      val bars = (0L until 60L).map(i =>
        (i, if (i == 10L) m6(Seq(x(10), 90.0)) else m6(Seq(x(i))),
          m6(Seq(y(i)))))
      val Some((n, w0, w1, rmse)) =
        graft.operators.SgdOnline.fromBars(bars): @unchecked
      assert(got.toSeq == Seq(Seq(n, w0, w1, rmse)),
        s"merged snapshot must equal the full replay:\ngot  ${got.toSeq}\n" +
          s"want ${Seq(n, w0, w1, rmse)}")
      // the planted affine relation still dominates: slope near 1
      assert(math.abs(w1 - 1.0) < 0.25, s"slope must head to 1: $w1")
    } finally q.stop()
  }

  test("streaming PSI equals the batch drift_psi (availableNow, sf0.001)") {
    val got = EventStream.runPsiOnce(spark, dir, "psi_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("drift_psi")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"frozen-reference stream PSI must equal the batch pass:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming PSI across micro-batches: late rows only raise bin counts") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Double](
      53, spark, None)
    val cuts = (1 to 9).map(_ * 10.0) // bins at 10,20,…,90
    val q = EventStream.psiCounts(mem.toDF().toDF("v"), cuts)
      .writeStream.format("memory").queryName("psi_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      mem.addData(Seq(5.0, 15.0, 15.0, 95.0))
      q.processAllAvailable()
      // "late" arrivals for already-emitted bins: counts are order-free
      // state, so the final snapshot must be the plain total per bin
      mem.addData(Seq(15.0, 5.0, 45.0))
      q.processAllAvailable()
      val merged = EventStream.mergePsiEmissions(spark.table("psi_mb"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(merged == Map(1 -> 2L, 2 -> 3L, 5 -> 1L, 10 -> 1L),
        s"merged counts must equal the full totals: $merged")
    } finally q.stop()
  }

  test("streaming KS equals the batch drift_ks (availableNow, sf0.001)") {
    val got = EventStream.runKsOnce(spark, dir, "ks_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("drift_ks")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"frozen-reference stream KS must equal the batch pass:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming KS across micro-batches: late rows only raise value counts") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Double](
      53, spark, None)
    val q = EventStream.ksCounts(mem.toDF().toDF("v"))
      .writeStream.format("memory").queryName("ks_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      mem.addData(Seq(1.5, 2.5, 2.5, 9.5))
      q.processAllAvailable()
      // "late" arrivals for already-emitted values: counts are order-free
      // state, so the final snapshot must be the plain total per value
      mem.addData(Seq(2.5, 1.5, 4.5))
      q.processAllAvailable()
      val merged = EventStream.mergeKsEmissions(spark.table("ks_mb"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      assert(merged == Map(1.5 -> 2L, 2.5 -> 3L, 4.5 -> 1L, 9.5 -> 1L),
        s"merged counts must equal the full totals: $merged")
    } finally q.stop()
  }

  test("streaming volume census equals the batch dq_volume_anomaly (availableNow, sf0.001)") {
    val got = EventStream.runVolumeOnce(spark, dir, "vol_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("dq_volume_anomaly")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"stream volume census must equal the batch pass:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming volume census across micro-batches: late rows only raise day counts") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](
      53, spark, None)
    val q = EventStream.volumeCounts(mem.toDF().toDF("day"))
      .writeStream.format("memory").queryName("vol_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      mem.addData(Seq(1L, 1L, 2L, 3L))
      q.processAllAvailable()
      // "late" arrivals for already-emitted days: counts are order-free
      // state, so the final snapshot must be the plain total per day
      mem.addData(Seq(2L, 1L, 4L))
      q.processAllAvailable()
      val merged = EventStream.mergeVolumeEmissions(spark.table("vol_mb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 1L),
        s"merged counts must equal the full totals: $merged")
    } finally q.stop()
  }

  test("streaming schema-drift census equals the batch dq_schema_drift (availableNow, sf0.001)") {
    val got = EventStream.runSchemaDriftOnce(spark, dir, "sd_eq")
      .collect().map(_.toSeq)
    val want = SparkEntry.queries("dq_schema_drift")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"stream schema census must equal the batch pass:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming schema-drift across micro-batches: scrambled arrival cannot move the snapshot") {
    // 3-file scrambled arrival: maxFilesPerTrigger=1 forces multiple
    // micro-batches over the same sf dir; order-free state (monotone
    // count-carried snapshot + dropDuplicates keys) must land on the
    // single-batch result exactly
    val got = EventStream.runSchemaDriftOnce(spark, dir, "sd_mb",
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val want = SparkEntry.queries("dq_schema_drift")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"multi-batch snapshot must equal the batch pass:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming page-hinkley equals the batch detector (availableNow, sf0.001)") {
    val got = EventStream.runPhOnce(spark, dir, "ph_eq").collect().map(_.toSeq)
    val want = SparkEntry.queries("stat_page_hinkley")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"stream snapshots must equal the batch rows:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming page-hinkley across micro-batches: a drift arriving later alarms") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)](
      53, spark, None)
    val bucketUs = 1800000000L
    val t0 = 1700000000000000L
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("series", "ts_us", "v")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("bucket", expr("ts_us div " + bucketUs))
      .select(col("ts"), col("series"), col("bucket"), col("v"))
    val q = EventStream.phStream(toEvents(mem.toDF()), watermark = "1 hour")
      .writeStream.format("memory").queryName("ph_mb")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def ts(b: Long) = t0 + b * bucketUs + 100L
      def quiet(t: Long) = 100.0 + 2.0 * (t % 5)
      // batch 1: 200 quiet buckets — the detector must stay silent
      mem.addData((0L until 200L).map(t => ("click", ts(t), quiet(t))))
      q.processAllAvailable()
      val mid = EventStream.mergePhEmissions(spark.table("ph_mb")).head()
      assert(mid.getAs[Int]("alarmed") == 0, s"quiet prefix must not alarm: $mid")
      // batch 2: 200 more buckets with a sustained +5%/bucket drift
      mem.addData((200L until 400L).map(t =>
        ("click", ts(t), quiet(t) * math.pow(1.05, (t - 199).toDouble))))
      q.processAllAvailable()
      val fin = EventStream.mergePhEmissions(spark.table("ph_mb")).head()
      assert(fin.getAs[Int]("alarmed") == 1, s"the drift must alarm: $fin")
      val baseBucket = ts(0) / bucketUs
      assert(fin.getAs[Long]("alarm_up_bucket") >= baseBucket + 200L,
        s"the up-alarm must come from the drifted region: $fin")
      // the final snapshot equals a full driver replay over all bars
      // (ABSOLUTE buckets — the stream keys state by ts div bucketUs)
      val bars = (0L until 400L).map { t =>
        val v = if (t < 200) quiet(t)
          else quiet(t) * math.pow(1.05, (t - 199).toDouble)
        (ts(t) / bucketUs, graft.operators.SgdOnline.mean6(
          graft.operators.SgdOnline.scaled6(v), 1L))
      }
      val Some((n, pu, pd, lam, au, ad, al)) =
        graft.operators.PageHinkley.fromBars(bars): @unchecked
      assert(fin.getAs[Long]("n_returns") == n)
      assert(fin.getAs[Double]("ph_max_up") == pu)
      assert(fin.getAs[Double]("lambda") == lam)
      assert(Option(fin.getAs[Any]("alarm_up_bucket")).map(
        _.asInstanceOf[Long]) == au)
      assert(al == 1 && pd >= 0.0 && ad.forall(_ >= 0L))
    } finally q.stop()
  }

  test("left-outer join: matches emit eagerly, nulls only after the watermark evicts") {
    import spark.implicits._
    // (event_id, user_id, event_type, ts_us)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String, Long)](
      61, spark, None)
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val t0 = 1700000000000000L // µs
    val hourUs = 3600000000L
    val dayUs = 24L * hourUs
    val q = EventStream.leftOuterAttribution(toEvents(mem.toDF()),
        horizon = "6 hours", watermark = "1 hour")
      .writeStream.format("memory").queryName("ljoin_mb")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: user 1 clicks with no view; user 2 clicks with a view
      // 1s earlier — only the user-2 INNER match may appear (eager);
      // user 1 must still be pending, not declared unmatched
      mem.addData(Seq((10L, 1L, "click", t0), (20L, 2L, "click", t0),
        (21L, 2L, "view", t0 - 1000000L)))
      q.processAllAvailable()
      val afterB1 = spark.table("ljoin_mb").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(afterB1 == Set((2L, 20L, Some(21L))),
        s"only the eager inner match may emit before the watermark: $afterB1")
      // batch 2: far-future click AND view advance BOTH sides' watermarks
      // past user 1's eviction point (global wm = min(sides) - 1h)
      mem.addData(Seq((90L, 98L, "click", t0 + 2 * dayUs),
        (91L, 99L, "view", t0 + 2 * dayUs)))
      q.processAllAvailable()
      val afterB2 = spark.table("ljoin_mb").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(afterB2.contains((1L, 10L, None)),
        s"evicted never-matched click must emit a null row: $afterB2")
      assert(!afterB2.exists(_._2 == 90L),
        "a click the watermark has not passed must stay pending, " +
          s"not emit: $afterB2")
      assert(afterB2.size == 2)
    } finally q.stop()
  }

  test("streaming expectations gate: snapshot matches batch rules, discriminates") {
    val got = EventStream.runDqExpectationsOnce(spark, dir, "dqx_eq").collect()
    assert(got.length == 6)
    // recompute every rule batch-side from the same tables
    val ev = Tables.events(spark, dir)
    val custKeys = Tables.customer(spark, dir)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val rows = ev.select("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("t_us", expr("unix_micros(ts)")).collect()
    val want = Map(
      "accepted_type_serving" -> rows.count(r =>
        !Set("click", "view", "purchase")(r.getAs[String]("event_type"))),
      "fk_user_in_customer" -> rows.count(r =>
        !custKeys(r.getAs[Long]("user_id"))),
      "not_null_value" -> rows.count(_.isNullAt(3)),
      "ts_calendar_bounds" -> rows.count { r =>
        val t = r.getAs[Long]("t_us")
        t < 1577836800000000L || t > 1893456000000000L },
      "unique_event_id" ->
        (rows.length - rows.map(_.getAs[Long]("event_id")).distinct.length),
      "value_le_250" -> rows.count(r =>
        !r.isNullAt(3) && r.getAs[Double]("value") > 250.0))
    got.foreach { r =>
      val rule = r.getAs[String]("rule")
      assert(r.getAs[Long]("n_violations") == want(rule).toLong,
        s"$rule: got ${r.getAs[Long]("n_violations")} want ${want(rule)}")
      assert(r.getAs[Boolean]("passed") == (want(rule) == 0))
    }
    // the gate must DISCRIMINATE: some rule fires, some rule passes
    assert(got.exists(_.getAs[Long]("n_violations") > 0L),
      "a gate that cannot fail audits nothing")
    assert(got.exists(_.getAs[Long]("n_violations") == 0L),
      "a gate that always fails gates nothing")
  }

  test("streaming freshness census equals the batch dq_freshness_sla (availableNow)") {
    val got = EventStream.runFreshnessOnce(spark, dir, "fresh_eq")
      .collect().map(_.toSeq)
    val want = SparkEntry.queries("dq_freshness_sla")(spark, dir)
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      s"stream snapshot must equal the batch census:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming freshness across scrambled micro-batches: max/count state is order-free") {
    val src = java.nio.file.Files.createTempDirectory("fresh_src").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // file 2 carries the LATEST events, delivered in the MIDDLE batch
    ev.filter(col("event_id") % 3 === 0).coalesce(1).write.parquet(s"$src/f0")
    ev.filter(col("event_id") % 3 === 2).coalesce(1).write.parquet(s"$src/f1")
    ev.filter(col("event_id") % 3 === 1).coalesce(1).write.parquet(s"$src/f2")
    val files = new java.io.File(src).listFiles().flatMap(d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")))
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Path.of(src, s"events_$i.parquet")) }
    val got = EventStream.runFreshnessOnce(spark, src, "fresh_mb",
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val want = EventStream.runFreshnessOnce(spark, dir, "fresh_sb")
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"scrambled arrival moved the snapshot:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming expectations gate: multi-batch scrambled arrival equals single-batch") {
    // same split discipline as the CDC test: 3 files, ts order scrambled
    // across them — rule counters are order-free sums and uniqueness is
    // dedup state, so the snapshot must not move
    val src = java.nio.file.Files.createTempDirectory("dqx_src").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.filter(col("event_id") % 3 === 0).coalesce(1).write.parquet(s"$src/f0")
    ev.filter(col("event_id") % 3 === 2).coalesce(1).write.parquet(s"$src/f1")
    ev.filter(col("event_id") % 3 === 1).coalesce(1).write.parquet(s"$src/f2")
    val files = new java.io.File(src).listFiles().flatMap(d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")))
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Path.of(src, s"events_$i.parquet")) }
    val got = EventStream.runDqExpectationsOnce(spark, src, "dqx_mb",
        custDir = Some(dir), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val want = EventStream.runDqExpectationsOnce(spark, dir, "dqx_sb")
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      s"scrambled multi-batch snapshot drifted:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("streaming dedup admission: 3-file scrambled split equals the batch twin") {
    // split documents by doc_id residue, scrambled across files, into a
    // DIRECTORY named documents.parquet so the batch corpus read and the
    // stream glob both resolve the same corpus
    val src = java.nio.file.Files.createTempDirectory("dedup_src").toString
    val scratch = java.nio.file.Files.createTempDirectory("dedup_state").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tgt = s"$src/documents.parquet"
    docs.filter(col("doc_id") % 3 === 0).coalesce(1).write.mode("append").parquet(tgt)
    docs.filter(col("doc_id") % 3 === 2).coalesce(1).write.mode("append").parquet(tgt)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1).write.mode("append").parquet(tgt)
    val got = EventStream.runDedupAdmissionOnce(spark, src, scratch,
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val want = graft.operators.Dedup.incrementalLshDedup(
        Tables.documents(spark, dir), "doc_id", "text",
        newFlag = graft.operators.Dedup.nightlyNewFlag("doc_id"),
        numHashes = 16, numBands = 4, threshold = 0.5)
      .collect().map(_.toSeq)
    assert(got.nonEmpty, "no new docs marked at this SF — test data drifted")
    assert(got.toSeq == want.toSeq,
      s"split admission drifted from the batch twin:\ngot  ${got.toSeq}\nwant ${want.toSeq}")
    // the multi-batch path must actually have run — each micro-batch owns
    // an idempotent bid=N subdirectory (the exactly-once sink layout the
    // serving/index sinks already use; VERDICT r14 #3)
    val bidDirs = new java.io.File(s"$scratch/admissions").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bid="))
    assert(bidDirs.length >= 3, s"expected >=3 bid= dirs, got ${bidDirs.length}")

    // RETRY IDEMPOTENCE: a retried micro-batch re-executes its foreachBatch
    // body. Re-invoke the body for REAL (ADVICE r15 — rewriting the dir
    // with its own committed contents would pass vacuously): rebuild the
    // batch's input from the doc_ids its bid= dir owns, recompute
    // admitAgainst against the same corpus, OVERWRITE the bid= dir with
    // that recomputed frame, and assert the hash-checked final read does
    // not move (under the old append sink this replay duplicated rows;
    // a non-deterministic batch body would move the values).
    val bid0 = bidDirs.minBy(_.getName)
    val bid0Ids = spark.read.parquet(bid0.getPath)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val nf = graft.operators.Dedup.nightlyNewFlag("doc_id")
    val batchInput = Tables.documents(spark, src)
      .filter(nf && col("doc_id").isin(bid0Ids: _*))
    def banded(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.bandExplode(
        graft.operators.Dedup.lshSignatures(df, "doc_id", "text", 16),
        "doc_id", 16, 4)
    graft.operators.Dedup.admitAgainst(
        banded(batchInput),
        banded(Tables.documents(spark, src).filter(!nf)),
        batchInput.select(col("doc_id")), "doc_id", 0.5)
      .write.mode("overwrite").parquet(bid0.getPath)
    val after = spark.read.parquet(s"$scratch/admissions")
      .select("doc_id", "is_duplicate", "dup_of", "jaccard")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(after.toSeq == want.toSeq,
      s"retried micro-batch changed the final read: ${after.length} vs ${want.length} rows")
  }

  test("streaming ANN serving: 3-file scrambled split equals the batch probe scan") {
    // split embeddings by vec_id residue, scrambled across files, into a
    // DIRECTORY named embeddings.parquet so the batch index build and the
    // stream glob both resolve the same corpus
    val src = java.nio.file.Files.createTempDirectory("ann_src").toString
    val scratch = java.nio.file.Files.createTempDirectory("ann_sink").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tgt = s"$src/embeddings.parquet"
    emb.filter(col("vec_id") % 3 === 1).coalesce(1).write.mode("append").parquet(tgt)
    emb.filter(col("vec_id") % 3 === 0).coalesce(1).write.mode("append").parquet(tgt)
    emb.filter(col("vec_id") % 3 === 2).coalesce(1).write.mode("append").parquet(tgt)
    val got = EventStream.runAnnServingOnce(spark, src, scratch,
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    // batch twin on the SAME scrambled corpus: the monolithic probe-scan
    // entry (quantizer + assignment + probe + exact re-rank in one text)
    val want = graft.SparkEntry.queries("similarity_ivf_probe")(spark, src)
      .collect().map(_.toSeq)
    assert(got.nonEmpty, "no queries at this SF — test data drifted")
    assert(got.toSeq == want.toSeq,
      s"live serving drifted from the batch probe scan: " +
        s"${got.length} vs ${want.length} rows")
    // the multi-batch path must actually have run — each micro-batch owns
    // an idempotent bid=N subdirectory (the exactly-once sink layout)
    assert(new java.io.File(s"$scratch/served").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bid=")) >= 2)
  }

  test("streaming PQ index write: 3-file scrambled split equals the batch retrain") {
    val src = java.nio.file.Files.createTempDirectory("pq_src").toString
    val scratch = java.nio.file.Files.createTempDirectory("pq_sink").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tgt = s"$src/embeddings.parquet"
    emb.filter(col("vec_id") % 3 === 2).coalesce(1).write.mode("append").parquet(tgt)
    emb.filter(col("vec_id") % 3 === 0).coalesce(1).write.mode("append").parquet(tgt)
    emb.filter(col("vec_id") % 3 === 1).coalesce(1).write.mode("append").parquet(tgt)
    val got = EventStream.runPqRetrainOnce(spark, src, scratch,
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val want = graft.SparkEntry.queries("similarity_pq_retrain")(spark, src)
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.length == 8, "8 subspace audit rows expected")
    assert(got.toSeq == want.toSeq,
      "live index write + audit drifted from the batch retrain monolith")
    // multi-batch evidence: idempotent per-batch index subdirectories
    assert(new java.io.File(s"$scratch/index").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bid=")) >= 2)
  }
}
