package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.queries.{Dialect, Grid}

/** Structured Streaming over the `events` table (SURVEY.md §2.10: the
  * reference has no streams; this implements its future-work "monitoring
  * system … alerts when performance drops" README.md:89-90 as a
  * first-class streaming job).
  *
  * Design: file-source stream (at 100 TB: the same code binds to a Kafka
  * source — the transforms are source-agnostic), event-time tumbling
  * windows with a watermark bounding state, and a `mapGroupsWithState`
  * drift detector keyed by event_type (one state row per key — O(keys)
  * state, not O(events)).
  */
object EventStream {

  /** Harness checkpoints are DISPOSABLE (AvailableNow → sink → the temp
    * checkpoint dir is deleted on stop), so Spark 4.1's checkpoint-file
    * checksums buy nothing here and cost a lot: every state-store commit
    * closes its delta file through `ChecksumCancellableFSDataOutputStream`,
    * which blocks on an async checksum future — profiled at ~2.5 s of
    * uniform per-task wait on the stream-stream join (32 tasks parked in
    * `ChecksumCheckpointFileManager.awaitResult` mid-commit), ~2 s of the
    * key's wall. Off for every run-to-completion entry; a production
    * deployment with durable checkpoints re-enables it at its own
    * session. Results are unaffected either way — the checksum only
    * guards checkpoint files against corruption. */
  private val ChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
  /** Off while a run starts, or the query logs that streaming does not
    * support AQE; its stateless micro-batches then run without AQE too. */
  private val AqeKey = "spark.sql.adaptive.enabled"
  private def withDisposableCheckpointIo[A](spark: SparkSession)(body: => A): A = {
    // save/restore (ADVICE r16): the harness shares the caller's session,
    // and a later streaming query with a DURABLE checkpoint must keep its
    // corruption protection — the disable is scoped to this run only
    val prev = Seq(ChecksumKey, AqeKey).map(k => k -> spark.conf.getOption(k))
    prev.foreach { case (k, _) => spark.conf.set(k, "false") }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one run-to-completion step behind every `run*Once` entry: start
    * `writer` under `Trigger.AvailableNow` (every file available at start,
    * in as many micro-batches as the source's limits ask for, then stop),
    * block until it finishes, and return the finished query. The query
    * checkpoints into a directory of its own, deleted when it returns or
    * fails. Production binds the same writer to a long-running trigger
    * and a durable checkpoint instead. */
  private def runAvailableNow(spark: SparkSession,
                              writer: DataStreamWriter[Row]): StreamingQuery =
    withDisposableCheckpointIo(spark) {
      val cp = java.nio.file.Files.createTempDirectory("graft-stream-").toFile
      try {
        val q = writer.option("checkpointLocation", cp.getPath)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      } finally org.apache.commons.io.FileUtils.deleteQuietly(cp)
    }

  /** Streaming parquet scan of `glob` under a declared schema (the file
    * stream source needs one). `maxFilesPerTrigger` bounds the files per
    * micro-batch; None reads every available file in one batch. */
  private def fileStream(spark: SparkSession, schema: StructType, glob: String,
                         maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(glob)
  }

  /** `events.parquet` physical schema with `ts` at its historical
    * nanos-as-long encoding (see graft.Tables — the harness has shipped
    * both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) generations). */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType = LongType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming scan of an events directory; emits the same columns as the
    * batch loader (`ts_ns` long + µs `ts`). The stream source needs a
    * declared schema, and `ts`'s at-rest type differs across harness
    * generations — the footer of the first matching file pins it
    * (`Tables.footerSchema`, no job, and no batch read of the glob: that
    * one makes Spark probe the glob for a sink metadata directory and log
    * a stack trace), then `Tables.normalizeEventTs` applies the same
    * contract as the batch loader.
    * @param maxFilesPerTrigger bound files per micro-batch (None = all
    *                           available files in one batch) */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val glob = s"$dir/events*.parquet"
    // A first match that is not a plain file keeps Spark's inference. An
    // empty watched directory is a NORMAL cold-start state for a file
    // stream source: inference throws AnalysisException ("unable to
    // infer schema") when the glob matches nothing, so fall back to the
    // historical nanos-as-long schema and let the stream start empty.
    val atRestTs = scala.util.Try(
      graft.Tables.footerSchema(spark, glob)
        .getOrElse(spark.read.parquet(glob).schema)("ts").dataType
    ).getOrElse(LongType)
    // glob, not a bare file path: the file stream source requires its
    // basePath to be a directory (here: the SF dir)
    graft.Tables.normalizeEventTs(
      fileStream(spark, eventsSchema(atRestTs), glob, maxFilesPerTrigger))
  }

  /** Tumbling-window aggregation with watermark — the streaming twin of
    * the batch `stream_window_agg` query (same groups, same aggregates;
    * the ScalaTest proves result equality under availableNow). */
  def windowedAgg(events: DataFrame, window: String = "1 day",
                  watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** Run `df` to completion into a named memory sink and return the
    * finished query with the materialized table. Every memory-sink
    * `run*Once` entry differs only in source plan and output mode. */
  private def runToMemoryQuery(df: DataFrame, queryName: String,
                               mode: OutputMode): (StreamingQuery, DataFrame) = {
    val q = runAvailableNow(df.sparkSession,
      df.writeStream.format("memory").queryName(queryName).outputMode(mode))
    val out = df.sparkSession.table(queryName) // analyzed eagerly: the plan
    // binds to the sink's rows, so the catalog entry can go — otherwise
    // every invocation pins a full materialized result on the driver for
    // the session's lifetime (verify/bench run each query repeatedly)
    df.sparkSession.catalog.dropTempView(queryName)
    (q, out)
  }

  private def runToMemory(df: DataFrame, queryName: String,
                          mode: OutputMode): DataFrame =
    runToMemoryQuery(df, queryName, mode)._2

  /** The batch-id sink: run `stream` to completion through `foreachBatch`,
    * where `emit` gets each micro-batch, its id and the write for that
    * batch's rows, then read back every batch's rows under `out`.
    * Exactly-once per micro-batch: each batch owns the batch-id-named
    * subdirectory `out/bid=<id>`, written with OVERWRITE, so a retried or
    * replayed micro-batch replaces its own partial output instead of
    * appending duplicate rows into the hash-checked final read. An entry
    * that registers a per-batch temp view calls the write inside the
    * view's scope. */
  private def runBatchIdSink(stream: DataFrame, out: String, what: String,
                             dir: String)(
      emit: (DataFrame, Long, DataFrame => Unit) => Unit): DataFrame = {
    val spark = stream.sparkSession
    val wroteAny = new java.util.concurrent.atomic.AtomicBoolean(false)
    runAvailableNow(spark, stream.writeStream.foreachBatch {
      (batch: Dataset[Row], bid: Long) =>
        emit(batch, bid, _.write.mode("overwrite").parquet(s"$out/bid=$bid"))
        wroteAny.set(true)
    })
    // a source glob matching zero files yields zero micro-batches
    require(wroteAny.get(),
      s"$what produced no micro-batches — no input matched under $dir")
    spark.read.parquet(out)
  }

  /** Harness/test entry: the REAL streaming windowed aggregation run to
    * completion. Complete output mode: under AvailableNow an append-mode
    * window only emits once the watermark passes it, so the stream's
    * final windows would be withheld; complete mode materializes the
    * whole result table — which is exactly what an oracle row needs. */
  def runWindowedAggOnce(spark: SparkSession, dir: String,
                         queryName: String): DataFrame =
    runToMemory(windowedAgg(readEvents(spark, dir)), queryName,
      OutputMode.Complete())

  /** Streaming OBSERVABILITY through the `observe` API — the
    * input-vs-output reconciliation every production stream wants on a
    * dashboard (watermark drops are SILENT; this makes them a number):
    * named observed metrics count the pre-aggregation input rows and
    * value mass per micro-batch, the windowed aggregate emits the
    * post-watermark output, and the audit row reconciles the two.
    * Under a single AvailableNow batch nothing can be dropped (the
    * watermark only advances BETWEEN batches), so the audit's zero is
    * a real assertion, and the multi-batch late-drop case is driven in
    * StreamingSpec via MemoryStream. */
  def windowedAggObserved(events: DataFrame): DataFrame =
    windowedAgg(events.observe("graft_input",
      count(lit(1)).as("n_in"),
      sum(col("value").cast("decimal(18,2)")).as("mass_in")))

  /** Harness entry: run to completion, then reconcile the observed
    * input metrics (summed across micro-batch progress events) against
    * the materialized output. */
  def runObservedAuditOnce(spark: SparkSession, dir: String,
                           queryName: String): DataFrame = {
    val (q, table) = runToMemoryQuery(windowedAggObserved(readEvents(spark, dir)),
      queryName, OutputMode.Complete())
    val (nIn, massIn) = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_input")))
      .map(r => (r.getAs[Long]("n_in"),
        Option(r.getAs[java.math.BigDecimal]("mass_in"))
          .map(_.doubleValue()).getOrElse(0.0)))
      .foldLeft((0L, 0.0)) { case ((a, b), (c, e)) => (a + c, b + e) }
    val out = table
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_out"),
        sum(col("sum_value")).as("mass_out")).head()
    import spark.implicits._
    def r2(v: Double) = math.rint(v * 100) / 100
    Seq((nIn, out.getAs[Long]("n_out"), out.getAs[Long]("n_groups"),
        r2(massIn), r2(out.getAs[Double]("mass_out")),
        nIn - out.getAs[Long]("n_out")))
      .toDF("n_input", "n_output", "n_groups", "mass_input", "mass_output",
        "n_dropped")
  }

  /** Continuously-maintained per-window user activity counts — the
    * state behind a live "top users right now" panel: watermarked
    * 6-hour tumbling windows keyed by (window, user). The stream
    * maintains the COUNTS (that is the part that must be incremental);
    * top-k is a rank over the materialized aggregate at serving read
    * time — ranking inside the stream would force per-window global
    * state for a question the read side answers with one bounded
    * window. */
  def topkWindowed(events: DataFrame, window: String = "6 hours",
                   watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("user_id"), col("n_events"))

  /** Harness/test entry: run the count maintenance to completion under
    * AvailableNow (complete mode — same reasoning as
    * [[runWindowedAggOnce]]), then the serving-side top-3 rank with a
    * deterministic (n desc, user asc) tiebreak. */
  def runTopkOnce(spark: SparkSession, dir: String,
                  queryName: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = runToMemory(topkWindowed(readEvents(spark, dir)), queryName,
      OutputMode.Complete())
    val w = Window.partitionBy("win_start_us")
      .orderBy(col("n_events").desc, col("user_id").asc)
    agg.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("win_start_us"), col("rk").cast("long").as("rk"),
        col("user_id"), col("n_events"))
  }

  // ---- stateful drift monitor -----------------------------------------

  case class EventRow(event_type: String, value: Double)
  case class DriftState(n: Long, mean: Double, m2: Double)
  case class DriftAlert(event_type: String, n_total: Long, batch_n: Long,
                        batch_mean: Double, running_mean: Double, z: Double,
                        drift: Boolean)

  /** Per-key running Welford (n, mean, M2) state; each invocation folds
    * the new micro-batch in and emits the batch-vs-history z-score of the
    * batch mean. Alert when |z| > zThreshold. */
  def driftMonitor(events: DataFrame, zThreshold: Double = 3.0): Dataset[DriftAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("value")).as[EventRow]
      .groupByKey(_.event_type)
      .mapGroupsWithState[DriftState, DriftAlert](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EventRow], state: GroupState[DriftState]) =>
          val prev = state.getOption.getOrElse(DriftState(0L, 0.0, 0.0))
          var bn = 0L; var bsum = 0.0
          var st = prev
          rows.foreach { r =>
            bn += 1; bsum += r.value
            // Welford update of the running distribution
            val n1 = st.n + 1
            val d = r.value - st.mean
            val mean1 = st.mean + d / n1
            st = DriftState(n1, mean1, st.m2 + d * (r.value - mean1))
          }
          state.update(st)
          val batchMean = if (bn > 0) bsum / bn else 0.0
          val priorStd =
            if (prev.n > 1) math.sqrt(prev.m2 / (prev.n - 1)) else Double.NaN
          val z =
            if (prev.n > 1 && priorStd > 0 && bn > 0)
              (batchMean - prev.mean) / (priorStd / math.sqrt(bn.toDouble))
            else 0.0
          DriftAlert(key, st.n, bn, batchMean, st.mean, z, math.abs(z) > zThreshold)
      }
  }

  /** Streaming exact dedup for an ingest pipeline: key = `xxhash64`
    * of the content column, so each state row is 8 bytes regardless of
    * document size, and the watermark bounds state to the dedup horizon —
    * O(distinct keys within horizon), never O(stream). Keeps each key's
    * FIRST arrival (`dropDuplicatesWithinWatermark`), the same winner rule
    * as an ingest dedup that admits a document once. Batch twin:
    * `SELECT DISTINCT` on the content column (`stream_dedup_docs`). */
  def dedupByContent(docs: DataFrame, tsCol: String, contentCol: String,
                     watermark: String): DataFrame =
    docs.withColumn("__h", xxhash64(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  // ---- stream-stream attribution join ----------------------------------

  /** Watermarked stream-stream interval join — the attribution
    * primitive: each click paired with the SAME user's view events in
    * the `horizon` before it (view_ts ∈ [click_ts − horizon, click_ts],
    * both ends inclusive).
    *
    * State/scale design: a stream-stream join buffers both sides in
    * state; the watermark on each side PLUS the event-time range
    * condition is what lets Spark evict — a view older than
    * (watermark − horizon) can never match a future click and is
    * dropped, so state is O(events within horizon+watermark), never
    * O(stream). Inner-join matches emit eagerly (no watermark wait), so
    * an AvailableNow pass yields the complete pair set. Both sides here
    * derive from ONE source stream (a self-join); at 100 TB each side
    * binds to its own Kafka topic and nothing else changes. */
  def attributionJoin(events: DataFrame, horizon: String = "6 hours",
                      watermark: String = "1 day"): DataFrame =
    clickViewJoin(events, horizon, watermark, "inner")

  /** The click/view interval join both attribution entries share:
    * watermarked click and view sides of one event stream, joined on the
    * same user with view_ts ∈ [click_ts − horizon, click_ts]. */
  private def clickViewJoin(events: DataFrame, horizon: String,
                            watermark: String, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    clicks.join(views,
      col("click_user") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon") &&
        col("view_ts") <= col("click_ts"),
      joinType)
      .select(col("click_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** Harness/test entry: run the attribution join to completion and
    * aggregate the matched pairs per user (the aggregate is batch, over
    * the materialized pair table — chaining a streaming agg after a
    * stream-stream join is possible but adds nothing an oracle row can
    * check that this doesn't).
    *
    * The default watermark sits beyond the data's horizon for the same
    * reason `stream_sessionize` pins 3650 days: if the file source ever
    * splits the directory into several micro-batches, a short watermark
    * would silently DROP older buffered rows between batches and the
    * oracle row would depend on file layout. Inner-join matches emit
    * eagerly regardless of watermark, so the wide setting costs nothing;
    * the eviction semantics under a tight watermark are pinned separately
    * by StreamingSpec's multi-batch MemoryStream test. */
  def runAttributionOnce(spark: SparkSession, dir: String, queryName: String,
                         horizon: String = "6 hours",
                         watermark: String = "3650 days"): DataFrame =
    runToMemory(attributionJoin(readEvents(spark, dir), horizon, watermark),
        queryName, OutputMode.Append())
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))

  /** LEFT OUTER stream-stream join — the watermark-GATED half of the
    * join surface (`attributionJoin` covers the eager inner half):
    * a click with no same-user view in the preceding `horizon` emits a
    * null-extended row ONLY when the watermark passes its state-eviction
    * point — the engine must prove no future view can ever match before
    * it may say "unmatched". That makes the result a function of the
    * FINAL watermark, not of micro-batch layout: matched pairs emit
    * eagerly (complete set under any file split), and the unmatched set
    * is exactly the never-matched clicks whose click_ts the final
    * watermark passed — clicks inside the final watermark window are
    * (correctly) still pending in state when the run finishes and appear
    * not at all. Unlike every other `run*Once` entry this one therefore
    * runs with a REAL (narrow) watermark: the narrowness is the
    * semantics under test. The final watermark is min(max click_ts,
    * max view_ts) − delay (each side's watermark node tracks its own
    * max; the global watermark is their min), which the DuckDB twin
    * computes in SQL; the strict-< eviction boundary and the
    * no-data-batch flush that publishes the last advance are pinned in
    * StreamingSpec via MemoryStream. */
  def leftOuterAttribution(events: DataFrame, horizon: String = "6 hours",
                           watermark: String = "1 day"): DataFrame =
    clickViewJoin(events, horizon, watermark, "left_outer")

  /** Harness entry: the left-outer attribution join run to completion;
    * per-user matched-pair and evicted-unmatched-click counts (the
    * aggregate is batch, over the materialized join output). */
  def runLeftOuterOnce(spark: SparkSession, dir: String, queryName: String,
                       horizon: String = "6 hours",
                       watermark: String = "1 day"): DataFrame =
    runToMemory(leftOuterAttribution(readEvents(spark, dir), horizon, watermark),
        queryName, OutputMode.Append())
      .groupBy("user_id")
      .agg(count(when(col("view_id").isNotNull, 1)).as("n_matched"),
        count(when(col("view_id").isNull, 1)).as("n_unmatched"))

  // ---- stateful sessionization -----------------------------------------

  /** `ts` (the watermarked timestamp column) MUST survive the projection
    * into the typed Dataset: Spark's UnsupportedOperationChecker requires
    * the watermark column to be present on the input of a
    * flatMapGroupsWithState with EventTimeTimeout. */
  case class SessEvent(user_id: Long, event_id: Long, ts_us: Long,
                       ts: java.sql.Timestamp)
  /** Per-user state: the event times (µs) of every NOT-yet-finalized
    * session, plus a monotone emission version. A session is finalized —
    * provably immutable — once `last_us + gap < watermark`: Spark drops
    * rows older than the watermark before this operator, so no future
    * event can land within `gap` of it (or anywhere before it). Buffer
    * size is therefore O(events within gap+watermark horizon) per user —
    * the same state-bounding contract as the stream-stream join above —
    * never O(stream).
    *
    * `life_id` identifies one state LIFETIME (creation → drain): the min
    * event time of the creation batch. It is strictly monotone across a
    * user's lifetimes — every event of a drained lifetime sits below the
    * watermark that admitted the next lifetime's events — which makes
    * (life_id, version) a total order over a user's emissions even though
    * `version` restarts at 1 per lifetime. */
  case class SessBuf(buf: Seq[Long], version: Long, life_id: Long)
  /** `session_id` = the session's start time in µs. Start-time identity is
    * collision-free across state eviction AND across finalization: every
    * post-finalization event arrives at/after the watermark, strictly
    * after any finalized session's span, so a new session can never reuse
    * a finalized id (a per-state ordinal would restart at 1 and fuse
    * distinct sessions under the downstream merge).
    *
    * Emission contract (update mode): `finalized=true` rows are emitted
    * EXACTLY ONCE, when the watermark proves the session immutable —
    * they are never superseded. `finalized=false` rows re-describe the
    * user's complete non-finalized picture on every state change, stamped
    * with `(life_id, version)`; only the lexicographically highest stamp
    * is current (a late-but-within-watermark event may merge sessions or
    * extend one backwards, changing `session_id` itself, so per-row
    * MAX-merge is NOT sound — supersede whole snapshots instead). An
    * invocation that drains the buffer emits one `session_id = -1`
    * sentinel so the stamp bump is visible downstream.
    * `mergeSessionEmissions` implements the read side. */
  case class SessOut(user_id: Long, session_id: Long, n_events: Long,
                     dur_us: Long, finalized: Boolean, life_id: Long,
                     version: Long)

  private case class Island(start_us: Long, last_us: Long, n: Long)

  /** Gaps-and-islands over SORTED event times. */
  private def islands(sorted: Array[Long], gapUs: Long): Seq[Island] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Island]
    var i = 0
    while (i < sorted.length) {
      val start = sorted(i); var last = start; var n = 1L
      while (i + 1 < sorted.length && sorted(i + 1) - last <= gapUs) {
        i += 1; last = sorted(i); n += 1
      }
      out += Island(start, last, n)
      i += 1
    }
    out.toSeq
  }

  /** Streaming gap sessionizer — the stateful twin of
    * `TimeSeries.sessionize` (`sessionize_events`): per user, a new
    * session starts when the gap to the previous event exceeds `gapUs`.
    *
    * Event-time correct under ANY arrival order the watermark admits: a
    * late event from a later micro-batch is merged into the buffered
    * event set and sessions are recomputed, so an event that lands before
    * an open session extends it backwards (new `session_id`), bridges two
    * buffered sessions, or opens its own earlier session — exactly what
    * the batch gaps-and-islands twin computes on the global order. (A
    * single retained open-session row cannot do this: it would fuse any
    * out-of-order event into whatever happened to arrive first.)
    *
    * `EventTimeTimeout` fires when the watermark passes the earliest
    * buffered session's gap horizon, finalizing it and eventually
    * removing the user's state entirely — unbounded key churn cannot
    * grow state without bound. */
  def sessionizeStream(events: DataFrame, gapUs: Long,
                       watermark: String = "1 hour"): Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ts"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessOut](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[SessBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows.map(_.ts_us).toArray
          val prev = state.getOption.getOrElse(
            SessBuf(Nil, 0L, if (arrived.isEmpty) 0L else arrived.min))
          val merged = prev.buf.toArray ++ arrived
          java.util.Arrays.sort(merged)
          val sessions = islands(merged, gapUs)
          val (done, open) = sessions.partition(_.last_us + gapUs < wmUs)
          val v = prev.version + 1
          val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
          done.foreach(s =>
            out += SessOut(uid, s.start_us, s.n, s.last_us - s.start_us,
              true, prev.life_id, v))
          if (open.isEmpty) {
            // buffer drained: emit the snapshot-bump sentinel so stale
            // lower-stamped open rows are superseded downstream
            out += SessOut(uid, -1L, 0L, 0L, false, prev.life_id, v)
            state.remove()
          } else {
            open.foreach(s =>
              out += SessOut(uid, s.start_us, s.n, s.last_us - s.start_us,
                false, prev.life_id, v))
            val firstOpen = merged.indexOf(open.head.start_us)
            state.update(SessBuf(merged.drop(firstOpen).toSeq, v, prev.life_id))
            // wake when the watermark can finalize the earliest open
            // session (must be strictly beyond the current watermark)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1,
              (open.head.last_us + gapUs) / 1000L + 1))
          }
          out.iterator
      }
  }

  /** Read side of the sessionizer's emission contract ([[currentStamped]]
    * per user: ids are not stable across snapshots, so per-row MAX-merge
    * would leave ghost sessions). */
  def mergeSessionEmissions(emitted: DataFrame): DataFrame =
    currentStamped(emitted, "user_id", "session_id")
      .select("user_id", "session_id", "n_events", "dur_us")

  /** The stamped-snapshot read rule of every buffered-recompute stream
    * (sessions, SCD2, bursts, EWMA): `finalized` rows are append-only
    * facts; the non-final rows keep only each `key`'s highest
    * (life_id, version) snapshot; sentinel rows (negative `sentinel`
    * column) drop. */
  private def currentStamped(emitted: DataFrame, key: String,
                             sentinel: String): DataFrame = {
    val finals = emitted.filter(col("finalized"))
    val opens = emitted.filter(!col("finalized"))
    val latest = opens.groupBy(col(key).as("__key"))
      .agg(max(struct(col("life_id"), col("version"))).as("cur"))
    finals.union(
        opens.join(latest,
          col(key) === col("__key") &&
            col("life_id") === col("cur.life_id") &&
            col("version") === col("cur.version"))
          .select(finals.columns.map(col): _*))
      .filter(col(sentinel) >= 0L)
  }

  /** Harness/test entry: run the sessionizer over existing files to
    * completion; one row per session via `mergeSessionEmissions`. */
  def runSessionizeOnce(spark: SparkSession, dir: String, queryName: String,
                        gapUs: Long = 600000000L,
                        watermark: String = "1 hour"): DataFrame = {
    val events = readEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("ts"))
      .withColumn("ts_us", expr("ts_ns div 1000"))
    mergeSessionEmissions(
      runToMemory(sessionizeStream(events, gapUs, watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  // ---- streaming SCD type-2 dimension maintenance ---------------------

  /** `ts` must survive into the typed Dataset (watermark-column rule, as
    * in [[SessEvent]]). */
  case class ScdEvent(user_id: Long, event_id: Long, ts_us: Long,
                      ts: java.sql.Timestamp, v: Double)
  /** Per-user state for the streaming SCD2 builder: `anchor` carries the
    * last FINALIZED version's value (the change-detection boundary for
    * the still-mutable suffix), `buf` the events of the mutable region,
    * `(life_id, version)` the same emission stamp as [[SessBuf]]. */
  case class ScdBuf(anchor: Option[Double], buf: Seq[(Long, Long, Double)],
                    version: Long, life_id: Long)
  /** `valid_to_us` is None for the open version. Emission contract is the
    * sessionizer's: finalized rows exactly once, non-final rows as
    * whole-chain snapshots where only the highest (life_id, version)
    * stamp per user is current; `valid_from_us = -1` is the drain
    * sentinel. */
  case class ScdOut(user_id: Long, value: Double, valid_from_us: Long,
                    valid_to_us: Option[Long], is_current: Boolean,
                    finalized: Boolean, life_id: Long, version: Long)

  private case class Version(value: Double, from: Long, to: Option[Long])

  /** Change-point chain over SORTED (ts_us, event_id, value) rows:
    * a version opens at each value CHANGE (vs `anchor` for the first
    * row); valid_to = the next version's valid_from (abutting). */
  private def versionChain(anchor: Option[Double],
                           sorted: Seq[(Long, Long, Double)]): Seq[Version] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Version]
    var prev = anchor
    for ((t, _, v) <- sorted) {
      if (!prev.contains(v)) {
        if (out.nonEmpty) out(out.length - 1) = out.last.copy(to = Some(t))
        out += Version(v, t, None)
      }
      prev = Some(v)
    }
    out.toSeq
  }

  /** Streaming SCD2 — the stateful twin of the batch `scd2_history`
    * query: per user, maintain the type-2 version chain of the value
    * attribute as events stream in, event-time correct under any arrival
    * order the watermark admits (a late event may open a version, merge
    * two, or re-time a boundary — the buffered region is recomputed, the
    * same reasoning as [[sessionizeStream]]).
    *
    * Finalization: a version whose `valid_to ≤ watermark` is provably
    * immutable — every not-yet-arrived event has event time ≥ watermark,
    * so nothing can land inside that interval or re-open its boundary —
    * and is emitted EXACTLY ONCE with `finalized = true`; its events
    * leave the buffer (only the boundary VALUE survives, as `anchor`).
    * State is therefore O(events within the watermark horizon) per user,
    * never O(stream) — the same bound as the sessionizer and the
    * stream-stream join. The open suffix re-emits as a stamped snapshot
    * on every change; [[mergeScdEmissions]] is the read side. */
  def scd2Stream(events: DataFrame, watermark: String = "1 hour"): Dataset[ScdOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ts"), col("v"))
      .as[ScdEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdBuf, ScdOut](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[ScdEvent], state: GroupState[ScdBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows.map(r => (r.ts_us, r.event_id, r.v)).toArray
          val prev = state.getOption.getOrElse(
            ScdBuf(None, Nil, 0L,
              if (arrived.isEmpty) 0L else arrived.map(_._1).min))
          val merged = (prev.buf ++ arrived).sortBy(e => (e._1, e._2))
          val chain = versionChain(prev.anchor, merged)
          val (done, open) = chain.partition(_.to.exists(_ <= wmUs))
          val v = prev.version + 1
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
          done.foreach(c =>
            out += ScdOut(uid, c.value, c.from, c.to, false, true,
              prev.life_id, v))
          if (open.isEmpty) {
            out += ScdOut(uid, 0.0, -1L, None, false, false, prev.life_id, v)
            state.remove()
          } else {
            open.foreach(c =>
              out += ScdOut(uid, c.value, c.from, c.to, c.to.isEmpty, false,
                prev.life_id, v))
            // retain the mutable region: events at/after the first open
            // version's boundary; the finalized prefix collapses to its
            // last value (the change-detection anchor)
            val cut = open.head.from
            val anchor = if (done.nonEmpty) Some(done.last.value) else prev.anchor
            state.update(ScdBuf(anchor, merged.filter(_._1 >= cut), v,
              prev.life_id))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          }
          out.iterator
      }
  }

  /** Read side of the SCD2 emission contract ([[currentStamped]] per user). */
  def mergeScdEmissions(emitted: DataFrame): DataFrame =
    currentStamped(emitted, "user_id", "valid_from_us")
      .select("user_id", "value", "valid_from_us", "valid_to_us", "is_current")

  /** Harness entry: the REAL streaming SCD2 run to completion over the
    * purchase stream; same wide-watermark convention (and rationale) as
    * [[runSessionizeOnce]] — micro-batch boundaries must not decide
    * oracle rows; eviction semantics are pinned by StreamingSpec's
    * multi-batch MemoryStream test. Output matches the batch
    * `scd2_history` oracle exactly. */
  def runScd2Once(spark: SparkSession, dir: String, queryName: String,
                  watermark: String = "3650 days"): DataFrame = {
    val events = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("ts"),
        round(col("value"), 6).as("v"))
    mergeScdEmissions(
      runToMemory(scd2Stream(events, watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  // ---- incremental keyed upsert (streaming CDC into a lake path) ------

  /** Latest row per key under the (ts_us, event_id) total order — the
    * merge rule of [[runIncrementalUpsertOnce]]. The clock is the µs
    * `ts_us` (not raw ns): the µs timestamp is the engine's calendar
    * clock AND the finest granularity an external oracle can observe
    * (parquet TIMESTAMP(NANOS) truncates to µs outside this engine), so
    * ordering on it keeps the winner rule exactly replayable; the unique
    * `event_id` breaks same-µs ties, making the order total. Late or
    * replayed data cannot corrupt state because the rule is an
    * idempotent, order-insensitive fold: re-deduping the union of any
    * states always yields the global winners. */
  private def latestPerUser(df: DataFrame): DataFrame =
    graft.operators.Relational.dedupByKey(
      df.withColumn("ts_us", expr("ts_ns div 1000")), Seq("user_id"),
      Seq(col("ts_us").desc, col("event_id").desc)).drop("ts_us")

  /** Streaming CDC sink: `foreachBatch` folds each micro-batch into a
    * parquet state directory as a keyed upsert — MERGE without a table
    * format, applied incrementally. Each batch writes a NEW versioned
    * dir (`v<batchId>`) after reading the previous one, so the merge
    * never overwrites a directory it is lazily reading from (the
    * read-own-write hazard of an in-place overwrite). The final state
    * equals the batch latest-per-key dedup REGARDLESS of how events are
    * split into micro-batches, because the merge rule re-deduplicates
    * the union of (previous state ∪ batch winners) — associative and
    * insensitive to arrival order, which is what makes it safe under
    * late data and replays. One shuffle per batch, on the key.
    *
    * At 100 TB the identical pattern runs with the state as a
    * partitioned table and the per-batch merge pruned to the partitions
    * the batch touches; versioned-dir-plus-pointer IS how table formats
    * commit, reduced to its essentials. */
  def runIncrementalUpsertOnce(spark: SparkSession, dir: String,
                               scratch: String,
                               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val events = readEvents(spark, dir, maxFilesPerTrigger)
      .select("user_id", "event_id", "ts_ns", "event_type", "value")
    val lastVersion = new java.util.concurrent.atomic.AtomicLong(-1L)
    runAvailableNow(spark, events.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val winners = latestPerUser(batch.toDF())
        val prev = lastVersion.get()
        val merged =
          if (prev < 0) winners
          else latestPerUser(s.read.parquet(s"$scratch/v$prev").unionByName(winners))
        merged.write.mode("overwrite").parquet(s"$scratch/v$batchId")
        lastVersion.set(batchId)
    })
    // A source glob matching zero files yields zero micro-batches; surface
    // that as an explicit contract failure instead of a parquet path error.
    require(lastVersion.get() >= 0,
      s"incremental upsert produced no micro-batches — no input matched under $dir")
    spark.read.parquet(s"$scratch/v${lastVersion.get()}")
  }

  // ---- streaming dedup admission (LSH against corpus signature state) --

  /** `documents.parquet` physical schema for the stream source (the file
    * stream source needs a declared schema). */
  def documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of a documents directory. */
  def readDocuments(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame =
    fileStream(spark, documentsSchema, s"$dir/documents*.parquet",
      maxFilesPerTrigger)

  /** STREAMING DEDUP ADMISSION (`stream_dedup_incremental`) — the
    * `dedup_incremental_batch` nightly shape run LIVE, in the
    * `runIncrementalUpsertOnce` posture: the admitted corpus's banded
    * MinHash signature table is deploy-time state (computed batch-side
    * and checkpointed once — at 100 TB, a precomputed signature table
    * read from the lake), the md5-marked "new" documents arrive as a
    * stream, and each micro-batch runs the ASYMMETRIC band join of just
    * its new docs against that state (`Dedup.admitAgainst` — the same
    * code the batch twin runs), appending one admission row per doc to
    * the result sink. A doc's decision depends only on (itself ×
    * corpus), so the union of emissions is micro-batch-split-invariant
    * (StreamingSpec pins the 3-file scrambled split) and hash-matches
    * the SAME DuckDB oracle as the batch twin. State cost: the corpus
    * signature table is O(corpus) ONCE, never per batch; per-batch work
    * is O(|batch| · bucket-collision rate). */
  def runDedupAdmissionOnce(spark: SparkSession, dir: String,
                            scratch: String,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.operators.Dedup
    val (numHashes, numBands, threshold) = (16, 4, 0.5)
    val newFlag = Dedup.nightlyNewFlag("doc_id")
    graft.plans.StepChain.scoped(spark) { sc =>
      val corpusBanded = sc.checkpoint(Dedup.bandExplode(
        Dedup.lshSignatures(
          graft.Tables.documents(spark, dir).filter(!newFlag),
          "doc_id", "text", numHashes),
        "doc_id", numHashes, numBands))
      runBatchIdSink(readDocuments(spark, dir, maxFilesPerTrigger).filter(newFlag),
          s"$scratch/admissions", "dedup admission", dir) { (batch, _, write) =>
        val newBanded = Dedup.bandExplode(
          Dedup.lshSignatures(batch, "doc_id", "text", numHashes),
          "doc_id", numHashes, numBands)
        write(Dedup.admitAgainst(newBanded, corpusBanded,
          batch.select(col("doc_id")), "doc_id", threshold))
      }
        .select("doc_id", "is_duplicate", "dup_of", "jaccard")
        .orderBy("doc_id")
    }
  }

  // ---- streaming ANN serving (IVF index as deploy-time state) ----------

  /** A [[runBatchIdSink]] emitter that registers each micro-batch as the
    * scope's temp view `q<bid>`, runs `sql(view)` and writes its rows
    * before the view drops. The batch frame is bound to the stream's
    * cloned session, so the view registers and the SQL runs there (the
    * clone carries the scope's index views, copied at `.start()`). */
  private def writeThroughView(sc: graft.plans.StepChain.Scope,
                               sql: String => String)(
      batch: DataFrame, bid: Long, write: DataFrame => Unit): Unit = {
    val bs = batch.sparkSession
    val qv = sc.ref(s"q$bid")
    batch.createOrReplaceTempView(qv)
    try write(bs.sql(sql(qv)))
    finally { bs.catalog.dropTempView(qv); () }
  }

  /** `embeddings.parquet` physical schema for the stream source. */
  def embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming scan of an embeddings directory. */
  def readEmbeddings(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame =
    fileStream(spark, embeddingsSchema, s"$dir/embeddings*.parquet",
      maxFilesPerTrigger)

  /** STREAMING ANN SERVING (`stream_ann_serving`, 24th live entry) — the
    * `similarity_ivf_probe` serving scan run the way a deployed vector
    * index actually runs it: the INDEX (16-row sampled coarse quantizer +
    * corpus→list assignment) is deploy-time state computed batch-side
    * once and checkpointed — at 100 TB, an index build job's output read
    * from the lake — while the QUERIES arrive as a stream; each
    * micro-batch probes its queries' nprobe=4 nearest lists, joins
    * candidates LIST-keyed against the assignment state (≈ nprobe/nlist
    * of the corpus per query, never corpus × queries), re-ranks by exact
    * cosine, and appends its top-5 rows to the result sink. A query's
    * result depends only on (itself × index), so the union of emissions
    * is micro-batch-split-invariant (StreamingSpec pins the 3-file
    * scrambled split) and hash-matches the SAME DuckDB oracle as the
    * batch twin. Every distance/dot/rank expression comes from the same
    * builders as the monolithic template (`Docs.ivfServeSql`), so the
    * two paths cannot drift. State cost: O(corpus) once for the
    * assignment table + 16 quantizer rows; per-batch work is
    * O(|batch| · corpus/nlist · nprobe). */
  def runAnnServingOnce(spark: SparkSession, dir: String,
                        scratch: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.plans.StepChain.scoped(spark) { sc =>
      val corpus = sc.checkpoint("corpus", graft.Tables.embeddings(spark, dir))
      // the oracle's pinned nlist=16 below the shared gate; √n lists past
      // it (the nswBeamSpark posture) so serve-join candidates stay
      // ≈ nprobe·n/√n per query instead of nprobe·n/16
      val n = spark.table(corpus).count()
      val nlist =
        if (n <= graft.queries.Docs.NswOracleMaxN) graft.queries.Docs.IvfNlist
        else graft.operators.Similarity.nlistForCorpus(n)
      // nprobe tracks nlist in the adaptive branch (ADVICE r13: a fixed
      // nprobe=4 would probe 4/√n of the corpus — recall silently decays
      // with scale); at oracle scale both stay the pinned 4/16 pair, so
      // the hash-checked text is unchanged
      val nprobe =
        if (n <= graft.queries.Docs.NswOracleMaxN) graft.queries.Docs.IvfNprobe
        else graft.operators.Similarity.nprobeForNlist(nlist)
      val samp = sc.checkpoint("samp",
        spark.sql(graft.queries.Docs.ivfSampSql(corpus, nlist)))
      val assign = sc.checkpoint("assign",
        spark.sql(graft.queries.Docs.ivfAssignSql(corpus, samp, Dialect.Spark)))
      runBatchIdSink(
          readEmbeddings(spark, dir, maxFilesPerTrigger).filter(col("vec_id") % 50 === 0),
          s"$scratch/served", "ANN serving", dir) {
        writeThroughView(sc, qv => graft.queries.Docs.ivfServeSql(qv, samp, assign,
          corpus, Dialect.Spark, nprobe))
      }
        .select("query_id", "neighbor_id", "rank", "cos")
        .orderBy("query_id", "rank")
    }
  }

  /** STREAMING PQ INDEX WRITE + RETRAIN AUDIT (`stream_pq_retrain`,
    * r14 — the VERDICT ask-#5 index-MAINTENANCE twin, completing the
    * serve/write pair `stream_ann_serving` opened): the
    * `similarity_pq_retrain` pipeline run the way a deployed PQ index
    * actually ingests — the CODEBOOK (16-row sampled subspace
    * centroids) is deploy-time state computed batch-side once and
    * checkpointed, while the CORPUS arrives as a stream; each
    * micro-batch encodes ITS vectors against the fixed codebook
    * (argmin codeword + quantization distance + raw subvector
    * coordinates — `Docs.pqIndexSql`, the long-form rows a PQ index
    * stores at rest) and lands them in an idempotent batch-id-named
    * sink directory (the exactly-once layout). A vector's index rows
    * depend only on (itself × codebook), so the union of emissions is
    * micro-batch-split-invariant. The RETRAIN AUDIT — drift trigger by
    * integer cross-multiplication on grid-9 DECIMAL sums, grid-6 Lloyd
    * half-step for flagged subspaces, per-subspace QE before/after —
    * is `Docs.pqAuditSql` run ONCE over the landed index (index
    * maintenance reads the index, not the stream), so the result
    * hash-matches the SAME DuckDB oracle as the batch twin. Streaming
    * state: ZERO (stateless encode — the `stream_dedup_incremental`
    * posture); the sink is the index itself, corpus × 64 rows. */
  def runPqRetrainOnce(spark: SparkSession, dir: String,
                       scratch: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.plans.StepChain.scoped(spark) { sc =>
      val corpus = sc.checkpoint("corpus", graft.Tables.embeddings(spark, dir))
      val samp = sc.checkpoint("samp",
        spark.sql(graft.queries.Docs.pqSampSql(corpus)))
      val landed = runBatchIdSink(readEmbeddings(spark, dir, maxFilesPerTrigger),
          s"$scratch/index", "PQ index write", dir) {
        writeThroughView(sc, qv => graft.queries.Docs.pqIndexSql(qv, samp, Dialect.Spark))
      }
      val idx = sc.checkpoint("pidx",
        landed.select("vec_id", "label", "sv", "c", "dist", "dj", "x"))
      // collected now: the audit must not read the scope's views after
      // they drop
      sc.collect(spark.sql(s"WITH ${graft.queries.Docs.pqAuditSql(idx, Dialect.Spark)}"))
    }
  }

  // ---- streaming CEP burst detection ----------------------------------

  case class BurstEvent(user_id: Long, ts_us: Long, ts: java.sql.Timestamp)
  /** Per-user buffered error times not yet provably irrelevant. A time's
    * QUALIFICATION (≥ k errors in its trailing window) depends only on
    * events AT OR BEFORE it, so it is final once the watermark passes it;
    * an EPISODE (island of qualifying times with gaps ≤ window) is final
    * once `last + window < watermark` — no admissible future event can
    * join it or requalify into it. Retention: times ≥
    * min(watermark, first open episode start) − window; everything older
    * can neither qualify a future row nor belong to a non-final episode.
    * State is O(errors within window+watermark horizon) per user — the
    * [[SessBuf]] bound. */
  case class BurstBuf(buf: Seq[Long], version: Long, life_id: Long)
  case class BurstOut(user_id: Long, start_us: Long, end_us: Long,
                      n_rows: Long, finalized: Boolean, life_id: Long,
                      version: Long)

  /** Streaming "k events within T per key" pattern detector — the
    * stateful CEP twin of the batch `dq_error_burst` RANGE-window query
    * (Flink-CEP territory, expressed as `flatMapGroupsWithState`).
    * Event-time correct under any arrival order the watermark admits:
    * qualification and episode membership are recomputed from the
    * buffered time set on every state change (the [[sessionizeStream]]
    * buffered-recompute rule — a late error can qualify an earlier lone
    * error or bridge two episodes, which no single-row retained state
    * could replay). Emission contract is the sessionizer's: finalized
    * episodes exactly once, open episodes as whole-picture snapshots
    * superseded by their (life_id, version) stamp. */
  def burstStream(events: DataFrame, windowUs: Long, k: Int,
                  watermark: String = "1 hour"): Dataset[BurstOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type") === "error")
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts_us"), col("ts"))
      .as[BurstEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BurstBuf, BurstOut](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[BurstEvent], state: GroupState[BurstBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows.map(_.ts_us).toArray
          val prev = state.getOption.getOrElse(
            BurstBuf(Nil, 0L, if (arrived.isEmpty) 0L else arrived.min))
          val merged = prev.buf.toArray ++ arrived
          java.util.Arrays.sort(merged)
          // two-pointer trailing-window count: qualifying iff ≥ k times
          // in [t − window, t] (the batch RANGE frame, inclusive)
          val qual = scala.collection.mutable.ArrayBuffer.empty[Long]
          var j = 0
          var i = 0
          while (i < merged.length) {
            while (merged(i) - merged(j) > windowUs) j += 1
            if (i - j + 1 >= k) qual += merged(i)
            i += 1
          }
          val eps = islands(qual.toArray, windowUs)
          val (done, open) = eps.partition(_.last_us + windowUs < wmUs)
          val v = prev.version + 1
          val out = scala.collection.mutable.ArrayBuffer.empty[BurstOut]
          done.foreach(e =>
            out += BurstOut(uid, e.start_us, e.last_us, e.n, true,
              prev.life_id, v))
          val cutoff = (open.headOption.map(_.start_us).toSeq :+ wmUs)
            .min - windowUs
          val keep = merged.filter(_ >= cutoff)
          if (open.isEmpty && keep.isEmpty) {
            out += BurstOut(uid, -1L, 0L, 0L, false, prev.life_id, v)
            state.remove()
          } else {
            open.foreach(e =>
              out += BurstOut(uid, e.start_us, e.last_us, e.n, false,
                prev.life_id, v))
            if (open.isEmpty)
              out += BurstOut(uid, -1L, 0L, 0L, false, prev.life_id, v)
            state.update(BurstBuf(keep.toSeq, v, prev.life_id))
            // wake when the watermark can finalize the earliest open
            // episode, or purge the lone buffered times
            val horizonUs = open.headOption.map(_.last_us)
              .getOrElse(keep.max) + windowUs
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, horizonUs / 1000L + 1))
          }
          out.iterator
      }
  }

  /** Read side of the burst emission contract ([[currentStamped]] per
    * user), collapsed to the per-user audit the batch twin emits: episode
    * count, qualifying-row count, first/last qualifying time in ns. */
  def mergeBurstEmissions(emitted: DataFrame): DataFrame =
    currentStamped(emitted, "user_id", "start_us")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_bursts"),
        sum("n_rows").as("n_burst_rows"),
        (min("start_us") * 1000L).as("first_burst_ns"),
        (max("end_us") * 1000L).as("last_burst_ns"))

  // ---- streaming irregular-time EWMA ----------------------------------

  case class EwmaEvent(event_type: String, event_id: Long, ts_us: Long,
                       ts: java.sql.Timestamp, v: Double)

  /** O(1)-anchor + watermark-horizon buffer per series: the finalized
    * prefix collapses to its last (t, ewma) pair — the ONLY state the
    * recursion needs to extend — and the mutable suffix (events the
    * watermark hasn't yet sealed) is re-smoothed on every state change
    * so a late event re-times every α after it (the sessionizer's
    * buffered-recompute rule; a retained scalar could not replay it). */
  case class EwmaBuf(anchorT: Option[Long], anchorE: Option[Double],
                     buf: Seq[(Long, Long, Double)], version: Long,
                     life_id: Long)
  case class EwmaOut(event_type: String, t: Long, event_id: Long, v: Double,
                     alpha: Double, ewma: Double, finalized: Boolean,
                     life_id: Long, version: Long)

  /** Streaming twin of the batch `ts_ewma_irregular` recursion —
    * time-decay smoothing with α = 1 − exp(−Δt/τ) on raw event times,
    * run incrementally: rows with t < watermark are provably immutable
    * (nothing can arrive before them) and emit exactly once as
    * `finalized`; the suffix re-emits as a stamped whole-picture
    * snapshot per change (the sessionize/scd2 emission contract). The
    * per-step 1e-9 grid re-rounding matches the batch scan bitwise, so
    * the merged emissions hash-match the SAME DuckDB RECURSIVE-CTE
    * oracle. */
  def ewmaStream(events: DataFrame, tauUs: Double = 21600000000.0,
                 watermark: String = "1 hour"): Dataset[EwmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("event_id"), col("ts_us"), col("ts"),
        col("v"))
      .as[EwmaEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaBuf, EwmaOut](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (g: String, rows: Iterator[EwmaEvent], state: GroupState[EwmaBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows.map(r => (r.ts_us, r.event_id, r.v)).toArray
          val prev = state.getOption.getOrElse(EwmaBuf(None, None, Nil, 0L, 0L))
          val merged = (prev.buf ++ arrived).sortBy(e => (e._1, e._2))
          var tPrev = prev.anchorT.getOrElse(0L)
          var ew = prev.anchorE.getOrElse(0.0)
          var first = prev.anchorT.isEmpty
          val v = prev.version + 1
          val recomputed = merged.map { case (t, id, x) =>
            val alpha =
              if (first) { ew = x; tPrev = t; first = false; 1.0 }
              else {
                val a = Grid.r9(1.0 - math.exp(-(t - tPrev).toDouble / tauUs))
                ew = Grid.r9(ew + a * (x - ew)); tPrev = t; a
              }
            EwmaOut(g, t, id, x, alpha, ew, t < wmUs, prev.life_id, v)
          }
          val (done, open) = recomputed.partition(_.finalized)
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
          out ++= done
          if (open.isEmpty)
            // supersede any stale open snapshot from an earlier version
            out += EwmaOut(g, -1L, 0L, 0.0, 0.0, 0.0, false, prev.life_id, v)
          else out ++= open
          val anchorRow = done.lastOption
          val keep = merged.filter(_._1 >= wmUs)
          state.update(EwmaBuf(
            anchorRow.map(_.t).orElse(prev.anchorT),
            anchorRow.map(_.ewma).orElse(prev.anchorE),
            keep, v, prev.life_id))
          // a data-less key never re-enters the function without a
          // timeout — wake when the watermark can seal buffered rows
          // (the scd2 rule); an empty buffer needs no wake-up, the
          // anchor alone is immutable
          if (keep.nonEmpty)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          out.iterator
      }
  }

  /** Read side of the EWMA emission contract ([[currentStamped]] per
    * series). */
  def mergeEwmaEmissions(emitted: DataFrame): DataFrame =
    currentStamped(emitted, "event_type", "t")
      .select("event_type", "t", "event_id", "v", "alpha", "ewma")

  /** Harness entry: the REAL streaming irregular EWMA run to completion;
    * wide-watermark convention as [[runSessionizeOnce]]. Output matches
    * the batch `ts_ewma_irregular` oracle exactly. */
  def runEwmaOnce(spark: SparkSession, dir: String, queryName: String,
                  watermark: String = "3650 days"): DataFrame = {
    val events = readEvents(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("ts"),
        round(col("value"), 6).as("v"))
    mergeEwmaEmissions(
      runToMemory(ewmaStream(events, watermark = watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  // ---- streaming Holt–Winters filter ----------------------------------

  case class HwEvent(ts: java.sql.Timestamp, bucket: Long, v: Double)

  /** Anchor + suffix state: `st` is the HwFilter recursion advanced over
    * every SEALED bucket (O(M) numbers — permanent, never replayed);
    * `buf` holds the raw (bucket, value) pairs of buckets the watermark
    * has not sealed (horizon-bounded). */
  case class HwBuf(st: graft.operators.HwFilter.St,
                   buf: Seq[(Long, Double)], version: Long)

  case class HwSnap(n_obs: Long, level: Double, trend: Double,
                    forecast_1: Double, forecast_1day: Double, rmse: Double,
                    version: Long)

  /** Streaming Holt–Winters: one state row (single logical series), the
    * sessionizer's buffered-recompute rule applied at BUCKET grain — a
    * bucket's mean is immutable once `bucketEnd ≤ watermark` (its mean
    * is an order-free DECIMAL sum, so intra-bucket arrival order never
    * matters), sealed means advance the anchor once, and the snapshot
    * recomputes anchor→suffix per change. Emissions are version-stamped
    * snapshots; the read side keeps the latest. */
  def hwStream(events: DataFrame, watermark: String = "1 hour"): Dataset[HwSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    val bucketUs = 1800000000L
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("bucket"), col("v"))
      .as[HwEvent]
      .groupByKey(_ => 1)
      .flatMapGroupsWithState[HwBuf, HwSnap](
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, rows: Iterator[HwEvent], state: GroupState[HwBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption
            .getOrElse(HwBuf(graft.operators.HwFilter.empty, Nil, 0L))
          val merged = prev.buf ++ rows.map(r => (r.bucket, r.v))
          val (done, open) = merged.partition {
            case (b, _) => (b + 1L) * bucketUs <= wmUs
          }
          // sealed buckets advance the anchor permanently, in bucket order
          var st = prev.st
          done.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, vs) =>
            st = graft.operators.HwFilter.push(st,
              graft.operators.HwFilter.mean6(vs.map(_._2)))
          }
          // snapshot = anchor extended over the provisional suffix
          var snap = st
          open.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, vs) =>
            snap = graft.operators.HwFilter.push(snap,
              graft.operators.HwFilter.mean6(vs.map(_._2)))
          }
          val v = prev.version + 1
          state.update(HwBuf(st, open, v))
          if (open.nonEmpty)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          if (snap.started) {
            val (n, l, t, f1, f48, rmse) = graft.operators.HwFilter.summary(snap)
            Iterator.single(HwSnap(n, l, t, f1, f48, rmse, v))
          } else Iterator.empty
      }
  }

  /** Read side: keep the highest-version snapshot only. */
  def mergeHwEmissions(emitted: DataFrame): DataFrame =
    latestVersion(emitted)
      .select("n_obs", "level", "trend", "forecast_1", "forecast_1day", "rmse")

  /** The read rule of the full-snapshot streams (Holt–Winters, SGD,
    * Page–Hinkley): keep the highest-version snapshot per `keys` (the
    * whole stream when none). */
  private def latestVersion(emitted: DataFrame, keys: String*): DataFrame = {
    val latest = emitted.groupBy(keys.map(k => col(k).as(s"__$k")): _*)
      .agg(max(col("version")).as("__version"))
    emitted.join(broadcast(latest),
      keys.map(k => col(k) === col(s"__$k"))
        .foldLeft(col("version") === col("__version"))(_ && _))
  }

  /** Harness entry: the REAL streaming Holt–Winters filter run to
    * completion; wide-watermark convention as [[runEwmaOnce]]. The
    * merged snapshot matches the batch `ml_holt_winters_filter` oracle
    * exactly. */
  def runHwOnce(spark: SparkSession, dir: String, queryName: String,
                watermark: String = "3650 days"): DataFrame = {
    val events = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("ts"), expr("ts_ns div 1800000000000").as("bucket"),
        col("value").as("v"))
    mergeHwEmissions(
      runToMemory(hwStream(events, watermark = watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  // ---- streaming online SGD --------------------------------------------

  case class SgdEvent(ts: java.sql.Timestamp, bucket: Long, isX: Boolean,
                      v: Double)

  /** Per-bucket EXACT scaled-6 sums and counts for both series — the
    * bucket mean is order-free, so arrival order (and late data) never
    * matters; the map is bounded by the series' bucket count (time-span
    * bounded, the same bound the batch bar frame has). */
  case class SgdBucket(sx6: Long, cx: Long, sy6: Long, cy: Long)

  case class SgdBuf(buckets: Map[Long, SgdBucket], version: Long)

  case class SgdSnap(n_steps: Long, w0: Double, w1: Double, rmse: Double,
                     version: Long)

  /** Streaming online SGD — the learner re-fit as data lands: every
    * micro-batch updates the per-bucket sums and re-runs
    * standardization + the sequential pass over the whole bar frame
    * (`SgdOnline.fromBars` — the SAME arithmetic as the batch scan and
    * the recursive-CTE oracle). FULL recompute per emission, by
    * NECESSITY, not convenience: the model standardizes features over
    * the complete series, so one new bucket moves every z — there is no
    * finalized-prefix anchor (contrast `hwStream`/`ewmaStream`). A
    * production learner freezes scaler statistics to get O(1) updates —
    * this twin's job is to prove the stream converges to the batch
    * answer bit for bit. */
  def sgdStream(events: DataFrame,
                watermark: String = "1 hour"): Dataset[SgdSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("bucket"), col("isX"), col("v"))
      .as[SgdEvent]
      .groupByKey(_ => 1)
      .flatMapGroupsWithState[SgdBuf, SgdSnap](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[SgdEvent], state: GroupState[SgdBuf]) =>
          val prev = state.getOption.getOrElse(SgdBuf(Map.empty, 0L))
          var m = prev.buckets
          rows.foreach { r =>
            val b = m.getOrElse(r.bucket, SgdBucket(0L, 0L, 0L, 0L))
            val s6 = graft.operators.SgdOnline.scaled6(r.v)
            m += (r.bucket -> (if (r.isX)
              b.copy(sx6 = b.sx6 + s6, cx = b.cx + 1)
            else b.copy(sy6 = b.sy6 + s6, cy = b.cy + 1)))
          }
          val v = prev.version + 1
          state.update(SgdBuf(m, v))
          val bars = m.toSeq.collect {
            case (bk, sb) if sb.cx > 0 && sb.cy > 0 =>
              (bk, graft.operators.SgdOnline.mean6(sb.sx6, sb.cx),
                graft.operators.SgdOnline.mean6(sb.sy6, sb.cy))
          }
          graft.operators.SgdOnline.fromBars(bars) match {
            case Some((n, w0, w1, rmse)) =>
              Iterator.single(SgdSnap(n, w0, w1, rmse, v))
            case None => Iterator.empty
          }
      }
  }

  /** Read side: keep the highest-version snapshot only. */
  def mergeSgdEmissions(emitted: DataFrame): DataFrame =
    latestVersion(emitted).select("n_steps", "w0", "w1", "rmse")

  /** Harness entry: the REAL streaming online-SGD learner run to
    * completion; wide-watermark convention as [[runHwOnce]]. The merged
    * snapshot matches the batch `ml_sgd_online` oracle exactly. */
  def runSgdOnce(spark: SparkSession, dir: String, queryName: String,
                 watermark: String = "3650 days"): DataFrame = {
    val events = readEvents(spark, dir)
      .filter(col("event_type").isin("view", "click"))
      .select(col("ts"), expr("ts_ns div 1800000000000").as("bucket"),
        (col("event_type") === "view").as("isX"), col("value").as("v"))
    mergeSgdEmissions(
      runToMemory(sgdStream(events, watermark = watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  // ---- streaming Page–Hinkley drift detector -----------------------------

  case class PhEvent(ts: java.sql.Timestamp, series: String, bucket: Long,
                     v: Double)

  case class PhBuf(buckets: Map[Long, (Long, Long)], version: Long)

  case class PhSnap(series: String, n_returns: Long, ph_max_up: Double,
                    ph_max_down: Double, lambda: Double,
                    alarm_up_bucket: Option[Long],
                    alarm_down_bucket: Option[Long], alarmed: Int,
                    version: Long)

  /** Streaming Page–Hinkley — THE drift detector of the online-learning
    * literature (River/MOA ship exactly this test), run as a real
    * per-series keyed stream: per-bucket exact scaled-6 sums in state
    * (order-free means — late data re-means its bucket and can never
    * depend on arrival order), each micro-batch re-derives returns,
    * the adaptive (δ, λ), and the full PH pass via
    * `PageHinkley.fromBars`. Full recompute per emission by necessity
    * — δ/λ calibrate on the series' GLOBAL return σ, so every new
    * bucket moves the thresholds (the `sgdStream` posture; the classic
    * fixed-(δ, λ) PH would anchor O(1), but then the detector is
    * `ml_changepoint_cusum` wearing a different name). Final snapshot
    * hash-matches the SAME oracle as the batch `stat_page_hinkley`. */
  def phStream(events: DataFrame,
               watermark: String = "1 hour"): Dataset[PhSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("series"), col("bucket"), col("v"))
      .as[PhEvent]
      .groupByKey(_.series)
      .flatMapGroupsWithState[PhBuf, PhSnap](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[PhEvent], state: GroupState[PhBuf]) =>
          val prev = state.getOption.getOrElse(PhBuf(Map.empty, 0L))
          var m = prev.buckets
          rows.foreach { r =>
            val (s6, c) = m.getOrElse(r.bucket, (0L, 0L))
            m += (r.bucket ->
              (s6 + graft.operators.SgdOnline.scaled6(r.v), c + 1))
          }
          val v = prev.version + 1
          state.update(PhBuf(m, v))
          val bars = m.toSeq.map { case (b, (s6, c)) =>
            (b, graft.operators.SgdOnline.mean6(s6, c))
          }
          graft.operators.PageHinkley.fromBars(bars) match {
            case Some((n, pu, pd, lam, au, ad, al)) =>
              Iterator.single(PhSnap(series, n, pu, pd, lam, au, ad, al, v))
            case None => Iterator.empty
          }
      }
  }

  /** Read side: keep each series' highest-version snapshot. */
  def mergePhEmissions(emitted: DataFrame): DataFrame =
    latestVersion(emitted, "series")
      .select("series", "n_returns", "ph_max_up", "ph_max_down", "lambda",
        "alarm_up_bucket", "alarm_down_bucket", "alarmed")

  /** Harness entry: the REAL streaming Page–Hinkley monitor run to
    * completion; wide-watermark convention as [[runSgdOnce]]. The merged
    * snapshots match the batch `stat_page_hinkley` oracle exactly. */
  def runPhOnce(spark: SparkSession, dir: String, queryName: String,
                watermark: String = "3650 days"): DataFrame = {
    val events = readEvents(spark, dir)
      .select(col("ts"), col("event_type").as("series"),
        expr("ts_ns div 1800000000000").as("bucket"), col("value").as("v"))
    mergePhEmissions(
      runToMemory(phStream(events, watermark = watermark).toDF(),
        queryName, OutputMode.Update()))
      .orderBy("series")
  }

  /** Harness entry: the REAL streaming burst detector run to completion;
    * wide-watermark convention as [[runSessionizeOnce]] (micro-batch
    * boundaries must not decide oracle rows; eviction semantics are
    * pinned by StreamingSpec's multi-batch MemoryStream test). Output
    * matches the batch `dq_error_burst` oracle exactly. */
  def runBurstOnce(spark: SparkSession, dir: String, queryName: String,
                   windowUs: Long = 3600000000L, k: Int = 2,
                   watermark: String = "3650 days"): DataFrame = {
    // The state machine runs on µs while the batch twin and the shared
    // DuckDB oracle run on raw ns — sound ONLY while every ts_ns is a
    // µs-multiple, so that truncation is lossless and window-boundary
    // qualification agrees. Enforce that precondition here instead of
    // silently diverging if a TIMESTAMP(NANOS) generation ever carries
    // sub-µs components.
    val events = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        expr("""CASE WHEN ts_ns % 1000 != 0 THEN CAST(raise_error(concat(
                 'runBurstOnce: sub-microsecond ts_ns (', CAST(ts_ns AS STRING),
                 ') breaks the streaming-vs-batch burst contract')) AS LONG)
                ELSE ts_ns div 1000 END""").as("ts_us"))
    mergeBurstEmissions(
      runToMemory(burstStream(events, windowUs, k, watermark).toDF(),
        queryName, OutputMode.Update()))
  }

  /** REAL STREAMING twin of `drift_psi` (r11) — the production
    * monitoring posture: the REFERENCE profile (span midpoint, decile
    * cuts, per-bin reference counts) is FROZEN batch-side — the
    * deploy-time training snapshot a monitor ships with; nobody
    * re-derives reference deciles per micro-batch in production. The
    * CURRENT half arrives as a stream and its per-bin counts accumulate
    * as a streaming aggregate in Update mode. State is O(bins) = 10
    * longs per monitor; counts are order-free, so arrival order and
    * late data CANNOT change the final snapshot (the HW/EWMA anchor
    * problem does not arise — contrast `sgdStream`'s documented
    * full-recompute-by-necessity). Each Update emission carries the
    * monotone cumulative count, so the final value per bin is the max
    * across emissions. Final assembly replays the batch smoothing/term
    * expressions (`Ts.psiAssemble`) → hash-matches the SAME `drift_psi`
    * oracle. */
  /** The streaming current-half per-bin counter (state = 10 longs; the
    * Update-mode aggregate a production monitor binds to a real sink). */
  def psiCounts(cur: DataFrame, cuts: Seq[Double]): DataFrame =
    cur.withColumn("bin", graft.queries.Ts.psiBin(cuts))
      .groupBy("bin").agg(count(lit(1)).as("n_cur"))

  def mergePsiEmissions(emitted: DataFrame): DataFrame =
    maxPerKey(emitted, Seq("bin"), "n_cur")

  /** The read rule of the order-free Update-mode aggregates (counts, sums
    * of non-negative increments, maxima): each emission carries the
    * monotone running value per key, so the final snapshot is the max of
    * every `cols` value across a key's emissions (`keys` empty: one
    * global row). */
  private def maxPerKey(emitted: DataFrame, keys: Seq[String],
                        cols: String*): DataFrame = {
    val maxima = cols.map(c => max(c).as(c))
    emitted.groupBy(keys.map(col): _*).agg(maxima.head, maxima.tail: _*)
  }

  def runPsiOnce(spark: SparkSession, dir: String,
                 queryName: String): DataFrame = {
    val (ev, mid, cuts) = graft.queries.Ts.psiProfile(spark, dir)
    val refCounts = ev.filter(col("t") < mid)
      .withColumn("bin", graft.queries.Ts.psiBin(cuts))
      .groupBy("bin").agg(count(lit(1)).as("n_ref"))
    val cur = psiCounts(readEvents(spark, dir)
      .select(expr("unix_micros(ts)").as("t"),
        round(col("value"), 6).as("v"))
      .filter(col("t") >= mid), cuts)
    val curFinal = mergePsiEmissions(
      runToMemory(cur, queryName, OutputMode.Update()))
    // full outer: a bin can be empty in either half (never both — a row
    // put it in the count frame); zero-fill mirrors the batch twin's
    // sum-of-indicators over the union frame
    graft.queries.Ts.psiAssemble(
      refCounts.join(curFinal, Seq("bin"), "full_outer")
        .select(col("bin"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")))
  }

  /** REAL STREAMING twin of `drift_ks` (r12 — the `stream_drift_psi`
    * pattern applied to the KS monitor): the REFERENCE sample's
    * per-distinct-value counts (the click distribution — the
    * deploy-time snapshot a covariate-shift monitor ships with) are
    * FROZEN batch-side; the COMPARISON sample (purchase values)
    * arrives as a stream whose per-gridded-value counts accumulate as
    * a keyed Update-mode streaming aggregate. Counts are order-free,
    * so arrival order and late data CANNOT change the final snapshot.
    * State is O(distinct gridded values) of the streamed side — the
    * honest cost of an EXACT sample-level KS (the ECDF needs every
    * pooled support point; PSI's O(10) state is what you buy by fixing
    * bins up front — a production monitor that needs bounded state
    * quantizes first and runs exactly this plan over the coarser
    * grid). Update emissions carry the monotone cumulative count per
    * value, so the final count per value is the max across emissions.
    * Final assembly replays the batch CDF/max-gap expressions
    * (`Ts.ksAssemble`) → hash-matches the SAME `drift_ks` oracle. */
  def ksCounts(cur: DataFrame): DataFrame =
    cur.groupBy("v").agg(count(lit(1)).as("c2"))

  def mergeKsEmissions(emitted: DataFrame): DataFrame =
    maxPerKey(emitted, Seq("v"), "c2")

  def runKsOnce(spark: SparkSession, dir: String,
                queryName: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ref = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(round(col("value"), 6).as("v"))
      .groupBy("v").agg(count(lit(1)).as("c1"))
    val cur = ksCounts(readEvents(spark, dir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(round(col("value"), 6).as("v")))
    val curFinal = mergeKsEmissions(
      runToMemory(cur, queryName, OutputMode.Update()))
    // full outer: a pooled support point can be absent from either
    // sample (never both — a row put it in a count frame); zero-fill
    // mirrors the batch twin's sum-of-indicators over the union frame
    graft.queries.Ts.ksAssemble(spark,
      ref.join(curFinal, Seq("v"), "full_outer")
        .select(col("v"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2")))
  }

  /** STREAMING FRESHNESS SLA (`stream_freshness_sla`, r11 — 20th live
    * streaming entry): the staleness census run where it belongs — ON
    * the stream, where a lagging source is caught while it lags, not in
    * the nightly batch after the damage. Per event type, `max(ts_ns)`
    * and the event count accumulate as a KEYED Update-mode streaming
    * aggregate: state = 2 longs per type (O(types), sharded), and both
    * max and count are order-free — arrival order and late data CANNOT
    * move the final snapshot, the `stream_drift_psi` posture. Update
    * emissions are monotone per key, so the final value per type is the
    * max across emissions. The snapshot then runs the SAME
    * `Feat.freshnessAssemble` expressions as the batch census →
    * hash-matches the SAME `dq_freshness_sla` oracle (integer ns lag
    * arithmetic, 30-minute SLA flag). */
  def runFreshnessOnce(spark: SparkSession, dir: String,
                       queryName: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val perType = readEvents(spark, dir, maxFilesPerTrigger)
      .groupBy("event_type")
      .agg(max(col("ts_ns")).as("last_ts_ns"), count(lit(1)).as("n_events"))
    val fin = maxPerKey(runToMemory(perType, queryName, OutputMode.Update()),
      Seq("event_type"), "last_ts_ns", "n_events")
    graft.queries.Feat.freshnessAssemble(fin)
  }

  /** STREAMING VOLUME-ANOMALY CENSUS (`stream_volume_anomaly`, r12 —
    * 22nd live streaming entry): the monitoring hole `stream_freshness_sla`
    * can't see, watched where it opens — a source can be FRESH yet
    * silently half-empty (a bad upstream filter deploy) or doubled (a
    * replay), and the operator catching that on ingest pages before the
    * nightly batch does. Per-day event counts accumulate as a KEYED
    * Update-mode streaming aggregate (state = 1 long per day in the
    * retention window; counts are order-free, so arrival order and late
    * data CANNOT move the final snapshot — the `stream_drift_psi`
    * posture; emissions are monotone per key, merge = max-per-day). The
    * snapshot then runs the SAME median ± 3·MAD integer assembly as the
    * batch census (`Feat.volumeAssembleSql` — med2/dev2/mad4 exact
    * order statistics, anomaly by integer cross-multiplication) →
    * hash-matches the SAME `dq_volume_anomaly` oracle. */
  def volumeCounts(ev: DataFrame): DataFrame =
    ev.groupBy("day").agg(count(lit(1)).as("n"))

  def mergeVolumeEmissions(emitted: DataFrame): DataFrame =
    maxPerKey(emitted, Seq("day"), "n")

  def runVolumeOnce(spark: SparkSession, dir: String,
                    queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val cur = volumeCounts(readEvents(spark, dir, maxFilesPerTrigger)
      .select(expr("ts_ns div 86400000000000").as("day")))
    val fin = mergeVolumeEmissions(
      runToMemory(cur, queryName, OutputMode.Update()))
      .select(col("day"), col("n").cast("long").as("n"))
    val v = s"${queryName}_days"
    try {
      fin.createOrReplaceTempView(v)
      spark.sql("WITH " + graft.queries.Feat.volumeAssembleSql(
        v, Dialect.Spark))
    } finally { spark.catalog.dropTempView(v); () }
  }

  /** STREAMING SCHEMA-DRIFT CENSUS (`stream_schema_drift`, r12 — 23rd
    * live streaming entry): the before/after profile diff
    * `dq_schema_drift` runs on a landed drop, run the way a deploy
    * actually watches it — the BEFORE profile (rows, distinct
    * users/types, value/k means up to the frozen midpoint day) is the
    * deploy-time snapshot computed batch-side; the AFTER half arrives
    * as a stream. Three state surfaces, each the cheapest exact form:
    * (a) rows/Σv/Σk as ONE global Update-mode aggregate — rows is
    * monotone, so the final snapshot is the emission with max rows_a
    * (sums ride the same row: no order assumption on v/k signs);
    * (b)/(c) distinct users and types via `dropDuplicates` state
    * emitting each key once in Append mode (the
    * `stream_dq_expectations` uniqueness budget — O(users)+O(types),
    * sharded), counted at the sink. Final assembly is the SAME
    * `Feat.schemaDriftAssemble` stack/rel_delta expressions →
    * hash-matches the SAME `dq_schema_drift` oracle. */
  def runSchemaDriftOnce(spark: SparkSession, dir: String,
                         queryName: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val evB = graft.queries.Feat.schemaDriftFrame(
      graft.Tables.events(spark, dir))
    val mid = evB.agg(((min("day") + max("day") + 1) / 2).cast("long")
      .as("mid")).head().getLong(0)
    val before = evB.filter(col("day") < mid).agg(
      count(lit(1)).as("rows_b"),
      countDistinct(col("user_id")).as("users_b"),
      countDistinct(col("event_type")).as("types_b"),
      sum(col("v")).as("sv_b"),
      sum(col("k")).as("sk_b"))
    def evS() = graft.queries.Feat.schemaDriftFrame(
      readEvents(spark, dir, maxFilesPerTrigger)).filter(col("day") >= mid)
    val emissions = runToMemory(evS().agg(
        count(lit(1)).as("rows_a"),
        sum(col("v")).as("sv_a"),
        sum(col("k")).as("sk_a")),
      s"${queryName}_agg", OutputMode.Update()).collect()
    // an empty events glob at cold start runs no micro-batch at all —
    // fail with the cause, not maxBy's bare UnsupportedOperationException
    require(emissions.nonEmpty,
      s"$queryName: the streamed after-half produced no emission " +
        s"(no micro-batch ran — empty events source under $dir?)")
    val fin = emissions.maxBy(_.getAs[Long]("rows_a"))
    val usersA = runToMemory(
      evS().select(col("user_id")).dropDuplicates("user_id"),
      s"${queryName}_u", OutputMode.Append()).count()
    val typesA = runToMemory(
      evS().select(col("event_type")).dropDuplicates("event_type"),
      s"${queryName}_t", OutputMode.Append()).count()
    graft.queries.Feat.schemaDriftAssemble(before
      .withColumn("rows_a", lit(fin.getAs[Long]("rows_a")))
      .withColumn("users_a", lit(usersA))
      .withColumn("types_a", lit(typesA))
      .withColumn("sv_a", lit(fin.getAs[java.math.BigDecimal]("sv_a")))
      .withColumn("sk_a", lit(fin.getAs[Long]("sk_a"))))
  }

  /** CONTINUOUS DATA-QUALITY EXPECTATIONS (`stream_dq_expectations`,
    * r11 — 19th live streaming entry): the dbt-test / expectations gate
    * (`dq_expectations`' posture) run the way streaming pipelines
    * actually enforce it — rules evaluated ON INGEST, not in a nightly
    * batch. Five conditional-count rules plus the referential check
    * ride ONE Update-mode global streaming aggregate over the
    * stream-static broadcast left-join against the customer dim (state
    * = 7 longs; every rule count is a nonneg-increment sum, so
    * emissions are monotone and the final value per column is the max
    * across emissions — arrival order and late data CANNOT move the
    * snapshot). Uniqueness is the one rule that needs more than a
    * counter: `dropDuplicates` state (the documented `stream_dedup_docs`
    * budget — O(keys), sharded) emits each event_id once in Append
    * mode, and the distinct count is the sink's row count. Final
    * assembly is the same long-form `(rule, n_violations, passed)`
    * contract as the batch gate, hash-matched against a DuckDB oracle
    * over the same parquet. Rule set calibrated on harness data so the
    * audit DISCRIMINATES: `accepted_type_serving` and `value_le_250`
    * fire (~40 % and ~0.6 % violation rates), the four structural rules
    * pass — a gate that can never fail audits nothing, and one that
    * always fails gates nothing. */
  def runDqExpectationsOnce(spark: SparkSession, dir: String,
                            queryName: String,
                            custDir: Option[String] = None,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsLo = 1577836800000000L // 2020-01-01 UTC, µs
    val tsHi = 1893456000000000L // 2030-01-01 UTC, µs
    val cust = graft.Tables.customer(spark, custDir.getOrElse(dir))
      .select(col("c_custkey"))
    val ev = readEvents(spark, dir, maxFilesPerTrigger)
    val ruleSums = ev
      .join(broadcast(cust), ev("user_id") === cust("c_custkey"), "left_outer")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_nullvalue"),
        sum(when(col("event_type").isin("click", "view", "purchase"), 0L)
          .otherwise(1L)).as("v_type"),
        sum(when(col("value").isNull || col("value") <= 250.0, 0L)
          .otherwise(1L)).as("v_value"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when(expr("unix_micros(ts)").between(tsLo, tsHi), 0L)
          .otherwise(1L)).as("v_ts"))
    val rulesFinal = maxPerKey(
      runToMemory(ruleSums, queryName + "_rules", OutputMode.Update()),
      Nil, "n", "v_nullvalue", "v_type", "v_value", "v_fk", "v_ts")
    val nDistinct = runToMemory(
        ev.select(col("event_id")).dropDuplicates("event_id"),
        queryName + "_uniq", OutputMode.Append())
      .agg(count(lit(1)).as("n_distinct"))
    rulesFinal.crossJoin(nDistinct)
      .select(expr(
        """stack(6,
          |  'accepted_type_serving', v_type,
          |  'fk_user_in_customer',   v_fk,
          |  'not_null_value',        v_nullvalue,
          |  'ts_calendar_bounds',    v_ts,
          |  'unique_event_id',       n - n_distinct,
          |  'value_le_250',          v_value) AS (rule, n_violations)""".stripMargin))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("rule")
  }
}
