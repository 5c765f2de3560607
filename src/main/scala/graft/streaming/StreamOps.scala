package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.EventOps

/** Structured Streaming face of the event operators.
  *
  * The reference is batch-only (SURVEY.md §2.2: no streaming), so this is
  * a north-star extension: the SAME windowed-aggregation logic as
  * `EventOps.tumbling` run as an incremental streaming query with a
  * watermark. Batch/stream parity is by construction — both call the same
  * groupBy(window(...)) composition — and is asserted in StreamOpsSpec.
  */
object StreamOps {

  /** Micro-batch WORK milliseconds (Σ triggerExecution over the batches
    * of every bounded stream run since the last reset): the wall time of
    * a harness stream conflates trigger-latch and source-poll waits with
    * actual work, so benchmark adjudication reads THIS accumulator —
    * [[graft.Bench]]/[[graft.ArbiterChild]] reset it before a query and
    * publish it next to the wall time for every `_stream` query.
    */
  val streamWorkMs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Completed micro-batch TRIGGER count (Σ batches over the bounded
    * stream runs since the last reset): published next to
    * [[streamWorkMs]] so a work-ms inflation self-diagnoses as "more
    * micro-batches" (batch-count nondeterminism in the harness staging)
    * vs "slower micro-batches" (a real per-batch regression) — the exact
    * ambiguity round-14's stream-join arbiter entries could not resolve
    * from the single work-ms scalar.
    */
  val streamTriggers = new java.util.concurrent.atomic.AtomicLong(0L)

  private def recordWork(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val ms = q.recentProgress.toSeq
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue()))
        .sum
      streamWorkMs.addAndGet(ms)
      // batchId is 0-based and monotone within a run; recentProgress is
      // ring-buffered (default cap 100), so the batch count comes from
      // the LAST progress, not the buffer length
      q.recentProgress.lastOption.foreach(p => streamTriggers.addAndGet(p.batchId + 1))
      ()
    } catch { case _: Throwable => () }

  /** Schema of the events table (explicit: readStream requires one).
    * The LongType `ts` is the nanos-generation layout (TIMESTAMP(NANOS)
    * arrives as nanos-since-epoch BIGINT under `nanosAsLong`);
    * [[readEventStream]] swaps it for TimestampType when the directory's
    * footers show micros-generation data.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of event parquet files, timestamp
    * normalized to microseconds exactly as the batch path does.
    *
    * The harness parquet has carried both TIMESTAMP(NANOS) (arrives as
    * nanos-since-epoch BIGINT under `nanosAsLong`) and TIMESTAMP(MICROS)
    * (arrives as native TimestampType) across testdata generations, so
    * the unit is DETECTED from a batch footer read — mirroring
    * model.eventsTable — instead of hardcoding either schema. A
    * unit-blind `div 1000` on micros data shrinks every timestamp 1000×
    * and silently collapses all windows onto 1970.
    *
    * An empty or not-yet-populated directory (a valid file-stream
    * source: files may only arrive after the query starts) has no footer
    * to detect from — fall back to the nanos layout rather than
    * propagating the batch reader's cannot-infer-schema failure.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    if (detectTsIsLong(spark, dir))
      spark.readStream
        .schema(eventsSchema)
        .parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.readStream
        .schema(StructType(eventsSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
        .parquet(dir)

  private def detectTsIsLong(spark: SparkSession, dir: String): Boolean =
    try spark.read.parquet(dir).schema("ts").dataType == LongType
    catch { case _: org.apache.spark.sql.AnalysisException => true }

  /** Watermarked tumbling-window aggregation over a streaming events
    * frame. 20-minute watermark: late state is dropped two windows back,
    * which bounds state size — the property that matters when this runs
    * against an unbounded 100 TB/day firehose.
    */
  def tumblingStream(events: DataFrame): DataFrame =
    EventOps.tumbling(events.withWatermark("ts", "20 minutes"))

  /** One event routed into the stateful sessionizer. */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Mutable per-user session accumulator held in GroupState. Times are
    * MICROSECONDS since epoch: gap decisions must see the full timestamp
    * precision or a sub-millisecond straddle of the gap boundary would
    * sessionize differently from the batch operator.
    */
  final case class SessionAgg(startUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  /** A closed session, emitted when the gap passes or state times out. */
  final case class ClosedSession(
      user_id: Long,
      session_start_ms: Long,
      n_events: Long,
      sum_value: Double)

  /** Streaming gap-based sessionization via flatMapGroupsWithState —
    * custom per-key state with event-time timeout. A session closes
    * (and is emitted downstream, Append mode) when a later event
    * arrives past the gap, or when the watermark passes the session's
    * last event + gap (the timeout path). State per user is one small
    * struct: bounded regardless of stream length — the property that
    * matters on an unbounded firehose.
    *
    * Batch equivalent: [[graft.operators.EventOps.sessionize]] (same gap
    * rule); parity for closed sessions asserted in StreamOpsSpec.
    */
  def sessionizeStream(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L

    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

    def close(user: Long, s: SessionAgg): ClosedSession =
      ClosedSession(user, s.startUs / 1000L, s.nEvents, s.sumValue)

    def update(
        user: Long,
        rows: Iterator[SessionEvent],
        state: GroupState[SessionAgg]): Iterator[ClosedSession] =
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(user, _)).iterator
        state.remove()
        out
      } else {
        var closed = List.empty[ClosedSession]
        var cur = state.getOption
        rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
          val t = micros(e.ts)
          cur match {
            case Some(s) if t - s.lastUs > gapUs =>
              closed ::= close(user, s)
              cur = Some(SessionAgg(t, t, 1L, e.value))
            case Some(s) =>
              cur = Some(SessionAgg(s.startUs, math.max(s.lastUs, t), s.nEvents + 1, s.sumValue + e.value))
            case None =>
              cur = Some(SessionAgg(t, t, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastUs / 1000L + gapUs / 1000L)
        }
        closed.reverse.iterator
      }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Driver-facing streaming run over the harness events parquet: stages
    * the file into a fresh directory (file stream sources require one),
    * pushes the tumbling aggregation through the actual streaming engine
    * (watermark, incremental state store, memory sink) to completion, and
    * returns the final result — which must equal the batch
    * `EventOps.tumbling` output row-for-row (asserted by the shared
    * DuckDB oracle). Memory-sink names are uniquified per call so
    * repeated invocations in one session (verify + bench) can't collide.
    */
  def tumblingOverParquet(spark: SparkSession, sfDir: String): DataFrame =
    overParquet(spark, sfDir, "tumbling", tumblingStream)

  /** [[tumblingOverParquet]]'s sliding-window sibling: 10-minute windows
    * every 5 minutes, watermarked, through the streaming engine.
    */
  def slidingOverParquet(spark: SparkSession, sfDir: String): DataFrame =
    overParquet(
      spark,
      sfDir,
      "sliding",
      ev => EventOps.sliding(ev.withWatermark("ts", "20 minutes")))

  /** Streaming per-window HEAVY-HITTERS report: the streaming engine
    * maintains the watermarked tumbling counts incrementally (exactly
    * the state a serving store is upserted with, bounded by the
    * watermark); the top-k rank runs as the SERVING READOUT over the
    * completed windows — the dashboard query an ops page issues
    * against the sink, not a second pass over the stream. Rank ties
    * break on event_type, so the report is deterministic at any k.
    *
    * Scale shape: streaming state is |open windows|·|types| rows; the
    * readout ranks |windows|·|types| aggregate rows, never events.
    * Oracle: the batch tumbling counts + the same rank filter.
    */
  def topkOverParquet(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val counts = overParquet(spark, sfDir, "topk", ev => tumblingStream(ev))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("ws"), col("event_type"), col("n"), col("rk"))
  }

  /** Streaming exact deduplication: dropDuplicates state keyed on the
    * full event identity, chained into a per-type distinct count — the
    * dedup-before-ingest operator run incrementally. On an unbounded
    * stream the dedup state would be bounded with
    * `dropDuplicatesWithinWatermark`; the bounded harness run keeps full
    * state so the result equals the batch distinct count exactly.
    */
  def dedupOverParquet(spark: SparkSession, sfDir: String): DataFrame =
    overParquet(
      spark,
      sfDir,
      "dedup",
      ev =>
        ev.dropDuplicates("event_type", "user_id", "ts", "value")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct")))

  /** BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark`
    * keeps a key's state only until the watermark passes its event time
    * plus the delay, so state size tracks the watermark window — the
    * form that runs on an unbounded firehose, where [[dedupOverParquet]]'s
    * full dropDuplicates state would grow without limit. On the bounded
    * harness file every row arrives in one microbatch (state is never
    * evicted mid-duplicate), so the result equals the exact batch
    * distinct count — same oracle as the unbounded-state form.
    */
  def dedupWithinWatermarkOverParquet(spark: SparkSession, sfDir: String): DataFrame =
    overParquet(
      spark,
      sfDir,
      "dedupww",
      ev =>
        ev.withWatermark("ts", "30 minutes")
          .dropDuplicatesWithinWatermark("event_type", "user_id", "ts", "value")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct")))

  /** Driver-facing run of the STATEFUL sessionizer over the harness
    * events parquet, checked against the batch sessionize oracle.
    *
    * A flatMapGroupsWithState session only closes when a LATER event (or
    * the watermark) passes the gap — on a bounded file the last session
    * per user would stay open and never be emitted. Instead of leaning on
    * timeout mechanics, the staged input carries one far-future SENTINEL
    * event per user: it closes every real trailing session in-stream, and
    * the session it opens itself is never emitted. Emitted sessions are
    * then exactly the batch operator's sessions; ids are re-derived as
    * the per-user rank of session start, matching the batch cumsum rule.
    */
  def sessionizeOverParquet(spark: SparkSession, sfDir: String, gapMinutes: Int): DataFrame = {
    import spark.implicits._
    // normalize to TimestampType first (unit varies across testdata
    // generations — see model.eventsTable), then stage as nanos BIGINT:
    // the staged file deliberately reproduces the LongType layout so the
    // readEventStream nanos branch stays driver-exercised end-to-end
    val raw = graft.model
      .eventsTable(spark, sfDir)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
    val horizonNs = (gapMinutes + 60) * 60000000000L
    // ONE shared sentinel timestamp (global max + horizon) for every
    // user: a per-user sentinel time would let the global watermark pass
    // early-finishing users' sentinel sessions and emit them through the
    // timeout path — phantom sessions the batch operator never produces.
    val sentinels = raw
      .select(col("user_id"))
      .distinct()
      .crossJoin(raw.agg(max(col("ts")).as("mxg")))
      .select(
        lit(-1L).as("event_id"),
        (col("mxg") + horizonNs).as("ts"),
        col("user_id"),
        lit("__sentinel").as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-sess"))
    val dataDir = staged.resolve("data").toString
    raw.select(sentinels.columns.map(col): _*).unionAll(sentinels)
      .write.mode("overwrite").parquet(dataDir)

    val name = graft.sources.Staging.freshTable("graft_stream_sessionize")
    withStreamPartitions(spark) {
      val ckpt = freshCheckpointDir()
      try {
        val q = sessionizeStream(
          spark,
          readEventStream(spark, dataDir)
            .select(col("user_id"), col("ts"), col("value"))
            .as[SessionEvent],
          gapMinutes)
          .writeStream
          .outputMode("append")
          .format("memory")
          .option("checkpointLocation", ckpt.toString)
          .queryName(name)
          .start()
        try { q.processAllAvailable(); recordWork(q) }
        finally stopQuietly(q)
      } finally deleteRecursively(ckpt)
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("session_start_ms"))
    spark.table(name).select(
      col("user_id"),
      row_number().over(w).cast("long").as("session_id"),
      col("n_events"),
      date_format(timestamp_millis(col("session_start_ms")), "yyyy-MM-dd HH:mm:ss")
        .as("session_start"),
      round(col("sum_value"), 2).as("sum_value"))
  }

  /** STREAM-STATIC enrichment join: the event stream joined to a static
    * dimension table (user → market segment) inside the streaming query,
    * then window-aggregated per segment. The static side is broadcast —
    * each micro-batch probes the dimension hash map with NO stream-side
    * state at all, the shape that enriches a 100 TB/day firehose against
    * a replicated dimension. Batch oracle: the same join + tumbling agg
    * over the static tables.
    */
  def enrichedTumblingOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = broadcast(
      spark.read
        .parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").cast("long").as("user_id"), col("c_mktsegment")))
    overParquet(
      spark,
      sfDir,
      "enrich",
      ev =>
        ev.withWatermark("ts", "20 minutes")
          .join(dim, Seq("user_id"))
          .groupBy(window(col("ts"), "10 minutes").as("w"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("c_mktsegment"),
            col("n"),
            col("sum_value")))
  }

  /** STREAM-STREAM interval join through the engine: purchases joined to
    * the same user's clicks within the preceding 30 minutes, both sides
    * watermarked — the state-store join whose per-side buffer is bounded
    * by watermark + interval (the property that matters on an unbounded
    * firehose; an unwatermarked stream-stream join buffers forever).
    * Inner stream-stream joins emit each pair as soon as both rows have
    * arrived, so the bounded run emits exactly the batch join's pairs —
    * the batch oracle is the same interval join over the static table.
    * A self-join of one source stream: the engine plans two independent
    * stateful sides over the same file scan.
    */
  def intervalJoinOverParquet(spark: SparkSession, sfDir: String): DataFrame =
    overParquet(
      spark,
      sfDir,
      "ssjoin",
      ev => {
        val p = ev
          .filter(col("event_type") === "purchase")
          .select(
            col("event_id").as("p_id"),
            col("user_id"),
            col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "20 minutes")
        val c = ev
          .filter(col("event_type") === "click")
          .select(
            col("event_id").as("c_id"),
            col("user_id").as("c_user"),
            col("ts").as("c_ts"),
            col("value").as("c_value"))
          .withWatermark("c_ts", "20 minutes")
        p.join(
            c,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
              col("c_ts") <= col("p_ts"))
          .select(
            col("p_id"),
            col("c_id"),
            col("user_id"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
            date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
            col("p_value"),
            col("c_value"))
      },
      mode = "append")

  /** LEFT-OUTER stream-stream interval join: purchases keep a row even
    * when no click preceded them within the window — the attribution
    * join a pipeline actually ships (the unmatched side is the signal:
    * un-attributed conversions). The OUTER semantics are the hard part
    * in a streaming engine: a null-match can only be emitted when the
    * WATERMARK proves no matching right row can still arrive, i.e. the
    * left row's state expires — so on a bounded file the watermark must
    * be driven PAST the data. The staged input is the data file plus ONE
    * far-future sentinel file (user −1, one purchase + one click so BOTH
    * sides' watermarks advance), all consumed in a single micro-batch:
    * batch 0 emits every inner-style match and leaves the watermark past
    * every real row; the engine's no-data micro-batch (eviction happens
    * against the watermark set at batch START, so one more batch follows
    * the raise — `noDataMicroBatches`, on by default, fires it and
    * `processAllAvailable` waits for it) runs the state-expiry scan that
    * flushes the null-matches. Two triggers total, where the previous
    * one-file-per-trigger staging paid four (each trigger of a
    * stream-stream join commits 4 state stores × partitions). Sentinel
    * rows themselves never reach the output: their only match is each
    * other (filtered by user), and their own expiry would need a
    * watermark advance that never comes.
    *
    * Batch oracle: the same interval condition as a static LEFT JOIN —
    * the engine must emit every real purchase EXACTLY once, matched
    * rows inner-style on arrival, unmatched with NULL click columns on
    * expiry.
    */
  def intervalJoinOuterOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-ssjoin-outer"))
    val dataDir = staged.resolve("data")
    java.nio.file.Files.createDirectories(dataDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dataDir.resolve("part-0-data.parquet"))
    // sentinels in the SAME on-disk schema as the data file: built by
    // transforming two real rows, so ts keeps its generation's type
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val tsIsLong = batch.schema("ts").dataType == LongType
    def sentinel(idx: Int, days: Int): Unit = {
      val shift: org.apache.spark.sql.Column =
        if (tsIsLong) max(col("ts")) + lit(days * 86400L * 1000000000L)
        else max(col("ts")) + expr(s"INTERVAL $days DAYS")
      val rows = batch
        .agg(shift.as("mx"))
        .select(explode(array(lit("purchase"), lit("click"))).as("event_type"), col("mx"))
        .select(
          lit(-1L).as("event_id"),
          col("mx").as("ts"),
          lit(-1L).as("user_id"),
          col("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"))
      val tmp = staged.resolve(s"senttmp$idx")
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, dataDir.resolve(s"part-$idx-sentinel.parquet"))
          moved = true
        }
      }
    }
    sentinel(1, 10)
    val name = graft.sources.Staging.freshTable("graft_stream_ssjoin_outer")
    withStreamPartitions(spark) {
      val ckpt = freshCheckpointDir()
      try {
        val ev = readEventStream(spark, dataDir.toString)
        val p = ev
          .filter(col("event_type") === "purchase")
          .select(
            col("event_id").as("p_id"),
            col("user_id"),
            col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "20 minutes")
        val c = ev
          .filter(col("event_type") === "click")
          .select(
            col("event_id").as("c_id"),
            col("user_id").as("c_user"),
            col("ts").as("c_ts"),
            col("value").as("c_value"))
          .withWatermark("c_ts", "20 minutes")
        val joined = p
          .join(
            c,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
              col("c_ts") <= col("p_ts"),
            "left_outer")
          .select(
            col("p_id"),
            col("c_id"),
            col("user_id"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
            date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
            col("p_value"),
            col("c_value"))
        val q = joined.writeStream
          .outputMode("append")
          .format("memory")
          .option("checkpointLocation", ckpt.toString)
          .queryName(name)
          .start()
        try { q.processAllAvailable(); recordWork(q) }
        finally stopQuietly(q)
      } finally deleteRecursively(ckpt)
    }
    spark.table(name).filter(col("user_id") =!= -1L)
  }

  /** Schema of the documents table (readStream requires one). */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a directory of documents parquet files. */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsSchema).parquet(dir)

  /** STREAM-STATIC ANTI-join dedup-on-arrival: incoming documents
    * (doc_id >= `firstNewId`) streamed against the STATIC fingerprint
    * store of the existing corpus, keeping only content the store has
    * never seen, rolled up per source. The streaming face of
    * [[graft.operators.Dedup.incremental]]'s exact check — and the one
    * stream-static join KIND the enrichment query doesn't cover: LEFT
    * ANTI, which Structured Streaming supports stream-side-stateless
    * (each micro-batch probes the broadcast store hash map and drops
    * matches; nothing is buffered). On a real firehose the store is a
    * nightly-refreshed fingerprint table; the per-batch work is one
    * broadcast probe per row, the same shape at any corpus size.
    */
  def docDedupOverParquet(spark: SparkSession, sfDir: String, firstNewId: Long): DataFrame = {
    import graft.functions.Parity
    // store MATERIALIZED batch-side (AQE on) before the stream starts:
    // a lazy store re-plans and re-executes its build inside every
    // micro-batch, where AQE is off (guide §6 — don't redo work the
    // pipeline already materialized)
    val store = broadcast(graft.operators.Phys.materialized(
      spark.read
        .parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < firstNewId)
        .select(Parity.fp40(col("text")).as("fp"))
        .distinct()))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      readDocStream(spark, staged.toString)
        .filter(col("doc_id") >= firstNewId)
        .select(col("doc_id"), col("source"), Parity.fp40(col("text")).as("fp"))
        .join(store, Seq("fp"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("first_id")),
      graft.sources.Staging.freshTable("graft_stream_docdedup"),
      "complete")
  }

  /** STREAMING CDC-CHUNK DEDUP GATE: arriving documents are
    * content-defined-chunked ([[graft.operators.Dedup.cdcChunkStructs]]
    * — the ARRAY-SIDE form, since a streaming plan has no windows) and
    * their chunks anti-joined against the STATIC chunk-hash store of
    * the existing corpus, rolling up per source how many chunks — and
    * how many tokens — are genuinely NEW. This is the ingest-time
    * "bytes of new content" meter: the batch `dedup_cdc_chunks` asks it
    * of a finished corpus, this gate answers it per arriving micro-batch
    * with one stateless array map + one broadcast anti probe per row.
    */
  def docCdcGateOverParquet(spark: SparkSession, sfDir: String, firstNewId: Long): DataFrame = {
    // materialized batch-side — see docDedupOverParquet's store note
    val store = broadcast(graft.operators.Phys.materialized(
      graft.operators.Dedup
        .cdcChunkTable(
          spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < firstNewId))
        .select(col("chash"))
        .distinct()))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-cdc"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      readDocStream(spark, staged.toString)
        .filter(col("doc_id") >= firstNewId)
        // the hash array MUST be its own projection: the chunk
        // expression references it ~3× per position, and interpreted
        // HOFs re-evaluate non-attribute children per reference
        .select(
          col("doc_id"),
          col("source"),
          transform(graft.functions.Parity.tokens(col("text")), t =>
            graft.functions.Parity.tokenH40(t)).as("hs"))
        .select(
          col("doc_id"),
          col("source"),
          explode(graft.operators.Dedup.cdcChunkStructsFromHashes(col("hs"))).as("c"))
        .select(col("doc_id"), col("source"), col("c.chash"), col("c.n_toks"))
        .join(store, Seq("chash"), "left_anti")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_new_chunks"),
          sum(col("n_toks")).as("new_tokens"),
          min(col("doc_id")).as("first_id")),
      graft.sources.Staging.freshTable("graft_stream_cdc"),
      "complete")
  }

  /** STREAMING QUALITY GATE: the stored fastText-style classifier
    * ([[graft.operators.Training.writeFasttextModel]], trained on the
    * STATIC corpus slice) applied to arriving documents. The per-doc
    * score folds to ONE stateless array pass — hash each token to its
    * bucket and look up the bucket's stored weight
    * (`w0 − Σ wj·mj + Σ_tokens w[bucket(t)]`, algebraically identical
    * to the batch serving score) — so the streaming plan is a pure
    * projection feeding a single per-source aggregate: no per-doc
    * explode/groupBy (Structured Streaming allows only one aggregation),
    * no state beyond the rollup, model folded in as literals. This is
    * the production shape of a quality filter on an ingest firehose:
    * train nightly, gate arrivals statelessly.
    */
  def docQualityGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.functions.Parity
    import graft.operators.Training
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val modelDir = Training.writeFasttextModel(spark, docs.filter(col("doc_id") < firstNewId))
    val m = spark.read.parquet(modelDir).head()
    val w = m.getSeq[Long](0)
    val ms = m.getSeq[Long](1)
    val bias = w(0) - (1 to Training.FtDim).map(j => w(j) * ms(j - 1)).sum
    val wArr = array((1 to Training.FtDim).map(j => lit(w(j))): _*)
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-gate"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      readDocStream(spark, staged.toString)
        .filter(col("doc_id") >= firstNewId)
        .select(
          col("doc_id"),
          col("source"),
          (lit(bias) + aggregate(
            transform(
              Parity.tokens(col("text")),
              t => pmod(Parity.tokenH40(t), lit(Training.FtDim))),
            lit(0L),
            (acc, h) => acc + element_at(wArr, (h + 1).cast("int")))).as("score_micro"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("score_micro") > 0, 1L).otherwise(0L)).as("n_accepted"),
          min(col("doc_id")).as("first_id")),
      graft.sources.Staging.freshTable("graft_stream_docgate"),
      "complete")
  }

  /** STREAMING QUALITY GATE, EXACTLY-ONCE FILE-SINK TERMINATION: the
    * same stored-classifier scoring as [[docQualityGateOverParquet]],
    * but the per-doc scores land in a DURABLE parquet table via
    * `foreachBatch` instead of the harness memory sink — the
    * production termination of an ingest gate. Exactly-once without
    * sink transactions: each micro-batch writes its own
    * `batch_id=<id>` partition under DYNAMIC partition overwrite, so a
    * batch REPLAYED after a crash (Structured Streaming re-delivers
    * the checkpointed offset range, with identical file-source
    * content) rewrites exactly its own partition instead of
    * duplicating rows — deterministic batch content + idempotent write
    * = exactly-once table state ([[upsertDocGateBatch]];
    * re-run-idempotence pinned in StreamingStaticSpec). The gate
    * readout rolls the durable table up per source, so the batch
    * rollup oracle of the memory-sink gate adjudicates the whole
    * stream→file→table path.
    *
    * Scale shape: stateless scoring projection (no state store), one
    * parquet partition write per micro-batch, one rollup scan of the
    * sink at read time. On a real firehose the sink table is the
    * curated-corpus landing zone; its `batch_id` partitioning also
    * gives consumers an incremental-load key.
    */
  def docQualityGateSinkOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.functions.Parity
    import graft.operators.Training
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val modelDir = Training.writeFasttextModel(spark, docs.filter(col("doc_id") < firstNewId))
    val m = spark.read.parquet(modelDir).head()
    val w = m.getSeq[Long](0)
    val ms = m.getSeq[Long](1)
    val bias = w(0) - (1 to Training.FtDim).map(j => w(j) * ms(j - 1)).sum
    val wArr = array((1 to Training.FtDim).map(j => lit(w(j))): _*)
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-gate-sink"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    val scored = readDocStream(spark, staged.toString)
      .filter(col("doc_id") >= firstNewId)
      .select(
        col("doc_id"),
        col("source"),
        (lit(bias) + aggregate(
          transform(
            Parity.tokens(col("text")),
            t => pmod(Parity.tokenH40(t), lit(Training.FtDim))),
          lit(0L),
          (acc, h) => acc + element_at(wArr, (h + 1).cast("int")))).as("score_micro"))
    val sink = graft.sources.Staging.freshDir("stream-docgate-table")
    withStreamPartitions(spark) {
      val ckpt = freshCheckpointDir()
      try {
        val q = scored.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch((b: DataFrame, id: Long) => upsertDocGateBatch(b, id, sink))
          .start()
        try { q.processAllAvailable(); recordWork(q) }
        finally stopQuietly(q)
      } finally deleteRecursively(ckpt)
    }
    // explicit schema: a zero-new-doc run leaves no data files, and the
    // empty gate table must still have the gate's shape
    val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score_micro", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))
    spark.read.schema(sinkSchema).parquet(sink)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score_micro") > 0, 1L).otherwise(0L)).as("n_accepted"),
        min(col("doc_id")).as("first_id"))
  }

  /** The idempotent `foreachBatch` termination for
    * [[docQualityGateSinkOverParquet]]: the batch rides into its own
    * `batch_id` partition, and `overwrite` + dynamic partition
    * overwrite means re-running the SAME batch (a post-crash replay)
    * deletes-and-rewrites only that partition — other batches' rows
    * are untouched, and the table never holds two copies.
    */
  private[graft] def upsertDocGateBatch(batch: DataFrame, batchId: Long, sinkDir: String): Unit =
    batch
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sinkDir)

  /** STREAMING GOPHER GATE: the heuristic rule battery
    * ([[graft.operators.TextOps.gopherRules]]) applied to arriving
    * documents — all seven rules are stateless integer per-row
    * predicates, so the streaming plan is a pure projection feeding
    * one per-source rollup (arrivals, rule-pass count, full-pass
    * count). The first gate of the ingest stack: no model, no state,
    * drops the obvious garbage before anything learned runs.
    */
  def docGopherGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-gopher"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      graft.operators.TextOps
        .gopherRules(readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .join(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .filter(col("doc_id") >= firstNewId)
            .select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("wc_ok"), 1L).otherwise(0L)).as("n_wc_ok"),
          min(col("doc_id")).as("first_id")),
      graft.sources.Staging.freshTable("graft_stream_gophergate"),
      "complete")
  }

  /** STREAMING DSIR GATE: the stored DSIR bucket-llr model
    * ([[graft.operators.TextOps.writeDsirModel]], trained on the STATIC
    * corpus slice) scores arriving documents as ONE stateless in-order
    * array fold over the literal-folded llr table — algebraically the
    * batch serving score of `dsirApplyStored` — and the stream keeps a
    * single per-source rollup (arrivals, importance-selected count,
    * first id). Train-nightly / gate-arrivals: the importance-sampling
    * selection applied at ingest, next to the quality / decontamination
    * / near-dup gates.
    */
  def docDsirGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.functions.Parity
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val modelDir = TextOps.writeDsirModel(spark, docs.filter(col("doc_id") < firstNewId))
    val m = spark.read.parquet(modelDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val llrArr = array((0 until TextOps.DsirDim).map(b => lit(m(b.toLong))): _*)
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-dsir"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      readDocStream(spark, staged.toString)
        .filter(col("doc_id") >= firstNewId)
        .select(
          col("doc_id"),
          col("source"),
          round(
            aggregate(
              transform(Parity.tokens(col("text")), t =>
                element_at(
                  llrArr,
                  (pmod(Parity.tokenH40(t), lit(TextOps.DsirDim.toLong)) + 1L).cast("int"))),
              lit(0.0d),
              (acc, v) => acc + v),
            6).as("llr"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("llr") > 0.0d, 1L).otherwise(0L)).as("n_selected"),
          min(col("doc_id")).as("first_id")),
      graft.sources.Staging.freshTable("graft_stream_dsirgate"),
      "complete")
  }

  /** STREAMING DECONTAMINATION GATE: the benchmark-shingle store (built
    * from the STATIC corpus slice — distinct word-3-gram shingles of
    * benchmark docs, minus boilerplate grams whose static DF among
    * non-benchmark docs exceeds [[graft.operators.TextOps.DecontamMaxDf]])
    * joined against arriving documents' shingles as a STATELESS
    * stream-static left-semi join, then one per-doc aggregation. Output =
    * the contaminated arrivals with their benchmark-overlap counts — the
    * rows a training pipeline drops before they reach the trainer
    * (build-nightly / gate-arrivals, like [[docQualityGateOverParquet]]).
    *
    * Exact, not sketch-based: the static side IS the exact shingle set,
    * so there are no false positives to remove — a BLOOM PREFILTER of
    * the store fronts the semi join (the [[graft.operators.BloomJoin]]
    * pattern): the sketch is built once from the materialized store
    * (O(bits), a literal in the streaming plan — no broadcast exchange,
    * no state) and trims each arrival's exploded shingles BEFORE
    * anything else touches them; the exact join after it removes the
    * sketch's false positives, so the published rows are unchanged and
    * the oracle needs no Bloom mirror. At 100 TB the store outgrows the
    * broadcast join but the sketch stays a few MB — the prefilter is
    * what keeps the per-arrival work sublinear in the store.
    */
  def docDecontamGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.{Phys, TextOps}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val staticSh = decontamShingles(docs.filter(col("doc_id") < firstNewId))
    val bench = staticSh
      .filter(pmod(col("doc_id"), lit(TextOps.BenchmarkMod)) === 0)
      .select(col("g"))
      .distinct()
    val hot = staticSh
      .filter(pmod(col("doc_id"), lit(TextOps.BenchmarkMod)) =!= 0)
      .join(bench, Seq("g"), "left_semi")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > TextOps.DecontamMaxDf)
      .select(col("g"))
    // materialized ONCE: the store feeds both the Bloom build pass and
    // the per-batch exact join
    val store = Phys.materialized(bench.join(hot, Seq("g"), "left_anti"))
    val bloom =
      graft.operators.BloomJoin.bloomBytes(store, col("g"), DecontamBloomExpectedItems)
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-decon"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      decontamArrivalPlan(
        readDocStream(spark, staged.toString),
        store,
        bloom,
        firstNewId),
      graft.sources.Staging.freshTable("graft_stream_docdecon"),
      "complete")
  }

  /** Expected distinct benchmark shingles for the decontamination
    * Bloom's sizing (~1.2 MB of bits at fpp 0.03 — Bloom size is a
    * function of the BENCHMARK suite, which does not grow with the
    * corpus).
    */
  val DecontamBloomExpectedItems = 1000000L

  /** Word-3-gram distinct shingles per document, the decontamination
    * gate's shared explode. */
  def decontamShingles(d: DataFrame): DataFrame = d.select(
    col("doc_id"),
    col("source"),
    explode(graft.functions.ShingleStrings(graft.functions.Parity.splitWords(col("text")), distinct = true))
      .as("g"))

  /** The ARRIVAL side of the decontamination gate, input-agnostic
    * (streaming or batch — which is how the spec pins the plan shape
    * the micro-batches execute): explode shingles, BLOOM-prefilter
    * against the store sketch (a codegen'd literal predicate — before
    * any join or exchange), exact semi join against the store, per-doc
    * overlap count.
    */
  def decontamArrivalPlan(
      arrivals: DataFrame,
      store: DataFrame,
      bloom: Array[Byte],
      firstNewId: Long): DataFrame = {
    import graft.operators.TextOps
    decontamShingles(
      arrivals.filter(
        col("doc_id") >= firstNewId &&
          pmod(col("doc_id"), lit(TextOps.BenchmarkMod)) =!= 0))
      .filter(graft.operators.BloomJoin.mightContain(bloom, col("g")))
      .join(broadcast(store), Seq("g"), "left_semi")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** STREAMING SIMHASH INDEX UPSERT — [[minhashUpsertOverParquet]]'s
    * Hamming-family counterpart: the chunk index is built once over
    * the static slice ([[graft.operators.Dedup.writeSimhashIndex]]);
    * each arrival computes its 40-bit fingerprint + chunk rows
    * statelessly and emits its `(doc_id, chunk_idx, chunk_val)`
    * extension rows with the store's bucket occupancy from one
    * broadcast probe. Same batch-parity contract: static index ∪
    * extension = re-indexing from scratch.
    */
  def simhashUpsertOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idxDir = Dedup.writeSimhashIndex(spark, docs.filter(col("doc_id") < firstNewId))
    // occupancy aggregate materialized batch-side (see the static
    // gates' store note)
    val storeBuckets = graft.operators.Phys.materialized(
      spark.read
        .parquet(idxDir)
        .groupBy(col("chunk_idx"), col("chunk_val"))
        .agg(count(lit(1)).as("n_store_hits")))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-shup"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      Dedup
        .simhashChunkRows(
          readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .join(broadcast(storeBuckets), Seq("chunk_idx", "chunk_val"), "left_outer")
        .select(
          col("doc_id"),
          col("chunk_idx").cast("int").as("chunk_idx"),
          col("chunk_val"),
          coalesce(col("n_store_hits"), lit(0L)).as("n_store_hits")),
      graft.sources.Staging.freshTable("graft_stream_shupsert"),
      "append")
  }

  /** STREAMING pHASH INDEX UPSERT — the media-column member of the
    * index-upsert family ([[minhashUpsertOverParquet]] is the
    * MinHash-text twin, [[simhashUpsertOverParquet]] the Hamming-text
    * one): arriving payloads EXTEND the stored banded pHash index
    * ([[graft.operators.Multimodal.writePhashIndex]], built once over
    * the static slice with its hot-bucket cap applied). Each arrival
    * computes its average-hash signature STATELESSLY (integer-exact
    * narrow map — no shuffle, no stream state), explodes to
    * `(band_idx, band_val)` rows, and is annotated with
    * `n_store_hits` — the CAPPED store's occupancy of that bucket via
    * one broadcast probe (hot buckets were retired at index-build
    * time, so they read as 0 — fresh growth, which the next
    * compaction pass re-caps). Arrivals shorter than
    * [[graft.operators.Multimodal.PhashPixels]] bytes have no
    * signature and emit nothing, same as the batch index.
    *
    * Scale shape: per arrival one narrow map + one broadcast join;
    * the indexed corpus is never re-hashed or shuffled stream-side.
    * Stateless append stream — no watermark because nothing is held.
    */
  def phashUpsertOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idxDir = Multimodal.writePhashIndex(docs.filter(col("doc_id") < firstNewId))
    // occupancy aggregate materialized batch-side (see the static
    // gates' store note)
    val storeBuckets = graft.operators.Phys.materialized(
      spark.read
        .parquet(idxDir)
        .groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("n_store_hits")))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-phup"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    val bandCols = (0 until Multimodal.PhashBands).map(j => col(s"b$j"))
    runStream(
      spark,
      Multimodal
        .phashBands(readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .select(
          col("doc_id") +: bandCols :+
            posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")): _*)
        .join(broadcast(storeBuckets), Seq("band_idx", "band_val"), "left_outer")
        .select(
          col("doc_id"),
          col("band_idx").cast("int").as("band_idx"),
          col("band_val"),
          coalesce(col("n_store_hits"), lit(0L)).as("n_store_hits")),
      graft.sources.Staging.freshTable("graft_stream_phupsert"),
      "append")
  }

  /** STREAMING PERCEPTUAL-HASH GATE: arriving media payloads near-dup-
    * checked against the static corpus's banded pHash store — the
    * multimodal counterpart of [[docDedupOverParquet]]'s exact-hash
    * gate. The store (static signatures exploded to 16-bit bands, hot
    * buckets capped as boilerplate) is broadcast; arrivals compute their
    * signature STATELESSLY (narrow column expressions), join the store
    * on the band key (stream-static inner — bucket-keyed, never
    * all-pairs), verify exact Hamming ≤
    * [[graft.operators.Multimodal.PhashMaxHamming]], and the single
    * aggregation takes each flagged arrival's lexicographically best
    * (hamming, static id). Output: (doc_id, best_hamming, best_match).
    */
  def docPhashGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bandCols = (0 until Multimodal.PhashBands).map(j => col(s"b$j"))
    def explodeBands(sigs: DataFrame): DataFrame = sigs.select(
      col("doc_id") +: bandCols :+
        posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")): _*)
    // materialized batch-side: the store build (signatures + hot-bucket
    // cap anti join) otherwise runs INSIDE the trigger, where AQE is off
    // — its anti join plans as a sort-merge and the signature subtree
    // evaluates on both sides, per trigger
    val store = broadcast(graft.operators.Phys.materialized(
      Multimodal.phashBandStore(docs.filter(col("doc_id") < firstNewId))))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-phash"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    val hamming = (0 until Multimodal.PhashBands)
      .map(j => bit_count(col(s"b$j").bitwiseXOR(col(s"sb$j"))).cast("long"))
      .reduce(_ + _)
    runStream(
      spark,
      explodeBands(
        Multimodal.phashBands(
          readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
          // tiny exchange = a forced-evaluation barrier: whole-stage
          // codegen otherwise DEFERS the band aggregates across the
          // store join and re-evaluates them per MATCHED row (measured
          // 85k× instead of once per arrival — 4.5 s vs 0.8 s; guide
          // §4.4's duplicated-expression trap). A streaming plan can't
          // checkpoint, so the shuffle writes the signatures concrete.
          .repartition(StreamShufflePartitions, col("doc_id")))
        .join(store, Seq("band_idx", "band_val"))
        .select(col("doc_id"), col("s_id"), hamming.as("hamming"))
        .filter(col("hamming") <= Multimodal.PhashMaxHamming)
        .groupBy(col("doc_id"))
        .agg(min(struct(col("hamming").as("h"), col("s_id").as("sid"))).as("sel"))
        .select(
          col("doc_id"),
          col("sel.h").as("best_hamming"),
          col("sel.sid").as("best_match")),
      graft.sources.Staging.freshTable("graft_stream_docphash"),
      "complete")
  }

  /** STREAMING FRAME-OVERLAP GATE: arriving media payloads probed
    * against the static corpus's sampled-frame hash store
    * ([[graft.operators.Multimodal.frameStore]] — df-capped exactly as
    * the batch detector). An arrival is flagged against every static
    * document it shares ≥ `minShared` frame-slot hashes with — the
    * ingest-time face of `multimodal_frame_dedup` (k-of-n frame
    * voting), catching re-uploads/trims the moment they arrive.
    *
    * Stream shape: frame sampling is a stateless narrow map per
    * arrival; the store join is stream-static on the hash key; the
    * ONE streaming aggregation counts matches per (arrival, static)
    * pair — the ≥ minShared keep-filter runs on the sink read, keeping
    * the streaming plan single-aggregation (Spark's structured-
    * streaming constraint). Output: (doc_id, s_id, n_shared).
    */
  def docFrameGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long,
      minShared: Int = 2): DataFrame = {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // materialized batch-side — see docPhashGateOverParquet's store note
    val store = broadcast(graft.operators.Phys.materialized(
      Multimodal.frameStore(docs.filter(col("doc_id") < firstNewId))))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-frame"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      Multimodal
        .frameSample(readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .select(col("doc_id"), col("frame_hash"))
        .join(store, Seq("frame_hash"))
        .groupBy(col("doc_id"), col("s_id"))
        .agg(count(lit(1)).as("n_shared")),
      graft.sources.Staging.freshTable("graft_stream_docframe"),
      "complete")
      .filter(col("n_shared") >= minShared)
  }

  /** STREAMING AUDIO-LANDMARK GATE: arriving clips' constellation
    * hashes ([[graft.operators.Multimodal.audioFingerprints]] — a
    * stateless array-local map, no window, so the identical expression
    * runs on the stream) probe the static corpus's fingerprint store,
    * and a match needs ≥ [[graft.operators.Multimodal.FpMinVotes]]
    * landmarks agreeing at ONE alignment offset — re-uploads and
    * clipped/embedded excerpts are caught the moment they arrive, at
    * their true offset.
    *
    * Stream shape: fingerprinting is a narrow stateless map per
    * arrival; the store (hot buckets pre-dropped at
    * [[graft.operators.Multimodal.FpBucketCap]]) joins stream-static
    * broadcast; the ONE streaming aggregation is the offset vote; the
    * ≥ minVotes keep-filter runs on the sink read. Output:
    * `(doc_id, s_id, off, votes)`.
    */
  def docAudioMatchGateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fpStatic = Multimodal.audioFingerprints(docs.filter(col("doc_id") < firstNewId))
    val ok = fpStatic
      .groupBy(col("hash"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= Multimodal.FpBucketCap)
      .select(col("hash"))
    // materialized batch-side — see docPhashGateOverParquet's store note
    val store = broadcast(graft.operators.Phys.materialized(
      fpStatic
        .join(ok, Seq("hash"))
        .select(col("doc_id").as("s_id"), col("hash"), col("t").as("s_t"))))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-audio"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      Multimodal
        .audioFingerprints(
          readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .join(store, Seq("hash"))
        .groupBy(col("doc_id"), col("s_id"), (col("t") - col("s_t")).as("off"))
        .agg(count(lit(1)).as("votes")),
      graft.sources.Staging.freshTable("graft_stream_docaudio"),
      "complete")
      .filter(col("votes") >= Multimodal.FpMinVotes)
  }

  /** STREAMING BM25 RELEVANCE GATE: the stored BM25 index
    * ([[graft.operators.TextOps.writeBm25Model]], built on the STATIC
    * corpus slice) scores arriving documents against the index's top-df
    * query — the ingest-time "does this doc match our domain" filter.
    * The model is scalar-sized once the query is fixed (nTerms df
    * values + 2 corpus stats), so it folds in as LITERALS and the
    * per-doc score is a pure stateless projection (the
    * [[docQualityGateOverParquet]] shape): per query term,
    * tf = one array-filter count, the BM25 term score, zero when
    * unmatched (adding literal 0.0 is IEEE-exact, so the fold equals
    * the batch matched-terms-only fold); one per-source aggregation.
    * Doubles only fold per-doc and max per-source — never a cross-doc
    * float sum.
    */
  def docBm25GateOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long,
      nTerms: Int = 3): DataFrame = {
    import graft.functions.Parity
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val modelDir = TextOps.writeBm25Model(spark, docs.filter(col("doc_id") < firstNewId))
    val m = spark.read.parquet(modelDir)
    val q = m
      .filter(col("term").isNotNull)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1) // fold in term order — the batch ordered-fold discipline
    val stRow = m.filter(col("term").isNull).head()
    val n = stRow.getAs[Long]("n_docs").toDouble
    val avgdl = stRow.getAs[Long]("tot_tokens").toDouble / n
    val dld = size(Parity.tokens(col("text"))).cast("long").cast("double")
    val parts = q.map { case (term, df) =>
      val tf = size(filter(Parity.tokens(col("text")), x => x === lit(term))).cast("long")
      // full-precision idf literal: JVM log == the engine's log, so this
      // equals the batch path's in-engine idf bit for bit
      val idf = math.log(1.0 + (n - df.toDouble + 0.5) / (df.toDouble + 0.5))
      val tfd = tf.cast("double")
      val s = round(
        lit(idf) * (tfd * lit(TextOps.Bm25K1Plus1.toDouble)) /
          (tfd + lit(TextOps.Bm25K1.toDouble) *
            (lit(TextOps.Bm25OneMinusB.toDouble) +
              lit(TextOps.Bm25B.toDouble) * dld / lit(avgdl))),
        9)
      (tf, when(tf > 0, s).otherwise(lit(0.0d)))
    }
    val nQ = parts.map(_._1).reduce(_ + _)
    val score = parts.map(_._2).foldLeft(lit(0.0d))(_ + _)
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-bm25"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      readDocStream(spark, staged.toString)
        .filter(col("doc_id") >= firstNewId)
        .select(col("source"), nQ.as("n_q"), round(score, 6).as("bm25"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_q") > 0, 1L).otherwise(0L)).as("n_matched"),
          max(col("bm25")).as("top_bm25")),
      graft.sources.Staging.freshTable("graft_stream_docbm25"),
      "complete")
  }

  /** Schema of the embeddings table (readStream requires one). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over a directory of embeddings parquet files. */
  def readEmbStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embSchema).parquet(dir)

  /** STREAMING IVF INDEX UPSERT — the vector-side member of the
    * index-upsert family ([[minhashUpsertOverParquet]] /
    * [[simhashUpsertOverParquet]] / [[phashUpsertOverParquet]]):
    * arriving vectors EXTEND the stored inverted lists. The coarse
    * quantizer is trained ONCE over the static slice
    * ([[graft.operators.Similarity.kmeansFixed]]); each arrival is
    * assigned to its nearest cell as a PURE EXPRESSION over the
    * driver-collected k-row centroid table
    * ([[graft.operators.Similarity.probeCellsExpr]], nProbe=1 — no
    * stream state, no shuffle) and emits its `(vec_id, cid)`
    * list-extension row annotated with `n_list`, the static list's
    * current occupancy (one broadcast probe — the signal a maintainer
    * watches for cells that need a re-train/split). Batch parity:
    * static lists ∪ these rows = assigning the full corpus with the
    * SAME static-trained quantizer (pinned in StreamOpsSpec).
    *
    * Scale shape: per arrival one narrow expression + one broadcast
    * join; the indexed corpus is never re-assigned, the quantizer
    * never re-trained stream-side. Stateless append stream.
    */
  def embIvfUpsertOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.{Phys, Similarity}
    val static = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < firstNewId)
    val centsDf = Phys.materialized(Similarity.kmeansFixed(static))
    val listCounts = Phys.materialized(
      Similarity
        .invertedLists(static, centsDf)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_list")))
    val cents = centsDf
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)
      .toSeq
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-embs-ivfup"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      staged.resolve("embeddings.parquet"))
    runStream(
      spark,
      readEmbStream(spark, staged.toString)
        .filter(col("vec_id") >= firstNewId)
        .select(
          col("vec_id"),
          explode(Similarity.probeCellsExpr(col("embedding"), cents, 1)).as("pc"))
        .select(col("vec_id"), col("pc.cid").as("cid"))
        .join(broadcast(listCounts), Seq("cid"), "left_outer")
        .select(
          col("vec_id"),
          col("cid"),
          coalesce(col("n_list"), lit(0L)).as("n_list")),
      graft.sources.Staging.freshTable("graft_stream_ivfupsert"),
      "append")
  }

  /** STREAMING EMBEDDING INGEST against a STATIC IVF index — the online
    * half of the ANN story at 100 TB: the index (coarse centroids +
    * inverted lists) is trained/built ONCE over the existing corpus
    * (vec_id < `firstNewId`), then arriving vectors (vec_id >=
    * `firstNewId`) stream through it and each is matched to its nearest
    * static neighbor among the `nProbe` probed cells.
    *
    * Per-batch work per arriving vector: cell assignment is a pure
    * expression over the driver-collected centroid table
    * ([[graft.operators.Similarity.probeCellsExpr]] — stateless, no
    * aggregation state store), then a stream-static equi-join keyed on
    * cid against the inverted lists (each micro-batch probes the static
    * side; nothing stream-side is buffered), then a per-query argmax
    * whose state is ONE struct per arriving vector. That is the same
    * probe cost profile as the batch IVF path, incrementalized; on an
    * unbounded firehose the argmax state is bounded by emitting per
    * micro-batch (update mode) instead of complete — operator identical.
    *
    * Batch oracle: the trained-IVF SQL restricted to the static training
    * set with the arriving vectors as queries, k=1.
    */
  def embIvfIngestOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long,
      nProbe: Int): DataFrame = {
    import graft.functions.Parity
    import graft.operators.{Phys, Similarity}
    val static = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < firstNewId)
    val centsDf = Phys.materialized(Similarity.kmeansFixed(static))
    val lists = Phys.materialized(Similarity.invertedLists(static, centsDf))
    val cents = centsDf
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)
      .toSeq
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-embs"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      staged.resolve("embeddings.parquet"))
    runStream(
      spark,
      readEmbStream(spark, staged.toString)
        .filter(col("vec_id") >= firstNewId)
        .select(
          col("vec_id"),
          col("embedding").cast("array<double>").as("qe"),
          explode(Similarity.probeCellsExpr(col("embedding"), cents, nProbe)).as("pc"))
        .select(col("vec_id"), col("qe"), col("pc.cid").as("cid"))
        .join(lists, Seq("cid"))
        .select(
          col("vec_id").as("q_id"),
          col("n_id"),
          round(Parity.cosine(col("qe"), col("ne")), 6).as("cos"))
        .groupBy(col("q_id"))
        .agg(max(struct(col("cos"), (-col("n_id")).as("nn"))).as("sel"))
        .select(col("q_id"), (-col("sel.nn")).as("n_id"), col("sel.cos").as("cos")),
      graft.sources.Staging.freshTable("graft_stream_embivf"),
      "complete")
  }

  /** STREAMING LANDMARK MAINTENANCE — arriving edges incrementally
    * extending the landmark-distance table
    * ([[graft.operators.GraphOps.landmarkDistances]]): the table is
    * built ONCE over the undirected closure of the existing graph
    * (lineitem orders below the 90%-of-max-orderkey split), then each
    * arriving edge (u, v) whose endpoint v is in the static graph
    * attaches the NEW node u one hop out — `d(L, u) = min over u's
    * arriving edges (d(L, v) + 1)`, the triangle-inequality extension
    * that keeps the serving table ([[graft.operators.GraphOps.landmarkEstimate]])
    * fresh between full rebuilds. Arriving srcs already present in the
    * static graph are dropped by a stream-static LEFT ANTI probe
    * (their distances are already served).
    *
    * Per-batch work per arriving edge: one anti probe of the static
    * node set + one equi-join against the static landmark table + a
    * min fold; streaming state is ONE min struct per (new node,
    * landmark) — bounded by the arrival set × K, and on an unbounded
    * firehose the same query runs in update mode with a lateness
    * horizon on an arrival timestamp. At 100 TB the landmark table is
    * the only big operand and it is probed per micro-batch, never
    * shuffled stream-side.
    *
    * Output: `(id, landmark, dist)` — the EXTENSION rows, i.e. the
    * incremental delta a maintainer would union into the served table.
    * Oracle: [[graft.operators.GraphOps.landmarkExtendSql]], the same
    * sweep + one-hop min in SQL.
    */
  def landmarkExtendOverParquet(
      spark: SparkSession,
      sfDir: String,
      nLandmarks: Int,
      rounds: Int): DataFrame = {
    import graft.operators.{GraphOps, Phys}
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // scale-free split, integer math — the oracle computes the identical
    // scalar with a subquery (max * 9 // 10)
    val firstNew =
      li.agg(max(col("l_orderkey").cast("long"))).head().getLong(0) * 9L / 10L
    val staticE = li
      .filter(col("l_orderkey").cast("long") < firstNew)
      .select(
        col("l_orderkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
    val und = staticE.unionAll(staticE.select(col("dst").as("src"), col("src").as("dst")))
    val lm = Phys.materialized(
      GraphOps
        .landmarkDistances(und, nLandmarks, rounds)
        .select(col("id").as("v"), col("landmark"), col("dist").as("dv")))
    val known = Phys.materialized(
      staticE
        .select(col("src").as("id"))
        .unionAll(staticE.select(col("dst").as("id")))
        .distinct())
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-edges"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/lineitem.parquet"),
      staged.resolve("lineitem.parquet"))
    runStream(
      spark,
      spark.readStream
        .schema(li.schema)
        .parquet(staged.toString)
        .filter(col("l_orderkey").cast("long") >= firstNew)
        .select(
          col("l_orderkey").cast("long").as("id"),
          col("l_partkey").cast("long").as("v"))
        .join(broadcast(known), Seq("id"), "left_anti")
        .join(broadcast(lm), Seq("v"))
        .groupBy(col("id"), col("landmark"))
        .agg(min(col("dv") + 1L).as("dist")),
      graft.sources.Staging.freshTable("graft_stream_lmext"),
      "complete")
  }

  /** STREAMING MINHASH INDEX UPSERT — arriving documents incrementally
    * EXTENDING the stored band index
    * ([[graft.operators.Dedup.writeMinhashIndex]]), the way
    * [[landmarkExtendOverParquet]] extends the landmark table: the
    * index is built ONCE over the static corpus slice; each arrival
    * computes its signature + band rows STATELESSLY (the single-pass
    * MinHashSig kernel — pure column expressions, no shuffle, no
    * stream state) and emits its `(doc_id, band_idx, band_val)`
    * extension rows, annotated with `n_store_hits` — how many indexed
    * documents already occupy that bucket (a broadcast probe of the
    * store's per-bucket counts; a nonzero value is the
    * near-dup-on-arrival signal, a zero row grows a fresh bucket).
    * The output IS the incremental delta a maintainer unions into the
    * served index — batch parity: static index rows ∪ these rows =
    * re-indexing the full corpus from scratch (pinned in
    * StreamOpsSpec).
    *
    * Scale shape: per arrival one narrow map + one broadcast join —
    * the indexed corpus is never re-signed, never shuffled
    * stream-side; the only store-derived operand is the per-bucket
    * count table (≤ |buckets| rows, itself an artifact-side
    * aggregate). Stateless append stream — an unbounded firehose
    * needs no watermark because nothing is held.
    */
  def minhashUpsertOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idxDir = Dedup.writeMinhashIndex(spark, docs.filter(col("doc_id") < firstNewId))
    // occupancy aggregate materialized batch-side (see the static
    // gates' store note)
    val storeBuckets = graft.operators.Phys.materialized(
      spark.read
        .parquet(idxDir)
        .groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("n_store_hits")))
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-mhup"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet"))
    runStream(
      spark,
      Dedup
        .minhashBandRows(readDocStream(spark, staged.toString).filter(col("doc_id") >= firstNewId))
        .join(broadcast(storeBuckets), Seq("band_idx", "band_val"), "left_outer")
        .select(
          col("doc_id"),
          col("band_idx").cast("int").as("band_idx"),
          col("band_val"),
          coalesce(col("n_store_hits"), lit(0L)).as("n_store_hits")),
      graft.sources.Staging.freshTable("graft_stream_mhupsert"),
      "append")
  }

  /** STREAMING ANOMALY GATE against STATIC fences — the online half of
    * [[graft.operators.EventOps.anomalies]], the same split pattern as
    * [[docDedupOverParquet]]/[[embIvfIngestOverParquet]]: Tukey fences
    * are computed ONCE (batch, exact percentiles) over the historical
    * events (event_id < `firstNewId`), then arriving events stream
    * through a broadcast fence probe and a per-type counting aggregate.
    *
    * Per-batch work per arriving event: one broadcast hash probe + a
    * map-side-partial count — no percentile state, no sort, state
    * bounded by the number of event types. This is the deployable shape
    * of outlier monitoring at firehose rate: the expensive robust
    * statistic lives in the (nightly) batch pass, the stream pays O(1)
    * per event.
    *
    * Output per type: `(event_type, lo_fence, hi_fence, n_new,
    * n_outliers)`; batch oracle computes the identical fences on the
    * historical slice and counts over the arriving slice.
    */
  def anomalyIngestOverParquet(
      spark: SparkSession,
      sfDir: String,
      firstNewId: Long): DataFrame = {
    val hist = graft.model
      .eventsTable(spark, sfDir)
      .filter(col("event_id") < firstNewId)
    val fences = broadcast(
      hist
        .groupBy(col("event_type").as("ft"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"))
        .select(
          col("ft"),
          round(col("p25") - (col("p75") - col("p25")) * 1.5, 6).as("lo_fence"),
          round(col("p75") + (col("p75") - col("p25")) * 1.5, 6).as("hi_fence")))
    overParquet(
      spark,
      sfDir,
      "anomaly",
      ev =>
        ev.filter(col("event_id") >= firstNewId)
          .join(fences, col("event_type") === col("ft"))
          .groupBy(col("event_type"), col("lo_fence"), col("hi_fence"))
          .agg(
            count(lit(1)).as("n_new"),
            sum(when(col("value") < col("lo_fence") || col("value") > col("hi_fence"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .select(
            col("event_type"),
            col("lo_fence"),
            col("hi_fence"),
            col("n_new"),
            col("n_outliers")))
  }

  /** Per-user running totals through `transformWithState` — the
    * arbitrary-state v2 API (Spark 4): typed [[org.apache.spark.sql.streaming.ValueState]]
    * held in the RocksDB state store, explicit TTL policy, one state
    * struct per user. The harness keeps the value in integer milli-units
    * so the running sum is exact in any arrival order — the same
    * determinism contract as every aggregate in the engine.
    *
    * Versus [[sessionizeStream]]'s flatMapGroupsWithState: this is the
    * successor API — state is named and typed per variable (value/list/
    * map), TTL is declarative, and the store is RocksDB-backed (the
    * provider that scales state past executor memory at 100 TB; the
    * conf is scoped to this query and restored after).
    *
    * Output per user: `(user_id, n_events, sum_milli)`; oracle is the
    * plain batch GROUP BY.
    */
  def userTotalsOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      overParquet(
        spark,
        sfDir,
        "usertotals",
        ev =>
          ev.select(
              col("user_id"),
              expr("CAST(round(value * 1000) AS BIGINT)").as("m"))
            .as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(
              new UserTotalsProcessor,
              TimeMode.None(),
              OutputMode.Update())
            .toDF("user_id", "n_events", "sum_milli"),
        mode = "update")
    } finally spark.conf.set(key, prev)
  }

  /** STREAMING CDC — the incremental form of
    * [[graft.operators.EventOps.cdcDiff]]: the state store carries, per
    * `(user_id, event_type)` key, the latest event at or before EACH of
    * the two snapshot times (two (ts, event_id, value) slots, ~40 bytes
    * per key — state is |keys|-bounded, never |events|). Every arriving
    * event lands in at most both slots by the same (ts, event_id) total
    * order the batch operator uses, so the emitted classification is
    * arrival-order-independent: a late event that predates a slot's
    * current holder simply loses the max — the out-of-order hazard the
    * decay fold has to clamp does not exist here.
    *
    * Emission (Update mode) is one `(user_id, event_type, op)` row per
    * touched key; the 3-row churn report runs as the serving readout
    * over the sink (the [[topkOverParquet]] discipline). Oracle: the
    * batch [[graft.operators.EventOps.cdcDiffSql]] — identical by
    * construction.
    */
  def cdcOverParquet(
      spark: SparkSession,
      sfDir: String,
      t1: String = "2024-01-03 00:00:00",
      t2: String = "2024-01-06 00:00:00"): DataFrame = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    // full-microsecond cutoff: the batch oracle compares `ts <= TIMESTAMP t1`
    // at microsecond precision, so truncating via toEpochMilli would
    // misclassify an event with sub-millisecond ts components at the boundary
    val t1Inst = java.time.LocalDateTime
      .parse(t1.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    val t1Us = t1Inst.getEpochSecond * 1000000L + t1Inst.getNano / 1000L
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val perKey =
      try overParquet(
        spark,
        sfDir,
        "cdc",
        ev =>
          ev.filter(col("ts") <= lit(t2).cast("timestamp"))
            .select(
              col("user_id"),
              col("event_type"),
              expr("unix_micros(ts)").as("tus"),
              col("event_id"),
              col("value"))
            .as[(Long, String, Long, Long, Double)]
            .groupByKey(r => (r._1, r._2))
            .transformWithState(new CdcProcessor(t1Us), TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "event_type", "op"),
        mode = "update")
      finally spark.conf.set(key, prev)
    perKey
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("checksum"))
  }

  /** STREAMING SEQUENCE PACKING — the incremental form of
    * [[graft.operators.Packing.packNextFit]]: next-fit is the
    * streaming-native packing discipline (ONE open bin per shard,
    * O(1) state — why pipelines that pack on ingest use next-fit, not
    * first-fit), so the state store carries exactly the batch fold's
    * `(fill, bins, waste)` accumulator per shard plus the doc/oversize
    * counters. Arrivals fold in doc_id order within the batch — the
    * batch operator's order — and each batch emits the shard's current
    * packing report, tail slack folded in at emission only (the open
    * bin keeps filling on the next batch).
    *
    * Oracle: the batch [[graft.operators.Packing.packNextFitSql]] —
    * identical by construction on the bounded harness stream.
    */
  def packOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    import graft.operators.Packing
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same scale-coupled shard count as the batch operator and oracle
      val nsh = Packing.shardsFor(spark.read.parquet(s"$sfDir/documents.parquet"))
      val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs-pack"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
        staged.resolve("documents.parquet"))
      runStream(
        spark,
        readDocStream(spark, staged.toString)
          .select(
            col("doc_id"),
            (col("doc_id") % nsh).as("shard"),
            size(graft.functions.Parity.tokens(col("text"))).cast("long").as("n_tok"))
          .as[(Long, Long, Long)]
          .groupByKey(_._2)
          .transformWithState(
            new PackProcessor(Packing.Capacity),
            TimeMode.None(),
            OutputMode.Update())
          .toDF(
            "shard",
            "n_docs",
            "n_oversize",
            "n_packed_tokens",
            "bins_used",
            "waste_tokens",
            "fill_ppm"),
        graft.sources.Staging.freshTable("graft_stream_pack"),
        "update")
    } finally spark.conf.set(key, prev)
  }

  /** Time-decayed per-user engagement score via `transformWithState`:
    * state = (last event-time, score); each event first HALVES the
    * score once per whole elapsed day, then adds the event's milli
    * value — `s ← s · 2^(−Δdays) + v`. The decay factor is a power of
    * two ON PURPOSE: multiplying a double by 2^(−k) is exact (exponent
    * arithmetic only), so the fold is bit-identical to the batch
    * oracle's ordered `list_reduce` replay with NO rounding grid —
    * recency weighting without giving up the engine's determinism
    * contract. Events are folded in (event-time, event_id) order
    * within the batch; on a real firehose a watermark reorder buffer
    * fronts the same processor.
    *
    * Output per user: `(user_id, n_events, score)` (score rounded
    * 6 dp at EMISSION only).
    */
  /** STREAMING DOMAIN-CAP ADMISSION — the quota counterpart of the
    * batch [[graft.operators.TextOps.domainCap]]: per source, a
    * ValueState admission counter admits the first
    * [[DomainCapStreamK]] documents in arrival order and drops the
    * rest — the anti-monoculture quota enforced AT INGEST instead of
    * in a nightly sweep (the batch op picks the best K by quality;
    * the stream can't see the future, so its quota is first-come).
    * Rows fold in doc_id order within the batch — the deterministic
    * arrival order of the staged bounded file; on a real firehose a
    * watermark reorder buffer fronts the same processor. State is 4
    * longs per source, O(|sources|) total — bounded at any corpus
    * scale.
    *
    * Output per source: `(source, n_seen, n_admitted, last_admitted,
    * admitted_chars)`.
    */
  def domainCapGateOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-docs"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
        staged.resolve("documents.parquet"))
      runStream(
        spark,
        readDocStream(spark, staged.toString)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new DomainCapProcessor(DomainCapStreamK),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("source", "n_seen", "n_admitted", "last_admitted", "admitted_chars"),
        graft.sources.Staging.freshTable("graft_stream_domaincap"),
        "update")
    } finally spark.conf.set(key, prev)
  }

  /** Per-source admission quota for [[domainCapGateOverParquet]]. */
  val DomainCapStreamK = 15L

  /** [[domainCapGateOverParquet]]'s batch oracle: first-K-by-doc_id per
    * source (the stream's arrival order is doc_id order on the bounded
    * staged file).
    */
  def domainCapGateSql(): String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_seen,
       |       CAST(count(*) FILTER (rn <= $DomainCapStreamK) AS BIGINT) AS n_admitted,
       |       CAST(max(doc_id) FILTER (rn <= $DomainCapStreamK) AS BIGINT) AS last_admitted,
       |       CAST(sum(n_chars) FILTER (rn <= $DomainCapStreamK) AS BIGINT) AS admitted_chars
       |FROM r GROUP BY source""".stripMargin

  def userDecayOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      overParquet(
        spark,
        sfDir,
        "userdecay",
        ev =>
          ev.select(
              col("user_id"),
              unix_micros(col("ts")).as("tus"),
              col("event_id"),
              expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
            .as[(Long, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(
              new UserDecayProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update())
            .toDF("user_id", "n_events", "score_raw")
            .select(
              col("user_id"),
              col("n_events"),
              round(col("score_raw"), 6).as("score")),
        mode = "update")
    } finally spark.conf.set(key, prev)
  }

  /** [[userDecayOverParquet]]'s batch oracle: the identical fold,
    * replayed per user in (ts, event_id) order. DuckDB's `list_reduce`
    * takes no initial accumulator and a prepended zero must share the
    * list's element type, so the (Δdays, value) pair rides ONE double
    * `vm·64 + Δ` (both components integers ≪ 2^52 — exact) and the
    * lambda decodes it; Δ is capped at 63 on both engines (2⁻⁶³ is
    * zero engagement anyway).
    */
  def userDecaySql(): String =
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id,
       |         CAST(round(value * 1000) AS BIGINT) AS vm,
       |         epoch_us(ts) AS tus,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                                 ORDER BY ts, event_id) AS pts
       |  FROM events),
       |d AS (
       |  SELECT user_id, ts, event_id, vm,
       |         least(CAST(coalesce((tus - pts) // 86400000000, 0) AS BIGINT), 63) AS dd
       |  FROM o)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list(CAST(vm * 64 + dd AS DOUBLE) ORDER BY ts, event_id)),
       |             (acc, c) -> acc / pow(2.0, c - floor(c / 64) * 64) + floor(c / 64)),
       |             6) AS score
       |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  /** STREAMING hour-of-day seasonality: the (type, hour) count table
    * is maintained AS the streaming aggregation — |types|·24 additive
    * state cells, the same boundedness as the quantile histogram — and
    * the exact ppm shares are read off the sink. Equals the batch
    * [[EventOps.seasonality]] row-for-row, ORACLE SHARED.
    */
  def seasonalityOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = overParquet(
      spark,
      sfDir,
      "seasonality",
      ev =>
        ev.select(
            col("event_type"),
            expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
          .groupBy(col("event_type"), col("hour"))
          .agg(count(lit(1)).as("n")))
    val tot = hist.groupBy(col("event_type").as("tt")).agg(sum(col("n")).as("total"))
    hist
      .join(broadcast(tot), col("event_type") === col("tt"))
      .select(
        col("event_type"),
        col("hour"),
        col("n"),
        expr("n * 1000000 div total").as("share_ppm"))
  }

  /** STREAMING PSI DRIFT GATE: the reference histogram is built ONCE
    * from the static corpus half (events at or before the stored
    * cutoff — what a nightly job persists next to a trained model) as a
    * bounded (type, bin) count table; arrivals past the cutoff flow
    * through a stateless narrow bin map into a streaming count
    * aggregate whose state is |types|·|bins| additive cells — the same
    * boundedness argument as the streaming quantile histogram, and the
    * reason PSI (not raw ECDF drift) is what production monitors run on
    * firehoses. The sink full-outer-joins the two histograms and scores
    * with the batch operator's integer micro-unit terms, so the output
    * equals [[EventOps.psiDrift]] row-for-row and the ORACLE IS SHARED.
    */
  def psiGateOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.model.eventsTable(spark, sfDir)
    val b = ev
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    def bin = floor(col("value") / lit(EventOps.PsiBinWidth)).cast("long").as("bin")
    val ref = ev
      .filter(unix_micros(col("ts")) <= mid)
      .select(col("event_type"), bin)
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("nr"))
    val cur = overParquet(
      spark,
      sfDir,
      "psigate",
      st =>
        st.filter(unix_micros(col("ts")) > mid)
          .select(col("event_type"), bin)
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("nc")))
    val cnt = ref
      .join(cur, Seq("event_type", "bin"), "full_outer")
      .select(
        col("event_type"),
        col("bin"),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    EventOps.psiFromCounts(cnt)
  }

  /** STREAMING CUSUM changepoint monitor: the per-type in-control
    * targets are computed ONCE from the static reference half (a
    * ≤ |types|-row artifact folded into the processor as literals —
    * the stored-model discipline), and arrivals past the cutoff fold
    * through a per-type `transformWithState` ValueState carrying the
    * CUSUM recursion's exact integer state `(n, P, min P, max S,
    * crossings, first id)` — O(1) per type however long the stream,
    * which is why CUSUM (not a two-window replay) is what runs on a
    * firehose. Emits one row per type in Update mode; equals
    * [[EventOps.cusumDrift]] row-for-row on the bounded harness file,
    * so the ORACLE IS SHARED.
    */
  def cusumGateOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.model.eventsTable(spark, sfDir)
    val b = ev
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val targets = ev
      .filter(unix_micros(col("ts")) <= mid)
      .select(col("event_type"), expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
      .groupBy(col("event_type"))
      .agg(expr("sum(vm) div count(1)").as("t"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      overParquet(
        spark,
        sfDir,
        "cusumgate",
        ev =>
          ev.filter(unix_micros(col("ts")) > mid)
            .select(
              col("event_type"),
              unix_micros(col("ts")).as("tus"),
              col("event_id"),
              expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(
              new CusumProcessor(targets, EventOps.CusumH),
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update())
            .toDF("event_type", "n_cur", "target_milli", "max_s_milli", "n_crossings", "fid")
            .select(
              col("event_type"),
              col("n_cur"),
              col("target_milli"),
              col("max_s_milli"),
              col("n_crossings"),
              when(col("fid") < 0L, lit(null).cast("long")).otherwise(col("fid"))
                .as("first_cross_id")),
        mode = "update")
    } finally spark.conf.set(key, prev)
  }

  /** STREAMING quantile sketch: the fixed-bin histogram is maintained
    * AS the streaming aggregation (additive counts — per-type state
    * bounded by the bin count, the property an exact percentile can
    * never have on an unbounded stream), and the p50/p95 extraction
    * runs over the sink — how a dashboard serves quantiles off a
    * continuously-updated histogram. Same bins, ranks, and rounding as
    * the batch [[EventOps.quantilesBinned]], so the oracle is shared.
    */
  def quantilesBinnedOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = overParquet(
      spark,
      sfDir,
      "qbinned",
      ev =>
        ev.select(col("event_type"), floor(col("value") * 4).cast("long").as("bin"))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("c")))
    EventOps.quantilesFromHist(hist)
  }

  /** STREAMING per-user funnel via `transformWithState` + ListState:
    * each user's event log is held as typed ListState and the strict
    * ordered progression (first view → first later click → first later
    * purchase) is recomputed per batch. The LOG is the state on
    * purpose: an incremental (t1, t2, t3) min-tuple is NOT correct
    * under out-of-order arrival — a late-arriving early view can
    * retroactively unlock clicks that were already seen — so the
    * operator keeps what correctness needs (bounded by per-user
    * activity; on a firehose the list gets a TTL and the funnel a
    * lateness horizon). Versus [[userTotalsOverParquet]]'s ValueState,
    * this exercises the v2 API's list-variable form.
    *
    * Output: one row per user that reached step ≥ 1
    * `(user_id, furthest_step)`, Update mode; oracle is the per-user
    * strict progression in plain SQL.
    */
  def funnelOverParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      overParquet(
        spark,
        sfDir,
        "funnel",
        ev =>
          ev.select(
              col("user_id"),
              expr("CAST(unix_micros(ts) AS BIGINT)").as("tus"),
              col("event_type"))
            .as[(Long, Long, String)]
            .groupByKey(_._1)
            .transformWithState(
              new FunnelProcessor,
              TimeMode.None(),
              OutputMode.Update())
            .toDF("user_id", "furthest_step")
            .filter(col("furthest_step") >= 1L),
        mode = "update")
    } finally spark.conf.set(key, prev)
  }

  private def overParquet(
      spark: SparkSession,
      sfDir: String,
      tag: String,
      transform: DataFrame => DataFrame,
      mode: String = "complete"): DataFrame = {
    val staged = java.nio.file.Paths.get(graft.sources.Staging.freshDir("stream-events"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      staged.resolve("events.parquet"))
    runToCompletion(
      spark,
      staged.toString,
      graft.sources.Staging.freshTable(s"graft_stream_$tag"),
      transform,
      mode)
  }

  /** Shuffle-partition count for the bounded harness stream runs.
    *
    * A streaming query's STATE STORE count is its shuffle-partition count
    * (×4 per side for a stream-stream join), fixed at first start, and
    * every store checkpoints a delta file per micro-batch — so on the
    * small bounded harness file, partitions are pure per-batch overhead
    * (32 partitions ⇒ 128 store commits per join batch for ~0.4 s of
    * actual aggregation work). On a real unbounded firehose this knob is
    * sized to the stream rate instead — the operator code is identical;
    * only the session conf differs.
    */
  val StreamShufflePartitions = 8

  /** Run `body` with the session's shuffle partitions scoped down to
    * [[StreamShufflePartitions]], restoring the caller's value after.
    * Safe because the harness streams run to completion synchronously.
    */
  private def withStreamPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, math.min(prev.toInt, StreamShufflePartitions).toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** Ephemeral checkpoint dir for the run-to-completion harness streams,
    * deleted after the query stops. Placed on tmpfs when available: the
    * HDFSBackedStateStore fsyncs a delta file per store per micro-batch,
    * and on a disk-backed temp dir those fsyncs are ~70% of state commit
    * time (measured: 2.5 s → 0.8 s per join batch). Durability is
    * pointless here — the sink is an in-memory table and the source a
    * staged bounded file; a production deployment would point this at
    * HDFS/S3 for exactly-once restart instead.
    */
  private def freshCheckpointDir(): java.nio.file.Path = {
    val base = java.nio.file.Paths.get("/dev/shm")
    val root = if (java.nio.file.Files.isWritable(base)) base
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(root, "graft-stream-ckpt-")
  }

  /** Stop a query without letting the stop itself mask the original
    * failure: `stop()` can throw (stopTimeout), and an exception from a
    * `finally` would replace the real mid-batch error.
    */
  private def stopQuietly(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try q.stop()
    catch {
      case e: Exception =>
        System.err.println(s"[StreamOps] stop() failed for ${q.name}: $e")
    }
    // drop the stopped run's cached state-store providers NOW, before
    // the caller deletes the checkpoint: a bounded run's providers are
    // keyed by a runId that never runs again, and leaving them loaded
    // makes the background maintenance tick walk (and error on) a
    // growing orphan list — measured as 2–3× micro-batch work-ms late
    // in a many-query session with IDENTICAL trigger counts. Harness
    // runs are sequential; a provider a future query needs reloads
    // from its own checkpoint on demand.
    try org.apache.spark.sql.graftbridge.CheckpointBridge.unloadStateStores()
    catch { case _: Throwable => () }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds a directory stream open until closed — without
      // the finally, every harness stream run leaks one descriptor
      val walk = java.nio.file.Files.walk(p)
      val paths =
        try walk.iterator().asScala.toSeq.reverse
        finally walk.close()
      paths.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Run a streaming aggregation over a static directory to completion
    * (memory sink), returning the final result table. Used by tests to
    * assert batch/stream parity and by the driver-facing stream queries.
    */
  def runToCompletion(
      spark: SparkSession,
      dir: String,
      name: String,
      transform: DataFrame => DataFrame = tumblingStream,
      mode: String = "complete"): DataFrame =
    runStream(spark, transform(readEventStream(spark, dir)), name, mode)

  /** Start `out` against a memory sink, drain it, and return the result
    * table. Shared engine-run plumbing for every bounded harness stream.
    */
  private def runStream(
      spark: SparkSession,
      out: DataFrame,
      name: String,
      mode: String): DataFrame = withStreamPartitions(spark) {
    val ckpt = freshCheckpointDir()
    try {
      val q = out.writeStream
        .outputMode(mode)
        .format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName(name)
        .start()
      // stop in finally: a failure mid-batch must not leak a running
      // query whose checkpoint the outer finally is about to delete
      try { q.processAllAvailable(); recordWork(q) }
      finally stopQuietly(q)
    } finally deleteRecursively(ckpt)
    spark.table(name)
  }
}

/** transformWithState processor for [[StreamOps.funnelOverParquet]]: the
  * per-user event log in ListState, strict funnel recomputed per batch.
  * The mins are taken directly (no sort needed): t1 = min view ts,
  * t2 = min click ts strictly after t1, t3 = min purchase ts strictly
  * after t2 — the same rule as the batch funnel oracle.
  */
class FunnelProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, String), (Long, Long)] {

  @transient private var log: org.apache.spark.sql.streaming.ListState[(Long, String)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    log = getHandle.getListState[(Long, String)](
      "events",
      org.apache.spark.sql.Encoders.product[(Long, String)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
    rows.foreach { case (_, tus, tpe) => log.appendValue((tus, tpe)) }
    val evs = log.get().toArray
    def minAfter(tpe: String, after: Long): Option[Long] = {
      val ts = evs.collect { case (t, e) if e == tpe && t > after => t }
      if (ts.isEmpty) None else Some(ts.min)
    }
    val t1 = minAfter("view", Long.MinValue)
    val t2 = t1.flatMap(minAfter("click", _))
    val t3 = t2.flatMap(minAfter("purchase", _))
    val step = if (t3.isDefined) 3L else if (t2.isDefined) 2L else if (t1.isDefined) 1L else 0L
    Iterator.single((key, step))
  }
}

/** transformWithState processor for [[StreamOps.userDecayOverParquet]]:
  * one ValueState (last event-time micros, score) per user; each batch
  * folds its rows in (event-time, event_id) order — halve per whole
  * elapsed day (capped at 63), add the milli value. The halving is a
  * multiplication by an exact power of two, so the running double is
  * bit-deterministic.
  */
class UserDecayProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long,
      (Long, Long, Long, Long),
      (Long, Long, Double)] {

  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Double)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Double)](
      "decay",
      org.apache.spark.sql.Encoders.product[(Long, Long, Double)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
    var (n, lastTs, s) =
      if (st.exists()) st.get() match { case (a, b, c) => (a, b, c) }
      else (0L, Long.MinValue, 0.0d)
    rows.toSeq.sortBy { case (_, tus, eid, _) => (tus, eid) }.foreach {
      case (_, tus, _, vm) =>
        // clamped to [0, 63]: an out-of-order event arriving in a later
        // micro-batch would otherwise make Δ negative and 2^(−Δ) AMPLIFY
        // the score instead of decaying it — a late event now folds in
        // undecayed (dd = 0), the conservative reading until a watermark
        // reorder buffer fronts this processor
        val dd = if (lastTs == Long.MinValue) 0L
        else math.min(math.max(0L, (tus - lastTs) / 86400000000L), 63L)
        s = s / math.pow(2.0, dd.toDouble) + vm.toDouble
        lastTs = tus
        n += 1L
    }
    st.update((n, lastTs, s))
    Iterator.single((key, n, s))
  }
}

/** transformWithState processor for [[StreamOps.userTotalsOverParquet]]:
  * one ValueState struct per user carrying (n_events, sum_milli),
  * updated per input batch and emitted in Update mode. No TTL — the
  * harness stream is bounded; on a firehose the same state gets
  * `TTLConfig` with a retention duration and nothing else changes.
  */
class UserTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {

  @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)](
      "totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { case (_, m) => n += 1L; s += m }
    totals.update((n, s))
    Iterator.single((key, n, s))
  }
}

/** transformWithState processor for [[StreamOps.packOverParquet]]: one
  * ValueState per shard carrying the next-fit accumulator
  * `(fill, bins, waste, n_docs, n_oversize, n_packed)` — the batch
  * fold's state plus the report counters, O(1) per shard. Rows fold in
  * doc_id order within the batch; the emitted report folds the open
  * bin's tail slack in at emission only, so
  * `n_packed + waste = bins · capacity` holds on every emission.
  */
class PackProcessor(capacity: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long,
      (Long, Long, Long),
      (Long, Long, Long, Long, Long, Long, Long)] {

  @transient private var st
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long, Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long, Long, Long, Long)](
      "pack",
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long, Long)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
    var (fill, bins, waste, nDocs, nOver, nPacked) =
      if (st.exists()) st.get() match { case (a, b, c, d, e, f) => (a, b, c, d, e, f) }
      else (0L, 0L, 0L, 0L, 0L, 0L)
    rows.toSeq.sortBy(_._1).foreach { case (_, _, t) =>
      nDocs += 1L
      if (t > capacity) nOver += 1L
      else if (t > 0L) {
        nPacked += t
        if (bins == 0L) { bins = 1L; fill = t }
        else if (fill + t <= capacity) fill += t
        else { waste += capacity - fill; bins += 1L; fill = t }
      }
    }
    st.update((fill, bins, waste, nDocs, nOver, nPacked))
    val wasteOut = if (bins == 0L) 0L else waste + capacity - fill
    val fillPpm = if (bins == 0L) 0L else nPacked * 1000000L / (bins * capacity)
    Iterator.single((key, nDocs, nOver, nPacked, bins, wasteOut, fillPpm))
  }
}

/** transformWithState processor for [[StreamOps.cdcOverParquet]]: one
  * ValueState per (user, type) key holding the latest-event slot for
  * each snapshot time — `(t1 ts, t1 event_id, t1 value, t1 seen,
  * t2 ts, t2 event_id, t2 value)` (the t2 slot always exists once the
  * key does: the upstream filter admits only `ts ≤ t2`). Each arriving
  * row challenges both slots under the (ts, event_id) total order, so
  * ANY arrival order converges to the same state; the emitted row is
  * the key's current insert/update/unchanged classification.
  */
class CdcProcessor(t1Us: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (Long, String),
      (Long, String, Long, Long, Double),
      (Long, String, String)] {

  @transient private var st
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Double, Long, Long, Long, Double)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Double, Long, Long, Long, Double)](
      "cdc",
      org.apache.spark.sql.Encoders.product[(Long, Long, Double, Long, Long, Long, Double)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: (Long, String),
      rows: Iterator[(Long, String, Long, Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, String, String)] = {
    var (t1Ts, t1Eid, t1Val, has1, t2Ts, t2Eid, t2Val) =
      if (st.exists()) st.get() match { case (a, b, c, d, e, f, g) => (a, b, c, d, e, f, g) }
      else (-1L, -1L, 0.0, 0L, -1L, -1L, 0.0)
    rows.foreach { case (_, _, tus, eid, v) =>
      if (tus <= t1Us && (tus > t1Ts || (tus == t1Ts && eid > t1Eid))) {
        t1Ts = tus; t1Eid = eid; t1Val = v; has1 = 1L
      }
      if (tus > t2Ts || (tus == t2Ts && eid > t2Eid)) {
        t2Ts = tus; t2Eid = eid; t2Val = v
      }
    }
    st.update((t1Ts, t1Eid, t1Val, has1, t2Ts, t2Eid, t2Val))
    val op =
      if (has1 == 0L) "insert" else if (t1Val != t2Val) "update" else "unchanged"
    Iterator.single((key._1, key._2, op))
  }
}

/** transformWithState processor for [[StreamOps.cusumGateOverParquet]]:
  * one ValueState per event type carrying the CUSUM recursion's exact
  * integer state `(n, P, min P, max S, crossings, first id)` — the
  * prefix-sum-minus-running-min identity's two cumulatives plus the
  * alarm bookkeeping, all 64-bit milli units, O(1) per type. `targets`
  * is the per-type in-control mean from the static reference half
  * (≤ |types| entries — a scalar artifact, serialized with the task);
  * first_cross_id rides −1 until the first crossing (mapped to NULL at
  * the sink). Rows within a batch fold in (ts, event_id) order — the
  * same order the batch oracle replays.
  */
class CusumProcessor(targets: Map[String, Long], h: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String,
      (String, Long, Long, Long),
      (String, Long, Long, Long, Long, Long)] {

  @transient private var st
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long, Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long, Long, Long, Long)](
      "cusum",
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long, Long)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, Long, Long, Long, Long, Long)] = {
    val target = targets.getOrElse(key, 0L)
    var (n, p, runMin, maxS, nCross, firstId) =
      if (st.exists()) st.get() match { case (a, b, c, d, e, f) => (a, b, c, d, e, f) }
      else (0L, 0L, 0L, 0L, 0L, -1L)
    rows.toSeq.sortBy { case (_, tus, eid, _) => (tus, eid) }.foreach {
      case (_, _, eid, vm) =>
        p += vm - target
        runMin = math.min(runMin, p)
        val s = p - math.min(0L, runMin)
        maxS = math.max(maxS, s)
        if (s > h) {
          nCross += 1L
          if (firstId < 0L) firstId = eid
        }
        n += 1L
    }
    st.update((n, p, runMin, maxS, nCross, firstId))
    Iterator.single((key, n, target, maxS, nCross, firstId))
  }
}

/** transformWithState processor for [[StreamOps.domainCapGateOverParquet]]:
  * one ValueState per source carrying `(n_seen, n_admitted,
  * last_admitted, admitted_chars)`; rows fold in doc_id order within the
  * batch and admission stops at the quota `k` — the cross-batch counter
  * is exactly what a stateless gate cannot express.
  */
class DomainCapProcessor(k: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String,
      (String, Long, Long),
      (String, Long, Long, Long, Long)] {

  @transient private var st
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long, Long)](
      "domaincap",
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, Long, Long, Long, Long)] = {
    var (seen, adm, last, chars) =
      if (st.exists()) st.get() match { case (a, b, c, d) => (a, b, c, d) }
      else (0L, 0L, -1L, 0L)
    rows.toSeq.sortBy { case (_, docId, _) => docId }.foreach { case (_, docId, nChars) =>
      seen += 1L
      if (adm < k) {
        adm += 1L
        last = docId
        chars += nChars
      }
    }
    st.update((seen, adm, last, chars))
    Iterator.single((key, seen, adm, last, chars))
  }
}
