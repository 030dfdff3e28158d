package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events table (SURVEY.md §7.2
  * north-star extension; the reference itself is batch-only, §2.7 — its
  * "real-time dashboards" are Metabase polls of batch tables).
  *
  * Everything here is expressed on an unbounded DataFrame: the same
  * transforms run identically on a batch frame (tested both ways). At
  * scale, watermarks bound the state store; the windowed aggregations
  * shuffle once on (window, key).
  */
object EventStreams {

  /** Production state-store configuration: RocksDB provider (state lives
    * on executor disk, not heap — the only store that holds 100 TB-replay
    * state) with changelog checkpointing (per-batch uploads ship only the
    * delta changelog instead of snapshotting full SST files, cutting
    * commit latency and checkpoint volume; snapshots still happen in the
    * background for bounded replay). Unbounded state is still a bug —
    * every stateful operator here bounds state via watermark (windowed
    * aggs, dedup, interval join) or event-time timeout (sessionize); the
    * StreamingSpec state-size pin enforces the sessionize bound.
    */
  val stateStoreConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Apply stateStoreConfigs to an existing session (new streaming
    * queries pick them up; running queries keep their provider). */
  def configureStateStore(spark: SparkSession): Unit =
    stateStoreConfigs.foreach { case (k, v) => spark.conf.set(k, v) }

  /** The LEGACY events schema (`ts` as raw TIMESTAMP(NANOS) read as a
    * long) — kept for fixtures that exercise the nanos decode path; the
    * live reader below probes the actual on-disk schema instead of
    * assuming this one (assuming it was the round-8 incident: a silent
    * 1000× event-time compression when the testdata moved to MICROS). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of events parquet files.
    * FileStreamSource needs an explicit schema, so we probe the footers
    * with a batch read (metadata only, no data scan) and then route the
    * decode through the SAME normalizer as the batch accessor
    * (graft.sources.Tables.normalizeTs) — stream and batch cannot drift
    * apart on the ts encoding. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.parquet(dir).schema
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(onDisk).parquet(dir))
  }

  /** Tumbling-window aggregation with watermark: count/sum per
    * (window, event_type). `windowLen` e.g. "1 hour". */
  def tumblingCounts(events: DataFrame, windowLen: String,
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window aggregation (windowLen over slide). */
  def slidingCounts(events: DataFrame, windowLen: String, slide: String,
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Streaming exactly-once-per-key dedup bounded by the watermark:
    * duplicate event_ids arriving within the watermark horizon are
    * dropped (state-store-backed `dropDuplicates`). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** One closed session per user: event count, span, value sum. */
  case class SessionSummary(user_id: Long, n_events: Long,
                            start_s: Long, end_s: Long, sum_value: Double)

  /** Internal per-user session accumulator (public: codegen'd encoders
    * must reach its accessors). */
  case class SessionState(nEvents: Long, start: Long,
                          last: Long, valueSum: Double)

  /** Custom-state sessionization via flatMapGroupsWithState: a session
    * closes when its user is idle past `gapSeconds` (event-time, tracked
    * against the watermark). The state store holds one small SessionState
    * per active user — bounded by active-user cardinality, not history;
    * exactly the state shape that survives 100 TB of replay.
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800,
                 watermark: String = "1 hour"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermark column itself must flow into the stateful operator
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]

    def update(userId: Long,
               rows: Iterator[(Long, java.sql.Timestamp, Double)],
               state: GroupState[SessionState]): Iterator[SessionSummary] = {
      val sorted = rows.map(r => (r._1, r._2.getTime / 1000, r._3))
        .toSeq.sortBy(_._2)
      var closed = List.empty[SessionSummary]
      var cur = state.getOption
      if (state.hasTimedOut) {
        cur.foreach(s => closed ::=
          SessionSummary(userId, s.nEvents, s.start, s.last, s.valueSum))
        state.remove()
        cur = None
      }
      sorted.foreach { case (_, t, v) =>
        cur match {
          case Some(s) if t - s.last <= gapSeconds =>
            cur = Some(SessionState(s.nEvents + 1, s.start, t, s.valueSum + v))
          case Some(s) =>
            closed ::= SessionSummary(userId, s.nEvents, s.start, s.last, s.valueSum)
            cur = Some(SessionState(1, t, t, v))
          case None =>
            cur = Some(SessionState(1, t, t, v))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // event-time timeouts must sit above the current watermark
        state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs + 1,
          (s.last + gapSeconds) * 1000))
      }
      closed.reverseIterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream–stream interval self-join: pair each event with the same
    * user's events in the trailing `windowSeconds` (exclusive of itself,
    * ordered pairs). Watermarks on both sides bound the join state to the
    * interval horizon — the state-store posture that survives unbounded
    * streams. */
  def recentPairs(events: DataFrame, windowSeconds: Long,
                  watermark: String = "1 hour"): DataFrame = {
    val a = events.select(col("user_id"),
        col("event_id").as("id_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", watermark)
    val b = events.select(col("user_id").as("user_b"),
        col("event_id").as("id_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", watermark)
    a.join(b,
      col("user_id") === col("user_b") &&
        col("ts_b") >= col("ts_a") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("ts_b") < col("ts_a"))
      .select(col("user_id"), col("id_a"), col("id_b"),
        col("ts_a"), col("ts_b"))
  }

  /** Stream–static enrichment: the streaming fact joins a static dim —
    * planned as a broadcast join per micro-batch, no stream state. */
  def enrich(events: DataFrame, dim: DataFrame,
             key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key),
      "left")

  /** Idempotent per-batch write for exactly-once file ingestion: every
    * micro-batch lands in its own `batch_id=<n>` partition directory,
    * OVERWRITTEN on replay — a batch retried after a crash between write
    * and checkpoint commit converges to the same bytes instead of
    * appending duplicates. Readers see one consistent tree via partition
    * discovery (`batch_id` is just another partition column and prunes
    * like one). This is the standard Structured Streaming exactly-once
    * recipe for non-transactional file sinks: the sink's idempotence +
    * the checkpoint's at-least-once replay = exactly-once output. */
  def idempotentBatchWrite(batch: DataFrame, batchId: Long,
                           path: String): Unit =
    batch
      .withColumn("event_date",
        org.apache.spark.sql.functions.to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(s"$path/batch_id=$batchId")

  /** Run a streaming frame to completion against a bounded source and
    * return the materialized result (memory sink; for tests/smoke). */
  def runToMemory(streaming: DataFrame, name: String,
                  outputMode: String = "update"): DataFrame = {
    val q = streaming.writeStream
      .format("memory").queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    streaming.sparkSession.table(name)
  }

  /** `runToMemory` for event-time-timer queries (sessionize): rows held
    * by an `EventTimeTimeout` only emit in the batch that runs AFTER the
    * watermark passes their timer, and `processAllAvailable` returns when
    * the DATA is consumed — the timer-firing no-data micro-batch may not
    * have committed yet. This variant keeps the query alive until the
    * reported watermark reaches `watermarkPastEpochS` (the engine runs
    * no-data batches on its own whenever the watermark advances), so the
    * emitted set is deterministically complete before the read-back.
    * Callers make the target reachable by appending a sentinel event
    * `delay + slack` past every timer they need fired. */
  def runToMemoryUntilWatermark(streaming: DataFrame, name: String,
                                watermarkPastEpochS: Long,
                                outputMode: String = "append",
                                timeoutMs: Long = 120000): DataFrame = {
    val q = streaming.writeStream
      .format("memory").queryName(name).outputMode(outputMode).start()
    waitForWatermark(q, watermarkPastEpochS, timeoutMs)
    streaming.sparkSession.table(name)
  }

  /** The production-posture sibling of [[runToMemoryUntilWatermark]]:
    * emitted rows land in an APPEND-mode parquet sink (executor-side
    * files — nothing session-sized ever accumulates on the driver) and
    * the landed table is read back once the watermark target is
    * reached. */
  def runToParquetUntilWatermark(streaming: DataFrame, path: String,
                                 checkpoint: String,
                                 watermarkPastEpochS: Long,
                                 timeoutMs: Long = 120000): DataFrame = {
    val q = streaming.writeStream
      .format("parquet").option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append").start()
    waitForWatermark(q, watermarkPastEpochS, timeoutMs)
    streaming.sparkSession.read.parquet(path)
  }

  private def waitForWatermark(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      watermarkPastEpochS: Long, timeoutMs: Long): Unit = {
    q.processAllAvailable()
    val deadline = System.currentTimeMillis + timeoutMs
    def watermarkS: Long =
      Option(q.lastProgress).map(_.eventTime.get("watermark"))
        .filter(_ != null)
        .map(w => java.time.Instant.parse(w).getEpochSecond)
        .getOrElse(Long.MinValue)
    while (watermarkS < watermarkPastEpochS &&
        System.currentTimeMillis < deadline)
      Thread.sleep(50)
    val reached = watermarkS
    q.stop()
    require(reached >= watermarkPastEpochS,
      s"watermark stalled at $reached < $watermarkPastEpochS " +
        s"after ${timeoutMs}ms — timer batch never ran")
  }
}
