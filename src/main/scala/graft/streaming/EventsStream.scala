package graft.streaming

import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table.
  *
  * The reference is batch-only (SURVEY.md §2.7); this module is the
  * continuous-ingest extension: the same relational transforms fed by a
  * file stream. `Trigger.AvailableNow` drains whatever data exists and
  * stops — the batch-parity execution mode — while the identical plan
  * runs unbounded under a processing-time trigger in production.
  *
  * Scale notes: the windowed aggregation state is bounded by the
  * watermark (late data beyond 1h is dropped, state for closed windows is
  * evicted); sessionization state is per-user and evicted on timeout —
  * both survive unbounded input on a real cluster with checkpointing to
  * durable storage.
  */
object EventsStream {

  /** Streaming source over the events parquet, ts normalized to
    * session-zoned TimestampType. The streaming file source needs a
    * user-supplied schema, and the generator has shipped events.ts under
    * two physical encodings (nanos-as-INT64 read as long; micros read as
    * TIMESTAMP_NTZ) — so the declared schema is taken from the batch
    * scan's inferred schema (one memoized footer read via graft.Tables),
    * and the ts normalization matches graft.Tables.events exactly.
    * Like the batch loader, this never mutates the session's conf: the
    * ns-vintage read flag comes from session creation
    * ([[graft.Sessions.graftDefaults]]; Drain children also pin it). */
  def source(spark: SparkSession, sfDir: String): DataFrame = {
    val onDisk = graft.Tables.read(spark, sfDir, "events").schema
    val stream = spark.readStream
      .schema(onDisk)
      // the streaming file source wants a directory: scan sfDir and
      // glob-filter to the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    onDisk("ts").dataType match {
      case LongType => stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Watermarked hourly aggregate as an unbounded streaming plan: Append
    * mode emits each window once the watermark passes it and evicts its
    * state — the production shape for continuous ingest (pair with a
    * durable sink + checkpointLocation). Split from the file source so
    * the eviction contract is testable against a MemoryStream
    * (StreamingSpec). */
  def hourlyAggPlan(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))

  def hourlyAggStream(spark: SparkSession, sfDir: String): DataFrame =
    hourlyAggPlan(source(spark, sfDir))

  /** Hourly per-type aggregate drained synchronously with AvailableNow
    * into a memory sink and returned as a DataFrame. Uses Complete mode
    * WITHOUT a watermark: in Complete mode the watermark evicts nothing
    * (all windows are retained by definition), so declaring one would
    * only misstate the contract — the bounded drain needs every window
    * anyway, including the last open one. The unbounded/state-evicting
    * form is [[hourlyAggStream]]. On static input this equals the batch
    * GROUP BY time_bucket — exactly what the DuckDB oracle checks. */
  def hourlyAgg(spark: SparkSession, sfDir: String,
                statePartitions: Int = 4): DataFrame = {
    // This query's state is O(hours x event_types) rows — 32 stores are
    // pure commit overhead (measured 1.42s -> 0.94s at sf0.1 going
    // 32 -> 4). `statePartitions` is the knob a production deployment
    // sizes to its state volume; the drain plans on Drain's dedicated
    // child session so the caller's conf is never touched.
    val (_, t) = Drain.toTable(spark, "graft_stream_hourly",
      OutputMode.Complete, statePartitions) { s2 =>
      source(s2, sfDir)
        // NO pre-agg fan-out here, deliberately (tried in r11, reverted:
        // st01 0.89s -> 1.54s in the same-window pairing). Unlike st05's
        // token kernel, the hourly partial aggregate COLLAPSES on the
        // scan task — 100k rows in, ~O(hours x types) partial rows out —
        // so the single-task scan+partial-agg is already cheap and an
        // upstream repartition only adds a full-input shuffle stage
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    }
    t.select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Watermarked stream-stream inner join: clicks attributed to the views
    * of the same user within `windowMinutes`, both sides unbounded
    * streams. Multi-batch-correct by construction: each side buffers rows
    * in join state until the other side's watermark plus the time-range
    * bound proves no further match can arrive, so a click arriving
    * batches after its view still joins (pinned in StreamingSpec).
    * State is bounded by (watermark delay + join window) x arrival rate;
    * both sides hash-partition on user, so matching never rescans
    * history. */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
                    windowMinutes: Int = 10): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
        col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    v.join(c, expr("v_user = c_user AND click_ts > view_ts AND " +
      s"click_ts <= view_ts + interval $windowMinutes minutes"))
  }

  /** Skew-hardened twin of [[viewClickJoin]]: the join's equality key is
    * (user, coarse time bucket) instead of user alone, so a hot user's
    * matching work spreads across bucket keys instead of landing on one
    * state-store partition task (the streaming analog of the batch
    * hot-shingle/salting hatch; the adversary measurement that motivated
    * it is the `stskew` scale run, PLANS.md).
    *
    * Exactness: bucket width equals the attribution window, and a
    * qualifying pair has `0 < click_ts - view_ts <= W`, so the click's
    * bucket is the view's bucket or the one after — never anything else.
    * Each view is therefore kept under exactly those TWO bucket keys
    * (explode), one stateful join runs on `(user, bucket)` plus the
    * original time-range bound, and every qualifying pair matches
    * exactly one of the two copies: the output equals [[viewClickJoin]]
    * row for row (pinned in StreamingSpec, incl. the `+W`-boundary and
    * cross-batch cases; st09 hash-gates it against st04's oracle).
    *
    * What it buys at depth: an arriving click probes only the views of
    * its own two 10-minute buckets rather than the user's whole retained
    * history — per-probe candidate work drops from O(user's state rows)
    * to O(rows per bucket), and distinct buckets hash to different state
    * partitions, so the hot key parallelizes. Measured on the stskew
    * adversary (one user holding 25% of 400k events, PLANS.md
    * `stskew`): drain 140.4s → 2.9s, identical 89,552-pair output —
    * below even the plain join's un-skewed 5.1s wall, because bucket
    * pruning cuts candidate probes on flat traffic too. Cost: view-side
    * join state is stored twice — measured maxStateRows 159k → 239k,
    * exactly the predicted 1.5× (clicks + 2× views). st04 stays the
    * default plan: the doubled state is pure overhead until a key gets
    * hot. Bucket math is exact floor division via pmod
    * (sign-safe for pre-1970 timestamps, where `div` truncates the
    * wrong way). */
  def viewClickJoinSubkeyed(views: DataFrame, clicks: DataFrame,
                            windowMinutes: Int = 10): DataFrame = {
    val wMicros = windowMinutes * 60L * 1000000L
    def bucketOf(ts: String): org.apache.spark.sql.Column = {
      val m = unix_micros(col(ts))
      (m - pmod(m, lit(wMicros))).divide(lit(wMicros)).cast("long")
    }
    val v = views.select(col("event_id").as("view_id"),
        col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
      .withColumn("v_bucket",
        explode(array(bucketOf("view_ts"), bucketOf("view_ts") + lit(1L))))
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .withColumn("c_bucket", bucketOf("click_ts"))
    v.join(c, expr("v_user = c_user AND v_bucket = c_bucket AND " +
        "click_ts > view_ts AND " +
        s"click_ts <= view_ts + interval $windowMinutes minutes"))
      .drop("v_bucket", "c_bucket")
  }

  // ------------------------------------------------------- sessionization

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Long, sum_value: Double)
  /** State carries the original Timestamps (micros preserved) — deriving
    * them back from epoch millis would truncate sub-ms precision.
    * Package-visible (not private): the state encoder's generated code
    * must construct it. */
  final case class SessionState(start: java.sql.Timestamp,
                                end: java.sql.Timestamp,
                                n: Long, sumCents: Long)

  /** Exact 2-dp cents of a double — the same value Spark's
    * cast(double AS DECIMAL(18,2)) produces (HALF_UP on the canonical
    * decimal repr). Folding Longs makes the session sum associative and
    * order-independent, so it equals the batch/DuckDB decimal sum
    * bit-for-bit after the final /100.0 (one IEEE division both sides). */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Gap-based sessionization (30-min inactivity) via
    * flatMapGroupsWithState — BOUNDED-DRAIN form: every session,
    * including the still-open one, is flushed at the END OF EACH
    * MICRO-BATCH. That makes it exactly equal to the batch sessionizer
    * when the drain is a single micro-batch (a batch Dataset, or
    * MemoryStream/AvailableNow delivering one batch) — but a session
    * spanning a micro-batch boundary would be fragmented. For continuous
    * multi-batch input use [[sessionizeUnbounded]], which carries open
    * sessions across batches and closes them by event-time timeout. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // Sort the group's events by time; emit a session per gap.
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts.getTime - s.end.getTime <= gapMs =>
                // min/max extension (not last-processed): the sort is by
                // (millis, event_id) while timestamps carry micros, so the
                // last-sorted event of an equal-millisecond pair may not be
                // the micro-latest — the batch sessionizer's MIN/MAX(ts)
                // must be matched exactly
                val start = if (e.ts.before(s.start)) e.ts else s.start
                val end = if (e.ts.after(s.end)) e.ts else s.end
                cur = Some(SessionState(start, end, s.n + 1, s.sumCents + cents(e.value)))
              case Some(s) =>
                sessions += Session(userId, s.start, s.end, s.n, s.sumCents / 100.0)
                cur = Some(SessionState(e.ts, e.ts, 1, cents(e.value)))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1, cents(e.value)))
            }
          }
          cur match {
            case Some(s) =>
              // bounded-drain contract: flush the open session too
              sessions += Session(userId, s.start, s.end, s.n, s.sumCents / 100.0)
              state.remove()
            case None =>
          }
          sessions.iterator
      }
  }

  /** Unbounded sessionization: open sessions persist in state across
    * micro-batches and close either when a later event exceeds the gap or
    * when the event-time watermark passes end+gap (EventTimeTimeout) —
    * state is evicted on close, so it stays bounded on infinite input.
    * The input must carry a watermark on `ts` (delay chosen by the
    * caller's lateness tolerance). */
  def sessionizeUnbounded(events: Dataset[Event], gapMinutes: Int = 30,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.end, s.n, s.sumCents / 100.0))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.end.getTime <= gapMs =>
                  // out-of-order events (late but within watermark) from a
                  // previous batch may precede the session bounds: extend
                  // with min/max, never move end backwards (an inverted
                  // session would also fire the timeout early)
                  val start = if (e.ts.before(s.start)) e.ts else s.start
                  val end = if (e.ts.after(s.end)) e.ts else s.end
                  cur = Some(SessionState(start, end, s.n + 1, s.sumCents + cents(e.value)))
                case Some(s) =>
                  sessions += Session(userId, s.start, s.end, s.n, s.sumCents / 100.0)
                  cur = Some(SessionState(e.ts, e.ts, 1, cents(e.value)))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1, cents(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout must be beyond the current watermark
              state.setTimeoutTimestamp(
                math.max(s.end.getTime + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            sessions.iterator
          }
      }
  }
}
