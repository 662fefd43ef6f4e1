package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class UserEvent(user_id: Long, event_type: String, tsUs: Long)
case class UserRunning(user_id: Long, n_events: Long, last_type: String)
case class EventVal(user_id: Long, value: Double)
case class UserValueMax(user_id: Long, n_events: Long, max_value: Double)
/** Persisted state for [[MaxValueProcessor]]: running count + max. */
case class MaxCount(n: Long, mx: Double)
/** Persisted state for [[SessionCloseProcessor]]: count + max event µs. */
case class SessState(n: Long, maxUs: Long)
/** One row of the batch-computed snapshot seeding [[SeededMaxProcessor]]. */
case class UserSnapshot(user_id: Long, n: Long, mx: Double)
/** Timer-emitted session close record ([[SessionCloseProcessor]]). */
case class SessionClose(user_id: Long, n_events: Long, close_us: Long)
/** Typed event feeding [[EventsStreaming.scdIntervals]] (q135). */
case class ScdEvent(user_id: Long, event_id: Long, event_type: String, tsUs: Long)
/** Open-run state for [[EventsStreaming.scdIntervals]]: the one validity
  * interval per user that is still accumulating. */
case class ScdRunState(run_id: Long, event_type: String, validFromUs: Long, n: Long)
/** q135 emission — one SCD2 validity interval (open ⇒ valid_to_us None). */
case class ScdInterval(user_id: Long, run_id: Long, event_type: String,
  valid_from_us: Long, valid_to_us: Option[Long], n_events: Long, is_current: Long)

/** Structured Streaming surface over the `events` fixture (SURVEY.md
  * §2.7): the reference is strictly batch, so these are the engine's
  * net-new streaming capabilities — watermarked tumbling/sliding windows,
  * session windows, watermark-scoped dedup, and custom per-key state via
  * flatMapGroupsWithState.
  *
  * All transforms are DataFrame→DataFrame so the SAME code runs in batch
  * mode (the q11/q12 batch queries are these functions applied to a batch
  * read) — the classic Spark unified-batch-streaming design. The file
  * source replays the fixture parquet; in production the source swaps to
  * Kafka/queue with no transform change.
  */
object EventsStreaming {

  /** Schema of the raw events parquet when nanos are read as long. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over the fixture; ts normalized to TimestampType
    * (micros) exactly like the batch loader. Spark's file stream source
    * requires a DIRECTORY, and the fixture is a single read-only file —
    * stage a temp dir with a symlink (fixture plumbing only; a production
    * deployment points this at a landing directory or swaps in Kafka). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = graft.TempDirs.create("graft-events-stream")
    // absolute target: a RELATIVE symlink target resolves against the
    // LINK's directory, so a relative `dir` would dangle under /tmp
    Files.createSymbolicLink(staged.resolve("events.parquet"),
      StreamingGate.canonicalEventsFile(spark, dir).toAbsolutePath)
    spark.readStream
      .schema(rawSchema)
      .parquet(staged.toString)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
  }

  /** Tumbling 5-minute counts per event type, 10-minute watermark.
    * Append mode emits a window only once its watermark passes — state
    * size is bounded by (watermark / window) * |types|. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").cast("long").as("window_start"),
              col("event_type"), col("n_events"), col("value_cents"))

  /** Sliding windows: 10-minute span sliding by 5. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("long").as("window_start"),
              col("event_type"), col("n_events"))

  /** 30-minute-gap session windows per user (streaming form of q12). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(unix_micros(col("ts"))).as("last_us"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start_us"),
              col("last_us"), col("n_events"))

  /** Per-day HyperLogLog registers for distinct users — the SKETCH AS
    * STREAMING STATE pattern (q122): the aggregate keeps at most
    * [[graft.ext.Sketches.Registers]] (window × register, max-rho) rows
    * per day regardless of event volume, because max() is the HLL merge
    * — the state is the mergeable register vector itself. The sink
    * therefore stores REGISTERS, not estimates; the estimate is a cheap
    * read-time fold over ≤64 rows per day (how sketch-backed stores
    * serve HLL: merge registers at query time). Exactly-one-day
    * windows in append mode: a day's registers emit once the watermark
    * passes its end. Same md5-chunk hash as the batch sketch, so the
    * q118 arithmetic applies verbatim at read time. */
  def dailyHllRegisters(events: DataFrame): DataFrame =
    graft.ext.Sketches.withRho(events.withWatermark("ts", "30 minutes"),
        col("user_id").cast("string"))
      .groupBy(window(col("ts"), "1 day"), col("reg"))
      .agg(max(col("rho")).as("m"))
      .select(unix_micros(col("window.start")).as("day_us"),
        col("reg"), col("m"))

  /** q145 sketch dimensions: depth x width counters = the ENTIRE state
    * footprint (256 rows), however many events or distinct users the
    * stream ever carries. */
  val CmsDepth = 4
  val CmsWidth = 64

  /** q145: count-min sketch AS STREAMING STATE — the frequency
    * complement of q122's distinct-count registers, completing the
    * streaming side of the sketch matrix (q57 batch CMS / here, q118
    * batch HLL / q122). A per-key streaming count (`groupBy(user)`)
    * keeps one state row per DISTINCT KEY — unbounded on an open key
    * domain; the CMS keeps [[CmsDepth]]·[[CmsWidth]] counter rows
    * TOTAL: each event folds into one bucket per row (md5-chunked,
    * q118's decorrelation discipline), and `sum` is the CMS merge
    * exactly as `max` is the HLL merge. No watermark, no eviction —
    * boundedness comes from the sketch algebra, not from time; update
    * mode emits changed counters each trigger and counters only grow,
    * so the sink's last-write-wins read-off is max(n) per cell. The
    * estimate (min over a key's [[CmsDepth]] cells) never under-counts;
    * StreamingSpec asserts the ≤ depth·width state bound from the
    * engine's own telemetry. */
  /** The ONE bucket-hash definition both the state-building transform
    * and the serving-side probe use — a drifted copy would make the
    * read path probe cells the state never wrote. */
  def cmsBucketExpr: String =
    s"cast(conv(substr(md5(concat(cast(r as string), ':', " +
      s"cast(user_id as string))), 1, 6), 16, 10) as bigint) % $CmsWidth"

  def cmsRegisters(events: DataFrame): DataFrame =
    events.filter(col("user_id") >= 0)
      .select(col("user_id"),
        explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("r"))
      .withColumn("c", expr(cmsBucketExpr))
      .groupBy("r", "c").agg(count(lit(1)).as("n"))

  /** Watermark-scoped exactly-once dedup on event_id: duplicates arriving
    * within the watermark horizon are dropped; state expires with the
    * watermark instead of growing unboundedly (the streaming analogue of
    * the exact-dedup batch operator). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id", "ts")

  /** Watermark-HORIZON dedup through the dedicated API
    * (`dropDuplicatesWithinWatermark`, q140): unlike q58's composite
    * (event_id, ts) key — which keeps the key's state only because ts
    * participates in the key — this drops a key's state as soon as the
    * watermark passes its event time + delay, the contract built for
    * at-least-once ingest where redelivery happens within a bounded
    * horizon. Rows behind the watermark are dropped as late instead of
    * probed, which is what bounds the state on an unbounded stream. */
  def dedupEventsWithin(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joined to purchases of the
    * same user landing within 10 minutes AFTER the click. Both sides are
    * watermarked so the join state is bounded — Spark retains only the
    * interval's worth of rows per side. Works identically on batch
    * frames (the spec cross-checks). */
  def purchaseClickCorrelation(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "20 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "20 minutes")
    clicks.join(purchases,
      expr("""user_id = p_user AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 10 minutes"""))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
  }

  /** Stream-stream LEFT OUTER interval join: q43's [[purchaseClickCorrelation]]
    * shape, but clicks with NO purchase within the interval must still
    * emit — with null purchase columns — once the watermark proves no
    * future match is possible (watermark > click_ts + 10 min). This is
    * the attribution-pipeline shape: "every click, matched or not".
    *
    * The sentinel (event_id < 0) is let THROUGH both side-filters here,
    * unlike the inner join's: outer null emission is watermark-DRIVEN,
    * and each side's watermark only advances on rows that side actually
    * sees — a filtered-out sentinel would leave the global watermark at
    * real-max − 20 min and the last half hour of unmatched clicks
    * sitting in state forever, silently missing from the sink. The
    * sentinel click instantly matches the sentinel purchase (same
    * user_id/ts), so it never null-emits; the GATE removes that one
    * sentinel row from the sink table AFTER the query stops.
    *
    * Deliberately NO `click_id >= 0` filter inside this plan: a
    * left-side filter above a left-outer join is pushed below the join
    * and merged into the click-side scan filter — which silently drops
    * the sentinel BEFORE the click watermark node, pins the global
    * (min-policy) watermark at real-max − 20 min, and loses the final
    * 20 minutes of null emissions (debugged via per-node
    * EventTimeStats: click-side count was 0 in the sentinel batch). */
  def purchaseClickOuter(events: DataFrame): DataFrame =
    purchaseClickOuterJoin(events, "left_outer")

  /** Shared body for the outer-join gates — q106 (left) and q109
    * (full). Full outer adds the right side's null emissions: an
    * unmatched purchase emits with null click columns once the
    * watermark passes purchase_ts (no click in [ts − 10 min, ts] can
    * still arrive). `user_id` coalesces across sides so the full form
    * never loses the key on right-only rows. */
  def purchaseClickOuterJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click" || col("event_id") < 0)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", "20 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase" || col("event_id") < 0)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "20 minutes")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 10 minutes"""),
      joinType)
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
  }

  /** transformWithState (the arbitrary-state v2 API): per-user running
    * event count + running max of `value` in one ValueState, emitted on
    * every batch the user appears in. The count is what makes the
    * two-copy replay gate (q76) a PROOF: batch B emits 2n, reachable
    * only by reading batch A's state back out of the checkpointed
    * store. Needs the RocksDB state store provider. */
  def userMaxValue(events: DataFrame): Dataset[UserValueMax] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[EventVal]
      .groupByKey(_.user_id)
      .transformWithState(new MaxValueProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** transformWithState with INITIAL STATE: the production "resume from
    * a snapshot" pattern — a BATCH job computed per-user aggregates;
    * the streaming job seeds its v2 state from that table and continues
    * accumulating on top (handleInitialState fires once per seeded key
    * before its first input). The q79 gate streams the SAME fixture the
    * snapshot was built from, so the final count per user is exactly 2n
    * — n seeded + n streamed — reachable only if the seed actually
    * landed in the store AND the stream read it back. */
  def userMaxValueSeeded(events: DataFrame,
                         snapshot: Dataset[UserSnapshot]): Dataset[UserValueMax] = {
    val spark = events.sparkSession
    import spark.implicits._
    val init = snapshot.groupByKey(_.user_id)
      .mapValues(s => MaxCount(s.n, s.mx))
    events.select(col("user_id"), col("value")).as[EventVal]
      .groupByKey(_.user_id)
      .transformWithState(new SeededMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(), init)
  }

  /** transformWithState with EVENT-TIME TIMERS: per-user "session
    * close" — each batch re-arms a timer at (user's max event time +
    * 5 minutes); when the watermark passes it, the expiry callback
    * emits ONE record carrying the user's total count and the close
    * timestamp, then clears the state. This is the v2-API state
    * machine the built-in session_window can't express (emit-on-close
    * with custom payload + explicit state lifecycle), and the timer
    * path is only reachable through watermark bookkeeping — the q78
    * gate's whole point. */
  def userSessionClose(events: DataFrame): Dataset[SessionClose] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** q135: STREAMING SCD2 — the q132 dimension build as a live state
    * machine: each user's open validity interval lives in keyed state; a
    * state CHANGE emits the closed interval immediately (valid_to = the
    * new run's first event time, exactly q132's LEAD), and the open
    * interval flushes with `is_current = 1` only when the WATERMARK
    * proves no further event can extend it (event-time timeout — the
    * third state-lifecycle mechanism the gates exercise, after q126's
    * NoTimeout registers and q78's explicit timers). State is O(1) per
    * user regardless of history length — the closed intervals left the
    * store the moment they were emitted, which is what lets a CDC
    * consumer maintain a 100 TB dimension without ever holding it.
    * In-batch arrivals sort by (ts, event_id) before folding; cross-batch
    * ordering is the source's time-ordered staging (StreamingGate stages
    * two time-halves so the suspend/resume path is provably exercised). */
  def scdIntervals(events: DataFrame): Dataset[ScdInterval] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      // ts stays in the projection: dropping the watermarked column would
      // detach the watermark the event-time timeout check looks for
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"), col("ts"))
      .as[ScdEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdRunState, ScdInterval](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[ScdEvent], state: GroupState[ScdRunState]) =>
          if (state.hasTimedOut) {
            // watermark passed end-of-stream: flush the open interval
            val s = state.get
            state.remove()
            Iterator.single(ScdInterval(uid, s.run_id, s.event_type,
              s.validFromUs, None, s.n, 1L))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              var open = state.getOption
              val out = scala.collection.mutable.ArrayBuffer[ScdInterval]()
              sorted.foreach { e =>
                open match {
                  case Some(s) if s.event_type == e.event_type =>
                    open = Some(s.copy(n = s.n + 1))
                  case Some(s) =>
                    out += ScdInterval(uid, s.run_id, s.event_type,
                      s.validFromUs, Some(e.tsUs), s.n, 0L)
                    open = Some(ScdRunState(s.run_id + 1, e.event_type, e.tsUs, 1L))
                  case None =>
                    open = Some(ScdRunState(1L, e.event_type, e.tsUs, 1L))
                }
              }
              state.update(open.get)
              // arm the flush just past this key's latest event; clamped
              // above the current watermark (setTimeoutTimestamp rejects
              // timestamps at or behind it)
              state.setTimeoutTimestamp(math.max(
                sorted.last.tsUs / 1000L + 60000L,
                state.getCurrentWatermarkMs() + 60000L))
              out.iterator
            }
          }
      }
  }

  /** Custom keyed state: per-user running event count + last event type,
    * emitted on every update. Demonstrates flatMapGroupsWithState for
    * state machines the built-in windows can't express. */
  def userRunningCounts(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.event_type))
          if (sorted.isEmpty) Iterator.empty
          else {
            val prev = state.getOption.map(_.n_events).getOrElse(0L)
            val updated = UserRunning(uid, prev + sorted.size,
              sorted.last.event_type)
            state.update(updated)
            Iterator.single(updated)
          }
      }
  }
}

/** StatefulProcessor for [[EventsStreaming.userMaxValue]]: one
  * [[MaxCount]] ValueState per user (running count + running max). */
class MaxValueProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventVal, UserValueMax] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var maxState: ValueState[MaxCount] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxState = getHandle.getValueState[MaxCount]("maxv",
      Encoders.product[MaxCount], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EventVal],
      timers: TimerValues): Iterator[UserValueMax] = {
    val prev = if (maxState.exists()) maxState.get() else MaxCount(0L, Double.MinValue)
    val upd = rows.foldLeft(prev)((a, e) => MaxCount(a.n + 1, math.max(a.mx, e.value)))
    maxState.update(upd)
    Iterator.single(UserValueMax(key, upd.n, upd.mx))
  }
}

/** [[MaxValueProcessor]] with a caller-supplied TTL on its ValueState —
  * the third leg of the v2 state lifecycle (state, timers, TTL). With
  * TTLConfig.NONE it behaves exactly like MaxValueProcessor; with a
  * short processing-time TTL, state written in one micro-batch is
  * EXPIRED by the next, so a two-copy replay re-counts from zero each
  * batch — the StreamingSpec TTL probe pins that contrast. TTL is
  * wall-clock, hence spec-gated rather than oracle-hash-gated. */
class TtlMaxProcessor(ttlMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventVal, UserValueMax] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var maxState: ValueState[MaxCount] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = if (ttlMs <= 0) TTLConfig.NONE
      else TTLConfig(java.time.Duration.ofMillis(ttlMs))
    maxState = getHandle.getValueState[MaxCount]("maxv",
      Encoders.product[MaxCount], ttl)
  }

  override def handleInputRows(key: Long, rows: Iterator[EventVal],
      timers: TimerValues): Iterator[UserValueMax] = {
    val prev = if (maxState.exists()) maxState.get() else MaxCount(0L, Double.MinValue)
    val upd = rows.foldLeft(prev)((a, e) => MaxCount(a.n + 1, math.max(a.mx, e.value)))
    maxState.update(upd)
    Iterator.single(UserValueMax(key, upd.n, upd.mx))
  }
}

/** [[MaxValueProcessor]] + the v2 initial-state hook: the snapshot row
  * seeds the ValueState before the key's first input batch. */
class SeededMaxProcessor extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
    Long, EventVal, UserValueMax, MaxCount] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var maxState: ValueState[MaxCount] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxState = getHandle.getValueState[MaxCount]("maxv",
      Encoders.product[MaxCount], TTLConfig.NONE)

  override def handleInitialState(key: Long, initial: MaxCount,
      timers: TimerValues): Unit =
    maxState.update(initial)

  override def handleInputRows(key: Long, rows: Iterator[EventVal],
      timers: TimerValues): Iterator[UserValueMax] = {
    val prev = if (maxState.exists()) maxState.get() else MaxCount(0L, Double.MinValue)
    val upd = rows.foldLeft(prev)((a, e) => MaxCount(a.n + 1, math.max(a.mx, e.value)))
    maxState.update(upd)
    Iterator.single(UserValueMax(key, upd.n, upd.mx))
  }
}

/** StatefulProcessor for [[EventsStreaming.userSessionClose]]: per-user
  * count + max-event-time state, an event-time timer re-armed on every
  * batch at max_ts + 5 minutes; expiry emits the close record and
  * CLEARS the state (full state lifecycle: create → update → timer →
  * delete). `close_us` is derived from the µs state, not the ms timer,
  * so the emitted value is exact even though timers tick in ms. */
class SessionCloseProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, UserEvent, SessionClose] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  val GapUs = 300000000L // 5 minutes

  @transient private var state: ValueState[SessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessState]("sess",
      Encoders.product[SessState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timers: TimerValues): Iterator[SessionClose] = {
    val prev = if (state.exists()) state.get() else SessState(0L, Long.MinValue)
    val upd = rows.foldLeft(prev)((a, e) =>
      SessState(a.n + 1, math.max(a.maxUs, e.tsUs)))
    state.update(upd)
    // re-arm: exactly one live timer per key, at the latest close time
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer((upd.maxUs + GapUs) / 1000L)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[SessionClose] = {
    if (!state.exists()) return Iterator.empty
    val s = state.get()
    state.clear()
    Iterator.single(SessionClose(key, s.n, s.maxUs + GapUs))
  }
}
