package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (capability superset — the reference's
  * cadence is a daily Airflow batch, SURVEY §2.9; here the same transforms
  * run over a file stream with `Trigger.AvailableNow`, which is exactly the
  * incremental-arrival upgrade path for the EIA/GHCN inputs).
  *
  * Design: the aggregation logic is a plain DataFrame => DataFrame shared
  * verbatim between batch and stream — the Spark contract that makes
  * batch/streaming parity testable (StreamingSpec asserts stream output
  * equals the batch run on the same files). Each `run*` runner declares
  * only its source, transform and sink; [[Streams]] drives them.
  */
object Streaming {

  /** events.parquet physical schema. The generator stores `ts` as
    * timestamp[us] without zone (physical parquet INT64); declaring it
    * LongType here reads the raw microsecond count directly, which keeps
    * every spec's watermark/heartbeat arithmetic in exact integer micros
    * and makes staged feeds re-readable with this same schema.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def normalize(raw: DataFrame): DataFrame =
    raw.withColumn("ts", timestamp_micros(col("ts")))

  /** The events file stream, `ts` as a timestamp. */
  private[graft] def eventStream(spark: SparkSession, inputGlob: String,
      oneFilePerTrigger: Boolean = false): DataFrame =
    normalize(Streams.fileStream(spark, eventsRawSchema, inputGlob, oneFilePerTrigger))

  /** Shared transform: per-hour, per-type event counts + exact money sum.
    * Used identically by the batch query (q_stream_window) and the file
    * stream. Event-time tumbling window ⇒ on a stream this is a stateful
    * agg whose state is bounded by the watermark.
    */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding event-time windows: 1-hour windows every 15 minutes, so
    * each event lands in exactly 4 overlapping windows. Spark's
    * `window()` generator expands the assignment map-side (no
    * self-join); the 4x fan-out collapses into the partial aggregate
    * before the exchange, exactly like the tumbling case. The same
    * expression is streaming-ready (watermark + append mode).
    */
  def slidingTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"))

  /** File-source stream over a parquet directory, 10-minute watermark,
    * AvailableNow trigger (drain-everything-then-stop: incremental batch).
    * Results land in the in-memory table `queryName`.
    */
  def runFileStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      hourlyTypeCounts(eventStream(spark, inputGlob).withWatermark("ts", "10 minutes")),
      Streams.Memory(queryName, OutputMode.Complete()))

  /** The sliding-window aggregation as a stream (same expression as the
    * batch [[slidingTypeCounts]]; overlap handled by window state).
    */
  def runSlidingStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      slidingTypeCounts(eventStream(spark, inputGlob).withWatermark("ts", "10 minutes")),
      Streams.Memory(queryName, OutputMode.Complete()))

  // --- stateful sessionization ---------------------------------------------

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class UserSession(user_id: Long, session_start: Long, session_end: Long,
      n_events: Int, total_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Shared gap fold: closed sessions + the still-open state. Sequential
    * per-user accumulation ⇒ deterministic totals.
    */
  def foldSessions(sorted: Seq[Event], initial: Option[SessionState])
      : (Vector[(SessionState)], Option[SessionState]) = {
    var closed = Vector.empty[SessionState]
    var st = initial.orNull
    for (e <- sorted) {
      val t = e.ts.getTime
      if (st == null) st = SessionState(t, t, 1, e.value)
      else if (t - st.last > SessionGapMs) {
        closed :+= st
        st = SessionState(t, t, 1, e.value)
      } else st = SessionState(st.start, t, st.n + 1, st.total + e.value)
    }
    (closed, Option(st))
  }

  private def toSession(uid: Long, st: SessionState): UserSession =
    UserSession(uid, st.start, st.last, st.n, st.total)

  /** Streaming sessionizer (flatMapGroupsWithState): emits a session when
    * a >30-minute gap appears; the open session stays in state. Constant
    * memory per active user — the canonical bounded-state custom
    * aggregation.
    */
  def sessionize(events: Dataset[Event]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val (closed, open) = foldSessions(sorted, state.getOption)
          open.foreach(state.update)
          closed.map(toSession(userId, _)).iterator
      }
  }

  /** Batch sessionizer: same fold, but the trailing open session is
    * emitted too (batch has no "later data").
    */
  def sessionizeBatch(events: Dataset[Event]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (uid: Long, rows: Iterator[Event]) =>
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val (closed, open) = foldSessions(sorted, None)
      (closed ++ open).map(toSession(uid, _)).iterator
    }
  }

  // --- CDC apply: stream of keyed changes -> partitioned table merge -------

  /** Applies a stream of keyed change rows (inserts + replace-by-key
    * updates) to a hive-partitioned parquet table: each micro-batch goes
    * through [[graft.ops.Upsert.upsertPartitioned]], which prunes the
    * read to the batch's partitions and rewrites only those via staged
    * dynamic partition overwrite. This is the streaming face of the
    * incremental-merge cadence: a day's corrections arrive as a
    * micro-batch and cost one small-partition rewrite, never a table
    * rewrite — the sink's cost scales with the change volume, not the
    * table. foreachBatch gives per-batch atomicity (write-audit-publish
    * inside the upsert); replays of a failed batch are idempotent
    * because replace-by-key is.
    *
    * Change rows carry the full table schema plus the `day` partition
    * column; the key is `event_id`.
    */
  def runChangeApply(spark: SparkSession, changesDir: String, tablePath: String): Unit = {
    val changeSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))
    // one micro-batch per change file
    Streams.drain(
      Streams.fileStream(spark, changeSchema, changesDir, oneFilePerTrigger = true),
      Streams.ForeachBatch(None, Streams.nonEmpty { (batch, _) =>
        graft.ops.Upsert.upsertPartitioned(batch.sparkSession, tablePath, batch,
          keyCols = Seq("event_id"), partCols = Seq("day"))
      }))
  }

  // --- streaming incremental dedup -----------------------------------------

  final case class Doc(doc_id: Long, content_hash: String)

  /** Incremental exact dedup over a document stream: keyed by content
    * hash, a row passes through only the first time its hash is seen —
    * state per key is a single boolean, so memory is bounded by the
    * number of DISTINCT documents, the minimum any exact dedup needs.
    * This is the streaming face of Dedup.dedupExact (batch keeps
    * min(doc_id); the stream keeps the first arrival).
    */
  def dedupStream(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.content_hash)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Doc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  // --- transformWithState milestone detection -------------------------------

  final case class Milestone(user_id: Long, event_id: Long, level: Long)

  val MilestoneStep: Double = 500.0
  private val MilestoneStepCents: Long = math.round(MilestoneStep * 100)

  /** Spark's Cast(double → DECIMAL(18,2)) semantics, exactly:
    * BigDecimal.valueOf (i.e. the decimal string of the double) then
    * HALF_UP at scale 2 — so the stateful processor accumulates the SAME
    * cents the batch window form sums.
    */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** Per-user lifetime-value MILESTONE detection — emit a row whenever a
    * user's cumulative value crosses another multiple of `MilestoneStep`
    * (the loyalty-tier / alerting shape). Batch truth: one window pass
    * (running DECIMAL sum + lag of the derived level, same
    * partition+order spec ⇒ one exchange). The STREAMING form is the
    * Spark 4 `transformWithState` API ([[MilestoneProcessor]]): tiny
    * keyed `ValueState` (one long per user), append-mode emission,
    * RocksDB state store — the arbitrary-state successor to
    * flatMapGroupsWithState; StreamingSpec proves stream (state carried
    * across time-split micro-batches) == batch window form.
    */
  def milestonesBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("run",
        sum(col("value").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("level", floor(col("run").cast("double") / MilestoneStep))
      .withColumn("prev_level", lag(col("level"), 1, 0L).over(w))
      .filter(col("level") > col("prev_level"))
      .select(col("user_id"), col("event_id"), col("level"))
  }

  def qMilestones(spark: SparkSession, dir: String): DataFrame =
    milestonesBatch(graft.Tables.events(spark, dir))
      .orderBy("user_id", "event_id")

  /** Arbitrary-state processor: one ValueState[Long] (cents) per user.
    * Rows within a micro-batch are sorted by event time (the iterator
    * arrives in batch order); state carries the running total across
    * batches, so a time-split replay equals the batch run.
    */
  class MilestoneProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Milestone] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totalCents: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totalCents = getHandle.getValueState[Long](
        "totalCents", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[Milestone] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      var run = if (totalCents.exists()) totalCents.get() else 0L
      val out = Array.newBuilder[Milestone]
      sorted.foreach { e =>
        val prev = Math.floorDiv(run, MilestoneStepCents)
        run += cents(e.value)
        val level = Math.floorDiv(run, MilestoneStepCents)
        if (level > prev) out += Milestone(key, e.event_id, level)
      }
      totalCents.update(run)
      out.result().iterator
    }
  }

  /** The typed events the stateful processors read, one file per
    * trigger; `prep` runs on the untyped stream first.
    */
  private def typedEvents(spark: SparkSession, inputGlob: String,
      prep: DataFrame => DataFrame = identity): Dataset[Event] =
    prep(eventStream(spark, inputGlob, oneFilePerTrigger = true))
      .select("event_id", "ts", "user_id", "event_type", "value").as(Encoders.product[Event])

  /** A per-user `transformWithState` run of `processor`, append mode. */
  private def perUser[O <: Product : scala.reflect.runtime.universe.TypeTag](
      events: Dataset[Event], processor: StatefulProcessor[Long, Event, O],
      timeMode: TimeMode = TimeMode.None()): DataFrame =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(processor, timeMode, OutputMode.Append())(Encoders.product[O])
      .toDF()

  /** Milestone detection as a checkpointed stream into a parquet FILE
    * sink — the fault-tolerant pairing (the memory sink cannot recover): committed
    * source offsets skip already-processed files on restart, the RocksDB
    * state restores each key's running total, and the file sink's commit
    * log makes output exactly-once across restarts. StreamingSpec stops
    * after half the feed, restarts from the same checkpoint, and shows
    * union-of-runs == batch with zero re-emission.
    */
  def runMilestoneStreamToFiles(
      spark: SparkSession, inputGlob: String, outPath: String, checkpoint: String): Unit =
    Streams.drain(perUser(typedEvents(spark, inputGlob), new MilestoneProcessor),
      Streams.Parquet(outPath, checkpoint))

  /** `dedupeInput` composes the at-least-once answer in front of the
    * stateful processor: a redelivering source (file replays, Kafka
    * at-least-once) would double-count the running total, so the input
    * passes through `dropDuplicatesWithinWatermark` on event_id FIRST —
    * dedup state bounded by the watermark, processor state then sees
    * each event exactly once (StreamingSpec replays a duplicated feed
    * and still matches batch).
    */
  def runMilestoneStream(
      spark: SparkSession, inputGlob: String, queryName: String,
      dedupeInput: Boolean = false): Unit = {
    val events = typedEvents(spark, inputGlob, raw =>
      if (dedupeInput)
        raw.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")
      else raw)
    Streams.drain(perUser(events, new MilestoneProcessor),
      Streams.Memory(queryName, OutputMode.Append()))
  }

  // --- inactivity detection (event-time timers) ----------------------------

  final case class Silence(user_id: Long, after_event_id: Long,
      silent_from_ms: Long, kind: String)
  final case class LastSeen(ts_ms: Long, event_id: Long)

  val InactivityGapMs: Long = 2 * 3600 * 1000L

  /** Batch truth for INTERNAL inactivity gaps: consecutive events of a
    * user more than 2h apart (lead over one user-keyed window). The
    * trailing silence after a user's LAST event is deliberately not part
    * of this form — batch has no "now" — it is what the event-time TIMER
    * in [[InactivityProcessor]] adds on a stream.
    */
  def inactivityGapsBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_ms"), col("event_id"))
    events
      .withColumn("t_ms", unix_millis(col("ts")))
      .withColumn("next_t", lead(col("t_ms"), 1).over(w))
      .filter(col("next_t") - col("t_ms") > InactivityGapMs)
      .select(col("user_id"), col("event_id").as("after_event_id"),
        (col("t_ms") + InactivityGapMs).as("silent_from_ms"))
  }

  def qInactivity(spark: SparkSession, dir: String): DataFrame =
    inactivityGapsBatch(graft.Tables.events(spark, dir))
      .orderBy("user_id", "silent_from_ms")

  /** Event-time-timer processor: internal gaps emit inline from the
    * sorted per-batch pass (state carries the last event across
    * batches); the TRAILING silence — undetectable without a clock —
    * emits when the watermark passes last_ts + gap: each batch re-arms
    * one timer at the current deadline (stale timers are deleted), and
    * [[handleExpiredTimer]] double-checks the deadline against state so
    * an out-of-date timer that still fires is ignored.
    */
  class InactivityProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Silence] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var last: ValueState[LastSeen] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastSeen](
        "last", org.apache.spark.sql.Encoders.product[LastSeen], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[Silence] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Array.newBuilder[Silence]
      var prev = if (last.exists()) Option(last.get()) else None
      sorted.foreach { e =>
        prev.foreach { p =>
          if (e.ts.getTime - p.ts_ms > InactivityGapMs)
            out += Silence(key, p.event_id, p.ts_ms + InactivityGapMs, "gap")
        }
        prev = Some(LastSeen(e.ts.getTime, e.event_id))
      }
      prev.foreach { p =>
        last.update(p)
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(p.ts_ms + InactivityGapMs)
      }
      out.result().iterator
    }
    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Silence] = {
      val p = last.get()
      if (p != null && expiredTimerInfo.getExpiryTimeInMs >= p.ts_ms + InactivityGapMs)
        Iterator.single(Silence(key, p.event_id, p.ts_ms + InactivityGapMs, "trailing"))
      else Iterator.empty
    }
  }

  /** Streaming run: event-time TimeMode (timers fire off the watermark),
    * RocksDB state, AvailableNow. Trailing silences only materialize
    * once something advances the watermark past each user's deadline —
    * the heartbeat discipline again (StreamingSpec stages it).
    */
  def runInactivityStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      perUser(typedEvents(spark, inputGlob, _.withWatermark("ts", "10 minutes")),
        new InactivityProcessor, TimeMode.EventTime()),
      Streams.Memory(queryName, OutputMode.Append()))

  // --- burst detection (ListState sliding window) ---------------------------

  final case class Burst(user_id: Long, event_id: Long, n_in_window: Int)

  val BurstWindowMs: Long = 3600 * 1000L
  val BurstThreshold: Int = 3

  /** Batch truth: events where the user's trailing-one-hour activity
    * count reaches the threshold — one RANGE-frame window pass (the
    * q_window_range shape).
    */
  def burstBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_ms"))
      .rangeBetween(-BurstWindowMs, Window.currentRow)
    events
      .withColumn("t_ms", unix_millis(col("ts")))
      .withColumn("n_in_window", count(lit(1)).over(w).cast("int"))
      .filter(col("n_in_window") >= BurstThreshold)
      .select(col("user_id"), col("event_id"), col("n_in_window"))
  }

  def qBurst(spark: SparkSession, dir: String): DataFrame =
    burstBatch(graft.Tables.events(spark, dir))
      .orderBy("user_id", "event_id")

  /** ListState processor: the per-user state is the trailing window of
    * event times — pruned to the one-hour horizon on every batch,
    * so state size is bounded by the burst window, not history. Events
    * sort per batch and process in TIE GROUPS: all events sharing a
    * timestamp enqueue before any of them emits, so each tied event
    * counts every equal-t peer in its window — the same count the batch
    * RANGE frame assigns ([[burstBatch]]'s `rangeBetween` window is
    * tie-inclusive on both sides). Caveat (as with the session_window
    * exact-gap tie): ties SPLIT ACROSS micro-batches still diverge — an
    * event emitted in batch N cannot retroactively see an equal-t peer
    * arriving in batch N+1; exact parity across batch boundaries would
    * require holding emission until the watermark passes t. Completing
    * the transformWithState state surface: ValueState (milestones),
    * timers (inactivity), ListState (bursts).
    */
  class BurstProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Burst] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ListState}
    @transient private var window: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      window = getHandle.getListState[Long](
        "window", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[Burst] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val buf = scala.collection.mutable.Queue[Long](
        (if (window.exists()) window.get().toSeq else Seq.empty): _*)
      val out = Array.newBuilder[Burst]
      var i = 0
      while (i < sorted.length) {
        val t = sorted(i).ts.getTime
        var j = i
        while (j < sorted.length && sorted(j).ts.getTime == t) j += 1
        while (buf.nonEmpty && buf.head < t - BurstWindowMs) buf.dequeue()
        (i until j).foreach(_ => buf.enqueue(t))
        val n = buf.size
        if (n >= BurstThreshold)
          (i until j).foreach(k => out += Burst(key, sorted(k).event_id, n))
        i = j
      }
      window.put(buf.toArray)
      out.result().iterator
    }
  }

  /** Streaming run (RocksDB state, AvailableNow; no timers — bursts are
    * detected on arrival, so no heartbeat is needed either).
    */
  def runBurstStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(perUser(typedEvents(spark, inputGlob), new BurstProcessor),
      Streams.Memory(queryName, OutputMode.Append()))

  // --- first-touch attribution (MapState) -----------------------------------

  final case class FirstTouch(user_id: Long, event_type: String,
      first_event_id: Long, first_ms: Long)

  /** Batch truth: the first time each user performs each event type —
    * arg-min by (time, id) per (user, type), one aggregation (min over a
    * (t, id) struct is the argmin without a window pass).
    */
  def firstTouchBatch(events: DataFrame): DataFrame =
    events
      .withColumn("t_ms", unix_millis(col("ts")))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("t_ms"), col("event_id"))).as("first"))
      .select(col("user_id"), col("event_type"),
        col("first.event_id").as("first_event_id"),
        col("first.t_ms").as("first_ms"))

  def qFirstTouch(spark: SparkSession, dir: String): DataFrame =
    firstTouchBatch(graft.Tables.events(spark, dir))
      .orderBy("user_id", "event_type")

  /** MapState processor: per-user map of event_type → seen marker. A row
    * emits only on a type's FIRST occurrence (sorted within the batch,
    * map carried across batches), so the per-user state is bounded by
    * the type alphabet. Completes the transformWithState state surface:
    * ValueState, ListState, MapState, event-time timers.
    */
  class FirstTouchProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, FirstTouch] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var seen: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Long](
        "seen", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[FirstTouch] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Array.newBuilder[FirstTouch]
      sorted.foreach { e =>
        if (!seen.containsKey(e.event_type)) {
          seen.updateValue(e.event_type, e.event_id)
          out += FirstTouch(key, e.event_type, e.event_id, e.ts.getTime)
        }
      }
      out.result().iterator
    }
  }

  /** Streaming run (RocksDB state, AvailableNow, no timers needed —
    * first touches emit on arrival).
    */
  def runFirstTouchStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(perUser(typedEvents(spark, inputGlob), new FirstTouchProcessor),
      Streams.Memory(queryName, OutputMode.Append()))

  // --- stream-stream join ---------------------------------------------------

  /** Attribution join shared by batch and stream: each purchase paired
    * with every view by the same user in the preceding hour (inclusive on
    * both ends). The predicate references the event-time columns directly
    * so that, on a stream, the watermark plus the one-hour range bound the
    * buffered join state to ~an hour of views per side — without the time
    * bound a stream-stream join must buffer forever.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(
      col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val p = purchases.select(
      col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"))
  }

  /** LEFT OUTER attribution — every view paired with the purchases it
    * preceded within an hour, unmatched views kept as null rows. The
    * outer side is what the inner join cannot express: "views that did
    * NOT convert" (the abandonment signal). On a stream, a view can only
    * be DECLARED unmatched once the purchase-side watermark passes
    * v_ts + 1h — so null rows emit watermark-late by construction, and
    * both watermarks plus the time bound are mandatory (they are what
    * lets the engine ever give up on a match). State stays ~an hour of
    * events per side, same as the inner join.
    */
  def viewPurchaseLeftJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(
      col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val p = purchases.select(
      col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    v.join(p,
        col("p_user") === col("v_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
  }

  /** Per-user conversion rollup over the left-outer attribution — the
    * batch/stream-shared form the driver checks: views, matched
    * (view, purchase) rows, and views that never converted.
    */
  def viewConversionRollup(views: DataFrame, purchases: DataFrame): DataFrame =
    viewPurchaseLeftJoin(views, purchases)
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("view_id")).as("n_views"),
        count(col("purchase_id")).as("n_matched_rows"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_unmatched_views"))

  /** Stream-stream inner join runner: both sides watermarked, AvailableNow
    * trigger, append mode (inner-join matches emit as soon as both rows
    * have arrived; the watermark only governs state eviction, so draining
    * the source emits every match). StreamingSpec asserts stream == batch.
    */
  def runStreamJoin(spark: SparkSession, inputGlob: String, queryName: String): Unit = {
    def side(eventType: String): DataFrame = eventStream(spark, inputGlob)
      .filter(col("event_type") === eventType).withWatermark("ts", "10 minutes")
    Streams.drain(viewPurchaseJoin(side("view"), side("purchase")),
      Streams.Memory(queryName, OutputMode.Append()))
  }

  /** Stream-stream LEFT OUTER join runner — and the outer-join tail
    * problem it has to solve: a view's null row only emits once the
    * watermark passes v_ts + 1h, so the last hour of a drained feed
    * stays in state forever unless something still advances the
    * watermark. A heartbeat must reach BOTH watermark nodes, and
    * "neutral" events of a type neither side keeps do NOT: Catalyst
    * pushes the event-type filter below the watermark operator (filter
    * pushdown is semantics-preserving there), so each side's watermark
    * tracks only its own filtered rows. The heartbeat therefore has to
    * be one sentinel VIEW plus one sentinel PURCHASE on reserved user
    * ids that can never join (the downstream rollup drops sentinel
    * users) — after which the advanced watermark triggers eviction in
    * the no-data micro-batch AvailableNow runs before terminating.
    * StreamingSpec stages exactly this and asserts stream == batch.
    */
  def runStreamLeftJoin(spark: SparkSession, inputGlob: String, queryName: String): Unit = {
    def side(eventType: String): DataFrame = eventStream(spark, inputGlob)
      .withWatermark("ts", "10 minutes").filter(col("event_type") === eventType)
    Streams.drain(viewPurchaseLeftJoin(side("view"), side("purchase")),
      Streams.Memory(queryName, OutputMode.Append()))
  }

  // --- stream-static enrichment ---------------------------------------------

  /** Static event-type → category dimension (the broadcast side). */
  val typeDim: Seq[(String, String)] = Seq(
    "click" -> "engagement", "view" -> "engagement", "purchase" -> "revenue",
    "signup" -> "growth", "error" -> "ops")

  /** Stream-static broadcast enrichment + per-category rollup, shared by
    * batch and stream. A static dimension joined to a stream needs no
    * state and no watermark: each micro-batch broadcast-joins the dim —
    * the canonical enrichment shape at any scale (dim broadcasts; the
    * stream side never shuffles for the join).
    */
  def categoryCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val dim = typeDim.toDF("event_type", "category")
    events.join(broadcast(dim), Seq("event_type"), "left_outer")
      .groupBy(col("category"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("category"), col("n_events"), col("sum_value"))
  }

  /** Stream runner for the enrichment rollup (Complete mode: running
    * per-category totals, the live-dashboard shape).
    */
  def runEnrichedStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(categoryCounts(eventStream(spark, inputGlob)),
      Streams.Memory(queryName, OutputMode.Complete()))

  // --- exactly-once over at-least-once delivery ----------------------------

  /** At-least-once delivery simulation: every event whose id ≡ 7 (mod 20)
    * arrives twice. The copies are EXACT (same ts, same payload), so which
    * copy survives dedup is immaterial and the result is delivery-order
    * invariant — the property a redelivering source (Kinesis/Kafka
    * at-least-once) actually guarantees.
    */
  def withDuplicateDelivery(events: DataFrame): DataFrame =
    events.unionAll(events.filter(pmod(col("event_id"), lit(20)) === 7))

  /** Exactly-once per-type totals over an at-least-once feed: drop
    * duplicate deliveries by event key, then aggregate. Batch form uses
    * `dropDuplicates` (one shuffle on event_id, then the partial/final
    * aggregate); the streaming form in [[runDedupDeliveryStream]] is the
    * same pipeline with `dropDuplicatesWithinWatermark`, whose dedup
    * state is BOUNDED by the event-time watermark — the only way
    * streaming dedup survives an unbounded key space (an unbounded
    * `dropDuplicates` state grows forever on a real feed).
    */
  def dedupedTypeTotals(events: DataFrame): DataFrame =
    events
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** File-source stream with duplicated deliveries already in the input;
    * watermark-bounded dedup + per-type totals into a memory sink.
    */
  def runDedupDeliveryStream(spark: SparkSession, inputGlob: String, queryName: String): Unit = {
    val deduped = eventStream(spark, inputGlob)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    Streams.drain(deduped, Streams.Memory(queryName, OutputMode.Complete()))
  }

  /** Streaming as-of enrichment: each micro-batch of events is enriched
    * with the most recent static-dimension row at or before its event
    * time, THROUGH THE CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsofJoinExec]]) — `foreachBatch` hands every
    * micro-batch over as a plain DataFrame, so the batch operator (and
    * its exchange-free bucketed layout) serves streaming unchanged.
    * Because the as-of is against a STATIC right side, per-batch
    * enrichment equals the full-batch run row for row (StreamingSpec
    * asserts it); per-batch output goes to partition-scoped parquet
    * appends, the same sink discipline as the CDC apply.
    */
  def runAsofEnrichStream(
      spark: SparkSession, inputGlob: String, dim: DataFrame, outDir: String): Unit =
    Streams.drain(
      Streams.fileStream(spark, eventsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(None, Streams.nonEmpty { (batch, _) =>
        val enriched = graft.ops.Asof.joinLastExec(
          normalize(batch).select("event_id", "user_id", "ts"),
          dim, "user_id", "ts", Seq("last_purchase"))
        enriched.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outDir)
      }))

  // --- driver-contract query entries ---------------------------------------

  def qStreamDedup(spark: SparkSession, dir: String): DataFrame =
    dedupedTypeTotals(withDuplicateDelivery(graft.Tables.events(spark, dir)))
      .orderBy("event_type")

  def qStreamWindow(spark: SparkSession, dir: String): DataFrame =
    hourlyTypeCounts(graft.Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val typed = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    sessionizeBatch(typed).toDF()
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** Sessionization via the BUILT-IN `session_window` generator —
    * preference order (a): the same 30-minute-gap semantics as the
    * custom [[sessionize]] (flatMapGroupsWithState) expressed as a plain
    * windowed aggregation, which Spark executes with partial aggregation
    * and per-key session merging after ONE exchange on user_id, and
    * which is streaming-ready (watermark + append) with state merging
    * handled by the engine. Bounds emitted as min/max event time so the
    * output matches the custom sessionizer and the shared oracle
    * (session_window.end would be last+gap). The two split rules differ
    * only on an EXACT-gap tie (built-in splits at >= gap, custom at >
    * gap) — impossible on microsecond event data.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        min(unix_millis(col("ts"))).as("session_start"),
        max(unix_millis(col("ts"))).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("total_value"))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")

  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(graft.Tables.events(spark, dir))
      .orderBy("user_id", "session_start")

  /** Streaming run of the built-in session windows: append mode emits a
    * session once the watermark passes its close; like every
    * watermark-gated tail, a drained replay needs a heartbeat to flush
    * the final sessions (StreamingSpec stages one on a sentinel user).
    */
  def runSessionWindowStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      sessionWindowAgg(eventStream(spark, inputGlob).withWatermark("ts", "10 minutes")),
      Streams.Memory(queryName, OutputMode.Append()))

  def qStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    viewPurchaseJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("purchase_id", "view_id")
  }

  def qStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    viewConversionRollup(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("user_id")
  }

  def qStreamEnrich(spark: SparkSession, dir: String): DataFrame =
    categoryCounts(graft.Tables.events(spark, dir))
      .orderBy("category")

  def qSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    slidingTypeCounts(graft.Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  /** Hourly distinct users as a mergeable HLL sketch — THE distinct
    * count a stream can actually compute: exact COUNT(DISTINCT) is
    * unsupported in streaming aggregation (its state is unbounded per
    * group and not mergeable), while the sketch buffer is fixed-size
    * state the streaming aggregate checkpoints like any other. The
    * batch and stream forms share this one definition; estimates are
    * deterministic register merges, so stream == batch EXACTLY
    * (StreamingSpec) even though both are approximations of the truth.
    */
  def hourlyDistinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.Hll.regAgg(col("user_id")).as("sk"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        graft.functions.Hll.estimate(col("sk")).as("est_users"))

  def qStreamDistinct(spark: SparkSession, dir: String): DataFrame =
    hourlyDistinctUsers(graft.Tables.events(spark, dir))
      .orderBy("window_start")

  /** Shared batch/stream histogram sketch: per hour window, per $5
    * bucket (exact integer cents) counts of the event value — the
    * QUANTILE sibling of [[hourlyDistinctUsers]] in the streaming
    * sketch-warehouse pair (the batch rollup story is
    * [[graft.queries.Parity.qHistView]]). Append-mode-safe: the group
    * key is (window, bucket), so per-window state is one counter per
    * occupied bucket (bounded by value-range/width, not row count) and
    * rows finalize when the watermark passes the window close.
    */
  def hourlyValueHist(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .select(col("ts"),
        (col("value").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .groupBy(window(col("ts"), "1 hour").as("w"), expr("cents div 500").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("bucket"), col("cnt"))

  /** Driver entry: per-hour approximate (bucket-midpoint) lower-median
    * value from the histogram sketch — the rank rule is the shared
    * [[graft.queries.Parity.histMedianBucket]], so the streaming and
    * batch sketch surfaces cannot drift. StreamingSpec asserts the
    * streamed histogram rows equal this batch sketch exactly.
    */
  def qStreamHist(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Parity
      .histMedianBucket(hourlyValueHist(graft.Tables.events(spark, dir)), "window_start")
      .select(col("window_start"), col("n_values"),
        ((col("mb") * 500 + 250).cast("double") / 100).as("approx_median"))
      .orderBy("window_start")

  /** Streaming run of [[hourlyValueHist]]: watermark + append mode,
    * bucket-count state per open window, results to a memory table.
    */
  def runValueHistStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      hourlyValueHist(eventStream(spark, inputGlob, oneFilePerTrigger = true)
        .withWatermark("ts", "2 hours")),
      Streams.Memory(queryName, OutputMode.Append()))

  /** Streaming run of [[hourlyDistinctUsers]]: watermark + append mode,
    * sketch state per open window, results to a named memory table.
    */
  def runDistinctUsersStream(spark: SparkSession, inputGlob: String, queryName: String): Unit =
    Streams.drain(
      hourlyDistinctUsers(eventStream(spark, inputGlob, oneFilePerTrigger = true)
        .withWatermark("ts", "2 hours")),
      Streams.Memory(queryName, OutputMode.Append()))

  /** Streaming maintenance of the corpus heavy-hitter candidate summary
    * — the frequency companion to the HLL distinct view: as document
    * files arrive, a Complete-mode global aggregate folds every token
    * into ONE bounded Misra-Gries summary
    * ([[graft.functions.MisraGriesAgg]] running as streaming state —
    * the state store persists the serialized summary between
    * micro-batches) plus the exact token total. The summary's
    * candidates are a provable superset of every token above
    * n/(capacity+1) REGARDLESS of arrival order or batch boundaries, so
    * a downstream confirm pass over the candidates reproduces the batch
    * [[graft.ext.Text.textHeavyHitters]] answer exactly
    * (StreamingSpec asserts superset + bounded state + confirm
    * equality). Capacity 1023 keeps the summary error n/1024 below the
    * 0.002 support the batch query screens at.
    */
  /** documents.parquet physical schema, shared by every document file
    * stream so the two readers cannot drift.
    */
  val docsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def runHeavyHitterStream(spark: SparkSession, inputGlob: String, queryName: String,
      capacity: Int = 1023): Unit = {
    import graft.functions.{MisraGriesAgg, TextFns}
    val agg = Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true)
      .select(explode(TextFns.tokens(lower(col("text")))).as("tok"))
      .agg(
        MisraGriesAgg.candidates(col("tok"), capacity).as("cands"),
        count(lit(1)).as("n_total"))
    Streams.drain(agg, Streams.Memory(queryName, OutputMode.Complete()))
  }

  /** Per-group distinct-shingle HLL sketch: registers + per-doc-distinct
    * shingle occurrence count, over the dedup-unit word-3-shingle hashes
    * ([[graft.functions.SketchFns.shingleHashSet]] — one compiled pass,
    * no string materialization). The ONE sketch both the batch curve
    * ([[qStreamNovelty]]) and the streaming runner
    * ([[runNoveltyStream]]) fold, so batch and ingest-time novelty
    * cannot drift.
    */
  def shingleSketch(docs: DataFrame, groupCol: String): DataFrame =
    docs
      .select(col(groupCol),
        explode(graft.functions.SketchFns.shingleHashSet(col("text"), 3)).as("s"))
      .groupBy(col(groupCol))
      .agg(graft.functions.Hll.regAgg(col("s")).as("sk"),
        count(lit(1)).as("n_shingles"))

  /** Corpus-novelty sketch curve — the HLL twin of the exact
    * [[graft.ext.Text.textHeaps]] shingle columns, and the form that
    * runs at INGEST TIME with fixed-size state: per doc_id decile
    * bucket (the shared [[graft.ext.Text.docBuckets]] rule), the
    * estimated cumulative distinct shingle count and its per-bucket
    * delta, from MERGEABLE per-bucket registers. The estimate of a
    * prefix union comes from merging the per-bucket sketches — never
    * re-scanning earlier buckets — which is exactly why a stream can
    * maintain it: [[runNoveltyStream]] folds each arriving file into
    * one persisted register file and emits the same numbers per
    * micro-batch (StreamingSpec asserts stream == batch on a 4-file
    * replay). Register merges are deterministic, so the curve is
    * DuckDB-oracle-checkable end to end despite being an approximation.
    *
    * Scale shape: the corpus-sized work is the one compiled shingle
    * pass absorbed by the register aggregate (4096 bytes of state per
    * bucket); the prefix self-join and estimates run on ≤10·10 rows.
    */
  def qStreamNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hll
    val perBucket = shingleSketch(
      graft.ext.Text.docBuckets(graft.Tables.documents(spark, dir)), "bucket")
    val ks = perBucket.select(col("bucket").as("k"))
    val cum = perBucket.join(ks, col("bucket") <= col("k"))
      .groupBy(col("k"))
      .agg(Hll.mergeAgg(col("sk")).as("msk"))
      .select(col("k").as("bucket"), Hll.estimate(col("msk")).as("est_cum_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
    perBucket.select(col("bucket"), col("n_shingles"))
      .join(cum, "bucket")
      .withColumn("est_new_types",
        col("est_cum_types") - coalesce(lag(col("est_cum_types"), 1).over(w), lit(0L)))
      .select(col("bucket"), col("n_shingles"), col("est_cum_types"), col("est_new_types"))
      .orderBy("bucket")
  }

  /** Ingest-time novelty monitor: each arriving document file folds into
    * a BATCH-KEYED 4096-byte register file (regs_<batchId>.bin, previous
    * id pruned to keep exactly two on disk) and appends a batch-keyed row
    * (batch_id, n_shingles, est_cum_types, est_new_types) — "how much of
    * this delivery have we effectively seen before", at any corpus size,
    * with state that never grows. Batch-keyed (not one mutable file)
    * because foreachBatch is at-least-once: a replayed batch must
    * re-read its PREDECESSOR's registers, not a state that already
    * contains itself, or its novelty delta collapses to ~0 — keyed
    * files make the replay rewrite identical contents. Registers are
    * deterministic merges, so the emitted rows equal the batch prefix
    * estimates over the same arrival slices regardless of batch
    * boundaries.
    */
  def runNoveltyStream(
      spark: SparkSession, inputGlob: String, regsPath: String,
      outDir: String): Unit = {
    import graft.functions.HllSketch
    Streams.drain(
      Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(s"$regsPath/_stream_checkpoint"), Streams.nonEmpty {
        (batch, batchId) =>
          val b = shingleSketch(batch.withColumn("g", lit(1)), "g")
            .select(col("sk"), col("n_shingles"))
            .first()
          val (bsk, bn) = (b.getAs[Array[Byte]](0), b.getLong(1))
          val (est, prevEst) = Streams.batchKeyed(regsPath, "regs", "bin", batchId) { prev =>
            val prevEst = prev.map(HllSketch.estimate).getOrElse(0L)
            // elementwise-max merge mutates its first argument
            val merged = prev.map { p => HllSketch.merge(p, bsk); p }.getOrElse(bsk)
            (merged, (HllSketch.estimate(merged), prevEst))
          }
          import spark.implicits._
          writeBatch(Seq((batchId, bn, est, est - prevEst))
            .toDF("batch_id", "n_shingles", "est_cum_types", "est_new_types"), outDir, batchId)
      }))
  }

  /** Per-group per-source char sums — the ONE composition sketch both
    * the batch mix monitor ([[qStreamMix]]) and its ingest runner
    * ([[runMixStream]]) fold; bounded by groups×sources.
    */
  def sourceMixSketch(docs: DataFrame, groupCol: String): DataFrame =
    docs.groupBy(col(groupCol), col("source"))
      .agg(sum(col("n_chars")).as("chars"))

  /** Corpus-composition monitor — the mixture sibling of
    * [[qStreamNovelty]] in the ingest-monitor pair (novelty = content
    * freshness; this = composition): per doc_id decile bucket (the
    * shared [[graft.ext.Text.docBuckets]] rule), the total-variation
    * distance between the CUMULATIVE arrived char mix and the registered
    * α=0.5 target mixture (`q_mix_weights`' 6-dp target_share), plus the
    * worst-deviating source. The alarm reading: tvd spiking above the
    * whole-corpus baseline row (bucket 9) means a delivery is skewing
    * composition; the baseline itself is the resampling gap the mixture
    * weights exist to close.
    *
    * Exactness: cumulative char sums are integers and each share one
    * IEEE division; per-source |share − target| quantizes to
    * DECIMAL(18,12) BEFORE the source sum and the argmax (absorbing any
    * pow() last-ulp difference inside the 6-dp-rounded target), so the
    * curve is oracle-exact. Scale shape: corpus-sized work is the one
    * (bucket, source) char aggregate; everything after runs on ≤10×
    * sources rows.
    */
  def qStreamMix(spark: SparkSession, dir: String): DataFrame =
    mixMonitorDf(graft.Tables.documents(spark, dir))

  def mixMonitorDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d12 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 12)
    val target = graft.ext.Curation.mixtureWeights(docs, 0.5)
      .select(col("source"), col("target_share"))
    val byBucket = sourceMixSketch(graft.ext.Text.docBuckets(docs), "bucket")
    // dense bucket×source grid so a source absent from early buckets
    // still contributes its full target share to the distance; the char
    // join is null-SAFE (the splitReportDf discipline) — a NULL source
    // is a real category whose arrived chars must land on its own
    // target row, not coalesce to 0 while the target share still counts
    val grid = byBucket.select(col("bucket")).distinct()
      .crossJoin(target)
      .join(byBucket.withColumnRenamed("bucket", "b_bucket")
          .withColumnRenamed("source", "b_source"),
        col("bucket") === col("b_bucket") && col("source") <=> col("b_source"),
        "left")
      .drop("b_bucket", "b_source")
      .withColumn("chars", coalesce(col("chars"), lit(0L)))
    val cumW = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perB = Window.partitionBy(col("bucket"))
    val rk = Window.partitionBy(col("bucket"))
      .orderBy(col("diff").desc, col("source"))
    grid
      .withColumn("cum", sum(col("chars")).over(cumW))
      .withColumn("cum_all", sum(col("cum")).over(perB))
      .withColumn("diff",
        abs(col("cum").cast("double") / col("cum_all") - col("target_share")).cast(d12))
      .withColumn("rk", row_number().over(rk))
      .groupBy(col("bucket"))
      .agg(
        first(col("cum_all")).as("cum_chars"),
        sum(col("diff")).as("tvd2"),
        max(when(col("rk") === 1, col("source"))).as("worst_source"),
        max(when(col("rk") === 1, col("diff"))).as("worst_diff"))
      .select(col("bucket"), col("cum_chars"),
        // halve in DOUBLE (exact exponent shift) — a decimal division
        // could round at engine-chosen scales
        round(col("tvd2").cast("double") / 2.0, 6).as("mix_tvd"),
        col("worst_source"),
        round(col("worst_diff").cast("double"), 6).as("worst_gap"))
      .orderBy("bucket")
  }

  /** Ingest-time mixture monitor: each arriving file folds its per-source
    * char counts into a BATCH-KEYED cumulative counts file (the
    * [[runNoveltyStream]] replay discipline — a replayed batch re-reads
    * its predecessor's counts and rewrites identical rows) and appends
    * (batch_id, cum_chars, mix_tvd, worst_source, worst_gap) against the
    * static target mixture trained on `staticDir`. Per-source counts are
    * the entire state — bounded by the source vocabulary at any corpus
    * size.
    */
  def runMixStream(
      spark: SparkSession, inputGlob: String, staticDir: String,
      statePath: String, outDir: String): Unit = {
    // state and target key on Option[String]: a NULL source is a real
    // category with its own target share and cumulative count (the
    // null-safe rule the batch monitor applies), and Scala null keys
    // would NPE the deterministic sorts below
    val target: Map[Option[String], Double] = graft.ext.Curation
      .mixtureWeights(graft.Tables.documents(spark, staticDir), 0.5)
      .select(col("source"), col("target_share"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    Streams.drain(
      Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(s"$statePath/_stream_checkpoint"), Streams.nonEmpty {
        (batch, batchId) =>
          val bCounts = sourceMixSketch(batch.withColumn("g", lit(1)), "g")
            .select(col("source"), col("chars"))
            .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
          // state format v2: the "mix2_" filename prefix VERSIONS the
          // tagged key encoding below. An unversioned "mix_<id>.tsv"
          // (the pre-tagging release wrote raw keys, where a source
          // literally equal to "-" is ambiguous with NULL) is detected
          // and refused rather than silently reinterpreted (r13 ADVICE)
          // — a live-upgrade operator must drain or migrate old state.
          val legacy = new java.io.File(statePath).list().toSeq
            .filter(f => f.startsWith("mix_") && f.endsWith(".tsv"))
          require(legacy.isEmpty,
            s"runMixStream: unversioned v1 mix state found (${legacy.mkString(", ")}); " +
              "v1 raw keys are ambiguous under the v2 tagged encoding — " +
              "migrate them to mix2_<id>.tsv with '+'-prefixed sources first")
          val merged = Streams.batchKeyed(statePath, "mix2", "tsv", batchId) { bytes =>
            // tagged key encoding so NULL round-trips through the TSV
            // state: "-" = the NULL-source category, "+<source>" = a
            // real source (no real source can collide with the tag)
            val prev: Map[Option[String], Long] =
              bytes.fold(Map.empty[Option[String], Long]) { b =>
                new String(b, "UTF-8").linesIterator
                  .map(_.split("\t", 2))
                  .map(a => (if (a(0) == "-") None else Some(a(0).stripPrefix("+")))
                    -> a(1).toLong).toMap
              }
            val merged = (prev.keySet ++ bCounts.keySet).map(s =>
              s -> (prev.getOrElse(s, 0L) + bCounts.getOrElse(s, 0L))).toMap
            (merged.toSeq.sortBy(_._1)
              .map { case (s, c) => s"${s.fold("-")("+" + _)}\t$c" }
              .mkString("\n").getBytes("UTF-8"), merged)
          }
          val total = merged.values.sum
          val diffs = (target.keySet ++ merged.keySet).toSeq.map { s =>
            val share = merged.getOrElse(s, 0L).toDouble / total
            // the d12 quantization the batch query applies
            s -> BigDecimal(math.abs(share - target.getOrElse(s, 0.0)))
              .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          }
          val tvd = (diffs.map(_._2).sum / 2).toDouble
          // Option ordering (None first) mirrors the batch monitor's
          // asc-nulls-first source tie-break
          val (worstS, worstD) = diffs.sortBy { case (s, d) => (-d, s) }.head
          import spark.implicits._
          writeBatch(Seq((batchId, total, math.floor(tvd * 1e6 + 0.5) / 1e6, worstS.orNull,
            math.floor(worstD.toDouble * 1e6 + 0.5) / 1e6))
            .toDF("batch_id", "cum_chars", "mix_tvd", "worst_source", "worst_gap"),
            outDir, batchId)
      }))
  }

  /** Ingest-time CORPUS-BUILD monitor — the flagship funnel
    * ([[graft.ext.Curation.qCorpusBuild]]) recomputed cumulatively at
    * every arrival checkpoint: per doc_id decile bucket (the shared
    * [[graft.ext.Text.docBuckets]] rule), the docs and chars surviving
    * each curation stage among everything arrived so far. This is how a
    * real 100 TB corpus is actually assembled — data arrives in
    * deliveries, and the funnel is the reading that says whether the
    * latest delivery is worth its cost (a delivery whose rows die at
    * near-dedup or quality buys nothing).
    *
    * Stage semantics are the INGEST-TIME (arrival-stable) forms, so each
    * document's flags are fixed the moment it arrives and every
    * checkpoint row is a prefix sum — exactly what the incremental
    * runner ([[runCorpusBuildStream]]) maintains as bounded state:
    *   - exact dedup: first arrival of a content hash survives (the
    *     batch funnel's min-id rule — identical under id-ordered
    *     ingestion);
    *   - near-dedup: a document is dropped iff it has a verified
    *     jaccard ≥ 0.8 pair with an EARLIER document — the pair's later
    *     endpoint, exactly when [[graft.ext.Dedup.indexIncremental]]
    *     emits it. (The batch funnel's connected-component rule can
    *     differ on transitive chains: a cluster member whose only
    *     direct pairs are LATER docs survives here but not there. The
    *     ingest policy is the one an incremental pipeline can actually
    *     enforce — membership never changes retroactively.)
    *   - decontamination: the benchmark suite is STATIC (the
    *     [[runQuarantineStream]] posture) — grams from the full
    *     registered suite, probed per arriving document;
    *   - quality: the stateless [[graft.ext.Curation.curateGate]].
    *
    * Scale shape: corpus-sized work is the one signal scan, the pair
    * pipeline, and the gram join — each an existing scale-safe shape;
    * the funnel aggregate groups to ≤10 buckets × 5 stages and the
    * cumulative window runs on those rows.
    */
  def qStreamCorpusBuild(spark: SparkSession, dir: String): DataFrame =
    corpusBuildMonitorDf(graft.Tables.documents(spark, dir))

  def corpusBuildMonitorDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ext.{Curation, Dedup, Retrieval}
    val base = graft.ext.Text.docBuckets(docs)
    val corpus = base.filter(col("doc_id") % 100 =!= 0)
    val flagged = Curation.curateSignals(corpus)
      .select(col("doc_id"), col("bucket"), col("n_chars"),
        (col("rn") === 1).as("e_ok"), Curation.curateGate.as("q_ok"))
    // pairs over the FULL table (benchmark docs can be the earlier
    // partner — the batch funnel's population); a doc is nd-dropped iff
    // it is the later endpoint of any verified pair
    val ndDropped = Dedup.minhashPairsDf(docs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    val contam = Retrieval.quarantine(docs, Retrieval.benchGramSet(docs))
      .select(col("doc_id"), lit(true).as("ct"))
    val f = flagged
      .join(ndDropped, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("nd_ok", col("nd").isNull)
      .withColumn("ct_ok", col("ct").isNull)
    val conds = Seq(
      "0_raw" -> lit(true),
      "1_exact_dedup" -> col("e_ok"),
      "2_near_dedup" -> (col("e_ok") && col("nd_ok")),
      "3_decontaminated" -> (col("e_ok") && col("nd_ok") && col("ct_ok")),
      "4_quality" -> (col("e_ok") && col("nd_ok") && col("ct_ok") && col("q_ok")))
    val aggs = conds.flatMap { case (_, c) => Seq(
        coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(c, col("n_chars"))), lit(0L))) }
      .zipWithIndex.map { case (a, i) => a.as(s"a$i") }
    val perBucket = f.groupBy(col("bucket")).agg(aggs.head, aggs.tail: _*)
    // ≤10 aggregated rows — a pinned bounded-input global window
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = conds.indices.flatMap(i => Seq(
      sum(col(s"a${2 * i}")).over(cum).as(s"c${2 * i}"),
      sum(col(s"a${2 * i + 1}")).over(cum).as(s"c${2 * i + 1}")))
    val rows = conds.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("stage"),
        col(s"c${2 * i}").as("n_docs"), col(s"c${2 * i + 1}").as("n_chars"))
    }
    perBucket.select(col("bucket") +: cums: _*)
      .select(col("bucket"), explode(array(rows: _*)).as("s"))
      .select(col("bucket"), col("s.*"))
      .orderBy("bucket", "stage")
  }

  /** Ingest-time corpus-build runner — [[qStreamCorpusBuild]] maintained
    * incrementally per arriving file, composing the engine's persistent-
    * state streaming pieces in their production order:
    *
    *   1. near-dup probe-and-append against the SAME MinHash index
    *      format as [[runNearDupStream]] ([[graft.ext.Dedup
    *      .indexIncremental]] — per-batch cost proportional to the
    *      batch and its candidates, never the corpus; caller
    *      initializes the index, empty for a fresh build);
    *   2. exact-dedup against a persistent content-hash set, delta-
    *      appended batch-keyed (`hashes/batch=N`, overwritten on
    *      replay — a replayed batch reads only STRICTLY EARLIER
    *      batches' hashes, so its flags are reproduced exactly);
    *   3. decontamination against the STATIC benchmark gram set from
    *      `staticDir` (the [[runQuarantineStream]] posture — bounded,
    *      checkpointed once, re-read per batch);
    *   4. the stateless [[graft.ext.Curation.curateGate]];
    *   5. cumulative funnel totals in a batch-keyed TSV (the
    *      [[runMixStream]] replay discipline: a replayed batch re-reads
    *      its predecessor's totals and rewrites identical rows).
    *
    * Emits (batch_id, stage, n_docs, n_chars) per arrival — the same
    * cumulative funnel the batch monitor reports per bucket, and
    * StreamingSpec asserts row equality when arrivals align with the
    * monitor's decile checkpoints, plus replay idempotence. Assumes
    * id-ordered ingestion (the ingest-monitor family's standing
    * arrival model: doc_id encodes arrival).
    */
  def runCorpusBuildStream(
      spark: SparkSession, inputGlob: String, staticDir: String,
      indexPath: String, statePath: String, outDir: String,
      compactTrigger: Int = graft.ext.Dedup.CompactTriggerFiles): Unit = {
    import graft.ext.{Curation, Dedup, Retrieval}
    val benchGrams = Retrieval
      .benchGramSet(graft.Tables.documents(spark, staticDir))
      .localCheckpoint()
    val stageNames = Seq(
      "0_raw", "1_exact_dedup", "2_near_dedup", "3_decontaminated", "4_quality")
    Streams.drain(
      Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(s"$statePath/_stream_checkpoint"), Streams.nonEmpty {
        (batch, batchId) =>
          val b = batch.localCheckpoint()
          // 1. probe-and-append: the pair SET is replay-stable (a
          //    replayed batch probes its own appended sketches, but
          //    same-id candidates are excluded and distinct() restores
          //    the set; the duplicate sketches are the documented
          //    benign inflation of the near-dup runner)
          // compactTrigger = Int.MaxValue when an external maintenance
          // loop owns folds (the runNearDupStream contract)
          val ndDropped = Dedup.indexIncremental(b, indexPath,
              compactTrigger = compactTrigger, appendToken = s"b$batchId")
            .select(col("doc_b").as("doc_id")).distinct()
            .withColumn("nd", lit(true))
          // 2. content hashes from STRICTLY EARLIER batches — read
          //    live ∪ delta (graft.ops.StoreIO): the store may hold
          //    folded state plus in-flight delta children
          val hashesRoot = s"$statePath/hashes"
          val seen = graft.ops.StoreIO
            .read(spark, hashesRoot, Some(Dedup.HashStoreDdl))
            .filter(col("batch") < batchId).select(col("h")).distinct()
            .withColumn("old", lit(true))
          val corpus = b.filter(col("doc_id") % 100 =!= 0)
          val contam = Retrieval.quarantine(b, benchGrams)
            .select(col("doc_id"), lit(true).as("ct"))
          val f = Curation.curateSignals(corpus)
            .withColumn("h", md5(col("text").cast("binary")))
            .select(col("doc_id"), col("n_chars"), col("h"), col("rn"),
              Curation.curateGate.as("q_ok"))
            .join(seen, Seq("h"), "left")
            .join(ndDropped, Seq("doc_id"), "left")
            .join(contam, Seq("doc_id"), "left")
            .withColumn("e_ok", col("rn") === 1 && col("old").isNull)
            .withColumn("nd_ok", col("nd").isNull)
            .withColumn("ct_ok", col("ct").isNull)
          val conds = Seq(
            lit(true),
            col("e_ok"),
            col("e_ok") && col("nd_ok"),
            col("e_ok") && col("nd_ok") && col("ct_ok"),
            col("e_ok") && col("nd_ok") && col("ct_ok") && col("q_ok"))
          val aggs = conds.flatMap(c => Seq(
            coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(c, col("n_chars"))), lit(0L))))
            .zipWithIndex.map { case (a, i) => a.as(s"a$i") }
          val incRow = f.agg(aggs.head, aggs.tail: _*).collect()(0)
          val inc = stageNames.indices
            .map(i => (incRow.getLong(2 * i), incRow.getLong(2 * i + 1)))
          // 3. delta-append this batch's hashes through StoreIO with
          //    the batch id as idempotence token (a replayed batch
          //    overwrites its own child — the old batch-keyed-overwrite
          //    semantics, now OUTSIDE the live version a maintenance
          //    publish may be replacing). Per-doc (h, doc_id) rows — doc-keyed
          //    state is what makes the store RETRACTABLE
          //    (graft.ext.Dedup.deleteApply anti-joins on doc_id); the
          //    read path above still takes DISTINCT h, so flag
          //    semantics are unchanged
          graft.ops.StoreIO.append(
            corpus.select(md5(col("text").cast("binary")).as("h"),
              col("doc_id"), lit(batchId).as("batch")),
            hashesRoot, token = s"b$batchId")
          // 4. cumulative totals: predecessor + increments
          val cum = Streams.batchKeyed(statePath, "funnel", "tsv", batchId) { bytes =>
            val prev: Map[String, (Long, Long)] =
              bytes.fold(Map.empty[String, (Long, Long)]) { b =>
                new String(b, "UTF-8").linesIterator.map(_.split("\t"))
                  .map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
              }
            val cum = stageNames.zip(inc).map { case (s, (d, c)) =>
              val (pd, pc) = prev.getOrElse(s, (0L, 0L))
              (s, pd + d, pc + c)
            }
            (cum.map { case (s, d, c) => s"$s\t$d\t$c" }
              .mkString("\n").getBytes("UTF-8"), cum)
          }
          // 5. batch-keyed output rows
          import spark.implicits._
          writeBatch(cum.map { case (s, d, c) => (batchId, s, d, c) }
            .toDF("batch_id", "stage", "n_docs", "n_chars"), outDir, batchId)
      }))
  }

  /** Streaming DELETE APPLY — the right-to-be-forgotten loop closed:
    * delete requests arrive as a file stream of doc_id parquet files (a
    * takedown feed), and each micro-batch propagates its delete set
    * through every persistent store the ingest pipeline maintains — the
    * MinHash sketch index, the verified-pair artifact, and (when their
    * paths are given) the corpus-build content-hash delta store and the
    * pack manifest — via [[graft.ext.Dedup.deleteApply]], then emits the batch's
    * re-election delta batch-keyed to `outDir`. Because every store is
    * document-keyed and filtering equals a rebuild on survivors, the
    * post-stream state equals a from-scratch rebuild on the surviving
    * corpus REGARDLESS of how the delete set splits across batches
    * (StreamingSpec asserts store-level row equality and that the
    * composed per-batch deltas land on the rebuild's cluster labels).
    *
    * Replay semantics: the state apply is naturally idempotent (ids
    * already removed filter to a no-op); a REPLAYED batch's re-emitted
    * delta is empty (its label changes already happened), which the
    * batch-keyed overwrite records honestly — downstream consumers of
    * the delta feed must treat it as at-least-once applied, exactly the
    * contract of the near-dup stream's index appends.
    */
  def runDeleteApply(
      spark: SparkSession, inputGlob: String, indexPath: String,
      pairsPath: String, hashesRoot: Option[String], outDir: String,
      checkpointDir: String, manifestPath: Option[String] = None): Unit =
    Streams.drain(
      Streams.fileStream(spark, deleteIdsSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(checkpointDir), Streams.nonEmpty { (batch, batchId) =>
        writeBatch(graft.ext.Dedup.deleteApply(batch, indexPath, pairsPath,
          hashesRoot, manifestPath), outDir, batchId)
      }))

  /** Streaming TOMBSTONE takedowns — the per-arrival form of the
    * delete loop and the cheap half of the rewrite-vs-tombstone
    * economics (`q_delete_economics`): delete requests arrive as a
    * file stream and each micro-batch lands as ONE tombstone append
    * (O(batch); token = batch id, so a replayed batch overwrites its
    * own delta child — exactly-once tombstone state from
    * at-least-once delivery). Served reads
    * ([[graft.ext.Dedup.pairsServed]] / `docStoreServed` /
    * [[graft.ext.Ivf.servedMinus]]) observe every applied takedown
    * immediately; the physical rewrite is deferred to
    * [[graft.ext.Dedup.tombstoneCompact]] at maintenance cadence —
    * per-takedown cost drops from a corpus rewrite
    * ([[runDeleteApply]]) to a delete-sized append. StreamingSpec
    * asserts post-stream served views ≡ a from-scratch rebuild on the
    * survivors and compaction ≡ the rewrite state.
    */
  def runTombstoneStream(
      spark: SparkSession, inputGlob: String, tombsPath: String,
      checkpointDir: String): Unit =
    Streams.drain(
      Streams.fileStream(spark, deleteIdsSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(checkpointDir), Streams.nonEmpty { (batch, batchId) =>
        graft.ext.Dedup.tombstoneAppend(batch, tombsPath, token = s"b$batchId")
      }))

  /** Streaming NEAR-DUPLICATE detection — the ingest-time face of the
    * persistent MinHash index ([[graft.ext.Dedup.indexIncremental]]):
    * documents arrive as a file stream, each micro-batch sketches ONLY
    * its own rows, probes the accumulated index (and itself, for
    * intra-batch pairs), appends verified pairs to `outDir`, and appends
    * its sketches to the index — same band/shingle tables, same
    * compaction hygiene as the daily-batch path, so batch and streaming
    * ingestion share one index format. Every near-dup pair is emitted
    * exactly when its LATER endpoint arrives, so the union over
    * micro-batches equals the full-corpus [[graft.ext.Dedup.dedupMinhash]]
    * REGARDLESS of arrival order or batch boundaries (StreamingSpec
    * asserts the equivalence on a 4-batch replay). At 100 TB this is the
    * freshness story: per-arrival cost is proportional to the batch and
    * its candidates, never the corpus.
    */
  def runNearDupStream(
      spark: SparkSession, inputGlob: String, indexPath: String,
      outDir: String,
      compactTrigger: Int = graft.ext.Dedup.CompactTriggerFiles): Unit =
    // A DURABLE checkpoint is part of the contract: without one a
    // restart forgets which files were processed, replays them, and the
    // replayed batches double-append both pairs and index sketches —
    // the exactly-once union becomes at-least-once. Living next to the
    // index keeps the two halves of the state (processed-file log,
    // accumulated sketches) on the same storage.
    Streams.drain(
      Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(s"$indexPath/_stream_checkpoint"), Streams.nonEmpty {
        (batch, batchId) =>
          // batch-keyed OVERWRITE makes the pair output idempotent under
          // foreachBatch's retry-on-failure (a replayed batch rewrites
          // its own directory instead of appending a duplicate). The
          // index append carries the batch id as its delta-child token
          // (graft.ops.StoreIO), so a replayed batch OVERWRITES its own
          // sketch child instead of double-appending, and it lands in
          // the delta directory, never the live version a maintenance
          // publish is replacing. Retry-idempotence holds because the in-stream
          // fold runs BEFORE the append (a fold can never retire the
          // current batch's child); the residual is a crash INSIDE a
          // fold — the documented fold caveat, audit-visible. A stream
          // deployed alongside an EXTERNAL maintenance loop must pass
          // compactTrigger = Int.MaxValue and let that loop own every
          // fold (StoreIO's single-fold-actor contract: folds are
          // rewrites and rewrites are lost-update-prone against each
          // other).
          writeBatch(graft.ext.Dedup.indexIncremental(batch, indexPath,
            compactTrigger = compactTrigger, appendToken = s"b$batchId"), outDir, batchId)
      }))

  /** Streaming ingest-time DECONTAMINATION guard — the filter face of
    * `q_contamination`: arriving corpus documents probe the static
    * benchmark word-5-gram set and every document sharing a gram lands
    * in a quarantine output, batch-keyed for idempotent retries (same
    * discipline as [[runNearDupStream]]). Because the benchmark side is
    * STATIC and the check is stateless per document, this needs no
    * state store, no watermark, and no cross-batch memory: the union of
    * per-micro-batch quarantines equals the batch
    * [[graft.ext.Retrieval.quarantine]] EXACTLY (StreamingSpec replays
    * a 4-batch arrival and asserts it), which is the property that lets
    * the same guard run at daily-batch or per-file cadence unchanged.
    * The benchmark grams are computed ONCE outside the stream and
    * localCheckpoint'd — bounded by the eval suite, re-read per batch,
    * never recomputed from text.
    */
  def runQuarantineStream(
      spark: SparkSession, inputGlob: String, staticDir: String,
      outDir: String, checkpointDir: String): Unit = {
    val benchGrams = graft.ext.Retrieval
      .benchGramSet(graft.Tables.documents(spark, staticDir))
      .localCheckpoint()
    Streams.drain(
      Streams.fileStream(spark, docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(checkpointDir), Streams.nonEmpty { (batch, batchId) =>
        writeBatch(graft.ext.Retrieval.quarantine(batch, benchGrams), outDir, batchId)
      }))
  }

  /** embeddings.parquet physical schema, for staged arrival feeds. */
  val embRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Delete-request feed schema: one doc_id per takedown. */
  val deleteIdsSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType, nullable = false)))

  /** Batch-keyed overwrite of one micro-batch's output rows: a replayed
    * batch rewrites its own directory instead of appending a duplicate.
    */
  private def writeBatch(rows: DataFrame, outDir: String, batchId: Long): Unit =
    rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")

  /** Ingest-time EMBEDDING-DRIFT monitor — the vector-space member of the
    * ingest-monitor family (novelty = content freshness, mix =
    * composition, corpus build = the funnel; this = does the arriving
    * embedding distribution still look like the one the ANN index was
    * built for): per vec_id decile bucket (the [[graft.ext.Text.docBuckets]]
    * rule on vec_id), the CUMULATIVE arrivals' mean quantization
    * distortion 1 − cos(x, assigned centroid) under the frozen coarse
    * quantizer, the total-variation distance between the cumulative
    * arrived list-occupancy mix and the index's base occupancy, and the
    * worst-deviating list. The alarm reading: occ_tvd spiking means
    * arrivals concentrate on lists the index did not balance for (probe
    * cost skews); mean_dist climbing with occ_tvd flat means a new mode
    * far from EVERY centroid ([[graft.ext.Ivf.ivfDriftDf]]'s signal,
    * here cumulative at every checkpoint). Bucket 9 (everything
    * arrived) has occ_tvd exactly 0 against its own index — the
    * baseline anchor, like the mix monitor's bucket-9 row.
    *
    * Exactness: per-vector distortions quantize to DECIMAL(20,12)
    * before every sum (the [[graft.ext.Pq]] fold discipline; centroids
    * are the bit-identical [[graft.ext.Ivf.kmeansCte]] artifact);
    * occupancy shares are integer/IEEE divisions and per-list
    * |share − base| quantizes to DECIMAL(18,12) before the sum/argmax
    * (the [[mixMonitorDf]] discipline), so the curve is oracle-exact.
    *
    * Scale shape: corpus-sized work is ONE assignment scan (compiled
    * [[graft.functions.NearestCentroids]] map + k-row broadcast
    * centroid join) into a ≤10×k aggregate, checkpointed; every window
    * below runs on those rows, partitioned — nothing unbounded is
    * single-partition.
    */
  def qStreamIvfDrift(spark: SparkSession, dir: String): DataFrame =
    ivfDriftMonitorDf(graft.Tables.embeddings(spark, dir))

  def ivfDriftMonitorDf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{NearestCentroids, VectorFns}
    val d2012 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 12)
    val d12 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 12)
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = graft.ext.Ivf.trainCentroids(emb)
    val k = cents.length
    val centDf = broadcast(
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("list_id", "cent"))
    val mm = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    // ≤10×k rows, consumed twice (grid + base occupancy): checkpointed
    // so the corpus assignment scan runs once (the ivfDriftDf lesson)
    val pbl = emb.crossJoin(broadcast(mm))
      .withColumn("bucket", expr("(vec_id - lo) * 10 div (hi - lo + 1)").cast("int"))
      .withColumn("list_id", element_at(NearestCentroids(col("embedding"), cents, 1), 1))
      .join(centDf, Seq("list_id"))
      .select(col("bucket"), col("list_id"),
        (lit(1.0) - VectorFns.cosine(col("embedding"), col("cent")))
          .cast(d2012).as("dist"))
      .groupBy(col("bucket"), col("list_id"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("ds"))
      .localCheckpoint()
    val base = pbl.groupBy(col("list_id")).agg(sum(col("n")).as("nb"))
    val tot = pbl.agg(sum(col("n")).as("nt"))
    val cumW = Window.partitionBy(col("list_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perB = Window.partitionBy(col("bucket"))
    val rk = Window.partitionBy(col("bucket"))
      .orderBy(col("diff").desc, col("list_id"))
    pbl.select(col("bucket")).distinct()
      .crossJoin(spark.range(0, k).select(col("id").cast("int").as("list_id")))
      .join(pbl, Seq("bucket", "list_id"), "left")
      .join(broadcast(base), Seq("list_id"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("ds", coalesce(col("ds"), lit(java.math.BigDecimal.ZERO).cast(d2012)))
      .withColumn("cum_n", sum(col("n")).over(cumW))
      .withColumn("cum_ds", sum(col("ds")).over(cumW))
      .withColumn("cum_all", sum(col("cum_n")).over(perB))
      .withColumn("cum_ds_all", sum(col("cum_ds")).over(perB))
      .withColumn("diff",
        abs(col("cum_n").cast("double") / col("cum_all")
          - coalesce(col("nb"), lit(0L)).cast("double") / col("nt")).cast(d12))
      .withColumn("rk", row_number().over(rk))
      .groupBy(col("bucket"))
      .agg(
        first(col("cum_all")).as("arrived"),
        first(col("cum_ds_all")).as("cds"),
        sum(col("diff")).as("tvd2"),
        max(when(col("rk") === 1, col("list_id"))).as("worst_list"),
        max(when(col("rk") === 1, col("diff"))).as("worst_diff"))
      .select(col("bucket"), col("arrived").as("cum_n"),
        round(col("cds").cast("double") / col("arrived"), 8).as("mean_dist"),
        // halve in DOUBLE (exact exponent shift), the mix rule
        round(col("tvd2").cast("double") / 2.0, 6).as("occ_tvd"),
        col("worst_list"),
        round(col("worst_diff").cast("double"), 6).as("worst_gap"))
      .orderBy("bucket")
  }

  /** Ingest runner for the embedding-drift monitor: the frozen model
    * (centroids + base occupancy) trains ONCE on `staticDir`; each
    * arriving file folds its per-list (count, DECIMAL(20,12) distortion
    * sum) into a batch-keyed TSV state (the [[runMixStream]] replay
    * discipline) and appends one report row against the static base
    * occupancy. State is k rows at any corpus size.
    */
  def runIvfDriftStream(
      spark: SparkSession, inputGlob: String, staticDir: String,
      statePath: String, outDir: String): Unit = {
    import graft.functions.{NearestCentroids, VectorFns}
    val d2012 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 12)
    val semb = graft.Tables.embeddings(spark, staticDir)
    val cents = graft.ext.Ivf.trainCentroids(semb)
    val k = cents.length
    val baseCounts: Map[Int, Long] = semb
      .select(element_at(NearestCentroids(col("embedding"), cents, 1), 1).as("list_id"))
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nt = baseCounts.values.sum
    Streams.drain(
      Streams.fileStream(spark, embRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(s"$statePath/_stream_checkpoint"), Streams.nonEmpty {
        (batch, batchId) =>
          val spark2 = batch.sparkSession
          import spark2.implicits._
          val centDf = broadcast(
            cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("list_id", "cent"))
          // the SAME compiled assignment+distortion pipeline the batch
          // monitor runs, over the arriving file only
          val bStats: Map[Int, (Long, java.math.BigDecimal)] = batch
            .select(col("embedding"),
              element_at(NearestCentroids(col("embedding"), cents, 1), 1).as("list_id"))
            .join(centDf, Seq("list_id"))
            .select(col("list_id"),
              (lit(1.0) - VectorFns.cosine(col("embedding"), col("cent")))
                .cast(d2012).as("dist"))
            .groupBy(col("list_id")).agg(count(lit(1)).as("n"), sum(col("dist")).as("ds"))
            .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2))).toMap
          val merged = Streams.batchKeyed(statePath, "drift", "tsv", batchId) { bytes =>
            val prev: Map[Int, (Long, java.math.BigDecimal)] =
              bytes.fold(Map.empty[Int, (Long, java.math.BigDecimal)]) { b =>
                new String(b, "UTF-8").linesIterator
                  .map(_.split("\t", 3))
                  .map(a => a(0).toInt -> (a(1).toLong, new java.math.BigDecimal(a(2))))
                  .toMap
              }
            val merged = (prev.keySet ++ bStats.keySet).map { l =>
              val (pn, pd) = prev.getOrElse(l, (0L, java.math.BigDecimal.ZERO))
              val (bn, bd) = bStats.getOrElse(l, (0L, java.math.BigDecimal.ZERO))
              l -> (pn + bn, pd.add(bd))
            }.toMap
            (merged.toSeq.sortBy(_._1)
              .map { case (l, (n, d)) => s"$l\t$n\t${d.toPlainString}" }
              .mkString("\n").getBytes("UTF-8"), merged)
          }
          val totalN = merged.values.map(_._1).sum
          val dsum = merged.values.map(_._2)
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          def r(x: Double, s: Double) = math.floor(x * s + 0.5) / s
          val meanDist = r(dsum.doubleValue / totalN, 1e8)
          // the d12 quantization the batch query applies to each |gap|
          val diffs = (0 until k).map { l =>
            val share = merged.get(l).map(_._1).getOrElse(0L).toDouble / totalN
            val bshare = baseCounts.getOrElse(l, 0L).toDouble / nt
            l -> BigDecimal(math.abs(share - bshare))
              .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          }
          val tvd = r((diffs.map(_._2).sum / 2).toDouble, 1e6)
          val (wl, wd) = diffs.sortBy { case (l, d) => (-d, l) }.head
          writeBatch(Seq((batchId, totalN, meanDist, tvd, wl, r(wd.toDouble, 1e6)))
            .toDF("batch_id", "cum_n", "mean_dist", "occ_tvd", "worst_list", "worst_gap"),
            outDir, batchId)
      }))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_ivf_drift" -> (qStreamIvfDrift _),
    "q_stream_window" -> (qStreamWindow _),
    // oracle-checked since the deterministic-HLL flip (register-level
    // DuckDB mirror); StreamingSpec additionally pins stream == batch
    // estimate equality and closeness to exact
    "q_stream_distinct" -> (qStreamDistinct _),
    "q_stream_hist" -> (qStreamHist _),
    "q_stream_novelty" -> (qStreamNovelty _),
    "q_stream_mix" -> (qStreamMix _),
    "q_stream_corpus_build" -> (qStreamCorpusBuild _),
    "q_sliding_window" -> (qSlidingWindow _),
    "q_sessionize" -> (qSessionize _),
    "q_session_window" -> (qSessionWindow _),
    "q_milestones" -> (qMilestones _),
    "q_inactivity" -> (qInactivity _),
    "q_burst" -> (qBurst _),
    "q_first_touch" -> (qFirstTouch _),
    "q_stream_join" -> (qStreamJoin _),
    "q_stream_left_join" -> (qStreamLeftJoin _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_stream_dedup" -> (qStreamDedup _),
  )

  val oracles: Map[String, String] = Map(
    // the embedding-drift monitor: the bit-identical kmeansCte quantizer
    // (lists + raw float centroids), the shared vec_id bucket rule,
    // DECIMAL(20,12)-quantized per-vector distortions summed exactly,
    // and the mix monitor's DECIMAL(18,12) |gap| quantization before
    // the TVD sum/argmax — halving and the two means happen in double
    "q_stream_ivf_drift" ->
      s"""WITH ${graft.ext.Ivf.kmeansCte()},
         |mmv AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM embeddings),
         |cvec AS (SELECT c AS list_id, list(v ORDER BY j) AS cent
         |  FROM c${graft.ext.Ivf.Iters} GROUP BY c),
         |vdist AS (
         |  SELECT ${graft.ext.Text.bucketSql("e.vec_id")} AS bucket, l.list_id,
         |         CAST(1.0 - list_cosine_similarity(
         |           e.embedding::DOUBLE[], cv.cent::DOUBLE[]) AS DECIMAL(20,12)) AS dist
         |  FROM lists l JOIN embeddings e USING (vec_id)
         |  JOIN cvec cv USING (list_id) CROSS JOIN mmv),
         |pbl AS (SELECT bucket, list_id, count(*) AS n, sum(dist) AS ds
         |  FROM vdist GROUP BY 1, 2),
         |vbase AS (SELECT list_id, sum(n) AS nb FROM pbl GROUP BY 1),
         |vtot AS (SELECT sum(n) AS nt FROM pbl),
         |vgrid AS (
         |  SELECT b.bucket, l.list_id
         |  FROM (SELECT DISTINCT bucket FROM pbl) b
         |  CROSS JOIN (SELECT CAST(unnest(range(${graft.ext.Ivf.K})) AS INT) AS list_id) l),
         |vcum AS (
         |  SELECT g.bucket, g.list_id,
         |         sum(coalesce(p.n, 0)) OVER w AS cum_n,
         |         sum(coalesce(p.ds, CAST(0 AS DECIMAL(20,12)))) OVER w AS cum_ds,
         |         coalesce(b2.nb, 0) AS nb
         |  FROM vgrid g LEFT JOIN pbl p USING (bucket, list_id)
         |  LEFT JOIN vbase b2 USING (list_id)
         |  WINDOW w AS (PARTITION BY g.list_id ORDER BY g.bucket
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |vper AS (
         |  SELECT bucket, list_id, cum_n, cum_ds,
         |         sum(cum_n) OVER pb AS cum_all,
         |         sum(cum_ds) OVER pb AS cum_ds_all,
         |         CAST(abs(CAST(cum_n AS DOUBLE) / sum(cum_n) OVER pb
         |              - CAST(nb AS DOUBLE) / (SELECT nt FROM vtot))
         |           AS DECIMAL(18,12)) AS diff
         |  FROM vcum
         |  WINDOW pb AS (PARTITION BY bucket)),
         |vrk AS (SELECT *, row_number() OVER (
         |    PARTITION BY bucket ORDER BY diff DESC, list_id) AS rn FROM vper)
         |SELECT bucket,
         |       CAST(max(cum_all) AS BIGINT) AS cum_n,
         |       round(CAST(max(cum_ds_all) AS DOUBLE) / max(cum_all), 8) AS mean_dist,
         |       round(CAST(sum(diff) AS DOUBLE) / 2.0, 6) AS occ_tvd,
         |       CAST(max(CASE WHEN rn = 1 THEN list_id END) AS INT) AS worst_list,
         |       round(CAST(max(CASE WHEN rn = 1 THEN diff END) AS DOUBLE), 6) AS worst_gap
         |FROM vrk GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the novelty sketch: the shared shingle-hash chain (Dedup's ONE
    // mirror of Sketches.shingleBaseHashes) feeds the register-level
    // HLL mirror per prefix scope — hash-green proves the per-bucket
    // registers AND their prefix merges, which is exactly the
    // mergeability the streaming runner relies on
    "q_stream_novelty" -> {
      val m = BigInt(1) << 64
      s"""WITH RECURSIVE ${graft.ext.Dedup.shingleHashCtes("doc_id")},
         |mmn AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |db AS (SELECT doc_id, ${graft.ext.Text.bucketSql("doc_id")} AS bucket
         |       FROM documents CROSS JOIN mmn),
         |dh AS (SELECT db.bucket AS bucket,
         |              CAST(CASE WHEN av.h >= CAST('${BigInt(1) << 63}' AS HUGEINT)
         |                THEN av.h - CAST('$m' AS HUGEINT) ELSE av.h END AS BIGINT) AS uid
         |       FROM sh JOIN av USING (s) JOIN db ON db.doc_id = sh.doc_id),
         |occ AS (SELECT bucket, count(*) AS n_shingles FROM dh GROUP BY 1),
         |ks AS (SELECT DISTINCT bucket AS k FROM db),
         |hin AS (SELECT ks.k AS scope, dh.uid AS uid
         |        FROM dh JOIN ks ON dh.bucket <= ks.k),
         |${graft.functions.HllSketch.estimateCtes("scope")}
         |SELECT o.bucket AS bucket, o.n_shingles AS n_shingles,
         |       e.est_users AS est_cum_types,
         |       e.est_users - coalesce(lag(e.est_users) OVER (ORDER BY o.bucket), 0)
         |         AS est_new_types
         |FROM occ o JOIN hest e ON e.scope = o.bucket
         |ORDER BY bucket""".stripMargin
    },
    // the mix monitor: shared bucket rule + the ONE mixture-target chain
    // (Curation.mixTargetCtes) the registered q_mix_weights oracle uses;
    // per-source |share − target| quantizes to DECIMAL(18,12) before the
    // sum/argmax, halving happens in double
    "q_stream_mix" ->
      s"""WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |db AS (SELECT ${graft.ext.Text.bucketSql("doc_id")} AS bucket, source, n_chars
         |       FROM documents CROSS JOIN mm),
         |bb AS (SELECT bucket, source, CAST(sum(n_chars) AS BIGINT) AS chars
         |       FROM db GROUP BY 1, 2),
         |${graft.ext.Curation.mixTargetCtes},
         |bk AS (SELECT DISTINCT bucket FROM bb),
         |grid AS (
         |  SELECT bk.bucket AS bucket, tgt.source AS source, tgt.target_share AS target_share,
         |         COALESCE(bb.chars, 0) AS chars
         |  FROM bk CROSS JOIN tgt
         |  LEFT JOIN bb ON bb.bucket = bk.bucket
         |    AND bb.source IS NOT DISTINCT FROM tgt.source),
         |c AS (SELECT *, CAST(sum(chars) OVER (PARTITION BY source ORDER BY bucket
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM grid),
         |c2 AS (SELECT *, CAST(sum(cum) OVER (PARTITION BY bucket) AS BIGINT) AS cum_all FROM c),
         |d AS (SELECT bucket, source, cum_all,
         |             CAST(abs(CAST(cum AS DOUBLE) / cum_all - target_share) AS DECIMAL(18,12)) AS diff
         |      FROM c2),
         |drk AS (SELECT *, row_number() OVER (PARTITION BY bucket
         |          ORDER BY diff DESC, source ASC NULLS FIRST) AS rk
         |        FROM d)
         |SELECT bucket, CAST(min(cum_all) AS BIGINT) AS cum_chars,
         |       round(CAST(sum(diff) AS DOUBLE) / 2.0, 6) AS mix_tvd,
         |       max(CASE WHEN rk = 1 THEN source END) AS worst_source,
         |       round(CAST(max(CASE WHEN rk = 1 THEN diff END) AS DOUBLE), 6) AS worst_gap
         |FROM drk GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the ingest corpus-build funnel: the SAME shared fragments as the
    // batch q_corpus_build oracle (minhashPairsCte, gram5Cte,
    // langPredCteBody, gateColsSql, bucketSql — one definition each),
    // with the arrival-stable nd rule (later endpoint of any pair) and
    // per-bucket cumulative sums
    "q_stream_corpus_build" -> {
      import graft.ext.{Curation, Dedup, Retrieval}
      val stages = Seq(
        "0_raw" -> 0, "1_exact_dedup" -> 1, "2_near_dedup" -> 2,
        "3_decontaminated" -> 3, "4_quality" -> 4)
      val filters = Seq("", " FILTER (WHERE e_ok)",
        " FILTER (WHERE e_ok AND nd_ok)",
        " FILTER (WHERE e_ok AND nd_ok AND ct_ok)",
        " FILTER (WHERE e_ok AND nd_ok AND ct_ok AND q_ok)")
      val bkCols = filters.zipWithIndex.map { case (flt, i) =>
        s"count(*)$flt AS d$i, coalesce(sum(n_chars)$flt, 0) AS c$i"
      }.mkString(",\n         |        ".stripMargin)
      val cumCols = stages.map { case (_, i) =>
        s"sum(d$i) OVER cw AS d$i, sum(c$i) OVER cw AS c$i"
      }.mkString(", ")
      val unions = stages.map { case (name, i) =>
        s"""SELECT bucket, '$name' AS stage, CAST(d$i AS BIGINT) AS n_docs,
           |         CAST(c$i AS BIGINT) AS n_chars FROM cumb""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH ${Dedup.minhashPairsCte},
         |${Retrieval.gram5Cte("t")},
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 0),
         |contam AS (SELECT DISTINCT c.doc_id FROM g c JOIN bench USING (g)
         |           WHERE c.doc_id % 100 <> 0),
         |mmcb AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |tl AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
         |       FROM documents WHERE doc_id % 100 <> 0),
         |lp AS (${Curation.langPredCteBody("tl")}),
         |tq AS (SELECT d.doc_id, ${graft.ext.Text.bucketSql("d.doc_id")} AS bucket,
         |         d.n_chars, d.lang,
         |         row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn,
         |         ${Curation.gateColsSql("d.")}
         |       FROM documents d CROSS JOIN mmcb WHERE d.doc_id % 100 <> 0),
         |f AS (SELECT tq.bucket, tq.n_chars,
         |        (tq.rn = 1) AS e_ok,
         |        tq.doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs) AS nd_ok,
         |        tq.doc_id NOT IN (SELECT doc_id FROM contam) AS ct_ok,
         |        (tq.punct_ratio <= 0.2 AND tq.mean_token_len BETWEEN 2.0 AND 15.0
         |          AND lp.lang_pred = tq.lang) AS q_ok
         |      FROM tq JOIN lp ON tq.doc_id = lp.l_doc_id),
         |bk AS (SELECT bucket,
         |        $bkCols
         |       FROM f GROUP BY bucket),
         |cumb AS (SELECT bucket, $cumCols
         |         FROM bk WINDOW cw AS (ORDER BY bucket
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT * FROM (
         |  $unions
         |) ORDER BY bucket, stage""".stripMargin
    },
    // register-level mirror of the deterministic HLL
    // (functions.HllSketch) per epoch-aligned hour window — the same
    // sketch the streaming path maintains as state, so hash-green here
    // plus StreamingSpec's stream==batch assertion pins the whole chain
    "q_stream_distinct" ->
      s"""WITH hin AS (
         |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
         |         user_id AS uid
         |  FROM events WHERE user_id IS NOT NULL),
         |${graft.functions.HllSketch.estimateCtes("window_start")},
         |base AS (
         |  SELECT DISTINCT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start
         |  FROM events)
         |SELECT b.window_start, coalesce(h.est_users, 0) AS est_users
         |FROM base b LEFT JOIN hest h
         |  ON h.window_start IS NOT DISTINCT FROM b.window_start
         |ORDER BY b.window_start""".stripMargin,
    // hour-window $5-bucket histograms and the shared (n+1)/2 rank rule
    // (see q_hist_view) — the streaming sketch's batch form
    "q_stream_hist" ->
      """WITH ev AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT window_start, cents // 500 AS bucket, count(*) AS cnt
        |      FROM ev GROUP BY 1, 2),
        |m AS (SELECT window_start, bucket,
        |        sum(cnt) OVER (PARTITION BY window_start ORDER BY bucket) AS cum,
        |        sum(cnt) OVER (PARTITION BY window_start) AS n
        |      FROM h)
        |SELECT window_start, CAST(min(n) AS BIGINT) AS n_values,
        |       CAST(min(bucket) * 500 + 250 AS DOUBLE) / 100 AS approx_median
        |FROM m WHERE cum >= (n + 1) // 2
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
    // dedup over duplicated delivery restores exactly-once: totals equal
    // the plain per-type totals over the original events
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // each event belongs to the 4 hour-long windows whose epoch-aligned
    // 15-minute starts cover it (mirrors Spark's window() assignment)
    "q_sliding_window" ->
      """WITH e AS (SELECT epoch_ms(ts) AS t, event_type FROM events),
        |w AS (SELECT event_type, (t // 900000) * 900000 - k * 900000 AS ws_ms
        |      FROM e, unnest([0, 1, 2, 3]) AS u(k))
        |SELECT ws_ms // 1000 AS window_start, event_type, count(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_sessionize" -> sessionizeSql,
    // arg-min by (time, id) per (user, type)
    "q_first_touch" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_ms(ts) AS t,
        |                  row_number() OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY epoch_ms(ts), event_id) AS rn
        |           FROM events)
        |SELECT user_id, event_type, event_id AS first_event_id, t AS first_ms
        |FROM e WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // trailing-1h activity count per user, threshold 3 (RANGE frame)
    "q_burst" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t FROM events),
        |w AS (SELECT user_id, event_id,
        |             CAST(count(*) OVER (PARTITION BY user_id ORDER BY t
        |               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS INTEGER) AS n_in_window
        |      FROM e)
        |SELECT user_id, event_id, n_in_window FROM w
        |WHERE n_in_window >= 3 ORDER BY user_id, event_id""".stripMargin,
    // internal >2h gaps between consecutive events per user
    "q_inactivity" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t FROM events),
        |g AS (SELECT user_id, event_id, t,
        |             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
        |      FROM e)
        |SELECT user_id, event_id AS after_event_id, t + 7200000 AS silent_from_ms
        |FROM g WHERE nt - t > 7200000
        |ORDER BY user_id, silent_from_ms""".stripMargin,
    // floor(run/500) crossings over the exact DECIMAL running sum;
    // multiples of 500 are integers so the double floor is exact
    "q_milestones" ->
      """WITH r AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t,
        |         sum(CAST(value AS DECIMAL(18,2))) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(CAST(run AS DOUBLE) / 500.0) AS BIGINT) AS level,
        |         CAST(coalesce(lag(floor(CAST(run AS DOUBLE) / 500.0))
        |           OVER (PARTITION BY user_id ORDER BY t, event_id), 0) AS BIGINT) AS prev_level
        |  FROM r)
        |SELECT user_id, event_id, level FROM l
        |WHERE level > prev_level ORDER BY user_id, event_id""".stripMargin,
    // the built-in session_window has the same gap semantics — one truth
    "q_session_window" -> sessionizeSql,
    "q_stream_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |ORDER BY purchase_id, view_id""".stripMargin,
    "q_stream_left_join" ->
      """WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT v.user_id AS user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |      FROM v LEFT JOIN p ON p.user_id = v.user_id
        |        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |SELECT user_id, count(DISTINCT view_id) AS n_views,
        |       count(purchase_id) AS n_matched_rows,
        |       CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_views
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_enrich" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('click','engagement'),('view','engagement'),('purchase','revenue'),
        |  ('signup','growth'),('error','ops'))
        |SELECT d.category AS category, count(*) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1 ORDER BY category""".stripMargin,
  )

  private lazy val sessionizeSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value FROM events),
      |m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
      |                     THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                                 ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(t) AS session_start, max(t) AS session_end,
      |       CAST(count(*) AS INTEGER) AS n_events,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin
}
