package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.ops.Det
import graft.streaming.LocalCheckpointFiles.startEach

/** Structured Streaming operators over the `events` schema — the streaming
  * twins of the batch queries q15 (tumbling window) and q16 (sessionize).
  *
  * The reference is strictly batch (SURVEY.md §2.9) — this is north-star
  * extension surface. Design for scale: state is bounded by watermarks
  * (late data beyond 10 min is dropped, state for closed windows/sessions
  * is reclaimed), grouping is by user/window key so state shards across
  * executors, and output is append-mode so downstream sinks see each
  * result exactly once.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** State-store record for one user's in-progress session (public:
    * Spark's bean/product encoder requires an accessible constructor).
    * Bounds are MICROSECONDS ([[Micros]]); the field rename from the
    * original ms-unit fields is deliberate so a checkpoint written
    * before the unit change fails LOUDLY on state-schema mismatch
    * instead of silently reinterpreting ms values as micros. */
  case class OpenSession(startUs: Long, endUs: Long, n: Long)

  /** Micro-exact timestamp conversions, in their own Serializable holder
    * because closures shipped to executors reference them (the enclosing
    * module object is not serializable). `getTime` alone truncates to
    * milliseconds, which silently shaved the sub-ms part off every
    * emitted session boundary (the events corpus carries micros; the
    * count-only assertions never noticed, exact session-for-session
    * equality did). */
  private[streaming] object Micros extends Serializable {
    /** Exact MICROSECOND epoch: `getTime/1000` floors to whole seconds,
      * `getNanos` carries the full fractional part. */
    def of(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    /** Ceiling ms of a micro instant — the shared deadline rounding
      * for ms-granular timer APIs: a timer must never fire BEFORE the
      * exact micro deadline, so round up. */
    def ceilMs(us: Long): Long = math.floorDiv(us + 999L, 1000L)

    /** Inverse of [[of]]: rebuild the timestamp with its full
      * microsecond fraction. */
    def ts(us: Long): Timestamp = {
      val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
  }

  /** File-based event stream with the micro-timestamp schema produced by
    * [[graft.tables.Tables.events]] (one parquet dir, new files = new
    * micro-batches). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE"
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Tumbling 1-hour windowed aggregation with a 10-minute watermark —
    * streaming twin of Core.q15Tumbling. Append mode: a window emits once
    * its end passes the watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: watermark-bounded dropDuplicates on event_id —
    * the streaming twin of md5/fingerprint dedup. State holds only ids
    * within the watermark horizon (old ids are evicted), so memory is
    * bounded no matter how long the stream runs. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")

  /** Stream-static enrichment join: each micro-batch joins against a
    * static dimension (broadcast per batch — no stream-side state). */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"),
      "left_outer")

  /** Stream-stream join: purchases matched to the same user's signups
    * within one hour before the purchase. Both sides watermarked + an
    * event-time range bound in the join condition — the two requirements
    * that let Spark evict join state (without them, state grows forever;
    * with them, each side buffers only the watermark horizon). */
  def purchasesWithRecentSignup(events: DataFrame): DataFrame =
    purchaseSignupJoin(events, "inner")

  /** Stream-stream LEFT OUTER interval join —
    * [[purchasesWithRecentSignup]] with watermark-driven NULL emission:
    * every purchase eventually emits. Matched rows emit eagerly, in the
    * micro-batch that pairs them (same as the inner join); a
    * signup-LESS purchase emits exactly ONE NULL-signup row, and only
    * once the watermark has passed its join horizon — until then a
    * matching signup could still legally arrive, so emitting the NULL
    * form earlier would be wrong (and a late match after it would make
    * the purchase emit BOTH forms). Spark derives that horizon from the
    * same two requirements the inner join already needs (both sides
    * watermarked, an event-time range bound in the condition); the NULL
    * emission is the state-EVICTION path itself, so the outer spelling
    * adds no state over the inner one. A signup later than the horizon
    * is discarded (standard late-data rule), never matched, never
    * resurrecting an already-NULL-emitted purchase — `StreamingSpec`
    * pins the emission timing wave-by-wave, across a restart. */
  def purchasesWithSignupOuter(events: DataFrame): DataFrame =
    purchaseSignupJoin(events, "left_outer")

  /** Stream-stream FULL OUTER interval join — BOTH unmatched arms emit
    * at watermark expiry: a signup-less purchase emits one NULL-signup
    * row exactly as in [[purchasesWithSignupOuter]], AND a
    * purchase-less signup emits one NULL-purchase row once the
    * watermark passes ITS horizon. The two horizons differ by the
    * interval's asymmetry: a purchase at t can only match signups in
    * [t − 1h, t], so its state closes when the watermark passes t; a
    * signup at t can match any purchase in [t, t + 1h], so its state —
    * and its NULL emission — waits a full extra hour. Both NULL arms
    * ARE the state-eviction path (no state beyond the inner join's);
    * late rows on either side discard without resurrecting an
    * already-NULL-emitted partner. `user_id` is coalesced across the
    * sides so the signup arm keeps its user. */
  def purchasesWithSignupFull(events: DataFrame): DataFrame =
    purchaseSignupJoinRaw(events, "full_outer")
      .select(col("p_id"),
        coalesce(col("user_id"), col("s_user")).as("user_id"),
        col("p_ts"), col("s_id"), col("s_ts"))

  private def purchaseSignupJoin(events: DataFrame,
      joinType: String): DataFrame =
    purchaseSignupJoinRaw(events, joinType)
      .select(col("p_id"), col("user_id"), col("p_ts"), col("s_id"),
        col("s_ts"))

  private def purchaseSignupJoinRaw(events: DataFrame,
      joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"), joinType)
  }

  /** Running per-user totals through a `foreachBatch` sink — the
    * production pattern for exactly-once upserts into a PLAIN,
    * non-transactional store. Update-mode aggregation emits each key's
    * new total whenever it changes; the batch hook writes those rows into
    * a `batch_id=N` partition using DYNAMIC partition overwrite, so
    * re-processing batch N after a crash rewrites exactly its own
    * partition — idempotent, no dupes, no loss. [[latestTotals]] compacts
    * the changelog to current values (latest batch wins per key). At
    * 100 TB the identical hook body becomes `MERGE INTO` on a
    * transactional table format; the streaming side doesn't change.
    * Aggregation state is bounded by the user-key cardinality (this is
    * the keyed-state contract; unbounded keys → use windowed totals). */
  def userTotalsToChangelog(events: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val totals = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("total_value"))
    startEach(totals, None, outputMode = "update") { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)
    }
  }

  /** Latest-per-key compaction of the changelog written by
    * [[userTotalsToChangelog]]. */
  def latestTotals(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
    spark.read.parquet(outDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Gap-based sessionization with explicit state — streaming twin of
    * Core.q16Sessionize. One OpenSession per active user in the state
    * store; event-time timeout closes sessions when the watermark passes
    * session_end + gap. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    // OpenSession start/end fields carry MICROSECONDS ([[Micros]]) so
    // emitted boundaries are exact; the timeout API is ms-granular, so
    // the deadline rounds UP (a timer must never fire before end+gap).
    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, Micros.ts(s.startUs),
          Micros.ts(s.endUs), s.n))
      }
      val sorted = batch.toArray.sortBy(e => Micros.of(e.ts))
      var closed = List.empty[Session]
      var open = state.getOption
      sorted.foreach { e =>
        val t = Micros.of(e.ts)
        open = open match {
          case Some(s) if t - s.endUs <= gapUs =>
            Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1))
          case Some(s) =>
            closed ::= Session(userId, Micros.ts(s.startUs),
              Micros.ts(s.endUs), s.n)
            Some(OpenSession(t, t, 1))
          case None => Some(OpenSession(t, t, 1))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(Micros.ceilMs(s.endUs + gapUs))
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** State record for [[sessionizeTws]]: the open session (MICROSECOND
    * bounds, [[Micros]]) PLUS the ms-granular event-time timer
    * currently registered for it, so a session update can delete the
    * stale timer before registering the new one (the
    * `transformWithState` API exposes raw timers, not the
    * one-timeout-per-key sugar `GroupState.setTimeoutTimestamp` gives). */
  case class TwsOpen(startUs: Long, endUs: Long, n: Long, timerMs: Long)

  /** Gap-based sessionizer on Spark 4's `transformWithState` arbitrary-
    * state API ([[StatefulProcessor]] + `ValueState` + explicit
    * event-time timers) — the same session contract as [[sessionize]]
    * (which uses the older `flatMapGroupsWithState`), kept as the
    * API-v2 twin because the new surface is what long-lived pipelines
    * should target: typed per-key state primitives (value/list/map),
    * multiple states per key, raw timers, and state-schema evolution —
    * all backed by the RocksDB state store (the only provider
    * `transformWithState` supports), whose changelog checkpointing is
    * the 100 TB-state operability path.
    *
    * Semantics (identical to [[sessionize]], asserted in
    * `StreamingSpec`): events within `gapMinutes` of the session's end
    * extend it; a larger gap closes it and opens a new one; the
    * watermark passing `end + gap` fires the timer that closes an idle
    * session. In-batch closures emit from `handleInputRows`; idle
    * closures emit from `handleExpiredTimer`. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var open: ValueState[TwsOpen] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit =
      open = getHandle.getValueState[TwsOpen]("open",
        Encoders.product[TwsOpen], TTLConfig.NONE)

    private val gapUs = gapMs * 1000L

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val sorted = rows.toArray.sortBy(e => Micros.of(e.ts))
      if (sorted.isEmpty) return Iterator.empty
      var closed = List.empty[Session]
      var cur: Option[TwsOpen] =
        if (open.exists()) Some(open.get()) else None
      val staleTimer = cur.map(_.timerMs)
      sorted.foreach { e =>
        val t = Micros.of(e.ts)
        cur = cur match {
          case Some(s) if t - s.endUs <= gapUs =>
            Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1))
          case Some(s) =>
            closed ::= Session(userId, Micros.ts(s.startUs),
              Micros.ts(s.endUs), s.n)
            Some(TwsOpen(t, t, 1, 0L))
          case None => Some(TwsOpen(t, t, 1, 0L))
        }
      }
      cur.foreach { s =>
        val timerAt = Micros.ceilMs(s.endUs + gapUs)
        staleTimer.filter(old => old != 0L && old != timerAt)
          .foreach(getHandle.deleteTimer)
        if (!staleTimer.contains(timerAt)) getHandle.registerTimer(timerAt)
        open.update(s.copy(timerMs = timerAt))
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(userId: Long,
        timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Session] = {
      // A fired timer may be stale if the session advanced in the same
      // micro-batch that moved the watermark past the OLD deadline (the
      // delete above races the eviction scan within one batch) — only a
      // timer matching the CURRENT deadline closes the session.
      if (open.exists()) {
        val s = open.get()
        if (s.timerMs == expired.getExpiryTimeInMs) {
          open.clear()
          return Iterator(Session(userId, Micros.ts(s.startUs),
            Micros.ts(s.endUs), s.n))
        }
      }
      Iterator.empty
    }
  }

  /** [[sessionize]] re-expressed on the `transformWithState` API — see
    * [[SessionProcessor]]. Requires the RocksDB state store provider on
    * the session (`spark.sql.streaming.stateStore.providerClass`). */
  def sessionizeTws(events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime, OutputMode.Append)
  }

  /** One maintained top-k entry: the (value DESC, event_id ASC) ranking
    * key q67 pins, carried per event type. */
  case class TopEntry(eventId: Long, value: Double)

  /** One emitted top-k row — the maintained leaderboard, re-emitted in
    * full for every key a micro-batch touches. */
  case class TopRow(eventType: String, rnk: Long, eventId: Long,
    value: Double)

  /** Per-event-type top-k maintainer on `transformWithState`'s LIST and
    * MAP state primitives — the streaming twin of q67's incremental
    * top-k, and the `ListState`/`MapState` half of the API-v2 surface
    * ([[SessionProcessor]] covers `ValueState` + timers):
    *
    *  - `ListState[TopEntry]` holds the key's current top-k, kept
    *    sorted and TRUNCATED to k on every update — per-key state is
    *    O(k) forever, the bounded-state contract that makes a
    *    leaderboard over an unbounded stream operable;
    *  - `MapState[Long, Boolean]` indexes the event ids CURRENTLY in
    *    the list, so a REDELIVERED event (the at-least-once file
    *    source's failure mode) is recognized and skipped instead of
    *    occupying two leaderboard slots — membership is point-lookup
    *    state, exactly what MapState exists for (a ValueState of the
    *    whole set would rewrite O(k) per probe). Evicted ids leave the
    *    map with their entry, keeping it O(k) too: a redelivery of an
    *    EVICTED id re-competes by value and loses, which is harmless.
    *
    * Each micro-batch emits the full refreshed top-k for every key it
    * touched; the newest emission per key IS the leaderboard
    * (`StreamingSpec` pins it equal to the batch q67-shape recompute
    * wave-by-wave, across a restart and a redelivered wave). */
  class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, TopRow] {
    import org.apache.spark.sql.streaming.{ListState, MapState, TTLConfig, TimerValues}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var top: ListState[TopEntry] = _
    @transient private var present: MapState[Long, Boolean] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      top = getHandle.getListState[TopEntry]("top",
        Encoders.product[TopEntry], TTLConfig.NONE)
      present = getHandle.getMapState[Long, Boolean]("present",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(eventType: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TopRow] = {
      val cur = top.get().toArray
      // dedup BOTH against the membership map (ids already on the
      // leaderboard from earlier batches) and WITHIN the batch
      // (distinctBy): a redelivery can land in the same micro-batch as
      // the original (crash before batch commit), where the map alone
      // would admit both copies into two slots
      val fresh = rows.filter(e => !present.containsKey(e.event_id))
        .map(e => TopEntry(e.event_id, e.value)).toArray
        .distinctBy(_.eventId)
      // (-value, id): value DESC with event_id ASC tie-break — q67's
      // total order, so the leaderboard is engine-deterministic
      val merged = (cur ++ fresh)
        .sortBy(t => (-t.value, t.eventId)).take(k)
      top.put(merged)
      val keep = merged.map(_.eventId).toSet
      (cur ++ fresh).map(_.eventId).distinct.filterNot(keep)
        .foreach(present.removeKey)
      fresh.map(_.eventId).filter(keep).foreach(present.updateValue(_, true))
      merged.iterator.zipWithIndex.map { case (t, i) =>
        TopRow(eventType, i + 1L, t.eventId, t.value) }
    }
  }

  /** The q67-shape leaderboard as a maintained stream — see
    * [[TopKProcessor]]. `TimeMode.None`: ranking needs no timers or
    * watermark (late rows still compete — a leaderboard has no
    * event-time horizon). RocksDB state store required, as for
    * [[sessionizeTws]]. */
  def maintainTopK(events: Dataset[Event], k: Int = 10): Dataset[TopRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.event_type)
      .transformWithState(new TopKProcessor(k),
        TimeMode.None, OutputMode.Append)
  }

  /** Streaming drift monitor — q146's continuous-ingest twin (the
    * maintainClusters pattern applied to the CUSUM detector): per
    * micro-batch, the carried (event_type, day, n) daily-count relation
    * is maintained with q109's ⊕ algebra (full-outer merge, counts
    * added — only the BATCH is scanned), then q146's integer CUSUM walk
    * recomputes on that ≤types·span relation and the per-type peaks go
    * to the sink. State = the daily-count relation, re-seeded from a
    * persisted copy on restart exactly like maintainClusters' label
    * carry; the corpus itself is never rescanned.
    *
    * Maintenance is value-invisible by construction: the sink's frame
    * is `changePointFromDaily(daily ⊕ batches so far)`, which equals
    * the batch q146 over everything ingested — StreamingSpec asserts
    * that equality after each wave. */
  /** @param initialBatchId highest batchId already folded into
    *   `initialDaily` (−1 for a fresh start). foreachBatch is
    *   at-least-once: after a failure the engine MAY redeliver the last
    *   micro-batch, and an unguarded ⊕ would add its counts twice. The
    *   merge therefore only applies when `batchId > lastApplied` — a
    *   redelivered batch falls through to the sink with the state
    *   unchanged (re-emitting the same frame is harmless; re-adding is
    *   not). On restart, callers that persisted `daily` keyed by batch
    *   pass the persisted id here so the cross-run replay of that same
    *   batch is skipped too. */
  def maintainDriftMonitor(events: DataFrame, initialDaily: DataFrame,
      checkpointDir: String, initialBatchId: Long = -1L)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var daily = initialDaily.localCheckpoint()
    var lastApplied = initialBatchId
    startEach(events, Some(checkpointDir)) { (batch, batchId) =>
      if (batchId > lastApplied) {
        val inc = batch
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        daily = daily.withColumnRenamed("n", "on")
          .join(inc.withColumnRenamed("n", "dn"),
            Seq("event_type", "day"), "full_outer")
          .select(col("event_type"), col("day"),
            (coalesce(col("on"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"))
          .localCheckpoint()
        lastApplied = batchId
      }
      sink(graft.queries.Advanced.changePointFromDaily(daily), batchId)
    }
  }

  /** Streaming robust-outlier-stats maintenance — q249's continuous
    * twin: the carried state is the MERGEABLE (event_type, value, c)
    * value-count relation ([[graft.ext.Report.valueCounts]] — counts
    * add under union), merged per micro-batch with a full-outer
    * count-add; each wave's sink frame is the full q249 median/MAD/
    * fence report over EVERYTHING ingested, recomputed from the
    * ≤|value-domain| state by the SAME [[graft.ext.Report
    * .robustFromCounts]] the batch query uses — equality with a batch
    * rebuild is by construction, and raw events are never rescanned.
    * Replay-guarded exactly like [[maintainDriftMonitor]] (foreachBatch
    * is at-least-once and counts are NOT idempotent); restart re-seeds
    * from the persisted corpus via `initialCounts` + `initialBatchId`. */
  def maintainRobustStats(events: DataFrame, initialCounts: DataFrame,
      checkpointDir: String, initialBatchId: Long = -1L)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var counts = initialCounts.localCheckpoint()
    var lastApplied = initialBatchId
    startEach(events, Some(checkpointDir)) { (batch, batchId) =>
      if (batchId > lastApplied) {
        val inc = graft.ext.Report.valueCounts(
          batch.filter(col("value").isNotNull)
            .select(col("event_type"), col("value")))
        counts = counts.withColumnRenamed("c", "oc")
          .join(inc.withColumnRenamed("c", "nc"),
            Seq("event_type", "value"), "full_outer")
          .select(col("event_type"), col("value"),
            (coalesce(col("oc"), lit(0L)) + coalesce(col("nc"), lit(0L)))
              .as("c"))
          .localCheckpoint()
        lastApplied = batchId
      }
      sink(graft.ext.Report.robustFromCounts(counts), batchId)
    }
  }

  /** Streaming quantile-sketch maintenance — q165's continuous twin:
    * the carried state is the (c, cnt) cent-histogram (the mergeable
    * form [[graft.queries.Sketches.quantileSketchFromCents]] consumes),
    * merged per micro-batch with the ⊕ count-add algebra; each wave's
    * sink frame is the full q165 quantile report over EVERYTHING
    * ingested, recomputed from the ≤|value-domain| state relation —
    * the raw events are never rescanned. Replay-guarded exactly like
    * [[maintainDriftMonitor]] (foreachBatch is at-least-once); restart
    * re-seeds from a persisted histogram via `initialCents` +
    * `initialBatchId`. */
  def maintainQuantileSketch(events: DataFrame, initialCents: DataFrame,
      checkpointDir: String, initialBatchId: Long = -1L)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var cents = initialCents.localCheckpoint()
    var lastApplied = initialBatchId
    startEach(events, Some(checkpointDir)) { (batch, batchId) =>
      if (batchId > lastApplied) {
        val inc = batch
          .select(floor(col("value") * 100).cast("long").as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
        cents = cents.withColumnRenamed("cnt", "oc")
          .join(inc.withColumnRenamed("cnt", "ic"), Seq("c"), "full_outer")
          .select(col("c"),
            (coalesce(col("oc"), lit(0L)) + coalesce(col("ic"), lit(0L)))
              .as("cnt"))
          .localCheckpoint()
        lastApplied = batchId
      }
      sink(graft.queries.Sketches.quantileSketchFromCents(
        batch.sparkSession, cents), batchId)
    }
  }
}
