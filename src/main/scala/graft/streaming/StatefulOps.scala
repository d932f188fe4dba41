package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Arbitrary-state streaming operator (SURVEY §2.2 "stateful streaming
 * ops"; builder brief: `KeyValueGroupedDataset.flatMapGroupsWithState`
 * for custom state): per-vehicle TRIP SEGMENTATION. A vehicle's
 * observation stream splits into trips wherever the gap between
 * successive event times exceeds `gapSec`; the trip counter and the last
 * seen time are explicit keyed state that SURVIVES across micro-batches
 * through the checkpoint — the semantics `session_window` cannot
 * express when the consumer needs a stable per-row trip id rather than
 * an aggregated session row.
 *
 * 100 TB note: state per key is two longs — memory ∝ distinct vehicles
 * (~thousands for a transit fleet), not stream length. For unbounded key
 * spaces add a `GroupStateTimeout` eviction; the fleet key space here is
 * closed, so state is kept for the stream's lifetime like the
 * reference's per-vehicle TimescaleDB rows.
 */
object StatefulOps {

  final case class TripState(lastTsi: Long, tripId: Long)
  final case class TripRow(unique_vehicle_id: String, tsi: Long, trip_id: Long)

  /**
   * Streaming (or batch) trip assignment. Within a micro-batch a group's
   * rows are sorted by event time; across batches the state carries the
   * last event time + current trip id, so a trip spanning a batch
   * boundary keeps its id and a cross-boundary gap opens a new one.
   * Requires event-time-ordered batch arrival (the file/Pulsar source
   * delivers in order; out-of-order *within* a batch is handled by the
   * sort).
   */
  def assignTrips(vehicles: DataFrame, gapSec: Long): Dataset[TripRow] = {
    import vehicles.sparkSession.implicits._
    vehicles.select(col("unique_vehicle_id"), col("tsi"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TripState, TripRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (veh, rows, state) =>
          val times = rows.map(_._2).toArray.sorted
          var (last, trip) =
            if (state.exists) (state.get.lastTsi, state.get.tripId)
            else (Long.MinValue, 0L)
          val out = times.map { t =>
            if (last != Long.MinValue && t - last > gapSec) trip += 1
            last = t
            TripRow(veh, t, trip)
          }
          if (times.nonEmpty) state.update(TripState(last, trip))
          out.iterator
      }
  }

  /**
   * The SAME trip segmentation on Spark 4's `transformWithState` API —
   * the successor to `flatMapGroupsWithState` (typed keyed state
   * handles, timers, TTL, and the RocksDB store's column families
   * underneath). Kept beside [[assignTrips]] as the same algorithm on
   * both stateful APIs: the spec asserts they and the batch twin agree
   * row-for-row across micro-batch boundaries.
   *
   * Requires the RocksDB state store provider
   * (`spark.sql.streaming.stateStore.providerClass` →
   * `...state.RocksDBStateStoreProvider`) — the HDFS-backed default
   * does not implement the multi-column-family layout the API needs.
   */
  class TripProcessor(gapSec: Long)
      extends StatefulProcessor[String, (String, Long), TripRow] {
    @transient private var trip: ValueState[TripState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      trip = getHandle.getValueState[TripState]("trip",
        Encoders.product[TripState], TTLConfig.NONE)

    override def handleInputRows(veh: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[TripRow] = {
      val times = rows.map(_._2).toArray.sorted
      var (last, cur) =
        if (trip.exists()) (trip.get().lastTsi, trip.get().tripId)
        else (Long.MinValue, 0L)
      val out = times.map { t =>
        if (last != Long.MinValue && t - last > gapSec) cur += 1
        last = t
        TripRow(veh, t, cur)
      }
      if (times.nonEmpty) trip.update(TripState(last, cur))
      out.iterator
    }
  }

  /** [[assignTrips]] on the transformWithState API (see
    * [[TripProcessor]]); identical output by construction. */
  def assignTripsTws(vehicles: DataFrame, gapSec: Long): Dataset[TripRow] = {
    import vehicles.sparkSession.implicits._
    vehicles.select(col("unique_vehicle_id"), col("tsi"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new TripProcessor(gapSec),
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch twin of [[assignTrips]]: cumulative gap count over an ordered
    * per-vehicle window — the cross-check the streaming spec asserts
    * equality against. */
  def assignTripsBatch(vehicles: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy("unique_vehicle_id").orderBy("tsi")
    vehicles.select(col("unique_vehicle_id"), col("tsi"))
      .withColumn("gap",
        when(col("tsi") - lag(col("tsi"), 1).over(w) > gapSec, 1L).otherwise(0L))
      .withColumn("trip_id", sum(col("gap")).over(w))
      .drop("gap")
  }

  final case class Heartbeat(lastTsMs: Long)
  final case class OfflineAlert(unique_vehicle_id: String, last_seen_ms: Long)

  /**
   * ABSENCE detection — the alert the per-row pipeline can never emit
   * because no row arrives: a vehicle that stops reporting for `gapMs`
   * of EVENT TIME is flagged offline. Every observation (re)arms an
   * event-time timer at lastSeen + gap (the previous timer is deleted —
   * one live timer per key); when the WATERMARK passes the deadline
   * with no newer observation, [[StatefulProcessor.handleExpiredTimer]]
   * fires and emits the alert. Event-time mode makes the semantics
   * deterministic and replayable (the spec drives it through
   * checkpointed AvailableNow runs — no wall clock anywhere), which is
   * why this is not a processing-time poll.
   *
   * State per key: one long + one timer — fleet-sized, not
   * stream-sized. This is the reference domain's real dropout monitor
   * (a vehicle leaving coverage), and the streaming twin of
   * [[graft.operators.TemporalOps.gapFillInterpolate]]'s gap cap: the
   * batch side refuses to hallucinate through long gaps, the stream
   * side RAISES them.
   */
  class OfflineDetector(gapMs: Long)
      extends StatefulProcessor[String, (String, Long), OfflineAlert] {
    @transient private var hb: ValueState[Heartbeat] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hb = getHandle.getValueState[Heartbeat]("hb",
        Encoders.product[Heartbeat], TTLConfig.NONE)

    override def handleInputRows(veh: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[OfflineAlert] = {
      var maxTs = if (hb.exists()) hb.get().lastTsMs else Long.MinValue
      val prev = maxTs
      rows.foreach(r => if (r._2 > maxTs) maxTs = r._2)
      if (maxTs > prev) {
        if (prev != Long.MinValue) getHandle.deleteTimer(prev + gapMs)
        hb.update(Heartbeat(maxTs))
        getHandle.registerTimer(maxTs + gapMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(veh: String, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OfflineAlert] = {
      // a stale timer (re-armed key) never matches the live deadline
      val live = hb.exists() &&
        expired.getExpiryTimeInMs() == hb.get().lastTsMs + gapMs
      if (live) Iterator.single(OfflineAlert(veh, hb.get().lastTsMs))
      else Iterator.empty
    }
  }

  /** [[OfflineDetector]] over (vehicle, event-time ms) rows; the input
    * must carry a watermark (event-time timers fire on its advance). */
  def offlineAlerts(vehicles: DataFrame, tsMsCol: String,
      gapMs: Long): Dataset[OfflineAlert] = {
    import vehicles.sparkSession.implicits._
    vehicles.select(col("unique_vehicle_id"), col(tsMsCol))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new OfflineDetector(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class CdcState(v: String)
  /** One changelog record; `seq` is the triggering upsert's sequence
    * number — consumers replay a changelog by seq order per key, so the
    * record must carry it (emission/file order proves nothing). */
  final case class CdcRow(k: Long, seq: Long, change: String,
      old_v: String, new_v: String)

  /**
   * Streaming change-data-capture: convert an UPSERT stream (latest
   * value per key; an empty-string value is the delete tombstone) into
   * a CHANGELOG — `added` / `changed` / `removed` records against one
   * ValueState holding each key's last-known value. The stream twin of
   * [[graft.operators.MergeOps.snapshotDiff]]: the batch operator
   * recovers the NET delta between two snapshots, this emits EVERY
   * transition as it happens; replaying the changelog over the initial
   * state reconstructs the final state exactly (the materialization
   * invariant `CdcStreamSpec` asserts).
   *
   * Same-key rows within a micro-batch apply in `seq` order (the
   * iterator's arrival order is not deterministic); no-op upserts
   * (same value again) emit NOTHING — a changelog that repeats
   * unchanged rows is just the input stream with extra steps. State per
   * key: one value — table-sized, not stream-sized.
   */
  class ChangeDetector
      extends StatefulProcessor[Long, (Long, Long, String), CdcRow] {
    @transient private var last: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[CdcState]("last",
        Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String)],
        timers: TimerValues): Iterator[CdcRow] = {
      val ordered = rows.toArray.sortBy(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[CdcRow]
      ordered.foreach { case (_, seq, v0) =>
        // a null value (schema-on-read streams routinely produce them)
        // is a tombstone like the empty string — NOT an NPE that kills
        // the query
        val v = if (v0 == null) "" else v0
        val cur = if (last.exists()) Some(last.get().v) else None
        if (v.isEmpty) {
          cur.foreach { old =>
            out += CdcRow(key, seq, "removed", old, null)
            last.clear()
          }
        } else cur match {
          case None =>
            out += CdcRow(key, seq, "added", null, v)
            last.update(CdcState(v))
          case Some(old) if old != v =>
            out += CdcRow(key, seq, "changed", old, v)
            last.update(CdcState(v))
          case _ => () // no-op upsert: not a change
        }
      }
      out.iterator
    }
  }

  /** [[ChangeDetector]] over a (keyCol, seqCol, valueCol) frame —
    * `valueCol` null or empty string = delete tombstone. Rows with a
    * null key or seq are contract violations and are dropped at the
    * boundary (a null key cannot address state; a null seq cannot be
    * ordered) — the wire-record presence discipline, not an NPE
    * mid-stream. */
  def changeStream(upserts: DataFrame, keyCol: String, seqCol: String,
      valueCol: String): Dataset[CdcRow] = {
    import upserts.sparkSession.implicits._
    upserts.select(col(keyCol), col(seqCol), col(valueCol))
      .filter(col(keyCol).isNotNull && col(seqCol).isNotNull)
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new ChangeDetector,
        TimeMode.None(), OutputMode.Append())
  }

  final case class FixIn(k: Long, t: Long, tie: Long, x: Long, y: Long)
  final case class DwellRun(startT: Long, lastT: Long, lastX: Long,
      lastY: Long, n: Long)
  final case class DwellEpisode(k: Long, start_us: Long, end_us: Long,
      n_fixes: Long)

  /**
   * Streaming twin of `MotionOps.dwellEpisodes` — the stay-point
   * detector kept LIVE: one current-run record of state per vehicle
   * (start time, last fix, run length) where batch re-derives all
   * episodes from history, emitting a DwellEpisode row the moment a
   * run BREAKS (the "vehicle just left the stop after dwelling 90 s"
   * alert — known only when it leaves, which is exactly when the row
   * emits). A run still open when the feed pauses stays in state — the
   * honest streaming answer (the dwell isn't over) — so stream output
   * ≡ batch episodes over CLOSED runs; the spec's fixtures close every
   * qualifying run and assert bit-equality against
   * `MotionOps.dwellEpisodes` with series split across checkpointed
   * micro-batches. Rows sort by (t, tie) inside each micro-batch and
   * batches must arrive in event-time order, same as [[assignTrips]];
   * state is 5 longs per vehicle regardless of feed length.
   */
  class DwellProcessor(maxStepMm: Long, minFixes: Int)
      extends StatefulProcessor[Long, FixIn, DwellEpisode] {
    @transient private var st: ValueState[DwellRun] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DwellRun]("run",
        Encoders.product[DwellRun], TTLConfig.NONE)

    override def handleInputRows(k: Long, rows: Iterator[FixIn],
        timers: TimerValues): Iterator[DwellEpisode] = {
      val sorted = rows.toArray.sortBy(r => (r.t, r.tie))
      val out = scala.collection.mutable.ArrayBuffer[DwellEpisode]()
      var run: Option[DwellRun] = if (st.exists()) Some(st.get()) else None
      sorted.foreach { r =>
        run match {
          case Some(cur)
              if math.abs(r.x - cur.lastX) + math.abs(r.y - cur.lastY)
                <= maxStepMm =>
            run = Some(DwellRun(cur.startT, r.t, r.x, r.y, cur.n + 1))
          case Some(cur) =>
            if (cur.n >= minFixes)
              out += DwellEpisode(k, cur.startT, cur.lastT, cur.n)
            run = Some(DwellRun(r.t, r.t, r.x, r.y, 1L))
          case None =>
            run = Some(DwellRun(r.t, r.t, r.x, r.y, 1L))
        }
      }
      run.foreach(st.update)
      out.iterator
    }
  }

  /** [[DwellProcessor]] over a (k, t, tie, x, y) fix frame. */
  def dwellStream(rows: DataFrame, maxStepMm: Long,
      minFixes: Int): Dataset[DwellEpisode] = {
    import rows.sparkSession.implicits._
    rows.select(col("k"), col("t"), col("tie"), col("x"), col("y"))
      .as[FixIn]
      .groupByKey(_.k)
      .transformWithState(new DwellProcessor(maxStepMm, minFixes),
        TimeMode.None(), OutputMode.Append())
  }
}
