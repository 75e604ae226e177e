package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream table.
  *
  * The reference library has no streaming semantics (SURVEY.md section 2.9);
  * these are the engine-side stream operators a geotagged-event pipeline
  * needs: watermarked windowed aggregation and stateful sessionization via
  * `flatMapGroupsWithState`. Every transform works identically on a batch
  * DataFrame and a `readStream` source. The stream-stream spatio-temporal
  * pair join is not a separate operator here: it is
  * [[graft.operators.SpatialJoin.spatioTemporalJoin]], run on the stream.
  */
object EventStreams {

  /** Watermarked tumbling-window counts per event type. On a streaming
    * input, late events beyond the watermark are dropped and windows are
    * finalized incrementally. */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Watermarked per-tile windowed counts over a geotagged event stream —
    * the streaming form of [[graft.operators.Tiling.tileStats]]. The s2
    * tiling expressions run inside the micro-batch plan (custom Catalyst
    * expressions are streaming-safe: deterministic, codegen'd, stateless),
    * so the only state is the windowed aggregation's, keyed by
    * (window, tile) — bounded by 6*4^level cells times live windows, not
    * by input rate. */
  def tiledWindowCounts(events: DataFrame, latCol: String, lonCol: String,
                        level: Int, watermark: String = "10 minutes",
                        windowLength: String = "1 hour"): DataFrame = {
    import graft.functions.s2functions._
    events
      .withWatermark("ts", watermark)
      .withColumn("tile_token", s2_token(s2_tile(col(latCol), col(lonCol), level)))
      .groupBy(window(col("ts"), windowLength), col("tile_token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("tile_token"), col("n"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, end: Long, nEvents: Int, totalValue: Double)

  final case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                           n_events: Int, total_value: Double)

  /** Stateful sessionization: consecutive events of a user belong to one
    * session while gaps stay under `gapMillis`.
    * `KeyValueGroupedDataset.flatMapGroupsWithState` is the Spark-native
    * custom-state operator.
    *
    * On a STREAM the open session is kept in state ACROSS micro-batches —
    * a session spanning batches is emitted exactly once — and is flushed
    * only by an event-time timeout: when the watermark (event time minus
    * `watermarkDelay`) passes `session_end + gapMillis`, no in-order event
    * can extend the session any more, so it is final. On a finite batch
    * input (no further data by definition) the trailing session is emitted
    * directly. StreamingSpec feeds one session across two `addData`
    * batches to pin the cross-batch behavior. */
  def sessionize(events: Dataset[Event], gapMillis: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._

    val isStream = events.isStreaming

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start), new Timestamp(st.end), st.nEvents, st.totalValue)

    val src = if (isStream) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            val st = state.get
            state.remove()
            Iterator.single(flush(userId, st))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var st = state.getOption.orNull
            for (e <- sorted) {
              val t = e.ts.getTime
              if (st == null) {
                st = SessionState(t, t, 1, e.value)
              } else if (t - st.end > gapMillis) {
                out += flush(userId, st)
                st = SessionState(t, t, 1, e.value)
              } else {
                // min/max, not assignment: a late-but-within-watermark event
                // from a later batch may precede the stored session's bounds;
                // letting it move `end` backward would corrupt session_end
                // and fire the event-time timeout early
                st = SessionState(math.min(st.start, t), math.max(st.end, t),
                  st.nEvents + 1, st.totalValue + e.value)
              }
            }
            if (st != null) {
              if (isStream) {
                state.update(st)
                state.setTimeoutTimestamp(st.end + gapMillis)
              } else {
                // finite input: no later batch can extend the session
                out += flush(userId, st)
                state.remove()
              }
            }
            out.iterator
          }
      }
  }

  final case class TrackPoint(entity_id: Long, ts: Timestamp, order: Long, flags: Seq[Boolean])

  final case class LabelPoint(entity_id: Long, ts: Timestamp, order: Long, region: String)

  final case class HopState(lastTs: Long, lastOrder: Long, region: String)

  final case class RegionHop(entity_id: Long, order: Long,
                             from_region: String, to_region: String)

  /** Streaming region hops — the per-transition feed the OD flow matrix
    * aggregates: one row per consecutive-observation region change
    * (including to/from the implicit "none" label), with per-entity
    * last-region state carried ACROSS micro-batches (the batch twin is
    * [[graft.operators.Trajectories.odFlows]] before its final groupBy).
    * Same state discipline as [[geofenceTransitions]]: event-time TTL
    * eviction bounds state by active entities, stale arrivals behind the
    * emitted frontier are dropped, first sighting emits nothing (prior
    * region unknown). Works identically on a finite batch input. */
  def regionHops(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                 latCol: String, lonCol: String,
                 regions: Seq[(String, graft.s2.S2Region)],
                 watermarkDelay: String = "10 minutes",
                 idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[RegionHop] = {
    require(regions.nonEmpty)
    val spark0 = points.sparkSession
    import spark0.implicits._

    val regs = regions
    val labelUdf = udf { (lat: Double, lon: Double) =>
      regs.collectFirst {
        case (rid, r) if graft.operators.SpatialJoin.regionContains(r, lat, lon) => rid
      }.getOrElse("none")
    }
    val isStream = points.isStreaming
    val src0 = points.select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      labelUdf(col(latCol), col(lonCol)).as("region"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[LabelPoint]

    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[HopState, RegionHop](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[HopState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[RegionHop]
            for (p <- sorted) {
              val t = p.ts.getTime
              val fresh = st == null || t > st.lastTs ||
                (t == st.lastTs && p.order > st.lastOrder)
              if (fresh) {
                if (st != null && st.region != p.region)
                  out += RegionHop(entityId, p.order, st.region, p.region)
                st = HopState(t, p.order, p.region)
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class CusumRow(entity_id: Long, ts: Timestamp, order: Long)
  final case class CusumState(lastUs: Long, lastOrder: Long, s: Long)
  final case class CusumAlarm(entity_id: Long, event_id: Long, s: Long, alarm: Boolean)

  final case class AcfRow(entity_id: Long, ts: Timestamp, order: Long, v: Double)
  final case class AcfState(lastUs: Long, lastOrder: Long, n: Long, sw: Long,
                            s2: Long, sp: Long, firstW: Long, lastW: Long)
  final case class AcfPoint(entity_id: Long, event_id: Long, n_obs: Long,
                            acf: Option[Double])

  /** Streaming running lag-1 autocorrelation — the live twin of
    * [[graft.operators.TimeSeries.lagAutocorr]]: each arriving value folds
    * into SIX exact int64 accumulators (n, Σw, Σw², Σ adjacent products,
    * first w, last w — O(1) state, never a buffer), and each event emits
    * the coefficient over the prefix seen so far via the SAME fixed IEEE
    * expression the batch operator and oracle share
    * ([[graft.operators.TimeSeries.acfFinalSql]] with prefix hk/tk =
    * first/current value). Values quantize with the identical
    * HALF_UP `round(value * scale)` as the batch side, so on a finite
    * in-order input the output equals the DuckDB per-row prefix replay
    * bit for bit. n = 1 and constant prefixes emit NULL.
    *
    * Ordering contract (shared with [[cusumStream]]): rows process in
    * (ts, order) order within each batch; a row at-or-before the state's
    * frontier is DROPPED, never retro-inserted. Event-time TTL evicts
    * idle entities. */
  def acfStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                valueCol: String, scale: Long = 100L,
                watermarkDelay: String = "10 minutes",
                idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[AcfPoint] = {
    require(scale > 0, s"scale must be positive: $scale")
    val spark0 = events.sparkSession
    import spark0.implicits._
    val isStream = events.isStreaming
    val src0 = events.where(col(valueCol).isNotNull).select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      col(valueCol).cast("double").as("v"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[AcfRow]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    // Spark's round() semantics exactly: decimal HALF_UP on the double's
    // shortest representation — the quantizer the batch twin codegens
    def quantize(x: Double): Long =
      java.math.BigDecimal.valueOf(x * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    // the one double-domain final expression, same op order as acfFinalSql
    def acfOf(n: Long, sw: Long, s2: Long, sp: Long, hk: Long, tk: Long): Option[Double] = {
      val (nd, sd, s2d, spd, hkd, tkd) =
        (n.toDouble, sw.toDouble, s2.toDouble, sp.toDouble, hk.toDouble, tk.toDouble)
      val den = nd * (nd * s2d - sd * sd)
      if (n <= 1 || den == 0) None
      else Some((nd * nd * spd - nd * sd * (2 * sd - hkd - tkd) + (nd - 1) * sd * sd) / den)
    }
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[AcfState, AcfPoint](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[AcfState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[AcfPoint]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                val w = quantize(p.v)
                st =
                  if (st == null) AcfState(us, p.order, 1L, w, w * w, 0L, w, w)
                  else AcfState(us, p.order, st.n + 1, st.sw + w, st.s2 + w * w,
                    st.sp + st.lastW * w, st.firstW, w)
                out += AcfPoint(entityId, p.order, st.n,
                  acfOf(st.n, st.sw, st.s2, st.sp, st.firstW, st.lastW))
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class OlsState(lastUs: Long, lastOrder: Long, n: Long, sx: Long,
                            sy: Long, sxx: Long, sxy: Long)
  final case class OlsPoint(entity_id: Long, event_id: Long, n_obs: Long,
                            slope: Option[Double], intercept: Option[Double])

  /** Streaming running OLS trend — the live twin of
    * [[graft.operators.TimeSeries.linearTrend]]: each arriving value
    * folds into FIVE exact int64 accumulators (n, Σx, Σy, Σx², Σxy —
    * O(1) state), and each event emits the slope/intercept of the prefix
    * seen so far via the same fixed IEEE expressions the batch operator
    * shares with its oracle. Quantization is identical to batch: x =
    * (µs − origin) div step (negative x raises loudly — a caller bug),
    * y = HALF_UP round(value·scale). n = 1 and constant-time prefixes
    * emit NULL. Ordering contract as [[acfStream]]: in-(ts, order) order
    * within a batch, stale arrivals dropped, event-time TTL eviction. */
  def olsStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                valueCol: String, originMicros: Long, stepMicros: Long,
                scale: Long = 100L,
                watermarkDelay: String = "10 minutes",
                idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[OlsPoint] = {
    require(stepMicros > 0, s"stepMicros must be positive: $stepMicros")
    require(scale > 0, s"scale must be positive: $scale")
    val spark0 = events.sparkSession
    import spark0.implicits._
    val isStream = events.isStreaming
    val src0 = events.where(col(valueCol).isNotNull).select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      col(valueCol).cast("double").as("v"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[AcfRow]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    def quantY(x: Double): Long =
      java.math.BigDecimal.valueOf(x * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    def fit(st: OlsState): (Option[Double], Option[Double]) = {
      val (nd, sxd, syd, sxxd, sxyd) = (st.n.toDouble, st.sx.toDouble,
        st.sy.toDouble, st.sxx.toDouble, st.sxy.toDouble)
      val den = nd * sxxd - sxd * sxd
      if (st.n < 2 || den == 0) (None, None)
      else {
        val slope = (nd * sxyd - sxd * syd) / den
        (Some(slope), Some((syd - slope * sxd) / nd))
      }
    }
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[OlsState, OlsPoint](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[OlsState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[OlsPoint]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                val x = Math.floorDiv(us - originMicros, stepMicros)
                require(x >= 0, s"olsStream: observation before originMicros: x = $x")
                val y = quantY(p.v)
                st =
                  if (st == null) OlsState(us, p.order, 1L, x, y, x * x, x * y)
                  else OlsState(us, p.order, st.n + 1, st.sx + x, st.sy + y,
                    st.sxx + x * x, st.sxy + x * y)
                val (slope, intercept) = fit(st)
                out += OlsPoint(entityId, p.order, st.n, slope, intercept)
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  /** Streaming CUSUM drift detector over inter-event gaps — the live twin
    * of [[graft.operators.Sequences.cusumAlarms]]: per entity the
    * recurrence s = max(0, s + (gap - k)) carried in keyed state ACROSS
    * micro-batches, one (event_id, s, alarm) row per gap, alarm when
    * s > h. The batch operator proves the prefix-min identity; the
    * stream runs the sequential recurrence directly (state is ONE
    * (lastUs, lastOrder, s) triple per entity — O(1), never a buffer).
    *
    * Ordering contract (shared with [[speedFlagsStream]]): rows process
    * in (ts, order) order within each batch; a row at-or-before the
    * state's frontier arrived too late to retro-insert and is DROPPED,
    * never applied backwards. On an in-order feed the output equals the
    * batch twin row-for-row (StreamingSpec pins this, alarms included).
    * State evicts via event-time timeout at `lastUs + idleTtlMillis`.
    * Works identically on a finite batch input (no timeout, trailing
    * state discarded). */
  def cusumStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                  k: Long, h: Long,
                  watermarkDelay: String = "10 minutes",
                  idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[CusumAlarm] = {
    require(h > 0, s"h must be positive: $h")
    val spark0 = events.sparkSession
    import spark0.implicits._
    val isStream = events.isStreaming
    val src0 = events.select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[CusumRow]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[CusumState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[CusumAlarm]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                if (st == null) st = CusumState(us, p.order, 0L)
                else {
                  val s2 = math.max(0L, st.s + (us - st.lastUs) - k)
                  out += CusumAlarm(entityId, p.order, s2, s2 > h)
                  st = CusumState(us, p.order, s2)
                }
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class SpeedPoint(entity_id: Long, ts: Timestamp, order: Long,
                              lat: Double, lon: Double)

  final case class SpeedState(lastUs: Long, lastOrder: Long, lat: Double, lon: Double)

  final case class SpeedFlag(entity_id: Long, order: Long, seg_m: Option[Long],
                             dt_micros: Option[Long], is_jump: Boolean)

  /** Streaming GPS teleport flags — the batch twin is
    * [[graft.operators.Trajectories.speedFlags]], contract included: exact
    * integer-µs gaps (full Timestamp precision, not ms), rounded-meter
    * segments against the kernel haversine, and the pure-integer flag
    * comparison. Per-entity last-point state crosses micro-batches; first
    * sighting emits the null-segment row (exactly like batch); stale
    * arrivals behind the emitted frontier are dropped; event-time TTL
    * bounds state by active entities. On a finite batch input the output
    * equals the batch operator row-for-row. */
  def speedFlagsStream(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                       latCol: String, lonCol: String, maxSpeedMps: Long,
                       watermarkDelay: String = "10 minutes",
                       idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[SpeedFlag] = {
    require(maxSpeedMps > 0, s"maxSpeedMps must be positive, got $maxSpeedMps")
    val spark0 = points.sparkSession
    import spark0.implicits._
    val isStream = points.isStreaming
    val src0 = points.select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      col(latCol).cast("double").as("lat"),
      col(lonCol).cast("double").as("lon"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[SpeedPoint]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[SpeedState, SpeedFlag](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[SpeedState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SpeedFlag]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                if (st == null) out += SpeedFlag(entityId, p.order, None, None, is_jump = false)
                else {
                  val segM = math.round(graft.s2.S2LatLng.fromDegrees(st.lat, st.lon)
                    .getEarthDistance(graft.s2.S2LatLng.fromDegrees(p.lat, p.lon)))
                  val dt = us - st.lastUs
                  out += SpeedFlag(entityId, p.order, Some(segM), Some(dt),
                    segM * 1000000L > maxSpeedMps * dt)
                }
                st = SpeedState(us, p.order, p.lat, p.lon)
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class GeofenceState(lastTs: Long, lastOrder: Long, flags: Seq[Boolean])

  final case class GeofenceTransition(entity_id: Long, order: Long,
                                      region_id: String, transition: String)

  /** Streaming geofence: enter/exit transitions of entity tracks against a
    * broadcast region list, with the last-known membership vector kept in
    * per-entity state ACROSS micro-batches — the streaming twin of
    * [[graft.operators.Geofence.transitions]] (same first-sighting-inside ==
    * `enter` convention, same exact kernel refinement per point).
    *
    * Distributed shape: membership flags evaluate row-at-a-time inside the
    * micro-batch plan (regions ride the task closure — no join); the state
    * function only diffs boolean vectors, so per-entity state is O(regions)
    * and per-batch work is O(points in batch). State is evicted when the
    * watermark passes `lastTs + idleTtlMillis`; an entity reappearing after
    * a TTL silence restarts as all-outside (may re-emit `enter` for a region
    * it never left — the standard geofence trade of state size vs replay).
    *
    * Ordering: rows are processed in (ts, order) order within each batch; a
    * row at-or-before the state's last processed position arrives too late
    * to retro-insert (its transitions may already be emitted) and is
    * DROPPED, never applied backwards. On an in-order feed the output
    * equals the batch operator's exactly (StreamingSpec pins this). Works
    * identically on a finite batch input (no timeout, trailing state
    * discarded after emission). */
  def geofenceTransitions(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                          latCol: String, lonCol: String,
                          regions: Seq[(String, graft.s2.S2Region)],
                          watermarkDelay: String = "10 minutes",
                          idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[GeofenceTransition] = {
    require(regions.nonEmpty)
    val spark0 = points.sparkSession
    import spark0.implicits._

    val regs = regions
    val names = regions.map(_._1)
    val flagsUdf = udf { (lat: Double, lon: Double) =>
      regs.map { case (_, r) => graft.operators.SpatialJoin.regionContains(r, lat, lon) }
    }
    val isStream = points.isStreaming
    val src0 = points.select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      flagsUdf(col(latCol), col(lonCol)).as("flags"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[TrackPoint]

    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[GeofenceState, GeofenceTransition](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[GeofenceState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: forget the entity (bounds total state by
            // ACTIVE entities, not ever-seen entities)
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.order))
            var st = state.getOption.getOrElse(
              GeofenceState(Long.MinValue, Long.MinValue, Seq.fill(regs.size)(false)))
            val out = scala.collection.mutable.ArrayBuffer.empty[GeofenceTransition]
            for (p <- sorted) {
              val t = p.ts.getTime
              val fresh = t > st.lastTs || (t == st.lastTs && p.order > st.lastOrder)
              if (fresh) {
                var i = 0
                while (i < names.size) {
                  if (p.flags(i) != st.flags(i))
                    out += GeofenceTransition(entityId, p.order, names(i),
                      if (p.flags(i)) "enter" else "exit")
                  i += 1
                }
                st = GeofenceState(t, p.order, p.flags)
              } // else: stale arrival behind the emitted frontier — dropped
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class HoltState(lastUs: Long, lastOrder: Long, n: Long,
                             l: Double, b: Double)
  final case class HoltPoint(entity_id: Long, event_id: Long, n_obs: Long,
                             level: Double, trend: Double)

  /** Streaming running Holt smoothing — the live twin of
    * [[graft.operators.Sequences.holt]]: each arriving value advances the
    * two-state (level, trend) recurrence in O(1) keyed state and emits
    * the entity's CURRENT forecast state per event (next-step prediction
    * = level + trend, live). The recurrence steps are the identical IEEE
    * trees as the batch fold (b recomputes l's expression against the
    * prior state), so on a finite in-order input with dyadic α/β the
    * output matches a per-prefix list_reduce oracle bit for bit; the
    * last row per entity equals the batch operator. Ordering/TTL
    * contract shared with [[acfStream]]. */
  def holtStream(events: DataFrame, idCol: String, tsCol: String,
                 orderCol: String, valueCol: String,
                 alpha: Double, beta: Double,
                 watermarkDelay: String = "10 minutes",
                 idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[HoltPoint] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1]: $beta")
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    val spark0 = events.sparkSession
    import spark0.implicits._
    val isStream = events.isStreaming
    val src0 = events.where(col(valueCol).isNotNull).select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      col(valueCol).cast("double").as("v"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[AcfRow]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[HoltState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[HoltPoint]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                st =
                  if (st == null) HoltState(us, p.order, 1L, p.v, 0.0)
                  else {
                    val ln = alpha * p.v + ca * (st.l + st.b)
                    HoltState(us, p.order, st.n + 1, ln,
                      beta * ((alpha * p.v + ca * (st.l + st.b)) - st.l) + cb * st.b)
                  }
                out += HoltPoint(entityId, p.order, st.n, st.l, st.b)
              }
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  final case class MkState(lastUs: Long, lastOrder: Long, n: Long, s: Long,
                           tie18: Long, counts: Map[Long, Long])
  final case class MkPoint(entity_id: Long, event_id: Long, n_obs: Long,
                           s_stat: Long, var18: Long)

  /** Streaming running Mann–Kendall — the live twin of
    * [[graft.operators.TimeSeries.mannKendall]]: each arriving value
    * updates the exact integer prefix statistic
    * S += (#seen below) − (#seen above) and the tie term incrementally
    * (a value whose count reaches k adds 6·(k²−1) to Σt(t−1)(2t+5) — the
    * telescoped tie increment), emitting (entity_id, event_id, n_obs,
    * s_stat, var18) per event, all exact int64. The last row per entity
    * equals the batch operator.
    *
    * State per key is the value-count map — O(distinct quantized values),
    * NOT O(events): bounded by the value grid (|value| ≤ 500 at scale 100
    * → ≤ 100k entries worst case, typically tens), the price of an
    * inversion count with no window form. Ordering/TTL contract shared
    * with [[acfStream]]. */
  def mannKendallStream(events: DataFrame, idCol: String, tsCol: String,
                        orderCol: String, valueCol: String, scale: Long = 100L,
                        watermarkDelay: String = "10 minutes",
                        idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[MkPoint] = {
    require(scale > 0, s"scale must be positive: $scale")
    val spark0 = events.sparkSession
    import spark0.implicits._
    val isStream = events.isStreaming
    val src0 = events.where(col(valueCol).isNotNull).select(
      col(idCol).cast("long").as("entity_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"),
      col(valueCol).cast("double").as("v"))
    val src = (if (isStream) src0.withWatermark("ts", watermarkDelay) else src0).as[AcfRow]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    def quantize(x: Double): Long =
      java.math.BigDecimal.valueOf(x * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    src
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[MkState, MkPoint](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entityId, rows, state: GroupState[MkState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.order))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[MkPoint]
            for (p <- sorted) {
              val us = micros(p.ts)
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && p.order > st.lastOrder)
              if (fresh) {
                val w = quantize(p.v)
                val counts = if (st == null) Map.empty[Long, Long] else st.counts
                var below = 0L; var above = 0L
                counts.foreach { case (v, c) =>
                  if (v < w) below += c else if (v > w) above += c
                }
                val k = counts.getOrElse(w, 0L) + 1
                st = MkState(us, p.order,
                  (if (st == null) 0L else st.n) + 1,
                  (if (st == null) 0L else st.s) + below - above,
                  (if (st == null) 0L else st.tie18) + 6 * (k * k - 1),
                  counts.updated(w, k))
                out += MkPoint(entityId, p.order, st.n, st.s,
                  st.n * (st.n - 1) * (2 * st.n + 5) - st.tie18)
              }
            }
            if (isStream) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            } else state.remove()
            out.iterator
          }
      }
  }

  /** Batch-mode sessionization with plain window functions — the oracle-able
    * equivalent of [[sessionize]] (gap > threshold starts a new session). */
  def sessionizeBatch(events: DataFrame, gapMillis: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wSess = Window.partitionBy("user_id", "session_id")
    events
      .withColumn("__prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          col("ts") > col("__prev_ts") + expr(s"INTERVAL $gapMillis MILLISECONDS"), 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new_session")).over(w))
      .groupBy("user_id", "session_id")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .drop("session_id")
  }
}
