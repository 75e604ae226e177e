package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import EntityFold.Keyed

/** Structured Streaming operators over the `events` stream table.
  *
  * The reference library has no streaming semantics (SURVEY.md section 2.9);
  * these are the engine-side stream operators a geotagged-event pipeline
  * needs: watermarked windowed aggregation and stateful sessionization via
  * `flatMapGroupsWithState`. Every transform works identically on a batch
  * DataFrame and a `readStream` source. The stream-stream spatio-temporal
  * pair join is not a separate operator here: it is
  * [[graft.operators.SpatialJoin.spatioTemporalJoin]], run on the stream.
  *
  * The per-entity stateful operators below (all but [[sessionize]]) run
  * on [[EntityFold]], which states their one ordering, stale-drop,
  * first-sighting and TTL contract.
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

  /** An open session's bounds in epoch microseconds. */
  final case class SessionState(startUs: Long, endUs: Long, nEvents: Int, totalValue: Double)

  final case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                           n_events: Int, total_value: Double)

  /** Stateful sessionization: consecutive events of a user belong to one
    * session while gaps stay under `gapMillis`, measured on the events'
    * full microsecond timestamps like [[sessionizeBatch]].
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
    import EntityFold.{micros, timestamp}

    val isStream = events.isStreaming
    val gapUs = gapMillis * 1000L

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, timestamp(st.startUs), timestamp(st.endUs), st.nEvents, st.totalValue)

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
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var st = state.getOption.orNull
            for (e <- sorted) {
              val t = micros(e.ts)
              if (st == null) {
                st = SessionState(t, t, 1, e.value)
              } else if (t - st.endUs > gapUs) {
                out += flush(userId, st)
                st = SessionState(t, t, 1, e.value)
              } else {
                // min/max, not assignment: a late-but-within-watermark event
                // from a later batch may precede the stored session's bounds;
                // letting it move `end` backward would corrupt session_end
                // and fire the event-time timeout early
                st = SessionState(math.min(st.startUs, t), math.max(st.endUs, t),
                  st.nEvents + 1, st.totalValue + e.value)
              }
            }
            if (st != null) {
              if (isStream) {
                state.update(st)
                state.setTimeoutTimestamp(st.endUs / 1000L + gapMillis)
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

  /** Spark's round() semantics exactly: decimal HALF_UP on the double's
    * shortest representation, the quantizer the batch twins codegen. */
  private def quantize(x: Double, scale: Long): Long =
    java.math.BigDecimal.valueOf(x * scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** The (entity_id, ts, order) columns every [[EntityFold]] input leads with. */
  private def keyed(idCol: String, tsCol: String, orderCol: String) =
    Seq(col(idCol).cast("long").as("entity_id"), col(tsCol).cast("timestamp").as("ts"),
      col(orderCol).cast("long").as("order"))

  final case class TrackPoint(entity_id: Long, ts: Timestamp, order: Long, flags: Seq[Boolean])
    extends Keyed

  final case class LabelPoint(entity_id: Long, ts: Timestamp, order: Long, region: String)
    extends Keyed

  /** A struct, not a bare String, so that a checkpoint whose state is a
    * millisecond frontier plus a region, (Long, Long, String), fails
    * Spark's state-schema check instead of resuming with a wrong unit. */
  final case class HopState(region: String)

  final case class RegionHop(entity_id: Long, order: Long,
                             from_region: String, to_region: String)

  /** Streaming region hops — the per-transition feed the OD flow matrix
    * aggregates: one row per consecutive-observation region change
    * (including to/from the implicit "none" label), with per-entity
    * last-region state carried ACROSS micro-batches (the batch twin is
    * [[graft.operators.Trajectories.odFlows]] before its final groupBy).
    * First sighting emits nothing (prior region unknown). */
  def regionHops(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                 latCol: String, lonCol: String,
                 regions: Seq[(String, graft.s2.S2Region)],
                 watermarkDelay: String = "10 minutes",
                 idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[RegionHop] = {
    require(regions.nonEmpty)
    val regs = regions
    val labelUdf = udf { (lat: Double, lon: Double) =>
      regs.collectFirst {
        case (rid, r) if graft.operators.SpatialJoin.regionContains(r, lat, lon) => rid
      }.getOrElse("none")
    }
    val src = points.select(keyed(idCol, tsCol, orderCol) :+
      labelUdf(col(latCol), col(lonCol)).as("region"): _*)
    EntityFold[LabelPoint, HopState, RegionHop](src, watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val region = fix.row.region
        (HopState(region), prev.map(_.acc.region).filter(_ != region)
          .map(RegionHop(fix.entity, fix.order, _, region)).toSeq)
    }
  }

  final case class CusumRow(entity_id: Long, ts: Timestamp, order: Long) extends Keyed
  final case class CusumAlarm(entity_id: Long, event_id: Long, s: Long, alarm: Boolean)

  final case class AcfRow(entity_id: Long, ts: Timestamp, order: Long, v: Double) extends Keyed
  final case class AcfState(n: Long, sw: Long, s2: Long, sp: Long, firstW: Long, lastW: Long)
  final case class AcfPoint(entity_id: Long, event_id: Long, n_obs: Long,
                            acf: Option[Double])

  /** The non-null `valueCol` rows of `events` as [[AcfRow]] columns. */
  private def valued(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                     valueCol: String): DataFrame =
    events.where(col(valueCol).isNotNull).select(keyed(idCol, tsCol, orderCol) :+
      col(valueCol).cast("double").as("v"): _*)

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
    * bit for bit. n = 1 and constant prefixes emit NULL. */
  def acfStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                valueCol: String, scale: Long = 100L,
                watermarkDelay: String = "10 minutes",
                idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[AcfPoint] = {
    require(scale > 0, s"scale must be positive: $scale")
    // the one double-domain final expression, same op order as acfFinalSql
    def acfOf(st: AcfState): Option[Double] = {
      val (nd, sd, s2d, spd, hkd, tkd) = (st.n.toDouble, st.sw.toDouble, st.s2.toDouble,
        st.sp.toDouble, st.firstW.toDouble, st.lastW.toDouble)
      val den = nd * (nd * s2d - sd * sd)
      if (st.n <= 1 || den == 0) None
      else Some((nd * nd * spd - nd * sd * (2 * sd - hkd - tkd) + (nd - 1) * sd * sd) / den)
    }
    EntityFold[AcfRow, AcfState, AcfPoint](
      valued(events, idCol, tsCol, orderCol, valueCol), watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val w = quantize(fix.row.v, scale)
        val st = prev.map(_.acc).fold(AcfState(1L, w, w * w, 0L, w, w))(s =>
          AcfState(s.n + 1, s.sw + w, s.s2 + w * w, s.sp + s.lastW * w, s.firstW, w))
        (st, Seq(AcfPoint(fix.entity, fix.order, st.n, acfOf(st))))
    }
  }

  final case class OlsState(n: Long, sx: Long, sy: Long, sxx: Long, sxy: Long)
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
    * emit NULL. */
  def olsStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                valueCol: String, originMicros: Long, stepMicros: Long,
                scale: Long = 100L,
                watermarkDelay: String = "10 minutes",
                idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[OlsPoint] = {
    require(stepMicros > 0, s"stepMicros must be positive: $stepMicros")
    require(scale > 0, s"scale must be positive: $scale")
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
    EntityFold[AcfRow, OlsState, OlsPoint](
      valued(events, idCol, tsCol, orderCol, valueCol), watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val x = Math.floorDiv(fix.us - originMicros, stepMicros)
        require(x >= 0, s"olsStream: observation before originMicros: x = $x")
        val y = quantize(fix.row.v, scale)
        val st = prev.map(_.acc).fold(OlsState(1L, x, y, x * x, x * y))(s =>
          OlsState(s.n + 1, s.sx + x, s.sy + y, s.sxx + x * x, s.sxy + x * y))
        val (slope, intercept) = fit(st)
        (st, Seq(OlsPoint(fix.entity, fix.order, st.n, slope, intercept)))
    }
  }

  /** Streaming CUSUM drift detector over inter-event gaps — the live twin
    * of [[graft.operators.Sequences.cusumAlarms]]: per entity the
    * recurrence s = max(0, s + (gap - k)) carried in keyed state ACROSS
    * micro-batches, one (event_id, s, alarm) row per gap, alarm when
    * s > h. The batch operator proves the prefix-min identity; the
    * stream runs the sequential recurrence directly (the accumulator is
    * the one int64 s — O(1), never a buffer). Gaps are exact µs. */
  def cusumStream(events: DataFrame, idCol: String, tsCol: String, orderCol: String,
                  k: Long, h: Long,
                  watermarkDelay: String = "10 minutes",
                  idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[CusumAlarm] = {
    require(h > 0, s"h must be positive: $h")
    EntityFold[CusumRow, Long, CusumAlarm](
      events.select(keyed(idCol, tsCol, orderCol): _*), watermarkDelay, idleTtlMillis) {
      case (None, _) => (0L, Nil)
      case (Some(prev), fix) =>
        val s = math.max(0L, prev.acc + (fix.us - prev.lastUs) - k)
        (s, Seq(CusumAlarm(fix.entity, fix.order, s, s > h)))
    }
  }

  final case class SpeedPoint(entity_id: Long, ts: Timestamp, order: Long,
                              lat: Double, lon: Double) extends Keyed

  final case class SpeedState(lat: Double, lon: Double)

  final case class SpeedFlag(entity_id: Long, order: Long, seg_m: Option[Long],
                             dt_micros: Option[Long], is_jump: Boolean)

  /** Streaming GPS teleport flags — the batch twin is
    * [[graft.operators.Trajectories.speedFlags]], contract included: exact
    * integer-µs gaps (full Timestamp precision, not ms), rounded-meter
    * segments against the kernel haversine, and the pure-integer flag
    * comparison. Per-entity last-point state crosses micro-batches; first
    * sighting emits the null-segment row (exactly like batch). */
  def speedFlagsStream(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                       latCol: String, lonCol: String, maxSpeedMps: Long,
                       watermarkDelay: String = "10 minutes",
                       idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[SpeedFlag] = {
    require(maxSpeedMps > 0, s"maxSpeedMps must be positive, got $maxSpeedMps")
    val src = points.select(keyed(idCol, tsCol, orderCol) ++ Seq(
      col(latCol).cast("double").as("lat"), col(lonCol).cast("double").as("lon")): _*)
    EntityFold[SpeedPoint, SpeedState, SpeedFlag](src, watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val p = fix.row
        val flag = prev.fold(SpeedFlag(fix.entity, fix.order, None, None, is_jump = false)) {
          st =>
            val segM = math.round(graft.s2.S2LatLng.fromDegrees(st.acc.lat, st.acc.lon)
              .getEarthDistance(graft.s2.S2LatLng.fromDegrees(p.lat, p.lon)))
            val dt = fix.us - st.lastUs
            SpeedFlag(fix.entity, fix.order, Some(segM), Some(dt),
              segM * 1000000L > maxSpeedMps * dt)
        }
        (SpeedState(p.lat, p.lon), Seq(flag))
    }
  }

  /** A struct for the same reason as [[HopState]]. */
  final case class GeofenceState(flags: Seq[Boolean])

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
    * and per-batch work is O(points in batch). An entity reappearing after
    * a TTL silence restarts as all-outside (may re-emit `enter` for a region
    * it never left — the standard geofence trade of state size vs replay). */
  def geofenceTransitions(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                          latCol: String, lonCol: String,
                          regions: Seq[(String, graft.s2.S2Region)],
                          watermarkDelay: String = "10 minutes",
                          idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[GeofenceTransition] = {
    require(regions.nonEmpty)
    val regs = regions
    val names = regions.map(_._1)
    val flagsUdf = udf { (lat: Double, lon: Double) =>
      regs.map { case (_, r) => graft.operators.SpatialJoin.regionContains(r, lat, lon) }
    }
    val src = points.select(keyed(idCol, tsCol, orderCol) :+
      flagsUdf(col(latCol), col(lonCol)).as("flags"): _*)
    EntityFold[TrackPoint, GeofenceState, GeofenceTransition](src, watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val flags = fix.row.flags
        val was = prev.fold(Seq.fill(names.size)(false))(_.acc.flags)
        (GeofenceState(flags), names.indices.filter(i => flags(i) != was(i)).map(i =>
          GeofenceTransition(fix.entity, fix.order, names(i), if (flags(i)) "enter" else "exit")))
    }
  }

  final case class HoltState(n: Long, l: Double, b: Double)
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
    * last row per entity equals the batch operator. */
  def holtStream(events: DataFrame, idCol: String, tsCol: String,
                 orderCol: String, valueCol: String,
                 alpha: Double, beta: Double,
                 watermarkDelay: String = "10 minutes",
                 idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[HoltPoint] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1]: $beta")
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    EntityFold[AcfRow, HoltState, HoltPoint](
      valued(events, idCol, tsCol, orderCol, valueCol), watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val v = fix.row.v
        val st = prev.map(_.acc).fold(HoltState(1L, v, 0.0))(s =>
          HoltState(s.n + 1, alpha * v + ca * (s.l + s.b),
            beta * ((alpha * v + ca * (s.l + s.b)) - s.l) + cb * s.b))
        (st, Seq(HoltPoint(fix.entity, fix.order, st.n, st.l, st.b)))
    }
  }

  final case class MkState(n: Long, s: Long, tie18: Long, counts: Map[Long, Long])
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
    * inversion count with no window form. */
  def mannKendallStream(events: DataFrame, idCol: String, tsCol: String,
                        orderCol: String, valueCol: String, scale: Long = 100L,
                        watermarkDelay: String = "10 minutes",
                        idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[MkPoint] = {
    require(scale > 0, s"scale must be positive: $scale")
    EntityFold[AcfRow, MkState, MkPoint](
      valued(events, idCol, tsCol, orderCol, valueCol), watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val w = quantize(fix.row.v, scale)
        val s0 = prev.fold(MkState(0L, 0L, 0L, Map.empty))(_.acc)
        var below = 0L; var above = 0L
        s0.counts.foreach { case (v, c) =>
          if (v < w) below += c else if (v > w) above += c
        }
        val k = s0.counts.getOrElse(w, 0L) + 1
        val st = MkState(s0.n + 1, s0.s + below - above, s0.tie18 + 6 * (k * k - 1),
          s0.counts.updated(w, k))
        (st, Seq(MkPoint(fix.entity, fix.order, st.n, st.s,
          st.n * (st.n - 1) * (2 * st.n + 5) - st.tie18)))
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
