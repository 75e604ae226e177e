package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The per-entity ordered fold behind the stateful stream operators with a
  * frontier ([[EventStreams]]' region-hop, ACF, OLS, CUSUM, speed-flag,
  * geofence, Holt and Mann–Kendall streams, and
  * [[MapMatchStream.matchStream]]). It holds their one contract:
  *
  *  - Order: an entity's rows group into fixes, one fix per
  *    (µs timestamp, order) position, and fixes fold in that order. The unit
  *    is the microsecond, the precision of a Spark timestamp and the unit
  *    the batch twins order by. Single-row operators read a fix's first
  *    row, so a duplicate (µs, order) row is ignored.
  *  - Stale drop: a fix at or before the entity's frontier (the last folded
  *    (µs, order)) arrived too late to retro-insert, since its output may be
  *    emitted already. It is dropped, never applied backwards.
  *  - First sighting: the operator's step sees no prior state (`None`).
  *  - TTL: on a stream the state is kept across micro-batches and evicted,
  *    emitting nothing, once the watermark passes
  *    `lastUs / 1000 + idleTtlMillis`; an entity seen again after that
  *    starts over as a first sighting. On a finite input the whole group
  *    arrives at once and the state is discarded after it.
  *
  * On a finite in-order input an operator's output therefore equals its
  * batch twin's. The operator supplies its projection (a `DataFrame` whose
  * columns decode as `R`), its accumulator `A` and a step that folds one
  * fix into the new accumulator and the rows to emit. */
private[graft] object EntityFold {

  /** The columns every fold input carries: the entity key, the event time
    * and the tie-break order within one timestamp. */
  trait Keyed {
    def entity_id: Long
    def ts: Timestamp
    def order: Long
  }

  /** The kept state: the frontier and the operator's accumulator. */
  final case class Folded[A](lastUs: Long, lastOrder: Long, acc: A)

  /** The rows of one entity at one (µs, order) position. Single-row
    * operators read [[row]], the first of them. */
  final case class Fix[R](entity: Long, us: Long, order: Long, rows: Seq[R]) {
    def row: R = rows.head
  }

  /** Epoch microseconds of `t`, the unit every fold orders by. */
  def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** The Timestamp at epoch microsecond `us`, the inverse of [[micros]]. */
  def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Folds `rows` per entity under the contract above: `step` gets the
    * entity's prior state (None on first sighting) and the next fresh fix,
    * and returns the new accumulator and the rows that fix emits. */
  def apply[R <: Keyed with Product : TypeTag, A : TypeTag, U <: Product : TypeTag](
      rows: DataFrame, watermarkDelay: String, idleTtlMillis: Long)(
      step: (Option[Folded[A]], Fix[R]) => (A, Seq[U])): Dataset[U] = {
    implicit val stateEnc: Encoder[Folded[A]] = Encoders.product[Folded[A]]
    implicit val outEnc: Encoder[U] = Encoders.product[U]
    val isStream = rows.isStreaming
    val src = if (isStream) rows.withWatermark("ts", watermarkDelay) else rows
    src.as[R](Encoders.product[R])
      .groupByKey(_.entity_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Folded[A], U](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        case (entity, group, state: GroupState[Folded[A]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val fixes = group.toSeq.groupBy(r => (micros(r.ts), r.order)).toSeq.sortBy(_._1)
            var st = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[U]
            for (((us, order), fixRows) <- fixes)
              if (st.forall(s => us > s.lastUs || (us == s.lastUs && order > s.lastOrder))) {
                val (acc, emitted) = step(st, Fix(entity, us, order, fixRows))
                out ++= emitted
                st = Some(Folded(us, order, acc))
              }
            st match {
              case Some(s) if isStream =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastUs / 1000L + idleTtlMillis)
              case _ => state.remove()
            }
            out.iterator
          }
      }
  }
}
