package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.MapMatch

/** ONLINE map matching — the streaming twin of
  * [[graft.operators.MapMatch.viterbi]]: as each fix arrives, emit the
  * current best (line, edge) under the forward Viterbi frontier (argmin
  * (cost, line, edge) over the states after consuming that fix) — the
  * live answer a vehicle tracker shows NOW, before future fixes can
  * retro-smooth it. The batch operator is the offline smoother; this is
  * the filter. On a finite in-order input the output equals the oracle's
  * per-step forward-DP replay bit for bit (all-integer dynamic, same tie
  * rule).
  *
  * Shape: candidate generation is the SAME per-edge covering raster as
  * the batch path — a stream-static broadcast join, stateless — and the
  * only state is one Viterbi frontier per track (O(states at the last
  * fix): a few (line, edge, cost) triples, NOT the track history).
  * Ordering contract shared with [[EventStreams.acfStream]]: rows process
  * in (ts, tie) order within each batch; a fix at-or-before the state's
  * frontier is DROPPED, never retro-inserted; event-time TTL evicts idle
  * tracks. */
object MapMatchStream {

  case class MmCand(track: Long, ts: Timestamp, tie: Long,
                    line: Long, edge: Int, e: Long)
  case class MmState(lastUs: Long, lastTie: Long,
                     lines: Array[Long], edges: Array[Int], costs: Array[Long])
  case class MmPoint(track_id: Long, event_id: Long,
                     line_id: Long, edge_idx: Int, cost: Long)

  def matchStream(points: DataFrame, trackCol: String, tsCol: String,
                  tieCol: String, latCol: String, lonCol: String,
                  lines: DataFrame, lineIdCol: String,
                  latsCol: String, lonsCol: String,
                  radiusM: Double, quantMeters: Double = 10.0,
                  edgeStepCost: Long = 100L, switchPenalty: Long = 20000L,
                  watermarkDelay: String = "10 minutes",
                  idleTtlMillis: Long = 24 * 3600 * 1000L): Dataset[MmPoint] = {
    val spark0 = points.sparkSession
    import spark0.implicits._
    val isStream = points.isStreaming
    val cands0 = MapMatch.candidateStates(points, trackCol, tsCol, tieCol,
        latCol, lonCol, lines, lineIdCol, latsCol, lonsCol,
        radiusM, quantMeters, "matchStream")
      .select(col("__track").as("track"), col("__ts").as("ts"),
        col("__tie").as("tie"), col("line_id").as("line"),
        col("edge_idx").as("edge"), col("__e").as("e"))
    val cands = (if (isStream) cands0.withWatermark("ts", watermarkDelay)
      else cands0).as[MmCand]
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    cands
      .groupByKey(_.track)
      .flatMapGroupsWithState[MmState, MmPoint](
        OutputMode.Append(),
        if (isStream) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        case (track, rows, state: GroupState[MmState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // one frontier step per fix: candidate rows grouped by
            // (us, tie), fixes in time order, states in (line, edge)
            // order so first-strictly-smaller scans realize the tie rule
            val fixes = rows.toSeq.groupBy(r => (micros(r.ts), r.tie)).toSeq
              .sortBy(_._1)
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[MmPoint]
            for (((us, tie), crows) <- fixes) {
              val fresh = st == null || us > st.lastUs ||
                (us == st.lastUs && tie > st.lastTie)
              if (fresh) {
                val cur = crows.map(r => (r.line, r.edge, r.e)).sortBy(s => (s._1, s._2))
                val costs = new Array[Long](cur.length)
                var c = 0
                while (c < cur.length) {
                  if (st == null || st.lines.isEmpty) costs(c) = cur(c)._3
                  else {
                    var bestV = Long.MaxValue
                    var p = 0
                    while (p < st.lines.length) {
                      val t = if (st.lines(p) == cur(c)._1)
                        math.abs(st.edges(p) - cur(c)._2).toLong * edgeStepCost
                      else switchPenalty
                      val v = st.costs(p) + t
                      if (v < bestV) bestV = v
                      p += 1
                    }
                    costs(c) = bestV + cur(c)._3
                  }
                  c += 1
                }
                var b = 0
                var k = 1
                while (k < cur.length) {
                  if (costs(k) < costs(b)) b = k
                  k += 1
                }
                out += MmPoint(track, tie, cur(b)._1, cur(b)._2, costs(b))
                st = MmState(us, tie, cur.map(_._1).toArray,
                  cur.map(_._2).toArray, costs)
              }
            }
            if (st != null) {
              state.update(st)
              if (isStream)
                state.setTimeoutTimestamp(st.lastUs / 1000L + idleTtlMillis)
            }
            out.iterator
          }
      }
  }
}
