package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

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
  * fix): a few (line, edge, cost) triples, NOT the track history). A fix
  * is the candidate rows of one (track, µs, tie) position of
  * [[EntityFold]]. */
object MapMatchStream {

  case class MmCand(entity_id: Long, ts: Timestamp, order: Long,
                    line: Long, edge: Int, e: Long) extends EntityFold.Keyed
  case class MmState(lines: Array[Long], edges: Array[Int], costs: Array[Long])
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
    val cands = MapMatch.candidateStates(points, trackCol, tsCol, tieCol,
        latCol, lonCol, lines, lineIdCol, latsCol, lonsCol,
        radiusM, quantMeters, "matchStream")
      .select(col("__track").as("entity_id"), col("__ts").as("ts"),
        col("__tie").as("order"), col("line_id").as("line"),
        col("edge_idx").as("edge"), col("__e").as("e"))
    // one frontier step per fix, states in (line, edge) order so
    // first-strictly-smaller scans realize the tie rule
    EntityFold[MmCand, MmState, MmPoint](cands, watermarkDelay, idleTtlMillis) {
      (prev, fix) =>
        val cur = fix.rows.map(r => (r.line, r.edge, r.e)).sortBy(s => (s._1, s._2))
        val st = prev.map(_.acc).filter(_.lines.nonEmpty)
        val costs = new Array[Long](cur.length)
        var c = 0
        while (c < cur.length) {
          st match {
            case None => costs(c) = cur(c)._3
            case Some(s) =>
              var bestV = Long.MaxValue
              var p = 0
              while (p < s.lines.length) {
                val t = if (s.lines(p) == cur(c)._1)
                  math.abs(s.edges(p) - cur(c)._2).toLong * edgeStepCost
                else switchPenalty
                val v = s.costs(p) + t
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
        (MmState(cur.map(_._1).toArray, cur.map(_._2).toArray, costs),
          Seq(MmPoint(fix.entity, fix.order, cur(b)._1, cur(b)._2, costs(b))))
    }
  }
}
