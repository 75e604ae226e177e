package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.s2functions._

/** HMM map matching (the Newson–Krumm shape): snap each track's GPS fixes
  * to a road network so consecutive fixes land on a COHERENT path, not
  * just each on its individually-nearest edge — the operator that turns
  * raw pings into routes. [[SpatialJoin.snapToPolylines]] is the per-point
  * greedy answer; this is the sequence-aware one: a fix halfway between
  * two roads follows its neighbors.
  *
  * Model, all EXACT integers so the dynamic is hash-reproducible:
  *  - states per fix = every (line, edge) within `radiusM`;
  *  - emission  = round(point-to-edge meters / `quantMeters`);
  *  - transition = |Δedge_idx| · `edgeStepCost` on the same line,
  *    `switchPenalty` across lines;
  *  - Viterbi total = Σ emission + Σ transition, minimized; ties break
  *    deterministically by (cost, line, edge) at the final state and at
  *    every predecessor choice (scanning states in (line, edge) order and
  *    replacing only on strictly smaller cost), so engine and oracle pick
  *    the identical path.
  * Fixes with NO state in radius are dropped before sequencing (the
  * max-snap-radius contract); the step sequence is the surviving fixes in
  * (tsCol, tieCol) order.
  *
  * Distributed shape: candidates come from the same covering-neighborhood
  * equi-join as [[SpatialJoin.polylineDistanceJoin]], but
  * per EDGE (lines explode into 2-vertex chains executor-side) — bytes-thin
  * rows, no cross join, the big point side never shuffles for candidate
  * generation. The DP itself is ONE `groupByKey.flatMapGroups` pass per
  * track: O(states²) per step, O(track states) task memory, loudly capped
  * at `maxRowsPerTrack` — tracks are independent, so the pass scales
  * horizontally and a hot track fails its task rather than silently OOMing.
  *
  * Output: one row per matched fix — (trackCol, tieCol, line_id, edge_idx,
  * total_cost), total_cost repeated per row (the track's optimal Viterbi
  * cost — the match-confidence signal). */
object MapMatch {

  def viterbi(points: DataFrame, trackCol: String, tsCol: String, tieCol: String,
              latCol: String, lonCol: String,
              lines: DataFrame, lineIdCol: String, latsCol: String, lonsCol: String,
              radiusM: Double, quantMeters: Double = 10.0,
              edgeStepCost: Long = 100L, switchPenalty: Long = 20000L,
              maxRowsPerTrack: Int = 4000000): DataFrame = {
    require(quantMeters > 0, s"quantMeters must be positive: $quantMeters")
    require(edgeStepCost >= 0 && switchPenalty >= 0, "costs must be non-negative")
    val cands = candidateStates(points, trackCol, tsCol, tieCol, latCol, lonCol,
        lines, lineIdCol, latsCol, lonsCol, radiusM, quantMeters, "viterbi")
      .select(col("__track"), unix_micros(col("__ts")), col("__tie"),
        col("line_id"), col("edge_idx"), col("__e"))

    val spark = points.sparkSession
    import spark.implicits._
    cands.as[(Long, Long, Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (track, it) =>
        val all = it.toArray
        require(all.length <= maxRowsPerTrack,
          s"viterbi: track $track has ${all.length} candidate rows (> $maxRowsPerTrack) — " +
            "shrink the radius or raise the cap explicitly")
        // steps = surviving fixes in (ts, tie) order; states sorted by
        // (line, edge) inside each step so first-strictly-smaller scans
        // realize the (cost, line, edge) tie rule
        val steps = all.groupBy(r => (r._2, r._3)).toArray
          .sortBy(_._1)
          .map { case ((_, tie), rs) =>
            (tie, rs.map(r => (r._4, r._5, r._6)).sortBy(s => (s._1, s._2)))
          }
        val n = steps.length
        val cost = new Array[Array[Long]](n)
        val pred = new Array[Array[Int]](n)
        cost(0) = steps(0)._2.map(_._3)
        pred(0) = Array.fill(steps(0)._2.length)(-1)
        var j = 1
        while (j < n) {
          val prev = steps(j - 1)._2
          val cur = steps(j)._2
          cost(j) = new Array[Long](cur.length)
          pred(j) = new Array[Int](cur.length)
          var c = 0
          while (c < cur.length) {
            var bestV = Long.MaxValue
            var bestP = -1
            var p = 0
            while (p < prev.length) {
              val t = if (prev(p)._1 == cur(c)._1)
                math.abs(prev(p)._2 - cur(c)._2).toLong * edgeStepCost
              else switchPenalty
              val v = cost(j - 1)(p) + t
              if (v < bestV) { bestV = v; bestP = p }
              p += 1
            }
            cost(j)(c) = bestV + cur(c)._3
            pred(j)(c) = bestP
            c += 1
          }
          j += 1
        }
        var endC = 0
        var k = 1
        while (k < steps(n - 1)._2.length) {
          if (cost(n - 1)(k) < cost(n - 1)(endC)) endC = k
          k += 1
        }
        val total = cost(n - 1)(endC)
        val path = new Array[Int](n)
        path(n - 1) = endC
        var b = n - 1
        while (b > 0) { path(b - 1) = pred(b)(path(b)); b -= 1 }
        steps.indices.iterator.map { i =>
          val st = steps(i)._2(path(i))
          (track, steps(i)._1, st._1, st._2, total)
        }
      }
      .toDF(trackCol, tieCol, "line_id", "edge_idx", "total_cost")
  }

  /** The shared candidate stage: every (line, edge) state within
    * `radiusM` of every fix, with the quantized integer emission —
    * lines exploded into per-edge 2-vertex chains executor-side, their
    * covering neighborhoods equi-joined against each fix's scan-computed
    * cell (the fix side never shuffles here). The radius is checked, and
    * its bucketing level derived, here, under the caller's name `op`.
    * Output columns: (__track, __ts timestamp, __tie, line_id, edge_idx,
    * __e). Used by the batch [[viterbi]] and the streaming online twin
    * ([[graft.streaming.MapMatchStream]] — there the raster side is
    * static and this is a stream-static join). */
  private[graft] def candidateStates(points: DataFrame, trackCol: String,
                                     tsCol: String, tieCol: String,
                                     latCol: String, lonCol: String,
                                     lines: DataFrame, lineIdCol: String,
                                     latsCol: String, lonsCol: String,
                                     radiusM: Double, quantMeters: Double,
                                     op: String): DataFrame = {
    val level = SpatialJoin.proximityLevel(radiusM, op)
    val reserved = Seq("__pcell", "__bucket", "__elats", "__elons", "__e", "__d",
      "__track", "__ts", "__tie")
    val collisions = (points.columns ++ lines.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"mapMatch: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val edges = lines.select(col(lineIdCol).cast("long").as("line_id"),
        posexplode(expr(
          s"""transform(sequence(0, size($latsCol) - 2),
             |  i -> struct(array($latsCol[i], $latsCol[i+1]) AS la,
             |              array($lonsCol[i], $lonsCol[i+1]) AS lo))""".stripMargin)))
      .select(col("line_id"), col("pos").cast("int").as("edge_idx"),
        col("col.la").as("__elats"), col("col.lo").as("__elons"))

    val raster = edges.select(col("line_id"), col("edge_idx"),
      col("__elats"), col("__elons"),
      explode(SpatialJoin.coveringBuckets(
        s2_polyline_covering(col("__elats"), col("__elons"), level), level)).as("__bucket"))

    points
      .withColumn("__pcell", SpatialJoin.cellBucket(col(latCol), col(lonCol), level))
      .join(raster, col("__pcell") === col("__bucket"))
      .withColumn("__d",
        s2_polyline_distance_m(col("__elats"), col("__elons"), col(latCol), col(lonCol)))
      .where(col("__d") <= radiusM)
      .select(col(trackCol).cast("long").as("__track"),
        col(tsCol).cast("timestamp").as("__ts"),
        col(tieCol).cast("long").as("__tie"),
        col("line_id"), col("edge_idx"),
        round(col("__d") / quantMeters).cast("long").as("__e"))
  }
}
