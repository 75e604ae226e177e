package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.s2._

/** k-nearest-neighbor join via cell-neighbor ring expansion, in two scans of
  * the points:
  *
  *  - Population: one aggregate counts the points of each `startLevel` cell.
  *    Only rows the probe can match count; like [[SpatialJoin.pipJoin]], it
  *    skips a NULL or non-finite coordinate.
  *  - Bound (driver only): from each query's cell, rings of neighbors
  *    (`GetAllNeighbors`, `S2CellId.cs:813-863`) are added until the covered
  *    cells hold >= k points. A point of cell c lies within
  *    `angle(q, c.capBound.axis) + c.capBound.angle` of the query q, so the
  *    largest such angle over the populated covered cells bounds the k-th
  *    neighbor distance. A query whose rings still hold < k points after
  *    `maxRounds` rounds takes the whole sphere (exact, just unpruned).
  *  - Exact top-k: a spherical cap of that radius per query is covered
  *    ([[S2RegionCoverer]]) and fed through the covering join; every true
  *    neighbor lies inside by construction. Exact haversine distance +
  *    `row_number()` over `(distance_m, idCols.head)` keeps the k nearest,
  *    with a shuffle that only carries candidate rows.
  *
  * The reference's analogue is the linear min-scan over loop vertices
  * (`S2Loop.cs:841-854`) plus ring expansion via `S2CellUnion.Expand`
  * (`S2CellUnion.cs:593-648`).
  */
object Knn {

  /** @param points  big side with latCol/lonCol and idCols to carry through
    * @param queries (query_id, latDeg, lonDeg)
    * @return columns: query_id, idCols..., distance_m, rank
    */
  def knnJoin(points: DataFrame,
              latCol: String,
              lonCol: String,
              idCols: Seq[String],
              queries: Seq[(String, Double, Double)],
              k: Int,
              startLevel: Int = 8,
              maxRounds: Int = 12): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._

    require(queries.nonEmpty && k > 0)

    // NULL, NaN and +-Inf all fail `< Infinity`
    def finite(c: String) = abs(col(c)) < Double.PositiveInfinity
    val cellPop: Map[Long, Long] = points
      .where(finite(latCol) && finite(lonCol))
      .groupBy(s2_tile(col(latCol), col(lonCol), startLevel).as("__cell"))
      .count()
      .as[(Long, Long)].collect().toMap

    val regions: Seq[(String, S2Region)] = queries.map { case (qid, lat, lon) =>
      val axis = S2LatLng.fromDegrees(lat, lon).toPoint
      val start = Set(S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(lat, lon), startLevel))
      // the covered cells after 0, 1, ..., maxRounds rings: the first that
      // holds >= k points
      val filled = Iterator.iterate((start, start)) { case (covered, ring) =>
        val next = ring.flatMap(S2CellId.allNeighbors(_, startLevel)) -- covered
        (covered ++ next, next)
      }.map(_._1).take(maxRounds + 1).find(_.iterator.map(cellPop.getOrElse(_, 0L)).sum >= k)
      val angle = filled.fold(math.Pi) { cells =>
        val bound = cells.iterator.filter(cellPop.contains).map { c =>
          val cap = S2Cell(c).capBound
          axis.angle(cap.axis) + cap.angle
        }.max
        math.min(math.Pi, bound * (1 + 1e-9) + 1e-12)
      }
      qid -> (S2Cap.fromAxisAngle(axis, angle): S2Region)
    }

    val queryDf = queries.toDF("__qid", "__qlat", "__qlon")
    val wFinal = Window.partitionBy("__qid").orderBy(col("distance_m"), col(idCols.head))
    SpatialJoin.pipJoin(points, latCol, lonCol, regions, maxCells = 32)
      .withColumnRenamed("region_id", "__qid")
      .join(broadcast(queryDf), "__qid")
      .withColumn("distance_m", s2_distance_m(col(latCol), col(lonCol), col("__qlat"), col("__qlon")))
      .withColumn("rank", row_number().over(wFinal))
      .where(col("rank") <= k)
      .select((col("__qid").as("query_id") +: idCols.map(col)) :+ col("distance_m") :+ col("rank"): _*)
  }

  /** ALL-pairs exact kNN self-join: every point gets its k nearest other
    * points (the all-pairs companion of [[knnJoin]]'s fixed query list —
    * the classic "for each listing, its 5 closest competitors" workload).
    *
    * Iterative neighbor-ring resolution, fine to coarse: at level L a
    * still-unresolved point gathers candidates from its 3x3 cell block
    * (own cell + `GetAllNeighbors`); if the block holds >= k candidates
    * and the k-th candidate distance is <= minWidth(L) — the same
    * adjacency guarantee [[SpatialJoin.distanceJoin]] rests on: anything
    * closer than minWidth(L) must lie inside the block — then the block
    * top-k IS the global top-k and the point retires with exact ranks.
    * Survivors escalate to coarser levels; the remainder (points whose
    * k-th neighbor is beyond the coarsest guarantee, a handful in any
    * non-degenerate dataset) finishes by brute force against the full
    * table with the REMAINDER broadcast. Per level: one 9x-explode
    * equi-join on the cell id + one window; only (id, lat, lon) rows
    * shuffle, and resolved points leave the working set before the next
    * (more expensive per row, coarser) level. */
  def knnSelfJoin(points: DataFrame, idCol: String, latCol: String, lonCol: String,
                  k: Int, startLevel: Int = 6, minLevel: Int = 2,
                  levelStep: Int = 2): DataFrame = {
    require(k > 0 && startLevel >= minLevel && levelStep > 0)
    val pts = points.select(col(idCol), col(latCol), col(lonCol)).localCheckpoint()
    val nTotal = pts.count()
    require(nTotal >= 2, "knnSelfJoin needs at least two points")
    val kEff = math.min(k.toLong, nTotal - 1)

    val b = pts.select(col(idCol).as("neighbor_id"),
      col(latCol).as("__blat"), col(lonCol).as("__blon"))
    var unresolved = pts
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = startLevel
    while (level >= minLevel && !unresolved.isEmpty) {
      val boundM = S2Projections.MinWidth.getValue(level) * S2LatLng.EarthRadiusMeters
      val a = unresolved.select(col(idCol).as("id"),
          col(latCol).as("__alat"), col(lonCol).as("__alon"))
        .withColumn("__c", SpatialJoin.cellBucket(col("__alat"), col("__alon"), level))
        .withColumn("__bucket", explode(SpatialJoin.neighborBuckets(col("__c"), level)))
        .drop("__c")
      val wRank = Window.partitionBy("id").orderBy(col("distance_m"), col("neighbor_id"))
      val wAll = Window.partitionBy("id")
      val ranked = a
        .join(b.withColumn("__bucket",
          SpatialJoin.cellBucket(col("__blat"), col("__blon"), level)), "__bucket")
        .where(col("id") =!= col("neighbor_id"))
        .withColumn("distance_m",
          s2_distance_m(col("__alat"), col("__alon"), col("__blat"), col("__blon")))
        .withColumn("rank", row_number().over(wRank))
        .withColumn("__cnt", count(lit(1)).over(wAll))
        .where(col("rank") <= kEff)
        .select("id", "neighbor_id", "distance_m", "rank", "__cnt")
        .localCheckpoint()
      // retirement bound shaved by a relative + absolute safety margin
      // (same discipline as knnJoin's cap radius): fp noise in the
      // computed distances is ~1e-8 m, so a dk in the shaved band simply
      // escalates one level instead of risking a boundary-equal wrong
      // retirement
      val safeBound = boundM * (1 - 1e-9) - 1e-6
      val resolvedIds = ranked.groupBy("id")
        .agg(max("distance_m").as("__dk"), max("__cnt").as("__cnt"))
        .where(col("__cnt") >= nTotal - 1 ||
          (col("__cnt") >= kEff && col("__dk") <= safeBound))
        .select("id")
      parts += ranked.join(resolvedIds, "id")
        .select("id", "neighbor_id", "distance_m", "rank")
      unresolved = unresolved
        .join(resolvedIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
        .localCheckpoint()
      level -= levelStep
    }
    if (!unresolved.isEmpty) {
      val rest = unresolved.select(col(idCol).as("id"),
        col(latCol).as("__alat"), col(lonCol).as("__alon"))
      val wRank = Window.partitionBy("id").orderBy(col("distance_m"), col("neighbor_id"))
      parts += b
        .crossJoin(broadcast(rest))
        .where(col("id") =!= col("neighbor_id"))
        .withColumn("distance_m",
          s2_distance_m(col("__alat"), col("__alon"), col("__blat"), col("__blon")))
        .withColumn("rank", row_number().over(wRank))
        .where(col("rank") <= kEff)
        .select("id", "neighbor_id", "distance_m", "rank")
    }
    parts.reduce(_ unionByName _)
  }
}
