package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.plans.{CoverIntervals, S2PipJoin}
import graft.s2._

/** The covering point-in-region join: the engine's flagship operator.
  *
  * Plan shape (designed for a 10^12-row points table on a large cluster):
  *
  *  1. A lat band (plus a lng band unless the regions' union spans every
  *     longitude) from the regions' combined rect bound filters the points
  *     side: plain comparisons Catalyst pushes into the parquet scan.
  *  2. Driver-side planning: each query region is covered by a small
  *     (<= maxCells) set of disjoint cells via [[S2RegionCoverer]]; cells the
  *     region fully contains are flagged `interior` (reference analogue:
  *     `GetCovering`/`GetInteriorCovering`, `S2RegionCoverer.cs:214-282`).
  *     Each region's cells become sorted disjoint Hilbert intervals shipped
  *     in the task closure ([[graft.plans.CoverIntervals]]).
  *  3. [[graft.plans.S2PipJoinExec]] computes each row's leaf cell once and
  *     binary-searches each region's intervals: no row is multiplied, no
  *     hash table is built and the big side never shuffles.
  *  4. Points hitting an `interior` cell are accepted outright (the
  *     reference's interior-covering fast path); only boundary-cell hits run
  *     the exact refinement ([[regionContains]], e.g. `S2Polygon.Contains`,
  *     `S2Polygon.cs:944-964`).
  */
object SpatialJoin {

  final case class CoverCell(regionId: String, cell: Long, level: Int, interior: Boolean)

  /** Driver-side planning: region -> disjoint covering cells with interior
    * flags, at levels from [[DefaultCoverLevels]].
    *
    * Each covering cell is re-expanded to the next level of that set;
    * children that don't intersect the region are pruned and children fully
    * inside it upgrade to the interior fast path, so fewer points reach the
    * exact refinement. The interval probe costs one binary search per region
    * whatever the levels, so re-expansion only grows the per-region
    * interval table. */
  def coverRegions(regions: Seq[(String, S2Region)], maxCells: Int): Seq[CoverCell] = {
    val levels = DefaultCoverLevels
    regions.flatMap { case (regionId, region) =>
      val coverer = new S2RegionCoverer().setMaxCells(maxCells).setMaxLevel(levels.max)
      val covering = coverer.getCoveringUnion(region)
      covering.cellIds.flatMap { cell =>
        val level = S2CellId.level(cell)
        val target = levels.find(_ >= level).getOrElse(levels.max)
        if (target == level) {
          Seq(CoverCell(regionId, cell, level, interior = region.containsCell(S2Cell(cell))))
        } else {
          // re-expand to the allowed level, pruning non-intersecting children
          val out = scala.collection.mutable.ArrayBuffer.empty[CoverCell]
          var child = S2CellId.childBeginForLevel(cell, target)
          val end = S2CellId.childEndForLevel(cell, target)
          while (child != end) {
            val c = S2Cell(child)
            if (region.mayIntersectCell(c))
              out += CoverCell(regionId, child, target, interior = region.containsCell(c))
            child = S2CellId.next(child)
          }
          out
        }
      }
    }
  }

  /** Covering levels, ascending: coarse / city / block granularity. */
  val DefaultCoverLevels: Seq[Int] = Seq(4, 8, 12)

  /** Exact containment of a (lat, lon) point in a region, matching the
    * reference refinement pipeline bit-for-bit. */
  def regionContains(region: S2Region, latDeg: Double, lonDeg: Double): Boolean = {
    val ll = S2LatLng.fromDegrees(latDeg, lonDeg)
    region match {
      case p: S2Polygon => p.contains(ll.toPoint)
      case l: S2Loop => l.contains(ll.toPoint)
      case r: S2LatLngRect => r.contains(ll)
      case c: S2Cap => c.contains(ll.toPoint)
      case u: S2CellUnion => u.contains(ll.toPoint)
      case cell: S2Cell => cell.contains(ll.toPoint)
      case other => other.mayIntersectCell(S2Cell(S2CellId.fromLatLngRadians(ll.latRadians, ll.lngRadians)))
    }
  }

  /** Point-in-region join.
    *
    * @param points   big side; must have `latCol`/`lonCol` double columns
    * @param regions  small query side: (region_id, region)
    * @return points rows (original columns) + `region_id`
    */
  def pipJoin(points: DataFrame,
              latCol: String,
              lonCol: String,
              regions: Seq[(String, S2Region)],
              maxCells: Int = 64): DataFrame = {
    val cover = coverRegions(regions, maxCells)
    require(cover.nonEmpty, "regions produced an empty covering")

    // Lat band + (unless the union spans every longitude) lng band from the
    // union of region bounds: plain comparisons Catalyst pushes into the scan.
    val bound = regions.map(_._2.rectBound).reduce(_ union _)
    val pre: DataFrame =
      if (bound.lat.isEmpty) points.limit(0)
      else {
        val latLo = math.toDegrees(bound.lat.lo)
        val latHi = math.toDegrees(bound.lat.hi)
        val latPred = col(latCol) >= latLo && col(latCol) <= latHi
        val pred =
          if (bound.lng.isFull) latPred
          else {
            val lngLo = math.toDegrees(bound.lng.lo)
            val lngHi = math.toDegrees(bound.lng.hi)
            if (bound.lng.isInverted)
              latPred && (col(lonCol) >= lngLo || col(lonCol) <= lngHi)
            else
              latPred && col(lonCol) >= lngLo && col(lonCol) <= lngHi
          }
        points.where(pred)
      }
    S2PipJoin.plan(pre, latCol, lonCol, new CoverIntervals(cover, regions))
  }

  /** Doughnut (annulus) join: points with innerRadius < distance <= outer
    * radius of each query center. The reference's `DoughnutCoverage`
    * include/exclude cell sets (`OpenSkyS2.cs:192-198`) become the
    * covering join [[pipJoin]] (include) with an interior fast-path on
    * both sides and an exact haversine refinement; the exclude set's
    * interior cells are the anti-join fast path.
    *
    * @param queries (query_id, latDeg, lonDeg, outerMeters, innerMeters)
    */
  def doughnutJoin(points: DataFrame,
                   latCol: String,
                   lonCol: String,
                   queries: Seq[(String, Double, Double, Double, Double)],
                   maxCells: Int = 64): DataFrame = {
    val spark = points.sparkSession

    // Build one cap region per query outer radius; refine on exact distance.
    val regions: Seq[(String, S2Region)] = queries.map { case (qid, lat, lon, outerM, _) =>
      val axis = S2LatLng.fromDegrees(lat, lon).toPoint
      // widen the prefilter cap a hair so the exact haversine filter below is
      // the sole boundary arbiter
      val angle = outerM / S2LatLng.EarthRadiusMeters * (1 + 1e-9) + 1e-12
      qid -> (S2Cap.fromAxisAngle(axis, angle): S2Region)
    }
    val qDf = spark.createDataFrame(queries)
      .toDF("region_id", "__qlat", "__qlon", "__outer_m", "__inner_m")

    pipJoin(points, latCol, lonCol, regions, maxCells)
      .join(broadcast(qDf), "region_id")
      .withColumn("__d", s2_distance_m(col(latCol), col(lonCol), col("__qlat"), col("__qlon")))
      .where(col("__d") <= col("__outer_m") && col("__d") > col("__inner_m"))
      .drop("__qlat", "__qlon", "__outer_m", "__inner_m", "__d")
  }

  /** Distance self-join: all point pairs within `radiusM`, WITHOUT a cross
    * join. Bucketing level L = max level whose cell min-width >= radius
    * (`S2Projections.MinWidth.getMaxLevel`), so any two points within the
    * radius sit in the same or edge/vertex-adjacent level-L cells. One side
    * explodes its cell's closed 8-neighborhood (<= 9 distinct buckets,
    * `GetAllNeighbors`), the other keeps its own cell; a hash equi-join on
    * the bucket + exact haversine refinement finishes. Each qualifying pair
    * is emitted exactly once (the b-side is keyed by its unique own cell).
    * Shuffle volume: <= 9x (id, lat, lon) on one side — never a pair blowup
    * beyond genuine neighborhood density; skewed hot cells are AQE's
    * skew-join case.
    *
    * Radius must not exceed the level-0 min width (~0.47 rad ~ 3000 km):
    * beyond that, opposite cube faces are non-adjacent and completeness
    * would break. */
  def distanceJoin(points: DataFrame, latCol: String, lonCol: String,
                   idCol: String, radiusM: Double): DataFrame = {
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"distanceJoin radius $radiusM m exceeds the level-0 adjacency guarantee (~3000 km)")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    val withCell = points.select(col(idCol), col(latCol), col(lonCol))
      .withColumn("__cell", s2_tile(col(latCol), col(lonCol), level))
    val a = withCell.select(col(idCol).as("id_a"),
      col(latCol).as("__lata"), col(lonCol).as("__lona"),
      explode(array_union(array(col("__cell")),
        s2_all_neighbors(col("__cell"), level))).as("__bucket"))
    val b = withCell.select(col(idCol).as("id_b"),
      col(latCol).as("__latb"), col(lonCol).as("__lonb"),
      col("__cell").as("__bucket"))
    a.join(b, "__bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("distance_m",
        s2_distance_m(col("__lata"), col("__lona"), col("__latb"), col("__lonb")))
      .where(col("distance_m") <= radiusM)
      .select("id_a", "id_b", "distance_m")
  }

  /** Bichromatic distance join: every (left, right) pair within `radiusM`
    * across TWO point tables (customers × facilities, images × landmarks)
    * — [[distanceJoin]]'s two-table sibling. Same adjacency argument:
    * bucketing level L = max level with cell min-width ≥ radius, the LEFT
    * side explodes its closed 8-neighborhood, the RIGHT keeps its own
    * cell, hash equi-join + exact haversine refinement. Each qualifying
    * pair appears exactly once (the non-exploded side is keyed by its
    * unique own cell — no a<b filter here, the tables are distinct).
    *
    * `explodeRight = false` (default) explodes the LEFT side's closed
    * 8-neighborhood; pass `true` to explode the RIGHT instead. The
    * adjacency argument is symmetric (within-radius ⟹ same-or-adjacent
    * cells, and cell adjacency is mutual), so BOTH variants return the
    * identical pair set — the choice is purely physical: explode the
    * SMALL side. A 10k-facility table exploded 9× is still a broadcast
    * (the 100M-point side then never shuffles at all); exploding the big
    * side there would be a pointless 9×-inflated exchange.
    * Output: (id_left, id_right, distance_m). */
  def distanceJoinBetween(left: DataFrame, leftId: String,
                          leftLat: String, leftLon: String,
                          right: DataFrame, rightId: String,
                          rightLat: String, rightLon: String,
                          radiusM: Double,
                          explodeRight: Boolean = false): DataFrame = {
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"distanceJoinBetween radius $radiusM m exceeds the level-0 adjacency guarantee (~3000 km)")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    def keyed(df: DataFrame, id: String, lat: String, lon: String,
              outId: String, outLat: String, outLon: String,
              explodeNeighbors: Boolean): DataFrame = {
      val base = df.select(col(id).as(outId), col(lat).as(outLat), col(lon).as(outLon))
        .withColumn("__cell", s2_tile(col(outLat), col(outLon), level))
      if (explodeNeighbors)
        base.select(col(outId), col(outLat), col(outLon),
          explode(array_union(array(col("__cell")),
            s2_all_neighbors(col("__cell"), level))).as("__bucket"))
      else base.withColumnRenamed("__cell", "__bucket")
    }
    val a = keyed(left, leftId, leftLat, leftLon,
      "id_left", "__lata", "__lona", explodeNeighbors = !explodeRight)
    val b = keyed(right, rightId, rightLat, rightLon,
      "id_right", "__latb", "__lonb", explodeNeighbors = explodeRight)
    a.join(b, "__bucket")
      .withColumn("distance_m",
        s2_distance_m(col("__lata"), col("__lona"), col("__latb"), col("__lonb")))
      .where(col("distance_m") <= radiusM)
      .select("id_left", "id_right", "distance_m")
  }

  /** Bounded nearest-neighbor join: for each left point, THE closest
    * right point within `radiusM` (ties broken by smallest right id) —
    * the facility-assignment / nearest-landmark join. One bichromatic
    * candidate join ([[distanceJoinBetween]]) then an exact per-left-id
    * min_by aggregate — never a window sort, and left rows with no
    * neighbor in range simply don't appear (the caller anti-joins for the
    * orphans; [[isolatedPoints]] is the monochromatic version of that
    * question). Output: (id_left, id_right, distance_m). */
  def nearestJoin(left: DataFrame, leftId: String,
                  leftLat: String, leftLon: String,
                  right: DataFrame, rightId: String,
                  rightLat: String, rightLon: String,
                  radiusM: Double, explodeRight: Boolean = false): DataFrame = {
    distanceJoinBetween(left, leftId, leftLat, leftLon,
      right, rightId, rightLat, rightLon, radiusM, explodeRight)
      .groupBy(col("id_left"))
      .agg(min_by(struct(col("distance_m"), col("id_right")),
        struct(col("distance_m"), col("id_right"))).as("__best"))
      .select(col("id_left"), col("__best.id_right").as("id_right"),
        col("__best.distance_m").as("distance_m"))
  }

  /** Points with NO other point within `radiusM` — the spatial-isolation
    * gate (stranded sensors, geocoding glitches, sparse-region QA). The
    * complement composition of [[distanceJoin]]: the same neighbor-cell
    * bucketed pair join finds every close pair once, the ids touching any
    * pair union-distinct into the has-a-neighbor set (ids ONLY — payloads
    * never shuffle twice), and one left-anti join keeps the isolated rows.
    * The anti side is the SMALL side at any radius worth calling isolation
    * (most points have neighbors → the distinct id set is dense but still
    * id-width), so AQE broadcasts it when it fits.
    * Output: (idCol, latCol, lonCol). */
  def isolatedPoints(points: DataFrame, latCol: String, lonCol: String,
                     idCol: String, radiusM: Double): DataFrame = {
    val pairs = distanceJoin(points, latCol, lonCol, idCol, radiusM)
    // ONE subtree: a two-select union would compute the pair join twice
    // (different projections defeat exchange reuse); exploding both ids
    // from the same rows keeps it a single pass
    val near = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    points.select(col(idCol), col(latCol), col(lonCol))
      .join(near, Seq(idCol), "left_anti")
  }

  /** Sphere surface area at the haversine radius (4π·6367000²) — ONE
    * literal shared with the Ripley's-K SQL oracle so both engines parse
    * the identical double. */
  val SphereAreaM2: Double =
    4.0 * math.Pi * S2LatLng.EarthRadiusMeters * S2LatLng.EarthRadiusMeters

  /** Ripley's K-function of a spherical point pattern at multiple radii —
    * the standard point-pattern statistic (K(r) above the CSR baseline
    * ⇒ clustering at scale r, below ⇒ inhibition/regularity); the study
    * area is the WHOLE sphere at the haversine radius, so
    * `k_est(r) = A · 2·n_pairs(r) / (N·(N−1))` with A = [[SphereAreaM2]].
    *
    * Exactness contract: pair membership at radius r is the integer test
    * `round_m(d) <= r` (the one rounding boundary; RipleysKSpec pins the
    * fixture's half-meter margin), counts are integers, and k_est is one
    * fixed IEEE expression — the oracle matches bit for bit.
    *
    * Scale shape: ONE bucketed distance self-join at the LARGEST radius
    * ([[distanceJoin]]'s neighbor-cell completeness argument), then every
    * radius is a conditional partial sum over the pair table — additional
    * radii never rescan points or re-join. Output: (r_m, n_pairs, k_est),
    * one row per radius. */
  def ripleysK(points: DataFrame, latCol: String, lonCol: String, idCol: String,
               radiiM: Seq[Long]): DataFrame = {
    require(radiiM.nonEmpty && radiiM.forall(_ > 0), s"radii must be positive: $radiiM")
    require(radiiM.distinct.size == radiiM.size, s"duplicate radii: $radiiM")
    val rMax = radiiM.max
    // surface the candidate-generation bound as OUR contract, not a
    // confusing inner failure: the bucketing level exists only while the
    // search radius respects level-0 cell adjacency (~3000 km)
    require((rMax + 0.5) / S2LatLng.EarthRadiusMeters <=
      S2Projections.MinWidth.getValue(0),
      s"largest radius $rMax m exceeds the level-0 adjacency guarantee (~3000 km)")
    // + 0.5: keep every pair whose ROUNDED distance can still be <= rMax
    val pairs = distanceJoin(points, latCol, lonCol, idCol, rMax.toDouble + 0.5)
      .select(round(col("distance_m")).cast("long").as("__dm"))
    val cnt = points.agg(count(lit(1)).as("__n"))
    val sums = radiiM.map(r =>
      sum(when(col("__dm") <= r, 1L).otherwise(0L)).as(s"__c$r"))
    pairs.agg(sums.head, sums.tail: _*)
      .crossJoin(broadcast(cnt))
      .select(explode(array(radiiM.map(r => struct(lit(r).as("r_m"),
        coalesce(col(s"__c$r"), lit(0L)).as("n_pairs"), col("__n"))): _*)).as("__t"))
      .select(col("__t.r_m").as("r_m"), col("__t.n_pairs").as("n_pairs"),
        (lit(SphereAreaM2) * lit(2.0) * col("__t.n_pairs").cast("double") /
          (col("__t.__n").cast("double") * (col("__t.__n").cast("double") - lit(1.0))))
          .as("k_est"))
  }

  /** Longitude scale constant for the planar metric of [[idwInterpolate]]:
    * cos(45 deg), embedded as one literal so the Spark plan and any SQL
    * oracle parse the IDENTICAL double. */
  val IdwLonScale: Double = 0.7071067811865476

  /** Inverse-distance-weighted (power-2) interpolation: for every query
    * point, the 1/d^2-weighted mean of sample values within `radiusDeg`
    * of it under a PLANAR wrap-aware degree metric
    * `d2 = dlat^2 + (dlonWrap * IdwLonScale)^2` — the classic IDW
    * surface-estimation operator (Shepard 1968), distributed.
    *
    * Why planar, not haversine: the metric and weights are pure +,-,*,/
    * IEEE arithmetic over coordinate doubles — no transcendentals — so
    * every engine computes bit-identical d2, and the per-query sums are
    * folded in an EXPLICIT total order (sort by (d2, v, id), left fold
    * from 0.0), making the estimate itself bit-reproducible: the DuckDB
    * oracle replays it exactly (list(... ORDER BY ...) + list_reduce).
    * Floating-point determinism under re-partitioning is a real
    * reproducibility requirement for training-data pipelines; this is the
    * pattern that delivers it. Cost: one sort of each query's bounded
    * neighbor list, not a global sort.
    *
    * Candidate generation is the [[distanceJoin]] bucket scheme: samples
    * keep their level-L cell, queries explode the closed 9-neighborhood,
    * with L derived from a SAFE great-circle upper bound of the planar
    * radius (meridian+parallel path: gc_m <= (dlat + dlonWrap) * 111200 <=
    * radiusDeg * (1 + 1/IdwLonScale) * 111200). Samples at d2 = 0 are
    * excluded (the weight is undefined); queries with no in-radius sample
    * produce no row. Output: (qid, n_neighbors, est). */
  def idwInterpolate(samples: DataFrame, latCol: String, lonCol: String,
                     valCol: String, idCol: String,
                     queries: DataFrame, qidCol: String,
                     qlatCol: String, qlonCol: String,
                     radiusDeg: Double): DataFrame = {
    require(radiusDeg > 0, s"radiusDeg must be positive: $radiusDeg")
    val radiusM = radiusDeg * (1.0 + 1.0 / IdwLonScale) * 111200.0
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle <= S2Projections.MinWidth.getValue(0),
      s"idwInterpolate radius $radiusDeg deg exceeds the level-0 adjacency guarantee")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    val s = samples.select(
      col(idCol).as("__sid"), col(valCol).cast("double").as("__v"),
      col(latCol).as("__slat"), col(lonCol).as("__slon"),
      s2_tile(col(latCol), col(lonCol), level).as("__bucket"))
    val qCell = s2_tile(col(qlatCol), col(qlonCol), level)
    val q = queries.select(col(qidCol).as("qid"),
        col(qlatCol).as("__qlat"), col(qlonCol).as("__qlon"),
        explode(array_union(array(qCell), s2_all_neighbors(qCell, level))).as("__bucket"))
    val dlat = col("__qlat") - col("__slat")
    val rawDlon = abs(col("__qlon") - col("__slon"))
    val dlonW = least(rawDlon, lit(360.0) - rawDlon)
    val d2 = dlat * dlat + (dlonW * lit(IdwLonScale)) * (dlonW * lit(IdwLonScale))
    val arr = sort_array(collect_list(struct(
      col("__d2").as("d2"), col("__v").as("v"), col("__sid").as("id"))))
    q.join(s, "__bucket")
      .withColumn("__d2", d2)
      .where(col("__d2") > lit(0.0) && col("__d2") <= lit(radiusDeg * radiusDeg))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_neighbors"), arr.as("__arr"))
      .withColumn("__num", expr(
        "aggregate(transform(__arr, x -> x.v / x.d2), cast(0.0 as double), (a, t) -> a + t)"))
      .withColumn("__den", expr(
        "aggregate(transform(__arr, x -> cast(1.0 as double) / x.d2), cast(0.0 as double), (a, t) -> a + t)"))
      .select(col("qid"), col("n_neighbors"), (col("__num") / col("__den")).as("est"))
  }

  /** Region-region intersection self-join over lat/lng rectangles — the
    * missing third member of the join family (point x region, point x
    * point, now region x region). Bounds are degree columns; `lonLo >
    * lonHi` means the rect wraps the antimeridian.
    *
    * Candidates must share a FIXED-level-`level` S2 cell: any point of
    * rectA intersect rectB lies in exactly one level-`level` cell, which
    * then intersects both rects and appears in both cell sets — so the
    * bucketed equi-join is complete. Per-rect cells come from the
    * reference's fixed-level flood fill (`S2RegionCoverer.cs:289-293`,
    * seeded at the rect center) with the exact curved-edge rect x cell
    * test; refinement is the kernel's exact `S2LatLngRect.intersects`
    * (closed intervals, wrap-aware). Shuffle carries only (id, cell,
    * bounds) rows; no cross join at any scale. `level` trades explode
    * factor (finer = more cells per rect) against bucket selectivity —
    * pick it so a typical rect covers a handful of cells. */
  def rectIntersectJoin(rects: DataFrame, idCol: String,
                        latLoCol: String, latHiCol: String,
                        lonLoCol: String, lonHiCol: String,
                        level: Int = 5): DataFrame = {
    val cellsUdf = udf { (latLo: Double, latHi: Double, lonLo: Double, lonHi: Double) =>
      val rect = S2LatLngRect(
        R1Interval(math.toRadians(latLo), math.toRadians(latHi)),
        S1Interval(math.toRadians(lonLo), math.toRadians(lonHi)))
      val seed = rect.center.toPoint
      S2RegionCoverer.getSimpleCovering(rect, seed, level).toArray
    }
    val intersectsUdf = udf {
      (aLo: Double, aHi: Double, aGlo: Double, aGhi: Double,
       bLo: Double, bHi: Double, bGlo: Double, bGhi: Double) =>
        S2LatLngRect(
          R1Interval(math.toRadians(aLo), math.toRadians(aHi)),
          S1Interval(math.toRadians(aGlo), math.toRadians(aGhi)))
          .intersects(S2LatLngRect(
            R1Interval(math.toRadians(bLo), math.toRadians(bHi)),
            S1Interval(math.toRadians(bGlo), math.toRadians(bGhi))))
    }
    val withCells = rects.select(col(idCol),
        col(latLoCol).as("__lo"), col(latHiCol).as("__hi"),
        col(lonLoCol).as("__glo"), col(lonHiCol).as("__ghi"))
      .withColumn("__cell",
        explode(cellsUdf(col("__lo"), col("__hi"), col("__glo"), col("__ghi"))))
    val a = withCells.select(col(idCol).as("id_a"), col("__cell"),
      col("__lo").as("__alo"), col("__hi").as("__ahi"),
      col("__glo").as("__aglo"), col("__ghi").as("__aghi"))
    val b = withCells.select(col(idCol).as("id_b"), col("__cell"),
      col("__lo").as("__blo"), col("__hi").as("__bhi"),
      col("__glo").as("__bglo"), col("__ghi").as("__bghi"))
    a.join(b, "__cell")
      .where(col("id_a") < col("id_b"))
      .drop("__cell")
      .dropDuplicates("id_a", "id_b")
      .where(intersectsUdf(
        col("__alo"), col("__ahi"), col("__aglo"), col("__aghi"),
        col("__blo"), col("__bhi"), col("__bglo"), col("__bghi")))
      .select("id_a", "id_b")
  }

  /** k nearest POLYLINES within `radiusM` of each point — map matching:
    * "which roads could this image have been taken from". Candidate
    * generation is [[polylineDistanceJoin]]'s (chain covering ∪ neighbor
    * rings at the radius-derived level vs the point's single cell, complete
    * by the min-width adjacency argument); ranking is a per-point window
    * over the radius-bounded candidate set, ordered (distance, line id)
    * for determinism.
    *
    * @return point columns + `line_id`, `distance_m`, `rank` (1-based,
    *         <= k), only for chains within `radiusM` */
  def nearestPolylinesJoin(points: DataFrame, pointIdCol: String,
                           latCol: String, lonCol: String,
                           lines: DataFrame, idCol: String,
                           latsCol: String, lonsCol: String,
                           radiusM: Double, k: Int): DataFrame = {
    require(k >= 1, s"nearestPolylinesJoin: k must be >= 1, got $k")
    val reserved = Seq("__rank")
    val collisions = (points.columns ++ lines.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"nearestPolylinesJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pointIdCol)).orderBy(col("distance_m"), col("line_id"))
    polylineDistanceJoin(points, latCol, lonCol,
        lines, idCol, latsCol, lonsCol, radiusM)
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .withColumn("rank", col("__rank"))
      .drop("__rank")
  }

  /** Polyline crossing SELF-join over a TABLE of chains — "which routes
    * cross each other", the polyline row of the geometry-join matrix.
    * Candidates follow [[loopIntersectJoin]]'s argument specialized to
    * chains: a proper crossing point lies ON both chains, hence in one
    * level-`level` cell that both fixed-level chain coverings contain
    * (`s2_polyline_covering` = every cell the chain passes through), so
    * pairs sharing a covering cell are complete. Pair-id dedup before the
    * exact refine; refinement is the robust crossing trichotomy over edge
    * pairs (> 0 only — shared vertices and touches are NOT crossings). */
  def polylineCrossJoin(lines: DataFrame, idCol: String,
                        latsCol: String, lonsCol: String,
                        level: Int = 5): DataFrame = {
    val reserved = Seq("__cell", "__alats", "__alons", "__blats", "__blons")
    val collisions = lines.columns.filter(reserved.contains)
    require(collisions.isEmpty,
      s"polylineCrossJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")
    val withCells = lines
      .select(col(idCol), col(latsCol).as("__vlats"), col(lonsCol).as("__vlons"),
        explode(s2_polyline_covering(col(latsCol), col(lonsCol), level)).as("__cell"))
    val a = withCells.select(col(idCol).as("id_a"), col("__cell"),
      col("__vlats").as("__alats"), col("__vlons").as("__alons"))
    val b = withCells.select(col(idCol).as("id_b"), col("__cell"),
      col("__vlats").as("__blats"), col("__vlons").as("__blons"))
    a.join(b, "__cell")
      .where(col("id_a") < col("id_b"))
      .drop("__cell")
      .dropDuplicates("id_a", "id_b")
      .where(s2_polylines_cross(col("__alats"), col("__alons"),
        col("__blats"), col("__blons")))
      .select("id_a", "id_b")
  }

  /** Spatio-temporal pair SELF-join: event pairs within `radiusM` meters
    * AND `windowSec` seconds of each other — co-occurrence detection
    * ("which images were taken near each other around the same time").
    *
    * One composite equi-join on (cell-bucket, time-bucket): the a-side
    * explodes its cell ∪ 8 neighbors at the radius-derived level (the
    * [[distanceJoin]] adjacency argument), the b-side explodes its time
    * bucket ±1 (|Δt| <= W implies the buckets of width W differ by at most
    * one). Each qualifying pair matches EXACTLY once — b's cell and a's
    * bucket are single values joined against deduped explode sets — so no
    * pair-dedup pass is needed. Row cost is 9|E| + 3|E| bucket rows and the
    * only shuffle is the composite-key hash join; a hot (cell, bucket) is
    * bounded by physical co-occurrence density, same as [[distanceJoin]].
    * Time buckets come from exact integer division of `unix_micros` (no fp
    * boundary wobble at 1e15-microsecond magnitudes).
    *
    * @return (id_a, id_b, distance_m) with id_a < id_b */
  def spatioTemporalJoin(events: DataFrame, idCol: String, tsCol: String,
                         latCol: String, lonCol: String,
                         radiusM: Double, windowSec: Long): DataFrame = {
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"spatioTemporalJoin radius $radiusM m exceeds the level-0 adjacency guarantee")
    require(windowSec >= 1, s"spatioTemporalJoin: windowSec must be >= 1, got $windowSec")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    val winUs = math.multiplyExact(windowSec, 1000000L)
    val base = events.select(col(idCol), col(tsCol), col(latCol), col(lonCol))
      .withColumn("__cell", s2_tile(col(latCol), col(lonCol), level))
      .withColumn("__tus", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("__tb", expr(s"__tus div ${winUs}L"))
    val a = base.select(col(idCol).as("id_a"), col("__tus").as("__tusa"),
      col(latCol).as("__lata"), col(lonCol).as("__lona"), col("__tb"),
      explode(array_union(array(col("__cell")),
        s2_all_neighbors(col("__cell"), level))).as("__bcell"))
    val b = base.select(col(idCol).as("id_b"), col("__tus").as("__tusb"),
      col(latCol).as("__latb"), col(lonCol).as("__lonb"),
      col("__cell").as("__bcell"),
      explode(array(col("__tb") - 1, col("__tb"), col("__tb") + 1)).as("__tb"))
    a.join(b, Seq("__bcell", "__tb"))
      .where(col("id_a") < col("id_b"))
      .where(abs(col("__tusa") - col("__tusb")) <= winUs)
      .withColumn("distance_m",
        s2_distance_m(col("__lata"), col("__lona"), col("__latb"), col("__lonb")))
      .where(col("distance_m") <= radiusM)
      .select("id_a", "id_b", "distance_m")
  }

  /** k nearest REGIONS within `radiusM` of each point, from a TABLE of
    * single-loop polygons — "which admin areas is this image in or near",
    * the region form of kNN. Distance is 0 inside a region, else the exact
    * boundary distance. Candidates follow the polyline join's adjacency
    * argument extended to areas: at the level where the minimum cell width
    * is >= the radius angle, a point INSIDE a region sits in one of its
    * covering cells, and a point within the radius of its boundary sits in
    * a covering cell or one of its 8 neighbors — so bucketing regions
    * under (covering ∪ neighbors, deduped per region before the explode)
    * and points under their single cell is complete, with one candidate
    * row per (point, region) pair. Ranking is a per-point window over the
    * (bounded: regions within the radius) candidate set, ordered
    * (distance, region id) for determinism.
    *
    * @return point columns + `region_id`, `distance_m`, `rank` (1-based,
    *         <= k), only for regions within `radiusM` */
  def nearestRegionsJoin(points: DataFrame, pointIdCol: String,
                         latCol: String, lonCol: String,
                         polys: DataFrame, idCol: String,
                         latsCol: String, lonsCol: String,
                         radiusM: Double, k: Int): DataFrame = {
    require(k >= 1, s"nearestRegionsJoin: k must be >= 1, got $k")
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"nearestRegionsJoin radius $radiusM m exceeds the level-0 adjacency guarantee")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    val reserved = Seq("__pcell", "__bucket", "__rlats", "__rlons", "__rank")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"nearestRegionsJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = polys
      .select(col(idCol).as("region_id"), col(latsCol).as("__rlats"),
        col(lonsCol).as("__rlons"),
        explode(array_distinct(flatten(transform(
          s2_polygon_covering(col(latsCol), col(lonsCol), level),
          c => array_union(array(c.getField("cell")),
            s2_all_neighbors(c.getField("cell"), level)))))).as("__bucket"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pointIdCol)).orderBy(col("distance_m"), col("region_id"))
    points
      .withColumn("__pcell", s2_tile(col(latCol), col(lonCol), level))
      .join(raster, col("__pcell") === col("__bucket"))
      .withColumn("distance_m",
        s2_loop_region_distance_m(col("__rlats"), col("__rlons"), col(latCol), col(lonCol)))
      .where(col("distance_m") <= radiusM)
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .withColumn("rank", col("__rank"))
      .drop("__pcell", "__bucket", "__rlats", "__rlons", "__rank")
  }

  /** Region-region intersection SELF-join over a TABLE of single-loop
    * polygons — [[rectIntersectJoin]] generalized from lat/lng rects to
    * arbitrary loops. Same candidate argument: any point of A ∩ B lies in
    * exactly one level-`level` cell, which then intersects both loops and
    * appears in both fixed-level coverings, so candidates sharing a
    * covering cell are complete. Pairs can share several cells, so the
    * (id_a, id_b) dedup shuffles ONLY pair ids (vertex arrays ride along
    * for the post-dedup exact `s2_loops_intersect` refinement; at very
    * high vertex counts, project them out before the dedup and join them
    * back by id). */
  def loopIntersectJoin(polys: DataFrame, idCol: String,
                        latsCol: String, lonsCol: String,
                        level: Int = 5): DataFrame = {
    val reserved = Seq("__cell", "__rc", "__alats", "__alons", "__blats", "__blons")
    val collisions = polys.columns.filter(reserved.contains)
    require(collisions.isEmpty,
      s"loopIntersectJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")
    val withCells = polys
      .select(col(idCol), col(latsCol).as("__vlats"), col(lonsCol).as("__vlons"),
        explode(s2_polygon_covering(col(latsCol), col(lonsCol), level)).as("__rc"))
      .select(col(idCol), col("__vlats"), col("__vlons"), col("__rc.cell").as("__cell"))
    val a = withCells.select(col(idCol).as("id_a"), col("__cell"),
      col("__vlats").as("__alats"), col("__vlons").as("__alons"))
    val b = withCells.select(col(idCol).as("id_b"), col("__cell"),
      col("__vlats").as("__blats"), col("__vlons").as("__blons"))
    a.join(b, "__cell")
      .where(col("id_a") < col("id_b"))
      .drop("__cell")
      .dropDuplicates("id_a", "id_b")
      .where(s2_loops_intersect(col("__alats"), col("__alons"),
        col("__blats"), col("__blons")))
      .select("id_a", "id_b")
  }

  /** PIP join against a TABLE of single-loop polygons — the many-polygon
    * form of [[pipJoin]]. [[pipJoin]]'s driver-side `Seq[(id, S2Region)]`
    * plan is right for a handful of broadcast query regions; a catalog of
    * 10^5-10^6 admin/geofence polygons must stay distributed. Plan:
    *
    *  1. Rasterize the polygon table executor-side at one fixed `level`
    *     ([[Vectorize.rasterizePolygons]] semantics, inlined slim): one
    *     (region row) -> (cell, interior) per covering cell, with the
    *     vertex arrays NULLED OUT on interior cells so the join below never
    *     shuffles vertices for rows that skip refinement.
    *  2. Equi-join points on their level-`level` tile. Same-level covering
    *     cells are disjoint, so each (point, region) pair meets on at most
    *     ONE cell — no pair dedup. Catalyst/AQE picks broadcast when the
    *     raster side is small, shuffle-hash otherwise; either way the join
    *     key is a plain long.
    *  3. `interior` hits pass outright; boundary hits run the exact
    *     `s2_loop_contains` refinement (loops built once per task thread
    *     per polygon via the expression's LRU, not once per pair).
    *
    * Level picks the raster granularity: finer -> more raster rows but a
    * higher interior fraction (less refinement); `s2_polygon_covering`
    * fails fast if a polygon would explode into > 2^17 cells at `level`.
    *
    * @param polys one row per region: `idCol`, parallel vertex-array
    *              columns `latsCol`/`lonsCol` (degrees, enclosed region on
    *              the left / CCW)
    * @return points columns + `region_id`, one row per (point, containing
    *         region) */
  def polygonPipJoin(points: DataFrame, latCol: String, lonCol: String,
                     polys: DataFrame, idCol: String,
                     latsCol: String, lonsCol: String,
                     level: Int = 8): DataFrame = {
    val reserved = Seq("__ptile", "__cell", "__interior", "__rlats", "__rlons", "__rc")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polygonPipJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = polys
      .select(col(idCol).as("region_id"), col(latsCol).as("__rlats"),
        col(lonsCol).as("__rlons"),
        explode(s2_polygon_covering(col(latsCol), col(lonsCol), level)).as("__rc"))
      .select(col("region_id"),
        col("__rc.cell").as("__cell"), col("__rc.interior").as("__interior"),
        when(!col("__rc.interior"), col("__rlats")).as("__rlats"),
        when(!col("__rc.interior"), col("__rlons")).as("__rlons"))

    points
      .withColumn("__ptile", s2_tile(col(latCol), col(lonCol), level))
      .join(raster, col("__ptile") === col("__cell"))
      .where(col("__interior") ||
        s2_loop_contains(col("__rlats"), col("__rlons"), col(latCol), col(lonCol)))
      .drop("__ptile", "__cell", "__interior", "__rlats", "__rlons")
  }

  /** PIP ANTI join: the points contained by NO polygon of the table — the
    * exclusion-zone filter of a curation pipeline ("drop every image
    * geotagged inside any embargoed region"). Semantics are the exact
    * complement of [[polygonPipJoin]] over `pointIdCol`.
    *
    * Scale shape: the matched-id set is produced by the covering equi-join
    * (only ids + tiles shuffle, interior fast path skips the refine), is
    * deduplicated with partial aggregation, and is then subtracted with a
    * LEFT ANTI join on the point key. When few points match — the common
    * exclusion-zone case — AQE broadcasts the matched set and the
    * subtraction costs no shuffle of the point table; in the worst case it
    * is one key-partitioned exchange, the same class as any equi-join.
    *
    * @param pointIdCol a unique point key (the subtraction joins on it) */
  def polygonPipAntiJoin(points: DataFrame, pointIdCol: String,
                         latCol: String, lonCol: String,
                         polys: DataFrame, idCol: String,
                         latsCol: String, lonsCol: String,
                         level: Int = 8): DataFrame = {
    val matched = polygonPipJoin(
        points.select(col(pointIdCol), col(latCol), col(lonCol)),
        latCol, lonCol, polys, idCol, latsCol, lonsCol, level)
      .select(col(pointIdCol)).distinct()
    points.join(matched, Seq(pointIdCol), "left_anti")
  }

  /** Zonal statistics: per-region count + sum over the points each polygon
    * contains — the raster/vector aggregation a geo pipeline runs to score
    * regions (images per country, revenue per zone) — with the aggregation
    * PUSHED BELOW the join for interior cells.
    *
    * The naive plan ([[polygonPipJoin]] then groupBy) shuffles every
    * matched POINT row to its region. Here interior-cell points never
    * shuffle at all: one partial+final hash aggregation collapses the
    * point table to per-tile (count, sum) partials — at most 6·4^level
    * rows regardless of input size — and only those partials join the
    * interior raster. Boundary cells (the thin shell where exactness
    * needs the per-point `s2_loop_contains` refine) fall back to the
    * per-point path, which the broadcast raster filters map-side. At
    * 100 TB the shuffled bytes are ~|distinct tiles| + |boundary-shell
    * points|, not |matched points|.
    *
    * `valueCol` must be integral (the sums stay integer-exact and
    * engine-order-independent); outputs `region_id, n_points, sum_value`,
    * regions with no contained point absent. */
  def zonalStats(points: DataFrame, latCol: String, lonCol: String,
                 valueCol: String,
                 polys: DataFrame, idCol: String,
                 latsCol: String, lonsCol: String,
                 level: Int = 8): DataFrame = {
    val reserved = Seq("__ptile", "__cell", "__interior", "__rlats", "__rlons", "__rc",
      "__n", "__sum", "region_id")
    val collisions = (points.columns ++ polys.columns.filterNot(_ == idCol))
      .filter(reserved.contains)
    require(collisions.isEmpty,
      s"zonalStats: reserved column name(s) in input: ${collisions.mkString(", ")}")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val valueType = points.schema(valueCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(valueType),
      s"zonalStats: valueCol must be integral for exact sums, got $valueType")

    val raster = polys
      .select(col(idCol).as("region_id"), col(latsCol).as("__rlats"),
        col(lonsCol).as("__rlons"),
        explode(s2_polygon_covering(col(latsCol), col(lonsCol), level)).as("__rc"))
      .select(col("region_id"),
        col("__rc.cell").as("__cell"), col("__rc.interior").as("__interior"),
        when(!col("__rc.interior"), col("__rlats")).as("__rlats"),
        when(!col("__rc.interior"), col("__rlons")).as("__rlons"))

    val pts = points
      .select(col(latCol), col(lonCol), col(valueCol))
      .withColumn("__ptile", s2_tile(col(latCol), col(lonCol), level))

    // interior push-down: per-tile partials first, then the tiny tile->region join
    val tileAgg = pts.groupBy("__ptile")
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).cast("long").as("__sum"))
    val interiorPart = tileAgg
      .join(raster.where(col("__interior")).select(col("region_id"), col("__cell")),
        col("__ptile") === col("__cell"))
      .select(col("region_id"), col("__n"), col("__sum"))

    // boundary shell: exact per-point refine, already pre-filtered map-side
    // by the (broadcastable) boundary raster before anything aggregates
    val boundaryPart = pts
      .join(raster.where(!col("__interior")), col("__ptile") === col("__cell"))
      .where(s2_loop_contains(col("__rlats"), col("__rlons"), col(latCol), col(lonCol)))
      .groupBy("region_id")
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).cast("long").as("__sum"))

    interiorPart.unionByName(boundaryPart)
      .groupBy("region_id")
      .agg(sum("__n").as("n_points"), sum("__sum").as("sum_value"))
  }

  /** [[polygonPipJoin]] for HETEROGENEOUS polygon catalogs: each polygon
    * row picks its own covering level (the finest of `quantizeLevels`
    * whose estimated covering fits `targetCells`), so a continent and a
    * parking lot both rasterize to ~targetCells cells instead of one
    * exploding and the other degenerating to a single unselective bucket.
    * The points side explodes ONE ancestor per menu level (|menu| rows, a
    * plan-time constant — this is why the levels are quantized) and the
    * equi-join meets each (point, polygon) pair on at most one cell
    * (every polygon is covered at a single level with disjoint cells).
    * Same interior fast path / vertex-array nulling / refine as the
    * fixed-level join. */
  def polygonPipJoinAdaptive(points: DataFrame, latCol: String, lonCol: String,
                             polys: DataFrame, idCol: String,
                             latsCol: String, lonsCol: String,
                             targetCells: Int = 32,
                             quantizeLevels: Seq[Int] = Seq(2, 4, 6, 8)): DataFrame = {
    val reserved = Seq("__pleaf", "__probe", "__cell", "__interior", "__rlats", "__rlons", "__rc")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polygonPipJoinAdaptive: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = polys
      .select(col(idCol).as("region_id"), col(latsCol).as("__rlats"),
        col(lonsCol).as("__rlons"),
        explode(s2_polygon_covering_adaptive(col(latsCol), col(lonsCol),
          targetCells, quantizeLevels)).as("__rc"))
      .select(col("region_id"),
        col("__rc.cell").as("__cell"), col("__rc.interior").as("__interior"),
        when(!col("__rc.interior"), col("__rlats")).as("__rlats"),
        when(!col("__rc.interior"), col("__rlons")).as("__rlons"))

    points
      .withColumn("__pleaf", s2_cell_id(col(latCol), col(lonCol)))
      .withColumn("__probe",
        explode(array(quantizeLevels.map(l => s2_parent(col("__pleaf"), l)): _*)))
      .join(raster, col("__probe") === col("__cell"))
      .where(col("__interior") ||
        s2_loop_contains(col("__rlats"), col("__rlons"), col(latCol), col(lonCol)))
      .drop("__pleaf", "__probe", "__cell", "__interior", "__rlats", "__rlons")
  }

  /** Points within `radiusM` of any polyline in a TABLE of polylines — the
    * map-matching prefilter (events near roads/tracks/routes). Candidate
    * generation follows [[distanceJoin]]'s adjacency argument: at the level
    * where the MINIMUM cell width is >= the radius angle, a point within
    * the radius of some chain point q lies in q's cell or one of its 8
    * neighbors; q's cell is in the chain's covering, so bucketing each
    * line under (covering cells UNION their neighbors, deduped per line
    * BEFORE the explode) and each point under its own single cell makes
    * the equi-join complete — and ONE row per candidate (point, line) pair
    * (the point has one cell, line buckets are distinct), so no pair
    * dedup. Refinement is the exact kernel min-over-edges distance
    * (`S2EdgeUtil.cs:293-334`), chains built once per (task thread, line).
    *
    * Shuffle carries (line id, vertex arrays, bucket) on the (small) line
    * side only; the points side joins on its scan-computed cell.
    *
    * @param lines one row per polyline: `idCol` + parallel vertex-array
    *              columns (degrees, >= 2 vertices)
    * @return points columns + `line_id` + `distance_m` */
  def polylineDistanceJoin(points: DataFrame, latCol: String, lonCol: String,
                           lines: DataFrame, idCol: String,
                           latsCol: String, lonsCol: String,
                           radiusM: Double): DataFrame = {
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"polylineDistanceJoin radius $radiusM m exceeds the level-0 adjacency guarantee")
    val level = S2Projections.MinWidth.getMaxLevel(angle)
    val reserved = Seq("__pcell", "__bucket", "__llats", "__llons")
    val collisions = (points.columns ++ lines.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polylineDistanceJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = lines
      .select(col(idCol).as("line_id"), col(latsCol).as("__llats"),
        col(lonsCol).as("__llons"),
        explode(array_distinct(flatten(transform(
          s2_polyline_covering(col(latsCol), col(lonsCol), level),
          c => array_union(array(c), s2_all_neighbors(c, level)))))).as("__bucket"))

    points
      .withColumn("__pcell", s2_tile(col(latCol), col(lonCol), level))
      .join(raster, col("__pcell") === col("__bucket"))
      .withColumn("distance_m",
        s2_polyline_distance_m(col("__llats"), col("__llons"), col(latCol), col(lonCol)))
      .where(col("distance_m") <= radiusM)
      .drop("__pcell", "__bucket", "__llats", "__llons")
  }

  /** Map-matching snap: each point's NEAREST polyline within `radiusM`
    * (ties by lowest line id) plus the nearest edge index on that line —
    * "which road, which segment" for every GPS fix. Points with no line in
    * range emit nothing (the standard max-snap-radius contract).
    *
    * Plan: candidates from [[polylineDistanceJoin]] (covering-cell ∪
    * neighbor raster equi-join — no cross join, bytes-thin rows), then a
    * per-point rank-1 window (WindowGroupLimit pre-truncates each map
    * partition to one row per point before the exchange) and ONE
    * nearest-edge refinement per matched point after an equi-join back to
    * the line catalog (AQE broadcasts it when small; a continental road
    * network shuffles as a plain equi-join on line_id). */
  def snapToPolylines(points: DataFrame, pointIdCol: String,
                      latCol: String, lonCol: String,
                      lines: DataFrame, idCol: String,
                      latsCol: String, lonsCol: String,
                      radiusM: Double): DataFrame = {
    val reserved = Seq("__slats", "__slons", "__rk")
    val collisions = (points.columns ++ lines.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"snapToPolylines: reserved column name(s) in input: ${collisions.mkString(", ")}")
    val cands = polylineDistanceJoin(points, latCol, lonCol,
      lines, idCol, latsCol, lonsCol, radiusM)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(pointIdCol)
      .orderBy(col("distance_m").asc, col("line_id").asc)
    cands.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
      .join(lines.select(col(idCol).as("line_id"),
        col(latsCol).as("__slats"), col(lonsCol).as("__slons")), "line_id")
      .withColumn("edge_idx",
        s2_polyline_nearest_edge(col("__slats"), col("__slons"), col(latCol), col(lonCol)))
      .drop("__slats", "__slons")
  }

  /** [[polygonPipJoin]] for MULTI-LOOP polygons (shells + holes, XOR
    * parity — the reference's `S2Polygon.Contains` semantics,
    * `S2Polygon.cs:944-964`, at table granularity). Identical plan shape;
    * the covering simply never emits cells inside holes (they don't
    * intersect the region) and the exact refinement is the parity test.
    *
    * @param polys one row per region: `idCol`, nested vertex-array columns
    *              `loopLatsCol`/`loopLonsCol` (`array<array<double>>`,
    *              degrees; loop nesting is inferred kernel-side) */
  def multiPolygonPipJoin(points: DataFrame, latCol: String, lonCol: String,
                          polys: DataFrame, idCol: String,
                          loopLatsCol: String, loopLonsCol: String,
                          level: Int = 8): DataFrame = {
    val reserved = Seq("__ptile", "__cell", "__interior", "__rlats", "__rlons", "__rc")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"multiPolygonPipJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = polys
      .select(col(idCol).as("region_id"), col(loopLatsCol).as("__rlats"),
        col(loopLonsCol).as("__rlons"),
        explode(s2_multipolygon_covering(col(loopLatsCol), col(loopLonsCol), level))
          .as("__rc"))
      .select(col("region_id"),
        col("__rc.cell").as("__cell"), col("__rc.interior").as("__interior"),
        when(!col("__rc.interior"), col("__rlats")).as("__rlats"),
        when(!col("__rc.interior"), col("__rlons")).as("__rlons"))

    points
      .withColumn("__ptile", s2_tile(col(latCol), col(lonCol), level))
      .join(raster, col("__ptile") === col("__cell"))
      .where(col("__interior") ||
        s2_polygon_contains(col("__rlats"), col("__rlons"), col(latCol), col(lonCol)))
      .drop("__ptile", "__cell", "__interior", "__rlats", "__rlons")
  }
}
