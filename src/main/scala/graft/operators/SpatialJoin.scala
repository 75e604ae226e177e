package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual,
  LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.s2functions._
import graft.plans.{DriverRegions, S2PipJoin}
import graft.s2._

/** The spatial joins. The point-in-region (PIP) joins are one operator
  * family: every one probes a cell table ([[graft.plans.CellTable]]) with
  * one exact-match binary search per covering level, in one probe loop
  * ([[graft.plans.PipProbe]]), and no PIP plan hash-joins on a cell id.
  *
  * [[pipJoin]], the flagship, over a driver-side region list (designed for
  * a 10^12-row points table on a large cluster):
  *
  *  1. A lat band (plus a lng band unless the regions' union spans every
  *     longitude) from the regions' combined rect bound filters the points
  *     side: plain comparisons Catalyst pushes into the parquet scan.
  *  2. Driver-side planning: each query region is covered by a small
  *     (<= maxCells) set of disjoint cells via [[S2RegionCoverer]]; cells the
  *     region fully contains are flagged `interior` (reference analogue:
  *     `GetCovering`/`GetInteriorCovering`, `S2RegionCoverer.cs:214-282`).
  *     The cells form one cell table shipped in the task closure
  *     ([[graft.plans.DriverRegions]]).
  *  3. [[graft.plans.S2PipJoinExec]] computes each row's leaf cell once and
  *     probes the table: no row is multiplied, no hash table is built and
  *     the big side never shuffles.
  *  4. Points hitting an `interior` cell are accepted outright (the
  *     reference's interior-covering fast path); only boundary-cell hits run
  *     the exact refinement ([[regionContains]], e.g. `S2Polygon.Contains`,
  *     `S2Polygon.cs:944-964`).
  *
  * The polygon-TABLE joins ([[polygonPipJoin]], [[multiPolygonPipJoin]],
  * [[polygonPipJoinAdaptive]], and through them [[polygonPipAntiJoin]] and
  * [[zonalStats]]) cover each polygon row in the tasks that read the table
  * and broadcast that projection to [[graft.plans.S2PolygonTableJoinExec]],
  * which runs the same probe. Both probe execs run inside whole-stage
  * codegen. Rows with a NULL or non-finite (NaN, +-Inf) coordinate never
  * match.
  *
  * The proximity joins (distance, kNN, region/polyline distance,
  * spatio-temporal, Hausdorff, map matching) rest on one adjacency argument,
  * stated here once. At the bucketing level L, the finest level whose
  * minimum cell width is >= the search radius ([[proximityLevel]]), two
  * points within the radius lie in the same level-L cell or in
  * edge/vertex-adjacent ones. So one side explodes the closed neighborhood
  * of its cell (the cell plus its <= 8 neighbors, `GetAllNeighbors`,
  * `S2CellId.cs:813-863`), or the deduped union of those sets over a
  * covering, the other side keeps its own single level-L cell, and a hash
  * equi-join on that bucket plus the exact refine is complete. Each
  * candidate pair meets once, because the un-exploded side has one key and
  * the exploded side's buckets are distinct. No level is wider than level
  * 0 (minimum width 2√2/3 rad, ~6000 km), so a larger radius has no
  * bucketing level and is rejected. The intersection self-joins
  * ([[rectIntersectJoin]], [[loopIntersectJoin]], [[polylineCrossJoin]])
  * use the fixed-level form: a point shared by two shapes lies in one cell
  * both coverings contain. Candidate generation for both families is the
  * "proximity candidates" section below.
  */
object SpatialJoin {

  // ---- proximity candidates ---------------------------------------------
  // Every proximity and intersection join builds its candidates here: the
  // radius guard and level, the bucket keys of both sides, and the
  // shared-cell self-join. Re-keying these joins is a change to this
  // section only.

  /** The bucketing level for a search radius in meters: the finest level
    * whose minimum cell width is >= the radius. Rejects a radius that is
    * <= 0, NaN, or beyond the level-0 adjacency guarantee, naming `op`. */
  private[graft] def proximityLevel(radiusM: Double, op: String): Int = {
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    require(angle > 0 && angle <= S2Projections.MinWidth.getValue(0),
      s"$op: radius $radiusM m must be positive and within the level-0 " +
        "adjacency guarantee (~6000 km)")
    S2Projections.MinWidth.getMaxLevel(angle)
  }

  /** A point's own level-`level` cell: the key of the un-exploded side, and
    * the cell whose neighborhood the exploded side takes. */
  private[graft] def cellBucket(lat: Column, lon: Column, level: Int): Column =
    s2_tile(lat, lon, level)

  /** The closed neighborhood of one level-`level` cell, deduped: the
    * exploded side's keys. */
  private[graft] def neighborBuckets(cell: Column, level: Int): Column =
    array_union(array(cell), s2_all_neighbors(cell, level))

  /** The deduped union of [[neighborBuckets]] over a covering array;
    * `cellOf` picks the cell out of a covering element. */
  private[graft] def coveringBuckets(covering: Column, level: Int,
                                     cellOf: Column => Column = c => c): Column =
    array_distinct(flatten(transform(covering, c => neighborBuckets(cellOf(c), level))))

  /** The shared-cell self-join: `cells` holds one row per (row, covering
    * cell) with `idCol`, `__cell` and the `payload` columns (each named
    * `__x`). Returns one row per pair of ids that share a cell, with
    * id_a < id_b, carrying the payload as `__ax` / `__bx`. */
  private[graft] def sharedCellPairs(cells: DataFrame, idCol: String,
                                     payload: Seq[String]): DataFrame = {
    def side(s: String): DataFrame = cells.select(col(idCol).as(s"id_$s") +: col("__cell") +:
      payload.map(p => col(p).as(s"__$s${p.stripPrefix("__")}")): _*)
    side("a").join(side("b"), "__cell")
      .where(col("id_a") < col("id_b"))
      .drop("__cell")
      .dropDuplicates("id_a", "id_b")
  }

  final case class CoverCell(regionId: String, cell: Long, level: Int, interior: Boolean)

  /** Driver-side planning: region -> disjoint covering cells with interior
    * flags, at levels from [[DefaultCoverLevels]].
    *
    * Each covering cell is re-expanded to the next level of that set;
    * children that don't intersect the region are pruned and children fully
    * inside it upgrade to the interior fast path, so fewer points reach the
    * exact refinement. The cell-table probe costs one binary search per
    * level present, so the fixed level set also bounds the probe. */
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
  def regionContains(region: S2Region, latDeg: Double, lonDeg: Double): Boolean =
    regionContains(region, S2LatLng.fromDegrees(latDeg, lonDeg).toPoint, latDeg, lonDeg)

  /** [[regionContains]] for a caller that already holds the point
    * (`S2LatLng.fromDegrees(latDeg, lonDeg).toPoint`). */
  private[graft] def regionContains(region: S2Region, p: S2Point,
                                    latDeg: Double, lonDeg: Double): Boolean =
    region match {
      case poly: S2Polygon => poly.contains(p)
      case l: S2Loop => l.contains(p)
      case r: S2LatLngRect => r.contains(S2LatLng.fromDegrees(latDeg, lonDeg))
      case c: S2Cap => c.contains(p)
      case u: S2CellUnion => u.contains(p)
      case cell: S2Cell => cell.contains(p)
      case other => other.mayIntersectCell(S2Cell(S2CellId.fromPoint(p)))
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
    val table = new DriverRegions(regions, maxCells)
    require(table.table.numCells > 0, "regions produced an empty covering")

    // the band of the union of region bounds, which Catalyst pushes into
    // the scan
    val bound = regions.map(_._2.rectBound).reduce(_ union _)
    val pre: DataFrame =
      if (bound.isEmpty) points.limit(0)
      else points.where(ColumnBridge.column(boundBand(bound,
        ColumnBridge.expression(col(latCol)), ColumnBridge.expression(col(lonCol)))))
    S2PipJoin.plan(pre, latCol, lonCol, table)
  }

  /** The plain comparisons a point at (`lat`, `lon`) degrees passes when it
    * lies in the non-empty rect `bound`: a lat band, and unless the bound
    * spans every longitude an lng band, OR-ed across the antimeridian when
    * the bound wraps it. */
  private[graft] def boundBand(bound: S2LatLngRect, lat: Expression,
                               lon: Expression): Expression = {
    def deg(radians: Double) = Literal(math.toDegrees(radians))
    val latBand = And(GreaterThanOrEqual(lat, deg(bound.lat.lo)),
      LessThanOrEqual(lat, deg(bound.lat.hi)))
    val lngLo = GreaterThanOrEqual(lon, deg(bound.lng.lo))
    val lngHi = LessThanOrEqual(lon, deg(bound.lng.hi))
    if (bound.lng.isFull) latBand
    else if (bound.lng.isInverted) And(latBand, Or(lngLo, lngHi))
    else And(And(latBand, lngLo), lngHi)
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
    * join. Candidates come from the adjacency argument in the header: side
    * a explodes its cell's closed neighborhood (<= 9 distinct buckets),
    * side b keeps its own cell; a hash equi-join on the bucket + exact
    * haversine refinement finishes. Each qualifying pair is emitted exactly
    * once. Shuffle volume: <= 9x (id, lat, lon) on one side — never a pair
    * blowup beyond genuine neighborhood density; skewed hot cells are AQE's
    * skew-join case. */
  def distanceJoin(points: DataFrame, latCol: String, lonCol: String,
                   idCol: String, radiusM: Double): DataFrame = {
    val level = proximityLevel(radiusM, "distanceJoin")
    val withCell = points.select(col(idCol), col(latCol), col(lonCol))
      .withColumn("__cell", cellBucket(col(latCol), col(lonCol), level))
    val a = withCell.select(col(idCol).as("id_a"),
      col(latCol).as("__lata"), col(lonCol).as("__lona"),
      explode(neighborBuckets(col("__cell"), level)).as("__bucket"))
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
    * — [[distanceJoin]]'s two-table sibling. Same adjacency argument (see
    * the header): the LEFT side explodes its cell's closed neighborhood,
    * the RIGHT keeps its own cell, hash equi-join + exact haversine
    * refinement. Each qualifying pair appears exactly once (no a<b filter
    * here, the tables are distinct).
    * Output: (id_left, id_right, distance_m). */
  def distanceJoinBetween(left: DataFrame, leftId: String,
                          leftLat: String, leftLon: String,
                          right: DataFrame, rightId: String,
                          rightLat: String, rightLon: String,
                          radiusM: Double): DataFrame = {
    val level = proximityLevel(radiusM, "distanceJoinBetween")
    val a = left.select(col(leftId).as("id_left"),
        col(leftLat).as("__lata"), col(leftLon).as("__lona"))
      .withColumn("__cell", cellBucket(col("__lata"), col("__lona"), level))
      .select(col("id_left"), col("__lata"), col("__lona"),
        explode(neighborBuckets(col("__cell"), level)).as("__bucket"))
    val b = right.select(col(rightId).as("id_right"),
        col(rightLat).as("__latb"), col(rightLon).as("__lonb"))
      .withColumn("__bucket", cellBucket(col("__latb"), col("__lonb"), level))
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
                  radiusM: Double): DataFrame = {
    proximityLevel(radiusM, "nearestJoin") // reject a bad radius under this name
    distanceJoinBetween(left, leftId, leftLat, leftLon,
      right, rightId, rightLat, rightLon, radiusM)
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
    proximityLevel(radiusM, "isolatedPoints") // reject a bad radius under this name
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
    require(radiiM.nonEmpty && radiiM.forall(_ > 0), s"ripleysK: radii must be positive: $radiiM")
    require(radiiM.distinct.size == radiiM.size, s"ripleysK: duplicate radii: $radiiM")
    // + 0.5: keep every pair whose ROUNDED distance can still be <= rMax
    val searchM = radiiM.max.toDouble + 0.5
    proximityLevel(searchM, "ripleysK") // reject a bad radius under this name
    val pairs = distanceJoin(points, latCol, lonCol, idCol, searchM)
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
    * keep their level-L cell, queries explode the closed neighborhood,
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
    val level = proximityLevel(radiusDeg * (1.0 + 1.0 / IdwLonScale) * 111200.0,
      "idwInterpolate")
    val s = samples.select(
      col(idCol).as("__sid"), col(valCol).cast("double").as("__v"),
      col(latCol).as("__slat"), col(lonCol).as("__slon"),
      cellBucket(col(latCol), col(lonCol), level).as("__bucket"))
    val q = queries.select(col(qidCol).as("qid"),
        col(qlatCol).as("__qlat"), col(qlonCol).as("__qlon"),
        explode(neighborBuckets(cellBucket(col(qlatCol), col(qlonCol), level), level))
          .as("__bucket"))
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
    * pick it so a typical rect covers a handful of cells. The self-join is
    * [[sharedCellPairs]]. */
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
    sharedCellPairs(withCells, idCol, Seq("__lo", "__hi", "__glo", "__ghi"))
      .where(intersectsUdf(
        col("__alo"), col("__ahi"), col("__aglo"), col("__aghi"),
        col("__blo"), col("__bhi"), col("__bglo"), col("__bghi")))
      .select("id_a", "id_b")
  }

  /** k nearest POLYLINES within `radiusM` of each point — map matching:
    * "which roads could this image have been taken from". Candidate
    * generation is [[polylineDistanceJoin]]'s; ranking is a per-point window
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
    proximityLevel(radiusM, "nearestPolylinesJoin") // reject a bad radius under this name
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
    * pairs sharing a covering cell are complete ([[sharedCellPairs]], which
    * dedups pair ids before the exact refine); refinement is the robust
    * crossing trichotomy over edge pairs (> 0 only — shared vertices and
    * touches are NOT crossings). */
  def polylineCrossJoin(lines: DataFrame, idCol: String,
                        latsCol: String, lonsCol: String,
                        level: Int = 5): DataFrame = {
    val reserved = Seq("__cell", "__alats", "__alons", "__blats", "__blons")
    val collisions = lines.columns.filter(reserved.contains)
    require(collisions.isEmpty,
      s"polylineCrossJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")
    val withCells = lines
      .select(col(idCol), col(latsCol).as("__lats"), col(lonsCol).as("__lons"),
        explode(s2_polyline_covering(col(latsCol), col(lonsCol), level)).as("__cell"))
    sharedCellPairs(withCells, idCol, Seq("__lats", "__lons"))
      .where(s2_polylines_cross(col("__alats"), col("__alons"),
        col("__blats"), col("__blons")))
      .select("id_a", "id_b")
  }

  /** Spatio-temporal pair SELF-join: event pairs within `radiusM` meters
    * AND `windowSec` seconds of each other — co-occurrence detection
    * ("which images were taken near each other around the same time").
    * One operator for batch and stream: on a `readStream` input it is a
    * stream-stream self-join whose pairs are found across micro-batches.
    *
    * One composite equi-join on (cell-bucket, time-bucket): side a
    * explodes its cell's closed neighborhood (the header's adjacency
    * argument), side b explodes its time bucket ±1 (|Δt| <= W implies the
    * buckets of width W differ by at most one). Each qualifying pair
    * matches EXACTLY once — b's cell and a's bucket are single values
    * joined against deduped explode sets — so no pair-dedup pass is needed,
    * and a coarse hot cell never pairs events across distant times. Time
    * buckets come from exact integer division of `unix_micros`.
    *
    * The event-time range |Δt| <= W sits inside the join condition, and
    * the event time carries a 1-hour watermark: on a stream that is what
    * bounds the join state (rows older than watermark + window are
    * evicted); on a batch input Catalyst eliminates the watermark node.
    *
    * @return (id_a, id_b, distance_m) with id_a < id_b */
  def spatioTemporalJoin(events: DataFrame, idCol: String, tsCol: String,
                         latCol: String, lonCol: String,
                         radiusM: Double, windowSec: Long): DataFrame = {
    val level = proximityLevel(radiusM, "spatioTemporalJoin")
    require(windowSec >= 1, s"spatioTemporalJoin: windowSec must be >= 1, got $windowSec")
    val winUs = math.multiplyExact(windowSec, 1000000L)
    val win = expr(s"INTERVAL $windowSec SECONDS")
    val marked = events
      .select(col(idCol), col(tsCol).cast("timestamp").as("__ts"),
        col(latCol), col(lonCol))
      .withColumn("__cell", cellBucket(col(latCol), col(lonCol), level))
      .withColumn("__tb", expr(s"unix_micros(__ts) div ${winUs}L"))
      .withWatermark("__ts", "1 hour")
    val a = marked.select(col(idCol).as("id_a"), col("__ts").as("__tsa"),
      col(latCol).as("__lata"), col(lonCol).as("__lona"), col("__tb").as("__tba"),
      explode(neighborBuckets(col("__cell"), level)).as("__bcella"))
    val b = marked.select(col(idCol).as("id_b"), col("__ts").as("__tsb"),
      col(latCol).as("__latb"), col(lonCol).as("__lonb"),
      col("__cell").as("__bcellb"),
      explode(array(col("__tb") - 1, col("__tb"), col("__tb") + 1)).as("__tbb"))
    a.join(b,
        col("__bcella") === col("__bcellb") && col("__tba") === col("__tbb") &&
          col("__tsb") >= col("__tsa") - win && col("__tsb") <= col("__tsa") + win)
      .where(col("id_a") < col("id_b"))
      .withColumn("distance_m",
        s2_distance_m(col("__lata"), col("__lona"), col("__latb"), col("__lonb")))
      .where(col("distance_m") <= radiusM)
      .select("id_a", "id_b", "distance_m")
  }

  /** k nearest REGIONS within `radiusM` of each point, from a TABLE of
    * single-loop polygons — "which admin areas is this image in or near",
    * the region form of kNN. Distance is 0 inside a region, else the exact
    * boundary distance. Candidates follow the header's adjacency argument
    * extended to areas: a point INSIDE a region sits in one of its
    * covering cells, and a point within the radius of its boundary sits in
    * a covering cell or one of its neighbors — so bucketing regions under
    * [[coveringBuckets]] and points under their single cell is complete,
    * with one candidate row per (point, region) pair. Ranking is a per-point window over the
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
    val level = proximityLevel(radiusM, "nearestRegionsJoin")
    val reserved = Seq("__pcell", "__bucket", "__rlats", "__rlons", "__rank")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"nearestRegionsJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = polys
      .select(col(idCol).as("region_id"), col(latsCol).as("__rlats"),
        col(lonsCol).as("__rlons"),
        explode(coveringBuckets(s2_polygon_covering(col(latsCol), col(lonsCol), level),
          level, _.getField("cell"))).as("__bucket"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pointIdCol)).orderBy(col("distance_m"), col("region_id"))
    points
      .withColumn("__pcell", cellBucket(col(latCol), col(lonCol), level))
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
    * covering cell are complete ([[sharedCellPairs]]). Pairs can share
    * several cells, so the (id_a, id_b) dedup shuffles ONLY pair ids
    * (vertex arrays ride along
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
      .select(col(idCol), col(latsCol).as("__lats"), col(lonsCol).as("__lons"),
        explode(s2_polygon_covering(col(latsCol), col(lonsCol), level)).as("__rc"))
      .select(col(idCol), col("__lats"), col("__lons"), col("__rc.cell").as("__cell"))
    sharedCellPairs(withCells, idCol, Seq("__lats", "__lons"))
      .where(s2_loops_intersect(col("__alats"), col("__alons"),
        col("__blats"), col("__blons")))
      .select("id_a", "id_b")
  }

  /** PIP join against a TABLE of single-loop polygons — the many-polygon
    * form of [[pipJoin]]. [[pipJoin]]'s driver-side `Seq[(id, S2Region)]`
    * plan is right for a handful of query regions; a polygon catalog is a
    * DataFrame. Plan:
    *
    *  1. Cover each polygon row at one fixed `level` (`s2_polygon_covering`,
    *     on the vertex arrays cast to double) in the tasks of the job that
    *     reads the table for the broadcast, never on the driver. A covering
    *     that fails (say, past the 2^17-cell cap) fails that job, and the
    *     join, with its cause. No covering is kept past the query.
    *  2. Broadcast that projection (id, vertex arrays, covering) to
    *     [[graft.plans.S2PolygonTableJoinExec]]; each executor builds one
    *     [[graft.plans.CellTable]] from it. The build side is bounded by
    *     `spark.sql.maxBroadcastTableSize` and fails loudly above it.
    *  3. Each points row probes the table once, on its level-`level`
    *     ancestor, inside the whole-stage codegen stage of the points scan:
    *     the points side never shuffles, and the columns the probe does not
    *     read are computed for matched rows only.
    *  4. `interior` hits pass outright; boundary hits run the exact loop
    *     containment (`s2_loop_contains`'s test), with each loop built once
    *     per task on its first boundary hit.
    *
    * Level picks the covering granularity: finer -> more cells but a higher
    * interior fraction (less refinement); `s2_polygon_covering` fails fast if
    * a polygon would explode into > 2^17 cells at `level`. Each polygon row
    * is its own table entry, so duplicate ids match once per row, a NULL id
    * gives a NULL `region_id` and NULL vertex arrays never match.
    *
    * @param polys one row per region: `idCol`, parallel vertex-array
    *              columns `latsCol`/`lonsCol` (degrees, enclosed region on
    *              the left / CCW)
    * @return points columns + `region_id` (the type of `idCol`), one row per
    *         (point, containing region) */
  def polygonPipJoin(points: DataFrame, latCol: String, lonCol: String,
                     polys: DataFrame, idCol: String,
                     latsCol: String, lonsCol: String,
                     level: Int = 8): DataFrame = {
    val reserved = Seq("__ptile", "__cell", "__interior", "__rlats", "__rlons", "__rc")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polygonPipJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")
    S2PipJoin.planTable(points, latCol, lonCol, polys, idCol, latsCol, lonsCol,
      (lats, lons) => s2_polygon_covering(lats, lons, level))
  }

  /** PIP ANTI join: the points contained by NO polygon of the table — the
    * exclusion-zone filter of a curation pipeline ("drop every image
    * geotagged inside any embargoed region"). Semantics are the exact
    * complement of [[polygonPipJoin]] over `pointIdCol`.
    *
    * Scale shape: the matched-id set is produced by the cell-table probe
    * (the points side does not shuffle, the interior fast path skips the
    * refine), is deduplicated with partial aggregation, and is then
    * subtracted with a LEFT ANTI join on the point key. When few points match — the common
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
    * regions (images per country, revenue per zone). Plan:
    * [[polygonPipJoin]], then a group-by on `region_id`. The probe runs
    * map-side, in one whole-stage codegen stage with the points scan and
    * the partial aggregation, and the points side never shuffles: each
    * partition collapses to per-region (count, sum) rows and only those
    * cross the exchange.
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

    polygonPipJoin(points.select(col(latCol), col(lonCol), col(valueCol)), latCol, lonCol,
        polys, idCol, latsCol, lonsCol, level)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_points"), sum(col(valueCol)).cast("long").as("sum_value"))
  }

  /** [[polygonPipJoin]] for HETEROGENEOUS polygon catalogs: each polygon
    * row picks its own covering level (the finest of `quantizeLevels`
    * whose estimated covering fits `targetCells`), so a continent and a
    * parking lot both cover to ~targetCells cells instead of one exploding
    * and the other degenerating to a single unselective cell. The cell
    * table then holds at most |quantizeLevels| levels, and each points row
    * probes once per level present, on its ancestor there (this is why the
    * levels are quantized). Every polygon is covered at a single level with
    * disjoint cells, so a point meets each polygon at most once. Same
    * broadcast table, interior fast path and refine as the fixed-level
    * join. */
  def polygonPipJoinAdaptive(points: DataFrame, latCol: String, lonCol: String,
                             polys: DataFrame, idCol: String,
                             latsCol: String, lonsCol: String,
                             targetCells: Int = 32,
                             quantizeLevels: Seq[Int] = Seq(2, 4, 6, 8)): DataFrame = {
    val reserved = Seq("__pleaf", "__probe", "__cell", "__interior", "__rlats", "__rlons", "__rc")
    val collisions = (points.columns ++ polys.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polygonPipJoinAdaptive: reserved column name(s) in input: ${collisions.mkString(", ")}")
    S2PipJoin.planTable(points, latCol, lonCol, polys, idCol, latsCol, lonsCol,
      (lats, lons) => s2_polygon_covering_adaptive(lats, lons, targetCells, quantizeLevels))
  }

  /** Points within `radiusM` of any polyline in a TABLE of polylines — the
    * map-matching prefilter (events near roads/tracks/routes). Candidate
    * generation follows the header's adjacency argument: a point within
    * the radius of some chain point q lies in q's cell or one of its
    * neighbors, and q's cell is in the chain's covering, so bucketing each
    * line under [[coveringBuckets]] and each point under its own single
    * cell makes the equi-join complete — and ONE row per candidate (point,
    * line) pair, so no pair dedup. Refinement is the exact kernel min-over-edges distance
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
    val level = proximityLevel(radiusM, "polylineDistanceJoin")
    val reserved = Seq("__pcell", "__bucket", "__llats", "__llons")
    val collisions = (points.columns ++ lines.columns).filter(reserved.contains)
    require(collisions.isEmpty,
      s"polylineDistanceJoin: reserved column name(s) in input: ${collisions.mkString(", ")}")

    val raster = lines
      .select(col(idCol).as("line_id"), col(latsCol).as("__llats"),
        col(lonsCol).as("__llons"),
        explode(coveringBuckets(s2_polyline_covering(col(latsCol), col(lonsCol), level),
          level)).as("__bucket"))

    points
      .withColumn("__pcell", cellBucket(col(latCol), col(lonCol), level))
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
    * Plan: candidates from [[polylineDistanceJoin]] (no cross join,
    * bytes-thin rows), then a
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
    proximityLevel(radiusM, "snapToPolylines") // reject a bad radius under this name
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
    * intersect the region) and the exact refinement is the parity test
    * (`s2_polygon_contains`'s), each polygon built once per task.
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

    S2PipJoin.planTable(points, latCol, lonCol, polys, idCol, loopLatsCol, loopLonsCol,
      (lats, lons) => s2_multipolygon_covering(lats, lons, level))
  }
}
