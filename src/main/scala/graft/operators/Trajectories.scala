package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.s2.S2Region

/** Trajectory operators over timestamped point tables — the flight-track
  * workload of the reference's domain (each entity's ordered positions
  * form a polyline; the kernel-side S2Polyline ops are
  * s2/S2Polyline.scala, `S2Polyline.cs`). Distributed shape: everything
  * is per-entity windows + the existing covering PIP join; one shuffle by
  * entity for the segment stats, broadcast regions for the visit join. */
object Trajectories {

  /** Per-entity track statistics: number of points, total track length
    * and longest segment — segment lengths in INTEGER meters (rounded
    * per segment before summing, so the aggregate is order-independent
    * and exactly reproducible by a SQL oracle; a float sum would depend
    * on Spark's partial-aggregation order, and sub-meter units would put
    * rounding boundaries too close to the engine/oracle fp-op-order
    * divergence — TrajectorySpec pins the margin). Segments follow
    * (tsCol, orderCol) order within each entity: ONE shuffle by entity
    * id, one window pass. */
  def trajStats(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                latCol: String, lonCol: String): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    points
      .withColumn("__plat", lag(col(latCol), 1).over(w))
      .withColumn("__plon", lag(col(lonCol), 1).over(w))
      .withColumn("__seg_m",
        when(col("__plat").isNull, lit(null))
          .otherwise(round(s2_distance_m(col("__plat"), col("__plon"),
            col(latCol), col(lonCol))).cast("long")))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_points"),
        coalesce(sum("__seg_m"), lit(0L)).as("track_m"),
        coalesce(max("__seg_m"), lit(0L)).as("max_seg_m"))
  }

  /** (region_id, entity) pairs whose track VISITS the region — i.e. any
    * of the entity's points lies inside (vertex semantics; segment-only
    * crossings between consecutive points are the sampling question a
    * producer answers with sampling density, not the join). Runs the
    * covering PIP join on the raw points, then collapses to distinct
    * (region, entity) — the dedup aggregates partially map-side, so a
    * million-point track shuffles one row per (task, region). */
  def visitsRegions(points: DataFrame, latCol: String, lonCol: String,
                    idCol: String, regions: Seq[(String, S2Region)]): DataFrame =
    SpatialJoin.pipJoin(points, latCol, lonCol, regions)
      .select(col("region_id"), col(idCol))
      .distinct()

  /** Per-entity minimal WRAP-AWARE bounding rect (degrees): lat bounds are
    * plain min/max; the lon interval is the complement of the largest
    * circular gap between the entity's sorted longitudes — the exact
    * minimal-spanning-interval rule (the kernel's S1Interval convention:
    * lon_lo > lon_hi means the interval crosses the antimeridian, which
    * naive min/max gets maximally wrong for a track straddling ±180°).
    * Deterministic tie-break: among equal-size gaps the smallest gap-start
    * lon wins. Output values are copies of input coordinates (no derived
    * floats), so the result is oracle-exact.
    *
    * Distributed shape: one distinct + two window passes over (id, lon)
    * rows sharing one shuffle by entity, a (id, lat) min/max aggregation,
    * and a per-entity join — no geometry leaves the executors. */
  def trackBounds(points: DataFrame, idCol: String, latCol: String,
                  lonCol: String): DataFrame = {
    val reserved = Seq("__lon", "__next", "__minLon", "__gap", "__gend", "__r",
      "lat_lo", "lat_hi", "lon_lo", "lon_hi")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"trackBounds reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val lats = points.groupBy(col(idCol))
      .agg(min(col(latCol)).as("lat_lo"), max(col(latCol)).as("lat_hi"))
    val lons = points.select(col(idCol), col(lonCol).cast("double").as("__lon")).distinct()
    val w = Window.partitionBy(idCol).orderBy("__lon")
    val withGap = lons
      .withColumn("__next", lead(col("__lon"), 1).over(w))
      .withColumn("__minLon",
        min(col("__lon")).over(Window.partitionBy(idCol)))
      .withColumn("__gap",
        when(col("__next").isNotNull, col("__next") - col("__lon"))
          .otherwise(col("__minLon") + 360.0 - col("__lon")))
      .withColumn("__gend",
        when(col("__next").isNotNull, col("__next")).otherwise(col("__minLon")))
    val wr = Window.partitionBy(idCol).orderBy(col("__gap").desc, col("__lon").asc)
    val lonBounds = withGap
      .withColumn("__r", row_number().over(wr)).where(col("__r") === 1)
      .select(col(idCol), col("__gend").as("lon_lo"), col("__lon").as("lon_hi"))
    lats.join(lonBounds, idCol)
  }

  /** Single region label per point: the FIRST region (in `regions` order)
    * containing it, else "none" — exact kernel membership against the
    * broadcast region list, one closure call per row (same shape as
    * [[Geofence.transitions]]; regions are assumed ~disjoint, the order
    * rule makes overlaps deterministic). */
  def regionLabel(latCol: String, lonCol: String,
                  regions: Seq[(String, S2Region)]): Column = {
    val regs = regions
    val labelUdf = udf { (lat: Double, lon: Double) =>
      regs.collectFirst {
        case (rid, r) if SpatialJoin.regionContains(r, lat, lon) => rid
      }.getOrElse("none")
    }
    labelUdf(col(latCol), col(lonCol))
  }

  /** Origin-destination flow matrix: how many consecutive-observation
    * transitions moved entities from one region to another (including to
    * and from the implicit "none" outside-everything region). The mobility
    * aggregate behind flow maps and demand matrices. Distributed shape:
    * per-row broadcast region labeling (no join), ONE shuffle by entity
    * for the lag window, then a partially-aggregated groupBy over at most
    * (|regions|+1)^2 keys — the final exchange moves a handful of rows. */
  def odFlows(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
              latCol: String, lonCol: String,
              regions: Seq[(String, S2Region)]): DataFrame = {
    require(regions.nonEmpty)
    val reserved = Seq("__region", "__prev", "from_region", "to_region", "n_trips")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"odFlows reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    points
      .withColumn("__region", regionLabel(latCol, lonCol, regions))
      .withColumn("__prev", lag(col("__region"), 1).over(w))
      .where(col("__prev").isNotNull && col("__prev") =!= col("__region"))
      .groupBy(col("__prev").as("from_region"), col("__region").as("to_region"))
      .agg(count(lit(1)).as("n_trips"))
  }

  /** Contiguous same-region visit episodes per entity (gaps-and-islands):
    * one row per maximal run of consecutive observations labeled with the
    * same named region, with the run's first order value, point count and
    * dwell time in INTEGER microseconds (exact on both engine and oracle
    * sides; a 1-point episode dwells 0). "none" runs are dropped after the
    * window pass — outside-time never surfaces as an episode. Distributed
    * shape: ONE shuffle by entity shared by both window passes (lag flag +
    * running island sum over the same (entity, ts, order) sort), then a
    * partially-aggregated groupBy on (entity, island) — episode rows, not
    * point rows, cross the second exchange. */
  def visitEpisodes(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                    latCol: String, lonCol: String,
                    regions: Seq[(String, S2Region)],
                    minPoints: Int = 1, minDwellMicros: Long = 0L): DataFrame = {
    require(regions.nonEmpty)
    val reserved = Seq("__region", "__chg", "__island", "region_id", "enter_order",
      "n_points", "dwell_micros")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"visitEpisodes reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    points
      .withColumn("__region", regionLabel(latCol, lonCol, regions))
      .withColumn("__chg",
        when(lag(col("__region"), 1).over(w).isNull ||
          lag(col("__region"), 1).over(w) =!= col("__region"), 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col("__region")).as("region_id"), // constant within an island
        min(col(orderCol)).as("enter_order"),
        count(lit(1)).as("n_points"),
        // cast: NTZ-typed inputs; dwell is a difference, so the zone
        // attached by the cast cancels exactly
        (max(unix_micros(col(tsCol).cast("timestamp"))) -
          min(unix_micros(col(tsCol).cast("timestamp")))).as("dwell_micros"))
      .where(col("region_id") =!= "none" &&
        col("n_points") >= minPoints && col("dwell_micros") >= minDwellMicros)
      .drop("__island")
  }

  /** Per-segment implied-speed anomaly flags — the GPS-cleaning
    * "teleport" test: a segment whose implied speed exceeds
    * `maxSpeedMps` marks its DESTINATION row as a jump. Integer
    * contract end-to-end: `seg_m` is the segment haversine rounded to
    * integer meters (same rule as [[trajStats]]; TrajectorySpec pins the
    * fixture's distance-to-rounding-boundary margin), `dt_micros` is the
    * exact integer-µs gap, and the flag is the pure-integer comparison
    * `seg_m * 1_000_000 > maxSpeedMps * dt_micros` — so a zero-dt move of
    * any nonzero rounded distance flags (infinite implied speed), equal
    * timestamps with a sub-half-meter move don't, and the oracle can
    * reproduce the flag bit-for-bit in SQL. First observations carry null
    * seg_m/dt_micros and never flag. Overflow bound: |seg_m| ≤ 2·10⁷ m
    * (half the circumference), so the left side caps at 2·10¹³; callers
    * must keep maxSpeedMps · max-gap-µs under 2⁶³ (a 10³ m/s limit allows
    * ~292k-year gaps). Distributed shape: ONE shuffle by entity shared by
    * the three lag windows, zero joins — flagging a trillion-row point
    * table costs exactly one exchange. */
  def speedFlags(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                 latCol: String, lonCol: String, maxSpeedMps: Long): DataFrame = {
    require(maxSpeedMps > 0, s"maxSpeedMps must be positive, got $maxSpeedMps")
    val reserved = Seq("__plat", "__plon", "__pus", "seg_m", "dt_micros", "is_jump")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"speedFlags reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    // cast: NTZ-typed inputs; dt is a difference, the cast's zone cancels
    val us = unix_micros(col(tsCol).cast("timestamp"))
    points
      .withColumn("__plat", lag(col(latCol), 1).over(w))
      .withColumn("__plon", lag(col(lonCol), 1).over(w))
      .withColumn("__pus", lag(us, 1).over(w))
      .withColumn("seg_m",
        when(col("__plat").isNull, lit(null))
          .otherwise(round(s2_distance_m(col("__plat"), col("__plon"),
            col(latCol), col(lonCol))).cast("long")))
      .withColumn("dt_micros",
        when(col("__pus").isNull, lit(null)).otherwise(us - col("__pus")))
      .withColumn("is_jump",
        coalesce(col("seg_m") * lit(1000000L) > lit(maxSpeedMps) * col("dt_micros"),
          lit(false)))
      .drop("__plat", "__plon", "__pus")
  }

  /** Per-segment compass BEARING (integer degrees 0..359) and signed TURN
    * angle vs the previous segment (integer degrees -180..179) along each
    * entity's track — the heading/turn features mobility models consume
    * (map-matching emission scores, transport-mode inference, track
    * smoothing, sinuosity).
    *
    * Exactness contract: the bearing is the great-circle initial-heading
    * formula `atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ)`
    * normalized to [0, 360) and rounded to WHOLE degrees — the only fp
    * hazard is the half-degree rounding boundary, and engine/oracle trig
    * disagreement is ~1e-12 deg while the fixture's closest approach to a
    * boundary is ~1e-5 deg (TrajectorySpec pins the margin) — and the
    * turn is pure INTEGER arithmetic over two already-rounded bearings
    * (`((b − prev + 540) mod 360) − 180`), exact given the bearings.
    * First point per entity: null bearing; first two: null turn. A
    * zero-length segment (identical consecutive points) bears 0 by the
    * shared atan2(0,0) = 0 convention.
    *
    * ONE shuffle: both lag windows share the (entity, ts, order) sort. */
  def headings(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
               latCol: String, lonCol: String): DataFrame = {
    val reserved = Seq("__plat", "__plon", "__pb", "bearing_deg", "turn_deg")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"headings reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    val phi1 = radians(col("__plat")); val phi2 = radians(col(latCol))
    val dl = radians(col(lonCol) - col("__plon"))
    val deg = degrees(atan2(sin(dl) * cos(phi2),
      cos(phi1) * sin(phi2) - sin(phi1) * cos(phi2) * cos(dl)))
    points
      .withColumn("__plat", lag(col(latCol), 1).over(w))
      .withColumn("__plon", lag(col(lonCol), 1).over(w))
      .withColumn("bearing_deg",
        when(col("__plat").isNull, lit(null))
          .otherwise(round((deg % lit(360.0) + lit(360.0)) % lit(360.0))
            .cast("long") % lit(360L)))
      .withColumn("__pb", lag(col("bearing_deg"), 1).over(w))
      .withColumn("turn_deg",
        when(col("__pb").isNull || col("bearing_deg").isNull, lit(null))
          .otherwise((col("bearing_deg") - col("__pb") + lit(540L)) % lit(360L) - lit(180L)))
      .drop("__plat", "__plon", "__pb")
  }

  /** Trajectory-similarity self-join: entity pairs whose point sets are
    * within `maxHausdorffM` meters symmetric discrete Hausdorff distance
    * (max over either track's points of the distance to the other track's
    * nearest point — the standard track-similarity measure; DITA-style
    * systems build exactly this join). Output `haus_m` is the distance
    * rounded to integer meters and the emit test is the integer compare
    * `round(haus) <= maxHausdorffM`, so a SQL oracle reproduces rows
    * bit-for-bit (per-pair min/max are order-independent SELECTIONS of
    * doubles; the only fp hazard is the final rounding boundary, which the
    * spec pins on the fixture).
    *
    * Distributed shape (complete by the adjacency argument in the
    * [[SpatialJoin]] header): symmetric Hausdorff <= D implies SOME cross
    * point pair within D, so candidates = entity pairs sharing a
    * (cell, cell-or-neighbor) bucket at D's bucketing level — built from
    * DISTINCT (entity, cell) rows, so candidate
    * generation scales with track spatial extent, never point count. The
    * exact refine joins each candidate pair to the two collected tracks
    * (one groupBy by entity — the usual a-track-fits-in-a-task bound) and
    * early-exits a direction as soon as one point's nearest neighbor
    * already exceeds the bound. */
  def hausdorffJoin(points: DataFrame, idCol: String, latCol: String, lonCol: String,
                    maxHausdorffM: Long): DataFrame = {
    import graft.s2.S2LatLng
    val level = SpatialJoin.proximityLevel(maxHausdorffM.toDouble, "hausdorffJoin")
    val reserved = Seq("__cell", "__bucket", "__tid", "__trk", "id_a", "id_b", "haus_m")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"hausdorffJoin reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))

    val cells = points.select(col(idCol).as("__tid"),
      SpatialJoin.cellBucket(col(latCol), col(lonCol), level).as("__cell")).distinct()
    val a = cells.select(col("__tid").as("id_a"),
      explode(SpatialJoin.neighborBuckets(col("__cell"), level)).as("__bucket")).distinct()
    val b = cells.select(col("__tid").as("id_b"), col("__cell").as("__bucket"))
    val cand = a.join(b, "__bucket")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val tracks = points.groupBy(col(idCol).as("__tid"))
      .agg(collect_list(struct(col(latCol).cast("double").as("la"),
        col(lonCol).cast("double").as("lo"))).as("__trk"))

    // bail bound: round(h) <= max  <=>  h < max + 0.5 (half-up rounding),
    // so a direction whose running max already reaches max + 0.5 can stop
    val maxM = maxHausdorffM
    val hausUdf = udf { (ta: Seq[org.apache.spark.sql.Row], tb: Seq[org.apache.spark.sql.Row]) =>
      val pa = ta.map(r => S2LatLng.fromDegrees(r.getDouble(0), r.getDouble(1))).toArray
      val pb = tb.map(r => S2LatLng.fromDegrees(r.getDouble(0), r.getDouble(1))).toArray
      val bail = maxM + 0.5
      def directed(xs: Array[S2LatLng], ys: Array[S2LatLng]): Option[Double] = {
        var h = 0.0
        var i = 0
        while (i < xs.length) {
          var mn = Double.MaxValue
          var j = 0
          while (j < ys.length) {
            val d = xs(i).getEarthDistance(ys(j))
            if (d < mn) mn = d
            j += 1
          }
          if (mn >= bail) return None
          if (mn > h) h = mn
          i += 1
        }
        Some(h)
      }
      for {
        hab <- directed(pa, pb)
        hba <- directed(pb, pa)
        h = math.max(hab, hba)
        r = math.round(h) if r <= maxM
      } yield r
    }
    cand
      .join(tracks.select(col("__tid").as("id_a"), col("__trk").as("__trka")), "id_a")
      .join(tracks.select(col("__tid").as("id_b"), col("__trk").as("__trkb")), "id_b")
      .withColumn("haus_m", hausUdf(col("__trka"), col("__trkb")))
      .where(col("haus_m").isNotNull)
      .select("id_a", "id_b", "haus_m")
  }

  /** Stay-point detection (the Li et al. 2008 anchor walk, the standard
    * mobility-mining primitive): a stay point is a maximal run of
    * consecutive observations all within `epsMeters` OF THE RUN'S FIRST
    * POINT (the anchor), spanning at least `minDwellMicros` of event time.
    * The walk is sequential per entity — anchor at i, scan to the first j
    * with dist(pᵢ, pⱼ) > eps; emit [i, j-1] if its dwell qualifies and
    * restart at j, else advance the anchor by one. Emits (entity,
    * enter_order, exit_order, n_points, dwell_micros); dwell is exact
    * integer µs, and the eps test's only fp hazard is a pair distance at
    * the eps boundary (TrajectorySpec pins the fixture margin, 12.6 m at
    * eps = 4000 km — vs ~1e-4 m engine/oracle divergence).
    *
    * Distributed shape: ONE shuffle by entity (groupBy + sorted collect,
    * the same track-fits-in-a-task bound as [[simplifyTracks]]); the walk
    * runs where the track's rows land, nothing quadratic ever shuffles. */
  def stayPoints(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                 latCol: String, lonCol: String,
                 epsMeters: Double, minDwellMicros: Long): DataFrame = {
    import graft.s2.S2LatLng
    require(epsMeters > 0, s"epsMeters must be positive, got $epsMeters")
    require(minDwellMicros > 0,
      s"minDwellMicros must be positive (a zero bound admits every single point), " +
        s"got $minDwellMicros")
    val reserved = Seq("__trk", "__sp", "enter_order", "exit_order", "n_points",
      "dwell_micros")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"stayPoints reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val eps = epsMeters
    val minDwell = minDwellMicros
    val walk = udf { (uss: Seq[Long], ords: Seq[Long], lats: Seq[Double], lons: Seq[Double]) =>
      val n = uss.length
      val pts = Array.tabulate(n)(i => S2LatLng.fromDegrees(lats(i), lons(i)))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n && pts(i).getEarthDistance(pts(j)) <= eps) j += 1
        val dwell = uss(j - 1) - uss(i)
        if (dwell >= minDwell) {
          out += ((ords(i), ords(j - 1), (j - i).toLong, dwell))
          i = j
        } else i += 1
      }
      out.toSeq
    }
    points
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(
        unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(orderCol).cast("long").as("o"),
        col(latCol).cast("double").as("la"),
        col(lonCol).cast("double").as("lo")))).as("__trk"))
      .select(col(idCol), explode(walk(
        expr("transform(__trk, x -> x.t)"),
        expr("transform(__trk, x -> x.o)"),
        expr("transform(__trk, x -> x.la)"),
        expr("transform(__trk, x -> x.lo)"))).as("__sp"))
      .select(col(idCol),
        col("__sp._1").as("enter_order"), col("__sp._2").as("exit_order"),
        col("__sp._3").as("n_points"), col("__sp._4").as("dwell_micros"))
  }

  /** Trip segmentation: split each entity's observation stream into trips
    * at time gaps exceeding `gapMicros` (the standard GPS preprocessing
    * step before any per-trip analytics), with per-trip stats — point
    * count, start/end order values (min/max within the trip), exact
    * integer-µs duration, and trip length as the sum of INTEGER-rounded
    * within-trip segment meters (the [[trajStats]] rounding rule — the
    * gap-crossing segment belongs to no trip and is excluded). A
    * single-point trip has length 0 and duration 0. Distributed shape:
    * ONE shuffle by entity shared by the lag/island windows, then a
    * partially-aggregated groupBy on (entity, island) — trip rows, not
    * point rows, cross the second exchange. */
  def tripSegments(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                   latCol: String, lonCol: String, gapMicros: Long): DataFrame = {
    require(gapMicros > 0, s"gapMicros must be positive, got $gapMicros")
    val reserved = Seq("__us", "__pus", "__plat", "__plon", "__chg", "__island", "__seg_m",
      "start_order", "end_order", "n_points", "trip_m", "duration_micros")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"tripSegments reserves ${reserved.mkString(", ")}; rename: " +
      clash.mkString(", "))
    val w = Window.partitionBy(idCol).orderBy(col(tsCol), col(orderCol))
    // cast: NTZ-typed inputs; gaps/durations are differences, zones cancel
    val us = unix_micros(col(tsCol).cast("timestamp"))
    points
      .withColumn("__us", us)
      .withColumn("__pus", lag(us, 1).over(w))
      .withColumn("__plat", lag(col(latCol), 1).over(w))
      .withColumn("__plon", lag(col(lonCol), 1).over(w))
      .withColumn("__chg",
        when(col("__pus").isNull || col("__us") - col("__pus") > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__seg_m",
        when(col("__chg") === 1L, lit(null))
          .otherwise(round(s2_distance_m(col("__plat"), col("__plon"),
            col(latCol), col(lonCol))).cast("long")))
      .withColumn("__island",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col(orderCol)).as("start_order"),
        max(col(orderCol)).as("end_order"),
        count(lit(1)).as("n_points"),
        coalesce(sum("__seg_m"), lit(0L)).as("trip_m"),
        (max(col("__us")) - min(col("__us"))).as("duration_micros"))
      .drop("__island")
  }

  /** Earth radius used by s2_distance_m (G12) — tolerances in meters
    * convert to radians against the same sphere. */
  private val EarthRadiusM = 6367000.0

  /** Per-entity spherical Douglas-Peucker track simplification (kernel:
    * s2/S2Polyline.simplifyIndices — the reference's declared-but-absent
    * `initToSimplified`, `S2Polygon.cs:605-610`). Returns the kept
    * (idCol, orderCol) rows; every dropped point is within
    * `toleranceMeters` of the simplified track (SimplifySpec pins the
    * bound). Distributed shape: ONE shuffle by entity, each track
    * simplified where its rows land — per-entity state is the track
    * itself, the same boundedness assumption as any per-key window.
    * `orderCol` must be long-castable and (tsCol, orderCol) unique per
    * entity. */
  def simplifyTracks(points: DataFrame, idCol: String, tsCol: String, orderCol: String,
                     latCol: String, lonCol: String, toleranceMeters: Double): DataFrame = {
    import graft.s2.{S2LatLng, S2Polyline}
    val tolRad = toleranceMeters / EarthRadiusM
    val kept = udf { (lats: Seq[Double], lons: Seq[Double], ords: Seq[Long]) =>
      val verts = lats.indices
        .map(i => S2LatLng.fromDegrees(lats(i), lons(i)).toPoint).toArray
      S2Polyline.simplifyIndices(verts, tolRad).map(ords(_)).toSeq
    }
    points
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(
        col(tsCol).as("t"), col(orderCol).cast("long").as("o"),
        col(latCol).cast("double").as("la"), col(lonCol).cast("double").as("lo")))).as("__trk"))
      .select(col(idCol), explode(kept(
        expr("transform(__trk, x -> x.la)"),
        expr("transform(__trk, x -> x.lo)"),
        expr("transform(__trk, x -> x.o)"))).as(orderCol))
  }

  /** Per-entity radius of gyration (González/Hidalgo/Barabási, the
    * mobility-science spread metric): rg = sqrt(mean squared distance of
    * an entity's points from its own centroid), over non-negative INTEGER
    * grid coordinates. Emits the EXACT integer numerator
    * `num = n·Σ(x²+y²) − (Σx)² − (Σy)²` (König-Huygens: num/n² = rg²)
    * alongside n, so the hash-compared columns are pure int64; the
    * convenience double `rg = sqrt(double(num))/n` is two correctly-
    * rounded IEEE ops on identical integers — bit-equal cross-engine.
    *
    * Planar-grid caveat: coordinates are treated as Euclidean (the
    * standard projected-coordinates formulation); an entity straddling
    * the antimeridian should be unwrapped/translated first — this
    * operator does not do circular statistics.
    *
    * Shape at scale: ONE partial+final hash aggregate — four int64 sums
    * per entity, no window, no self-join, nothing per-point past the
    * scan. Overflow is a plan-time contract: n ≤ `maxPointsPerEntity`
    * and 0 ≤ coord ≤ `maxCoord` (both enforced LOUDLY) keep every
    * operand under 2^63. */
  def radiusOfGyration(df: DataFrame, entityCol: String, xCol: String, yCol: String,
                       maxPointsPerEntity: Long = 20000L,
                       maxCoord: Long = 100000L): DataFrame = {
    require(maxPointsPerEntity >= 1 && maxCoord >= 1, "bounds must be positive")
    require(2.0 * maxCoord * maxCoord * maxPointsPerEntity * maxPointsPerEntity
      <= Long.MaxValue.toDouble,
      s"n^2 * 2 * maxCoord^2 can overflow int64: " +
        s"maxPointsPerEntity=$maxPointsPerEntity maxCoord=$maxCoord")
    val guarded = df.select(col(entityCol).as("__e"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__ok",
        when(col("__x").between(0L, maxCoord) && col("__y").between(0L, maxCoord), true)
          .otherwise(raise_error(concat(
            lit(s"radiusOfGyration: coordinate outside [0, $maxCoord]: ("),
            col("__x"), lit(", "), col("__y"), lit(")")))))
      .where(col("__ok"))
    guarded.groupBy(col("__e").as(entityCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x") + col("__y") * col("__y")).as("__sq"))
      .withColumn("n", when(col("n") <= maxPointsPerEntity, col("n"))
        .otherwise(raise_error(concat(
          lit(s"radiusOfGyration: entity exceeds maxPointsPerEntity=$maxPointsPerEntity: "),
          col(entityCol).cast("string")))))
      .withColumn("num",
        col("n") * col("__sq") - col("__sx") * col("__sx") - col("__sy") * col("__sy"))
      .withColumn("rg", sqrt(col("num").cast("double")) / col("n"))
      .select(entityCol, "n", "num", "rg")
  }

  /** Cell co-visitation affinity — "entities that visit cell A also visit
    * cell B": for every cell pair sharing >= `minCommon` distinct
    * visitors, the exact visitor overlap and its Jaccard affinity as the
    * scaled-INTEGER quotient `common * 10^12 div (da + db - common)` (the
    * [[TextAnalysis.collocations]] rank discipline: no float, the quotient
    * ORDER is the Jaccard order, the oracle replays it operand-for-operand).
    * Returns the top `k` rows under (score DESC, cell_a ASC, cell_b ASC)
    * — the co-occurrence recommender / place-affinity primitive.
    *
    * Shape at scale: one distinct on (entity, cell), one hash agg for the
    * per-cell visitor degrees, then the wedge self-join AT THE ENTITY
    * (every common visitor IS a wedge — like
    * [[Graphs.commonNeighborPairs]], the wedge volume is the size of the
    * answer, not an artifact). The Σ deg(u)² blowup from pathological
    * entities is pre-empted by `maxCellsPerEntity`: an entity visiting
    * more cells RAISES (never silently truncates — dropping its wedges
    * would under-count pairs invisibly). Only (entity, cell) and
    * (cell, cell) id rows shuffle; degrees join back on the small
    * per-cell table. */
  def coVisitation(df: DataFrame, entityCol: String, cellCol: String,
                   minCommon: Long, maxCellsPerEntity: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    require(maxCellsPerEntity >= 2, s"maxCellsPerEntity must be >= 2: $maxCellsPerEntity")
    val Scale = 1000000000000L // common * 10^12 < 2^63 for common < 9.2e6
    // pinned: the distinct feeds the degree agg, the fan guard AND both
    // wedge sides — without the checkpoint each consumer re-runs it
    val visits = df.select(col(entityCol).as("__e"), col(cellCol).as("__c")).distinct()
      .localCheckpoint()
    val deg = visits.groupBy("__c").agg(count(lit(1)).as("__d"))
    val perEntity = visits.groupBy("__e").agg(count(lit(1)).as("__n"))
    // the guard is a FILTER (not an unused projected column, which column
    // pruning would silently remove along with the raise_error)
    val guarded = visits.join(perEntity, "__e")
      .withColumn("__ok", when(col("__n") <= maxCellsPerEntity, true)
        .otherwise(raise_error(concat(
          lit(s"coVisitation: entity exceeds maxCellsPerEntity=$maxCellsPerEntity cells: "),
          col("__e").cast("string")))))
      .where(col("__ok"))
      .select("__e", "__c")
      .localCheckpoint()
    val wedges = guarded.as("x").join(guarded.as("y"),
        col("x.__e") === col("y.__e") && col("x.__c") < col("y.__c"))
      .select(col("x.__c").as("cell_a"), col("y.__c").as("cell_b"))
    val common = wedges.groupBy("cell_a", "cell_b").agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
      .withColumn("common", when(col("common") < 9200000L, col("common"))
        .otherwise(raise_error(concat(
          lit("coVisitation: common overflows the 10^12 scale: "),
          col("common").cast("string")))))
    common
      .join(deg.select(col("__c").as("cell_a"), col("__d").as("da")), "cell_a")
      .join(deg.select(col("__c").as("cell_b"), col("__d").as("db")), "cell_b")
      .withColumn("score", expr(s"common * ${Scale}L div (da + db - common)"))
      .orderBy(col("score").desc, col("cell_a"), col("cell_b"))
      .limit(k)
      .select("cell_a", "cell_b", "common", "da", "db", "score")
  }

  /** Integer monotone-chain convex hull — exact Long cross products, no
    * floats anywhere. Input order free; collinear boundary points drop. */
  private[graft] object IntHull {
    def cross(ox: Long, oy: Long, ax: Long, ay: Long, bx: Long, by: Long): Long =
      (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    /** Hull vertices (CCW, no duplicates). n ≤ 2 returns the distinct
      * input. */
    def hull(pts: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val s = pts.distinct.sorted
      if (s.length <= 2) return s
      val lower = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- s) {
        while (lower.length >= 2 && cross(lower(lower.length - 2)._1,
          lower(lower.length - 2)._2, lower.last._1, lower.last._2, p._1, p._2) <= 0)
          lower.remove(lower.length - 1)
        lower += p
      }
      val upper = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- s.reverse) {
        while (upper.length >= 2 && cross(upper(upper.length - 2)._1,
          upper(upper.length - 2)._2, upper.last._1, upper.last._2, p._1, p._2) <= 0)
          upper.remove(upper.length - 1)
        upper += p
      }
      (lower.dropRight(1) ++ upper.dropRight(1)).toSeq
    }

    /** Exact squared diameter over the hull (O(h²) on the SMALL hull —
      * h is O(gridWidth^(2/3)) lattice points, never the raw n). */
    def diamSq(h: Seq[(Long, Long)]): Long = {
      var best = 0L
      var i = 0
      while (i < h.length) {
        var j = i + 1
        while (j < h.length) {
          val dx = h(i)._1 - h(j)._1; val dy = h(i)._2 - h(j)._2
          val d = dx * dx + dy * dy
          if (d > best) best = d
          j += 1
        }
        i += 1
      }
      best
    }
  }

  /** Hull-buffer cap: a partial aggregation buffer compacts to its own
    * convex hull whenever it exceeds this, so buffers stay O(hull), not
    * O(points) — the property that makes the Aggregator safe at any
    * per-entity cardinality. */
  private val HullCompactAt = 512

  /** Per-entity EXACT spatial extent (squared diameter) on an integer
    * grid — "how far apart are this user's two most distant sightings?".
    * The naive answer is a per-key O(n²) self-join; this computes the
    * identical integer via convex hull + pairwise-over-hull inside ONE
    * typed Aggregator: partial buffers hold at most [[HullCompactAt]]
    * points (hull(A ∪ B) = hull(hull(A) ∪ hull(B)), so compacting a
    * partial buffer to its hull is lossless), merge concatenates + re-
    * compacts, and finish runs O(h²) over the FINAL hull only (h = the
    * entity's hull size, O(grid^(2/3)) lattice points, never n). All
    * geometry is exact Long cross products / squared distances — no
    * floats, so the O(n²) SQL brute force is an exact oracle. Coordinate
    * bound |coord| ≤ 10⁹ keeps every product in int64 — loudly guarded.
    * Output: (entityCol, diam_sq). */
  def spatialDiameter(df: DataFrame, entityCol: String, xCol: String,
                      yCol: String, maxCoord: Long = 1000000000L): DataFrame = {
    require(maxCoord >= 1 && maxCoord <= 1500000000L,
      s"maxCoord out of the int64-exact range: $maxCoord")
    val spark0 = df.sparkSession
    import spark0.implicits._
    val guarded = df.select(col(entityCol).cast("long").as("__e"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__ok",
        when(abs(col("__x")) <= maxCoord && abs(col("__y")) <= maxCoord, true)
          .otherwise(raise_error(concat(
            lit(s"spatialDiameter: coordinate outside ±$maxCoord: ("),
            col("__x"), lit(", "), col("__y"), lit(")")))))
      .where(col("__ok"))
      .as[(Long, Long, Long, Boolean)]
    guarded.groupByKey(_._1).agg(new DiamAgg().toColumn.name("diam_sq"))
      .toDF(entityCol, "diam_sq")
  }

  /** Top-level (no outer/session capture — a method-local Aggregator
    * resolves its encoders through `spark.implicits` and drags the
    * SparkSession into the task closure) hull-compacting diameter
    * aggregator. Encoders are built session-free. */
  private final class DiamAgg extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long, Long, Boolean), Seq[(Long, Long)], Long] {
    private def compact(pts: Seq[(Long, Long)]): Seq[(Long, Long)] =
      if (pts.length > HullCompactAt) IntHull.hull(pts) else pts
    def zero: Seq[(Long, Long)] = Nil
    def reduce(b: Seq[(Long, Long)], r: (Long, Long, Long, Boolean)): Seq[(Long, Long)] =
      compact(b :+ ((r._2, r._3)))
    def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      compact(a ++ b)
    def finish(b: Seq[(Long, Long)]): Long = IntHull.diamSq(IntHull.hull(b))
    def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** Per-entity visit concentration (Herfindahl–Hirschman index) over
    * cells: hhi = Σcᵢ² / (Σc)² where cᵢ is the entity's visit count in
    * cell i — 1/hhi is the "effective number of places", the standard
    * log-free predictability proxy for mobility (entropy needs a
    * transcendental; HHI is an exact rational, so the oracle matches it
    * bit for bit with one division). Output: (entityCol, n_visits,
    * n_cells, hhi).
    *
    * Distributed shape: two chained hash aggregates — (entity, cell)
    * counts then per-entity sums — with map-side partials both times;
    * nothing else. Integer headroom: Σcᵢ² ≤ (Σc)² needs Σc per entity
    * < ~3e9 (int64 square) — loudly guarded, never truncated. */
  def visitConcentration(df: DataFrame, entityCol: String,
                         cellCol: String): DataFrame = {
    val perCell = df.groupBy(col(entityCol), col(cellCol))
      .agg(count(lit(1)).as("__c"))
    perCell.groupBy(col(entityCol))
      .agg(sum(col("__c")).as("n_visits"), count(lit(1)).as("n_cells"),
        sum(col("__c") * col("__c")).as("__sq"))
      .withColumn("__ok",
        when(col("n_visits") <= 3000000000L, true)
          .otherwise(raise_error(concat(
            lit("visitConcentration: entity exceeds 3e9 visits (int64 square): "),
            col(entityCol).cast("string")))))
      .where(col("__ok"))
      // ONE fixed IEEE division over exact integers, shared with the oracle
      .select(col(entityCol), col("n_visits"), col("n_cells"),
        expr("CAST(__sq AS DOUBLE) / CAST(n_visits * n_visits AS DOUBLE)").as("hhi"))
  }

  /** Per-entity ANCHOR point: the coordinate-wise LOWER MEDIAN of each
    * entity's fixes on the micro-degree integer grid — the robust
    * home/base-location estimate (a mean drags toward travel bursts and
    * GPS glitches; the median ignores them; home detection is the first
    * step of almost every mobility analysis). Output: (idCol, n_obs,
    * med_lat_e6, med_lon_e6), all exact integers — the lower median is
    * the ((n+1) div 2)-th smallest, so the whole contract is
    * hash-exact. The anchor is coordinate-wise (not a true geometric
    * median): a documented, oracle-able contract rather than an
    * iterative transcendental fit.
    *
    * Shape at scale: per axis, ONE (entity, value) count aggregate over
    * the fixes and one per-entity weighted-median fold over the sorted
    * (value, count) list — per-entity state is the DISTINCT quantized
    * values, not the fixes (100 fixes on 30 spots fold 30 structs), the
    * same per-key-state contract as the EWMA/Holt folds and ~50× cheaper
    * at 100M rows than ranking every fix (a first cut ran two full
    * grouped range ranks: 125 s vs 2.5 s at 1M entities). The hot-key
    * tail (one entity with 10⁹ DISTINCT positions) is the documented
    * limit. Fixes with a NULL latitude or longitude are dropped up front
    * (matching the value-series operators' NULL-value filters): a NULL
    * quantized value would group and sort FIRST in the histogram,
    * inflating n and leaving the fold's 'ans' unset through the NULL
    * group, skewing the median for entities with NULL fixes. */
  def anchorPoints(points: DataFrame, idCol: String, latCol: String,
                   lonCol: String): DataFrame = {
    val clean = points.where(col(latCol).isNotNull && col(lonCol).isNotNull)
    def axisMedian(v: org.apache.spark.sql.Column, out: String): DataFrame =
      clean.select(col(idCol), v.as("__v"))
        .groupBy(col(idCol), col("__v")).agg(count(lit(1)).as("__c"))
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(struct(col("__v"), col("__c")))).as("__vc"),
          sum(col("__c")).as(s"__n_$out"))
        // walk the sorted histogram to the ((n+1) div 2)-th fix
        .withColumn(out, expr(
          s"""aggregate(__vc,
             |  named_struct('cum', 0L, 'ans', CAST(NULL AS BIGINT)),
             |  (acc, x) -> IF(acc.ans IS NOT NULL, acc,
             |    named_struct('cum', acc.cum + x.__c,
             |      'ans', IF(acc.cum + x.__c >= (__n_$out + 1) div 2,
             |                x.__v, CAST(NULL AS BIGINT)))),
             |  acc -> acc.ans)""".stripMargin))
        .select(col(idCol), col(out), col(s"__n_$out"))
    axisMedian(round(col(latCol) * 1000000).cast("long"), "med_lat_e6")
      .join(axisMedian(round(col(lonCol) * 1000000).cast("long"), "med_lon_e6"), idCol)
      .select(col(idCol), col("__n_med_lat_e6").as("n_obs"),
        col("med_lat_e6"), col("med_lon_e6"))
  }

  /** HOME-DRIFT detection: each entity's [[anchorPoints]] anchor computed
    * separately for two periods, joined, with the great-circle distance
    * between the two anchors — "who moved?", the migration/relocation
    * screen (and the account-takeover signal: a home that jumps
    * continents between two weeks is rarely the same person). Output:
    * (idCol, n_a, n_b, lat/lon anchors for both periods, drift_m) for
    * entities observed in BOTH periods; drift_m = round(haversine meters)
    * between the micro-degree anchor grid points — integer-exact given
    * the half-meter rounding margin (spec-pinned; anchors are grid
    * points, so the margin is a property of the finite anchor set).
    *
    * Shape: two anchor passes (each folding a per-entity sorted
    * (value, count) position histogram per axis — see [[anchorPoints]]) +
    * one entity equi-join — entity-cardinality rows after the folds. */
  def anchorDrift(points: DataFrame, idCol: String, latCol: String,
                  lonCol: String, isPeriodB: Column): DataFrame = {
    val a = anchorPoints(points.where(!isPeriodB), idCol, latCol, lonCol)
      .select(col(idCol), col("n_obs").as("n_a"),
        col("med_lat_e6").as("lat_a_e6"), col("med_lon_e6").as("lon_a_e6"))
    val b = anchorPoints(points.where(isPeriodB), idCol, latCol, lonCol)
      .select(col(idCol), col("n_obs").as("n_b"),
        col("med_lat_e6").as("lat_b_e6"), col("med_lon_e6").as("lon_b_e6"))
    a.join(b, idCol)
      .withColumn("drift_m", round(s2_distance_m(
        col("lat_a_e6").cast("double") / 1000000.0,
        col("lon_a_e6").cast("double") / 1000000.0,
        col("lat_b_e6").cast("double") / 1000000.0,
        col("lon_b_e6").cast("double") / 1000000.0)).cast("long"))
  }

  /** The away-rate final expression — shared verbatim with the oracle. */
  val AwayRateSql: String =
    "CAST(n_away AS DOUBLE) / CAST(n_obs AS DOUBLE)"

  /** Per-entity AWAY RATE: the fraction of fixes farther than `radiusM`
    * from the entity's [[anchorPoints]] anchor — the travel/roaming
    * metric (a courier lives away from home; a desk worker doesn't), and
    * with a small radius the GPS-noise rate. Output: (idCol, n_obs,
    * n_away, away_rate) — counts exact integers (the distance-vs-radius
    * gate's margin is a property of the finite fixture, spec-pinned),
    * rate one shared division.
    *
    * Shape: the anchor pass, then ONE broadcast-or-shuffle equi-join of
    * the entity-cardinality anchor table back onto the fixes and one
    * count aggregate — fixes shuffle once (for the rank) and join on
    * their own key thereafter. */
  def awayRate(points: DataFrame, idCol: String, latCol: String,
               lonCol: String, radiusM: Double): DataFrame = {
    require(radiusM > 0, s"radiusM must be positive: $radiusM")
    val anchors = anchorPoints(points, idCol, latCol, lonCol)
      .select(col(idCol), col("med_lat_e6"), col("med_lon_e6"))
    points.select(col(idCol), col(latCol), col(lonCol))
      .join(anchors, idCol)
      .withColumn("__away", when(s2_distance_m(col(latCol), col(lonCol),
        col("med_lat_e6").cast("double") / 1000000.0,
        col("med_lon_e6").cast("double") / 1000000.0) > radiusM, 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_obs"), sum(col("__away")).as("n_away"))
      .withColumn("away_rate", expr(AwayRateSql))
  }

  /** Dynamic-time-warping track-similarity join — the alignment-aware
    * sibling of [[hausdorffJoin]]: two tracks sampled at different rates
    * along the same route score LOW (DTW warps the time axis), where
    * Hausdorff only bounds the worst excursion. Tracks are first compacted
    * to their first `maxPoints` fixes in (tsCol, tieCol) order — the
    * signature under comparison — and every pair's cost is the classic DP
    *
    *   D(i,j) = c(i,j) + min(D(i−1,j), D(i,j−1), D(i−1,j−1))
    *
    * with c(i,j) = round(haversine meters / `quantMeters`) — an EXACT
    * int64, so the whole dynamic is hash-reproducible (a SQL oracle
    * unrolling the DP per anti-diagonal matches bit-for-bit; DtwSpec pins
    * the rounding margins — a coarser quantum buys rounding-boundary
    * headroom, which is why the catalog query uses 10 m). Output:
    * (id_a, id_b, dtw_cost) per candidate pair, id_a < id_b, cost in
    * quantMeters units.
    *
    * Distributed shape: ONE window pass truncates tracks, one hash
    * aggregate builds the per-track signature row (≤ `maxPoints` structs —
    * bounded state however long the raw track), and each pair costs one
    * O(maxPoints²) task-side DP over two tiny arrays — no per-cell
    * shuffle, no driver involvement. `pairs` plugs in any blocking gate
    * (start-tile equality, [[hausdorffJoin]] output, an LSH bucket join);
    * the default all-pairs self-join of the SIGNATURE table (one row per
    * track) is the oracle-scale baseline and is loudly capped at
    * `maxTracksAllPairs` — at fleet scale, pass real candidate pairs. */
  def dtwJoin(points: DataFrame, idCol: String, tsCol: String, tieCol: String,
              latCol: String, lonCol: String, maxPoints: Int = 8,
              quantMeters: Double = 1.0,
              pairs: Option[DataFrame] = None,
              maxTracksAllPairs: Long = 20000L): DataFrame = {
    require(maxPoints >= 1 && maxPoints <= 1024,
      s"maxPoints must be in [1, 1024]: $maxPoints")
    require(quantMeters > 0, s"quantMeters must be positive: $quantMeters")
    val reserved = Seq("__rn", "__sig", "id_a", "id_b")
    val clash = points.columns.filter(reserved.contains)
    require(clash.isEmpty, s"dtwJoin reserves ${reserved.mkString(", ")}; " +
      s"rename: ${clash.mkString(", ")}")
    val w = Window.partitionBy(idCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val sigs = points
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxPoints)
      .groupBy(col(idCol).cast("long").as("id"))
      .agg(sort_array(collect_list(struct(col("__rn"),
        col(latCol).cast("double").as("la"),
        col(lonCol).cast("double").as("lo")))).as("__sig"))
      .localCheckpoint()
    val cand = pairs match {
      case Some(p) =>
        p.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .join(sigs.select(col("id").as("id_a"), col("__sig").as("__siga")), "id_a")
          .join(sigs.select(col("id").as("id_b"), col("__sig").as("__sigb")), "id_b")
      case None =>
        val n = sigs.count()
        require(n <= maxTracksAllPairs,
          s"dtwJoin: $n tracks is too many for the all-pairs default " +
            s"(> $maxTracksAllPairs) — pass a blocked `pairs` candidate set")
        sigs.select(col("id").as("id_a"), col("__sig").as("__siga"))
          .join(sigs.select(col("id").as("id_b"), col("__sig").as("__sigb")),
            col("id_a") < col("id_b"))
    }
    val spark = points.sparkSession
    import spark.implicits._
    cand.select(col("id_a"), col("__siga"), col("id_b"), col("__sigb"))
      .as[(Long, Seq[(Int, Double, Double)], Long, Seq[(Int, Double, Double)])]
      .map { case (ida, siga, idb, sigb) =>
        (ida, idb, dtwCost(siga, sigb, quantMeters)) }
      .toDF("id_a", "id_b", "dtw_cost")
  }

  /** The O(nm) DP over quantized integer local costs, two-row memory. */
  private def dtwCost(a: Seq[(Int, Double, Double)],
                      b: Seq[(Int, Double, Double)], quantMeters: Double): Long = {
    import graft.s2.S2LatLng
    val pa = a.map(v => S2LatLng.fromDegrees(v._2, v._3)).toArray
    val pb = b.map(v => S2LatLng.fromDegrees(v._2, v._3)).toArray
    val n = pa.length
    val m = pb.length
    require(n > 0 && m > 0, "dtwJoin: empty signature")
    var prev = new Array[Long](m)
    var cur = new Array[Long](m)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < m) {
        val c = math.round(pa(i).getEarthDistance(pb(j)) / quantMeters)
        val best =
          if (i == 0 && j == 0) 0L
          else if (i == 0) cur(j - 1)
          else if (j == 0) prev(j)
          else math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        cur(j) = c + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m - 1)
  }
}
