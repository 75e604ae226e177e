package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.operators._
import graft.s2.{S2LatLngRect, S2Region, R1Interval, S1Interval}
import graft.sources.GeoJson

/** Catalog registry — point-in-polygon, kNN, distance and polyline/region joins. Entries moved verbatim from SparkEntry
  * (round-3 verdict ask #7: per-domain registries behind the same
  * `queries` map; the 247-row correctness gate pins that nothing moved). */
private[graft] object CatalogSpatial {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q_pip_rect" -> ((s, dir) =>
      SpatialJoin.pipJoin(points(s, dir), "lat", "lon", rectRegions)
        .select("region_id", "o_orderkey")),

    // q_pip_rect through the S2PipJoin.pipJoinExec entry point: both run the
    // one covering operator (S2PipJoinExec), so their answers must match
    "q_pip_rect_exec" -> ((s, dir) =>
      graft.plans.S2PipJoin.pipJoinExec(points(s, dir), "lat", "lon", rectRegions)
        .select("region_id", "o_orderkey")),

    // LEFT OUTER pip join: every point survives — matched points keep one
    // row per containing region, unmatched points keep region_id '-' (the
    // enrichment-join shape: the big side must never lose rows). Composed
    // as the inner covering join LEFT-joined back onto the points by key
    "q_pip_outer" -> ((s, dir) => {
      val matches = SpatialJoin.pipJoin(points(s, dir), "lat", "lon", rectRegions)
        .select(col("o_orderkey"), col("region_id"))
      points(s, dir).select("o_orderkey")
        .join(matches, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("region_id"), lit("-")).as("region_id"))
    }),

    "q_pip_polygon" -> ((s, dir) =>
      SpatialJoin.pipJoin(points(s, dir), "lat", "lon", polygonRegions)
        .select("region_id", "o_orderkey")),

    // the same rect PIP join written as PURE SQL text against the
    // registered s2_* function surface: the literal-arg s2_rect_covering
    // CONSTANT-FOLDS at plan time, so the covering prefilter costs one
    // array_contains per row with zero per-row covering work; the exact
    // bounds refine makes the conjunction equal the rect oracle
    "q_pip_rect_sql" -> ((s, dir) => {
      graft.functions.s2functions.registerAll(s)
      points(s, dir).createOrReplaceTempView("pts_sql_v")
      val branches = SparkEntryRegions.rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
        s"""SELECT '$rid' AS region_id, o_orderkey
           |FROM (SELECT o_orderkey, lat, lon,
           |        s2_parent(s2_cell_id(lat, lon), 4) AS c4 FROM pts_sql_v)
           |WHERE array_contains(
           |        s2_rect_covering(CAST($latLo AS DOUBLE), CAST($latHi AS DOUBLE),
           |                         CAST($lonLo AS DOUBLE), CAST($lonHi AS DOUBLE), 4), c4)
           |  AND ${SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi)}""".stripMargin
      }
      s.sql(branches.mkString("\nUNION ALL\n"))
    }),

    // 2500-vertex geodesic circle: refinement runs through the per-loop
    // edge index (>= 2000 vertices). Both engine and oracle exclude a 50 m
    // band around the radius, which dwarfs the ~2 m chord-vs-arc gap of the
    // inscribed 2500-gon (R*(pi/n)^2/2), so the haversine-radius oracle is
    // exact for ANY input data, not just the current derivation constants.
    "q_pip_circle" -> ((s, dir) => {
      val circle = graft.s2.TextShapes.circle(10.0, 20.0,
        CircleRadiusM / graft.s2.S2LatLng.EarthRadiusMeters, 2500)
      SpatialJoin.pipJoin(points(s, dir), "lat", "lon", Seq("c_2500km" -> circle))
        .where(abs(s2_distance_m(col("lat"), col("lon"), lit(10.0), lit(20.0))
          - CircleRadiusM) > CircleBandM)
        .select("region_id", "o_orderkey")
    }),

    // the circle query as PURE SQL: constant-folded cap covering prefilter
    // + the kernel haversine (s2_distance_m) as the exact predicate — the
    // same d < R - band condition the q_pip_circle oracle states
    "q_pip_circle_sql" -> ((s, dir) => {
      graft.functions.s2functions.registerAll(s)
      points(s, dir).createOrReplaceTempView("pts_circle_v")
      s.sql(
        s"""SELECT 'c_2500km' AS region_id, o_orderkey
           |FROM (SELECT o_orderkey, lat, lon,
           |        s2_parent(s2_cell_id(lat, lon), 4) AS c4 FROM pts_circle_v)
           |WHERE array_contains(s2_cap_covering(10.0D, 20.0D, ${CircleRadiusM}D, 4), c4)
           |  AND s2_distance_m(lat, lon, 10.0D, 20.0D) < ${CircleRadiusM - CircleBandM}D""".stripMargin)
    }),

    "q_doughnut" -> ((s, dir) =>
      SpatialJoin.doughnutJoin(points(s, dir), "lat", "lon",
        Seq(("d_vienna", 10.0, 20.0, 3000000.0, 1000000.0)))
        .select("region_id", "o_orderkey")),

    "q_knn" -> ((s, dir) =>
      Knn.knnJoin(points(s, dir), "lat", "lon", Seq("o_orderkey"),
        KnnQueries, k = 5, startLevel = 4)
        .select("query_id", "o_orderkey")),

    // all-pairs kNN self-join: every customer's 5 nearest other customers,
    // exact via escalating neighbor-ring resolution (KnnSelfJoinSpec pins
    // brute-force equality and the rank-gap margin that makes the oracle
    // fp-safe: min adjacent-rank gap 4.7 m vs ~1e-9 m cross-engine noise)
    "q_knn_self" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      Knn.knnSelfJoin(pts, "c_custkey", "lat", "lon", k = 5)
        .select("id", "neighbor_id", "rank")
    }),

    // region-region intersection join: one ~3 deg x 4 deg rect per customer
    // (wrapping the antimeridian where the center is near +-180), pairs of
    // intersecting rects via fixed-level covering-cell buckets + exact
    // closed-interval refinement; oracle transcribes the kernel's
    // R1/S1Interval.intersects rules literally over the same derived bounds
    "q_rect_join" -> ((s, dir) => {
      val rects = customer(s, dir).select(col("c_custkey"),
        expr(RectLatLoSql).as("lat_lo"), expr(RectLatHiSql).as("lat_hi"),
        expr(RectLonLoSql).as("lon_lo"), expr(RectLonHiSql).as("lon_hi"))
      SpatialJoin.rectIntersectJoin(rects, "c_custkey",
        "lat_lo", "lat_hi", "lon_lo", "lon_hi", level = 5)
        .select("id_a", "id_b")
    }),

    // distance self-join (pairs within 500 km) via neighbor-cell bucketing —
    // no cross join; oracle is the brute-force haversine over all pairs
    "q_distance_join" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
    }),

    // bichromatic distance join: customer × supplier pairs within
    // 1000 km — the two-table sibling of q_distance_join (left explodes
    // ≤9 neighbor buckets, right keeps its own cell, exact haversine
    // refine; 1780 pairs at sf0.01). Ids only: the membership test is
    // boundary-exact, the raw doubles stay engine-side
    "q_distance_between" -> ((s, dir) => {
      val cust = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val supp = supplier(s, dir).select("s_suppkey")
        .withColumn("lat", expr(latSqlFor("s_suppkey")))
        .withColumn("lon", expr(lonSqlFor("s_suppkey")))
      SpatialJoin.distanceJoinBetween(cust, "c_custkey", "lat", "lon",
        supp, "s_suppkey", "lat", "lon", radiusM = 1000000.0)
        .select("id_left", "id_right")
    }),

    // nearest supplier within 1000 km per customer (min distance, ties
    // by smaller id): bucketed candidates + ONE exact min_by aggregate —
    // the facility-assignment join; 1031 of 1500 customers match at
    // sf0.01, the rest legitimately have no supplier in range
    "q_nearest_join" -> ((s, dir) => {
      val cust = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val supp = supplier(s, dir).select("s_suppkey")
        .withColumn("lat", expr(latSqlFor("s_suppkey")))
        .withColumn("lon", expr(lonSqlFor("s_suppkey")))
      SpatialJoin.nearestJoin(cust, "c_custkey", "lat", "lon",
        supp, "s_suppkey", "lat", "lon", radiusM = 1000000.0)
        .select("id_left", "id_right")
    }),

    // spatial isolation: customers with NO other customer within 300 km
    // (753 of 1500 at sf0.01 — non-degenerate both ways). Same bucketed
    // pair join as q_distance_join, then ids-only union-distinct and one
    // left-anti; the oracle is the NOT EXISTS brute force over the same
    // haversine
    "q_isolated" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      SpatialJoin.isolatedPoints(pts, "lat", "lon", "c_custkey", radiusM = 300000.0)
    }),

    // map matching: k nearest polylines within 800 km of each point,
    // ranked per point by (distance, line_id)
    "q_knn_polylines" -> ((s, dir) =>
      SpatialJoin.nearestPolylinesJoin(points(s, dir), "o_orderkey", "lat", "lon",
          polylineTable(s, dir), "line_id", "lats", "lons",
          radiusM = KnnPolylinesRadiusM, k = 2)
        .select(col("line_id"), col("o_orderkey"), col("rank"))),

    // which routes properly cross: shared-covering-cell candidates at
    // level 5, pair dedup, exact robust-crossing refine over edge pairs
    "q_polyline_cross_join" -> ((s, dir) =>
      SpatialJoin.polylineCrossJoin(routeTable(s, dir), "line_id",
          "lats", "lons", level = 5)
        .select("id_a", "id_b")),

    // PIP join against a TABLE of polygons (vs q_pip_polygon's driver-side
    // Seq): 25 convex hexagon loops live as (region_id, lats, lons) rows,
    // are covered executor-side to level-6 cells with interior flags and
    // broadcast to the cell-table probe; points probe with their level-6
    // ancestor and only boundary-cell hits run the exact loop containment
    "q_poly_table_join" -> ((s, dir) =>
      SpatialJoin.polygonPipJoin(points(s, dir), "lat", "lon",
          hexPolyTable(s, dir), "region_id", "lats", "lons", level = 6)
        .select("region_id", "o_orderkey")),

    // PIP ANTI join: points contained by NO polygon of the table (the
    // exclusion-zone curation filter) — exact complement of
    // q_poly_table_join over o_orderkey
    "q_pip_anti" -> ((s, dir) =>
      SpatialJoin.polygonPipAntiJoin(
          points(s, dir).select("o_orderkey", "lat", "lon"),
          "o_orderkey", "lat", "lon",
          hexPolyTable(s, dir), "region_id", "lats", "lons", level = 6)
        .select("o_orderkey")),

    // k nearest REGIONS within 500 km of each point (0 inside, boundary
    // distance outside): the region form of kNN, ranked per point by
    // (distance, region_id)
    "q_knn_regions" -> ((s, dir) => {
      val catalog = hexPolyTable(s, dir).unionByName(
        hexPolyVarTable(s, dir).withColumn("region_id", col("region_id") + 100L))
      SpatialJoin.nearestRegionsJoin(points(s, dir), "o_orderkey", "lat", "lon",
          catalog, "region_id", "lats", "lons",
          radiusM = KnnRegionsRadiusM, k = 3)
        .select(col("region_id"), col("o_orderkey"), col("rank"))
    }),

    // region-region intersection over a TABLE of arbitrary convex loops
    // (the polygon generalization of q_rect_join): both hexagon fixtures
    // as one 50-region catalog, candidates share a level-5 covering cell,
    // pair-id dedup, exact loop-interior refine
    "q_loop_intersect_join" -> ((s, dir) => {
      val a = hexPolyTable(s, dir)
      val b = hexPolyVarTable(s, dir)
        .withColumn("region_id", col("region_id") + 100L)
      SpatialJoin.loopIntersectJoin(a.unionByName(b), "region_id", "lats", "lons",
        level = 5)
    }),

    // distributed raster->vector: level-4 tiles grouped under their level-2
    // ancestor are assembled into outline polygons ON THE EXECUTORS
    // (mapGroups — no driver geometry), then gated executor-side: every
    // member tile's center must fall INSIDE its group's polygon and every
    // non-member edge-neighbor's center OUTSIDE (vector output reproduces
    // raster membership exactly, over- and under-coverage both fatal);
    // only points of fully-passing groups count, so the single-row total
    // equals the plain point count — the q_tile_counts derived-oracle
    // pattern
    "q_vectorize_dist" -> ((s, dir) => {
      val members = points(s, dir).select(
          s2_token(s2_parent(s2_cell_id(col("lat"), col("lon")), 2)).as("grp"),
          s2_tile(col("lat"), col("lon"), 4).as("tile"))
        .groupBy("grp", "tile").agg(count(lit(1)).as("pts"))
      // materialize: two gates consume the polygons; without this the
      // mapGroups assembly would run once per gate
      val polys = Vectorize.vectorizeGroupsDistributed(members, "grp", "tile")
        .localCheckpoint()
      val memberGate = members.join(polys, "grp")
        .groupBy("grp").agg(sum("pts").as("pts"), count(lit(1)).as("n"),
          sum(when(s2_polygon_contains(col("loop_lats"), col("loop_lons"),
            s2_cell_lat(col("tile")), s2_cell_lon(col("tile"))), 1L).otherwise(0L))
            .as("n_inside"))
      val nbrGate = members
        .select(col("grp"), explode(s2_edge_neighbors(col("tile"))).as("nbr"))
        .join(members.select(col("grp"), col("tile").as("nbr")), Seq("grp", "nbr"),
          "left_anti")
        .join(polys, "grp")
        .groupBy("grp").agg(count(lit(1)).as("m"),
          sum(when(!s2_polygon_contains(col("loop_lats"), col("loop_lons"),
            s2_cell_lat(col("nbr")), s2_cell_lon(col("nbr"))), 1L).otherwise(0L))
            .as("m_outside"))
      memberGate.join(nbrGate, Seq("grp"), "left")
        .where(col("n") === col("n_inside") &&
          (col("m").isNull || col("m") === col("m_outside")))
        .agg(sum("pts").cast("long").as("total_points"))
    }),

    // the size-ADAPTIVE polygon-table join: radii span ~250x in area, so
    // each row picks its own covering level from the quantized menu —
    // results are level-independent, only the plan changes
    "q_poly_adaptive_join" -> ((s, dir) =>
      SpatialJoin.polygonPipJoinAdaptive(points(s, dir), "lat", "lon",
          hexPolyVarTable(s, dir), "region_id", "lats", "lons",
          targetCells = 32, quantizeLevels = Seq(4, 6, 8))
        .select("region_id", "o_orderkey")),

    // points within 150 km of any of a TABLE of polylines (map-matching
    // prefilter): executor-side chain coverings + neighbor-ring buckets at
    // the radius-derived level, single-cell point probe, exact
    // min-over-edges refine
    "q_polyline_join" -> ((s, dir) =>
      SpatialJoin.polylineDistanceJoin(points(s, dir), "lat", "lon",
          polylineTable(s, dir), "line_id", "lats", "lons", PolylineJoinRadiusM)
        .select("line_id", "o_orderkey")),

    // map-matching snap: nearest line within 150 km per point + nearest
    // edge index on it (which road, which segment). Candidates from the
    // polyline raster join, rank-1 window per point, one nearest-edge
    // refinement per match. SnapJoinSpec pins the margins (winner gap,
    // radius boundary, edge gap) that make the argmin cross-engine exact
    "q_snap_join" -> ((s, dir) =>
      SpatialJoin.snapToPolylines(points(s, dir), "o_orderkey", "lat", "lon",
          polylineTable(s, dir), "line_id", "lats", "lons", PolylineJoinRadiusM)
        .select("o_orderkey", "line_id", "edge_idx")),

    // the multi-loop (shell + hole) variant: XOR-parity containment at
    // table granularity — covering cells inside the hole never exist, the
    // refine is the exact S2Polygon parity test
    "q_holed_table_join" -> ((s, dir) =>
      SpatialJoin.multiPolygonPipJoin(points(s, dir), "lat", "lon",
          holedPolyTable(s, dir), "region_id", "loop_lats", "loop_lons", level = 6)
        .select("region_id", "o_orderkey")),

    // co-located bucketed join: both sides pre-hashed into 8 buckets on
    // the customer key, so the join itself plans with NO Exchange on
    // either side (asserted in BucketingSpec); only the tiny per-segment
    // aggregation shuffles
    "q_bucketed_join" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replace('.', '_')
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_${FixtureVersion}_$tag"
      Bucketing.ensureBucketed(s, orders(s, dir), s"g_orders_$tag", "o_custkey", 8,
        s"$base/orders")
      Bucketing.ensureBucketed(s, customer(s, dir), s"g_customer_$tag", "c_custkey", 8,
        s"$base/customer")
      Bucketing.bucketedJoin(s, s"g_orders_$tag", "o_custkey", s"g_customer_$tag", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), countDistinct("o_custkey").as("n_custs"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    }),

    // GeoJSON polygons DRIVE the real join: the hexagon catalog roundtrips
    // through Polygon features (closed rings on disk, reopened by the
    // reader) and feeds polygonPipJoin — bit-identical coordinates, so the
    // q_poly_table_join oracle applies verbatim
    "q_geojson_poly_join" -> ((s, dir) => {
      val gj = fixture(dir, "hex_geojsonl") { p =>
        GeoJson.writePolygons(
          hexPolyTable(s, dir).select(col("region_id"),
            array(col("lats")).as("latss"), array(col("lons")).as("lonss")),
          "region_id", "latss", "lonss", p)
      }
      val polys = GeoJson.readPolygons(s, gj)
        .select(element_at(col("props"), "id").cast("long").as("region_id"),
          element_at(col("latss"), 1).as("lats"),
          element_at(col("lonss"), 1).as("lons"))
      SpatialJoin.polygonPipJoin(points(s, dir), "lat", "lon",
          polys, "region_id", "lats", "lons", level = 6)
        .select("region_id", "o_orderkey")
    })
  )

  val oracles: Map[String, String] = Map(


    "q_pip_rect" -> RectOracleSql,

    "q_pip_rect_exec" -> RectOracleSql,

    // inner matches UNION the anti side labeled '-'
    "q_pip_outer" ->
      s"""WITH m AS ($RectOracleSql)
         |SELECT o_orderkey, region_id FROM m
         |UNION ALL
         |SELECT o_orderkey, '-' AS region_id FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m)""".stripMargin,

    // identical answer through the pure-SQL surface (covering prefilter is
    // complete, bounds refine is exact)
    "q_pip_rect_sql" -> RectOracleSql,

    "q_pip_circle" -> CircleOracleSql,

    // same answer through the pure-SQL surface: the cap covering prefilter
    // is complete (a contained point's level-4 cell intersects the cap) and
    // the refine predicate is the identical kernel haversine
    "q_pip_circle_sql" -> CircleOracleSql,

    // exact spherical PIP for the convex shell+hole diamond: the point is in
    // the polygon iff inside the shell's edge planes and not inside the
    // hole's (see convexLoopSql for why this matches the kernel bit-for-bit
    // away from a ~1e-15 edge-plane band no derived point enters)
    "q_pip_polygon" -> {
      val shell = convexLoopSql(DiamondShell, (0.0, 0.0))
      val hole = convexLoopSql(DiamondHole, (0.0, 0.0))
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts)
         |SELECT 'p_diamond_holed' AS region_id, o_orderkey FROM xyz
         |WHERE $shell AND NOT $hole""".stripMargin
    },

    "q_doughnut" -> {
      val d = haversineExpr("lat", "lon", "10.0", "20.0")
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders)
         |SELECT 'd_vienna' AS region_id, o_orderkey FROM pts
         |WHERE $d <= 3000000.0 AND $d > 1000000.0""".stripMargin
    },

    "q_knn" -> {
      val cases = KnnQueries.map { case (qid, qlat, qlon) =>
        val d = haversineExpr("lat", "lon", qlat.toString, qlon.toString)
        s"""SELECT '$qid' AS query_id, o_orderkey FROM (
           | SELECT o_orderkey, row_number() OVER (ORDER BY $d, o_orderkey) AS rnk FROM pts) t
           |WHERE rnk <= 5""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders)
         |${cases.mkString("\nUNION ALL\n")}""".stripMargin
    },

    "q_knn_self" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer)
         |SELECT id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT a.c_custkey AS id, b.c_custkey AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.c_custkey ORDER BY $d, b.c_custkey) AS rnk
         |  FROM pts a JOIN pts b ON a.c_custkey <> b.c_custkey) t
         |WHERE rnk <= 5""".stripMargin
    },

    // literal transcription of R1Interval.intersects (closed, lat) and
    // S1Interval.intersects (closed, wrap-aware: lo > hi == inverted) in
    // degrees — the radians conversion is monotone, so every comparison
    // decides identically
    "q_rect_join" ->
      s"""WITH r AS (SELECT c_custkey,
         |  $RectLatLoSql AS lat_lo, $RectLatHiSql AS lat_hi,
         |  $RectLonLoSql AS lon_lo, $RectLonHiSql AS lon_hi FROM customer)
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |FROM r a JOIN r b ON a.c_custkey < b.c_custkey
         |WHERE a.lat_lo <= b.lat_hi AND b.lat_lo <= a.lat_hi
         |  AND (CASE
         |    WHEN a.lon_lo > a.lon_hi AND b.lon_lo > b.lon_hi THEN TRUE
         |    WHEN a.lon_lo > a.lon_hi THEN (b.lon_lo <= a.lon_hi OR b.lon_hi >= a.lon_lo)
         |    WHEN b.lon_lo > b.lon_hi THEN (a.lon_lo <= b.lon_hi OR a.lon_hi >= b.lon_lo)
         |    ELSE (b.lon_lo <= a.lon_hi AND b.lon_hi >= a.lon_lo)
         |  END)""".stripMargin,

    "q_distance_join" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer)
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |WHERE $d <= 500000.0""".stripMargin
    },

    // the plain two-table brute force over the identical haversine
    "q_distance_between" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH a AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |b AS (SELECT s_suppkey, ${latSqlFor("s_suppkey")} AS lat, ${lonSqlFor("s_suppkey")} AS lon FROM supplier)
         |SELECT a.c_custkey AS id_left, b.s_suppkey AS id_right
         |FROM a JOIN b ON $d <= 1000000.0""".stripMargin
    },

    // brute-force argmin with the same (distance, id) tie order
    "q_nearest_join" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH a AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |b AS (SELECT s_suppkey, ${latSqlFor("s_suppkey")} AS lat, ${lonSqlFor("s_suppkey")} AS lon FROM supplier),
         |p AS (SELECT a.c_custkey AS id_left, b.s_suppkey AS id_right, $d AS dm
         |  FROM a JOIN b ON $d <= 1000000.0),
         |r AS (SELECT id_left, id_right,
         |  row_number() OVER (PARTITION BY id_left ORDER BY dm, id_right) AS rn FROM p)
         |SELECT id_left, id_right FROM r WHERE rn = 1""".stripMargin
    },

    // isolation as NOT EXISTS over the identical haversine — the
    // double-complement of the pair join (lat/lon are verbatim input
    // copies, so the doubles match trivially)
    "q_isolated" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer)
         |SELECT a.c_custkey, a.lat, a.lon FROM pts a
         |WHERE NOT EXISTS (SELECT 1 FROM pts b
         |  WHERE b.c_custkey <> a.c_custkey AND $d <= 300000.0)""".stripMargin
    },

    // per-line distance = min over the chain's edges of the kernel-
    // transcribed distance CASE; rank per point by (dist, line_id) —
    // KnnPolylinesSpec pins radius-boundary and pairwise rank margins
    "q_knn_polylines" -> {
      val branches = FixturePolylines.map { case (k, verts) =>
        val pts = verts.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
        val edges = pts.indices.dropRight(1).map(i => edgeDistSql(pts(i), pts(i + 1)))
        s"""SELECT o_orderkey, CAST($k AS BIGINT) AS line_id,
           | least(${edges.mkString(",\n  ")}) * 6367000.0 AS dist
           |FROM xyz""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts),
         |d AS (${branches.mkString("\nUNION ALL\n")})
         |SELECT line_id, o_orderkey, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT line_id, o_orderkey,
         |    row_number() OVER (PARTITION BY o_orderkey ORDER BY dist, line_id) AS rnk
         |  FROM d WHERE dist <= $KnnPolylinesRadiusM) t
         |WHERE rnk <= 2""".stripMargin
    },

    // proper spherical crossing from first principles: the kernel's
    // RobustCrossing sign conditions as four inlined-unit-vector triple
    // products per edge pair (general-position fixture: min |sign| 4.7e-6,
    // so the robust fallback never fires and plain IEEE signs decide)
    "q_polyline_cross_join" -> {
      val edges = FixtureRoutes.flatMap { case (k, vs) =>
        val pts = vs.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
        pts.indices.dropRight(1).map { i =>
          val (a, b) = (pts(i), pts(i + 1))
          s"(CAST($k AS BIGINT), ${a.x}, ${a.y}, ${a.z}, ${b.x}, ${b.y}, ${b.z})"
        }
      }
      s"""WITH e(lid, ax, ay, az, bx, by, bz) AS (VALUES
         |${edges.mkString(",\n")}),
         |s AS (SELECT a.lid AS id_a, b.lid AS id_b,
         |  a.ay*a.bz - a.az*a.by AS abx, a.az*a.bx - a.ax*a.bz AS aby,
         |  a.ax*a.by - a.ay*a.bx AS abz,
         |  b.ay*b.bz - b.az*b.by AS cdx, b.az*b.bx - b.ax*b.bz AS cdy,
         |  b.ax*b.by - b.ay*b.bx AS cdz,
         |  -(abx*b.ax + aby*b.ay + abz*b.az) AS acb,
         |   (abx*b.bx + aby*b.by + abz*b.bz) AS bda,
         |  -(cdx*a.bx + cdy*a.by + cdz*a.bz) AS cbd,
         |   (cdx*a.ax + cdy*a.ay + cdz*a.az) AS dac
         | FROM e a JOIN e b ON a.lid < b.lid)
         |SELECT DISTINCT id_a, id_b FROM s
         |WHERE acb * bda > 0 AND acb * cbd > 0 AND acb * dac > 0""".stripMargin
    },

    // one convex edge-plane branch per hexagon (same exactness argument as
    // q_pip_polygon: normals are kernel-computed doubles inlined as
    // literals; PolygonTableJoinSpec pins the margin precondition)
    "q_poly_table_join" -> PolyTableOracleSql,

    // bit-identical polygon coordinates after the GeoJSON roundtrip
    // (shortest-roundtrip doubles, GeoJsonSpec-pinned), so the identical
    // oracle applies
    "q_geojson_poly_join" -> PolyTableOracleSql,

    // exact complement of q_poly_table_join: in NO hexagon (same inlined
    // edge-plane normals, same margin precondition)
    "q_pip_anti" -> {
      val disjuncts = HexPolys.map { case (_, verts, center) => convexLoopSql(verts, center) }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts)
         |SELECT o_orderkey FROM xyz
         | WHERE NOT (${disjuncts.mkString("\n  OR ")})""".stripMargin
    },

    // per-region distance = 0 inside the convex loop (edge-plane test),
    // else the min over its edges of the kernel-transcribed distance CASE
    // (same machinery as q_polyline_join); rank per point by (dist,
    // region_id) — KnnRegionsMarginSpec pins radius-boundary and pairwise
    // rank-separation margins
    "q_knn_regions" -> {
      val regions = HexPolys.map(t => (t._1, t._2, t._3)) ++
        HexPolysVar.map(t => (t._1 + 100L, t._2, t._3))
      val branches = regions.map { case (k, verts, center) =>
        val pts = verts.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
        val edges = pts.indices.map(i => edgeDistSql(pts(i), pts((i + 1) % pts.size)))
        s"""SELECT o_orderkey, CAST($k AS BIGINT) AS region_id,
           | CASE WHEN ${convexLoopSql(verts, center)} THEN 0.0
           |   ELSE least(${edges.mkString(",\n  ")}) * 6367000.0 END AS dist
           |FROM xyz""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts),
         |d AS (${branches.mkString("\nUNION ALL\n")})
         |SELECT region_id, o_orderkey, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT region_id, o_orderkey,
         |    row_number() OVER (PARTITION BY o_orderkey ORDER BY dist, region_id) AS rnk
         |  FROM d WHERE dist <= $KnnRegionsRadiusM) t
         |WHERE rnk <= 3""".stripMargin
    },

    // convex-loop intersection from first principles, set-based: loops
    // intersect iff a vertex of one is strictly inside the other (all six
    // edge planes positive) or some edge pair properly crosses (the
    // SimpleCrossing sign-product test, S2.cs:180-197). Vertex unit
    // vectors are kernel-computed doubles inlined as literals and every
    // predicate below is pure +/*/- on them, so DuckDB's IEEE arithmetic
    // reproduces the engine's classification bit-for-bit — no trig, no
    // margin argument needed (LoopIntersectSpec additionally pins the SQL
    // logic against the kernel over all 1225 pairs)
    "q_loop_intersect_join" -> {
      val all = HexPolys.map(t => (t._1, t._2)) ++
        HexPolysVar.map(t => (t._1 + 100L, t._2))
      val values = all.flatMap { case (id, vs) =>
        vs.zipWithIndex.map { case ((la, lo), k) =>
          val p = graft.s2.S2LatLng.fromDegrees(la, lo).toPoint
          s"($id, $k, ${p.x}, ${p.y}, ${p.z})"
        }
      }.mkString(",\n")
      s"""WITH v(rid, k, x, y, z) AS (VALUES
         |$values),
         |e AS (SELECT a.rid, a.k,
         |  a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS by, b.z AS bz,
         |  a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz
         |  FROM v a JOIN v b ON a.rid = b.rid AND b.k = (a.k + 1) % 6),
         |vin AS (SELECT DISTINCT ra, rb FROM (
         |  SELECT va.rid AS ra, va.k AS ka, eb.rid AS rb,
         |    min(eb.nx*va.x + eb.ny*va.y + eb.nz*va.z) AS mn
         |  FROM v va JOIN e eb ON va.rid <> eb.rid
         |  GROUP BY va.rid, va.k, eb.rid) t WHERE mn > 0),
         |xing AS (SELECT DISTINCT ea.rid AS ra, eb.rid AS rb
         |  FROM e ea JOIN e eb ON ea.rid <> eb.rid
         |  WHERE ((-(ea.nx*eb.ax + ea.ny*eb.ay + ea.nz*eb.az))
         |          * (-(eb.nx*ea.bx + eb.ny*ea.by + eb.nz*ea.bz)) > 0)
         |    AND ((-(eb.nx*ea.bx + eb.ny*ea.by + eb.nz*ea.bz))
         |          * (ea.nx*eb.bx + ea.ny*eb.by + ea.nz*eb.bz) > 0)
         |    AND ((ea.nx*eb.bx + ea.ny*eb.by + ea.nz*eb.bz)
         |          * (eb.nx*ea.ax + eb.ny*ea.ay + eb.nz*ea.az) > 0)),
         |cand AS (SELECT * FROM vin UNION SELECT * FROM xing)
         |SELECT DISTINCT CAST(least(ra, rb) AS BIGINT) AS id_a,
         |  CAST(greatest(ra, rb) AS BIGINT) AS id_b FROM cand""".stripMargin
    },

    // every point lands in exactly one (group, tile); the engine-side
    // geometric gates pass for every group iff the vectorized outlines are
    // exact, so the surviving total is the plain point count
    "q_vectorize_dist" -> "SELECT count(*) AS total_points FROM orders",

    // identical machinery to q_poly_table_join's oracle — the adaptive
    // level menu changes the PLAN, never the contained set
    "q_poly_adaptive_join" -> {
      val branches = HexPolysVar.map { case (k, verts, center) =>
        s"""SELECT CAST($k AS BIGINT) AS region_id, o_orderkey FROM xyz
           | WHERE ${convexLoopSql(verts, center)}""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts)
         |${branches.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // min over the chain's edges of the kernel-transcribed distance CASE,
    // classified against the same radius
    "q_polyline_join" -> {
      val branches = FixturePolylines.map { case (k, verts) =>
        val pts = verts.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
        val edges = pts.indices.dropRight(1).map(i => edgeDistSql(pts(i), pts(i + 1)))
        s"""SELECT CAST($k AS BIGINT) AS line_id, o_orderkey FROM xyz
           | WHERE least(${edges.mkString(",\n  ")}) * 6367000.0 <= $PolylineJoinRadiusM""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts)
         |${branches.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // per-(line, edge) distance rows (same inlined-constant edge formula
    // as q_polyline_join), global argmin per point by (d, line_id,
    // edge_idx) — the engine's two-stage argmin (nearest line by
    // (min-dist, line_id), then first-smallest edge) decides identically
    // because SnapJoinSpec pins strict winner/edge gaps and the
    // radius-boundary margin
    "q_snap_join" -> {
      val branches = FixturePolylines.flatMap { case (k, verts) =>
        val pts = verts.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
        pts.indices.dropRight(1).map { i =>
          s"""SELECT o_orderkey, CAST($k AS BIGINT) AS line_id,
             | CAST($i AS INTEGER) AS edge_idx,
             | ${edgeDistSql(pts(i), pts(i + 1))} * 6367000.0 AS d FROM xyz""".stripMargin
        }
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts),
         |cand AS (${branches.mkString("\nUNION ALL\n")})
         |SELECT o_orderkey, line_id, edge_idx FROM (
         |  SELECT o_orderkey, line_id, edge_idx, d, row_number() OVER (
         |    PARTITION BY o_orderkey ORDER BY d ASC, line_id ASC, edge_idx ASC) AS rk
         |  FROM cand) t
         |WHERE rk = 1 AND d <= $PolylineJoinRadiusM""".stripMargin
    },

    // shell-minus-hole edge-plane branches per region (both loops convex;
    // same inlined-normal exactness argument as q_poly_table_join)
    "q_holed_table_join" -> {
      val branches = HoledPolys.map { case (k, loops, center) =>
        val shell = convexLoopSql(loops(0), center)
        val hole = convexLoopSql(loops(1), center)
        s"""SELECT CAST($k AS BIGINT) AS region_id, o_orderkey FROM xyz
           | WHERE $shell AND NOT $hole""".stripMargin
      }
      s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
         |xyz AS (SELECT o_orderkey,
         |  cos(radians(lat))*cos(radians(lon)) AS px,
         |  cos(radians(lat))*sin(radians(lon)) AS py,
         |  sin(radians(lat)) AS pz FROM pts)
         |${branches.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // the bucketed layout changes the plan, not the rows
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | count(DISTINCT o_custkey) AS n_custs,
        | min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin
  )
}
