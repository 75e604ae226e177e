package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.lit

import graft.plans.S2RegionContains

/** Column-API facade over the S2 Catalyst expressions — the engine's scalar
  * function surface (SURVEY.md section 2.1/2.2). */
object s2functions {

  private def expr(e: Expression): Column = ColumnBridge.column(e)
  private def child(c: Column): Expression = ColumnBridge.expression(c)

  /** Leaf (level-30) cell id from lat/lon degrees. */
  def s2_cell_id(latDeg: Column, lonDeg: Column): Column =
    expr(S2CellIdFromLatLng(child(latDeg), child(lonDeg)))

  /** Ancestor at the given level — the raster-tile assignment operator. */
  def s2_parent(cellId: Column, level: Column): Column =
    expr(S2CellParent(child(cellId), child(level)))
  def s2_parent(cellId: Column, level: Int): Column = s2_parent(cellId, lit(level))

  /** Point -> tile at level in one call (reference `CellIDForCoordinates`). */
  def s2_tile(latDeg: Column, lonDeg: Column, level: Int): Column =
    s2_parent(s2_cell_id(latDeg, lonDeg), level)

  def s2_token(cellId: Column): Column = expr(S2Token(child(cellId)))
  def s2_cell_from_face_pos(face: Column, pos: Column, level: Column): Column =
    expr(S2CellFromFacePos(child(face), child(pos), child(level)))
  def s2_cell_from_token(token: Column): Column = expr(S2CellFromToken(child(token)))
  def s2_level(cellId: Column): Column = expr(S2CellLevel(child(cellId)))
  def s2_range_min(cellId: Column): Column = expr(S2CellRangeMin(child(cellId)))
  def s2_range_max(cellId: Column): Column = expr(S2CellRangeMax(child(cellId)))
  def s2_cell_contains(ancestor: Column, descendant: Column): Column =
    expr(S2CellContains(child(ancestor), child(descendant)))
  def s2_cell_lat(cellId: Column): Column = expr(S2CellLat(child(cellId)))
  def s2_cell_lon(cellId: Column): Column = expr(S2CellLon(child(cellId)))

  def s2_distance_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    expr(S2Distance(child(lat1), child(lon1), child(lat2), child(lon2)))

  def s2_all_neighbors(cellId: Column, level: Column): Column =
    expr(S2AllNeighbors(child(cellId), child(level)))
  def s2_all_neighbors(cellId: Column, level: Int): Column = s2_all_neighbors(cellId, lit(level))
  def s2_edge_neighbors(cellId: Column): Column = expr(S2EdgeNeighbors(child(cellId)))
  def s2_vertex_neighbors(cellId: Column, level: Int): Column =
    expr(S2VertexNeighbors(child(cellId), child(lit(level))))

  /** Map an unsigned cell id onto the signed ordering (flip the sign bit) so
    * builtin range predicates / sorts / range joins order ids correctly. */
  def s2_ord(cellId: Column): Column = cellId.bitwiseXOR(lit(Long.MinValue))

  /** Fixed-level covering cells of a lat/lng rect (degrees). Foldable with
    * literal args; with column args the flood fill runs per row on the
    * executors — the distributed vector->raster path. */
  def s2_rect_covering(latLo: Column, latHi: Column, lonLo: Column, lonHi: Column,
                       level: Int): Column =
    expr(S2RectCovering(Seq(child(latLo), child(latHi), child(lonLo), child(lonHi),
      child(lit(level)))))

  /** Fixed-level covering of a single-loop polygon given as parallel vertex
    * arrays (degrees), each cell struct flagged `interior` when the loop
    * fully contains it. With column args the flood fill runs per row on the
    * executors — the polygon member of the vector->raster family. */
  def s2_polygon_covering(latsDeg: Column, lonsDeg: Column, level: Int): Column =
    expr(S2PolygonCovering(child(latsDeg), child(lonsDeg), child(lit(level))))

  /** Exact single-loop containment of a point, loop built from parallel
    * vertex arrays (degrees); per-thread loop construction cache. */
  def s2_loop_contains(latsDeg: Column, lonsDeg: Column,
                       latDeg: Column, lonDeg: Column): Column =
    expr(S2LoopContainsPoint(child(latsDeg), child(lonsDeg), child(latDeg), child(lonDeg)))

  /** Fixed-level covering of a MULTI-LOOP polygon (shells + holes, XOR
    * parity) from nested vertex arrays (degrees); cells inside holes are
    * absent, `interior` cells fully inside the polygon proper. */
  def s2_multipolygon_covering(loopLatsDeg: Column, loopLonsDeg: Column,
                               level: Int): Column =
    expr(S2MultiPolygonCovering(child(loopLatsDeg), child(loopLonsDeg), child(lit(level))))

  /** Size-adaptive covering of a single-loop polygon: each row picks its
    * own level (finest in `quantizeLevels` whose estimated covering fits
    * `targetCells`), so heterogeneous catalogs rasterize evenly. */
  def s2_polygon_covering_adaptive(latsDeg: Column, lonsDeg: Column,
                                   targetCells: Int, quantizeLevels: Seq[Int]): Column =
    expr(S2PolygonCoveringAdaptive(child(latsDeg), child(lonsDeg),
      child(lit(targetCells)), quantizeLevels))

  /** Exact multi-loop XOR-parity containment of a point; per-thread
    * polygon construction cache. */
  def s2_polygon_contains(loopLatsDeg: Column, loopLonsDeg: Column,
                          latDeg: Column, lonDeg: Column): Column =
    expr(S2PolygonContainsPoint(child(loopLatsDeg), child(loopLonsDeg),
      child(latDeg), child(lonDeg)))

  /** Distance (meters) from a point to a single-loop REGION: 0 inside,
    * else boundary distance; per-thread loop cache. */
  def s2_loop_region_distance_m(latsDeg: Column, lonsDeg: Column,
                                latDeg: Column, lonDeg: Column): Column =
    expr(S2LoopRegionDistance(child(latsDeg), child(lonsDeg), child(latDeg), child(lonDeg)))

  /** True iff some edge of chain A properly crosses some edge of chain B
    * (robust crossing trichotomy; shared vertices/touches excluded). */
  def s2_polylines_cross(latsA: Column, lonsA: Column,
                         latsB: Column, lonsB: Column): Column =
    expr(S2PolylinesCross(child(latsA), child(lonsA), child(latsB), child(lonsB)))

  /** Exact loop-interior intersection of two single-loop polygons from
    * parallel vertex arrays (degrees); per-thread loop caches. */
  def s2_loops_intersect(latsA: Column, lonsA: Column,
                         latsB: Column, lonsB: Column): Column =
    expr(S2LoopsIntersect(child(latsA), child(lonsA), child(latsB), child(lonsB)))

  /** Fixed-level covering cells of a polyline from parallel vertex arrays
    * (degrees); executor-side per row. */
  def s2_polyline_covering(latsDeg: Column, lonsDeg: Column, level: Int): Column =
    expr(S2PolylineCovering(child(latsDeg), child(lonsDeg), child(lit(level))))

  /** Exact min distance (meters) from a point to a polyline; per-thread
    * chain construction cache. */
  def s2_polyline_distance_m(latsDeg: Column, lonsDeg: Column,
                             latDeg: Column, lonDeg: Column): Column =
    expr(S2PolylineDistance(child(latsDeg), child(lonsDeg), child(latDeg), child(lonDeg)))

  /** Index of the chain edge nearest to the point (the map-matching
    * segment refinement); per-thread chain construction cache. */
  def s2_polyline_nearest_edge(latsDeg: Column, lonsDeg: Column,
                               latDeg: Column, lonDeg: Column): Column =
    expr(S2PolylineNearestEdge(child(latsDeg), child(lonsDeg), child(latDeg), child(lonDeg)))

  private def sql(name: String)(builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)

  /** The SQL surface: every `s2_*` function by name with its builder, the
    * one table that [[registerAll]] and [[graft.plans.S2Extensions]] both
    * register. `s2_polygon_covering_adaptive` is Column-API only: its level
    * menu is a Scala `Seq`, not a SQL argument. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    sql("s2_cell_id") { case Seq(a, b) => S2CellIdFromLatLng(a, b) },
    sql("s2_parent") { case Seq(a, b) => S2CellParent(a, b) },
    sql("s2_token") { case Seq(a) => S2Token(a) },
    sql("s2_cell_from_face_pos") { case Seq(a, b, c) => S2CellFromFacePos(a, b, c) },
    sql("s2_cell_from_token") { case Seq(a) => S2CellFromToken(a) },
    sql("s2_level") { case Seq(a) => S2CellLevel(a) },
    sql("s2_range_min") { case Seq(a) => S2CellRangeMin(a) },
    sql("s2_range_max") { case Seq(a) => S2CellRangeMax(a) },
    sql("s2_cell_contains") { case Seq(a, b) => S2CellContains(a, b) },
    sql("s2_cell_lat") { case Seq(a) => S2CellLat(a) },
    sql("s2_cell_lon") { case Seq(a) => S2CellLon(a) },
    sql("s2_distance_m") { case Seq(a, b, c, d) => S2Distance(a, b, c, d) },
    sql("s2_all_neighbors") { case Seq(a, b) => S2AllNeighbors(a, b) },
    sql("s2_edge_neighbors") { case Seq(a) => S2EdgeNeighbors(a) },
    sql("s2_vertex_neighbors") { case Seq(a, b) => S2VertexNeighbors(a, b) },
    sql("s2_region_contains") { case Seq(a, b, c) => S2RegionContains(a, b, c) },
    sql("s2_rect_covering")(S2RectCovering(_)),
    sql("s2_cap_covering")(S2CapCovering(_)),
    sql("s2_polygon_covering") { case Seq(a, b, c) => S2PolygonCovering(a, b, c) },
    sql("s2_loop_contains") { case Seq(a, b, c, d) => S2LoopContainsPoint(a, b, c, d) },
    sql("s2_multipolygon_covering") { case Seq(a, b, c) => S2MultiPolygonCovering(a, b, c) },
    sql("s2_polygon_contains") { case Seq(a, b, c, d) => S2PolygonContainsPoint(a, b, c, d) },
    sql("s2_polyline_covering") { case Seq(a, b, c) => S2PolylineCovering(a, b, c) },
    sql("s2_polyline_distance_m") { case Seq(a, b, c, d) => S2PolylineDistance(a, b, c, d) },
    sql("s2_polyline_nearest_edge") { case Seq(a, b, c, d) => S2PolylineNearestEdge(a, b, c, d) },
    sql("s2_loops_intersect") { case Seq(a, b, c, d) => S2LoopsIntersect(a, b, c, d) },
    sql("s2_loop_region_distance_m") { case Seq(a, b, c, d) => S2LoopRegionDistance(a, b, c, d) },
    sql("s2_polylines_cross") { case Seq(a, b, c, d) => S2PolylinesCross(a, b, c, d) })

  /** Register every [[sqlFunctions]] entry for SQL use on the given session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, info, builder) <- sqlFunctions) registry.registerFunction(name, info, builder)
  }
}
