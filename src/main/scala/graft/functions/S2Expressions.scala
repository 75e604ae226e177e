package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.s2.{S2CellId, S2LatLng}

/** Catalyst expressions for the S2 kernels.
  *
  * Each hot-path scalar op generates a single static call into the pure-Scala
  * kernel (`graft.s2.S2CellId`), so it inlines into whole-stage codegen over
  * columnar parquet scans — the Spark-native analogue of the reference's
  * row-at-a-time encode kernels (`S2CellId.cs:410-425,527-533,594-677`).
  * Array-valued neighbor ops are eval-based (they run on small frontiers in
  * kNN ring expansion, not per-scan-row).
  */

/** `s2_cell_id(latDeg, lonDeg)` -> level-30 leaf cell id (LongType). */
case class S2CellIdFromLatLng(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"s2_cell_id needs (double, double), got (${left.dataType}, ${right.dataType})")
  }
  override protected def nullSafeEval(lat: Any, lon: Any): Any =
    S2CellId.fromLatLngDegrees(lat.asInstanceOf[Double], lon.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon) => s"graft.s2.S2CellId.fromLatLngDegrees($lat, $lon)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2CellIdFromLatLng =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "s2_cell_id"
}

/** `s2_parent(cellId, level)` -> ancestor cell id at the level (tile assignment). */
case class S2CellParent(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any, level: Any): Any =
    S2CellId.parentForLevel(cell.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cell, level) => s"graft.s2.S2CellId.parentForLevel($cell, $level)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2CellParent =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "s2_parent"
}

/** `s2_cell_from_face_pos(face, pos, level)` -> cell id (E9,
  * `S2CellId.cs:400-403`). */
case class S2CellFromFacePos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(face: Any, pos: Any, level: Any): Any =
    S2CellId.fromFacePosLevel(face.asInstanceOf[Int], pos.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, p, l) => s"graft.s2.S2CellId.fromFacePosLevel($f, $p, $l)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): S2CellFromFacePos =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "s2_cell_from_face_pos"
}

/** `s2_token(cellId)` -> compact hex token string. */
case class S2Token(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override protected def nullSafeEval(cell: Any): Any =
    UTF8String.fromString(S2CellId.toToken(cell.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      cell => s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.s2.S2CellId.toToken($cell))")
  override protected def withNewChildInternal(newChild: Expression): S2Token = copy(child = newChild)
  override def prettyName: String = "s2_token"
}

/** `s2_cell_from_token(str)` -> cell id. */
case class S2CellFromToken(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(tok: Any): Any =
    S2CellId.fromToken(tok.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, tok => s"graft.s2.S2CellId.fromToken($tok.toString())")
  override protected def withNewChildInternal(newChild: Expression): S2CellFromToken = copy(child = newChild)
  override def prettyName: String = "s2_cell_from_token"
}

/** `s2_level(cellId)` -> level 0..30. */
case class S2CellLevel(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(cell: Any): Any = S2CellId.level(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.s2.S2CellId.level($cell)")
  override protected def withNewChildInternal(newChild: Expression): S2CellLevel = copy(child = newChild)
  override def prettyName: String = "s2_level"
}

/** `s2_range_min(cellId)` -> first leaf id of the cell's Hilbert span. */
case class S2CellRangeMin(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any = S2CellId.rangeMin(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.s2.S2CellId.rangeMin($cell)")
  override protected def withNewChildInternal(newChild: Expression): S2CellRangeMin = copy(child = newChild)
  override def prettyName: String = "s2_range_min"
}

/** `s2_range_max(cellId)` -> last leaf id of the cell's Hilbert span. */
case class S2CellRangeMax(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any = S2CellId.rangeMax(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.s2.S2CellId.rangeMax($cell)")
  override protected def withNewChildInternal(newChild: Expression): S2CellRangeMax = copy(child = newChild)
  override def prettyName: String = "s2_range_max"
}

/** `s2_cell_contains(ancestor, descendant)` -> unsigned Hilbert-range test
  * (`S2CellId.cs:508-512`). */
case class S2CellContains(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    S2CellId.contains(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.s2.S2CellId.contains($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2CellContains =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "s2_cell_contains"
}

/** `s2_cell_lat(cellId)` -> cell-center latitude in degrees. */
case class S2CellLat(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(cell: Any): Any = S2CellId.toLatDegrees(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.s2.S2CellId.toLatDegrees($cell)")
  override protected def withNewChildInternal(newChild: Expression): S2CellLat = copy(child = newChild)
  override def prettyName: String = "s2_cell_lat"
}

/** `s2_cell_lon(cellId)` -> cell-center longitude in degrees. */
case class S2CellLon(child: Expression)
    extends UnaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(cell: Any): Any = S2CellId.toLngDegrees(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.s2.S2CellId.toLngDegrees($cell)")
  override protected def withNewChildInternal(newChild: Expression): S2CellLon = copy(child = newChild)
  override def prettyName: String = "s2_cell_lon"
}

object S2DistanceMeters {
  /** Haversine surface distance, earth radius 6367000 m (`S2LatLng.cs:223-269`). */
  def distance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    S2LatLng.fromDegrees(lat1, lon1).getEarthDistance(S2LatLng.fromDegrees(lat2, lon2))
}

/** `s2_distance_m(lat1, lon1, lat2, lon2)` -> haversine meters (kNN ranking key). */
case class S2Distance(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    S2DistanceMeters.distance(
      lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.functions.S2DistanceMeters.distance($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression, newFourth: Expression): S2Distance =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
  override def prettyName: String = "s2_distance_m"
}

/** `s2_all_neighbors(cellId, level)` -> array of all touching cells at the
  * level; may contain duplicates near face corners, matching the reference
  * (`S2CellId.cs:813-863`). Eval-only: runs on kNN frontiers, not scans. */
case class S2AllNeighbors(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(cell: Any, level: Any): Any =
    new GenericArrayData(S2CellId.allNeighbors(cell.asInstanceOf[Long], level.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2AllNeighbors =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "s2_all_neighbors"
}

/** `s2_edge_neighbors(cellId)` -> the 4 edge-adjacent cells (S, E, N, W). */
case class S2EdgeNeighbors(child: Expression)
    extends UnaryExpression with CodegenFallback with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(cell: Any): Any =
    new GenericArrayData(S2CellId.edgeNeighbors(cell.asInstanceOf[Long]))
  override protected def withNewChildInternal(newChild: Expression): S2EdgeNeighbors = copy(child = newChild)
  override def prettyName: String = "s2_edge_neighbors"
}

/** `s2_vertex_neighbors(cellId, level)` -> 3-4 cells sharing the closest vertex. */
case class S2VertexNeighbors(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(cell: Any, level: Any): Any =
    new GenericArrayData(S2CellId.vertexNeighbors(cell.asInstanceOf[Long], level.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2VertexNeighbors =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "s2_vertex_neighbors"
}

/** `s2_rect_covering(latLoDeg, latHiDeg, lonLoDeg, lonHiDeg, level)` -> the
  * fixed-level covering cell ids of a lat/lng rectangle (lonLo > lonHi
  * wraps the antimeridian), via the reference's flood fill
  * (`S2RegionCoverer.cs:289-293`). FOLDABLE when the bounds are literals —
  * the usual case — so `array_contains(s2_rect_covering(...), cell)`
  * constant-folds to a literal-array membership test at plan time: a
  * pure-SQL covering prefilter with zero per-row covering cost. */
case class S2RectCovering(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes with CodegenFallback with Serializable {
  require(children.size == 5, "s2_rect_covering(latLo, latHi, lonLo, lonHi, level)")
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  /** Refuse plans whose covering would exceed this many cells: the flood
    * fill runs on the DRIVER during constant folding, so a 25x40-degree
    * rect at level 20 must fail fast instead of enumerating billions of
    * cells before the first task launches. */
  private val MaxCoveringCells = 1 << 17

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val latLo = vs(0).asInstanceOf[Double]
      val latHi = vs(1).asInstanceOf[Double]
      val lonLo = vs(2).asInstanceOf[Double]
      val lonHi = vs(3).asInstanceOf[Double]
      val level = vs(4).asInstanceOf[Int]
      require(0 <= level && level <= 30, s"s2_rect_covering level $level outside [0, 30]")
      val rect = graft.s2.S2LatLngRect(
        graft.s2.R1Interval(math.toRadians(latLo), math.toRadians(latHi)),
        graft.s2.S1Interval(math.toRadians(lonLo), math.toRadians(lonHi)))
      // fail fast on coverings too large to enumerate: spherical rect
      // area / average cell area at the level, with slack for boundary
      // cells
      val area = rect.lng.length *
        math.max(0.0, math.sin(rect.lat.hi) - math.sin(rect.lat.lo))
      val avgCellArea = 4 * math.Pi / (6.0 * math.pow(4.0, level))
      val estimate = area / avgCellArea
      require(estimate <= MaxCoveringCells,
        f"s2_rect_covering would produce ~$estimate%.0f level-$level cells " +
          f"(> $MaxCoveringCells); use a coarser level for a rect this large")
      new GenericArrayData(
        graft.s2.S2RegionCoverer.getSimpleCovering(rect, rect.center.toPoint, level).toArray)
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): S2RectCovering = copy(children = newChildren)
  override def prettyName: String = "s2_rect_covering"
}

/** `s2_cap_covering(centerLatDeg, centerLonDeg, radiusMeters, level)` ->
  * the fixed-level covering cell ids of a spherical cap — the circle
  * companion of [[S2RectCovering]], same foldability (literal args
  * constant-fold to a literal array at plan time) and same fail-fast
  * guards against driver-side blowup. */
case class S2CapCovering(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes with CodegenFallback with Serializable {
  require(children.size == 4, "s2_cap_covering(centerLat, centerLon, radiusM, level)")
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  private val MaxCoveringCells = 1 << 17

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val lat = vs(0).asInstanceOf[Double]
      val lon = vs(1).asInstanceOf[Double]
      val radiusM = vs(2).asInstanceOf[Double]
      val level = vs(3).asInstanceOf[Int]
      require(0 <= level && level <= 30, s"s2_cap_covering level $level outside [0, 30]")
      require(radiusM > 0, s"s2_cap_covering radius $radiusM must be positive")
      val angle = math.min(math.Pi, radiusM / S2LatLng.EarthRadiusMeters)
      val area = 2 * math.Pi * (1 - math.cos(angle))
      val avgCellArea = 4 * math.Pi / (6.0 * math.pow(4.0, level))
      val estimate = area / avgCellArea
      require(estimate <= MaxCoveringCells,
        f"s2_cap_covering would produce ~$estimate%.0f level-$level cells " +
          f"(> $MaxCoveringCells); use a coarser level for a cap this large")
      val axis = S2LatLng.fromDegrees(lat, lon).toPoint
      val cap = graft.s2.S2Cap.fromAxisAngle(axis, angle)
      new GenericArrayData(
        graft.s2.S2RegionCoverer.getSimpleCovering(cap, axis, level).toArray)
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): S2CapCovering = copy(children = newChildren)
  override def prettyName: String = "s2_cap_covering"
}

/** Per-thread LRU of constructed [[graft.s2.S2Loop]]s keyed by vertex
  * content. Loop construction is O(n) (bound + origin) and `contains`
  * lazily builds an edge index for large loops, so the refinement side of a
  * polygon-table join — where one task streams many candidate points of the
  * SAME few border polygons (the equi-join groups rows by covering cell) —
  * would otherwise rebuild the loop once per (point, polygon) pair. Thread
  * confinement also keeps the loop's lazy internal state (edge iterator,
  * first-logical-vertex memo) race-free. */
private[graft] object LoopCache {
  final class Key(val lats: Array[Double], val lons: Array[Double]) {
    override val hashCode: Int =
      31 * java.util.Arrays.hashCode(lats) + java.util.Arrays.hashCode(lons)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(lats, k.lats) &&
        java.util.Arrays.equals(lons, k.lons)
      case _ => false
    }
  }

  private val MaxEntries = 64

  private val cache = new ThreadLocal[java.util.LinkedHashMap[Key, graft.s2.S2Loop]] {
    override def initialValue() =
      new java.util.LinkedHashMap[Key, graft.s2.S2Loop](MaxEntries * 2, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, graft.s2.S2Loop]): Boolean = size > MaxEntries
      }
  }

  def loopFor(lats: Array[Double], lons: Array[Double]): graft.s2.S2Loop = {
    val key = new Key(lats, lons)
    val m = cache.get()
    var loop = m.get(key)
    if (loop == null) {
      loop = build(lats, lons)
      m.put(key, loop)
    }
    loop
  }

  /** A fresh loop from parallel degree vertex arrays, uncached. */
  def build(lats: Array[Double], lons: Array[Double]): graft.s2.S2Loop = {
    require(lats.length == lons.length,
      s"loop vertex arrays differ in length: ${lats.length} vs ${lons.length}")
    require(lats.length >= 3, s"a loop needs >= 3 vertices, got ${lats.length}")
    new graft.s2.S2Loop(Array.tabulate(lats.length)(i =>
      S2LatLng.fromDegrees(lats(i), lons(i)).toPoint).toIndexedSeq)
  }
}

/** `s2_polygon_covering(latsDeg: array<double>, lonsDeg: array<double>,
  * level) -> array<struct<cell: long, interior: boolean>>` — the fixed-level
  * covering cells of a single-loop polygon given as parallel vertex arrays,
  * each cell flagged `interior` when the loop fully contains it (so a PIP
  * join can skip exact refinement for points landing there). The loop must
  * be simple (non-self-intersecting) with vertices listed so the enclosed
  * region is on the LEFT (counter-clockwise for small loops).
  *
  * This is the polygon member of the vector->raster family
  * ([[S2RectCovering]] / [[S2CapCovering]]): with column args the flood
  * fill runs per row on the EXECUTORS, so a million-polygon catalog
  * rasterizes as a distributed projection — the driver-side
  * `SpatialJoin.coverRegions` Seq can never hold that. Flood-fill seed is
  * vertex 0 (always on the boundary, so its level-L cell intersects the
  * loop; `S2RegionCoverer.cs` GetSimpleCovering seeds the same way). */
case class S2PolygonCovering(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false))), containsNull = false)

  private val MaxCoveringCells = 1 << 17

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val level = levelAny.asInstanceOf[Int]
    require(0 <= level && level <= 30, s"s2_polygon_covering level $level outside [0, 30]")
    val loop = LoopCache.loopFor(lats, lons)
    // fail fast on coverings too large to enumerate (rect-bound area over
    // average cell area at the level, same guard as s2_rect_covering)
    val b = loop.rectBound
    val area = b.lng.length *
      math.max(0.0, math.sin(b.lat.hi) - math.sin(b.lat.lo))
    val avgCellArea = 4 * math.Pi / (6.0 * math.pow(4.0, level))
    require(area / avgCellArea <= MaxCoveringCells,
      f"s2_polygon_covering would produce ~${area / avgCellArea}%.0f level-$level cells " +
        f"(> $MaxCoveringCells); use a coarser level for a polygon this large")
    val cells = graft.s2.S2RegionCoverer.getSimpleCovering(loop, loop.vertex(0), level)
    val rows = new Array[Any](cells.length)
    var i = 0
    while (i < cells.length) {
      val interior = loop.containsCell(graft.s2.S2Cell(cells(i)))
      rows(i) = InternalRow(cells(i), interior)
      i += 1
    }
    new GenericArrayData(rows)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): S2PolygonCovering = copy(f, s, t)
  override def prettyName: String = "s2_polygon_covering"
}

/** `s2_loop_contains(latsDeg: array<double>, lonsDeg: array<double>,
  * latDeg, lonDeg) -> boolean` — exact single-loop containment
  * (`S2Loop.cs:794-833` crossing-parity semantics) with the loop built from
  * parallel vertex arrays. The refinement predicate of the polygon-TABLE
  * PIP join: loops are constructed at most once per (task thread, polygon)
  * via [[LoopCache]], not once per candidate pair. */
case class S2LoopContainsPoint(first: Expression, second: Expression,
                               third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), DoubleType, DoubleType)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val loop = LoopCache.loopFor(lats, lons)
    loop.contains(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2LoopContainsPoint =
    copy(f, s, t, q)
  override def prettyName: String = "s2_loop_contains"
}

/** Per-thread LRU of constructed [[graft.s2.S2Polygon]]s (multi-loop, XOR
  * parity) keyed by nested vertex content — the multi-loop sibling of
  * [[LoopCache]], same rationale. */
private[graft] object PolygonCache {
  final class Key(val lats: Array[Array[Double]], val lons: Array[Array[Double]]) {
    override val hashCode: Int =
      31 * java.util.Arrays.deepHashCode(lats.asInstanceOf[Array[AnyRef]]) +
        java.util.Arrays.deepHashCode(lons.asInstanceOf[Array[AnyRef]])
    override def equals(o: Any): Boolean = o match {
      case k: Key =>
        java.util.Arrays.deepEquals(lats.asInstanceOf[Array[AnyRef]],
          k.lats.asInstanceOf[Array[AnyRef]]) &&
          java.util.Arrays.deepEquals(lons.asInstanceOf[Array[AnyRef]],
            k.lons.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
  }

  private val MaxEntries = 64

  private val cache = new ThreadLocal[java.util.LinkedHashMap[Key, graft.s2.S2Polygon]] {
    override def initialValue() =
      new java.util.LinkedHashMap[Key, graft.s2.S2Polygon](MaxEntries * 2, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, graft.s2.S2Polygon]): Boolean = size > MaxEntries
      }
  }

  def polygonFor(lats: Array[Array[Double]],
                 lons: Array[Array[Double]]): graft.s2.S2Polygon = {
    val key = new Key(lats, lons)
    val m = cache.get()
    var poly = m.get(key)
    if (poly == null) {
      poly = build(lats, lons)
      m.put(key, poly)
    }
    poly
  }

  /** A fresh polygon from nested degree vertex arrays, uncached. */
  def build(lats: Array[Array[Double]], lons: Array[Array[Double]]): graft.s2.S2Polygon = {
    require(lats.length == lons.length && lats.length >= 1,
      s"polygon needs >= 1 loop with matching lat/lon arrays, " +
        s"got ${lats.length}/${lons.length}")
    var i = 0
    while (i < lats.length) {
      require(lats(i).length == lons(i).length && lats(i).length >= 3,
        s"loop $i: vertex arrays ${lats(i).length}/${lons(i).length} (need >= 3, equal)")
      i += 1
    }
    new graft.s2.S2Polygon(lats.indices.map { j =>
      new graft.s2.S2Loop(Array.tabulate(lats(j).length)(v =>
        S2LatLng.fromDegrees(lats(j)(v), lons(j)(v)).toPoint).toIndexedSeq)
    })
  }
}

/** `s2_multipolygon_covering(loopLatsDeg: array<array<double>>,
  * loopLonsDeg: array<array<double>>, level) -> array<struct<cell: long,
  * interior: boolean>>` — fixed-level covering of a MULTI-LOOP polygon
  * (shells + holes, XOR-parity semantics, `S2Polygon.cs:944-964`). Cells
  * fully inside a hole are absent from the covering (they don't intersect
  * the region); `interior` cells are fully inside the polygon proper. The
  * holed/multi-shell member of the vector->raster family. */
case class S2MultiPolygonCovering(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false))), containsNull = false)

  private val MaxCoveringCells = 1 << 17

  private def nested(a: Any): Array[Array[Double]] = {
    val outer = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(outer.numElements())(i => outer.getArray(i).toDoubleArray())
  }

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val level = levelAny.asInstanceOf[Int]
    require(0 <= level && level <= 30, s"s2_multipolygon_covering level $level outside [0, 30]")
    val poly = PolygonCache.polygonFor(nested(latsAny), nested(lonsAny))
    val b = poly.rectBound
    val area = b.lng.length *
      math.max(0.0, math.sin(b.lat.hi) - math.sin(b.lat.lo))
    val avgCellArea = 4 * math.Pi / (6.0 * math.pow(4.0, level))
    require(area / avgCellArea <= MaxCoveringCells,
      f"s2_multipolygon_covering would produce ~${area / avgCellArea}%.0f level-$level " +
        f"cells (> $MaxCoveringCells); use a coarser level for a polygon this large")
    // seed: any loop vertex lies on the region boundary, so its level-L
    // cell intersects the region and the flood fill can start there
    val seed = poly.loop(0).vertex(0)
    val cells = graft.s2.S2RegionCoverer.getSimpleCovering(poly, seed, level)
    val rows = new Array[Any](cells.length)
    var i = 0
    while (i < cells.length) {
      rows(i) = InternalRow(cells(i), poly.containsCell(graft.s2.S2Cell(cells(i))))
      i += 1
    }
    new GenericArrayData(rows)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): S2MultiPolygonCovering = copy(f, s, t)
  override def prettyName: String = "s2_multipolygon_covering"
}

/** `s2_polygon_contains(loopLatsDeg, loopLonsDeg, latDeg, lonDeg) ->
  * boolean` — exact multi-loop XOR-parity containment, polygons built at
  * most once per (task thread, polygon) via [[PolygonCache]]. */
case class S2PolygonContainsPoint(first: Expression, second: Expression,
                                  third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      DoubleType, DoubleType)
  override def dataType: DataType = BooleanType

  private def nested(a: Any): Array[Array[Double]] = {
    val outer = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(outer.numElements())(i => outer.getArray(i).toDoubleArray())
  }

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val poly = PolygonCache.polygonFor(nested(latsAny), nested(lonsAny))
    poly.contains(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2PolygonContainsPoint =
    copy(f, s, t, q)
  override def prettyName: String = "s2_polygon_contains"
}

/** Per-thread LRU of constructed [[graft.s2.S2Polyline]]s keyed by vertex
  * content — [[LoopCache]]'s polyline sibling, same rationale (chains are
  * rebuilt at most once per (task thread, polyline), not per candidate
  * pair). */
private[functions] object PolylineCache {
  private val MaxEntries = 64

  private val cache =
    new ThreadLocal[java.util.LinkedHashMap[LoopCache.Key, graft.s2.S2Polyline]] {
      override def initialValue() =
        new java.util.LinkedHashMap[LoopCache.Key, graft.s2.S2Polyline](
          MaxEntries * 2, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[LoopCache.Key, graft.s2.S2Polyline]): Boolean =
            size > MaxEntries
        }
    }

  def polylineFor(lats: Array[Double], lons: Array[Double]): graft.s2.S2Polyline = {
    require(lats.length == lons.length,
      s"polyline vertex arrays differ in length: ${lats.length} vs ${lons.length}")
    require(lats.length >= 2, s"a polyline needs >= 2 vertices, got ${lats.length}")
    val key = new LoopCache.Key(lats, lons)
    val m = cache.get()
    var line = m.get(key)
    if (line == null) {
      line = new graft.s2.S2Polyline(Array.tabulate(lats.length)(i =>
        S2LatLng.fromDegrees(lats(i), lons(i)).toPoint).toIndexedSeq)
      m.put(key, line)
    }
    line
  }
}

/** `s2_polyline_covering(latsDeg: array<double>, lonsDeg: array<double>,
  * level) -> array<long>` — the fixed-level covering cells of a polyline
  * (every level-`level` cell the chain passes through; flood fill seeded at
  * vertex 0, edge-crossing test `S2Polyline.cs:123-159`). Runs per row on
  * the executors: the candidate-generation step of the polyline distance
  * join (roads/tracks catalogs). */
case class S2PolylineCovering(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val MaxCoveringCells = 1 << 17

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val level = levelAny.asInstanceOf[Int]
    require(0 <= level && level <= 30, s"s2_polyline_covering level $level outside [0, 30]")
    val line = PolylineCache.polylineFor(lats, lons)
    // a polyline's covering grows ~linearly with arc length / cell edge
    val arc = line.arcLengthAngle
    val minEdge = graft.s2.S2Projections.MinWidth.getValue(level)
    require(arc / minEdge <= MaxCoveringCells,
      f"s2_polyline_covering would walk ~${arc / minEdge}%.0f level-$level cells " +
        f"(> $MaxCoveringCells); use a coarser level for a chain this long")
    new GenericArrayData(
      graft.s2.S2RegionCoverer.getSimpleCovering(line, line.vertex(0), level).toArray)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): S2PolylineCovering = copy(f, s, t)
  override def prettyName: String = "s2_polyline_covering"
}

/** `s2_polyline_distance_m(latsDeg, lonsDeg, latDeg, lonDeg) -> double` —
  * exact minimum distance in meters (angle x the engine's 6 367 000 m
  * radius, G12) from a point to a polyline: min over edges of
  * `S2EdgeUtil.GetDistance` (`S2EdgeUtil.cs:293-334`), chains cached per
  * task thread. */
case class S2PolylineDistance(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val line = PolylineCache.polylineFor(lats, lons)
    line.distanceAngle(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint) * S2LatLng.EarthRadiusMeters
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2PolylineDistance =
    copy(f, s, t, q)
  override def prettyName: String = "s2_polyline_distance_m"
}

/** `s2_polyline_nearest_edge(latsDeg, lonsDeg, latDeg, lonDeg) -> int` —
  * the index of the chain edge nearest to the point (first strictly
  * smallest under `S2EdgeUtil.GetDistance`, the reference's
  * `S2Polyline.GetNearestEdgeIndex`, `S2Polyline.cs:285-302`): the
  * map-matching refinement that turns "nearest line" into "nearest road
  * SEGMENT". Chains cached per task thread. */
case class S2PolylineNearestEdge(first: Expression, second: Expression,
                                 third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), DoubleType, DoubleType)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val line = PolylineCache.polylineFor(lats, lons)
    line.getNearestEdgeIndex(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2PolylineNearestEdge =
    copy(f, s, t, q)
  override def prettyName: String = "s2_polyline_nearest_edge"
}

/** `S2PolygonCoveringAdaptive(latsDeg, lonsDeg, targetCells)` with a
  * quantized level menu — the heterogeneous-catalog form of
  * [[S2PolygonCovering]]: each ROW picks its own covering level from its
  * rect-bound area so a continent-sized region and a parking lot both
  * produce ~`targetCells` cells, while quantizing to `quantizeLevels`
  * keeps the probe side's ancestor explode bounded by the MENU size (a
  * per-row free level would force the points side to explode once per
  * DISTINCT level in the data — unknowable at plan time). Picks the
  * FINEST allowed level whose estimated covering stays within
  * `targetCells` (finer = more selective buckets); regions smaller than
  * the finest allowed level just use it. */
case class S2PolygonCoveringAdaptive(first: Expression, second: Expression,
                                     third: Expression, quantizeLevels: Seq[Int])
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  require(quantizeLevels.nonEmpty && quantizeLevels == quantizeLevels.sorted &&
    quantizeLevels.forall(l => 0 <= l && l <= 30),
    s"quantizeLevels must be sorted levels in [0, 30], got $quantizeLevels")
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false))), containsNull = false)

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, targetAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val target = targetAny.asInstanceOf[Int]
    require(target >= 4, s"targetCells must be >= 4, got $target")
    val loop = LoopCache.loopFor(lats, lons)
    val b = loop.rectBound
    val area = b.lng.length *
      math.max(0.0, math.sin(b.lat.hi) - math.sin(b.lat.lo))
    // the min level whose AVG cell area is <= area/target covers the region
    // in >= ~target cells; quantizing DOWN (coarser) keeps the count <= that
    val ideal =
      if (area <= 0) quantizeLevels.last
      else graft.s2.S2Projections.AvgArea.getMinLevel(area / target)
    val level = quantizeLevels.reverseIterator.find(_ <= ideal)
      .getOrElse(quantizeLevels.head)
    val cells = graft.s2.S2RegionCoverer.getSimpleCovering(loop, loop.vertex(0), level)
    val rows = new Array[Any](cells.length)
    var i = 0
    while (i < cells.length) {
      rows(i) = InternalRow(cells(i), loop.containsCell(graft.s2.S2Cell(cells(i))))
      i += 1
    }
    new GenericArrayData(rows)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): S2PolygonCoveringAdaptive =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "s2_polygon_covering_adaptive"
}

/** `s2_loops_intersect(latsA, lonsA, latsB, lonsB) -> boolean` — exact
  * loop-interior intersection (`S2Loop.cs` Intersects semantics), both
  * loops built at most once per task thread via [[LoopCache]]. The
  * refinement predicate of the polygon-catalog region-region join. */
case class S2LoopsIntersect(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = BooleanType

  private def arr(a: Any): Array[Double] =
    a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()

  override protected def nullSafeEval(latsA: Any, lonsA: Any,
                                      latsB: Any, lonsB: Any): Any = {
    val a = LoopCache.loopFor(arr(latsA), arr(lonsA))
    val b = LoopCache.loopFor(arr(latsB), arr(lonsB))
    a.intersects(b)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2LoopsIntersect =
    copy(f, s, t, q)
  override def prettyName: String = "s2_loops_intersect"
}

/** `s2_loop_region_distance_m(latsDeg, lonsDeg, latDeg, lonDeg) -> double`
  * — distance in meters from a point to a single-loop REGION: 0 inside
  * (`S2Loop.Contains` parity), else the boundary distance (min over edges
  * of `S2EdgeUtil.GetDistance` x the engine's 6 367 000 m radius). Loops
  * cached per task thread. The scoring function of the k-nearest-regions
  * join. */
case class S2LoopRegionDistance(first: Expression, second: Expression,
                                third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val lats = latsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val lons = lonsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val loop = LoopCache.loopFor(lats, lons)
    val p = S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint
    if (loop.contains(p)) 0.0
    else loop.getDistance(p) * S2LatLng.EarthRadiusMeters
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2LoopRegionDistance =
    copy(f, s, t, q)
  override def prettyName: String = "s2_loop_region_distance_m"
}

/** `s2_polylines_cross(latsA, lonsA, latsB, lonsB) -> boolean` — true iff
  * some edge of chain A PROPERLY crosses some edge of chain B
  * (`S2EdgeUtil.RobustCrossing > 0`, S2EdgeUtil.cs:81-119; shared vertices
  * and mere touches are NOT crossings). Chains cached per task thread. The
  * refinement predicate of the polyline crossing join. */
case class S2PolylinesCross(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsAAny: Any, lonsAAny: Any,
                                      latsBAny: Any, lonsBAny: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val la = PolylineCache.polylineFor(
      latsAAny.asInstanceOf[ArrayData].toDoubleArray(),
      lonsAAny.asInstanceOf[ArrayData].toDoubleArray())
    val lb = PolylineCache.polylineFor(
      latsBAny.asInstanceOf[ArrayData].toDoubleArray(),
      lonsBAny.asInstanceOf[ArrayData].toDoubleArray())
    var i = 0
    while (i < la.numVertices - 1) {
      var j = 0
      while (j < lb.numVertices - 1) {
        if (graft.s2.S2EdgeUtil.robustCrossing(la.vertex(i), la.vertex(i + 1),
          lb.vertex(j), lb.vertex(j + 1)) > 0) return true
        j += 1
      }
      i += 1
    }
    false
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2PolylinesCross =
    copy(f, s, t, q)
  override def prettyName: String = "s2_polylines_cross"
}
