package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.s2.{R1Interval, S1Interval, S2Cap, S2Cell, S2CellId, S2EdgeUtil, S2LatLng,
  S2LatLngRect, S2Loop, S2Point, S2Polygon, S2Polyline, S2Projections, S2Region, S2RegionCoverer}

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

/** Degree vertex arrays: the Catalyst types the shape expressions take and
  * their decoding into primitive arrays. */
private[graft] object Vertices {
  /** `array<double>`: the latitudes or longitudes of one loop or chain. */
  val Type: ArrayType = ArrayType(DoubleType, containsNull = false)
  /** `array<array<double>>`: the same, one inner array per polygon loop. */
  val LoopsType: ArrayType = ArrayType(Type, containsNull = false)

  def apply(a: Any): Array[Double] = a.asInstanceOf[ArrayData].toDoubleArray()
  def loops(a: Any): Array[Array[Double]] = {
    val outer = a.asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements())(i => outer.getArray(i).toDoubleArray())
  }
  def points(lats: Array[Double], lons: Array[Double]): IndexedSeq[S2Point] =
    Array.tabulate(lats.length)(i => S2LatLng.fromDegrees(lats(i), lons(i)).toPoint).toIndexedSeq
}

/** The fixed-level covering kernel of every `s2_*_covering` expression: the
  * reference's flood fill (`S2RegionCoverer.cs:289-293`) from a seed point
  * whose level-`level` cell intersects the region, behind a level check and
  * a size guard. */
private[graft] object Covering {
  /** Refuse coverings estimated above this many cells: a literal-arg
    * covering constant-folds on the DRIVER, so a 25x40-degree rect at level
    * 20 must fail fast instead of enumerating billions of cells before the
    * first task launches (a per-row covering fails its task the same way). */
  val MaxCoveringCells = 1 << 17

  /** `array<struct<cell: long, interior: boolean>>`: the flagged form, each
    * cell `interior` when the region contains all of it, so a PIP join can
    * skip exact refinement for points landing there. */
  val FlaggedType: ArrayType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false))), containsNull = false)

  /** Cells of the level's average area it takes to tile `area` steradians. */
  def cellsFor(area: Double, level: Int): Double =
    area / (4 * math.Pi / (6.0 * math.pow(4.0, level)))

  /** Spherical area of a rect bound, clamped at 0 where the sine difference
    * goes negative (an empty lat interval, or latitudes outside [-90, 90]
    * degrees); `S2LatLngRect.area` takes its absolute value instead. */
  def boundArea(b: S2LatLngRect): Double =
    b.lng.length * math.max(0.0, math.sin(b.lat.hi) - math.sin(b.lat.lo))

  /** `op`'s covering: checks `level`, builds `shape`, refuses it when its
    * `estimate`d cell count exceeds [[MaxCoveringCells]] (the message reads
    * "`op` would `verb` ~N level-L cells ...; use a coarser level for a
    * `what`"), then flood-fills from `seed` — as cell ids, or `flagged`
    * ([[FlaggedType]]). */
  def apply[R <: S2Region](op: String, level: Int, shape: => R, flagged: Boolean)(
      estimate: R => Double, seed: R => S2Point, what: String,
      verb: String = "produce"): GenericArrayData = {
    require(0 <= level && level <= 30, s"$op level $level outside [0, 30]")
    val region = shape
    val n = estimate(region)
    require(n <= MaxCoveringCells,
      f"$op would $verb ~$n%.0f level-$level cells (> $MaxCoveringCells); " +
        s"use a coarser level for a $what")
    val cells = S2RegionCoverer.getSimpleCovering(region, seed(region), level)
    if (!flagged) new GenericArrayData(cells.toArray)
    else {
      val rows = new Array[Any](cells.length)
      var i = 0
      while (i < cells.length) {
        rows(i) = InternalRow(cells(i), region.containsCell(S2Cell(cells(i))))
        i += 1
      }
      new GenericArrayData(rows)
    }
  }
}

/** `s2_rect_covering(latLoDeg, latHiDeg, lonLoDeg, lonHiDeg, level)` -> the
  * fixed-level covering cell ids of a lat/lng rectangle (lonLo > lonHi
  * wraps the antimeridian), via the [[Covering]] kernel. FOLDABLE when the
  * bounds are literals — the usual case — so
  * `array_contains(s2_rect_covering(...), cell)` constant-folds to a
  * literal-array membership test at plan time: a pure-SQL covering
  * prefilter with zero per-row covering cost. */
case class S2RectCovering(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes with CodegenFallback with Serializable {
  require(children.size == 5, "s2_rect_covering(latLo, latHi, lonLo, lonHi, level)")
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val latLo = vs(0).asInstanceOf[Double]
      val latHi = vs(1).asInstanceOf[Double]
      val lonLo = vs(2).asInstanceOf[Double]
      val lonHi = vs(3).asInstanceOf[Double]
      val level = vs(4).asInstanceOf[Int]
      Covering("s2_rect_covering", level, {
        require(math.abs(latLo) <= 90 && math.abs(latHi) <= 90,
          s"s2_rect_covering latitudes [$latLo, $latHi] must be finite and within [-90, 90]")
        S2LatLngRect(
          R1Interval(math.toRadians(latLo), math.toRadians(latHi)),
          S1Interval(math.toRadians(lonLo), math.toRadians(lonHi)))
      }, flagged = false)(
        r => Covering.cellsFor(Covering.boundArea(r), level), _.center.toPoint, "rect this large")
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

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val lat = vs(0).asInstanceOf[Double]
      val lon = vs(1).asInstanceOf[Double]
      val radiusM = vs(2).asInstanceOf[Double]
      val level = vs(3).asInstanceOf[Int]
      val angle = math.min(math.Pi, radiusM / S2LatLng.EarthRadiusMeters)
      val axis = S2LatLng.fromDegrees(lat, lon).toPoint
      Covering("s2_cap_covering", level, {
        require(radiusM > 0, s"s2_cap_covering radius $radiusM must be positive")
        S2Cap.fromAxisAngle(axis, angle)
      }, flagged = false)(
        _ => Covering.cellsFor(2 * math.Pi * (1 - math.cos(angle)), level), _ => axis,
        "cap this large")
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): S2CapCovering = copy(children = newChildren)
  override def prettyName: String = "s2_cap_covering"
}

/** A per-thread LRU of shapes built from degree vertex arrays, keyed by
  * vertex content. Shape construction is O(n) (bound + origin) and
  * containment lazily builds an edge index for large shapes, so an
  * expression evaluated over many rows of the SAME few shapes (a
  * refinement predicate, a per-row covering of a repeated polygon) would
  * otherwise rebuild the shape once per row. Thread confinement also keeps
  * a shape's lazy internal state (edge iterator, first-logical-vertex memo)
  * race-free. */
private[graft] abstract class ShapeCache[A <: AnyRef, S <: AnyRef] {
  /** A fresh shape from the vertex arrays, uncached. */
  def build(lats: A, lons: A): S

  private val MaxEntries = 64

  private val cache = ThreadLocal.withInitial[java.util.LinkedHashMap[ShapeCache.Key, S]](() =>
    new java.util.LinkedHashMap[ShapeCache.Key, S](MaxEntries * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[ShapeCache.Key, S]): Boolean =
        size > MaxEntries
    })

  /** The calling thread's shape for these vertices, built on a miss. */
  def apply(lats: A, lons: A): S = {
    val key = new ShapeCache.Key(lats, lons)
    val m = cache.get()
    var shape = m.get(key)
    if (shape == null) {
      shape = build(lats, lons)
      m.put(key, shape)
    }
    shape
  }
}

private[graft] object ShapeCache {
  /** Content equality over flat or nested primitive vertex arrays. */
  final class Key(lats: AnyRef, lons: AnyRef) {
    private val parts = Array(lats, lons)
    override val hashCode: Int = java.util.Arrays.deepHashCode(parts)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.deepEquals(parts, k.parts)
      case _ => false
    }
  }
}

/** Single loops for the loop expressions; the polygon-table join builds its
  * per-task loops with the uncached [[build]]. */
private[graft] object LoopCache extends ShapeCache[Array[Double], S2Loop] {
  def build(lats: Array[Double], lons: Array[Double]): S2Loop = {
    require(lats.length == lons.length,
      s"loop vertex arrays differ in length: ${lats.length} vs ${lons.length}")
    require(lats.length >= 3, s"a loop needs >= 3 vertices, got ${lats.length}")
    new S2Loop(Vertices.points(lats, lons))
  }
}

/** Multi-loop polygons (XOR parity) from nested vertex arrays. */
private[graft] object PolygonCache extends ShapeCache[Array[Array[Double]], S2Polygon] {
  def build(lats: Array[Array[Double]], lons: Array[Array[Double]]): S2Polygon = {
    require(lats.length == lons.length && lats.length >= 1,
      s"polygon needs >= 1 loop with matching lat/lon arrays, " +
        s"got ${lats.length}/${lons.length}")
    var i = 0
    while (i < lats.length) {
      require(lats(i).length == lons(i).length && lats(i).length >= 3,
        s"loop $i: vertex arrays ${lats(i).length}/${lons(i).length} (need >= 3, equal)")
      i += 1
    }
    new S2Polygon(lats.indices.map(j => new S2Loop(Vertices.points(lats(j), lons(j)))))
  }
}

/** Polylines (chains) for the polyline expressions. */
private[functions] object PolylineCache extends ShapeCache[Array[Double], S2Polyline] {
  def build(lats: Array[Double], lons: Array[Double]): S2Polyline = {
    require(lats.length == lons.length,
      s"polyline vertex arrays differ in length: ${lats.length} vs ${lons.length}")
    require(lats.length >= 2, s"a polyline needs >= 2 vertices, got ${lats.length}")
    new S2Polyline(Vertices.points(lats, lons))
  }
}

/** `s2_polygon_covering(latsDeg: array<double>, lonsDeg: array<double>,
  * level) -> array<struct<cell: long, interior: boolean>>` — the fixed-level
  * covering cells of a single-loop polygon given as parallel vertex arrays,
  * in the [[Covering]] kernel's flagged form. The loop must be simple
  * (non-self-intersecting) with vertices listed so the enclosed region is
  * on the LEFT (counter-clockwise for small loops).
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
  override def inputTypes: Seq[DataType] = Seq(Vertices.Type, Vertices.Type, IntegerType)
  override def dataType: DataType = Covering.FlaggedType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val level = levelAny.asInstanceOf[Int]
    Covering("s2_polygon_covering", level, LoopCache(Vertices(latsAny), Vertices(lonsAny)),
      flagged = true)(
      loop => Covering.cellsFor(Covering.boundArea(loop.rectBound), level), _.vertex(0),
      "polygon this large")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): S2PolygonCovering = copy(f, s, t)
  override def prettyName: String = "s2_polygon_covering"
}

/** `s2_loop_contains(latsDeg: array<double>, lonsDeg: array<double>,
  * latDeg, lonDeg) -> boolean` — exact single-loop containment
  * (`S2Loop.cs:794-833` crossing-parity semantics) with the loop built from
  * parallel vertex arrays, at most once per (task thread, polygon) via
  * [[LoopCache]], not once per candidate pair. */
case class S2LoopContainsPoint(first: Expression, second: Expression,
                               third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(Vertices.Type, Vertices.Type, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val loop = LoopCache(Vertices(latsAny), Vertices(lonsAny))
    loop.contains(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2LoopContainsPoint =
    copy(f, s, t, q)
  override def prettyName: String = "s2_loop_contains"
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
    Seq(Vertices.LoopsType, Vertices.LoopsType, IntegerType)
  override def dataType: DataType = Covering.FlaggedType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val level = levelAny.asInstanceOf[Int]
    // seed: any loop vertex lies on the region boundary, so its level-L
    // cell intersects the region and the flood fill can start there
    Covering("s2_multipolygon_covering", level,
      PolygonCache(Vertices.loops(latsAny), Vertices.loops(lonsAny)), flagged = true)(
      poly => Covering.cellsFor(Covering.boundArea(poly.rectBound), level),
      _.loop(0).vertex(0), "polygon this large")
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
    Seq(Vertices.LoopsType, Vertices.LoopsType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val poly = PolygonCache(Vertices.loops(latsAny), Vertices.loops(lonsAny))
    poly.contains(S2LatLng.fromDegrees(latAny.asInstanceOf[Double],
      lonAny.asInstanceOf[Double]).toPoint)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): S2PolygonContainsPoint =
    copy(f, s, t, q)
  override def prettyName: String = "s2_polygon_contains"
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
  override def inputTypes: Seq[DataType] = Seq(Vertices.Type, Vertices.Type, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, levelAny: Any): Any = {
    val level = levelAny.asInstanceOf[Int]
    // a polyline's covering grows ~linearly with arc length / cell edge
    Covering("s2_polyline_covering", level, PolylineCache(Vertices(latsAny), Vertices(lonsAny)),
      flagged = false)(
      _.arcLengthAngle / S2Projections.MinWidth.getValue(level), _.vertex(0),
      "chain this long", verb = "walk")
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
    Seq(Vertices.Type, Vertices.Type, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val line = PolylineCache(Vertices(latsAny), Vertices(lonsAny))
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
    Seq(Vertices.Type, Vertices.Type, DoubleType, DoubleType)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val line = PolylineCache(Vertices(latsAny), Vertices(lonsAny))
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
  * bounds the cell-table probe's per-level binary searches by the MENU
  * size (a per-row free level would cost the probe one search per
  * DISTINCT level in the data). Picks the FINEST allowed level whose
  * estimated covering stays within `targetCells` (finer = more selective
  * buckets); regions smaller than the finest allowed level just use it.
  * No size guard: `targetCells` bounds the covering. */
case class S2PolygonCoveringAdaptive(first: Expression, second: Expression,
                                     third: Expression, quantizeLevels: Seq[Int])
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback
    with Serializable {
  require(quantizeLevels.nonEmpty && quantizeLevels == quantizeLevels.sorted &&
    quantizeLevels.forall(l => 0 <= l && l <= 30),
    s"quantizeLevels must be sorted levels in [0, 30], got $quantizeLevels")
  override def inputTypes: Seq[DataType] = Seq(Vertices.Type, Vertices.Type, IntegerType)
  override def dataType: DataType = Covering.FlaggedType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any, targetAny: Any): Any = {
    val target = targetAny.asInstanceOf[Int]
    require(target >= 4, s"targetCells must be >= 4, got $target")
    val loop = LoopCache(Vertices(latsAny), Vertices(lonsAny))
    val area = Covering.boundArea(loop.rectBound)
    // the min level whose AVG cell area is <= area/target covers the region
    // in >= ~target cells; quantizing DOWN (coarser) keeps the count <= that
    val ideal =
      if (area <= 0) quantizeLevels.last
      else S2Projections.AvgArea.getMinLevel(area / target)
    val level = quantizeLevels.reverseIterator.find(_ <= ideal)
      .getOrElse(quantizeLevels.head)
    Covering(prettyName, level, loop, flagged = true)(_ => 0.0, _.vertex(0), "polygon this large")
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
    Seq(Vertices.Type, Vertices.Type, Vertices.Type, Vertices.Type)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsA: Any, lonsA: Any,
                                      latsB: Any, lonsB: Any): Any = {
    val a = LoopCache(Vertices(latsA), Vertices(lonsA))
    val b = LoopCache(Vertices(latsB), Vertices(lonsB))
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
    Seq(Vertices.Type, Vertices.Type, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(latsAny: Any, lonsAny: Any,
                                      latAny: Any, lonAny: Any): Any = {
    val loop = LoopCache(Vertices(latsAny), Vertices(lonsAny))
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
    Seq(Vertices.Type, Vertices.Type, Vertices.Type, Vertices.Type)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(latsAAny: Any, lonsAAny: Any,
                                      latsBAny: Any, lonsBAny: Any): Any = {
    val la = PolylineCache(Vertices(latsAAny), Vertices(lonsAAny))
    val lb = PolylineCache(Vertices(latsBAny), Vertices(lonsBAny))
    var i = 0
    while (i < la.numVertices - 1) {
      var j = 0
      while (j < lb.numVertices - 1) {
        if (S2EdgeUtil.robustCrossing(la.vertex(i), la.vertex(i + 1),
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
