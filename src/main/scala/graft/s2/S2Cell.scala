package graft.s2

/** A decoded cell: face, level, orientation and (u,v) bounds, supporting
  * exact containment and bound computations
  * (`OpenSky.S2Geometry/S2Cell.cs:13-505`). */
final class S2Cell private (val id: Long,
                            val face: Int,
                            val level: Int,
                            val orientation: Int,
                            // uv(d)(0..1): lo/hi bound along u (d=0) and v (d=1)
                            private[s2] val uv: Array[Array[Double]]) extends S2Region with Serializable {
  import S2Cell._

  def isLeaf: Boolean = level == S2CellId.MaxLevel

  def centerRaw: S2Point = S2CellId.toPointRaw(id)
  def center: S2Point = S2Point.normalize(centerRaw)

  /** Cell midpoint in (u,v)-space: the point where it subdivides
    * (`S2Cell.cs:109-128`). */
  def centerUv: (Double, Double) = {
    val ij = S2CellId.toIj(id)
    val cellSize = 1 << (S2CellId.MaxLevel - level)
    val si = (S2CellId.ijI(ij) & -cellSize) * 2 + cellSize - MaxCellSize
    val sj = (S2CellId.ijJ(ij) & -cellSize) * 2 + cellSize - MaxCellSize
    (S2Projections.stToUv((1.0 / MaxCellSize) * si), S2Projections.stToUv((1.0 / MaxCellSize) * sj))
  }

  /** k-th vertex in CCW order SW, SE, NE, NW; not unit length
    * (`S2Cell.cs:278-282`). */
  def getVertexRaw(k: Int): S2Point =
    S2Projections.faceUvToXyz(face, uv(0)((k >> 1) ^ (k & 1)), uv(1)(k >> 1))

  def getVertex(k: Int): S2Point = S2Point.normalize(getVertexRaw(k))

  /** Inward normal of the great circle through edge k (S,E,N,W); not unit
    * length (`S2Cell.cs:289-302`). */
  def getEdgeRaw(k: Int): S2Point = k match {
    case 0 => S2Projections.getVNorm(face, uv(1)(0))
    case 1 => S2Projections.getUNorm(face, uv(0)(1))
    case 2 => -S2Projections.getVNorm(face, uv(1)(1))
    case _ => -S2Projections.getUNorm(face, uv(0)(0))
  }

  /** Fast 4-way subdivision reusing the uv midpoint (`S2Cell.cs:319-351`). */
  def subdivide(): Array[S2Cell] = {
    require(!S2CellId.isLeaf(id))
    val (uMid, vMid) = centerUv
    val mid = Array(uMid, vMid)
    val out = new Array[S2Cell](4)
    var cid = S2CellId.childBegin(id)
    var pos = 0
    while (pos < 4) {
      val childUv = Array(new Array[Double](2), new Array[Double](2))
      val ij = S2CellId.posToIj(orientation, pos)
      var d = 0
      while (d < 2) {
        val m = 1 - ((ij >> (1 - d)) & 1)
        childUv(d)(m) = mid(d)
        childUv(d)(1 - m) = uv(d)(1 - m)
        d += 1
      }
      out(pos) = new S2Cell(cid, face, level + 1,
        orientation ^ S2CellId.posToOrientation(pos), childUv)
      cid = S2CellId.next(cid)
      pos += 1
    }
    out
  }

  /** Exact point containment via the cell's uv rectangle on its own face;
    * boundary points on face seams test true for both cells
    * (`S2Cell.cs:441-453`). */
  def contains(p: S2Point): Boolean =
    S2Projections.faceXyzToUv(face, p) match {
      case Some((u, v)) =>
        u >= uv(0)(0) && u <= uv(0)(1) && v >= uv(1)(0) && v <= uv(1)(1)
      case scala.None => false
    }

  def containsCell(cell: S2Cell): Boolean = S2CellId.contains(id, cell.id)
  def mayIntersectCell(cell: S2Cell): Boolean = S2CellId.intersects(id, cell.id)

  def capBound: S2Cap = {
    // Center in (u,v)-space as the axis; grow to all 4 vertices
    // (`S2Cell.cs:137-158`).
    val u = 0.5 * (uv(0)(0) + uv(0)(1))
    val v = 0.5 * (uv(1)(0) + uv(1)(1))
    var cap = S2Cap.fromAxisHeight(S2Point.normalize(S2Projections.faceUvToXyz(face, u, v)), 0)
    var k = 0
    while (k < 4) { cap = cap.addPoint(getVertex(k)); k += 1 }
    cap
  }

  private def getLatitude(i: Int, j: Int): Double = {
    val p = S2Projections.faceUvToXyz(face, uv(0)(i), uv(1)(j))
    math.atan2(p.z, math.sqrt(p.x * p.x + p.y * p.y))
  }

  private def getLongitude(i: Int, j: Int): Double = {
    val p = S2Projections.faceUvToXyz(face, uv(0)(i), uv(1)(j))
    math.atan2(p.y, p.x)
  }

  /** Exact-ish lat/lng bound; full-longitude at the poles
    * (`S2Cell.cs:161-218`). */
  def rectBound: S2LatLngRect = {
    if (level > 0) {
      val u = uv(0)(0) + uv(0)(1)
      val v = uv(1)(0) + uv(1)(1)
      val i = if (S2Projections.getUAxis(face).z == 0) { if (u < 0) 1 else 0 } else { if (u > 0) 1 else 0 }
      val j = if (S2Projections.getVAxis(face).z == 0) { if (v < 0) 1 else 0 } else { if (v > 0) 1 else 0 }

      var lat = R1Interval.fromPointPair(getLatitude(i, j), getLatitude(1 - i, 1 - j))
      lat = lat.expanded(MaxError).intersection(S2LatLngRect.FullLat)
      if (lat.lo == -S2Const.PiOver2 || lat.hi == S2Const.PiOver2)
        return S2LatLngRect(lat, S1Interval.Full)
      val lng = S1Interval.fromPointPair(getLongitude(i, 1 - j), getLongitude(1 - i, j))
      return S2LatLngRect(lat, lng.expanded(MaxError))
    }
    face match {
      case 0 => S2LatLngRect(R1Interval(-S2Const.PiOver4, S2Const.PiOver4), S1Interval(-S2Const.PiOver4, S2Const.PiOver4))
      case 1 => S2LatLngRect(R1Interval(-S2Const.PiOver4, S2Const.PiOver4), S1Interval(S2Const.PiOver4, 3 * S2Const.PiOver4))
      case 2 => S2LatLngRect(R1Interval(PoleMinLat, S2Const.PiOver2), S1Interval(-S2Const.Pi, S2Const.Pi))
      case 3 => S2LatLngRect(R1Interval(-S2Const.PiOver4, S2Const.PiOver4), S1Interval(3 * S2Const.PiOver4, -3 * S2Const.PiOver4))
      case 4 => S2LatLngRect(R1Interval(-S2Const.PiOver4, S2Const.PiOver4), S1Interval(-3 * S2Const.PiOver4, -S2Const.PiOver4))
      case _ => S2LatLngRect(R1Interval(-S2Const.PiOver2, -PoleMinLat), S1Interval(-S2Const.Pi, S2Const.Pi))
    }
  }

  def averageArea: Double = S2Projections.AvgArea.getValue(level)

  /** Approximate area via projected-diagonal cross product with spherical-cap
    * curvature correction (`S2Cell.cs:388-409`). */
  def approxArea: Double = {
    if (level < 2) return averageArea
    val flatArea = 0.5 * (getVertex(2) - getVertex(0)).cross(getVertex(3) - getVertex(1)).norm
    flatArea * 2 / (1 + math.sqrt(1 - math.min(S2Const.InversePi * flatArea, 1.0)))
  }

  def exactArea: Double = {
    val v0 = getVertex(0); val v1 = getVertex(1); val v2 = getVertex(2); val v3 = getVertex(3)
    S2Predicates.area(v0, v1, v2) + S2Predicates.area(v0, v2, v3)
  }

  override def equals(obj: Any): Boolean = obj match {
    case c: S2Cell => id == c.id
    case _ => false
  }
  override def hashCode: Int = java.lang.Long.hashCode(id)
  override def toString: String = s"S2Cell(${S2CellId.toToken(id)})"
}

object S2Cell {
  private val MaxCellSize = 1 << S2CellId.MaxLevel
  private[s2] val MaxError = 1.0 / (1L << 51)
  private[s2] val PoleMinLat = math.asin(math.sqrt(1.0 / 3.0)) - MaxError

  def apply(id: Long): S2Cell = {
    val ij = S2CellId.toIj(id)
    val face = S2CellId.face(id)
    val orientation = S2CellId.orientation(id)
    val level = S2CellId.level(id)
    val cellSize = 1 << (S2CellId.MaxLevel - level)
    val uv = Array(new Array[Double](2), new Array[Double](2))
    val ijArr = Array(S2CellId.ijI(ij), S2CellId.ijJ(ij))
    var d = 0
    while (d < 2) {
      val sijLo = (ijArr(d) & -cellSize) * 2 - MaxCellSize
      val sijHi = sijLo + cellSize * 2
      uv(d)(0) = S2Projections.stToUv((1.0 / MaxCellSize) * sijLo)
      uv(d)(1) = S2Projections.stToUv((1.0 / MaxCellSize) * sijHi)
      d += 1
    }
    new S2Cell(id, face, level, orientation, uv)
  }

  def fromPoint(p: S2Point): S2Cell = apply(S2CellId.fromPoint(p))
  def fromLatLng(ll: S2LatLng): S2Cell = apply(S2CellId.fromLatLngRadians(ll.latRadians, ll.lngRadians))
}
