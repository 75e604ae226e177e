package graft.s2

/** Cube-face projection math: how the six cube faces map onto the unit sphere
  * and how cell-space (s,t) warps into cube-space (u,v).
  *
  * Only the quadratic s<->u warp is implemented, matching the variant the
  * reference compiles in (`OpenSky.S2Geometry/S2Projections.cs:59,182-216`);
  * the linear/tangent variants there are dead enum arms.
  */
object S2Projections {

  /** Quadratic cell-space -> cube-space warp (`S2Projections.cs:182-198`). */
  @inline def stToUv(s: Double): Double =
    if (s >= 0) (1 / 3.0) * ((1 + s) * (1 + s) - 1)
    else (1 / 3.0) * (1 - (1 - s) * (1 - s))

  /** Quadratic cube-space -> cell-space warp (`S2Projections.cs:200-216`). */
  @inline def uvToSt(u: Double): Double =
    if (u >= 0) math.sqrt(1 + 3 * u) - 1
    else 1 - math.sqrt(1 - 3 * u)

  /** (face, u, v) -> direction vector, not necessarily unit length
    * (`S2Projections.cs:224-241`). */
  def faceUvToXyz(face: Int, u: Double, v: Double): S2Point = face match {
    case 0 => S2Point(1, u, v)
    case 1 => S2Point(-u, 1, v)
    case 2 => S2Point(-u, -v, 1)
    case 3 => S2Point(-1, -v, -u)
    case 4 => S2Point(v, -1, -u)
    case _ => S2Point(v, u, -1)
  }

  /** Project a point known to be on the given face's half-space to (u,v)
    * (`S2Projections.cs:243-276`). */
  def validFaceXyzToU(face: Int, p: S2Point): Double = face match {
    case 0 => p.y / p.x
    case 1 => -p.x / p.y
    case 2 => -p.x / p.z
    case 3 => p.z / p.x
    case 4 => p.z / p.y
    case _ => -p.y / p.z
  }

  def validFaceXyzToV(face: Int, p: S2Point): Double = face match {
    case 0 => p.z / p.x
    case 1 => p.z / p.y
    case 2 => -p.y / p.z
    case 3 => p.y / p.x
    case 4 => -p.x / p.y
    case _ => -p.x / p.z
  }

  /** Cube face (0..5) containing the direction `p`: the axis with the largest
    * absolute component, +3 when negative (`S2Projections.cs:278-286`). */
  def xyzToFace(p: S2Point): Int = {
    var face = p.largestAbsComponent
    if (p(face) < 0) face += 3
    face
  }

  /** (face,xyz) -> (u,v) if p is on the correct side, else None
    * (`S2Projections.cs:288-305`). */
  def faceXyzToUv(face: Int, p: S2Point): Option[(Double, Double)] = {
    if (face < 3) { if (p(face) <= 0) return None }
    else { if (p(face - 3) >= 0) return None }
    Some((validFaceXyzToU(face, p), validFaceXyzToV(face, p)))
  }

  /** Outward normal of the plane through the u-edge at the given u
    * (`S2Projections.cs:307-324`). */
  def getUNorm(face: Int, u: Double): S2Point = face match {
    case 0 => S2Point(u, -1, 0)
    case 1 => S2Point(1, u, 0)
    case 2 => S2Point(1, 0, u)
    case 3 => S2Point(-u, 0, 1)
    case 4 => S2Point(0, -u, 1)
    case _ => S2Point(0, -1, -u)
  }

  def getVNorm(face: Int, v: Double): S2Point = face match {
    case 0 => S2Point(-v, 0, 1)
    case 1 => S2Point(0, -v, 1)
    case 2 => S2Point(0, -1, -v)
    case 3 => S2Point(v, -1, 0)
    case 4 => S2Point(1, v, 0)
    case _ => S2Point(1, 0, v)
  }

  def getUAxis(face: Int): S2Point = face match {
    case 0 => S2Point(0, 1, 0)
    case 1 => S2Point(-1, 0, 0)
    case 2 => S2Point(-1, 0, 0)
    case 3 => S2Point(0, 0, -1)
    case 4 => S2Point(0, 0, -1)
    case _ => S2Point(0, 1, 0)
  }

  def getVAxis(face: Int): S2Point = face match {
    case 0 => S2Point(0, 0, 1)
    case 1 => S2Point(0, 0, 1)
    case 2 => S2Point(0, -1, 0)
    case 3 => S2Point(0, -1, 0)
    case 4 => S2Point(1, 0, 0)
    case _ => S2Point(1, 0, 0)
  }

  // ---------------------------------------------------------------------------
  // Cell metrics (`S2Projections.cs:71-180`): bounds on cell area / angle span
  // / width / edge / diagonal per level, for the quadratic projection.
  // ---------------------------------------------------------------------------
  val MinArea: S2Metric = S2Metric(2, 2 * S2Const.Sqrt2 / 9)
  val MaxArea: S2Metric = S2Metric(2, 0.65894981424079037)
  val AvgArea: S2Metric = S2Metric(2, math.Pi / 6)

  val MinAngleSpan: S2Metric = S2Metric(1, 2.0 / 3)
  val MaxAngleSpan: S2Metric = S2Metric(1, 0.85244858959960922)
  val AvgAngleSpan: S2Metric = S2Metric(1, math.Pi / 4)

  val MinWidth: S2Metric = S2Metric(1, S2Const.Sqrt2 / 3)
  val MaxWidth: S2Metric = S2Metric(1, MaxAngleSpan.deriv)
  val AvgWidth: S2Metric = S2Metric(1, 0.71726183644304969)

  val MinEdge: S2Metric = S2Metric(1, S2Const.Sqrt2 / 3)
  val MaxEdge: S2Metric = S2Metric(1, MaxAngleSpan.deriv)
  val AvgEdge: S2Metric = S2Metric(1, 0.72960687319305303)

  val MinDiag: S2Metric = S2Metric(1, 4 * S2Const.Sqrt2 / 9)
  val MaxDiag: S2Metric = S2Metric(1, 1.2193272972170106)
  val AvgDiag: S2Metric = S2Metric(1, 1.03021136949923584)

  val MaxEdgeAspect: Double = 1.44261527445268292
  val MaxDiagAspect: Double = math.sqrt(3)
}

/** Frequently used numeric constants (`OpenSky.S2Geometry/S2.cs:11-31,100`). */
object S2Const {
  val Pi: Double = math.Pi
  val InversePi: Double = 1.0 / math.Pi
  val PiOver2: Double = math.Pi / 2.0
  val PiOver4: Double = math.Pi / 4.0
  val Sqrt2: Double = math.sqrt(2)

  /** Fixed reference origin used by point-in-loop parity tests (`S2.cs:100`). */
  val Origin: S2Point = S2Point(0, 1, 0)

  val SwapMask = 0x01
  val InvertMask = 0x02
}

/** A per-level cell metric: `deriv * (1/4)^level` for areas (dim 2) or
  * `deriv * (1/2)^level` for lengths (dim 1), plus level solvers
  * (`OpenSky.S2Geometry/S2.cs:790-883`).
  */
final case class S2Metric(dim: Int, deriv: Double) {

  def getValue(level: Int): Double = math.scalb(deriv, dim * (1 - level))

  /** Exponent e with 0.5 <= |v|*2^-e < 1 (0 for v==0), matching the
    * bit-twiddled `S2.Exp` (`S2.cs:102-110`). */
  private def exp(v: Double): Int =
    if (v == 0) 0
    else ((0x7ff0000000000000L & java.lang.Double.doubleToLongBits(v)) >> 52).toInt - 1022

  def getClosestLevel(value: Double): Int = getMinLevel(S2Const.Sqrt2 * value)

  /** Minimum level such that the metric is at most `value` (`S2.cs:842-857`). */
  def getMinLevel(value: Double): Int = {
    if (value <= 0) return S2CellId.MaxLevel
    val exponent = exp(value / ((1 << dim) * deriv))
    math.max(0, math.min(S2CellId.MaxLevel, -((exponent - 1) >> (dim - 1))))
  }

  /** Maximum level such that the metric is at least `value` (`S2.cs:867-882`). */
  def getMaxLevel(value: Double): Int = {
    if (value <= 0) return S2CellId.MaxLevel
    val exponent = exp((1 << dim) * deriv / value)
    math.max(0, math.min(S2CellId.MaxLevel, (exponent - 1) >> (dim - 1)))
  }
}
