package graft.s2

/** A point on (or direction toward) the unit sphere, as an (x,y,z) vector.
  *
  * Semantics match the reference value type (`OpenSky.S2Geometry/S2Point.cs:5-268`):
  * plain double-precision vector algebra, lexicographic ordering, exact
  * component equality.
  */
final case class S2Point(x: Double, y: Double, z: Double) {
  def norm2: Double = x * x + y * y + z * z
  def norm: Double = math.sqrt(norm2)

  def +(o: S2Point): S2Point = S2Point(x + o.x, y + o.y, z + o.z)
  def -(o: S2Point): S2Point = S2Point(x - o.x, y - o.y, z - o.z)
  def unary_- : S2Point = S2Point(-x, -y, -z)
  def *(m: Double): S2Point = S2Point(m * x, m * y, m * z)
  def /(m: Double): S2Point = S2Point(x / m, y / m, z / m)

  def dot(o: S2Point): Double = x * o.x + y * o.y + z * o.z

  def cross(o: S2Point): S2Point =
    S2Point(y * o.z - z * o.y, z * o.x - x * o.z, x * o.y - y * o.x)

  def apply(axis: Int): Double = if (axis == 0) x else if (axis == 1) y else z

  /** Index of the component with the largest absolute value (ties resolve to
    * the later axis, matching `S2Point.cs:69-97`). */
  def largestAbsComponent: Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax > ay) { if (ax > az) 0 else 2 }
    else { if (ay > az) 1 else 2 }
  }

  /** Angle between this vector and `o`, in radians; stable for small angles. */
  def angle(o: S2Point): Double = math.atan2(cross(o).norm, dot(o))

  /** A unit vector orthogonal to this one with ortho(-a) == -ortho(a). */
  def ortho: S2Point = {
    val axis = largestAbsComponent match {
      case 1 => S2Point(1, 0, 0)
      case 2 => S2Point(0, 1, 0)
      case _ => S2Point(0, 0, 1)
    }
    S2Point.normalize(cross(axis))
  }

  def approxEquals(o: S2Point, margin: Double): Boolean =
    math.abs(x - o.x) < margin && math.abs(y - o.y) < margin && math.abs(z - o.z) < margin

  /** Lexicographic < on (x, y, z), used for deterministic tie-breaking in the
    * robust orientation predicate. */
  def lessThan(o: S2Point): Boolean =
    if (x < o.x) true
    else if (o.x < x) false
    else if (y < o.y) true
    else if (o.y < y) false
    else z < o.z
}

object S2Point {
  val Zero: S2Point = S2Point(0, 0, 0)

  def normalize(p: S2Point): S2Point = {
    val n = p.norm
    if (n != 0) p * (1.0 / n) else p * 0.0
  }
}
