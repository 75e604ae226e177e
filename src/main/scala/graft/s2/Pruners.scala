package graft.s2

/** Cheap chain-rejection test (`OpenSky.S2Geometry/S2EdgeUtil.cs:703-734`):
  * an executor-side micro-optimization for long vertex chains. The engine's
  * plan-level analogue is the rect-bound pushdown (`PushS2RegionBounds`). */

/** Rejects chain edges whose longitude span cannot intersect the given
  * interval (`S2EdgeUtil.cs:703-734`). */
final class LongitudePruner(interval: S1Interval, v0: S2Point) {
  private var lng0: Double = S2LatLng.longitude(v0)

  /** True if edge (v0, v1) may intersect the interval; saves v1 as next v0. */
  def intersects(v1: S2Point): Boolean = {
    val lng1 = S2LatLng.longitude(v1)
    val result = interval.intersects(S1Interval.fromPointPair(lng0, lng1))
    lng0 = lng1
    result
  }
}

/** 2-d vector used by planar fallbacks (`OpenSky.S2Geometry/R2Vector.cs`). */
final case class R2Vector(x: Double, y: Double) {
  def +(o: R2Vector): R2Vector = R2Vector(x + o.x, y + o.y)
  def -(o: R2Vector): R2Vector = R2Vector(x - o.x, y - o.y)
  def *(m: Double): R2Vector = R2Vector(m * x, m * y)
  def norm2: Double = x * x + y * y
  def dot(o: R2Vector): Double = x * o.x + y * o.y
  def cross(o: R2Vector): Double = x * o.y - y * o.x
  def lessThan(o: R2Vector): Boolean = if (x < o.x) true else if (o.x < x) false else y < o.y
}
