package graft.s2

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
