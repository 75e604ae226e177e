package graft.s2

import org.scalatest.funsuite.AnyFunSuite
import TestFixtures._

/** Identities derivable by hand for kernel definitions no operator calls:
  * the octant triangle (vertices on the three axes), a level's own metric
  * value, and a few exact constructions. */
class S2KernelIdentitySpec extends AnyFunSuite {

  private val X = S2Point(1, 0, 0)
  private val Y = S2Point(0, 1, 0)
  private val Z = S2Point(0, 0, 1)

  test("turnAngle: the octant triangle turns pi/2 at each CCW vertex, and Gauss-Bonnet holds") {
    // every interior angle of the octant triangle is pi/2, so each exterior
    // turn is pi - pi/2; X, Y, Z is counter-clockwise
    for ((a, b, c) <- Seq((X, Y, Z), (Y, Z, X), (Z, X, Y))) {
      assert(math.abs(S2Predicates.turnAngle(a, b, c) - math.Pi / 2) < 1e-15)
      assert(math.abs(S2Predicates.turnAngle(c, b, a) + math.Pi / 2) < 1e-15)
    }
    // the turns of a CCW loop sum to 2*pi minus its area (pi/2: an eighth
    // of the sphere's 4*pi)
    val turns = S2Predicates.turnAngle(Z, X, Y) + S2Predicates.turnAngle(X, Y, Z) +
      S2Predicates.turnAngle(Y, Z, X)
    assert(math.abs(turns - (2 * math.Pi - S2Predicates.area(X, Y, Z))) < 1e-14)
    assert(math.abs(S2Predicates.area(X, Y, Z) - math.Pi / 2) < 1e-14)
  }

  test("planarCentroid: the vertex mean, (1/3, 1/3, 1/3) for the octant triangle") {
    val c = S2Predicates.planarCentroid(X, Y, Z)
    assert(c == S2Point(1.0 / 3, 1.0 / 3, 1.0 / 3))
    assert(S2Predicates.planarCentroid(X, X, X) == X)
  }

  test("getClosestLevel at a level's own metric value is that level") {
    for (metric <- Seq(S2Projections.MinWidth, S2Projections.AvgArea, S2Projections.MaxAngleSpan);
         level <- 0 to S2CellId.MaxLevel)
      assert(metric.getClosestLevel(metric.getValue(level)) == level, s"$metric level $level")
  }

  test("fromCenterSize: the rect of half-size extent around its center") {
    val r = S2LatLngRect.fromCenterSize(S2LatLng.fromDegrees(10, 20), S2LatLng.fromDegrees(4, 6))
    val eps = 1e-15
    assert(math.abs(r.lat.lo - math.toRadians(8)) < eps)
    assert(math.abs(r.lat.hi - math.toRadians(12)) < eps)
    assert(math.abs(r.lng.lo - math.toRadians(17)) < eps)
    assert(math.abs(r.lng.hi - math.toRadians(23)) < eps)
  }

  test("addPolygon: a polygon's edges assemble back into that polygon") {
    val square = makePolygon("0:0, 0:1, 1:1, 1:0")
    val builder = new S2PolygonBuilder(S2PolygonBuilderOptions.DirectedXor)
    builder.addPolygon(square)
    val (back, unused) = builder.assemblePolygon()
    assert(unused.isEmpty && back.numLoops == 1)
    assert(back.loop(0).boundaryApproxEquals(square.loop(0)))
    assert(math.abs(back.area - square.area) < 1e-15)
  }

  test("S2EdgeIndex.reset drops the index; recomputing gives the same candidates") {
    val edges = Array((X, S2Point.normalize(S2Point(1, 0.01, 0))),
      (Y, S2Point.normalize(S2Point(0.01, 1, 0))))
    val index = new S2EdgeIndex {
      protected def numEdges: Int = edges.length
      protected def edgeFrom(i: Int): S2Point = edges(i)._1
      protected def edgeTo(i: Int): S2Point = edges(i)._2
    }
    val qa = S2Point.normalize(S2Point(1, 0.005, -0.01))
    val qb = S2Point.normalize(S2Point(1, 0.005, 0.01))
    index.computeIndex()
    val before = index.findCandidateCrossings(qa, qb)
    assert(before.contains(0))
    index.reset()
    assert(!index.isIndexComputed)
    index.computeIndex()
    assert(index.isIndexComputed && index.findCandidateCrossings(qa, qb) == before)
  }
}
