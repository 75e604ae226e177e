package graft

import org.apache.spark.sql.functions._

import graft.operators.{SpatialJoin, Tiling, Vectorize}
import graft.s2._

/** Raster->vector roundtrip: tiles -> outline polygon -> PIP join gives the
  * same membership as the tile set itself. */
class VectorizeSpec extends SparkTestBase {

  test("cap covering vectorizes to a polygon equivalent to the cell union") {
    val cap = S2Cap.fromAxisAngle(S2LatLng.fromDegrees(30, -60).toPoint, 0.05)
    val union = new S2RegionCoverer().setMaxCells(60).getCoveringUnion(cap)
    val poly = Vectorize.cellsToPolygon(union.cellIds)
    assert(poly.numLoops >= 1)
    // membership of random probe points must match the cell union exactly
    // (away from cell boundaries, where vertex snapping could differ)
    val rnd = new scala.util.Random(123456)
    var checked = 0
    for (_ <- 0 until 2000) {
      val p = S2Point.normalize(S2Point(
        2 * rnd.nextDouble() - 1, 2 * rnd.nextDouble() - 1, 2 * rnd.nextDouble() - 1))
      val leaf = S2CellId.fromPoint(p)
      // skip probes within a leaf-cell's width of a union boundary
      val inUnion = union.contains(leaf)
      val nearBoundary = S2CellId.allNeighbors(
        S2CellId.parentForLevel(leaf, math.min(S2CellId.level(leaf), 14)), 14)
        .exists(n => union.intersects(n) != inUnion)
      if (!nearBoundary) {
        assert(poly.contains(p) == inUnion, s"membership mismatch at ${S2CellId.toToken(leaf)}")
        checked += 1
      }
    }
    assert(checked > 1500)
    // area agreement
    assert(math.abs(poly.area - union.exactArea) / union.exactArea < 1e-6)
  }

  test("tile assignment -> vectorize -> PIP join recovers the tile membership") {
    val pts = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
      .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
      .select("o_orderkey", "lat", "lon")
    val tiled = Tiling.tileAssign(pts, "lat", "lon", 3)

    // take one level-3 tile, vectorize it, PIP-join against the polygon:
    // exactly the rows assigned to that tile must come back (cell-center
    // points are never on tile boundaries)
    val someTile = tiled.groupBy("tile").count().orderBy(col("count").desc)
      .first().getLong(0)
    val poly = Vectorize.cellsToPolygon(Seq(someTile))
    val viaPip = SpatialJoin.pipJoin(pts, "lat", "lon", Seq("t" -> poly))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val viaTile = tiled.where(col("tile") === someTile)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaPip == viaTile)
    assert(viaTile.nonEmpty)
  }

  test("vectorizeGroups assembles one polygon per region from exploded tiles") {
    val spark0 = spark
    import spark0.implicits._
    val capA = new S2RegionCoverer().setMaxCells(20).getCovering(
      S2Cap.fromAxisAngle(S2LatLng.fromDegrees(10, 10).toPoint, 0.03))
    val capB = new S2RegionCoverer().setMaxCells(20).getCovering(
      S2Cap.fromAxisAngle(S2LatLng.fromDegrees(-40, 100).toPoint, 0.03))
    val df = (capA.map(("a", _)) ++ capB.map(("b", _))).toDF("region", "tile")
    val polys = Vectorize.vectorizeGroups(df, "region", "tile")
    assert(polys.keySet == Set("a", "b"))
    assert(polys("a").contains(S2LatLng.fromDegrees(10, 10).toPoint))
    assert(polys("b").contains(S2LatLng.fromDegrees(-40, 100).toPoint))
    assert(!polys("a").contains(S2LatLng.fromDegrees(-40, 100).toPoint))
  }

  test("vectorizeGroupsDistributed == driver vectorizeGroups, loop for loop") {
    val spark0 = spark
    import spark0.implicits._
    val capA = new S2RegionCoverer().setMaxCells(20).getCovering(
      S2Cap.fromAxisAngle(S2LatLng.fromDegrees(10, 10).toPoint, 0.03))
    val capB = new S2RegionCoverer().setMaxCells(20).getCovering(
      S2Cap.fromAxisAngle(S2LatLng.fromDegrees(-40, 100).toPoint, 0.03))
    val df = (capA.map(("a", _)) ++ capB.map(("b", _))).toDF("region", "tile")
      .repartition(4)
    val driver = Vectorize.vectorizeGroups(df, "region", "tile")
    val dist = Vectorize.vectorizeGroupsDistributed(df, "region", "tile")
      .as[(String, Array[Array[Double]], Array[Array[Double]])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(dist.keySet == driver.keySet)
    for ((g, poly) <- driver) {
      val (lats, lons) = dist(g)
      assert(lats.length == poly.numLoops, s"group $g loop count diverged")
      for (i <- 0 until poly.numLoops) {
        val lp = poly.loop(i)
        val want = (0 until lp.numVertices).map(j => S2LatLng.fromPoint(lp.vertex(j)))
        assert(lats(i).toSeq == want.map(_.latDegrees) &&
          lons(i).toSeq == want.map(_.lngDegrees),
          s"group $g loop $i vertices diverged from the driver assembly")
      }
    }
    // the nested-array encoding feeds straight back into the polygon ops:
    // each cap center is inside its own group's polygon, not the other's
    val polyContains = dist.map { case (g, (lats, lons)) =>
      g -> ((la: Double, lo: Double) =>
        graft.functions.PolygonCache(lats, lons).contains(S2LatLng.fromDegrees(la, lo).toPoint))
    }
    assert(polyContains("a")(10, 10) && !polyContains("a")(-40, 100))
    assert(polyContains("b")(-40, 100) && !polyContains("b")(10, 10))
  }

  test("vectorizeGroupsDistributed fails loudly on a runaway group (executor-side)") {
    val spark0 = spark
    import spark0.implicits._
    val big = (0L until 500L).map(i => ("huge", i)).toDF("region", "tile")
    val e = intercept[org.apache.spark.SparkException] {
      Vectorize.vectorizeGroupsDistributed(big, "region", "tile",
        maxTilesPerGroup = 100).collect()
    }
    assert(e.getMessage.contains("huge") ||
      Option(e.getCause).exists(_.getMessage.contains("huge")))
  }

  test("vectorizeGroups refuses a runaway tile set before collecting it") {
    val spark0 = spark
    import spark0.implicits._
    val big = (0L until 500L).map(i => ("huge", i)).toDF("region", "tile")
    val e = intercept[IllegalArgumentException] {
      Vectorize.vectorizeGroups(big, "region", "tile", maxTilesPerGroup = 100)
    }
    assert(e.getMessage.contains("huge"))
  }
}
