package graft

import org.apache.spark.sql.functions._

import graft.plans.S2Extensions
import graft.s2.{R1Interval, S1Interval, S2LatLngRect, TextShapes}

/** SparkSessionExtensions: SQL function registration and the
  * spatial-predicate bounds-pushdown rule. */
class ExtensionsSpec extends SparkTestBase {

  private def pointsDf = {
    spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
      .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
      .select("o_orderkey", "lat", "lon")
  }

  test("s2_* functions usable from SQL after registration") {
    S2Extensions.install(spark)
    pointsDf.createOrReplaceTempView("pts")
    val row = spark.sql(
      """SELECT s2_token(s2_parent(s2_cell_id(48.11027908325195D, 16.569721221923828D), 11)) AS tok,
        | s2_level(s2_parent(s2_cell_id(lat, lon), 8)) AS lvl
        |FROM pts LIMIT 1""".stripMargin).collect()(0)
    assert(row.getString(0) == "476c544")
    assert(row.getInt(1) == 8)
  }

  test("st_contains predicate matches pipJoin refinement semantics") {
    S2Extensions.install(spark)
    val poly = TextShapes.polygon("0:-30, 30:0, 0:30, -30:0")
    val viaPredicate = pointsDf
      .where(S2Extensions.st_contains(poly, col("lat"), col("lon")))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val brute = pointsDf.collect().filter { r =>
      graft.operators.SpatialJoin.regionContains(poly, r.getDouble(1), r.getDouble(2))
    }.map(_.getLong(0)).toSet
    assert(viaPredicate == brute)
    assert(brute.nonEmpty)
  }

  test("PushS2RegionBounds injects scan-pushable lat/lon conjuncts") {
    S2Extensions.install(spark)
    val rect = S2LatLngRect(
      R1Interval(math.toRadians(10), math.toRadians(20)),
      S1Interval(math.toRadians(30), math.toRadians(40)))
    val df = pointsDf.where(S2Extensions.st_contains(rect, col("lat"), col("lon")))
    val optimized = df.queryExecution.optimizedPlan.toString
    // the rule must have conjoined plain comparisons on lat/lon
    assert(optimized.contains(">= 9.99") || optimized.contains(">= 10.0"),
      s"no pushed lat bound in:\n$optimized")
    // and the result is still exact
    val got = df.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val brute = pointsDf.collect().filter { r =>
      graft.operators.SpatialJoin.regionContains(rect, r.getDouble(1), r.getDouble(2))
    }.map(_.getLong(0)).toSet
    assert(got == brute)
  }

  test("s2_rect_covering: SQL-registered, constant-folded, complete for a rect") {
    graft.functions.s2functions.registerAll(spark)
    // wrap rect spanning the antimeridian
    val df = spark.sql(
      """SELECT s2_rect_covering(CAST(-5.0 AS DOUBLE), CAST(5.0 AS DOUBLE),
        |                        CAST(175.0 AS DOUBLE), CAST(-175.0 AS DOUBLE), 4) AS cov""".stripMargin)
    // literal args -> ConstantFolding evaluates at plan time: the optimized
    // plan carries the array literal, not the expression
    assert(!df.queryExecution.optimizedPlan.toString.contains("s2_rect_covering"),
      "literal-arg covering must constant-fold")
    val cov = df.head().getSeq[Long](0).toSet
    assert(cov.nonEmpty)
    import graft.s2.{S2Cell, S2CellId}
    // completeness: every point of the rect maps to a level-4 cell in cov
    for (lat <- BigDecimal(-4.9) to BigDecimal(4.9) by 1.1; lonOff <- BigDecimal(0.1) to BigDecimal(9.9) by 1.1) {
      val lon = 175.0 + lonOff.toDouble
      val lonW = if (lon > 180) lon - 360 else lon
      val cell = S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(lat.toDouble, lonW), 4)
      assert(cov.contains(cell), s"cell of ($lat, $lonW) missing from covering")
    }
    // all members really are level 4 and SOUND: each intersects the rect
    assert(cov.forall(S2CellId.level(_) == 4))
    val wrapRect = S2LatLngRect(
      R1Interval(math.toRadians(-5.0), math.toRadians(5.0)),
      S1Interval(math.toRadians(175.0), math.toRadians(-175.0)))
    assert(cov.forall(c => wrapRect.mayIntersectCell(S2Cell(c))),
      "covering member does not intersect the rect")
  }

  test("s2_cap_covering: SQL-registered, constant-folded, complete and sound for a cap") {
    graft.functions.s2functions.registerAll(spark)
    val radiusM = 2500000.0
    val df = spark.sql(
      s"SELECT s2_cap_covering(CAST(10.0 AS DOUBLE), CAST(20.0 AS DOUBLE), ${radiusM}D, 4) AS cov")
    assert(!df.queryExecution.optimizedPlan.toString.contains("s2_cap_covering"),
      "literal-arg cap covering must constant-fold")
    val cov = df.head().getSeq[Long](0).toSet
    assert(cov.nonEmpty)
    import graft.s2.{S2Cell, S2CellId, S2LatLng}
    val angle = radiusM / S2LatLng.EarthRadiusMeters
    val cap = graft.s2.S2Cap.fromAxisAngle(S2LatLng.fromDegrees(10.0, 20.0).toPoint, angle)
    // completeness: every contained sample point's level-4 cell is in cov
    for (lat <- BigDecimal(-10) to BigDecimal(30) by 2.7; lon <- BigDecimal(0) to BigDecimal(40) by 2.7) {
      val p = S2LatLng.fromDegrees(lat.toDouble, lon.toDouble).toPoint
      if (cap.contains(p)) {
        val cell = S2CellId.parentForLevel(S2CellId.fromPoint(p), 4)
        assert(cov.contains(cell), s"cell of ($lat, $lon) missing from cap covering")
      }
    }
    // soundness: every member is level 4 and may intersect the cap
    assert(cov.forall(S2CellId.level(_) == 4))
    assert(cov.forall(c => cap.mayIntersectCell(S2Cell(c))),
      "cap covering member does not intersect the cap")
    // guard: a leaf-level covering of a planet-scale cap must fail fast,
    // not hang the driver inside constant folding
    val huge = intercept[Exception] {
      spark.sql(s"SELECT s2_cap_covering(0.0D, 0.0D, ${radiusM}D, 30)").collect()
    }
    assert(huge.getMessage.contains("coarser level"), s"unexpected guard message: ${huge.getMessage}")
  }

  test("covering size guards: each op accepts just under the cell cap, refuses over it, and refuses level 31") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions._
    import graft.s2.{S2LatLng, S2Loop, S2Polyline, S2Projections}
    val cap = 1 << 17
    def d(v: Double): Expression = Literal(v)
    def i(v: Int): Expression = Literal(v)
    def doubles(vs: Seq[Double]): Expression =
      Literal.create(vs.toArray, ArrayType(DoubleType, containsNull = false))
    def nested(vs: Seq[Double]): Expression =
      Literal.create(Array(vs.toArray), ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false))
    // the estimates the guards state: rect-bound area over the level's
    // average cell area; cap area likewise; arc length over the level's
    // minimum cell width for a chain
    def cells(area: Double, level: Int): Double = area / (4 * math.Pi / (6.0 * math.pow(4.0, level)))
    def boundArea(latLoDeg: Double, latHiDeg: Double, lngSpanRad: Double): Double =
      lngSpanRad * math.max(0.0, math.sin(math.toRadians(latHiDeg)) - math.sin(math.toRadians(latLoDeg)))
    def loopCells(lats: Seq[Double], lons: Seq[Double], level: Int): Double = {
      val b = new S2Loop(lats.indices.map(k => S2LatLng.fromDegrees(lats(k), lons(k)).toPoint)).rectBound
      cells(b.lng.length * math.max(0.0, math.sin(b.lat.hi) - math.sin(b.lat.lo)), level)
    }
    def guardMessage(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .find(m => m != null && (m.contains(" would ") || m.contains(" outside ")))
        .getOrElse(fail(s"no guard message in $e"))
    def refused(e: => Expression): String = guardMessage(intercept[Exception](e.eval()))

    // a geodesic quad on the equator whose top edge bulges to ~29.9 / ~30.1
    // degrees, so its rect bound sits just under / over the level-10 cap
    val quadLons = Seq(0.0, 30.0, 30.0, 0.0)
    def quadLats(top: Double) = Seq(0.0, 0.0, top, top)
    val (lowTop, highTop) = (29.05, 29.2)
    val minEdge20 = S2Projections.MinWidth.getValue(20)
    def chainLons(frac: Double) = Seq(0.0, math.toDegrees(frac * cap * minEdge20))
    def chainCells(frac: Double) = new S2Polyline(
      chainLons(frac).map(lo => S2LatLng.fromDegrees(0.0, lo).toPoint).toIndexedSeq).arcLengthAngle / minEdge20
    val capAngle = (r: Double) => math.min(math.Pi, r / S2LatLng.EarthRadiusMeters)

    case class Guard(op: String, what: String, verb: String,
                     build: (Boolean, Int) => Expression, overEstimate: Double, overLevel: Int)
    val guards = Seq(
      Guard("s2_rect_covering", "rect this large", "produce",
        (over, l) => S2RectCovering(Seq(d(0.0), d(if (over) 30.1 else 29.9), d(0.0), d(30.0), i(l))),
        cells(boundArea(0.0, 30.1, math.toRadians(30.0)), 10), 10),
      Guard("s2_cap_covering", "cap this large", "produce",
        (over, l) => S2CapCovering(Seq(d(10.0), d(20.0), d(if (over) 1.85e6 else 1.84e6), i(l))),
        cells(2 * math.Pi * (1 - math.cos(capAngle(1.85e6))), 10), 10),
      Guard("s2_polygon_covering", "polygon this large", "produce",
        (over, l) => S2PolygonCovering(doubles(quadLats(if (over) highTop else lowTop)),
          doubles(quadLons), i(l)),
        loopCells(quadLats(highTop), quadLons, 10), 10),
      Guard("s2_multipolygon_covering", "polygon this large", "produce",
        (over, l) => S2MultiPolygonCovering(nested(quadLats(if (over) highTop else lowTop)),
          nested(quadLons), i(l)),
        loopCells(quadLats(highTop), quadLons, 10), 10),
      Guard("s2_polyline_covering", "chain this long", "walk",
        (over, l) => S2PolylineCovering(doubles(Seq(0.0, 0.0)),
          doubles(chainLons(if (over) 1.01 else 0.99)), i(l)),
        chainCells(1.01), 20))
    // the inputs straddle the cap
    assert(cells(boundArea(0.0, 29.9, math.toRadians(30.0)), 10) < cap)
    assert(cells(2 * math.Pi * (1 - math.cos(capAngle(1.84e6))), 10) < cap)
    assert(loopCells(quadLats(lowTop), quadLons, 10) < cap)
    assert(chainCells(0.99) < cap)
    for (g <- guards) {
      assert(g.overEstimate > cap, g.op)
      val under = g.build(false, g.overLevel).eval()
      assert(under != null && under.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .numElements() > 1000, s"${g.op} refused or emptied an input under the cap")
      assert(refused(g.build(true, g.overLevel)) ==
        f"requirement failed: ${g.op} would ${g.verb} ~${g.overEstimate}%.0f level-${g.overLevel} cells " +
          f"(> $cap); use a coarser level for a ${g.what}")
      assert(refused(g.build(false, 31)) == s"requirement failed: ${g.op} level 31 outside [0, 30]")
    }
  }

  test("s2_rect_covering refuses non-finite latitudes and latitudes outside [-90, 90]") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.S2RectCovering
    def rect(latLo: Double, latHi: Double, level: Int) = S2RectCovering(
      Seq(Literal(latLo), Literal(latHi), Literal(-180.0), Literal(180.0), Literal(level)))
    for ((lo, hi) <- Seq((80.0, 170.0), (-95.0, -80.0), (Double.NaN, 10.0),
        (0.0, Double.PositiveInfinity))) {
      val e = intercept[IllegalArgumentException](rect(lo, hi, 12).eval())
      assert(e.getMessage == s"requirement failed: s2_rect_covering latitudes [$lo, $hi] " +
        "must be finite and within [-90, 90]", e.getMessage)
    }
    // the valid polar band is covered, up to the pole
    val polar = rect(80.0, 90.0, 4).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(polar.numElements() > 0)
  }

  test("spark.sql.extensions entry point: S2Extensions injects the whole SQL function table and the bounds rule") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    import org.apache.spark.sql.graft.ExtensionsBridge
    val table = graft.functions.s2functions.sqlFunctions.map(_._1.funcName)
    val ext = new SparkSessionExtensions
    new S2Extensions()(ext)
    val registry = ExtensionsBridge.registerFunctions(ext, new SimpleFunctionRegistry)
    val injected = registry.listFunction().map(_.funcName)
    assert(injected.sorted == table.sorted,
      s"missing: ${table.diff(injected).sorted}; extra: ${injected.diff(table).sorted}")
    assert(ExtensionsBridge.optimizerRules(ext, spark) == Seq(graft.plans.PushS2RegionBounds))
  }
}
