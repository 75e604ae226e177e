package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.functions.s2functions.s2_polygon_covering
import graft.operators.{SpatialJoin, Vectorize}
import graft.plans.S2PolygonTableJoinExec
import graft.s2.{S2Cell, S2LatLng, S2Loop, S2Predicates, S2RegionCoverer}

/** The polygon-TABLE PIP join: oracle preconditions on the hexagon fixture
  * (convexity, orientation, edge-plane margin), the executor-side covering
  * vs the driver kernel, the interior fast path, brute-force equality of
  * the full composition, the probe's SQL metrics and the plan shape. */
class PolygonTableJoinSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def loopOf(verts: Seq[(Double, Double)]): S2Loop =
    new S2Loop(verts.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }.toIndexedSeq)

  test("every fixture hexagon is spherically convex, CCW, and contains its center") {
    for ((k, verts, (clat, clon)) <- SparkEntry.HexPolys) {
      val pts = verts.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
      val n = pts.size
      val turns = pts.indices.map(i =>
        S2Predicates.robustCcw(pts(i), pts((i + 1) % n), pts((i + 2) % n)))
      assert(turns.forall(_ == 1), s"hexagon $k is not convex-CCW: turns=$turns")
      val loop = loopOf(verts)
      assert(loop.contains(S2LatLng.fromDegrees(clat, clon).toPoint),
        s"hexagon $k does not contain its center — orientation broken")
      assert(verts.forall { case (la, lo) => math.abs(la) < 89.0 && math.abs(lo) < 179.0 },
        s"hexagon $k vertices stray toward pole/antimeridian: $verts")
    }
  }

  test("oracle margin: no sf0.01 point within 1e-9 of any hexagon edge plane") {
    val normals = SparkEntry.HexPolys.flatMap { case (_, verts, _) =>
      val pts = verts.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
      pts.indices.map(i => pts(i).cross(pts((i + 1) % pts.size)))
    }
    val latLons = SparkEntry.points(spark, sf("sf0.01")).select("lat", "lon").collect()
    var minMargin = Double.MaxValue
    for (r <- latLons) {
      val p = S2LatLng.fromDegrees(r.getDouble(0), r.getDouble(1)).toPoint
      for (nrm <- normals) {
        val m = math.abs(p.dot(nrm)) / nrm.norm
        if (m < minMargin) minMargin = m
      }
    }
    info(f"min |p . n_hat| over ${latLons.length} points x ${normals.size} planes = $minMargin%.3e")
    assert(minMargin > 1e-9)
  }

  test("rasterizePolygons == driver kernel covering + containsCell per row") {
    import spark.implicits._
    val hexes = SparkEntry.HexPolys.take(5)
    val df = hexes.map { case (k, vs, _) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("region_id", "lats", "lons").repartition(3)
    val got = Vectorize.rasterizePolygons(df, "lats", "lons", level = 6)
      .select("region_id", "cell", "interior").as[(Long, Long, Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    for ((k, verts, _) <- hexes) {
      val loop = loopOf(verts)
      val cells = S2RegionCoverer.getSimpleCovering(loop, loop.vertex(0), 6)
      val expected = cells.map(c => c -> loop.containsCell(S2Cell(c))).toMap
      assert(got(k) == expected, s"hexagon $k raster diverged from kernel")
      assert(expected.valuesIterator.exists(identity),
        s"hexagon $k has no interior cells at level 6 — fast path untested")
      assert(expected.valuesIterator.exists(!_),
        s"hexagon $k has no boundary cells at level 6 — refine path untested")
    }
  }

  /** `run` (rows, probe counters) with whole-stage codegen on and off: both
    * must give the same rows and the same counters. */
  private def bothWays[T](run: => (T, Map[String, Long])): (T, Map[String, Long]) = {
    val on = withWholeStageCodegen(on = true)(run)
    val off = withWholeStageCodegen(on = false)(run)
    assert(on._1 == off._1, "whole-stage codegen on and off return different rows")
    assert(on._2 == off._2, s"probe counters with codegen on ${on._2} and off ${off._2}")
    on
  }

  /** `df`'s (region_id, o_orderkey) rows, sorted, and its probe counters. */
  private def pairs(df: DataFrame): (Seq[(Long, Long)], Map[String, Long]) = {
    val selected = df.select("region_id", "o_orderkey")
    val rows = selected.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    (rows, ProbeStage.counts(selected))
  }

  test("polygonPipJoin equals brute-force loop containment (sf0.001)") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val (rows, m) = bothWays(pairs(SpatialJoin.polygonPipJoin(SparkEntry.points(spark, dir),
      "lat", "lon", SparkEntry.hexPolyTable(spark, dir), "region_id", "lats", "lons", level = 6)))
    val got = rows.toSet
    val pts = SparkEntry.points(spark, dir)
      .select(col("o_orderkey").cast("long"), col("lat"), col("lon"))
      .as[(Long, Double, Double)].collect()
    def brute(vertex: Double => Double): Set[(Long, Long)] = {
      val loops = SparkEntry.HexPolys.map { case (k, vs, _) =>
        k -> loopOf(vs.map { case (la, lo) => (vertex(la), vertex(lo)) }) }
      (for {
        (id, la, lo) <- pts.iterator
        p = S2LatLng.fromDegrees(la, lo).toPoint
        (k, loop) <- loops
        if loop.contains(p)
      } yield (k, id)).toSet
    }
    val want = brute(identity)
    assert(want.nonEmpty, "fixture produced an empty join — hexagons miss every point")
    assert(got == want,
      s"join diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")

    // array<float> vertices: the covering and the boundary refine both read
    // them widened to double, as the containment expressions do
    val floats = SpatialJoin.polygonPipJoin(SparkEntry.points(spark, dir), "lat", "lon",
        SparkEntry.HexPolys.map { case (k, vs, _) =>
          (k, vs.map(_._1.toFloat).toArray, vs.map(_._2.toFloat).toArray) }
          .toDF("region_id", "lats", "lons"),
        "region_id", "lats", "lons", level = 6)
      .select("region_id", "o_orderkey")
    val gotF = floats.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantF = brute(_.toFloat.toDouble)
    assert(gotF == wantF,
      s"float join diverged: missing=${(wantF -- gotF).take(5)} extra=${(gotF -- wantF).take(5)}")
    val floatExec = collect(floats.queryExecution.executedPlan) {
      case e: S2PolygonTableJoinExec => e }
    assert(floatExec.head.metrics("refinements").value > 0, "float run never refined")

    // the probe's SQL metrics account for every points row, covering cell,
    // cell hit and output row
    assert(m("numInputRows") == pts.length, s"$m")
    val coveringCells = SparkEntry.hexPolyTable(spark, dir)
      .select(sum(size(s2_polygon_covering(col("lats"), col("lons"), 6))))
      .head().getLong(0)
    assert(m("coveringCells") == coveringCells, s"$m")
    assert(m("interiorAccepts") > 0 && m("refinements") > 0 && m("refineRejects") > 0,
      s"fixture misses a probe path: $m")
    assert(m("cellHits") == m("interiorAccepts") + m("refinements"), s"$m")
    assert(m("numOutputRows") == m("interiorAccepts") + m("refinements") - m("refineRejects"),
      s"$m")
    assert(m("numOutputRows") == rows.length, s"$m")
  }

  test("every holed fixture polygon: convex loops, annulus in / hole out / outside out") {
    import graft.s2.S2Polygon
    for ((k, loops, (clat, clon)) <- SparkEntry.HoledPolys) {
      for (loop <- loops) {
        val pts = loop.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
        val n = pts.size
        val turns = pts.indices.map(i =>
          S2Predicates.robustCcw(pts(i), pts((i + 1) % n), pts((i + 2) % n)))
        assert(turns.forall(_ == 1), s"region $k loop not convex-CCW: $turns")
      }
      val poly = new S2Polygon(loops.map(loopOf))
      val r = loops(0)(1)._1 - clat // shell north radius
      assert(poly.contains(S2LatLng.fromDegrees(clat + 2 * r / 3, clon).toPoint),
        s"region $k: annulus point not contained")
      assert(!poly.contains(S2LatLng.fromDegrees(clat, clon).toPoint),
        s"region $k: hole center contained — parity broken")
      assert(!poly.contains(S2LatLng.fromDegrees(clat + 2 * r, clon).toPoint),
        s"region $k: far-outside point contained")
    }
  }

  test("holed oracle margin: no sf0.01 point within 1e-9 of any diamond edge plane") {
    val normals = SparkEntry.HoledPolys.flatMap { case (_, loops, _) =>
      loops.flatMap { loop =>
        val pts = loop.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
        pts.indices.map(i => pts(i).cross(pts((i + 1) % pts.size)))
      }
    }
    val latLons = SparkEntry.points(spark, sf("sf0.01")).select("lat", "lon").collect()
    var minMargin = Double.MaxValue
    for (r <- latLons) {
      val p = S2LatLng.fromDegrees(r.getDouble(0), r.getDouble(1)).toPoint
      for (nrm <- normals) {
        val m = math.abs(p.dot(nrm)) / nrm.norm
        if (m < minMargin) minMargin = m
      }
    }
    info(f"min |p . n_hat| over ${latLons.length} points x ${normals.size} planes = $minMargin%.3e")
    assert(minMargin > 1e-9)
  }

  test("multipolygon covering at a fine level excludes hole-interior cells") {
    import spark.implicits._
    import graft.s2.{S2Cell, S2CellId, S2Polygon}
    val (k, loops, (clat, clon)) = SparkEntry.HoledPolys.head
    val df = Seq((k,
      loops.map(_.map(_._1).toArray).toArray,
      loops.map(_.map(_._2).toArray).toArray)).toDF("region_id", "loop_lats", "loop_lons")
    val got = df.select(explode(graft.functions.s2functions.s2_multipolygon_covering(
        col("loop_lats"), col("loop_lons"), 8)).as("rc"))
      .select(col("rc.cell"), col("rc.interior")).as[(Long, Boolean)].collect().toMap
    // kernel equality
    val poly = new S2Polygon(loops.map(loopOf))
    val cells = graft.s2.S2RegionCoverer.getSimpleCovering(poly, poly.loop(0).vertex(0), 8)
    assert(got == cells.map(c => c -> poly.containsCell(S2Cell(c))).toMap,
      s"region $k covering diverged from kernel")
    // the hole-center cell is fully inside the hole at level 8 -> absent
    val holeCell = S2CellId.parentForLevel(
      S2CellId.fromLatLngDegrees(clat, clon), 8)
    assert(!got.contains(holeCell), "hole-interior cell leaked into the covering")
    assert(got.valuesIterator.exists(identity), "no interior cells — fast path untested")
  }

  test("multiPolygonPipJoin equals brute-force XOR-parity containment (sf0.001)") {
    import spark.implicits._
    import graft.s2.S2Polygon
    val dir = sf("sf0.001")
    val got = bothWays(pairs(SpatialJoin.multiPolygonPipJoin(SparkEntry.points(spark, dir),
        "lat", "lon", SparkEntry.holedPolyTable(spark, dir), "region_id", "loop_lats",
        "loop_lons", level = 6)))._1.toSet
    val polys = SparkEntry.HoledPolys.map { case (k, loops, _) =>
      k -> new S2Polygon(loops.map(loopOf)) }
    val pts = SparkEntry.points(spark, dir)
      .select(col("o_orderkey").cast("long"), col("lat"), col("lon"))
      .as[(Long, Double, Double)].collect()
    val want = (for {
      (id, la, lo) <- pts.iterator
      p = S2LatLng.fromDegrees(la, lo).toPoint
      (k, poly) <- polys
      if poly.contains(p)
    } yield (k, id)).toSet
    assert(want.nonEmpty, "fixture produced an empty join")
    assert(got == want,
      s"join diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("variable-size fixture: convex, CCW, contains center; margin holds") {
    for ((k, verts, (clat, clon)) <- SparkEntry.HexPolysVar) {
      val pts = verts.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
      val n = pts.size
      val turns = pts.indices.map(i =>
        S2Predicates.robustCcw(pts(i), pts((i + 1) % n), pts((i + 2) % n)))
      assert(turns.forall(_ == 1), s"var-hexagon $k not convex-CCW: $turns")
      assert(loopOf(verts).contains(S2LatLng.fromDegrees(clat, clon).toPoint))
    }
    val normals = SparkEntry.HexPolysVar.flatMap { case (_, verts, _) =>
      val pts = verts.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
      pts.indices.map(i => pts(i).cross(pts((i + 1) % pts.size)))
    }
    val latLons = SparkEntry.points(spark, sf("sf0.01")).select("lat", "lon").collect()
    var minMargin = Double.MaxValue
    for (r <- latLons) {
      val p = S2LatLng.fromDegrees(r.getDouble(0), r.getDouble(1)).toPoint
      for (nrm <- normals) {
        val m = math.abs(p.dot(nrm)) / nrm.norm
        if (m < minMargin) minMargin = m
      }
    }
    info(f"min margin over ${latLons.length} points x ${normals.size} planes = $minMargin%.3e")
    assert(minMargin > 1e-9)
  }

  test("adaptive covering: per-row level varies with size and respects the target") {
    import spark.implicits._
    import graft.functions.s2functions._
    import graft.s2.S2CellId
    val df = SparkEntry.HexPolysVar
      .map { case (k, vs, _) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("region_id", "lats", "lons")
    val rows = df.select(col("region_id"),
        explode(s2_polygon_covering_adaptive(col("lats"), col("lons"), 32, Seq(4, 6, 8)))
          .as("rc"))
      .select(col("region_id"), col("rc.cell")).as[(Long, Long)].collect()
    val byRegion = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val levelsUsed = byRegion.map { case (k, cells) =>
      val ls = cells.map(S2CellId.level).distinct
      assert(ls.size == 1, s"region $k mixes covering levels: $ls")
      assert(cells.length <= 4 * 32,
        s"region $k covering blew past the target: ${cells.length} cells")
      ls.head
    }.toSet
    assert(levelsUsed.size > 1,
      s"fixture failed to exercise adaptivity — every region chose $levelsUsed")
  }

  test("polygonPipJoinAdaptive equals brute-force loop containment (sf0.001)") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val got = bothWays(pairs(SpatialJoin.polygonPipJoinAdaptive(SparkEntry.points(spark, dir),
        "lat", "lon", SparkEntry.hexPolyVarTable(spark, dir), "region_id", "lats", "lons",
        targetCells = 32, quantizeLevels = Seq(4, 6, 8))))._1.toSet
    val loops = SparkEntry.HexPolysVar.map { case (k, vs, _) => k -> loopOf(vs) }
    val pts = SparkEntry.points(spark, dir)
      .select(col("o_orderkey").cast("long"), col("lat"), col("lon"))
      .as[(Long, Double, Double)].collect()
    val want = (for {
      (id, la, lo) <- pts.iterator
      p = S2LatLng.fromDegrees(la, lo).toPoint
      (k, loop) <- loops
      if loop.contains(p)
    } yield (k, id)).toSet
    assert(want.nonEmpty, "fixture produced an empty join")
    assert(got == want,
      s"adaptive join diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("plan shape: each polygon-table join probes a broadcast cell table, points never shuffle") {
    val dir = sf("sf0.001")
    withTempDir("poly-plan") { pq =>
      SparkEntry.points(spark, dir).select("o_orderkey", "lat", "lon")
        .write.mode("overwrite").parquet(pq)
      val pts = spark.read.parquet(pq)
      val joins = Seq(
        "polygonPipJoin" -> SpatialJoin.polygonPipJoin(pts, "lat", "lon",
          SparkEntry.hexPolyTable(spark, dir), "region_id", "lats", "lons", level = 6),
        "multiPolygonPipJoin" -> SpatialJoin.multiPolygonPipJoin(pts, "lat", "lon",
          SparkEntry.holedPolyTable(spark, dir), "region_id", "loop_lats", "loop_lons", level = 6),
        "polygonPipJoinAdaptive" -> SpatialJoin.polygonPipJoinAdaptive(pts, "lat", "lon",
          SparkEntry.hexPolyVarTable(spark, dir), "region_id", "lats", "lons",
          targetCells = 32, quantizeLevels = Seq(4, 6, 8)),
        "zonalStats" -> SpatialJoin.zonalStats(pts, "lat", "lon", "o_orderkey",
          SparkEntry.hexPolyTable(spark, dir), "region_id", "lats", "lons", level = 6))
      for ((name, df) <- joins) {
        assert(df.collect().nonEmpty, s"$name: empty result")
        val plan = df.queryExecution.executedPlan
        val probes = collectWithSubqueries(plan) { case e: S2PolygonTableJoinExec => e }
        assert(probes.size == 1, s"$name: expected one probe exec in:\n$plan")
        val pointsSide = probes.head.left
        def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = collect(pointsSide)(pf)
        assert(all { case j: BroadcastHashJoinExec => j; case j: ShuffledHashJoinExec => j;
          case j: SortMergeJoinExec => j; case g: GenerateExec => g }.isEmpty,
          s"$name: join or Generate on the points side:\n$plan")
        assert(all { case e: Exchange => e; case q: QueryStageExec => q }.isEmpty,
          s"$name: Exchange between the points scan and the probe:\n$plan")
        assert(all { case s: FileSourceScanExec => s }.size == 1, s"$name: no points scan:\n$plan")
        // one codegen stage: points scan -> probe (-> zonalStats' partial aggregate)
        val broken = ProbeStage.violation(plan, partialAgg = name == "zonalStats")
        assert(broken.isEmpty, s"$name: $broken")
      }
      val off = withWholeStageCodegen(on = false) {
        val df = SpatialJoin.zonalStats(pts, "lat", "lon", "o_orderkey",
          SparkEntry.hexPolyTable(spark, dir), "region_id", "lats", "lons", level = 6)
        df.collect()
        ProbeStage.violation(df.queryExecution.executedPlan, partialAgg = true)
      }
      assert(off.nonEmpty, "the codegen contract holds with whole-stage codegen off")
    }
  }

  /** A CCW hexagon of radius `r` degrees around (clat, clon), as perfbench's
    * poly_hot builds them. */
  private def hexagon(clat: Double, clon: Double, r: Double): (Array[Double], Array[Double]) = {
    val th = (0 until 6).map(i => 2.0 * math.Pi * i / 6.0 + 0.3)
    (th.map(t => clat + r * math.sin(t)).toArray,
      th.map(t => clon + 1.35 * r * math.cos(t)).toArray)
  }

  test("a covering past the cell cap fails the build with its cause; no task hangs") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val small = (0 until 64).map { k =>
      val (lats, lons) = hexagon(-60.0 + 2.0 * (k % 60), -170.0 + 5.0 * k, 0.5)
      (k.toLong, lats, lons)
    }
    // at level 10 this hexagon's rect bound spans ~3e5 cells, past the 2^17 cap
    val (hugeLats, hugeLons) = hexagon(0.0, 0.0, 20.0)
    val table = (small :+ ((999L, hugeLats, hugeLons))).toDF("region_id", "lats", "lons")
    val pts = spark.range(0, 16000, 1, 8).select(col("id"),
      (col("id") % 160 - 80.0 + 0.25).as("lat"), (col("id") * 7 % 360 - 180.0 + 0.25).as("lon"))
    def join(polys: DataFrame) =
      SpatialJoin.polygonPipJoin(pts, "lat", "lon", polys, "region_id", "lats", "lons", level = 10)

    val failed = Future(join(table).count())(ExecutionContext.global)
    try Await.ready(failed, 2.minutes)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelAllJobs()
        fail("the join over a table whose build fails did not end within 2 minutes")
    }
    val e = failed.value.get.failed.get
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c =>
      String.valueOf(c.getMessage).contains("s2_polygon_covering would produce")),
      s"the build failure lost its cause: $e")
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (tracker.getActiveStageIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(tracker.getActiveStageIds().isEmpty, "a task of the failed join is still running")

    // the next join, on a valid table in the same session, runs
    val loops = small.map { case (k, lats, lons) =>
      k -> loopOf(lats.indices.map(i => (lats(i), lons(i)))) }
    val want = pts.select("id", "lat", "lon").as[(Long, Double, Double)].collect().map {
      case (_, la, lo) =>
        val p = S2LatLng.fromDegrees(la, lo).toPoint
        loops.count(_._2.contains(p)).toLong
    }.sum
    assert(want > 0, "no point falls in a small hexagon")
    assert(join(table.where(col("region_id") =!= 999L)).count() == want)
  }

  test("reserved-name collision fails loudly") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val polysBad = SparkEntry.hexPolyTable(spark, dir).withColumn("__cell", lit(1L))
    val e = intercept[IllegalArgumentException] {
      SpatialJoin.polygonPipJoin(SparkEntry.points(spark, dir), "lat", "lon",
        polysBad, "region_id", "lats", "lons")
    }
    assert(e.getMessage.contains("__cell"))
  }
}
