package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin
import graft.plans.{S2PipJoin, S2PipJoinExec}
import graft.s2.{R1Interval, S1Interval, S2Cell, S2CellId, S2LatLng, S2LatLngRect, S2Loop, S2Region}

/** Contracts of the one covering PIP join, [[SpatialJoin.pipJoin]]
  * (`S2PipJoin.pipJoinExec` forwards to it). Its brute-force agreement on
  * rects and polygons is in [[OperatorSpec]]. */
class PipJoinSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The (region_id, id) pairs of `df` and its probe counters. */
  private def pairs(df: DataFrame): (Set[(String, Long)], Map[String, Long]) = {
    val selected = df.select("region_id", "id")
    val got = selected.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.distinct.length == got.length, s"duplicate pairs: ${got.toSeq}")
    (got.toSet, ProbeStage.counts(selected))
  }

  // NaN and +-Inf rows never match: the probe drops them before the leaf
  // encode (they would encode to the valid leaf 0x4000000000000001). Checked
  // behind a lng band, without one (a full-longitude rect) and through the
  // polygon-table join. Unnormalized longitudes (370, -370) are finite: where
  // no lng band applies they match as the point they denote, while the rect's
  // exact test rejects them; that wrap decision and tileAssign's NULL
  // contract stay open (ROADMAP item 4).
  test("non-finite and out-of-range coordinates: pipJoin and pipJoinExec == brute force") {
    // same rows and probe counters with whole-stage codegen on and off
    val on = withWholeStageCodegen(on = true)(nonFiniteCounts())
    val off = withWholeStageCodegen(on = false)(nonFiniteCounts())
    assert(on == off, s"probe counters with codegen on $on and off $off")
  }

  /** Runs the non-finite checks; returns each join's probe counters. */
  private def nonFiniteCounts(): Seq[Map[String, Long]] = {
    val rows = Seq(
      (1L, Double.NaN, 10.0), (2L, 10.0, Double.NaN),
      (3L, Double.PositiveInfinity, 10.0), (4L, 10.0, Double.NegativeInfinity),
      (5L, 95.0, 10.0), (6L, -95.0, 10.0),
      (7L, 10.0, 370.0), (8L, 10.0, -370.0),
      (9L, 10.0, 10.0))
    val nonFinite = Set(1L, 2L, 3L, 4L)
    val unnormalizedLon = Set(7L, 8L)
    def brute(region: S2Region): Set[(String, Long)] = rows.collect {
      case (id, lat, lon) if SpatialJoin.regionContains(region, lat, lon) => ("r", id)
    }.toSet
    val rect: S2Region = S2LatLngRect(
      R1Interval(math.toRadians(-60.0), math.toRadians(60.0)),
      S1Interval(math.toRadians(-120.0), math.toRadians(120.0)))
    val regions = Seq("r" -> rect)
    val pts = rows.toDF("id", "lat", "lon")

    assert(brute(rect) == Set(("r", 9L)))
    val (gotRect, rectCounts) = pairs(SpatialJoin.pipJoin(pts, "lat", "lon", regions))
    assert(gotRect == brute(rect), "pipJoin")
    val (gotExec, execCounts) = pairs(S2PipJoin.pipJoinExec(pts, "lat", "lon", regions))
    assert(gotExec == brute(rect), "pipJoinExec")

    // (a) every longitude: no lng band, so rows 2, 4, 7 and 8 reach the probe
    val fullLng: S2Region = S2LatLngRect(
      R1Interval(math.toRadians(-60.0), math.toRadians(60.0)), S1Interval.Full)
    assert(brute(fullLng) == Set(("r", 9L)))
    val (gotFull, fullCounts) = pairs(SpatialJoin.pipJoin(pts, "lat", "lon", Seq("r" -> fullLng)))
    assert(gotFull.forall { case (_, id) => !nonFinite(id) }, s"non-finite rows matched: $gotFull")
    assert(gotFull.filterNot { case (_, id) => unnormalizedLon(id) } == brute(fullLng),
      s"full-longitude rect: $gotFull")

    // (b) the polygon-table join, against a square whose level-6 interior
    // covering holds the leaf the non-finite rows would encode to
    val nanLeaf = S2CellId.fromLatLngDegrees(10.0, Double.NaN)
    assert(nanLeaf == 0x4000000000000001L)
    val (cLat, cLon) = (S2CellId.toLatDegrees(nanLeaf), S2CellId.toLngDegrees(nanLeaf))
    val lats = Array(cLat - 3, cLat - 3, cLat + 3, cLat + 3)
    val lons = Array(cLon - 3, cLon + 3, cLon + 3, cLon - 3)
    val square = new S2Loop(lats.indices.map(i => S2LatLng.fromDegrees(lats(i), lons(i)).toPoint))
    assert(square.containsCell(S2Cell(S2CellId.parentForLevel(nanLeaf, 6))),
      "the non-finite leaf's level-6 cell is not interior to the square")
    val table = Seq(("r", lats, lons)).toDF("region_id", "lats", "lons")
    val (gotTable, tableCounts) = pairs(
      SpatialJoin.polygonPipJoin(pts, "lat", "lon", table, "region_id", "lats", "lons", level = 6))
    assert(gotTable.forall { case (_, id) => !nonFinite(id) }, s"non-finite rows matched: $gotTable")
    assert(gotTable == brute(square), s"polygonPipJoin: $gotTable")
    // every row reaches the table probe: there is no band
    assert(tableCounts("numInputRows") == rows.size &&
      tableCounts("numOutputRows") == gotTable.size, s"$tableCounts")
    Seq(rectCounts, execCounts, fullCounts, tableCounts)
  }

  test("plan shape: S2PipJoinExec, no Generate or hash join, band pushed, pruned read") {
    withTempDir("pip-plan") { dir =>
      spark.range(0, 2000, 1, 2)
        .select(col("id").as("key"),
          (col("id") % 180 - 90.0 + 0.5).as("lat"),
          (col("id") * 7 % 360 - 180.0 + 0.5).as("lon"),
          lit("unused").as("payload"))
        .write.mode("overwrite").parquet(dir)

      val joined = SpatialJoin.pipJoin(spark.read.parquet(dir), "lat", "lon", SparkEntryRegions.rects)
      assert(joined.columns.toSeq == Seq("key", "lat", "lon", "payload", "region_id"))
      val df = joined.select("region_id", "key")
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan
      def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = collectWithSubqueries(plan)(pf)

      assert(all { case e: S2PipJoinExec => e }.size == 1, s"no S2PipJoinExec in:\n$plan")
      assert(all { case g: GenerateExec => g }.isEmpty, s"GenerateExec in:\n$plan")
      assert(all { case j: BroadcastHashJoinExec => j }.isEmpty, s"BroadcastHashJoinExec in:\n$plan")

      val scans = all { case s: FileSourceScanExec => s }
      assert(scans.size == 1, s"expected one scan in:\n$plan")
      val meta = scans.head.metadata
      val pushed = meta("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(lat,") && pushed.contains("LessThanOrEqual(lat,"),
        s"lat band not pushed: $pushed")
      val readSchema = meta("ReadSchema")
      assert(readSchema.contains("key") && readSchema.contains("lat") && readSchema.contains("lon"))
      assert(!readSchema.contains("payload"), s"payload read: $readSchema")

      // one codegen stage from the scan through the probe; not so without codegen
      val broken = ProbeStage.violation(plan, partialAgg = false)
      assert(broken.isEmpty, broken)
      val off = withWholeStageCodegen(on = false) {
        val offDf = SpatialJoin.pipJoin(spark.read.parquet(dir), "lat", "lon",
          SparkEntryRegions.rects).select("region_id", "key")
        offDf.collect()
        ProbeStage.violation(offDf.queryExecution.executedPlan, partialAgg = false)
      }
      assert(off.nonEmpty, "the codegen contract holds with whole-stage codegen off")
    }
  }
}
