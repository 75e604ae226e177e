package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin
import graft.plans.{S2PipJoin, S2PipJoinExec}
import graft.s2.{R1Interval, S1Interval, S2LatLngRect, S2Region}

/** Contracts of the one covering PIP join, [[SpatialJoin.pipJoin]]
  * (`S2PipJoin.pipJoinExec` forwards to it). Its brute-force agreement on
  * rects and polygons is in [[OperatorSpec]]. */
class PipJoinSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def collectSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select("region_id", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet

  // Full-longitude regions (where no lng band applies) and tileAssign's
  // NULL contract for non-finite input stay open: ROADMAP item 4.
  test("non-finite and out-of-range coordinates: pipJoin and pipJoinExec == brute force") {
    val rows = Seq(
      (1L, Double.NaN, 10.0), (2L, 10.0, Double.NaN),
      (3L, Double.PositiveInfinity, 10.0), (4L, 10.0, Double.NegativeInfinity),
      (5L, 95.0, 10.0), (6L, -95.0, 10.0),
      (7L, 10.0, 370.0), (8L, 10.0, -370.0),
      (9L, 10.0, 10.0))
    val rect: S2Region = S2LatLngRect(
      R1Interval(math.toRadians(-60.0), math.toRadians(60.0)),
      S1Interval(math.toRadians(-120.0), math.toRadians(120.0)))
    val regions = Seq("r" -> rect)
    val pts = rows.toDF("id", "lat", "lon")

    val brute = rows.collect {
      case (id, lat, lon) if SpatialJoin.regionContains(rect, lat, lon) => ("r", id)
    }.toSet
    assert(brute == Set(("r", 9L)))
    assert(collectSet(SpatialJoin.pipJoin(pts, "lat", "lon", regions)) == brute, "pipJoin")
    assert(collectSet(S2PipJoin.pipJoinExec(pts, "lat", "lon", regions)) == brute, "pipJoinExec")
  }

  test("plan shape: S2PipJoinExec, no Generate or hash join, band pushed, pruned read") {
    val dir = Files.createTempDirectory("pip-plan").toString
    spark.range(0, 2000, 1, 2)
      .select(col("id").as("key"),
        (col("id") % 180 - 90.0 + 0.5).as("lat"),
        (col("id") * 7 % 360 - 180.0 + 0.5).as("lon"),
        lit("unused").as("payload"))
      .write.mode("overwrite").parquet(dir)

    val joined = SpatialJoin.pipJoin(spark.read.parquet(dir), "lat", "lon", SparkEntryRegions.rects)
    assert(joined.columns.toSeq == Seq("key", "lat", "lon", "payload", "region_id"))
    val df = joined.select("region_id", "key")
    assert(df.count() > 0)
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
  }
}
