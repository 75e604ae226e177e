package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{MapMatch, SpatialJoin, Trajectories}
import graft.s2.{S2LatLng, S2Projections}
import graft.streaming.MapMatchStream

/** Every radius-derived operator rejects a radius of 0, NaN, or one past
  * the level-0 adjacency guarantee (the level-0 minimum cell width, 2√2/3
  * rad or ~6003 km) at call time, under its own name. The inputs fail any job that reads them, so a rejection that came
  * from inside a Spark job would surface as a job failure, not as the
  * operator's IllegalArgumentException. */
class ProximityGuardSpec extends SparkTestBase {

  private val boundM = S2Projections.MinWidth.getValue(0) * S2LatLng.EarthRadiusMeters

  private lazy val poisoned: DataFrame = {
    val poison = udf { (_: Long) => throw new IllegalStateException("an input was read"); true }
    spark.range(1).toDF().where(poison(col("id")))
  }

  private lazy val points: DataFrame = poisoned.select(col("id"),
    lit(1.0).as("lat"), lit(2.0).as("lon"), lit(3L).as("v"), col("id").as("track"),
    col("id").as("tie"), current_timestamp().as("ts"))

  private lazy val lines: DataFrame = poisoned.select(col("id"),
    array(lit(0.0), lit(1.0), lit(0.0)).as("lats"), array(lit(0.0), lit(0.0), lit(1.0)).as("lons"))

  /** Operators whose radius type (Long) has no NaN. */
  private val integralRadius = Set("ripleysK", "hausdorffJoin")

  /** (public name, call with a radius in meters). idwInterpolate takes
    * degrees, scaled by the same great-circle bound it derives its level
    * from. */
  private def operators: Seq[(String, Double => DataFrame)] = {
    val degPerM = 1.0 / ((1.0 + 1.0 / SpatialJoin.IdwLonScale) * 111200.0)
    Seq(
      "distanceJoin" -> (r => SpatialJoin.distanceJoin(points, "lat", "lon", "id", r)),
      "distanceJoinBetween" -> (r => SpatialJoin.distanceJoinBetween(
        points, "id", "lat", "lon", points, "id", "lat", "lon", r)),
      "nearestJoin" -> (r => SpatialJoin.nearestJoin(
        points, "id", "lat", "lon", points, "id", "lat", "lon", r)),
      "isolatedPoints" -> (r => SpatialJoin.isolatedPoints(points, "lat", "lon", "id", r)),
      "ripleysK" -> (r => SpatialJoin.ripleysK(points, "lat", "lon", "id", Seq(r.toLong))),
      "idwInterpolate" -> (r => SpatialJoin.idwInterpolate(points, "lat", "lon", "v", "id",
        points, "id", "lat", "lon", r * degPerM)),
      "spatioTemporalJoin" -> (r => SpatialJoin.spatioTemporalJoin(
        points, "id", "ts", "lat", "lon", r, 60L)),
      "nearestRegionsJoin" -> (r => SpatialJoin.nearestRegionsJoin(
        points, "id", "lat", "lon", lines, "id", "lats", "lons", r, 1)),
      "polylineDistanceJoin" -> (r => SpatialJoin.polylineDistanceJoin(
        points, "lat", "lon", lines, "id", "lats", "lons", r)),
      "nearestPolylinesJoin" -> (r => SpatialJoin.nearestPolylinesJoin(
        points, "id", "lat", "lon", lines, "id", "lats", "lons", r, 1)),
      "snapToPolylines" -> (r => SpatialJoin.snapToPolylines(
        points, "id", "lat", "lon", lines, "id", "lats", "lons", r)),
      "viterbi" -> (r => MapMatch.viterbi(points, "track", "ts", "tie", "lat", "lon",
        lines, "id", "lats", "lons", r)),
      "matchStream" -> (r => MapMatchStream.matchStream(points, "track", "ts", "tie",
        "lat", "lon", lines, "id", "lats", "lons", r).toDF()),
      "hausdorffJoin" -> (r => Trajectories.hausdorffJoin(points, "id", "lat", "lon", r.toLong)))
  }

  test("every radius-derived operator rejects 0, NaN and past the bound at call time, by name") {
    for ((name, call) <- operators; radius <- Seq(0.0, Double.NaN, boundM + 1000, 7.0e6)
         if !(radius.isNaN && integralRadius(name))) {
      val e = withClue(s"$name at radius $radius: ") {
        intercept[IllegalArgumentException](call(radius))
      }
      assert(e.getMessage.startsWith(s"requirement failed: $name:"),
        s"$name at radius $radius: message does not name the operator: ${e.getMessage}")
    }
  }

  test("the guard admits radii up to the bound (the inputs stay unread)") {
    // every operator plans; building the plan runs no job
    for ((name, call) <- operators; radius <- Seq(1.0, 3.5e6, boundM - 1000))
      withClue(s"$name at radius $radius: ")(assert(call(radius).columns.nonEmpty))
  }
}
