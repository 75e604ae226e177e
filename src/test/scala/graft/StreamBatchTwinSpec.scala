package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Geofence, Sequences, TimeSeries, Trajectories}
import graft.streaming.EventStreams

/** Each per-entity stream operator, run on a finite DataFrame, against its
  * batch twin. The tracks hold pairs of fixes inside one millisecond whose
  * `ord` runs against their microsecond timestamps, so an operator that
  * orders by milliseconds folds them the other way round. */
class StreamBatchTwinSpec extends SparkTestBase {

  private val (out, europe, andes) = ((0.0, 0.0), (45.0, 10.0), (-20.0, -70.0))

  /** (minute, µs within that millisecond, ord, position, value) per fix. */
  private val track = Seq(
    (0, 0, 100L, out, 1.0),
    (1, 0, 200L, europe, 3.5),
    (2, 0, 300L, out, 2.0),
    (3, 100, 402L, andes, 7.25),
    (3, 900, 401L, out, 0.5),
    (4, 0, 500L, europe, 4.0),
    (5, 300, 602L, europe, 4.75),
    (5, 700, 601L, andes, 9.0),
    (6, 0, 700L, out, 1.5))

  private lazy val points: DataFrame = {
    import spark.implicits._
    (1L to 3L).flatMap { e =>
      track.map { case (minute, us, ord, (lat, lon), v) =>
        val t = new Timestamp(1700000000000L + e * 1000L + minute * 60000L)
        t.setNanos(us * 1000)
        (e, t, ord + e, lat, lon, v * e)
      }
    }.toDF("entity", "ts", "ord", "lat", "lon", "v")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("geofenceTransitions == Geofence.transitions") {
    val got = EventStreams.geofenceTransitions(points, "entity", "ts", "ord", "lat", "lon",
      SparkEntryRegions.rects).toDF()
    val want = Geofence.transitions(points, "entity", "ts", "ord", "lat", "lon",
      SparkEntryRegions.rects)
    assert(rows(got) === rows(want))
    assert(rows(want).contains(Seq(1L, 403L, "r_andes", "enter")) &&
      rows(want).contains(Seq(1L, 402L, "r_andes", "exit")),
      "the µs-ordered pair must enter and then leave")
  }

  test("regionHops per-pair counts == Trajectories.odFlows") {
    val got = EventStreams.regionHops(points, "entity", "ts", "ord", "lat", "lon",
      SparkEntryRegions.rects).groupBy("from_region", "to_region").count()
    val want = Trajectories.odFlows(points, "entity", "ts", "ord", "lat", "lon",
      SparkEntryRegions.rects)
    assert(rows(got) === rows(want))
  }

  test("speedFlagsStream == Trajectories.speedFlags") {
    val got = EventStreams.speedFlagsStream(points, "entity", "ts", "ord", "lat", "lon",
      maxSpeedMps = 100L).toDF()
    val want = Trajectories.speedFlags(points, "entity", "ts", "ord", "lat", "lon",
      maxSpeedMps = 100L).select("entity", "ord", "seg_m", "dt_micros", "is_jump")
    assert(rows(got) === rows(want))
  }

  test("cusumStream == Sequences.cusumAlarms over the µs gaps") {
    val (k, h) = (30000000L, 40000000L)
    val got = EventStreams.cusumStream(points, "entity", "ts", "ord", k, h)
      .groupBy("entity_id")
      .agg(count(lit(1)), sum(when(col("alarm"), 1L).otherwise(0L)), max("s"))
    val w = Window.partitionBy("entity").orderBy("ts", "ord")
    val gaps = points
      .withColumn("gap", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .where(col("gap").isNotNull)
    val want = Sequences.cusumAlarms(gaps, "entity", "ts", "ord", "gap", k, h)
    assert(rows(got) === rows(want))
    assert(rows(want).exists(_(2) != 0L), "the input must raise an alarm")
  }

  /** The last row per entity of a stream twin that emits one row per fix. */
  private def lastPerEntity(df: DataFrame, cols: String*): DataFrame = {
    val w = Window.partitionBy("entity_id").orderBy(col("n_obs").desc)
    df.withColumn("__rank", row_number().over(w)).where(col("__rank") === 1)
      .select("entity_id", cols: _*)
  }

  test("holtStream's last row per entity == Sequences.holt") {
    val got = lastPerEntity(EventStreams.holtStream(points, "entity", "ts", "ord", "v",
      alpha = 0.5, beta = 0.25).toDF(), "n_obs", "level", "trend")
    val want = Sequences.holt(points, "entity", "ts", "ord", "v", alpha = 0.5, beta = 0.25)
    assert(rows(got) === rows(want))
  }

  test("mannKendallStream's last row per entity == TimeSeries.mannKendall") {
    val got = lastPerEntity(EventStreams.mannKendallStream(points, "entity", "ts", "ord",
      "v").toDF(), "n_obs", "s_stat", "var18")
    val want = TimeSeries.mannKendall(points, "entity", "ts", "ord", "v")
    assert(rows(got) === rows(want))
  }
}
