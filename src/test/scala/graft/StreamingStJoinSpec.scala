package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin
import graft.streaming.EventStreams.Event

/** Stream-stream spatio-temporal self-join: on a real MemoryStream,
  * `spatioTemporalJoin` finds the same pairs as on the (brute-force-pinned)
  * batch input, INCLUDING pairs whose two events arrive in different
  * micro-batches — the state the event-time range condition keeps alive. */
class StreamingStJoinSpec extends SparkTestBase {

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def geo(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
    .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))

  test("MemoryStream pairs == batch pairs, with cross-batch pairs present") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val radius = 2000000.0
    val windowSec = 1800L
    // 200 events in event-time order (one per minute) so the 1-hour
    // watermark never drops a live pair; coords from the shared derivation
    val events = (0 until 200).map(i => Event(i.toLong, ts(i), i % 7, "click", 1.0))
    val cut = 120

    val input = MemoryStream[Event]
    input.addData(events.take(cut): _*)

    val query = SpatialJoin.spatioTemporalJoin(geo(input.toDF()), "event_id", "ts",
        "lat", "lon", radiusM = radius, windowSec = windowSec)
      .writeStream.format("memory").queryName("st_pairs_stream")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      input.addData(events.drop(cut): _*)
      query.processAllAvailable()
      val got = spark.sql("SELECT id_a, id_b FROM st_pairs_stream")
        .as[(Long, Long)].collect()
      assert(got.length == got.distinct.length, "a pair was emitted more than once")
      val want = SpatialJoin.spatioTemporalJoin(geo(events.toDF()), "event_id", "ts",
          "lat", "lon", radiusM = radius, windowSec = windowSec)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, "fixture degenerate: no pairs at all")
      val crossBatch = want.filter { case (a, b) => a < cut && b >= cut }
      assert(crossBatch.nonEmpty,
        "fixture degenerate: no pair straddles the two micro-batches")
      assert(got.toSet == want,
        s"stream diverged from batch: missing=${(want -- got.toSet).take(5)} " +
          s"extra=${(got.toSet -- want).take(5)}")
    } finally query.stop()
  }
}
