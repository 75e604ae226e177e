package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Streaming operators: windowed aggregation on a real MemoryStream source
  * and sessionization vs its batch window-function equivalent. */
class StreamingSpec extends SparkTestBase {

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  /** `ts(minutes)` plus `us` microseconds (under one millisecond). */
  private def atUs(minutes: Int, us: Int): Timestamp = {
    val t = ts(minutes)
    t.setNanos(us * 1000)
    t
  }

  test("watermarked windowed counts over a MemoryStream") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0),
      Event(4, ts(70), 2, "click", 4.0))

    val query = EventStreams.windowedCounts(input.toDF(), "5 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt FROM win_counts ORDER BY window_start, event_type")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("click", 2L), ("click", 1L), ("view", 1L)))
    } finally query.stop()
  }

  test("tiled window counts on a MemoryStream == the batch transform (s2 exprs in streaming plans)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    def geo(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lat", ((col("event_id") * 9973 + 12345) % 18000).cast("double") / 100.0 - 90.0)
      .withColumn("lon", ((col("event_id") * 31337 + 54321) % 36000).cast("double") / 100.0 - 180.0)

    val events = (0 until 200).map(i =>
      Event(i.toLong, ts(i % 130), i % 7, "click", 1.0))
    val input = MemoryStream[Event]
    input.addData(events.take(120): _*)
    input.addData(events.drop(120): _*)

    val query = EventStreams.tiledWindowCounts(geo(input.toDF()), "lat", "lon", level = 4)
      .writeStream.format("memory").queryName("tile_counts_stream")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.sql("SELECT window_start, tile_token, n FROM tile_counts_stream")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val expected = EventStreams.tiledWindowCounts(geo(events.toDF()), "lat", "lon", level = 4)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got === expected)
      assert(got.toSeq.map(_._3).sum === 200L, "every event in exactly one (window, tile) bucket")
      assert(got.map(_._1).size > 1, "events span multiple hour windows")
    } finally query.stop()
  }

  test("stateful sessionize (flatMapGroupsWithState) == batch window-function sessionize") {
    val spark0 = spark
    import spark0.implicits._
    val events = Seq(
      Event(1, ts(0), 1, "a", 1.0),
      Event(2, ts(10), 1, "a", 2.0),
      Event(3, ts(100), 1, "b", 3.0), // > 30 min gap: new session
      Event(4, ts(0), 2, "a", 4.0),
      Event(5, ts(200), 2, "a", 5.0), // new session
      Event(6, ts(205), 2, "a", 6.0),
      // 30 min + 500 µs apart, one millisecond-truncated gap of exactly
      // 30 min: the µs gap test starts a new session
      Event(7, atUs(0, 300), 3, "a", 7.0),
      Event(8, atUs(30, 800), 3, "a", 8.0))

    val streaming = EventStreams.sessionize(events.toDS(), gapMillis = 30 * 60 * 1000L)
      .collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.total_value))
      .toSet

    val batch = EventStreams.sessionizeBatch(events.toDF(), gapMillis = 30 * 60 * 1000L)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"),
        r.getAs[Long]("n_events").toInt, r.getAs[Double]("total_value")))
      .toSet

    assert(streaming == batch)
    assert(streaming.size == 6)
  }

  test("a session spanning two micro-batches is emitted exactly once (event-time timeout)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS(), gapMillis = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions_xbatch")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens a session
      input.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0))
      query.processAllAvailable()
      // batch 2: user 1 CONTINUES the same session (gap 10 min < 30 min)
      input.addData(Event(3, ts(20), 1, "a", 3.0))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM sessions_xbatch").count() == 0,
        "open session must not be flushed by a batch boundary")
      // batch 3: a far-future event advances the watermark past
      // session_end + gap (ts(20) + 30 min); batch 4 fires the timeout
      input.addData(Event(4, ts(120), 2, "b", 4.0))
      query.processAllAvailable()
      input.addData(Event(5, ts(125), 2, "b", 5.0))
      query.processAllAvailable()

      val rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, total_value FROM sessions_xbatch")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(3), r.getDouble(4)))
      assert(rows.toSeq == Seq((1L, ts(0), ts(20), 3, 6.0)),
        s"expected ONE merged cross-batch session, got ${rows.toSeq}")
    } finally query.stop()
  }

  test("a late-but-admitted out-of-order event cannot move the session end backward") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS(), gapMillis = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0))
      query.processAllAvailable() // watermark after this batch: ts(0)
      // late event at ts(5) (>= watermark, admitted): must extend the event
      // count but leave session bounds [ts(0), ts(10)] intact
      input.addData(Event(3, ts(5), 1, "a", 4.0))
      query.processAllAvailable()
      // push the watermark past ts(10) + gap to flush via timeout
      input.addData(Event(4, ts(120), 2, "b", 0.0))
      query.processAllAvailable()
      input.addData(Event(5, ts(125), 2, "b", 0.0))
      query.processAllAvailable()

      val rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, total_value FROM sessions_late WHERE user_id = 1")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(3), r.getDouble(4)))
      assert(rows.toSeq == Seq((1L, ts(0), ts(10), 3, 7.0)),
        s"late event must not shrink session_end: ${rows.toSeq}")
    } finally query.stop()
  }

  test("streaming geofence over micro-batches == batch Geofence.transitions on an in-order feed") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    def geo(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))

    // per-entity in-order: ts monotone in event_id, entities interleaved
    val events = (0 until 300).map(i => Event(i.toLong, ts(i), i % 5, "move", 0.0))
    val input = MemoryStream[Event]
    input.addData(events.take(110): _*)  // split mid-track, twice
    input.addData(events.slice(110, 220): _*)
    input.addData(events.drop(220): _*)

    val query = graft.streaming.EventStreams
      .geofenceTransitions(geo(input.toDF()), "user_id", "ts", "event_id", "lat", "lon",
        SparkEntryRegions.rects)
      .writeStream.format("memory").queryName("geofence_stream")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.sql("SELECT entity_id, order, region_id, transition FROM geofence_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      val expected = graft.operators.Geofence
        .transitions(geo(events.toDF()), "user_id", "ts", "event_id", "lat", "lon",
          SparkEntryRegions.rects)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      assert(got === expected)
      assert(got.exists(_._4 == "enter") && got.exists(_._4 == "exit"),
        "test data must actually cross region boundaries")
    } finally query.stop()
  }

  test("geofence state survives batch boundaries; stale arrivals never emit backwards") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    import graft.s2.{R1Interval, S1Interval, S2LatLngRect}
    val rect: graft.s2.S2Region = S2LatLngRect(
      R1Interval(math.toRadians(40.0), math.toRadians(50.0)),
      S1Interval(math.toRadians(10.0), math.toRadians(20.0)))

    import StreamingSpec.P
    val input = MemoryStream[P]
    val query = graft.streaming.EventStreams
      .geofenceTransitions(input.toDF(), "user_id", "ts", "event_id", "lat", "lon",
        Seq("r" -> rect))
      .writeStream.format("memory").queryName("geofence_xbatch")
      .outputMode("append").start()
    try {
      // batch 1: outside -> inside (one enter)
      input.addData(P(1, ts(0), 1, 0.0, 0.0), P(1, ts(1), 2, 45.0, 15.0))
      query.processAllAvailable()
      // batch 2: STILL inside (must emit nothing — the in-region state
      // crossed the batch boundary), plus a stale event (ts(1)-equal ts but
      // smaller order, outside the rect) that must be dropped, not applied
      input.addData(P(1, ts(2), 4, 44.0, 14.0), P(1, ts(1), 1, 0.0, 0.0))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM geofence_xbatch").count() == 1,
        "continuing inside across batches must not re-emit enter; stale row must be dropped")
      // batch 3: exits
      input.addData(P(1, ts(3), 5, 0.0, 0.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT entity_id, order, region_id, transition FROM geofence_xbatch ORDER BY order")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
      assert(rows == Seq((1L, 2L, "r", "enter"), (1L, 5L, "r", "exit")), s"got $rows")
    } finally query.stop()
  }

  test("streaming regionHops aggregate to the batch OD flow matrix on an in-order feed") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    def geo(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))

    val events = (0 until 300).map(i => Event(i.toLong, ts(i), i % 5, "move", 0.0))
    val input = MemoryStream[Event]
    input.addData(events.take(110): _*)
    input.addData(events.slice(110, 220): _*)
    input.addData(events.drop(220): _*)

    val query = graft.streaming.EventStreams
      .regionHops(geo(input.toDF()), "user_id", "ts", "event_id", "lat", "lon",
        SparkEntryRegions.rects)
      .writeStream.format("memory").queryName("region_hops")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT from_region, to_region, count(*) FROM region_hops GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val expected = graft.operators.Trajectories
        .odFlows(geo(events.toDF()), "user_id", "ts", "event_id", "lat", "lon",
          SparkEntryRegions.rects)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === expected)
      assert(got.nonEmpty, "test data must actually hop between regions")
    } finally query.stop()
  }

  test("regionHops state survives batch boundaries: the hop is discovered across the split") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    import graft.s2.{R1Interval, S1Interval, S2LatLngRect}
    def rect(latLo: Double, latHi: Double, lonLo: Double, lonHi: Double): graft.s2.S2Region =
      S2LatLngRect(
        R1Interval(math.toRadians(latLo), math.toRadians(latHi)),
        S1Interval(math.toRadians(lonLo), math.toRadians(lonHi)))
    val regions = Seq("a" -> rect(0, 10, 0, 10), "b" -> rect(40, 50, 40, 50))

    import StreamingSpec.P
    val input = MemoryStream[P]
    val query = graft.streaming.EventStreams
      .regionHops(input.toDF(), "user_id", "ts", "event_id", "lat", "lon", regions)
      .writeStream.format("memory").queryName("hops_xbatch")
      .outputMode("append").start()
    try {
      // batch 1 ends inside a; first sighting emits nothing
      input.addData(P(1, ts(0), 1, 5.0, 5.0))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM hops_xbatch").count() == 0)
      // batch 2 opens inside b: the a->b hop exists only across the boundary;
      // a stale same-ts lower-order row outside everything must be dropped
      input.addData(P(1, ts(1), 3, 45.0, 45.0), P(1, ts(0), 0, 80.0, 80.0))
      query.processAllAvailable()
      // batch 3: b -> none
      input.addData(P(1, ts(2), 4, 80.0, 80.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT entity_id, order, from_region, to_region FROM hops_xbatch ORDER BY order")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
      assert(rows == Seq((1L, 3L, "a", "b"), (1L, 4L, "b", "none")), s"got $rows")
    } finally query.stop()
  }

  test("streaming speedFlags across batches == the batch operator row-for-row") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    def geo(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))

    val events = (0 until 300).map(i => Event(i.toLong, ts(i), i % 5, "move", 0.0))
    val input = MemoryStream[Event]
    input.addData(events.take(97): _*)   // odd split: segments cross batches
    input.addData(events.slice(97, 201): _*)
    input.addData(events.drop(201): _*)

    val query = graft.streaming.EventStreams
      .speedFlagsStream(geo(input.toDF()), "user_id", "ts", "event_id", "lat", "lon", 41000L)
      .writeStream.format("memory").queryName("speed_xbatch")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.sql("SELECT entity_id, order, seg_m, dt_micros, is_jump FROM speed_xbatch")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))).toMap
      val expected = graft.operators.Trajectories
        .speedFlags(geo(events.toDF()), "user_id", "ts", "event_id", "lat", "lon", 41000L)
        .select("user_id", "event_id", "seg_m", "dt_micros", "is_jump")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))).toMap
      assert(got === expected)
      assert(got.values.exists(_._3) && got.values.exists(v => v._1.isDefined && !v._3),
        "both flag classes must appear")
    } finally query.stop()
  }

  test("streaming CUSUM across batches == the batch twin row-for-row, alarms included") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // per-user gaps alternate 1 min / 7 min; k = 2 min drift allowance,
    // h = 8 min: the 7-min gaps accumulate s across BATCH boundaries
    val kUs = 2L * 60000000L
    val hUs = 8L * 60000000L
    val events = (0 until 120).map { i =>
      val user = i % 3
      val step = (i / 3) * (if (user == 0) 1 else if (user == 1) 7 else 4)
      Event(i.toLong, ts(step), user.toLong, "move", 0.0)
    }
    val input = MemoryStream[Event]
    input.addData(events.take(41): _*)
    input.addData(events.slice(41, 83): _*)
    input.addData(events.drop(83): _*)

    val query = EventStreams
      .cusumStream(input.toDF(), "user_id", "ts", "event_id", kUs, hUs)
      .writeStream.format("memory").queryName("cusum_xbatch")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.sql("SELECT entity_id, event_id, s, alarm FROM cusum_xbatch")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
        .toMap
      val expected = EventStreams
        .cusumStream(events.toDF(), "user_id", "ts", "event_id", kUs, hUs).toDF()
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
        .toMap
      assert(got === expected)
      // and both equal the sequential recurrence by hand
      val byUser = events.groupBy(_.user_id)
      val want = byUser.flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
        var s = 0L
        sorted.zip(sorted.drop(1)).map { case (a, b) =>
          s = math.max(0L, s + (b.ts.getTime - a.ts.getTime) * 1000L - kUs)
          (u, b.event_id) -> ((s, s > hUs))
        }
      }.toMap
      assert(got === want)
      assert(got.values.exists(_._2) && got.values.exists(!_._2),
        "both alarm classes must appear")
    } finally query.stop()
  }

  test("sessionizeBatch on the events table produces plausible sessions") {
    val df = spark.read.parquet(s"${sf("sf0.001")}/events.parquet")
    val sessions = EventStreams.sessionizeBatch(df)
    val n = sessions.count()
    assert(n > 0 && n <= df.count())
    val agg = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    assert(agg == df.count(), "every event belongs to exactly one session")
  }
}

object StreamingSpec {
  /** Hand-positioned track point for the cross-batch geofence test. */
  final case class P(user_id: Long, ts: Timestamp, event_id: Long, lat: Double, lon: Double)
}
