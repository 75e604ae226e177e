package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.s2functions._
import graft.operators._
import graft.s2.{S2LatLngRect, S2Region, R1Interval, S1Interval}
import graft.sources.GeoJson

/** Catalog registry — Structured Streaming twins and stateful stream operators. Entries moved verbatim from SparkEntry
  * (round-3 verdict ask #7: per-domain registries behind the same
  * `queries` map; the 247-row correctness gate pins that nothing moved). */
private[graft] object CatalogStreaming {
  import SparkEntry._

  /** The streaming-dedup harness: `seed` a [[scratchStore]], then run
    * `stream(input, storeDir, onBatch)` over a MemoryStream with columns
    * `names` fed `batch1` and then `batch2`; returns the `cols` of every
    * pair either micro-batch emitted. */
  private def twoBatchPairs[T <: Product : TypeTag](
      s: SparkSession, names: Seq[String], batch1: Seq[T], batch2: Seq[T], cols: String*)(
      seed: String => Unit,
      stream: (DataFrame, String, (DataFrame, Long) => Unit) => StreamingQuery): DataFrame =
    scratchStore(s, "graft_stream_dedup") { store =>
      import s.implicits._
      val acc = scala.collection.mutable.ArrayBuffer[DataFrame]()
      seed(store)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val input = MemoryStream[T]
      val q = stream(input.toDF().toDF(names: _*), store, (pairs, _) => acc.synchronized {
        val emitted = pairs.select(cols.map(col): _*)
        acc += s.createDataFrame(java.util.Arrays.asList(emitted.collect(): _*), emitted.schema)
      })
      try {
        input.addData(batch1)
        q.processAllAvailable()
        input.addData(batch2)
        q.processAllAvailable()
      } finally q.stop()
      acc.reduce(_ unionByName _)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // the live twin: per-event (level, trend) forecast state from an O(1)
    // keyed fold with the identical IEEE step trees; the oracle replays
    // every prefix with the same transformed list_reduce
    "q_holt_stream" -> ((s, dir) =>
      graft.streaming.EventStreams.holtStream(events(s, dir),
        "user_id", "ts", "event_id", "value",
        alpha = 0.25, beta = 0.125).toDF()),

    // the streaming running-acf twin over the batch table through the
    // SAME flatMapGroupsWithState fold: one (event_id, n_obs, acf) row
    // per event, six exact int64 accumulators per key; the oracle replays
    // the per-row prefix aggregates in SQL windows and the shared final
    // expression
    "q_acf_stream" -> ((s, dir) =>
      graft.streaming.EventStreams.acfStream(events(s, dir), "user_id", "ts",
        "event_id", "value").toDF()),

    // the streaming running-OLS twin through the same
    // flatMapGroupsWithState fold: five exact int64 accumulators per
    // key, per-event (slope, intercept) over the prefix; the oracle
    // replays prefix windows + the shared final expressions
    "q_ols_stream" -> ((s, dir) =>
      graft.streaming.EventStreams.olsStream(events(s, dir), "user_id", "ts",
        "event_id", "value",
        originMicros = 1704067200000000L, stepMicros = 60000000L).toDF()),

    // the live twin: per-event running (S, var18) from O(distinct-values)
    // keyed state — the tie term updates by the telescoped 6·(k²−1)
    // increment; the oracle replays every prefix via a pair join + two
    // window sums, all exact int64
    "q_mann_kendall_stream" -> ((s, dir) =>
      graft.streaming.EventStreams.mannKendallStream(events(s, dir),
        "user_id", "ts", "event_id", "value").toDF()),

    // the streaming CUSUM twin run over the batch table through the SAME
    // flatMapGroupsWithState function: one (event_id, s, alarm) row per
    // gap; the oracle replays per-row s via the prefix-min identity (the
    // sequential recurrence the stream folds directly)
    "q_cusum_stream" -> ((s, dir) =>
      graft.streaming.EventStreams.cusumStream(events(s, dir), "user_id", "ts", "event_id",
        k = 40000000000L, h = 200000000000L).toDF()),

    // the stateful streaming geofence run over the SAME batch input (like
    // q_sessionize, this exercises the flatMapGroupsWithState operator in
    // its batch mode) — identical semantics, identical oracle
    "q_geofence_stream" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      graft.streaming.EventStreams
        .geofenceTransitions(pts, "user_id", "ts", "event_id", "lat", "lon", rectRegions)
        .select(col("entity_id").as("user_id"), col("order").as("event_id"),
          col("region_id"), col("transition"))
    }),

    // the stateful streaming region-hop feed aggregated into the SAME OD
    // flow matrix (batch-mode run of the flatMapGroupsWithState operator,
    // like q_geofence_stream) — identical semantics, identical oracle
    "q_od_flows_stream" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      graft.streaming.EventStreams
        .regionHops(pts, "user_id", "ts", "event_id", "lat", "lon", rectRegions)
        .groupBy("from_region", "to_region")
        .agg(count(lit(1)).as("n_trips"))
    }),

    // the streaming twin of q_speed_flags, run in batch mode over the SAME
    // input — identical semantics (first-sighting null rows included),
    // identical oracle
    "q_speed_flags_stream" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      graft.streaming.EventStreams
        .speedFlagsStream(pts, "user_id", "ts", "event_id", "lat", "lon",
          maxSpeedMps = 340L)
        .select(col("entity_id").as("user_id"), col("order").as("event_id"),
          col("seg_m"), col("dt_micros"), col("is_jump"))
    }),

    // --- streaming-equivalent sessionization (batch window-function form) ---
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeBatch(events(s, dir), gapMillis = 30 * 60 * 1000L)
        .select("user_id", "session_start", "session_end", "n_events")),

    // streaming spatial aggregation (same transform batch/stream): per-tile
    // windowed counts, self-checked down to a derived oracle exactly like
    // q_tile_counts — every event lands in exactly one (hour, level-4 tile)
    // bucket with a valid token, so per-window totals must equal the plain
    // per-hour event counts
    "q_stream_tile_counts" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      graft.streaming.EventStreams.tiledWindowCounts(ev, "lat", "lon", level = 4)
        .groupBy("window_start")
        .agg(
          sum("n").as("total_events"),
          count(lit(1)).as("n_tiles"),
          sum(when(s2_level(s2_cell_from_token(col("tile_token"))) === 4, 1L)
            .otherwise(0L)).as("lvl4"))
        .where(col("n_tiles") === col("lvl4") && col("n_tiles").between(1, 1536))
        .select("window_start", "total_events")
    }),

    // the stream-stream spatio-temporal self-join: the one operator
    // SpatialJoin.spatioTemporalJoin (watermarked event time, ±W range in
    // the join condition), here run over the batch table, where Catalyst
    // eliminates the watermark node; StreamingStJoinSpec runs it on a
    // MemoryStream with pairs that straddle micro-batches
    "q_st_join_stream" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      SpatialJoin.spatioTemporalJoin(pts, "event_id", "ts",
          "lat", "lon", radiusM = StJoinRadiusM, windowSec = StJoinWindowSec)
        .select("id_a", "id_b")
    }),

    // ONLINE map matching: the streaming twin run over the batch table —
    // per fix, the forward-frontier argmin (the live filter view, before
    // future fixes retro-smooth); O(frontier) state per track, candidate
    // raster is a stream-static broadcast join. Cross-batch MemoryStream
    // behavior spec-pinned in MapMatchStreamSpec
    "q_map_match_stream" -> ((s, dir) =>
      graft.streaming.MapMatchStream.matchStream(mapMatchPoints(s, dir),
        "user_id", "ts", "event_id", "lat", "lon",
        polylineTable(s, dir), "line_id", "lats", "lons",
        radiusM = PolylineJoinRadiusM).toDF()),

    // the STREAMING twin: per-cell register state folded across
    // micro-batches (256 bytes per cell, never an id set) — batch-mode run
    // of the flatMapGroupsWithState operator, same register replay oracle;
    // StreamingSketchesSpec pins cross-batch == batch and replay
    // idempotence on a MemoryStream
    "q_cell_visitors_hll_stream" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      val cells = Tiling.geohashEncode(pts, "lat", "lon", 1, out = "cell")
        .select("cell", "user_id")
      graft.streaming.StreamingSketches.cellVisitorsHll(cells, "cell", "user_id").toDF()
    }),

    // STREAMING image dedup: patched re-uploads of every 40th image arrive
    // over a real 2-batch MemoryStream (batch 2 re-posts batch 1's patched
    // raster under a new id); each micro-batch's signatures probe the
    // persisted dhash store and are folded in. The accumulated pairs must
    // be exactly the planted structure: each copy pairs with its corpus
    // source (<= 3 bits, ImageNearDupSpec-pinned) and batch 2's copy pairs
    // with batch 1's (identical bytes, hamming 0) — a CROSS-BATCH discovery
    // only the store probe can make; bytes never enter the store or a join
    "q_stream_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val images = ImagePayload.synthesize(part(s, dir).select("p_partkey"), "p_partkey")
      val planted = ImagePayload.withPatch(images.where(col("p_partkey") % 40 === 0), 2, 2, 1)
      val rows = planted.select(col("p_partkey"), col("bytes"))
        .as[(Long, Array[Byte])].collect().toSeq
      twoBatchPairs(s, Seq("p_partkey", "bytes"),
        rows.map { case (k, bs) => (k + 100000000L, bs) },
        rows.map { case (k, bs) => (k + 200000000L, bs) }, "id_a", "id_b")(
        graft.streaming.StreamingImageDedup.initStore(s, _, images, "p_partkey"),
        graft.streaming.StreamingImageDedup.nearDupStream(_, _, "p_partkey", _))
    }),

    // STREAMING video near-dedup vs the growing frame-signature store:
    // two MemoryStream batches of patched re-posts (+10^9, then +2*10^9)
    // probe the corpus store and each other — batch1-source pairs at
    // batch 1, batch2-source AND batch2-batch1 pairs at batch 2 (the
    // second only findable through the store fold). Exact planted oracle
    "q_stream_video_dedup" -> ((s, dir) => {
      import s.implicits._
      val keys = part(s, dir).select("p_partkey")
      val corpus = VideoPayload.synthesize(keys, "p_partkey")
      def reposts(offset: Long): Seq[(Long, Array[Byte])] =
        VideoPayload.synthesizeReposts(keys, "p_partkey", idOffset = offset)
          .where(col("p_partkey") >= offset)
          .select(col("p_partkey"), col("bytes"))
          .as[(Long, Array[Byte])].collect().toSeq
      twoBatchPairs(s, Seq("p_partkey", "bytes"),
        reposts(1000000000L), reposts(2000000000L), "id_a", "id_b", "shared")(
        graft.streaming.StreamingVideoDedup.initStore(s, _, corpus, "p_partkey"),
        graft.streaming.StreamingVideoDedup.nearDupStream(_, _, "p_partkey", _))
    }),

    // STREAMING corpus dedup: the %10==0 docs arrive over a real 2-batch
    // MemoryStream; each micro-batch probes the persisted signature store
    // and is folded in, so the accumulated pair stream must equal the
    // one-shot incremental batch run — same oracle as q_incremental_dedup
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir).select("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val streamed = docs.where(col("doc_id") % 10 === 0)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      val (batch1, batch2) = streamed.partition { case (id, _) => (id / 10) % 2 == 0 }
      twoBatchPairs(s, Seq("doc_id", "text"), batch1, batch2, "id_a", "id_b")(
        graft.streaming.StreamingDedup.initStore(s, _, corpus, "doc_id", "text"),
        graft.streaming.StreamingDedup.nearDupStream(_, _, "doc_id", "text", _))
    }),

    // streaming CDC upsert into the clustered store: batch 1 moves keys
    // % 7 == 0, batch 2 moves them AGAIN (cross-batch last-wins) and
    // carries an in-batch superseded event per key (within-batch
    // last-wins by seq) plus fresh inserts for keys % 11 == 0; the final
    // table must equal the one simulated merge in the oracle
    "q_stream_upsert" -> ((s, dir) => scratchStore(s, "graft_stream_upsert") { tmp =>
      import s.implicits._
      val base = points(s, dir)
        .select(col("o_orderkey").cast("long"), col("lat"), col("lon"))
      Tiling.clusteredWrite(base, "lat", "lon", tmp, coarseLevel = 2)
      def rowsOf(df: DataFrame): Seq[(Long, Double, Double, Long)] =
        df.as[(Long, Double, Double, Long)].collect().toSeq
      val updKeys = orders(s, dir).where(col("o_orderkey") % 7 === 0)
      val batch1 = rowsOf(updKeys.select(col("o_orderkey").cast("long"),
        expr(latSqlFor("(o_orderkey * 3 + 1)")).as("lat"),
        expr(lonSqlFor("(o_orderkey * 3 + 1)")).as("lon"), lit(1L).as("seq")))
      // batch 2: a superseded event (seq 2) and the winner (seq 3) per key
      val batch2 = rowsOf(updKeys.select(col("o_orderkey").cast("long"),
        expr(latSqlFor("(o_orderkey * 9 + 4)")).as("lat"),
        expr(lonSqlFor("(o_orderkey * 9 + 4)")).as("lon"), lit(2L).as("seq"))) ++
        rowsOf(updKeys.select(col("o_orderkey").cast("long"),
          expr(latSqlFor("(o_orderkey * 13 + 5)")).as("lat"),
          expr(lonSqlFor("(o_orderkey * 13 + 5)")).as("lon"), lit(3L).as("seq"))) ++
        rowsOf(orders(s, dir).where(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 1000000000L).cast("long").as("o_orderkey"),
            expr(latSqlFor("(o_orderkey * 5 + 2)")).as("lat"),
            expr(lonSqlFor("(o_orderkey * 5 + 2)")).as("lon"), lit(2L).as("seq")))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val input = MemoryStream[(Long, Double, Double, Long)]
      val q = graft.streaming.StreamingUpsert.upsertStream(
        input.toDF().toDF("o_orderkey", "lat", "lon", "seq"),
        tmp, "o_orderkey", "lat", "lon", "seq", coarseLevel = 2)
      try {
        input.addData(batch1)
        q.processAllAvailable()
        input.addData(batch2)
        q.processAllAvailable()
      } finally q.stop()
      Tiling.readClustered(s, tmp).select("o_orderkey", "lat", "lon")
    })
  
  )

  val oracles: Map[String, String] = Map(


    // per-prefix replay of the same fold: slice the ordered value list at
    // each row's index, the identical transformed list_reduce trees
    "q_holt_stream" ->
      """WITH o AS (SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
        |  FROM events WHERE value IS NOT NULL),
        |v AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        |      FROM events WHERE value IS NOT NULL GROUP BY 1),
        |f AS (SELECT o.user_id AS entity_id, o.event_id, CAST(o.i AS BIGINT) AS n_obs,
        |  list_reduce(list_transform(v.vals[1:o.i], x -> [x, 0.0]),
        |    (a, x) -> [0.25*x[1] + 0.75*(a[1]+a[2]),
        |               0.125*((0.25*x[1] + 0.75*(a[1]+a[2])) - a[1]) + 0.875*a[2]]) AS lb
        |  FROM o JOIN v USING (user_id))
        |SELECT entity_id, event_id, n_obs, lb[1] AS level, lb[2] AS trend FROM f""".stripMargin,

    // per-row prefix replay of the streaming fold: the same quantization,
    // prefix-window exact integers (hk = first value, tk = current), and
    // the shared final-coefficient text
    "q_acf_stream" ->
      s"""WITH s AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS w, ts, event_id
         |           FROM events WHERE value IS NOT NULL),
         |p AS (SELECT user_id, event_id, ts, w,
         |        lag(w) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS wp FROM s),
         |a AS (SELECT user_id, event_id,
         |        CAST(row_number() OVER w AS BIGINT) AS n,
         |        CAST(sum(w) OVER w AS BIGINT) AS sw,
         |        CAST(sum(w*w) OVER w AS BIGINT) AS s2,
         |        CAST(sum(CASE WHEN wp IS NULL THEN 0 ELSE wp*w END) OVER w AS BIGINT) AS sp,
         |        first_value(w) OVER w AS hk, w AS tk
         |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id AS entity_id, event_id, n AS n_obs,
         |  ${TimeSeries.acfFinalSql(1)} AS acf FROM a""".stripMargin,

    // per-row prefix replay of the streaming fold with the same shared
    // final expressions
    "q_ols_stream" ->
      s"""WITH s AS (SELECT user_id, event_id, ts,
         |    (epoch_us(ts) - 1704067200000000) // 60000000 AS x,
         |    CAST(round(value*100) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL),
         |a AS (SELECT user_id, event_id,
         |        CAST(row_number() OVER w AS BIGINT) AS n,
         |        CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy,
         |        CAST(sum(x*x) OVER w AS BIGINT) AS sxx, CAST(sum(x*y) OVER w AS BIGINT) AS sxy
         |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id AS entity_id, event_id, n AS n_obs,
         |  ${TimeSeries.trendSlopeSql} AS slope,
         |  ${TimeSeries.trendInterceptSql} AS intercept FROM a""".stripMargin,

    // every prefix replayed: delta_i from the prior-rows pair join, S and
    // the telescoped tie term as running window sums — exact integers
    "q_mann_kendall_stream" ->
      """WITH s AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS w, ts, event_id
        |           FROM events WHERE value IS NOT NULL),
        |o AS (SELECT user_id, w, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i FROM s),
        |d AS (SELECT a.user_id, a.event_id, a.i, a.w,
        |        CAST(COALESCE(sum(CASE WHEN a.w > b.w THEN 1 WHEN a.w < b.w THEN -1 ELSE 0 END), 0) AS BIGINT) AS delta
        |      FROM o a LEFT JOIN o b ON b.user_id = a.user_id AND b.i < a.i
        |      GROUP BY a.user_id, a.event_id, a.i, a.w),
        |r AS (SELECT user_id, event_id, CAST(i AS BIGINT) AS n,
        |        CAST(sum(delta) OVER wi AS BIGINT) AS s_stat,
        |        CAST(sum(6*(tv*tv - 1)) OVER wi AS BIGINT) AS tie18
        |      FROM (SELECT d.*, CAST(row_number() OVER (
        |              PARTITION BY d.user_id, d.w ORDER BY d.i) AS BIGINT) AS tv FROM d) t
        |      WINDOW wi AS (PARTITION BY user_id ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id AS entity_id, event_id, n AS n_obs, s_stat,
        |  n*(n-1)*(2*n+5) - tie18 AS var18 FROM r""".stripMargin,

    // per-row prefix-min replay of the sequential recurrence the stream
    // folds (same gap series, same constants)
    "q_cusum_stream" ->
      """WITH t AS (SELECT user_id, ts, event_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS gap FROM events),
        |p AS (SELECT user_id, ts, event_id,
        |  sum(gap - 40000000000) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM t WHERE gap IS NOT NULL),
        |c AS (SELECT user_id AS entity_id, event_id,
        |  CAST(p - least(min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS s
        |  FROM p)
        |SELECT entity_id, event_id, s, s > 200000000000 AS alarm FROM c""".stripMargin,

    "q_stream_tile_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, count(*) AS total_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_od_flows_stream" -> OdFlowsOracleSql,

    // same answer through the stateful streaming operator's batch mode
    "q_geofence_stream" -> GeofenceOracleSql,

    // the streaming twin has identical semantics, so the identical oracle
    "q_speed_flags_stream" -> SpeedFlagsOracleSql,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, ts,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM x)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
        |FROM y GROUP BY user_id, sid""".stripMargin,

    // the streaming twin has identical semantics, so the identical oracle
    "q_st_join_stream" -> StJoinOracleSql,

    // the two streamed batches collapse to one simulated merge: updated
    // keys end at their LAST event's coordinates (batch 2, seq 3), the
    // batch-1 and seq-2 positions must be gone, inserts appear once
    "q_stream_upsert" ->
      s"""WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         |    $LatSql AS lat, $LonSql AS lon FROM orders),
         |upd AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         |    ${latSqlFor("(o_orderkey * 13 + 5)")} AS lat,
         |    ${lonSqlFor("(o_orderkey * 13 + 5)")} AS lon
         |  FROM orders WHERE o_orderkey % 7 = 0),
         |ins AS (SELECT CAST(o_orderkey + 1000000000 AS BIGINT) AS o_orderkey,
         |    ${latSqlFor("(o_orderkey * 5 + 2)")} AS lat,
         |    ${lonSqlFor("(o_orderkey * 5 + 2)")} AS lon
         |  FROM orders WHERE o_orderkey % 11 = 0)
         |SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
         |UNION ALL SELECT * FROM upd
         |UNION ALL SELECT * FROM ins""".stripMargin,

    // the online twin: the same forward DP, but emitting each STEP's
    // frontier argmin (cost, line, edge) — the filter view, no
    // backtracking, no path strings
    "q_map_match_stream" -> {
      s"""WITH RECURSIVE $mapMatchOracleBase,
         |v AS (
         |  SELECT user_id, step, line, edge, e AS cost FROM c2 WHERE step = 1
         |  UNION ALL
         |  SELECT c.user_id, c.step, c.line, c.edge,
         |    min(p.cost + $MapMatchTransSql) + c.e AS cost
         |  FROM v p JOIN c2 c ON c.user_id = p.user_id AND c.step = p.step + 1
         |  GROUP BY c.user_id, c.step, c.line, c.edge, c.e),
         |b AS (SELECT user_id, step, CAST(min(cost) AS BIGINT) AS cost,
         |    string_split(arg_min(CAST(line AS VARCHAR) || ':' || CAST(edge AS VARCHAR),
         |      ${mapMatchTieKey("cost", "line", "edge")}), ':') AS le
         |  FROM v GROUP BY 1, 2)
         |SELECT st.user_id AS track_id, st.event_id,
         |  CAST(b.le[1] AS BIGINT) AS line_id,
         |  CAST(b.le[2] AS INTEGER) AS edge_idx, b.cost
         |FROM b JOIN steps st ON st.user_id = b.user_id AND st.step = b.step""".stripMargin
    },

    // the same register replay without the exact column — the streaming
    // operator's whole point is never materializing the id sets
    "q_cell_visitors_hll_stream" ->
      s"""WITH pts AS (SELECT user_id, ${latSqlFor("event_id")} AS lat,
         |  ${lonSqlFor("event_id")} AS lon FROM events),
         |idx AS (SELECT user_id, ${geohashIdxSql(1)} FROM pts),
         |cells AS (SELECT ${geohashCharsSql(1)} AS cell, user_id FROM idx),
         |vals AS (SELECT DISTINCT cell, CAST(user_id AS VARCHAR) AS v FROM cells),
         |hashed AS (SELECT cell, $SketchValueHashSql AS h FROM vals),
         |fin AS (SELECT cell, ${Sketches.finalizeSqlOf("h")} AS h FROM hashed),
         |regs AS (SELECT cell, h % 256 AS bucket,
         |  max(CASE WHEN h // 256 = 0 THEN 24 ELSE 24 - length(bin(h // 256)) END) AS register
         |  FROM fin GROUP BY 1, 2)
         |SELECT cell, 256 - count(*) AS hll_zeros,
         |  CAST(sum(CAST(pow(2, 24 - register) AS BIGINT))
         |    + (256 - count(*)) * 16777216 AS BIGINT) AS hll_harmonic
         |FROM regs GROUP BY 1""".stripMargin,

    // the accumulated pair stream is exactly the three planted relations
    // per decodable re-posted key, each with shared = n_sampled(source)
    "q_stream_video_dedup" ->
      """WITH k AS (SELECT p_partkey AS src,
        |  CAST((2 + p_partkey % 4) // 2 + 1 AS BIGINT) AS shared
        | FROM part WHERE p_partkey % 25 = 0 AND p_partkey % 33 <> 0)
        |SELECT src AS id_a, src + 1000000000 AS id_b, shared FROM k
        |UNION ALL
        |SELECT src AS id_a, src + 2000000000 AS id_b, shared FROM k
        |UNION ALL
        |SELECT src + 1000000000 AS id_a, src + 2000000000 AS id_b, shared FROM k""".stripMargin,

    // the planted re-upload structure IS the exact answer (the
    // q_image_neardup preconditions — no natural <= 3-bit collision,
    // patches within 3 bits of their source — plus hamming-0 byte-identity
    // between the two re-posts of each source)
    "q_stream_image_dedup" ->
      """SELECT p_partkey AS id_a, p_partkey + 100000000 AS id_b
        |FROM part WHERE p_partkey % 40 = 0
        |UNION ALL
        |SELECT p_partkey, p_partkey + 200000000 FROM part WHERE p_partkey % 40 = 0
        |UNION ALL
        |SELECT p_partkey + 100000000, p_partkey + 200000000
        |FROM part WHERE p_partkey % 40 = 0""".stripMargin,

    // identical pair semantics to q_incremental_dedup by construction
    // (2-batch stream == one-shot incremental batch), identical oracle
    "q_stream_dedup" ->
      s"""WITH $TriCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM tri a JOIN tri b ON a.doc_id < b.doc_id
         |WHERE $TriJaccard >= 0.9
         |  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)""".stripMargin
  
  )
}
