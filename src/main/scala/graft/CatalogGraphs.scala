package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.operators._
import graft.s2.{S2LatLngRect, S2Region, R1Interval, S1Interval}
import graft.sources.GeoJson

/** Catalog registry — graph algorithms over pipeline-derived edge lists. Entries moved verbatim from SparkEntry
  * (round-3 verdict ask #7: per-domain registries behind the same
  * `queries` map; the 247-row correctness gate pins that nothing moved). */
private[graft] object CatalogGraphs {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // per-user EXACT squared diameter on the same centi-degree grid:
    // convex hull + pairwise-over-hull inside one typed Aggregator
    // (buffers compact to their own hull — O(hull) state, never O(n));
    // the O(n²) SQL self-join is an exact integer oracle
    "q_diameter" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("x", expr("(event_id * 9973 + 12345) % 18000"))
        .withColumn("y", expr("(event_id * 31337 + 54321) % 36000"))
      Trajectories.spatialDiameter(pts, "user_id", "x", "y")
    }),

    // cell co-visitation affinity ("users who visit A also visit B"):
    // top-30 10-degree-cell pairs by exact scaled-integer Jaccard over
    // distinct visitors — cell ids derive from event_id in pure int64 so
    // both engines quantize identically; the per-entity fan guard raises
    // loudly instead of silently truncating wedges
    "q_covisit" -> ((s, dir) => {
      val cellSql = "(((event_id * 9973 + 12345) % 18000) div 1000) * 100 + " +
        "(((event_id * 31337 + 54321) % 36000) div 1000)"
      val visits = events(s, dir).withColumn("cell", expr(cellSql))
      Trajectories.coVisitation(visits, "user_id", "cell",
        minCommon = 2, maxCellsPerEntity = 512, k = 30)
    }),

    // HITS hubs/authorities over the bipartite user→cell visit graph
    // (zoom-6): L∞-normalized scaled-integer half-steps (the classic L2
    // norm is transcendental; max-normalization keeps every op in int64),
    // 2 rounds, hash-exact vs the unrolled-CTE replay — hub users visit
    // authority places, authority places attract hub users
    "q_hits" -> ((s, dir) => {
      val pts = events(s, dir)
        .withColumn("lat", expr(latSqlFor("event_id")))
        .withColumn("lon", expr(lonSqlFor("event_id")))
      val edges = Tiling.zxyAssign(pts, "lat", "lon", 6)
        .select(col("user_id").as("src"), (col("zx") * 64L + col("zy")).as("dst"))
        .distinct()
      Graphs.hitsScaled(edges, rounds = 2)
    }),

    // per-node triangle counts over the 500 km proximity graph — the
    // clique-ness QA signal for dedup/contact graphs; degree-ordered
    // orientation bounds the wedge stage at O(m^1.5) however hubby the
    // graph, and changes the plan, never the count
    "q_triangles" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.triangleCounts(edges)
    }),

    // Newman modularity of the LPA partition over the same proximity
    // graph — the "did community detection find structure?" gate: exact
    // integer Q·4m² = Σ_c (4m·e_c − d_c²), ONE shared final division
    "q_modularity" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
        .localCheckpoint()
      Graphs.modularity(edges, Graphs.labelPropagation(edges, rounds = 3))
    }),

    // per-edge triangle support over the proximity graph (the k-truss
    // filter): node counts cannot see a zero-support bridge between two
    // cliques — this names it; exact integers, same wedge bound
    "q_truss_support" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.edgeTriangleSupport(edges, minSupport = 2L)
    }),

    // global transitivity of the proximity graph: 3·triangles/wedges as
    // 2·t3/w2 over two exact integers — the one-number density summary
    "q_transitivity" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.transitivity(edges)
    }),

    // degree assortativity of the proximity graph: hubs-to-hubs or
    // hubs-to-leaves — the symmetric edge-direction trick makes Pearson a
    // sqrt-free ratio of exact int64 moments
    "q_assortativity" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.degreeAssortativity(edges)
    }),

    // per-node local clustering coefficient over the same proximity graph:
    // the per-node clique-ness score — exact integer (deg, triangles) plus
    // ONE shared IEEE final expression (Graphs.clusteringFinalSql), so the
    // doubles hash-match the oracle bit-for-bit; triangle-free nodes 0,
    // degree-1 nodes NULL (no closing edge is even possible)
    "q_clustering_coeff" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.clusteringCoefficient(edges)
    }),

    // 8-core of the proximity graph: the density filter that keeps the
    // mutually-linked community and peels star boilerplate — bounded
    // confluent peel, converges in 5 rounds at sf0.01, hash-exact vs a
    // 6-round unrolled replay (extra rounds past the fixpoint are no-ops)
    "q_kcore" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.kCore(edges, k = 8, maxRounds = 12)
    }),

    // synchronous label propagation (3 rounds) over the same proximity
    // graph: every node adopts its neighbors' MODE label under the
    // deterministic (count DESC, label ASC) tie rule — the fixed round
    // count makes the whole dynamic hash-exact vs the unrolled replay
    "q_lpa" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.labelPropagation(edges, rounds = 3)
    }),

    // damped PageRank (3 rounds) over the same proximity graph, in scaled
    // INTEGER arithmetic — shuffle-order-independent, so the iterative
    // operator is hash-exact against an unrolled-CTE SQL replay instead
    // of tolerance-checked; per round: one adjacency equi-join + one hash
    // aggregate, 16-byte rank rows only
    "q_pagerank" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.pageRankScaled(edges, rounds = 3)
    }),

    // the CHECKPOINTED iteration exercised through a real crash: run one
    // committed round, abandon the session state, resume from the durable
    // round-1 manifest to completion — final ranks must be hash-identical
    // to the one-shot oracle (integer rounds make resume bit-safe)
    "q_pagerank_resume" -> ((s, dir) => scratchStore(s, "graft_pr_state_") { state =>
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.pageRankCheckpointed(edges, rounds = 3, state, maxRoundsThisRun = 1)
      Graphs.pageRankCheckpointed(edges, rounds = 3, state)
    }),

    // gaps-and-islands coverage: each event opens a 300 s presence
    // interval; overlapping-or-touching intervals merge into maximal
    // islands per user — per-user online-time accounting in exact
    // integer microseconds, one key shuffle, two window frames, no
    // self-join
    "q_islands" -> ((s, dir) => {
      val iv = events(s, dir).select(col("user_id"),
          // ts is TIMESTAMP_NTZ; the UTC session makes the cast the
          // identity DuckDB's epoch_us applies to the naive value
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .withColumn("e", col("s") + 300000000L)
      IntervalJoin.mergeIslands(iv, Seq("user_id"), "s", "e")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_end") - col("island_start")).as("covered_us"))
    }),

    // link prediction over the 500 km proximity graph: NON-adjacent
    // customer pairs sharing >= 3 common neighbors, with the exact count
    // — wedge join at the center node + one hash aggregate + one
    // left-anti join against the edges; the wedge volume is the answer's
    // own size (every common neighbor is a wedge), not a plan artifact
    "q_link_predict" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
      Graphs.commonNeighborPairs(edges, minCommon = 3)
    }),

    // record linkage / entity resolution: customers vs a synthesized
    // noisy registration table (name formatting drift, ~1-2 km location
    // jitter, occasional wrong nation, plus far-away same-name imposters
    // that must NOT link). Blocking equi-join on the normalized name,
    // integer Fellegi-Sunter-style score (close-within-5km=3 +
    // nation-agrees=2, accept >= 5): drifted true matches link, the
    // wrong-nation and imposter rows are rejected by score — all
    // replayable in SQL, no float tolerance
    "q_record_linkage" -> ((s, dir) => {
      val cust = customer(s, dir).select("c_custkey", "c_name", "c_nationkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val regs = cust.select(
        (col("c_custkey") + 1000000L).as("reg_id"),
        when(col("c_custkey") % 3 === 0, lower(col("c_name")))
          .when(col("c_custkey") % 3 === 1,
            regexp_replace(col("c_name"), "Customer#", "CUSTOMER #"))
          .otherwise(col("c_name")).as("reg_name"),
        (col("lat") + (col("c_custkey") % 7 - 3) * 0.003).as("rlat"),
        (col("lon") + (col("c_custkey") % 11 - 5) * 0.003).as("rlon"),
        when(col("c_custkey") % 50 === 0, col("c_nationkey") + 1)
          .otherwise(col("c_nationkey")).as("reg_nation"))
      val imposters = cust.where(col("c_custkey") % 10 === 0).select(
        (col("c_custkey") + 2000000L).as("reg_id"),
        col("c_name").as("reg_name"),
        (-col("lat")).as("rlat"),
        when(col("lon") >= 0, col("lon") - 180.0)
          .otherwise(col("lon") + 180.0).as("rlon"),
        col("c_nationkey").as("reg_nation"))
      RecordLinkage.link(
        cust, "c_custkey", "c_name", "lat", "lon", "c_nationkey",
        regs.unionByName(imposters), "reg_id", "reg_name", "rlat", "rlon", "reg_nation",
        maxDistM = 5000.0, wClose = 3, wAttr = 2, minScore = 5)
    }),

    // bounded-hop SSSP: exact <= 4-hop shortest distances from the
    // max-degree hub of the proximity graph, integer edge weights (pure
    // id arithmetic — float-derived weights would make the truncation
    // engine-dependent), min-plus Bellman-Ford rounds that are hash-exact
    // against an unrolled-CTE replay; seed selection stays plan-side
    "q_sssp" -> ((s, dir) => {
      val pts = customer(s, dir).select("c_custkey")
        .withColumn("lat", expr(CustLatSql))
        .withColumn("lon", expr(CustLonSql))
      val edges = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radiusM = 500000.0)
        .select("id_a", "id_b")
        .withColumn("w", (col("id_a") * 31 + col("id_b") * 17) % 1000 + 1)
      val hub = Graphs.degrees(edges)
        .orderBy(col("deg").desc, col("src").asc).limit(1)
        .select(col("src").as("id"))
      Graphs.boundedSssp(edges, hub, hops = 4)
    })
  )

  val oracles: Map[String, String] = Map(


    // the O(n²) brute force IS exact here: pure integer squared
    // distances, so hull+calipers must reproduce it bit for bit
    "q_diameter" ->
      """WITH pts AS (SELECT user_id,
        |  (event_id * 9973 + 12345) % 18000 AS x,
        |  (event_id * 31337 + 54321) % 36000 AS y FROM events)
        |SELECT a.user_id, CAST(max((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS BIGINT) AS diam_sq
        |FROM pts a JOIN pts b USING (user_id) GROUP BY 1""".stripMargin,

    // identical int64 cell quantization, distinct-visitor wedge join, and
    // scaled-quotient Jaccard rank (common*10^12 // (da+db-common))
    "q_covisit" ->
      """WITH v AS (SELECT DISTINCT user_id AS e,
        |  (((event_id * 9973 + 12345) % 18000) // 1000) * 100
        |    + (((event_id * 31337 + 54321) % 36000) // 1000) AS c FROM events),
        |deg AS (SELECT c, count(*) AS d FROM v GROUP BY 1),
        |w AS (SELECT x.c AS cell_a, y.c AS cell_b FROM v x JOIN v y
        |  ON x.e = y.e AND x.c < y.c),
        |cm AS (SELECT cell_a, cell_b, count(*) AS common FROM w
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT cm.cell_a, cm.cell_b, cm.common, a.d AS da, b.d AS db,
        |  (cm.common * 1000000000000) // (a.d + b.d - cm.common) AS score
        |FROM cm JOIN deg a ON cm.cell_a = a.c JOIN deg b ON cm.cell_b = b.c
        |ORDER BY score DESC, cm.cell_a, cm.cell_b LIMIT 30""".stripMargin,

    // the brute-force pair graph, then the plain a<b<c triple join — the
    // degree orientation is the engine's plan choice, not a semantic one
    "q_triangles" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |t AS (SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c FROM pairs p1
         |  JOIN pairs p2 ON p2.id_a = p1.id_b
         |  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |n AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
         |SELECT id, count(*) AS triangles FROM n GROUP BY id""".stripMargin
    },

    // same pair join; degrees and the a<b<c triple-join triangle counts
    // left-joined per node, then the engine's own final-coefficient text
    "q_clustering_coeff" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |pairs AS MATERIALIZED (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) t GROUP BY 1),
         |t AS (SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c FROM pairs p1
         |  JOIN pairs p2 ON p2.id_a = p1.id_b
         |  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |tr AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
         |  SELECT a AS id FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) n
         |  GROUP BY id),
         |j AS (SELECT dg.id, dg.deg, COALESCE(tr.triangles, 0) AS triangles
         |  FROM dg LEFT JOIN tr ON tr.id = dg.id)
         |SELECT id, deg, triangles, ${Graphs.clusteringFinalSql} AS clustering FROM j""".stripMargin
    },

    // the peel unrolled to 6 rounds (fixpoint at 4 changing rounds at
    // sf0.01; peeling is confluent so extra rounds are idempotent)
    "q_kcore" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      // every CTE MATERIALIZED: each ei references its predecessor three
      // times (via di twice), so default inlining re-expands the base
      // pair join ~3^6 times — enough reopened parquet scans to exhaust
      // file handles before it exhausts patience
      val base =
        s"""WITH pts AS MATERIALIZED (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
           |e0 AS MATERIALIZED (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
           |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
           |  WHERE $d <= 500000.0)""".stripMargin
      val rounds = (1 to 6).map { i =>
        s""",
           |d${i - 1} AS MATERIALIZED (SELECT id, count(*) AS c FROM (
           |  SELECT id_a AS id FROM e${i - 1} UNION ALL SELECT id_b FROM e${i - 1}) t
           |  GROUP BY 1),
           |e$i AS MATERIALIZED (SELECT e.id_a, e.id_b FROM e${i - 1} e
           |  JOIN d${i - 1} x ON x.id = e.id_a AND x.c >= 8
           |  JOIN d${i - 1} y ON y.id = e.id_b AND y.c >= 8)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT id, count(*) AS core_deg FROM (
          |  SELECT id_a AS id FROM e6 UNION ALL SELECT id_b FROM e6) t
          |GROUP BY 1""".stripMargin
    },

    // the 3 PageRank rounds unrolled as CTEs in the identical scaled
    // integer arithmetic (// == Spark's div on positive int64); sums pass
    // through HUGEINT in DuckDB, the final CAST pins int64
    // same proximity edges; each round a (node, label) count CTE + the
    // row_number (c DESC, label ASC) argmax mirroring the min-struct
    "q_lpa" -> s"""WITH $proximityLpaCtes
         |SELECT id, label FROM l3""".stripMargin,

    // the LPA replay's l3 labels fed into the exact integer modularity
    // identity Q·4m² = Σ_c (4m·e_c − d_c²); isolated labels contribute
    // −d_c² through the outer join, and the only float is the engine's
    // own final division
    "q_modularity" -> {
      s"""WITH $proximityLpaCtes,
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e) t GROUP BY 1),
         |dc AS (SELECT l.label, CAST(sum(dg.deg) AS BIGINT) AS dcs
         |  FROM dg JOIN l3 l ON l.id = dg.id GROUP BY 1),
         |ec AS (SELECT la.label, CAST(count(*) AS BIGINT) AS ecs
         |  FROM e JOIN l3 la ON la.id = e.id_a JOIN l3 lb ON lb.id = e.id_b
         |  WHERE la.label = lb.label GROUP BY 1),
         |j AS (SELECT COALESCE(dc.label, ec.label) AS label,
         |    COALESCE(dc.dcs, 0) AS dcs, COALESCE(ec.ecs, 0) AS ecs
         |  FROM dc FULL OUTER JOIN ec ON ec.label = dc.label),
         |a AS (SELECT max(mm.m) AS m,
         |    CAST(sum(4*mm.m*j.ecs - j.dcs*j.dcs) AS BIGINT) AS q_num
         |  FROM j, mm)
         |SELECT m, q_num, ${Graphs.ModularityFinalSql} AS modularity FROM a""".stripMargin
    },

    // the a<b<c triple join exploded to its three edges, counted per edge
    "q_truss_support" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |e AS MATERIALIZED (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |t AS (SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c FROM e p1
         |  JOIN e p2 ON p2.id_a = p1.id_b
         |  JOIN e p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |ed AS (SELECT a AS id_a, b AS id_b FROM t
         |  UNION ALL SELECT a, c FROM t UNION ALL SELECT b, c FROM t)
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS support
         |FROM ed GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    },

    // the triple-join triangle count and degree sums reduced to the two
    // integers, then the engine's own final text
    "q_transitivity" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |e AS MATERIALIZED (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e) t GROUP BY 1),
         |t AS (SELECT p1.id_a AS a FROM e p1
         |  JOIN e p2 ON p2.id_a = p1.id_b
         |  JOIN e p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |a AS (SELECT (SELECT CAST(sum(deg*(deg-1)) AS BIGINT) FROM dg) AS w2,
         |        (SELECT CAST(COALESCE(3*count(*), 0) AS BIGINT) FROM t) AS t3)
         |SELECT w2, t3, ${Graphs.TransitivityFinalSql} AS transitivity FROM a""".stripMargin
    },

    // the same endpoint-degree attachment and the sqrt-free symmetric
    // Pearson ratio over exact integer moments
    "q_assortativity" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |e AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e) t GROUP BY 1),
         |w AS (SELECT x.deg AS da, y.deg AS db FROM e
         |  JOIN dg x ON x.id = e.id_a JOIN dg y ON y.id = e.id_b),
         |a AS (SELECT CAST(2*count(*) AS BIGINT) AS m2,
         |    CAST(sum(da + db) AS BIGINT) AS sx,
         |    CAST(sum(da*da + db*db) AS BIGINT) AS sxx,
         |    CAST(2*sum(da*db) AS BIGINT) AS sxy FROM w)
         |SELECT m2, sx, sxx, sxy, ${Graphs.AssortativityFinalSql} AS assortativity FROM a""".stripMargin
    },

    "q_pagerank" -> PageRankOracleSql,
    "q_hits" -> HitsOracleSql,

    // SAME oracle: a crash-resumed checkpointed run must be hash-identical
    // to the one-shot iteration (the integer arithmetic makes that a fair
    // contract across different shuffle layouts)
    "q_pagerank_resume" -> PageRankOracleSql,

    // the same two window frames over exact integer microseconds
    // (epoch_us == Spark's unix_micros); touching intervals merge
    // (new island iff s > running max end, strictly)
    "q_islands" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
        |n AS (SELECT user_id, s, e,
        |  CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw FROM m),
        |i AS (SELECT user_id, s, e, sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |  ROWS UNBOUNDED PRECEDING) AS isl FROM n),
        |g AS (SELECT user_id, isl, min(s) AS st, max(e) AS en FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(en - st) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin,

    // the same wedge-at-center counting over the brute-force pair CTE;
    // non-adjacency as NOT EXISTS against the edges
    "q_link_predict" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |adj AS (SELECT id_a AS c, id_b AS n FROM pairs
         |  UNION ALL SELECT id_b AS c, id_a AS n FROM pairs),
         |g AS (SELECT x.n AS id_a, y.n AS id_b, count(*) AS common
         |  FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT g.id_a, g.id_b, g.common FROM g
         |WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |  WHERE p.id_a = g.id_a AND p.id_b = g.id_b)""".stripMargin
    },

    // the same synthesis + normalization (regexp_replace with the 'g'
    // flag — DuckDB replaces first-only by default) + blocking join +
    // integer score threshold
    "q_record_linkage" -> {
      val d = haversineExpr("l.lat", "l.lon", "r.rlat", "r.rlon")
      s"""WITH cust AS (SELECT c_custkey, c_name, c_nationkey,
         |  $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |regs AS (
         |  SELECT c_custkey + 1000000 AS reg_id,
         |    CASE WHEN c_custkey % 3 = 0 THEN lower(c_name)
         |         WHEN c_custkey % 3 = 1 THEN replace(c_name, 'Customer#', 'CUSTOMER #')
         |         ELSE c_name END AS reg_name,
         |    lat + (c_custkey % 7 - 3) * 0.003 AS rlat,
         |    lon + (c_custkey % 11 - 5) * 0.003 AS rlon,
         |    CASE WHEN c_custkey % 50 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS reg_nation
         |  FROM cust
         |  UNION ALL
         |  SELECT c_custkey + 2000000, c_name, -lat,
         |    CASE WHEN lon >= 0 THEN lon - 180.0 ELSE lon + 180.0 END, c_nationkey
         |  FROM cust WHERE c_custkey % 10 = 0),
         |ln AS (SELECT c_custkey, c_nationkey, lat, lon,
         |  regexp_replace(regexp_replace(lower(c_name), '[^a-z0-9#]', '', 'g'),
         |    '#0+', '#', 'g') AS blk FROM cust),
         |rn AS (SELECT reg_id, reg_nation, rlat, rlon,
         |  regexp_replace(regexp_replace(lower(reg_name), '[^a-z0-9#]', '', 'g'),
         |    '#0+', '#', 'g') AS blk FROM regs),
         |scored AS (SELECT l.c_custkey, r.reg_id,
         |  (CASE WHEN $d <= 5000.0 THEN 3 ELSE 0 END
         |   + CASE WHEN l.c_nationkey = r.reg_nation THEN 2 ELSE 0 END) AS score
         |  FROM ln l JOIN rn r ON l.blk = r.blk)
         |SELECT c_custkey, reg_id, score FROM scored WHERE score >= 5""".stripMargin
    },

    // the 4 min-plus rounds unrolled; the hub seed replays as an
    // ORDER BY deg DESC, src LIMIT 1 CTE
    "q_sssp" -> {
      val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
      val round = (i: Int) =>
        s"""d$i AS (SELECT id, min(dist) AS dist FROM (
           |  SELECT id, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT a.dst, p.dist + a.w FROM d${i - 1} p JOIN adj a ON a.src = p.id)
           |GROUP BY id)""".stripMargin
      s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
         |e AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |  (a.c_custkey * 31 + b.c_custkey * 17) % 1000 + 1 AS w
         |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  WHERE $d <= 500000.0),
         |adj AS (SELECT id_a AS src, id_b AS dst, w FROM e
         |  UNION ALL SELECT id_b, id_a, w FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
         |d0 AS (SELECT src AS id, CAST(0 AS BIGINT) AS dist FROM deg
         |  ORDER BY deg DESC, src LIMIT 1),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT id, dist FROM d4""".stripMargin
    }
  )
}
