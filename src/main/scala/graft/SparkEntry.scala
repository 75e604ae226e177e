package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.operators._
import graft.s2.{S2LatLngRect, S2Region, R1Interval, S1Interval}
import graft.sources.GeoJson

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md section 2), with DuckDB oracle SQL wherever the semantics are
  * ANSI-SQL-expressible; geometry-kernel conformance beyond SQL reach is
  * covered bit-for-bit by the ScalaTest suite against the reference's
  * golden vectors. */
object SparkEntry {

  /** Deterministic lat/lon derivation from an integer key — the ONE
    * definition of the synthetic-coordinate arithmetic, shared by every
    * Spark query and DuckDB oracle (and by the specs, so they cannot
    * drift). */
  private[graft] def latSqlFor(key: String): String =
    s"CAST(($key * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"
  private[graft] def lonSqlFor(key: String): String =
    s"CAST(($key * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"

  private[graft] val LatSql = latSqlFor("o_orderkey")
  private[graft] val LonSql = lonSqlFor("o_orderkey")

  /** Fixed BM25 query set (terms from the synthetic corpus vocabulary) —
    * one definition shared by q_bm25 and its oracle SQL. */
  private[graft] val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("window", "batch"),
    2L -> Seq("customer", "merge", "slow"))

  /** KMV sketch size and the fixed language-pair probe set of
    * q_kmv_overlap (the harness corpus languages; literal, like
    * [[Bm25Queries]], so the oracle can inline the same pairs). */
  private[graft] val KmvK = 128
  private[graft] val KmvLangs = Seq("de", "en", "es", "fr", "zh")
  private[graft] val KmvLangPairs: Seq[(String, String)] =
    for { a <- KmvLangs; b <- KmvLangs if a < b } yield (a, b)

  /** Count-min geometry of q_cms_counts, shared with its oracle. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 256

  /** DuckDB replay of `Tiling.geohashEncode`'s axis indices: emits
    * `... AS li, ... AS ti` over columns named lat/lon. Pure floor
    * arithmetic, so the replay is bit-exact at any precision. */
  private[graft] def geohashIdxSql(precision: Int): String = {
    val total = 5 * precision
    val lonBits = (total + 1) / 2
    val latBits = total / 2
    s"""least(${(1L << lonBits) - 1}, greatest(0,
       |    CAST(floor((lon + 180.0) / 360.0 * ${(1L << lonBits).toDouble}) AS BIGINT))) AS li,
       |  least(${(1L << latBits) - 1}, greatest(0,
       |    CAST(floor((lat + 90.0) / 180.0 * ${(1L << latBits).toDouble}) AS BIGINT))) AS ti""".stripMargin
  }

  /** The matching base-32 char interleave over the li/ti columns. */
  private[graft] def geohashCharsSql(precision: Int): String = {
    val total = 5 * precision
    val lonBits = (total + 1) / 2
    val latBits = total / 2
    (0 until precision).map { c =>
      val bits = (0 until 5).map { t =>
        val j = 5 * c + t
        val (axis, bit) =
          if (j % 2 == 0) ("li", lonBits - 1 - j / 2) else ("ti", latBits - 1 - j / 2)
        s"((($axis >> $bit) & 1) << ${4 - t})"
      }.mkString(" + ")
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST($bits AS INTEGER) + 1, 1)"
    }.mkString("concat(", ", ", ")")
  }

  /** The q_geo_image_neardup population: originals, colocated patched
    * copies (key % 40, +1e8), antipodally-relocated byte copies
    * (key % 60, +4e8 — dhash hamming 0 but never spatially adjacent).
    * ONE definition shared by the catalog query and
    * GeoImageNearDupSpec's oracle-precondition checks, so the certified
    * population can never drift from the queried one. */
  private[graft] def geoImagePopulation(keys: DataFrame): DataFrame = {
    val images = ImagePayload.synthesize(keys, "p_partkey")
    val key = col("p_partkey")
    val planted = ImagePayload.withPatch(images.where(key % 40 === 0), 2, 2, 1)
      .withColumn("p_partkey", key + 100000000L)
    val far = images.where(key % 60 === 0)
      .withColumn("p_partkey", key + 400000000L)
      .withColumn("lat", -col("lat"))
      .withColumn("lon",
        when(col("lon") >= 0, col("lon") - lit(180.0)).otherwise(col("lon") + lit(180.0)))
    images.unionByName(planted).unionByName(far)
  }

  /** DuckDB replay of [[Dedup.portableHashOf]] for a FIXED-length string
    * expression: the stepwise (h*131 + codepoint) mod P fold, unrolled.
    * Base-32 geohash chars are ASCII, so `ascii()` == the code point. */
  private[graft] def portableHashSql(strExpr: String, len: Int): String =
    (1 to len).foldLeft("0") { (acc, i) =>
      s"(($acc) * 131 + ascii(substr($strExpr, $i, 1))) % ${Dedup.HashP}"
    }

  private[graft] def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")

  private[graft] def points(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("lat", expr(LatSql))
      .withColumn("lon", expr(LonSql))

  private[graft] def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
  private[graft] def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
  private[graft] def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet")
  private[graft] def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
  private[graft] def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
  private[graft] def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private[graft] def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Embedding dimensionality of the harness tables (all scale factors) —
    * threaded into the ANN operators so no query fires a driver-side
    * `head()` job just to discover the vector width. */
  private[graft] val EmbeddingDim = 64

  /** Ripley's-K radii of q_ripleys_k (meters), shared with the oracle. */
  private[graft] val RipleyRadiiM: Seq[Long] = Seq(125000L, 250000L, 500000L, 1000000L)

  /** Shared oracle of q_poly_table_join and its GeoJSON-driven twin
    * q_geojson_poly_join (the roundtrip preserves every coordinate bit,
    * so the same inlined edge-plane SQL answers both). */
  private[graft] lazy val PolyTableOracleSql: String = {
    val branches = HexPolys.map { case (k, verts, center) =>
      s"""SELECT CAST($k AS BIGINT) AS region_id, o_orderkey FROM xyz
         | WHERE ${convexLoopSql(verts, center)}""".stripMargin
    }
    s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders),
       |xyz AS (SELECT o_orderkey,
       |  cos(radians(lat))*cos(radians(lon)) AS px,
       |  cos(radians(lat))*sin(radians(lon)) AS py,
       |  sin(radians(lat)) AS pz FROM pts)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Variance-of-Laplacian gate for q_image_sharpness, in (integer-luma)²
    * units (luma = 299r+587g+114b). Pinned between the measured
    * populations — sharp independent-pixel noise ~5e10, bilinear low-pass
    * copies orders of magnitude below — with >= 4x clearance on both
    * sides (ImageSharpnessSpec). */
  val SharpnessThreshold: Double = 3e9

  /** Colorfulness gate threshold: gray rasters score exactly 0, the
    * synthetic noise population ~150 (margin spec-pinned). */
  val ColorfulnessThreshold: Double = 10.0

  /** Build-once fixture for queries whose point is the READ path over a
    * persisted layout (clustered table, IVF index): the layout is written
    * the first time a query needs it for a given sf dir and reused after,
    * so benchmark timings measure the pruned scan — not a re-write of the
    * storage it scans (round-2 verdict: q_clustered_scan's bench entry
    * measured write+read). Inputs are deterministic per dir, so presence
    * of the marker is a sufficient validity check. */
  private[graft] def fixture(dir: String, name: String)(build: String => Unit): String = {
    // FixtureVersion is part of the path: bump it whenever a fixture's
    // layout or producing code changes, or a stale /tmp fixture from an
    // earlier build would silently feed the new reader
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${FixtureVersion}_${new java.io.File(dir).getName}"
    val marker = new java.io.File(path, "_GRAFT_FIXTURE_READY")
    this.synchronized {
      if (!marker.exists()) { build(path); marker.createNewFile() }
    }
    path
  }

  private[graft] val FixtureVersion = "r5a"

  /** For queries whose store MUTATES (so never a shared [[fixture]]): runs
    * `body` on a fresh store path inside a new temp directory whose name
    * starts with `prefix`, and returns the rows of the frame it yields
    * collected to the driver, so the directory is deleted on return. */
  private[graft] def scratchStore(s: SparkSession, prefix: String)(
      body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val df = body(s"$root/store")
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    } finally ResumableWrite.deleteRecursively(root)
  }

  /** q_bloom_index_scan probe set: seven present doc ids + two absent
    * ones (the absent probes prove Bloom false positives never become
    * result rows — only possibly extra files). Shared verbatim by the
    * oracle's IN list. */
  private[graft] val BloomIndexProbeKeys: Seq[Long] =
    Seq(3L, 57L, 111L, 222L, 333L, 444L, 499L, 100001L, 999999L)

  /** PageRank oracle (shared by q_pagerank and q_pagerank_resume): the 3
    * rounds unrolled as CTEs in the identical scaled integer arithmetic. */
  private[graft] lazy val PageRankOracleSql: String = {
    val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
    val round = (i: Int) =>
      s"""s$i AS (SELECT a.dst AS id, sum(r.pr // d.deg) AS s FROM adj a
         |  JOIN deg d ON a.src = d.src JOIN r${i - 1} r ON r.id = a.src GROUP BY 1),
         |r$i AS (SELECT d.src AS id,
         |  CAST(150000000000 + (coalesce(s.s, 0) * 17) // 20 AS BIGINT) AS pr
         |  FROM deg d LEFT JOIN s$i s ON s.id = d.src)""".stripMargin
    s"""WITH pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
       |e AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
       |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
       |  WHERE $d <= 500000.0),
       |adj AS (SELECT id_a AS src, id_b AS dst FROM e
       |  UNION ALL SELECT id_b, id_a FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1),
       |r0 AS (SELECT src AS id, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT id, pr FROM r3""".stripMargin
  }

  /** HITS oracle: two unrolled (authority, hub) half-step pairs with the
    * identical scaled-integer max normalization (`raw * scale // max`,
    * scalar-subquery maxima) over the distinct user→cell edge set. */
  private[graft] lazy val HitsOracleSql: String = {
    val cell =
      "least(63, greatest(0, CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT))) * 64 + " +
        "least(63, greatest(0, CAST(floor((1.0 - ln(tan(least(85.05112878, greatest(-85.05112878, lat)) * pi() / 180.0) " +
        "+ 1.0 / cos(least(85.05112878, greatest(-85.05112878, lat)) * pi() / 180.0)) / pi()) / 2.0 * 64.0) AS BIGINT)))"
    val round = (i: Int) =>
      s"""ar$i AS (SELECT e.dst AS id, sum(h.h) AS raw FROM e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1),
         |a$i AS (SELECT id, CAST(raw * 1000000 // (SELECT max(raw) FROM ar$i) AS BIGINT) AS a FROM ar$i),
         |hr$i AS (SELECT e.src AS id, sum(a.a) AS raw FROM e JOIN a$i a ON a.id = e.dst GROUP BY 1),
         |h$i AS (SELECT id, CAST(raw * 1000000 // (SELECT max(raw) FROM hr$i) AS BIGINT) AS h FROM hr$i)""".stripMargin
    s"""WITH pts AS (SELECT user_id, ${latSqlFor("event_id")} AS lat, ${lonSqlFor("event_id")} AS lon FROM events),
       |e AS (SELECT DISTINCT user_id AS src, $cell AS dst FROM pts),
       |h0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS h FROM e),
       |${round(1)},
       |${round(2)}
       |SELECT 'hub' AS role, id, h AS score FROM h2
       |UNION ALL SELECT 'authority' AS role, id, a AS score FROM a2""".stripMargin
  }

  /** Fixed k-means seeds (cluster_id, x, y) on the [0,18000]x[0,36000]
    * centi-degree grid — THE single definition shared by the q_kmeans
    * query and its oracle VALUES list so they cannot drift. */
  private[graft] val KMeansSeeds: Seq[(Int, Long, Long)] = Seq(
    (0, 3000L, 6000L), (1, 3000L, 18000L), (2, 3000L, 30000L),
    (3, 9000L, 12000L), (4, 9000L, 24000L),
    (5, 15000L, 6000L), (6, 15000L, 18000L), (7, 15000L, 30000L))

  /** Integer-Lloyd oracle: 3 unrolled (assign, update) round pairs; the
    * row_number tie rule (distance, then cluster id) mirrors the engine's
    * min-struct, and `//` on non-negative sums mirrors `div`. */
  private[graft] lazy val KMeansOracleSql: String = {
    val values = KMeansSeeds.map { case (i, x, y) => s"($i, 0, $x, $y)" }.mkString(", ")
    val round = (i: Int) =>
      s"""a$i AS (SELECT __id, x, y, cluster_id FROM (
         |  SELECT p.__id, p.x, p.y, c.cluster_id,
         |    row_number() OVER (PARTITION BY p.__id ORDER BY
         |      (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy), c.cluster_id) AS rn
         |  FROM pts p, c${i - 1} c) t WHERE rn = 1),
         |g$i AS (SELECT cluster_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy
         |  FROM a$i GROUP BY 1),
         |c$i AS (SELECT c.cluster_id, coalesce(g.n, 0) AS n,
         |  CAST(CASE WHEN g.n IS NULL THEN c.cx ELSE g.sx // g.n END AS BIGINT) AS cx,
         |  CAST(CASE WHEN g.n IS NULL THEN c.cy ELSE g.sy // g.n END AS BIGINT) AS cy
         |  FROM c${i - 1} c LEFT JOIN g$i g USING (cluster_id))""".stripMargin
    s"""WITH c0(cluster_id, n, cx, cy) AS (SELECT * FROM (VALUES $values) v),
       |pts AS (SELECT o_orderkey AS __id,
       |  (o_orderkey * 9973 + 12345) % 18000 AS x,
       |  (o_orderkey * 31337 + 54321) % 36000 AS y FROM orders),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT cluster_id, n, cx, cy FROM c3""".stripMargin
  }

  /** TextRank keyword oracle: unrolled scaled-integer PageRank rounds in
    * the [[PageRankOracleSql]] style, but WEIGHTED by the bigram
    * co-occurrence counts (`pr * w // wdeg` per directed edge) over the
    * word graph (adjacent whitespace tokens, canonical pair, hapax
    * filter), finished with the (pr DESC, word ASC) top-20 cut. */
  private[graft] lazy val TextRankOracleSql: String = {
    val round = (i: Int) =>
      s"""s$i AS (SELECT a.dst AS id, sum((r.pr * a.w) // d.wdeg) AS s FROM adj a
         |  JOIN deg d ON a.src = d.src JOIN r${i - 1} r ON r.id = a.src GROUP BY 1),
         |r$i AS (SELECT d.src AS id,
         |  CAST(150000000 + (coalesce(s.s, 0) * 17) // 20 AS BIGINT) AS pr
         |  FROM deg d LEFT JOIN s$i s ON s.id = d.src)""".stripMargin
    raw"""WITH docs AS (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks FROM documents),
       |big AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM docs, unnest(range(1, len(toks))) AS t(i)),
       |e AS (SELECT least(w1, w2) AS id_a, greatest(w1, w2) AS id_b, count(*) AS w FROM big
       |  WHERE w1 <> w2 GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS (SELECT id_a AS src, id_b AS dst, w FROM e
       |  UNION ALL SELECT id_b, id_a, w FROM e),
       |deg AS (SELECT src, sum(w) AS wdeg FROM adj GROUP BY 1),
       |r0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS pr FROM deg),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT id AS word, pr FROM r3 ORDER BY pr DESC, id LIMIT 20""".stripMargin
  }

  /** The three lat/lng-rect query regions of the rect PIP join (one wraps
    * the antimeridian); bounds sit on .005 offsets so no derived point can
    * land within fp distance of a boundary. */
  private[graft] def rectRegions: Seq[(String, S2Region)] = SparkEntryRegions.rects

  private[graft] val RectOracleSql = {
    val branches = SparkEntryRegions.rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
      s"""SELECT '$rid' AS region_id, o_orderkey FROM pts
         | WHERE ${SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi)}""".stripMargin
    }
    s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders)
       |${branches.mkString("\nUNION ALL\n")}
       |""".stripMargin
  }

  /** Shell+hole diamond polygon (`S2Polygon.cs:944-964` containment
    * semantics). Both loops are convex, so spherical containment IS
    * ANSI-expressible: inside iff the point's unit vector lies on the
    * interior side of every edge's great-circle plane — see
    * [[convexLoopSql]]. The reference's candy-cane loop (non-convex,
    * full-longitude) stays covered by the ScalaTest brute-force comparison
    * (OperatorSpec / PipJoinExecSpec). */
  private[graft] val DiamondShell = Seq((0.0, -30.0), (30.0, 0.0), (0.0, 30.0), (-30.0, 0.0))
  private[graft] val DiamondHole = Seq((0.0, -10.0), (10.0, 0.0), (0.0, 10.0), (-10.0, 0.0))

  private[graft] def polygonRegions: Seq[(String, S2Region)] = {
    import graft.s2.TextShapes
    def loopText(vs: Seq[(Double, Double)]) = vs.map { case (la, lo) => s"$la:$lo" }.mkString(", ")
    Seq("p_diamond_holed" ->
      TextShapes.polygon(s"${loopText(DiamondShell)}; ${loopText(DiamondHole)}"))
  }

  /** 25 deterministic convex hexagon loops keyed by n_nationkey — the
    * polygon-TABLE fixture of q_poly_table_join. Vertices are computed
    * driver-side in doubles and joined onto `nation` as data (a production
    * polygon catalog IS data read from storage, not formulas), so the
    * engine kernels and the oracle's inlined edge-plane normals consume
    * bit-identical coordinates — no Spark-vs-DuckDB trig to reconcile.
    * Centers stay within |lat| < 55 and |lon| < 170 so every hexagon is
    * spherically convex and clear of poles/antimeridian; convexity, CCW
    * orientation and the oracle's edge-plane margin are asserted in
    * PolygonTableJoinSpec. Each tuple is (regionId, verts(lat,lon) CCW,
    * center(lat,lon)). */
  private[graft] lazy val HexPolys: Seq[(Long, Seq[(Double, Double)], (Double, Double))] =
    (0L until 25L).map { k =>
      val clat = ((k * 7919 + 1234) % 11000) / 100.0 - 55.0
      val clon = ((k * 104729 + 5678) % 34000) / 100.0 - 170.0
      val r = 2.0 + (k % 3).toDouble
      val verts = (0 until 6).map { i =>
        val th = 2.0 * math.Pi * i.toDouble / 6.0 + 0.3
        (clat + r * math.sin(th), clon + 1.35 * r * math.cos(th))
      }
      (k, verts.toSeq, (clat, clon))
    }

  /** The HexPolys fixture as a polygon-table DataFrame anchored on the
    * nation parquet: (region_id, lats, lons) with parallel vertex arrays. */
  private[graft] def hexPolyTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hexDf = HexPolys
      .map { case (k, vs, _) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("region_id", "lats", "lons")
    nation(s, dir).select(col("n_nationkey").cast("long").as("region_id"))
      .join(hexDf, "region_id")
  }

  /** 25 deterministic diamond-with-hole polygons keyed by n_nationkey — the
    * MULTI-LOOP polygon-table fixture of q_holed_table_join (same design
    * rules as [[HexPolys]]: driver-exact doubles, mid-latitude, clear of
    * the antimeridian; both loops convex so the oracle stays
    * edge-plane-expressible). Each tuple is (regionId, loops (shell then
    * hole, each CCW (lat,lon) verts), center(lat,lon) — inside the hole,
    * usable as the orientation resolver for BOTH convex loops). */
  private[graft] lazy val HoledPolys: Seq[(Long, Seq[Seq[(Double, Double)]], (Double, Double))] =
    (0L until 25L).map { k =>
      // centers sit 0.0037/0.0041 OFF the 0.01-degree derived-point grid:
      // diamond vertices are axis-aligned with their center, so an
      // on-grid center would put vertices exactly on reachable point
      // coordinates and a vertex-coincident point has zero edge-plane
      // margin (the hexagons are immune via their irrational sin/cos
      // offsets; these need the nudge)
      val clat = ((k * 6133 + 2718) % 11000) / 100.0 - 55.0037
      val clon = ((k * 93911 + 3141) % 34000) / 100.0 - 170.0041
      val r = 3.0 + (k % 2).toDouble
      val w = 1.3 * r
      def diamond(rr: Double, ww: Double) = Seq(
        (clat, clon + ww), (clat + rr, clon), (clat, clon - ww), (clat - rr, clon))
      (k, Seq(diamond(r, w), diamond(r / 3.0, w / 3.0)), (clat, clon))
    }

  /** The HoledPolys fixture as a multi-loop polygon-table DataFrame
    * anchored on the nation parquet: (region_id, loop_lats, loop_lons)
    * with nested vertex arrays (loop 0 shell, loop 1 hole). */
  private[graft] def holedPolyTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = HoledPolys.map { case (k, loops, _) =>
      (k, loops.map(_.map(_._1).toArray).toArray, loops.map(_.map(_._2).toArray).toArray)
    }.toDF("region_id", "loop_lats", "loop_lons")
    nation(s, dir).select(col("n_nationkey").cast("long").as("region_id"))
      .join(df, "region_id")
  }

  /** 25 deterministic convex hexagons with DELIBERATELY heterogeneous radii
    * (0.45..7.05 degrees, ~250x area spread) — the fixture of
    * q_poly_adaptive_join, where each row must pick its own covering level.
    * Same design rules as [[HexPolys]]. */
  private[graft] lazy val HexPolysVar: Seq[(Long, Seq[(Double, Double)], (Double, Double))] =
    (0L until 25L).map { k =>
      val clat = ((k * 8377 + 401) % 11000) / 100.0 - 55.0
      val clon = ((k * 99371 + 6029) % 34000) / 100.0 - 170.0
      val r = 0.45 + (k % 12).toDouble * 0.6
      val verts = (0 until 6).map { i =>
        val th = 2.0 * math.Pi * i.toDouble / 6.0 + 0.7
        (clat + r * math.sin(th), clon + 1.35 * r * math.cos(th))
      }
      (k, verts.toSeq, (clat, clon))
    }

  private[graft] def hexPolyVarTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hexDf = HexPolysVar
      .map { case (k, vs, _) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("region_id", "lats", "lons")
    nation(s, dir).select(col("n_nationkey").cast("long").as("region_id"))
      .join(hexDf, "region_id")
  }

  /** 25 deterministic 3-vertex polylines keyed by n_nationkey — the
    * polyline-table fixture of q_polyline_join (same design rules as
    * [[HexPolys]]: driver-exact doubles, mid-latitude, clear of the
    * antimeridian; the distance classification's exactness precondition —
    * no point within fp distance of the radius boundary — is asserted in
    * PolylineJoinSpec). */
  private[graft] lazy val FixturePolylines: Seq[(Long, Seq[(Double, Double)])] =
    (0L until 25L).map { k =>
      val clat = ((k * 4733 + 911) % 10000) / 100.0 - 50.0
      val clon = ((k * 88811 + 77) % 33000) / 100.0 - 165.0
      (k, Seq((clat, clon), (clat + 2.2, clon + 3.1), (clat - 1.7, clon + 6.3)))
    }

  /** Dense deterministic route fixture for the polyline CROSSING join:
    * 25 three-vertex chains, centers confined to a 12x16 degree box with
    * varied headings so pairs genuinely cross (18 of 300 do; minimum
    * |triple-product| over every edge-pair sign decision is 4.7e-6 — eleven
    * orders above fp noise, so engine and oracle decide identically). */
  private[graft] lazy val FixtureRoutes: Seq[(Long, Seq[(Double, Double)])] =
    (0L until 25L).map { k =>
      val clat = ((k * 3571 + 101) % 1200) / 100.0 - 6.0
      val clon = ((k * 9241 + 53) % 1600) / 100.0 - 8.0
      val ang = ((k * 47) % 360) * math.Pi / 180.0
      val (d1, d2) = (3.0, 2.5)
      (k, Seq(
        (clat, clon),
        (clat + d1 * math.cos(ang), clon + d1 * math.sin(ang)),
        (clat + d1 * math.cos(ang) + d2 * math.cos(ang + 0.7),
          clon + d1 * math.sin(ang) + d2 * math.sin(ang + 0.7))))
    }

  /** FixtureRoutes as a chain-table DataFrame anchored on the nation
    * parquet: (line_id, lats, lons). */
  private[graft] def routeTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = FixtureRoutes
      .map { case (k, vs) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("line_id", "lats", "lons")
    nation(s, dir).select(col("n_nationkey").cast("long").as("line_id"))
      .join(df, "line_id")
  }

  private[graft] val PolylineJoinRadiusM = 150000.0
  private[graft] val KnnRegionsRadiusM = 500000.0
  private[graft] val DbscanEpsM = 300000.0
  private[graft] val DbscanMinPts = 3
  private[graft] val StJoinRadiusM = 1000000.0
  private[graft] val StJoinWindowSec = 14400L
  private[graft] val ContactRadiusM = 300000.0
  private[graft] val ContactWindowSec = 3600L
  private[graft] val KnnPolylinesRadiusM = 800000.0

  /** The FixturePolylines fixture as a polyline-table DataFrame anchored on
    * the nation parquet: (line_id, lats, lons). */
  private[graft] def polylineTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = FixturePolylines
      .map { case (k, vs) => (k, vs.map(_._1).toArray, vs.map(_._2).toArray) }
      .toDF("line_id", "lats", "lons")
    nation(s, dir).select(col("n_nationkey").cast("long").as("line_id"))
      .join(df, "line_id")
  }

  /** Track-point fixture for map matching: each event pins to a fixture
    * vertex (event_id % 75) and jitters ±0.15° around it — every fix sits
    * well inside [[PolylineJoinRadiusM]] of its line, with per-user
    * sequences long enough that the Viterbi transition term decides real
    * choices. The jitter arithmetic is integer-then-one-division, shared
    * verbatim with the oracle. */
  private[graft] def mapMatchPoints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val verts = FixturePolylines.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case ((la, lo), i) => (k * 3 + i, la, lo) }
    }.toDF("__vi", "__vlat", "__vlon")
    events(s, dir)
      .withColumn("__vi", col("event_id") % 75)
      .join(broadcast(verts), "__vi")
      .withColumn("lat", col("__vlat") +
        ((col("event_id") * 131 + 17) % 301 - 150).cast("double") / 1000.0)
      .withColumn("lon", col("__vlon") +
        ((col("event_id") * 577 + 29) % 301 - 150).cast("double") / 1000.0)
      .select("user_id", "ts", "event_id", "lat", "lon")
  }

  /** Shared CTEs of the LPA-family oracles (q_lpa / q_modularity): the
    * 500 km proximity pair join `e`, its directed adjacency, and the
    * three synchronous mode-label rounds ending at `l3`. */
  private[graft] def proximityLpaCtes: String = {
    val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
    val round = (i: Int) =>
      s"""cnt$i AS (SELECT a.dst AS id, l.label, count(*) AS c FROM adj a
         |  JOIN l${i - 1} l ON l.id = a.src GROUP BY 1, 2),
         |l$i AS (SELECT id, label FROM (SELECT id, label,
         |  row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |  FROM cnt$i) t WHERE rn = 1)""".stripMargin
    s"""pts AS (SELECT c_custkey, $CustLatSql AS lat, $CustLonSql AS lon FROM customer),
       |e AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
       |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
       |  WHERE $d <= 500000.0),
       |adj AS (SELECT id_a AS src, id_b AS dst FROM e
       |  UNION ALL SELECT id_b, id_a FROM e),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM adj),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** Shared CTE prefix of the two map-match oracles (q_map_match /
    * q_map_match_stream): the jittered track fixture, per-edge exact
    * distances, 10 m quantized emissions within the radius, the step
    * numbering, and the step-joined candidate states — everything up to
    * the DP itself. Callers append their own recursive dynamic. */
  private[graft] def mapMatchOracleBase: String = {
    val vertRows = FixturePolylines.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case ((la, lo), i) => s"(${k * 3 + i}, $la, $lo)" }
    }.mkString(", ")
    val branches = FixturePolylines.flatMap { case (k, verts) =>
      val pts = verts.map { case (la, lo) => graft.s2.S2LatLng.fromDegrees(la, lo).toPoint }
      pts.indices.dropRight(1).map { i =>
        s"""SELECT user_id, ts, event_id, CAST($k AS BIGINT) AS line,
           | CAST($i AS INTEGER) AS edge,
           | ${edgeDistSql(pts(i), pts(i + 1))} * 6367000.0 AS d FROM xyz""".stripMargin
      }
    }
    s"""pts AS (
       |  SELECT user_id, ts, event_id,
       |    v.vlat + CAST((event_id * 131 + 17) % 301 - 150 AS DOUBLE) / 1000.0 AS lat,
       |    v.vlon + CAST((event_id * 577 + 29) % 301 - 150 AS DOUBLE) / 1000.0 AS lon
       |  FROM events JOIN (VALUES $vertRows) v(vi, vlat, vlon) ON event_id % 75 = v.vi),
       |xyz AS (SELECT user_id, ts, event_id,
       |  cos(radians(lat))*cos(radians(lon)) AS px,
       |  cos(radians(lat))*sin(radians(lon)) AS py,
       |  sin(radians(lat)) AS pz FROM pts),
       |cand0 AS (${branches.mkString("\nUNION ALL\n")}),
       |cand AS (SELECT user_id, ts, event_id, line, edge,
       |    CAST(round(d / 10.0) AS BIGINT) AS e
       |  FROM cand0 WHERE d <= 150000.0),
       |steps AS (SELECT user_id, event_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step
       |  FROM (SELECT DISTINCT user_id, ts, event_id FROM cand) t),
       |c2 AS (SELECT c.user_id, s.step, c.line, c.edge, c.e
       |  FROM cand c JOIN steps s USING (user_id, event_id))""".stripMargin
  }

  /** The (cost, line, edge) tie rule as one zero-pad-sortable string. */
  private[graft] def mapMatchTieKey(c: String, l: String, e: String): String =
    s"lpad(CAST($c AS VARCHAR), 19, '0') || lpad(CAST($l AS VARCHAR), 10, '0') || " +
      s"lpad(CAST($e AS VARCHAR), 5, '0')"

  private[graft] val MapMatchTransSql =
    "CASE WHEN p.line = c.line THEN abs(p.edge - c.edge) * 100 ELSE 20000 END"

  /** Literal SQL transcription of the kernel's point-to-edge distance
    * (`S2EdgeUtil.GetDistance`, S2EdgeUtil.scala:91-98) over a unit vector
    * (px, py, pz), in RADIANS: interior case asin(|p.n|/|n|) guarded by the
    * two simpleCcw sign tests ((n x a).p > 0 and (b x n).p > 0, the triple-
    * product rewrites of simpleCcw(n,a,p) / simpleCcw(p,b,n)), endpoint
    * case 2 asin(min-chord/2). All edge constants are kernel-computed
    * doubles inlined as exact literals, so engine and oracle agree to fp
    * rounding of the SAME formula — PolylineJoinSpec pins that no derived
    * point sits within 1e-3 m of the radius boundary. */
  private[graft] def edgeDistSql(aP: graft.s2.S2Point, bP: graft.s2.S2Point): String = {
    import graft.s2.S2Predicates
    val n = S2Predicates.robustCrossProd(aP, bP)
    val m1 = n.cross(aP)
    val m2 = bP.cross(n)
    val nn = n.norm
    s"""(CASE WHEN (px*(${m1.x}) + py*(${m1.y}) + pz*(${m1.z}) > 0)
       |        AND (px*(${m2.x}) + py*(${m2.y}) + pz*(${m2.z}) > 0)
       |  THEN asin(least(1.0, abs(px*(${n.x}) + py*(${n.y}) + pz*(${n.z})) / $nn))
       |  ELSE 2 * asin(least(1.0, 0.5 * sqrt(least(
       |    (px-(${aP.x}))*(px-(${aP.x})) + (py-(${aP.y}))*(py-(${aP.y})) + (pz-(${aP.z}))*(pz-(${aP.z})),
       |    (px-(${bP.x}))*(px-(${bP.x})) + (py-(${bP.y}))*(py-(${bP.y})) + (pz-(${bP.z}))*(pz-(${bP.z}))))))
       |  END)""".stripMargin
  }

  /** Exact spherical containment for a CONVEX loop as an ANSI-SQL predicate
    * over a unit vector (px, py, pz): strictly inside every edge plane
    * v_i x v_{i+1}. The plane normals are computed here with the very same
    * double arithmetic as the kernel (`S2LatLng.toPoint`, `S2Point.cross`)
    * and inlined as exact round-trip literals, so engine and oracle evaluate
    * the sign of the same determinant `(v_i x v_{i+1}) . p` that
    * `RobustCcw` decides (`S2.cs` RobustCcw); they can only disagree for
    * points within ~1e-15 of an edge plane, while the nearest derived grid
    * point sits >= ~1e-8 rad away (asserted in OracleMarginSpec).
    * Orientation (which side is "inside") is resolved against a known
    * interior point, so the emitted predicate does not depend on the listed
    * vertex order. */
  private[graft] def convexLoopSql(vertsLatLon: Seq[(Double, Double)],
                            interiorLatLon: (Double, Double)): String = {
    import graft.s2.S2LatLng
    val pts = vertsLatLon.map { case (la, lo) => S2LatLng.fromDegrees(la, lo).toPoint }
    val c = S2LatLng.fromDegrees(interiorLatLon._1, interiorLatLon._2).toPoint
    val normals = pts.indices.map(i => pts(i).cross(pts((i + 1) % pts.size)))
    val insidePositive = normals.map(n => c.dot(n) > 0)
    require(insidePositive.distinct.size == 1, s"loop not convex around $interiorLatLon")
    val op = if (insidePositive.head) ">" else "<"
    normals
      .map(n => s"(px*(${n.x}) + py*(${n.y}) + pz*(${n.z}) $op 0)")
      .mkString("(", " AND ", ")")
  }

  private[graft] val CircleRadiusM = 2500000.0
  private[graft] val CircleBandM = 50.0

  /** Shared oracle of q_geofence and q_geofence_stream: per-region lag SQL
    * over (user, ts, event_id) order. */
  private[graft] lazy val GeofenceOracleSql = {
    val evLat = latSqlFor("event_id")
    val evLon = lonSqlFor("event_id")
    val branches = SparkEntryRegions.rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
      s"""SELECT '$rid' AS region_id, user_id, event_id,
         |  CASE WHEN inr THEN 'enter' ELSE 'exit' END AS transition FROM (
         |  SELECT user_id, event_id, inr,
         |    lag(inr) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pinr
         |  FROM (SELECT user_id, ts, event_id,
         |    (${SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi)}) AS inr FROM p) x) t
         |WHERE inr <> COALESCE(pinr, FALSE)""".stripMargin
    }
    s"""WITH p AS (SELECT user_id, ts, event_id, $evLat AS lat, $evLon AS lon FROM events)
       |${branches.mkString("\nUNION ALL\n")}
       |""".stripMargin
  }

  /** First-match region label in rectBounds order, else 'none' — the SQL
    * twin of Trajectories.regionLabel (same order rule, same wrap-aware
    * rect predicate). */
  private[graft] lazy val RegionLabelCaseSql = {
    val whens = SparkEntryRegions.rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
      s"WHEN ${SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi)} THEN '$rid'"
    }.mkString(" ")
    s"CASE $whens ELSE 'none' END"
  }

  private[graft] lazy val OdFlowsOracleSql = {
    val evLat = latSqlFor("event_id")
    val evLon = lonSqlFor("event_id")
    s"""WITH p AS (SELECT user_id, ts, event_id, $evLat AS lat, $evLon AS lon FROM events),
       |lab AS (SELECT user_id, ts, event_id, $RegionLabelCaseSql AS region FROM p),
       |f AS (SELECT region, lag(region) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM lab)
       |SELECT prev AS from_region, region AS to_region, count(*) AS n_trips
       |FROM f WHERE prev IS NOT NULL AND prev <> region
       |GROUP BY 1, 2""".stripMargin
  }

  private[graft] lazy val DwellOracleSql = {
    val evLat = latSqlFor("event_id")
    val evLon = lonSqlFor("event_id")
    s"""WITH p AS (SELECT user_id, ts, event_id, $evLat AS lat, $evLon AS lon FROM events),
       |lab AS (SELECT user_id, ts, event_id, $RegionLabelCaseSql AS region FROM p),
       |d AS (SELECT *, CASE WHEN region IS DISTINCT FROM lag(region)
       |  OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN 1 ELSE 0 END AS chg FROM lab),
       |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |  ROWS UNBOUNDED PRECEDING) AS island FROM d)
       |SELECT user_id, min(region) AS region_id, min(event_id) AS enter_order,
       | count(*) AS n_points, epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_micros
       |FROM i GROUP BY user_id, island
       |HAVING min(region) <> 'none'""".stripMargin
  }

  /** Shared oracle of q_pip_circle and q_pip_circle_sql: exact haversine
    * radius test with the 50 m exclusion band both engine paths apply. */
  private[graft] lazy val CircleOracleSql = {
    val d = haversineExpr("lat", "lon", "10.0", "20.0")
    s"""WITH pts AS (SELECT o_orderkey, $LatSql AS lat, $LonSql AS lon FROM orders)
       |SELECT 'c_2500km' AS region_id, o_orderkey FROM pts
       |WHERE $d < ${CircleRadiusM - CircleBandM}""".stripMargin
  }

  private[graft] def haversineExpr(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val rl1 = s"(($lat1) * (pi() / 180))"
    val rl2 = s"(($lat2) * (pi() / 180))"
    val rg1 = s"(($lon1) * (pi() / 180))"
    val rg2 = s"(($lon2) * (pi() / 180))"
    val hx = s"(power(sin(0.5 * ($rl2 - $rl1)), 2) + power(sin(0.5 * ($rg2 - $rg1)), 2) * cos($rl1) * cos($rl2))"
    s"2 * atan2(sqrt($hx), sqrt(greatest(0.0, 1.0 - $hx))) * 6367000.0"
  }

  private[graft] val KnnQueries = Seq(
    ("q_vienna", 48.2, 16.37),
    ("q_sydney", -33.87, 151.2),
    ("q_lima", -12.05, -77.05))

  // ---------------------------------------------------------------------------

  /** Flagship on sf0.001: synthesize the image+caption table, tile-assign,
    * covering PIP join, verify payload invariants. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val images = ImagePayload.synthesize(part(spark, dir).select("p_partkey"), "p_partkey")
    val verified = ImagePayload.verifyPayload(images, "p_partkey")
      .where(col("psnr_ok") && col("caption_ok"))
    val tiled = Tiling.tileAssign(verified, "lat", "lon", 8)
    SpatialJoin.pipJoin(tiled, "lat", "lon", rectRegions)
      .select("region_id", "image_id", "tile_token", "lat", "lon")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogSeries.queries ++ CatalogTrajectory.queries ++ CatalogTiling.queries ++ CatalogSpatial.queries ++ CatalogGraphs.queries ++ CatalogDedup.queries ++ CatalogEmbedding.queries ++ CatalogText.queries ++ CatalogCuration.queries ++ CatalogMedia.queries ++ CatalogStreaming.queries

  /** Rect regions for the part-key-derived image points (same bounds). */
  private[graft] def rectRegionsForParts: Seq[(String, S2Region)] = rectRegions

  private[graft] val PartLatSql = latSqlFor("p_partkey")
  private[graft] val PartLonSql = lonSqlFor("p_partkey")
  private[graft] val CustLatSql = latSqlFor("c_custkey")
  private[graft] val CustLonSql = lonSqlFor("c_custkey")

  /** Rect bounds for q_rect_join, ONE definition shared by the Spark query
    * (expr) and the DuckDB oracle so both sides compute bit-identical
    * doubles. Half-sizes carry a .005 fraction while centers are multiples
    * of 0.01, so no derived bound can land exactly on +-180 (where the
    * kernel identifies -pi with pi but naive degree SQL would not). */
  private[graft] val RectLatLoSql = s"greatest(-89.995, ($CustLatSql) - 1.505)"
  private[graft] val RectLatHiSql = s"least(89.995, ($CustLatSql) + 1.505)"
  private[graft] val RectLonLoSql =
    s"CASE WHEN ($CustLonSql) - 2.005 < -180.0 THEN ($CustLonSql) - 2.005 + 360.0 ELSE ($CustLonSql) - 2.005 END"
  private[graft] val RectLonHiSql =
    s"CASE WHEN ($CustLonSql) + 2.005 > 180.0 THEN ($CustLonSql) + 2.005 - 360.0 ELSE ($CustLonSql) + 2.005 END"

  /** Shared CTE prefix (docs + distinct word-trigram sets) and Jaccard
    * expression for the trigram-oracle family: q_minhash_pairs,
    * q_ngram_jaccard, q_dup_clusters and q_split_leakfree MUST stay
    * bit-identical on this derivation for their equivalence arguments to
    * hold — so it exists exactly once. Plain (non-interpolated) string:
    * the `\s+` must reach DuckDB with a single backslash. */
  private[graft] def triCteOver(src: String): String =
    s"""docs AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks FROM $src),
       |tri AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
       |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg FROM docs)""".stripMargin

  private[graft] val TriCte = triCteOver("documents")

  private[graft] val TriJaccard =
    "CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) / len(list_distinct(a.tg || b.tg))"

  /** Shared CTE prefix of the sketch oracles (q_hll_distinct,
    * q_kmv_distinct, q_kmv_overlap): distinct per-LANGUAGE word trigrams,
    * their portable hashes — the same trigram derivation as [[TriCte]]
    * keyed by lang instead of doc_id, hash fold identical to the simhash
    * oracle's — and the finalized hashes (`sfin`) whose two-round
    * square+affine arithmetic comes from [[Sketches.finalizeSqlOf]], the
    * one definition. Prefix is a plain string: `\s+` stays literal. */
  private[graft] val SketchHashCte =
    """sdocs AS (SELECT lang, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks FROM documents),
      |stri AS (SELECT DISTINCT lang, shingle FROM (
      |  SELECT lang, unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |    i -> array_to_string(list_filter([toks[i], toks[i+1], toks[i+2]], t -> t IS NOT NULL), ' '))) AS shingle
      |  FROM sdocs) q),
      |shashed AS (SELECT lang, shingle, list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length(shingle) + 1),
      |  i -> CAST(ascii(substr(shingle, i, 1)) AS BIGINT)), (h, c) -> (h * 131 + c) % 2147483647) AS h FROM stri)""".stripMargin +
    s""",
      |sfin AS (SELECT lang, shingle, ${Sketches.finalizeSqlOf("h")} AS h FROM shashed)""".stripMargin

  /** The portable-hash fold over a VARCHAR column named `v` (DuckDB form
    * of [[Dedup.portableHashOf]]), for oracles hashing non-shingle values. */
  private[graft] val SketchValueHashSql =
    """list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length(v) + 1),
      |  i -> CAST(ascii(substr(v, i, 1)) AS BIGINT)), (h, c) -> (h * 131 + c) % 2147483647)""".stripMargin

  /** Recursive-CTE connected components over the >= `minJ` trigram-jaccard
    * pair graph, ending in a `cc(doc_id, cluster_id)` CTE. */
  /** Brute-force spatio-temporal pairs: all-pairs haversine + exact
    * integer-microsecond time-window predicate. Shared by q_st_join and
    * its stream-stream twin q_st_join_stream. */
  /** Shared oracle of q_speed_flags and its streaming twin. */
  private[graft] lazy val SpeedFlagsOracleSql: String = {
    val evLat = latSqlFor("event_id")
    val evLon = lonSqlFor("event_id")
    val d = haversineExpr("plat", "plon", "lat", "lon")
    s"""WITH p AS (SELECT user_id, ts, event_id, $evLat AS lat, $evLon AS lon FROM events),
       |s AS (SELECT user_id, event_id,
       |        lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, lat, lon,
       |        epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_micros
       |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, event_id,
       |  CASE WHEN plat IS NULL THEN NULL
       |       ELSE CAST(round($d) AS BIGINT) END AS seg_m,
       |  dt_micros,
       |  COALESCE(CASE WHEN plat IS NULL THEN NULL
       |       ELSE CAST(round($d) AS BIGINT) END * 1000000 > 340 * dt_micros,
       |    false) AS is_jump
       |FROM s""".stripMargin
  }

  private[graft] lazy val StJoinOracleSql: String = {
    val d = haversineExpr("a.lat", "a.lon", "b.lat", "b.lon")
    s"""WITH pts AS (SELECT event_id AS id, epoch_us(ts) AS tus,
       |  ${latSqlFor("event_id")} AS lat, ${lonSqlFor("event_id")} AS lon FROM events)
       |SELECT a.id AS id_a, b.id AS id_b
       |FROM pts a JOIN pts b ON a.id < b.id
       |WHERE abs(a.tus - b.tus) <= ${StJoinWindowSec * 1000000L}
       |  AND $d <= $StJoinRadiusM""".stripMargin
  }

  private[graft] def ccCte(minJ: Double): String =
    s"""p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM tri a JOIN tri b ON a.doc_id < b.doc_id
       |  WHERE $TriJaccard >= $minJ),
       |edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
       |reach(src, dst) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst),
       |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  def oracleSql: Map[String, String] =
    CatalogSeries.oracles ++ CatalogTrajectory.oracles ++ CatalogTiling.oracles ++ CatalogSpatial.oracles ++ CatalogGraphs.oracles ++ CatalogDedup.oracles ++ CatalogEmbedding.oracles ++ CatalogText.oracles ++ CatalogCuration.oracles ++ CatalogMedia.oracles ++ CatalogStreaming.oracles
}

/** Query regions shared by SparkEntry, the catalog files and perfbench. */
object SparkEntryRegions {
  import graft.s2.{R1Interval, S1Interval, S2LatLngRect, S2Region}

  /** THE one definition of the query-rect bounds, in degrees
    * (id, latLo, latHi, lonLo, lonHi; lonLo > lonHi wraps the
    * antimeridian). Every kernel region, SQL oracle branch and pure-SQL
    * query derives from this seq so the four former hand-copies cannot
    * drift. Bounds sit on .005 offsets so no derived grid point can land
    * within fp distance of a boundary. */
  val rectBounds: Seq[(String, Double, Double, Double, Double)] = Seq(
    ("r_europe", 35.005, 60.005, -10.005, 30.005),
    ("r_andes", -40.005, -5.005, -80.005, -60.005),
    ("r_pacific_wrap", -15.005, 15.005, 160.005, -160.005))

  /** ANSI predicate for "point (lat, lon) in the rect", wrap-aware —
    * shared by every SQL oracle branch that mentions these rects. */
  def rectPredSql(latLo: Double, latHi: Double, lonLo: Double, lonHi: Double): String =
    if (lonLo <= lonHi)
      s"lat BETWEEN $latLo AND $latHi AND lon BETWEEN $lonLo AND $lonHi"
    else
      s"lat BETWEEN $latLo AND $latHi AND (lon >= $lonLo OR lon <= $lonHi)"

  def rects: Seq[(String, S2Region)] =
    rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
      rid -> (S2LatLngRect(
        R1Interval(math.toRadians(latLo), math.toRadians(latHi)),
        S1Interval(math.toRadians(lonLo), math.toRadians(lonHi))): S2Region)
    }
}
