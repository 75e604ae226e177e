package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.s2functions._

/** Raster-tile assignment: every row gets its S2 cell at a target level —
  * the distributed form of the reference's `CellIDForCoordinates`
  * (`Extensions/OpenSkyS2.cs:43-48`). One codegen'd expression inside the
  * scan stage; zero exchanges. */
object Tiling {

  /** Adds `tile` (LongType cell id) and `tile_token` columns. */
  def tileAssign(df: DataFrame, latCol: String, lonCol: String, level: Int): DataFrame =
    df.withColumn("tile", s2_tile(col(latCol), col(lonCol), level))
      .withColumn("tile_token", s2_token(col("tile")))

  /** Per-tile statistics: a single hash aggregation with map-side partials.
    * At cluster scale the input table is written clustered by a coarse
    * `s2_parent(tile, K)` so this groupBy shuffles pre-combined partials. */
  def tileStats(df: DataFrame, latCol: String, lonCol: String, level: Int,
                aggs: Seq[Column] = Seq(count(lit(1)).as("n"))): DataFrame =
    tileAssign(df, latCol, lonCol, level)
      .groupBy("tile_token")
      .agg(aggs.head, aggs.tail: _*)

  /** Multi-level tile pyramid: per-tile counts at every level in
    * [minLevel, maxLevel] in ONE pass — each row explodes into its
    * ancestor chain (maxLevel - minLevel + 1 rows, a map-side constant)
    * and a single hash aggregation with partial combine produces every
    * zoom level at once, instead of (levels) separate scans. This is the
    * map-tile rollup a rendering pipeline precomputes: level L's
    * histogram is exactly level L+1's rolled up by `s2_parent`, which
    * TilingPyramidSpec pins. */
  def tilePyramid(df: DataFrame, latCol: String, lonCol: String,
                  minLevel: Int, maxLevel: Int): DataFrame = {
    require(0 <= minLevel && minLevel <= maxLevel && maxLevel <= 30)
    df.withColumn("__leaf", s2_cell_id(col(latCol), col(lonCol)))
      .select(explode(array((minLevel to maxLevel).map(l =>
        struct(lit(l).as("level"),
          s2_token(s2_parent(col("__leaf"), l)).as("tile_token"))): _*)).as("__lt"))
      .groupBy(col("__lt.level").as("level"), col("__lt.tile_token").as("tile_token"))
      .agg(count(lit(1)).as("n"))
  }

  /** Write the table spatially clustered: hive-partitioned by the coarse
    * tile token at `coarseLevel` and sorted within files by the unsigned
    * leaf cell id (SURVEY.md sections 2.9/4.2). Spatial predicates then
    * prune whole partition directories (coarse tile equality from
    * `s2_parent`) and parquet row groups (leaf-cell min/max stats on the
    * sorted `__leaf_ord` column). */
  def clusteredWrite(df: DataFrame, latCol: String, lonCol: String,
                     outDir: String, coarseLevel: Int = 5): Unit = {
    df.withColumn("__leaf", s2_cell_id(col(latCol), col(lonCol)))
      .withColumn("coarse_tile", s2_token(s2_parent(col("__leaf"), coarseLevel)))
      .withColumn("__leaf_ord", s2_ord(col("__leaf")))
      .repartition(col("coarse_tile"))
      .sortWithinPartitions("coarse_tile", "__leaf_ord")
      .drop("__leaf")
      .write.mode("overwrite")
      .partitionBy("coarse_tile")
      .parquet(outDir)
  }

  /** Web-mercator (slippy z/x/y) tile assignment — the OTHER public tiling
    * scheme image-serving pipelines use beside S2: zoom-z tile coordinates
    * `zx = floor((lon+180)/360 * 2^z)` and
    * `zy = floor((1 - ln(tan(phi) + 1/cos(phi)) / pi) / 2 * 2^z)` with
    * latitude clamped to the square-mercator cut (±85.05112878°, where
    * `zy` is exactly 0 / 2^z in exact arithmetic, so clamped rows land on
    * the edge tile under any ≤1-ulp libm divergence) and both indices
    * clamped into [0, 2^z-1]. Also emits the Bing-style base-4 `quadkey`
    * (z digits, digit i = 2·bit_i(zy) + bit_i(zx)) — the string key tile
    * caches shard on.
    *
    * Every step is a built-in expression (one whole-stage-codegen span,
    * zero exchanges) written as an explicit IEEE sequence — `lat*pi/180`,
    * never `radians()` — so the DuckDB oracle can replay the identical
    * double arithmetic op for op; the only cross-engine hazard is a ≤1-ulp
    * `tan`/`ln` divergence flipping a `floor`, which needs a fractional
    * part within ~1e-13 of an integer — WebMercatorSpec pins the actual
    * minimum margin of the derived grid (≥1e-6) at sf0.01. */
  def zxyAssign(df: DataFrame, latCol: String, lonCol: String, z: Int): DataFrame = {
    require(z >= 0 && z <= 30, s"zoom out of range: $z")
    val n = (1L << z).toDouble
    val maxIdx = (1L << z) - 1L
    val latc = least(lit(85.05112878), greatest(lit(-85.05112878), col(latCol)))
    val phi = latc * lit(math.Pi) / lit(180.0)
    val xf = (col(lonCol) + lit(180.0)) / lit(360.0) * lit(n)
    val yf = (lit(1.0) - log(tan(phi) + lit(1.0) / cos(phi)) / lit(math.Pi)) / lit(2.0) * lit(n)
    df.withColumn("zx", least(lit(maxIdx), greatest(lit(0L), floor(xf))))
      .withColumn("zy", least(lit(maxIdx), greatest(lit(0L), floor(yf))))
      .withColumn("quadkey", zxyQuadkey(col("zx"), col("zy"), z))
  }

  /** Spatial CHANGE DETECTION between two snapshots: per-tile point
    * counts at zoom `z`, full-outer joined, returning (zx, zy, n_before,
    * n_after, delta) for tiles whose count CHANGED — the
    * "what moved since yesterday's snapshot" query over any two table
    * versions. Each side is one partial+final aggregate (per-tile rows,
    * never points, reach the join); the join is tile-count-bounded
    * (<= 4^z rows per side), so at 10^12 points the cost is two scans +
    * two tiny aggregates. Integer-exact given the zxyAssign floor-margin
    * precondition (WebMercatorSpec). */
  def tileChangeCounts(before: DataFrame, after: DataFrame,
                       latCol: String, lonCol: String, z: Int): DataFrame = {
    def counts(df: DataFrame, out: String) =
      zxyAssign(df, latCol, lonCol, z).groupBy("zx", "zy").agg(count(lit(1)).as(out))
    counts(before, "n_before")
      .join(counts(after, "n_after"), Seq("zx", "zy"), "full_outer")
      .withColumn("n_before", coalesce(col("n_before"), lit(0L)))
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .withColumn("delta", col("n_after") - col("n_before"))
      .where(col("delta") =!= 0)
  }

  /** K-ANONYMOUS aggregate release: per-(tile, day) activity counts with
    * small-population cells SUPPRESSED — the standard privacy rule for
    * publishing mobility aggregates (a cell naming fewer than `k`
    * distinct entities re-identifies them). Returns (zx, zy, day,
    * n_entities, n_events) only where n_entities >= k. One partial+final
    * aggregate; the distinct-count is exact (count_distinct, not a
    * sketch) because the release gate must be. */
  def kAnonymousTileDays(df: DataFrame, latCol: String, lonCol: String,
                         entityCol: String, tsCol: String, z: Int,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    zxyAssign(df, latCol, lonCol, z)
      .withColumn("day", to_date(col(tsCol)))
      .groupBy("zx", "zy", "day")
      .agg(count_distinct(col(entityCol)).as("n_entities"),
        count(lit(1)).as("n_events"))
      .where(col("n_entities") >= k)
  }

  /** Seasonal per-tile anomaly gate: each tile's hour-of-day activity
    * profile is its own baseline — hour h of tile t is a SPIKE when its
    * count exceeds `spikeFactor`× the tile's median hourly count, QUIET
    * when the median exceeds `spikeFactor`× the count. The median is the
    * LOWER median of the 24 ZERO-FILLED hourly counts (absent hours count
    * 0 — a tile active one hour a day is spiking in that hour, not
    * normal), so the whole rule is integer-exact: no fp, no margins, the
    * SQL oracle replays it verbatim. Returns flagged rows only:
    * (zx, zy, hour, n, med, flag).
    *
    * Shape at scale: one partial+final (tile, hour) count aggregate (the
    * only pass over points), then a per-tile aggregate whose state is at
    * most 24 longs, and a tile-keyed equi-join — everything after the
    * first aggregate is bounded by 4^z·24 rows regardless of input size.
    * The zero-fill never materializes 24 rows per tile: it is the
    * `24 − k > 11 → 0` index arithmetic on the sorted present-hour
    * counts. */
  def tileSeasonalAnomalies(df: DataFrame, latCol: String, lonCol: String,
                            tsCol: String, z: Int,
                            spikeFactor: Long = 2L): DataFrame = {
    require(spikeFactor >= 1, s"spikeFactor must be >= 1: $spikeFactor")
    // pinned: the (tile, hour) count table (<= 4^z * 24 rows) feeds both
    // the median aggregate and the flag join — the pin keeps the point
    // scan single-pass
    val counts = zxyAssign(df, latCol, lonCol, z)
      .withColumn("hour", hour(col(tsCol)).cast("long"))
      .groupBy("zx", "zy", "hour").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val meds = counts.groupBy("zx", "zy")
      .agg(sort_array(collect_list(col("n"))).as("__cs"))
      .withColumn("med",
        when(lit(24) - size(col("__cs")) > 11, lit(0L))
          .otherwise(element_at(col("__cs"),
            lit(12) - (lit(24) - size(col("__cs"))))))
      .drop("__cs")
    counts.join(meds, Seq("zx", "zy"))
      .withColumn("flag",
        when(col("n") > lit(spikeFactor) * col("med"), lit("spike"))
          .when(lit(spikeFactor) * col("n") < col("med"), lit("quiet")))
      .where(col("flag").isNotNull)
  }

  /** Base-4 quadkey of a (zx, zy) tile at zoom `z`: most-significant bit
    * first, digit = 2·ybit + xbit. Pure bit arithmetic — exact in any
    * engine. */
  def zxyQuadkey(zx: Column, zy: Column, z: Int): Column =
    if (z == 0) lit("")
    else concat((z - 1 to 0 by -1).map { i =>
      (shiftright(zx, i).bitwiseAND(lit(1L)) +
        shiftright(zy, i).bitwiseAND(lit(1L)) * lit(2L)).cast("string")
    }: _*)

  /** The geohash base-32 alphabet (public Gustavo-Niemeyer scheme). */
  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Bit layout of a `precision`-char geohash: 5·precision bits, longitude
    * first, strictly alternating. Returns for each output bit position
    * (MSB first) whether it is a longitude bit and which bit of the
    * per-axis integer index it reads (MSB first within the axis too). */
  private def geohashBitPlan(precision: Int): (Int, Int, Seq[(Boolean, Int)]) = {
    val total = 5 * precision
    val lonBits = (total + 1) / 2
    val latBits = total / 2
    val plan = (0 until total).map { j =>
      if (j % 2 == 0) (true, lonBits - 1 - j / 2) else (false, latBits - 1 - j / 2)
    }
    (lonBits, latBits, plan)
  }

  /** Geohash encode — the THIRD public tiling scheme beside S2 and z/x/y,
    * and the string key geo-sharded stores prefix-range-scan on. Computed
    * as pure floor + bit arithmetic over the axis indices
    * `floor((lon+180)/360 · 2^lonBits)` / `floor((lat+90)/180 · 2^latBits)`
    * (indices clamped into range, so lat=90 / lon=180 land on the last
    * cell), bits interleaved lon-first MSB-first, 5 bits per base-32 char.
    *
    * Everything is a built-in expression in one whole-stage-codegen span,
    * and — unlike [[zxyAssign]] — the arithmetic is TRANSCENDENTAL-FREE:
    * both engines evaluate the identical IEEE sequence, so the DuckDB
    * oracle is bit-exact with no floor-margin precondition at all. */
  def geohashEncode(df: DataFrame, latCol: String, lonCol: String,
                    precision: Int, out: String = "geohash"): DataFrame = {
    require(precision >= 1 && precision <= 12, s"precision out of range: $precision")
    val (lonBits, latBits, plan) = geohashBitPlan(precision)
    val lonIdx = least(lit((1L << lonBits) - 1), greatest(lit(0L),
      floor((col(lonCol) + lit(180.0)) / lit(360.0) * lit((1L << lonBits).toDouble))))
    val latIdx = least(lit((1L << latBits) - 1), greatest(lit(0L),
      floor((col(latCol) + lit(90.0)) / lit(180.0) * lit((1L << latBits).toDouble))))
    val alphabet = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    val chars = (0 until precision).map { c =>
      val v = (0 until 5).map { t =>
        val (isLon, bit) = plan(5 * c + t)
        shiftright(if (isLon) lonIdx else latIdx, bit).bitwiseAND(lit(1L)) * lit(1L << (4 - t))
      }.reduce(_ + _)
      element_at(alphabet, (v + lit(1L)).cast("int"))
    }
    df.withColumn(out, concat(chars: _*))
  }

  /** 3x3 neighborhood rollup on the web-mercator grid — the grid
    * convolution behind heatmap smoothing and local-density scoring: for
    * every OCCUPIED zoom-`z` tile, its own point count plus the total over
    * itself and its 8 neighbors, with longitude WRAP at the antimeridian
    * (zx±1 mod 2^z — tile 2^z-1 and tile 0 are adjacent) and latitude
    * CLAMP at the mercator cut (zy neighbors outside [0, 2^z) don't
    * exist).
    *
    * Scale shape: the input collapses to per-tile counts FIRST (one
    * partial+final hash aggregation — the only pass over data rows), then
    * the bounded tile table (≤4^z rows regardless of input size) explodes
    * x9 into neighbor contributions and re-aggregates; the final join back
    * to occupied tiles is equi on (zx, zy) and AQE-broadcastable. Nothing
    * per-point ever shuffles twice. */
  def zxyNeighborhoodCounts(df: DataFrame, latCol: String, lonCol: String,
                            z: Int): DataFrame = {
    require(z >= 2 && z <= 30, s"zoom out of range for a 3x3 kernel: $z")
    val n = 1L << z
    // localCheckpoint pins the bounded per-tile table so the point table
    // is scanned exactly ONCE: both the row branch and the neighborhood
    // branch otherwise re-execute the full scan+aggregate subtree
    // (exchange reuse is not guaranteed across the two), which measured
    // 40x slower at 100M rows. Same non-fault-tolerant-window tradeoff
    // as the CC loop's per-round checkpoint (Dedup.duplicateClusters).
    val tiles = zxyAssign(df, latCol, lonCol, z)
      .groupBy("zx", "zy").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(((col("zx") + lit(dx.toLong) + lit(n)) % lit(n)).as("tzx"),
        (col("zy") + lit(dy.toLong)).as("tzy"), col("n"))
    val hood = tiles
      .select(explode(array(offsets: _*)).as("__c"))
      .select(col("__c.tzx").as("zx"), col("__c.tzy").as("zy"), col("__c.n"))
      .where(col("zy") >= 0 && col("zy") < n)
      .groupBy("zx", "zy").agg(sum("n").as("n_hood"))
    tiles.join(hood, Seq("zx", "zy")).select("zx", "zy", "n", "n_hood")
  }

  /** LOCAL spatial outliers (Anselin-style, but exact): tiles whose count
    * deviates from their 3×3 NEIGHBORHOOD median by more than
    * `k`× the neighborhood MAD — the robust raster QA gate ([[moransI]]
    * says whether a surface is globally smooth; this names the tiles that
    * break it; the mean/variance Gi* hotspot is one dragged-by-outliers
    * cousin). Neighbor positions wrap in lon and clamp-EXCLUDE off the
    * lat edge (5 valid positions on edge rows, 8 elsewhere); positions
    * with no observed tile count 0 — zero-filled by index arithmetic, so
    * median and MAD are over exactly the valid positions. Everything is
    * integer comparisons: no margins, the SQL oracle replays it verbatim.
    * Output: flagged tiles only, (zx, zy, n, med, mad); a zero-MAD
    * neighborhood (perfectly flat) flags ANY deviation — the documented
    * sharp-null contract. SCOPE: only tiles with at least one observation
    * are outlier CANDIDATES — a zero-count tile surrounded by heavy
    * neighbors (the inverse "hole" anomaly) is never flagged, because the
    * candidate set is the observed-tile set, not its dilation. Hole
    * detection would evaluate the dilated tile set with n=0 fill
    * (8 extra scatter rows per observed tile); this operator
    * deliberately does not.
    *
    * Shape at scale: one (tile) count pass over points, then a bounded
    * scatter (8 rows per OBSERVED tile) and one collect of ≤ 8 longs per
    * tile — everything after the first aggregate is 4^z-bounded. */
  def zxyLocalOutliers(df: DataFrame, latCol: String, lonCol: String,
                       z: Int, k: Long = 3L): DataFrame = {
    require(z >= 2 && z <= 30, s"zoom out of range for a 3x3 kernel: $z")
    require(k >= 1, s"k must be >= 1: $k")
    val n = 1L << z
    val tiles = zxyAssign(df, latCol, lonCol, z)
      .groupBy("zx", "zy").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 } yield
      struct(((col("zx") + lit(dx.toLong) + lit(n)) % lit(n)).as("tzx"),
        (col("zy") + lit(dy.toLong)).as("tzy"), col("n"))
    val nbrVals = tiles
      .select(explode(array(offsets: _*)).as("__c"))
      .select(col("__c.tzx").as("zx"), col("__c.tzy").as("zy"), col("__c.n"))
      .where(col("zy") >= 0 && col("zy") < n)
      .groupBy("zx", "zy").agg(collect_list(col("n")).as("__vs"))
    tiles.join(nbrVals, Seq("zx", "zy"), "left")
      .withColumn("__nv",
        when(col("zy") === 0 || col("zy") === (n - 1), lit(5)).otherwise(lit(8)))
      .withColumn("__ps", sort_array(concat(
        coalesce(col("__vs"), array().cast("array<long>")),
        array_repeat(lit(0L), (col("__nv") - size(coalesce(col("__vs"),
          array().cast("array<long>")))).cast("int")))))
      .withColumn("med", element_at(col("__ps"),
        expr("CAST((__nv + 1) div 2 AS INT)")))
      .withColumn("mad", element_at(
        sort_array(transform(col("__ps"), x => abs(x - col("med")))),
        expr("CAST((__nv + 1) div 2 AS INT)")))
      .where(abs(col("n") - col("med")) > lit(k) * col("mad"))
      .select("zx", "zy", "n", "med", "mad")
  }

  /** COMPACT COVERAGE: the observed zoom-`z` tile set normalized to a
    * minimal mixed-level quadtree cover — a parent replaces its children
    * exactly when ALL FOUR are covered, recursively to zoom 0 (the
    * web-mercator twin of the S2 kernel's `CellUnion.Normalize`,
    * s2/S2CellUnion.scala:214-252, as a DISTRIBUTED query over billions
    * of points). The compact form is what a coverage manifest stores: a
    * fully-mapped region costs one row instead of 4^z. Output:
    * (zoom, zx, zy), exactly covering the observed tiles — no overlap,
    * no loss (the spec's expansion round-trip pins it).
    *
    * Shape at scale: one (tile) distinct over points, then `z` bounded
    * rounds of parent-count aggregates — each round's input is the
    * PROMOTED parents only (≤ ¼ of the prior round), so total work after
    * the distinct is < 4/3 × observed-tile-count rows however deep the
    * pyramid; per-round pins stop the lineage from compounding. */
  def zxyCompactCoverage(df: DataFrame, latCol: String, lonCol: String,
                         z: Int): DataFrame = {
    require(z >= 1 && z <= 30, s"zoom out of range: $z")
    var cur = zxyAssign(df, latCol, lonCol, z)
      .select("zx", "zy").distinct().localCheckpoint()
    var out: DataFrame = null
    var lvl = z
    while (lvl >= 1) {
      val parents = cur
        .groupBy(expr("zx div 2").as("pzx"), expr("zy div 2").as("pzy"))
        .agg(count(lit(1)).as("__c"))
        .localCheckpoint()
      val full = parents.where(col("__c") === 4).select("pzx", "pzy")
      val kept = cur
        .join(full.select(col("pzx"), col("pzy")),
          expr("zx div 2") === col("pzx") &&
            expr("zy div 2") === col("pzy"), "left_anti")
        .select(lit(lvl).as("zoom"), col("zx"), col("zy"))
      out = if (out == null) kept else out.unionByName(kept)
      cur = full.select(col("pzx").as("zx"), col("pzy").as("zy")).localCheckpoint()
      lvl -= 1
    }
    out.unionByName(cur.select(lit(0).as("zoom"), col("zx"), col("zy")))
  }

  /** COVERAGE GAPS: zoom-`z` tiles with NO observation anywhere in their
    * 3×3 neighborhood — the "where do we have no imagery at all?" holes
    * report, the complement of [[zxyCompactCoverage]]'s manifest (a tile
    * merely EMPTY next to data is a sampling artifact; a tile whose whole
    * neighborhood is empty is a genuine catalog hole). Neighborhoods wrap
    * in lon and clamp in lat, the same contract as [[zxyLocalOutliers]].
    * Output: (zx, zy) gap tiles, integer-exact.
    *
    * Shape at scale: one (tile) distinct over points, a ≤9× dilation of
    * the OBSERVED tile set (never the grid), and one anti-join against
    * the executor-generated 4^z grid — the grid is `spark.range`, never
    * driver-side, and the dilated set is observed-cardinality-bounded. */
  def zxyCoverageGaps(df: DataFrame, latCol: String, lonCol: String,
                      z: Int): DataFrame = {
    require(z >= 2 && z <= 14, s"zoom out of range for a 4^z grid scan: $z")
    val n = 1L << z
    val tiles = zxyAssign(df, latCol, lonCol, z)
      .select("zx", "zy").distinct().localCheckpoint()
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(((col("zx") + lit(dx.toLong) + lit(n)) % lit(n)).as("dzx"),
        (col("zy") + lit(dy.toLong)).as("dzy"))
    val dilated = tiles
      .select(explode(array(offsets: _*)).as("__d"))
      .select(col("__d.dzx").as("zx"), col("__d.dzy").as("zy"))
      .where(col("zy") >= 0 && col("zy") < n)
      .distinct()
    df.sparkSession.range(n * n)
      .select(expr(s"id div $n").as("zx"), (col("id") % n).as("zy"))
      .join(dilated, Seq("zx", "zy"), "left_anti")
  }

  /** Per-tile FRESHNESS report: tiles whose latest observation is more
    * than `staleDays` behind the corpus frontier — the "which map areas
    * are out of date?" query a refresh scheduler runs ([[zxyCoverageGaps]]
    * finds places with NO data; this finds places with OLD data). Output:
    * (zx, zy, n, last_us, silent_days) for stale tiles only — counts and
    * microsecond/day arithmetic all exact integers (silent_days =
    * frontier-day − last-day in UTC days).
    *
    * Shape: one (tile) aggregate over points (count + max timestamp), a
    * 1-row frontier broadcast, one integer filter — nothing after the
    * aggregate is data-sized. */
  def zxyStaleTiles(df: DataFrame, latCol: String, lonCol: String,
                    tsCol: String, z: Int, staleDays: Long): DataFrame = {
    require(staleDays >= 1, s"staleDays must be >= 1: $staleDays")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val tiles = zxyAssign(df, latCol, lonCol, z)
      .withColumn("__us", us)
      .groupBy("zx", "zy")
      .agg(count(lit(1)).as("n"), max(col("__us")).as("last_us"))
      .localCheckpoint()
    val frontier = tiles.agg(max(col("last_us")).as("__front"))
    tiles.crossJoin(broadcast(frontier))
      .withColumn("silent_days",
        expr("__front div 86400000000") - expr("last_us div 86400000000"))
      .where(col("silent_days") > staleDays)
      .select("zx", "zy", "n", "last_us", "silent_days")
  }

  /** `sqrt(3)/3` and `2/3`, the axial-conversion constants of [[hexBin]],
    * fixed here so Spark and any SQL replay parse identical doubles. */
  val HexC1: Double = math.sqrt(3.0) / 3.0
  val HexC2: Double = 1.0 / 3.0
  val HexC3: Double = 2.0 / 3.0

  /** H3-STYLE hexagonal binning: assigns every row the axial coordinates
    * (hex_q, hex_r) of its nearest pointy-top hexagon of circumradius
    * `sizeDeg` on the equirectangular (lon, lat)-degree plane — the
    * hex-grid aggregation H3 popularized (uniform 6-neighborhoods, no
    * corner-neighbor ambiguity), over a planar projection instead of H3's
    * icosahedron (the grid is cut at the antimeridian like H3's grid is
    * cut at its icosahedron edges).
    *
    * Fractional axial coords `qf = (sqrt(3)/3 · lon - 1/3 · lat) / size`,
    * `rf = (2/3 · lat) / size` are cube-rounded (round each cube axis,
    * then repair the axis with the largest rounding error so
    * q + r + s = 0 — the standard nearest-hex-center algorithm). Rounding
    * is the explicit `floor(x + 0.5)` so every engine agrees exactly;
    * the whole pipeline is +,-,*,/ on doubles — transcendental-free, so a
    * SQL oracle replays it bit for bit (HexBinSpec pins the halfway
    * margin and the nearest-center property). One codegen span, zero
    * exchanges. */
  def hexBin(df: DataFrame, latCol: String, lonCol: String,
             sizeDeg: Double): DataFrame = {
    require(sizeDeg > 0, s"hex size must be positive: $sizeDeg")
    val qf = (lit(HexC1) * col(lonCol) - lit(HexC2) * col(latCol)) / lit(sizeDeg)
    val rf = (lit(HexC3) * col(latCol)) / lit(sizeDeg)
    val yf = -qf - rf
    val rx = floor(qf + lit(0.5))
    val ry = floor(yf + lit(0.5))
    val rz = floor(rf + lit(0.5))
    val dx = abs(rx.cast("double") - qf)
    val dy = abs(ry.cast("double") - yf)
    val dz = abs(rz.cast("double") - rf)
    val fixQ = dx > dy && dx > dz
    df.withColumn("hex_q", when(fixQ, -ry - rz).otherwise(rx))
      .withColumn("hex_r", when(!fixQ && !(dy > dz), -rx - ry).otherwise(rz))
  }

  /** Ring-1 neighborhood rollup on the hex grid — H3's k-ring aggregation
    * at k=1: per OCCUPIED hex, its own count plus the total over itself
    * and its 6 axial neighbors. The hexagonal analogue of
    * [[zxyNeighborhoodCounts]] and the reason hex grids exist: every
    * neighbor shares a full edge (no corner-touch ambiguity), so the
    * 7-cell kernel is the natural smoothing unit.
    *
    * Same scale shape as the square version: points collapse to per-hex
    * counts FIRST (the only pass over data rows), the bounded hex table
    * explodes x7 into neighbor contributions, re-aggregates, and joins
    * back equi on (hex_q, hex_r) — AQE-broadcastable. Axial arithmetic is
    * pure integers: the SQL replay is exact by construction. */
  def hexRingCounts(df: DataFrame, latCol: String, lonCol: String,
                    sizeDeg: Double): DataFrame = {
    // see zxyNeighborhoodCounts: pin the bounded hex table so the point
    // scan runs once, not once per plan branch (40x at 100M rows)
    val hexes = hexBin(df, latCol, lonCol, sizeDeg)
      .groupBy("hex_q", "hex_r").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val offsets = Seq((0L, 0L), (1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L),
      (1L, -1L), (-1L, 1L)).map { case (dq, dr) =>
      struct((col("hex_q") + lit(dq)).as("tq"),
        (col("hex_r") + lit(dr)).as("tr"), col("n"))
    }
    val hood = hexes
      .select(explode(array(offsets: _*)).as("__c"))
      .select(col("__c.tq").as("hex_q"), col("__c.tr").as("hex_r"), col("__c.n"))
      .groupBy("hex_q", "hex_r").agg(sum("n").as("n_ring"))
    hexes.join(hood, Seq("hex_q", "hex_r"))
      .select("hex_q", "hex_r", "n", "n_ring")
  }

  /** Center of an axial hex cell, inverting [[hexBin]]'s projection:
    * `lat = 3/2 · size · r / ... ` — concretely lon = size · (sqrt(3)·q +
    * sqrt(3)/2·r) scaled back; used by the nearest-center property spec. */
  def hexCenter(q: Long, r: Long, sizeDeg: Double): (Double, Double) = {
    // invert: rf = (2/3 lat)/s  =>  lat = 1.5 * s * r
    // qf = (C1 lon - C2 lat)/s  =>  lon = (q * s + C2 * lat) / C1
    val lat = 1.5 * sizeDeg * r
    val lon = (q * sizeDeg + HexC2 * lat) / HexC1
    (lat, lon)
  }

  /** Write the table clustered by GEOHASH — the string-key analogue of
    * [[clusteredWrite]] and the layout geo-sharded key-value stores
    * prefix-range-scan: hive-partitioned by the first `prefixLen` chars,
    * sorted within files by the full `precision`-char geohash, so a
    * prefix query prunes whole directories AND parquet row groups
    * (string min/max stats on the sorted column). `prefixLen` plays
    * [[clusteredWrite]]'s coarseLevel role: 32^prefixLen directories —
    * size it to data volume. */
  def geohashClusteredWrite(df: DataFrame, latCol: String, lonCol: String,
                            outDir: String, precision: Int = 6,
                            prefixLen: Int = 2): Unit = {
    require(1 <= prefixLen && prefixLen < precision,
      s"prefixLen $prefixLen out of range for precision $precision")
    geohashEncode(df, latCol, lonCol, precision)
      .withColumn("gh_prefix", substring(col("geohash"), 1, prefixLen))
      .repartition(col("gh_prefix"))
      .sortWithinPartitions("gh_prefix", "geohash")
      .write.mode("overwrite")
      .partitionBy("gh_prefix")
      .parquet(outDir)
  }

  /** Lat/lon interval of a geohash prefix cell (closed-open degrees),
    * from the de-interleaved axis index ranges. Pure arithmetic. */
  def geohashCellBounds(prefix: String): (Double, Double, Double, Double) = {
    val (lonBits, latBits, plan) = geohashBitPlan(prefix.length)
    var li = 0L; var ti = 0L
    for (j <- 0 until 5 * prefix.length) {
      val v = GeohashAlphabet.indexOf(prefix.charAt(j / 5))
      require(v >= 0, s"not a geohash prefix: '$prefix'")
      val bit = (v >> (4 - j % 5)) & 1
      if (plan(j)._1) li |= bit.toLong << plan(j)._2 else ti |= bit.toLong << plan(j)._2
    }
    val lonW = 360.0 / (1L << lonBits).toDouble
    val latW = 180.0 / (1L << latBits).toDouble
    (ti * latW - 90.0, (ti + 1) * latW - 90.0, li * lonW - 180.0, (li + 1) * lonW - 180.0)
  }

  /** Geohash "polyfill": prefixes (length <= `maxPrecision`) covering a
    * lat/lon rectangle — what turns the [[geohashClusteredWrite]] layout
    * into a REGION-queryable index rather than a literal-prefix one.
    * Greedy BFS from the 32 single-char cells: cells fully inside the
    * rect are emitted as-is, boundary cells subdivide while the prefix
    * budget allows (the [[graft.s2.S2RegionCoverer]] discipline on the
    * geohash grid — interval intersection tests only, no trig). The
    * result is prefix-free (no emitted prefix extends another), so the
    * per-prefix scans partition the matching rows. Rects wrapping the
    * antimeridian split into two lobes first. */
  def geohashCovering(latLo: Double, latHi: Double, lonLo: Double, lonHi: Double,
                      maxPrefixes: Int = 64, maxPrecision: Int = 4): Seq[String] = {
    require(latLo <= latHi, s"latLo $latLo > latHi $latHi")
    require(maxPrefixes >= 32, s"need >= 32 prefixes for the root cells: $maxPrefixes")
    val lobes: Seq[(Double, Double)] =
      if (lonLo <= lonHi) Seq((lonLo, lonHi))
      else Seq((lonLo, 180.0), (-180.0, lonHi))
    // cells are closed-open, the rect is closed: [a,b) meets [latLo,latHi]
    // iff b > latLo && a <= latHi (note <=: a cell starting exactly at
    // latHi still contains the in-rect boundary point)
    def intersects(p: String): Boolean = {
      val (a, b, c, d) = geohashCellBounds(p)
      b > latLo && a <= latHi && lobes.exists { case (lo, hi) => d > lo && c <= hi }
    }
    def inside(p: String): Boolean = {
      val (a, b, c, d) = geohashCellBounds(p)
      a >= latLo && b <= latHi && lobes.exists { case (lo, hi) => c >= lo && d <= hi }
    }
    var frontier = GeohashAlphabet.map(_.toString).filter(intersects).toVector
    val done = Vector.newBuilder[String]
    var doneN = 0
    var continue = true
    while (continue) {
      val (in, boundary) = frontier.partition(inside)
      done ++= in; doneN += in.size
      val expandable = boundary.filter(_.length < maxPrecision)
      val fixed = boundary.filterNot(_.length < maxPrecision)
      done ++= fixed; doneN += fixed.size
      // each subdivision replaces 1 prefix by <= 32 children; stop while
      // the worst case still fits the budget
      if (expandable.isEmpty || doneN + expandable.size * 32 > maxPrefixes) {
        done ++= expandable
        continue = false
      } else {
        frontier = expandable.flatMap(p => GeohashAlphabet.map(c => p + c).filter(intersects))
      }
    }
    done.result()
  }

  /** Rectangle query over a [[geohashClusteredWrite]] layout: the
    * [[geohashCovering]] prefixes become partition-directory predicates
    * (equality at `prefixLen`, startsWith below it) plus geohash-column
    * StartsWith filters for the row groups, and the exact lat/lon rect
    * test refines. Equivalent rows to a full-scan rect filter; touches
    * only covered directories. */
  def geohashRegionScan(spark: SparkSession, dir: String,
                        latLo: Double, latHi: Double,
                        lonLo: Double, lonHi: Double,
                        latCol: String = "lat", lonCol: String = "lon",
                        prefixLen: Int = 2, maxPrefixes: Int = 64,
                        maxPrecision: Int = 4): DataFrame = {
    val prefixes = geohashCovering(latLo, latHi, lonLo, lonHi, maxPrefixes, maxPrecision)
    require(prefixes.nonEmpty, "empty covering: the rect intersects no geohash cell")
    val df = readClustered(spark, dir)
    val dirPred = prefixes.map { p =>
      if (p.length >= prefixLen) col("gh_prefix") === p.substring(0, prefixLen)
      else col("gh_prefix").startsWith(p)
    }.reduce(_ || _)
    val rowPred = prefixes.map(p => col("geohash").startsWith(p)).reduce(_ || _)
    val lonPred =
      if (lonLo <= lonHi) col(lonCol) >= lonLo && col(lonCol) <= lonHi
      else col(lonCol) >= lonLo || col(lonCol) <= lonHi
    df.where(dirPred && rowPred &&
      col(latCol) >= latLo && col(latCol) <= latHi && lonPred)
  }

  /** Prefix-range scan of a [[geohashClusteredWrite]] layout: directory
    * pruning via the partition column (equality when the query prefix
    * covers it, prefix match when shorter) plus a `StartsWith` filter on
    * the sorted geohash column that reaches parquet row-group stats.
    * The partition column is read as a string — digit-only prefixes like
    * "00" must stay strings, not collapse to integer 0. */
  def geohashPrefixScan(spark: SparkSession, dir: String,
                        prefix: String, prefixLen: Int = 2): DataFrame = {
    require(prefix.nonEmpty && prefix.forall(GeohashAlphabet.contains(_)),
      s"not a geohash prefix: '$prefix'")
    val df = readClustered(spark, dir)
    require(df.columns.contains("gh_prefix") && df.columns.contains("geohash"),
      s"geohashPrefixScan: $dir is not a geohashClusteredWrite layout")
    val dirPred =
      if (prefix.length >= prefixLen) col("gh_prefix") === prefix.substring(0, prefixLen)
      else col("gh_prefix").startsWith(prefix)
    df.where(dirPred && col("geohash").startsWith(prefix))
  }

  /** Emerging-hotspot trend per geohash cell: event counts in the windows
    * [from, split) and [split, to) and the relative change — the
    * two-window comparison behind "activity up N% here this week". All
    * counts are integers and `pct_change` is one fixed IEEE division of
    * exact integers (null when the baseline is empty), so a SQL replay is
    * bit-exact. Rows outside [from, to) are excluded; cells active in
    * only one window still appear (full outer semantics via conditional
    * sums — no join at all).
    *
    * Scale shape: ONE pass, one partial+final hash aggregation keyed by
    * cell — the two windows are conditional sums inside the same
    * aggregate, not two scans. */
  def geohashTrend(df: DataFrame, latCol: String, lonCol: String,
                   precision: Int, tsCol: String,
                   from: String, split: String, to: String): DataFrame =
    geohashEncode(
        df.where(col(tsCol) >= lit(from).cast("timestamp") &&
          col(tsCol) < lit(to).cast("timestamp")),
        latCol, lonCol, precision)
      .groupBy("geohash")
      .agg(
        sum(when(col(tsCol) < lit(split).cast("timestamp"), 1L).otherwise(0L))
          .as("n_before"),
        sum(when(col(tsCol) >= lit(split).cast("timestamp"), 1L).otherwise(0L))
          .as("n_after"))
      .withColumn("pct_change",
        when(col("n_before") === 0L, lit(null).cast("double"))
          .otherwise((col("n_after") - col("n_before")).cast("double") /
            col("n_before").cast("double")))

  /** Spatio-temporal cube: per (geohash-cell, hour) statistics at EVERY
    * marginalization level in one pass — (cell, hour), per-cell all-time,
    * per-hour all-space, and the grand total — via native GROUPING SETS
    * (`cube`), i.e. the pre-aggregation a dashboard queries instead of
    * the raw table. Geohash keys the space axis so any SQL engine replays
    * the cube bit-exact (transcendental-free encoding); the value stats
    * are min/max (order-independent exact — a float SUM would not be
    * deterministic under re-partitioning, so it is deliberately absent).
    *
    * Scale shape: Spark expands each input row once per grouping set
    * inside the partial aggregate (4x, map-side, combined before the
    * shuffle) — one exchange of (cell, hour, partials), never a second
    * scan per level. */
  def geohashTimeCube(df: DataFrame, latCol: String, lonCol: String,
                      precision: Int, tsCol: String, valCol: String): DataFrame =
    geohashEncode(df, latCol, lonCol, precision)
      .withColumn("hour", date_trunc("hour", col(tsCol)))
      .cube("geohash", "hour")
      .agg(count(lit(1)).as("n"),
        min(col(valCol)).as("min_v"), max(col(valCol)).as("max_v"))

  /** Hotspot detection on the web-mercator grid: a Getis-Ord-Gi*-style
    * z-score per OCCUPIED zoom-`z` tile — how far the tile's 3x3
    * neighborhood total `n_hood` (from [[zxyNeighborhoodCounts]]: x-wrap,
    * y-clamp) sits above the all-occupied-tile mean, in units of the
    * neighborhood's expected deviation (simplified to 3·sigma for the
    * 9-cell kernel; empty tiles contribute 0 to neighborhoods and are
    * excluded from the global moments — both choices documented rather
    * than the textbook all-cells-in-frame convention, which would make
    * the statistic depend on an arbitrary study-area boundary).
    *
    * Exactness contract: every input to the scalar formula is an INTEGER
    * (per-tile counts, their global sums and sum-of-squares), so the
    * double arithmetic is one fixed IEEE expression evaluated identically
    * by any engine — the DuckDB oracle reproduces `gi_z` bit for bit with
    * no tolerance. `sigma = 0` (all occupied tiles equal) yields null.
    *
    * Scale shape: [[zxyNeighborhoodCounts]]'s one point-shuffle + bounded
    * grid work, then a single global-moments row cross-joined back
    * (broadcast of ONE row). Nothing new scales with input size. */
  def hotspotScores(df: DataFrame, latCol: String, lonCol: String,
                    z: Int): DataFrame = {
    val hood = zxyNeighborhoodCounts(df, latCol, lonCol, z)
    val stats = hood.agg(
      count(lit(1)).as("__t"), sum("n").as("__sn"),
      sum(col("n") * col("n")).as("__snn"))
    val mu = col("__sn").cast("double") / col("__t").cast("double")
    val msq = col("__snn").cast("double") / col("__t").cast("double")
    val sigma = sqrt(msq - mu * mu)
    hood.crossJoin(broadcast(stats))
      .withColumn("gi_z",
        when(sigma === lit(0.0), lit(null).cast("double"))
          .otherwise((col("n_hood").cast("double") - mu * lit(9.0)) / (sigma * lit(3.0))))
      .select("zx", "zy", "n", "n_hood", "gi_z")
  }

  /** Global Moran's I spatial autocorrelation of the per-tile point counts
    * on the zoom-`z` web-mercator grid — the single-number answer to "is
    * this corpus geographically clustered, random, or dispersed?" (> 0
    * clustered, ~0 random, < 0 checkerboard). Weights are binary queen
    * 8-adjacency between OCCUPIED tiles (x wraps at the antimeridian, y
    * clamps at the mercator cut; empty tiles excluded — the same
    * study-area convention as [[hotspotScores]], documented rather than
    * the all-cells-in-frame textbook choice).
    *
    * Exactness contract: every operand of the final scalar formula is an
    * INTEGER — tile counts n_i, their global sum / sum-of-squares /
    * cardinality, the directed-edge count W = Σw_ij, the adjacency cross
    * sum C = Σ_ij w_ij·n_i·n_j and degree-weighted sum D = Σ_i deg_i·n_i —
    * and Σ_ij w_ij (n_i−m)(n_j−m) expands to C − 2mD + m²W exactly, so
    * I = N·(C − 2mD + m²W) / (W·(S2 − N·m²)) is ONE fixed IEEE expression
    * the DuckDB oracle reproduces bit for bit with no tolerance. W = 0
    * (no two occupied tiles adjacent) or zero variance yields null.
    *
    * Scale shape: one partial+final hash aggregation over the points (the
    * only pass that sees data rows), then the bounded occupied-tile table
    * (≤4^z rows) explodes x8 into neighbor probes and equi-joins itself —
    * the [[zxyNeighborhoodCounts]] shape — and everything reduces to one
    * global row. Output: (n_tiles, w_edges, morans_i). */
  def moransI(df: DataFrame, latCol: String, lonCol: String, z: Int): DataFrame = {
    val mu = col("__sn").cast("double") / col("__t").cast("double")
    val num = col("__cc").cast("double") - lit(2.0) * mu * col("__d").cast("double") +
      mu * mu * col("__w").cast("double")
    val den = col("__snn").cast("double") - col("__t").cast("double") * mu * mu
    gridAutocorrMoments(df, latCol, lonCol, z)
      .select(col("__t").as("n_tiles"), col("__w").as("w_edges"),
        when(col("__w") === 0L || den === lit(0.0), lit(null).cast("double"))
          .otherwise((col("__t").cast("double") * num) /
            (col("__w").cast("double") * den)).as("morans_i"))
  }

  /** Geary's C over the same grid and weights as [[moransI]] — the
    * locally-sensitive sibling statistic (C < 1 clustered, ~1 random,
    * > 1 dispersed). Same integer-operand contract:
    * Σ_ij w_ij (n_i−n_j)² expands to 2·D2 − 2·C with D2 = Σ_i deg_i·n_i²
    * and the cross sum C both exact integers, so
    * `C = (N−1)·(2D2 − 2C) / (2W·(S2 − N·m²))` is one fixed IEEE
    * expression the oracle reproduces bit for bit. Same scale shape. */
  def gearysC(df: DataFrame, latCol: String, lonCol: String, z: Int): DataFrame = {
    val mu = col("__sn").cast("double") / col("__t").cast("double")
    val num = (col("__t").cast("double") - lit(1.0)) *
      (lit(2.0) * col("__d2").cast("double") - lit(2.0) * col("__cc").cast("double"))
    val den = lit(2.0) * col("__w").cast("double") *
      (col("__snn").cast("double") - col("__t").cast("double") * mu * mu)
    gridAutocorrMoments(df, latCol, lonCol, z)
      .select(col("__t").as("n_tiles"), col("__w").as("w_edges"),
        when(col("__w") === 0L || den === lit(0.0), lit(null).cast("double"))
          .otherwise(num / den).as("gearys_c"))
  }

  /** Shared single-row moment table of the grid-autocorrelation statistics:
    * per-tile counts (pinned — the table feeds the moments branch and both
    * self-join branches), directed queen adjacency over occupied tiles
    * (x-wrap, y-clamp, self excluded), and the integer sums
    * (N, S, S2, W, C = Σw_ij·n_i·n_j, D = Σdeg_i·n_i, D2 = Σdeg_i·n_i²). */
  private def gridAutocorrMoments(df: DataFrame, latCol: String, lonCol: String,
                                  z: Int): DataFrame = {
    require(z >= 2 && z <= 30, s"zoom out of range for a 3x3 kernel: $z")
    val n = 1L << z
    val tiles = zxyAssign(df, latCol, lonCol, z)
      .groupBy("zx", "zy").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 } yield
      struct(((col("zx") + lit(dx.toLong) + lit(n)) % lit(n)).as("zx"),
        (col("zy") + lit(dy.toLong)).as("zy"), col("n").as("na"))
    val probes = tiles
      .select(explode(array(offsets: _*)).as("__c"))
      .select(col("__c.zx"), col("__c.zy"), col("__c.na"))
    val edges = probes.join(tiles, Seq("zx", "zy")) // (na = n_i, n = n_j) per directed edge
      .agg(count(lit(1)).as("__w"),
        sum(col("na") * col("n")).as("__cc"),
        sum(col("na")).as("__d"),
        sum(col("na") * col("na")).as("__d2"))
    val moments = tiles.agg(
      count(lit(1)).as("__t"), sum("n").as("__sn"),
      sum(col("n") * col("n")).as("__snn"))
    moments.crossJoin(edges)
  }

  /** Geohash decode to the CELL CENTER: inverts [[geohashEncode]]'s bit
    * layout (chars → 5-bit values → de-interleaved axis indices → center
    * of the axis interval). Same pure-arithmetic contract; unknown
    * characters surface as a null index (array_position miss) rather than
    * a wrong cell. */
  def geohashDecode(df: DataFrame, ghCol: String, precision: Int): DataFrame = {
    require(precision >= 1 && precision <= 12, s"precision out of range: $precision")
    val (lonBits, latBits, plan) = geohashBitPlan(precision)
    val alphabet = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    val charVals = (0 until precision).map { c =>
      array_position(alphabet, substring(col(ghCol), c + 1, 1)) - lit(1L)
    }
    def axisIdx(wantLon: Boolean): Column =
      (0 until 5 * precision).flatMap { j =>
        val (isLon, bit) = plan(j)
        if (isLon != wantLon) None
        else Some(shiftright(charVals(j / 5), 4 - j % 5).bitwiseAND(lit(1L)) * lit(1L << bit))
      }.reduce(_ + _)
    df.withColumn("gh_lon",
        (axisIdx(true).cast("double") + lit(0.5)) / lit((1L << lonBits).toDouble) * lit(360.0) - lit(180.0))
      .withColumn("gh_lat",
        (axisIdx(false).cast("double") + lit(0.5)) / lit((1L << latBits).toDouble) * lit(180.0) - lit(90.0))
  }

  final case class MergeStats(touchedPartitions: Int, removedPartitions: Int,
                              stagedRows: Long)
  final case class CompactStats(compactedPartitions: Int, filesBefore: Int,
                                filesAfter: Int)

  /** Read the live version of a clustered store ([[StoreVersions.live]],
    * resolved once) with its partition columns (`coarse_tile`,
    * `gh_prefix`) typed as strings: numeric-looking hex tokens ("04",
    * "89") would otherwise be inferred as integers, corrupting the token
    * ("04" -> 4 -> directory `coarse_tile=4`) exactly where the maintenance
    * ops address partitions by token. A user-specified partition type is
    * honoured without inference, so the caller's session is never
    * touched. */
  private[graft] def readClustered(spark: SparkSession, store: String): DataFrame = {
    val dir = StoreVersions.live(store)
    // only the layout's partition directories: a flat store's root also
    // holds the next version while the first commit builds it
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("=")).map(_.getPath).sorted.toSeq
    val schema = StructType(spark.read.option("basePath", dir).parquet(parts: _*).schema.map {
      case f if f.name == "coarse_tile" || f.name == "gh_prefix" => f.copy(dataType = StringType)
      case f => f
    })
    spark.read.option("basePath", dir).schema(schema).parquet(parts: _*)
  }

  /** MERGE (upsert) a batch into a [[clusteredWrite]] layout, rewriting ONLY
    * the coarse-tile partitions the batch touches — the table-maintenance
    * operation a mutable geo catalog runs on every ingest, shaped like an
    * Iceberg MERGE commit (one [[StoreVersions.commit]]).
    *
    * Semantics: rows whose `keyCol` appears in `updates` are replaced (rows
    * may MOVE to a different coarse tile — the old copy is found and
    * removed wherever it lives); keys not present are inserted. Batches
    * with duplicate keys have no defined winner and are rejected loudly.
    *
    * Scale shape: victim partitions are found by ONE key-semi-join scan
    * that reads only (key, partition) columns; the rewrite reads and
    * shuffles ONLY touched partitions; untouched partition directories are
    * never opened for data. */
  def mergeClustered(spark: SparkSession, dir: String, updates: DataFrame,
                     keyCol: String, latCol: String, lonCol: String,
                     coarseLevel: Int = 5): MergeStats =
      StoreVersions.commit(dir, "mergeClustered") { (live, next) =>
    val existing = readClustered(spark, live)
    require(existing.columns.contains("coarse_tile") &&
      existing.columns.contains("__leaf_ord"),
      s"mergeClustered: $dir is not a clusteredWrite layout (coarse_tile/__leaf_ord missing)")
    Seq(keyCol, latCol, lonCol).foreach(c => require(updates.columns.contains(c),
      s"mergeClustered: updates missing column '$c'"))

    val batchStats = updates
      .agg(count(lit(1)).as("n"), count_distinct(col(keyCol)).as("k"),
        count(when(col(keyCol).isNull || col(latCol).isNull || col(lonCol).isNull, 1))
          .as("nulls")).head()
    // null keys can't be matched and null coordinates can't be placed — a
    // null coarse tile would otherwise land in __HIVE_DEFAULT_PARTITION__
    // and corrupt the token-addressed partition rewrite
    require(batchStats.getLong(2) == 0,
      s"mergeClustered: batch has ${batchStats.getLong(2)} rows with null " +
        s"'$keyCol'/'$latCol'/'$lonCol' — filter or default them first")
    require(batchStats.getLong(0) == batchStats.getLong(1),
      s"mergeClustered: batch has duplicate keys (${batchStats.getLong(0)} rows, " +
        s"${batchStats.getLong(1)} distinct '$keyCol') — no defined winner, dedup first")

    val keys = updates.select(col(keyCol))
    // victim partitions: where updated keys currently live (keys may move
    // tiles, so this CANNOT be derived from the batch's new coordinates)
    val victimParts = existing.select(col(keyCol), col("coarse_tile"))
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select("coarse_tile").distinct().collect().map(_.getString(0))
    val incoming = updates
      .withColumn("__leaf", s2_cell_id(col(latCol), col(lonCol)))
      .withColumn("coarse_tile", s2_token(s2_parent(col("__leaf"), coarseLevel)))
      .withColumn("__leaf_ord", s2_ord(col("__leaf")))
      .drop("__leaf")
    val newParts = incoming.select("coarse_tile").distinct().collect().map(_.getString(0))
    val touched = (victimParts ++ newParts).distinct

    val survivors = existing.where(col("coarse_tile").isin(touched: _*))
      .join(broadcast(keys), Seq(keyCol), "left_anti")
    val merged = survivors.unionByName(incoming.select(survivors.columns.map(col): _*))
    val (stagedRows, removed) = rewritePartitions(dir, live, next, touched, merged)
    MergeStats(touched.length, removed, stagedRows)
  }

  /** Compact multi-file partitions of a [[clusteredWrite]] layout back to
    * one sorted file each — the small-file maintenance pass every
    * long-lived ingest-heavy table needs ([[mergeClustered]] and streaming
    * appends both fragment partitions over time). Partitions already at a
    * single file are left untouched (their files are never read); the
    * compacted rows are re-sorted by `__leaf_ord` so row-group pruning
    * keeps working after the merge of independently-sorted files. */
  def compactClustered(spark: SparkSession, dir: String,
                       minFilesToCompact: Int = 2): CompactStats = {
    require(minFilesToCompact >= 2,
      s"compactClustered: minFilesToCompact must be >= 2, got $minFilesToCompact")
    StoreVersions.commit(dir, "compactClustered") { (live, next) =>
      val inventory = partitionFileCounts(live)
      val toCompact = inventory.filter(_._2 >= minFilesToCompact)
      if (toCompact.isEmpty)
        CompactStats(0, inventory.map(_._2).sum, inventory.map(_._2).sum)
      else {
        val tokens = toCompact.map(_._1)
        val rows = readClustered(spark, live).where(col("coarse_tile").isin(tokens: _*))
        val (_, removed) = rewritePartitions(dir, live, next, tokens, rows)
        require(removed == 0,
          s"compactClustered: $removed partitions vanished during compaction — " +
            "layout mutated concurrently")
        val after = partitionFileCounts(next)
        CompactStats(toCompact.length, inventory.map(_._2).sum, after.map(_._2).sum)
      }
    }
  }

  /** (token, parquet file count) per coarse-tile partition directory. */
  private def partitionFileCounts(dir: String): Seq[(String, Int)] = {
    val root = new java.io.File(dir)
    require(root.isDirectory, s"not a directory: $dir")
    root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("coarse_tile="))
      .map { d =>
        val token = d.getName.stripPrefix("coarse_tile=")
        token -> d.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
  }

  /** Build version `next` of clustered store `dir` from `live`: link every
    * partition not in `touched`, then write `rows` (repartitioned + sorted
    * per the clustered layout) as the touched ones; a touched partition
    * that gets no rows is gone. Returns (rows written, partitions
    * removed). */
  private def rewritePartitions(dir: String, live: String, next: String,
                                touched: Seq[String], rows: DataFrame): (Long, Int) = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(next))
    for ((t, _) <- partitionFileCounts(live) if !touched.contains(t))
      StoreVersions.link(s"$live/coarse_tile=$t", s"$next/coarse_tile=$t")
    StoreVersions.crashPoint(dir, "linked")
    val obs = org.apache.spark.sql.Observation()
    rows.observe(obs, count(lit(1)).as("n"))
      .repartition(col("coarse_tile"))
      .sortWithinPartitions("coarse_tile", "__leaf_ord")
      .write.mode("append").partitionBy("coarse_tile").parquet(next)
    StoreVersions.crashPoint(dir, "written")
    (obs.get("n").asInstanceOf[Long],
      touched.count(t => !Files.exists(Paths.get(next, s"coarse_tile=$t"))))
  }

  /** Read a clustered table restricted to the cells of a covering: the
    * coarse-tile IN-list prunes partition directories before any file is
    * opened; the `__leaf_ord` range conjuncts reach parquet row-group
    * stats. */
  def readClusteredForCells(spark: SparkSession, dir: String,
                            cells: Seq[Long], coarseLevel: Int = 5): DataFrame = {
    import graft.s2.S2CellId
    val coarse = cells
      .flatMap { c =>
        // every coarse tile overlapping the cell
        if (S2CellId.level(c) >= coarseLevel) Seq(S2CellId.parentForLevel(c, coarseLevel))
        else {
          var id = S2CellId.childBeginForLevel(c, coarseLevel)
          val end = S2CellId.childEndForLevel(c, coarseLevel)
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (id != end) { out += id; id = S2CellId.next(id) }
          out
        }
      }
      .distinct.map(S2CellId.toToken)
    val rangePred = cells.map { c =>
      col("__leaf_ord").between(
        S2CellId.rangeMin(c) ^ Long.MinValue, S2CellId.rangeMax(c) ^ Long.MinValue)
    }.reduce(_ || _)
    // string-typed read: an all-numeric-token directory set ("04", "11",
    // ...) would otherwise infer coarse_tile as an integer and the string
    // IN-list would silently prune EVERYTHING (leading zeros don't survive
    // the int round-trip)
    readClustered(spark, dir)
      .where(col("coarse_tile").isin(coarse: _*))
      .where(rangePred)
  }
}
