package graft

import org.apache.spark.sql.functions._

import graft.operators.Tiling

/** Geohash encode/decode: brute-force equality against an INDEPENDENT
  * driver-side formulation (classic interval-halving, not the engine's
  * floor+interleave arithmetic), decode-roundtrip bounds, prefix nesting,
  * and edge clamps. */
class GeohashSpec extends SparkTestBase {

  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** The textbook bisection algorithm — structurally unlike the engine's
    * floor((x+off)/range * 2^bits) + static bit interleave, so agreement
    * is evidence, not tautology. */
  private def geohashRef(lat: Double, lon: Double, precision: Int): String = {
    var latLo = -90.0; var latHi = 90.0; var lonLo = -180.0; var lonHi = 180.0
    var even = true; var bit = 0; var ch = 0
    val sb = new StringBuilder
    while (sb.length < precision) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      even = !even; bit += 1
      if (bit == 5) { sb += Alphabet(ch); bit = 0; ch = 0 }
    }
    sb.toString
  }

  test("geohashEncode == interval-halving reference over the sf0.001 grid (precisions 4, 6, 9)") {
    val pts = SparkEntry.points(spark, sf("sf0.001")).select("lat", "lon")
    for (p <- Seq(4, 6, 9)) {
      val got = Tiling.geohashEncode(pts, "lat", "lon", p)
        .select("lat", "lon", "geohash").collect()
      assert(got.nonEmpty)
      for (r <- got) {
        val want = geohashRef(r.getDouble(0), r.getDouble(1), p)
        assert(r.getString(2) == want,
          s"p=$p (${r.getDouble(0)}, ${r.getDouble(1)}): got ${r.getString(2)} want $want")
      }
    }
  }

  test("decode(encode(p)) lands within half a cell of p (precision 6)") {
    // precision 6 -> 30 bits -> 15 lon + 15 lat: cell is (360/2^15) x (180/2^15)
    val halfLon = 360.0 / (1L << 15) / 2
    val halfLat = 180.0 / (1L << 15) / 2
    val pts = SparkEntry.points(spark, sf("sf0.001")).select("lat", "lon")
    val rows = Tiling.geohashDecode(
        Tiling.geohashEncode(pts, "lat", "lon", 6), "geohash", 6)
      .select("lat", "lon", "gh_lat", "gh_lon").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) <= halfLat + 1e-12,
        s"lat roundtrip off: ${r.getDouble(0)} vs ${r.getDouble(2)}")
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) <= halfLon + 1e-12,
        s"lon roundtrip off: ${r.getDouble(1)} vs ${r.getDouble(3)}")
    }
  }

  test("nesting: the precision-4 geohash prefixes the precision-8 one") {
    val pts = SparkEntry.points(spark, sf("sf0.001")).select("lat", "lon").limit(500)
    val rows = Tiling.geohashEncode(
        Tiling.geohashEncode(pts, "lat", "lon", 4, out = "gh4"),
        "lat", "lon", 8, out = "gh8")
      .select("gh4", "gh8").collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getString(1).startsWith(r.getString(0)),
        s"${r.getString(1)} does not nest under ${r.getString(0)}")
  }

  test("geohashTimeCube marginal identities: cell and hour rollups sum to the grand total") {
    val ev = spark.read.parquet(s"${sf("sf0.001")}/events.parquet")
      .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))
    val cube = Tiling.geohashTimeCube(ev, "lat", "lon", 2, "ts", "value").collect()
    val total = ev.count()
    def rows(gh: Boolean, hr: Boolean) =
      cube.filter(r => r.isNullAt(0) != gh && r.isNullAt(1) != hr)
    val fine = rows(gh = true, hr = true)
    val byCell = rows(gh = true, hr = false)
    val byHour = rows(gh = false, hr = true)
    val grand = rows(gh = false, hr = false)
    assert(grand.length == 1 && grand.head.getLong(2) == total)
    assert(fine.map(_.getLong(2)).sum == total)
    assert(byCell.map(_.getLong(2)).sum == total)
    assert(byHour.map(_.getLong(2)).sum == total)
    // per-cell marginal equals the sum of its fine rows, min/max consistent
    val fineByCell = fine.groupBy(_.getString(0))
    for (r <- byCell) {
      val f = fineByCell(r.getString(0))
      assert(r.getLong(2) == f.map(_.getLong(2)).sum)
      assert(r.getDouble(3) == f.map(_.getDouble(3)).min)
      assert(r.getDouble(4) == f.map(_.getDouble(4)).max)
    }
    assert(byCell.length > 1 && byHour.length > 1, "cube degenerate on the fixture")
  }

  test("geohashClusteredWrite + prefix scan: exact rows, directory pruning, inference-proof digits") {
    withTempDir("ghspec") { dir =>
      val pts = SparkEntry.points(spark, sf("sf0.001")).select("o_orderkey", "lat", "lon")
      Tiling.geohashClusteredWrite(pts, "lat", "lon", dir, precision = 6, prefixLen = 2)
      val all = Tiling.geohashEncode(pts, "lat", "lon", 6)
        .select("o_orderkey", "geohash").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // prefix longer than the partition key: dir equality + row StartsWith
      val somePrefix = all.values.head.take(3)
      val scan = Tiling.geohashPrefixScan(spark, dir, somePrefix, prefixLen = 2)
      val got = scan.select("o_orderkey").collect().map(_.getLong(0)).toSet
      val want = all.filter(_._2.startsWith(somePrefix)).keySet
      assert(got == want && got.nonEmpty)
      val planStr = scan.queryExecution.executedPlan.toString
      assert(planStr.contains("PartitionFilters") && planStr.contains("gh_prefix"),
        s"no partition filter in plan:\n$planStr")
      // prefix SHORTER than the partition key: startsWith dir pruning
      val short = somePrefix.take(1)
      val gotShort = Tiling.geohashPrefixScan(spark, dir, short, prefixLen = 2)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(gotShort == all.filter(_._2.startsWith(short)).keySet)
      // digit-only partition tokens survive the read as strings (no int
      // inference): every returned geohash still has 6 chars
      val ghs = Tiling.geohashPrefixScan(spark, dir, short, prefixLen = 2)
        .select("gh_prefix").distinct().collect().map(_.getString(0))
      assert(ghs.forall(_.length == 2), s"partition tokens mangled: ${ghs.toSeq}")
    }
  }

  test("geohashTrend: window split partitions the in-range rows; pct_change formula holds") {
    val ev = spark.read.parquet(s"${sf("sf0.001")}/events.parquet")
      .withColumn("lat", expr(SparkEntry.latSqlFor("event_id")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("event_id")))
    val rows = Tiling.geohashTrend(ev, "lat", "lon", 1, "ts",
      "2024-01-01", "2024-01-16", "2024-01-31").collect()
    val inRange = ev.where(col("ts") >= lit("2024-01-01").cast("timestamp") &&
      col("ts") < lit("2024-01-31").cast("timestamp")).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == inRange)
    for (r <- rows) {
      val (b, a) = (r.getLong(1), r.getLong(2))
      if (b == 0L) assert(r.isNullAt(3))
      else assert(r.getDouble(3) == (a - b).toDouble / b.toDouble)
    }
    assert(rows.exists(r => !r.isNullAt(3) && r.getDouble(3) != 0.0))
  }

  test("geohashCovering: complete, prefix-free, within budget (incl. antimeridian wrap)") {
    val rects = Seq(
      (35.0, 60.0, -10.0, 30.0),        // europe-ish
      (-20.0, 10.0, 170.0, -160.0),     // wraps the antimeridian
      (-90.0, -80.0, -180.0, 180.0))    // polar band, full longitude
    val rnd = new scala.util.Random(7)
    for ((la, lb, lo, hi) <- rects) {
      val cov = Tiling.geohashCovering(la, lb, lo, hi)
      assert(cov.nonEmpty && cov.size <= 64, s"covering size ${cov.size}")
      for (a <- cov; b <- cov if a != b)
        assert(!b.startsWith(a), s"covering not prefix-free: $a prefixes $b")
      for (_ <- 0 until 500) {
        val lat = la + (lb - la) * rnd.nextDouble()
        val lon =
          if (lo <= hi) lo + (hi - lo) * rnd.nextDouble()
          else {
            val x = lo + ((180.0 - lo) + (hi + 180.0)) * rnd.nextDouble()
            if (x > 180.0) x - 360.0 else x
          }
        val gh = geohashRef(lat, lon, 6)
        assert(cov.exists(gh.startsWith),
          s"($lat, $lon) gh=$gh uncovered in ($la, $lb, $lo, $hi): $cov")
      }
    }
  }

  test("geohashRegionScan == driver rect filter over the layout (sf0.001)") {
    withTempDir("ghregion") { dir =>
      val pts = SparkEntry.points(spark, sf("sf0.001")).select("o_orderkey", "lat", "lon")
      Tiling.geohashClusteredWrite(pts, "lat", "lon", dir, precision = 6, prefixLen = 2)
      val (la, lb, lo, hi) = (35.005, 60.005, -10.005, 30.005)
      val got = Tiling.geohashRegionScan(spark, dir, la, lb, lo, hi)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val want = pts.collect()
        .filter(r => r.getDouble(1) >= la && r.getDouble(1) <= lb &&
          r.getDouble(2) >= lo && r.getDouble(2) <= hi)
        .map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty)
    }
  }

  test("edge clamps: lat=90 / lon=180 land in the last cell, known vector checks out") {
    import spark.implicits._
    val df = Seq((90.0, 180.0), (-90.0, -180.0), (57.64911, 10.40744)).toDF("lat", "lon")
    val got = Tiling.geohashEncode(df, "lat", "lon", 11)
      .select("geohash").as[String].collect()
    assert(got(0) == "z" * 11, s"north-east corner: ${got(0)}")  // all-ones bits
    assert(got(1) == "0" * 11, s"south-west corner: ${got(1)}")  // all-zeros bits
    // the canonical public test vector (Wikipedia): u4pruydqqvj
    assert(got(2) == "u4pruydqqvj", s"known vector: ${got(2)}")
  }
}
