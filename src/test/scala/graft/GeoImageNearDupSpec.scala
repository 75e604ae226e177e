package graft

import org.apache.spark.sql.functions._

import graft.operators.ImagePayload
import graft.s2.S2CellId

/** Geo-constrained image near-dup: the hamming test is exact within the
  * spatial candidate universe (same or adjacent level-`L` cell), so the
  * operator must equal the brute force "hamming <= 3 AND cells adjacent"
  * — and the q_geo_image_neardup planted-pair oracle is exact because the
  * only <= 3-bit pairs in its population are within one planted family,
  * of which exactly the colocated ones are adjacent. */
class GeoImageNearDupSpec extends SparkTestBase {

  private val Level = 6

  private def cellOf(lat: Double, lon: Double): Long =
    S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(lat, lon), Level)

  private def adjacent(ca: Long, cb: Long): Boolean =
    ca == cb || S2CellId.allNeighbors(ca, Level).contains(cb)

  /** The exact population q_geo_image_neardup builds — SHARED with the
    * catalog query (SparkEntry.geoImagePopulation), so these precondition
    * checks certify the population the query actually runs, not a copy
    * that could silently drift. */
  private def geoPopulation(keys: org.apache.spark.sql.DataFrame) =
    SparkEntry.geoImagePopulation(keys)

  test("geoImageNearDup == brute force (hamming <= 3 AND same-or-adjacent cell) at sf0.001") {
    val keys = spark.read.parquet(s"${sf("sf0.001")}/part.parquet").select("p_partkey")
    val pop = geoPopulation(keys)
    val got = ImagePayload.geoImageNearDup(pop, "p_partkey", "lat", "lon", Level)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet

    val rows = ImagePayload.withPerceptualHash(pop)
      .select(col("p_partkey"), col("dhash"), col("lat"), col("lon")).collect()
      .map(r => (r.getLong(0), r.getLong(1), cellOf(r.getDouble(2), r.getDouble(3))))
    val expect = (for {
      i <- rows.indices.iterator
      j <- (i + 1) until rows.length
      (ia, ha, ca) = rows(i)
      (ib, hb, cb) = rows(j)
      h = java.lang.Long.bitCount(ha ^ hb)
      if h <= 3 && adjacent(ca, cb)
    } yield (math.min(ia, ib), math.max(ia, ib), h)).toSet
    assert(expect.nonEmpty, "degenerate fixture: no expected pair")
    assert(got == expect, s"missing=${expect -- got}, extra=${got -- expect}")
  }

  test("hot-cell cap drops loudly and reports its dropped rows") {
    val keys = spark.read.parquet(s"${sf("sf0.001")}/part.parquet")
      .select("p_partkey").orderBy("p_partkey").limit(30)
    val base = ImagePayload.synthesize(keys, "p_partkey")
    // relocate ALL 30 images to one venue -> one cell far over the cap
    val colocated = base.withColumn("lat", lit(48.2)).withColumn("lon", lit(16.37))
    val (pairs, dropped) = droppedRows("geoimage") {
      ImagePayload.geoImageNearDup(colocated, "p_partkey", "lat", "lon",
        level = 6, maxHamming = 3, maxCellSize = 10).count()
    }
    assert(pairs == 0, "over-cap cell must produce no pairs")
    assert(dropped == Seq(30L), "the cap must report the dropped signature rows")
    // under a generous cap the same venue pairs normally (byte-identical
    // copies planted at the venue)
    val copies = colocated.withColumn("p_partkey", col("p_partkey") + 1000000L)
    val got = ImagePayload.geoImageNearDup(colocated.unionByName(copies),
      "p_partkey", "lat", "lon", level = 6, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = keys.collect().map(_.getLong(0)).map(k => (k, k + 1000000L)).toSet
    assert(planted.subsetOf(got), s"missing planted pairs: ${planted -- got}")
  }

  test("q_geo_image_neardup oracle preconditions over the full sf0.01 population") {
    // exactness needs: (a) every <= 3-bit pair stays within ONE planted
    // family {j, j+1e8, j+4e8}; (b) within a family, the pairs touching
    // the antipodal copy are never cell-adjacent while the colocated
    // (j, j+1e8) pair trivially is (identical coordinates). Then the
    // adjacency filter leaves exactly the colocated planted set.
    val keys = spark.read.parquet(s"${sf("sf0.01")}/part.parquet").select("p_partkey")
    val rows = ImagePayload.withPerceptualHash(geoPopulation(keys))
      .select(col("p_partkey"), col("dhash"), col("lat"), col("lon")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val ks = keys.collect().map(_.getLong(0))
    assert(rows.length == ks.length + ks.count(_ % 40 == 0) + ks.count(_ % 60 == 0),
      s"population size ${rows.length}")
    def family(id: Long): Long = id % 100000000L
    var i = 0
    var crossFamilyMin = 64
    while (i < rows.length) {
      var j = i + 1
      while (j < rows.length) {
        val h = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
        if (family(rows(i)._1) != family(rows(j)._1) && h < crossFamilyMin) crossFamilyMin = h
        j += 1
      }
      i += 1
    }
    info(s"min cross-family dhash hamming = $crossFamilyMin")
    assert(crossFamilyMin > 3, s"cross-family pair at hamming $crossFamilyMin breaks the oracle")
    // (b) antipodal members are never adjacent to their family's members
    val byId = rows.map(r => r._1 -> r).toMap
    for ((id, _, lat, lon) <- rows if id >= 400000000L) {
      val farCell = cellOf(lat, lon)
      for (other <- Seq(id - 400000000L, id - 300000000L) if byId.contains(other)) {
        val (_, _, olat, olon) = byId(other)
        assert(!adjacent(farCell, cellOf(olat, olon)),
          s"antipodal copy $id adjacent to $other — the exclusion would not be spatial")
      }
      // the byte-copy really is hamming 0 from its source: only the
      // spatial constraint can be doing the excluding
      assert(byId(id)._2 == byId(id - 400000000L)._2)
    }
  }
}
