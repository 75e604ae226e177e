package graft

import org.apache.spark.sql.functions._

import graft.sources.GeoJson

/** GeoJSON-lines source/sink: bit-exact coordinate roundtrips (the claim
  * the q_geojson_scan / q_geojson_poly_join oracles rest on), RFC ring
  * closure on disk + reopening on read, hole-ring preservation, and
  * geometry-type routing. */
class GeoJsonSpec extends SparkTestBase {

  test("point roundtrip is bit-exact: ids and both coordinates") {
    val pts = SparkEntry.points(spark, sf("sf0.001"))
      .select("o_orderkey", "lat", "lon")
    withTempDir("geojson_pts") { dir =>
      GeoJson.writePoints(pts, "o_orderkey", "lat", "lon", dir)
      val back = GeoJson.readPoints(spark, dir)
        .select(element_at(col("props"), "id").cast("long").as("o_orderkey"),
          col("lat"), col("lon"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val orig = pts.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(back === orig) // doubles compared exactly — shortest-roundtrip JSON
      assert(back.nonEmpty)
    }
  }

  test("polygon roundtrip: rings closed on disk, reopened on read, holes preserved") {
    import spark.implicits._
    // a triangle and a square-with-hole, coordinates with non-terminating
    // binary fractions so precision loss would be visible
    val df = Seq(
      (1L, Seq(Seq(10.1, 20.2, 30.3)), Seq(Seq(1.7, 2.9, 3.1))),
      (2L, Seq(Seq(0.1, 0.1, 40.7, 40.7), Seq(10.3, 10.3, 30.9, 30.9)),
        Seq(Seq(-5.3, 5.3, 5.3, -5.3), Seq(-1.9, 1.9, 1.9, -1.9))))
      .toDF("region_id", "latss", "lonss")
    withTempDir("geojson_polys") { dir =>
      GeoJson.writePolygons(df, "region_id", "latss", "lonss", dir)

      // on disk: every ring is closed (first == last vertex, RFC 7946)
      val raw = spark.read.text(dir).collect().map(_.getString(0))
      assert(raw.length === 2)
      for (line <- raw) {
        val coords = "\"coordinates\":\\[\\[(.*)\\]\\]".r.findFirstMatchIn(line)
        assert(coords.isDefined, s"no coordinates in $line")
        assert(line.contains("\"type\":\"Polygon\""))
      }
      val closedOk = spark.read.schema(
        "geometry STRUCT<coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>").json(dir)
        .select(explode(col("geometry.coordinates")).as("ring"))
        .select((element_at(col("ring"), 1) === element_at(col("ring"), -1)).as("closed"))
        .collect().map(_.getBoolean(0))
      assert(closedOk.length === 3 && closedOk.forall(identity))

      // read back: open rings, exact values, hole ring intact
      val back = GeoJson.readPolygons(spark, dir)
        .select(element_at(col("props"), "id").cast("long").as("region_id"),
          col("latss"), col("lonss"))
        .collect().map(r => r.getLong(0) ->
          ((r.getSeq[Seq[Double]](1), r.getSeq[Seq[Double]](2)))).toMap
      assert(back(1L)._1 === Seq(Seq(10.1, 20.2, 30.3)))
      assert(back(1L)._2 === Seq(Seq(1.7, 2.9, 3.1)))
      assert(back(2L)._1 === Seq(Seq(0.1, 0.1, 40.7, 40.7), Seq(10.3, 10.3, 30.9, 30.9)))
      assert(back(2L)._2 === Seq(Seq(-5.3, 5.3, 5.3, -5.3), Seq(-1.9, 1.9, 1.9, -1.9)))
    }
  }

  test("mixed dump: each reader keeps only its geometry type") {
    import spark.implicits._
    withTempDir("geojson_mixed") { dir =>
      val pts = Seq((7L, 1.5, 2.5)).toDF("id", "lat", "lon")
      GeoJson.writePoints(pts, "id", "lat", "lon", dir + "/a")
      GeoJson.writePolygons(
        Seq((8L, Seq(Seq(0.0, 1.0, 0.0)), Seq(Seq(0.0, 0.0, 1.0))))
          .toDF("id", "latss", "lonss"), "id", "latss", "lonss", dir + "/b")
      // one mixed directory
      spark.read.text(dir + "/a").union(spark.read.text(dir + "/b"))
        .write.mode("overwrite").text(dir + "/mixed")
      assert(GeoJson.readPoints(spark, dir + "/mixed").count() === 1)
      assert(GeoJson.readPolygons(spark, dir + "/mixed").count() === 1)
    }
  }
}
