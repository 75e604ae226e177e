package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkEntryRegions}
import graft.functions.s2functions._
import graft.operators.{SpatialJoin, Tiling}
import graft.plans.S2PipJoin
import graft.s2.{S2CellId, S2LatLng, S2Loop, S2Region}

/** One timed rep: a DataFrame built through graft's public API, forced by
  * one action and checked. */
final case class Op(seconds: Double, ok: Boolean, error: String)

object Op {
  /** Times `body`, which returns the failed check if there is one; a throw
    * counts as a failed check too. */
  def timed(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val err =
      try body
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    Op((System.nanoTime() - t0) / 1e9, err.isEmpty, err.getOrElse(""))
  }
}

/** A closed-loop workload with one client: `fixture` builds the inputs and
  * the expected answers (run several times during set-up), `rep` runs one
  * repetition over `rows` input rows and checks it. */
trait Workload {
  def name: String
  def rows: Long
  def fixture(): Unit
  def rep(): Op
}

/** Uniform synthetic points from `spark.range`: the grid formulas of
  * `SparkEntry.latSqlFor`/`lonSqlFor`, which keep every point clear of the
  * `.005` rect bounds. The seed shifts the key range. */
object Points {
  def uniform(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val start = 1000000007L * (seed % 1000L)
    spark.range(start, start + n, 1, parts)
      .select(col("id"), expr(SparkEntry.latSqlFor("id")).as("lat"),
        expr(SparkEntry.lonSqlFor("id")).as("lon"))
  }
}

/** tile_join: `Tiling.tileAssign` at level 8, then `SpatialJoin.pipJoin`
  * against the three rects, then count and token length per region. */
final class TileJoin(spark: SparkSession, seed: Long, tr: Tracer, val rows: Long, parts: Int)
    extends Workload {
  val name = "tile_join"
  def points: DataFrame = Points.uniform(spark, seed, rows, parts)
  private var expected: Map[String, (Long, Long)] = Map.empty

  /** Expected per-region (count, token length sum) from the pure lat/lon
    * rect predicate. Every level-8 token has exactly 5 hex digits (20 id
    * bits, the last holding the level's sentinel bit). */
  def fixture(): Unit = {
    val rects = SparkEntryRegions.rectBounds
    val aggs = rects.map { case (rid, latLo, latHi, lonLo, lonHi) =>
      sum(when(expr(SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi)), 1L)
        .otherwise(0L)).as(rid)
    }
    val row = tr.call("bench.expected_rect_counts") {
      points.agg(aggs.head, aggs.tail: _*).head()
    }
    expected = rects.zipWithIndex.map { case (r, i) =>
      val c = row.getLong(i)
      r._1 -> (c, 5L * c)
    }.filter(_._2._1 > 0).toMap
  }

  def rep(): Op = Op.timed {
    val tiled = tr.call("operators.Tiling.tileAssign")(Tiling.tileAssign(points, "lat", "lon", 8))
    val joined = tr.call("operators.SpatialJoin.pipJoin") {
      SpatialJoin.pipJoin(tiled, "lat", "lon", SparkEntryRegions.rects)
    }
    val got = tr.call("action.collect") {
      joined.groupBy("region_id")
        .agg(count(lit(1)).as("n"), sum(length(col("tile_token"))).as("len"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    if (got == expected) None else Some(s"per-region counts $got != expected $expected")
  }
}

/** The 256 hexagons of poly_hot, by the `SparkEntry.HexPolys` rules. */
object Hexagons {
  val polys: Seq[(Long, Array[Double], Array[Double])] = (0L until 256L).map { k =>
    val clat = ((k * 7919 + 1234) % 11000) / 100.0 - 55.0
    val clon = ((k * 104729 + 5678) % 34000) / 100.0 - 170.0
    val r = 2.0 + (k % 3).toDouble
    val verts = (0 until 6).map { i =>
      val th = 2.0 * math.Pi * i.toDouble / 6.0 + 0.3
      (clat + r * math.sin(th), clon + 1.35 * r * math.cos(th))
    }
    (k, verts.map(_._1).toArray, verts.map(_._2).toArray)
  }

  def table(spark: SparkSession): DataFrame = {
    import spark.implicits._
    polys.toDF("region_id", "lats", "lons")
  }

  /** The same loops as driver-side regions, built the way
    * `s2_loop_contains` builds them. */
  def regions: Seq[(String, S2Region)] = polys.map { case (k, lats, lons) =>
    k.toString -> (new S2Loop(lats.indices.map(i =>
      S2LatLng.fromDegrees(lats(i), lons(i)).toPoint)): S2Region)
  }
}

/** poly_hot: `SpatialJoin.polygonPipJoin(level = 6)` of skewed points
  * against the 256-hexagon table, then a count per region. */
final class PolyHot(spark: SparkSession, seed: Long, tr: Tracer, val rows: Long, parts: Int)
    extends Workload {
  val name = "poly_hot"
  val Level = 6
  private var hot: (Double, Double) = (0.0, 0.0)
  private var expected: Map[Long, Long] = Map.empty
  val hexTable: DataFrame = Hexagons.table(spark)

  /** 70% uniform points; the other 30% sit on the hot point. */
  def points: DataFrame = Points.uniform(spark, seed, rows, parts)
    .withColumn("hot", col("id") % 10 < 3)
    .withColumn("lat", when(col("hot"), lit(hot._1)).otherwise(col("lat")))
    .withColumn("lon", when(col("hot"), lit(hot._2)).otherwise(col("lon")))
    .drop("hot")

  /** Picks the hot point: the center of a level-6 cell that only hexagon
    * `seed % 256` (or the next one that has such a cell) covers, that is a
    * boundary (non-interior) cell of it and whose center lies inside it,
    * so the hot rows cost the same whichever hexagon the seed picks. Then
    * the expected counts of the 1-in-16 sample of ids, from
    * `S2PipJoin.pipJoinExec` over the same loops as driver-side regions
    * (the full check would cost several reps: the exec probes all 256
    * regions per point). */
  def fixture(): Unit = {
    val raster = tr.call("functions.s2_polygon_covering") {
      hexTable.select(col("region_id"),
          explode(s2_polygon_covering(col("lats"), col("lons"), Level)).as("c"))
        .select("region_id", "c.cell", "c.interior").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    }
    val owners = raster.groupBy(_._2).map { case (c, rs) => c -> rs.length }
    val loops = Hexagons.regions.map(_._2)
    val hotCells = (0 until 256).iterator.map(i => (seed + i) % 256).map { k =>
      raster.filter(r => r._1 == k && !r._3 && owners(r._2) == 1).map(_._2).sorted.map { c =>
        (S2CellId.toLatDegrees(c), S2CellId.toLngDegrees(c), c)
      }.filter { case (la, lo, c) =>
        S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(la, lo), Level) == c &&
          SpatialJoin.regionContains(loops(k.toInt), la, lo)
      }
    }.find(_.nonEmpty).getOrElse(sys.error("no hexagon has a boundary cell of its own"))
    val (la, lo, _) = hotCells((seed / 256 % hotCells.length).toInt)
    hot = (la, lo)
    expected = tr.call("plans.S2PipJoin.pipJoinExec") {
      S2PipJoin.pipJoinExec(points.where(Sampled), "lat", "lon", Hexagons.regions)
        .groupBy("region_id").count().collect()
        .map(r => r.getString(0).toLong -> r.getLong(1)).toMap
    }
  }

  private def Sampled = col("id") % 16 === 0

  def rep(): Op = Op.timed {
    val joined = tr.call("operators.SpatialJoin.polygonPipJoin") {
      SpatialJoin.polygonPipJoin(points, "lat", "lon", hexTable, "region_id", "lats", "lons",
        level = Level)
    }
    val got = tr.call("action.collect") {
      joined.groupBy("region_id")
        .agg(count(lit(1)), sum(when(Sampled, 1L).otherwise(0L)))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    }
    val sampled = got.collect { case (r, (_, s)) if s > 0 => r -> s }.toMap
    if (sampled != expected)
      Some(s"sampled per-region counts differ from pipJoinExec on " +
        s"${(sampled.keySet ++ expected.keySet).count(r => sampled.get(r) != expected.get(r))} regions")
    else if (got.exists { case (_, (n, s)) => n < s })
      Some("a region's total count is below its sampled count")
    else None
  }
}

/** The catalog tables the twelve spatial queries of the `catalog` layer
  * read. Those queries read only key columns, and the harness tables have
  * dense keys 0..n-1, so these tables give the same answers as the
  * harness data at the same scale. */
object CatalogData {
  val Queries: Seq[String] = Seq("q_pip_rect", "q_pip_polygon", "q_pip_circle",
    "q_poly_table_join", "q_knn", "q_knn_regions", "q_rect_join", "q_distance_join",
    "q_tile_counts", "q_tile_pyramid", "q_clustered_scan", "q_merge_upsert")

  def write(spark: SparkSession, dir: String, orders: Long, customers: Long): Unit = {
    spark.range(0, orders, 1, 1).select(col("id").as("o_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(0, customers, 1, 1).select(col("id").as("c_custkey"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
  }

  /** Row count and an order-independent hash of a result. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(c => df.col(c)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    (r.getLong(0), if (r.getLong(0) == 0) "0:0" else s"${r.getLong(1)}:${r.getLong(2)}")
  }
}
