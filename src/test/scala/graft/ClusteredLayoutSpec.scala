package graft

import org.apache.spark.sql.functions._

import graft.operators.Tiling
import graft.s2.{S2Cap, S2CellId, S2LatLng, S2RegionCoverer}

/** Spatial storage layout: cluster-by-cell writes enable partition-directory
  * pruning and exact covering reads. */
class ClusteredLayoutSpec extends SparkTestBase {

  test("clusteredWrite + readClusteredForCells prunes partitions and returns exactly the covered rows") {
    withTempDir("clustered") { outDir =>
      val pts = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
        .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
        .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
        .select("o_orderkey", "lat", "lon")

      Tiling.clusteredWrite(pts, "lat", "lon", outDir, coarseLevel = 2)
      val nPartitions = new java.io.File(outDir).listFiles()
        .count(_.getName.startsWith("coarse_tile="))
      assert(nPartitions > 5, s"expected many coarse-tile partitions, got $nPartitions")

      // covering of a cap -> clustered read
      val cap = S2Cap.fromAxisAngle(S2LatLng.fromDegrees(48, 16).toPoint, 0.2)
      val covering = new S2RegionCoverer().setMaxCells(20).getCovering(cap)
      val read = Tiling.readClusteredForCells(spark, outDir, covering, coarseLevel = 2)

      // exactness: rows whose leaf is inside the covering
      val got = read.select("o_orderkey").collect().map(_.getLong(0)).toSet

      // pruning evidence: the scan carries a coarse_tile partition filter and
      // the covering touches only a strict subset of the partitions
      val planStr = read.queryExecution.sparkPlan.toString
      assert(planStr.contains("PartitionFilters") && planStr.contains("coarse_tile"),
        s"no partition filter in plan:\n$planStr")
      val touched = read.select("coarse_tile").distinct().count()
      assert(touched > 0 && touched < nPartitions,
        s"covering touched $touched of $nPartitions partitions")
      val expected = pts.collect().filter { r =>
        val leaf = S2CellId.fromLatLngDegrees(r.getDouble(1), r.getDouble(2))
        covering.exists(c => S2CellId.contains(c, leaf))
      }.map(_.getLong(0)).toSet
      assert(got == expected)
      assert(expected.nonEmpty)
    }
  }
}
