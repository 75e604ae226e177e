package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.Tiling
import graft.streaming.StreamingUpsert

/** Streaming CDC upsert into the clustered store: cross-batch last-wins,
  * within-batch event collapse, replay idempotence, ambiguous-order
  * rejection. */
class StreamingUpsertSpec extends SparkTestBase {

  /** Runs `body` on a fresh 100-row clustered table, deleted afterwards. */
  private def withFreshTable[T](body: String => T): T = withTempDir("graft_su") { root =>
    import spark.implicits._
    val dir = root + "/t"
    val base = (0L until 100L).toDF("id")
      .withColumn("lat", when(col("id") < 50, lit(10.0)).otherwise(lit(-40.0)) +
        col("id").cast("double") * 0.01)
      .withColumn("lon", col("id").cast("double") * 0.3 - 15.0)
    Tiling.clusteredWrite(base, "lat", "lon", dir, coarseLevel = 2)
    body(dir)
  }

  private def content(dir: String): Set[(Long, Double, Double)] = {
    import spark.implicits._
    Tiling.readClustered(spark, dir).select("id", "lat", "lon")
      .as[(Long, Double, Double)].collect().toSet
  }

  test("cross-batch last-wins, within-batch collapse, inserts") {
    import spark.implicits._
    withFreshTable { dir =>
      val before = content(dir)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Double, Double, Long)]
      val q = StreamingUpsert.upsertStream(
        input.toDF().toDF("id", "lat", "lon", "seq"), dir, "id", "lat", "lon", "seq",
        coarseLevel = 2)
      try {
        // batch 1: key 3 moves south
        input.addData((3L, -40.5, 7.5, 1L))
        q.processAllAvailable()
        assert(content(dir) ==
          before.filterNot(_._1 == 3L) + ((3L, -40.5, 7.5)))
        // batch 2: key 3 moves again TWICE in one batch (seq 2 superseded by
        // seq 3); key 999 is an insert
        input.addData((3L, 60.0, 100.0, 2L), (3L, 11.5, -14.5, 3L), (999L, 0.5, 0.5, 2L))
        q.processAllAvailable()
        assert(content(dir) ==
          before.filterNot(_._1 == 3L) + ((3L, 11.5, -14.5)) + ((999L, 0.5, 0.5)))
      } finally q.stop()
    }
  }

  test("replaying a batch against the post-batch table is a content no-op") {
    import spark.implicits._
    withFreshTable { dir =>
      val batch = Seq((3L, -40.5, 7.5), (999L, 0.5, 0.5)).toDF("id", "lat", "lon")
      Tiling.mergeClustered(spark, dir, batch, "id", "lat", "lon", coarseLevel = 2)
      val afterOnce = content(dir)
      Tiling.mergeClustered(spark, dir, batch, "id", "lat", "lon", coarseLevel = 2)
      assert(content(dir) == afterOnce)
    }
  }

  test("ties on (key, orderCol) are rejected, not resolved arbitrarily") {
    import spark.implicits._
    withFreshTable { dir =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Double, Double, Long)]
      val q = StreamingUpsert.upsertStream(
        input.toDF().toDF("id", "lat", "lon", "seq"), dir, "id", "lat", "lon", "seq",
        coarseLevel = 2)
      try {
        input.addData((3L, 1.0, 1.0, 1L), (3L, 2.0, 2.0, 1L))
        val e = intercept[StreamingQueryException] { q.processAllAvailable() }
        assert(e.getMessage.contains("no defined winner") ||
          Option(e.getCause).exists(_.getMessage.contains("no defined winner")))
      } finally q.stop()
    }
  }
}
