package graft

import org.apache.spark.sql.functions._

import graft.operators.VideoPayload

/** Cross-batch streaming video dedup over a real MemoryStream: the store
  * probe finds source and prior-batch pairs, the corpus is never
  * self-paired, and the fold is what makes batch-2 -> batch-1 pairs
  * findable. */
class StreamingVideoDedupSpec extends SparkTestBase {

  test("two-batch re-posts pair with the corpus AND each other, exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val keys = (1L to 300L).toDF("k")
    val corpus = VideoPayload.synthesize(keys, "k")
    withTempDir("graft_viddedup_spec") { storeDir =>
      graft.streaming.StreamingVideoDedup.initStore(spark, storeDir, corpus, "k")

      def reposts(offset: Long) =
        VideoPayload.synthesizeReposts(keys, "k", idOffset = offset)
          .where(col("k") >= offset).select(col("k"), col("bytes"))
          .as[(Long, Array[Byte])].collect().toSeq

      val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long)]]()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Array[Byte])]
      val q = graft.streaming.StreamingVideoDedup.nearDupStream(
        input.toDF().toDF("k", "bytes"), storeDir, "k",
        (pairs, _) => perBatch.synchronized {
          perBatch += pairs.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        })
      try {
        input.addData(reposts(1000000000L))
        q.processAllAvailable()
        input.addData(reposts(2000000000L))
        q.processAllAvailable()
      } finally q.stop()

      val planted = (1L to 300L).filter(k => k % 25 == 0 && k % 33 != 0)
      def sharedOf(k: Long) = (2 + k % 4) / 2 + 1
      // batch 1: each re-post pairs with its stored source only
      assert(perBatch(0) ===
        planted.map(k => (k, k + 1000000000L, sharedOf(k))).toSet)
      // batch 2: pairs with the source AND with batch 1's copy — the latter
      // exists only because batch 1 was folded into the store
      assert(perBatch(1) ===
        planted.flatMap(k => Seq(
          (k, k + 2000000000L, sharedOf(k)),
          (k + 1000000000L, k + 2000000000L, sharedOf(k)))).toSet)
    }
  }
}
