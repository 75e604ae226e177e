package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ImagePayload}
import graft.streaming.StreamingImageDedup

/** Streaming image dedup: cross-batch pair discovery through the persisted
  * dhash store (a per-batch self-join could never pair batch 2's re-post
  * with batch 1's original), corpus never self-paired, and the asymmetric
  * hamming probe checked against brute force. */
class StreamingImageDedupSpec extends SparkTestBase {

  test("hamming64Probe == brute force between sides; never pairs within a side") {
    import spark.implicits._
    // crafted 64-bit signatures: (1,2) differ by 1 bit across sides,
    // (3,4) by 2, (5,6) by 32 (non-pair); 7 and 8 differ by 1 bit but sit
    // on the SAME side so they must not pair
    val base = 0x0123456789abcdefL
    val stored = Seq((1L, base), (3L, base ^ 0xf0L), (5L, base ^ 0xffffffffL),
      (7L, base ^ 0x700L), (8L, base ^ 0x701L)).toDF("id", "h")
    val batch = Seq((2L, base ^ 1L), (4L, base ^ 0xf6L), (6L, base)).toDF("id", "h")
    val got = Dedup.hamming64Probe(stored, batch, "id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      s <- Seq((1L, base), (3L, base ^ 0xf0L), (5L, base ^ 0xffffffffL),
        (7L, base ^ 0x700L), (8L, base ^ 0x701L))
      b <- Seq((2L, base ^ 1L), (4L, base ^ 0xf6L), (6L, base))
      d = java.lang.Long.bitCount(s._2 ^ b._2) if d <= 3
    } yield (math.min(s._1, b._1), math.max(s._1, b._1), d)).toSet
    assert(got === brute)
    assert(got.exists(_._3 == 0), "the byte-identical case must surface as hamming 0")
    assert(!got.exists(p => p._1 == 7L && p._2 == 8L), "same-side rows must not pair")
  }

  test("2-batch stream: store probe finds cross-batch and corpus pairs, exactly the planted set") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = ImagePayload.synthesize((1L to 30L).toDF("id"), "id")
    withTempDir("imgdedup_spec") { storeDir =>
      StreamingImageDedup.initStore(spark, storeDir, corpus, "id")

      def patched(key: Long): Array[Byte] =
        ImagePayload.patchImage(ImagePayload.encodePng(key, 16, 16), 2, 2, 1)
      // batch 1: a patched copy of corpus image 5 and an unrelated raster;
      // batch 2: a byte-identical RE-POST of batch 1's patched raster plus a
      // patched copy of corpus image 10
      val batch1 = Seq((105L, patched(5L)), (900L, ImagePayload.encodePng(900L, 16, 16)))
      val batch2 = Seq((205L, patched(5L)), (110L, patched(10L)))

      val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Array[Byte])]
      val q = StreamingImageDedup.nearDupStream(
        input.toDF().toDF("id", "bytes"), storeDir, "id",
        (pairs, _) => acc.synchronized {
          acc ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        })
      try {
        input.addData(batch1)
        q.processAllAvailable()
        val afterB1 = acc.map(p => (p._1, p._2)).toSet
        assert(afterB1 === Set((5L, 105L)), s"batch 1 pairs: $afterB1")
        input.addData(batch2)
        q.processAllAvailable()
      } finally q.stop()

      val pairs = acc.map(p => (p._1, p._2)).toSet
      assert(pairs === Set((5L, 105L), (5L, 205L), (105L, 205L), (10L, 110L)),
        s"got $pairs")
      // the re-post is byte-identical to batch 1's raster: hamming 0, found
      // via the STORE (batch 1 was already folded in when batch 2 arrived)
      assert(acc.exists(p => p._1 == 105L && p._2 == 205L && p._3 == 0))
      // corpus-corpus pairs are never emitted (5 and 10 both sit in the
      // store; nothing pairs them with each other or any other corpus image)
      assert(!pairs.exists(p => p._1 <= 30L && p._2 <= 30L))
    }
  }
}
