package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingDedup

/** Streaming corpus dedup: cross-batch pairs surface when the later
  * member arrives, corpus-corpus pairs never, and the accumulated stream
  * equals the one-shot incremental batch run. */
class StreamingDedupSpec extends SparkTestBase {

  // >= 3 distinct words per text (word-trigram shingles); distinct texts
  // share no trigram
  private def text(tag: String) =
    (1 to 12).map(i => s"$tag$i word$i token$i").mkString(" ")

  test("2-batch stream == one-shot incremental; cross-batch pair lands in batch 2; no corpus-corpus pair") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // corpus: 1=A, 2=B, 8/9 = identical pair C1/C2 (must never be emitted)
    val corpus = Seq(
      (1L, text("a")), (2L, text("b")), (8L, text("c")), (9L, text("c")))
      .toDF("doc_id", "text")
    // batch1: 10=copy of A, 11=unrelated Y, 14/15=identical in-batch pair
    val batch1 = Seq(
      (10L, text("a")), (11L, text("y")), (14L, text("u")), (15L, text("u")))
    // batch2: 12=copy of Y (cross-batch streamed-streamed), 13=copy of B
    val batch2 = Seq((12L, text("y")), (13L, text("b")))

    withTempDir("sd_spec") { storeDir =>
      StreamingDedup.initStore(spark, storeDir, corpus, "doc_id", "text")

      val perBatch = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.nearDupStream(
        input.toDF().toDF("doc_id", "text"), storeDir, "doc_id", "text",
        (pairs, id) => perBatch.synchronized {
          perBatch(id) = pairs.select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        })
      try {
        input.addData(batch1)
        q.processAllAvailable()
        input.addData(batch2)
        q.processAllAvailable()
      } finally q.stop()

      assert(perBatch(0L) === Set((1L, 10L), (14L, 15L)))
      assert(perBatch(1L) === Set((11L, 12L), (2L, 13L)))

      // store grew: one partition per ingest batch plus the seed
      // hive partition values read back type-inferred (int) — normalize
      val sigBatches = spark.read.parquet(s"$storeDir/sigs")
        .select(col("__ingest_batch").cast("long")).distinct().collect().map(_.getLong(0)).toSet
      assert(sigBatches === Set(-1L, 0L, 1L))

      // one-shot incremental over the same split must agree with the union
      val oneShot = Dedup.incrementalNearDup(corpus,
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.9, minEstJaccard = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(perBatch.values.flatten.toSet === oneShot)
    }
  }

  test("batch input is rejected (streaming-only API)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, text("a"))).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      StreamingDedup.nearDupStream(df, "/tmp/nowhere", "doc_id", "text", (_, _) => ())
    }
  }
}
