package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, VideoPayload}

/** Streaming VIDEO near-dedup vs a growing frame-signature store — the
  * temporal twin of [[StreamingImageDedup]], a [[StoreProbeFold]]
  * instance: each micro-batch is parsed + strided-decoded ONCE into
  * (`__vid`, band = frame_idx, bucket = dhash) signatures, probes the
  * persisted store (asymmetric same-position equi-join — the store is
  * never self-paired), self-joins within the batch, keeps the pairs
  * sharing at least `minShared` positions, and folds its signatures in so
  * later batches dedup against everything before.
  *
  * Scale shape: video BYTES never reach the store or any join — the store
  * holds 12 bytes per SAMPLED FRAME regardless of resolution, and each
  * micro-batch ships signature rows only. Store layout `sigs/`
  * hive-partitioned by `__ingest_batch`; replay and re-sent ids as in
  * [[StoreProbeFold]]. */
object StreamingVideoDedup {

  private[graft] def fold(storeDir: String, idCol: String, every: Int,
                          minShared: Int = 2, maxBucketSize: Int = 1024): StoreProbeFold =
    StoreProbeFold(storeDir, "__vid",
      VideoPayload.frameSignatures(_, every)
        .where(col("dhash").isNotNull)
        .select(col(idCol).as("__vid"), col("frame_idx").as("band"), col("dhash").as("bucket")),
      Seq("sigs" -> identity),
      (view, sigs) => VideoPayload.sharedAtLeast(
        Dedup.bandedProbe(view("sigs"), sigs, "__vid", maxBucketSize, "videodupprobe")
          .unionByName(Dedup.bandedSelfPairs(sigs, "__vid", maxBucketSize, "videodupwithin")),
        minShared))

  /** Seed the store with the corpus's frame signatures (one parse +
    * strided decode per video — the signature table a video pipeline
    * persists anyway). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String, every: Int = 2): Unit =
    fold(storeDir, idCol, every).seed(corpus)

  /** Start the stream. `videos` must be a streaming DataFrame with
    * (idCol, bytes); `onBatch(pairs, batchId)` receives
    * (id_a, id_b, shared) pairs per micro-batch. */
  def nearDupStream(videos: DataFrame, storeDir: String, idCol: String,
                    onBatch: (DataFrame, Long) => Unit,
                    every: Int = 2, minShared: Int = 2,
                    maxBucketSize: Int = 1024): StreamingQuery = {
    require(videos.isStreaming, "nearDupStream needs a streaming DataFrame; " +
      "use VideoPayload.videoNearDup directly for batch input")
    fold(storeDir, idCol, every, minShared, maxBucketSize).stream(videos, onBatch)
  }
}
