package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, VideoPayload}

/** Streaming VIDEO near-dedup vs a growing frame-signature store — the
  * temporal twin of [[StreamingImageDedup]]: videos arrive as a stream,
  * each micro-batch is parsed + strided-decoded ONCE into
  * (id, frame_idx, dhash) signatures, probes the persisted store
  * (asymmetric same-position equi-join with a shared-count threshold —
  * the store is never self-paired), finds within-batch pairs by the
  * standard self-join, and folds its signatures in so later batches dedup
  * against everything before.
  *
  * Scale shape: video BYTES never reach the store or any join — the store
  * holds 12 bytes per SAMPLED FRAME regardless of resolution, and each
  * micro-batch ships signature rows only. Store layout, idempotent
  * dynamic-partition-overwrite folding, re-sent-id emission dedup, and
  * the pin-before-callback rule are all inherited verbatim from the
  * image stream (see [[StreamingImageDedup]]'s scaladoc for the
  * correctness argument). */
object StreamingVideoDedup {

  private def sigs(videos: DataFrame, idCol: String, every: Int): DataFrame =
    VideoPayload.frameSignatures(videos, every)
      .where(col("dhash").isNotNull)
      .select(col(idCol).as("__vid"), col("frame_idx").as("band"),
        col("dhash").as("bucket"))

  /** Seed the store with the corpus's frame signatures (one parse +
    * strided decode per video — the signature table a video pipeline
    * persists anyway). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String, every: Int = 2): Unit =
    sigs(corpus, idCol, every)
      .withColumn("__ingest_batch", lit(-1L))
      .write.partitionBy("__ingest_batch").mode("overwrite").parquet(s"$storeDir/sigs")

  /** Start the stream. `videos` must be a streaming DataFrame with
    * (idCol, bytes); `onBatch(pairs, batchId)` receives
    * (id_a, id_b, shared) pairs per micro-batch. */
  def nearDupStream(videos: DataFrame, storeDir: String, idCol: String,
                    onBatch: (DataFrame, Long) => Unit,
                    every: Int = 2, minShared: Int = 2,
                    maxBucketSize: Int = 1024): StreamingQuery = {
    require(videos.isStreaming, "nearDupStream needs a streaming DataFrame; " +
      "use VideoPayload.videoNearDup directly for batch input")
    videos.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // decode once under the probe, the self-join and the fold
        val batchSigs = sigs(batch, idCol, every).localCheckpoint()
        val stored = spark.read.parquet(s"$storeDir/sigs").drop("__ingest_batch")
        val cross = VideoPayload.sharedAtLeast(Dedup.bandedProbe(stored, batchSigs, "__vid",
          maxBucketSize, "videodupprobe"), minShared)
        val within = VideoPayload.sharedAtLeast(Dedup.bandedSelfPairs(batchSigs, "__vid",
          maxBucketSize, "videodupwithin"), minShared)
        onBatch(cross.unionByName(within).dropDuplicates("id_a", "id_b")
          .localCheckpoint(), batchId)
        batchSigs.withColumn("__ingest_batch", lit(batchId))
          .write.partitionBy("__ingest_batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(s"$storeDir/sigs")
      }
      .start()
  }
}
