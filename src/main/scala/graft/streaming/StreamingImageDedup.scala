package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, ImagePayload}

/** Streaming IMAGE near-dedup — the perceptual twin of [[StreamingDedup]],
  * a [[StoreProbeFold]] instance: each micro-batch is decoded ONCE into
  * (id, dhash) signatures, probes the persisted corpus dhash store
  * (asymmetric banded hamming join — the store is never self-paired),
  * pairs within the batch by the standard self-banding, and is folded into
  * the store so later batches dedup against everything that came before.
  *
  * Scale shape: image BYTES never reach the store or any join — the store
  * holds 16 bytes per image regardless of image size, and each
  * micro-batch ships (id, dhash) rows only. Undecodable images (null
  * dhash) are excluded, not clustered (the [[ImagePayload.dhash64]]
  * sentinel rule).
  *
  * Store layout under `storeDir`: `sigs/` ((id, dhash) rows)
  * hive-partitioned by `__ingest_batch`. A retried micro-batch rewrites
  * only its own partition and emits exactly the pairs of its first
  * attempt. */
object StreamingImageDedup {

  private[graft] def fold(storeDir: String, idCol: String,
                          maxHamming: Int = 3, maxBucketSize: Int = 100000): StoreProbeFold =
    StoreProbeFold(storeDir, idCol,
      ImagePayload.withPerceptualHash(_).select(col(idCol), col("dhash"))
        .where(col("dhash").isNotNull),
      Seq("sigs" -> identity),
      (view, sigs) => Dedup.hamming64Probe(view("sigs"), sigs, idCol, "dhash",
        maxHamming, maxBucketSize)
        .unionByName(Dedup.hamming64Pairs(sigs, idCol, "dhash", maxHamming, maxBucketSize)))

  /** Seed the store with the existing corpus's signatures (ONE decode
    * pass at ingest — the signature table a 100-TB image pipeline
    * persists anyway). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String): Unit =
    fold(storeDir, idCol).seed(corpus)

  /** Start the stream. `images` must be a streaming DataFrame with
    * (idCol, bytes); `onBatch(pairs, batchId)` receives the
    * (id_a, id_b, hamming) pairs for each micro-batch. */
  def nearDupStream(images: DataFrame, storeDir: String, idCol: String,
                    onBatch: (DataFrame, Long) => Unit,
                    maxHamming: Int = 3, maxBucketSize: Int = 100000): StreamingQuery = {
    require(images.isStreaming, "nearDupStream needs a streaming DataFrame; " +
      "use Dedup.hamming64Probe + hamming64Pairs directly for batch input")
    fold(storeDir, idCol, maxHamming, maxBucketSize).stream(images, onBatch)
  }
}
