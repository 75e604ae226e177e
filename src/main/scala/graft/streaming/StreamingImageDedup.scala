package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, ImagePayload}

/** Streaming IMAGE near-dedup — the perceptual twin of [[StreamingDedup]]:
  * images arrive as a stream, each micro-batch is decoded ONCE into
  * (id, dhash) signatures, probes the persisted corpus dhash store
  * (asymmetric banded hamming join — the store is never self-paired),
  * pairs within the batch are found by the standard self-banding, and the
  * batch's signatures are folded into the store so later batches dedup
  * against everything that came before.
  *
  * Scale shape: image BYTES never reach the store or any join — the store
  * holds 16 bytes per image regardless of image size, and each
  * micro-batch ships (id, dhash) rows only. Undecodable images (null
  * dhash) are excluded, not clustered (the [[ImagePayload.dhash64]]
  * sentinel rule).
  *
  * Store layout under `storeDir`: `sigs/` ((id, dhash) rows)
  * hive-partitioned by `__ingest_batch`; batch retries overwrite their own
  * partition (dynamic partition overwrite), so replays are idempotent on
  * the store and the emitted pair stream is at-least-once on retry, like
  * any foreachBatch side effect.
  *
  * Cross-batch completeness mirrors the text stream: a pair (a in batch
  * i, b in batch j>i) surfaces at batch j via the store probe, a
  * within-batch pair at its own batch, corpus-corpus pairs never — so the
  * accumulated pair stream is exactly the near-dup pairs touching the
  * streamed images, each once. The per-batch emission is deduped across
  * the two paths (a batch that RE-SENDS an id already folded into the
  * store would otherwise surface that id's within-batch pairs twice —
  * once from the probe, once from the self-band), and it is MATERIALIZED
  * before `onBatch` runs: the pair plan reads the live store directory,
  * which the fold overwrites right after the callback returns, so a lazy
  * DataFrame evaluated later would pair the batch against itself. */
object StreamingImageDedup {

  /** Seed the store with the existing corpus's signatures (ONE decode
    * pass at ingest — the signature table a 100-TB image pipeline
    * persists anyway). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String): Unit =
    ImagePayload.withPerceptualHash(corpus)
      .select(col(idCol), col("dhash"))
      .where(col("dhash").isNotNull)
      .withColumn("__ingest_batch", lit(-1L))
      .write.partitionBy("__ingest_batch").mode("overwrite").parquet(s"$storeDir/sigs")

  /** Start the stream. `images` must be a streaming DataFrame with
    * (idCol, bytes); `onBatch(pairs, batchId)` receives the
    * (id_a, id_b, hamming) pairs for each micro-batch. */
  def nearDupStream(images: DataFrame, storeDir: String, idCol: String,
                    onBatch: (DataFrame, Long) => Unit,
                    maxHamming: Int = 3, maxBucketSize: Int = 100000): StreamingQuery = {
    require(images.isStreaming, "nearDupStream needs a streaming DataFrame; " +
      "use Dedup.hamming64Probe + hamming64Pairs directly for batch input")
    images.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // decode once: the signature projection feeds the store probe,
        // the within-batch self-join (both branches) and the store fold —
        // the imageNearDup materialization lesson (BENCH.md)
        val sigs = ImagePayload.withPerceptualHash(batch)
          .select(col(idCol), col("dhash"))
          .where(col("dhash").isNotNull)
          .localCheckpoint()
        val stored = spark.read.parquet(s"$storeDir/sigs").drop("__ingest_batch")
        val cross = Dedup.hamming64Probe(stored, sigs, idCol, "dhash",
          maxHamming, maxBucketSize)
        val within = Dedup.hamming64Pairs(sigs, idCol, "dhash",
          maxHamming, maxBucketSize)
        // dedup re-sent-id double emissions, then PIN before the callback:
        // the plan reads the store path the fold below overwrites
        onBatch(cross.unionByName(within).dropDuplicates("id_a", "id_b")
          .localCheckpoint(), batchId)
        // fold AFTER emitting; a replayed batch rewrites only its own partition
        sigs.withColumn("__ingest_batch", lit(batchId))
          .write.partitionBy("__ingest_batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(s"$storeDir/sigs")
      }
      .start()
  }
}
