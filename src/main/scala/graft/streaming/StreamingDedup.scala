package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming corpus near-dedup: documents arrive as a stream, each
  * micro-batch probes the PERSISTED corpus signature store (the daily
  * incremental job's layout) and is then folded into the store, so later
  * batches dedup against everything that came before without ever
  * re-pairing the existing corpus against itself.
  *
  * Shape: `foreachBatch` — the production idiom for running full
  * batch-semantics logic (exact-dup collapse, banded probe join, n-gram
  * verification) per micro-batch against a mutable external store.
  * A pure stream-static join cannot express the verify/collapse steps,
  * and stream-stream would re-pair the corpus.
  *
  * Store layout under `storeDir`: `sigs/` (minhashBandedSignatures rows)
  * and `docs/` ((id, text) rows, read back only for candidate
  * verification), both hive-partitioned by `__ingest_batch`. Batch
  * retries overwrite their own partition (dynamic partition overwrite),
  * so replays are idempotent on the store; the emitted pair stream is
  * at-least-once on retry, like any foreachBatch side effect.
  *
  * Cross-batch completeness: a pair (a in batch i, b in batch j>i) is
  * found at batch j (a's signature+text are in the store by then); a
  * within-batch pair at its own batch; corpus-corpus pairs never — so
  * accumulating the emitted pairs yields exactly the near-dup pairs
  * touching the streamed documents, each once. */
object StreamingDedup {

  /** Seed the store with the existing corpus (ingest-time signatures). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String, textCol: String,
                numHashes: Int = 32, bands: Int = 16, shingleN: Int = 3): Unit = {
    Dedup.minhashBandedSignatures(corpus, idCol, textCol, numHashes, bands, shingleN)
      .withColumn("__ingest_batch", lit(-1L))
      .write.partitionBy("__ingest_batch").mode("overwrite").parquet(s"$storeDir/sigs")
    corpus.select(col(idCol), col(textCol))
      .withColumn("__ingest_batch", lit(-1L))
      .write.partitionBy("__ingest_batch").mode("overwrite").parquet(s"$storeDir/docs")
  }

  /** Start the stream. `docs` must be a streaming DataFrame with
    * (idCol, textCol); `onBatch(pairs, batchId)` receives the verified
    * pairs (id_a < id_b, jaccard) for each micro-batch — write them to a
    * sink or accumulate. */
  def nearDupStream(docs: DataFrame, storeDir: String,
                    idCol: String, textCol: String,
                    onBatch: (DataFrame, Long) => Unit,
                    numHashes: Int = 32, bands: Int = 16, shingleN: Int = 3,
                    minJaccard: Double = 0.9, minEstJaccard: Double = 0.5,
                    maxBucketSize: Int = 100000): StreamingQuery = {
    require(docs.isStreaming, "nearDupStream needs a streaming DataFrame; " +
      "use Dedup.incrementalNearDupStored directly for batch input")
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col(idCol), col(textCol)).localCheckpoint()
        val storedSigs = spark.read.parquet(s"$storeDir/sigs").drop("__ingest_batch")
        val storedDocs = spark.read.parquet(s"$storeDir/docs").drop("__ingest_batch")
        val pairs = Dedup.incrementalNearDupStored(
          storedSigs, storedDocs, b, idCol, textCol,
          numHashes, bands, shingleN, minJaccard, minEstJaccard, maxBucketSize)
        // PIN before the callback: the pair plan reads the live store
        // directories the fold below appends to, so a lazily-evaluated
        // DataFrame held past this callback would pair the batch against
        // its own just-folded signatures
        onBatch(pairs.localCheckpoint(), batchId)
        // fold the batch into the store AFTER emitting; a replayed batch
        // rewrites only its own partition
        Dedup.minhashBandedSignatures(b, idCol, textCol, numHashes, bands, shingleN)
          .withColumn("__ingest_batch", lit(batchId))
          .write.partitionBy("__ingest_batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(s"$storeDir/sigs")
        b.withColumn("__ingest_batch", lit(batchId))
          .write.partitionBy("__ingest_batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(s"$storeDir/docs")
      }
      .start()
  }
}
