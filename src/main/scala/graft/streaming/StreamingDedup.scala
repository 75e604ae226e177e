package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming corpus near-dedup: documents arrive as a stream, each
  * micro-batch probes the PERSISTED corpus signature store (the daily
  * incremental job's layout) and is then folded into the store, so later
  * batches dedup against everything that came before without ever
  * re-pairing the existing corpus against itself — a [[StoreProbeFold]]
  * instance. Each micro-batch runs the full batch logic (exact-dup
  * collapse, banded probe, n-gram verification,
  * [[Dedup.incrementalNearDupStored]]), which neither a stream-static nor
  * a stream-stream join can express.
  *
  * Store layout under `storeDir`: `sigs/` (minhashBandedSignatures rows)
  * and `docs/` ((id, text) rows, read back only for candidate
  * verification), both hive-partitioned by `__ingest_batch`. A retried
  * micro-batch rewrites only its own partition and emits exactly the pairs
  * of its first attempt; a batch that re-sends a stored id pairs it with
  * the batch's other documents, never with its own stored copy. */
object StreamingDedup {

  private[graft] def fold(storeDir: String, idCol: String, textCol: String,
                          numHashes: Int, bands: Int, shingleN: Int,
                          minJaccard: Double = 0.9, minEstJaccard: Double = 0.5,
                          maxBucketSize: Int = 100000): StoreProbeFold =
    StoreProbeFold(storeDir, idCol, _.select(col(idCol), col(textCol)),
      Seq("sigs" -> (Dedup.minhashBandedSignatures(_, idCol, textCol, numHashes, bands, shingleN)),
        "docs" -> identity),
      (view, b) => Dedup.incrementalNearDupStored(view("sigs"), view("docs"), b, idCol, textCol,
        numHashes, bands, shingleN, minJaccard, minEstJaccard, maxBucketSize))

  /** Seed the store with the existing corpus (ingest-time signatures). */
  def initStore(spark: SparkSession, storeDir: String, corpus: DataFrame,
                idCol: String, textCol: String,
                numHashes: Int = 32, bands: Int = 16, shingleN: Int = 3): Unit =
    fold(storeDir, idCol, textCol, numHashes, bands, shingleN).seed(corpus)

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
    fold(storeDir, idCol, textCol, numHashes, bands, shingleN,
      minJaccard, minEstJaccard, maxBucketSize).stream(docs, onBatch)
  }
}
