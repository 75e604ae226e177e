package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The store-probe-fold protocol of the dedup streams ([[StreamingDedup]],
  * [[StreamingImageDedup]], [[StreamingVideoDedup]]): each micro-batch is
  * paired against a persisted store of everything before it, then folded
  * into it. An instance is its batch `project`ion (the signatures,
  * computed once), its store `tables` (name -> the table's rows of a
  * projected batch, each carrying `idCol`) and its `pairs` function over
  * (store view by table name, pinned batch). Each table lives in
  * `storeDir/<name>`, hive-partitioned by `__ingest_batch` (-1 = the seed
  * corpus, else the micro-batch id).
  *
  * Per micro-batch ([[step]]):
  *  1. pin the projected batch (probe, self-pairs and fold read it once);
  *  2. the store view: the stored rows whose id is NOT in the batch — a
  *     re-sent id pairs with the batch's other rows, never with its own
  *     stored copy, and store-batch pairs are disjoint from within-batch
  *     ones;
  *  3. emit `pairs(view, batch)`, one row per pair with id_a < id_b,
  *     PINNED before `onBatch` runs: the plan reads the live store the
  *     fold rewrites right after the callback returns;
  *  4. fold the batch into partition `batchId` of every table (dynamic
  *     partition overwrite).
  *
  * A retried micro-batch rewrites only its own partition, whose ids all
  * lie outside the view, so it emits exactly the pairs of its first
  * attempt. A pair (a in batch i, b in batch j > i) surfaces at batch j
  * through the store, a within-batch pair at its own batch, a
  * corpus-corpus pair never: the accumulated pairs are the near-dup pairs
  * touching the streamed rows, each once. */
private[graft] final case class StoreProbeFold(
    storeDir: String, idCol: String,
    project: DataFrame => DataFrame,
    tables: Seq[(String, DataFrame => DataFrame)],
    pairs: (Map[String, DataFrame], DataFrame) => DataFrame) {

  /** Seed the store with the corpus as partition -1: a static overwrite of
    * every table, so re-seeding drops the folded batches. */
  def seed(corpus: DataFrame): Unit = write(project(corpus), -1L, "static")

  def stream(input: DataFrame, onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(project(batch), batchId, onBatch)
      }
      .start()

  /** One micro-batch of an already-projected batch (steps 1-4 above). */
  private[graft] def step(projected: DataFrame, batchId: Long,
                          onBatch: (DataFrame, Long) => Unit): Unit = {
    val b = projected.localCheckpoint()
    val ids = b.select(idCol)
    val view = tables.map { case (name, _) =>
      name -> b.sparkSession.read.parquet(s"$storeDir/$name").drop("__ingest_batch")
        .join(ids, Seq(idCol), "left_anti")
    }.toMap
    onBatch(pairs(view, b).where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b").localCheckpoint(), batchId)
    write(b, batchId, "dynamic")
  }

  private def write(rows: DataFrame, batchId: Long, overwriteMode: String): Unit =
    tables.foreach { case (name, of) =>
      of(rows).withColumn("__ingest_batch", lit(batchId))
        .write.partitionBy("__ingest_batch").mode("overwrite")
        .option("partitionOverwriteMode", overwriteMode).parquet(s"$storeDir/$name")
    }
}
