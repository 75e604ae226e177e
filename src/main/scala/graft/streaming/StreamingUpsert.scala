package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Tiling

/** Streaming CDC apply: a stream of row-level updates (key, new
  * coordinates, payload) is MERGE-upserted per micro-batch into a
  * [[Tiling.clusteredWrite]] table — the continuous-ingest path of the
  * mutable spatially-clustered store ([[Tiling.mergeClustered]] is the
  * batch half; this is its per-micro-batch twin — kept apart from the
  * dedup streams' shared [[StoreProbeFold]] protocol, because an upsert
  * merges by key instead of folding a partition per batch).
  *
  * Semantics per batch: multiple CDC events for one key within a batch are
  * collapsed to the LAST by `orderCol` (last-writer-wins needs a total
  * order, so ties on (key, orderCol) are rejected loudly rather than
  * resolved arbitrarily); the collapsed batch then merges atomically —
  * moved keys are deleted wherever they lived, only touched coarse-tile
  * partitions rewrite.
  *
  * Replay safety: unlike appends, an upsert keyed by `keyCol` is
  * idempotent — re-running a batch against the post-batch table is a
  * no-op on table CONTENT (pinned in StreamingUpsertSpec), so micro-batch
  * retries converge without dedup bookkeeping. */
object StreamingUpsert {

  def upsertStream(updates: DataFrame, tableDir: String, keyCol: String,
                   latCol: String, lonCol: String, orderCol: String,
                   coarseLevel: Int = 5): StreamingQuery = {
    require(updates.isStreaming,
      "upsertStream needs a streaming DataFrame; use Tiling.mergeClustered for batch input")
    Seq(keyCol, latCol, lonCol, orderCol).foreach(c =>
      require(updates.columns.contains(c), s"upsertStream: updates missing column '$c'"))
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        val ambiguous = b.groupBy(col(keyCol), col(orderCol))
          .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(5).collect()
        require(ambiguous.isEmpty,
          s"upsertStream: ties on ($keyCol, $orderCol) have no defined winner: " +
            ambiguous.map(r => s"${r.get(0)}@${r.get(1)}").mkString(", "))
        val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
        val collapsed = b
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .drop("__rn", orderCol)
        if (!collapsed.isEmpty)
          Tiling.mergeClustered(spark, tableDir, collapsed, keyCol, latCol, lonCol,
            coarseLevel)
        ()
      }
      .start()
  }
}
