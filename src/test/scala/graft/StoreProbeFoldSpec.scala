package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{StreamingDedup, StreamingVideoDedup}

/** The shared store-probe-fold step of the dedup streams, driven without a
  * MemoryStream: a batch that re-sends stored ids pairs them once and never
  * with their own stored copies, a replayed micro-batch emits the pairs of
  * its first attempt and rewrites only its own partition, and re-seeding
  * is a static overwrite of the whole store. */
class StoreProbeFoldSpec extends SparkTestBase {

  // >= 3 distinct words per text (word-trigram shingles); distinct texts
  // share no trigram
  private def text(tag: String) =
    (1 to 12).map(i => s"$tag$i word$i token$i").mkString(" ")

  /** Runs one micro-batch of `fold` and returns the rows it emitted. */
  private def step(fold: graft.streaming.StoreProbeFold, batch: DataFrame,
                   batchId: Long): Seq[Row] = {
    var emitted = Seq.empty[Row]
    fold.step(batch, batchId, (pairs, id) => {
      assert(id === batchId)
      emitted = pairs.collect().toSeq
    })
    emitted
  }

  private def idPairs(rows: Seq[Row]) = rows.map(r => (r.getLong(0), r.getLong(1)))

  test("incrementalNearDup: a batch re-sending a corpus id pairs it once, never with itself") {
    import spark.implicits._
    val corpus = Seq((15L, text("u"))).toDF("doc_id", "text")
    val batch = Seq((14L, text("u")), (15L, text("u"))).toDF("doc_id", "text")
    val got = idPairs(Dedup.incrementalNearDup(corpus, batch, "doc_id", "text")
      .select("id_a", "id_b").collect().toSeq)
    assert(got === Seq((14L, 15L)))
  }

  test("text stream: re-sending an exact-duplicate pair emits it once, with no self-pair") {
    import spark.implicits._
    withTempDir("spf_text") { dir =>
      StreamingDedup.initStore(spark, dir, Seq((1L, text("a"))).toDF("doc_id", "text"),
        "doc_id", "text")
      val fold = StreamingDedup.fold(dir, "doc_id", "text", 32, 16, 3)
      val batch = Seq((14L, text("u")), (15L, text("u"))).toDF("doc_id", "text")
      assert(idPairs(step(fold, batch, 0L)) === Seq((14L, 15L)))
      assert(idPairs(step(fold, batch, 1L)) === Seq((14L, 15L)))
    }
  }

  test("video stream: two videos sharing ONE position never pair, also when re-sent") {
    import spark.implicits._
    // hand-built (__vid, band = frame position, bucket = fingerprint) rows:
    // 14 and 15 share only position 0; 16 shares positions 0 and 2 with 14
    withTempDir("spf_video") { dir =>
      val fold = StreamingVideoDedup.fold(dir, "k", every = 2, minShared = 2)
        .copy(project = identity)
      fold.seed(Seq((1L, 0, 555L), (1L, 2, 556L)).toDF("__vid", "band", "bucket"))
      val batch = Seq((14L, 0, 100L), (14L, 2, 200L), (14L, 4, 300L),
        (15L, 0, 100L), (15L, 2, 999L), (15L, 4, 888L),
        (16L, 0, 100L), (16L, 2, 200L), (16L, 4, 777L)).toDF("__vid", "band", "bucket")
      def emitted(batchId: Long) =
        step(fold, batch, batchId).map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(emitted(0L) === Seq((14L, 16L, 2L)))
      // re-sent: the stored copies of 14/15/16 are outside the store view, so
      // no bucket meets once from each side
      assert(emitted(1L) === Seq((14L, 16L, 2L)))
    }
  }

  test("a replayed micro-batch emits its first attempt's pairs; re-seeding leaves only -1") {
    import spark.implicits._
    withTempDir("spf_replay") { dir =>
      val corpus = Seq((1L, text("a")), (2L, text("b"))).toDF("doc_id", "text")
      StreamingDedup.initStore(spark, dir, corpus, "doc_id", "text")
      val fold = StreamingDedup.fold(dir, "doc_id", "text", 32, 16, 3)
      val batch = Seq((10L, text("a")), (11L, text("y"))).toDF("doc_id", "text")
      val first = step(fold, batch, 0L)
      val replay = step(fold, batch, 0L)
      assert(idPairs(first) === Seq((1L, 10L)))
      assert(replay === first)

      // partition 0 of each table holds the batch's rows once
      val docs = spark.read.parquet(s"$dir/docs/__ingest_batch=0")
        .as[(Long, String)].collect().sorted.toSeq
      assert(docs === batch.as[(Long, String)].collect().sorted.toSeq)
      val sigs = spark.read.parquet(s"$dir/sigs/__ingest_batch=0")
      assert(sigs.count() ===
        Dedup.minhashBandedSignatures(batch, "doc_id", "text", 32, 16, 3).count())

      // re-seeding is a static overwrite, even under a dynamic session default
      val key = "spark.sql.sources.partitionOverwriteMode"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try StreamingDedup.initStore(spark, dir, corpus, "doc_id", "text")
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      for (table <- Seq("sigs", "docs")) {
        val parts = spark.read.parquet(s"$dir/$table")
          .select(col("__ingest_batch").cast("long")).distinct().collect().map(_.getLong(0))
        assert(parts.toSet === Set(-1L), s"$table partitions after re-seeding")
      }
    }
  }
}
