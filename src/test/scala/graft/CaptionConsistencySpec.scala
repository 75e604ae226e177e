package graft

import org.apache.spark.sql.functions._

import graft.operators.ImagePayload

/** Caption-consistency join: brute-force pair semantics, the >3-bit margin
  * that makes the planted q_caption_consistency oracle exact, and the
  * viral-caption group cap. */
class CaptionConsistencySpec extends SparkTestBase {

  test("pairs and same_image flags match brute force on a hand-built caption group") {
    import spark.implicits._
    val imgs = ImagePayload.synthesize(Seq(1L, 2L, 3L).toDF("p_partkey"), "p_partkey")
    // one caption shared by: original 1, byte-identical re-post 10, and
    // image 3's raster wearing the caption (a mislabel); image 2 keeps its
    // own caption and must not pair with anything
    val cap1 = imgs.where($"p_partkey" === 1L).select($"caption").as[String].head()
    val repost = imgs.where($"p_partkey" === 1L).withColumn("p_partkey", lit(10L))
    val mislabel = imgs.where($"p_partkey" === 3L)
      .withColumn("p_partkey", lit(11L)).withColumn("caption", lit(cap1))
    val got = ImagePayload.captionConsistency(
      imgs.where($"p_partkey" =!= 3L).unionByName(repost).unionByName(mislabel), "p_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set((1L, 10L, true), (1L, 11L, false), (10L, 11L, false)))
  }

  test("planted fresh rasters clear the 3-bit dhash line with margin (oracle exactness precondition)") {
    import spark.implicits._
    val keys = spark.read.parquet(s"${sf("sf0.001")}/part.parquet")
      .select("p_partkey").where(col("p_partkey") % 45 === 0)
    val orig = ImagePayload.withPerceptualHash(
      ImagePayload.synthesize(keys, "p_partkey"))
      .select(col("p_partkey"), col("dhash").as("d_o"))
    val fresh = ImagePayload.withPerceptualHash(
      ImagePayload.synthesize(keys.select((col("p_partkey") + 300000000L).as("p_partkey")), "p_partkey"))
      .select((col("p_partkey") - 300000000L).as("p_partkey"), col("dhash").as("d_f"))
    val minHam = orig.join(fresh, "p_partkey")
      .select(expr("bit_count(d_o ^ d_f)").as("h"))
      .agg(min("h")).as[Int].head()
    assert(minHam > 6, s"fresh rasters must sit far above the 3-bit near-dup line, got min $minHam")
  }

  test("a viral caption group is dropped loudly, never exploded") {
    import spark.implicits._
    val imgs = ImagePayload.synthesize((1L to 30L).toDF("p_partkey"), "p_partkey")
      .withColumn("caption", lit("same viral caption everywhere"))
    val (n, dropped) = droppedRows("caption") {
      ImagePayload.captionConsistency(imgs, "p_partkey", maxGroupSize = 10).count()
    }
    assert(n === 0L)
    assert(dropped === Seq(30L), "the whole 30-image group is reported dropped")
  }
}
