package graft

import graft.operators.Dedup

/** The banded candidate join of the LSH family: both shapes against brute
  * force, and the hot-bucket cap's dropped-row count, which each query
  * reports for itself, exactly once. */
class BandedCandidatesSpec extends SparkTestBase {

  // (id, band, bucket) rows: bucket 7 of band 0 holds 12 ids (over a cap
  // of 10), the other buckets 1-3 ids each
  private val rows: Seq[(Long, Int, Long)] =
    (1L to 12L).map(i => (i, 0, 7L)) ++
      Seq((1L, 1, 100L), (2L, 1, 100L), (3L, 1, 100L), (4L, 1, 101L), (5L, 1, 101L), (6L, 0, 8L))

  private def banded(rs: Seq[(Long, Int, Long)]) = {
    import spark.implicits._
    rs.toDF("id", "band", "bucket")
  }

  /** One (id_a, id_b) per shared kept bucket. */
  private def brutePairs(rs: Seq[(Long, Int, Long)], cap: Int): Seq[(Long, Long)] = {
    val kept = rs.groupBy(r => (r._2, r._3)).filter(_._2.size <= cap).values.flatten.toSeq
    for (a <- kept; b <- kept if a._1 < b._1 && a._2 == b._2 && a._3 == b._3) yield (a._1, b._1)
  }

  test("self-pairs: one over-cap bucket is dropped and its rows reported exactly once") {
    val (got, dropped) = droppedRows("spec") {
      Dedup.bandedSelfPairs(banded(rows), "id", 10, "spec")
        .collect().map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b"))))
    }
    assert(got.sorted.toSeq === brutePairs(rows, 10).sorted)
    assert(got.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // the self-join reads the banded table on both sides, the count is not doubled
    assert(dropped === Seq(12L))
    val (all, none) = droppedRows("spec") {
      Dedup.bandedSelfPairs(banded(rows), "id", Int.MaxValue, "spec").count()
    }
    assert(all === brutePairs(rows, Int.MaxValue).size.toLong)
    assert(none.isEmpty, "an uncapped join observes nothing")
  }

  test("probe: the cap counts both sides; pairs are (least, greatest) of different ids") {
    import spark.implicits._
    // bucket (0, 7): 6 stored + 6 batch rows = 12 > 10, dropped; bucket
    // (0, 9): 5 stored + 5 batch = 10, kept; id 20 is sent on both sides
    val stored = banded((1L to 6L).map(i => (i, 0, 7L)) ++ (20L to 24L).map(i => (i, 0, 9L)))
    val batch = banded((7L to 12L).map(i => (i, 0, 7L)) ++
      (Seq(20L) ++ (30L to 33L)).map(i => (i, 0, 9L)))
    val (got, dropped) = droppedRows("spec") {
      Dedup.bandedProbe(stored, batch, "id", 10, "spec").as[(Long, Long)].collect().toSet
    }
    val expected = for (s <- (20L to 24L).toSet[Long]; b <- Set(20L, 30L, 31L, 32L, 33L) if s != b)
      yield (math.min(s, b), math.max(s, b))
    assert(got === expected)
    assert(dropped === Seq(12L))
    // directed: (stored id, batch id) as they are, equal ids kept
    val directed = Dedup.bandedProbe(stored, batch, "id", 10, "spec", directed = true)
      .as[(Long, Long)].collect().toSet
    assert(directed === (for (s <- 20L to 24L; b <- Seq(20L, 30L, 31L, 32L, 33L)) yield (s, b)).toSet)
  }

  test("two capped plans of one stage: each query reports its own dropped rows") {
    import org.apache.spark.sql.functions.col
    val first = Dedup.bandedSelfPairs(banded(rows), "id", 10, "spec")
    // built after the first: a plan-time counter would now point here
    val second = Dedup.bandedSelfPairs(banded(rows).where(col("id") =!= 12L), "id", 2, "spec")
    assert(droppedRows("spec")(first.count())._2 === Seq(12L))
    assert(droppedRows("spec")(second.count())._2 === Seq(11L + 3L))
    assert(droppedRows("spec")(first.count())._2 === Seq(12L))
  }
}
