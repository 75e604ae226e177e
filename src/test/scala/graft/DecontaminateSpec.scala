package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Decontamination (corpus vs eval-set verbatim-span overlap): brute-force
  * equivalence, asymmetry (no corpus-corpus or eval-eval pair can surface),
  * exact-dup expansion, and the boilerplate bucket-cap drop counter. */
class DecontaminateSpec extends SparkTestBase {

  private def ngrams(s: String, n: Int): Set[String] = {
    val t = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    if (t.size < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  test("decontaminate == brute-force doc-x-eval n-gram intersection; never doc-doc or eval-eval") {
    import spark.implicits._
    val span = "one two three four five six seven eight"
    val docs = Seq(
      (0L, s"prefix words here $span trailing junk"), // contaminated
      (1L, s"leading text then $span and more"),      // contaminated (and a near-dup of 0 — must NOT pair with it)
      (2L, "unrelated corpus document with its own vocabulary entirely"),
      (3L, s"prefix words here $span trailing junk"), // exact dup of 0: expansion must emit it
      (4L, "one two three four five six seven")       // 7 tokens: below the span floor
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, s"benchmark question containing $span verbatim"),
      (101L, s"another benchmark item that also quotes $span here"), // evals share the span — must NOT pair with each other
      (102L, "clean benchmark prompt with no overlap at all")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, evalSet, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val evalRows = evalSet.collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = (for {
      (di, dt) <- docRows; (ei, et) <- evalRows
      if (ngrams(dt, 8) intersect ngrams(et, 8)).nonEmpty
    } yield (di, ei)).toSet
    assert(got === expected)
    assert(got === Set((0L, 100L), (0L, 101L), (1L, 100L), (1L, 101L),
      (3L, 100L), (3L, 101L)))
    assert(got.forall(p => p._2 >= 100L), "every pair must touch the eval side")
  }

  test("sub-n documents follow the single-short-gram rule on both sides") {
    import spark.implicits._
    val docs = Seq((0L, "short doc only"), (1L, "other words here")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "Short  DOC   only"), (101L, "nothing shared")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, evalSet, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 100L)), "whole-short-doc verbatim match (case/space-normalized)")
  }

  test("bucket cap drops boilerplate grams and reports the drop count") {
    import spark.implicits._
    val boiler = "standard legal footer appended to every single page here"
    val docs = (0L until 50L).map(i => (i, s"body $i " * 4 + boiler)).toDF("doc_id", "text")
    val evalSet = Seq((100L, s"quiz that quotes $boiler")).toDF("doc_id", "text")
    val (capped, dropped) = droppedRows("decontaminate") {
      Dedup.decontaminate(docs, evalSet, "doc_id", "text", n = 8, maxBucketSize = 10).count()
    }
    assert(capped === 0L, "over-cap boilerplate bucket is dropped, not exploded")
    // the drop is observable, never silent: the footer's two 8-grams, each
    // in 50 corpus docs + the eval doc (the probe's cap counts both sides)
    assert(dropped === Seq(2L * 51))
    val uncapped = Dedup.decontaminate(docs, evalSet, "doc_id", "text", n = 8)
    assert(uncapped.count() === 50L)
  }
}
