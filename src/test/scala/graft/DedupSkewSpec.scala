package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Adversarial-skew behavior of the LSH dedup family: a heavily-replicated
  * boilerplate document (the classic web-corpus case) must NOT make any
  * banded-join bucket quadratic. The guard is exact-dup collapse before
  * signatures; the banded join then sees one representative per distinct
  * text, and the final expansion restores the (inherently quadratic-sized)
  * answer without any quadratic shuffle in the candidate stages. */
class DedupSkewSpec extends SparkTestBase {

  private def vocabDoc(i: Int): String =
    s"the quick brown fox number $i jumps over the lazy dog near river $i"

  test("1000-copy planted doc: banded candidates stay linear, output still complete") {
    import spark.implicits._
    val distinctDocs = (0 until 20).map(i => (i.toLong, vocabDoc(i)))
    val planted = (0 until 1000).map(j => (1000L + j, vocabDoc(0)))
    val docs = (distinctDocs ++ planted).toDF("doc_id", "text")

    val (reps, members) = Dedup.collapseExact(docs, "doc_id", "text")
    assert(reps.count() === 20) // 1000 planted copies -> the one vocabDoc(0) rep
    assert(members.count() === 1020)

    // candidate stage on representatives: bounded by rep-pair count, far
    // below the ~500k pairs a naive banded join over the raw corpus makes
    val repCand = Dedup.bandedMinhashPairs(reps, "doc_id", "text",
      numHashes = 32, bands = 16, shingleN = 3,
      minEstJaccard = 0.0, maxBucketSize = Int.MaxValue).count()
    assert(repCand <= 20L * 19 / 2)

    // the banded buckets themselves never exceed the distinct-text count
    val maxBucket = Dedup.minhashBucketStats(docs, "doc_id", "text",
      numHashes = 32, bands = 16).agg(max("size")).head().getLong(0)
    assert(maxBucket <= 20)

    // ...while the expanded contract output still contains every
    // within-group pair (est_jaccard 1.0 by identity)
    val full = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      numHashes = 32, bands = 16, minEstJaccard = 0.5)
    assert(full.where(col("id_a") >= 1000 || col("id_b") >= 1000 ||
      col("id_a") === 0 || col("id_b") === 0)
      .where(col("est_jaccard") === 1.0).count() >= 1001L * 1000 / 2)

    // simhash path: same collapse, within-group pairs carry hamming = 0
    val sim = Dedup.simhashCandidates(docs.where(col("doc_id") < 1100), "doc_id", "text")
    assert(sim.where(col("hamming") === 0).count() >= 101L * 100 / 2)
  }

  test("duplicateClusters: min-label propagation converges on chains and cliques") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain: needs several rounds
      (10L, 11L), (10L, 12L), (11L, 12L),     // clique
      (21L, 20L))                             // single reversed pair
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    // pointer jumping: a 60-deep chain (diameter >> the 25-round budget of
    // plain propagation) still converges
    val chain = (100L until 160L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val chainGot = Dedup.duplicateClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chainGot.size == 60 && chainGot.values.forall(_ == 100L))

    // the label-sum probe is exact only over integral ids: string and
    // fractional ids are rejected up front, naming the type
    for ((ids, typeName) <- Seq(
        Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b") -> "StringType",
        Seq((1.5, 2.5), (2.5, 3.5)).toDF("id_a", "id_b") -> "DoubleType")) {
      val e = intercept[IllegalArgumentException](Dedup.duplicateClusters(ids))
      assert(e.getMessage.contains("duplicateClusters") && e.getMessage.contains(typeName),
        e.getMessage)
    }
    // every integral width is accepted
    val narrow = Seq((1.toShort, 2.toShort), (2.toShort, 3.toShort)).toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(narrow).select("cluster_id").distinct().count() === 1)
  }

  test("dedupKeep: keeps singletons plus one canonical representative per cluster") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq(
      (1L, 2L), (2L, 3L),             // chain cluster {1,2,3} -> keep 1
      (10L, 11L), (11L, 12L), (10L, 12L), // clique {10,11,12} -> keep 10
      (21L, 20L))                     // pair {20,21} -> keep 20
      .toDF("id_a", "id_b")
    val kept = Dedup.dedupKeep(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Set(2L, 3L, 11L, 12L, 21L)
    assert(kept === (1L to 30L).toSet -- dropped)
    // payload survives the anti join untouched
    val row = Dedup.dedupKeep(docs, "doc_id", pairs)
      .where(col("doc_id") === 10L).head()
    assert(row.getString(row.fieldIndex("text")) === "doc 10")
  }

  test("bucket cap drops residual oversized buckets of near-identical-but-distinct docs") {
    import spark.implicits._
    // 300 DISTINCT docs sharing most shingles: collapse cannot merge them,
    // so they land in common band buckets — the cap's job
    val docs = (0 until 300).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa token$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      numHashes = 32, bands = 16, minEstJaccard = 0.0, maxBucketSize = Int.MaxValue).count()
    val (capped, reported) = droppedRows("minhash") {
      Dedup.minhashLshCandidates(docs, "doc_id", "text",
        numHashes = 32, bands = 16, minEstJaccard = 0.0, maxBucketSize = 50).count()
    }
    assert(uncapped > 0)
    assert(capped < uncapped)
    val stats = Dedup.minhashBucketStats(docs, "doc_id", "text", numHashes = 32, bands = 16)
      .collect().map(_.getLong(2))
    assert(stats.max > 50) // something was actually capped
    // the cap does not drop silently: the query reports its dropped ROW
    // count (the pipeline's alert hook) exactly — the summed size of the
    // over-cap buckets, once, although the self-join reads the banded
    // table on both sides
    val expectedDropped = stats.filter(_ > 50).sum
    info(s"dropped rows: expected $expectedDropped, reported $reported")
    assert(reported == Seq(expectedDropped))
  }

  test("portableHash folds code points, not UTF-16 units (non-BMP agreement with SQL)") {
    import spark.implicits._
    // U+1F600 GRINNING FACE is a surrogate pair in UTF-16 but ONE character
    // to SQL substr/ascii; the documented fold h <- (h*131 + codepoint) % P
    // must see 0x1F600 once, not two surrogate halves
    val s = "a😀b" // "a😀b"
    def cpFold(str: String): Long = {
      var h = 0L
      str.codePoints().forEach(cp => h = (h * 131L + cp) % 2147483647L)
      h
    }
    def utf16Fold(str: String): Long = {
      var h = 0L
      str.foreach(c => h = (h * 131L + c) % 2147483647L)
      h
    }
    val got = Seq(Tuple1(s)).toDF("t")
      .select(Dedup.portableHash(col("t"))).head().getLong(0)
    assert(got === cpFold(s))
    assert(got !== utf16Fold(s), "surrogate-pair fold would diverge from the SQL oracle")
    // ASCII unchanged: the q_simhash_pairs oracle arithmetic still matches
    val ascii = "hello world"
    val gotAscii = Seq(Tuple1(ascii)).toDF("t")
      .select(Dedup.portableHash(col("t"))).head().getLong(0)
    assert(gotAscii === cpFold(ascii))
    assert(gotAscii === utf16Fold(ascii))
  }
}
