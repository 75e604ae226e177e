package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Measures the LSH paths' recall against the exact cosine computations on
  * the harness embeddings — the round-1 gap was 16 hard-coded tables giving
  * ~56% recall at the 0.3 near-dup threshold; the auto-sized planner
  * ([[Similarity.hyperplaneTables]]) must hold >= 0.9. */
class EmbeddingRecallSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet").cache()

  test("planner sizes tables for the threshold") {
    assert(Similarity.hyperplaneTables(0.3, 6, 0.95) === 65)
    // selective thresholds need few tables: p1(0.8) ~ 0.795, p1^6 ~ 0.25
    assert(Similarity.hyperplaneTables(0.8, 6, 0.95) <= 11)
  }

  test("embeddingNearDup recall >= 0.9 vs exact all-pairs at cosine 0.3") {
    val exact = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        Similarity.norm(col("embedding")).as("na"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        Similarity.norm(col("embedding")).as("nb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .where(Similarity.cosineFast(col("va"), col("vb"), col("na"), col("nb")) >= 0.3)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = Similarity.embeddingNearDup(emb, "vec_id", "embedding", minCosine = 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (exact cosine verifies candidates)")
    val recall = (lsh intersect exact).size.toDouble / exact.size
    info(f"embeddingNearDup recall = $recall%.3f (${lsh.size}/${exact.size} pairs)")
    assert(recall >= 0.9, f"recall $recall%.3f below 0.9")
  }

  test("persisted IVF index: recall@5 >= 0.9, probe scan is partition-pruned") {
    val queries = 0L until 20L
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withTempDir("ivf_index") { idx =>
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
      val q = Similarity.queryIvf(spark, idx,
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      // the probe must reach the index as a partition-pruned scan: the lists
      // read carries the literal probe IN-list as a PartitionFilter
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("list#"),
        s"expected a partition-pruned lists scan, got:\n$plan")
      val approx = q.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      info(f"persisted IVF recall@5 = $recall%.3f (nlist=64, nprobe=20)")
      assert(recall >= 0.9, f"IVF recall $recall%.3f below 0.9")
      // ad-hoc per-call variant agrees with the persisted path (same
      // quantizer seeds, same probe rule)
      val adhoc = Similarity.ivfAnn(emb, "vec_id", "embedding", queries, 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adhoc === approx)
    }
  }

  test("IVF incremental append: batch joins the index without retrain, recall holds") {
    val queries = 0L until 20L
    withTempDir("ivf_incr") { idx =>
      // build on even ids only (nlist sized to the halved corpus: 32 ~
      // sqrt-n scaling), then append the odd ids as a daily batch
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
        nlist = 32)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", idx)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.queryIvf(spark, idx,
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5, nprobe = 24)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      info(f"post-append IVF recall@5 = $recall%.3f (nlist=32, nprobe=24)")
      assert(recall >= 0.9, f"recall $recall%.3f below 0.9 after append")
      assert(approx.exists(_._2 % 2 == 1), "appended (odd) rows must be retrievable")
    }
  }

  test("persisted IVF-PQ index: recall@5 >= 0.9, probe scan partition-pruned and vector-free") {
    val queries = 0L until 20L
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withTempDir("ivfpq_index") { idx =>
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", idx)
      val q = Similarity.queryIvfPq(spark, idx,
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      // both contracts in the executed plan: the lists scan is
      // partition-pruned by the literal probe IN-list, and the SHORTLIST
      // branch's read schema carries codes but no vec column
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("list#"),
        s"expected a partition-pruned lists scan, got:\n$plan")
      val shortlistScans = plan.linesIterator.filter(l =>
        l.contains("ReadSchema") && l.contains("codes")).toSeq
      assert(shortlistScans.nonEmpty && shortlistScans.forall(!_.contains("vec")),
        s"shortlist scan must not read vectors:\n${shortlistScans.mkString("\n")}")
      val approx = q.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      info(f"persisted IVF-PQ recall@5 = $recall%.3f (nlist=64, nprobe=20, m=8, shortlist 10k)")
      assert(recall >= 0.9, f"IVF-PQ recall $recall%.3f below 0.9")
    }
  }

  test("pqAnn recall@5 >= 0.9 vs brute force; shortlist never reads vectors") {
    val queries = 0L until 20L
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqAnn(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"pqAnn recall@5 = $recall%.3f (m=8, kc=256, shortlist 10k)")
    assert(recall >= 0.9, f"PQ recall $recall%.3f below 0.9")
    // codes are genuinely compressed: m small ints per row
    val codebook = Similarity.trainPqCodebook(emb, "vec_id", "embedding")
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", codebook)
    val row = codes.head()
    assert(row.getSeq[Int](1).length === 8)
    assert(codes.count() === emb.count())
  }

  test("hardNegatives: 5 cross-label rows per anchor, never beating the unrestricted top-1") {
    val queries = 0L until 20L
    val labels = emb.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length === queries.size * 5)
    for ((q, n, _, _) <- got)
      assert(labels(n) !== labels(q), s"neighbor $n shares anchor $q's label ${labels(q)}")
    // the unrestricted top-1 (any label) is at least as similar as the
    // best hard negative — the restriction can only lower the ceiling
    val top1 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (q <- queries) {
      val bestNeg = got.filter(_._1 == q).map(_._3).max
      assert(bestNeg <= top1(q) + 1e-12, s"anchor $q: hard negative $bestNeg > top1 ${top1(q)}")
    }
  }

  test("bucketedAnn recall@5 >= 0.9 vs brute force") {
    val queries = 0L until 20L
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.bucketedAnn(emb, "vec_id", "embedding", queries, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"bucketedAnn recall@5 = $recall%.3f")
    assert(recall >= 0.9, f"ANN recall $recall%.3f below 0.9")
  }

  test("recall gates count a repeated true hit once") {
    import spark.implicits._
    // one true hit, emitted twice, against two exact neighbors: recall 0.5
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 10L)).toDF("query_id", "neighbor_id")
    val e = intercept[Exception] {
      Similarity.recallGate(approx, exact, k = 2, floor = 0.9).collect()
    }
    assert(e.getMessage.contains("ANN recall 0.500 below declared floor 0.9"), e.getMessage)
    assert(Similarity.recallGate(approx, exact, k = 2, floor = 0.5)
      .select("n_queries", "recall_ok").as[(Long, Boolean)].collect() === Array((1L, true)))

    val exactPairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val approxPairs = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val ep = intercept[Exception] {
      Similarity.pairRecallGate(approxPairs, exactPairs, floor = 0.9).collect()
    }
    assert(ep.getMessage.contains("pair recall 0.500 below declared floor 0.9"), ep.getMessage)
  }

  test("recall gates raise a distinct error on an empty exact set") {
    import spark.implicits._
    val approx = Seq((1L, 10L)).toDF("query_id", "neighbor_id")
    val e = intercept[Exception] {
      Similarity.recallGate(approx, approx.limit(0), k = 1, floor = 0.9).collect()
    }
    assert(e.getMessage.contains("ANN recall gate: the exact set is empty"), e.getMessage)

    val approxPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val ep = intercept[Exception] {
      Similarity.pairRecallGate(approxPairs, approxPairs.limit(0), floor = 0.9).collect()
    }
    assert(ep.getMessage.contains("pair recall gate: the exact set is empty"), ep.getMessage)
  }
}
