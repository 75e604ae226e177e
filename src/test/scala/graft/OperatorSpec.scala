package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.s2functions._
import graft.operators._
import graft.s2._

/** Operator-level specs: every distributed operator is compared against a
  * driver-side brute-force evaluation using the same kernel — the covering
  * join must return exactly the rows the reference's `Contains` semantics
  * accept. */
class OperatorSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val dir = sf("sf0.001")

  private def pointsDf = {
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
      .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
      .select("o_orderkey", "lat", "lon")
  }

  test("s2 expressions agree with the kernel (eval + codegen)") {
    val rows = pointsDf
      .withColumn("leaf", s2_cell_id(col("lat"), col("lon")))
      .withColumn("t11", s2_parent(col("leaf"), 11))
      .withColumn("tok", s2_token(col("t11")))
      .withColumn("lvl", s2_level(col("t11")))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows.take(500)) {
      val lat = r.getAs[Double]("lat"); val lon = r.getAs[Double]("lon")
      val leaf = S2CellId.fromLatLngDegrees(lat, lon)
      assert(r.getAs[Long]("leaf") == leaf)
      val t11 = S2CellId.parentForLevel(leaf, 11)
      assert(r.getAs[Long]("t11") == t11)
      assert(r.getAs[String]("tok") == S2CellId.toToken(t11))
      assert(r.getAs[Int]("lvl") == 11)
    }
  }

  test("s2_distance_m matches kernel haversine") {
    val rows = pointsDf.limit(100)
      .withColumn("d", s2_distance_m(col("lat"), col("lon"), lit(48.2), lit(16.37)))
      .collect()
    for (r <- rows) {
      val expected = S2LatLng.fromDegrees(r.getAs[Double]("lat"), r.getAs[Double]("lon"))
        .getEarthDistance(S2LatLng.fromDegrees(48.2, 16.37))
      assert(r.getAs[Double]("d") == expected)
    }
  }

  test("pipJoin(rect) == brute force rect containment") {
    val regions = SparkEntryRegions.rects
    val result = SpatialJoin.pipJoin(pointsDf, "lat", "lon", regions)
      .select("region_id", "o_orderkey")
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val pts = pointsDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = (for {
      (rid, region) <- regions
      (key, lat, lon) <- pts
      if SpatialJoin.regionContains(region, lat, lon)
    } yield (rid, key)).toSet
    assert(result == expected)
    assert(expected.nonEmpty)
  }

  test("pipJoin(polygon incl. shell+hole and candy cane) == brute force S2Polygon.contains") {
    val regions: Seq[(String, S2Region)] = Seq(
      "p_diamond_holed" -> TextShapes.polygon("0:-30, 30:0, 0:30, -30:0; 0:-10, 10:0, 0:10, -10:0"),
      "p_candy_cane" -> TextShapes.polygon("-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70"))
    val result = SpatialJoin.pipJoin(pointsDf, "lat", "lon", regions)
      .select("region_id", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pts = pointsDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = (for {
      (rid, region) <- regions
      (key, lat, lon) <- pts
      if SpatialJoin.regionContains(region, lat, lon)
    } yield (rid, key)).toSet
    assert(result == expected)
    assert(expected.nonEmpty, "fixture polygons should catch some points")
  }

  test("doughnutJoin == brute force haversine annulus") {
    val queries = Seq(("d0", 10.0, 20.0, 3000000.0, 1000000.0))
    val result = SpatialJoin.doughnutJoin(pointsDf, "lat", "lon", queries)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val center = S2LatLng.fromDegrees(10.0, 20.0)
    val expected = pointsDf.collect().filter { r =>
      val d = S2LatLng.fromDegrees(r.getDouble(1), r.getDouble(2)).getEarthDistance(center)
      d <= 3000000.0 && d > 1000000.0
    }.map(_.getLong(0)).toSet
    assert(result == expected)
    assert(expected.nonEmpty)
  }

  test("knnJoin == brute force top-k") {
    val queries = Seq(("qa", 48.2, 16.37), ("qb", -33.87, 151.2))
    val k = 5
    val result = Knn.knnJoin(pointsDf, "lat", "lon", Seq("o_orderkey"), queries, k, startLevel = 4)
      .select("query_id", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pts = pointsDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = queries.flatMap { case (qid, qlat, qlon) =>
      val q = S2LatLng.fromDegrees(qlat, qlon)
      pts.map { case (key, lat, lon) =>
        (qid, key, S2LatLng.fromDegrees(lat, lon).getEarthDistance(q))
      }.sortBy(t => (t._3, t._2)).take(k).map(t => (t._1, t._2))
    }.toSet
    assert(result == expected)
  }

  test("knnJoin stays exact when ring expansion runs out with 0 < candidates < k") {
    import spark.implicits._
    // 3 points near the query, the rest on the far side of the planet: at
    // startLevel 10 with maxRounds 1 the rings trap fewer than k = 5
    // candidates, which must trigger the whole-sphere fallback (a d_k from
    // 3 candidates would NOT bound the true 5th-neighbor distance)
    val pts = (Seq((1L, 48.20, 16.30), (2L, 48.21, 16.31), (3L, 48.22, 16.32)) ++
      (4L to 40L).map(i => (i, -40.0 + (i % 7), -160.0 + i))).toDF("key", "lat", "lon")
    val queries = Seq(("q", 48.2, 16.37))
    val result = Knn.knnJoin(pts, "lat", "lon", Seq("key"), queries, k = 5,
      startLevel = 10, maxRounds = 1)
      .select("query_id", "key")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val q = S2LatLng.fromDegrees(48.2, 16.37)
    val expected = pts.collect().map { r =>
      (r.getLong(0), S2LatLng.fromDegrees(r.getDouble(1), r.getDouble(2)).getEarthDistance(q))
    }.sortBy(t => (t._2, t._1)).take(5).map(t => ("q", t._1)).toSet
    assert(result == expected)
    assert(result.map(_._2).intersect(Set(1L, 2L, 3L)).size == 3,
      "near points present plus the true far 4th/5th neighbors")
  }

  /** The (key, rank) rows knnJoin returns for one query, in rank order, and
    * the brute-force top-k over the rows with finite coordinates. */
  private def knnVsBrute(pts: DataFrame, q: (String, Double, Double),
                         k: Int): (Seq[(Long, Int)], Seq[(Long, Int)]) = {
    val got = Knn.knnJoin(pts, "lat", "lon", Seq("key"), Seq(q), k)
      .select("key", "rank").orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val qll = S2LatLng.fromDegrees(q._2, q._3)
    val expected = pts.collect().toSeq
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2) &&
        java.lang.Double.isFinite(r.getDouble(1)) && java.lang.Double.isFinite(r.getDouble(2)))
      .map(r => (r.getLong(0), S2LatLng.fromDegrees(r.getDouble(1), r.getDouble(2)).getEarthDistance(qll)))
      .sortBy(t => (t._2, t._1)).take(k).map(_._1).zipWithIndex.map { case (key, i) => (key, i + 1) }
    (got, expected)
  }

  /** Three points around the centre of the level-8 cell that
    * `s2_cell_id(NaN, NaN)` = 0x4000000000000001 falls in: two in that cell,
    * the third outside it, plus one `bad` row. */
  private def aroundNanCell(bad: (Long, Option[Double], Option[Double])) = {
    import spark.implicits._
    val (qlat, qlon) = (35.405416, 45.0)
    def cell(lat: Double, lon: Double) = S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(lat, lon), 8)
    assert(cell(qlat, qlon) == cell(Double.NaN, Double.NaN))
    assert(cell(35.415, 45.0) == cell(qlat, qlon) && cell(35.405, 45.012) == cell(qlat, qlon))
    assert(cell(35.7, 45.0) != cell(qlat, qlon))
    val pts = Seq((1L, Option(35.415), Option(45.0)), (2L, Option(35.405), Option(45.012)),
      (3L, Option(35.7), Option(45.0)), bad).toDF("key", "lat", "lon")
    (pts, ("q", qlat, qlon))
  }

  test("knnJoin skips a NaN point: it does not count toward the ring population") {
    val (pts, q) = aroundNanCell((4L, Some(Double.NaN), Some(Double.NaN)))
    val (got, expected) = knnVsBrute(pts, q, k = 3)
    assert(expected.map(_._1) == Seq(1L, 2L, 3L))
    assert(got == expected)
  }

  test("knnJoin skips a NULL point") {
    val (pts, q) = aroundNanCell((4L, None, None))
    val (got, expected) = knnVsBrute(pts, q, k = 3)
    assert(expected.map(_._1) == Seq(1L, 2L, 3L))
    assert(got == expected)
  }

  test("knnJoin breaks a tie at the k-th distance by the smaller id") {
    import spark.implicits._
    // 7 and 3 mirror each other across the equator; k = 2 cuts between them
    val pts = Seq((7L, 0.5, 0.0), (3L, -0.5, 0.0), (5L, 0.0, 0.25), (9L, 10.0, 10.0))
      .toDF("key", "lat", "lon")
    val q = S2LatLng.fromDegrees(0.0, 0.0)
    assert(S2LatLng.fromDegrees(0.5, 0.0).getEarthDistance(q) ==
      S2LatLng.fromDegrees(-0.5, 0.0).getEarthDistance(q))
    val (got, expected) = knnVsBrute(pts, ("q", 0.0, 0.0), k = 2)
    assert(expected == Seq((5L, 1), (3L, 2)))
    assert(got == expected)
  }

  test("knnJoin scans the points twice and joins only on the query id") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Knn.knnJoin(pointsDf, "lat", "lon", Seq("o_orderkey"),
        Seq(("qa", 48.2, 16.37), ("qb", -33.87, 151.2)), k = 5, startLevel = 4).collect().length == 10)
      ListenerBridge.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    val executed = plans.asScala.toSeq
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = executed.flatMap(collectWithSubqueries(_)(pf))
    val shown = executed.mkString("\n")
    assert(all { case s: FileSourceScanExec => s }.size == 2, s"expected two scans of the points in:\n$shown")
    val joins = all { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, shown)
    for (j <- joins) {
      val keys = j.leftKeys ++ j.rightKeys
      assert(keys.nonEmpty && keys.forall {
        case a: AttributeReference => a.name == "__qid"
        case _ => false
      }, s"join not keyed on the query id: $j")
    }
  }

  test("distanceJoin == brute force haversine pairs at several radii") {
    val pts = spark.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      .withColumn("lat", expr(SparkEntry.latSqlFor("c_custkey")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("c_custkey")))
      .orderBy("c_custkey").limit(300)
    val rows = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for (radius <- Seq(200000.0, 500000.0, 2500000.0)) {
      val got = SpatialJoin.distanceJoin(pts, "lat", "lon", "c_custkey", radius)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        (ka, la, na) <- rows; (kb, lb, nb) <- rows if ka < kb
        if S2LatLng.fromDegrees(la, na).getEarthDistance(S2LatLng.fromDegrees(lb, nb)) <= radius
      } yield (ka, kb)).toSet
      assert(got == expected, s"radius $radius: missing=${expected -- got} extra=${got -- expected}")
      assert(expected.nonEmpty, s"radius $radius should produce pairs")
    }
  }

  test("distanceJoinBetween + nearestJoin == brute force across two tables") {
    val cust = spark.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      .withColumn("lat", expr(SparkEntry.latSqlFor("c_custkey")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("c_custkey")))
      .orderBy("c_custkey").limit(250)
    val supp = spark.read.parquet(s"$dir/supplier.parquet").select("s_suppkey")
      .withColumn("lat", expr(SparkEntry.latSqlFor("s_suppkey")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("s_suppkey")))
    val cs = cust.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val ss = supp.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def d(a: (Long, Double, Double), b: (Long, Double, Double)) =
      S2LatLng.fromDegrees(a._2, a._3).getEarthDistance(S2LatLng.fromDegrees(b._2, b._3))
    for (radius <- Seq(500000.0, 1500000.0)) {
      val gotPairs = SpatialJoin.distanceJoinBetween(cust, "c_custkey", "lat", "lon",
          supp, "s_suppkey", "lat", "lon", radius)
        .select("id_left", "id_right")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantPairs = (for { a <- cs; b <- ss if d(a, b) <= radius } yield (a._1, b._1)).toSet
      assert(gotPairs == wantPairs,
        s"radius $radius: missing=${wantPairs -- gotPairs} extra=${gotPairs -- wantPairs}")
      assert(wantPairs.nonEmpty)

      val gotNn = SpatialJoin.nearestJoin(cust, "c_custkey", "lat", "lon",
          supp, "s_suppkey", "lat", "lon", radius)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val wantNn = cs.flatMap { a =>
        val cands = ss.map(b => (d(a, b), b._1)).filter(_._1 <= radius)
        if (cands.isEmpty) None else Some(a._1 -> cands.min.swap)
      }.toMap
      assert(gotNn === wantNn, s"radius $radius nearest mismatch")
      assert(wantNn.size < cs.length, s"radius $radius should leave some customers unmatched")
    }
  }

  test("isolatedPoints == brute-force no-neighbor complement at several radii") {
    val pts = spark.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      .withColumn("lat", expr(SparkEntry.latSqlFor("c_custkey")))
      .withColumn("lon", expr(SparkEntry.lonSqlFor("c_custkey")))
      .orderBy("c_custkey").limit(300)
    val rows = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for (radius <- Seq(200000.0, 500000.0)) {
      val got = SpatialJoin.isolatedPoints(pts, "lat", "lon", "c_custkey", radius)
        .select("c_custkey")
        .collect().map(_.getLong(0)).toSet
      val expected = rows.filter { case (ka, la, na) =>
        !rows.exists { case (kb, lb, nb) =>
          kb != ka &&
            S2LatLng.fromDegrees(la, na).getEarthDistance(S2LatLng.fromDegrees(lb, nb)) <= radius
        }
      }.map(_._1).toSet
      assert(got == expected, s"radius $radius: missing=${expected -- got} extra=${got -- expected}")
      assert(expected.nonEmpty && expected.size < rows.length,
        s"radius $radius should isolate a strict subset")
    }
  }

  test("exact dedup finds planted duplicates") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val aug = docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val groups = Dedup.exactDupGroups(aug, "doc_id", Seq("text")).collect()
    val nPlanted = docs.where(col("doc_id") % 10 === 0).count()
    assert(groups.length == nPlanted)
    assert(groups.forall(_.getAs[Long]("dup_count") == 2))
  }

  /** Driver-side trigram jaccard on collected docs (the test oracle). */
  private def trueJaccardPairs(minJ: Double): Set[(Long, Long)] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def tri(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Set(toks.mkString(" "))
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val tris = docs.map { case (id, t) => id -> tri(t) }
    (for {
      (a, ta) <- tris; (b, tb) <- tris if a < b
      j = (ta intersect tb).size.toDouble / (ta union tb).size
      if j >= minJ
    } yield (a, b)).toSet
  }

  test("minhash LSH + exact verify == brute-force trigram jaccard >= 0.9") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      numHashes = 32, bands = 16, minEstJaccard = 0.5)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", cand.select("id_a", "id_b"))
      .where(col("jaccard") >= 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = trueJaccardPairs(0.9)
    assert(pairs == expected)
    assert(expected.nonEmpty, "dataset should contain planted near-duplicates")
  }

  test("simhash candidates are all genuinely similar and catch the closest dups") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.nonEmpty, "near-duplicates should surface within hamming 3")
    val highJ = trueJaccardPairs(0.5)
    assert(pairs.subsetOf(highJ), s"simhash false positives: ${pairs -- highJ}")
  }

  test("brute-force cosine top-k is sane and bucketed ANN has decent recall") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L until 10L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(exact.size == 50)
    val approx = Similarity.bucketedAnn(emb, "vec_id", "embedding", 0L until 10L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"bucketed ANN recall $recall below the 0.9 bar")
  }

  test("knnClassify == neighbor-label vote over the exact top-k, ties to the smaller label") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nn = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L until 20L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getAs[Long](0) -> r.getAs[Int](1)).toMap
    val want = nn.groupBy(_._1).map { case (q, rows) =>
      val votes = rows.map(r => labelOf(r._2)).groupBy(identity).view.mapValues(_.length)
      val (lbl, n) = votes.toSeq.minBy { case (l, c) => (-c, l) }
      (q, lbl, n.toLong)
    }.toSet
    val got = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        0L until 20L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("pred_label"),
        r.getAs[Long]("votes"))).toSet
    assert(got === want)
    assert(got.exists(_._3 < 5L), "fixture degenerate: every vote unanimous")
  }

  test("knnClassify: NULL-labeled neighbors occupy top-k slots but never vote") {
    import org.apache.spark.sql.functions.{col, when}
    // NULL out ~half the labels (odd ids): neighbors keep their ranking
    // slots (a partially-labeled table must not pull FURTHER rows into
    // the vote) but only labeled neighbors vote, and pred_label can never
    // be NULL — the round-4 NULL-guard contract, pinned with planted data
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("label",
        when(col("vec_id") % 2 === 1, null).otherwise(col("label")))
    val nn = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L until 20L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val labelOf = emb.select("vec_id", "label").collect()
      .flatMap(r => if (r.isNullAt(1)) None else Some(r.getAs[Long](0) -> r.getAs[Int](1)))
      .toMap
    val want = nn.groupBy(_._1).flatMap { case (q, rows) =>
      val votes = rows.flatMap(r => labelOf.get(r._2))
        .groupBy(identity).view.mapValues(_.length)
      if (votes.isEmpty) None // whole neighborhood unlabeled -> absent
      else {
        val (lbl, n) = votes.toSeq.minBy { case (l, c) => (-c, l) }
        Some((q, lbl, n.toLong))
      }
    }.toSet
    val got = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        0L until 20L, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("pred_label"),
        r.getAs[Long]("votes"))).toSet
    assert(got === want)
    assert(got.forall(_._3 <= 5L))
    assert(got.exists(_._3 < 5L), "planted NULLs must shrink some vote counts")
  }

  test("image payload: synthesis is lossless PNG, captions verify, PSNR gate holds") {
    val keys = spark.read.parquet(s"$dir/part.parquet").select("p_partkey").limit(50)
    val images = ImagePayload.synthesize(keys, "p_partkey")
    val verified = ImagePayload.verifyPayload(images, "p_partkey").collect()
    assert(verified.length == 50)
    assert(verified.forall(_.getAs[Boolean]("psnr_ok")))
    assert(verified.forall(_.getAs[Boolean]("caption_ok")))
    assert(verified.forall(_.getAs[Double]("psnr").isPosInfinity))
    // a corrupted payload must fail the PSNR gate
    val bytes = images.limit(1).collect()(0).getAs[Array[Byte]]("bytes")
    val corrupt = ImagePayload.psnrVsExpected(bytes, key = 999999L, w = 16, h = 16)
    assert(corrupt < 40.0)
  }

  test("text analysis: token counts, language id on real column, quality bounds") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stats = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect()
    assert(stats.forall(_.getAs[Int]("n") > 0))
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text").collect()
    assert(q.forall { r =>
      val v = r.getAs[Double]("quality"); v >= 0.0 && v <= 1.0
    })
    val lang = TextAnalysis.langId(docs, "doc_id", "text")
    assert(lang.count() == docs.count())
  }

  test("entry() returns joined image rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }
}
