package graft

import org.apache.spark.sql.functions.col

import graft.operators.Graphs

/** Triangle counting: hand-checked shapes, brute-force equality on a
  * generated graph, and hub behavior under the degree orientation. */
class GraphsSpec extends SparkTestBase {

  private def count(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graphs.triangleCounts(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
  }

  test("hand-checked: K4 gives every node 3 triangles; a path gives none") {
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(count(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L))
    assert(count(path) == Map.empty[Long, Long])
  }

  test("a hub star closes no triangles; adding one rim edge closes exactly one") {
    val star = (1L to 50L).map(i => (0L, i))
    assert(count(star) == Map.empty[Long, Long])
    val withRim = star :+ (7L, 8L)
    assert(count(withRim) == Map(0L -> 1L, 7L -> 1L, 8L -> 1L))
  }

  test("triangleCounts == brute force on a generated graph") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n
      if rnd.nextDouble() < 0.12
    } yield (i, j)).toSeq
    val got = count(edges)
    val eset = edges.toSet
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- 0L until n; b <- a + 1 until n if eset((a, b))
      c <- b + 1 until n if eset((b, c)) && eset((a, c))
    } {
      want(a) += 1; want(b) += 1; want(c) += 1
    }
    assert(want.values.sum >= 30, s"fixture too sparse: ${want.values.sum}")
    assert(got == want.toMap)
  }

  test("clusteringCoefficient: K4 all 1.0; star hub 0; pendant NULL; brute equality") {
    import spark.implicits._
    def coeffs(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Option[Double])] =
      Graphs.clusteringCoefficient(edges.toDF("id_a", "id_b"))
        .as[(Long, Long, Long, Option[Double])].collect()
        .map { case (id, d, t, c) => id -> (d, t, c) }.toMap
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(coeffs(k4).values.toSet == Set((3L, 3L, Some(1.0))))
    // star: hub deg 50, 0 triangles -> 0.0; leaves deg 1 -> NULL
    val star = (1L to 50L).map(i => (0L, i))
    val cs = coeffs(star)
    assert(cs(0L) == ((50L, 0L, Some(0.0))))
    assert(cs(1L) == ((1L, 0L, None)))
    // brute force on a generated graph: c = 2t / d(d-1)
    val rnd = new scala.util.Random(11)
    val n = 50
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n if rnd.nextDouble() < 0.15
    } yield (i, j)).toSeq
    val eset = edges.toSet
    def adjOf(v: Long) = (0L until n).filter(u => eset((v min u, v max u)) && u != v)
    val got = coeffs(edges)
    for ((id, (d, t, c)) <- got) {
      val nbrs = adjOf(id)
      assert(d == nbrs.size)
      val tri = (for (u <- nbrs; v <- nbrs if u < v && eset((u, v))) yield 1).size
      assert(t == tri)
      if (d < 2) assert(c.isEmpty)
      else assert(c.contains(2.0 * tri / (d.toDouble * (d.toDouble - 1))))
    }
    assert(got.nonEmpty && got.values.exists(_._3.exists(x => x > 0 && x < 1)))
  }

  test("edgeTriangleSupport: K4 edges support 2, a clique bridge 0, brute replay") {
    import spark.implicits._
    def sup(edges: Seq[(Long, Long)], min: Long = 1L): Map[(Long, Long), Long] =
      Graphs.edgeTriangleSupport(edges.toDF("id_a", "id_b"), min)
        .as[(Long, Long, Long)].collect().map { case (a, b, s) => (a, b) -> s }.toMap
    val k4a = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- i + 1 to 13L) yield (i, j)
    val bridge = (3L, 10L)
    val got = sup(k4a ++ k4b :+ bridge)
    // every K4 edge closes exactly 2 triangles; the bridge closes none
    assert(got.size == 12 && got.values.forall(_ == 2L))
    assert(!got.contains(bridge))
    // brute replay on a random graph, including the min-support gate
    val rnd = new scala.util.Random(37)
    val edges = (for {
      i <- 0L until 40L; j <- i + 1 until 40L if rnd.nextDouble() < 0.18
    } yield (i, j)).toSeq
    val eset = edges.toSet
    val want = collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for {
      a <- 0L until 40L; b <- a + 1 until 40L if eset((a, b))
      c <- b + 1 until 40L if eset((b, c)) && eset((a, c))
    } {
      want((a, b)) += 1; want((a, c)) += 1; want((b, c)) += 1
    }
    assert(sup(edges) == want.toMap)
    assert(sup(edges, min = 3L) == want.filter(_._2 >= 3L).toMap)
    assert(want.values.exists(_ >= 3L), "fixture too sparse for the gate test")
  }

  test("transitivity: K4 is 1.0, a star 0.0, random == brute 3T/wedges") {
    import spark.implicits._
    def tr(edges: Seq[(Long, Long)]): (Long, Long, Option[Double]) =
      Graphs.transitivity(edges.toDF("id_a", "id_b"))
        .as[(Long, Long, Option[Double])].head()
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(tr(k4)._3.contains(1.0))
    val star = (1L to 10L).map(i => (0L, i))
    assert(tr(star) == ((90L, 0L, Some(0.0))))
    val rnd = new scala.util.Random(29)
    val edges = (for {
      i <- 0L until 40L; j <- i + 1 until 40L if rnd.nextDouble() < 0.15
    } yield (i, j)).toSeq
    val eset = edges.toSet
    val degs = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong)
    val w2 = degs.values.map(d => d * (d - 1)).sum
    val tcount = (for {
      a <- 0L until 40L; b <- a + 1 until 40L if eset((a, b))
      c <- b + 1 until 40L if eset((b, c)) && eset((a, c))
    } yield 1).size.toLong
    val got = tr(edges)
    assert(got._1 == w2 && got._2 == 3 * tcount)
    assert(got._3.contains(2.0 * (3 * tcount) / w2))
  }

  test("modularity: two K4s perfectly split give 0.5; one community gives 0; brute replay") {
    import spark.implicits._
    def mod(edges: Seq[(Long, Long)], labels: Map[Long, Long]): (Long, Long, Option[Double]) =
      Graphs.modularity(edges.toDF("id_a", "id_b"),
          labels.toSeq.toDF("id", "label"))
        .as[(Long, Long, Option[Double])].head()
    val k4a = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- i + 1 to 13L) yield (i, j)
    val two = k4a ++ k4b
    val split = (0L to 3L).map(_ -> 1L).toMap ++ (10L to 13L).map(_ -> 2L).toMap
    assert(mod(two, split) == ((12L, 288L, Some(0.5))))
    assert(mod(two, split.keys.map(_ -> 9L).toMap)._3.contains(0.0))
    // brute replay on a random graph with random labels
    val rnd = new scala.util.Random(3)
    val edges = (for {
      i <- 0L until 30L; j <- i + 1 until 30L if rnd.nextDouble() < 0.2
    } yield (i, j)).toSeq
    val labels = (0L until 30L).map(i => i -> (rnd.nextInt(4) + 1).toLong).toMap
    val m = edges.size.toLong
    val degs = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong)
    val dc = degs.toSeq.groupBy(kv => labels(kv._1)).view.mapValues(_.map(_._2).sum)
    val ec = edges.filter(e => labels(e._1) == labels(e._2))
      .groupBy(e => labels(e._1)).view.mapValues(_.size.toLong)
    val qnum = (dc.keySet ++ ec.keySet).toSeq.map { c =>
      4 * m * ec.getOrElse(c, 0L) - dc.getOrElse(c, 0L) * dc.getOrElse(c, 0L) }.sum
    val got = mod(edges, labels)
    assert(got._1 == m && got._2 == qnum)
    assert(got._3.contains(qnum.toDouble / (4.0 * m * m)))
  }

  test("degreeAssortativity: a star is exactly -1, a cycle NULL, random == brute Pearson") {
    import spark.implicits._
    def assort(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Option[Double]) =
      Graphs.degreeAssortativity(edges.toDF("id_a", "id_b"))
        .as[(Long, Long, Long, Long, Option[Double])].head()
    val star = (1L to 20L).map(i => (0L, i))
    assert(assort(star)._5.contains(-1.0))
    val cycle = (0L until 12L).map(i => (i min ((i + 1) % 12), i max ((i + 1) % 12)))
    assert(assort(cycle)._5.isEmpty) // degree-regular: zero variance
    val rnd = new scala.util.Random(17)
    val edges = (for {
      i <- 0L until 40L; j <- i + 1 until 40L if rnd.nextDouble() < 0.1
    } yield (i, j)).toSeq
    val degs = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong)
    val pairs = edges.flatMap(e => Seq((degs(e._1), degs(e._2)), (degs(e._2), degs(e._1))))
    val m2 = pairs.size.toLong
    val sx = pairs.map(_._1).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val (gm2, gsx, gsxx, gsxy, gr) = assort(edges)
    assert((gm2, gsx, gsxx, gsxy) == ((m2, sx, sxx, sxy)))
    val expect = (m2.toDouble * sxy - sx.toDouble * sx) / (m2.toDouble * sxx - sx.toDouble * sx)
    assert(gr.contains(expect))
  }

  private def ranks(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Graphs.pageRankScaled(edges.toDF("id_a", "id_b"), rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("pageRankScaled equals a driver-side scalar replay of the integer recurrence") {
    val rnd = new scala.util.Random(7)
    val n = 40L
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n if rnd.nextDouble() < 0.15
    } yield (i, j)).toSeq
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val scale = 1000000000000L
    var r = adj.keys.map(_ -> scale).toMap
    for (_ <- 1 to 3)
      r = adj.map { case (u, nbrs) =>
        u -> (3L * scale / 20L + nbrs.map(v => r(v) / adj(v).size).sum * 17L / 20L)
      }
    assert(ranks(edges, 3) == r)
  }

  test("pageRankScaled: regular graphs are an exact fixed point; hubs outrank leaves") {
    // K5: deg 4 everywhere, scale divisible by 4 and by 20 -> rank stays
    // exactly at scale every round
    val k5 = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    assert(ranks(k5, 3).values.toSet == Set(1000000000000L))
    // star: the hub accumulates every leaf's full contribution
    val star = (1L to 20L).map(i => (0L, i))
    val r = ranks(star, 2)
    // round-2 closed form: hub 3.4225*scale, leaf 0.878875*scale
    assert(r(0L) > 3L * r(1L), s"hub ${r(0L)} vs leaf ${r(1L)}")
    assert((1L to 20L).map(r).toSet.size == 1, "symmetric leaves must tie exactly")
  }

  private def sssp(edges: Seq[(Long, Long, Long)], src: Long, hops: Int): Map[Long, Long] = {
    import spark.implicits._
    Graphs.boundedSssp(edges.toDF("id_a", "id_b", "w"),
        Seq(src).toDF("id"), hops)
      .as[(Long, Long)].collect().toMap
  }

  test("boundedSssp: hand-checked path graph and hop-bound semantics") {
    // 0 -1- 1 -1- 2 -1- 3 -1- 4 -1- 5, plus a heavy shortcut 0 -10- 3
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (0L, 3L, 10L))
    // 2 hops: shortest-within-2-hops; node 3 is reachable only via the
    // shortcut (dist 10) or 3 chain hops (not allowed yet)
    assert(sssp(edges, 0L, 2) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 10L, 4L -> 11L))
    // 4 hops: the chain wins everywhere it reaches; 5 still pays the
    // shortcut (10+1+1) because the 5-edge chain is out of budget
    assert(sssp(edges, 0L, 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 12L))
    // 5 hops: fully relaxed
    assert(sssp(edges, 0L, 5)(5L) == 5L)
  }

  test("boundedSssp equals a scalar Bellman-Ford replay on a generated graph") {
    val rnd = new scala.util.Random(11)
    val n = 50L
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n if rnd.nextDouble() < 0.08
    } yield (i, j, (i * 31 + j * 17) % 100 + 1)).toSeq
    val adj = (edges.map { case (a, b, w) => (a, (b, w)) } ++
      edges.map { case (a, b, w) => (b, (a, w)) }).groupMap(_._1)(_._2)
    var d = Map(0L -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = d.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Nil).map { case (v, w) => v -> (du + w) }
      }
      d = (d.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    assert(sssp(edges, 0L, 4) == d)
  }

  test("pageRankCheckpointed: crash-resume is hash-identical to one-shot; no round recomputes") {
    import spark.implicits._
    import graft.operators.ResumableWrite
    val rnd = new scala.util.Random(3)
    val edges = (for {
      i <- 0L until 30L; j <- i + 1 until 30L if rnd.nextDouble() < 0.2
    } yield (i, j)).toDF("id_a", "id_b").localCheckpoint()
    val oneShot = Graphs.pageRankScaled(edges, 3)
      .as[(Long, Long)].collect().toMap
    withTempDir("pr_state_") { state =>
      // crash after one committed round
      Graphs.pageRankCheckpointed(edges, 3, state, maxRoundsThisRun = 1)
      assert(ResumableWrite.committedPartitions(state) == Set("1"))
      // resume: only rounds 2 and 3 commit, and the result matches one-shot
      val resumed = Graphs.pageRankCheckpointed(edges, 3, state)
        .as[(Long, Long)].collect().toMap
      assert(resumed == oneShot)
      assert(ResumableWrite.committedPartitions(state) == Set("1", "2", "3"))
      assert(ResumableWrite.readManifest(state).map(_.runId).sorted ==
        Seq("round_1", "round_2", "round_3"))
      // every intermediate round stays readable (iteration time-travel)
      val r1 = ResumableWrite.readCommitted(spark, state, "round")
        .where(col("round") === 1).count()
      assert(r1 == oneShot.size)
      // idempotent re-run: nothing new commits, same answer
      val again = Graphs.pageRankCheckpointed(edges, 3, state)
        .as[(Long, Long)].collect().toMap
      assert(again == oneShot)
      assert(ResumableWrite.readManifest(state).size == 3)
    }
  }

  test("kCore: hand-checked K5-with-tail and the empty-core case") {
    import spark.implicits._
    // K5 on 0..4 plus a tail 4-5-6: the 3-core is exactly the K5 (deg 4),
    // peeling the tail takes two rounds (6 first, then 5)
    val k5 = for { a <- 0 to 4; b <- a + 1 to 4 } yield (a.toLong, b.toLong)
    val edges = (k5 ++ Seq((4L, 5L), (5L, 6L))).toDF("id_a", "id_b")
    val core = Graphs.kCore(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(core == (0L to 4L).map(id => (id, 4L)))
    // k above the max degree: empty core, zero rows (not a failure)
    assert(Graphs.kCore(edges, 10).count() == 0)
  }

  test("kCore == scalar peel replay on a generated graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 60
    val edges = (for {
      a <- 0 until n; b <- a + 1 until n
      if rnd.nextInt(100) < 10
    } yield (a.toLong, b.toLong)).toSeq
    def peel(k: Long): Map[Long, Long] = {
      var es = edges.toSet
      var done = false
      while (!done) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (i, v) => i -> v.size.toLong }
        val keep = deg.filter(_._2 >= k).keySet
        val ns = es.filter(e => keep(e._1) && keep(e._2))
        done = ns.size == es.size
        es = ns
      }
      es.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (i, v) => i -> v.size.toLong }
    }
    for (k <- Seq(2L, 4L, 6L)) {
      val got = Graphs.kCore(edges.toDF("id_a", "id_b"), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == peel(k), s"k=$k")
    }
  }

  test("kCore maxRounds is a loud contract, not a silent truncation") {
    import spark.implicits._
    // a path peels one node from each end per round: 9 nodes, 2-core is
    // empty but needs 4 rounds — maxRounds=2 must throw, not truncate
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] { Graphs.kCore(path, 2, maxRounds = 2) }
    assert(Graphs.kCore(path, 2, maxRounds = 10).count() == 0)
  }

  test("pageRankScaled rejects an overflow-capable (maxNodes, scale) pair") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Graphs.pageRankScaled(e, 1, scale = 1000000000000L, maxNodes = 1000000000L)
    }
  }

  test("labelPropagation: two cliques bridged by one edge converge to clique minima") {
    import spark.implicits._
    // K4 on 0..3, K4 on 10..13, bridge 3-10
    val c1 = for { a <- 0 to 3; b <- a + 1 to 3 } yield (a.toLong, b.toLong)
    val c2 = for { a <- 10 to 13; b <- a + 1 to 13 } yield (a.toLong, b.toLong)
    val edges = (c1 ++ c2 ++ Seq((3L, 10L))).toDF("id_a", "id_b")
    val got = Graphs.labelPropagation(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(got(_) == 0L), s"left clique: $got")
    assert((10L to 13L).forall(got(_) == 10L), s"right clique: $got")
  }

  test("labelPropagation == synchronous mode replay on a generated graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 50
    val edges = (for {
      a <- 0 until n; b <- a + 1 until n
      if rnd.nextInt(100) < 8
    } yield (a.toLong, b.toLong)).toSeq
    for (rounds <- Seq(1, 2, 3)) {
      val got = Graphs.labelPropagation(edges.toDF("id_a", "id_b"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var labels: Map[Long, Long] = adj.keys.map(i => i -> i).toMap
      for (_ <- 1 to rounds) {
        labels = adj.map { case (id, ns) =>
          // .toSeq BEFORE the pair map: Map.map over pairs would re-key
          // by -count and collapse equal-count labels
          val mode = ns.map(labels).groupBy(identity).toSeq
            .map { case (l, o) => (-o.size.toLong, l) }.min._2
          id -> mode
        }
      }
      assert(got === labels, s"rounds=$rounds diverged")
    }
  }

  test("hitsScaled: hand-checked bipartite fold and sequential replay") {
    import spark.implicits._
    // u1 -> {c1, c2}, u2 -> {c1}; scale 1e6, 2 rounds, hand-traced:
    // r1: a(c1)=1e6, a(c2)=5e5; h(u1)=1e6, h(u2)=666666
    // r2: a_raw(c1)=1666666, a_raw(c2)=1e6 -> a(c1)=1e6, a(c2)=600000
    //     h_raw(u1)=1.6e6, h_raw(u2)=1e6  -> h(u1)=1e6, h(u2)=625000
    val edges = Seq((1L, 101L), (1L, 102L), (2L, 101L)).toDF("src", "dst")
    val got = Graphs.hitsScaled(edges, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("hub", 1L) -> 1000000L, ("hub", 2L) -> 625000L,
      ("authority", 101L) -> 1000000L, ("authority", 102L) -> 600000L))

    // larger random-ish bipartite graph vs a driver-side sequential fold
    val big = (0L until 400L).map(i => (i % 23L, 100L + (i * 7919L) % 31L)).distinct
    val gotBig = Graphs.hitsScaled(big.toDF("src", "dst"), rounds = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scale = 1000000L
    var h: Map[Long, Long] = big.map(_._1).distinct.map(_ -> scale).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to 3) {
      val araw = big.groupBy(_._2).map { case (c, es) => c -> es.map(e => h(e._1)).sum }
      val amax = araw.values.max
      a = araw.map { case (c, r) => c -> r * scale / amax }
      val hraw = big.groupBy(_._1).map { case (u, es) => u -> es.map(e => a(e._2)).sum }
      val hmax = hraw.values.max
      h = hraw.map { case (u, r) => u -> r * scale / hmax }
    }
    val want = h.map { case (u, s) => ("hub", u) -> s } ++
      a.map { case (c, s) => ("authority", c) -> s }
    assert(gotBig === want)
    assert(gotBig.values.max === scale && gotBig.values.forall(s => s >= 0 && s <= scale))
  }

  test("hitsScaled raises loudly when a degree exceeds the promise") {
    import spark.implicits._
    val star = (0L until 40L).map(i => (i, 999L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      Graphs.hitsScaled(star, rounds = 1, maxDegree = 10L).collect()
    }
    assert(ex.getMessage.contains("maxDegree"))
  }
}
