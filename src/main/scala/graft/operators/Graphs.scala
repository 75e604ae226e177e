package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge lists the engine's other operators
  * emit (near-dup pairs, contact pairs, proximity joins) — starting with
  * triangle counting, the density/QA signal for duplicate and contact
  * graphs (a dup cluster that is also a triangle-rich clique is a true
  * re-upload family; a sparse star is usually boilerplate collision). */
object Graphs {

  /** Per-node triangle participation counts over an undirected edge list.
    * `edges`: (id_a, id_b), id_a < id_b, distinct (the canonical pair shape
    * every dedup/join operator here emits). Output: (id, triangles) for
    * every node in at least one triangle.
    *
    * Algorithm: DEGREE-ORDERED orientation (the Cohen / MapReduce-triangle
    * shape): every edge directs from its (degree, id)-smaller endpoint;
    * each triangle then has exactly one vertex with out-edges to the other
    * two, so enumerating out-edge wedges counts every triangle exactly
    * once — and the wedge volume Σ outdeg², the cost driver, is bounded by
    * O(m^1.5) total because oriented out-degrees are O(sqrt(m)): a
    * 10^6-degree hub contributes its fan-in to LOW-degree sources instead
    * of building 10^12 wedges. The orientation changes the plan, never the
    * count — the oracle replays the plain a<b<c triple join.
    *
    * Shape at scale: one degree aggregate, two broadcast-or-shuffle
    * equi-joins to attach degrees, the wedge self-join on src (the m^1.5
    * stage — rows are (src, dst) id pairs only), one closure equi-join
    * against the canonical edges, one explode+count. The oriented edge
    * list is pinned: it feeds both wedge sides. */
  def triangleCounts(edges0: DataFrame): DataFrame =
    triangleCountsOn(edges0.select(col("id_a"), col("id_b")).localCheckpoint())

  /** [[triangleCounts]] on an already-pinned canonical edge list —
    * callers that feed the same pinned edges to several graph passes
    * (e.g. [[clusteringCoefficient]]) avoid a second materialization. */
  private def triangleCountsOn(edges: DataFrame): DataFrame =
    trianglesOn(edges)
      .select(explode(array(col("a"), col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

  /** The degree-ordered triangle ENUMERATION on a pinned canonical edge
    * list: one row (a, u, v) per triangle, u < v, each triangle exactly
    * once — the shared core of [[triangleCounts]] and
    * [[edgeTriangleSupport]], with the O(m^1.5) wedge bound. */
  private def trianglesOn(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("id_a").as("id"))
      .unionAll(edges.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("id").as("id_a"), col("deg").as("__da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("__db")), "id_b")
    // src = (degree, id)-smaller endpoint; ties fall to id_a (< id_b)
    val aFirst = col("__da") < col("__db") || (col("__da") === col("__db"))
    val dir = withDeg.select(
      when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
      when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"))
      .localCheckpoint()
    // wedges at the oriented source; e1.dst < e2.dst is already the
    // canonical (id_a, id_b) order of the closing edge
    val wedges = dir.as("e1").join(dir.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("u"), col("e2.dst").as("v"))
    wedges.join(edges,
        wedges("u") === edges("id_a") && wedges("v") === edges("id_b"))
      .select(col("a"), col("u"), col("v"))
  }

  /** Per-EDGE triangle support — how many triangles each edge closes, the
    * k-truss filter ([[triangleCounts]]' node counts can't see it: a
    * BRIDGE between two cliques has triangle-rich ENDPOINTS but zero
    * support itself, and it is exactly the edge a dup-cluster splitter
    * wants to cut). Output: (id_a, id_b, support) for edges with
    * support ≥ `minSupport` — canonical order, exact integers.
    *
    * Shape: the shared triangle enumeration (O(m^1.5) wedges), each
    * triangle exploded to its three canonicalized edges, one hash
    * aggregate — 16-byte edge rows throughout. */
  def edgeTriangleSupport(edges0: DataFrame, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    trianglesOn(edges)
      .select(explode(array(
        struct(least(col("a"), col("u")).as("id_a"), greatest(col("a"), col("u")).as("id_b")),
        struct(least(col("a"), col("v")).as("id_a"), greatest(col("a"), col("v")).as("id_b")),
        struct(col("u").as("id_a"), col("v").as("id_b")))).as("__e"))
      .select(col("__e.id_a").as("id_a"), col("__e.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** Bounded-hop single-source shortest paths (Bellman-Ford relaxation,
    * `hops` rounds) over an undirected edge list with INTEGER weights —
    * the reachability/ETA primitive over the engine's proximity graphs.
    * Integer min-plus arithmetic makes every round shuffle-order
    * independent, so the whole iteration is hash-exact against an
    * unrolled-CTE SQL replay (no float tolerance), and after round k the
    * table holds EXACTLY the correct <= k-hop shortest distances.
    *
    * `source` is a 1-row DataFrame (id) so seed selection stays plan-side
    * — pass e.g. the max-degree hub from [[degrees]] without a driver
    * collect. Shape per round: one adjacency equi-join against the
    * current (id, dist) table + one min aggregate; 16-byte rows, vertex
    * payloads never move, adjacency pinned once, lineage cut per round.
    * For unbounded SSSP at scale, run frontier-delta rounds until a
    * convergence count — bounded hops is the common curation/mobility ask
    * ("within 4 transfers") and keeps the cost a plan-time constant. */
  def boundedSssp(edges0: DataFrame, source: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1, s"hops must be >= 1: $hops")
    val adj = edges0.select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
      .unionAll(edges0.select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
      .localCheckpoint()
    var dist = source.select(col("id"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to hops) {
      val relaxed = adj.join(dist.select(col("id").as("src"), col("dist")), "src")
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Link prediction by common-neighbor counting: for every NON-adjacent
    * pair (u, v) sharing at least `minCommon` neighbors, the exact count
    * of shared neighbors — the classic "people/stations you may know"
    * primitive, and the graph-side near-dup signal (two documents whose
    * dup-pair neighborhoods overlap heavily are cluster-mates even when
    * their own pair was missed). Output: (id_a, id_b, common), id_a <
    * id_b, canonical pair shape.
    *
    * Shape at scale: the adjacency list self-joined at the CENTER node
    * (one equi-join on the center id), emitting one wedge row per
    * neighbor pair of each center, then one hash aggregate on the pair
    * and one left-anti equi-join against the input edges. The wedge
    * volume Σ_c deg(c)² is the cost of the ANSWER here, not an
    * implementation artifact — every common neighbor IS a wedge — so
    * unlike [[triangleCounts]] no orientation trick can shrink it; at
    * 100 TB, bound hub centers first (cap or sample centers above a
    * degree ceiling — the banded joins' bucket cap,
    * [[graft.operators.Dedup.capBuckets]], with its observed drop count)
    * or raise `minCommon`, which cuts the aggregate's OUTPUT, and prune
    * low-degree centers (deg < 2 emits nothing) inside the scan, as done
    * here. `minCommon >= 1`; pairs are distinct by construction. */
  def commonNeighborPairs(edges0: DataFrame, minCommon: Long): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    val adj = edges.select(col("id_a").as("c"), col("id_b").as("n"))
      .unionAll(edges.select(col("id_b").as("c"), col("id_a").as("n")))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.c") === col("y.c") && col("x.n") < col("y.n"))
      .select(col("x.n").as("id_a"), col("y.n").as("id_b"))
    wedges.groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
      .join(edges, Seq("id_a", "id_b"), "left_anti")
  }

  /** Undirected degree table (src, deg) — seed/selection helper. */
  def degrees(edges0: DataFrame): DataFrame =
    edges0.select(col("id_a").as("src"))
      .unionAll(edges0.select(col("id_b").as("src")))
      .groupBy("src").agg(count(lit(1)).as("deg"))

  /** The local-clustering final expression — one fixed IEEE tree over the
    * exact integer (triangles, deg) pair, shared verbatim with the SQL
    * oracle so both engines emit bit-equal doubles. Degree-1 nodes have
    * no possible closing edge: NULL, not 0 (0 means "open wedges exist"). */
  val clusteringFinalSql: String =
    """CASE WHEN deg < 2 THEN NULL
      | ELSE 2*CAST(triangles AS DOUBLE) / (CAST(deg AS DOUBLE)*(CAST(deg AS DOUBLE)-1)) END""".stripMargin

  /** Per-node local clustering coefficient c(v) = 2·T(v) / (d(v)·(d(v)−1))
    * over an undirected canonical edge list — "how clique-like is this
    * node's neighborhood?", the per-node refinement of [[triangleCounts]]'
    * QA signal (a dup cluster whose members all cluster near 1.0 is a true
    * re-upload family; boilerplate stars sit at 0). Output: (id, deg,
    * triangles, clustering) for every node with at least one edge;
    * triangle-free nodes report 0, degree-1 nodes NULL.
    *
    * Shape at scale: the edge list is checkpointed ONCE and feeds both the
    * degree aggregate and the oriented wedge join, so the upstream pair
    * producer (typically a distance or near-dup join) runs once; the final
    * assembly is a left join of two id-keyed aggregates — partial-agg'd,
    * skew-safe (the O(m^1.5) wedge bound is [[triangleCounts]]'s). The
    * coefficient itself is driver-free arithmetic on the integer pair. */
  def clusteringCoefficient(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    val deg = degrees(edges).select(col("src").as("id"), col("deg"))
    val tri = triangleCountsOn(edges)
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering", expr(clusteringFinalSql))
  }

  /** k-core decomposition (the Matula–Beck peel, bounded): repeatedly
    * delete nodes of degree < k until a fixpoint; the survivors are the
    * k-core — the standard density filter for dup/contact/citation
    * graphs (a spam farm's mutual-link clique survives a high-k peel;
    * star boilerplate does not). Output: (id, core_deg) for every node
    * of the k-core, with its WITHIN-CORE degree (>= k by definition).
    *
    * Exactness: peeling is confluent — the fixpoint is unique whatever
    * the deletion order — so the converged result is hash-exact against
    * an unrolled fixed-depth SQL replay (extra unrolled rounds past the
    * fixpoint are idempotent). Convergence is REQUIRED within
    * `maxRounds` (loud failure, never a silently-truncated peel).
    *
    * Shape per round: one degree aggregate + two left-semi equi-joins of
    * the edge list against the surviving nodes; 16-byte edge rows only,
    * lineage cut per round. Rounds needed = core number spread along
    * degeneracy chains — single digits on proximity/dup graphs; worst
    * case (a path peeled from the ends) is O(n/2), which `maxRounds`
    * makes an explicit contract rather than a hang. */
  /** Synchronous label propagation (Raghavan et al.'s community
    * detection), made DETERMINISTIC: every node starts labeled with its
    * own id; each round every node simultaneously adopts the MODE of its
    * neighbors' labels with ties broken by the smaller label — the
    * (count DESC, label ASC) total order removes the scan-order
    * non-determinism of textbook async LPA, and a FIXED round count makes
    * the whole dynamic (oscillations included) hash-exact against an
    * unrolled-CTE SQL replay. Returns (id, label) after `rounds` updates
    * — label sets after 2-4 rounds are the standard cheap community
    * signal over the engine's proximity/dup graphs.
    *
    * Shape per round: one adjacency equi-join against the (id, label)
    * table, one (node, label) count aggregate, one min-struct argmax
    * aggregate — only 16-byte label rows shuffle, adjacency pinned once,
    * lineage cut per round. */
  def labelPropagation(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val edges = edges0.select(col("id_a"), col("id_b"))
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = adj.join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("id")
        .agg(min(struct((-col("__c")).as("__nc"), col("label"))).as("__m"))
        .select(col("id"), col("__m.label").as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** The transitivity final expression over (w2, t3) — shared verbatim
    * with the SQL oracle. w2 = Σ d(d−1) = 2·wedges, t3 = Σ per-node
    * triangles = 3·triangles, so transitivity = 3T/wedges = 2·t3/w2. */
  val TransitivityFinalSql: String =
    "CASE WHEN w2 = 0 THEN NULL ELSE 2*CAST(t3 AS DOUBLE)/CAST(w2 AS DOUBLE) END"

  /** GLOBAL clustering coefficient (transitivity) — what fraction of
    * connected triples close into triangles, the one-number density
    * summary of [[clusteringCoefficient]]'s per-node table (and the
    * whole-graph QA gate for dup/contact graphs). Output ONE row
    * (w2, t3, transitivity): w2 and t3 exact int64, the coefficient one
    * shared IEEE division. Shape: the pinned edge list feeds the degree
    * aggregate and the oriented wedge join once; both reduce to 1-row
    * sums. */
  def transitivity(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    val w2 = degrees(edges).agg(sum(col("deg") * (col("deg") - 1)).as("w2"))
    val t3 = triangleCountsOn(edges).agg(
      coalesce(sum(col("triangles")), lit(0L)).as("t3"))
    w2.crossJoin(t3)
      .select(col("w2"), col("t3"), expr(TransitivityFinalSql).as("transitivity"))
  }

  /** The modularity final expression over (m, q_num) — shared verbatim
    * with the SQL oracle. Q = q_num / 4m². */
  val ModularityFinalSql: String =
    """CASE WHEN m = 0 THEN NULL
      | ELSE CAST(q_num AS DOUBLE) / (4*CAST(m AS DOUBLE)*CAST(m AS DOUBLE)) END""".stripMargin

  /** Newman modularity of a node partition over an undirected canonical
    * edge list — "did the community detection actually find structure?",
    * the quality gate to run on every [[labelPropagation]] output before
    * trusting its clusters. Exact integer form:
    *
    *   Q·4m² = Σ_c (4m·e_c − d_c²)          (e_c intra-community edges,
    *                                          d_c community degree sum)
    *
    * so the output row is (m, q_num, modularity) with m and q_num EXACT
    * int64 and modularity ONE shared IEEE division ([[ModularityFinalSql]]).
    * Isolated labels (no intra edge) contribute −d_c² via the outer join.
    *
    * Shape at scale: two label-keyed hash aggregates (degree sums; intra
    * counts from one edges⋈labels⋈labels equi-join pair), a full-outer
    * label join, a 1-row edge-count broadcast — community-cardinality
    * rows everywhere after the joins. Integer headroom: |q_num| ≤ 8m²,
    * guarded loudly past m = 10⁹. */
  def modularity(edges0: DataFrame, labels: DataFrame): DataFrame = {
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    val lab = labels.select(col("id"), col("label")).localCheckpoint()
    val mRow = edges.agg(count(lit(1)).as("m"))
    val dC = degrees(edges).join(lab.select(col("id").as("src"), col("label")), "src")
      .groupBy("label").agg(sum(col("deg")).as("__dc"))
    val eC = edges
      .join(lab.select(col("id").as("id_a"), col("label").as("__la")), "id_a")
      .join(lab.select(col("id").as("id_b"), col("label").as("__lb")), "id_b")
      .where(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__ec"))
    dC.join(eC, Seq("label"), "full_outer")
      .crossJoin(broadcast(mRow))
      .withColumn("__ok",
        when(col("m") <= 1000000000L, true)
          .otherwise(raise_error(lit("modularity: q_num overflows int64 past m = 1e9"))))
      .where(col("__ok"))
      .agg(max(col("m")).as("m"),
        sum(lit(4L) * col("m") * coalesce(col("__ec"), lit(0L))
          - coalesce(col("__dc"), lit(0L)) * coalesce(col("__dc"), lit(0L))).as("q_num"))
      .select(col("m"), col("q_num"), expr(ModularityFinalSql).as("modularity"))
  }

  /** The assortativity final expression over the exact integer moments
    * (m2, sx, sxx, sxy) — by edge-direction symmetry the x and y moments
    * coincide, so Pearson needs NO square root:
    * r = (m2·sxy − sx²) / (m2·sxx − sx²). Shared verbatim with the
    * oracle. */
  val AssortativityFinalSql: String =
    """CASE WHEN m2 = 0 OR CAST(m2 AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) = 0 THEN NULL
      | ELSE (CAST(m2 AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |  / (CAST(m2 AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) END""".stripMargin

  /** Degree assortativity (Newman's degree-degree Pearson) over an
    * undirected canonical edge list — do hubs link to hubs (r > 0, social
    * nets) or to leaves (r < 0, infrastructure)? Each undirected edge
    * contributes BOTH ordered endpoint-degree pairs, which makes the x/y
    * marginals identical and the whole statistic a ratio of exact int64
    * moments — no sqrt, one shared final division. Output ONE row
    * (m2, sx, sxx, sxy, assortativity), m2 = 2m ordered pairs.
    *
    * Shape: one degree aggregate, two broadcast-or-shuffle joins to
    * attach endpoint degrees, one global sum — edge-count work, no
    * windows. Integer headroom: sxy ≤ m2·dmax²; the double-domain guard
    * trips loudly near 4.6e18. */
  def degreeAssortativity(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    val deg = degrees(edges)
    val withDeg = edges
      .join(deg.select(col("src").as("id_a"), col("deg").as("__da")), "id_a")
      .join(deg.select(col("src").as("id_b"), col("deg").as("__db")), "id_b")
    withDeg
      .agg((lit(2L) * count(lit(1))).as("m2"),
        sum(col("__da") + col("__db")).as("sx"),
        sum(col("__da") * col("__da") + col("__db") * col("__db")).as("sxx"),
        (lit(2L) * sum(col("__da") * col("__db"))).as("sxy"),
        max(greatest(col("__da"), col("__db"))).as("__dmax"))
      .withColumn("__ok",
        when(col("m2").cast("double") * col("__dmax").cast("double")
          * col("__dmax").cast("double") <= lit(4.6e18), true)
          .otherwise(raise_error(lit("degreeAssortativity: moments overflow int64"))))
      .where(col("__ok"))
      .select(col("m2"), col("sx"), col("sxx"), col("sxy"),
        expr(AssortativityFinalSql).as("assortativity"))
  }

  def kCore(edges0: DataFrame, k: Long, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    var edges = edges0.select(col("id_a"), col("id_b")).localCheckpoint()
    var n = edges.count()
    var round = 0
    var converged = false
    while (!converged && n > 0) {
      round += 1
      require(round <= maxRounds,
        s"k-core peel did not converge in $maxRounds rounds (still $n edges)")
      val keep = degrees(edges).where(col("deg") >= k)
      val pruned = edges
        .join(keep.select(col("src").as("id_a")), Seq("id_a"), "left_semi")
        .join(keep.select(col("src").as("id_b")), Seq("id_b"), "left_semi")
        .localCheckpoint()
      val n2 = pruned.count()
      converged = n2 == n
      edges = pruned
      n = n2
    }
    degrees(edges).select(col("src").as("id"), col("deg").as("core_deg"))
  }

  /** Damped PageRank over an undirected edge list, in SCALED INTEGER
    * arithmetic (the q_collocations discipline): ranks are int64 multiples
    * of `scale`, every round computes
    *
    *   contrib(v) = rank(v) div deg(v)
    *   rank'(u)   = (3*scale) div 20  +  (17 * Σ contrib(neighbors)) div 20
    *
    * i.e. damping 0.85 with per-node restart mass `0.15*scale` — but with
    * ONLY integer `div`/`sum`, so the result is independent of shuffle
    * order and float fold order, and the whole iteration replays in ANSI
    * SQL (the oracle unrolls the rounds as CTEs — hash-exact, not
    * tolerance-checked). Truncation error vs real PageRank is < rounds
    * ulps of `1/scale` per unit rank, irrelevant for ranking use.
    *
    * Shape at scale: per round ONE equi-join of the adjacency list against
    * the (node, rank) table on the contributing endpoint and ONE hash
    * aggregate on the receiving endpoint — rank rows are 16 bytes, vertex
    * payloads never move, and the adjacency list is pinned once
    * (localCheckpoint) so no round re-runs the upstream proximity join.
    * Lineage is cut every round (the connected-components discipline).
    * Nodes are edge endpoints, so deg >= 1 and there are no dangling
    * nodes by construction.
    *
    * Overflow bound (documented, checked): a node's contribution sum is
    * < n*scale, and the update multiplies by 17, so n*scale*17 must stay
    * below 2^63 — `require`d via the caller-passed `maxNodes` hint at
    * plan time; at 10^9-node scale pass scale=10^6 and keep 6 useful
    * digits. */
  def pageRankScaled(edges0: DataFrame, rounds: Int,
                     scale: Long = 1000000000000L,
                     maxNodes: Long = 500000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    requireNoOverflow(scale, maxNodes)
    val (adjDeg, deg) = adjacencyWithDegrees(edges0)
    var ranks = deg.select(col("src").as("id"), lit(scale).as("pr")).localCheckpoint()
    for (_ <- 1 to rounds) ranks = pageRankRound(adjDeg, deg, ranks, scale).localCheckpoint()
    ranks
  }

  /** [[pageRankScaled]] over WEIGHTED undirected edges (id_a, id_b, w > 0):
    * a node distributes rank to each neighbor in proportion to the edge
    * weight — `pr * w div wdeg` per edge, `wdeg` the node's weight sum —
    * still pure int64, shuffle-order independent, hash-exact vs an
    * unrolled-CTE replay. This is the TextRank/co-occurrence form: on
    * near-complete graphs (every word meets every word at least once)
    * UNWEIGHTED PageRank degenerates to near-uniform ranks, while weights
    * carry all the signal.
    *
    * Extra overflow operand vs the unweighted form: the PRODUCT pr * w,
    * bounded by n*scale*maxWeight — `require`d at plan time from the
    * caller's `maxNodes`/`maxWeight` promises; `maxWeight` is also
    * enforced LOUDLY per edge (a filter-side raise_error, never silent
    * truncation). Same per-round shape: one equi-join + one hash agg over
    * (id, pr) rows, adjacency pinned once. */
  def pageRankWeightedScaled(edges0: DataFrame, rounds: Int,
                             scale: Long = 1000000000L,
                             maxNodes: Long = 100000L,
                             maxWeight: Long = 10000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    requireNoOverflow(scale, maxNodes)
    require(maxWeight > 0 && maxNodes <= Long.MaxValue / scale / maxWeight,
      s"n*scale*maxWeight can overflow int64: maxNodes=$maxNodes scale=$scale " +
        s"maxWeight=$maxWeight — lower scale or maxWeight")
    val edges = edges0.select(col("id_a"), col("id_b"), col("w"))
      .withColumn("__ok", when(col("w") > 0 && col("w") <= maxWeight, true)
        .otherwise(raise_error(concat(
          lit(s"pageRankWeightedScaled: edge weight outside (0, $maxWeight]: "),
          col("w").cast("string")))))
      .where(col("__ok"))
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
    val deg = adj.groupBy("src").agg(sum("w").as("wdeg"))
    val adjDeg = adj.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("id"), lit(scale).as("pr")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val sums = adjDeg.join(ranks.select(col("id").as("src"), col("pr")), "src")
        .select(col("dst").as("id"), expr("pr * w div wdeg").as("__c"))
        .groupBy("id").agg(sum("__c").as("__s"))
      ranks = deg.select(col("src").as("id")).join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(3L * scale / 20L) + expr("coalesce(__s, 0L) * 17 div 20")).as("pr"))
        .localCheckpoint()
    }
    ranks
  }

  /** HITS hubs & authorities over DIRECTED edges (src, dst) — the
    * bipartite ranking twin of [[pageRankScaled]] (users→cells: a good
    * hub visits good places, a good place attracts good hubs). Classic
    * HITS L2-normalizes each half-step — transcendental, so not
    * replayable; this uses L∞ (max) normalization instead, which has the
    * same fixpoint direction and keeps every operation in pure int64:
    * a = (Σ h over in-edges)·scale div max, h = (Σ a over out-edges)·
    * scale div max, per round — shuffle-order independent and hash-exact
    * against an unrolled-CTE SQL replay. Scores land in [0, scale] with
    * the max element AT scale each round.
    *
    * Per round: two equi-join + hash-agg passes over (id, score) rows
    * plus two broadcast scalar maxima — the adjacency is pinned once and
    * never reshuffled. Overflow: post-normalization scores ≤ scale, so
    * raw sums ≤ maxDegree·scale and the normalizing product ≤
    * maxDegree·scale² — `require`d at plan time, and per-node degrees
    * are checked LOUDLY against the promise (raise_error, never silent).
    * Output: (role 'hub'|'authority', id, score). */
  def hitsScaled(edges0: DataFrame, rounds: Int, scale: Long = 1000000L,
                 maxDegree: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(scale > 0 && maxDegree > 0 &&
      maxDegree <= Long.MaxValue / scale / scale,
      s"maxDegree*scale^2 can overflow int64: maxDegree=$maxDegree scale=$scale")
    val edges = edges0.select(col("src"), col("dst")).localCheckpoint()
    val degGuard = edges.select(col("src").as("__n"))
      .unionAll(edges.select(col("dst").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__d"))
      .select(max(col("__d")).as("__dmax"))
      .select(when(col("__dmax") <= maxDegree, true)
        .otherwise(raise_error(concat(
          lit(s"hitsScaled: degree exceeds the maxDegree=$maxDegree promise: "),
          col("__dmax").cast("string")))).as("__ok"))
    def normalized(raw: DataFrame, out: String): DataFrame =
      raw.crossJoin(broadcast(
          raw.agg(max(col("__raw")).as("__mx")).crossJoin(degGuard)))
        .where(col("__ok")) // load-bearing: pruning must not drop the guard
        .select(col("id"), expr(s"__raw * ${scale}L div __mx").as(out))
        .localCheckpoint()
    var hubs = edges.select(col("src").as("id")).distinct()
      .select(col("id"), lit(scale).as("h")).localCheckpoint()
    var auths: DataFrame = null
    for (_ <- 1 to rounds) {
      auths = normalized(
        edges.join(hubs.select(col("id").as("src"), col("h")), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("__raw")), "a")
      hubs = normalized(
        edges.join(auths.select(col("id").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("__raw")), "h")
    }
    hubs.select(lit("hub").as("role"), col("id"), col("h").as("score"))
      .unionByName(auths.select(lit("authority").as("role"), col("id"),
        col("a").as("score")))
  }

  private def requireNoOverflow(scale: Long, maxNodes: Long): Unit =
    require(maxNodes > 0 && scale > 0 &&
      maxNodes <= Long.MaxValue / 17 / scale,
      s"n*scale*17 can overflow int64: maxNodes=$maxNodes scale=$scale — lower scale")

  private def adjacencyWithDegrees(edges0: DataFrame): (DataFrame, DataFrame) = {
    val edges = edges0.select(col("id_a"), col("id_b"))
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    (adj.join(deg, "src").localCheckpoint(), deg)
  }

  private def pageRankRound(adjDeg: DataFrame, deg: DataFrame,
                            ranks: DataFrame, scale: Long): DataFrame = {
    val sums = adjDeg.join(ranks.select(col("id").as("src"), col("pr")), "src")
      .select(col("dst").as("id"), expr("pr div deg").as("__c"))
      .groupBy("id").agg(sum("__c").as("__s"))
    deg.select(col("src").as("id")).join(sums, Seq("id"), "left")
      .select(col("id"),
        (lit(3L * scale / 20L) + expr("coalesce(__s, 0L) * 17 div 20")).as("pr"))
  }

  /** [[pageRankScaled]] with DURABLE per-round state — the long-iteration
    * survival story: a 50-round computation over 10^12 rows WILL lose an
    * executor or the driver, and `localCheckpoint` state dies with it.
    * Every completed round is committed to `stateDir` as one
    * [[ResumableWrite]] partition (`round=<k>`, atomic rename + manifest
    * line), so a crashed run restarts from the LAST COMMITTED ROUND
    * instead of round zero: on entry the manifest names the highest
    * durable round, its ranks are read back (with the loud
    * manifest/disk-divergence check), and only the remaining rounds
    * compute. Rounds accumulate in the state table, so every intermediate
    * iteration stays readable — the same time-travel contract as
    * q_snapshot_read, here over ITERATION time.
    *
    * The integer arithmetic makes resume bit-safe: a resumed run's final
    * ranks are hash-identical to a one-shot run (spec-pinned), which a
    * float iteration could not promise across different shuffle layouts.
    *
    * @param maxRoundsThisRun fault-injection knob (mirrors
    *   ResumableWrite's `maxPartitionsThisRun`): commit this many rounds,
    *   then stop — simulates a crash between rounds. */
  def pageRankCheckpointed(edges0: DataFrame, rounds: Int, stateDir: String,
                           scale: Long = 1000000000000L,
                           maxNodes: Long = 500000L,
                           maxRoundsThisRun: Int = Int.MaxValue): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    requireNoOverflow(scale, maxNodes)
    val spark = edges0.sparkSession
    val (adjDeg, deg) = adjacencyWithDegrees(edges0)
    val done = ResumableWrite.committedPartitions(stateDir).map(_.toInt)
    val startRound = if (done.isEmpty) 0 else done.max
    var ranks =
      if (done.isEmpty) deg.select(col("src").as("id"), lit(scale).as("pr")).localCheckpoint()
      else ResumableWrite.readCommitted(spark, stateDir, "round")
        .where(col("round") === startRound).select("id", "pr").localCheckpoint()
    var committedThisRun = 0
    for (k <- startRound + 1 to rounds if committedThisRun < maxRoundsThisRun) {
      ranks = pageRankRound(adjDeg, deg, ranks, scale).localCheckpoint()
      ResumableWrite.write(ranks.withColumn("round", lit(k)), stateDir, "round",
        runId = s"round_$k", input = s"round_${k - 1}")
      committedThisRun += 1
    }
    ranks.select("id", "pr")
  }
}
