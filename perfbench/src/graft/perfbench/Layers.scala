package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkEntryRegions}
import graft.functions.s2functions._
import graft.operators.{Knn, SpatialJoin, Tiling}
import graft.plans.S2PipJoin
import graft.s2.{S2CellId, S2LatLng, S2Region}

/** The traced run's per-layer sweep. Every entry calls one layer's public
  * functions from outside and is tagged with the end-to-end metric and
  * workload it should move:
  *  - `s2` (L0): kernel ns/op on raw JVM threads, at 1 and `cores` threads;
  *  - `functions` (L1): one aggregate over `spark.range` per expression;
  *  - `operators` / `plans` (L2): each operator on its workload's input,
  *    with Spark counters and ratios read from the executed plan;
  *  - `catalog` (L3): build time, run time and job count of each of the
  *    twelve spatial catalog queries, each checked against its golden.
  * The same sweep runs after every workload, so every traced run reports
  * the same metrics. */
final class Layers(spark: SparkSession, tr: Tracer, seed: Long, cores: Int, parts: Int,
                   work: String, goldens: Map[String, (Long, String)]) {
  private val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[String]

  private def put(name: String, value: Double, unit: String, moves: String): Unit =
    metrics(name) = Map("value" -> value, "unit" -> unit, "moves" -> moves)

  private var checks = 0L
  /** Base counts of the ratios, reported next to them. */
  val bases = mutable.LinkedHashMap.empty[String, Map[String, Long]]
  private lazy val catalogDir = {
    val dir = s"$work/catalog"
    CatalogData.write(spark, dir, Main.CatalogOrders, Main.CatalogCustomers)
    dir
  }

  /** Runs every layer; returns the metrics, the number of output checks
    * made and the checks that failed. */
  def sweep(wl: Workload): (Seq[Map[String, Any]], Long, Seq[String]) = {
    repCounters(wl.name)
    tr.span("layer s2", "rep")(kernels())
    tr.span("layer functions", "rep")(expressions())
    tr.span("layer operators", "rep")(operators(wl))
    tr.span("layer catalog", "rep")(catalog())
    (metrics.toSeq.map { case (k, v) => v + ("name" -> k) }, checks, failures.toSeq)
  }

  private def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) failures += what
  }

  // ---- Spark counters ------------------------------------------------------

  /** `<entry>.tasks`, `.cpu_busy_frac` (executor CPU / (wall x cores)),
    * `.gc_frac` (GC time / executor run time), `.shuffle_mb` and
    * `.spill_mb`, per call of the entry, over the spans `ids`; the sums
    * behind the two ratios go to [[bases]]. */
  private def counters(entry: String, ids: Seq[Long], wallS: Double, moves: String): Unit = {
    val c = new Counters
    ids.foreach(i => c.add(tr.totals(i)))
    val k = ids.size.toDouble
    bases(entry) = Map("calls" -> ids.size.toLong, "jobs" -> c.jobs, "tasks" -> c.tasks,
      "executor_cpu_ms" -> c.cpuNs / 1000000L, "wall_ms" -> (wallS * 1000).toLong,
      "gc_ms" -> c.gcMs, "executor_run_ms" -> c.runMs)
    put(s"$entry.tasks", c.tasks / k, "count", moves)
    put(s"$entry.cpu_busy_frac", c.cpuNs / 1e9 / (wallS * cores), "ratio", moves)
    put(s"$entry.gc_frac", if (c.runMs == 0) 0.0 else c.gcMs.toDouble / c.runMs, "ratio", moves)
    put(s"$entry.shuffle_mb", c.shuffleBytes / 1048576.0 / k, "MB", moves)
    put(s"$entry.spill_mb", c.spillBytes / 1048576.0 / k, "MB", moves)
  }

  /** Counters of the workload's timed reps, and the traced median rep time
    * (against untraced runs it gives the tracing overhead). */
  private def repCounters(workload: String): Unit = {
    val reps = tr.spansOf("rep").filter(_.name.startsWith("rep "))
    val wall = reps.map(s => (s.endNs - s.startNs) / 1e9).sum
    counters("rep", reps.map(_.id), wall, s"rows_per_s@$workload")
    put("trace.rep_s_p50", Main.median(reps.map(s => (s.endNs - s.startNs) / 1e9)), "s",
      s"tracing overhead: compare with rows_per_rep / rows_per_s of untraced $workload runs")
  }

  // ---- L0: s2 kernel -------------------------------------------------------

  /** ns per op of `op` over `n` inputs: at 1 thread, and the wall time per
    * op per thread at `cores` threads. Median of 3 passes after a JIT
    * warm-up; each thread stores its checksum where the JIT cannot drop
    * it. Returns the thread scaling: the `cores`-thread rate / (`cores` x
    * the 1-thread rate). */
  private def kernel(name: String, n: Int, moves: String)(op: Int => Long): Double = {
    def pass(threads: Int): Double = {
      val sums = new Array[Long](threads)
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          var acc = 0L
          var i = 0
          while (i < n) { acc += op((i + t * 7919) % n); i += 1 }
          sums(t) = acc
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0).toDouble / n
    }
    val (one, par) = tr.call(s"s2.$name") {
      pass(1); pass(cores)
      (Main.median((0 until 3).map(_ => pass(1))), Main.median((0 until 3).map(_ => pass(cores))))
    }
    put(s"s2.${name}_ns", one, "ns", moves)
    put(s"s2.${name}_ns_par", par, "ns", s"$moves (wall ns per op per thread at $cores threads)")
    one / par
  }

  private def kernels(): Unit = {
    val n = 1 << 18
    val start = 1000000007L * (seed % 1000L)
    def lat(k: Long) = ((k * 9973 + 12345) % 18000).toDouble / 100.0 - 90.0
    def lon(k: Long) = ((k * 31337 + 54321) % 36000).toDouble / 100.0 - 180.0
    val lats = Array.tabulate(n)(i => lat(start + i))
    val lons = Array.tabulate(n)(i => lon(start + i))
    val scaling = kernel("leaf_encode", n, "rows_per_s@tile_join,poly_hot") { i =>
      S2CellId.fromLatLngDegrees(lats(i), lons(i))
    }
    bases("s2.thread_scaling") = Map("threads" -> cores.toLong, "ops_per_thread" -> n.toLong)
    put("s2.thread_scaling", scaling, "ratio",
      s"host ceiling: ${cores}-thread leaf-encode rate / ($cores x 1-thread rate)")
    val leaves = Array.tabulate(n)(i => S2CellId.fromLatLngDegrees(lats(i), lons(i)))
    kernel("parent_token", n, "rows_per_s@tile_join") { i =>
      S2CellId.toToken(S2CellId.parentForLevel(leaves(i), 8)).hashCode.toLong
    }
    val rects = SparkEntryRegions.rects.map(_._2).toArray
    kernel("rect_contains", n, "rows_per_s@tile_join") { i =>
      if (SpatialJoin.regionContains(rects(i % 3), lats(i), lons(i))) 1L else 0L
    }
    // candidate pairs as the refine sees them: points of the workload grid
    // (one period of it, 36000 keys) inside a hexagon's bounding rect,
    // paired with that hexagon
    val loops = Hexagons.regions.map(_._2).toArray
    val bounds = loops.map(_.rectBound)
    val pairs = (start until start + 36000L).flatMap { k =>
      val ll = S2LatLng.fromDegrees(lat(k), lon(k))
      bounds.indices.filter(j => bounds(j).contains(ll)).map(j => (lat(k), lon(k), j))
    }.toArray
    kernel("loop_contains", n, "rows_per_s@poly_hot") { i =>
      val (la, lo, j) = pairs(i % pairs.length)
      if (SpatialJoin.regionContains(loops(j), la, lo)) 1L else 0L
    }
    val circle = graft.s2.TextShapes.circle(10.0, 20.0,
      SparkEntry.CircleRadiusM / S2LatLng.EarthRadiusMeters, 2500)
    val regions: Seq[(String, S2Region)] =
      SparkEntryRegions.rects ++ SparkEntry.polygonRegions :+ ("c_2500km" -> circle)
    val coverMs = tr.call("s2.coverRegions") {
      SpatialJoin.coverRegions(regions, 64)
      (0 until 3).map { _ =>
        val t0 = System.nanoTime(); SpatialJoin.coverRegions(regions, 64); (System.nanoTime() - t0) / 1e6
      }
    }
    put("s2.cover_ms", Main.median(coverMs), "ms", "catalog.query_s_p50")
  }

  // ---- L1: Catalyst expressions ---------------------------------------------

  /** Runs `run` once to warm up, then twice inside spans named `name`;
    * returns the median rows/s, the span ids and their summed wall time. */
  private def rate(name: String, rows: Long)(run: => Any): (Double, Seq[Long], Double) = {
    run
    val ids = mutable.ArrayBuffer.empty[Long]
    val secs = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      tr.call(name) { ids += tr.current; run }
      (System.nanoTime() - t0) / 1e9
    }
    (Main.median(secs.map(rows / _)), ids.toSeq, secs.sum)
  }

  private def expressions(): Unit = {
    val n = 4000000L
    def pts = Points.uniform(spark, seed, n, parts)
    put("functions.gen_rows_per_s",
      rate("functions.gen", n)(pts.agg(sum("lat"), sum("lon")).head())._1,
      "rows/s", "floor of every functions entry")
    put("functions.cell_id_rows_per_s",
      rate("functions.s2_cell_id", n)(pts.agg(bit_xor(s2_cell_id(col("lat"), col("lon")))).head())._1,
      "rows/s", "rows_per_s@tile_join,poly_hot")
    put("functions.tile_token_rows_per_s",
      rate("functions.s2_tile+s2_token", n)(
        pts.agg(sum(length(s2_token(s2_tile(col("lat"), col("lon"), 8))))).head())._1,
      "rows/s", "rows_per_s@tile_join")
    // each row tests hexagon id % 256: more loops than the per-thread loop
    // cache holds, as in poly_hot's refine
    val nl = 250000L
    val hexLats = typedLit(Hexagons.polys.map(_._2.toSeq))
    val hexLons = typedLit(Hexagons.polys.map(_._3.toSeq))
    def cand = Points.uniform(spark, seed, nl, parts)
      .withColumn("k", (col("id") % 256 + 1).cast("int"))
    put("functions.loop_contains_rows_per_s",
      rate("functions.s2_loop_contains", nl)(cand.agg(sum(when(s2_loop_contains(
        element_at(hexLats, col("k")), element_at(hexLons, col("k")), col("lat"), col("lon")), 1L)
        .otherwise(0L))).head())._1,
      "rows/s", "rows_per_s@poly_hot")
  }

  // ---- L2: operators and plans ---------------------------------------------

  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

  /** Runs an L2 entry twice (after a warm-up) and records its rate and
    * counters; returns the last run's executed plan. */
  private def entry(name: String, rowsIn: Long, moves: String)(build: => DataFrame): SparkPlan = {
    var last: DataFrame = null
    val (r, ids, wall) = rate(name, rowsIn) { last = build; last.collect() }
    put(s"${name}_rows_per_s", r, "rows/s", moves)
    counters(name, ids, wall, moves)
    last.queryExecution.executedPlan
  }

  private def firstRows(p: SparkPlan): Long = nodes(p).map(rows).find(_ >= 0).getOrElse(-1L)

  /** (rows the hash join's streamed side probed with, rows it emitted).
    * The exact refine is part of the join condition in both PIP joins, so
    * candidates that fail it never appear as a plan metric of their own. */
  private def probes(plan: SparkPlan): (Long, Long) =
    nodes(plan).collectFirst { case j: HashJoin =>
      (firstRows(if (j.buildSide == BuildRight) j.left else j.right), rows(j))
    }.getOrElse((-1L, -1L))

  private def operators(wl: Workload): Unit = {
    val tj = wl match {
      case t: TileJoin => t
      case _ => new TileJoin(spark, seed, tr, Main.TileJoinRows, parts)
    }
    val ph = wl match {
      case p: PolyHot => p
      case _ => val p = new PolyHot(spark, seed, tr, Main.PolyHotRows, parts); p.fixture(); p
    }
    val rects = SparkEntryRegions.rects

    val m = "rows_per_s@tile_join"
    val pip = entry("operators.pip_join", tj.rows, m) {
      SpatialJoin.pipJoin(tj.points, "lat", "lon", rects).groupBy().count()
    }
    val gens = nodes(pip).collect { case g: GenerateExec => g }
    val generated = gens.map(rows).sum
    val (probed, matched) = probes(pip)
    put("operators.pip_join.explode_factor", generated.toDouble / tj.rows, "ratio", m)
    put("operators.pip_join.probes_per_match", probed.toDouble / matched, "ratio", m)
    bases("operators.pip_join.plan") = Map("input_rows" -> tj.rows,
      "prefiltered_rows" -> gens.headOption.map(g => firstRows(g.child)).getOrElse(-1L),
      "generated_rows" -> generated, "probe_rows" -> probed, "matched_rows" -> matched)

    entry("plans.pip_join_exec", tj.rows, m) {
      S2PipJoin.pipJoinExec(tj.points, "lat", "lon", rects).groupBy().count()
    }
    entry("operators.tile_assign", tj.rows, m) {
      Tiling.tileAssign(tj.points, "lat", "lon", 8).agg(sum(length(col("tile_token"))))
    }

    val pm = "rows_per_s@poly_hot"
    val poly = entry("operators.polygon_pip_join", ph.rows, pm) {
      SpatialJoin.polygonPipJoin(ph.points, "lat", "lon", ph.hexTable, "region_id", "lats", "lons",
        level = ph.Level).groupBy().count()
    }
    val (pProbed, pMatched) = probes(poly)
    put("operators.polygon_pip_join.probes_per_match", pProbed.toDouble / pMatched, "ratio", pm)
    bases("operators.polygon_pip_join.plan") = Map("input_rows" -> ph.rows, "probe_rows" -> pProbed,
      "matched_rows" -> pMatched)

    entry("operators.zonal_stats", ph.rows, pm) {
      SpatialJoin.zonalStats(ph.points, "lat", "lon", "id", ph.hexTable, "region_id",
        "lats", "lons", level = ph.Level)
    }

    val km = "catalog.query_s_p50"
    def knn() = Knn.knnJoin(SparkEntry.points(spark, catalogDir), "lat", "lon", Seq("o_orderkey"),
      SparkEntry.KnnQueries, k = 5, startLevel = 4).count()
    knn()
    val ids = mutable.ArrayBuffer.empty[Long]
    val ks = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      tr.call("operators.knn") { ids += tr.current; knn() }
      (System.nanoTime() - t0) / 1e9
    }
    put("operators.knn_s", Main.median(ks), "s", km)
    put("operators.knn.jobs", tr.totals(ids.last).jobs.toDouble, "count", km)
    counters("operators.knn", ids.toSeq, ks.sum, km)
  }

  // ---- L3: catalog ---------------------------------------------------------

  /** The twelve spatial catalog queries, once each: build and `count()`
    * are timed; then, untimed, the result's row count and hash are checked
    * against the goldens. */
  private def catalog(): Unit = {
    val moves = "catalog.query_s_p50 (query latency at catalog scale)"
    val seconds = CatalogData.Queries.map { q =>
      val golden = goldens.get(q)
      try {
        var df: DataFrame = null
        val b0 = System.nanoTime()
        val bId = tr.call(s"catalog.$q.build") { df = SparkEntry.queries(q)(spark, catalogDir); tr.current }
        val r0 = System.nanoTime()
        val (n, rId) = tr.call(s"catalog.$q.count")((df.count(), tr.current))
        val r1 = System.nanoTime()
        val got = tr.call("bench.fingerprint")(CatalogData.fingerprint(df))
        check(s"catalog.$q: count $n, rows and hash $got, golden $golden",
          golden.contains(got) && got._1 == n)
        put(s"catalog.$q.build_s", (r0 - b0) / 1e9, "s", moves)
        put(s"catalog.$q.run_s", (r1 - r0) / 1e9, "s", moves)
        put(s"catalog.$q.jobs", (tr.totals(bId).jobs + tr.totals(rId).jobs).toDouble, "count", moves)
        (r1 - b0) / 1e9
      } catch {
        case e: Exception => check(s"catalog.$q: ${e.getMessage}".take(400), ok = false); Double.NaN
      }
    }
    put("catalog.query_s_p50", Main.median(seconds), "s", moves)
    put("catalog.pass_s", seconds.sum, "s", moves)
  }
}
