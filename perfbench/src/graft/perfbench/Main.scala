package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client, `local[cores]`.
  *
  * {{{
  * Main --workload tile_join|poly_hot --seed N --seconds S --trace 0|1
  *      --cores C --work DIR --out FILE --goldens FILE [--trace-out FILE]
  * Main --golden-dump DIR --cores C --work DIR --out FILE
  * }}}
  *
  * Set-up (session start, then three rounds of a fixture build and a
  * warm-up rep) is timed apart from the closed loop of reps, which runs
  * until `seconds` have passed and at least `MinReps` reps are done. The
  * result, with every check's outcome, is written to `--out` as JSON. With
  * `--trace 1` the reps run inside spans and the per-layer sweep
  * ([[Layers]]) follows. */
object Main {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Rows per rep of the two throughput workloads, and the catalog scale:
    * sized so a rep takes one to two seconds on a 4-vCPU host and a
    * traced run ends well inside its time limit. */
  val TileJoinRows = 2000000L
  val PolyHotRows = 1000000L
  val CatalogOrders = 15000L
  val CatalogCustomers = 1500L
  /** Set-up rounds, each a fixture build and a warm-up rep; `setup_s`
    * takes their median, and the reps after the first warm the JIT. */
  val SetupRounds = 3
  val MinReps = 5

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt.getOrElse("workload", "golden")
    val seed = opt.getOrElse("seed", "0").toLong
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val traced = opt.get("trace").contains("1")
    val cores = opt("cores").toInt
    val work = opt("work")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded status-store retention: the live heap must not grow with
      // the number of reps a run fits in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, cores.toLong, 1, cores).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tr = new Tracer(spark.sparkContext, traced)
    // four input partitions per core, so one slow task leaves a core idle
    // for a quarter of a stage at most
    val parts = cores * 4
    val goldens: Map[String, (Long, String)] = opt.get("goldens").map { p =>
      val node = Json.readTree(new java.io.File(p)).get("queries")
      node.fieldNames().asScala.map { q =>
        q -> (node.get(q).get("rows").asLong(), node.get(q).get("hash").asText())
      }.toMap
    }.getOrElse(Map.empty)

    if (opt.contains("golden-dump")) {
      writeGoldens(spark, s"$work/data", opt("golden-dump"), opt("out"))
      spark.stop()
      return
    }

    val wl: Workload = workload match {
      case "tile_join" => new TileJoin(spark, seed, tr, TileJoinRows, parts)
      case "poly_hot" => new PolyHot(spark, seed, tr, PolyHotRows, parts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def record(o: Op): Op = {
      attempted += 1
      if (!o.ok) { failed += 1; if (failures.size < 20) failures += o.error }
      o
    }

    val timedOps = tr.span(workload, "workload") {
      val rounds = (0 until SetupRounds).map { r =>
        val f0 = System.nanoTime()
        tr.span(s"fixture $r", "rep")(wl.fixture())
        val w0 = System.nanoTime()
        record(tr.span(s"warm-up $r", "rep")(wl.rep()))
        ((w0 - f0) / 1e9, (System.nanoTime() - w0) / 1e9)
      }
      out("setup") = Map("session_s" -> sessionS, "fixture_s" -> rounds.map(_._1),
        "warmup_s" -> rounds.map(_._2))
      out("setup_s") = sessionS + median(rounds.map { case (f, w) => f + w })

      val l0 = System.nanoTime()
      val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
      while (ops.size < MinReps || (System.nanoTime() - l0) / 1e9 < seconds) {
        ops += record(tr.span(s"rep ${ops.size}", "rep")(wl.rep()))
      }
      ops.toSeq
    }

    out("reps") = timedOps.size
    out("rows_per_rep") = wl.rows
    out("rep_s") = timedOps.map(_.seconds)
    out("rows_per_s") = median(timedOps.map(wl.rows / _.seconds))
    out("live_heap_mb") = liveHeapMb()
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures.toSeq
    out("spark_version") = spark.version

    if (traced) {
      val layers = new Layers(spark, tr, seed, cores, parts, s"$work/layers", goldens)
      val (layerMetrics, checks, layerFailures) = layers.sweep(wl)
      out("layers") = layerMetrics
      out("ratio_bases") = layers.bases
      attempted += checks
      failed += layerFailures.size
      failures ++= layerFailures
      out("attempted") = attempted
      out("failed") = failed
      out("failures") = failures.toSeq
      val (spans, byName) = tr.report()
      Json.writeValue(new java.io.File(opt("trace-out")),
        Map("spans" -> spans, "self_time_by_name" -> byName))
    }

    Json.writeValue(new java.io.File(opt("out")), out)
    spark.stop()
  }

  /** Writes the catalog queries' goldens (row count and hash per query) to
    * `out`, and each result plus its oracle SQL under `dumpDir` in the
    * layout `tools/oracle_check.py` reads, so the goldens can be checked
    * against DuckDB. */
  def writeGoldens(spark: SparkSession, dataDir: String, dumpDir: String, out: String): Unit = {
    CatalogData.write(spark, dataDir, CatalogOrders, CatalogCustomers)
    val queries = CatalogData.Queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
      val (rows, hash) = CatalogData.fingerprint(df)
      q -> Map("rows" -> rows, "hash" -> hash)
    }
    Json.writeValue(new java.io.File(s"$dumpDir/oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter { case (q, _) => CatalogData.Queries.contains(q) })
    Json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out),
      Map("orders" -> CatalogOrders, "customers" -> CatalogCustomers,
        "queries" -> scala.collection.immutable.ListMap(queries: _*)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full GCs, in MB. The pauses between GCs let
    * Spark's context cleaner drop the broadcasts and shuffles the last GC
    * freed, so the figure does not depend on how far it had got. */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
