package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ResumableWrite, Similarity, StoreVersions, Tiling}

/** Crash points of every stored-layout write. Each op is crashed at each of
  * its crash points in turn, on a fresh copy of one starting store, and
  * at each point:
  *   - a reader sees exactly the old state or the new one;
  *   - the next writer succeeds;
  *   - after that writer's sweep only the live state is left.
  * The loop ends at the first run that passes every point, which must land
  * the new state. */
class StoreCrashSpec extends SparkTestBase {

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { (p: Path) =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  private def entries(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSet

  /** Root entries of a versioned store: only the pointer and its version. */
  private def assertOnlyLive(dir: String, point: String): Unit = {
    val live = Paths.get(StoreVersions.live(dir)).getFileName.toString
    assert(entries(dir) == Set("_current", live),
      s"crash at '$point': debris left after the next writer's sweep")
  }

  /** Runs `op` on copies of `template`, crashing it at its 1st, 2nd, ...
    * crash point, and calls `crashed(point, dir)` after each crash, until
    * a run passes every point; calls `landed(dir)` on that run. Returns
    * the points hit. */
  private def everyCrashPoint(template: String)(op: String => Unit)(
      crashed: (String, String) => Unit, landed: String => Unit): Seq[String] =
    withTempDir("graft_crash") { scratch =>
      val points = scala.collection.mutable.ArrayBuffer.empty[String]
      var done = false
      while (!done) {
        val d = s"$scratch/run${points.size + 1}"
        copyTree(template, d)
        StoreVersions.armCrash(d, points.size + 1)
        val crash = try { op(d); None }
          catch { case c: StoreVersions.Crash => Some(c.point) }
          finally StoreVersions.armCrash(d, 0)
        crash match {
          case None => landed(d); done = true
          case Some(p) => points += p; crashed(p, d)
        }
      }
      info(s"crash points: ${points.mkString(", ")}")
      points.toSeq
    }

  /** [[everyCrashPoint]] for a versioned store: after each crash the
    * reader (`read`) sees the old state or the new one, and the next
    * writer (`next`, given what the reader saw) succeeds and leaves only
    * the live state. */
  private def oldOrNew[S](template: String)(op: String => Unit)(read: String => S)(
      next: (String, S) => Unit): Seq[String] = {
    val old = read(template)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, S)]
    var neu = Option.empty[S]
    val points = everyCrashPoint(template)(op)(
      (p, d) => { val s = read(d); seen += p -> s; next(d, s); assertOnlyLive(d, p) },
      d => neu = Some(read(d)))
    assert(!neu.contains(old), "fixture degenerate: the op does not change what a reader sees")
    for ((p, s) <- seen) assert(s == old || neu.contains(s),
      s"crash at '$p': the reader saw neither the old state nor the new one")
    points
  }

  // --- the clustered store ---

  /** `n` points in two lat bands, one coarse tile each at level 2. */
  private def points(n: Long): DataFrame =
    spark.range(n).select(col("id"),
      (when(col("id") % 2 === 0, lit(10.0)).otherwise(lit(-40.0)) +
        (col("id") % 5).cast("double") * 0.1).as("lat"),
      ((col("id") % 4).cast("double") * 0.5).as("lon"))

  private def rows(dir: String): Set[(Long, Double, Double)] = {
    import spark.implicits._
    Tiling.readClustered(spark, dir).select("id", "lat", "lon")
      .as[(Long, Double, Double)].collect().toSet
  }

  test("merge: a crash at any point leaves the old or the new table, and the next merge lands") {
    import spark.implicits._
    withTempDir("graft_crash_merge") { root =>
      val tpl = s"$root/store"
      Tiling.clusteredWrite(points(20), "lat", "lon", tpl, coarseLevel = 2)
      // one merge first: the template is a versioned store (v1)
      val first = Seq((3L, 10.5, 1.0)).toDF("id", "lat", "lon")
      Tiling.mergeClustered(spark, tpl, first, "id", "lat", "lon", coarseLevel = 2)
      // key 0 moves south, key 1 moves north, key 99 is an insert
      val batch = Seq((0L, -40.2, 1.5), (1L, 10.3, 0.5), (99L, -40.4, 0.0))
        .toDF("id", "lat", "lon")
      val merge = (d: String) =>
        Tiling.mergeClustered(spark, d, batch, "id", "lat", "lon", coarseLevel = 2): Unit
      // the next writer retries: an upsert is idempotent
      val hit = oldOrNew(tpl)(merge)(rows)((d, _) => merge(d))
      assert(Seq("linked", "written", "pointer staged", "published", "swept v1")
        .forall(hit.contains), hit)
    }
  }

  test("compact: a crash at any point leaves the old or the new layout; a flat store migrates") {
    withTempDir("graft_crash_compact") { root =>
      val tpl = s"$root/store"
      // a flat, fragmented layout: two appends, so two files per coarse tile
      for (lo <- Seq(0L, 10L))
        points(20).where(col("id").between(lo, lo + 9))
          .withColumn("__leaf", graft.functions.s2functions.s2_cell_id(col("lat"), col("lon")))
          .withColumn("coarse_tile", graft.functions.s2functions.s2_token(
            graft.functions.s2functions.s2_parent(col("__leaf"), 2)))
          .withColumn("__leaf_ord", graft.functions.s2functions.s2_ord(col("__leaf")))
          .drop("__leaf")
          .coalesce(1)
          .write.mode("append").partitionBy("coarse_tile").parquet(tpl)
      val baseRows = rows(tpl)
      // what a reader sees: the rows, and the files per partition
      def layout(d: String): (Set[(Long, Double, Double)], Map[String, Int]) = {
        val live = Paths.get(StoreVersions.live(d))
        val files = Files.list(live).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("coarse_tile="))
          .map(p => p.getFileName.toString ->
            Files.list(p).iterator().asScala.count(_.toString.endsWith(".parquet")))
        (rows(d), files.toMap)
      }
      val hit = oldOrNew(tpl)(d => Tiling.compactClustered(spark, d): Unit)(layout) { (d, _) =>
        Tiling.compactClustered(spark, d)
        val (after, files) = layout(d)
        assert(after == baseRows && files.values.forall(_ == 1), files)
      }
      assert(Seq("linked", "written", "published").forall(hit.contains), hit)
      assert(hit.exists(_.startsWith("swept coarse_tile=")), hit)
    }
  }

  // --- the IVF index ---

  private def vectors(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      transform(typedlit(Seq(0f, 1f, 2f, 3f)), (x, i) =>
        (pmod(xxhash64(col("id"), i), lit(101L)).cast("double") / 101.0 - 0.5)
          .cast("float")).as("embedding"))

  /** What an IVF reader sees: every (id, list) and the centroid count. */
  private def ivfState(d: String): (Set[(Long, Int)], Long) = {
    import spark.implicits._
    val live = StoreVersions.live(d)
    (spark.read.parquet(s"$live/lists").select("id", "list").as[(Long, Int)].collect().toSet,
      spark.read.parquet(s"$live/centroids").count())
  }

  /** The next writer on an IVF index: an append of ten new ids. */
  private def ivfNext(d: String, seen: (Set[(Long, Int)], Long)): Unit = {
    Similarity.appendToIvfIndex(vectors(1000, 10), "vec_id", "embedding", d,
      autoRebalance = false): Unit
    val (after, nCent) = ivfState(d)
    assert(after.map(_._1) == seen._1.map(_._1) ++ (1000L until 1010L))
    assert(nCent == seen._2 && after.forall(_._2 < nCent))
  }

  test("IVF build, append and rebalance: a crash at any point leaves the old or the new index") {
    withTempDir("graft_crash_ivf") { root =>
      val tpl = s"$root/idx"
      Similarity.buildIvfIndex(vectors(0, 40), "vec_id", "embedding", tpl, nlist = 2, iters = 1)
      val build = oldOrNew(tpl)(d => Similarity.buildIvfIndex(vectors(0, 40),
        "vec_id", "embedding", d, nlist = 3, iters = 1))(ivfState)(ivfNext)
      assert(Seq("centroids written", "lists written", "published", "swept v1")
        .forall(build.contains), build)
      val append = oldOrNew(tpl)(d => Similarity.appendToIvfIndex(vectors(500, 8),
        "vec_id", "embedding", d, autoRebalance = false): Unit)(ivfState)(ivfNext)
      assert(Seq("linked", "appended", "published").forall(append.contains), append)
      val rebalance = oldOrNew(tpl)(d =>
        Similarity.rebalanceIvfIndex(spark, d, nlist = 4, iters = 1))(ivfState)(ivfNext)
      assert(Seq("lists written", "published").forall(rebalance.contains), rebalance)
    }
  }

  // --- resumable writes ---

  test("resumable write: a crash at any point commits whole partitions; any next run finishes and sweeps") {
    import spark.implicits._
    withTempDir("graft_crash_resumable") { root =>
      val tpl = s"$root/out"
      Files.createDirectories(Paths.get(tpl))
      val df = (0L until 12L).map(i => (i, s"p${i % 3}")).toDF("id", "p")
      val all = df.as[(Long, String)].collect().toSet
      def committed(d: String): Set[(Long, String)] =
        if (ResumableWrite.committedPartitions(d).isEmpty) Set.empty
        else ResumableWrite.readCommitted(spark, d, "p").select("id", "p")
          .as[(Long, String)].collect().toSet
      // a crash leaves whole partitions committed, the rest absent; a run
      // under ANOTHER run id finishes the table and sweeps the crashed
      // run's temp root
      val hit = everyCrashPoint(tpl)(d =>
        ResumableWrite.write(df, d, "p", runId = "crashed"): Unit)((p, d) => {
          val parts = ResumableWrite.committedPartitions(d)
          assert(committed(d) == all.filter(r => parts(r._2)), s"crash at '$p': torn partition")
          ResumableWrite.write(df, d, "p", runId = "next")
          assert(committed(d) == all, s"crash at '$p': the next run did not finish the table")
          assert(entries(d) == Set("_lineage_manifest.jsonl", "p=p0", "p=p1", "p=p2"),
            s"crash at '$p': debris left after the next run")
        }, d => assert(committed(d) == all))
      assert(Seq("written", "moved p0", "committed p0", "committed p2").forall(hit.contains), hit)
    }
  }
}
