package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{StoreVersions, Tiling}

/** Clustered-layout maintenance: MERGE rewrites exactly the touched
  * partitions (untouched files byte-identical), keys move across partitions
  * correctly, emptied partitions disappear, duplicate batches fail loudly;
  * compaction preserves rows, restores one-sorted-file-per-partition, and
  * never reopens already-compact partitions. */
class TableMaintenanceSpec extends SparkTestBase {

  /** Runs `body` on a store path that does not exist yet, inside a temp
    * directory deleted afterwards. */
  private def withStoreDir[T](tag: String)(body: String => T): T =
    withTempDir(s"graft_tm_$tag")(root => body(s"$root/store"))

  /** (partition token -> file names) snapshot of a clustered layout's live
    * version. */
  private def layoutSnapshot(dir: String): Map[String, Set[String]] =
    Files.list(Paths.get(StoreVersions.live(dir))).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("coarse_tile="))
      .map { p =>
        p.getFileName.toString.stripPrefix("coarse_tile=") ->
          Files.list(p).iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
      }.toMap

  /** 200 deterministic points in two far-apart lat bands (two disjoint
    * coarse-tile groups at level 2). */
  private def baseDf: DataFrame = {
    import spark.implicits._
    (0L until 200L).toDF("id")
      .withColumn("lat",
        when(col("id") % 2 === 0, lit(10.0)).otherwise(lit(-40.0)) +
          (col("id") % 50).cast("double") * 0.1)
      .withColumn("lon", (col("id") % 100).cast("double") * 0.5 - 20.0)
  }

  private def readBack(dir: String): Set[(Long, Double, Double)] = {
    import spark.implicits._
    spark.read.parquet(StoreVersions.live(dir)).select("id", "lat", "lon")
      .as[(Long, Double, Double)].collect().toSet
  }

  test("merge: upsert + cross-partition move + insert, untouched files byte-identical") {
    import spark.implicits._
    withStoreDir("merge") { dir =>
      Tiling.clusteredWrite(baseDf, "lat", "lon", dir, coarseLevel = 2)
      val before = layoutSnapshot(dir)
      assert(before.size > 2, s"fixture should span several partitions, got ${before.size}")

      // key 0 moves from the northern band to the southern one (cross-
      // partition move); key 1 is updated in place; key 9999 is an insert
      val updates = Seq(
        (0L, -40.05, 3.25), (1L, -39.95, 3.75), (9999L, 55.5, 120.5)
      ).toDF("id", "lat", "lon")
      val stats = Tiling.mergeClustered(spark, dir, updates, "id", "lat", "lon", coarseLevel = 2)

      val expected = baseDf.as[(Long, Double, Double)].collect().toSet
        .filterNot(r => r._1 == 0L || r._1 == 1L) ++
        Set((0L, -40.05, 3.25), (1L, -39.95, 3.75), (9999L, 55.5, 120.5))
      assert(readBack(dir) == expected)

      val after = layoutSnapshot(dir)
      // every partition that was NOT touched kept its exact file set
      val touchedTokens = (before.keySet ++ after.keySet).filter(t =>
        before.get(t) != after.get(t))
      assert(stats.touchedPartitions >= touchedTokens.size)
      val untouched = before.keySet -- touchedTokens
      assert(untouched.nonEmpty, "test fixture degenerate: every partition was touched")
      for (t <- untouched) assert(before(t) == after(t), s"untouched partition $t rewritten")
    }
  }

  test("merge: a partition emptied by moves is deleted from disk") {
    import spark.implicits._
    withStoreDir("merge_empty") { dir =>
      // two groups: ids 0-9 cluster at (60, 100); ids 10-99 at (-30, -60)
      val df = (0L until 100L).toDF("id")
        .withColumn("lat", when(col("id") < 10, lit(60.0)).otherwise(lit(-30.0)) +
          col("id").cast("double") * 0.01)
        .withColumn("lon", when(col("id") < 10, lit(100.0)).otherwise(lit(-60.0)))
      Tiling.clusteredWrite(df, "lat", "lon", dir, coarseLevel = 2)
      val northTokens = layoutSnapshot(dir).keySet

      // move ALL ten northern ids south -> their old partition(s) must vanish
      val updates = (0L until 10L).toDF("id")
        .withColumn("lat", lit(-30.0) + col("id").cast("double") * 0.01)
        .withColumn("lon", lit(-60.0))
      val stats = Tiling.mergeClustered(spark, dir, updates, "id", "lat", "lon", coarseLevel = 2)
      assert(stats.removedPartitions >= 1, s"expected a removed partition, got $stats")
      val remaining = layoutSnapshot(dir).keySet
      assert(remaining.subsetOf(northTokens))
      assert(Tiling.readClustered(spark, dir).count() == 100)
      assert(Tiling.readClustered(spark, dir).where(col("lat") > 0).count() == 0)
    }
  }

  test("merge: duplicate keys in a batch fail loudly") {
    import spark.implicits._
    withStoreDir("merge_dup") { dir =>
      Tiling.clusteredWrite(baseDf, "lat", "lon", dir, coarseLevel = 2)
      val dup = Seq((1L, 0.0, 0.0), (1L, 1.0, 1.0)).toDF("id", "lat", "lon")
      val e = intercept[IllegalArgumentException] {
        Tiling.mergeClustered(spark, dir, dup, "id", "lat", "lon", coarseLevel = 2)
      }
      assert(e.getMessage.contains("duplicate keys"))
    }
  }

  test("merge: null keys or coordinates in a batch fail loudly") {
    import spark.implicits._
    withStoreDir("merge_null") { dir =>
      Tiling.clusteredWrite(baseDf, "lat", "lon", dir, coarseLevel = 2)
      val nullLat = Seq((7L, Option(1.0), Option(1.0)), (8L, Option.empty[Double], Option(2.0)))
        .toDF("id", "lat", "lon")
      val e = intercept[IllegalArgumentException] {
        Tiling.mergeClustered(spark, dir, nullLat, "id", "lat", "lon", coarseLevel = 2)
      }
      assert(e.getMessage.contains("null"))
    }
  }

  test("compact: rows invariant, one sorted file per partition, compact partitions untouched") {
    import spark.implicits._
    withStoreDir("compact") { dir =>
      // fragment: 3 salted writers per coarse tile
      baseDf
        .withColumn("__leaf", graft.functions.s2functions.s2_cell_id(col("lat"), col("lon")))
        .withColumn("coarse_tile",
          graft.functions.s2functions.s2_token(graft.functions.s2functions.s2_parent(col("__leaf"), 2)))
        .withColumn("__leaf_ord", graft.functions.s2functions.s2_ord(col("__leaf")))
        .drop("__leaf")
        .repartition(12, col("coarse_tile"), pmod(col("id"), lit(3)))
        .sortWithinPartitions("coarse_tile", "__leaf_ord")
        .write.partitionBy("coarse_tile").parquet(dir)

      val before = layoutSnapshot(dir)
      val fragmented = before.filter(_._2.size >= 2).keySet
      assert(fragmented.nonEmpty, "fixture degenerate: nothing fragmented")
      val expectedRows = readBack(dir)

      val stats = Tiling.compactClustered(spark, dir)
      assert(stats.compactedPartitions == fragmented.size)
      val after = layoutSnapshot(dir)
      assert(after.keySet == before.keySet)
      for ((t, files) <- after) {
        if (fragmented(t)) assert(files.size == 1, s"partition $t still has ${files.size} files")
        else assert(files == before(t), s"already-compact partition $t was rewritten")
      }
      assert(readBack(dir) == expectedRows)

      // per-file sort restored: __leaf_ord non-decreasing inside each file
      for (t <- fragmented) {
        val f = Files.list(Paths.get(StoreVersions.live(dir), s"coarse_tile=$t")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        val ords = spark.read.parquet(f.toString).select("__leaf_ord")
          .as[Long].collect()
        assert(ords.sameElements(ords.sorted), s"file in partition $t lost its sort")
      }

      // idempotent: a second pass finds nothing to do
      val again = Tiling.compactClustered(spark, dir)
      assert(again.compactedPartitions == 0)
      assert(again.filesBefore == again.filesAfter)
    }
  }

  test("writer lock: a second writer fails loudly, store intact; stale own lock reclaimed") {
    import graft.operators.WriterLock
    withStoreDir("lock") { dir =>
      Tiling.clusteredWrite(baseDf, "lat", "lon", dir, coarseLevel = 2)
      val before = layoutSnapshot(dir)
      val rowsBefore = readBack(dir)

      // writer A holds the lock; writer B's merge AND compact must lose
      // loudly, naming the holder, with the store untouched
      WriterLock.withLock(dir, "writer-A") {
        val upd = baseDf.where(col("id") < 5).withColumn("lat", col("lat") + 0.25)
        val em = intercept[IllegalStateException] {
          Tiling.mergeClustered(spark, dir, upd, "id", "lat", "lon", coarseLevel = 2)
        }
        assert(em.getMessage.contains("writer-A"), em.getMessage)
        val ec = intercept[IllegalStateException] {
          Tiling.compactClustered(spark, dir)
        }
        assert(ec.getMessage.contains("writer-A"), ec.getMessage)
        val er = intercept[IllegalStateException] {
          graft.operators.ResumableWrite.write(
            baseDf.withColumn("p", lit("x")), dir, "p", "run_lock_test")
        }
        assert(er.getMessage.contains("writer-A"), er.getMessage)
      }
      assert(layoutSnapshot(dir) == before, "losing writers must not touch the store")
      assert(readBack(dir) == rowsBefore)

      // lock released: maintenance proceeds
      val upd = baseDf.where(col("id") < 5).withColumn("lat", col("lat") + 0.25)
      val stats = Tiling.mergeClustered(spark, dir, upd, "id", "lat", "lon", coarseLevel = 2)
      assert(stats.stagedRows > 0)

      // a stale lock left by a crashed run with the SAME owner id is
      // reclaimed (the resume path), while a different owner still loses
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_writer.lock"),
        """{"owner":"resumable:crashed-run","pid":0}""".getBytes)
      val e2 = intercept[IllegalStateException] {
        Tiling.compactClustered(spark, dir)
      }
      assert(e2.getMessage.contains("crashed-run"))
      WriterLock.withLock(dir, "resumable:crashed-run") {
        assert(WriterLock.holder(dir).exists(_.contains("crashed-run")))
      }
      assert(WriterLock.holder(dir).isEmpty, "lock must release on exit")
    }
  }

  test("writer lock reclaim is race-safe: live foreign pid refused, dead pid claimed atomically, in-JVM re-entry refused") {
    import graft.operators.WriterLock
    withStoreDir("lock_reclaim") { dir =>
      new java.io.File(dir).mkdirs()
      val lock = java.nio.file.Paths.get(dir, "_writer.lock")

      // a SAME-owner lock whose pid is a LIVE foreign process (pid 1) is a
      // concurrent retry, not a crashed one — reclaim must refuse (the
      // round-4 advice race: blind delete+create let two retries both win)
      java.nio.file.Files.write(lock, """{"owner":"retry:r1","pid":1}""".getBytes)
      val e = intercept[IllegalStateException] {
        WriterLock.withLock(dir, "retry:r1") { fail("must not enter") }
      }
      assert(e.getMessage.contains("retry:r1"), e.getMessage)
      java.nio.file.Files.delete(lock)

      // a dead-pid stale lock IS reclaimed, through the atomic graveyard
      // claim, and the fresh lock then carries THIS process's pid
      java.nio.file.Files.write(lock, """{"owner":"retry:r2","pid":999999999}""".getBytes)
      WriterLock.withLock(dir, "retry:r2") {
        val h = WriterLock.holder(dir).get
        assert(h.contains(s""""pid":${ProcessHandle.current.pid}"""), h)
      }
      assert(WriterLock.holder(dir).isEmpty)
      assert(new java.io.File(dir).listFiles().forall(
        !_.getName.startsWith("_writer.lock.claimed")),
        "graveyard claims must not accumulate")

      // the same dead pid recorded on ANOTHER host names no process here:
      // that host's writer may still be alive, so reclaim must refuse
      java.nio.file.Files.write(lock,
        """{"owner":"retry:r4","pid":999999999,"host":"other-host.invalid"}""".getBytes)
      val e3 = intercept[IllegalStateException] {
        WriterLock.withLock(dir, "retry:r4") { fail("must not enter") }
      }
      assert(e3.getMessage.contains("other-host.invalid"), e3.getMessage)
      java.nio.file.Files.delete(lock)

      // in-JVM re-entry: same pid would always look reclaimable to the
      // pid test, so the held-paths registry refuses it outright
      WriterLock.withLock(dir, "retry:r3") {
        val e2 = intercept[IllegalStateException] {
          WriterLock.withLock(dir, "retry:r3") { fail("must not enter") }
        }
        assert(e2.getMessage.contains("retry:r3"), e2.getMessage)
      }
      assert(WriterLock.holder(dir).isEmpty, "outer lock must still release")
    }
  }
}
