package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.operators.{ResumableWrite, Tiling}

/** Checkpointed resumability: a crashed run resumes where it stopped, the
  * manifest carries per-partition lineage + metrics, and the final output
  * equals a one-shot write. */
class ResumableWriteSpec extends SparkTestBase {

  private def tiledPoints = {
    val pts = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
      .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
    Tiling.tileAssign(pts, "lat", "lon", 2)
      .select("o_orderkey", "lat", "lon", "tile_token")
  }

  test("interrupted write resumes without recomputing committed partitions") {
    withTempDir("resumable") { outDir =>
      val df = tiledPoints

      // run 1 "crashes" after 3 partitions
      val run1 = ResumableWrite.write(df, outDir, "tile_token", runId = "run1",
        input = "sf0.001/orders", maxPartitionsThisRun = 3)
      assert(run1.length == 3)
      assert(ResumableWrite.committedPartitions(outDir).size == 3)

      // run 2 resumes: commits only the remainder
      val run2 = ResumableWrite.write(df, outDir, "tile_token", runId = "run2",
        input = "sf0.001/orders")
      assert(run2.map(_.partition).toSet.intersect(run1.map(_.partition).toSet).isEmpty)

      // run 3 is a no-op
      val run3 = ResumableWrite.write(df, outDir, "tile_token", runId = "run3")
      assert(run3.isEmpty)

      // the recovered table equals the source
      val readBack = ResumableWrite.readCommitted(spark, outDir, "tile_token")
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val expected = df.select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(readBack == expected)

      // lineage manifest: per-partition rows/metrics/run attribution
      val manifest = ResumableWrite.readManifest(outDir)
      assert(manifest.map(_.rows).sum == expected.size)
      assert(manifest.forall(_.bytes > 0))
      assert(manifest.count(_.runId == "run1") == 3)
      assert(manifest.forall(r => r.runId != "run1" || r.input == "sf0.001/orders"))
    }
  }

  test("torn temp root from a crashed attempt is cleaned up when the runId retries") {
    withTempDir("resumable2") { outDir =>
      val df = tiledPoints
      // simulate a crash mid-write: a stale temp root for THIS runId, plus a
      // foreign runId's root; the run holds the store's writer lock, so no
      // other run is live and that root is a crashed run's debris too
      val torn = java.nio.file.Paths.get(outDir, "_tmp_recovery")
      Files.createDirectories(torn)
      Files.write(torn.resolve("garbage"), Array[Byte](1, 2, 3))
      val foreign = java.nio.file.Paths.get(outDir, "_tmp_other_live_run")
      Files.createDirectories(foreign)

      ResumableWrite.write(df, outDir, "tile_token", runId = "recovery")
      val readBack = ResumableWrite.readCommitted(spark, outDir, "tile_token").count()
      assert(readBack == df.count())
      assert(!Files.exists(torn))
      assert(!Files.exists(foreign), "a crashed run's temp root is swept whatever its runId")
    }
  }

  test("a run makes exactly one full-data scan (counts come from the write pass)") {
    withTempDir("resumable3") { outDir =>
      val acc = spark.sparkContext.longAccumulator("row_probe")
      val probe = udf((k: Long) => { acc.add(1); k })
      val df = tiledPoints.withColumn("probe", probe(col("o_orderkey")))
      val n = tiledPoints.count()
      val recs = ResumableWrite.write(df, outDir, "tile_token", runId = "scan")
      assert(recs.map(_.rows).sum == n)
      // the partition-discovery scan prunes the probe column away; only the
      // single write pass evaluates it -> exactly one touch per input row
      assert(acc.value == n,
        s"input scanned ${acc.value.toDouble / n} times, expected exactly 1.0")
    }
  }

  test("null partition values are rejected; quoted/slashed values round-trip") {
    import spark.implicits._
    withTempDir("resumable4") { outBad =>
      val bad = Seq((1L, Option.empty[String]), (2L, Some("ok"))).toDF("id", "p")
      intercept[IllegalArgumentException] {
        ResumableWrite.write(bad, outBad, "p", runId = "r")
      }
      // empty string would become __HIVE_DEFAULT_PARTITION__ on disk: reject up front
      val empty = Seq((1L, ""), (2L, "ok")).toDF("id", "p")
      intercept[IllegalArgumentException] {
        ResumableWrite.write(empty, outBad, "p", runId = "r")
      }

      withTempDir("resumable5") { outDir =>
        val v1 = """he said "hi"\now"""
        val v2 = "sp ace/slash=eq"
        val v3 = "tab\there\u0001ctl"
        // non-ASCII goes in the lineage: a partition value becomes a directory
        // name, which a JVM whose file-name encoding is ASCII cannot write
        val input = "in\"put caf\u00e9"
        val tricky = Seq((1L, v1), (2L, v2), (3L, v2), (4L, v3)).toDF("id", "p")
        val recs = ResumableWrite.write(tricky, outDir, "p", runId = "r1", input = input)
        assert(recs.map(_.partition).toSet == Set(v1, v2, v3))
        val manifest = ResumableWrite.readManifest(outDir)
        assert(manifest.map(_.partition).toSet == Set(v1, v2, v3))
        assert(manifest.map(_.rows).sum == 4)
        assert(manifest.forall(_.input == input))
        // a torn append (crash mid-line) is not a record: the manifest reads as before
        val manifestFile = Paths.get(outDir, "_lineage_manifest.jsonl")
        val firstLine = Files.readAllLines(manifestFile).get(0)
        Files.write(manifestFile, firstLine.take(firstLine.length / 2).getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.APPEND)
        assert(ResumableWrite.readManifest(outDir) == manifest)
        // resume sees them as committed (no rewrite), and read-back is intact
        assert(ResumableWrite.write(tricky, outDir, "p", runId = "r2").isEmpty)
        assert(ResumableWrite.readCommitted(spark, outDir, "p").count() == 4)
      }
    }
  }

  test("a partition value the file-name encoding cannot encode is rejected before any write") {
    import spark.implicits._
    val cafe = "caf\u00e9"
    // the executors create the directories, so the check must use their
    // encoding: read it in a task
    val (encName, locale) = spark.sparkContext.parallelize(Seq(0), 1)
      .map(_ => (ResumableWrite.fileNameEncoding.name, java.util.Locale.getDefault.toString))
      .collect().head
    val fileNames = java.nio.charset.Charset.forName(encName)
    withTempDir("resumable_enc") { outDir =>
      val df = Seq((1L, cafe), (2L, "ok"), (3L, cafe)).toDF("id", "p")
      if (!fileNames.newEncoder().canEncode(cafe)) {
        // an ASCII file-name encoding (a JVM under the C/POSIX locale)
        val e = intercept[IllegalArgumentException] {
          ResumableWrite.write(df, outDir, "p", runId = "r")
        }
        assert(e.getMessage.contains(s"'$cafe'") && e.getMessage.contains(encName) &&
          e.getMessage.contains(locale), e.getMessage)
        assert(Option(new java.io.File(outDir).list()).forall(_.isEmpty),
          s"files written before the rejection: ${new java.io.File(outDir).list().mkString(", ")}")
      } else {
        val recs = ResumableWrite.write(df, outDir, "p", runId = "r")
        assert(recs.map(r => r.partition -> r.rows).toSet == Set(cafe -> 2L, "ok" -> 1L))
        assert(ResumableWrite.readCommitted(spark, outDir, "p").select("p").as[String]
          .collect().sorted.toSeq == Seq(cafe, cafe, "ok"))
      }
      // the check itself, under an encoding that cannot hold the value and one that can
      assert(ResumableWrite.unencodable("p", Seq("ok", cafe), StandardCharsets.US_ASCII) == Seq(cafe))
      assert(ResumableWrite.unencodable("p", Seq("ok", cafe), StandardCharsets.UTF_8).isEmpty)
      assert(ResumableWrite.unencodable(s"p$cafe", Seq("ok"), StandardCharsets.US_ASCII) == Seq("ok"))
    }
  }

  test("snapshot reads: each run is a readable point-in-time version") {
    import spark.implicits._
    withTempDir("resumable_snap") { outDir =>
      val df = tiledPoints
      val run1 = ResumableWrite.write(df, outDir, "tile_token", runId = "run1",
        input = "sf0.001/orders", maxPartitionsThisRun = 3)
      ResumableWrite.write(df, outDir, "tile_token", runId = "run2")
      assert(ResumableWrite.snapshots(outDir) == Seq("run1", "run2"))

      // snapshot at run1: exactly run1's partitions, none of run2's
      val snap1 = ResumableWrite.readSnapshot(spark, outDir, "tile_token", "run1")
      assert(snap1.select("tile_token").distinct().as[String].collect().toSet ==
        run1.map(_.partition).toSet)
      assert(snap1.count() == run1.map(_.rows).sum)

      // snapshot at the latest run == the committed read
      val snap2 = ResumableWrite.readSnapshot(spark, outDir, "tile_token", "run2")
      assert(snap2.count() ==
        ResumableWrite.readCommitted(spark, outDir, "tile_token").count())

      val e = intercept[IllegalArgumentException] {
        ResumableWrite.readSnapshot(spark, outDir, "tile_token", "no_such_run")
      }
      assert(e.getMessage.contains("unknown snapshot"))
    }
  }

  test("manifest/disk divergence fails loudly instead of silently reading fewer rows") {
    import spark.implicits._
    withTempDir("resumable6") { outDir =>
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      ResumableWrite.write(df, outDir, "p", runId = "r1")
      assert(ResumableWrite.readCommitted(spark, outDir, "p").count() == 2)
      // simulate partial deletion of a COMMITTED partition directory
      val lost = java.nio.file.Paths.get(outDir, "p=b")
      Files.walk(lost).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      val e = intercept[IllegalArgumentException] {
        ResumableWrite.readCommitted(spark, outDir, "p")
      }
      assert(e.getMessage.contains("b"))
    }
  }
}
