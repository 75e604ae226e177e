package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomJoin

/** Per-file Bloom skipping index: exact-result contract vs the plain
  * filter, real file skipping, hash-routing (single-key probes touch one
  * true file), and the empty-match schema contract. */
class BloomIndexSpec extends SparkTestBase {

  /** Runs `body` on a fresh 16-file Bloom-indexed store of 5000 keys. */
  private def withIndex[T](body: String => T): T = withTempDir("graft_bloomidx_spec") { dir =>
    import spark.implicits._
    val df = (0L until 5000L).map(i => (i, s"v$i", i % 97)).toDF("k", "payload", "grp")
    BloomJoin.writeIndexed(df, "k", dir, nFiles = 16)
    body(dir)
  }

  test("lookup == plain filter for present+absent key mixes") {
    withIndex { dir =>
      import spark.implicits._
      val all = spark.read.parquet(s"$dir/data")
      val probes = Seq(
        Seq(0L, 1L, 4999L),                       // boundary keys
        Seq(7L, 7777777L),                        // present + absent
        (0L until 300L by 7L).toSeq,              // a wider set
        Seq(-5L, 9999999L))                       // all absent
      for (keys <- probes) {
        val got = BloomJoin.lookupIndexed(spark, dir, "k", keys)
          .select("k", "payload", "grp").collect().map(_.toSeq).toSet
        val want = all.where(col("k").isin(keys: _*))
          .select("k", "payload", "grp").collect().map(_.toSeq).toSet
        assert(got == want, s"keys=$keys")
      }
    }
  }

  test("files are actually skipped, and a single key touches >= its one true file") {
    withIndex { dir =>
      // hash routing puts each key in exactly one data file; the bloom may
      // add false-positive files but must include the true one and, at
      // these parameters (2^17 bits for ~312 keys/file), should prune most
      // of the 16 files for a single probe key
      val m = BloomJoin.matchedFiles(spark, dir, Seq(42L))
      assert(m.nonEmpty && m.size < 16, s"no skipping: ${m.size} of 16 files matched")
      // absent key: any matched files are pure false positives; rows must be zero
      assert(BloomJoin.lookupIndexed(spark, dir, "k", Seq(123456789L)).count() == 0)
    }
  }

  test("empty match returns the data schema with zero rows") {
    withIndex { dir =>
      val got = BloomJoin.lookupIndexed(spark, dir, "k", Seq(-1L))
      assert(got.columns.toSeq == Seq("k", "payload", "grp") || got.count() == 0)
      assert(got.schema == spark.read.parquet(s"$dir/data").schema)
    }
  }

  test("probe-key guard") {
    withIndex { dir =>
      intercept[IllegalArgumentException] {
        BloomJoin.matchedFiles(spark, dir, Seq.empty)
      }
    }
  }
}
