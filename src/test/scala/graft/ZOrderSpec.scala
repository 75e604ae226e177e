package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder
import graft.operators.ZOrder.Dim

/** Z-order layout: prune-set soundness (every matching row lives in a kept
  * prefix), real pruning (kept << total), both-axis selectivity, and
  * clamped out-of-range safety. */
class ZOrderSpec extends SparkTestBase {

  private val xd = Dim("x", 0.0, 1024.0)
  private val yd = Dim("y", 0.0, 1024.0)
  private val Bits = 10
  private val Coarse = 6

  private def data(n: Int): Seq[(Long, Double, Double)] =
    (0 until n).map(i => (i.toLong, ((i * 137) % 1024).toDouble, ((i * 311) % 1024).toDouble))

  test("pruned read returns exactly the full-scan answer for any box") {
    import spark.implicits._
    withTempDir("zorder_") { dir =>
      val df = data(5000).toDF("id", "x", "y")
      ZOrder.zorderWrite(df, xd, yd, Bits, Coarse, dir)
      for ((xLo, xHi, yLo, yHi) <- Seq((0.0, 100.0, 0.0, 100.0),
        (500.0, 700.0, 100.0, 900.0), (1000.0, 1024.0, 1000.0, 1024.0))) {
        val got = ZOrder.readForBox(spark, dir, xd, yd, Bits, Coarse, xLo, xHi, yLo, yHi)
          .where(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
          .select("id").collect().map(_.getLong(0)).toSet
        val want = data(5000).filter(p =>
          p._2 >= xLo && p._2 <= xHi && p._3 >= yLo && p._3 <= yHi).map(_._1).toSet
        assert(got == want, s"box ($xLo,$xHi,$yLo,$yHi)")
      }
    }
  }

  test("a small box prunes most prefixes; either single axis prunes too") {
    // 1/10 x 1/10 box: at 6 coarse bits (8x8 grid) it spans <= 4 cells
    val small = ZOrder.prefixesForBox(xd, yd, Bits, Coarse, 0.0, 100.0, 0.0, 100.0)
    assert(small.size <= 4, s"small box kept ${small.size} of 64")
    // one-axis-only predicates still prune: an eighth-wide x stripe keeps
    // one x-slab = 8 of 64
    val xOnly = ZOrder.prefixesForBox(xd, yd, Bits, Coarse, 0.0, 127.0, 0.0, 1024.0)
    assert(xOnly.size == 8, s"x stripe kept ${xOnly.size}")
    val yOnly = ZOrder.prefixesForBox(xd, yd, Bits, Coarse, 0.0, 1024.0, 0.0, 127.0)
    assert(yOnly.size == 8, s"y stripe kept ${yOnly.size}")
    // a full-domain box keeps everything
    assert(ZOrder.prefixesForBox(xd, yd, Bits, Coarse, 0.0, 1024.0, 0.0, 1024.0).size == 64)
  }

  test("out-of-range values clamp consistently and are never lost") {
    import spark.implicits._
    withTempDir("zorder_clamp_") { dir =>
      val df = Seq((1L, -50.0, 9999.0), (2L, 512.0, 512.0), (3L, 2000.0, -1.0))
        .toDF("id", "x", "y")
      ZOrder.zorderWrite(df, xd, yd, Bits, Coarse, dir)
      // a box reaching the edges must surface the clamped rows
      val got = ZOrder.readForBox(spark, dir, xd, yd, Bits, Coarse, -100.0, 2100.0, -10.0, 10000.0)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L))
    }
  }
}
