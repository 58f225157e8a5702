package graft

import org.apache.spark.sql.functions._
import graft.functions.ZOrderKey

/** Contract for the Morton interleave key behind q_zorder_layout. */
class ZOrderSpec extends SparkSpec {

  test("interleave round-trips bit patterns (even=left, odd=right)") {
    assert(ZOrderKey.interleave(0L, 0L) == 0L)
    assert(ZOrderKey.interleave(1L, 0L) == 1L)
    assert(ZOrderKey.interleave(0L, 1L) == 2L)
    assert(ZOrderKey.interleave(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
    assert(ZOrderKey.interleave(0L, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
    // de-interleave check over a pseudo-random sample
    var seed = 0x12345L
    (1 to 200).foreach { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val a = (seed >>> 8) & 0xFFFFFFFFL
      val b = (seed >>> 40) & 0xFFFFFFFFL
      val z = ZOrderKey.interleave(a, b)
      var ra = 0L; var rb = 0L
      (0 until 32).foreach { i =>
        ra |= ((z >>> (2 * i)) & 1L) << i
        rb |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"round-trip failed for ($a, $b)")
    }
  }

  test("zorder_key evaluates under whole-stage codegen = interpreted") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 37, i % 53)).toDF("a", "b")
      .select(col("a"), col("b"), ZOrderKey.zorder_key(col("a"), col("b")).as("z"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(2) == ZOrderKey.interleave(r.getLong(0), r.getLong(1)))
    }
  }

  test("z-order sort clusters BOTH grid dimensions; row-major sort does not") {
    // 64x64 grid, blocks of 256 consecutive rows in each layout: under
    // z-order every block touches few distinct 16-wide column bands
    // (locality in the SECOND dimension), under row-major (a,b) sort a
    // block spans b's whole range. This is precisely why row-group
    // min/max stats can prune 2-D boxes on a z-ordered layout.
    val grid = for { a <- 0L until 64L; b <- 0L until 64L } yield (a, b)
    def bandsPerBlock(sorted: Seq[(Long, Long)]): Double = {
      val blocks = sorted.grouped(256).toSeq
      blocks.map(_.map(_._2 / 16).distinct.size).sum.toDouble / blocks.size
    }
    val zSorted = grid.sortBy { case (a, b) => ZOrderKey.interleave(a, b) }
    val rowMajor = grid.sortBy(identity)
    val zBands = bandsPerBlock(zSorted)
    val rmBands = bandsPerBlock(rowMajor)
    assert(zBands <= 2.0, s"z-order blocks should stay in ~1 band, got $zBands")
    assert(rmBands >= 4.0, s"row-major blocks span b's range, got $rmBands")
  }
}
