package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // 64x64 grid of (x, y) points, one row each — every file in a naive
  // x-sorted layout spans the full y range.
  private def grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x * 64 + y, x, y)))
    .toDF("id", "x", "y")

  private def filesOverlappingBox(dir: String, xLo: Int, xHi: Int,
                                  yLo: Int, yHi: Int): (Int, Int) = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val overlapping = files.count { f =>
      val stats = spark.read.parquet(f.getAbsolutePath)
        .agg(min($"x"), max($"x"), min($"y"), max($"y"))
        .as[(Int, Int, Int, Int)].head()
      // the same interval test parquet row-group pruning performs
      stats._1 <= xHi && stats._2 >= xLo && stats._3 <= yHi && stats._4 >= yLo
    }
    (overlapping, files.length)
  }

  test("morton interleaves bits: z-adjacent codes are grid-local") {
    val out = grid.select($"x", $"y",
        ZOrder.morton($"x".cast("long"), $"y".cast("long")).as("z"))
      .as[(Int, Int, Long)].collect()
    // spot-check the classic values: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3 (2,2)=12
    val m = out.map(r => (r._1, r._2) -> r._3).toMap
    m((0, 0)) shouldBe 0L
    m((1, 0)) shouldBe 1L
    m((0, 1)) shouldBe 2L
    m((1, 1)) shouldBe 3L
    m((2, 2)) shouldBe 12L
    // bijective over the grid
    out.map(_._3).distinct.length shouldBe out.length
  }

  test("z-order layout prunes 2-D box queries that a 1-D sort cannot") {
    val zDir = tempDir("zorder").toString
    val xDir = tempDir("xsort").toString
    val z = ZOrder.morton($"x".cast("long"), $"y".cast("long"))
    ZOrder.layoutZOrdered(grid, z, numFiles = 16)
      .write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, $"id").sortWithinPartitions($"id")
      .write.mode("overwrite").parquet(xDir)

    // an 8x8 box = 1/64 of the data
    val (zHit, zTotal) = filesOverlappingBox(zDir, 16, 23, 16, 23)
    val (xHit, xTotal) = filesOverlappingBox(xDir, 16, 23, 16, 23)
    zTotal shouldBe 16
    xTotal shouldBe 16
    // id-sorted files each span the whole y range -> every file with
    // matching x overlaps; z-order confines the box to a few files
    zHit should be <= 4
    xHit should be >= zHit * 2
  }

  test("layout preserves content exactly") {
    val z = ZOrder.morton($"x".cast("long"), $"y".cast("long"))
    val out = ZOrder.layoutZOrdered(grid, z, numFiles = 8)
    assertSameRows(out, grid)
  }
}
