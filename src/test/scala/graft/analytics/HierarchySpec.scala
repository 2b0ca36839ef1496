package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def tree(ts: (Long, Option[Long], Long)*) =
    ts.toDF("node", "parent", "m")

  test("subtreeRollup: hand tree — totals, counts, parent shares") {
    val t = tree((1L, None, 10L), (2L, Some(1L), 20L),
      (3L, Some(1L), 30L), (4L, Some(2L), 40L))
    val out = Hierarchy.subtreeRollup(t, "node", "parent", "m")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getLong(4) shouldBe 100L
    out(1L).getLong(3) shouldBe 4L
    out(1L).isNullAt(5) shouldBe true          // root: share undefined
    out(2L).getLong(4) shouldBe 60L
    out(2L).getLong(5) shouldBe 600L           // 60/100
    out(3L).getLong(5) shouldBe 300L
    out(4L).getLong(4) shouldBe 40L
    out(4L).getLong(5) shouldBe 666L           // 40/60 floored
  }

  test("subtreeRollup: a forest — each root rolls up only its own tree; singletons are their own subtree") {
    val t = tree((1L, None, 5L), (2L, Some(1L), 7L),
      (10L, None, 100L), (11L, Some(10L), 1L), (99L, None, 3L))
    val out = Hierarchy.subtreeRollup(t, "node", "parent", "m")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    out(1L) shouldBe 12L
    out(10L) shouldBe 101L
    out(99L) shouldBe 3L
  }

  test("subtreeRollup: depth-10 chain closes in log rounds; an insufficient cap throws") {
    val chain = tree((0L, None, 1L) +:
      (1 to 10).map(i => (i.toLong, Some(i - 1L), 1L)): _*)
    val r = Hierarchy.subtreeRollup(chain, "node", "parent", "m",
        maxRounds = 5)   // 2^4 = 16 >= 10, +1 round to detect stability
      .filter(col("node") === 0L).collect().head
    r.getLong(4) shouldBe 11L
    an[IllegalStateException] should be thrownBy
      Hierarchy.subtreeRollup(chain, "node", "parent", "m", maxRounds = 2)
  }

  test("subtreeRollup: a parent cycle is refused loudly, not aggregated") {
    val t = tree((1L, Some(2L), 1L), (2L, Some(1L), 1L), (3L, None, 1L))
    an[IllegalStateException] should be thrownBy
      Hierarchy.subtreeRollup(t, "node", "parent", "m")
  }

  test("materializedPaths: hand tree — roots, depths, slash paths") {
    import spark.implicits._
    val t = Seq((1L, None), (2L, Some(1L)), (4L, Some(2L)), (9L, None))
      .toDF("node", "parent")
    val out = Hierarchy.materializedPaths(t, "node", "parent")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getString(3) shouldBe "/1"
    out(1L).getLong(2) shouldBe 0L
    out(2L).getString(3) shouldBe "/1/2"
    out(4L).getString(3) shouldBe "/1/2/4"
    out(4L).getLong(1) shouldBe 1L          // root
    out(4L).getLong(2) shouldBe 2L          // depth
    out(9L).getString(3) shouldBe "/9"      // second root of the forest
  }

  test("materializedPaths: a prefix LIKE over the path IS the descendant query") {
    import spark.implicits._
    val t = tree((0 to 60).map(i =>
      (i.toLong, if (i == 0) None else Some((i - 1L) / 3), 0L)): _*)
      .select("node", "parent")
    val paths = Hierarchy.materializedPaths(t, "node", "parent")
    // descendants-of-1 via string prefix (1's path is /0/1)
    val viaLike = paths.filter(col("path").startsWith("/0/1/") ||
        col("path") === "/0/1")
      .select("node").as[Long].collect().toSet
    // ground truth by walking parents in scala
    val parent = (0 to 60).map(i => i.toLong -> (if (i == 0) -1L else (i - 1L) / 3)).toMap
    def under1(v: Long): Boolean =
      v == 1L || (v != 0L && v != -1L && under1(parent(v)))
    viaLike shouldBe (0L to 60L).filter(under1).toSet
  }

  test("materializedPaths: deep chain in log rounds; cycle refused") {
    import spark.implicits._
    val chain = ((0L, None) +: (1 to 12).map(i => (i.toLong, Some(i - 1L))))
      .toDF("node", "parent")
    val r = Hierarchy.materializedPaths(chain, "node", "parent", maxRounds = 6)
      .filter(col("node") === 12L).collect().head
    r.getLong(2) shouldBe 12L
    r.getString(3) shouldBe (0 to 12).mkString("/", "/", "")
    val cyc = Seq((1L, Some(2L)), (2L, Some(1L))).toDF("node", "parent")
    an[IllegalStateException] should be thrownBy
      Hierarchy.materializedPaths(cyc, "node", "parent")
  }

  test("materializedPaths: an insufficient round cap on a chain throws") {
    import spark.implicits._
    val chain = ((0L, None) +: (1 to 12).map(i => (i.toLong, Some(i - 1L))))
      .toDF("node", "parent")
    val e = intercept[IllegalStateException] {
      Hierarchy.materializedPaths(chain, "node", "parent", maxRounds = 2)
    }
    e.getMessage should include("still growing after 2")
  }

  test("materializedPaths is invariant under input partitioning") {
    import spark.implicits._
    val t = (0 to 80).map(i =>
      (i.toLong, if (i == 0) None else Some((i - 1L) / 2))).toDF("node", "parent")
    assertSameRows(
      Hierarchy.materializedPaths(t, "node", "parent"),
      Hierarchy.materializedPaths(t.repartition(7), "node", "parent"))
  }

  test("allocateDown: hand split — equal thirds of 100 give 34/33/33 by node tiebreak") {
    import spark.implicits._
    val t = Seq((1L, None, 0L), (2L, Some(1L), 1L), (3L, Some(1L), 1L),
      (4L, Some(1L), 1L)).toDF("node", "parent", "w")
    val amounts = Seq((1L, 100L)).toDF("node", "amount")
    val out = Hierarchy.allocateDown(t, amounts, "node", "parent", "w", "amount")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out(1L) shouldBe 100L
    out(2L) shouldBe 34L   // equal remainders: smallest node takes the unit
    out(3L) shouldBe 33L
    out(4L) shouldBe 33L
  }

  test("allocateDown: every level sums exactly to the root budget — no dust, no invention") {
    import spark.implicits._
    val t = tree((0 to 120).map(i =>
      (i.toLong, if (i == 0) None else Some((i - 1L) / 3),
        (i * 13 % 7 + 1).toLong)): _*)
      .toDF("node", "parent", "w")
    val amounts = Seq((0L, 999983L)).toDF("node", "amount")  // prime: rounding everywhere
    val out = Hierarchy.allocateDown(t, amounts, "node", "parent", "w", "amount")
    val perLevel = out.groupBy("depth").agg(sum("amount").as("s"))
      .select("s").as[Long].collect().toSet
    perLevel shouldBe Set(999983L)
  }

  test("allocateDown: a non-positive weight is refused loudly") {
    import spark.implicits._
    val t = Seq((1L, None, 0L), (2L, Some(1L), 0L)).toDF("node", "parent", "w")
    val amounts = Seq((1L, 10L)).toDF("node", "amount")
    an[IllegalArgumentException] should be thrownBy
      Hierarchy.allocateDown(t, amounts, "node", "parent", "w", "amount")
  }

  test("allocateDown: a negative seed amount is refused loudly") {
    // truncating div would make each child's base overshoot the exact
    // share and the (never-firing) leftover distribution would leave
    // children summing to MORE than the parent — refused at the seed
    import spark.implicits._
    val t = Seq((1L, None, 1L), (2L, Some(1L), 1L), (3L, Some(1L), 2L))
      .toDF("node", "parent", "w")
    val amounts = Seq((1L, -10L)).toDF("node", "amount")
    an[IllegalArgumentException] should be thrownBy
      Hierarchy.allocateDown(t, amounts, "node", "parent", "w", "amount")
  }

  test("allocateDown: seeded on a parent cycle, the round cap throws") {
    import spark.implicits._
    val cyc = Seq((1L, Some(2L), 1L), (2L, Some(1L), 1L))
      .toDF("node", "parent", "w")
    val seed = Seq((1L, 100L)).toDF("node", "amount")
    val e = intercept[IllegalStateException] {
      Hierarchy.allocateDown(cyc, seed, "node", "parent", "w", "amount",
        maxRounds = 4)
    }
    e.getMessage should include("still descending after 4 rounds")
  }

  test("allocateDown is invariant under input partitioning") {
    import spark.implicits._
    val t = (0 to 80).map(i =>
      (i.toLong, if (i == 0) None else Some((i - 1L) / 4),
        (i * 31 % 5 + 1).toLong)).toDF("node", "parent", "w")
    val amounts = Seq((0L, 123457L)).toDF("node", "amount")
    assertSameRows(
      Hierarchy.allocateDown(t, amounts, "node", "parent", "w", "amount"),
      Hierarchy.allocateDown(t.repartition(9), amounts, "node", "parent",
        "w", "amount"))
  }

  test("subtreeRollup is invariant under input partitioning") {
    val t = tree((0 to 120).map(i =>
      (i.toLong, if (i == 0) None else Some((i - 1L) / 4), (i % 13 + 1).toLong)): _*)
    assertSameRows(
      Hierarchy.subtreeRollup(t, "node", "parent", "m"),
      Hierarchy.subtreeRollup(t.repartition(7), "node", "parent", "m"))
  }
}
