package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Iterate.barrierCounted]]'s contract: the returned frame is
  * the barrier-materialized input (stats reset, lineage cut — same as
  * [[Iterate.barrier]]) and the returned count equals the number of
  * rows matching the predicate, collected from the checkpoint's own
  * action (no second job on the fast path). It also pins
  * [[Iterate.fixpoint]]'s control contract (zero rounds for a done
  * seed, 1-based round indices, exactly `maxRounds` rounds then a loud
  * throw) — the loop every convergence operator in LinkGraph,
  * Dedup.componentLabels and Hierarchy runs through, with
  * barrierCounted as its convergence check. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  test("barrierCounted returns the frame and the changed-row count") {
    val in = Seq((1L, 10L, 10L), (2L, 5L, 7L), (3L, 1L, 2L))
      .toDF("node", "label", "__old")
    val (out, n) = Iterate.barrierCounted(in, col("label") =!= col("__old"))
    n shouldBe 2L
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1) shouldBe
      Array((1L, 10L, 10L), (2L, 5L, 7L), (3L, 1L, 2L))
  }

  test("barrierCounted: zero changes and empty input both count 0") {
    val same = Seq((1L, 4L, 4L)).toDF("node", "label", "__old")
    Iterate.barrierCounted(same, col("label") =!= col("__old"))._2 shouldBe 0L
    val empty = same.filter(lit(false))
    Iterate.barrierCounted(empty, col("label") =!= col("__old"))._2 shouldBe 0L
  }

  test("barrierCounted frame survives downstream joins like barrier") {
    val in = Seq((1L, 1L, 2L), (2L, 1L, 1L)).toDF("node", "label", "__old")
    val (out, n) = Iterate.barrierCounted(in, col("label") =!= col("__old"))
    n shouldBe 1L
    // self-join over the materialized frame — the shape every fixpoint
    // round feeds back; must not recompute the observe plan
    val j = out.select(col("node"), col("label").as("p"))
      .join(out.select(col("node").as("p"), col("label").as("g")), "p")
    j.count() shouldBe 2L
  }

  test("broadcastIfSmall picks the join strategy from the measured count") {
    val small = Iterate.barrier(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // both sides barrier frames: stats reset-conservative, so the
    // planner never auto-broadcasts either side — only the hint can
    val big = Iterate.barrier(spark.range(0L, 100L).select(col("id").as("k")))
    // below the floor: the hint must yield a BroadcastHashJoin even
    // though the barrier frame's stats are reset-conservative
    val hinted = big.join(Iterate.broadcastIfSmall(small, 2L), "k")
    hinted.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
    hinted.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    // at the floor (500,000 measured rows): no hint, same rows
    val unhinted = big.join(Iterate.broadcastIfSmall(small, 500000L), "k")
    unhinted.queryExecution.executedPlan.toString should
      not include "BroadcastHashJoin"
    unhinted.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
  }

  test("fixpoint: a seed that is already done runs zero rounds") {
    var rounds = 0
    Iterate.fixpoint(7, maxRounds = 5, "unreachable")(_ == 7) { (s, _) =>
      rounds += 1; s + 1
    } shouldBe 7
    rounds shouldBe 0
  }

  test("fixpoint: never done runs exactly maxRounds rounds, then throws onCap") {
    var rounds = 0
    val e = intercept[IllegalStateException] {
      Iterate.fixpoint(0, maxRounds = 4, "still going at the cap")(_ => false) {
        (s, _) => rounds += 1; s + 1
      }
    }
    rounds shouldBe 4
    e.getMessage shouldBe "still going at the cap"
  }

  test("fixpoint: round indices run 1..n and the state threads through") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    // done on the cap's last round: converging exactly at maxRounds is
    // a result, not a throw
    Iterate.fixpoint(List.empty[Int], maxRounds = 3, "capped")(_.size == 3) {
      (s, i) => seen += i; s :+ i
    } shouldBe List(1, 2, 3)
    seen.toList shouldBe List(1, 2, 3)
  }
}
