package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** E23-precedent spec: approximate operators are pinned by error
  * bounds against exact ground truth plus the algebraic properties
  * (mergeability, incrementality) that justify storing sketches. */
class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def events(n: Int, users: Int, offset: Int = 0) =
    (1 to n).map { i =>
      (s"t${i % 3}", (i * 31 % users + offset).toLong)
    }.toDF("etype", "user_id")

  private def tmp() = tempDir("graft-sketch").toString + "/s"

  test("rolled-up estimates track exact distincts within HLL error") {
    val d = events(5000, 800)
    val path = tmp()
    SketchStore.writeDistinctSketches(d, Seq("etype"), "user_id", path)
    val est = SketchStore.distinctCounts(spark, path, Seq("etype"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    val exact = d.groupBy("etype").agg(countDistinct("user_id").as("x"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, x) =>
      math.abs(est(k) - x) / x.toDouble should be < 0.05
    }
    // grand total WITHOUT regrouping the raw data: union of sketches
    val total = SketchStore.distinctCounts(spark, path, Nil)
      .as[(Double, Long)].collect().head
    val exactTotal = d.agg(countDistinct("user_id")).as[Long].head()
    math.abs(total._1 - exactTotal) / exactTotal.toDouble should be < 0.05
    total._2 shouldBe 5000L
  }

  test("append + union-at-read equals a fresh sketch over the union") {
    val a = events(2000, 300)          // users 0..299
    val b = events(2000, 300, 600)     // users 600..899: disjoint
    val inc = tmp(); val fresh = tmp()
    SketchStore.writeDistinctSketches(a, Seq("etype"), "user_id", inc)
    SketchStore.appendDistinctSketches(b, Seq("etype"), "user_id", inc)
    SketchStore.writeDistinctSketches(a.unionByName(b),
      Seq("etype"), "user_id", fresh)
    val i = SketchStore.distinctCounts(spark, inc, Seq("etype"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    val f = SketchStore.distinctCounts(spark, fresh, Seq("etype"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    // HLL union over the lattice: incrementally-built == fresh, exactly
    i.keySet shouldBe f.keySet
    i.foreach { case (k, (_, est, n)) =>
      est shouldBe f(k)._2
      n shouldBe f(k)._3
    }
  }

  private def keyed(n: Int, keys: Int) =
    (1 to n).map(i => Tuple1((i * 7 % keys).toLong)).toDF("k")

  test("cms: estimates never undercount and meet the epsilon*N bound") {
    val d = keyed(4000, 50)
    val sk = SketchStore.cmsSketch(d, "k", depth = 4, width = 64)
    // sketch size is bounded by the grid, independent of input rows
    sk.count() should be <= (4L * 64L)
    val exact = d.groupBy("k").agg(count(lit(1)).as("x"))
    val est = SketchStore.cmsEstimate(sk, exact.select("k"), "k",
        depth = 4, width = 64)
      .as[(Long, Long)].collect().toMap
    val ex = exact.as[(Long, Long)].collect().toMap
    val n = 4000L
    val epsN = math.ceil(math.E / 64.0 * n).toLong // classic CM bound
    ex.foreach { case (k, x) =>
      est(k) should be >= x          // one-sided: collisions only add
      est(k) should be <= x + epsN   // depth-4 failure prob e^-4 ~ 2%;
                                     // fixture is deterministic, so
                                     // this either always or never
                                     // holds — it holds
    }
  }

  test("cms: merge of split builds equals the single build, counter for counter") {
    val d = keyed(3000, 40)
    val even = d.filter(col("k") % 2 === 0)
    val odd = d.filter(col("k") % 2 === 1)
    val merged = SketchStore.cmsMerge(
      SketchStore.cmsSketch(even, "k"), SketchStore.cmsSketch(odd, "k"))
    assertSameRows(merged, SketchStore.cmsSketch(d, "k"))
  }

  test("cms: a key absent from the build estimates 0 only if its buckets are empty") {
    val d = keyed(100, 5) // 5 hot keys, many empty buckets at width 256
    val sk = SketchStore.cmsSketch(d, "k", depth = 4, width = 256)
    val probe = Seq(999999L).toDF("k") // never inserted
    val est = SketchStore.cmsEstimate(sk, probe, "k", depth = 4, width = 256)
      .as[(Long, Long)].collect().head._2
    est should be >= 0L // overestimate allowed (collision), never negative
  }
}
