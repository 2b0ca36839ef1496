package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Spark's RUNTIME bloom-filter join pruning, spec-pinned (the DppSpec
  * precedent: a mechanism the 100 TB plan RELIES on becomes tested
  * behavior). The scale story: a shuffle join whose build side is
  * selectively filtered should not shuffle the whole probe side —
  * `InjectRuntimeFilter` plants a bloom-filter aggregate on the
  * filtered (creation) side and a `BloomFilterMightContain` predicate
  * on the probe (application) side, so non-joining probe rows die at
  * the scan stage instead of crossing the wire. This is the
  * row-level sibling of DPP's partition-level skip, and the engine
  * form of the manual [[BloomJoin]] operator.
  *
  * The default application-side threshold assumes a 10 GB probe scan;
  * the fixture lowers the thresholds to exercise the mechanism (the
  * conf is the documented knob, not a cheat — at 100 TB the defaults
  * fire on their own). Broadcast joins are disabled so the join
  * actually shuffles (a broadcast probe side never needs the filter).
  */
class RuntimeBloomFilterSpec extends SparkSpec {
  import spark.implicits._

  private def factDim(): (DataFrame, DataFrame) = {
    val base = tempDir("graft-rbf").toString
    (1 to 5000).map(i => (i.toLong, (i % 500).toLong, i * 3L))
      .toDF("id", "k", "v")
      .write.parquet(base + "/fact")
    (0 until 500).map(k => (k.toLong, if (k < 5) "keep" else "drop"))
      .toDF("dk", "tag")
      .write.parquet(base + "/dim")
    (spark.read.parquet(base + "/fact"), spark.read.parquet(base + "/dim"))
  }

  private val bloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1B",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def query(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, col("k") === col("dk"))
      .filter(col("tag") === "keep")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

  test("selective dim filter plants a bloom might_contain on the probe side") {
    val (fact, dim) = factDim()
    withSQLConf(bloomConfs: _*) {
      val q = query(fact, dim)
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      plan.toLowerCase should include("might_contain")
      // the filter is a physical optimization only: same answer with
      // the mechanism off
      var off: Array[org.apache.spark.sql.Row] = Array.empty
      withSQLConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val qo = query(fact, dim)
        off = qo.collect()
        qo.queryExecution.executedPlan.toString.toLowerCase should
          not include "might_contain"
      }
      rows shouldBe off
      rows.head.getLong(0) shouldBe 50L // 5 kept keys x 10 fact rows each
    }
  }

  test("no bloom filter is planted without a selective creation-side predicate") {
    val (fact, dim) = factDim()
    withSQLConf(bloomConfs: _*) {
      val q = fact.join(dim, col("k") === col("dk"))
        .agg(count(lit(1)).as("n"))
      q.collect().head.getLong(0) shouldBe 5000L
      q.queryExecution.executedPlan.toString.toLowerCase should
        not include "might_contain"
    }
  }
}
