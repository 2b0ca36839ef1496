package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dynamic partition pruning, spec-pinned (the E118 precedent: the
  * mechanism we RELY on for star-schema scans at 100 TB becomes
  * tested behavior, not a hope). The scale story: a fact table
  * partitioned on the join key joined to a selectively-filtered
  * dimension must NOT scan every fact partition — Catalyst plants a
  * DynamicPruningExpression in the scan's partition filters and
  * reuses the dim's broadcast to enumerate surviving partitions at
  * runtime. At 1000 executors the difference is "read 2 partitions"
  * vs "read all of them"; on the 20-partition fixture it is 2 files
  * vs 20, asserted from the scan's own numFiles metric.
  *
  * AQE is disabled inside the spec so the executed plan is static and
  * the FileSourceScanExec metric is directly addressable; DPP itself
  * is orthogonal to AQE (production runs both).
  */
class DppSpec extends SparkSpec {
  import spark.implicits._

  private def factDim(): (String, DataFrame) = {
    val base = tempDir("graft-dpp").toString
    val dir = base + "/fact"
    (1 to 200).map(i => (i.toLong, i % 20, i * 3L))
      .toDF("id", "k", "v")
      .repartition(1) // one file per key-partition: numFiles == partitions
      .write.partitionBy("k").parquet(dir)
    // dim must be a real scan: a filter over a LocalRelation constant-
    // folds away and leaves DPP no selective predicate to key on
    Seq((0, "keep"), (7, "keep"), (13, "drop"), (19, "drop"))
      .toDF("dk", "tag").write.parquet(base + "/dim")
    (dir, spark.read.parquet(base + "/dim"))
  }

  /** Runs the query, returns (rows, files read by the fact scan). */
  private def run(fact: DataFrame, dim: DataFrame): (Long, Long) = {
    val q = fact.join(dim, col("k") === col("dk"))
      .filter(col("tag") === "keep")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val rows = q.collect()
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.head.toString.contains("/fact") => s
    }
    scans should have size 1
    (rows.head.getLong(0), scans.head.metrics("numFiles").value)
  }

  test("partitioned-fact x filtered-dim join plants a dynamic pruning filter and skips partitions") {
    val (dir, dim) = factDim()
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val fact = spark.read.parquet(dir)
      val q = fact.join(dim, col("k") === col("dk"))
        .filter(col("tag") === "keep")
      q.queryExecution.executedPlan.toString should include("dynamicpruning")

      val (rows, filesDpp) = run(fact, dim)
      val filesAll = withDppOff {
        val (rowsOff, f) = run(spark.read.parquet(dir), dim)
        rowsOff shouldBe rows // pruning is a physical optimization only
        f
      }
      // 2 of 20 partitions survive the dim filter; without DPP the
      // scan reads every partition's files
      filesDpp should be < filesAll
      filesAll.toDouble / filesDpp.toDouble should be >= 5.0
      rows shouldBe 20L // 200 rows / 20 keys x 2 kept keys
    }
  }

  test("no pruning is planted when the dim filter keeps everything (no false skip)") {
    val (dir, _) = factDim()
    val dimAll = (0 until 20).map(k => (k, "keep")).toDF("dk", "tag")
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val (rows, files) = run(spark.read.parquet(dir), dimAll)
      rows shouldBe 200L
      files shouldBe 20L // every partition still read — correctness first
    }
  }

  private def withDppOff[A](f: => A): A = {
    val k = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try f finally old match {
      case Some(v) => spark.conf.set(k, v); case None => spark.conf.unset(k)
    }
  }
}
