package graft.store

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(): String = {
    val path = tempDir("graft-zm").toString + "/t"
    (1 to 1000).map(i => (i.toLong, i % 7, s"p$i"))
      .toDF("k", "g", "payload")
      .repartitionByRange(10, col("k"))
      .write.parquet(path)
    ZoneMap.writeZoneMap(spark, path, Seq("k"))
    path
  }

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  test("pruned scan returns exactly the plain filter's rows from a file subset") {
    val path = clustered()
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val pruned = ZoneMap.prunedScan(spark, path, "k", lit(101L), lit(200L))
      val expect = spark.read.parquet(path)
        .filter(col("k") >= 101L && col("k") <= 200L)
      assertSameRows(pruned, expect)
      // 100 contiguous keys of 1000 over 10 range-clustered files:
      // the zone overlap keeps 1-2 files, the naive scan opens all 10
      val nPruned = filesRead(ZoneMap.prunedScan(
        spark, path, "k", lit(101L), lit(200L)))
      nPruned should be <= 2L
      filesRead(expect) shouldBe 10L
    }
  }

  test("empty-overlap range yields an empty frame without opening data files") {
    val path = clustered()
    ZoneMap.prunedScan(spark, path, "k", lit(5000L), lit(6000L))
      .count() shouldBe 0L
  }

  test("a stale manifest is refused loudly, never silently partial") {
    val path = clustered()
    // new data arrives AFTER the manifest was written
    Seq((2000L, 1, "late")).toDF("k", "g", "payload")
      .write.mode("append").parquet(path)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.prunedScan(spark, path, "k", lit(1L), lit(10L)).collect()
    }
    e.getMessage should include("stale")
    // rewrite heals it, and the late row is now skippable/findable
    ZoneMap.writeZoneMap(spark, path, Seq("k"))
    ZoneMap.prunedScan(spark, path, "k", lit(1999L), lit(2001L))
      .select("payload").as[String].collect().toSeq shouldBe Seq("late")
  }
}
