package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (1L to 600L)
    .map(i => (i, s"lang${i % 3}", s"body $i " * 20))
    .toDF("doc_id", "lang", "body")

  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    dir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("compaction collapses fragmented partitions and preserves content") {
    val path = tempDir("graft-compact").toString + "/t"
    docs.repartition(6).write.mode("overwrite").partitionBy("lang").parquet(path)
    val before = spark.read.parquet(path)
    val beforeRows = before.collect().toSet
    val dir0 = new java.io.File(s"$path/lang=lang0")
    dataFiles(dir0).length should be > 1

    val plans = Compaction.compactPartitioned(spark, path, "lang",
      targetBytes = 1L << 40)
    plans.foreach(_.targetFiles shouldBe 1)
    Seq("lang0", "lang1", "lang2").foreach { l =>
      dataFiles(new java.io.File(s"$path/lang=$l")).length shouldBe 1
    }
    spark.read.parquet(path).collect().toSet shouldBe beforeRows
  }

  test("healthy partitions are not rewritten (idempotent re-run)") {
    val path = tempDir("graft-compact2").toString + "/t"
    docs.repartition(4).write.mode("overwrite").partitionBy("lang").parquet(path)
    Compaction.compactPartitioned(spark, path, "lang", targetBytes = 1L << 40)
    def snapshot = Seq("lang0", "lang1", "lang2").flatMap { l =>
      dataFiles(new java.io.File(s"$path/lang=$l"))
        .map(f => (f.getPath, f.length, f.lastModified))
    }.toSet
    val after1 = snapshot
    // second run: every partition already at target -> zero rewrites
    val plans = Compaction.compactPartitioned(spark, path, "lang",
      targetBytes = 1L << 40)
    plans.count(_.needsCompaction) shouldBe 0
    snapshot shouldBe after1
  }

  test("a torn staged slice is discarded, a marked one is replayed") {
    val path = tempDir("graft-compact3").toString + "/t"
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    val torn = new java.io.File(s"$path.__compact_tmp")
    torn.mkdirs()
    Files.writeString(new java.io.File(torn, "part-junk.parquet").toPath, "x")
    Compaction.compactPartitioned(spark, path, "lang", targetBytes = 1L << 40)
    torn.exists() shouldBe false
  }
}
