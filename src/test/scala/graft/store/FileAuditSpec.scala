package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FileAuditSpec extends SparkSpec {
  import spark.implicits._

  private def writeFragmented(rows: Int, perFile: Int): String = {
    val path = tempDir("graft-fileaudit").toString + "/t"
    (1 to rows).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1)
      .write.option("maxRecordsPerFile", perFile).parquet(path)
    path
  }

  test("fileProfile: per-file rows sum to the table, sizes are real") {
    val path = writeFragmented(rows = 500, perFile = 100)
    val prof = FileAudit.fileProfile(spark, path).collect()
    prof.map(_.getLong(2)).sum shouldBe 500L
    prof.length should be >= 5 // 500 rows at <=100/file
    all(prof.map(_.getLong(2))) should be <= 100L
    // _metadata sizes match the real on-disk files
    val onDisk = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.length).sorted.toSeq
    prof.map(_.getLong(1)).sorted.toSeq shouldBe onDisk
  }

  test("smallFilesReport flags fragmentation; compaction clears it") {
    val path = writeFragmented(rows = 400, perFile = 50)
    val before = FileAudit.smallFilesReport(spark, path,
        targetBytes = 1L * 1024 * 1024)
      .collect().head
    before.getAs[Long]("n_files") should be >= 8L
    before.getAs[Long]("n_rows") shouldBe 400L
    // every file is tiny vs the 1 MB target: all small, share 1000
    before.getAs[Long]("n_small_files") shouldBe before.getAs[Long]("n_files")
    before.getAs[Long]("small_share_permille") shouldBe 1000L
    // rewrite compacted (one file) and re-audit: fragmentation gone
    val compacted = path + "_compact"
    spark.read.parquet(path).coalesce(1).write.parquet(compacted)
    val after = FileAudit.smallFilesReport(spark, compacted,
        targetBytes = 1L * 1024 * 1024).collect().head
    after.getAs[Long]("n_files") shouldBe 1L
    after.getAs[Long]("n_rows") shouldBe 400L
    after.getAs[Long]("n_files") should be < before.getAs[Long]("n_files")
  }

  test("smallFilesReport is one distributed pass: no driver listing, stats exact") {
    val path = writeFragmented(rows = 120, perFile = 40)
    val r = FileAudit.smallFilesReport(spark, path, targetBytes = 1024).collect().head
    // target 1 KB: parquet files exceed 512 B, so nothing is "small"
    r.getAs[Long]("n_small_files") shouldBe 0L
    r.getAs[Long]("small_share_permille") shouldBe 0L
    r.getAs[Long]("total_bytes") shouldBe
      FileAudit.fileProfile(spark, path).agg(sum("file_bytes"))
        .collect().head.getLong(0)
    r.getAs[Long]("min_file_bytes") should be <= r.getAs[Long]("max_file_bytes")
  }
}
