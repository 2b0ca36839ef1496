package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Upsert

/** Small-file compaction for a partitioned parquet table — the
  * storage-maintenance half of the incremental-write story: streaming
  * micro-batches and daily upserts each land a few files per
  * partition, and after months a 100 TB table is millions of KB-sized
  * files whose open/footer costs dominate every scan. Compaction
  * rewrites over-fragmented partitions into ~`targetBytes` files and
  * leaves healthy partitions' files UNTOUCHED (no rewrite, no mtime
  * churn, no cache invalidation).
  *
  * Planning is driver-side directory listing — O(partitions), no data
  * read. The rewrite reads ONLY the fragmented partitions (explicit
  * dir list + basePath, so nothing else is scanned) and commits via
  * the same staged dynamic-partition-overwrite protocol as
  * [[graft.etl.Upsert.upsertPartitioned]]: a crash mid-commit leaves
  * either the old files or the complete staged slice, never a torn
  * table.
  */
object Compaction {

  /** One partition's compaction decision. */
  case class PartitionPlan(value: String, bytes: Long, files: Int,
                           targetFiles: Int) {
    def needsCompaction: Boolean = files > targetFiles
  }

  /** List partition dirs and size each one: target file count =
    * ceil(bytes / targetBytes), floor 1. */
  def plan(spark: SparkSession, tablePath: String, partitionCol: String,
           targetBytes: Long): Seq[PartitionPlan] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
      .map { dir =>
        val dataFiles = fs.listStatus(dir.getPath).filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        val bytes = dataFiles.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        PartitionPlan(dir.getPath.getName.drop(partitionCol.length + 1),
          bytes, dataFiles.length, target)
      }
  }

  /** Compact every over-fragmented partition; returns the plan (all
    * partitions, compacted or not). Row content is untouched — the
    * operator's correctness contract is `read(table)` before ==
    * `read(table)` after, which the oracle row checks end-to-end. */
  def compactPartitioned(spark: SparkSession, tablePath: String,
                         partitionCol: String,
                         targetBytes: Long = 128L * 1024 * 1024): Seq[PartitionPlan] = {
    recover(spark, tablePath, partitionCol)
    val plans = plan(spark, tablePath, partitionCol, targetBytes)
    val fragmented = plans.filter(_.needsCompaction)
    if (fragmented.nonEmpty) {
      val dirs = fragmented.map(p => s"$tablePath/$partitionCol=${p.value}")
      // per-partition target file counts ride a broadcast lookup; the
      // (partition, bucket) repartition gives each output dir at most
      // `targetFiles` writing tasks -> at most that many files
      val targets = spark.createDataFrame(
        fragmented.map(p => (p.value, p.targetFiles)))
        .toDF("__pv", "__nf")
      val df = spark.read.option("basePath", tablePath).parquet(dirs: _*)
      val dataCols = df.columns.filterNot(_ == partitionCol)
      val bucketed = df
        .join(broadcast(targets),
          col(partitionCol).cast("string") === col("__pv"))
        .withColumn("__f",
          pmod(xxhash64(dataCols.map(col): _*), col("__nf").cast("long")))
        .repartition(col(partitionCol), col("__f"))
        .drop("__pv", "__nf", "__f")
      val tmpPath = tmpFor(tablePath)
      bucketed.write.mode("overwrite").parquet(tmpPath)
      Upsert.commitFromTmp(spark, tablePath, tmpPath, partitionCol, Some(bucketed.schema))
    }
    plans
  }

  private def tmpFor(tablePath: String): String = s"$tablePath.__compact_tmp"

  /** Same crash recovery as the upsert: a `_SUCCESS`-marked staged
    * slice is replayed (idempotent — same rows, same partitions), a
    * torn one is discarded. */
  def recover(spark: SparkSession, tablePath: String, partitionCol: String): Unit =
    Upsert.recoverStaged(spark, tablePath, tmpFor(tablePath), partitionCol)
}
