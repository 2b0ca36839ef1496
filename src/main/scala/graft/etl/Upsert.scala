package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Join-based MERGE upsert (SURVEY.md §2.2 K7, reference
  * `dags/utils/loaders.py:107-190`): WHEN MATCHED → take the staging
  * row (update all non-key columns), WHEN NOT MATCHED → insert.
  *
  * Spark-on-Parquet has no in-place MERGE, so the upsert is
  *   target ⟕anti staging  ∪  staging
  * The broadcast decision is left to AQE by default: a daily increment
  * gets broadcast automatically, while a large backfill staging set
  * falls back to a shuffled join instead of OOMing the driver. At
  * 100 TB the rewrite must be bounded to the partitions staging
  * touches — `upsertPartitioned` does that with dynamic partition
  * overwrite.
  */
object Upsert {

  /** Pure upsert semantics: rows of `target` not matched by `staging`
    * on `keys`, plus all of `staging`. Equivalent to the reference's
    * generated MERGE (`loaders.py:160-169`). BigQuery MERGE errors on
    * duplicate staging keys; we preserve detectability via
    * [[assertUniqueKeys]] rather than paying the check on every call. */
  def upsert(
      target: DataFrame,
      staging: DataFrame,
      keys: Seq[String]): DataFrame =
    target.join(staging, keys, "left_anti")
      .unionByName(staging.select(target.columns.map(col): _*))

  /** Throws if `staging` carries duplicate keys — the reference's
    * BigQuery MERGE raises in that case; run this gate when the
    * upstream dedup is not already guaranteed. */
  def assertUniqueKeys(staging: DataFrame, keys: Seq[String]): Unit = {
    val dups = staging.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dups == 0, s"staging has duplicate keys on (${keys.mkString(",")})")
  }

  /** Affected-rows metric, mirroring BigQuery's
    * `num_dml_affected_rows` (`loaders.py:178`): matched (updated) +
    * unmatched (inserted) = staging row count; matched alone is the
    * semi-join count. */
  def affectedRows(target: DataFrame, staging: DataFrame, keys: Seq[String]): (Long, Long) = {
    val matched = target.join(staging, keys, "left_semi").count()
    val stagingRows = staging.count()
    (matched, stagingRows - matched)
  }

  /** Scale path: rewrite ONLY the `partitionCol` partitions present in
    * `staging` (dynamic partition overwrite), so a daily increment
    * touches a day's worth of files, not the whole table.
    *
    * Crash-safe commit protocol on plain Parquet (single writer):
    *  1. [[recoverPartitioned]] completes or discards any commit a
    *     previous crash left pending;
    *  2. the merged slice (touched-partition target rows upserted with
    *     staging) is materialized to a temp dir next to the table —
    *     Spark's `_SUCCESS` marker distinguishes a complete slice from
    *     a torn write;
    *  3. dynamic partition overwrite replaces exactly the touched
    *     partition dirs from the re-read slice (never reading the path
    *     it deletes);
    *  4. the temp dir is deleted ONLY after the overwrite commits — a
    *     crash inside step 3 leaves the full merged slice on disk, and
    *     the next call's step 1 replays it (idempotent: same keys,
    *     same rows). Table formats with a transaction log make this
    *     protocol free; this is the hand-rolled equivalent.
    *
    * Requires the existing table to be partitioned by `partitionCol` —
    * root-level data files would silently survive a dynamic overwrite
    * and duplicate rows, so that layout is rejected. */
  def upsertPartitioned(
      spark: SparkSession,
      tablePath: String,
      staging: DataFrame,
      keys: Seq[String],
      partitionCol: String): Unit = {
    assertPartitionedLayout(spark, tablePath, partitionCol)
    recoverPartitioned(spark, tablePath, partitionCol)
    val target = spark.read.parquet(tablePath)
    // The staging plan executes twice below — once for the touched
    // partition keys, once inside the merged write — and a staging
    // slice is often the tail of an expensive pipeline. Materialize it
    // once: the cost is bounded by the increment (tiny vs the table),
    // never by the table.
    val stg = staging.localCheckpoint()
    // Restrict the anti-join to touched partitions: untouched partitions
    // are left on disk as-is by dynamic overwrite. The touched-key set
    // is tiny by construction (distinct partition values of a daily
    // increment) — broadcasting it is safe and prunes the target scan.
    val touched = stg.select(partitionCol).distinct()
    val touchedTarget = target.join(broadcast(touched), Seq(partitionCol), "left_semi")
    val merged = upsert(touchedTarget, stg, keys)

    val tmpPath = tmpFor(tablePath)
    merged.write.mode("overwrite").parquet(tmpPath)
    commitFromTmp(spark, tablePath, tmpPath, partitionCol, Some(merged.schema))
  }

  /** Incremental aggregate maintenance for insert-only streams — the
    * IVM identity behind every rollup table that is NOT recomputed
    * nightly: for additive aggregates (counts, sums), merging a
    * delta's PARTIAL aggregate into the stored rollup equals the full
    * recompute — `agg(T ∪ Δ) = combine(agg(T), agg(Δ))` — and the
    * merge touches |stored keys| + |delta keys| rows, never the fact
    * table. That identity IS the oracle: the q-entry's DuckDB twin is
    * the full recompute, so the hash compare proves the incremental
    * path exact (keep sums as DECIMAL partials until the final cast —
    * a double partial would break associativity).
    *
    * Insert-only contract stated: deletes/updates would need
    * retractions (counts can decrement but min/max cannot
    * un-shrink); route those through the MERGE upsert instead.
    *
    * Shape: one unionByName of two ALREADY-AGGREGATED frames + one
    * keyed re-aggregate — at most 2 rows per key enter the shuffle. */
  def mergeAggregates(stored: DataFrame, delta: DataFrame,
                      keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && sumCols.nonEmpty, "need keys and sum columns")
    val aggs = sumCols.map(c => sum(col(c)).as(c))
    stored.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def tmpFor(tablePath: String): String = s"$tablePath.__upsert_tmp"

  /** Staged dynamic-partition-overwrite commit, shared with
    * [[graft.store.Compaction]] (same crash-safety protocol). A caller
    * that just wrote the slice passes its schema, which saves the job
    * that infers it from the parquet footers. */
  private[graft] def commitFromTmp(spark: SparkSession, tablePath: String,
                                   tmpPath: String, partitionCol: String,
                                   schema: Option[StructType] = None): Unit = {
    schema.fold(spark.read)(spark.read.schema).parquet(tmpPath).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(tablePath)
    val fs = new Path(tmpPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(tmpPath), true)
  }

  /** Complete (or discard) a commit a previous [[upsertPartitioned]]
    * crash left pending. A temp slice WITH `_SUCCESS` was fully
    * written — replay its overwrite (idempotent; the crash may have
    * replaced any subset of the touched partitions). A temp slice
    * WITHOUT the marker is a torn write — the table was never touched,
    * so discard it; the caller's retry re-merges from scratch. */
  def recoverPartitioned(spark: SparkSession, tablePath: String,
                         partitionCol: String): Unit =
    recoverStaged(spark, tablePath, tmpFor(tablePath), partitionCol)

  /** The staged-commit recovery behind [[recoverPartitioned]] and
    * [[graft.store.Compaction.recover]], for the slice staged at
    * `tmpPath`: replay it if `_SUCCESS`-marked, else discard it. */
  private[graft] def recoverStaged(spark: SparkSession, tablePath: String,
                                   tmpPath: String, partitionCol: String): Unit = {
    val p = new Path(tmpPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      if (fs.exists(new Path(tmpPath, "_SUCCESS")))
        commitFromTmp(spark, tablePath, tmpPath, partitionCol)
      else fs.delete(p, true)
    }
  }

  /** A non-empty table whose root holds data files (instead of
    * `partitionCol=...` directories) is not partitioned as declared. */
  private def assertPartitionedLayout(
      spark: SparkSession, tablePath: String, partitionCol: String): Unit = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val entries = fs.listStatus(p).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      val rogue = entries.filterNot(st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
      require(rogue.isEmpty,
        s"$tablePath is not partitioned by $partitionCol " +
          s"(found ${rogue.map(_.getPath.getName).take(3).mkString(",")})")
    }
  }
}
