package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layer (SURVEY.md §2.2 K5/K8/K9): the Spark re-expression of
  * the reference's `PARTITION BY date CLUSTER BY symbol` BigQuery table
  * (reference `plugins/helpers/queries.py:2-19`) and its
  * `stock_daily_metrics` view (`queries.py:21-33`).
  *
  * Layout contract: Hive-style partition directories on the partition
  * column + files sorted on the cluster columns inside each partition.
  * Partition pruning turns partition-key predicates into directory
  * skips; the in-file sort gives parquet row-group min/max skipping on
  * the cluster key. At 100 TB this is the difference between a full
  * scan and reading a few dates' worth of files.
  */
object Store {

  /** Parquet bloom-filter write options for high-cardinality point
    * lookups. Partition pruning + the in-file cluster sort cover RANGE
    * predicates; a point lookup on a key the file is NOT sorted by
    * (doc_id inside a date partition, symbol inside a month) still
    * reads every row group whose min/max straddles the value — at 100
    * TB that is most of them. A bloom filter per row group answers
    * "definitely absent" for ~1 byte/distinct value and lets the
    * reader skip the group without touching its pages; `ndv` sizes the
    * filter for the expected distinct values PER ROW GROUP (oversizing
    * wastes footer bytes, undersizing inflates the false-positive
    * rate toward useless). Dictionary encoding is disabled for bloom
    * columns: a dictionary-encoded column already gets exact
    * dictionary-based row-group skipping, and the keys bloom filters
    * exist for (doc ids, URLs — high cardinality) overflow dictionary
    * pages at real row-group sizes anyway; disabling makes the
    * fixture honest about the 100 TB shape. */
  def bloomFilterOptions(cols: Seq[String],
                         ndv: Long = 100000L): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString,
      s"parquet.enable.dictionary#$c" -> "false")).toMap

  /** K5/K8 layout: repartition on the partition key so each partition
    * directory is written by one task (no small-file explosion: tasks ×
    * partitions files otherwise), then sort within tasks on
    * (partition, cluster...) so every parquet file is internally
    * ordered on the cluster key.
    *
    * The codec defaults to zstd rather than Spark's snappy: at 100 TB
    * the ~25-35% size reduction is real money and network time, zstd
    * decompression speed is in snappy's class on modern CPUs, and the
    * in-file cluster sort feeds the codec long runs of similar values
    * (sorted columns compress best) — the spec asserts the size win
    * on this exact layout rather than citing folklore.
    *
    * `maxRecordsPerFile` (0 = unlimited) bounds the other end of the
    * small-file problem: one task per partition directory means a
    * giant partition becomes ONE giant file — unsplittable-ish for
    * downstream range assignment and painful to replicate. The writer
    * rolls to a new file at the record cap, sequentially, so each
    * rolled file is still internally sorted on the cluster key
    * (row-group skipping intact). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       clusterCols: Seq[String],
                       codec: String = "zstd",
                       maxRecordsPerFile: Long = 0L): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
      .write.mode("overwrite")
      .option("compression", codec)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol).parquet(path)

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** K8 DDL: register the partitioned layout as a catalog table over
    * an existing path, then recover the partition directories.
    *
    * Callers re-invoke this per query because registration is SESSION
    * state (a second SparkSession hits the disk fixture yet lacks the
    * table) — but when THIS session already has `name` registered over
    * the SAME location, the drop + create + partition recovery is a
    * no-op re-derivation that re-lists every partition directory
    * (measured r20: 2.6–3.9 s warm on the 48-partition sf0.1 fixture —
    * more than the view read it serves; at a warehouse's thousands of
    * partitions, strictly worse). The skip path still calls
    * `refreshTable`: callers (q306's pipeline) rewrite partition FILES
    * between invocations via the MERGE upsert, so the cached file
    * listing must be invalidated and re-listed lazily at next read.
    * Contract: the partition VALUE set is stable once registered —
    * a caller that adds/drops partition directories under the same
    * path must drop the table (or call recoverPartitions) itself. */
  def createTable(spark: SparkSession, name: String, path: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val alreadyRegistered = spark.sessionState.catalog.tableExists(ident) &&
      scala.util.Try(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location) == qualified)
        .getOrElse(false)
    if (alreadyRegistered) spark.catalog.refreshTable(name)
    else {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.catalog.createTable(name, path, "parquet")
      spark.catalog.recoverPartitions(name)
    }
  }

  /** Bucketed managed table: rows hash-partitioned into `numBuckets`
    * files per bucket column value range and sorted inside buckets.
    * Two tables bucketed the same way join/aggregate on the bucket
    * key with ZERO exchanges — the pre-shuffle is paid once at write
    * time, the win repeats on every co-located join. The Spark analog
    * of `CLUSTER BY` that actually removes shuffles (sortWithinParts
    * only enables row-group skipping). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    // A table written by a PREVIOUS session leaves its managed location
    // behind after the in-memory catalog forgot it; saveAsTable then
    // refuses with LOCATION_ALREADY_EXISTS. Drop both halves first.
    // The stale location is resolved the way the catalog would place a
    // new managed table — the owning DATABASE's locationUri + the
    // lowercased table name — so db-qualified names and a non-default
    // current database clear the right directory (a warehouse.dir
    // string-concat would compute `warehouse/db.table` and miss, or
    // worse, hit an unrelated path).
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val (db, tbl) = table.split('.') match {
      case Array(t)    => (spark.catalog.currentDatabase, t)
      case Array(d, t) => (d, t)
      case _ => throw new IllegalArgumentException(
        s"table name must be [db.]table, got '$table'")
    }
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
      tbl.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Partition retention (TTL): drop partition directories whose
    * value sorts BELOW `cutoff` — the expiry half of the
    * date-partitioned table lifecycle (the reference's BigQuery table
    * would use a partition expiration; this is the parquet-layout
    * equivalent). Metadata-only: directory listing + deletes, no data
    * read, no rewrite — at 100 TB expiring a year of dailies is ~365
    * namenode ops, not an IO job. The comparison is on the partition
    * value STRING, so the encoding must sort chronologically — ISO
    * dates (`event_date=2024-01-31`) and zero-padded numerics do;
    * anything else is the caller's contract to ensure. Idempotent and
    * crash-tolerant: a partial run leaves fewer expired dirs, the next
    * run removes the rest.
    * @return the dropped partition values */
  def expirePartitions(spark: SparkSession, tablePath: String,
                       partitionCol: String, cutoff: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val prefix = s"$partitionCol="
      val expired = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(st => st.getPath)
        .filter(_.getName.drop(prefix.length) < cutoff)
      expired.foreach(p => fs.delete(p, true))
      expired.map(_.getName.drop(prefix.length)).sorted
    }
  }

  /** K9: the reference's `stock_daily_metrics` view over a registered
    * bar table, the SQL twin of
    * [[graft.analytics.StockAnalytics.dailyMetrics]] (deterministic
    * `min` in place of ANY_VALUE; the average goes through an exact
    * decimal sum — see [[graft.core.Exact]] — so the view's numbers
    * are summation-order-independent). It stays SQL because the
    * product path reads the view by name. */
  def createDailyMetricsView(spark: SparkSession, barsTable: String,
                             viewName: String = "stock_daily_metrics"): Unit =
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW $viewName AS
      SELECT date, symbol,
             min(close) AS close_price,
             CAST(sum(CAST(daily_volatility AS DECIMAL(38,4))) AS DOUBLE)
               / CAST(count(daily_volatility) AS DOUBLE) AS avg_volatility,
             count(DISTINCT data_source) AS source_count
      FROM $barsTable
      GROUP BY date, symbol""")

  /** Schema-evolution read: one logical table from parquet
    * generations written under DIFFERENT schemas (columns added over
    * time — the normal life of any long-lived table), via Spark's
    * footer-level schema merge. Columns absent in an older generation
    * surface as NULL — additive evolution only; renames/type changes
    * are a rewrite, not a merge (stated contract).
    *
    * Scale honesty: `mergeSchema` reconciles by reading EVERY file's
    * footer up front — at 100 TB (millions of files) that is a real
    * driver-side cost, so the production path is a DECLARED unified
    * schema (`spark.read.schema(...)`) or a metastore that already
    * merged it; this operator is the audit/backfill tool that
    * discovers what the unified schema IS. */
  def evolvedRead(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Small-file compaction — the operational sweep behind every
    * streaming/partitioned sink: thousands of kilobyte files turn
    * listing, footer reads and task scheduling into the bottleneck
    * (the classic small-files problem), so rewrite a directory into
    * `targetFiles` files. `coalesce`, not `repartition`: compaction
    * must not pay a shuffle — coalesce glues existing partitions
    * (row CONTENT is preserved exactly; only file boundaries move,
    * which is the whole point). Returns the compacted read-back so
    * callers can assert content parity; the file-count delta is the
    * spec's job ([[graft.store]] StoreSpec). At 100 TB: run per
    * partition directory, never globally — coalesce to 1 across an
    * estate serializes the write. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFiles: Int): DataFrame = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    spark.read.parquet(inPath)
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }
}
