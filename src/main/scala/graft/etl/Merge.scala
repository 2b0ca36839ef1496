package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-source merge (SURVEY.md §2.5 A1/A2, reference
  * `dags/utils/transformers.py:79-125`): union + keyed dedup + sort.
  *
  * The reference's `drop_duplicates(subset, keep='first')` keeps the
  * first row in *file order* — an accident of task ordering. In a
  * distributed engine "first" must be explicit, so dedup takes a
  * priority ordering and keeps row_number()==1 per key. One shuffle on
  * the dedup key; at 100 TB this is the plan you want (hash exchange +
  * in-partition sort, no global sort).
  */
object Merge {

  /** Union heterogeneous source frames by column name (A1). */
  def unionSources(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Deterministic keep-first dedup (A2): one row per `keys`, choosing
    * by `priority` (e.g. source order, then a unique row id).
    * `priority` must be a total order within each key group — include a
    * unique tiebreaker column (row id), or the survivor is
    * partition-order-dependent and the determinism contract is void. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], priority: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(priority: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keyed snapshot diff (the reconciliation report after an upsert /
    * backfill / migration): per key, whether the row was added,
    * removed, changed, or unchanged between two table versions. One
    * full-outer shuffle join on the key; value comparison is per-column
    * null-safe equality (`<=>`), so NULL→NULL counts as unchanged and
    * NULL→value as changed. Keys must be non-null (the usual key
    * contract). [[graft.store.Diff.diff]] is the column-level
    * deepening (names WHICH columns changed, rolls up per column) —
    * this form stays the cheap status partition. */
  def diffByKey(before: DataFrame, after: DataFrame,
                keys: Seq[String]): DataFrame = {
    val nonKey = after.columns.filterNot(keys.contains).toSeq
    val joinCond = keys.map(k => col(s"b.$k") === col(s"a.$k")).reduce(_ && _)
    val sameValues =
      if (nonKey.isEmpty) lit(true)
      else nonKey.map(c => col(s"b.$c") <=> col(s"a.$c")).reduce(_ && _)
    before.as("b").join(after.as("a"), joinCond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"b.$k"), col(s"a.$k")).as(k)) :+
          when(keys.map(k => col(s"b.$k").isNull).reduce(_ && _), "added")
            .when(keys.map(k => col(s"a.$k").isNull).reduce(_ && _), "removed")
            .when(sameValues, "unchanged")
            .otherwise("changed").as("diff_status"): _*)
  }

  /** Full merge stage: union, dedup on the merge key with explicit
    * priority, sort (reference `transformers.py:106-121`). The final
    * global sort exists only for file-order fidelity; pass
    * `sorted = false` to skip it at scale (Parquet + partitioning make
    * it redundant). */
  def mergeSources(
      dfs: Seq[DataFrame],
      keys: Seq[String] = Schemas.mergeKey,
      priority: Seq[Column],
      sorted: Boolean = true): DataFrame = {
    val deduped = dedupKeepFirst(unionSources(dfs), keys, priority)
    if (sorted) deduped.orderBy(keys.map(col): _*) else deduped
  }
}
