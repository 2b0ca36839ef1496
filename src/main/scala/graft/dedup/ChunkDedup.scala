package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Sub-document exact substring deduplication at token-chunk
  * granularity — the corpus-level "exact substring dedup" pass of
  * published LLM data pipelines (RefinedWeb / Gopher style), re-shaped
  * for Spark: documents are cut into consecutive k-token chunks, each
  * chunk is hashed, and a chunk INSTANCE is a duplicate when the same
  * chunk text occurs anywhere else in the corpus. The canonical
  * (globally first) instance is kept; later instances are dropped and
  * documents are reassembled from their surviving chunks.
  *
  * Scale shape (the reason this is chunk-, not suffix-, granular):
  *  - tokenization + chunking is a codegen'd projection + one
  *    generator (`explode(sequence(...))` + `slice`) — no interpreted
  *    per-element lambda touches the hot path;
  *  - duplicate detection shuffles each chunk ONCE on its 128-bit md5
  *    (the window on the hash), with first-instance choice and the
  *    shared flag both computed in that single window pass
  *    (`row_number` + min/max of doc id — no second groupBy+join over
  *    the chunk table);
  *  - reassembly shuffles surviving chunk text once on doc_id. Moving
  *    the text is inherent to rewriting documents — dropped instances
  *    never cross the wire.
  */
object ChunkDedup {

  /** One row per (doc, chunk): 0-based chunk index `ci`, the chunk's
    * space-joined text, its token count, and its md5. The last chunk
    * per doc may be shorter than k (`slice` clamps at the end). */
  def chunks(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k > 0, "chunk size must be positive")
    // Materialize the token array behind its own projection: the slice
    // below reads it per chunk row, and an inlined alias would re-run
    // the whole tokenization regexp per chunk (interpreted-HOF pitfall).
    docs.select(col("doc_id").as("doc_id"),
        TextAnalysis.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0),
          floor((size(col("__toks")) - 1) / lit(k)).cast("int"))).as("ci"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("__toks"), col("ci") * k + 1, lit(k)), " ").as("chunk_text"),
        least(lit(k), size(col("__toks")) - col("ci") * k).cast("long").as("chunk_tokens"))
      .withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
  }

  /** Per-document substring-dedup report: chunk counts, how many chunk
    * instances are shared with another document, the token count after
    * dropping non-canonical instances, and the md5 of the reassembled
    * (deduplicated) text — the audit row a pipeline keeps when it
    * rewrites a corpus in place.
    *
    * A chunk instance is `shared` when the same chunk text occurs in
    * at least one OTHER document (within-document repetition is
    * repetition scoring's job, not dedup's); it is KEPT when it is the
    * globally first occurrence of its text, ordered by (doc_id, ci). */
  def sharedChunkProfile(docs: DataFrame, k: Int = 20): DataFrame = {
    val byHash = Window.partitionBy(col("chunk_md5"))
    val firstInstance = byHash.orderBy(col("doc_id"), col("ci"))
    val flagged = chunks(docs, k)
      // one window pass over the hash shuffle: canonical instance +
      // cross-doc sharing (min != max doc id over the hash's instances)
      .withColumn("__rn", row_number().over(firstInstance))
      .withColumn("__dmin", min(col("doc_id")).over(byHash))
      .withColumn("__dmax", max(col("doc_id")).over(byHash))
    flagged.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__dmin") =!= col("__dmax"), 1L).otherwise(0L))
          .as("n_shared_chunks"),
        sum(when(col("__rn") === 1, col("chunk_tokens")).otherwise(0L))
          .as("n_kept_tokens"),
        // reassemble surviving chunks in document order; a fully
        // duplicated doc keeps nothing and hashes the empty string
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("__rn") === 1, struct(col("ci"), col("chunk_text"))))),
            _.getField("chunk_text")),
          " ").cast("binary")).as("kept_md5"))
      .withColumn("shared_ratio",
        col("n_shared_chunks").cast("double") / col("n_chunks").cast("double"))
  }
}
