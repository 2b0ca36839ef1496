package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact shared-SPAN detection between document pairs — the verbatim
  * half of corpus dedup (Lee et al. 2022, *Deduplicating Training Data
  * Makes Language Models Better*): a 40-token boilerplate paragraph
  * pasted into thousands of pages is invisible to whole-document
  * near-dup (Jaccard over the full shingle set stays tiny) but is
  * exactly the memorization vector substring dedup exists to remove.
  *
  * The paper's suffix-array construction assumes one big machine; this
  * is the distributed re-expression as k-gram DIAGONAL RUNS:
  *
  *  1. tokenize (whitespace; positions kept);
  *  2. every k-token window becomes a posting (md5(gram), doc, pos) —
  *     md5 shortens the shuffle key, both engines hash the same string;
  *  3. document-frequency cap `maxDf` drops ubiquitous grams — the
  *     same Σ df² candidate-volume governor as the q19 Jaccard join
  *     (a gram in half the corpus is chrome, not signal, and its
  *     pairs would dominate the join);
  *  4. postings self-join on the gram key (equi-join, never
  *     all-pairs); a matched pair at positions (pa, pb) lies on
  *     diagonal pa − pb — CONSECUTIVE gram positions on one diagonal
  *     are one contiguous shared substring;
  *  5. longest run per diagonal via the classic gaps-and-islands
  *     rewrite (pa − row_number() over the diagonal = island id) —
  *     one window + one aggregation, no iteration; a run of r grams
  *     is a shared span of r + k − 1 tokens.
  *
  * Shuffle budget: one partial agg (gram df), one equi-join keyed on
  * the gram hash, one window+agg keyed on (doc_a, doc_b, diagonal) —
  * all bounded by the df-capped posting volume, the documented scale
  * governor. Exact output (BIGINT token counts), partitioning-proof,
  * DuckDB-oracle-able — unlike the suffix array it replaces at
  * cluster scale.
  */
object SpanDedup {

  /** Whitespace-tokenized docs: (doc_id, toks), spread over the
    * default parallelism first (r19 opt: the gram-md5 cascade and the
    * reassembly run per token). */
  private def tokenized(df: DataFrame): DataFrame =
    graft.core.Par.scaleOut(
        df.select(col("doc_id").as("doc_id"), col("text").as("__txt")))
      .select(col("doc_id"), split(col("__txt"), "\\s+").as("toks"))

  /** [[tokenized]] docs with at least k tokens. */
  private def tokenized(df: DataFrame, k: Int): DataFrame =
    tokenized(df).where(size(col("toks")) >= k)

  /** Shared core: diagonal runs per ordered doc pair —
    * (doc_a, doc_b, diag, run, start_a) where `run` grams starting at
    * gram position `start_a` of doc_a (and `start_a - diag` of doc_b)
    * match consecutively. */
  private def diagonalRuns(toks: DataFrame, k: Int, maxDf: Int): DataFrame = {
    // posting per k-token window; slice is 1-based. The lambda builds
    // only the gram STRING; md5 runs as a codegen'd scalar over the
    // exploded rows (r19 opt — HOF lambdas are interpreted, so hashing
    // inside the transform paid an interpreted md5 per window;
    // measured alongside the dedup operators' exploded-path rule)
    val postings = toks.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(toks) - $k), " +
            s"i -> array_join(slice(toks, i + 1, $k), ' '))"))
          .as(Seq("pos", "__gs")))
      .select(col("doc_id"), col("pos"), md5(col("__gs")).as("g"))
    val kept = postings.join(
      postings.groupBy("g").agg(countDistinct(col("doc_id")).as("__df"))
        .where(col("__df") <= maxDf)
        .select("g"),
      "g")
    val pairs = kept.select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(kept.select(col("g"), col("doc_id").as("doc_b"), col("pos").as("pb")), "g")
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), (col("pa") - col("pb")).as("diag"))
      .distinct() // duplicate grams inside a doc can re-derive the same (pa, diag)
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"), min(col("pa")).as("start_a"))
  }

  /** Pairs of documents sharing a verbatim token span of at least
    * `minSpanTokens`, with the longest such span and the matched-gram
    * count. `df` needs (`doc_id`, `text`). */
  def sharedSpans(df: DataFrame, k: Int = 5, minSpanTokens: Int = 8,
                  maxDf: Int = 64): DataFrame = {
    require(k >= 2, "k-gram width must be >= 2")
    require(minSpanTokens >= k, "a detectable span is at least one gram")
    diagonalRuns(tokenized(df, k), k, maxDf)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("run")) + lit(k - 1)).as("max_span_tokens"),
        sum(col("run")).as("n_shared_grams"))
      .where(col("max_span_tokens") >= minSpanTokens)
  }

  /** The curation half: EXCISE every qualifying shared span from the
    * LATER document of each pair (keep-first by id, the same policy
    * as the whole-doc near-dup removal A2/E27 — one canonical copy
    * survives, the repeats lose their pasted text, the rest of the
    * victim doc is kept). A doc victimized by several pairs loses the
    * union of its spans; overlaps excise once.
    *
    * Plan shape on top of [[sharedSpans]]' pipeline: span intervals
    * in victim coordinates are a projection of the runs frame; token
    * removal is one doc-keyed equi-join (token pos BETWEEN span
    * bounds rides the join as a residual filter — spans per doc are
    * few, tokens many, so the join is linear in tokens) and
    * reassembly is one sort_array over each doc's surviving tokens —
    * per-doc state only, no global order.
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text): every input
    * doc exactly once — untouched docs pass through with n_removed =
    * 0, a fully-pasted doc survives as an empty string (dropping rows
    * is [[sharedSpans]]' caller's decision, not a side effect). */
  def removeSharedSpans(df: DataFrame, k: Int = 5, minSpanTokens: Int = 8,
                        maxDf: Int = 64): DataFrame = {
    require(k >= 2, "k-gram width must be >= 2")
    require(minSpanTokens >= k, "a detectable span is at least one gram")
    val toks = tokenized(df, k)
    val spans = diagonalRuns(toks, k, maxDf)
      .where(col("run") + lit(k - 1) >= minSpanTokens)
      .select(col("doc_b").as("doc_id"),
        (col("start_a") - col("diag")).as("start"),
        (col("start_a") - col("diag") + col("run") + lit(k - 2)).as("end"))
    val base = tokenized(df)
    val positioned = base
      .select(col("doc_id"),
        explode(expr("transform(toks, (t, i) -> struct(i AS pos, t AS tok))"))
          .as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.tok").as("tok"))
    val surviving = positioned.join(spans,
      positioned("doc_id") === spans("doc_id") &&
        col("pos") >= col("start") && col("pos") <= col("end"),
      "left_anti")
    val rebuilt = surviving.groupBy(col("doc_id"))
      .agg(count(col("tok")).as("__kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"), " ")
          .as("clean_text"))
    // join back to the full doc universe: a fully-excised doc must
    // survive as an empty row, not silently vanish from the corpus
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
