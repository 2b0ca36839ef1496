package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for LLM training-data pipelines over the
  * `documents` table: exact content dedup, MinHash+LSH near-dup,
  * exact n-gram Jaccard similarity join, and SimHash near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup shuffles once on the content hash — never on the
  *    text itself (the hash is 16 bytes; the text can be megabytes);
  *  - every near-dup path generates candidate pairs through a
  *    bucket equi-join (LSH bands / shingle postings / SimHash bytes),
  *    NEVER an all-pairs crossJoin: cost is Σ bucket² over near-empty
  *    buckets, not n²;
  *  - the shingle posting join drops shingles with document frequency
  *    above a cap — frequent shingles contribute quadratic pair blowup
  *    and no discriminative signal (standard similarity-join hygiene);
  *  - all hashing is md5-derived modular arithmetic (no JVM-private
  *    hash seeds), so signatures are bit-reproducible across engines
  *    and across Spark versions, and every operator is oracle-checkable.
  *
  * Every operator reads `docs` as (`doc_id`, `text`) and shingles word
  * 3-grams — the columns and the width the DuckDB twins in
  * [[graft.OracleSql]] hard-code.
  *
  * The capped set-similarity joins — [[jaccardPairs]],
  * [[weightedJaccardPairs]], [[containmentPairs]], and
  * [[tfidfCosinePairs]] over terms — are one skeleton of three private
  * parts, each operator being its measure's expressions over them:
  *  - `postings`: distinct (doc_id, shingle) rows, localCheckpoint'd.
  *    They feed FOUR consumers (the per-doc side table, the df cap and
  *    both self-join sides) and Spark cannot share a subplan across
  *    them — unmaterialized, the corpus is tokenized, shingled and
  *    distinct'd four times. The checkpoint pays one posting-sized
  *    write instead; postings are hashes, never text, so the write is
  *    the cheap side of that trade at any corpus size;
  *  - `pairAggregate`: the shingle-keyed self-join (`<` for the
  *    symmetric measures, `=!=` for containment) and the measure's
  *    own count/sum per pair;
  *  - `withDocSide`: one broadcast join of a per-doc side table (set
  *    size, weight sum, norm) onto one or both pair columns.
  * [[prefixFilterPairs]] reuses the postings and df steps but keeps its
  * own candidate join.
  */
object Dedup {

  /** Modulus shared with [[TextAnalysis.tokenHash]] / the DuckDB oracle. */
  val P: Long = 1000000007L

  /** Shingle width in tokens: the word 3-grams the oracle SQL hard-codes. */
  private val ShingleWidth: Int = 3

  /** Fixed MinHash permutation coefficients (a·x + b mod P). Sixteen
    * arbitrary odd constants < 1e9, hardcoded so Spark and the oracle
    * SQL (generated from this very table — see OracleSql) cannot
    * diverge. a·x < 1e9·(1e9+7) < 2^63 — no overflow. */
  val minhashCoeffs: Seq[(Long, Long)] = Seq(
    (472882049L, 291898331L), (741895677L, 143534567L),
    (383133641L, 876543211L), (611953003L, 34567891L),
    (259336153L, 723456789L), (937264937L, 512345677L),
    (104395303L, 998244353L), (817504243L, 67867967L),
    (472896689L, 315667321L), (533000389L, 782345699L),
    (694847539L, 24036583L), (359334085L, 645678911L),
    (275604541L, 858599503L), (749471123L, 430123457L),
    (982451653L, 176543219L), (622729787L, 90909091L))

  val numHashes: Int = minhashCoeffs.size
  val numBands: Int = 4
  val rowsPerBand: Int = numHashes / numBands

  /** Content identity for exact dedup: md5 of the raw text bytes.
    * 16 bytes shuffle-key instead of the document body. */
  def contentKey(text: Column): Column = md5(text.cast("binary"))

  /** Exact content dedup: one row survives per distinct text, chosen
    * deterministically (lowest id). Single shuffle on the 128-bit
    * content hash; no global sort. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(contentKey(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Word 3-gram shingles over a token array. Callers must filter
    * size(tokens) >= 3 first, as for any word n-grams below. */
  def shingles(tokens: Column): Column = wordGrams(tokens, ShingleWidth)

  /** Word n-grams over a token array (1-based element_at, mirroring
    * the oracle's 1-based list indexing). Callers must filter
    * size(tokens) >= n first: Spark's `sequence` runs backwards when
    * start > stop. */
  private def wordGrams(tokens: Column, n: Int): Column =
    transform(sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + lit(j))): _*))

  /** (doc_id, `__toks`) per doc. The token array MUST be materialized
    * behind its own projection: the gram lambda reads it n times per
    * element, and interpreted HOF lambdas re-evaluate child subtrees
    * per access — inlined, every shingle re-runs the whole regexp
    * tokenization (measured 7× slower at sf0.1). scaleOut runs BEFORE
    * the tokenize/shingle/md5 cascade: a one-row-group corpus file
    * otherwise evaluates the whole cascade in a single scan task
    * (graft.core.Par scaladoc; r19 opt, guide §2.5). */
  private def tokenRows(docs: DataFrame): DataFrame =
    // the doc_id self-alias is a Project of its own in some plans (q369)
    graft.core.Par.scaleOut(
        docs.select(col("doc_id").as("doc_id"), col("text").as("__txt")))
      .select(col("doc_id"), TextAnalysis.tokens(col("__txt")).as("__toks"))

  /** One row per (doc_id, shingle hash) — the codegen'd path all
    * near-dup operators build on. Higher-order lambdas are interpreted
    * in Spark (never codegen'd), so per-element folds cost a plan-tree
    * walk per shingle; here the only lambda builds the shingle STRING,
    * and md5/conv/mod run as scalar codegen'd expressions over the
    * exploded rows (measured 5-10× faster at sf0.1). The downstream
    * groupBy(doc_id) aggregates collapse map-side before any shuffle —
    * the exploded rows never cross the wire. */
  def explodedShingleHashes(docs: DataFrame): DataFrame = shingleRows(docs, modP = true)

  /** [[explodedShingleHashes]], or with the raw 56-bit hash when `modP`
    * is off (SimHash needs 32 independent bits). */
  private def shingleRows(docs: DataFrame, modP: Boolean): DataFrame = {
    val h56 = tokenHash56(col("__sh"))
    tokenRows(docs)
      .filter(size(col("__toks")) >= ShingleWidth)
      .select(col("doc_id"), explode(shingles(col("__toks"))).as("__sh"))
      .select(col("doc_id"), (if (modP) h56 % P else h56).as("shingle"))
  }

  /** Distinct (doc_id, shingle) postings, localCheckpoint'd — the
    * four-consumer materialization of the set-similarity skeleton
    * (header). */
  private def postings(docs: DataFrame): DataFrame =
    explodedShingleHashes(docs).distinct().localCheckpoint()

  /** (shingle, df): the document frequency of each posting shingle. */
  private def docFreq(posting: DataFrame): DataFrame =
    posting.groupBy(col("shingle")).agg(count(lit(1)).as("df"))

  /** The postings of shingles with df ≤ `maxDocFreq` — the Σ df²
    * governor applied before any self-join. */
  private def capped(posting: DataFrame, maxDocFreq: Long): DataFrame =
    posting.join(docFreq(posting).filter(col("df") <= maxDocFreq)
      .select("shingle"), "shingle")

  /** The key-joined pair aggregate of the set-similarity skeleton:
    * `side`'s self-join on `key` — `<` (each unordered pair once) for
    * symmetric measures, `=!=` (both orders) when `directed` — grouped
    * to one row per pair with its doc ids named `names` and the
    * measure's `aggs` over the `a` and `b` sides. */
  private def pairAggregate(side: DataFrame, key: String, directed: Boolean,
                            names: (String, String))(aggs: Column*): DataFrame = {
    val (a, b) = (col("a.doc_id"), col("b.doc_id"))
    side.as("a").join(side.as("b"),
        col(s"a.$key") === col(s"b.$key") && (if (directed) a =!= b else a < b))
      .groupBy(a.as(names._1), b.as(names._2))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Broadcast-joins the per-doc side table `side` (doc_id + values)
    * onto `pairs` once per end: each rename map sends doc_id to the
    * pair column it joins on, and the values to that end's names. */
  private def withDocSide(pairs: DataFrame, side: DataFrame,
                          ends: Map[String, String]*): DataFrame =
    ends.foldLeft(pairs)((p, end) =>
      p.join(broadcast(side.withColumnsRenamed(end)), end("doc_id")))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): over each doc's k-gram hash
    * sequence, slide a window of `w` starts and keep the window's
    * MINIMUM hash, rightmost position on ties (the paper's STANDARD
    * winnowing selection rule; "robust winnowing" is the paper's
    * density-reducing variant that prefers the previously selected
    * fingerprint on ties — not implemented here, and the guarantee
    * below holds for both) — a position-aware fingerprint set with the GUARANTEE
    * the sketch family (E5 minhash) deliberately trades away: any
    * shared substring of at least w + k − 1 tokens yields at least
    * one shared fingerprint, while expected density stays 2/(w+1) of
    * the k-grams. The span-level complement of E59/E126 (those hash
    * FIXED chunk grids / enumerate exact spans; winnowing is
    * grid-free with a detection floor) — the plagiarism/quote/mirror
    * detector a crawl-dedup policy runs between doc-level minhash and
    * full span enumeration.
    *
    * Docs with fewer than w k-grams (< w + k − 1 tokens) emit NO
    * fingerprints — stated; doc-level dedup (E4/E5) owns short docs.
    * Same hash as every shingle operator (md5-derived mod P — the
    * oracle-shared constant, Dedup.scala:30).
    *
    * Shape: tokens materialized behind a projection (the E5 HOF
    * note), one posexplode, one per-doc SLIDING window min (bounded
    * frame — O(w) per row, never the shrinking-frame O(n²) trap the
    * round-14 note pins), one distinct. Output ≈ 2n/(w+1) rows of
    * (id, hash, pos) — integers only, text never leaves the scan. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(w >= 1, "w must be >= 1")
    val grams = tokenRows(docs)
      .filter(size(col("__toks")) >= k + w - 1)
      .select(col("doc_id"), (size(col("__toks")) - (k - 1)).as("__ng"),
        posexplode(wordGrams(col("__toks"), k)).as(Seq("__pos", "__sh")))
      .select(col("doc_id"), col("__ng"), col("__pos"),
        (tokenHash56(col("__sh")) % P).as("__h"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__m", min(struct(col("__h").as("h"),
        (-col("__pos")).as("np"))).over(frame))
      .filter(col("__pos") <= col("__ng") - w) // full windows only
      .select(col("doc_id"), col("__m.h").as("fp_hash"),
        (-col("__m.np")).cast("long").as("fp_pos"))
      .distinct()
  }

  /** Winnowing match pairs: docs sharing fingerprint hashes, with the
    * count of DISTINCT shared fingerprints — the [[jaccardPairs]] Σdf²
    * governor applied at the fingerprint level (`maxDocFreq` drops
    * boilerplate fingerprints half the corpus carries BEFORE the
    * self-join; the guarantee then holds for content rarer than the
    * cap, stated). Join fanout per kept hash ≤ maxDocFreq², and
    * fingerprints are ~2/(w+1) of k-grams, so the pair join costs a
    * small fraction of E6's full posting join. */
  def winnowingPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                     maxDocFreq: Long = 50): DataFrame = {
    val fp = winnowingFingerprints(docs, k, w)
    val kept = fp.select(col("fp_hash"), col("doc_id")).distinct()
      .join(governedHashes(fp, maxDocFreq), Seq("fp_hash"))
    pairAggregate(kept, "fp_hash", directed = false, ("doc_a", "doc_b"))(
      count(lit(1)).as("n_shared"))
  }

  /** The fingerprint hashes carried by 2 to `maxDocFreq` docs — the
    * winnowing joins' df governor. */
  private def governedHashes(fp: DataFrame, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq < 2 cannot pair anything")
    fp.groupBy(col("fp_hash"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") <= maxDocFreq && col("__df") >= 2)
      .select(col("fp_hash"))
  }

  /** Winnowing span EXTENTS per matching pair — the report shape the
    * MOSS service actually serves (Schleimer et al. SIGMOD 2003 §5:
    * matches are presented as positioned regions, not bare counts):
    * for each doc pair sharing ≥ 2 governed fingerprints,
    * the shared-fingerprint count plus the matched POSITION extents
    * on both sides (min/max selected-k-gram position per doc,
    * 0-based token offsets). The winnowing guarantee positions at
    * least one shared fingerprint INSIDE any shared span of
    * ≥ w + k − 1 tokens, so [min_pos, max_pos + k − 1] brackets the
    * matched material; a pair sharing several DISJOINT spans
    * collapses to one bracket per side (extent, not segmentation —
    * stated; span SEGMENTATION is the E59/E126 chunk family's job).
    *
    * Same df governor as [[winnowingPairs]] (boilerplate fingerprints
    * dropped before the self-join, guarantee holds for content rarer
    * than the cap); `n_shared` counts DISTINCT shared hashes and
    * equals [[winnowingPairs]]'s count for the same pair (asserted in
    * DedupSpec). Join fanout per kept hash ≤ maxDocFreq occurrences
    * per side — the positions ride the same governed join, so cost is
    * a small constant over the pairs form. */
  def winnowingSpans(docs: DataFrame, k: Int = 3, w: Int = 4,
                     maxDocFreq: Long = 50): DataFrame = {
    val fp = winnowingFingerprints(docs, k, w)
    pairAggregate(fp.join(governedHashes(fp, maxDocFreq), Seq("fp_hash")),
        "fp_hash", directed = false, ("doc_a", "doc_b"))(
        countDistinct(col("a.fp_hash")).as("n_shared"),
        min(col("a.fp_pos")).as("a_min_pos"),
        max(col("a.fp_pos")).as("a_max_pos"),
        min(col("b.fp_pos")).as("b_min_pos"),
        max(col("b.fp_pos")).as("b_max_pos"))
      .filter(col("n_shared") >= 2L)
  }

  /** Per-doc MinHash signature via the exploded path: 16 codegen'd
    * `min` aggregates with map-side partial combine — the shuffle
    * carries one 16-long row per doc, not the shingles. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val mins = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("shingle") * lit(a) + lit(b)) % lit(P)).as(s"__m$i")
    }
    explodedShingleHashes(docs)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  private def bandKey(sig: Column, b: Int): Column =
    concat_ws("_", (1 to rowsPerBand).map(j =>
      element_at(sig, b * rowsPerBand + j)): _*)

  /** Banded signature rows (doc_id, sig, band, key) — the join-ready
    * form of a MinHash signature set, shared by the self-join pair
    * finder, the persisted index writer, and the incremental checker. */
  private def bandedSignatures(sigs: DataFrame): DataFrame = {
    val bandStructs = array((0 until numBands).map(b =>
      struct(lit(b).as("band"), bandKey(col("sig"), b).as("key"))): _*)
    sigs.select(col("doc_id"), col("sig"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Estimated Jaccard from two aligned signature columns: fraction of
    * matching positions. */
  private def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      lit(0), (acc, m) => acc + m).cast("double") / lit(numHashes.toDouble)

  /** LSH banding: near-dup candidate pairs via equi-join on
    * (band index, band key); estimated Jaccard = fraction of matching
    * signature positions. Two docs collide iff some band of
    * `rowsPerBand` consecutive minhashes is identical — collision
    * probability ≈ 1-(1-j^r)^b, steep around j ≈ 0.7 for 4×4.
    *
    * The join is on tiny keys and near-empty buckets: candidate
    * generation is linear in matches, not O(n²) — ON A BENIGN CORPUS.
    * The production corpus is not benign: crawl dedup's defining
    * input is the viral/mirrored page whose near-dup cluster GROWS
    * with corpus size, and every member of a clone cluster lands in
    * the SAME band buckets, so the ungoverned self-join is quadratic
    * in the cluster size (measured on a synthetic clone+boilerplate
    * corpus, `scripts/bench_scaling_r18.txt` and `.raw`: one 0.1·n
    * cluster drives candidate pairs ×15.2 per ×4 docs — the exact
    * analogue of the correlated-hyperplane skew the ANN bench caught
    * in round 17, here caused by the DATA, which no hash fix can
    * remove).
    *
    * `maxBucket` is the governor (the E6 maxDocFreq analogue at the
    * band-bucket level): a (band, key) bucket with more than
    * `maxBucket` docs contributes its id-sorted ADJACENT CHAIN
    * (b − 1 pairs) instead of all C(b, 2) — linear in the bucket.
    * Chaining preserves what the dedup consumer (componentLabels)
    * needs: a TRUE near-dup cluster's members are pairwise similar,
    * so every chain edge passes the estimate threshold and the
    * component still merges whole; a boilerplate-collision bucket's
    * chain edges fail the threshold and vanish — at linear instead
    * of quadratic cost. The trade, stated: PAIR-level output through
    * an oversized bucket under-reports (a pair surfaces only if
    * id-adjacent there, or colliding in some governed bucket) and a
    * mixed oversized bucket may miss a true pair whose members are
    * not adjacent — under-reports, never inflates, the family's
    * governor contract. Candidate volume is bounded by
    * n·bands·maxBucket/2 + n·bands — cap-linear in n. Oversized
    * buckets are window partitions (one sort each, spill-safe), and
    * the window's (band, key) hash partitioning is exactly the
    * self-join's, so the exchange is reused. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5,
                   maxBucket: Long = 1000): DataFrame = {
    require(maxBucket >= 2, "maxBucket < 2 cannot pair anything")
    // Both self-join sides consume the banded signatures; without
    // materialization the corpus is tokenized, shingled, and
    // min-hashed twice. The signatures are 128 B/doc — the cheapest
    // possible thing to localCheckpoint against a petabyte re-read
    // (the same economics that make the PERSISTED index pay,
    // writeSignatureIndex below). On the 500-doc harness corpus the
    // checkpoint write is a ~10% wash (pairwiseCorr's documented
    // trade); at corpus scale the saved re-read dominates.
    val bands = bandedSignatures(minhashSignatures(docs)).localCheckpoint()
    val wCnt = Window.partitionBy(col("band"), col("key"))
    val wOrd = Window.partitionBy(col("band"), col("key"))
      .orderBy(col("doc_id"))
    val sized = bands.withColumn("__bn", count(lit(1)).over(wCnt))
    val small = sized.filter(col("__bn") <= maxBucket)
      .select("doc_id", "sig", "band", "key")
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    val chained = sized.filter(col("__bn") > maxBucket)
      .withColumn("__nd", lead(col("doc_id"), 1).over(wOrd))
      .withColumn("__ns", lead(col("sig"), 1).over(wOrd))
      .filter(col("__nd").isNotNull)
      .select(col("doc_id").as("doc_a"), col("__nd").as("doc_b"),
        col("sig").as("sig_a"), col("__ns").as("sig_b"))
    val pairs = allPairs.unionByName(chained)
      .distinct() // a pair may collide in several bands
    pairs
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Persist the banded MinHash signature index of a corpus: one row
    * per (doc_id, band, key) with the full signature, partitioned by
    * band. This is the artifact an INCREMENTAL dedup pipeline keeps
    * between runs — the corpus text is read once, ever; every later
    * batch joins against 128 bytes/doc of signatures instead of
    * re-shingling petabytes ([[incrementalNearDups]]). */
  def writeSignatureIndex(docs: DataFrame, path: String): Unit =
    bandedSignatures(minhashSignatures(docs))
      .write.mode("overwrite").partitionBy("band").parquet(path)

  /** Absorb a new batch into an existing signature index: the batch is
    * signed (one pass over the batch text) and its signature rows are
    * APPENDED into the same band-partitioned layout — a dynamic
    * partition append that adds files under each `band=` dir without
    * rewriting history. Index-after-append is row-identical to
    * rebuilding the index over the union (asserted in DedupSpec), so
    * the daily cycle is: [[incrementalNearDups]] the batch against the
    * index, keep the survivors, append exactly those — per-day cost
    * scales with the batch forever. The caller sequence is
    * single-writer, like every sink in this store. */
  def appendSignatureIndex(docs: DataFrame, path: String): Unit =
    bandedSignatures(minhashSignatures(docs))
      .write.mode("append").partitionBy("band").parquet(path)

  /** Compact a persisted signature index to the [[minhashPairs]]
    * governor's bound: keep at most `maxBucket` rows per (band, key)
    * — the LOWEST doc_ids, the deterministic representatives — and
    * rewrite the index in place. This is the index-hygiene step for
    * an index built over an UNGOVERNED corpus
    * ([[incrementalNearDups]]'s stated skew exposure): a hot bucket —
    * a clone cluster that grew with the corpus — costs |bucket|
    * comparisons per batch doc that lands in it; after compaction at
    * most `maxBucket`, while DETECTION is preserved for the case that
    * matters: a batch doc colliding with a true clone cluster
    * collides with the kept representatives (cluster members are
    * near-identical, so the lowest-id members carry the same band
    * keys the dropped ones did). Detection through a MIXED oversized
    * bucket survives only for pairs whose indexed side was kept —
    * under-reports, never invents, the family governor contract.
    * Pair results name a kept representative rather than an arbitrary
    * cluster member — the verdict ("this batch doc duplicates that
    * cluster") is unchanged.
    *
    * Shape: one window (row_number per bucket, already the index's
    * band-partitioned layout on disk), rewrite band-partitioned; the
    * compacted rows are localCheckpoint'd first — the lineage-cut
    * the overwrite-while-reading device requires (the Upsert staging
    * convention). Returns the kept row count. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, maxBucket: Long = 1000): Long = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val idx = spark.read.parquet(path)
    val w = Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))
    val kept = idx.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket).drop("__rn")
      .localCheckpoint()
    kept.write.mode("overwrite").partitionBy("band").parquet(path)
    kept.count()
  }

  /** Incremental near-dup check: new docs vs a persisted signature
    * index, WITHOUT touching the indexed corpus text. The new batch is
    * signed (one pass over the batch), then band-bucket equi-joined
    * against the index — the same linear-in-matches candidate
    * generation as [[minhashPairs]], with the corpus side reduced to
    * its signatures. Cost scales with the batch, not the corpus: the
    * daily ingest of a training-data pipeline dedups against years of
    * history for the price of a bucketed join.
    *
    * Returns (doc_a = indexed corpus doc, doc_b = new doc,
    * est_jaccard), the exact cross-boundary slice of what
    * [[minhashPairs]] over the union would report (asserted in
    * DedupSpec; oracled by q85). doc_a is ALWAYS the indexed side.
    * A re-ingested doc whose id is already in the index is not a
    * near-dup of itself — the self-pair is filtered; if the id spaces
    * otherwise overlap, a genuine pair present on both sides surfaces
    * once per side (keep batch ids disjoint from index ids to avoid
    * mirrored pairs).
    *
    * Skew exposure, stated (the [[minhashPairs]] maxBucket governor's
    * sibling): a HOT index bucket — a viral page's clone cluster that
    * grew with the corpus — costs |bucket| comparisons per batch doc
    * that lands in it, so per-batch cost is batch-scaled only while
    * index buckets stay bounded. The incremental contract makes the
    * mitigation an INDEX hygiene step, not a per-query one: a batch
    * doc matching a hot cluster is itself deduped away (never
    * appended), so governed pipelines' indexes grow one
    * representative per cluster and hot buckets cannot form from
    * dedup survivors; an index built from an UNgoverned corpus should
    * be compacted (keep maxBucket rows per (band, key)) before
    * incremental use. */
  def incrementalNearDups(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, newDocs: DataFrame,
                          threshold: Double = 0.5): DataFrame = {
    val idx = spark.read.parquet(indexPath)
    val nb = bandedSignatures(minhashSignatures(newDocs))
    idx.as("a").join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Exact n-gram Jaccard similarity join via shingle postings
    * (inverted index): explode distinct shingles, equi-join on the
    * shingle, count common shingles per pair, Jaccard from the
    * inclusion–exclusion identity. Shingles with document frequency
    * above `maxDocFreq` are dropped before the join (quadratic pair
    * blowup, no signal) — the df cap is part of the operator contract
    * and mirrored in the oracle. */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.8,
                   maxDocFreq: Long = 100): DataFrame = {
    // per-doc set sizes are a 1-row-per-doc side table, broadcast back
    // onto the pair aggregate instead of riding through the self-join
    val posting = postings(docs)
    val sizes = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = pairAggregate(capped(posting, maxDocFreq), "shingle",
      directed = false, ("doc_a", "doc_b"))(count(lit(1)).as("common"))
    withDocSide(common, sizes, Map("doc_id" -> "doc_a", "n_sh" -> "n_a"),
        Map("doc_id" -> "doc_b", "n_sh" -> "n_b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** IDF-weighted Jaccard pairs — the soft-dedup refinement of
    * [[jaccardPairs]] for template-heavy corpora: plain Jaccard
    * weighs the boilerplate shingle ("all rights reserved …") the
    * same as the distinctive one, so two different articles in one
    * site template score high and two true near-dups differing only
    * in template score low. Weighted Jaccard Σ_{s∈A∩B} w(s) /
    * Σ_{s∈A∪B} w(s) with w = the corpus IDF fixes both directions;
    * w is the EXACT floor-log2 bit length of N div df (the E156
    * device — integer, engine-identical), so ubiquitous shingles
    * (df = N ⇒ w = 0) vanish from numerator AND denominator: the
    * template literally does not exist for this measure.
    *
    * Plan: the q19 skeleton (header) with the weight table
    * (vocabulary-bounded, one 1-row N broadcast) joined on and the
    * per-doc weight sums as the side table. Zero-weight shingles are
    * pruned BEFORE the self-join — a value-neutral filter (they
    * contribute 0) that also removes exactly the hottest keys. The
    * df cap makes the weighted common a LOWER bound while the
    * per-doc weight sums stay full: capped similarity under-reports,
    * never inflates
    * (the q19 governor contract). */
  def weightedJaccardPairs(docs: DataFrame, tauPermille: Long = 500,
                           maxDocFreq: Long = 100): DataFrame = {
    val posting = postings(docs)
    val nd = posting.agg(countDistinct(col("doc_id")).as("__nd"))
    val weights = docFreq(posting).crossJoin(broadcast(nd))
      .withColumn("w", (length(bin(expr("__nd div df"))) - 1).cast("long"))
      .select(col("shingle"), col("df"), col("w"))
    val wsizes = posting.join(weights.select("shingle", "w"), "shingle")
      .groupBy(col("doc_id")).agg(sum(col("w")).as("wsum"))
    val filtered = posting.join(
      weights.filter(col("df") <= maxDocFreq && col("w") > 0)
        .select(col("shingle"), col("w")), "shingle")
    val common = pairAggregate(filtered, "shingle", directed = false,
      ("doc_a", "doc_b"))(sum(col("a.w")).as("weighted_common"))
    withDocSide(common, wsizes, Map("doc_id" -> "doc_a", "wsum" -> "__wa"),
        Map("doc_id" -> "doc_b", "wsum" -> "__wb"))
      .withColumn("sim_permille", expr(
        "(weighted_common * 1000) div (__wa + __wb - weighted_common)"))
      .filter(col("sim_permille") >= tauPermille)
      .select(col("doc_a"), col("doc_b"), col("weighted_common"),
        col("sim_permille"))
  }

  /** Asymmetric shingle CONTAINMENT pairs — the sub-document capture
    * detector Jaccard structurally misses: a 40-token quote fully
    * pasted inside a 4000-token page has Jaccard ≈ 0.01 (union is the
    * big doc) but containment 1.0 from the quote's side. Containment
    * C(a→b) = |S(a) ∩ S(b)| / |S(a)| (Broder's resemblance/containment
    * split, SEQUENCES 1997) is what excerpt/wrapper/quote audits and
    * keep-the-superset dedup policies actually need; emitted as an
    * EXACT integer permille (floor div — engines can't disagree),
    * both directions of a pair surfacing independently.
    *
    * Shape: the [[jaccardPairs]] skeleton (header), except the
    * self-join keeps BOTH orders (`=!=`, not `<`) since
    * the measure is directional — candidate volume is 2× q19's, same
    * Σ df² governor. The df cap makes `common` a LOWER bound when a
    * hot shingle is dropped while `n_contained` counts the full set:
    * capped containment under-reports, never inflates — the safe
    * direction for a removal gate (the q19 governor contract).
    *
    * Returns (contained, container, common, n_contained,
    * containment_permille ≥ minPermille). */
  def containmentPairs(docs: DataFrame, minPermille: Long = 600,
                       maxDocFreq: Long = 100): DataFrame = {
    val posting = postings(docs)
    val sizes = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_contained"))
    val common = pairAggregate(capped(posting, maxDocFreq), "shingle",
      directed = true, ("contained", "container"))(count(lit(1)).as("common"))
    withDocSide(common, sizes, Map("doc_id" -> "contained"))
      .withColumn("containment_permille",
        expr("(common * 1000) div n_contained"))
      .filter(col("containment_permille") >= minPermille)
      .select("contained", "container", "common", "n_contained",
        "containment_permille")
  }

  /** Connected components over a near-dup pair graph via accelerated
    * min-label propagation. Three relaxations per round, each one
    * hash join + a shared partial aggregate:
    *
    *  1. EDGES: label flows across each undirected edge (the plain
    *     propagation — O(diameter) alone).
    *  2. POINTER JUMP: label(v) also relaxes to label(label(v)) —
    *     a label is itself a node id, so one labels⋈labels self-join
    *     halves pointer-chain depth per round (the E188 device).
    *  3. PARENT NOTIFY (hash-to-min's other half, Rastogi et al.
    *     ICDE 2013): a node whose label DROPPED tells its FORMER
    *     label the new minimum. Without this, jump-only propagation
    *     degenerates at region merges: a stabilized region is a
    *     depth-1 star (every pointer at the regional min), so a
    *     smaller min arriving at the boundary floods at EDGE speed —
    *     measured live on q255's sf0.1 match graph as a long
    *     constant-trickle phase (183 changes/round for 7+ rounds,
    *     >40 rounds total). With notify, the boundary node's old hub
    *     hears the new min in one round and its whole star re-points
    *     through jump the round after: 13 rounds on the same graph.
    *     Sound for UNDIRECTED components because every label value
    *     names a node of the same component (NOT valid for the
    *     directed ancestor-min in [[graft.graph.LinkGraph]], where a
    *     node's old and new labels need not reach one another).
    *
    * Monotone per node and bounded below, so the fixpoint exists; at
    * fixpoint labels are edge-constant, hence component-constant, and
    * the component min never disappears — labels = component min.
    * Per-round materialization is [[graft.core.Iterate.barrier]], NOT
    * plain localCheckpoint: the multi-branch union TRIPLES the
    * inherited size-estimate digit count per round and by round ~12
    * the driver stalls multiplying million-digit BigIntegers inside
    * stats estimation (caught live on q255 at sf0.1; measured in
    * Iterate's scaladoc). Returns (node, label = min id of the
    * component). */
  def componentLabels(pairs: DataFrame, maxIterations: Int = 20): DataFrame =
    labelComponents(pairs, "doc_a", "doc_b", maxIterations)

  /** [[componentLabels]] over the pair columns `aCol` and `bCol`. */
  private def labelComponents(pairs: DataFrame, aCol: String, bCol: String,
                              maxIterations: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    // seed via barrierCounted: the node count rides the seed's own
    // materialization for free; labels carry exactly one row per node
    // every round, so the count is loop-invariant and drives the
    // per-round broadcast decision (Iterate.broadcastIfSmall)
    val (labels0, nNodes) = graft.core.Iterate.barrierCounted(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), lit(true))
    // no checkpoint on the empty seed notices: materializing a frame
    // that is empty BY CONSTRUCTION cost one job per call (r19 opt);
    // round 1's barrier evaluates the filter(false) at filter cost
    val notices0 = labels0.filter(lit(false)).select(col("node"), col("label"))
    // State: (labels, notices, converged).
    graft.core.Iterate.fixpoint((labels0, notices0, false), maxIterations,
        s"componentLabels did not converge in $maxIterations rounds " +
          "(far beyond any real component's need under jump + notify " +
          "acceleration — this indicates a bug, not a data property)")(
        _._3) { case ((labels, notices, _), _) =>
      // One fused round (graft.core.Iterate.minLabelRound, r19 opt)
      // over R = edges ∪ notify ∪ pointer ∪ self:
      //   edges      (src, dst)       -> neighbor labels
      //   notify     (changed v, its former label)
      //              -> the former parent hears the new min in one
      //                 round (Rastogi et al. ICDE 2013; the changed
      //                 node's CURRENT label is exactly the value the
      //                 old notice rows carried)
      // Below the broadcast floor (nNodes, measured at the seed) the
      // labels side broadcasts, so the round's only exchange is the
      // (d) aggregate: the edge/pointer/notify relation — the BIG side
      // at scale — never shuffles for the join.
      val (next, nChanged) = graft.core.Iterate.minLabelRound(
        edges.select(col("src").as("s"), col("dst").as("d"))
          .union(notices.select(col("node").as("s"), col("label").as("d"))),
        labels, nNodes)
      (next.select("node", "label"),
        next.filter(col("label") =!= col("__old"))
          .select(col("node"), col("__old").as("label")),
        nChanged == 0L)
    }._1
  }

  /** Transitive-CHAINING audit over near-dup components — the known
    * failure mode of connected-component dedup grouping (Leskovec,
    * Rajaraman & Ullman, *Mining of Massive Datasets* §3; observed in
    * production corpus dedups, e.g. The Stack's near-dedup report,
    * arXiv:2301.03988): A~B and B~C put A and C in one component with
    * NO evidence A~C, so a long chain merges documents that share
    * nothing, and keep-one-per-component silently drops distinct
    * content. Per component of `pairs` (any frame with two id columns
    * and a similarity — E5 minhash pairs, E6/E234 exact Jaccard):
    * size, edge count, the TREE flag (n_edges = n_docs − 1: zero
    * redundancy — every merge hangs on a single edge, the maximal
    * chaining-risk shape; a clique has n(n−1)/2), edge density in e6,
    * and min/mean edge similarity in e6 — a big low-density
    * low-min-sim component is the one to re-verify (E270's
    * threshold-sensitivity audit is the knob to turn next; E102's
    * keep-BEST survivor picking is the mitigation).
    *
    * Exactness: similarities floor to e6 BEFORE aggregation (floor of
    * an exact dyadic double is engine-identical; sums then ride
    * DECIMAL(38,0) — e6·|edges| overflows int64 at 100 TB); density =
    * 2e·10^6 div n(n−1) in DECIMAL. Shape: [[componentLabels]]'s
    * fixpoint (its cost dominates and is already measured), one
    * edge→label equi-join (edges carry only ids + one e6 integer —
    * never text), two label-keyed aggregates, one label join. */
  def chainingAudit(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    val labels = componentLabels(pairs, maxIterations)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
    val edges = pairs
      .select(col("doc_a").as("node"),
        expr("CAST(floor(est_jaccard * 1000000) AS BIGINT)").as("__sim_e6"))
      .join(labels, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("__sim_e6")).as("min_sim_e6"),
        expr("CAST(sum(CAST(__sim_e6 AS DECIMAL(38,0)))" +
          " div CAST(count(1) AS DECIMAL(38,0)) AS BIGINT)")
          .as("mean_sim_e6"))
    sizes.join(edges, Seq("label"))
      .select(col("label"), col("n_docs"), col("n_edges"),
        (col("n_edges") === col("n_docs") - 1).as("is_tree"),
        expr("CAST((CAST(n_edges AS DECIMAL(38,0)) * 2000000)" +
          " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("density_e6"),
        col("min_sim_e6"), col("mean_sim_e6"))
  }

  /** INCREMENTAL connected-component maintenance — the append-path
    * complement to [[componentLabels]], the same way E71/E72 make
    * minhash incremental: a new batch of near-dup edges must not
    * recompute components over years of corpus. The union-find batch
    * merge: (1) components TOUCHED by the batch are identified via
    * their labels; (2) a REDUCED graph is built from the new edges
    * plus one star edge (member → label) per affected member — stars
    * preserve exactly the old connectivity, so relabeling the reduced
    * graph computes the correct merged min-labels; (3) untouched
    * components pass through by anti-join, never re-read.
    *
    * Work is ∝ batch size + affected-component membership — NOT
    * corpus size; label stability (min node id, [[componentLabels]]'s
    * contract) means unaffected labels are bit-identical, so the
    * CONTRACT is full recomputation over the edge union — which is
    * exactly what the oracle checks (the q49 discipline). Iterations
    * bound the reduced graph's diameter, which star-compression keeps
    * ≈ batch diameter + 2. */
  def incrementalComponents(prevLabels: DataFrame, newEdges: DataFrame,
                            maxIterations: Int = 20): DataFrame = {
    val ne = newEdges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val touched = ne.select(col("a").as("node"))
      .union(ne.select(col("b").as("node"))).distinct()
    val prev = prevLabels.select(col("node"), col("label"))
    val touchedLabels = prev.join(touched, "node")
      .select(col("label")).distinct()
    val affected = prev.join(touchedLabels, "label")
    val starEdges = affected.filter(col("node") =!= col("label"))
      .select(col("node").as("a"), col("label").as("b"))
    val relabeled = labelComponents(
      ne.unionByName(starEdges), "a", "b", maxIterations)
    val untouched = prev.join(affected.select(col("node")),
      Seq("node"), "left_anti")
    untouched.unionByName(relabeled)
  }

  /** Near-dup REMOVAL (the operator a training-data pipeline actually
    * runs): given candidate pairs, drop every doc whose component
    * contains a smaller doc_id — one canonical survivor per near-dup
    * cluster, all unpaired docs untouched. */
  def dropNearDups(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val removed = componentLabels(pairs)
      .filter(col("label") < col("node"))
      .select(col("node").as("doc_id"))
    docs.join(removed, Seq("doc_id"), "left_anti")
  }

  /** Dedup IMPACT report — what near-dup removal did to the corpus
    * MIXTURE, per group (source/domain/language): doc and weight mass
    * before and after [[dropNearDups]], the removal count, and each
    * group's permille share of both corpora. Near-dup removal is not
    * mixture-neutral — mirrored/syndicated sources (the E311 signal)
    * lose disproportionately, so a mixture tuned pre-dedup (E64/E263)
    * silently shifts; this is the report that says BY HOW MUCH, per
    * group, before anyone re-tunes. Exact integers: DECIMAL(38,0)
    * share arithmetic, empty-after corpus → NULL shares (never a
    * division error); groups fully removed keep their row with
    * zeros (left join — the audit stance).
    *
    * Cost = the E27 fixpoint it composes with + two group-keyed
    * aggregates and a bounded group join; the weight is `n_chars`,
    * which rides the scan (never text). */
  def dedupImpact(docs: DataFrame, pairs: DataFrame, groupCol: String): DataFrame = {
    def roll(df: DataFrame, n: String, w: String) =
      df.groupBy(col(groupCol)).agg(count(lit(1)).as(n),
        sum(col("n_chars")).as(w))
    val before = roll(docs, "docs_before", "weight_before")
    val after = roll(dropNearDups(docs, pairs),
      "docs_after", "weight_after")
    val joined = before.join(after, Seq(groupCol), "left")
      .select(col(groupCol), col("docs_before"),
        coalesce(col("docs_after"), lit(0L)).as("docs_after"),
        col("weight_before"),
        coalesce(col("weight_after"), lit(0L)).as("weight_after"))
    val tot = joined.agg(sum(col("docs_before")).as("__tb"),
      sum(col("docs_after")).as("__ta"))
    joined.crossJoin(broadcast(tot))
      .select(col(groupCol), col("docs_before"), col("docs_after"),
        (col("docs_before") - col("docs_after")).as("docs_removed"),
        col("weight_before"), col("weight_after"),
        expr("CAST((CAST(docs_before AS DECIMAL(38,0)) * 1000)" +
          " div CAST(__tb AS DECIMAL(38,0)) AS BIGINT)")
          .as("share_before_permille"),
        expr("CASE WHEN __ta = 0 THEN CAST(NULL AS BIGINT) ELSE " +
          "CAST((CAST(docs_after AS DECIMAL(38,0)) * 1000)" +
          " div CAST(__ta AS DECIMAL(38,0)) AS BIGINT) END")
          .as("share_after_permille"))
  }

  /** QUALITY-AWARE survivor selection: per near-dup cluster keep the
    * highest-`score` document (ties → smallest id) instead of
    * [[dropNearDups]]'s smallest-id-wins. This is what production
    * pipelines actually run — near-duplicates differ in truncation,
    * boilerplate, and OCR noise, and keep-first throws away the clean
    * copy whenever the mutilated one was crawled earlier (RefinedWeb
    * arXiv:2306.01116 keeps by quality signals; `score` is typically
    * [[graft.text.TextAnalysis.qualityScore]] or plain text length).
    *
    * Returns a full per-row audit (doc_id, cluster, score, kept) —
    * every doc surfaces with its verdict, unpaired docs as their own
    * kept singleton cluster (the E73 audit contract).
    *
    * Scale: cluster labels and both argmax aggregations run only over
    * docs that participate in a pair — bounded by the near-dup set,
    * tiny vs the corpus — so the two joins back onto the scored
    * corpus are AQE-broadcastable; the corpus itself is scanned once
    * for the score projection. The argmax is deterministic under any
    * partitioning: a max-score aggregate, then a NULL-SAFE equality
    * filter (`<=>` — an all-NULL-score cluster degrades to keep-first
    * rather than keeping nobody) and a min-id tiebreak — never
    * `max_by`, whose tie choice is partitioning-dependent. */
  def keepBestAudit(docs: DataFrame, pairs: DataFrame, score: Column): DataFrame = {
    val labels = componentLabels(pairs).withColumnRenamed("node", "doc_id")
    val scored = docs.select(col("doc_id"), score.as("score"))
    val paired = scored.join(labels, Seq("doc_id"), "inner")
    val best = paired
      .groupBy(col("label")).agg(max(col("score")).as("__mx"))
      .join(paired, Seq("label"))
      .filter(col("score") <=> col("__mx"))
      .groupBy(col("label")).agg(min(col("doc_id")).as("__keep"))
      .withColumnRenamed("label", "cluster")
    scored.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .drop("label")
      .join(best, Seq("cluster"), "left")
      .select(col("doc_id"), col("cluster"), col("score"),
        coalesce(col("doc_id") === col("__keep"), lit(true)).as("kept"))
  }

  /** Filtering form of [[keepBestAudit]]: the full `docs` rows, minus
    * every near-duplicate that lost its cluster's quality vote. */
  def dropNearDupsKeepBest(docs: DataFrame, pairs: DataFrame,
                           score: Column): DataFrame = {
    val losers = keepBestAudit(docs, pairs, score)
      .filter(!col("kept")).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Leakage-safe train/eval split: every near-dup CLUSTER lands
    * atomically on one side, so no eval doc has a near-duplicate in
    * train (the leakage a doc-level hash split silently allows — a
    * cloned document straddling the split inflates eval scores).
    * Cluster identity = connected-component label over `pairs` (min
    * doc_id), a doc's own id when unpaired; side = md5 hash of the
    * CLUSTER id vs `evalPermyriad`/10000 (the [[graft.etl.Sampling]]
    * value-hash contract: membership is a pure function of the data —
    * stable across partitionings, engines, and incremental runs).
    *
    * Scale: the label table is bounded by docs that participate in a
    * near-dup pair (tiny vs the corpus); everything else is one keyed
    * join + a projection. Returns docs + (cluster, split). */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       evalPermyriad: Int): DataFrame = {
    require(evalPermyriad >= 0 && evalPermyriad <= 10000,
      "evalPermyriad must be in [0, 10000]")
    val labels = componentLabels(pairs).withColumnRenamed("node", "doc_id")
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .drop("label")
      .withColumn("split",
        when(graft.etl.Sampling.keyHash(col("cluster")) % 10000 < evalPermyriad,
          lit("eval")).otherwise(lit("train")))
  }

  /** Benchmark-contamination scoring (the train/eval overlap gate a
    * training-data pipeline runs before shipping a corpus): for each
    * training doc, the fraction of its distinct word n-gram shingles
    * that appear anywhere in the benchmark set.
    *
    * Shape: both sides reduce to distinct (doc, shingle-hash) postings;
    * the benchmark's distinct shingle set (small — eval suites are
    * thousands of docs, not billions) broadcast-joins against the
    * training postings; one aggregation per training doc. The training
    * corpus never self-joins and its text never shuffles — per-doc
    * cost is its shingle count, total cost one pass.
    *
    * Returns (doc_id, n_shingles, n_contaminated, contamination) for
    * every training doc long enough to shingle. */
  def contaminationScores(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val trainPosting = explodedShingleHashes(train).distinct()
    val benchShingles = explodedShingleHashes(benchmark)
      .select("shingle").distinct()
    val hits = trainPosting.join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    trainPosting.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /** First-occurrence novelty scoring — the dataset-freshness audit
    * run when APPENDING to a corpus ("how much of this batch is
    * genuinely new text?"): per doc, the fraction of its DISTINCT
    * shingles whose first occurrence (minimum doc id across the
    * corpus — the ingestion-order proxy, stated) is the doc itself.
    * A mirror dump scores near zero; fresh content near one — the
    * corpus-level counterpart of [[contaminationScores]]'s
    * benchmark-overlap question, with the corpus itself as the
    * reference.
    *
    * Scale shape: the standard distinct postings frame + ONE
    * shingle-keyed min aggregate + one postings-sized join back —
    * no self-join anywhere, so no df-cap is needed (the governor
    * exists for pair enumeration; a per-shingle min is a plain agg).
    * Docs too short to shingle are absent (the postings contract).
    * Returns (doc_id, n_shingles, n_novel, novelty_permille). */
  def noveltyScores(docs: DataFrame): DataFrame = {
    val posting = explodedShingleHashes(docs).distinct()
    val first = posting.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("__first"))
    posting.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("doc_id") === col("__first"), 1)).as("n_novel"))
      .withColumn("novelty_permille", expr("(n_novel * 1000) div n_shingles"))
  }

  /** Near-dup index-quality evaluation — the TEXT twin of the ANN
    * recall@k audit (E80): precision/recall of [[minhashPairs]]'s
    * banded candidates against [[jaccardPairs]]'s exact pairs at the
    * SAME threshold, as exact integer permilles. This is the
    * measurement that justifies (or indicts) the LSH band/row
    * configuration before anyone trusts a 100 TB dedup run to it:
    * recall says what the bands miss, precision what the signature
    * estimate hallucinates past the threshold.
    *
    * Ground truth is the df-capped exact join (the deployed
    * system's own governor — stated: this evaluates the system as
    * built, hot-shingle truncation included). Diagnostics shape, not
    * production: both pipelines scan the corpus (run on a sample at
    * scale); the final report is ONE row via a pair-keyed full outer
    * join + one aggregate. */
  def nearDupEval(docs: DataFrame, threshold: Double = 0.5,
                  maxDocFreq: Long = 100): DataFrame = {
    val est = minhashPairs(docs, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__e"))
    val exact = jaccardPairs(docs, threshold, maxDocFreq)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__x"))
    est.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("__e")).as("n_est"),
        count(col("__x")).as("n_exact"),
        count(when(col("__e").isNotNull && col("__x").isNotNull, 1)).as("tp"))
      .select(col("n_est"), col("n_exact"), col("tp"),
        (col("n_est") - col("tp")).as("fp"),
        (col("n_exact") - col("tp")).as("fn"),
        when(col("n_est") > 0, expr("(tp * 1000) div n_est"))
          .as("precision_permille"),
        when(col("n_exact") > 0, expr("(tp * 1000) div n_exact"))
          .as("recall_permille"))
  }

  /** Content-defined chunking (LBFS/rsync boundaries — see
    * [[graft.functions.ContentChunkUtil]]) exploded to a chunk-hash
    * table: (doc, chunk_idx, start, len, chunk_md5). The
    * insertion-robust complement to E59's FIXED-size chunk dedup:
    * one inserted byte shifts every fixed chunk's offset (nothing
    * matches afterwards) but re-aligns content-defined boundaries
    * within one hash window — cross-corpus chunk-hash matching then
    * still finds everything past the edit. Downstream: group by
    * chunk_md5 for sub-document dedup, or diff two corpus versions
    * chunk-wise (the backup-dedup pattern). Scan-side expression +
    * one explode; ASCII contract stated (byte == char keeps SQL
    * substr and byte windows aligned). */
  def contentChunks(docs: DataFrame, divisor: Int = 64): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ContentChunkFunctions.contentChunks(
          col("text"), divisor)).as("c"),
        col("text"))
      .select(col("doc_id"),
        col("c.chunk_idx").as("chunk_idx"),
        col("c.start").as("start"), col("c.len").as("len"),
        md5(col("text").substr(col("c.start") + 1, col("c.len"))
          .cast("binary")).as("chunk_md5"))

  /** TF-IDF cosine document-pair similarity — the TERM-WEIGHTED member
    * of the pair-join family: [[jaccardPairs]] treats every shingle
    * equally (set overlap), [[graft.similarity.Similarity]] needs an
    * embedding; tf·idf cosine is the classic sparse-vector middle
    * ground (Salton's vector space model) that finds topical
    * near-dups sharing RARE vocabulary even when common words differ.
    *
    * Determinism: the transcendental ln-idf is replaced by the
    * floor-rational `idf_e2 = (100·N) DIV df` (the [[
    * graft.text.TextAnalysis.tfIdfTopK]] discipline, e2 not e6 so the
    * squared products stay small); weights `w = tf·idf_e2` are exact
    * BIGINTs and the emitted score is `cos²` in ppm — `cos2_ppm =
    * (dot² · 10⁶) div (‖a‖²·‖b‖²)` — a pure integer function of the
    * row multiset. cos² is strictly monotone in cos for nonnegative
    * weights, so thresholding on it IS thresholding on cosine
    * (minCos2Ppm 250_000 ≡ cos ≥ 0.5) without any engine sqrt.
    *
    * Exactness bound: per-doc ‖w‖² < 10¹⁵ (any bounded-length doc —
    * ‖w‖² ≈ Σ(tf·idf_e2)²); Cauchy–Schwarz then bounds every dot ≤
    * 10¹⁵, so dot²·10⁶ ≤ 10³⁶ and ‖a‖²·‖b‖² ≤ 10³⁰ — inside both
    * Spark DECIMAL(38,0) and DuckDB HUGEINT, no silent wrap.
    *
    * Shape at 100 TB: the [[jaccardPairs]] skeleton (header) over
    * terms — the weighted postings frame is localCheckpoint-
    * materialized (it feeds the norms and both self-join sides),
    * pair enumeration runs ONLY over terms with
    * `df ≤ maxDocFreq` (the Σ df² governor — stopwords never join),
    * norms are computed over ALL terms and broadcast back, so a
    * capped dot UNDER-reports cosine, never inflates — the safe
    * direction for a dedup gate (the [[containmentPairs]] contract).
    * After the first explode only (doc, term-hash-sized) counts move.
    *
    * Returns (doc_a < doc_b, n_common, cos2_ppm ≥ minCos2Ppm). */
  def tfidfCosinePairs(docs: DataFrame, minCos2Ppm: Long = 250000L,
                       maxDocFreq: Long = 100): DataFrame = {
    val tfRaw = TextAnalysis.withTokens(docs)
      .select(col("doc_id").as("doc_id"), explode(col("tokens")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(countDistinct(col("doc_id")).as("__n_docs"))
    val dfreq = tfRaw.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weighted = tfRaw.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf") * expr("(100 * __n_docs) DIV df"))
      .select(col("doc_id"), col("term"), col("w"), col("df"))
      .localCheckpoint()
    val sq = (c: Column) => (c.cast("decimal(19,0)") * c).as("w2")
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sum(sq(col("w"))).cast("decimal(38,0)").as("norm2"))
    val dots = pairAggregate(weighted.filter(col("df") <= maxDocFreq), "term",
        directed = false, ("doc_a", "doc_b"))(
      count(lit(1)).as("n_common"),
      sum(col("a.w").cast("decimal(19,0)") * col("b.w"))
        .cast("decimal(38,0)").as("dot"))
    withDocSide(dots, norms, Map("doc_id" -> "doc_a", "norm2" -> "na2"),
        Map("doc_id" -> "doc_b", "norm2" -> "nb2"))
      .withColumn("cos2_ppm",
        expr("CAST((dot * dot * 1000000) div (na2 * nb2) AS BIGINT)"))
      .filter(col("cos2_ppm") >= minCos2Ppm)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("cos2_ppm"))
  }

  /** WITHIN-document repetition scoring (the Gopher/C4-style quality
    * rule: heavily self-repeating documents are low-quality or
    * machine-generated): per doc, total vs distinct word n-gram
    * shingles and the duplicate fraction. One explode + one map-side-
    * combining aggregate; the text never shuffles. */
  def repetitionScores(docs: DataFrame): DataFrame =
    explodedShingleHashes(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))

  /** Raw 56-bit md5-derived token hash (no modulus — SimHash needs 32
    * independent bits; [[TextAnalysis.tokenHash]]'s mod-P value only
    * carries 30). */
  def tokenHash56(token: Column): Column =
    conv(substring(md5(token.cast("binary")), 1, 14), 16, 10).cast("long")

  val simhashBits: Int = 32

  /** 32-bit SimHash over a hash array: bit j is set iff more than
    * half the hashes have bit j set. Computed as 32 sequential array
    * folds — heavy expression tree, but pure codegen'd arithmetic,
    * no shuffle, no UDF. */
  def simhash(hashes: Column): Column = {
    val n = size(hashes).cast("long")
    (0 until simhashBits).map { j =>
      val ones = aggregate(hashes, lit(0L), (acc, h) => acc + shiftright(h, j) % 2)
      when(ones * 2 > n, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Per-doc SimHash over word n-gram shingles. Shingles, not raw
    * tokens: documents drawn from a shared vocabulary have
    * near-identical token *distributions* (every doc's majority-bit
    * vector converges), while shingle sets stay discriminative —
    * measured on the harness corpus, token-level SimHash marks >0.5%
    * of all pairs as near-dups, shingle-level only the true ones.
    *
    * Exploded path: 32 codegen'd bit-count sums + a total count in one
    * hash aggregate, then the majority test per bit. Bit-identical to
    * the fold form ([[simhash]]) and ~10× faster (the folds are
    * interpreted). */
  def simhashes(docs: DataFrame): DataFrame = {
    val bitSums = (0 until simhashBits).map(j =>
      sum(shiftright(col("shingle"), j) % 2).as(s"__b$j")) :+
      count(lit(1)).as("__n")
    shingleRows(docs, modP = false)
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until simhashBits).map(j =>
          when(col(s"__b$j") * 2 > col("__n"), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share at least one identical
    * byte of the 4-byte fingerprint (pigeonhole: any pair at Hamming
    * distance ≤ 3 must agree on some byte), verified by exact Hamming
    * distance ≤ `maxHamming`. Same bucket-join shape as MinHash —
    * including the same governor, and here it is needed EVEN ON A
    * BENIGN CORPUS: a band key is one byte, 256 values, so uniform
    * hashes still concentrate ~n/256 docs per bucket and the
    * ungoverned self-join is Θ(n²/64) candidate pairs by construction
    * (≈15.6G at 1M docs) — before any viral clone cluster makes its
    * bucket quadratic on top (the round-18 minhash find, which this
    * operator reproduced structurally until round 19).
    *
    * `maxBucket` is [[minhashPairs]]'s governor verbatim: a (band,
    * key) bucket over the cap contributes its id-sorted ADJACENT
    * CHAIN (b − 1 pairs) instead of all C(b, 2). A true near-dup
    * cluster's members are pairwise within `maxHamming`, so chain
    * edges survive the exact Hamming filter and componentLabels still
    * merges the cluster whole; an accidental one-byte-collision
    * bucket's chain edges fail the filter and vanish at linear cost.
    * PAIR-level output through an oversized bucket under-reports
    * (a pair surfaces only if id-adjacent there or colliding in some
    * governed bucket) — under-reports, never inflates, the family
    * contract. Candidate volume ≤ n·4·maxBucket/2 + n·4: cap-linear.
    * Oversized buckets are window partitions whose (band, key) hash
    * partitioning is the self-join's own — the exchange is reused.
    *
    * STRUCTURAL CEILING, measured (bench_scaling_r19.txt §1): a
    * 1-byte key cannot be made selective — past n ≈ 256·maxBucket
    * EVERY bucket chains and pair recall collapses to the adjacent
    * chains. At ≥256k-doc shards prefer [[minhashPairs]] (band keys
    * are 10⁹-distinct, curves flat to 512k) or shard the corpus
    * before SimHash banding. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Long = 1000): DataFrame = {
    require(maxBucket >= 2, "maxBucket < 2 cannot pair anything")
    val sims = simhashes(docs)
    val byteStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), 8 * b) % 256).as("key"))): _*)
    val bands = sims.select(col("doc_id"), col("simhash"),
        explode(byteStructs).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      // semantically a no-op (keys derive from non-null simhashes) but
      // load-bearing for the plan: the self-join inserts IsNotNull on
      // its legs' join keys, and without the same filter on the chain
      // leg the (band, key) exchange subtrees stop being canonically
      // equal — the chain would pay its OWN shuffle instead of the
      // ReusedExchange (verified in EXPLAINS.md round 19)
      .filter(col("band").isNotNull && col("key").isNotNull)
    val wCnt = Window.partitionBy(col("band"), col("key"))
    val wOrd = Window.partitionBy(col("band"), col("key"))
      .orderBy(col("doc_id"))
    val sized = bands.withColumn("__bn", count(lit(1)).over(wCnt))
    val small = sized.filter(col("__bn") <= maxBucket)
      .select("doc_id", "simhash", "band", "key")
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
    val chained = sized.filter(col("__bn") > maxBucket)
      .withColumn("__nd", lead(col("doc_id"), 1).over(wOrd))
      .withColumn("__ns", lead(col("simhash"), 1).over(wOrd))
      .filter(col("__nd").isNotNull)
      .select(col("doc_id").as("doc_a"), col("__nd").as("doc_b"),
        col("simhash").as("sim_a"), col("__ns").as("sim_b"))
    val pairs = allPairs.unionByName(chained)
      .distinct() // a pair may collide in several bands
    pairs
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Prefix-filtered EXACT set-similarity self-join (the All-Pairs /
    * PPJoin principle: Bayardo et al. WWW 2007, Xiao et al. WWW 2008)
    * — the LOSSLESS complement to [[jaccardPairs]]'s df-cap governor.
    *
    * The df cap bounds candidate volume by *dropping* hot shingles,
    * which makes `common` a lower bound (capped Jaccard under-reports
    * near the threshold). Prefix filtering bounds candidate volume
    * with NO loss: order each doc's shingles by ascending global
    * document frequency (rarest first, shingle hash as tie-break — a
    * total order both engines replay), keep only the first
    * `L = n − ⌈τ·n⌉ + 1` as the doc's *prefix*, and join prefixes on
    * the shingle. Soundness is the prefix-filter lemma: two sets with
    * Jaccard ≥ τ must share at least one element inside both prefixes
    * of that length, so no qualifying pair is missed; every candidate
    * is then verified with an exact intersection count over the FULL
    * postings. The size filter τ·max(nₐ,n_b) ≤ min(nₐ,n_b) (in exact
    * permille integers) prunes impossible pairs inside the same join.
    *
    * Scale shape: the candidate join hits only prefix postings —
    * Σ over shingles of prefix-df², and rarest-first ordering drives
    * prefix-df toward 1 for discriminative shingles (hot shingles
    * rank last and rarely enter any prefix), where the unfiltered
    * postings join is Σ df². Verification is candidate-bounded: two
    * hash joins keyed on doc id then (doc, shingle), never all-pairs.
    * The postings and df steps are the skeleton's (header); the
    * candidate join is its own. Threshold and output
    * are exact integer permille: `common·1000 ≥ τ‰·(nₐ+n_b−common)`
    * floor-div — engines cannot disagree on a double near the cut.
    *
    * Reference anchor: exact near-dup joins next to the reference's
    * keep-first dedup (merge_sources.py:31); same query surface as
    * q19 but exact at the threshold. */
  def prefixFilterPairs(docs: DataFrame, tauPermille: Long = 800): DataFrame = {
    require(tauPermille > 0 && tauPermille <= 1000,
      s"tauPermille must be in (0, 1000], got $tauPermille")
    val posting = postings(docs)
    val w = Window.partitionBy(col("doc_id"))
    val ranked = posting.join(docFreq(posting), "shingle")
      .withColumn("n_sh", count(lit(1)).over(w))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("df"), col("shingle"))))
    // L = n − ⌈τn/1000⌉ + 1 with ⌈·⌉ as (τn+999) floor-div 1000 —
    // exact integers throughout (both operands nonnegative, so Spark
    // `div` and DuckDB `//` agree).
    val prefix = ranked.filter(col("rnk") <=
        col("n_sh") - expr(s"($tauPermille * n_sh + 999) div 1000") + 1)
      .select(col("doc_id"), col("n_sh"), col("shingle"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh") * 1000 >= col("a.n_sh") * tauPermille &&
          col("a.n_sh") * 1000 >= col("b.n_sh") * tauPermille)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .distinct()
    // r19 optimization (guide §2.3, shuffle fewer bytes): verification
    // used to join candidates against the FULL postings twice — the
    // doc_a join exploded every candidate into n_a rows, shuffled them
    // on (doc_b, shingle), and hash-aggregated the matches back down
    // (|cand|·n̄ intermediate rows through two exchanges). Instead,
    // collapse each doc's shingle set to ONE array row (a per-doc
    // aggregate over the already-distinct postings — bounded by doc
    // length, never by corpus size) and verify each candidate with a
    // codegen'd size(array_intersect(...)): two id-keyed joins carrying
    // |cand| rows, zero exploded intermediates. Order inside the arrays
    // is irrelevant — the intersection CARDINALITY is order-invariant,
    // so no sort is paid. Exact same `common`, same filter, same
    // output (oracle-verified; DedupSpec pins join-verify equivalence).
    val docSets = posting.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("__set"))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("__set").as("__sa")),
        "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("__set").as("__sb")),
        "doc_b")
      .withColumn("common",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(col("common") * 1000 >=
        lit(tauPermille) * (col("n_a") + col("n_b") - col("common")))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
        col("n_b"),
        expr("(common * 1000) div (n_a + n_b - common)")
          .as("jaccard_permille"))
  }
}
