package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars): tokenizing,
  * corpus/doc statistics, quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd built-in functions and
  * higher-order array functions — no UDFs, so the whole stage stays
  * inside whole-stage codegen and scales linearly with executors; the
  * only shuffles are the declared groupBys.
  *
  * Determinism: token hashing goes through md5 (identical across
  * engines) and fingerprints use sequential modular arithmetic with
  * an explicit fold order, so every output is bit-exact reproducible
  * and oracle-checkable.
  */
object TextAnalysis {

  /** Tokenize: lowercase, collapse non-alphanumerics to spaces, split,
    * drop empties. Robust to punctuation/multi-space even though the
    * harness corpus is pre-cleaned. */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "), _ =!= "")

  def withTokens(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("tokens", tokens(col(textCol)))

  /** Canonical text cleanup (the normalization pass before dedup /
    * tokenization): lowercase, control characters → space, space runs
    * collapsed, edges trimmed. Explicit character classes, not \\s —
    * Java and RE2 disagree on \\s (vertical tab), and the whole point
    * is an engine-neutral canonical form. Pure codegen'd projection. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f]+", " "), " +", " "))

  /** Per-doc cleanup report: raw/clean lengths, canonical-form hash,
    * and whether cleaning changed anything — the audit a pipeline
    * keeps when it rewrites a corpus in place. */
  def cleanReport(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(textCol).as("__raw"),
        cleanText(col(textCol)).as("__clean"))
      .select(col(idCol),
        length(col("__raw")).cast("long").as("n_chars_raw"),
        length(col("__clean")).cast("long").as("n_chars_clean"),
        md5(col("__clean").cast("binary")).as("clean_md5"),
        (col("__clean") =!= col("__raw")).as("changed"))

  /** Unicode NFC normalization audit — the canonical-composition pass
    * that must run BEFORE hashing/dedup/shingling: "é" composed and
    * "e"+U+0301 decomposed are byte-different, so without it visually
    * identical documents land in different dedup buckets and inflate
    * the vocabulary. Runs through the native codegen'd
    * [[graft.functions.UnicodeNormalize]] expression (pure projection, one
    * static call per row, already-NFC text returned without copying);
    * Unicode normalization stability across implementations is what
    * makes the DuckDB `nfc_normalize` oracle legitimate. */
  def nfcReport(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(textCol).as("__raw"),
        graft.functions.StringFunctions.nfcNormalize(col(textCol)).as("__nfc"))
      .select(col(idCol),
        length(col("__raw")).cast("long").as("n_chars_raw"),
        length(col("__nfc")).cast("long").as("n_chars_nfc"),
        md5(col("__nfc").cast("binary")).as("nfc_md5"),
        (col("__nfc") =!= col("__raw")).as("changed"))

  /** Conservative PII detector patterns: no lookarounds or engine-
    * specific classes, so Java (Spark) and RE2 (DuckDB, and most scan
    * engines) match identically. Deliberately high-precision shapes —
    * a governance scan wants auditable rules, not heuristics. */
  val piiPatterns: Map[String, String] = Map(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+",
    "phone" -> "[0-9][0-9][0-9][-. ][0-9][0-9][0-9][-. ][0-9][0-9][0-9][0-9]",
    "ipv4" -> "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")

  /** Per-doc PII scan: match count per pattern family + overall flag.
    * Pure projection (regexp_count is codegen'd) — the text never
    * shuffles; at corpus scale this is a single pass. */
  def piiScan(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val counts = piiPatterns.toSeq.sortBy(_._1).map { case (name, pat) =>
      regexp_count(lowered, lit(pat)).cast("long").as(s"n_$name")
    }
    docs.select((col(idCol) +: counts): _*)
      .withColumn("has_pii",
        piiPatterns.keys.toSeq.sorted.map(n => col(s"n_$n") > 0).reduce(_ || _))
  }

  /** Redact every PII match with a typed placeholder — the rewrite
    * pass paired with [[piiScan]]'s audit. Case-insensitive via (?i)
    * (identical syntax in Java and RE2). */
  def piiRedact(text: Column): Column =
    piiPatterns.toSeq.sortBy(_._1).foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, "(?i)" + pat, s"<$name>")
    }

  /** Luhn-validated payment-card scan — the false-positive killer
    * [[piiScan]]'s shape rules can't provide: a 16-digit order id and
    * a card number look identical to a regex, but only the card
    * passes the ISO/IEC 7812 Luhn mod-10 checksum (Peterson 1960 —
    * the check DLP scanners gate on before flagging). Candidates are
    * conservative digit runs (optional space/dash separators, no
    * lookarounds — Java and RE2 match identically), normalized to
    * bare digits, length-gated to the PAN range 13–16, then
    * Luhn-checked in EXACT integer arithmetic: from the right, odd
    * positions count as-is, even positions doubled with 9 subtracted
    * above 9, valid iff the sum ≡ 0 (mod 10).
    *
    * The checksum is the one higher-order-function lambda in the text
    * layer — deliberately: it runs per CANDIDATE (≤16 elements,
    * scarce), not per token, and the reversed digit string it reads
    * is materialized behind its own projection first (the measured
    * HOF re-evaluation trap). The report keeps only the LAST 4 digits
    * of the lexicographically-first valid match — the audit needs
    * evidence, not the PAN itself.
    *
    * Returns one row per doc: (idCol, n_candidates, n_luhn_valid,
    * valid_last4 — NULL when nothing validates). */
  def cardScan(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val cand = docs.select(col(idCol),
        explode_outer(regexp_extract_all(col(textCol),
          lit("[0-9][0-9 -]{11,20}[0-9]"), lit(0))).as("__cand"))
      .select(col(idCol),
        regexp_replace(col("__cand"), "[^0-9]", "").as("__dgt"))
      .withColumn("__ok",
        length(col("__dgt")).between(13, 16))
      // the lambda below reads __rev up to 16 times per row: aliased
      // into its own projection so it is computed once, not 16 times
      .withColumn("__rev", when(col("__ok"), reverse(col("__dgt"))))
      .withColumn("__valid", col("__ok") && expr(
        """aggregate(sequence(1, length(__rev)), 0, (acc, i) -> acc +
          |  CASE WHEN i % 2 = 1 THEN CAST(substring(__rev, i, 1) AS INT)
          |       WHEN 2 * CAST(substring(__rev, i, 1) AS INT) > 9
          |       THEN 2 * CAST(substring(__rev, i, 1) AS INT) - 9
          |       ELSE 2 * CAST(substring(__rev, i, 1) AS INT) END)
          |% 10 = 0""".stripMargin))
    cand.groupBy(col(idCol))
      .agg(
        count(when(col("__ok"), 1)).as("n_candidates"),
        count(when(col("__valid"), 1)).as("n_luhn_valid"),
        expr("right(min(CASE WHEN __valid THEN __dgt END), 4)")
          .as("valid_last4"))
  }

  /** Corpus-level token statistics: total occurrences + document
    * frequency per token. One explode + one shuffle on token. */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withTokens(docs, textCol)
      .select(col(idCol), explode(col("tokens")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"), countDistinct(col(idCol)).as("doc_freq"))

  /** Top-k tokens by count (deterministic tie-break on the token). */
  def topTokens(docs: DataFrame, k: Int = 100): DataFrame =
    tokenStats(docs).orderBy(col("occurrences").desc, col("token")).limit(k)

  /** Gries' DP term dispersion (Gries, *Dispersions and adjusted
    * frequencies*, IJCL 2008) — the corpus-linguistics EVENNESS
    * measure [[tokenStats]]' doc_freq only hints at: a term occurring
    * 100× in one document and a term occurring once in each of 100
    * documents have the same corpus frequency but opposite
    * distributional profiles (burst jargon vs function word).
    * DP = ½ Σ_d |v_d/V − s_d/S| over ALL documents (v_d = the term's
    * count in doc d, V its corpus total; s_d = doc d's size, S the
    * corpus total): 0 = spread exactly like the corpus mass, → 1 =
    * concentrated in one tiny doc.
    *
    * Exact-integer formulation (partition-proof, engine-identical):
    * cross-multiplied to the common denominator V·S, with the
    * zero-occurrence documents' contribution folded into ONE closed
    * term instead of materializing |V|×|D| zeros —
    * Σ_{v_d=0} s_d·V = (S − Σ_{v_d>0} s_d)·V — so
    * DP_permille = ⌊1000·(Σ_{v>0}|v_d·S − s_d·V| + (S−Σ_{v>0}s_d)·V)
    * / (2·V·S)⌋, all DECIMAL(38,0) (v·S ≤ doc·corpus tokens ≈ 1e17
    * at the 100 TB point — int64-adjacent, the q343 convention).
    * Shape: one postings aggregate + a broadcast doc-size join +
    * one per-term fold; output is vocabulary-bounded. */
  def termDispersion(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val postings = withTokens(docs, textCol)
      .select(col(idCol).as("__d"), explode(col("tokens")).as("token"))
      .groupBy(col("__d"), col("token"))
      .agg(count(lit(1)).as("v_d"))
    val sizes = withTokens(docs, textCol)
      .select(col(idCol).as("__d"), size(col("tokens")).cast("long").as("s_d"))
      .filter(col("s_d") > 0)
    val tot = sizes.agg(sum(col("s_d")).as("__S"))
    val terms = postings.groupBy(col("token"))
      .agg(sum(col("v_d")).as("v_total"))
    postings.join(sizes, "__d")
      .join(terms, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col("token"), col("v_total"), col("__S"))
      .agg(
        sum(abs(col("v_d").cast("decimal(38,0)") * col("__S") -
          col("s_d").cast("decimal(38,0)") * col("v_total"))).as("__dev"),
        sum(col("s_d")).as("__s_occ"))
      .select(col("token"), col("v_total"),
        expr("""CAST((1000 * (__dev + CAST(__S - __s_occ AS DECIMAL(38,0)) * v_total))
          div (2 * CAST(v_total AS DECIMAL(38,0)) * __S) AS BIGINT)""")
          .as("dp_permille"))
  }

  /** Per-document top-k TF-IDF terms — the classic "what is this
    * document about" keyword extraction, used for topic-aware curation
    * and mixture audits over a training corpus.
    *
    * Determinism-first scoring: the textbook idf = ln(N/df) is
    * transcendental and engines disagree in the last ulp, so the score
    * is the floor-rational `idf_e6 = (1_000_000 · N) DIV df` scaled by
    * tf — pure BIGINT arithmetic, bit-identical on any engine. ln only
    * reshapes the idf curve monotonically, so within a document the
    * induced ranking matches ln-idf except where the e6 floor
    * collapses near-equal N/df ratios; the (score desc, term asc)
    * tie-break pins those deterministically.
    *
    * Shape at 100 TB: text is scanned and tokenized ONCE — the (doc,
    * term, tf) frame is localCheckpoint-materialized (`materialize`,
    * default on, the pairwiseCorr pattern) because Spark cannot share
    * a subplan across the tf⋈df join, and without it BOTH sides would
    * re-tokenize the corpus; df is then a hash-agg over the
    * materialized counts (bounded by the vocabulary). The scalar N
    * reaches every row via a broadcast 1×1 cross join (computed from a
    * column-pruned id-only scan of `docs`, NOT from tf — token-less
    * docs still count toward N); top-k per doc is a row_number window
    * the optimizer executes as WindowGroupLimit (per-partition partial
    * top-k before the doc shuffle). Everything after the first explode
    * moves counts, never text. */
  def tfIdfTopK(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                textCol: String = "text",
                materialize: Boolean = true): DataFrame = {
    val tfRaw = withTokens(docs, textCol)
      .select(col(idCol), explode(col("tokens")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tf = if (materialize) tfRaw.localCheckpoint() else tfRaw
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("__n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_e6").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_e6", col("tf") * expr("(1000000 * __n_docs) DIV df"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score_e6"), col("rank"))
  }

  /** Corpus bigram vocabulary: adjacent-token pairs with corpus count
    * and document frequency. The pair list is the token array zipped
    * with itself shifted by one — slice + arrays_zip are ordinary
    * codegen'd collection expressions (no interpreted HOF lambda, no
    * per-doc window shuffle): scan → explode → one hash aggregate,
    * the same shape as [[tokenStats]]. */
  /** Per-doc exploded adjacent-token pairs: one (id, bigram) row per
    * position — the shared front half of [[bigramStats]] and
    * [[bigramFamiliarity]]. */
  private def docBigrams(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    withTokens(docs, textCol)
      .filter(size(col("tokens")) >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("tokens"), lit(1), size(col("tokens")) - 1).as("a"),
          slice(col("tokens"), lit(2), size(col("tokens")) - 1).as("b"))).as("__bg"))
      .select(col(idCol),
        concat_ws(" ", col("__bg.a"), col("__bg.b")).as("bigram"))

  def bigramStats(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docBigrams(docs, idCol, textCol)
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col(idCol)).as("doc_freq"))

  /** Collocation mining — statistically associated token pairs (the
    * phrase-detection pass of word2vec-style preprocessing, Mikolov
    * et al. 2013 §4: "new york" is a unit, "the cat" is chance): per
    * adjacent pair, the EXACT integer-scaled Dice coefficient
    * dice_e6 = (2·c_ab·10⁶) div (c_a + c_b) — chosen over PMI/lift
    * because Dice's arithmetic stays inside BIGINT at any corpus
    * scale (a lift numerator carries total_tokens² and overflows
    * 2⁶³ near 10⁵ tokens, and log-PMI is float), while ranking the
    * same top phrases. `minCount` prunes the hapax noise floor that
    * dominates any association measure.
    *
    * Shape: one bigram aggregate + one token aggregate + two keyed
    * joins of the bigram frame against the (smaller) unigram counts;
    * top-k is TakeOrderedAndProject. All counts exact. */
  def collocations(docs: DataFrame, minCount: Long = 5,
                   k: Int = 100, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && k >= 1, "need positive minCount and k")
    val bi = docBigrams(docs, idCol, textCol)
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val uni = withTokens(docs, textCol)
      .select(explode(col("tokens")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    bi.join(uni.select(col("token").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("token").as("w2"), col("c").as("c_b")), Seq("w2"))
      .withColumn("dice_e6", expr("(2 * c_ab * 1000000) div (c_a + c_b)"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        col("dice_e6"))
      .orderBy(col("dice_e6").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Top-k bigrams (deterministic tie-break on the bigram text). */
  def topBigrams(docs: DataFrame, k: Int = 200): DataFrame =
    bigramStats(docs).orderBy(col("occurrences").desc, col("bigram")).limit(k)

  /** Language-model familiarity scoring, the integer-exact proxy for
    * CCNet-style perplexity filtering (Wenzek et al. 2020,
    * arXiv:1911.00359): a document whose bigrams are rare in the
    * corpus reads like gibberish/boilerplate; one whose bigrams are
    * common reads like ordinary prose. Score = mean corpus frequency
    * of the doc's bigrams — exact BIGINT sums on both engines with a
    * single final double division (the q62/q71 determinism pattern;
    * a true log-prob LM would put an `ln` per bigram between the
    * engines and lose the bit-exact oracle).
    *
    * Shape: the exploded bigram table is scanned twice (corpus count,
    * then the count-lookup join) — at 100 TB persist it, or swap the
    * self-computed `counts` for a pre-built (possibly df-capped)
    * vocabulary table and the lookup becomes a broadcast join. Docs
    * with < 2 tokens surface with n_bigrams = 0 and NULL familiarity
    * rather than vanishing — the gate downstream decides their fate. */
  def bigramFamiliarity(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    val counts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("__occ"))
    val perDoc = bg.join(counts, "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__occ")).as("__sum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("__sum").cast("double") / col("n_bigrams").cast("double"))
          .as("familiarity"))
  }

  /** Exact phrase search over the shared tokenizer's token stream —
    * the positional-index primitive behind benchmark-canary lookup
    * ("which training docs contain this exact eval question?"),
    * boilerplate-by-phrase audits, and quote attribution. A phrase
    * match at position p means token(p) = w1, token(p+1) = w2, …:
    * token-boundary exact, case/punctuation-insensitive by the
    * tokenizer's contract, and OVERLAPPING occurrences all count
    * (a periodic phrase like "a a" occurs twice in "a a a" — the
    * non-overlapping `replace`-count shortcut undercounts these,
    * which is why the spec pins it).
    *
    * Shape — relational positional-postings join, the inverted-index
    * plan (Zobel & Moffat, ACM CS 2006 §4's phrase evaluation): one
    * posexplode projects (doc, pos, token) postings, immediately
    * filtered to the PHRASE VOCABULARY (the scale governor: postings
    * volume is the corpus frequency of the phrase's words, not the
    * corpus; the filter sits scan-side, and the doc text itself never
    * shuffles — only (doc, pos) pairs do). Then k−1 equi-joins on
    * (doc, pos − offset) stitch adjacent words; AQE broadcasts
    * whichever side a rare word has already shrunk. At 100 TB the
    * postings frame is what you'd persist as the phrase index and
    * share across queries (the E-series signature-index precedent).
    *
    * Returns (idCol, n_matches, first_pos) for matching docs only;
    * positions are 1-based (the oracle's list convention). */
  def phraseSearch(docs: DataFrame, phrase: String,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val words = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    require(words.nonEmpty, "phrase must contain at least one token")
    val postings = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token").isin(words.distinct: _*))
    // Word i must sit at start + i: re-key its postings to the start
    // position so every stitch is a plain (doc, pos) equi-join.
    def at(i: Int): DataFrame =
      postings.where(col("token") === words(i))
        .select(col(idCol), (col("pos") - i).as("pos"))
    val starts = words.indices.drop(1)
      .foldLeft(at(0))((acc, i) => acc.join(at(i), Seq(idCol, "pos")))
    starts.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("pos")) + 1).cast("long").as("first_pos"))
  }

  /** Encoding-artifact audit — the mojibake detector every web-crawl
    * cleanup runs before training (double-decoded UTF-8 is the most
    * common corruption in CommonCrawl-lineage corpora): per doc,
    * counts of (a) U+FFFD replacement characters (the decoder already
    * gave up), (b) classic UTF-8-read-as-cp1252 sequences (Ã©, â€™
    * and friends — a fixed explicit alternation, no locale-dependent
    * classes), (c) C1 control characters U+0080–U+009F (the
    * UTF-8-read-as-latin1 residue — never legitimate in text). All
    * three are codegen'd regexp counts over the scan — text never
    * shuffles; `suspect` = any hit. False-positive note: genuine
    * French/Portuguese text can contain 'Ã ' pairs — the alternation
    * sticks to sequences (Ã + specific continuation) that are
    * overwhelmingly artifacts, and the audit REPORTS, it never
    * deletes. */
  def encodingAudit(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit("�"), lit(0)))
        .cast("long").as("n_replacement"),
      size(regexp_extract_all(col(textCol),
          lit("Ã©|Ã¨|Ã¼|â€™|â€œ|Â "), lit(0)))
        .cast("long").as("n_mojibake"),
      size(regexp_extract_all(col(textCol),
          lit("[\\x{0080}-\\x{009F}]"), lit(0)))
        .cast("long").as("n_c1_controls"))
      .withColumn("suspect",
        col("n_replacement") + col("n_mojibake") + col("n_c1_controls") > 0)

  /** BM25 keyword retrieval (Robertson & Zaragoza, FnTIR 2009) in an
    * EXACT-integer variant — the ranking baseline behind every
    * training-corpus search/canary/contamination probe, made
    * bit-identical across engines by replacing the two float knobs
    * with stated rationals and the log-idf with a floor quantization:
    *  - k1 = 6/5, b = 3/4 (the textbook defaults as exact rationals);
    *    with integer avgdl A = L div N (floor, stated) the per-term
    *    score clears denominators to
    *    idf · (22·A·tf·1000) div (10·A·tf + 3·A + 9·dl);
    *  - idf = floor(log2((2N − 2df + 1) div (2df + 1))), clamped ≥ 0
    *    — the Robertson idf ratio kept rational, its log2 floor read
    *    off the integer's bit length (`length(bin(v)) − 1`, identical
    *    on both engines), so common terms (df ≳ N/3) contribute 0
    *    exactly where real BM25 goes ≈ 0.
    * Numbers fit 2^63 at ANY corpus size: every factor (idf ≤ 63,
    * A, tf, dl bounded by document length) is corpus-size-free.
    *
    * Scale shape: postings are filtered to the QUERY vocabulary
    * before anything shuffles (the phraseSearch governor — volume is
    * the query terms' corpus frequency, text never moves); df per
    * term and the (N, L) totals are query-bounded/1-row broadcasts;
    * the score aggregate is doc-keyed; top-k is
    * TakeOrderedAndProject. */
  def bm25Search(docs: DataFrame, query: Seq[String], k: Int = 20,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val terms = query.flatMap(_.toLowerCase.split("[^a-z0-9]+"))
      .filter(_.nonEmpty).distinct
    require(terms.nonEmpty, "query must contain at least one token")
    val toked = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    val totals = toked.agg(count(lit(1)).as("__N"), sum(col("dl")).as("__L"))
    val tf = toked
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(totals))
      .withColumn("__A", expr("__L div __N"))
      .withColumn("__ratio",
        expr("greatest(1L, (2*__N - 2*__df + 1) div (2*__df + 1))"))
      .withColumn("__idf", (length(bin(col("__ratio"))) - 1).cast("long"))
      .withColumn("__score",
        expr("(__idf * 22 * __A * tf * 1000) div (10 * __A * tf + 3 * __A + 9 * dl)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("__score")).as("bm25_units"))
      .orderBy(col("bm25_units").desc, col("doc_id"))
      .limit(k)
  }

  /** Prefix-duplication audit — the boilerplate-HEADER detector
    * line-level boilerplate removal misses when the shared text is
    * the opening k tokens with varying bodies (mirror banners,
    * scraped-template intros, license headers): documents sharing an
    * identical k-token prefix grouped with counts and the earliest
    * witness doc. Deliberately EXACT and positional (the LSH paths
    * answer whole-document similarity; this asks a sharper, cheaper
    * question). Docs with fewer than k tokens use their full token
    * list (stated); empty-token docs drop. One scan-side slice
    * projection + one prefix-keyed aggregate — prefixes shuffle,
    * text never does. */
  def prefixDuplication(docs: DataFrame, k: Int = 5, minDocs: Long = 2L,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, "prefix length must be >= 1")
    withTokens(docs, textCol)
      .select(col(idCol).as("doc_id"),
        concat_ws(" ", slice(col("tokens"), 1, k)).as("prefix"))
      .filter(col("prefix") =!= "")
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** KWIC concordance (Keyword In Context — Luhn 1960, the original
    * IR display primitive): every exact occurrence of `phrase` with
    * `window` tokens of context either side — what an annotator or a
    * contamination review actually READS after a q156 hit tells them
    * a document matches. Same positional-postings plan as
    * [[phraseSearch]] (postings filtered to the phrase vocabulary —
    * the scale governor — then k−1 (doc, pos−i) equi-joins); the
    * context slice then rides ONE doc-keyed join back to the token
    * arrays (tokens materialized once behind the join, never inside
    * a re-evaluating lambda). Overlapping occurrences each get their
    * own row, like phraseSearch counts them.
    *
    * Output: (doc_id, pos — 1-based first token of the match,
    * before, match, after) — strings rebuilt with single spaces (the
    * tokenizer's canonical form, stated). */
  def kwic(docs: DataFrame, phrase: String, window: Int = 3,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 0, "window must be >= 0")
    val words = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    require(words.nonEmpty, "phrase must contain at least one token")
    val len = words.size
    val toked = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    val postings = toked
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("pos", "token")))
      .where(col("token").isin(words.distinct: _*))
    def at(i: Int): DataFrame =
      postings.where(col("token") === words(i))
        .select(col("doc_id"), (col("pos") - i).as("pos"))
    val starts = words.indices.drop(1)
      .foldLeft(at(0))((acc, i) => acc.join(at(i), Seq("doc_id", "pos")))
    starts
      .join(toked, "doc_id")
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        concat_ws(" ", slice(col("__toks"),
          greatest(col("pos") - window + 1, lit(1)),
          least(col("pos"), lit(window)))).as("before"),
        concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(len)))
          .as("match"),
        concat_ws(" ", slice(col("__toks"), col("pos") + 1 + len,
          lit(window))).as("after"))
  }

  /** GPT-2-style pre-tokenizer approximation: contractions, space-
    * prefixed letter runs, digit runs, punctuation runs. Same RE2-safe
    * alternation in both engines, so counts are oracle-checkable.
    * (Real BPE then merges within these pieces — the pre-tokenizer
    * count is the standard cheap token estimate.) */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpePattern), lit(0))).cast("long")

  def whitespaceTokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  /** Per-doc token-count estimates (whitespace vs BPE-ish) — the
    * budgeting numbers an LLM-data pipeline tracks per document. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      whitespaceTokenCount(col(textCol)).as("n_ws_tokens"),
      bpeTokenCount(col(textCol)).as("n_bpe_tokens"))

  /** Corpus datasheet — the per-(source, lang, …) card a dataset
    * release publishes (Datasheets for Datasets, arXiv:1803.09010,
    * and every LLM data paper's Table 1): document/token/char mass,
    * distinct-text count (the exact-dup headroom: n_docs −
    * n_distinct_texts is what E27's dedup would remove), and each
    * cell's integer-permille share of the corpus. One grouped
    * aggregate — the single `count(distinct md5)` keeps the two-phase
    * hash-agg plan (Catalyst's Expand blowup needs ≥2 distinct aggs,
    * the E118 lesson) — plus a 1-row broadcast totals join. */
  def corpusCard(docs: DataFrame, groupCols: Seq[String],
                 textCol: String = "text"): DataFrame = {
    require(groupCols.nonEmpty, "need grouping columns")
    val g = docs.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      sum(whitespaceTokenCount(col(textCol))).as("n_tokens"),
      sum(length(col(textCol)).cast("long")).as("n_chars"),
      count_distinct(md5(col(textCol))).as("n_distinct_texts"))
    val totals = g.agg(sum(col("n_docs")).as("__total"))
    g.crossJoin(broadcast(totals))
      .withColumn("docs_permille", expr("(n_docs * 1000) div __total"))
      .drop("__total")
  }

  /** Readability score — Flesch reading ease (Flesch 1948, the
    * standard document-difficulty prior next to the quality-rule
    * gate) in EXACT integer micro-units: score_micro = 206_835_000 −
    * 1015·(words-per-sentence in milli) − 84_600·(syllables-per-word
    * in milli), every ratio an integer `div` — bit-identical across
    * engines where the float form would drift. Heuristics, stated:
    * syllables = vowel-group runs `[aeiouy]+` (a run never crosses a
    * word boundary, so counting on the whole text equals the per-word
    * sum; vowelless tokens contribute 0, no per-word floor);
    * sentences = `[.!?]+` runs, floored at 1 so an unpunctuated doc
    * reads as one sentence; words = the shared tokenizer. Wordless
    * docs are dropped (the ruleReport contract). Pure scan-side
    * projection — no shuffle, text never leaves the scan. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col("__rtoks")
    val nWords = size(t).cast("long")
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val nSyll = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col(idCol).as("doc_id"), col(textCol),
        tokens(col(textCol)).as("__rtoks"))
      .filter(size(t) > 0)
      .select(col("doc_id"),
        nWords.as("n_words"), nSent.as("n_sentences"), nSyll.as("n_syllables"))
      .withColumn("flesch_micro",
        lit(206835000L) -
          lit(1015L) * expr("(n_words * 1000) div n_sentences") -
          lit(84600L) * expr("(n_syllables * 1000) div n_words"))
  }

  // --- per-document profile -------------------------------------------------

  /** Minimal multilingual stopword lists (public-knowledge closed-class
    * words) used by the quality score and the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it", "on", "for"),
    "es" -> Seq("el", "la", "que", "los", "y", "en", "un", "por", "con", "una"),
    "fr" -> Seq("le", "les", "et", "des", "une", "du", "est", "dans", "pour", "que"))

  private val FpMod = 1000000007L
  private val FpBase = 31L

  /** Deterministic 56-bit token hash shared with the DuckDB oracle:
    * first 14 hex chars of md5, as an integer, mod FpMod. */
  def tokenHash(token: Column): Column =
    conv(substring(md5(token.cast("binary")), 1, 14), 16, 10).cast("long") % FpMod

  /** Order-sensitive document fingerprint: polynomial rolling hash of
    * the token-hash sequence, folded left-to-right (the fold order is
    * part of the contract — `aggregate` evaluates sequentially). Two
    * documents share a fingerprint iff their token sequences match. */
  def fingerprint(tokensCol: Column): Column =
    aggregate(
      transform(tokensCol, tokenHash(_)),
      lit(0L),
      (acc, h) => (acc * FpBase + h) % FpMod)

  /** Compressibility quality scores — deflate-ratio permille per doc
    * (see [[graft.functions.DeflateUtil]]): LOW ratio = templated /
    * machine-repeated text, ≈1000 = high-entropy. Complements the
    * shingle-window E40 repetition score with LONG-RANGE repetition
    * the fixed-n window can't see. Scan-side native expression, one
    * projection, no shuffle; spec-verified (no cross-engine deflate
    * constant exists — the E23 precedent). Empty docs → NULL ratio. */
  def compressibilityScores(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        graft.functions.CompressFunctions.deflateLen(col(textCol))
          .as("deflate_bytes"))
      .withColumn("ratio_permille",
        when(col("n_bytes") > 0, expr("(deflate_bytes * 1000) div n_bytes")))

  /** Feature-hashing vectorizer (the "hashing trick", Weinberger et
    * al., ICML 2009): each token lands in `feature_idx = h mod dim`
    * with a sign ξ ∈ {±1} drawn from an independent bit of the same
    * hash (`(h div dim) mod 2` — the signed variant that makes the
    * inner-product estimator unbiased); a document's vector is the
    * signed token-count sum per cell, emitted SPARSE as (doc,
    * feature_idx, value ≠ 0) rows.
    *
    * Why this beats a vocabulary pipeline at 100 TB: there is NO
    * vocabulary — no df aggregate, no broadcast dictionary, no
    * out-of-vocabulary policy, no second pass when the corpus grows.
    * One scan-side explode + one (doc, idx)-keyed hash aggregate
    * whose map-side partials collapse each partition to ≤ dim rows
    * per doc before the shuffle; output is dimension-bounded by
    * construction. Collisions are the accepted trade (they perturb,
    * not break, linear models — the paper's point) and are
    * deterministic: `value` is a pure integer function of the row
    * multiset (exact cancellation to 0 is dropped with the rest of
    * the implicit zeros). Densify at the consumer via
    * map_from_entries if a model needs contiguous arrays.
    *
    * The hash is [[tokenHash]] (md5-derived, shared with the DuckDB
    * twin), projected ONCE behind its own select so index and sign
    * don't each recompute the md5. */
  def featureHash(docs: DataFrame, dim: Int = 64, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(dim >= 2, "need at least two hash cells")
    withTokens(docs, textCol)
      .select(col(idCol), explode(col("tokens")).as("term"))
      .select(col(idCol), tokenHash(col("term")).as("h"))
      .select(col(idCol),
        (col("h") % dim).cast("int").as("feature_idx"),
        when(expr(s"(h div $dim) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col(idCol), col("feature_idx"))
      .agg(sum(col("sgn")).as("value"))
      .filter(col("value") =!= 0)
  }

  private def countIn(tokensCol: Column, words: Seq[String]): Column =
    size(filter(tokensCol, t => t.isInCollection(words)))

  /** Per-document profile: token counts, lexical diversity, average
    * token length, stopword ratio, a [0,1] quality score, and the
    * rolling-hash fingerprint — one narrow projection, no shuffle. */
  def docProfile(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col("tokens")
    val nTok = size(t).cast("long")
    val nUniq = size(array_distinct(t)).cast("long")
    val stopHits = countIn(t, stopwords("en")).cast("long")
    val sumLen = aggregate(transform(t, length(_)), lit(0L), (a, x) => a + x)
    withTokens(docs, textCol).select(
      col(idCol),
      nTok.as("n_tokens"),
      nUniq.as("n_unique"),
      (sumLen.cast("double") / nTok.cast("double")).as("avg_token_len"),
      (nUniq.cast("double") / nTok.cast("double")).as("unique_ratio"),
      (stopHits.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      qualityScore(nTok, nUniq, stopHits).as("quality_score"),
      fingerprint(t).as("fingerprint"))
  }

  /** Heuristic quality score in [0,1]: length component (saturates at
    * 100 tokens), lexical-diversity component, stopword-presence
    * component — equal-weighted. Mirrors the shape of published
    * fasttext/C4-style quality filters in pure arithmetic. */
  def qualityScore(nTok: Column, nUniq: Column, stopHits: Column): Column = {
    val lenScore = least(nTok.cast("double") / lit(100.0), lit(1.0))
    val diversity = nUniq.cast("double") / nTok.cast("double")
    val stopScore = least(stopHits.cast("double") * lit(10.0) / nTok.cast("double"), lit(1.0))
    (lenScore + diversity + stopScore) / lit(3.0)
  }

  /** Language-ID heuristic: stopword-set hit counts per candidate
    * language; winner by fixed evaluation order (de,en,es,fr) so ties
    * are deterministic; no hits at all → "und" (undetermined). */
  def languageId(tokensCol: Column): Column = {
    val langs = Seq("de", "en", "es", "fr")
    val scores = langs.map(l => countIn(tokensCol, stopwords(l)))
    val best = greatest(scores: _*)
    langs.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(best > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Confusion matrix of labeled vs predicted language — the
    * aggregate view a pipeline operator would monitor. */
  def langConfusion(docs: DataFrame, langCol: String = "lang", textCol: String = "text"): DataFrame =
    withTokens(docs, textCol)
      .select(col(langCol), languageId(col("tokens")).as("predicted_lang"))
      .groupBy(col(langCol), col("predicted_lang"))
      .agg(count(lit(1)).as("docs"))

  /** Code-line detector pattern — the prose-vs-code ROUTING signal a
    * mixed crawl runs before language-specific processing (code goes
    * to different tokenization/quality rules than prose; StarCoder/
    * RedPajama-style preps route on exactly such heuristics). A line
    * is code-ish when it has a keyword head (`def`/`class`/`import`/
    * …, or `if`/`for`/`while` followed by `(`), a 4-space/tab indent,
    * or a `;`/`{`/`}` line ending. One `(?m)`-anchored alternation
    * whose every branch consumes the FULL line, so "number of
    * matches" equals "number of code lines" under BOTH Java's
    * leftmost-first and RE2's leftmost-longest alternation — the
    * property that lets DuckDB run the identical pattern. */
  val codeLinePattern: String =
    "(?m)^(?:[ \\t]*(?:(?:def|class|import|from|return|function|var|val|let|const)\\b" +
      "|(?:if|for|while)[ \\t]*\\().*|(?:    |\\t).*|.*[;{}][ \\t]*)$"

  /** Per-doc code-likeness profile: total lines, code-ish lines, and
    * the exact integer permille. Pure codegen'd projection (two
    * `regexp_count`s) — the text never shuffles. */
  def codeProfile(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nLines = when(length(t) === 0, lit(0L))
      .otherwise(regexp_count(t, lit("\n")) + 1).cast("long")
    val nCode = regexp_count(t, lit(codeLinePattern)).cast("long")
    docs.select(col(idCol), nLines.as("n_lines"), nCode.as("n_code_lines"))
      .withColumn("code_permille",
        when(col("n_lines") > 0,
          expr("(n_code_lines * 1000) div n_lines")).cast("long"))
      .withColumn("is_code", coalesce(col("code_permille") >= 500, lit(false)))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010,
    * *Automatic keyword extraction from individual documents*) —
    * unsupervised multi-word keyword mining: candidate phrases are
    * the maximal token runs BETWEEN stopwords (the stopword list is
    * the only knowledge injected), each word scores deg/freq where
    * deg(w) = Σ over w's phrase occurrences of that phrase's length
    * (long phrases boost their members — RAKE's bias toward
    * multi-word technical terms), and a phrase scores the sum of its
    * member word scores. Exact integers: per-word score floored to
    * milli-units once (stated — the only rounding), phrase score an
    * exact sum of those.
    *
    * Shape: tokenize + posexplode (scan-side), the gaps-and-islands
    * identity (pos − row_number over non-stop rows) for phrase runs,
    * one vocabulary-bounded word aggregate broadcast back, one
    * (doc, island) aggregate, one distinct-phrase aggregate; top-k
    * is TakeOrderedAndProject. */
  def rakeKeywords(docs: DataFrame, stopwords: Seq[String] = Seq(
      "a", "the", "and", "of", "to", "in", "is", "on"),
      minOccurrences: Long = 2L, k: Int = 50): DataFrame = {
    require(stopwords.nonEmpty, "RAKE needs a stopword list")
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nonstop = toks.filter(!col("t").isin(stopwords: _*))
      .withColumn("__isl", col("pos") - row_number().over(w))
    val withLen = nonstop.withColumn("__plen",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("__isl"))))
    val wordScores = withLen.groupBy(col("t"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
      .select(col("t"), expr("(__deg * 1000) div __freq").as("__wscore"))
    val inst = withLen.join(broadcast(wordScores), Seq("t"))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(expr("""array_join(transform(
             array_sort(collect_list(struct(pos, t))), x -> x.t), ' ')""")
          .as("phrase"),
        count(lit(1)).as("__nw"),
        sum(col("__wscore")).as("__score"))
    inst.groupBy(col("phrase"))
      .agg(max(col("__nw")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        max(col("__score")).as("score_e3"))
      .filter(col("n_occurrences") >= minOccurrences)
      .orderBy(col("score_e3").desc, col("phrase"))
      .limit(k)
  }

  /** Per-document unigram surprisal — the language-model quality
    * filter of the CCNet/RefinedWeb lineage (Wenzek et al. 2020 score
    * documents by LM perplexity and cut the tails) re-expressed with
    * the corpus's own unigram model and exact integers: a document of
    * common words scores LOW bits/token (template/boilerplate tail),
    * one of rare words scores HIGH (gibberish/OCR-noise tail); both
    * tails are what the filter removes. Per token the FLOOR surprisal
    * −⌊log2 p̂⌋ computed as the bit length of N div c_t (the E156
    * floor-log2 device: `length(bin(v)) − 1`, bit-identical on both
    * engines; whole-bit granularity is the stated coarseness, the
    * price of exactness). Per doc: token count, total floor-bits, and
    * mean milli-bits/token (exact `div`).
    *
    * Shape: one vocabulary aggregate (map-side combinable) + a 1-row
    * total broadcast-crossed + one vocab-bounded join back to the
    * exploded tokens + one doc-keyed aggregate — text never shuffles,
    * postings do. */
  def surprisalScores(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__t"))
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val total = vocab.agg(sum(col("__c")).as("__n"))
    val bits = vocab.crossJoin(broadcast(total))
      .withColumn("__bits",
        (length(bin(expr("__n div __c"))) - 1).cast("long"))
      .select(col("__t"), col("__bits"))
    toks.join(bits, Seq("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__bits")).as("total_bits"))
      .withColumn("mean_millibits",
        expr("(total_bits * 1000) div n_tokens"))
  }

  /** Per-document CONDITIONAL bigram surprisal — the prediction axis
    * the quality shelf's two neighbors cannot measure:
    * [[surprisalScores]] prices each token by its corpus RARITY (a
    * doc of rare-but-coherent jargon scores high), and
    * [[bigramFamiliarity]] prices each bigram by raw frequency (a
    * doc of frequent WORDS in shuffled order still looks familiar on
    * the unigram-dominated tail). This one prices each TRANSITION:
    * bits(w₂|w₁) = floor log₂(c(w₁·) div c(w₁w₂)) — the continuation
    * mass of w₁ against the observed pair, the exact-integer floor
    * of the bigram LM's conditional log-loss (the E156 bit-length
    * device). Word salad made of common words scores HIGH here while
    * passing both neighbors; templated boilerplate scores ~0 bits.
    * Unigram-frequency-invariant by construction: c(w₁·) normalizes
    * per-prefix, so "rare topic" ≠ "incoherent".
    *
    * Self-trained on the corpus (every observed bigram has c ≥ 1 —
    * no OOV path; the [[surprisalScores]] contract), so scores are
    * relative coherence within THIS corpus. Shape: one bigram
    * aggregate, one prefix-sum aggregate over the BIGRAM VOCABULARY
    * (bounded by distinct pairs, not occurrences), one lookup join
    * back, one per-doc aggregate. Docs with < 2 tokens surface with
    * n_bigrams = 0 and NULL means (the familiarity convention). */
  def conditionalSurprisal(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    val c12 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("__c12"))
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
    val c1 = c12.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    val bits = c12.join(c1, "__w1")
      .withColumn("__bits",
        (length(bin(expr("__c1 div __c12"))) - 1).cast("long"))
      .select(col("bigram"), col("__bits"))
    docs.select(col(idCol)).join(
        bg.join(bits, "bigram")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("__bits")).as("total_bits")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("total_bits"),
        expr("(total_bits * 1000) div n_bigrams").as("mean_millibits"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring, train slice → target
    * corpus (Kneser & Ney, ICASSP 1995; Chen & Goodman 1998; the
    * CCNet perplexity filter, Wenzek et al. 2019 arXiv:1911.00359
    * trains KenLM on a REFERENCE corpus and buckets CommonCrawl by
    * the score). Closes E74's stated proxy gap: `lmFamiliarity`
    * scores docs against the corpus's OWN bigram frequencies — no
    * smoothing, no held-out reference, unseen transitions silently
    * dropped; this is the real thing — a discounted model TRAINED on
    * `train`, scoring every `target` doc including transitions the
    * reference never saw (exactly the docs a perplexity filter
    * exists to catch).
    *
    * Model (discount D = 3/4 fixed — Chen & Goodman's ~0.75 across
    * corpora; a FIXED rational keeps every probability an exact
    * integer pair): for history v with train continuations
    * c1(v) = Σ_w c12(v,w) and n1f(v) distinct continuations,
    *   P(w|v) = max(c12−D, 0)/c1 + (D·n1f/c1)·Pcont(w),
    * and for an unseen/OOV history P(w|v) = Pcont(w), where the
    * continuation distribution is unk-smoothed over vocab ∪ {unk}:
    *   Pcont(w) = (n1r(w)+1)/Z,  Z = B + V + 1
    * (n1r = distinct left-contexts of w, B = distinct bigram types,
    * V = distinct train tokens; Σ over vocab∪{unk} = Z exactly, and
    * the discount identity makes each P(·|v) sum to 1 — a PROPER
    * conditional model, spec-pinned on a hand corpus).
    *
    * Exactness: ×4 clears the discount (4c12−3), ×Z clears Pcont —
    * per-token probability num/den in DECIMAL(38,0) (count products
    * at 100 TB overflow int64: c1·Z ~ 10^30), surprisal as
    * floor(log2(den/num)) via [[graft.core.Exact.quotientBits]]'s
    * branch device (exact, 62-bit clip stated there), summed per doc
    * with the q321 output convention (mean_millibits, bigram-less
    * docs kept with NULLs).
    *
    * Shape: train-side aggregates are vocabulary-bounded; scoring is
    * three equi-joins of the target's bigram stream against those
    * vocab tables plus one 1-row broadcast (Z), then one doc-keyed
    * aggregate. The (v)-keyed join is Zipf-skewed at scale — common
    * histories dominate — which is AQE skew-join territory (or salt
    * via [[graft.etl.Skew]]); nothing here is all-pairs and the
    * model tables never exceed the vocabulary. */
  def knSurprisal(train: DataFrame, target: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    def vw(df: DataFrame): DataFrame = df
      .withColumn("__v", split(col("bigram"), " ").getItem(0))
      .withColumn("__w", split(col("bigram"), " ").getItem(1))
    val c12 = vw(docBigrams(train, idCol, textCol))
      .groupBy(col("__v"), col("__w")).agg(count(lit(1)).as("__c12"))
    val hist = c12.groupBy(col("__v"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1f"))
    val contw = c12.groupBy(col("__w")).agg(count(lit(1)).as("__n1r"))
    val zRow = c12.agg(count(lit(1)).as("__B")).crossJoin(
        withTokens(train, textCol)
          .select(explode(col("tokens")).as("__t"))
          .agg(countDistinct(col("__t")).as("__V")))
      .select((col("__B") + col("__V") + lit(1L)).as("__Z"))
    val scored = vw(docBigrams(target, idCol, textCol))
      .join(c12, Seq("__v", "__w"), "left")
      .join(hist, Seq("__v"), "left")
      .join(contw, Seq("__w"), "left")
      .crossJoin(broadcast(zRow))
      .withColumn("__pn", coalesce(col("__n1r"), lit(0L)) + lit(1L))
      .withColumn("__a",
        greatest(lit(0L), coalesce(col("__c12"), lit(0L)) * 4L - 3L))
      .withColumn("__num", when(col("__c1").isNotNull,
          expr("CAST(__a AS DECIMAL(38,0)) * CAST(__Z AS DECIMAL(38,0))" +
            " + CAST(3 AS DECIMAL(38,0)) * CAST(__n1f AS DECIMAL(38,0))" +
            " * CAST(__pn AS DECIMAL(38,0))"))
        .otherwise(expr("CAST(__pn AS DECIMAL(38,0))")))
      .withColumn("__den", when(col("__c1").isNotNull,
          expr("CAST(4 AS DECIMAL(38,0)) * CAST(__c1 AS DECIMAL(38,0))" +
            " * CAST(__Z AS DECIMAL(38,0))"))
        .otherwise(expr("CAST(__Z AS DECIMAL(38,0))")))
      .withColumn("__bits", graft.core.Exact.quotientBits("__num", "__den"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__c12").isNull, 1L).otherwise(0L)).as("n_novel"),
        sum(col("__bits")).as("total_bits"))
    target.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        col("total_bits"),
        expr("(total_bits * 1000) div n_bigrams").as("mean_millibits"))
  }

  /** Harman's S-stemmer (Harman, *JASIS* 1991 "How effective is
    * suffixing?") as a single codegen'd CASE — the three-rule plural
    * conflator that captures most of English stemming's retrieval
    * gain with NONE of Porter's rewrite-cascade complexity, and —
    * unlike Porter — is trivially engine-identical (three suffix
    * tests, no measure() loops): ies→y (unless -eies/-aies), else
    * es→e (unless -aes/-ees/-oes), else drop final s (unless
    * -us/-ss). The rules dispatch on the LONGEST matching suffix and
    * an exception BLOCKS the word entirely (it does not fall through
    * to a shorter-suffix rule — otherwise "goes" would dodge the -oes
    * exception only to lose its s to rule 3, and the exception lists
    * would be dead letters). One stated deviation: rules apply only
    * to tokens of length ≥ 4 (Harman leaves short words to her
    * exception lists; a fixed guard is the engine-neutral
    * equivalent — "was"/"its" stay put). */
  def sStem(token: Column): Column = {
    val t = token
    val len = length(t)
    when(len < 4, t)
      .when(t.endsWith("ies"),
        when(!t.endsWith("eies") && !t.endsWith("aies"),
          concat(t.substr(lit(1), len - 3), lit("y"))).otherwise(t))
      .when(t.endsWith("es"),
        when(!t.endsWith("aes") && !t.endsWith("ees") && !t.endsWith("oes"),
          t.substr(lit(1), len - 1)).otherwise(t))
      .when(t.endsWith("s"),
        when(!t.endsWith("us") && !t.endsWith("ss"),
          t.substr(lit(1), len - 1)).otherwise(t))
      .otherwise(t)
  }

  /** Vocabulary-conflation report under [[sStem]]: per stem that
    * merges ≥ `minForms` distinct surface forms, the form count,
    * total token occurrences, and the sorted comma-joined form list
    * (engine-neutral, the E129 convention) — the audit that shows
    * what a stemmed index would merge ("query"/"queries",
    * "table"/"tables") before anyone commits an index build to it.
    *
    * Shape: tokenize + explode (scan-side), one (stem, form)
    * aggregate, one stem aggregate — all map-side combinable, output
    * bounded by the vocabulary (the BPE/TF-IDF contract). English
    * rules ⇒ caller filters to lang = 'en' (stated). */
  def stemConflation(docs: DataFrame, textCol: String = "text",
                     minForms: Long = 2L): DataFrame = {
    val perForm = docs
      .select(explode(tokens(col(textCol))).as("form"))
      .withColumn("stem", sStem(col("form")))
      .groupBy(col("stem"), col("form"))
      .agg(count(lit(1)).as("__c"))
    perForm.groupBy(col("stem"))
      .agg(count(lit(1)).as("n_forms"),
        sum(col("__c")).as("n_tokens"),
        array_join(array_sort(collect_list(col("form"))), ",").as("forms"))
      .filter(col("n_forms") >= minForms)
  }

  /** EXACT total-variation distance between the token distributions
    * of every slice pair — the corpus-drift number behind "did this
    * source / this month / this crawl change under us": TV(P,Q) =
    * ½·Σ_w |p_w − q_w| ∈ [0,1], the largest probability difference
    * any event set can exhibit (the tightest of the f-divergences to
    * state, and the one that needs NO transcendental function — KL
    * and JS want logs of rationals, which no cross-engine exact form
    * survives; TV is a sum of |cross-multiplied integers|, so the
    * permille emitted here is the floor of the TRUE statistic, not a
    * stated approximation).
    *
    * tv_permille(a,b) = (1000 · Σ_w |c_w·N_b − d_w·N_a|)
    * div (2·N_a·N_b), all in DECIMAL(38,0) cross-products (token
    * counts at 100 TB overflow int64 products). A token absent from
    * one slice contributes its full mass — the pivot keeps every
    * vocabulary word with per-slice zeros, so no full-outer join per
    * pair is needed.
    *
    * Shape: tokenize + explode (scan-side) → one (slice, token) hash
    * aggregate → one pivot to token × slice counts (slice universe
    * is collected — groups/sources/months, config-bounded by
    * contract, documented like the E127 stratum map) → ONE aggregate
    * computing every pair's Σ|…| map-side-combinably. Output =
    * S·(S−1)/2 rows. Never a token-keyed self-join. */
  def distributionDrift(docs: DataFrame, sliceCol: String,
                        textCol: String = "text",
                        maxSlices: Int = 64): DataFrame = {
    val counts = docs
      .select(col(sliceCol).cast("string").as("__slice"),
        explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__slice"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    // slice universe: config-bounded (sources, languages, months)
    val slices = counts.select(col("__slice")).distinct()
      .orderBy(col("__slice"))
      .collect().map(_.getString(0)).toSeq
    require(slices.size <= maxSlices,
      s"distributionDrift: ${slices.size} slices exceeds maxSlices=" +
        s"$maxSlices — slice on a bounded dimension or raise the cap")
    require(slices.size >= 2,
      "distributionDrift needs at least two slices to compare")
    // positional rename after the pivot: slice VALUES become column
    // names, which needn't be identifier-safe — __s_<i> always is
    val cols = "__w" +: slices.indices.map(i => s"__s_$i")
    val bySlice = slices.indices.map(i => i -> s"__s_$i").toMap
    val wide = counts.groupBy(col("__w"))
      .pivot("__slice", slices)
      .agg(first(col("__c")))
      .toDF(cols: _*)
      .na.fill(0L, cols.drop(1))
    val totals = slices.indices.map(i =>
      sum(col(bySlice(i))).cast("decimal(38,0)").as(s"__n_$i"))
    val pairs = for {
      i <- slices.indices; j <- (i + 1) until slices.size
    } yield (i, j)
    // Σ_w |c_w·N_b − d_w·N_a| needs the totals inside the per-token
    // term, so the pass runs twice over the pivoted frame: once for
    // the S totals (1-row result, broadcast back), once for the
    // S·(S−1)/2 abs-sums — both map-side-combinable aggregates.
    val absSums = pairs.map { case (i, j) =>
      sum(abs(col(bySlice(i)).cast("decimal(38,0)") * col(s"__T_$j") -
        col(bySlice(j)).cast("decimal(38,0)") * col(s"__T_$i")))
        .as(s"__abs_${i}_$j")
    }
    val totalRow = wide.agg(totals.head, totals.tail: _*)
    val withTotals = wide.crossJoin(broadcast(
      totalRow.select(slices.indices.map(i =>
        col(s"__n_$i").as(s"__T_$i")): _*)))
    val absRow = withTotals.agg(absSums.head, absSums.tail: _*)
      .crossJoin(broadcast(totalRow))
    val rows = pairs.map { case (i, j) =>
      // integral `div` (truncating; operands non-negative so it IS the
      // floor) — a decimal `/` + cast would HALF_UP-round and diverge
      // from DuckDB's `//`
      struct(lit(slices(i)).as("slice_a"), lit(slices(j)).as("slice_b"),
        col(s"__n_$i").cast("long").as("n_tokens_a"),
        col(s"__n_$j").cast("long").as("n_tokens_b"),
        expr(s"CAST((CAST(1000 AS DECIMAL(38,0)) * __abs_${i}_$j) div " +
          s"(CAST(2 AS DECIMAL(38,0)) * __n_$i * __n_$j) AS BIGINT)")
          .as("tv_permille"))
    }
    absRow.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.slice_a"), col("__r.slice_b"),
        col("__r.n_tokens_a"), col("__r.n_tokens_b"),
        col("__r.tv_permille"))
  }
}
