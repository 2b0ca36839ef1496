package graft

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]].
  *
  * Determinism contract (must hold on both engines — see
  * [[graft.core.Exact]] and [[graft.bars.Bars]]):
  *  - double aggregates go through exact DECIMAL sums;
  *  - `round` on doubles is emulated as
  *    `CAST(ROUND(CAST(x AS DECIMAL(28,10)), 2) AS DOUBLE)`. Spark
  *    rounds the double's shortest decimal form HALF_UP; the two agree
  *    on every sf0.01 value but differ on 2 sf0.1 values, and
  *    `Bars`' `row_id` leaves some sf0.1 keep-first survivors
  *    undefined — the contract holds at sf0.01 and not at sf0.1
  *    (ROADMAP.md, direction 1);
  *  - every query ORDER BYs a deterministic key, mirrored in Spark;
  *  - no clock functions — anchors are literals.
  */
object OracleSql {

  /** SQL twin of [[graft.bars.Bars.fromLineitem]] +
    * [[graft.etl.Transform.transform]] + deterministic keep-first dedup
    * ([[graft.etl.Merge.mergeSources]]). Keep in lockstep with the
    * Scala definitions. */
  val barsCte: String = """
WITH bars AS (
  SELECT
    CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS row_id,
    CAST(l_shipdate AS DATE) AS date,
    'S' || CAST(l_suppkey % 25 AS VARCHAR) AS symbol,
    CASE WHEN l_linestatus = 'O' THEN 'alpha_vantage' ELSE 'yahoo_finance' END AS data_source,
    CASE WHEN l_orderkey % 97 = 0 THEN NULL
         ELSE CAST(FLOOR(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) END AS open,
    CASE WHEN l_orderkey % 97 = 0 THEN NULL
         ELSE GREATEST(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)) AS DOUBLE),
                       CAST(FLOOR(l_extendedprice) AS DOUBLE)) + 2.0 END AS high,
    CASE WHEN l_orderkey % 97 = 0 THEN NULL
         ELSE LEAST(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)) AS DOUBLE),
                    CAST(FLOOR(l_extendedprice) AS DOUBLE)) - 1.0 END AS low,
    CAST(FLOOR(l_extendedprice) AS DOUBLE) AS close,
    CASE WHEN l_orderkey % 53 = 0 THEN NULL ELSE CAST(l_quantity AS BIGINT) END AS volume,
    CAST(CAST(l_shipdate AS DATE) + CAST(l_suppkey % 3 AS INTEGER) AS TIMESTAMP) AS processed_at
  FROM lineitem
),
tbars AS (
  SELECT row_id, date, symbol, data_source, open, high, low, close,
    COALESCE(volume, 0) AS volume, processed_at,
    CAST(ROUND(CAST((close - open) / open * 100 AS DECIMAL(28,10)), 2) AS DOUBLE) AS daily_change_pct,
    CAST(ROUND(CAST((high - low) / open * 100 AS DECIMAL(28,10)), 2) AS DOUBLE) AS daily_volatility
  FROM bars
),
merged AS (
  SELECT row_id, date, symbol, data_source, open, high, low, close, volume,
         processed_at, daily_change_pct, daily_volatility
  FROM (SELECT *, row_number() OVER
          (PARTITION BY date, symbol, data_source ORDER BY row_id) AS __rn
        FROM tbars)
  WHERE __rn = 1
)
"""

  private val mergedCols =
    "row_id, date, symbol, data_source, open, high, low, close, volume, processed_at, daily_change_pct, daily_volatility"

  /** Per-(symbol, date) close over `merged` (min close), the twin of
    * SparkEntry's `dailyClose`. */
  private val dailyCloseCte: String = """daily AS (
  SELECT symbol, date, min(close) AS close_price FROM merged GROUP BY symbol, date)"""

  /** [[dailyCloseCte]] over the S0-S4 panel, the twin of SparkEntry's
    * `panelDailyClose`. */
  private val panelDailyCloseCte: String = """daily AS (
  SELECT symbol, date, min(close) AS close_price FROM merged
  WHERE symbol IN ('S0','S1','S2','S3','S4') GROUP BY symbol, date)"""

  /** Per-(symbol, date) min close and min volume over `merged`, the
    * twin of SparkEntry's `dailyCloseVolume`. */
  private val dailyCloseVolumeCte: String = """daily AS (
  SELECT symbol, date, min(close) AS close_price, min(volume) AS volume
  FROM merged GROUP BY symbol, date)"""

  /** Per-symbol close-to-close percent return over [[dailyCloseCte]],
    * quantized once to DECIMAL(18,6) — the twin of
    * [[graft.analytics.Correlation.dailyReturns]]. */
  private val retsCte: String = """rets AS (
  SELECT symbol, date,
    CAST(ROUND(CAST((close_price - prev) / prev * 100 AS DECIMAL(28,10)), 6)
         AS DECIMAL(18,6)) AS ret
  FROM (SELECT symbol, date, close_price,
          lag(close_price) OVER (PARTITION BY symbol ORDER BY date) AS prev
        FROM daily)
  WHERE prev IS NOT NULL AND prev <> 0)"""

  /** One bar per (symbol, date) from `merged`: the first non-null-open
    * bar by (data_source, row_id), as a subquery plus its filter — the
    * twin of SparkEntry's `firstBars`. */
  private val firstBars: String = """(
    SELECT *, row_number() OVER (PARTITION BY symbol, date
      ORDER BY data_source, row_id) AS rn
    FROM merged WHERE open IS NOT NULL)
  WHERE rn = 1"""

  val q01_transform_derive: String = barsCte +
    s"SELECT $mergedCols FROM tbars ORDER BY row_id"

  val q02_merge_dedup: String = barsCte +
    s"SELECT $mergedCols FROM merged ORDER BY row_id"

  val q03_daily_metrics: String = barsCte + """
SELECT date, symbol,
  min(close) AS close_price,
  CAST(sum(CAST(daily_volatility AS DECIMAL(38,4))) AS DOUBLE)
    / CAST(count(daily_volatility) AS DOUBLE) AS avg_volatility,
  count(DISTINCT data_source) AS source_count
FROM merged GROUP BY date, symbol ORDER BY date, symbol"""

  val q04_moving_averages: String = barsCte + s"""
, $dailyCloseCte
SELECT symbol, date, close_price,
  avg(close_price) OVER (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma_5d,
  avg(close_price) OVER (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ma_10d,
  avg(close_price) OVER (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ma_20d,
  avg(close_price) OVER (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS ma_50d
FROM daily ORDER BY symbol, date"""

  /** The detail array rides as "source:close;..." pair text — the
    * same serialization the Spark entry applies (SparkEntry.pairText):
    * the driver's comparator needs sortable scalars. The double goes
    * through DECIMAL(38,4) on BOTH engines (SparkEntry.fixedText) —
    * raw DOUBLE→VARCHAR diverges at magnitude ≥ 1e7, where Java emits
    * scientific notation and DuckDB stays fixed-point. */
  val q05_inconsistency: String = barsCte + """
SELECT * FROM (
  SELECT date, symbol,
    min(close) AS min_close, max(close) AS max_close, avg(close) AS avg_close,
    count(DISTINCT data_source) AS source_count,
    string_agg(data_source || ':' || CAST(CAST(close AS DECIMAL(38,4)) AS VARCHAR),
               ';' ORDER BY data_source, close) AS source_details,
    (max(close) - min(close)) / min(close) * 100 AS price_diff_pct
  FROM merged GROUP BY date, symbol)
WHERE source_count > 1 AND price_diff_pct > 2.0
ORDER BY date, symbol"""

  val q06_quality_metrics: String = barsCte + """
SELECT count(*) AS total_rows,
  count(DISTINCT date) AS unique_dates,
  count(DISTINCT symbol) AS unique_symbols,
  count(DISTINCT data_source) AS unique_sources,
  min(date) AS earliest_date, max(date) AS latest_date,
  count(CASE WHEN open IS NULL THEN 1 END) AS null_open,
  count(CASE WHEN high IS NULL THEN 1 END) AS null_high,
  count(CASE WHEN low IS NULL THEN 1 END) AS null_low,
  count(CASE WHEN volume IS NULL THEN 1 END) AS null_volume,
  min(close) AS min_close, max(close) AS max_close, avg(close) AS avg_close,
  (SELECT string_agg(data_source || ':' || CAST(cnt AS VARCHAR), ';'
                     ORDER BY data_source, cnt)
   FROM (SELECT data_source, count(*) AS cnt FROM merged GROUP BY data_source))
    AS source_counts
FROM merged"""

  val q07_ingestion_stats: String = barsCte + """
SELECT CAST(processed_at AS DATE) AS ingestion_date,
  count(*) AS rows_ingested,
  count(DISTINCT symbol) AS unique_symbols,
  count(DISTINCT data_source) AS unique_sources,
  min(date) AS earliest_data_date, max(date) AS latest_data_date
FROM merged GROUP BY CAST(processed_at AS DATE) ORDER BY ingestion_date"""

  /** q08's upsert slices of `merged` — the twin of SparkEntry's
    * `q08Target`/`q08Staging`: target = bars before 1999, staging =
    * Jun–Dec 1998 with close+1. */
  private val q08Slices: String = s"""
, target AS (SELECT $mergedCols FROM merged WHERE date < DATE '1999-01-01'),
staging AS (
  SELECT row_id, date, symbol, data_source, open, high, low, close + 1.0 AS close,
         volume, processed_at, daily_change_pct, daily_volatility
  FROM merged WHERE date >= DATE '1998-06-01' AND date < DATE '1999-01-01')"""

  /** Keyed upsert of `staging` into `target` (anti-join + union), the
    * logical result of [[graft.etl.Upsert.upsert]]. */
  private val q08Upserted: String = """SELECT * FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM staging s
    WHERE s.date = t.date AND s.symbol = t.symbol AND s.data_source = t.data_source)
  UNION ALL
  SELECT * FROM staging"""

  /** [[q08Slices]] plus their upsert as the `after` CTE. */
  private val q08After: String = s"""$q08Slices,
after AS (
  $q08Upserted)"""

  val q08_upsert: String = barsCte + s"""$q08Slices
SELECT $mergedCols FROM (
  $q08Upserted)
ORDER BY row_id, close"""

  /** Snapshot-diff twin: q08's target/after versions reconciled via
    * FULL JOIN; value comparison is IS NOT DISTINCT FROM per non-key
    * column, mirroring Spark's null-safe `<=>`. */
  val q54_snapshot_diff: String = {
    val nonKey = Seq("row_id", "open", "high", "low", "close", "volume",
      "processed_at", "daily_change_pct", "daily_volatility")
    val same = nonKey.map(c => s"t.$c IS NOT DISTINCT FROM a.$c")
      .mkString("\n      AND ")
    barsCte + s"""$q08After,
d AS (
  SELECT CASE
    WHEN t.date IS NULL THEN 'added'
    WHEN a.date IS NULL THEN 'removed'
    WHEN $same THEN 'unchanged'
    ELSE 'changed' END AS diff_status
  FROM target t FULL JOIN after a
    ON t.date = a.date AND t.symbol = a.symbol AND t.data_source = a.data_source)
SELECT diff_status, count(*) AS n FROM d
GROUP BY diff_status ORDER BY diff_status"""
  }

  val q09_validate_rules: String = barsCte + """
SELECT count(*) AS row_count,
  count(CASE WHEN close < 0 THEN 1 END) AS negative_close,
  count(CASE WHEN date > DATE '2000-01-01' THEN 1 END) AS future_dates,
  count(CASE WHEN close > 10000 THEN 1 END) AS over_price_cap,
  count(CASE WHEN volume > 1000000000 THEN 1 END) AS over_volume_cap,
  count(CASE WHEN daily_volatility > 20.0 THEN 1 END) AS over_volatility_cap,
  max(date) AS newest_date, min(date) AS oldest_date,
  count(DISTINCT symbol) AS unique_symbols
FROM merged"""

  val q10_null_profile: String = barsCte + """
SELECT
  count(CASE WHEN open IS NULL THEN 1 END) AS null_open,
  count(CASE WHEN high IS NULL THEN 1 END) AS null_high,
  count(CASE WHEN low IS NULL THEN 1 END) AS null_low,
  count(CASE WHEN close IS NULL THEN 1 END) AS null_close,
  count(CASE WHEN volume IS NULL THEN 1 END) AS null_volume
FROM bars"""

  val q11_dup_count: String = barsCte + """
SELECT CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT) AS duplicate_rows FROM (
  SELECT count(*) AS cnt FROM bars GROUP BY date, symbol, data_source)
WHERE cnt > 1"""

  val q12_coverage: String = barsCte + """
SELECT symbol FROM (VALUES ('S0'),('S1'),('S2'),('S3'),('S4'),('SXX'),('SYY')) v(symbol)
EXCEPT SELECT DISTINCT symbol FROM merged
ORDER BY symbol"""

  val q13_agg_pushdown: String = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / CAST(count(l_extendedprice) AS DOUBLE) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""

  /** SQL twin of [[graft.text.TextAnalysis.tokens]]: lowercase, strip
    * non-alphanumerics, split, drop empties. */
  val toksCte: String = """
WITH toks AS (
  SELECT doc_id, lang, source,
    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                t -> t <> '') AS tokens
  FROM documents
)
"""

  val q14_token_stats: String = toksCte + """
SELECT token, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(tokens) AS token FROM toks)
GROUP BY token ORDER BY occurrences DESC, token LIMIT 100"""

  /** Bigram twin: adjacent positions joined on (doc, pos+1) — the
    * obviously-correct SQL form of the Spark slice+zip. */
  val q66_bigrams: String = toksCte + """
, pos AS (
  SELECT doc_id, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks)
SELECT a.t || ' ' || b.t AS bigram, count(*) AS occurrences,
       count(DISTINCT a.doc_id) AS doc_freq
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
GROUP BY 1 ORDER BY occurrences DESC, bigram LIMIT 200"""

  /** q89 twin: per-doc mean corpus bigram count. DuckDB's count/sum
    * land in BIGINT/HUGEINT — cast to Spark's long; the division is
    * the single double op on both sides. */
  val q89_bigram_familiarity: String = toksCte + """
, pos AS (
  SELECT doc_id, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks),
bg AS (
  SELECT a.doc_id, a.t || ' ' || b.t AS bigram
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
cnt AS (SELECT bigram, count(*) AS occ FROM bg GROUP BY 1),
per AS (
  SELECT bg.doc_id, count(*) AS n_bigrams, CAST(sum(cnt.occ) AS BIGINT) AS s
  FROM bg JOIN cnt USING (bigram) GROUP BY 1)
SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
  CAST(per.s AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE) AS familiarity
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id"""

  /** q93 twin: SymSpell deletion-neighborhood block join + exact
    * levenshtein verify over the part-name vocabulary. */
  val q93_fuzzy_pairs: String = """
WITH w AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(string_split(p_name, ' '), t -> t <> '')) AS word
    FROM part)
  GROUP BY 1),
v AS (
  SELECT word, freq, word AS variant FROM w
  UNION ALL
  SELECT word, freq,
    substr(word, 1, i-1) || substr(word, i+1, length(word)) AS variant
  FROM w, unnest(range(1, length(word)+1)) AS t(i)),
p AS (
  SELECT DISTINCT a.word AS word_a, b.word AS word_b,
    a.freq AS freq_a, b.freq AS freq_b
  FROM v a JOIN v b ON a.variant = b.variant AND a.word < b.word)
SELECT word_a, word_b, CAST(freq_a AS BIGINT) AS freq_a,
  CAST(freq_b AS BIGINT) AS freq_b
FROM p WHERE levenshtein(word_a, word_b) = 1
ORDER BY word_a, word_b"""

  /** q92 twin: per-category TV-distance parts between the doc_id
    * parity halves. Products stay in BIGINT (DuckDB count() is
    * BIGINT; only sum() would widen to HUGEINT — cast). */
  val q92_drift: String = """
WITH a AS (
  SELECT source AS k, count(*) AS n_base FROM documents
  WHERE doc_id % 2 = 0 GROUP BY 1),
b AS (
  SELECT source AS k, count(*) AS n_in FROM documents
  WHERE doc_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT COALESCE(a.k, b.k) AS k,
    COALESCE(n_base, 0) AS n_base, COALESCE(n_in, 0) AS n_in
  FROM a FULL JOIN b ON a.k = b.k),
t AS (
  SELECT CAST(sum(n_base) AS BIGINT) AS na, CAST(sum(n_in) AS BIGINT) AS nb
  FROM j)
SELECT k AS source, n_base, n_in,
  abs(n_base * nb - n_in * na) AS abs_cross,
  CAST(abs(n_base * nb - n_in * na) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS share_diff
FROM j, t ORDER BY source"""

  /** q98 twin: per-column ANALYZE stats; min/max computed natively
    * then rendered (integer/date/string renderings are engine-stable;
    * doubles are deliberately excluded). */
  val q98_table_stats: String = """
WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date FROM events)
SELECT * FROM (
  SELECT 'event_date' AS column_name, count(event_date) AS n_non_null,
    CAST(sum(CASE WHEN event_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
    count(DISTINCT event_date) AS n_distinct,
    CAST(min(event_date) AS VARCHAR) AS min_str, CAST(max(event_date) AS VARCHAR) AS max_str
  FROM e
  UNION ALL
  SELECT 'event_id', count(event_id),
    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT event_id),
    CAST(min(event_id) AS VARCHAR), CAST(max(event_id) AS VARCHAR)
  FROM e
  UNION ALL
  SELECT 'event_type', count(event_type),
    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT event_type),
    CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
  FROM e
  UNION ALL
  SELECT 'user_id', count(user_id),
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT user_id),
    CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
  FROM e)
ORDER BY column_name"""

  /** q99 twin: per-doc top-5 TF-IDF with the floor-rational
    * idf_e6 = (1e6·N) // df — pure BIGINT scoring on both engines
    * (`//` = DuckDB integer division = Spark DIV). */
  val q99_tfidf: String = """
WITH tok AS (
  SELECT doc_id,
    unnest(list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
           t -> t <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
    t.tf * ((1000000 * n.n_docs) // d.df) AS score_e6
  FROM tf t JOIN df d USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df, score_e6, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
    ORDER BY score_e6 DESC, term) AS INTEGER) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY doc_id, rank"""

  /** q100 twin: rolling 20-day price-volume correlation. The q62
    * determinism recipe in window form — close held as the scaled
    * integer close·10⁴ in DECIMAL(19,0) (hugeint-backed: 19,0 × 19,0
    * products would overflow int64-backed DECIMAL(18)), exact decimal
    * frame sums, decimal→double via VARCHAR (DuckDB's direct cast can
    * double-round), identical final double tree. */
  val q100_rolling_corr: String = barsCte + s"""
, $dailyCloseVolumeCte,
q AS (
  SELECT symbol, date,
    CAST(CAST(ROUND(CAST(close_price AS DECIMAL(28,10)), 4) AS DECIMAL(18,4))
         * 10000 AS DECIMAL(19,0)) AS x,
    CAST(volume AS DECIMAL(19,0)) AS v
  FROM daily),
w AS (
  SELECT symbol, date,
    count(*) OVER fr AS n,
    CAST(CAST(sum(x) OVER fr AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(v) OVER fr AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(x * x) OVER fr AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(v * v) OVER fr AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(x * v) OVER fr AS VARCHAR) AS DOUBLE) AS sxy
  FROM q
  WINDOW fr AS (PARTITION BY symbol ORDER BY date
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT symbol, date,
  CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
    THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
  END AS pv_corr
FROM w WHERE n = 20 ORDER BY symbol, date"""

  /** q101 twin: q21's exact brute-force scan with the hard-negative
    * band filter (cosine strictly below the SemDeDup 0.4 threshold)
    * applied before the per-query top-k. */
  val q101_hard_negatives: String = s"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id, ${sqlCosine("q.qv", "e.embedding")} AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored WHERE cosine < 0.4)
SELECT query_id, neighbor_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q104 twin: the heavy-hitter CONTRACT is exact counts above the
    * phi·n threshold — the Misra-Gries pass only bounds Spark-side
    * memory, so the oracle is the plain exact form (the q63 bloom
    * pattern: the sketch must be semantically invisible). 0.005e0
    * forces a DOUBLE literal (strtod), matching Spark's lit(0.005). */
  val q104_heavy_hitters: String = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         t -> t <> '')) AS value
  FROM documents),
n AS (SELECT count(*) AS nn FROM tok),
cnts AS (SELECT value, count(*) AS cnt FROM tok GROUP BY 1)
SELECT value, cnt, CAST(cnt AS DOUBLE) / CAST(nn AS DOUBLE) AS share
FROM cnts CROSS JOIN n
WHERE CAST(cnt AS DOUBLE) > 0.005e0 * CAST(nn AS DOUBLE)
ORDER BY cnt DESC, value"""

  /** q102 twin: per-symbol median/MAD robust outlier fence on daily
    * close — quantile_cont matches Spark's exact `percentile`
    * interpolation bit-for-bit (the q38-proven parity); the 3·MAD
    * strict-> verdicts evaluate in identical double trees. */
  val q102_mad_outliers: String = barsCte + s"""
, $dailyCloseCte,
med AS (
  SELECT symbol, quantile_cont(close_price, 0.5) AS med FROM daily GROUP BY symbol),
dev AS (
  SELECT d.symbol, abs(CAST(d.close_price AS DOUBLE) - m.med) AS dv, m.med
  FROM daily d JOIN med m USING (symbol)),
stats AS (
  SELECT symbol, count(*) AS n, min(med) AS med, quantile_cont(dv, 0.5) AS mad
  FROM dev GROUP BY symbol)
SELECT s.symbol, CAST(s.n AS BIGINT) AS n, s.med, s.mad,
  CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
FROM stats s LEFT JOIN (
  SELECT d.symbol, count(*) AS n_outliers
  FROM dev d JOIN stats t USING (symbol)
  WHERE d.dv > 3.0 * t.mad GROUP BY d.symbol) o USING (symbol)
ORDER BY s.symbol"""


  /** q97 twin: k-anonymity / l-diversity audit per (event_type, day). */
  val q97_k_anonymity: String = """
SELECT event_type, CAST(ts AS DATE) AS event_date,
  count(*) AS group_size,
  count(DISTINCT user_id) AS n_sensitive,
  count(*) < 50 AS k_risk,
  count(DISTINCT user_id) < 20 AS l_risk
FROM events
GROUP BY 1, 2 ORDER BY event_type, event_date"""

  /** q94 twin: two-sample KS over events.value parity halves — cumsum
    * windows over pooled distinct values, integer cross products,
    * deterministic argmax (gap desc, value asc). */
  val q94_ks_drift: String = """
WITH pooled AS (
  SELECT value AS v,
    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM events WHERE value IS NOT NULL GROUP BY 1),
cum AS (
  SELECT v,
    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
  FROM pooled),
t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM pooled)
SELECT v AS at_value, abs(cuma * nb - cumb * na) AS ks_parts,
  na AS n_base, nb AS n_in,
  CAST(abs(cuma * nb - cumb * na) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks
FROM cum, t ORDER BY ks_parts DESC, v LIMIT 1"""

  /** q90 twin: char symbols + '</w>' per word type, adjacent pairs
    * weighted by word frequency. */
  val q90_bpe_pair_counts: String = toksCte + """
, w AS (
  SELECT t AS word, count(*) AS freq
  FROM (SELECT unnest(tokens) AS t FROM toks) GROUP BY 1),
s AS (
  SELECT word, freq,
    list_append(list_transform(range(1, length(word)+1),
      i -> substr(word, i, 1)), '</w>') AS symbols
  FROM w),
p AS (
  SELECT freq, symbols[i] AS sym_a, symbols[i+1] AS sym_b
  FROM s, unnest(range(1, len(symbols))) AS t(i))
SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS cnt
FROM p GROUP BY 1, 2 ORDER BY cnt DESC, sym_a, sym_b LIMIT 200"""

  /** Fixed merge list for q110: the data-independent half of BPE.
    * Training is a loop no SQL oracle can replay, but ENCODING under a
    * known merge list is — so the production encoder
    * ([[graft.text.Bpe.rankEncode]] behind
    * [[graft.text.Bpe.encodeTokenCounts]]) gets a full hash check
    * here, the q48-vs-q41 split applied to tokenization. The list is
    * deliberately adversarial: chained merges (t,h)→(th,e</w>),
    * end-of-word merges, a self-pair (l,l), and an entry ((b,c)) whose
    * rank precedes one ((a,b)) that could feed it — exercising the
    * in-learned-order semantics both sides must share. */
  val bpeStaticMerges: Seq[(String, String)] = Seq(
    "e" -> "</w>", "t" -> "h", "th" -> "e</w>", "s" -> "</w>",
    "d" -> "</w>", "i" -> "n", "a" -> "n", "an" -> "d</w>",
    "e" -> "r", "er" -> "</w>", "o" -> "n", "r" -> "e",
    "a" -> "t", "e" -> "n", "o" -> "r", "t" -> "</w>",
    "l" -> "l", "o" -> "u", "in" -> "g", "y" -> "</w>",
    "b" -> "c", "a" -> "b")

  /** q110 twin: BPE encoding as string rewriting. A word's symbol
    * state is rendered with a '|' terminator after every symbol
    * ("l|o|w|</w>|"), so one in-order greedy left-to-right merge pass
    * for (a,b) is EXACTLY SQL `replace(s, 'a|b|', 'ab|')`: the
    * trailing terminator keeps a symbol from matching a prefix of a
    * longer one, non-overlapping left-to-right replacement is the
    * no-remerge rule ("a|a|a|" under (a,a) becomes "aa|a|"), and the
    * replacement re-emits the terminator so back-to-back occurrences
    * chain. Token count = terminators remaining. '|' never appears in
    * symbols ([a-z0-9] and '</w>'). */
  val q110_bpe_encode_static: String = {
    val enc = bpeStaticMerges.foldLeft(
      """regexp_replace(word, '(.)', '\1|', 'g') || '</w>|'""") {
      case (e, (a, b)) => s"replace($e, '$a|$b|', '$a$b|')"
    }
    toksCte + s"""
, w AS (SELECT doc_id, unnest(tokens) AS word FROM toks),
enc AS (SELECT doc_id, $enc AS s FROM w)
SELECT doc_id,
  CAST(sum(length(s) - length(replace(s, '|', ''))) AS BIGINT) AS n_bpe_tokens
FROM enc GROUP BY doc_id ORDER BY doc_id"""
  }

  /** q329 twin of [[graft.text.Bpe.fertilityByLang]]: the q110
    * replace-chain encode per word, rolled up per lang with the same
    * exact integer floors. LEFT JOIN + coalesce(0) keeps zero-word
    * docs in the doc count, matching the Spark side's 0-count rows. */
  val q329_tokenizer_fertility: String = {
    val enc = bpeStaticMerges.foldLeft(
      """regexp_replace(word, '(.)', '\1|', 'g') || '</w>|'""") {
      case (e, (a, b)) => s"replace($e, '$a|$b|', '$a$b|')"
    }
    toksCte + s"""
, w AS (SELECT doc_id, unnest(tokens) AS word FROM toks),
enc AS (SELECT doc_id, $enc AS s FROM w),
bpe AS (SELECT doc_id,
  CAST(sum(length(s) - length(replace(s, '|', ''))) AS BIGINT) AS n_bpe
  FROM enc GROUP BY doc_id),
base AS (
  SELECT d.doc_id, d.lang,
    CAST(len(t.tokens) AS BIGINT) AS n_words,
    CAST(length(d.text) AS BIGINT) AS n_chars
  FROM documents d JOIN toks t ON t.doc_id = d.doc_id)
SELECT b.lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(b.n_words) AS BIGINT) AS total_words,
  CAST(sum(b.n_chars) AS BIGINT) AS total_chars,
  CAST(sum(coalesce(p.n_bpe, 0)) AS BIGINT) AS total_bpe_tokens,
  CASE WHEN sum(b.n_words) > 0
       THEN CAST((sum(coalesce(p.n_bpe, 0)) * 1000) // sum(b.n_words)
            AS BIGINT) END AS fertility_permille,
  CASE WHEN sum(coalesce(p.n_bpe, 0)) > 0
       THEN CAST((sum(b.n_chars) * 1000) // sum(coalesce(p.n_bpe, 0))
            AS BIGINT) END AS chars_per_token_permille
FROM base b LEFT JOIN bpe p ON p.doc_id = b.doc_id
GROUP BY b.lang ORDER BY b.lang"""
  }

  val q15_doc_profile: String = toksCte + """
, base AS (
  SELECT doc_id,
    CAST(len(tokens) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_unique,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tokens, t -> CAST(length(t) AS BIGINT))), (a,x) -> a + x) AS sum_len,
    CAST(len(list_filter(tokens, t -> list_contains(
      ['the','a','of','to','and','in','is','it','on','for'], t))) AS BIGINT) AS stop_hits,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tokens,
        t -> CAST(('0x' || substr(md5(t), 1, 14)) AS BIGINT) % 1000000007)),
      (a,x) -> (a * 31 + x) % 1000000007) AS fingerprint
  FROM toks)
SELECT doc_id, n_tokens, n_unique,
  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
  CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unique_ratio,
  CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
   + CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE)
   + least(CAST(stop_hits AS DOUBLE) * 10.0 / CAST(n_tokens AS DOUBLE), 1.0)) / 3.0
    AS quality_score,
  fingerprint
FROM base ORDER BY doc_id"""

  val q16_lang_confusion: String = toksCte + """
, scored AS (
  SELECT lang,
    len(list_filter(tokens, t -> list_contains(
      ['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS s_de,
    len(list_filter(tokens, t -> list_contains(
      ['the','a','of','to','and','in','is','it','on','for'], t))) AS s_en,
    len(list_filter(tokens, t -> list_contains(
      ['el','la','que','los','y','en','un','por','con','una'], t))) AS s_es,
    len(list_filter(tokens, t -> list_contains(
      ['le','les','et','des','une','du','est','dans','pour','que'], t))) AS s_fr
  FROM toks),
predicted AS (
  SELECT lang, CASE
    WHEN best > 0 AND s_de = best THEN 'de'
    WHEN best > 0 AND s_en = best THEN 'en'
    WHEN best > 0 AND s_es = best THEN 'es'
    WHEN best > 0 AND s_fr = best THEN 'fr'
    ELSE 'und' END AS predicted_lang
  FROM (SELECT lang, s_de, s_en, s_es, s_fr,
          greatest(s_de, s_en, s_es, s_fr) AS best FROM scored))
SELECT lang, predicted_lang, count(*) AS docs
FROM predicted GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang"""

  // --- dedup family (graft.dedup.Dedup) ------------------------------------

  /** `toks` + `sh` over relation `from` (doc_id, text): lower-cased
    * alphanumeric tokens and their word 3-gram shingles. */
  private def shingleCtes(from: String): String = s"""toks AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                t -> t <> '') AS tokens
  FROM $from),
sh AS (
  SELECT doc_id, list_transform(range(1, len(tokens)-1),
    i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) AS shingles
  FROM toks WHERE len(tokens) >= 3)"""

  /** [[shingleCtes]] plus `xs`, each shingle's mod-P hash — the SQL
    * twin of [[graft.dedup.Dedup.explodedShingleHashes]]. */
  private def shingleHashCtes(from: String): String = s"""${shingleCtes(from)},
xs AS (
  SELECT doc_id, list_transform(shingles,
    s -> CAST(('0x' || substr(md5(s),1,14)) AS BIGINT) % 1000000007) AS hs
  FROM sh)"""

  /** Tokens → word-3-gram shingles → mod-P shingle hashes over the
    * fixture documents. */
  val shinglesCte: String = s"""
WITH ${shingleHashCtes("documents")}
"""

  /** `ds`: each doc's distinct shingle hashes, over `xs`. */
  private val distinctShinglesCte: String =
    "ds AS (SELECT doc_id, list_distinct(hs) AS ss FROM xs)"

  /** `posting` (one row per distinct doc shingle) over `ds`, and `dfs`,
    * each shingle's document frequency. */
  private val postingDfCtes: String =
    """posting AS (SELECT doc_id, unnest(ss) AS shingle FROM ds),
dfs AS (SELECT shingle, count(*) AS df FROM posting GROUP BY 1)"""

  /** [[shinglesCte]] plus q19's df-capped distinct postings: `ds`,
    * `posting` (with each doc's full set size `n_sh`), the cap-100
    * `rare` shingles and the capped postings `f` — the twin of
    * Dedup's postings and df-cap steps. Shared by q19, q157 and q226;
    * ends with the comma before the next CTE. */
  private val cappedPostingCtes: String = shinglesCte + s"""
, $distinctShinglesCte,
posting AS (SELECT doc_id, len(ss) AS n_sh, unnest(ss) AS shingle FROM ds),
rare AS (SELECT shingle FROM posting GROUP BY shingle HAVING count(*) <= 100),
f AS (SELECT p.* FROM posting p JOIN rare USING (shingle)),"""

  /** [[cappedPostingCtes]] plus `common`, the shared-shingle count per
    * (doc_a < doc_b) pair with both set sizes — q19's Jaccard
    * skeleton, which q226 replays at threshold 0.5. */
  private val jaccardCommonCtes: String = cappedPostingCtes + """
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS common
  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)"""

  /** Governed-bucket clone corpus for q346/q348/q369, the twin of
    * SparkEntry's `cloneCorpus`: docs 0-59 plus 24 " zz<r>" clones
    * each of docs 0 and 1. */
  private val cloneCorpusCte: String = """corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT d.doc_id * 100 + r.r + 900000 AS doc_id,
         d.text || ' zz' || CAST(r.r AS VARCHAR) AS text
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 24)) AS r) r
  WHERE d.doc_id < 2)"""

  /** q269/q288/q296's corpus: every doc plus its first two thirds as doc
    * `doc_id + 10000`, the twin of SparkEntry's `prefixCorpus`. */
  private val prefixCorpusCte: String = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, substr(text, 1, (n_chars * 2) // 3)
  FROM documents)"""

  /** Cleanup twin: identical explicit character classes on both
    * engines (\\s differs between Java and RE2 — never used). */
  /** q108: Unicode NFC normalization audit — normalization is
    * implementation-stable by the Unicode stabilization policy, so
    * DuckDB's nfc_normalize and the JVM Normalizer must agree byte
    * for byte (md5 compared). */
  val q108_nfc_normalize: String = """
WITH c AS (
  SELECT doc_id, text, nfc_normalize(text) AS nfc FROM documents)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_raw,
  CAST(length(nfc) AS BIGINT) AS n_chars_nfc,
  md5(nfc) AS nfc_md5,
  (nfc <> text) AS changed
FROM c ORDER BY doc_id"""

  val q51_text_clean: String = """
WITH c AS (
  SELECT doc_id, text,
    trim(regexp_replace(
      regexp_replace(lower(text), '[\x00-\x1f]+', ' ', 'g'), ' +', ' ', 'g'))
      AS clean
  FROM documents)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_raw,
  CAST(length(clean) AS BIGINT) AS n_chars_clean,
  md5(clean) AS clean_md5,
  (clean <> text) AS changed
FROM c ORDER BY doc_id"""

  val q17_content_dedup: String = """
SELECT doc_id, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn = 1 ORDER BY doc_id"""

  /** Recursive `conn(a, b)`: every pair joined by a path in the
    * undirected edge CTE `e(a, b)`, never stepping back to `a` — the
    * closure whose `least(a, min(b))` labels connected components
    * independently of Spark's min-label fixpoint. */
  private val connCte: String = """
conn(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT c.a, e.b FROM conn c JOIN e ON c.b = e.a WHERE e.b <> c.a)"""

  /** MinHash signature entries generated from the SAME coefficient
    * table the Spark operator uses ([[graft.dedup.Dedup.minhashCoeffs]])
    * — the two engines cannot diverge on constants. */
  /** `p` = q18's near-dup pairs, `e` = those pairs undirected, and
    * [[connCte]] over them: the near-dup clusters as a closure (for a
    * `WITH RECURSIVE` list). */
  private def minhashConnCtes: String = s"""p AS ($q18_minhash_neardup),
e AS (SELECT DISTINCT a, b FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p)),$connCte"""

  val q18_minhash_neardup: String = {
    val sigEntries = graft.dedup.Dedup.minhashCoeffs.map { case (a, b) =>
      s"list_reduce(list_transform(hs, x -> (x*$a+$b)%1000000007), (u,v)->least(u,v))"
    }.mkString(",\n    ")
    val nh = graft.dedup.Dedup.numHashes
    shinglesCte + s"""
, sigs AS (SELECT doc_id, [$sigEntries] AS sig FROM xs),
bands AS (
  SELECT doc_id, sig, b,
    CAST(sig[b*4+1] AS VARCHAR) || '_' || CAST(sig[b*4+2] AS VARCHAR) || '_' ||
    CAST(sig[b*4+3] AS VARCHAR) || '_' || CAST(sig[b*4+4] AS VARCHAR) AS key
  FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT doc_a, doc_b,
    CAST(len(list_filter(range(1,${nh + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)/$nh.0
      AS est_jaccard
  FROM pairs)
WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b"""
  }

  val q19_jaccard_pairs: String = jaccardCommonCtes + """
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
    CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) AS jaccard
  FROM common)
WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b"""

  /** SimHash bit terms generated to mirror [[graft.dedup.Dedup.simhash]]. */
  val q20_simhash_neardup: String = {
    val bitTerms = (0 until graft.dedup.Dedup.simhashBits).map { j =>
      s"CASE WHEN 2*len(list_filter(hs, h -> (h >> $j) & 1 = 1)) > len(hs)" +
        s" THEN CAST(1 AS BIGINT) << $j ELSE 0 END"
    }.mkString("\n    + ")
    s"""
WITH ${shingleCtes("documents")},
hs64 AS (
  SELECT doc_id, list_transform(shingles,
    s -> CAST(('0x' || substr(md5(s),1,14)) AS BIGINT)) AS hs
  FROM sh),
sims AS (SELECT doc_id, (""" + bitTerms + """) AS simhash FROM hs64),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (8*b)) & 255 AS key
  FROM sims CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM pairs)
WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
  }

  // --- similarity search (graft.similarity.Similarity) ---------------------

  /** Sequential-fold dot/cosine, the SQL twin of
    * [[graft.similarity.Similarity.cosine]]: float→double per element,
    * left fold in array order → bit-identical IEEE-754 doubles. */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc,v) -> acc + v)"

  private def sqlCosine(q: String, e: String): String =
    s"${sqlDot(q, e)} / (sqrt(${sqlDot(q, q)}) * sqrt(${sqlDot(e, e)}))"

  /** LSH twin scaffolding: the hyperplane coefficient matrix is
    * generated from [[graft.similarity.Similarity.hyperplane]] — the
    * engines share constants by construction (the q18 minhash
    * pattern). Keys are per-band sign-bit packs; the candidate join is
    * "any band agrees" (the Spark side dedups to the first matching
    * band — same pair set). */
  private val hpDim = 64
  private val hpBits = graft.similarity.Similarity.signatureBits
  private val hpBands = graft.similarity.Similarity.signatureBands

  private def hpMatrix: String =
    (0 until hpBands * hpBits).map(p =>
      graft.similarity.Similarity.hyperplane(p, hpDim)
        .map(c => s"${c.toInt}.0").mkString("[", ",", "]"))
      .mkString("[\n  ", ",\n  ", "]")

  /** Fixed IVF coarse quantizer, the twin of SparkEntry's
    * `ivfSq8Index` centroids (hyperplanes 0-7 as cell directions): the
    * `cm(cell, cv, cn)` CTE with centroid norms embedded as
    * shortest-repr doubles (exact round-trip). */
  private def ivfCm: String = {
    val cvals = (0 until 8).map { j =>
      val c = graft.similarity.Similarity.hyperplane(j, hpDim)
      val cn = math.sqrt(c.map(x => x.toDouble * x).sum)
        .max(java.lang.Double.MIN_VALUE)
      s"($j, [${c.map(x => s"${x.toInt}.0").mkString(",")}], $cn)"
    }.mkString(",\n  ")
    s"""cm(cell, cv, cn) AS (SELECT * FROM (VALUES
  $cvals) v(cell, cv, cn))"""
  }

  /** d = -cos(embedding, centroid), mirroring Similarity.centStructs:
    * same fold, same norm; callers break ties on (d, cell). */
  private def ivfD: String =
    "(-(list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1), " +
      "i -> CAST(embedding[i] AS DOUBLE) * cv[i])), (acc,v) -> acc + v))) / " +
      s"(sqrt(${sqlDot("embedding", "embedding")}) * cn) AS d"

  /** `cm` plus `a`: every fixture embedding against every centroid. */
  private def ivfCellCtes: String = s"""$ivfCm,
a AS (
  SELECT vec_id, embedding, cell,
    $ivfD
  FROM embeddings CROSS JOIN cm)"""

  /** [[ivfCellCtes]] plus q91's int8 codes: each row's nearest cell
    * (`codes`) and each query's 3 probed cells (`qcodes`). */
  private def ivfSq8Ctes: String = {
    def sq8(e: String) =
      s"list_transform(range(1, len($e)+1), " +
        s"i -> CAST(floor(CAST($e[i] AS DOUBLE) " +
        s"/ sqrt(${sqlDot(e, e)}) * 127 + 0.5) AS BIGINT))"
    s"""$ivfCellCtes,
codes AS (
  SELECT vec_id, cell, ${sq8("embedding")} AS qv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a)
  WHERE rn = 1),
qcodes AS (
  SELECT vec_id AS query_id, cell, ${sq8("embedding")} AS qq FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a WHERE vec_id < 10)
  WHERE rn <= 3)"""
  }

  /** Sequential fold of embedding · hyperplane `p` — same float→double
    * promotion and accumulation order as the Spark vec_dot. */
  private def sqlHpDot(p: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1), " +
      s"i -> CAST(embedding[i] AS DOUBLE) * m[${p + 1}][i])), (acc,v) -> acc + v)"

  private def sqlBandKey(b: Int): String =
    (0 until hpBits).map(j =>
      s"CASE WHEN ${sqlHpDot(b * hpBits + j)} > 0 THEN ${1 << j} ELSE 0 END")
      .mkString("(", "\n      + ", ")")

  private def sqlKeyCols: String =
    (0 until hpBands).map(b => s"${sqlBandKey(b)} AS key$b").mkString(",\n    ")

  private def sqlAnyBand(a: String, b: String): String =
    (0 until hpBands).map(j => s"$a.key$j = $b.key$j").mkString("(", " OR ", ")")

  /** `hp` + `s`: the hyperplane matrix and every embedding's LSH band
    * keys (`key0`…), the twin of [[graft.similarity.Similarity]]'s
    * band keys. */
  private val lshCtes: String = s"""hp(m) AS (SELECT $hpMatrix),
s AS (
  SELECT vec_id, embedding,
    $sqlKeyCols
  FROM embeddings, hp)"""

  /** [[lshCtes]] plus `q`: the band keys of query vectors 0-9. */
  private val lshProbeCtes: String = s"""$lshCtes,
q AS (SELECT vec_id AS query_id, embedding AS qv,
        ${(0 until hpBands).map(b => s"key$b").mkString(", ")}
      FROM s WHERE vec_id < 10)"""

  /** Per-query top-10 of `scored` by (cosine DESC, vec_id). */
  private val top10ByCosine: String = """ranked AS (
  SELECT query_id, vec_id AS neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Per-query top-10 of `scored` by (score DESC, vec_id). */
  private val top10ByScore: String = """ranked AS (
  SELECT query_id, vec_id AS neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, score FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  val q21_knn_bruteforce: String = s"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id, ${sqlCosine("q.qv", "e.embedding")} AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
$top10ByCosine"""

  val q22_ann_lsh: String = s"""
WITH $lshProbeCtes,
scored AS (
  SELECT q.query_id, c.vec_id, ${sqlCosine("q.qv", "c.embedding")} AS cosine
  FROM s c JOIN q ON ${sqlAnyBand("c", "q")} AND c.vec_id <> q.query_id),
$top10ByCosine"""

  /** q48: IVF search with the fixed centroid matrix the Spark entry
    * uses (hyperplanes 0-7 as cell directions). d = -cos(vec, centroid)
    * mirrors Similarity.centStructs exactly: same fold, same norm,
    * same (d, cell) tie-break; centroid norms are embedded as
    * shortest-repr doubles (exact round-trip). */
  val q48_ann_ivf_static: String = s"""
WITH $ivfCellCtes,
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a)
  WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a WHERE vec_id < 10)
  WHERE rn <= 3),
scored AS (
  SELECT p.query_id, c.vec_id, ${sqlCosine("p.qv", "c.embedding")} AS cosine
  FROM assign c JOIN probes p ON c.cell = p.cell AND c.vec_id <> p.query_id),
$top10ByCosine"""

  /** q95 twin: recall@10 of the q22 LSH result against the q21 exact
    * result, composed from the same CTE builders so the two sides are
    * bit-identical to their standalone oracles. */
  val q95_ann_recall: String = s"""
WITH $lshProbeCtes,
bruteranked AS (
  SELECT query_id, vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM (SELECT q.query_id, e.vec_id, ${sqlCosine("q.qv", "e.embedding")} AS cosine
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)),
annranked AS (
  SELECT query_id, vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM (SELECT q.query_id, c.vec_id, ${sqlCosine("q.qv", "c.embedding")} AS cosine
        FROM s c JOIN q ON ${sqlAnyBand("c", "q")} AND c.vec_id <> q.query_id)),
truth AS (SELECT query_id, neighbor_id FROM bruteranked WHERE rank <= 10),
ann AS (SELECT query_id, neighbor_id FROM annranked WHERE rank <= 10)
SELECT t.query_id,
  CAST(count(a.neighbor_id) AS BIGINT) AS hits,
  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
FROM truth t LEFT JOIN ann a
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY 1 ORDER BY t.query_id"""

  /** q88: SemDeDup twin — q48's fixed-centroid assignment CTE, then a
    * within-cell self-join marks every vec with a lower-id cosine
    * near-dup as dropped. Same fold-order dot/norm as the Spark side,
    * so the ≥ 0.4 verdicts are bit-identical. */
  val q88_semantic_dedup: String = s"""
WITH $ivfCellCtes,
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a)
  WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.4)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS kept
FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
ORDER BY s.vec_id"""

  /** q103 twin: q88's fixed-centroid assignment CTE carrying the label
    * column, then the per-cell contingency summary + purity. */
  val q103_cluster_purity: String = s"""
WITH $ivfCm,
a AS (
  SELECT vec_id, label, cell,
    $ivfD
  FROM embeddings CROSS JOIN cm),
assign AS (
  SELECT vec_id, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a)
  WHERE rn = 1),
cont AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY 1, 2),
top AS (
  SELECT cell, label, n,
    row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn
  FROM cont)
SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs,
  CAST(count(*) AS BIGINT) AS n_labels,
  max(CASE WHEN rn = 1 THEN label END) AS top_label,
  CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_n,
  CAST(max(CASE WHEN rn = 1 THEN n END) AS DOUBLE)
    / CAST(sum(n) AS DOUBLE) AS purity
FROM top GROUP BY cell ORDER BY cell"""

  /** q91: int8-quantized ANN twin. Quantization is floor(u·127 + 0.5)
    * on the unit vector — floor(x + 0.5) is engine-neutral where
    * round()'s half-way mode is not; scores are pure BIGINT
    * arithmetic, so the compare is exact with no doubles at all. */
  val q91_quantized_knn: String = s"""
WITH n AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding)+1),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
             / sqrt(${sqlDot("embedding", "embedding")}) * 127 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
q AS (SELECT vec_id AS query_id, qv AS qq FROM n WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, n.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(n.qv)+1), i -> n.qv[i] * q.qq[i])),
      (a, v) -> a + v) AS score
  FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id),
$top10ByScore"""

  /** q111: composed IVF+SQ8 twin — q48's fixed-centroid assignment
    * and probe CTEs (full-precision coarse quantizer) feeding q91's
    * int8 quantization and pure-BIGINT integer-dot scoring, restricted
    * to each query's 3 probed cells. Each corpus row has exactly one
    * cell and a query's probe list holds distinct cells, so the
    * cell equi-join scores every candidate once. */
  val q111_ivf_sq8_search: String = s"""
WITH $ivfSq8Ctes,
scored AS (
  SELECT q.query_id, c.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(c.qv)+1), i -> c.qv[i] * q.qq[i])),
      (acc, v) -> acc + v) AS score
  FROM codes c JOIN qcodes q ON c.cell = q.cell AND c.vec_id <> q.query_id),
$top10ByScore"""

  /** q114 twin: the pixel stats from FIRST PRINCIPLES — the fixture's
    * generating formula over (doc_id, x, y), never touching a PNG
    * byte. The Spark side gets the same numbers only by correctly
    * walking chunks, concatenating IDATs, inflating zlib, and
    * inverting all five scanline filters; any decode bug breaks the
    * BIGINT hash. Luma uses the 299/587/114 integer weights (x1000). */
  val q114_png_decode_stats: String = """
WITH d AS (
  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h FROM documents),
px AS (
  SELECT doc_id, w, h,
    (7 * doc_id + 13 * x + 31 * y) % 256 AS r,
    (11 * doc_id + 17 * x + 5 * y) % 256 AS g,
    (3 * doc_id + 29 * x + 23 * y) % 256 AS b
  FROM d, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y))
SELECT doc_id,
  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
  CAST(count(*) AS BIGINT) AS n_pixels,
  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b,
  CAST(sum(299 * r + 587 * g + 114 * b) AS BIGINT) AS sum_luma1000,
  CASE WHEN sum(r) >= sum(g) AND sum(r) >= sum(b) THEN 'r'
       WHEN sum(g) >= sum(b) THEN 'g' ELSE 'b' END AS dominant
FROM px GROUP BY doc_id ORDER BY doc_id"""

  /** q115 twin: WAV PCM16 sample stats from FIRST PRINCIPLES — the
    * fixture's generating formula over (doc_id, interleaved sample
    * index), never touching a RIFF byte. The Spark side gets the same
    * numbers only by correctly walking chunks (including the injected
    * odd-length ancillary chunk and its pad byte), validating `fmt `,
    * and decoding little-endian int16 samples; any decode bug breaks
    * the BIGINT hash. Zero crossings counted over channel 0 (sample
    * indices ≡ 0 mod channels) as strict sign flips. */
  val q115_wav_decode_stats: String = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 37 AS nf,
         8000 + 100 * (doc_id % 4) AS sr
  FROM documents),
s AS (
  SELECT doc_id, ch, nf, sr, i,
    ((7919 * doc_id + 104729 * i + 1299721 * i * i) % 65536) - 32768 AS v
  FROM d, unnest(range(0, ch * nf)) AS t(i)),
agg AS (
  SELECT doc_id,
    CAST(max(ch) AS BIGINT) AS channels,
    CAST(max(sr) AS BIGINT) AS sample_rate,
    CAST(max(nf) AS BIGINT) AS n_frames,
    CAST(sum(v) AS BIGINT) AS sum_all,
    CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
    CAST(min(v) AS BIGINT) AS min_s,
    CAST(max(v) AS BIGINT) AS max_s
  FROM s GROUP BY doc_id),
c0 AS (
  SELECT doc_id, v,
    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s WHERE i % ch = 0),
zc AS (
  SELECT doc_id,
    CAST(count(*) FILTER (WHERE pv IS NOT NULL AND (v < 0) != (pv < 0))
         AS BIGINT) AS zero_cross0
  FROM c0 GROUP BY doc_id)
SELECT agg.*, zc.zero_cross0
FROM agg JOIN zc USING (doc_id) ORDER BY doc_id"""

  /** q116 twin: rebuild the same formula-synthesized raw URLs, then
    * apply the canonicalization SPEC (RFC-3986-safe normalizations:
    * lowercase scheme/host, drop default port / fragment / tracking
    * params / trailing slashes) from first principles in SQL — any
    * divergence in the Spark operator's regex pipeline breaks the
    * hash. Registered domain = last two host labels (documented
    * approximation; production uses the public-suffix list). */
  val q116_url_canonicalize: String = """
WITH u AS (
  SELECT doc_id,
    (['HTTP','https','HtTpS'])[CAST(doc_id % 3 + 1 AS INT)] || '://' ||
    CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
    'Sub' || CAST(doc_id % 4 AS VARCHAR) ||
    '.ExAmple' || CAST(doc_id % 7 AS VARCHAR) || '.CoM' ||
    ([':443', ':80', ':8080', ''])[CAST(doc_id % 4 + 1 AS INT)] ||
    CASE WHEN doc_id % 11 = 0 THEN '/' ELSE
      '/Dir' || CAST(doc_id % 5 AS VARCHAR) ||
      '/pg' || CAST(doc_id % 13 AS VARCHAR) ||
      CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END END ||
    CASE WHEN doc_id % 10 = 0 THEN '?utm_source=feed'
         ELSE '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
              '&utm_campaign=x&q=' || CAST(doc_id % 9 AS VARCHAR) END ||
    CASE WHEN doc_id % 2 = 0 THEN '#Sec' || CAST(doc_id % 3 AS VARCHAR)
         ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^([^:]*)', 1)) AS host,
    regexp_extract(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$', 1) AS port,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    COALESCE(array_to_string(list_filter(
      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=')), '&'), '') AS kq
  FROM u),
canon AS (
  SELECT doc_id, url,
    scheme || '://' || host ||
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
           OR (scheme = 'https' AND port = '443')
         THEN '' ELSE ':' || port END ||
    regexp_replace(path, '/+$', '') ||
    CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canon_url,
    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
  FROM parts)
SELECT doc_id, url, canon_url, domain,
  CAST(row_number() OVER (PARTITION BY domain ORDER BY canon_url, doc_id)
       AS INTEGER) AS domain_rank,
  CAST(CASE WHEN row_number() OVER (PARTITION BY domain
              ORDER BY canon_url, doc_id) <= 40
       THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM canon ORDER BY doc_id"""

  /** q117 twin: rebuild the same formula-synthesized line lists, then
    * apply the document-frequency threshold from first principles —
    * lines in ≥ 3 distinct docs are chrome and go; df=2 'pair' lines
    * and unique content stay; a doc whose every line was chrome
    * surfaces with kept_lines=0 and clean_text='' (never dropped). */
  val q117_boilerplate_lines: String = """
WITH parts AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN ['== site header =='] ELSE []::VARCHAR[] END ||
    CASE WHEN doc_id % 3 = 0 THEN ['nav menu home'] ELSE []::VARCHAR[] END ||
    list_transform(range(0, doc_id % 4 + 1),
      j -> 'content ' || CAST(doc_id AS VARCHAR) || ' line ' || CAST(j AS VARCHAR)) ||
    ['pair ' || CAST(doc_id // 2 AS VARCHAR)] ||
    CASE WHEN doc_id % 2 = 1 THEN ['copyright footer'] ELSE []::VARCHAR[] END AS ls
  FROM documents),
lines AS (
  SELECT doc_id, i, ls[CAST(i AS INT)] AS line
  FROM parts, unnest(range(1, len(ls) + 1)) AS t(i)),
freq AS (
  SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line),
kept AS (
  SELECT l.doc_id, l.i, l.line FROM lines l
  JOIN freq f USING (line) WHERE f.df < 3),
rebuilt AS (
  SELECT doc_id, count(*) AS kept_lines,
         string_agg(line, chr(10) ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT p.doc_id,
  CAST(len(p.ls) AS BIGINT) AS n_lines,
  CAST(COALESCE(r.kept_lines, 0) AS BIGINT) AS kept_lines,
  COALESCE(r.clean_text, '') AS clean_text
FROM parts p LEFT JOIN rebuilt r USING (doc_id)
ORDER BY p.doc_id"""

  /** q118 twin: q84's recursive-closure component labels, then the
    * quality argmax from first principles — max length per cluster,
    * min doc_id among the maxima, every doc audited (unpaired docs
    * are their own kept singleton cluster). */
  val q118_keep_best_neardup: String = s"""
WITH RECURSIVE
$minhashConnCtes,
lab AS (SELECT a AS doc_id, least(a, min(b)) AS label FROM conn GROUP BY a),
sc AS (
  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster,
         CAST(length(d.text) AS BIGINT) AS score
  FROM documents d LEFT JOIN lab l USING (doc_id)),
mx AS (SELECT cluster, max(score) AS mx FROM sc GROUP BY cluster),
keepid AS (
  SELECT s.cluster, min(s.doc_id) AS keep_id
  FROM sc s JOIN mx m USING (cluster) WHERE s.score = m.mx
  GROUP BY s.cluster)
SELECT s.doc_id, s.cluster, s.score, s.doc_id = k.keep_id AS kept
FROM sc s JOIN keepid k USING (cluster)
ORDER BY s.doc_id"""

  /** q119 twin: identical chunk-start formula (last start =
    * stride·⌈max(0,n−window)/stride⌉, so no contained tails), 1-based
    * list slicing on the same whitespace tokens. */
  val q119_chunk_windows: String = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(text, '\s+', ' ', 'g'), ' '),
      t -> t <> '') AS ts
  FROM documents),
sized AS (
  SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0),
starts AS (
  SELECT doc_id, ts, n, i AS chunk_idx, CAST(i * 30 AS BIGINT) AS start_token
  FROM sized,
    unnest(range(0, (greatest(n - 40, 0) + 29) // 30 + 1)) AS t(i))
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, start_token,
  CAST(len(ts[CAST(start_token + 1 AS INT):CAST(least(start_token + 40, n) AS INT)]) AS BIGINT)
    AS n_tokens,
  array_to_string(ts[CAST(start_token + 1 AS INT):CAST(least(start_token + 40, n) AS INT)], ' ')
    AS chunk_text
FROM starts ORDER BY doc_id, chunk_idx"""

  /** q120 twin: the same synthesized pages, the same regex cascade
    * (RE2-safe on both engines — inline (?is) flags, lazy
    * quantifiers, no backreferences), run step by step in DuckDB; the
    * link's canonical form derived from the URL formula alone. */
  val q120_html_extract: String = """
WITH h AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' </title>' ||
    '<style>p {color: red}</style><script>var x = 1 < 2;</script></head>' || chr(10) ||
    '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
    '<p>' || text || '</p>' || chr(10) ||
    '<a href="HTTP://Example.com:80/doc/' || CAST(doc_id AS VARCHAR) ||
    '?utm_source=feed&page=2#frag">next</a>' ||
    CASE WHEN doc_id % 3 = 0
      THEN '<div>footer &amp; legal &lt;fine print&gt;&nbsp;ok</div>'
      ELSE '' END ||
    '</body></html>' AS html
  FROM documents),
noscript AS (
  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
    '(?s)<!--.*?-->', ' ', 'g') AS s
  FROM h),
stripped AS (
  SELECT doc_id, regexp_replace(regexp_replace(s,
    '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)[^>]*>', chr(10), 'g'),
    '(?s)<[^>]+>', ' ', 'g') AS s
  FROM noscript),
decoded AS (
  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(regexp_replace(regexp_replace(s,
    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
    '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&#(\d+);', ' ', 'g'),
    '&amp;', '&', 'g') AS s
  FROM stripped),
collapsed AS (
  SELECT doc_id, regexp_replace(trim(regexp_replace(regexp_replace(regexp_replace(s,
    '[ \t\x0B\f\r]+', ' ', 'g'),
    ' ?\n ?', chr(10), 'g'), '\n{2,}', chr(10), 'g'), ' '),
    '^\n+|\n+$', '', 'g') AS clean_text
  FROM decoded)
SELECT c.doc_id,
  'Doc ' || CAST(c.doc_id AS VARCHAR) AS title,
  c.clean_text,
  CAST(1 AS BIGINT) AS n_links,
  'http://example.com/doc/' || CAST(c.doc_id AS VARCHAR) || '?page=2'
    AS first_link_canon
FROM collapsed c ORDER BY c.doc_id"""

  /** dHash bits of `imgs(doc_id, g, m)` from the pixel formula of
    * SparkEntry's `groupPng`: 9×8 luma1000 cell sums, one bit per
    * left/right cell mean compare (quotient, then remainder). */
  private val dhashBitsCtes: String = """px AS (
  SELECT doc_id,
    y * 8 // 10 AS gr, x * 9 // 12 AS gc,
    299 * ((37*g + (3 + g)*x + (5 + g%3)*y +
            CASE WHEN x = 0 AND y = 0 THEN m ELSE 0 END) % 256)
    + 587 * ((91*g + (7 + 2*g)*x + (2 + g%2)*y) % 256)
    + 114 * ((53*g + (1 + g%3)*x + (11 + g)*y) % 256) AS luma
  FROM imgs, unnest(range(0, 12)) AS tx(x), unnest(range(0, 10)) AS ty(y)),
cells AS (
  SELECT doc_id, gr, gc, sum(luma) AS s, count(*) AS cnt
  FROM px GROUP BY doc_id, gr, gc),
bits AS (
  SELECT l.doc_id, l.gr, l.gc AS c,
    (l.s // l.cnt > r.s // r.cnt OR
     (l.s // l.cnt = r.s // r.cnt AND
      (l.s % l.cnt) * r.cnt > (r.s % r.cnt) * l.cnt)) AS bit
  FROM cells l JOIN cells r
    ON l.doc_id = r.doc_id AND l.gr = r.gr AND r.gc = l.gc + 1)"""

  /** q121 twin: the dHash spec from first principles on the pixel
    * FORMULA (no PNG anywhere) — 9×8 luma1000 cell grid with floor
    * bounds, exact rational mean compare via quotient-then-remainder
    * (the Spark expression's overflow-safe form), per-bit diff count
    * as Hamming distance, exhaustive pairs (the oracle need not
    * band-block). */
  val q121_image_neardup: String = s"""
WITH imgs AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m
              FROM documents WHERE doc_id < 100),
$dhashBitsCtes
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
FROM bits a JOIN bits b
  ON a.gr = b.gr AND a.c = b.c AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3
ORDER BY doc_a, doc_b"""

  /** Per-script code-point counts of column `c`, n_latin … n_kana —
    * the twin of [[graft.text.Scripts.scriptProfile]]'s counts; `raw`
    * keeps the `\x{...}` ranges (Java regex and RE2 share the
    * syntax) verbatim. */
  private def scriptCounts(c: String): String = raw"""    CAST(len(regexp_extract_all($c, '[A-Za-z\x{00C0}-\x{024F}]')) AS BIGINT) AS n_latin,
    CAST(len(regexp_extract_all($c, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
    CAST(len(regexp_extract_all($c, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
    CAST(len(regexp_extract_all($c, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic,
    CAST(len(regexp_extract_all($c, '[\x{0590}-\x{05FF}]')) AS BIGINT) AS n_hebrew,
    CAST(len(regexp_extract_all($c, '[\x{0900}-\x{097F}]')) AS BIGINT) AS n_devanagari,
    CAST(len(regexp_extract_all($c, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk,
    CAST(len(regexp_extract_all($c, '[\x{AC00}-\x{D7AF}]')) AS BIGINT) AS n_hangul,
    CAST(len(regexp_extract_all($c, '[\x{3040}-\x{30FF}]')) AS BIGINT) AS n_kana"""

  /** The fixed-order dominance CASE over those counts: the first
    * script, in declaration order, with a nonzero count no smaller
    * than any later one; 'none' when all are zero. */
  private val dominantScript: String = """    CASE
      WHEN n_latin > 0 AND n_latin >= n_cyrillic AND n_latin >= n_greek
        AND n_latin >= n_arabic AND n_latin >= n_hebrew
        AND n_latin >= n_devanagari AND n_latin >= n_cjk
        AND n_latin >= n_hangul AND n_latin >= n_kana THEN 'latin'
      WHEN n_cyrillic > 0 AND n_cyrillic >= n_greek AND n_cyrillic >= n_arabic
        AND n_cyrillic >= n_hebrew AND n_cyrillic >= n_devanagari
        AND n_cyrillic >= n_cjk AND n_cyrillic >= n_hangul
        AND n_cyrillic >= n_kana THEN 'cyrillic'
      WHEN n_greek > 0 AND n_greek >= n_arabic AND n_greek >= n_hebrew
        AND n_greek >= n_devanagari AND n_greek >= n_cjk
        AND n_greek >= n_hangul AND n_greek >= n_kana THEN 'greek'
      WHEN n_arabic > 0 AND n_arabic >= n_hebrew AND n_arabic >= n_devanagari
        AND n_arabic >= n_cjk AND n_arabic >= n_hangul
        AND n_arabic >= n_kana THEN 'arabic'
      WHEN n_hebrew > 0 AND n_hebrew >= n_devanagari AND n_hebrew >= n_cjk
        AND n_hebrew >= n_hangul AND n_hebrew >= n_kana THEN 'hebrew'
      WHEN n_devanagari > 0 AND n_devanagari >= n_cjk
        AND n_devanagari >= n_hangul AND n_devanagari >= n_kana THEN 'devanagari'
      WHEN n_cjk > 0 AND n_cjk >= n_hangul AND n_cjk >= n_kana THEN 'cjk'
      WHEN n_hangul > 0 AND n_hangul >= n_kana THEN 'hangul'
      WHEN n_kana > 0 THEN 'kana'
      ELSE 'none' END AS dominant"""

  /** q123 twin: identical \x{...} code-point-range patterns (Java
    * regex and RE2 share the syntax), identical fixed-order dominance
    * CASE chain, exact integer permille. */
  val q123_script_detect: String = s"""
WITH mixed AS (
  SELECT doc_id, text || ' ' ||
    repeat((['', 'привет мир ', 'αβγδε ζ ', 'مرحبا بالعالم ',
             '你好世界 ', '안녕하세요 '])[CAST(doc_id % 6 + 1 AS INT)],
           CAST(doc_id % 3 * 40 AS INT)) AS t
  FROM documents),
counted AS (
  SELECT doc_id,
${scriptCounts("t")}
  FROM mixed),
dom AS (
  SELECT *,
    n_latin + n_cyrillic + n_greek + n_arabic + n_hebrew + n_devanagari
      + n_cjk + n_hangul + n_kana AS n_scripted,
$dominantScript
  FROM counted)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
  n_devanagari, n_cjk, n_hangul, n_kana, n_scripted, dominant,
  CASE WHEN dominant = 'none' THEN NULL ELSE
    (CASE dominant
       WHEN 'latin' THEN n_latin WHEN 'cyrillic' THEN n_cyrillic
       WHEN 'greek' THEN n_greek WHEN 'arabic' THEN n_arabic
       WHEN 'hebrew' THEN n_hebrew WHEN 'devanagari' THEN n_devanagari
       WHEN 'cjk' THEN n_cjk WHEN 'hangul' THEN n_hangul
       ELSE n_kana END * 1000) // n_scripted END AS dom_permille
FROM dom ORDER BY doc_id"""

  /** q122 twin: the audio-fingerprint spec from first principles on
    * the channel-0 sample FORMULA (no RIFF anywhere) — 65 floor-bound
    * segments of mean |amplitude|, exact rational compare, per-bit
    * diff count as Hamming, exhaustive pairs. */
  val q122_audio_neardup: String = """
WITH clips AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m,
                      130 + doc_id // 5 AS n0
               FROM documents WHERE doc_id < 100),
samp AS (
  SELECT doc_id, f * 65 // n0 AS seg,
    abs(((3 + g)*f*f + 7*f + 41*g) % 201
        - 100 + CASE WHEN f = 0 THEN m ELSE 0 END) AS e
  FROM clips, unnest(range(0, n0)) AS tf(f)),
segs AS (
  SELECT doc_id, seg, sum(e) AS s, count(*) AS cnt
  FROM samp GROUP BY doc_id, seg),
bits AS (
  SELECT l.doc_id, l.seg AS i,
    (l.s // l.cnt > r.s // r.cnt OR
     (l.s // l.cnt = r.s // r.cnt AND
      (l.s % l.cnt) * r.cnt > (r.s % r.cnt) * l.cnt)) AS bit
  FROM segs l JOIN segs r
    ON l.doc_id = r.doc_id AND r.seg = l.seg + 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
FROM bits a JOIN bits b
  ON a.i = b.i AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3
ORDER BY doc_a, doc_b"""

  /** Modular link-graph edge CTE body — the twin of SparkEntry's
    * `modLinks`: two out-links per doc, from `d(doc_id % citers)` to
    * `d((doc_id*3+1) % cited)` and `d((doc_id*5+2) % cited)`,
    * self-loops and duplicates dropped. (23, 29) is the near-complete
    * q124 graph, (97, 89) the sparser q165 one. */
  private def linkEd(citers: Int, cited: Int): String = s"""
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % $citers AS VARCHAR) AS src,
           'd' || CAST((doc_id * 3 + 1) % $cited AS VARCHAR) AS dst
    FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % $citers AS VARCHAR),
           'd' || CAST((doc_id * 5 + 2) % $cited AS VARCHAR)
    FROM documents)
  WHERE src <> dst"""

  /** q124 twin: the same 3 PageRank iterations unrolled as chained
    * CTEs, entirely in BIGINT micro-units — `//` floor-div at the
    * out-degree split and the 85/100 damping multiply, exact integer
    * sums, so partition order can't perturb a single bit. Dangling
    * mass leaks by spec (no redistribution term). base =
    * (1e12 * 15) // 100 = 150000000000. */
  /** Shared CTE prefix for q124/q125: edges → nodes → outdeg → 3
    * exact integer PageRank iterations (r3 = final ranks). */
  private val pagerankCtes: String = s"""
WITH e AS (${linkEd(23, 29)}),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_units FROM nodes),
i1 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r1 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i1 i USING (node)),
i2 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r2 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i2 i USING (node)),
i3 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r2 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r3 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i3 i USING (node)),
ranked AS (
  SELECT n.node, CAST(COALESCE(o.out_degree, 0) AS BIGINT) AS out_degree,
         CAST(r.rank_units AS BIGINT) AS rank_units
  FROM nodes n LEFT JOIN outdeg o USING (node) JOIN r3 r USING (node))"""

  val q124_pagerank: String = pagerankCtes + """
SELECT node, out_degree, rank_units FROM ranked ORDER BY node"""

  /** q155 twin: HITS over the q124 fixture graph — two full
    * (authority, hub) rounds unrolled as four matvec CTEs, each
    * followed by the exact L1 rescale `v·(n·unit) div Σv` with the
    * same floor semantics (`//` over non-negative BIGINTs ≡ Spark's
    * `div`). The matvec lands on the full node frame (COALESCE 0)
    * BEFORE the rescale so both engines count the same n. */
  val q155_hits: String = s"""
WITH e AS (${linkEd(23, 29)}),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
mass AS (SELECT CAST(count(*) * 1000000 AS BIGINT) AS m FROM nodes),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes),
a1r AS (SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, sum(h.v) AS v
          FROM e JOIN h0 h ON e.src = h.node GROUP BY e.dst) s USING (node)),
a1 AS (SELECT node, CAST((v * (SELECT m FROM mass))
         // (SELECT sum(v) FROM a1r) AS BIGINT) AS v FROM a1r),
h1r AS (SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.src AS node, sum(a.v) AS v
          FROM e JOIN a1 a ON e.dst = a.node GROUP BY e.src) s USING (node)),
h1 AS (SELECT node, CAST((v * (SELECT m FROM mass))
         // (SELECT sum(v) FROM h1r) AS BIGINT) AS v FROM h1r),
a2r AS (SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, sum(h.v) AS v
          FROM e JOIN h1 h ON e.src = h.node GROUP BY e.dst) s USING (node)),
a2 AS (SELECT node, CAST((v * (SELECT m FROM mass))
         // (SELECT sum(v) FROM a2r) AS BIGINT) AS v FROM a2r),
h2r AS (SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.src AS node, sum(a.v) AS v
          FROM e JOIN a2 a ON e.dst = a.node GROUP BY e.src) s USING (node)),
h2 AS (SELECT node, CAST((v * (SELECT m FROM mass))
         // (SELECT sum(v) FROM h2r) AS BIGINT) AS v FROM h2r),
outdeg AS (SELECT src AS node, count(*) AS c FROM e GROUP BY 1),
indeg AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY 1)
SELECT n.node,
  CAST(COALESCE(o.c, 0) AS BIGINT) AS out_degree,
  CAST(COALESCE(i.c, 0) AS BIGINT) AS in_degree,
  h2.v AS hub_units, a2.v AS auth_units
FROM nodes n
LEFT JOIN outdeg o USING (node)
LEFT JOIN indeg i USING (node)
JOIN h2 USING (node)
JOIN a2 USING (node)
ORDER BY node"""

  /** q144 twin IS the q124 twin: the composed crawl→harvest→rank
    * pipeline encodes the q124 edge formulas in page hrefs, so its
    * output must be bit-identical to the direct edge construction —
    * reusing the oracle verbatim is the point (the q49→q34
    * precedent), pinning the harvest stage against the known graph. */
  val q144_crawl_rank: String = q124_pagerank

  /** q146 twin: the datasheet aggregate from the shared tokenizer
    * formula, exact distinct md5, and the same integer-floor permille
    * share. */
  val q146_dataset_card: String = """
WITH b AS (
  SELECT source, lang,
    len(list_filter(string_split(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> '')) AS ntok,
    length(text) AS nch, md5(text) AS h
  FROM documents),
g AS (
  SELECT source, lang, count(*) AS n_docs,
    CAST(sum(ntok) AS BIGINT) AS n_tokens,
    CAST(sum(nch) AS BIGINT) AS n_chars,
    count(DISTINCT h) AS n_distinct_texts
  FROM b GROUP BY source, lang),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, n_chars,
  CAST(n_distinct_texts AS BIGINT) AS n_distinct_texts,
  CAST((n_docs * 1000) // total AS BIGINT) AS docs_permille
FROM g CROSS JOIN t ORDER BY source, lang"""

  /** q154 twin: [[retsCte]], the equal-weight market mean with
    * the same quantization chain (VARCHAR-detour decimal→double, one
    * IEEE division, cast+round — the q62-documented DuckDB traps
    * apply here too), and the identical final double β tree. */
  val q154_market_beta: String = barsCte + s"""
, $dailyCloseCte,
$retsCte,
mkt AS (
  SELECT date,
    CAST(ROUND(CAST(CAST(CAST(sum(ret) AS VARCHAR) AS DOUBLE) / count(*)
                    AS DECIMAL(28,10)), 6) AS DECIMAL(18,6)) AS rm
  FROM rets GROUP BY date),
agg AS (
  SELECT r.symbol, count(*) AS n_days,
    CAST(CAST(sum(r.ret) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(m.rm) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(CAST(m.rm AS DECIMAL(24,6)) * CAST(m.rm AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(CAST(r.ret AS DECIMAL(24,6)) * CAST(m.rm AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM rets r JOIN mkt m USING (date) GROUP BY r.symbol)
SELECT symbol, CAST(n_days AS BIGINT) AS n_days,
  CASE WHEN (CAST(n_days AS DOUBLE) * syy - sy * sy) > 0
       THEN (CAST(n_days AS DOUBLE) * sxy - sx * sy)
            / (CAST(n_days AS DOUBLE) * syy - sy * sy) END AS beta
FROM agg WHERE n_days >= 2 ORDER BY symbol"""

  /** q156 twin — deliberately a DIFFERENT algorithm: the operator
    * stitches positional postings with k−1 relational joins; the twin
    * slides a window over each doc's token LIST and compares
    * `list_slice` against the phrase literal (1-based positions, and
    * overlapping occurrences count in both constructions). Same
    * answer from an index plan and a scan plan. */
  val q156_phrase_search: String = toksCte + """
, pos AS (
  -- start positions 1 .. len-k+1; range() is end-exclusive, so the
  -- bound is len - k + 2 = len(tokens) at k = 2
  SELECT doc_id, tokens,
    unnest(range(1, greatest(1, len(tokens)))) AS p
  FROM toks),
m AS (
  SELECT doc_id, p FROM pos
  WHERE list_slice(tokens, p, p + 1) = ['table', 'table'])
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
  CAST(min(p) AS BIGINT) AS first_pos
FROM m GROUP BY doc_id ORDER BY doc_id"""

  /** q157 twin: the q19 postings/df-cap construction with the
    * directional self-join (`<>`, both orders) and the exact floor
    * permille against the CONTAINED side's full shingle count. */
  val q157_containment_pairs: String = cappedPostingCtes + """
common AS (
  SELECT a.doc_id AS contained, b.doc_id AS container,
         a.n_sh AS n_contained, count(*) AS common
  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3)
SELECT contained, container, CAST(common AS BIGINT) AS common,
  CAST(n_contained AS BIGINT) AS n_contained,
  CAST((common * 1000) // n_contained AS BIGINT) AS containment_permille
FROM common WHERE (common * 1000) // n_contained >= 600
ORDER BY contained, container"""

  /** q197 twin of [[graft.graph.LinkGraph.seedReach]]: the q165
    * edges, three unrolled one-hop expansions with distinct unions. */
  val q197_seed_reach: String = s"""
WITH e AS (${linkEd(97, 89)}),
nodes AS (SELECT DISTINCT node FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (
  SELECT node FROM (VALUES ('d0'), ('d1'), ('d2')) s(node)
  WHERE node IN (SELECT node FROM nodes)),
r1 AS (SELECT DISTINCT node FROM (
  SELECT node FROM r0 UNION ALL SELECT e.dst FROM e JOIN r0 ON e.src = r0.node)),
r2 AS (SELECT DISTINCT node FROM (
  SELECT node FROM r1 UNION ALL SELECT e.dst FROM e JOIN r1 ON e.src = r1.node)),
r3 AS (SELECT DISTINCT node FROM (
  SELECT node FROM r2 UNION ALL SELECT e.dst FROM e JOIN r2 ON e.src = r2.node)),
c AS (
  SELECT 0 AS hop, count(*) AS n_reachable FROM r0 UNION ALL
  SELECT 1, count(*) FROM r1 UNION ALL
  SELECT 2, count(*) FROM r2 UNION ALL
  SELECT 3, count(*) FROM r3)
SELECT CAST(hop AS INTEGER) AS hop,
  CAST(n_reachable AS BIGINT) AS n_reachable,
  CAST((n_reachable * 1000) // (SELECT n FROM n) AS BIGINT)
    AS share_permille
FROM c ORDER BY hop"""

  /** q199 twin of [[graft.graph.LinkGraph.stronglyConnected]] by a
    * STRUCTURALLY DIFFERENT algorithm (the q131 cross-check
    * discipline): WITH RECURSIVE transitive closure over the directed
    * edge set, mutual-reachability pairs (a reaches b AND b reaches
    * a), scc label = least(node, min mutual partner), sizes counted
    * per label. The Spark side never materializes reachability pairs
    * (coloring + capture + peel); agreement here is therefore a real
    * cross-check, not an echo. Lexicographic string min is identical
    * in both engines (ASCII). */
  val q199_scc: String = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % 12 AS VARCHAR) AS src,
           'd' || CAST((doc_id % 12 + 1) % 12 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 8 + 12 AS VARCHAR),
           'd' || CAST((doc_id + 1) % 8 + 12 AS VARCHAR) FROM documents
    UNION ALL
    SELECT CASE doc_id % 6 WHEN 0 THEN 'd0' WHEN 1 THEN 'd13' WHEN 2 THEN 'd20'
                           WHEN 3 THEN 'd21' WHEN 4 THEN 'd21' ELSE 'd23' END,
           CASE doc_id % 6 WHEN 0 THEN 'd12' WHEN 1 THEN 'd20' WHEN 2 THEN 'd21'
                           WHEN 3 THEN 'd22' WHEN 4 THEN 'd23' ELSE 'd24' END
    FROM documents
    UNION ALL
    SELECT 'd24', 'd23' FROM documents)
  WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
reach(s, d) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
mutual AS (
  SELECT a.s AS node, a.d AS other
  FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s),
lab AS (
  SELECT n.node, least(n.node, coalesce(min(m.other), n.node)) AS scc
  FROM nodes n LEFT JOIN mutual m ON n.node = m.node
  GROUP BY n.node),
sz AS (SELECT scc, count(*) AS scc_size FROM lab GROUP BY scc)
SELECT l.node, l.scc, CAST(sz.scc_size AS BIGINT) AS scc_size
FROM lab l JOIN sz USING (scc) ORDER BY l.node"""

  /** `n` … `qlut`: q91's SQ8 codes of every embedding, the static
    * 8-subspace codebook sliced from rows 0-15, each row's PQ code by
    * argmin (ties to the lower codebook index) and the query LUTs — the
    * twin of [[graft.similarity.Similarity.knnPq]]'s static encode. */
  private def pqCtes: String = s"""n AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding)+1),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
             / sqrt(${sqlDot("embedding", "embedding")}) * 127 + 0.5)
           AS BIGINT)) AS qv
  FROM embeddings),
js AS (SELECT unnest(range(0, 8)) AS j),
cb AS (
  SELECT js.j AS j, n.vec_id AS c,
    list_slice(n.qv, js.j * 8 + 1, js.j * 8 + 8) AS cv
  FROM n CROSS JOIN js WHERE n.vec_id < 16),
sub AS (
  SELECT n.vec_id, js.j, list_slice(n.qv, js.j * 8 + 1, js.j * 8 + 8) AS sv
  FROM n CROSS JOIN js),
dist AS (
  SELECT s.vec_id, s.j, c.c,
    list_sum(list_transform(range(1, 9),
      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d
  FROM sub s JOIN cb c ON s.j = c.j),
codes AS (
  SELECT vec_id, j, c FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM dist) WHERE rn = 1),
qlut AS (SELECT vec_id AS query_id, j, c, d FROM dist WHERE vec_id < 10)"""

  /** Per-query top-10 of `scored` by (score ASC, vec_id). */
  private val top10ByDistance: String = """ranked AS (
  SELECT query_id, vec_id AS neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id)
      AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, score FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q206 twin of [[graft.similarity.Similarity.knnPq]] with the
    * static codebook: DuckDB re-derives the SQ8 quantization (the
    * q91 sq8 form), slices the first 16 rows into the 8 subspace
    * codebooks, re-encodes every corpus row by argmin (tie → lowest
    * codebook index ≡ ORDER BY d, c), rebuilds each query's LUT, and
    * sums the 8 looked-up BIGINT cells per pair. All integers — the
    * group-by SUM over 8 BIGINTs is order-free, so the compare is
    * exact with no epsilon. */
  val q206_pq_adc: String = s"""
WITH $pqCtes,
scored AS (
  SELECT q.query_id, x.vec_id, CAST(sum(q.d) AS BIGINT) AS score
  FROM codes x JOIN qlut q ON x.j = q.j AND x.c = q.c
  WHERE x.vec_id <> q.query_id
  GROUP BY 1, 2),
$top10ByDistance"""

  /** q235 twin: the q227 policy, q212 novelty, and q228 batching
    * twins chained verbatim as subqueries — composition reuses the
    * proven parts (the E131 composed-pipeline discipline). */
  // lazy: composes q227/q212 whose vals are defined later in the file
  lazy val q235_curation_to_batches: String = s"""
WITH kept AS (
  SELECT doc_id FROM ($q227_url_policy) WHERE kept),
novel AS (
  SELECT doc_id FROM ($q212_novelty) WHERE novelty_permille >= 500),
d AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM kept)
    AND doc_id IN (SELECT doc_id FROM novel)),
r AS (
  SELECT doc_id, n_tokens,
    (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 16 AS batch_id
  FROM d)
SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_cells,
  CASE WHEN max(n_tokens) > 0 THEN
    CAST((sum(n_tokens) * 1000) // (count(*) * max(n_tokens)) AS BIGINT)
  END AS efficiency_permille
FROM r GROUP BY 1 ORDER BY 1"""

  /** The prefix-filter candidate chain through the `cm` (common-count)
    * CTE, parameterized by the permille threshold tau — the L =
    * n − ⌈τn/1000⌉ + 1 prefix bound, the τ size gate, rarest-first
    * prefix order (df then shingle hash — a total order both engines
    * replay). Shared by q236 (tau 700), q269 (tau 500 variant) and
    * q305 (tau 900) so a re-parameterization is a function argument,
    * never string surgery on another query's SQL. */
  private def prefixFilterCmChain(tau: Int): String =
    shinglesCte + prefixCmCtes(tau) + "\n"

  /** The `ds`-led prefix-filter CTEs after an `xs` CTE, through `cm`:
    * [[prefixFilterCmChain]] without the shingle CTEs in front, as
    * q269 splices it after its own corpus. */
  private def prefixCmCtes(tau: Int): String =
    s"\n, $distinctShinglesCte,\n${prefixPostingCtes(tau)}"

  /** The prefix-filter chain from `posting` through `cm` at permille
    * threshold `tau`; reads `ds`. */
  private def prefixPostingCtes(tau: Int): String = s"""$postingDfCtes,
rk AS (
  SELECT p.doc_id, p.shingle,
    count(*) OVER (PARTITION BY p.doc_id) AS n_sh,
    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.shingle) AS rnk
  FROM posting p JOIN dfs d USING (shingle)),
pre AS (
  SELECT doc_id, n_sh, shingle FROM rk
  WHERE rnk <= n_sh - ($tau*n_sh + 999)//1000 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.n_sh AS n_a, b.n_sh AS n_b
  FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    AND b.n_sh*1000 >= a.n_sh*$tau AND a.n_sh*1000 >= b.n_sh*$tau),
cm AS (
  SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, count(*) AS common
  FROM cand c
    JOIN posting pa ON pa.doc_id = c.doc_a
    JOIN posting pb ON pb.doc_id = c.doc_b AND pb.shingle = pa.shingle
  GROUP BY 1, 2, 3, 4)"""

  /** q236 twin of [[graft.dedup.Dedup.prefixFilterPairs]]: the
    * tau-700 [[prefixFilterCmChain]] plus the verify threshold. */
  val q236_prefix_filter_pairs: String = prefixFilterCmChain(700) + """
SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common, n_a, n_b,
  (common*1000)//(n_a + n_b - common) AS jaccard_permille
FROM cm
WHERE common*1000 >= 700*(n_a + n_b - common)
ORDER BY doc_a, doc_b"""

  /** q305 twin of the syndication-matrix composition: the
    * prefix-filter chain at tau 900 ([[prefixFilterCmChain]] — a
    * parameter, not string surgery), source joins, exact floor-mean
    * rollup. */
  val q305_syndication_matrix: String = prefixFilterCmChain(900) + """,
pr AS (
  SELECT doc_a, doc_b, (common*1000)//(n_a + n_b - common) AS jac
  FROM cm WHERE common*1000 >= 900*(n_a + n_b - common)),
sj AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b, pr.jac
  FROM pr JOIN documents da ON pr.doc_a = da.doc_id
          JOIN documents db ON pr.doc_b = db.doc_id)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(jac) // count(*) AS BIGINT) AS mean_jaccard_permille
FROM sj GROUP BY source_a, source_b ORDER BY source_a, source_b"""

  /** q306 twin of the end-to-end reference-DAG run: q08's
    * upsert CTEs (the upload+load cycle's logical result) fed into
    * q03's daily-metrics aggregation (the final view read). The
    * validation gates are pass-through probes with no row effect on
    * this data (spec-pinned), so the end-to-end answer is exactly
    * view(upsert(target, staging)). */
  val q306_pipeline_e2e: String = barsCte + s"""$q08After
SELECT date, symbol,
  min(close) AS close_price,
  CAST(sum(CAST(daily_volatility AS DECIMAL(38,4))) AS DOUBLE)
    / CAST(count(daily_volatility) AS DOUBLE) AS avg_volatility,
  count(DISTINCT data_source) AS source_count
FROM after GROUP BY date, symbol ORDER BY date, symbol"""

  /** q307 twin of [[graft.analytics.Ranking.averagePrecision]]: the
    * same ranked-results construction (balance desc, custkey
    * tiebreak), the same per-k e6 floor and n_relevant divisor. */
  val q307_average_precision: String = """
WITH res AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT c_nationkey AS query_id, c_custkey AS doc_id,
      row_number() OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC, c_custkey) AS rank
    FROM customer)
  WHERE rank <= 20),
truth AS (
  SELECT c_nationkey AS query_id, c_custkey AS doc_id
  FROM customer WHERE c_mktsegment = 'BUILDING'),
nrel AS (SELECT query_id, count(*) AS n_relevant FROM truth GROUP BY 1),
hits AS (
  SELECT r.query_id, r.rank,
    CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM res r LEFT JOIN truth t
    ON t.query_id = r.query_id AND t.doc_id = r.doc_id),
cum AS (
  SELECT query_id, rank, hit,
    sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS c
  FROM hits),
per AS (
  SELECT query_id, count(*) AS n_results, sum(hit) AS n_hits,
    sum(CASE WHEN hit = 1 THEN (1000000 * c) // rank ELSE 0 END) AS ap_num
  FROM cum GROUP BY 1)
SELECT query_id,
  CAST(coalesce(n_results, 0) AS BIGINT) AS n_results,
  CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
  CASE WHEN coalesce(n_relevant, 0) > 0
    THEN CAST(coalesce(ap_num, 0) // n_relevant AS BIGINT) END AS ap_e6
FROM per FULL OUTER JOIN nrel USING (query_id)
ORDER BY query_id"""

  /** q308 twin of [[graft.text.TextAnalysis.distributionDrift]]: the
    * shared tokenizer, per-(lang, token) counts, exact HUGEINT
    * cross-products, the same floor permille. The vocabulary cross
    * join replays the pivot's keep-every-word-with-zeros contract. */
  val q308_distribution_drift: String = """
WITH toks AS (
  SELECT lang AS slice,
    unnest(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS w
  FROM documents),
counts AS (SELECT slice, w, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT slice, sum(c) AS n FROM counts GROUP BY 1),
pairs AS (
  SELECT a.slice AS slice_a, b.slice AS slice_b, a.n AS na, b.n AS nb
  FROM tot a JOIN tot b ON a.slice < b.slice),
vocab AS (SELECT DISTINCT w FROM counts),
cellab AS (
  SELECT p.slice_a, p.slice_b, p.na, p.nb,
    coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
  FROM pairs p
  CROSS JOIN vocab v
  LEFT JOIN counts ca ON ca.slice = p.slice_a AND ca.w = v.w
  LEFT JOIN counts cb ON cb.slice = p.slice_b AND cb.w = v.w)
SELECT slice_a, slice_b,
  CAST(max(na) AS BIGINT) AS n_tokens_a,
  CAST(max(nb) AS BIGINT) AS n_tokens_b,
  CAST((1000 * sum(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)))
    // (2 * max(na) * max(nb)) AS BIGINT) AS tv_permille
FROM cellab GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q311 twin of [[graft.graph.LinkGraph.stressCentrality]] — the
    * STRUCTURALLY DIFFERENT formulation: walks up to the depth cap
    * enumerated by recursive CTE (bounded: out-degree ≤ 2 on the
    * fixture), σ = count of min-length walks per pair, then the
    * triple-join identity stress(v) = Σ σ(s,v)·σ(v,t) over
    * d(s,v)+d(v,t) = d(s,t) — no backward recursion, so agreement
    * with Spark's Brandes-shaped two-phase pass is a real check. */
  /** Shared two-ring + broker edge CTE body for q311/q316/q317 —
    * the twin of SparkEntry's `twoRingBrokerEdges` (one modular
    * construction, zero drift). */
  private val twoRingEd: String = """
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % 4 AS VARCHAR) AS src,
           'd' || CAST((doc_id % 4 + 1) % 4 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 4 + 5 AS VARCHAR),
           'd' || CAST((doc_id + 1) % 4 + 5 AS VARCHAR) FROM documents
    UNION ALL SELECT 'd2', 'd9' FROM documents
    UNION ALL SELECT 'd9', 'd5' FROM documents)
  WHERE src <> dst"""

  val q311_stress_centrality: String = s"""
WITH RECURSIVE ed AS ($twoRingEd),
walks(s, v, len) AS (
  SELECT src, dst, 1 FROM ed
  UNION ALL
  SELECT w.s, ed.dst, w.len + 1 FROM walks w JOIN ed ON ed.src = w.v
  WHERE w.len < 12),
ap AS (SELECT s, v, min(len) AS dist FROM walks GROUP BY 1, 2),
sig AS (
  SELECT w.s, w.v, a.dist, count(*) AS sigma
  FROM walks w JOIN ap a ON a.s = w.s AND a.v = w.v AND w.len = a.dist
  WHERE w.s <> w.v
  GROUP BY 1, 2, 3),
thru AS (
  SELECT a.v AS node, sum(a.sigma * b.sigma) AS stress
  FROM sig a
  JOIN sig b ON b.s = a.v AND b.v <> a.s
  JOIN sig st ON st.s = a.s AND st.v = b.v
    AND st.dist = a.dist + b.dist
  GROUP BY 1),
nodes AS (
  -- UNION ALL + outer DISTINCT, not bare UNION: inside WITH RECURSIVE
  -- DuckDB 1.0 treats any UNION-bodied CTE as a recursive union and
  -- skips the cross-branch dedup, duplicating every node row.
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed))
SELECT n.node, CAST(coalesce(t.stress, 0) AS BIGINT) AS stress
FROM nodes n LEFT JOIN thru t ON t.node = n.node
ORDER BY n.node"""

  /** q323 twin of the SAMPLED-PIVOT [[graft.graph.LinkGraph
    * .stressCentrality]] path (Brandes & Pich 2007 sampling, made
    * reproducible): the q311 walk-enumeration + triple-join identity,
    * with the source leg restricted to the pivot set re-derived from
    * the SAME md5 keyHash formula (the Sampling.keyHash convention:
    * first 14 hex chars of md5, base-16 to BIGINT, % 3 == 0). */
  val q323_stress_sampled: String = s"""
WITH RECURSIVE ed AS ($twoRingEd),
walks(s, v, len) AS (
  SELECT src, dst, 1 FROM ed
  UNION ALL
  SELECT w.s, ed.dst, w.len + 1 FROM walks w JOIN ed ON ed.src = w.v
  WHERE w.len < 12),
ap AS (SELECT s, v, min(len) AS dist FROM walks GROUP BY 1, 2),
sig AS (
  SELECT w.s, w.v, a.dist, count(*) AS sigma
  FROM walks w JOIN ap a ON a.s = w.s AND a.v = w.v AND w.len = a.dist
  WHERE w.s <> w.v
  GROUP BY 1, 2, 3),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
piv AS (
  SELECT node FROM nodes
  WHERE CAST(('0x' || substr(md5(node), 1, 14)) AS BIGINT) % 3 = 0),
thru AS (
  SELECT a.v AS node, sum(a.sigma * b.sigma) AS stress
  FROM sig a
  JOIN sig b ON b.s = a.v AND b.v <> a.s
  JOIN sig st ON st.s = a.s AND st.v = b.v
    AND st.dist = a.dist + b.dist
  WHERE a.s IN (SELECT node FROM piv)
  GROUP BY 1)
SELECT n.node, CAST(coalesce(t.stress, 0) AS BIGINT) AS stress
FROM nodes n LEFT JOIN thru t ON t.node = n.node
ORDER BY n.node"""

  /** q325 twin of [[graft.events.EventAnalytics.dailyAutocorrelation]]:
    * calendar zero-fill via generate_series, the same n²-scaled
    * integer identities (HUGEINT on this side, DECIMAL(38,0) on
    * Spark's), one double division of the exact integers. */
  val q325_daily_acf: String = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
days AS (
  -- HUGEINT BEFORE the products, mirroring the Spark side's
  -- cast-to-DECIMAL(38,0)-before-multiply discipline: raw BIGINT
  -- x*x / a.x*b.x would overflow-error at extreme per-day counts
  -- while the Spark twin kept computing — a latent cross-engine
  -- divergence (loud, but a divergence) at beyond-fixture scale.
  SELECT CAST(CAST(gs.d AS DATE) - b.d0 AS BIGINT) AS t,
    CAST(coalesce(dl.c, 0) AS HUGEINT) AS x
  FROM bounds b, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS gs(d)
  LEFT JOIN daily dl ON dl.day = CAST(gs.d AS DATE)),
stats AS (SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS q FROM days),
lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) v(lag)),
per AS (
  SELECT l.lag, count(*) AS m, sum(a.x * b.x) AS p,
    sum(a.x) AS ha, sum(b.x) AS hb
  FROM days a JOIN lags l ON true
  JOIN days b ON b.t = a.t + l.lag
  GROUP BY 1)
SELECT CAST(per.lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS n_pairs,
  CAST(n*n*p - n*s*(ha+hb) + m*s*s AS BIGINT) AS num_scaled,
  CAST(n*n*q - n*s*s AS BIGINT) AS den_scaled,
  CASE WHEN n*n*q - n*s*s <> 0
       THEN CAST(n*n*p - n*s*(ha+hb) + m*s*s AS DOUBLE)
              / CAST(n*n*q - n*s*s AS DOUBLE) END AS acf
FROM per CROSS JOIN stats ORDER BY lag"""

  /** q321 twin of [[graft.text.TextAnalysis.conditionalSurprisal]]:
    * the q66 positioned-bigram construction, per-prefix continuation
    * mass, the shared floor-log2 bit-length device, exact divs. */
  val q321_conditional_surprisal: String = toksCte + """
, pos AS (
  SELECT doc_id, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks),
bg AS (
  SELECT a.doc_id, a.t || ' ' || b.t AS bigram, a.t AS w1
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
c12 AS (SELECT bigram, w1, count(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
b AS (
  SELECT c12.bigram,
    CAST(length(bin(CAST(c1.c1 // c12.c12 AS BIGINT))) - 1 AS BIGINT) AS bits
  FROM c12 JOIN c1 ON c1.w1 = c12.w1)
SELECT d.doc_id,
  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(s.total_bits AS BIGINT) AS total_bits,
  CAST((s.total_bits * 1000) // s.n_bigrams AS BIGINT) AS mean_millibits
FROM documents d LEFT JOIN (
  SELECT bg.doc_id, count(*) AS n_bigrams, sum(b.bits) AS total_bits
  FROM bg JOIN b ON b.bigram = bg.bigram
  GROUP BY bg.doc_id) s ON s.doc_id = d.doc_id
ORDER BY d.doc_id"""

  /** q330 twin of [[graft.text.TextAnalysis.knSurprisal]]: the same
    * interpolated Kneser-Ney arithmetic (D = 3/4, unk-smoothed
    * continuation over Z = B + V + 1) in HUGEINT, trained on the
    * lang='en' bigrams, scoring every doc's bigram stream; surprisal
    * = floor-log2 of the capped integer quotient (the quotientBits
    * device — LEAST against 2^62 here, the exact-equivalent branch on
    * the Spark side), q321 rollup conventions. */
  val q330_kn_surprisal: String = toksCte + """
, pos AS (
  SELECT doc_id, lang, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks),
bg AS (
  SELECT a.doc_id, a.lang, a.t AS v, b.t AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
c12 AS (SELECT v, w, count(*) AS c12 FROM bg WHERE lang = 'en' GROUP BY 1, 2),
hist AS (
  SELECT v, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f
  FROM c12 GROUP BY 1),
contw AS (SELECT w, count(*) AS n1r FROM c12 GROUP BY 1),
zc AS (SELECT (SELECT count(*) FROM c12)
          + (SELECT count(DISTINCT t) FROM pos WHERE lang = 'en') + 1 AS z),
scored AS (
  SELECT g.doc_id, c.c12 AS c12v, h.c1, h.n1f,
    coalesce(ct.n1r, 0) + 1 AS pn, zc.z
  FROM bg g
  LEFT JOIN c12 c ON c.v = g.v AND c.w = g.w
  LEFT JOIN hist h ON h.v = g.v
  LEFT JOIN contw ct ON ct.w = g.w
  CROSS JOIN zc),
nd AS (
  SELECT doc_id, (c12v IS NULL) AS novel,
    CASE WHEN c1 IS NOT NULL
      THEN CAST(greatest(coalesce(c12v, 0) * 4 - 3, 0) AS HUGEINT)
             * CAST(z AS HUGEINT)
           + 3 * CAST(n1f AS HUGEINT) * CAST(pn AS HUGEINT)
      ELSE CAST(pn AS HUGEINT) END AS num,
    CASE WHEN c1 IS NOT NULL
      THEN 4 * CAST(c1 AS HUGEINT) * CAST(z AS HUGEINT)
      ELSE CAST(z AS HUGEINT) END AS den
  FROM scored),
bits AS (
  SELECT doc_id, novel,
    CAST(length(bin(CAST(LEAST(den // num,
      CAST(4611686018427387904 AS HUGEINT)) AS BIGINT))) - 1 AS BIGINT) AS bits
  FROM nd),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
    CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
    CAST(sum(bits) AS BIGINT) AS total_bits
  FROM bits GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
  a.total_bits,
  CAST((a.total_bits * 1000) // a.n_bigrams AS BIGINT) AS mean_millibits
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id"""

  /** q333 twin of [[graft.etl.Sampling.preferencePairs]] over the
    * unique-token-permille score: per source, best-vs-worst pairs at
    * the >= 25-permille gap, bottom-3 by (score, doc_id), the same
    * window tiebreaks. */
  val q333_preference_pairs: String = toksCte + """
, sc AS (
  SELECT doc_id, source,
    (CAST(len(list_distinct(tokens)) AS BIGINT) * 1000) // len(tokens) AS score
  FROM toks WHERE len(tokens) > 0),
ch AS (
  SELECT source, doc_id AS chosen_id, score AS chosen_score FROM (
    SELECT source, doc_id, score,
      row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS r
    FROM sc) WHERE r = 1),
rej AS (
  SELECT s.source, ch.chosen_id, s.doc_id AS rejected_id,
    ch.chosen_score, s.score AS rejected_score,
    row_number() OVER (PARTITION BY s.source
      ORDER BY s.score ASC, s.doc_id ASC) AS pair_rank
  FROM sc s JOIN ch ON ch.source = s.source
  WHERE s.doc_id <> ch.chosen_id AND s.score <= ch.chosen_score - 25)
SELECT source, chosen_id, rejected_id,
  CAST(chosen_score AS BIGINT) AS chosen_score,
  CAST(rejected_score AS BIGINT) AS rejected_score,
  CAST(chosen_score - rejected_score AS BIGINT) AS gap,
  CAST(pair_rank AS INTEGER) AS pair_rank
FROM rej WHERE pair_rank <= 3 ORDER BY source, pair_rank"""

  /** q334 twin of the [[graft.functions.GifFrameUtil]] frame walk
    * over [[graft.multimodal.Gif.encodeAnimation]] fixtures: every
    * per-frame field derives from the FIXTURE FORMULAS alone (the
    * q319 contract — the oracle never parses a GIF): frame i of doc
    * id is (1 + i mod w)x(1 + i mod h) at (2i, 3i), LCT 2^((i mod
    * 7)+1) when i mod 3 = 0, GCE delay 4+3i / disposal i mod 4 when
    * the doc is 89a (id mod 11 <> 0) and i mod 5 <> 4, else the 0/0
    * spec default; the query keeps every 2nd frame. */
  val q334_gif_frames: String = """
WITH f AS (
  SELECT d.doc_id, u.i AS frame_index,
    (2 * u.i) % 65536 AS left_px, (3 * u.i) % 65536 AS top_px,
    1 + u.i % (16 + d.doc_id % 9) AS width,
    1 + u.i % (8 + d.doc_id % 5) AS height,
    CASE WHEN u.i % 3 = 0
      THEN CAST(1 AS BIGINT) << CAST((u.i % 7) + 1 AS INTEGER)
      ELSE 0 END AS lct_entries,
    CASE WHEN d.doc_id % 11 <> 0 AND u.i % 5 <> 4
      THEN 4 + 3 * u.i ELSE 0 END AS delay_cs,
    CASE WHEN d.doc_id % 11 <> 0 AND u.i % 5 <> 4
      THEN u.i % 4 ELSE 0 END AS disposal
  FROM documents d,
    LATERAL (SELECT unnest(range(0, CAST(1 + d.doc_id % 4 AS BIGINT))) AS i) u)
SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
  CAST(left_px AS BIGINT) AS left_px, CAST(top_px AS BIGINT) AS top_px,
  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
  CAST(lct_entries AS BIGINT) AS lct_entries,
  CAST(delay_cs AS BIGINT) AS delay_cs, CAST(disposal AS BIGINT) AS disposal
FROM f WHERE frame_index % 2 = 0 ORDER BY doc_id, frame_index"""

  /** q320 twin of [[graft.events.EventAnalytics.commonPaths]]: the
    * same two leads over the same (ts, event_id) order, distinct-user
    * support, and the same total (support, volume, path) cut order —
    * paths are unique per group, so the LIMIT boundary is
    * deterministic on both engines. */
  val q320_common_paths: String = """
WITH t AS (
  SELECT user_id, event_type AS e1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events),
agg AS (
  SELECT e1, e2, e3, count(DISTINCT user_id) AS n_users,
    count(*) AS n_occurrences
  FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1, 2, 3)
SELECT e1, e2, e3, CAST(n_users AS BIGINT) AS n_users,
  CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM agg ORDER BY n_users DESC, n_occurrences DESC, e1, e2, e3
LIMIT 20"""

  /** q319 twin of [[graft.functions.GifHeaderUtil.meta]] over the
    * [[graft.multimodal.Gif.encodeHeader]] fixtures: every field
    * derived from the fixture's PARAMETER FORMULAS alone — no GIF
    * bytes anywhere in the oracle (the q200 discipline), so hash
    * equality proves the little-endian block walk end to end. */
  val q319_gif_meta: String = """
SELECT doc_id, true AS decoded, doc_id % 2 = 0 AS version89,
  CAST(20 + doc_id % 13 AS BIGINT) AS width,
  CAST(10 + doc_id % 5 AS BIGINT) AS height,
  CAST((20 + doc_id % 13) * (10 + doc_id % 5) AS BIGINT) AS n_pixels,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
            ELSE 1 << ((doc_id % 7) + 1) END AS BIGINT) AS gct_entries,
  CAST(doc_id % 7 AS BIGINT) AS bg_index,
  CAST(1 + doc_id % 2 AS BIGINT) AS n_images,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 ELSE 0 END AS BIGINT)
    AS n_extensions
FROM documents ORDER BY doc_id"""

  /** Pettitt's U_t over `daily`: close in cents, doubled midranks
    * (2·rank + ties − 1), U_t = t(n+1) − Σ 2r_i per symbol — the twin
    * of [[graft.analytics.Correlation.pettittTest]]. */
  private val pettittCtes: String = """v AS (
  SELECT symbol, date, CAST(round(close_price * 100) AS BIGINT) AS x
  FROM daily WHERE close_price IS NOT NULL),
r AS (
  SELECT symbol, date,
    2 * rank() OVER (PARTITION BY symbol ORDER BY x)
      + count(*) OVER (PARTITION BY symbol, x) - 1 AS r2
  FROM v),
pre AS (
  SELECT symbol, date,
    CAST(row_number() OVER (PARTITION BY symbol ORDER BY date) AS BIGINT) AS t,
    sum(r2) OVER (PARTITION BY symbol ORDER BY date) AS s2,
    CAST(count(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
  FROM r),
u AS (
  SELECT symbol, date, n, t * (n + 1) - s2 AS uu
  FROM pre WHERE n >= 4 AND t < n)"""

  /** q318 twin: q313's Pettitt CTEs locate the change date, the
    * regime tag splits each series, and q96's OLS arithmetic (same
    * decimal quantization, same VARCHAR-detour double conversion,
    * same final expression tree) fits per (symbol, regime). */
  val q318_segmented_trend: String = barsCte + s"""
, $dailyCloseCte,
$pettittCtes,
best AS (
  SELECT symbol, uu, date,
    row_number() OVER (PARTITION BY symbol ORDER BY abs(uu) DESC, date) AS pk
  FROM u),
cp AS (SELECT symbol, date AS change_point FROM best WHERE pk = 1),
seg AS (
  SELECT d.symbol,
    CASE WHEN d.date <= c.change_point THEN 'pre' ELSE 'post' END AS regime,
    d.date, d.close_price
  FROM daily d JOIN cp c ON c.symbol = d.symbol),
q AS (
  SELECT symbol, regime,
    CAST(date_diff('day', DATE '1970-01-01', date) AS BIGINT) AS x,
    CAST(CAST(ROUND(CAST(close_price AS DECIMAL(28,10)), 6) AS DECIMAL(18,6))
         * 1000000 AS BIGINT) AS y6
  FROM seg),
agg AS (
  SELECT symbol, regime, count(*) AS n_days,
    CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(y6) AS VARCHAR) AS DOUBLE) AS sy6,
    CAST(CAST(sum(x * y6) AS VARCHAR) AS DOUBLE) AS sxy6
  FROM q GROUP BY 1, 2)
SELECT symbol, regime, n_days,
  ((CAST(n_days AS DOUBLE) * sxy6 - sx * sy6) /
   (CAST(n_days AS DOUBLE) * sxx - sx * sx)) / 1e6 AS slope,
  (((sy6 - ((CAST(n_days AS DOUBLE) * sxy6 - sx * sy6) /
            (CAST(n_days AS DOUBLE) * sxx - sx * sx)) * sx)
    / CAST(n_days AS DOUBLE)) / 1e6) AS intercept
FROM agg
WHERE n_days >= 2 AND (CAST(n_days AS DOUBLE) * sxx - sx * sx) <> 0
ORDER BY symbol, regime"""

  /** q316 twin of [[graft.graph.LinkGraph.katzCentrality]] — walk
    * MULTIPLICITY enumerated directly: the recursive CTE keeps one
    * row per walk (UNION ALL, no dedup), so w_k(v) = count(*) per
    * (v, len); Spark's Horner accumulator never appears. betaBits=1,
    * depth=8 → unit 2^(8−k) per length-k walk. */
  val q316_katz: String = s"""
WITH RECURSIVE ed AS ($twoRingEd),
walks(v, len) AS (
  SELECT dst, 1 FROM ed
  UNION ALL
  SELECT ed.dst, w.len + 1 FROM walks w JOIN ed ON ed.src = w.v
  WHERE w.len < 8),
wk AS (SELECT v, len, count(*) AS w FROM walks GROUP BY 1, 2),
kat AS (
  SELECT v AS node, sum(w * (1 << (8 - len))) AS katz
  FROM wk GROUP BY 1),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed))
SELECT n.node, CAST(coalesce(k.katz, 0) AS BIGINT) AS katz_units
FROM nodes n LEFT JOIN kat k ON k.node = n.node
ORDER BY n.node"""

  /** q317 twin of [[graft.graph.LinkGraph.eccentricity]]: shortest
    * distances from the q311 walk enumeration (min len per pair),
    * eccentricity = max over reachable others, reach count alongside;
    * unreachable-everything nodes coalesce to zeros. */
  val q317_eccentricity: String = s"""
WITH RECURSIVE ed AS ($twoRingEd),
walks(s, v, len) AS (
  SELECT src, dst, 1 FROM ed
  UNION ALL
  SELECT w.s, ed.dst, w.len + 1 FROM walks w JOIN ed ON ed.src = w.v
  WHERE w.len < 12),
ap AS (SELECT s, v, min(len) AS dist FROM walks WHERE s <> v GROUP BY 1, 2),
ecc AS (
  SELECT s AS node, max(dist) AS eccentricity, count(*) AS n_reached
  FROM ap GROUP BY 1),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed))
SELECT n.node, CAST(coalesce(e.eccentricity, 0) AS BIGINT) AS eccentricity,
  CAST(coalesce(e.n_reached, 0) AS BIGINT) AS n_reached
FROM nodes n LEFT JOIN ecc e ON e.node = n.node
ORDER BY n.node"""

  /** The hybrid-search exact leg: queries 0-9 ranked against every
    * other vector by cosine (`ex_ranked`). */
  private def exactLegCtes: String = s"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
ex_scored AS (
  SELECT q.query_id, e.vec_id, ${sqlCosine("q.qv", "e.embedding")} AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
ex_ranked AS (
  SELECT query_id, vec_id AS doc_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM ex_scored)"""

  /** Rank `sq_scored`, then fuse it with `ex_ranked` by reciprocal
    * rank (k = 60, e6 floor contributions, top-20 of each leg) into
    * the top-10 per query — the twin of
    * [[graft.analytics.Ranking.reciprocalRankFusion]]. */
  private val rrfFusion: String = """sq_ranked AS (
  SELECT query_id, vec_id AS doc_id,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM sq_scored),
legs AS (
  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c
  FROM ex_ranked WHERE rank <= 20
  UNION ALL
  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c
  FROM sq_ranked WHERE rank <= 20),
fused AS (
  SELECT query_id, doc_id,
    CAST(sum(c) AS BIGINT) AS rrf_e6,
    CAST(count(*) AS BIGINT) AS n_systems,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY sum(c) DESC, doc_id) AS BIGINT) AS fused_rank
  FROM legs GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_e6, n_systems, fused_rank
FROM fused WHERE fused_rank <= 10 ORDER BY query_id, fused_rank"""

  /** q312 twin of [[graft.analytics.Ranking.reciprocalRankFusion]]
    * over the hybrid exact-cosine + int8-quantized retrieval pair:
    * the q21 brute-force leg and the q91 SQ8 leg (same CTE devices,
    * k = 20 each), fused by the e6-floor 1e6 // (60 + rank)
    * contribution and re-ranked (sum DESC, doc ASC). */
  val q312_hybrid_rrf: String = s"""
WITH $exactLegCtes,
n AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding)+1),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
             / sqrt(${sqlDot("embedding", "embedding")}) * 127 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
nq AS (SELECT vec_id AS query_id, qv AS qq FROM n WHERE vec_id < 10),
sq_scored AS (
  SELECT nq.query_id, n.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(n.qv)+1), i -> n.qv[i] * nq.qq[i])),
      (a, v) -> a + v) AS score
  FROM n CROSS JOIN nq WHERE n.vec_id <> nq.query_id),
$rrfFusion"""

  /** q327 twin: q312's fusion with the int8 leg swapped to the q111
    * staged CTEs — exact-cosine brute leg + IVF-pruned SQ8 leg (each
    * query scores only its 3 probed cells' rows), both cut at k=20,
    * fused by the same e6-floor contribution and (sum DESC, doc ASC)
    * re-rank. */
  val q327_hybrid_staged_rrf: String = s"""
WITH $exactLegCtes,
$ivfSq8Ctes,
sq_scored AS (
  SELECT qc.query_id, c.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(c.qv)+1), i -> c.qv[i] * qc.qq[i])),
      (acc, v) -> acc + v) AS score
  FROM codes c JOIN qcodes qc ON c.cell = qc.cell AND c.vec_id <> qc.query_id),
$rrfFusion"""

  /** q313 twin of [[graft.analytics.Correlation.pettittTest]]: the
    * same doubled midranks (2·rank + ties − 1), the same prefix-sum
    * identity U_t = t(n+1) − Σ 2r_i, the same earliest-date argmax
    * tiebreak. */
  val q313_pettitt: String = barsCte + s"""
, $dailyCloseCte,
$pettittCtes,
best AS (
  SELECT symbol, n, uu, date,
    row_number() OVER (PARTITION BY symbol ORDER BY abs(uu) DESC, date) AS pk
  FROM u)
SELECT symbol, n AS n_rows, CAST(abs(uu) AS BIGINT) AS k_stat,
  CAST(uu AS BIGINT) AS u_at_change, date AS change_point
FROM best WHERE pk = 1 ORDER BY symbol"""

  /** q315 fixture, shared with the Spark entry (the bpeStaticMerges /
    * piiPatterns device — one constant, zero drift): K4 on n0–n3
    * (every edge in two triangles — the 4-truss that must survive)
    * glued at n3 to a triangle strip {n3,n4,n5},{n4,n5,n6},{n5,n6,n7}
    * whose edges hold 1–2 triangles each. Peeling CASCADES: round 1
    * drops the five support-1 strip edges, which strands (n4,n5) and
    * (n5,n6) at support 0 for round 2 — the two-wave shape that
    * separates a truss from a one-shot support filter. */
  val kTrussFixtureEdges: Seq[(String, String)] = Seq(
    "n0" -> "n1", "n0" -> "n2", "n0" -> "n3", "n1" -> "n2",
    "n1" -> "n3", "n2" -> "n3",
    "n3" -> "n4", "n3" -> "n5", "n4" -> "n5", "n4" -> "n6",
    "n5" -> "n6", "n5" -> "n7", "n6" -> "n7")

  // AS MATERIALIZED is load-bearing: each round reads the previous
  // edge CTE three times and its triangle CTE three more; DuckDB
  // 1.0's default CTE INLINING turns four unrolled rounds into a
  // ~3^8-leaf expression tree (observed: minutes of planner CPU on a
  // 13-edge fixture). Materializing caps each CTE at one evaluation.
  private def kTrussRound(i: Int, minSup: Int): String = {
    val p = s"e${i - 1}"
    s""",
t$i AS MATERIALIZED (
  SELECT ab.a, ab.b, ac.b AS c
  FROM $p ab JOIN $p ac ON ac.a = ab.a AND ab.b < ac.b
  JOIN $p bc ON bc.a = ab.b AND bc.b = ac.b),
s$i AS MATERIALIZED (
  SELECT a, b, count(*) AS sup FROM (
    SELECT a, b FROM t$i
    UNION ALL SELECT a AS a, c AS b FROM t$i
    UNION ALL SELECT b AS a, c AS b FROM t$i)
  GROUP BY 1, 2),
e$i AS MATERIALIZED (
  SELECT e.a, e.b FROM $p e JOIN s$i s ON s.a = e.a AND s.b = e.b
  WHERE s.sup >= $minSup)"""
  }

  /** q315 twin of [[graft.graph.LinkGraph.kTruss]] — STRUCTURALLY
    * different triangle enumeration (plain a<b wedge join from the
    * lowest-NAME apex vs Spark's degree-ordered compact-forward), and
    * the peel loop UNROLLED: the fixture fixpoints in 3 rounds
    * (spec-measured), rounds beyond the fixpoint are identities
    * (peeling is monotone), so four unrolled rounds + a final support
    * pass compute the exact truss. */
  val q315_ktruss: String = {
    val values = kTrussFixtureEdges
      .map { case (a, b) => s"('$a', '$b')" }.mkString(",\n    ")
    val rounds = (1 to 4).map(kTrussRound(_, 2)).mkString
    s"""
WITH e0(a, b) AS MATERIALIZED (SELECT * FROM (VALUES
    $values) v(a, b) WHERE a <> b)$rounds,
tf AS MATERIALIZED (
  SELECT ab.a, ab.b, ac.b AS c
  FROM e4 ab JOIN e4 ac ON ac.a = ab.a AND ab.b < ac.b
  JOIN e4 bc ON bc.a = ab.b AND bc.b = ac.b),
sf AS (
  SELECT a, b, count(*) AS sup FROM (
    SELECT a, b FROM tf
    UNION ALL SELECT a AS a, c AS b FROM tf
    UNION ALL SELECT b AS a, c AS b FROM tf)
  GROUP BY 1, 2)
SELECT e.a, e.b, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
FROM e4 e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
ORDER BY e.a, e.b"""
  }

  /** Keep each query's 40 best `sq_scored` candidates and re-rank
    * them by exact cosine (`ranked`) — q314's second stage. */
  private def rerankCtes: String = s"""cands AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM sq_scored)
  WHERE rank <= 40),
rescored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
    ${sqlCosine("q.embedding", "e.embedding")} AS cosine
  FROM cands c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM rescored)"""

  /** q314 twin of [[graft.similarity.Similarity.twoStageKnn]]: q91's
    * SQ8 integer-dot CTEs keep 40 candidates per query, then the
    * exact-cosine re-rank (q21's scoring) runs over those rows only. */
  val q314_two_stage_knn: String = s"""
WITH n AS (
  SELECT vec_id, embedding,
    list_transform(range(1, len(embedding)+1),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
             / sqrt(${sqlDot("embedding", "embedding")}) * 127 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
nq AS (SELECT vec_id AS query_id, qv AS qq FROM n WHERE vec_id < 10),
sq_scored AS (
  SELECT nq.query_id, n.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(n.qv)+1), i -> n.qv[i] * nq.qq[i])),
      (a, v) -> a + v) AS score
  FROM n CROSS JOIN nq WHERE n.vec_id <> nq.query_id),
$rerankCtes
SELECT query_id, neighbor_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared CTE chain for q322/q326 — q111's fixed-centroid coarse
    * assignment + probe + SQ8 CTEs cut at k'=40 candidates per query,
    * then q314's exact-cosine re-rank producing `ranked` (the staged
    * stack's scored output, pre-cut). */
  private val ivfTwoStageCtes: String = s"""
WITH $ivfSq8Ctes,
sq_scored AS (
  SELECT q.query_id, c.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(c.qv)+1), i -> c.qv[i] * q.qq[i])),
      (acc, v) -> acc + v) AS score
  FROM codes c JOIN qcodes q ON c.cell = q.cell AND c.vec_id <> q.query_id),
$rerankCtes"""

  /** q322 twin of [[graft.similarity.Similarity.twoStageKnnIvf]]: the
    * shared staged-stack CTEs (coarse assignment + probe + SQ8 at
    * k'=40 + exact re-rank) cut to the top-10 — the composed
    * prune -> int8 -> exact stack checked end to end. */
  val q322_ivf_two_stage: String = ivfTwoStageCtes + """
SELECT query_id, neighbor_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q326 twin: recall@10 of the composed staged stack against exact
    * brute force — the shared q322 CTE chain cut to its final top-10
    * pairs (the approx list), q95's brute-ranked truth and recall
    * tail. */
  val q326_ivf_stack_recall: String = {
    s"""$ivfTwoStageCtes,
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
bruteranked AS (
  SELECT query_id, vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM (SELECT q.vec_id AS query_id, e.vec_id,
          ${sqlCosine("q.embedding", "e.embedding")} AS cosine
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
        WHERE e.vec_id <> q.vec_id)),
truth AS (SELECT query_id, neighbor_id FROM bruteranked WHERE rank <= 10)
SELECT t.query_id,
  CAST(count(a.neighbor_id) AS BIGINT) AS hits,
  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
FROM truth t LEFT JOIN approx a
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY 1 ORDER BY t.query_id"""
  }

  /** q309 twin of [[graft.analytics.Ranking.isotonicCalibration]]:
    * the same md5-derived score/label device, the same B² minimax
    * construction over floored pooled means. */
  val q309_isotonic_calibration: String = """
WITH scored AS (
  SELECT c_custkey,
    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 14)) AS BIGINT)
      % 101 AS score,
    CASE WHEN CAST(('0x' || substr(md5('lbl:' || CAST(c_custkey AS VARCHAR)),
                    1, 14)) AS BIGINT) % 100
         < CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 14))
                AS BIGINT) % 101
         THEN 1 ELSE 0 END AS label
  FROM customer),
bins AS (SELECT score AS s, count(*) AS n, sum(label) AS p
         FROM scored GROUP BY 1),
ib AS (
  SELECT s, n, p, row_number() OVER (ORDER BY s) AS i,
    sum(n) OVER (ORDER BY s) AS cn, sum(p) OVER (ORDER BY s) AS cp
  FROM bins),
pr AS (
  SELECT j.i AS j, k.i AS k,
    (1000000 * (k.cp - (j.cp - j.p))) // (k.cn - (j.cn - j.n)) AS a
  FROM ib j JOIN ib k ON j.i <= k.i),
rm AS (
  SELECT j, k, min(a) OVER (PARTITION BY j ORDER BY k
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m
  FROM pr),
fit AS (SELECT k AS i, max(m) AS iso FROM rm GROUP BY 1)
SELECT CAST(s AS BIGINT) AS score, CAST(n AS BIGINT) AS n,
  CAST(p AS BIGINT) AS n_pos,
  CAST((1000000 * p) // n AS BIGINT) AS raw_rate_e6,
  CAST(iso AS BIGINT) AS iso_rate_e6
FROM ib JOIN fit USING (i) ORDER BY score"""

  /** q310 twin of [[graft.etl.Sampling.prioritySample]]: the same
    * 56-bit md5 hash, the same u div w priority and (priority, key)
    * total order. */
  val q310_priority_sample: String = """
WITH pri AS (
  SELECT doc_id, lang, n_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
      // n_chars AS q
  FROM documents),
rn AS (
  SELECT doc_id, lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn
  FROM pri)
SELECT doc_id, lang, n_chars FROM rn WHERE rn <= 12
ORDER BY lang, doc_id"""

  /** q304 twin of [[graft.analytics.Correlation.historicalVaR]]: the
    * [[retsCte]], the same ceil-rank tail, the VARCHAR-detour
    * decimal→double for the ES division. */
  val q304_historical_var: String = barsCte + s"""
, $dailyCloseCte,
$retsCte,
r AS (
  SELECT symbol, ret,
    row_number() OVER (PARTITION BY symbol ORDER BY ret, date) AS rnk,
    count(*) OVER (PARTITION BY symbol) AS n
  FROM rets)
SELECT symbol, CAST(max(n) AS BIGINT) AS n_days,
  CAST(max((n * 50 + 999) // 1000) AS BIGINT) AS tail_k,
  CAST(CAST(max(CASE WHEN rnk = (n * 50 + 999) // 1000 THEN ret END)
    AS VARCHAR) AS DOUBLE) AS var_ret,
  CAST(CAST(sum(CASE WHEN rnk <= (n * 50 + 999) // 1000 THEN ret END)
    AS VARCHAR) AS DOUBLE)
    / CAST(max((n * 50 + 999) // 1000) AS DOUBLE) AS es_ret
FROM r GROUP BY symbol ORDER BY symbol"""

  /** q303 twin of [[graft.graph.LinkGraph.assortativity]]: the q292
    * canonical undirected set, symmetrized endpoint degrees, the q62
    * conversion and tree. */
  val q303_assortativity: String = """
WITH e0 AS (
  SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) AS src,
         'd' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS dst FROM documents
  UNION ALL
  SELECT 'd' || CAST(doc_id % 23 AS VARCHAR),
         'd' || CAST((doc_id * 5 + 2) % 29 AS VARCHAR) FROM documents),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst),
deg AS (
  SELECT node, count(*) AS d FROM
    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node),
o AS (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
p AS (
  SELECT da.d AS x, db.d AS y
  FROM o JOIN deg da ON o.a = da.node JOIN deg db ON o.b = db.node),
agg AS (
  SELECT count(*) AS n,
    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
    CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM p)
SELECT CAST(n AS BIGINT) AS n_endpoints,
  CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
    THEN (CAST(n AS DOUBLE) * sxy - sx * sy) /
         (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
          sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
  END AS assortativity
FROM agg"""

  /** q302 twin of [[graft.analytics.Profiling.inclusionDiscovery]]:
    * the STRUCTURALLY DIFFERENT pairwise form — one NOT EXISTS
    * anti-check per ordered column pair over distinct-value CTEs
    * (the naive plan SINDY's one-pass inversion replaces). */
  lazy val q302_inclusion_deps: String = {
    val cols = Seq(
      ("o_orderkey", "orders", "o_orderkey"),
      ("o_custkey", "orders", "o_custkey"),
      ("c_custkey", "customer", "c_custkey"),
      ("l_orderkey", "lineitem", "l_orderkey"),
      ("l_suppkey", "lineitem", "l_suppkey"),
      ("s_suppkey", "supplier", "s_suppkey"))
    val ctes = cols.map { case (lbl, t, c) =>
      s"v_$lbl AS (SELECT DISTINCT CAST($c AS BIGINT) AS v FROM $t WHERE $c IS NOT NULL)"
    }.mkString("WITH ", ",\n", "")
    val pairs = for {
      (cl, _, _) <- cols; (pl, _, _) <- cols if cl != pl
    } yield s"""SELECT '$cl' AS child, '$pl' AS parent,
      (SELECT CAST(count(*) AS BIGINT) FROM v_$cl) AS n_child,
      (SELECT CAST(count(*) AS BIGINT) FROM v_$pl) AS n_parent
    WHERE NOT EXISTS (
      SELECT 1 FROM v_$cl WHERE v NOT IN (SELECT v FROM v_$pl))"""
    ctes + "\n" + pairs.mkString("", "\nUNION ALL\n", "") +
      "\nORDER BY child, parent"
  }

  /** q301 twin of [[graft.similarity.Similarity.dimensionAudit]]:
    * 1-based generate_subscripts shifted to the 0-based posexplode
    * convention; float→double casts exact. */
  val q301_dimension_audit: String = """
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  min(x) AS min_val, max(x) AS max_val,
  CAST(sum(CAST(round(x * 1000000) AS BIGINT)) // count(*) AS BIGINT)
    AS mean_e6
FROM x GROUP BY dim ORDER BY dim"""

  /** q299 twin of the DBSCAN-compactness composition: the q277
    * chain with its final verdict select swapped for the assignment
    * join + the König–Huygens arithmetic. Lazy: splices
    * [[q277_dbscan]], defined later in this object. */
  lazy val q299_cluster_compactness: String =
    q277_dbscan.substring(0, q277_dbscan.indexOf("SELECT p.id,")) + """,
asg AS (
  SELECT p.id, p.x, p.y, COALESCE(l.cluster, bo.cluster) AS cluster
  FROM p LEFT JOIN lab l ON p.id = l.node
         LEFT JOIN border bo ON p.id = bo.id)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
  CAST(count(*) * sum(x*x + y*y) - sum(x)*sum(x) - sum(y)*sum(y)
    AS BIGINT) AS scatter_num,
  CAST((count(*) * sum(x*x + y*y) - sum(x)*sum(x) - sum(y)*sum(y))
    // (count(*) * count(*)) AS BIGINT) AS mean_radius2
FROM asg WHERE cluster IS NOT NULL
GROUP BY cluster ORDER BY cluster"""

  /** q300 twin of [[graft.analytics.Segmentation.stumpSplit]] over
    * the q295 churn labels: cumulative class counts over sorted
    * thresholds, the same cleared-S Gini cost, struct-min best. */
  val q300_stump_split: String = """
WITH f AS (
  SELECT user_id,
    CAST(DATE '2024-01-24' - max(CAST(ts AS DATE)) AS BIGINT) AS recency_days
  FROM events WHERE ts < DATE '2024-01-24' GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= DATE '2024-01-24' AND ts < DATE '2024-01-31'),
lab AS (
  SELECT f.user_id, f.recency_days, a.user_id IS NULL AS churned
  FROM f LEFT JOIN a USING (user_id)),
pv AS (
  SELECT recency_days AS v, count(*) AS cnt,
    sum(CASE WHEN churned THEN 1 ELSE 0 END) AS pos
  FROM lab GROUP BY 1),
cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS cnt_cum,
    sum(pos) OVER (ORDER BY v) AS pos_cum
  FROM pv),
t AS (SELECT sum(cnt) AS n, sum(pos) AS p FROM pv),
scan AS (
  SELECT v AS threshold, cnt_cum AS n_left, pos_cum AS pos_left,
    t.n - cnt_cum AS n_right, t.p - pos_cum AS pos_right, t.n AS nn
  FROM cum, t WHERE cnt_cum < t.n),
c AS (
  SELECT threshold, n_left, pos_left, n_right, pos_right,
    nn * 1000
      - ((pos_left * pos_left
          + (n_left - pos_left) * (n_left - pos_left)) * 1000) // n_left
      - ((pos_right * pos_right
          + (n_right - pos_right) * (n_right - pos_right)) * 1000) // n_right
      AS cost_milli
  FROM scan),
b AS (SELECT min(cost_milli) AS bc FROM c),
b2 AS (SELECT min(threshold) AS bt FROM c
       WHERE cost_milli = (SELECT bc FROM b))
SELECT threshold, CAST(n_left AS BIGINT) AS n_left,
  CAST(pos_left AS BIGINT) AS pos_left,
  CAST(n_right AS BIGINT) AS n_right,
  CAST(pos_right AS BIGINT) AS pos_right,
  CAST(cost_milli AS BIGINT) AS cost_milli,
  (cost_milli = (SELECT bc FROM b)
    AND threshold = (SELECT bt FROM b2)) AS is_best
FROM c ORDER BY threshold"""

  /** q297 twin of [[graft.analytics.Indicators.onBalanceVolume]]:
    * the same sign rule and per-symbol running sum. */
  val q297_obv: String = barsCte + s"""
, $dailyCloseVolumeCte,
s AS (
  SELECT symbol, date, close_price, volume,
    lag(close_price) OVER (PARTITION BY symbol ORDER BY date) AS prev
  FROM daily),
sv AS (
  SELECT symbol, date, close_price, volume,
    CASE WHEN prev IS NULL OR close_price = prev THEN 0
         WHEN close_price > prev THEN volume ELSE -volume END AS sv
  FROM s)
SELECT symbol, date, close_price, volume,
  CAST(sum(sv) OVER (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM sv ORDER BY symbol, date"""

  /** q298 twin of the time-to-convert composition: the q152 funnel
    * timing construction + the q260 row-sort quantile pick. */
  val q298_time_to_convert: String = """
WITH fv AS (
  SELECT user_id, min(epoch_us(ts)) AS v FROM events
  WHERE event_type = 'view' GROUP BY user_id),
fp AS (
  SELECT e.user_id, fv.v, min(epoch_us(e.ts)) AS p
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v
  GROUP BY e.user_id, fv.v),
d AS (SELECT p - v AS delta_us FROM fp),
o AS (
  SELECT delta_us, row_number() OVER (ORDER BY delta_us) AS rn,
    CAST(count(*) OVER () AS BIGINT) AS n
  FROM d),
q(q_permille) AS (SELECT * FROM (VALUES (250), (500), (750)))
SELECT q.q_permille, o.delta_us AS value,
  (q.q_permille * o.n + 999) // 1000 AS target_rank, o.n AS n
FROM q JOIN o ON o.rn = (q.q_permille * o.n + 999) // 1000
ORDER BY q.q_permille"""

  /** q296 twin of [[graft.dedup.Dedup.weightedJaccardPairs]]: the
    * q288 shingle chain, floor-log2 IDF weights, weighted sums. */
  val q296_weighted_jaccard: String = s"""
WITH $prefixCorpusCte,
${shingleHashCtes("corpus")},
$distinctShinglesCte,
$postingDfCtes,
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM posting),
wt AS (
  SELECT shingle, df,
    CAST(length(bin(CAST((SELECT nd FROM nd) // df AS BIGINT))) - 1
      AS BIGINT) AS w
  FROM dfs),
ws AS (
  SELECT doc_id, sum(w) AS wsum
  FROM posting JOIN wt USING (shingle) GROUP BY 1),
f AS (
  SELECT p.doc_id, p.shingle, wt.w
  FROM posting p JOIN wt USING (shingle)
  WHERE wt.df <= 100 AND wt.w > 0),
cm AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w) AS wc
  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT cm.doc_a, cm.doc_b, CAST(wc AS BIGINT) AS weighted_common,
  CAST((wc * 1000) // (wa.wsum + wb.wsum - wc) AS BIGINT) AS sim_permille
FROM cm JOIN ws wa ON cm.doc_a = wa.doc_id
         JOIN ws wb ON cm.doc_b = wb.doc_id
WHERE (wc * 1000) // (wa.wsum + wb.wsum - wc) >= 500
ORDER BY doc_a, doc_b"""

  /** q295 twin of [[graft.events.EventAnalytics.churnLabels]]: the
    * same strict cutoff split and horizon anti-membership. */
  val q295_churn_labels: String = """
WITH f AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
    CAST(DATE '2024-01-24' - max(CAST(ts AS DATE)) AS BIGINT) AS recency_days
  FROM events WHERE ts < DATE '2024-01-24' GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= DATE '2024-01-24' AND ts < DATE '2024-01-31')
SELECT f.user_id, n_events, n_types, value_cents, recency_days,
  a.user_id IS NULL AS churned
FROM f LEFT JOIN a USING (user_id) ORDER BY user_id"""

  /** `d` + `st`: the Holt level/trend fold over `daily(symbol, date,
    * close_price)` as a recursive CTE (for a `WITH RECURSIVE` list),
    * the twin of [[graft.analytics.Indicators.holtSmooth]]. */
  private val holtCtes: String = """d AS (
  SELECT symbol, date, close_price,
    row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM daily),
st AS (
  SELECT symbol, date, close_price, rn,
    close_price AS level, CAST(0 AS DOUBLE) AS trend,
    CAST(NULL AS DOUBLE) AS residual
  FROM d WHERE rn = 1
  UNION ALL
  SELECT symbol, date, close_price, rn, lvl AS level,
    CAST('0.25' AS DOUBLE) * (lvl - plvl)
      + CAST('0.75' AS DOUBLE) * ptr AS trend,
    res AS residual
  FROM (
    SELECT d.symbol, d.date, d.close_price, d.rn,
      CAST('0.5' AS DOUBLE) * d.close_price
        + CAST('0.5' AS DOUBLE) * (st.level + st.trend) AS lvl,
      st.level AS plvl, st.trend AS ptr,
      d.close_price - (st.level + st.trend) AS res
    FROM st JOIN d ON d.symbol = st.symbol AND d.rn = st.rn + 1))"""

  /** q294 twin of the forecast bake-off: the q279 recursive Holt
    * fold over daily event counts + a lag-7 naive, both scored on
    * the same rows with the identical round-then-cast micro-units. */
  val q294_forecast_bakeoff: String = s"""
WITH RECURSIVE daily AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS date,
    CAST(count(*) AS DOUBLE) AS close_price
  FROM events GROUP BY 1, 2),
$holtCtes,
b AS (
  SELECT symbol, close_price, residual,
    lag(close_price, 7) OVER (PARTITION BY symbol ORDER BY date) AS prev7
  FROM st),
f AS (SELECT * FROM b WHERE prev7 IS NOT NULL AND residual IS NOT NULL)
SELECT symbol AS event_type, CAST(count(*) AS BIGINT) AS n_scored,
  CAST(sum(CAST(round(abs(residual) * 1000000) AS BIGINT)) // count(*)
    AS BIGINT) AS holt_mae_e6,
  CAST(sum(CAST(round(abs(close_price - prev7) * 1000000) AS BIGINT))
    // count(*) AS BIGINT) AS naive_mae_e6,
  CASE WHEN sum(CAST(round(abs(residual) * 1000000) AS BIGINT))
          < sum(CAST(round(abs(close_price - prev7) * 1000000) AS BIGINT))
       THEN 'holt'
       WHEN sum(CAST(round(abs(residual) * 1000000) AS BIGINT))
          > sum(CAST(round(abs(close_price - prev7) * 1000000) AS BIGINT))
       THEN 'naive' ELSE 'tie' END AS winner
FROM f GROUP BY symbol ORDER BY event_type"""

  /** q293 twin of [[graft.text.TextAnalysis.rakeKeywords]]: the same
    * islands identity, deg/freq milli-scores, and (score, phrase)
    * cut. */
  val q293_rake_keywords: String = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                t -> t <> '') AS tokens
  FROM documents WHERE lang = 'en'),
p AS (
  SELECT doc_id, unnest(tokens) AS t,
    generate_subscripts(tokens, 1) AS pos
  FROM toks),
ns AS (
  SELECT doc_id, pos, t,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM p
  WHERE t NOT IN ('a', 'the', 'and', 'of', 'to', 'in', 'is', 'on')),
wl AS (
  SELECT doc_id, pos, t, isl,
    count(*) OVER (PARTITION BY doc_id, isl) AS plen
  FROM ns),
wsc AS (
  SELECT t, (sum(plen) * 1000) // count(*) AS wscore
  FROM wl GROUP BY t),
pi AS (
  SELECT doc_id, isl, count(*) AS nw, sum(wscore) AS score
  FROM wl JOIN wsc USING (t) GROUP BY 1, 2),
pt AS (
  SELECT doc_id, isl, string_agg(t, ' ' ORDER BY pos) AS phrase
  FROM ns GROUP BY 1, 2)
SELECT phrase, CAST(max(nw) AS BIGINT) AS n_words,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(max(score) AS BIGINT) AS score_e3
FROM pt JOIN pi USING (doc_id, isl)
GROUP BY phrase HAVING count(*) >= 2
ORDER BY score_e3 DESC, phrase LIMIT 50"""

  /** q292 twin of [[graft.graph.LinkGraph.modularity]]: the q124
    * edge formulas, the same canonical undirected set, label map,
    * and cleared-denominator arithmetic. */
  val q292_modularity: String = """
WITH e0 AS (
  SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) AS src,
         'd' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS dst FROM documents
  UNION ALL
  SELECT 'd' || CAST(doc_id % 23 AS VARCHAR),
         'd' || CAST((doc_id * 5 + 2) % 29 AS VARCHAR) FROM documents),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM (
  SELECT a AS node FROM und UNION ALL SELECT b FROM und)),
lab AS (
  SELECT node,
    'c' || CAST(CAST(substr(node, 2) AS BIGINT) // 8 AS VARCHAR) AS label
  FROM nodes),
deg AS (
  SELECT node, count(*) AS d FROM
    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node),
dc AS (
  SELECT l.label, count(*) AS n_nodes, sum(d) AS degree_sum
  FROM deg JOIN lab l USING (node) GROUP BY 1),
ic AS (
  SELECT la.label, count(*) AS inner_edges
  FROM und JOIN lab la ON und.a = la.node
           JOIN lab lb ON und.b = lb.node
  WHERE la.label = lb.label GROUP BY 1),
m AS (SELECT count(*) AS m FROM und)
SELECT dc.label, CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(coalesce(inner_edges, 0) AS BIGINT) AS inner_edges,
  CAST(degree_sum AS BIGINT) AS degree_sum,
  CAST((SELECT m FROM m) AS BIGINT) AS m_edges,
  CAST(((4 * (SELECT m FROM m) * coalesce(inner_edges, 0)
          - degree_sum * degree_sum) * 1000000)
       // (4 * (SELECT m FROM m) * (SELECT m FROM m)) AS BIGINT) AS contrib_e6
FROM dc LEFT JOIN ic USING (label) ORDER BY label"""

  /** q291 twin of [[graft.events.EventAnalytics.slidingStats]]: the
    * size/slide replication identity — each event lands in exactly 4
    * epoch-aligned 15-minute-stepped hour windows. */
  val q291_sliding_stats: String = """
WITH e AS (
  SELECT epoch_us(ts) AS t, event_type,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
x AS (
  SELECT event_type, cents,
    (t // 900000000) * 900000000 - j * 900000000 AS ws
  FROM e, (SELECT unnest(range(0, 4)) AS j))
SELECT make_timestamp(ws) AS window_start,
  make_timestamp(ws + 3600000000) AS window_end,
  event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(cents) AS BIGINT) AS value_cents
FROM x GROUP BY ws, event_type ORDER BY window_start, event_type"""

  /** q289 twin of [[graft.store.Store.evolvedRead]]: the merged
    * logical table derived straight from orders — evolution must be
    * semantically invisible (the q80→q08 pattern). */
  val q289_schema_evolution: String = """
SELECT o_orderkey, o_custkey,
  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status
FROM orders ORDER BY o_orderkey"""

  /** q290 twin of [[graft.store.Store.compact]]: compaction must be
    * content-invisible, so the oracle aggregates the source rows. */
  val q290_compaction: String = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q288 twin of the composed contrastive-pair capstone: the q269
    * injected corpus, the q236 prefix-filter chain at tau 700
    * (positives, Jaccard weight), and the q285 keyHash negatives
    * keyed (anchor|pos|slot) over the corpus id universe. */
  val q288_contrastive_pairs: String = s"""
WITH $prefixCorpusCte,
${shingleHashCtes("corpus")},
$distinctShinglesCte,
${prefixPostingCtes(700)},
pos AS (
  SELECT doc_a AS anchor_id, doc_b AS pos_id,
    (common*1000)//(n_a + n_b - common) AS jac
  FROM cm WHERE common*1000 >= 700*(n_a + n_b - common)),
u AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS target
  FROM corpus),
nn AS (SELECT count(*) AS n FROM corpus),
ex AS (SELECT anchor_id, pos_id, jac, unnest(range(1, 3)) AS slot FROM pos),
h AS (
  SELECT anchor_id, pos_id, slot,
    CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '|' ||
      CAST(pos_id AS VARCHAR) || '|' || CAST(slot AS VARCHAR)), 1, 14))
      AS BIGINT) % (SELECT n FROM nn) AS target
  FROM ex)
SELECT anchor_id, pos_id AS other_id, 'pos' AS label,
  CAST(0 AS INTEGER) AS slot, CAST(jac AS BIGINT) AS weight_permille
FROM pos
UNION ALL
SELECT h.anchor_id, u.doc_id, 'neg', CAST(h.slot AS INTEGER),
  CAST(0 AS BIGINT)
FROM h JOIN u USING (target)
WHERE u.doc_id <> h.anchor_id AND u.doc_id <> h.pos_id
ORDER BY anchor_id, label DESC, slot, other_id"""

  /** q287 twin of [[graft.events.EventAnalytics.keyedDiversity]]:
    * same two-level aggregate and integer Simpson. */
  val q287_user_diversity: String = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS c FROM events
  GROUP BY user_id, event_type),
a AS (
  SELECT user_id, sum(c) AS n_events, count(*) AS n_types,
    sum(c * (c - 1)) AS num
  FROM c GROUP BY user_id)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
  CAST(n_types AS BIGINT) AS n_types,
  CASE WHEN n_events >= 2
    THEN CAST(1000 - (num * 1000) // (n_events * (n_events - 1)) AS BIGINT)
  END AS diversity_permille
FROM a ORDER BY user_id"""

  /** q285 twin of [[graft.etl.Sampling.negativeSamples]]: the
    * established keyHash twin keyed (anchor|pos|slot), row_number
    * universe index, same collision drop. */
  val q285_negative_samples: String = """
WITH u AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS target
  FROM embeddings),
n AS (SELECT count(*) AS n FROM embeddings),
p AS (
  SELECT vec_id AS anchor_id, vec_id + 1 AS pos_id
  FROM embeddings WHERE vec_id % 5 = 0),
e AS (SELECT anchor_id, pos_id, unnest(range(1, 5)) AS slot FROM p),
h AS (
  SELECT anchor_id, pos_id, slot,
    CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '|' ||
      CAST(pos_id AS VARCHAR) || '|' || CAST(slot AS VARCHAR)), 1, 14))
      AS BIGINT) % (SELECT n FROM n) AS target
  FROM e)
SELECT h.anchor_id, h.pos_id, CAST(h.slot AS INTEGER) AS slot,
  u.vec_id AS neg_id
FROM h JOIN u ON h.target = u.target
WHERE u.vec_id <> h.anchor_id AND u.vec_id <> h.pos_id
ORDER BY anchor_id, slot"""

  /** q286 twin of [[graft.etl.Sampling.proportionalQuotaSample]]:
    * Hamilton quotas on the class table, hash-order picks. */
  val q286_quota_sample: String = """
WITH c AS (SELECT lang, count(*) AS nc FROM documents GROUP BY lang),
t AS (SELECT sum(nc) AS n FROM c),
b AS (SELECT lang, nc, (100 * nc) // n AS base, (100 * nc) % n AS rem
      FROM c, t),
l AS (SELECT 100 - sum(base) AS leftover FROM b),
q AS (
  SELECT lang, base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
    <= (SELECT leftover FROM l) THEN 1 ELSE 0 END AS quota
  FROM b),
r AS (
  SELECT d.doc_id, d.lang,
    row_number() OVER (PARTITION BY d.lang ORDER BY
      CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 14)) AS BIGINT),
      d.doc_id) AS rn
  FROM documents d)
SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang
WHERE r.rn <= q.quota ORDER BY r.doc_id"""

  /** q284 twin of [[graft.graph.LinkGraph.twoHopReach]]: the q124
    * edge formulas, the same cap semantics, UNION-dedup reach. */
  val q284_two_hop_reach: String = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) AS src,
           'd' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR),
           'd' || CAST((doc_id * 5 + 2) % 29 AS VARCHAR) FROM documents)
  WHERE src <> dst),
d AS (SELECT src, count(*) AS out_degree FROM e GROUP BY src),
ce AS (SELECT e.src, e.dst FROM e JOIN d ON e.src = d.src
       WHERE d.out_degree <= 64),
r AS (SELECT DISTINCT node, rch FROM (
  SELECT src AS node, dst AS rch FROM e
  UNION ALL
  SELECT a.src, b.dst FROM e a JOIN ce b ON a.dst = b.src)),
cnt AS (
  SELECT node, count(*) AS n_reach2 FROM r WHERE node <> rch GROUP BY node)
SELECT d.src AS node, CAST(d.out_degree AS BIGINT) AS out_degree,
  CAST(coalesce(cnt.n_reach2, 0) AS BIGINT) AS n_reach2
FROM d LEFT JOIN cnt ON d.src = cnt.node ORDER BY node"""

  /** q283 twin of [[graft.analytics.Indicators.conformalBand]] over
    * the q279 Holt fold: same recursive CTE, then the ceil-rank
    * order-statistic pick per symbol. */
  lazy val q283_conformal_band: String =
    q279_holt_smooth.replaceFirst("SELECT symbol, date, close_price, level, trend,",
      "__FINAL__ SELECT symbol, date, close_price, level, trend,")
      .split("__FINAL__")(0) + """
, res AS (
  SELECT symbol, abs(residual) AS ar,
    row_number() OVER (PARTITION BY symbol ORDER BY abs(residual)) AS rnk,
    count(*) OVER (PARTITION BY symbol) AS n
  FROM st WHERE residual IS NOT NULL)
SELECT symbol, CAST(max(n) AS BIGINT) AS n_res,
  CAST(max(((n + 1) * 900 + 999) // 1000) AS BIGINT) AS target_rank,
  max(CASE WHEN rnk = ((n + 1) * 900 + 999) // 1000 THEN ar END) AS halfwidth
FROM res GROUP BY symbol ORDER BY symbol"""

  /** q282 twin of [[graft.analytics.Correlation.kendallTau]]: the
    * q274 recency window with both variables, the same five pair
    * classes, identical τ-b tree. */
  val q282_kendall_tau: String = barsCte + s"""
, $dailyCloseVolumeCte,
c AS (
  SELECT symbol, date, CAST(round(close_price * 100) AS BIGINT) AS x,
    volume AS y,
    row_number() OVER (PARTITION BY symbol ORDER BY date DESC) AS rd
  FROM daily),
r AS (SELECT * FROM c WHERE rd <= 60),
p AS (
  SELECT a.symbol,
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
  FROM r a JOIN r b ON a.symbol = b.symbol AND a.date < b.date),
agg AS (
  SELECT symbol, count(*) AS n_pairs,
    sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS concordant,
    sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS discordant,
    sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END) AS ties_x,
    sum(CASE WHEN sx <> 0 AND sy = 0 THEN 1 ELSE 0 END) AS ties_y,
    sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS ties_both
  FROM p GROUP BY symbol)
SELECT symbol, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(concordant AS BIGINT) AS concordant,
  CAST(discordant AS BIGINT) AS discordant,
  CAST(ties_x AS BIGINT) AS ties_x, CAST(ties_y AS BIGINT) AS ties_y,
  CAST(ties_both AS BIGINT) AS ties_both,
  CASE WHEN (CAST(n_pairs AS DOUBLE) - CAST(ties_x + ties_both AS DOUBLE)) > 0
        AND (CAST(n_pairs AS DOUBLE) - CAST(ties_y + ties_both AS DOUBLE)) > 0
    THEN CAST(concordant - discordant AS DOUBLE) /
      (sqrt(CAST(n_pairs AS DOUBLE) - CAST(ties_x + ties_both AS DOUBLE)) *
       sqrt(CAST(n_pairs AS DOUBLE) - CAST(ties_y + ties_both AS DOUBLE)))
  END AS tau_b
FROM agg ORDER BY symbol"""

  /** q281 twin of [[graft.text.TextAnalysis.surprisalScores]]: the
    * shared tokenizer, the same floor-log2 bit-length device, exact
    * divs; HUGEINT sums cast back. */
  val q281_surprisal: String = toksCte + """
, tk AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
v AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
n AS (SELECT sum(c) AS n FROM v),
b AS (
  SELECT t, CAST(length(bin(CAST(n.n // v.c AS BIGINT))) - 1 AS BIGINT) AS bits
  FROM v, n)
SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(b.bits) AS BIGINT) AS total_bits,
  CAST((sum(b.bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
FROM tk JOIN b ON tk.t = b.t
GROUP BY tk.doc_id ORDER BY tk.doc_id"""

  /** q280 twin of [[graft.etl.Sampling.bhCorrection]]: the same
    * planted-signal p table, integer step-up comparison, and
    * p ≤ p(k*) rejection. */
  val q280_bh_fdr: String = """
WITH t AS (
  SELECT doc_id AS test_id,
    CASE WHEN doc_id % 10 = 0 THEN doc_id * 31 % 20
         ELSE doc_id * 7919 % 1001 END AS p
  FROM documents WHERE doc_id < 200),
r AS (
  SELECT test_id, p,
    row_number() OVER (ORDER BY p, test_id) AS p_rank,
    count(*) OVER () AS m
  FROM t),
s AS (
  SELECT coalesce(max(p), -1) AS pstar FROM r WHERE p * m <= p_rank * 50)
SELECT test_id, CAST(p AS BIGINT) AS p_permille,
  CAST(p_rank AS BIGINT) AS p_rank, CAST(m AS BIGINT) AS m,
  p <= (SELECT pstar FROM s) AS rejected
FROM r ORDER BY test_id"""

  /** q279 twin of [[graft.analytics.Indicators.holtSmooth]]: the
    * recursive-CTE fold (q79 precedent) with the identical IEEE
    * expression trees — dyadic α=0.5/β=0.25 literals, level from a
    * nested subquery so the trend reuses the same lvl value. */
  val q279_holt_smooth: String =
    barsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
, $panelDailyCloseCte,
$holtCtes
SELECT symbol, date, close_price, level, trend,
  level + trend AS forecast_next, residual
FROM st ORDER BY symbol, date"""

  /** q365 twin of [[graft.analytics.Indicators.holtWinters]]: the
    * q279 recursive replay extended with the seven per-slot seasonal
    * state columns (the recursion carries s0..s6; the touched slot
    * updates via CASE), the same weekday-slot arithmetic as q359,
    * every double operation in the operator's stated order, all
    * constants binary-exact. */
  val q365_holt_winters: String =
    barsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
, $panelDailyCloseCte,
d AS (
  SELECT symbol, date, close_price,
    CAST((date - DATE '1970-01-05') % 7 AS INT) AS slot,
    row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM daily),
st AS (
  SELECT symbol, date, close_price, slot, rn,
    close_price AS level, CAST(0 AS DOUBLE) AS trend,
    CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
    CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3,
    CAST(0 AS DOUBLE) AS s4, CAST(0 AS DOUBLE) AS s5,
    CAST(0 AS DOUBLE) AS s6,
    CAST(0 AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS residual
  FROM d WHERE rn = 1
  UNION ALL
  SELECT symbol, date, close_price, slot, rn,
    lvl AS level,
    CAST('0.25' AS DOUBLE) * (lvl - pl) + CAST('0.75' AS DOUBLE) * pb
      AS trend,
    CASE WHEN slot = 0 THEN snew ELSE s0 END,
    CASE WHEN slot = 1 THEN snew ELSE s1 END,
    CASE WHEN slot = 2 THEN snew ELSE s2 END,
    CASE WHEN slot = 3 THEN snew ELSE s3 END,
    CASE WHEN slot = 4 THEN snew ELSE s4 END,
    CASE WHEN slot = 5 THEN snew ELSE s5 END,
    CASE WHEN slot = 6 THEN snew ELSE s6 END,
    snew AS seasonal, res AS residual
  FROM (
    SELECT *,
      close_price - (pl + pb + sold) AS res,
      CAST('0.5' AS DOUBLE) * (close_price - sold)
        + CAST('0.5' AS DOUBLE) * (pl + pb) AS lvl,
      CAST('0.25' AS DOUBLE) * (close_price - pl - pb)
        + CAST('0.75' AS DOUBLE) * sold AS snew
    FROM (
      SELECT d.symbol, d.date, d.close_price, d.slot, d.rn,
        st.level AS pl, st.trend AS pb,
        st.s0, st.s1, st.s2, st.s3, st.s4, st.s5, st.s6,
        CASE d.slot WHEN 0 THEN st.s0 WHEN 1 THEN st.s1
          WHEN 2 THEN st.s2 WHEN 3 THEN st.s3 WHEN 4 THEN st.s4
          WHEN 5 THEN st.s5 ELSE st.s6 END AS sold
      FROM st JOIN d ON d.symbol = st.symbol AND d.rn = st.rn + 1)))
SELECT symbol, date, close_price, level, trend, seasonal, residual
FROM st ORDER BY symbol, date"""

  /** q278 twin of [[graft.text.TextAnalysis.stemConflation]]: the
    * same three Harman rules as a CASE, the same two-level
    * aggregate, string_agg with ORDER BY for the sorted form list. */
  val q278_stem_conflation: String = """
WITH corpus AS (
  SELECT text FROM documents WHERE lang = 'en'
  UNION ALL
  SELECT regexp_replace(text, '([a-z0-9]+)', '\1s', 'g') AS text
  FROM documents WHERE lang = 'en'),
toks AS (
  SELECT list_filter(
      string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '') AS tokens
  FROM corpus),
f AS (SELECT unnest(tokens) AS form FROM toks),
st AS (
  SELECT form,
    CASE
      WHEN length(form) < 4 THEN form
      WHEN form LIKE '%ies' THEN
        CASE WHEN form NOT LIKE '%eies' AND form NOT LIKE '%aies'
          THEN concat(substr(form, 1, length(form) - 3), 'y') ELSE form END
      WHEN form LIKE '%es' THEN
        CASE WHEN form NOT LIKE '%aes' AND form NOT LIKE '%ees'
             AND form NOT LIKE '%oes'
          THEN substr(form, 1, length(form) - 1) ELSE form END
      WHEN form LIKE '%s' THEN
        CASE WHEN form NOT LIKE '%us' AND form NOT LIKE '%ss'
          THEN substr(form, 1, length(form) - 1) ELSE form END
      ELSE form END AS stem
  FROM f),
pf AS (SELECT stem, form, count(*) AS c FROM st GROUP BY stem, form)
SELECT stem, CAST(count(*) AS BIGINT) AS n_forms,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  string_agg(form, ',' ORDER BY form) AS forms
FROM pf GROUP BY stem HAVING count(*) >= 2 ORDER BY stem"""

  /** q277 twin of [[graft.spatial.Spatial.dbscan]] by structurally
    * different machinery: brute-force neighbor pairs (no grid) and a
    * recursive-CTE transitive closure over core-core edges (no
    * fixpoint labeling), with the same component-min cluster labels
    * and min-label border tie rule. */
  val q277_dbscan: String = """
WITH RECURSIVE p AS (
  SELECT doc_id AS id,
    doc_id * 7919 % 2000001 - 1000000 AS x,
    (doc_id * 104729 + 12345) % 2000001 - 1000000 AS y
  FROM documents),
e AS (
  SELECT a.id AS a, b.id AS b FROM p a JOIN p b
  ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
     <= CAST(150000 AS BIGINT) * 150000),
core AS (SELECT a AS id FROM e GROUP BY a HAVING count(*) >= 8),
ce AS (
  SELECT e.a, e.b FROM e
  JOIN core ca ON e.a = ca.id JOIN core cb ON e.b = cb.id),
reach(s, d) AS (
  SELECT a, b FROM ce
  UNION
  SELECT r.s, ce.b FROM reach r JOIN ce ON r.d = ce.a),
lab AS (
  SELECT c.id AS node, least(c.id, min(r.d)) AS cluster
  FROM core c LEFT JOIN reach r ON r.s = c.id GROUP BY c.id),
border AS (
  SELECT e.a AS id, min(l.cluster) AS cluster
  FROM e JOIN lab l ON e.b = l.node
  WHERE e.a NOT IN (SELECT id FROM core)
  GROUP BY e.a)
SELECT p.id,
  CASE WHEN l.node IS NOT NULL THEN 'core'
       WHEN bo.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
  CAST(COALESCE(l.cluster, bo.cluster) AS BIGINT) AS cluster
FROM p LEFT JOIN lab l ON p.id = l.node LEFT JOIN border bo ON p.id = bo.id
ORDER BY p.id"""

  /** q276 twin of [[graft.events.EventAnalytics.frequentTrigrams]]:
    * the same two leads on the (ts, event_id) order and the dual
    * support cut. */
  val q276_frequent_trigrams: String = """
WITH g AS (
  SELECT user_id, event_type AS step1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
  FROM events)
SELECT step1, step2, step3,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM g WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
HAVING count(*) >= 5 AND count(DISTINCT user_id) >= 2
ORDER BY step1, step2, step3"""

  /** q275 twin of [[graft.analytics.Ranking.skyline]]: brute-force
    * NOT EXISTS dominance over all pairs — structurally independent
    * of the sorted-axis factorization, feasible at oracle scale. */
  val q275_skyline: String = barsCte + s"""
, $dailyCloseVolumeCte,
pts AS (
  SELECT symbol, date, volume,
    CAST(round(close_price * 100) AS BIGINT) AS close_cents
  FROM daily)
SELECT symbol, date, volume, close_cents FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.volume >= p.volume AND q.close_cents >= p.close_cents
    AND (q.volume > p.volume OR q.close_cents > p.close_cents))
ORDER BY volume, close_cents, symbol, date"""

  /** q274 twin of [[graft.analytics.Correlation.mannKendall]]: the
    * same 60-row recency window, pairwise sign sum, and nonneg-mod
    * floor-quantized pairwise slopes with the lower-median pick. */
  val q274_mann_kendall: String = barsCte + s"""
, $dailyCloseCte,
c AS (
  SELECT symbol, CAST(round(close_price * 100) AS BIGINT) AS x,
    CAST(date - DATE '1970-01-01' AS BIGINT) AS t,
    row_number() OVER (PARTITION BY symbol ORDER BY date DESC) AS rd
  FROM daily),
r AS (SELECT * FROM c WHERE rd <= 60),
p AS (
  SELECT a.symbol,
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
    ((b.x - a.x) * 1000000
      - (((b.x - a.x) * 1000000) % (b.t - a.t) + (b.t - a.t)) % (b.t - a.t))
      // (b.t - a.t) AS slope6
  FROM r a JOIN r b ON a.symbol = b.symbol AND a.t < b.t),
rk AS (
  SELECT symbol, sgn, slope6,
    row_number() OVER (PARTITION BY symbol ORDER BY slope6) AS rnk,
    count(*) OVER (PARTITION BY symbol) AS np
  FROM p)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(sgn) AS BIGINT) AS s_stat,
  CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
  CAST(max(CASE WHEN rnk = (np + 1) // 2 THEN slope6 END) AS BIGINT) AS sen_slope_e6
FROM rk GROUP BY symbol ORDER BY symbol"""

  /** q366 twin of
    * [[graft.analytics.Correlation.seasonalMannKendall]]: the q274
    * replay with the pair join additionally keyed on the weekday
    * slot — within-season pairs only — and the larger 84-row
    * window. */
  val q366_seasonal_mk: String = barsCte + s"""
, $dailyCloseCte,
c AS (
  SELECT symbol, CAST(round(close_price * 100) AS BIGINT) AS x,
    CAST((date - DATE '1970-01-05') % 7 AS INTEGER) AS slot,
    CAST(date - DATE '1970-01-01' AS BIGINT) AS t,
    row_number() OVER (PARTITION BY symbol ORDER BY date DESC) AS rd
  FROM daily),
r AS (SELECT * FROM c WHERE rd <= 84),
p AS (
  SELECT a.symbol,
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
    ((b.x - a.x) * 1000000
      - (((b.x - a.x) * 1000000) % (b.t - a.t) + (b.t - a.t)) % (b.t - a.t))
      // (b.t - a.t) AS slope6
  FROM r a JOIN r b
  ON a.symbol = b.symbol AND a.slot = b.slot AND a.t < b.t),
rk AS (
  SELECT symbol, sgn, slope6,
    row_number() OVER (PARTITION BY symbol ORDER BY slope6) AS rnk,
    count(*) OVER (PARTITION BY symbol) AS np
  FROM p)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(sgn) AS BIGINT) AS s_stat,
  CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
  CAST(max(CASE WHEN rnk = (np + 1) // 2 THEN slope6 END) AS BIGINT) AS sen_slope_e6
FROM rk GROUP BY symbol ORDER BY symbol"""

  /** q273 twin of [[graft.analytics.Correlation.spearmanCorr]]: the
    * same doubled average ranks (2·rank + ties − 1, integer), exact
    * integer sums cast to double, identical final ρ tree. */
  val q273_spearman: String = barsCte + s"""
, $dailyCloseVolumeCte,
v AS (
  SELECT symbol, CAST(round(close_price * 100) AS BIGINT) AS x, volume AS y
  FROM daily WHERE close_price IS NOT NULL AND volume IS NOT NULL),
r AS (
  SELECT symbol,
    2 * rank() OVER (PARTITION BY symbol ORDER BY x)
      + count(*) OVER (PARTITION BY symbol, x) - 1 AS rx2,
    2 * rank() OVER (PARTITION BY symbol ORDER BY y)
      + count(*) OVER (PARTITION BY symbol, y) - 1 AS ry2
  FROM v),
a AS (
  SELECT symbol, count(*) AS n_rows,
    CAST(sum(rx2) AS DOUBLE) AS sx, CAST(sum(ry2) AS DOUBLE) AS sy,
    CAST(sum(rx2 * rx2) AS DOUBLE) AS sxx,
    CAST(sum(ry2 * ry2) AS DOUBLE) AS syy,
    CAST(sum(rx2 * ry2) AS DOUBLE) AS sxy
  FROM r GROUP BY symbol)
SELECT symbol, CAST(n_rows AS BIGINT) AS n_rows,
  CASE WHEN (CAST(n_rows AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n_rows AS DOUBLE) * syy - sy * sy) > 0
    THEN (CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
         (sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx) *
          sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy))
  END AS spearman
FROM a WHERE n_rows >= 2 ORDER BY symbol"""

  /** q272 twin of [[graft.analytics.Indicators.cusumAlarms]]: the
    * same floor-mean center, floor-half-MAD allowance, and
    * prefix-sum/running-extrema identity in DuckDB windows; HUGEINT
    * sums ride through and the emitted statistics cast back to
    * BIGINT. */
  val q272_cusum_alarms: String = barsCte + s"""
, $dailyCloseCte,
c AS (
  SELECT symbol, date, CAST(round(close_price * 100) AS BIGINT) AS c FROM daily),
mu AS (
  SELECT symbol, sum(c) // count(*) AS mu FROM c GROUP BY symbol),
kt AS (
  SELECT c.symbol, mu.mu, sum(abs(c - mu)) // (2 * count(*)) AS k
  FROM c JOIN mu ON c.symbol = mu.symbol GROUP BY c.symbol, mu.mu),
p AS (
  SELECT c.symbol, c.date, kt.k,
    sum(c - mu - k) OVER (PARTITION BY c.symbol ORDER BY c.date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_hi,
    sum(c - mu + k) OVER (PARTITION BY c.symbol ORDER BY c.date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_lo
  FROM c JOIN kt ON c.symbol = kt.symbol),
s AS (
  SELECT symbol, date, k,
    p_hi - LEAST(0, min(p_hi) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_hi,
    GREATEST(0, max(p_lo) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - p_lo AS s_lo
  FROM p)
SELECT symbol, date, CAST(s_hi AS BIGINT) AS cusum_hi,
  CAST(s_lo AS BIGINT) AS cusum_lo, CAST(k * 5 AS BIGINT) AS threshold,
  CASE WHEN s_hi > k * 5 AND s_lo > k * 5 THEN 'both'
       WHEN s_hi > k * 5 THEN 'hi' ELSE 'lo' END AS side
FROM s WHERE s_hi > k * 5 OR s_lo > k * 5
ORDER BY symbol, date"""

  /** q271 twin of [[graft.analytics.Hierarchy.allocateDown]]: the six
    * child levels unrolled as chained CTEs (the pagerankCtes
    * precedent), each replaying the identical largest-remainder
    * arithmetic. */
  lazy val q271_allocate_down: String = {
    val levels = (1 to 6).map { k =>
      s"""lv$k AS (
  SELECT x.node, CAST($k AS BIGINT) AS depth,
    x.base + CASE WHEN x.rnk <= x.leftover THEN 1 ELSE 0 END AS amount
  FROM (
    SELECT c.node,
      (p.amount * c.w) // s.W AS base,
      row_number() OVER (PARTITION BY c.parent
        ORDER BY (p.amount * c.w) % s.W DESC, c.node) AS rnk,
      p.amount - sum((p.amount * c.w) // s.W)
        OVER (PARTITION BY c.parent) AS leftover
    FROM t c
      JOIN lv${k - 1} p ON c.parent = p.node
      JOIN sib s ON s.parent = c.parent) x)"""
    }.mkString(",\n")
    val unions = (1 to 6).map(k =>
      s"UNION ALL SELECT node, depth, CAST(amount AS BIGINT) FROM lv$k")
      .mkString("\n")
    s"""
WITH t AS (
  SELECT doc_id AS node,
    CASE WHEN doc_id = 0 THEN NULL ELSE (doc_id - 1) // 3 END AS parent,
    n_chars % 7 + 1 AS w
  FROM documents),
sib AS (SELECT parent, CAST(sum(w) AS BIGINT) AS W FROM t
  WHERE parent IS NOT NULL GROUP BY 1),
lv0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth,
  CAST(1000000000 AS BIGINT) AS amount),
$levels
SELECT node, depth, CAST(amount AS BIGINT) AS amount FROM lv0
$unions
ORDER BY node"""
  }

  /** q270 twin of [[graft.analytics.Hierarchy.materializedPaths]]:
    * one level per recursive step from the roots down — structurally
    * independent of the log-round segment squaring. */
  val q270_materialized_paths: String = """
WITH RECURSIVE t AS (
  SELECT doc_id AS node,
    CASE WHEN doc_id = 0 THEN NULL ELSE (doc_id - 1) // 3 END AS parent
  FROM documents),
p(node, root, depth, path) AS (
  SELECT node, node, CAST(0 AS BIGINT), '/' || CAST(node AS VARCHAR)
  FROM t WHERE parent IS NULL
  UNION ALL
  SELECT t.node, p.root, p.depth + 1,
    p.path || '/' || CAST(t.node AS VARCHAR)
  FROM t JOIN p ON t.parent = p.node)
SELECT node, root, depth, path FROM p ORDER BY node"""

  /** q269 twin: the q236 prefix-filter pipeline re-parameterized at
    * tau 500, the 700 cut as a filter over its floor permille
    * (provably the same pair set), and TWO recursive-CTE closures
    * for the per-cut components (the q131 discipline). */
  lazy val q269_threshold_audit: String = s"""
WITH RECURSIVE $prefixCorpusCte,
${shingleHashCtes("corpus")}${prefixCmCtes(500)},
p5 AS (
  SELECT doc_a, doc_b, (common*1000)//(n_a + n_b - common) AS jac
  FROM cm WHERE common*1000 >= 500*(n_a + n_b - common)),
p7 AS (SELECT doc_a, doc_b FROM p5 WHERE jac >= 700),
e5 AS (SELECT DISTINCT s, d FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT doc_a AS s, doc_b AS d FROM p5 UNION ALL SELECT doc_b, doc_a FROM p5)),
e7 AS (SELECT DISTINCT s, d FROM (
  SELECT doc_a AS s, doc_b AS d FROM p7 UNION ALL SELECT doc_b, doc_a FROM p7)),
r5(s, d) AS (SELECT s, d FROM e5
  UNION SELECT r5.s, e5.d FROM r5 JOIN e5 ON r5.d = e5.s),
r7(s, d) AS (SELECT s, d FROM e7
  UNION SELECT r7.s, e7.d FROM r7 JOIN e7 ON r7.d = e7.s),
l5 AS (SELECT s AS node, least(s, min(d)) AS label FROM r5 GROUP BY s),
l7 AS (SELECT s AS node, least(s, min(d)) AS label FROM r7 GROUP BY s),
s5 AS (SELECT label, CAST(count(*) AS BIGINT) AS sz FROM l5 GROUP BY 1),
s7 AS (SELECT label, CAST(count(*) AS BIGINT) AS sz FROM l7 GROUP BY 1)
SELECT CAST(500 AS BIGINT) AS tau_permille,
  CAST((SELECT count(*) FROM p5) AS BIGINT) AS n_pairs,
  CAST(count(*) AS BIGINT) AS n_components,
  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
  CAST(coalesce(max(sz), 0) AS BIGINT) AS max_component
FROM s5
UNION ALL
SELECT CAST(700 AS BIGINT),
  CAST((SELECT count(*) FROM p7) AS BIGINT),
  CAST(count(*) AS BIGINT),
  CAST(coalesce(sum(sz), 0) AS BIGINT),
  CAST(coalesce(max(sz), 0) AS BIGINT)
FROM s7
ORDER BY tau_permille"""

  /** q268 twin of [[graft.analytics.Profiling.melt]]: the UNION ALL
    * reshape (structurally independent of Spark's single Expand). */
  val q268_melt_metrics: String = """
WITH w AS (
  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      AS qty_cents,
    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
  FROM lineitem GROUP BY 1)
SELECT flag, 'n_rows' AS metric, n_rows AS value FROM w
UNION ALL SELECT flag, 'qty_cents', qty_cents FROM w
UNION ALL SELECT flag, 'n_parts', n_parts FROM w
ORDER BY flag, metric"""

  /** q267 twin of [[graft.events.EventAnalytics.cumulativeDistinct]]:
    * same first-seen charging; the running total is a plain window
    * prefix sum (DuckDB has no single-partition trap to dodge). */
  val q267_cumulative_distinct: String = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
pb AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM e GROUP BY 1),
f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
nw AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1),
j AS (
  SELECT pb.day, pb.n_events, pb.n_active,
    coalesce(nw.n_new, 0) AS n_new
  FROM pb LEFT JOIN nw USING (day))
SELECT day, n_events, n_active, n_new,
  CAST(sum(n_new) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_distinct
FROM j ORDER BY day"""

  /** q266 twin of [[graft.analytics.Hierarchy.subtreeRollup]]: a
    * plain recursive-CTE ancestor closure (one level per step —
    * structurally independent of the log-round path squaring) + the
    * same measure join, aggregate, and parent-share arithmetic. */
  val q266_subtree_rollup: String = """
WITH RECURSIVE t AS (
  SELECT doc_id AS node,
    CASE WHEN doc_id = 0 THEN NULL ELSE (doc_id - 1) // 3 END AS parent,
    n_chars AS own
  FROM documents),
cl(anc, des) AS (
  SELECT node, node FROM t
  UNION
  SELECT cl.anc, t.node FROM cl JOIN t ON t.parent = cl.des),
agg AS (
  SELECT cl.anc AS node, CAST(count(*) AS BIGINT) AS subtree_count,
    CAST(sum(t.own) AS BIGINT) AS subtree_total
  FROM cl JOIN t ON t.node = cl.des GROUP BY 1)
SELECT t.node, t.parent, CAST(t.own AS BIGINT) AS own,
  a.subtree_count, a.subtree_total,
  CASE WHEN p.subtree_total IS NOT NULL AND p.subtree_total <> 0 THEN
    (a.subtree_total * 1000) // p.subtree_total
  END AS share_of_parent_permille
FROM t JOIN agg a USING (node)
  LEFT JOIN agg p ON p.node = t.parent
ORDER BY t.node"""

  /** q265 twin of [[graft.etl.Sampling.tokenBudgetMix]]: identical
    * exact budget split, md5 hash order, first-crossing-kept
    * boundary, permille fill. */
  val q265_token_mix: String = """
WITH w AS (
  SELECT DISTINCT source,
    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS weight
  FROM documents),
ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
b AS (
  SELECT w.source, w.weight, (60000 * w.weight) // ws.wsum
    AS budget_tokens
  FROM w, ws),
h AS (
  SELECT source, doc_id, n_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
      AS BIGINT) AS hh
  FROM documents),
c AS (
  SELECT source, doc_id, n_chars,
    sum(n_chars) OVER (PARTITION BY source ORDER BY hh, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h),
k AS (
  SELECT c.source, c.n_chars,
    CASE WHEN c.cum - c.n_chars < b.budget_tokens THEN 1 ELSE 0 END
      AS kept
  FROM c JOIN b USING (source)),
agg AS (
  SELECT source, CAST(sum(kept) AS BIGINT) AS n_docs_kept,
    CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
      AS tokens_kept
  FROM k GROUP BY 1)
SELECT b.source, b.weight, b.budget_tokens, a.n_docs_kept,
  a.tokens_kept, (a.tokens_kept * 1000) // b.budget_tokens
    AS fill_permille
FROM b JOIN agg a USING (source) ORDER BY source"""

  /** q264 twin: the composed frontier schedule — the q259-style
    * bounded recursive walk for the trust gate, the whole q124
    * PageRank twin nested as a subquery for the priority (the q131
    * discipline: each stage's structurally independent derivation),
    * and the q239 registered-domain + row_number schedule. */
  lazy val q264_frontier_schedule: String = s"""
WITH RECURSIVE te AS (
  SELECT src, dst, min(w) AS w FROM (
    SELECT 'd' || CAST(doc_id % 29 AS VARCHAR) AS src,
      'd' || CAST((doc_id % 29 + 1) % 29 AS VARCHAR) AS dst,
      doc_id % 29 % 3 + 1 AS w
    FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 29 AS VARCHAR),
      'd' || CAST((doc_id % 29 + 3) % 29 AS VARCHAR),
      ((doc_id % 29) * 2 + 1) % 3 + 1
    FROM documents)
  WHERE src <> dst GROUP BY 1, 2),
walk(node, d) AS (
  SELECT DISTINCT 'd' || CAST((doc_id % 5) * 5 AS VARCHAR),
    CAST(0 AS BIGINT)
  FROM documents
  UNION ALL
  SELECT te.dst, walk.d + te.w FROM walk JOIN te ON te.src = walk.node
  WHERE walk.d + te.w <= 4),
trust AS (SELECT node, min(d) AS dist FROM walk GROUP BY 1),
pr AS (SELECT node, rank_units FROM ($q124_pagerank)),
u AS (
  SELECT doc_id,
    'https://www.d' || CAST(doc_id % 29 AS VARCHAR) || 'hub.com/p' ||
      CAST(doc_id AS VARCHAR) AS url,
    'd' || CAST(doc_id % 29 AS VARCHAR) AS host
  FROM documents),
g AS (
  SELECT u.doc_id, u.url, t.dist, pr.rank_units,
    regexp_extract(
      lower(regexp_extract(u.url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
      '([^.]+\\.[^.]+)$$', 1) AS domain
  FROM u JOIN trust t ON t.node = u.host JOIN pr ON pr.node = u.host),
q AS (
  SELECT doc_id, url, domain, dist, rank_units,
    row_number() OVER (PARTITION BY domain
      ORDER BY rank_units DESC, doc_id) AS queue_pos
  FROM g)
SELECT doc_id, url, domain, CAST(queue_pos AS BIGINT) AS queue_pos,
  CAST((queue_pos - 1) * 1000 AS BIGINT) AS fetch_offset_ms,
  dist, rank_units
FROM q WHERE queue_pos <= 12
ORDER BY domain, queue_pos"""

  /** q263 twin of [[graft.analytics.Ranking.liftTable]]: plain
    * row_number over the engine's own sort replaces the distributed
    * row index; identical bucket cut and floor rationals. */
  val q263_lift_table: String = """
WITH s AS (
  SELECT c_custkey AS id, CAST(round(c_acctbal * 100) AS BIGINT) AS score,
    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
  FROM customer),
o AS (SELECT y, row_number() OVER (ORDER BY score DESC, id) AS rn FROM s),
t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
  FROM o),
b AS (
  SELECT ((o.rn - 1) * 10) // t.n AS bucket,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(o.y) AS BIGINT) AS n_pos,
    max(t.n) AS n, max(t.p) AS p
  FROM o, t GROUP BY 1),
c AS (
  SELECT bucket, n_rows, n_pos, n, p,
    CAST(sum(n_rows) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_rows,
    CAST(sum(n_pos) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_pos
  FROM b)
SELECT bucket, n_rows, n_pos, (n_pos * 1000) // n_rows AS rate_permille,
  cum_rows, cum_pos,
  CASE WHEN p > 0 THEN (cum_pos * 1000) // p END AS gain_permille,
  CASE WHEN p > 0 THEN (cum_pos * n * 1000) // (cum_rows * p) END
    AS lift_permille
FROM c ORDER BY bucket"""

  /** q262 twin of [[graft.quality.Agreement.chiSquare]]: identical
    * observed-cells-only identity and per-cell e6 floor, HUGEINT
    * accumulation cast back to BIGINT. */
  val q262_chi_square: String = """
WITH cells AS (
  SELECT CAST(o_orderstatus AS VARCHAR) AS a,
    CAST(o_orderpriority AS VARCHAR) AS b,
    CAST(count(*) AS BIGINT) AS o
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
s AS (
  SELECT CAST(max(t.nn) AS BIGINT) AS n,
    CAST(count(DISTINCT x.a) AS BIGINT) AS n_a,
    CAST(count(DISTINCT x.b) AS BIGINT) AS n_b,
    sum((CAST(1000000 AS HUGEINT) * t.nn * x.o * x.o) // (ra.r * cb.c))
      AS t
  FROM cells x JOIN ra USING (a) JOIN cb USING (b), tot t),
f AS (
  SELECT n, n_a, n_b, (n_a - 1) * (n_b - 1) AS dof,
    CAST(t - CAST(1000000 AS HUGEINT) * n AS BIGINT) AS chi2_e6
  FROM s)
SELECT n, n_a, n_b, dof, chi2_e6,
  CASE WHEN least(n_a - 1, n_b - 1) > 0 THEN
    chi2_e6 // (1000 * n * least(n_a - 1, n_b - 1))
  END AS v2_permille
FROM f"""

  /** q261 twin of [[graft.spatial.Spatial.proximityJoin]]: brute
    * force — the full 250k-pair cross join with the exact integer
    * distance filter, no cells anywhere (structurally independent;
    * feasible precisely because the oracle runs at fixture scale). */
  val q261_proximity_join: String = """
WITH p AS (
  SELECT doc_id AS id,
    doc_id * 7919 % 2000001 - 1000000 AS x,
    (doc_id * 104729 + 12345) % 2000001 - 1000000 AS y
  FROM documents)
SELECT a.id AS a_id, b.id AS b_id,
  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM p a JOIN p b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
  <= CAST(100000 AS BIGINT) * 100000
ORDER BY a_id, b_id"""

  /** q260 twin of [[graft.analytics.Profiling.exactQuantiles]]: the
    * oracle sorts ROWS directly (row_number over the engine's own
    * sort — structurally independent of the distinct-value
    * prefix-sum path) and picks the value AT the ceil target rank;
    * type-1 semantics make that the same smallest-value-reaching-rank
    * the operator defines. */
  val q260_exact_quantiles: String = """
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
o AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
    CAST(count(*) OVER () AS BIGINT) AS n
  FROM v),
q(q_permille) AS (
  SELECT * FROM (VALUES (10), (250), (500), (750), (990), (1000)))
SELECT q.q_permille, o.cents AS value,
  (q.q_permille * o.n + 999) // 1000 AS target_rank, o.n AS n
FROM q JOIN o ON o.rn = (q.q_permille * o.n + 999) // 1000
ORDER BY q.q_permille"""

  /** q259 twin of [[graft.graph.LinkGraph.seedDistances]]: bounded
    * recursive walk enumeration + min per node — every walk within
    * radius 30 is finite on the weight-≥3 fixture, so the closure
    * terminates; min over walks IS the shortest path. Structurally
    * independent of the frontier relaxation. */
  val q259_seed_distances: String = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, doc_id + 1 AS dst, 3 + doc_id % 7 AS w
  FROM documents
  UNION ALL
  SELECT doc_id, doc_id + 7, 3 + (doc_id * 5 + 2) % 7 FROM documents),
walk(node, d) AS (
  SELECT doc_id, CAST(0 AS BIGINT) FROM documents WHERE doc_id % 100 = 0
  UNION ALL
  SELECT e.dst, walk.d + e.w FROM walk JOIN e ON e.src = walk.node
  WHERE walk.d + e.w <= 30)
SELECT node, min(d) AS dist FROM walk GROUP BY 1 ORDER BY node"""

  /** q257 twin of [[graft.analytics.Ranking.rocAuc]]: the same
    * Mann–Whitney identity via a plain windowed prefix sum over
    * distinct scores (DuckDB has no single-partition trap to dodge);
    * HUGEINT accumulation cast back to BIGINT. */
  val q257_roc_auc: String = """
WITH s AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
    CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS score
  FROM orders),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n_s,
    CAST(sum(y) AS BIGINT) AS p_s
  FROM s GROUP BY 1),
c AS (
  SELECT n_s, p_s,
    coalesce(sum(n_s) OVER (ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_s
  FROM g),
t AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n,
    CAST(sum(p_s) AS BIGINT) AS n_pos,
    CAST(count(*) AS BIGINT) AS n_distinct_scores,
    sum(CAST(p_s AS HUGEINT) * (2 * c_s + n_s + 1)) AS sum2r
  FROM c)
SELECT n, n_pos, n - n_pos AS n_neg, n_distinct_scores,
  CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
    CAST((1000000 * (sum2r - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
      // (2 * CAST(n_pos AS HUGEINT) * (n - n_pos)) AS BIGINT)
  END AS auc_e6
FROM t"""

  /** q258 twin of [[graft.analytics.Ranking.calibrationTable]]: the
    * same md5 key-hash scorer and label draw, decile bins, floor
    * integer permille/Brier. */
  val q258_calibration: String = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|p'),
      1, 14)) AS BIGINT) % 1001 AS p_permille,
    c_custkey
  FROM customer),
s2 AS (
  SELECT p_permille,
    CASE WHEN CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
        || '|y'), 1, 14)) AS BIGINT) % 1000 < p_permille
      THEN 1 ELSE 0 END AS y
  FROM s),
b AS (
  SELECT least((p_permille * 10) // 1000, 9) AS bin, p_permille, y
  FROM s2),
agg AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    CAST(sum(p_permille) AS BIGINT) // count(*) AS conf_permille,
    (CAST(sum(y) AS BIGINT) * 1000) // count(*) AS rate_permille,
    CAST(sum((p_permille - 1000 * y) * (p_permille - 1000 * y))
      AS BIGINT) // count(*) AS brier_e6
  FROM b GROUP BY 1)
SELECT bin, n, n_pos, conf_permille, rate_permille, brier_e6,
  abs(conf_permille - rate_permille) AS gap_permille
FROM agg ORDER BY bin"""

  /** q256 twin of [[graft.etl.Sampling.signFlipTest]] over the q248
    * matched pairs: identical md5 flip assignment per (pair key,
    * replicate), exact integer sums, +1-corrected floor p. */
  lazy val q256_paired_signflip: String = s"""
WITH pr AS (
  SELECT band, pair_rank, treated_id, control_id
  FROM ($q248_matched_cohort)),
c AS (
  SELECT c_custkey AS id, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer),
d AS (
  SELECT CAST(p.band AS VARCHAR) || '_' || CAST(p.pair_rank AS VARCHAR)
      AS k,
    t.bal - cc.bal AS diff
  FROM pr p
    JOIN c t ON t.id = p.treated_id
    JOIN c cc ON cc.id = p.control_id),
obs AS (
  SELECT CAST(sum(diff) AS BIGINT) AS sum_diff,
    CAST(count(*) AS BIGINT) AS n_pairs
  FROM d),
r AS (
  SELECT s.rep,
    CAST(sum(CASE WHEN CAST(('0x' || substr(md5(k || '|' ||
        CAST(s.rep AS VARCHAR)), 1, 14)) AS BIGINT) % 2 = 0
      THEN diff ELSE -diff END) AS BIGINT) AS sr
  FROM d, unnest(range(1, 101)) AS s(rep) GROUP BY 1),
e AS (
  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
    CAST(sum(CASE WHEN abs(r.sr) >= abs(o.sum_diff) THEN 1 ELSE 0 END)
      AS BIGINT) AS n_extreme
  FROM r, obs o)
SELECT o.n_pairs, o.sum_diff, e.n_replicates, e.n_extreme,
  (1000 * (e.n_extreme + 1)) // (e.n_replicates + 1) AS p_permille
FROM obs o, e"""

  /** q255 twin: the composed ER pipeline — q238's proven SNM twin as
    * the candidate generator, a recursive-CTE transitive closure for
    * the components (the q131 discipline: structurally independent
    * algorithm, same labels), arg_min survivorship. */
  lazy val q255_er_pipeline: String = s"""
WITH RECURSIVE pairs AS (
  SELECT rec_a, rec_b FROM ($q238_snm_linkage) WHERE dist <= 1),
recs AS (
  SELECT p_partkey * 2 AS rec_id, p_name AS name FROM part
  UNION ALL
  SELECT p_partkey * 2 + 1, substr(p_name, 1, 7) || 'q' || substr(p_name, 9)
  FROM part WHERE p_partkey % 5 = 0),
e AS (SELECT DISTINCT s, d FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT rec_a AS s, rec_b AS d FROM pairs
  UNION ALL SELECT rec_b, rec_a FROM pairs)),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
lbl AS (SELECT s AS node, least(s, min(d)) AS label FROM reach GROUP BY s),
lab AS (
  SELECT r.rec_id, r.name, coalesce(l.label, r.rec_id) AS entity_id
  FROM recs r LEFT JOIN lbl l ON r.rec_id = l.node)
SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
  arg_min(name, rec_id) AS canonical_name
FROM lab GROUP BY entity_id ORDER BY entity_id"""

  /** q254 twin of [[graft.events.EventAnalytics.sessionWindows]]: the
    * q24 gaps-and-islands sweep with session_window's OUTPUT contract
    * (w_end = last event + gap) and its measured strict-> boundary. */
  val q254_session_window_native: String = s"""
WITH e AS (
  SELECT ts, user_id, value, epoch_us(ts) AS us FROM events),
${sessionStarts("ts")},
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM m)
SELECT user_id, min(ts) AS w_start,
  max(ts) + INTERVAL 30 MINUTE AS w_end,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, seq ORDER BY user_id, w_start"""

  /** q328 twin of the composed capstone batch path: the oracle never
    * parses the JSONL fixture — the quarantine split is the doc_id
    * formula (every 7th event_id broken), the %5 re-delivery collapses
    * under keep-first dedup BY CONSTRUCTION (asserting that is the
    * query's point), and what remains is the q254 session sweep over
    * `event_id % 7 <> 0`. */
  val q328_capstone_batch: String = s"""
WITH e AS (
  SELECT ts, user_id, value, epoch_us(ts) AS us FROM events
  WHERE event_id % 7 <> 0),
${sessionStarts("ts")},
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM m)
SELECT user_id, min(ts) AS w_start,
  max(ts) + INTERVAL 30 MINUTE AS w_end,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, seq ORDER BY user_id, w_start"""

  /** q253 twin: the q140 SCD2 replay run twice — once on the on-time
    * two-thirds, once on the full feed — snapshotted at the same
    * instant and full-outer joined with the same verdict CASE. */
  val q253_bitemporal_correction: String = """
WITH ev AS (SELECT user_id, event_type, ts, event_id FROM events),
b1 AS (SELECT * FROM ev WHERE event_id % 3 <> 0),
o1 AS (
  SELECT user_id, event_type, ts, row_number() OVER w AS rn,
    lag(event_type) OVER w AS prev
  FROM b1 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
s1 AS (
  SELECT user_id, event_type, ts AS vf,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS vt
  FROM o1 WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
v1 AS (
  SELECT user_id, event_type AS state_v1 FROM s1
  WHERE vf <= TIMESTAMP '2024-01-04 00:00:00'
    AND (vt IS NULL OR vt > TIMESTAMP '2024-01-04 00:00:00')),
o2 AS (
  SELECT user_id, event_type, ts, row_number() OVER w AS rn,
    lag(event_type) OVER w AS prev
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
s2 AS (
  SELECT user_id, event_type, ts AS vf,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS vt
  FROM o2 WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
v2 AS (
  SELECT user_id, event_type AS state_v2 FROM s2
  WHERE vf <= TIMESTAMP '2024-01-04 00:00:00'
    AND (vt IS NULL OR vt > TIMESTAMP '2024-01-04 00:00:00'))
SELECT user_id, state_v1, state_v2,
  CASE WHEN state_v1 IS NULL THEN 'late_arrival'
       WHEN state_v1 = state_v2 THEN 'stable'
       ELSE 'corrected' END AS verdict
FROM v1 FULL OUTER JOIN v2 USING (user_id)
ORDER BY user_id"""

  /** q251 twin of [[graft.text.Vocab.vocabTrend]]: same tokenizer
    * (the shinglesCte idiom), same (cnt DESC, token) rank order,
    * same prev-batch shift join. */
  val q251_vocab_trend: String = """
WITH toks AS (
  SELECT doc_id % 4 + 1 AS batch,
    unnest(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS token
  FROM documents),
counts AS (
  SELECT batch, token, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2),
rk AS (
  SELECT batch, token, cnt,
    CAST(row_number() OVER (PARTITION BY batch ORDER BY cnt DESC, token)
      AS BIGINT) AS rank
  FROM counts),
prev AS (SELECT batch + 1 AS batch, token, rank AS prev_rank FROM rk)
SELECT r.batch, r.rank, r.token, r.cnt, p.prev_rank,
  p.prev_rank - r.rank AS rank_delta, p.prev_rank IS NULL AS is_new
FROM rk r LEFT JOIN prev p USING (batch, token)
WHERE r.rank <= 15 ORDER BY r.batch, r.rank"""

  /** q252 twin: the q136 category-count contract — corrupt rows are a
    * pure function of doc_id, so the oracle needs no file replay.
    * min_doc mirrors the Spark side's keep-all-columns-live probe;
    * PERMISSIVE retains fields that DID parse on a malformed row
    * (measured: the leading doc_id survives, only failing fields go
    * null), so the quarantine group's min is a real id too. */
  val q252_csv_quarantine: String = """
SELECT category, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_doc
FROM (
  SELECT CASE WHEN doc_id % 7 = 0 THEN '__malformed' ELSE lang END AS category,
    doc_id
  FROM documents)
GROUP BY category ORDER BY category"""

  /** q250 twin of [[graft.functions.TopKByLong]]: the window
    * row_number idiom the native aggregate replaces — same total
    * order (value DESC, id ASC), same k cut. */
  val q250_topk_native: String = """
WITH d AS (
  SELECT o_orderpriority,
    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, o_orderkey
  FROM orders),
r AS (
  SELECT o_orderpriority, price_cents, o_orderkey,
    CAST(row_number() OVER (PARTITION BY o_orderpriority
      ORDER BY price_cents DESC, o_orderkey) AS BIGINT) AS rank
  FROM d)
SELECT o_orderpriority, rank, price_cents, o_orderkey
FROM r WHERE rank <= 5 ORDER BY o_orderpriority, rank"""

  /** q249 twin: the composed dedup decision record — the four proven
    * family twins (q17 keep-first, q18 MinHash, q20 SimHash, q157
    * directional containment) chained verbatim as subqueries, the
    * E131/E233 composition discipline. */
  lazy val q249_dedup_decisions: String = s"""
WITH kept AS (SELECT doc_id FROM ($q17_content_dedup)),
mh AS (SELECT DISTINCT doc_b FROM ($q18_minhash_neardup)),
sh AS (SELECT DISTINCT doc_b FROM ($q20_simhash_neardup)),
ct AS (SELECT DISTINCT contained AS doc_b FROM ($q157_containment_pairs)
       WHERE contained > container)
SELECT d.doc_id,
  (d.doc_id NOT IN (SELECT doc_id FROM kept)) AS exact_dup,
  (d.doc_id IN (SELECT doc_b FROM mh)) AS near_dup_lower,
  (d.doc_id IN (SELECT doc_b FROM sh)) AS simhash_dup_lower,
  (d.doc_id IN (SELECT doc_b FROM ct)) AS contained_in_lower,
  ((d.doc_id IN (SELECT doc_id FROM kept))
    AND d.doc_id NOT IN (SELECT doc_b FROM mh)
    AND d.doc_id NOT IN (SELECT doc_b FROM sh)
    AND d.doc_id NOT IN (SELECT doc_b FROM ct)) AS keep
FROM documents d ORDER BY d.doc_id"""

  /** q247 twin of [[graft.events.EventAnalytics.survivalHazard]]:
    * per-user tenure/censoring, week-domain aggregate, reverse
    * running at-risk sum. */
  val q247_survival_hazard: String = """
WITH pu AS (
  SELECT user_id, min(epoch_us(ts)) AS fu, max(epoch_us(ts)) AS lu
  FROM events GROUP BY 1),
hz AS (SELECT max(epoch_us(ts)) AS h FROM events),
u AS (
  SELECT (lu - fu) // 604800000000 AS tenure_w,
    CASE WHEN lu < h - 604800000000 THEN 1 ELSE 0 END AS churned
  FROM pu, hz),
bw AS (
  SELECT tenure_w, CAST(count(*) AS BIGINT) AS ending,
    CAST(sum(churned) AS BIGINT) AS n_churned
  FROM u GROUP BY 1),
r AS (
  SELECT tenure_w, n_churned,
    CAST(sum(ending) OVER (ORDER BY tenure_w DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM bw)
SELECT tenure_w, n_risk, n_churned,
  (1000 * n_churned) // n_risk AS hazard_permille
FROM r ORDER BY tenure_w"""

  /** q248 twin of [[graft.etl.Sampling.matchedCohort]]: same banding
    * (shifted nonneg cents — both engines' integer div agree), same
    * (band, arm, id) rank order, same 1:1 join. */
  val q248_matched_cohort: String = """
WITH d AS (
  SELECT c_custkey AS id, c_mktsegment = 'BUILDING' AS treated,
    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS band
  FROM customer),
rk AS (
  SELECT id, treated, band,
    CAST(row_number() OVER (PARTITION BY band, treated ORDER BY id)
      AS BIGINT) AS pair_rank
  FROM d),
t AS (SELECT band, pair_rank, id AS treated_id FROM rk WHERE treated),
c AS (SELECT band, pair_rank, id AS control_id FROM rk WHERE NOT treated)
SELECT t.band, t.pair_rank, t.treated_id, c.control_id
FROM t JOIN c USING (band, pair_rank)
ORDER BY band, pair_rank"""

  /** q245 twin of [[graft.multimodal.Multimodal.silenceTrim]]: the
    * q216 synthetic PCM replayed from its formula (channel-0 samples,
    * 16-sample frames, Σv² energies), then the same conditional
    * bounds aggregate. */
  val q245_silence_trim: String = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 37 AS nf
  FROM documents),
s AS (
  SELECT doc_id, CAST((i // ch) // 16 AS BIGINT) AS fi,
    ((7919 * doc_id + 104729 * i + 1299721 * i * i) % 65536) - 32768 AS v
  FROM d, unnest(range(0, ch * nf)) AS t(i)
  WHERE i % ch = 0),
fr AS (
  SELECT doc_id, fi, CAST(sum(v * v) AS BIGINT) AS e
  FROM s GROUP BY 1, 2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
  min(CASE WHEN e >= 5500000000 THEN fi END) AS first_active,
  max(CASE WHEN e >= 5500000000 THEN fi END) AS last_active,
  CAST(sum(CASE WHEN e >= 5500000000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_active,
  coalesce(max(CASE WHEN e >= 5500000000 THEN fi END)
    - min(CASE WHEN e >= 5500000000 THEN fi END) + 1, 0) AS keep_frames
FROM fr GROUP BY 1 ORDER BY doc_id"""

  /** q246 twin of [[graft.etl.Skew.joinCardinality]]: count tables,
    * product join, 1-row total, (pairs DESC, key) top-30. */
  val q246_join_cardinality: String = """
WITH la AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS f_left
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
rb AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS f_right
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
pk AS (
  SELECT la.key, la.f_left, rb.f_right, la.f_left * rb.f_right AS pairs
  FROM la JOIN rb USING (key)),
t AS (SELECT CAST(coalesce(sum(pairs), 0) AS BIGINT) AS total_pairs FROM pk)
SELECT pk.key, pk.f_left, pk.f_right, pk.pairs, t.total_pairs,
  (pk.pairs * 1000) // t.total_pairs AS share_permille
FROM pk, t
ORDER BY pk.pairs DESC, pk.key LIMIT 30"""

  /** q243 twin of [[graft.analytics.Profiling.quantileNormalize]]:
    * the same (value, date) rank order, ceil-div nearest-rank-above
    * lookup, and nonneg-mod floor mean. */
  val q243_quantile_norm: String = barsCte + """,
daily AS (
  SELECT symbol, date, CAST(min(close) AS BIGINT) AS close_i
  FROM merged GROUP BY 1, 2),
ranked AS (
  SELECT symbol, date, close_i,
    CAST(row_number() OVER (PARTITION BY symbol ORDER BY close_i, date)
      AS BIGINT) AS i
  FROM daily),
sizes AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
pr AS (
  SELECT r.symbol, r.date, r.close_i, h.symbol AS hg,
    (r.i * h.n + s.n - 1) // s.n AS j
  FROM ranked r JOIN sizes s USING (symbol) CROSS JOIN sizes h),
lk AS (
  SELECT p.symbol, p.date, p.close_i, rh.close_i AS vh
  FROM pr p JOIN ranked rh ON rh.symbol = p.hg AND rh.i = p.j),
ag AS (
  SELECT symbol, date, close_i,
    CAST(sum(vh) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS g
  FROM lk GROUP BY 1, 2, 3)
SELECT symbol, date, close_i,
  (sv - ((sv % g + g) % g)) // g AS qn_close_i
FROM ag ORDER BY symbol, date"""

  /** q244 twin of [[graft.analytics.Profiling.candidateKeys]]:
    * row()-forced distinct tuples (bare count(DISTINCT c) would SKIP
    * nulls where the key semantics count them), unpivot, minimality
    * self-joins. */
  val q244_candidate_keys: String = """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT row(o_orderkey)) AS BIGINT) AS k1,
    CAST(count(DISTINCT row(o_custkey)) AS BIGINT) AS k2,
    CAST(count(DISTINCT row(o_orderdate)) AS BIGINT) AS k3,
    CAST(count(DISTINCT row(o_orderstatus)) AS BIGINT) AS k4,
    CAST(count(DISTINCT row(o_orderkey, o_custkey)) AS BIGINT) AS k12,
    CAST(count(DISTINCT row(o_orderkey, o_orderdate)) AS BIGINT) AS k13,
    CAST(count(DISTINCT row(o_orderkey, o_orderstatus)) AS BIGINT) AS k14,
    CAST(count(DISTINCT row(o_custkey, o_orderdate)) AS BIGINT) AS k23,
    CAST(count(DISTINCT row(o_custkey, o_orderstatus)) AS BIGINT) AS k24,
    CAST(count(DISTINCT row(o_orderdate, o_orderstatus)) AS BIGINT) AS k34
  FROM orders),
f AS (
  SELECT 'o_orderkey' AS col_a, CAST(NULL AS VARCHAR) AS col_b,
    1 AS arity, k1 AS n_distinct, n_rows FROM a
  UNION ALL SELECT 'o_custkey', NULL, 1, k2, n_rows FROM a
  UNION ALL SELECT 'o_orderdate', NULL, 1, k3, n_rows FROM a
  UNION ALL SELECT 'o_orderstatus', NULL, 1, k4, n_rows FROM a
  UNION ALL SELECT 'o_orderkey', 'o_custkey', 2, k12, n_rows FROM a
  UNION ALL SELECT 'o_orderkey', 'o_orderdate', 2, k13, n_rows FROM a
  UNION ALL SELECT 'o_orderkey', 'o_orderstatus', 2, k14, n_rows FROM a
  UNION ALL SELECT 'o_custkey', 'o_orderdate', 2, k23, n_rows FROM a
  UNION ALL SELECT 'o_custkey', 'o_orderstatus', 2, k24, n_rows FROM a
  UNION ALL SELECT 'o_orderdate', 'o_orderstatus', 2, k34, n_rows FROM a),
u AS (SELECT *, n_distinct = n_rows AS is_unique FROM f),
su AS (SELECT col_a AS c, is_unique AS uu FROM u WHERE arity = 1)
SELECT u.col_a, u.col_b, u.arity, u.n_distinct, u.n_rows, u.is_unique,
  (u.is_unique AND (u.arity = 1 OR
    (NOT coalesce(sa.uu, false) AND NOT coalesce(sb.uu, false))))
    AS is_minimal
FROM u
LEFT JOIN su sa ON u.col_a = sa.c
LEFT JOIN su sb ON u.col_b = sb.c
ORDER BY u.arity, u.col_a, coalesce(u.col_b, '')"""

  /** q241 twin of [[graft.quality.Agreement.cohenKappa]]: the same
    * confusion cells, marginal products over the shared label domain,
    * and the nonneg-mod floor identity for a possibly-negative kappa
    * (positive here; the identity keeps the trees structurally
    * equal). */
  val q241_kappa: String = """
WITH d AS (
  SELECT event_type AS a,
    CASE WHEN user_id % 11 = 0 THEN 'click' ELSE event_type END AS b
  FROM events WHERE event_type IS NOT NULL),
cells AS (SELECT a, b, count(*) AS n FROM d GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY 1),
rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
    CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM cells),
rc AS (
  SELECT CAST(coalesce(sum(ra.na * rb.nb), 0) AS BIGINT) AS rc
  FROM ra JOIN rb ON ra.a = rb.b)
SELECT t.n_items, t.n_agree,
  (1000 * t.n_agree) // t.n_items AS agree_permille,
  (1000 * rc.rc) // (t.n_items * t.n_items) AS pe_permille,
  CASE WHEN t.n_items * t.n_items - rc.rc <> 0 THEN
    (1000 * (t.n_items * t.n_agree - rc.rc)
     - ((1000 * (t.n_items * t.n_agree - rc.rc))
          % (t.n_items * t.n_items - rc.rc)
        + (t.n_items * t.n_items - rc.rc))
       % (t.n_items * t.n_items - rc.rc))
    // (t.n_items * t.n_items - rc.rc)
  END AS kappa_permille
FROM t, rc"""

  /** q242 twin of [[graft.etl.Encoding.looEncode]]: category stats
    * joined back, own target excluded, nonnegative floor division. */
  val q242_loo_encoding: String = """
WITH d AS (
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS target_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
s AS (
  SELECT segment, CAST(sum(target_cents) AS BIGINT) AS st,
    CAST(count(target_cents) AS BIGINT) AS n
  FROM d GROUP BY 1)
SELECT d.o_orderkey, d.segment, d.target_cents,
  CASE WHEN s.n > 1 THEN (s.st - d.target_cents) // (s.n - 1) END
    AS loo_target_cents
FROM d JOIN s USING (segment) ORDER BY d.o_orderkey"""

  /** q240 twin of [[graft.analytics.StockAnalytics.fillDailyInterpolate]]:
    * the q150 spine, both-direction IGNORE NULLS windows, and the
    * explicit floor identity `(n − ((n % d + d) % d)) // d` — DuckDB's
    * `//` truncates toward zero on negatives EXACTLY like Spark `div`
    * (verified: `-7 // 2 = -3`), so BOTH engines need their
    * nonnegative-mod shift for a falling-price gap. `close` is
    * integral by construction (FLOOR(l_extendedprice)), so the BIGINT
    * cast is exact on both engines. */
  val q240_interp_fill: String = barsCte + """,
daily AS (
  SELECT symbol, date, CAST(min(close) AS BIGINT) AS close_i
  FROM merged GROUP BY symbol, date),
bounds AS (SELECT symbol, min(date) AS d0, max(date) AS d1 FROM daily GROUP BY symbol),
spine AS (
  SELECT symbol, CAST(u.d AS DATE) AS date
  FROM bounds, unnest(generate_series(CAST(d0 AS TIMESTAMP),
    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)),
j AS (
  SELECT s.symbol, s.date, d.close_i,
    last_value(d.close_i IGNORE NULLS) OVER (PARTITION BY s.symbol
      ORDER BY s.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN d.close_i IS NOT NULL THEN s.date END IGNORE NULLS)
      OVER (PARTITION BY s.symbol ORDER BY s.date
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(d.close_i IGNORE NULLS) OVER (PARTITION BY s.symbol
      ORDER BY s.date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN d.close_i IS NOT NULL THEN s.date END IGNORE NULLS)
      OVER (PARTITION BY s.symbol ORDER BY s.date
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM spine s LEFT JOIN daily d USING (symbol, date)),
k AS (
  SELECT symbol, date, close_i, pv,
    (nv - pv) * (date - pd) AS n, nd - pd AS dd
  FROM j)
SELECT symbol, date,
  CASE WHEN close_i IS NOT NULL THEN close_i
       ELSE pv + (n - ((n % dd + dd) % dd)) // dd END AS close_i,
  close_i IS NULL AS is_interp
FROM k ORDER BY symbol, date"""

  /** Sorted-neighbourhood candidates over `recs(rec_id, name)`: two
    * passes (name, reversed name), window 4, pairs normalized to
    * rec_a < rec_b with their names — the twin of
    * [[graft.etl.FuzzyMatch.snmPairs]]'s blocking. */
  private val snmCandCtes: String = """p1 AS (
  SELECT rec_id, name,
    row_number() OVER (ORDER BY name, name, rec_id) AS rnk
  FROM recs),
p2 AS (
  SELECT rec_id, name,
    row_number() OVER (ORDER BY reverse(name), name, rec_id) AS rnk
  FROM recs),
c1 AS (
  SELECT a.rec_id AS id_a, a.name AS nm_a, b.rec_id AS id_b, b.name AS nm_b
  FROM p1 a, unnest(range(1, 4)) AS s(off)
  JOIN p1 b ON b.rnk = a.rnk + s.off),
c2 AS (
  SELECT a.rec_id AS id_a, a.name AS nm_a, b.rec_id AS id_b, b.name AS nm_b
  FROM p2 a, unnest(range(1, 4)) AS s(off)
  JOIN p2 b ON b.rnk = a.rnk + s.off),
cand AS (
  SELECT DISTINCT
    CASE WHEN id_a < id_b THEN id_a ELSE id_b END AS rec_a,
    CASE WHEN id_a < id_b THEN id_b ELSE id_a END AS rec_b,
    CASE WHEN id_a < id_b THEN nm_a ELSE nm_b END AS name_a,
    CASE WHEN id_a < id_b THEN nm_b ELSE nm_a END AS name_b
  FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
  WHERE id_a <> id_b)"""

  /** q238 twin of [[graft.etl.FuzzyMatch.snmPairs]]: both passes'
    * row_number orders replayed exactly — (key, name, rec_id) is a
    * total order, so rank ties cannot exist — then the same offset
    * window join, pair normalization, and (unbounded, equivalent on
    * kept rows) levenshtein verify. */
  val q238_snm_linkage: String = s"""
WITH recs AS (
  SELECT p_partkey * 2 AS rec_id, p_name AS name FROM part
  UNION ALL
  SELECT p_partkey * 2 + 1, substr(p_name, 1, 7) || 'q' || substr(p_name, 9)
  FROM part WHERE p_partkey % 5 = 0),
$snmCandCtes
SELECT rec_a, rec_b, name_a, name_b,
  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 2
ORDER BY rec_a, rec_b"""

  /** q239 twin of [[graft.text.Urls.politenessSchedule]]: the same
    * registered-domain extraction regexes, the same total order
    * (priority DESC, doc_id) under the per-domain window. */
  val q239_crawl_schedule: String = """
WITH u AS (
  SELECT doc_id,
    'https://sub' || CAST(doc_id % 4 AS VARCHAR) || '.example' ||
      CAST(doc_id % 7 AS VARCHAR) || '.com/pg' || CAST(doc_id AS VARCHAR)
      AS url,
    doc_id % 13 AS priority
  FROM documents),
d AS (
  SELECT doc_id, url, priority,
    regexp_extract(
      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
      '([^.]+\.[^.]+)$', 1) AS domain
  FROM u),
r AS (
  SELECT doc_id, url, domain,
    row_number() OVER (PARTITION BY domain
      ORDER BY priority DESC, doc_id) AS queue_pos
  FROM d)
SELECT doc_id, url, domain, CAST(queue_pos AS BIGINT) AS queue_pos,
  CAST((queue_pos - 1) * 1500 AS BIGINT) AS fetch_offset_ms
FROM r WHERE queue_pos <= 50
ORDER BY domain, queue_pos"""

  /** q237 twin of [[graft.store.SketchStore.cmsSketch]]/`cmsEstimate`:
    * the counter grid rebuilt from the same md5 bucket function (the
    * q232 '0x'||md5-substr idiom); the half/half merge on the Spark
    * side provably equals this single build (counter addition). */
  val q237_cms_estimates: String = """
WITH d AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
cms AS (
  SELECT s.r,
    CAST(('0x' || substr(md5(k || '|' || CAST(s.r AS VARCHAR)), 1, 14))
      AS BIGINT) % 64 AS c,
    count(*) AS cnt
  FROM d, unnest(range(0, 4)) AS s(r)
  GROUP BY 1, 2),
exact AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_count
  FROM orders GROUP BY 1
  ORDER BY exact_count DESC, o_custkey LIMIT 20),
probe AS (
  SELECT e.o_custkey, e.exact_count, s.r,
    CAST(('0x' || substr(md5(CAST(e.o_custkey AS VARCHAR) || '|' ||
      CAST(s.r AS VARCHAR)), 1, 14)) AS BIGINT) % 64 AS c
  FROM exact e, unnest(range(0, 4)) AS s(r)),
est AS (
  SELECT p.o_custkey, p.exact_count,
    min(coalesce(cms.cnt, 0)) AS est_count
  FROM probe p LEFT JOIN cms ON cms.r = p.r AND cms.c = p.c
  GROUP BY 1, 2)
SELECT o_custkey, exact_count, CAST(est_count AS BIGINT) AS est_count,
  CAST(est_count - exact_count AS BIGINT) AS overcount
FROM est ORDER BY o_custkey"""

  /** q234 twin of [[graft.quality.Expectations.runExpectations]]: the
    * six rule counts as one aggregate + UNION ALL unpivot. DuckDB
    * regexp_matches is unanchored-match like Spark RLIKE. */
  val q234_expectations: String = """
WITH a AS (
  SELECT
    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_unique,
    CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS cust_not_null,
    CAST(count(CASE WHEN o_totalprice < 1000.0 THEN 1 END) AS BIGINT) AS price_floor,
    CAST(count(CASE WHEN o_totalprice < 0.0 THEN 1 END) AS BIGINT) AS price_positive,
    CAST(count(CASE WHEN o_orderstatus IS NOT NULL
      AND CAST(o_orderstatus AS VARCHAR) NOT IN ('O', 'F', 'P') THEN 1 END)
      AS BIGINT) AS status_domain,
    CAST(count(CASE WHEN o_orderpriority IS NOT NULL
      AND NOT regexp_matches(CAST(o_orderpriority AS VARCHAR), '^[1-3]-')
      THEN 1 END) AS BIGINT) AS priority_format
  FROM orders)
SELECT rule, kind, "column", n_violations, n_violations = 0 AS passed
FROM (
  SELECT 'pk_unique' AS rule, 'unique' AS kind, 'o_orderkey' AS "column",
    pk_unique AS n_violations FROM a
  UNION ALL SELECT 'cust_not_null', 'not_null', 'o_custkey',
    cust_not_null FROM a
  UNION ALL SELECT 'price_floor', 'min', 'o_totalprice', price_floor FROM a
  UNION ALL SELECT 'price_positive', 'min', 'o_totalprice',
    price_positive FROM a
  UNION ALL SELECT 'status_domain', 'accepted_values', 'o_orderstatus',
    status_domain FROM a
  UNION ALL SELECT 'priority_format', 'rlike', 'o_orderpriority',
    priority_format FROM a)
ORDER BY rule"""

  /** q233 twin of [[graft.events.EventAnalytics.intervalIntersection]]:
    * the same boundary sweep — only the physically-last row of a
    * timestamp tie group carries a nonzero segment, so the tie order
    * inside the running sums cannot reach the output. */
  val q233_interval_intersection: String = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
ia AS (
  SELECT user_id, tsu AS s, tsu + 3600000000 AS e FROM ev
  WHERE event_type = 'click'),
ib AS (
  SELECT user_id, tsu AS s, tsu + 7200000000 AS e FROM ev
  WHERE event_type = 'view'),
dl AS (
  SELECT user_id, s AS t, 1 AS da, 0 AS db FROM ia
  UNION ALL SELECT user_id, e, -1, 0 FROM ia
  UNION ALL SELECT user_id, s, 0, 1 FROM ib
  UNION ALL SELECT user_id, e, 0, -1 FROM ib),
c AS (
  SELECT user_id, t,
    sum(da) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
    sum(db) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
    lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt
  FROM dl)
SELECT user_id, CAST(sum(nt - t) AS BIGINT) AS overlap,
  CAST(count(*) AS BIGINT) AS n_segments
FROM c
WHERE nt IS NOT NULL AND ca > 0 AND cb > 0 AND nt > t
GROUP BY 1 ORDER BY 1"""

  /** q232 twin of [[graft.etl.Sampling.randomizationTest]]: identical
    * md5 reassignment, HUGEINT cross-product compares, +1-corrected
    * floor-division p. */
  val q232_randomization_test: String = """
WITH d AS (
  SELECT CAST(c_custkey AS VARCHAR) AS k,
    (c_mktsegment = 'BUILDING') AS isa,
    CAST(round(c_acctbal * 100) AS BIGINT) AS v
  FROM customer),
t AS (
  SELECT count(CASE WHEN isa THEN 1 END) AS na,
    count(CASE WHEN NOT isa THEN 1 END) AS nb,
    CAST(sum(CASE WHEN isa THEN v ELSE 0 END) AS HUGEINT) AS sa,
    CAST(sum(CASE WHEN NOT isa THEN v ELSE 0 END) AS HUGEINT) AS sb
  FROM d),
a AS (
  SELECT rep,
    (CAST(('0x' || substr(md5(k || '|' || CAST(rep AS VARCHAR)), 1, 14))
       AS BIGINT) % (t.na + t.nb)) < t.na AS assa,
    v
  FROM d, unnest(range(1, 101)) AS s(rep), t),
p AS (
  SELECT rep,
    count(CASE WHEN assa THEN 1 END) AS nar,
    count(CASE WHEN NOT assa THEN 1 END) AS nbr,
    CAST(sum(CASE WHEN assa THEN v ELSE 0 END) AS HUGEINT) AS sar,
    CAST(sum(CASE WHEN NOT assa THEN v ELSE 0 END) AS HUGEINT) AS sbr
  FROM a GROUP BY 1),
e AS (
  SELECT p.rep,
    (abs(p.sar * p.nbr - p.sbr * p.nar) * (t.na * t.nb)) >=
    (abs(t.sa * t.nb - t.sb * t.na) * (p.nar * p.nbr)) AS extreme
  FROM p, t),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
    CAST(count(CASE WHEN extreme THEN 1 END) AS BIGINT) AS n_extreme
  FROM e)
SELECT t.na, t.nb,
  CAST(abs(t.sa * t.nb - t.sb * t.na) AS BIGINT) AS obs_num,
  s.n_replicates, s.n_extreme,
  ((s.n_extreme + 1) * 1000) // (s.n_replicates + 1) AS p_permille
FROM s, t"""

  /** q231 twin of [[graft.dedup.Dedup.incrementalComponents]]: the
    * CONTRACT is full recomputation over the union of both edge
    * batches — recursive symmetric closure, label = least reachable
    * node (the q118 machinery). */
  val q231_incremental_components: String = s"""
WITH RECURSIVE
e0 AS (
  SELECT doc_id % 211 AS a, 211 + doc_id % 13 AS b FROM documents
  UNION ALL
  SELECT doc_id % 211, 224 + doc_id % 7 FROM documents),
e AS (SELECT DISTINCT a, b FROM (
  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)),
n AS (SELECT DISTINCT a AS node FROM e),$connCte,
lab AS (SELECT a AS node, least(a, min(b)) AS label FROM conn GROUP BY a)
SELECT n.node, coalesce(l.label, n.node) AS label
FROM n LEFT JOIN lab l USING (node)
ORDER BY n.node"""

  /** d-prefix SQ8 top-k subquery for the q230 twin: q91's pipeline
    * over the re-normalized `embedding[1:d]` slice. */
  private def knnQuantSub(d: Int, k: Int, nq: Int): String = s"""(
WITH t AS (SELECT vec_id, embedding[1:$d] AS emb FROM embeddings),
n AS (
  SELECT vec_id,
    list_transform(range(1, len(emb)+1),
      i -> CAST(floor(CAST(emb[i] AS DOUBLE)
             / sqrt(${sqlDot("emb", "emb")}) * 127 + 0.5) AS BIGINT)) AS qv
  FROM t),
q AS (SELECT vec_id AS query_id, qv AS qq FROM n WHERE vec_id < $nq),
scored AS (
  SELECT q.query_id, n.vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(n.qv)+1), i -> n.qv[i] * q.qq[i])),
      (a, v) -> a + v) AS score
  FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, vec_id) AS rnk
    FROM scored)
  WHERE rnk <= $k)
SELECT query_id, neighbor_id FROM ranked)"""

  /** q230 twin of [[graft.similarity.Similarity.truncationRecallCurve]]:
    * four prefix rungs, each LEFT JOINed against the full-dim truth,
    * folded to (dim, n_truth, hits, recall_permille). */
  val q230_truncation_recall: String = {
    val exact = knnQuantSub(64, 10, 5)
    Seq(64, 32, 16, 8).map { d =>
      s"""SELECT $d AS dim,
  CAST(count(*) AS BIGINT) AS n_truth,
  CAST(count(a.neighbor_id) AS BIGINT) AS hits,
  CASE WHEN count(*) > 0 THEN
    (CAST(count(a.neighbor_id) AS BIGINT) * 1000) // count(*) END
    AS recall_permille
FROM $exact e LEFT JOIN ${knnQuantSub(d, 10, 5)} a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id"""
    }.mkString("\nUNION ALL\n") + "\nORDER BY dim DESC"
  }

  /** Per-query BM25 top-k subquery for the q229 twin — the q167
    * integer arithmetic with the term list parameterized. */
  private def bm25Sub(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""(
WITH tk2 AS (
  SELECT doc_id,
    list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '') AS tokens
  FROM documents),
d AS (SELECT doc_id, tokens, len(tokens) AS dl FROM tk2),
tot AS (SELECT count(*) AS n, sum(dl) AS l FROM d),
tf AS (
  SELECT doc_id, dl, token, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(tokens) AS token FROM d)
  WHERE token IN ($inList) GROUP BY 1, 2, 3),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT t.doc_id,
    (length(bin(greatest(1,
        (2 * (SELECT n FROM tot) - 2 * f.df + 1) // (2 * f.df + 1)))) - 1)
      * 22 * ((SELECT l FROM tot) // (SELECT n FROM tot)) * t.tf * 1000
      // (10 * ((SELECT l FROM tot) // (SELECT n FROM tot)) * t.tf
         + 3 * ((SELECT l FROM tot) // (SELECT n FROM tot)) + 9 * t.dl)
      AS score
  FROM tf t JOIN dfq f USING (token))
SELECT doc_id, sum(score) AS u FROM sc GROUP BY 1
ORDER BY u DESC, doc_id LIMIT $k)"""
  }

  /** q229 twin of [[graft.analytics.Ranking.rankingMetrics]]: three
    * parameterized q167 BM25 subqueries, per-query ranks, the
    * all-terms truth sets, and the exact-rational metric algebra. */
  val q229_ranking_metrics: String = s"""
WITH tk AS (
  SELECT doc_id,
    list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '') AS tokens
  FROM documents),
res AS (
  SELECT 'qa' AS query_id, doc_id,
    CAST(row_number() OVER (ORDER BY u DESC, doc_id) AS BIGINT) AS rank
  FROM ${bm25Sub(Seq("hash", "join"), 20)}
  UNION ALL
  SELECT 'qb', doc_id,
    CAST(row_number() OVER (ORDER BY u DESC, doc_id) AS BIGINT)
  FROM ${bm25Sub(Seq("vector", "scan"), 20)}
  UNION ALL
  SELECT 'qc', doc_id,
    CAST(row_number() OVER (ORDER BY u DESC, doc_id) AS BIGINT)
  FROM ${bm25Sub(Seq("slow", "merge", "batch"), 20)}),
tr AS (
  SELECT 'qa' AS query_id, doc_id FROM tk
  WHERE list_contains(tokens, 'hash') AND list_contains(tokens, 'join')
  UNION ALL
  SELECT 'qb', doc_id FROM tk
  WHERE list_contains(tokens, 'vector') AND list_contains(tokens, 'scan')
  UNION ALL
  SELECT 'qc', doc_id FROM tk
  WHERE list_contains(tokens, 'slow') AND list_contains(tokens, 'merge')
    AND list_contains(tokens, 'batch')),
trd AS (SELECT DISTINCT query_id, doc_id FROM tr),
nrel AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
  FROM trd GROUP BY 1),
j AS (
  SELECT r.query_id, r.rank, (t.doc_id IS NOT NULL) AS rel
  FROM res r LEFT JOIN trd t
    ON r.query_id = t.query_id AND r.doc_id = t.doc_id),
per AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_results,
    min(CASE WHEN rel THEN rank END) AS first_rel_rank,
    CAST(count(CASE WHEN rel AND rank <= 10 THEN 1 END) AS BIGINT)
      AS hits_at_k
  FROM j GROUP BY 1)
SELECT coalesce(p.query_id, n.query_id) AS query_id,
  coalesce(p.n_results, 0) AS n_results,
  coalesce(n.n_relevant, 0) AS n_relevant,
  p.first_rel_rank,
  CASE WHEN p.first_rel_rank IS NOT NULL
    THEN 1000000 // p.first_rel_rank END AS rr_e6,
  coalesce(p.hits_at_k, 0) AS hits_at_k,
  (coalesce(p.hits_at_k, 0) * 1000) // 10 AS precision_at_k_permille,
  CASE WHEN n.n_relevant > 0
    THEN (coalesce(p.hits_at_k, 0) * 1000) // n.n_relevant END
    AS recall_at_k_permille
FROM per p FULL OUTER JOIN nrel n ON p.query_id = n.query_id
ORDER BY query_id"""

  /** q228 twin of [[graft.etl.Packing.lengthBatches]]: the plain
    * global row_number (fine at oracle scale — the Spark side's
    * offset+local construction must emit the identical ordinal). */
  val q228_length_batches: String = """
WITH d AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
    (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 32 AS batch_id
  FROM d)
SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_cells,
  CASE WHEN max(n_tokens) > 0 THEN
    CAST((sum(n_tokens) * 1000) // (count(*) * max(n_tokens)) AS BIGINT)
  END AS efficiency_permille
FROM r GROUP BY 1 ORDER BY 1"""

  /** q227 twin of [[graft.text.Urls.urlPolicy]]: same regex splits,
    * same label-boundary suffix + path-prefix match, winner by
    * row_number over (specificity DESC, rule_id) ≡ the struct-max. */
  val q227_url_policy: String = """
WITH u AS (
  SELECT doc_id,
    'https://sub' || CAST(doc_id % 4 AS VARCHAR) || '.example' ||
    CAST(doc_id % 7 AS VARCHAR) || '.com/dir' ||
    CAST(doc_id % 5 AS VARCHAR) || '/pg' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
p AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1))
      AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS pth
  FROM u),
r(rule_id, action, domain_suffix, path_prefix) AS (
  VALUES (1, 'deny', 'example2.com', ''),
    (2, 'allow', 'example2.com', '/dir1'),
    (3, 'deny', 'sub1.example3.com', ''),
    (4, 'deny', '', '/dir4'),
    (5, 'allow', 'example5.com', '/dir4')),
m AS (
  SELECT p.doc_id, r.rule_id, r.action,
    length(r.domain_suffix) + length(r.path_prefix) AS spec
  FROM p JOIN r ON
    (r.domain_suffix = '' OR p.host = r.domain_suffix
      OR ends_with(p.host, '.' || r.domain_suffix))
    AND (r.path_prefix = '' OR starts_with(p.pth, r.path_prefix))),
w AS (
  SELECT doc_id, rule_id, action,
    row_number() OVER (PARTITION BY doc_id
      ORDER BY spec DESC, rule_id) AS rn
  FROM m)
SELECT p.doc_id, p.url,
  CAST(w.rule_id AS BIGINT) AS rule_id, w.action,
  CASE WHEN w.rule_id IS NULL THEN true
       ELSE w.action = 'allow' END AS kept
FROM p LEFT JOIN (SELECT * FROM w WHERE rn = 1) w ON w.doc_id = p.doc_id
ORDER BY p.doc_id"""

  /** q226 twin of [[graft.dedup.Dedup.nearDupEval]]: the q18 banded
    * candidates and a 0.5-threshold copy of the q19 exact machinery,
    * full-outer-joined on the pair key, folded to the one-row P/R
    * report with permille floor divisions. */
  val q226_neardup_eval: String = {
    val exact05 = jaccardCommonCtes + """
SELECT doc_a, doc_b FROM (
  SELECT doc_a, doc_b,
    CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) AS jaccard
  FROM common)
WHERE jaccard >= 0.5"""
    s"""
WITH est AS ($q18_minhash_neardup),
ex AS ($exact05),
j AS (
  SELECT (e.doc_a IS NOT NULL) AS in_e, (x.doc_a IS NOT NULL) AS in_x
  FROM est e FULL OUTER JOIN ex x
    ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b),
agg AS (
  SELECT CAST(count(CASE WHEN in_e THEN 1 END) AS BIGINT) AS n_est,
    CAST(count(CASE WHEN in_x THEN 1 END) AS BIGINT) AS n_exact,
    CAST(count(CASE WHEN in_e AND in_x THEN 1 END) AS BIGINT) AS tp
  FROM j)
SELECT n_est, n_exact, tp, n_est - tp AS fp, n_exact - tp AS fn,
  CASE WHEN n_est > 0 THEN (tp * 1000) // n_est END AS precision_permille,
  CASE WHEN n_exact > 0 THEN (tp * 1000) // n_exact END AS recall_permille
FROM agg"""
  }

  /** q225 twin of [[graft.dedup.Dedup.contentChunks]]: the rolling
    * hash recomputed POSITIONALLY (eight lag terms with the stated
    * 31^j coefficients — max Σ < 4e12, BIGINT-safe) instead of
    * rolled; boundaries where h % 64 = 0 at i ≥ 7, EOF end forced,
    * gaps-and-islands to (start, len), md5 over the same ASCII
    * bytes. */
  val q225_content_chunks: String = """
WITH ch AS (
  SELECT doc_id, i,
    CAST(ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT) AS b
  FROM documents, unnest(range(0, length(text))) AS t(i)),
h AS (
  SELECT doc_id, i,
    (lag(b, 7) OVER w * 27512614111 + lag(b, 6) OVER w * 887503681 +
     lag(b, 5) OVER w * 28629151 + lag(b, 4) OVER w * 923521 +
     lag(b, 3) OVER w * 29791 + lag(b, 2) OVER w * 961 +
     lag(b, 1) OVER w * 31 + b) % 1000000007 AS hh
  FROM ch
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
ends AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, CAST(i AS INTEGER) AS e FROM h
    WHERE i >= 7 AND hh % 64 = 0
    UNION ALL
    SELECT doc_id, CAST(length(text) - 1 AS INTEGER) AS e FROM documents
    WHERE length(text) > 0)),
chnk AS (
  SELECT doc_id, e,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), -1) + 1 AS s,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1
      AS INTEGER) AS chunk_idx
  FROM ends)
SELECT c.doc_id, c.chunk_idx, CAST(c.s AS INTEGER) AS start,
  CAST(c.e - c.s + 1 AS INTEGER) AS len,
  md5(substr(d.text, CAST(c.s + 1 AS INTEGER),
    CAST(c.e - c.s + 1 AS INTEGER))) AS chunk_md5
FROM chnk c JOIN documents d USING (doc_id)
ORDER BY doc_id, chunk_idx"""

  /** q224 twin of [[graft.analytics.Profiling.weightedMedian]]: the
    * identical crossing-row windows; DuckDB window sums are HUGEINT,
    * cast back at the edge. */
  val q224_weighted_median: String = """
WITH d AS (
  SELECT o_orderpriority AS pri,
    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
    o_orderkey % 7 + 1 AS w
  FROM orders),
c AS (
  SELECT pri, v, w,
    sum(w) OVER (PARTITION BY pri ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(w) OVER (PARTITION BY pri) AS tw,
    count(*) OVER (PARTITION BY pri) AS n
  FROM d)
SELECT pri, v AS w_median, CAST(tw AS BIGINT) AS total_weight,
  CAST(n AS BIGINT) AS n_rows
FROM c
WHERE cw >= (tw + 1) // 2 AND cw - w < (tw + 1) // 2
ORDER BY pri"""

  /** q223 twin of [[graft.store.ZoneMap.prunedScan]]: the plain
    * filtered aggregate over the ORIGINAL table — file pruning is
    * physical only, so the contract is the unpruned result (the q49
    * discipline). */
  val q223_zone_map_scan: String = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 5000
GROUP BY 1 ORDER BY 1"""

  /** q222 twin of [[graft.quality.Validators.kAnonymize]]: the four
    * ladder levels as CTEs, the minimal-satisfying-level CASE, and
    * the chosen level's classes filtered from the union. */
  val q222_k_anonymize: String = """
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
    CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS bal_c
  FROM customer),
l0 AS (SELECT nk AS nation_g, bal_c // 10000 AS bal_g,
  CAST(count(*) AS BIGINT) AS group_size FROM c GROUP BY 1, 2),
l1 AS (SELECT nk AS nation_g, bal_c // 200000 AS bal_g,
  CAST(count(*) AS BIGINT) AS group_size FROM c GROUP BY 1, 2),
l2 AS (SELECT nk // 5 AS nation_g, bal_c // 500000 AS bal_g,
  CAST(count(*) AS BIGINT) AS group_size FROM c GROUP BY 1, 2),
l3 AS (SELECT CAST(0 AS BIGINT) AS nation_g, CAST(0 AS BIGINT) AS bal_g,
  CAST(count(*) AS BIGINT) AS group_size FROM c),
ch AS (SELECT CASE
  WHEN (SELECT min(group_size) FROM l0) >= 10 THEN 0
  WHEN (SELECT min(group_size) FROM l1) >= 10 THEN 1
  WHEN (SELECT min(group_size) FROM l2) >= 10 THEN 2
  ELSE 3 END AS lvl),
alll AS (
  SELECT 0 AS lv, * FROM l0 UNION ALL SELECT 1, * FROM l1
  UNION ALL SELECT 2, * FROM l2 UNION ALL SELECT 3, * FROM l3)
SELECT nation_g, bal_g, group_size,
  CAST(lv AS INTEGER) AS level, group_size >= 10 AS meets_k
FROM alll, ch WHERE alll.lv = ch.lvl
ORDER BY nation_g, bal_g"""

  /** q221 twin of [[graft.analytics.Profiling.fdDiscovery]]: the six
    * ordered pairs as UNION ALL rows over shared distinct counts
    * (unordered pair counts reused — distinct(a,b) = distinct(b,a)). */
  val q221_fd_discovery: String = """
WITH d AS (
  SELECT month(o_orderdate) AS m, quarter(o_orderdate) AS q,
    o_orderstatus AS st
  FROM orders),
s AS (
  SELECT
    (SELECT count(DISTINCT m) FROM d) AS dm,
    (SELECT count(DISTINCT q) FROM d) AS dq,
    (SELECT count(DISTINCT st) FROM d) AS dst,
    (SELECT count(*) FROM (SELECT DISTINCT m, q FROM d
       WHERE m IS NOT NULL AND q IS NOT NULL)) AS pmq,
    (SELECT count(*) FROM (SELECT DISTINCT m, st FROM d
       WHERE m IS NOT NULL AND st IS NOT NULL)) AS pms,
    (SELECT count(*) FROM (SELECT DISTINCT q, st FROM d
       WHERE q IS NOT NULL AND st IS NOT NULL)) AS pqs)
SELECT determinant, dependent, n_det, n_pairs, n_pairs = n_det AS holds
FROM (
  SELECT 'order_month' AS determinant, 'order_quarter' AS dependent,
    dm AS n_det, pmq AS n_pairs FROM s
  UNION ALL SELECT 'order_month', 'status', dm, pms FROM s
  UNION ALL SELECT 'order_quarter', 'order_month', dq, pmq FROM s
  UNION ALL SELECT 'order_quarter', 'status', dq, pqs FROM s
  UNION ALL SELECT 'status', 'order_month', dst, pms FROM s
  UNION ALL SELECT 'status', 'order_quarter', dst, pqs FROM s)
ORDER BY determinant, dependent"""

  /** q220 twin of [[graft.etl.Impute.imputeMedian]]: same lower-median
    * selection (row_number at (n+1)//2 over the non-null subset —
    * tie order among equal values can't change the VALUE picked),
    * same left-join fill + flag. */
  val q220_impute_median: String = """
WITH d AS (
  SELECT doc_id, lang,
    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS n_chars
  FROM documents),
nn AS (
  SELECT lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
    count(*) OVER (PARTITION BY lang) AS cnt
  FROM d WHERE n_chars IS NOT NULL),
med AS (SELECT lang, n_chars AS m FROM nn WHERE rn = (cnt + 1) // 2)
SELECT d.doc_id, d.lang, d.n_chars,
  coalesce(d.n_chars, med.m) AS n_chars_filled,
  (d.n_chars IS NULL AND med.m IS NOT NULL) AS was_imputed
FROM d LEFT JOIN med USING (lang)
ORDER BY d.doc_id"""

  /** q219 twin of [[graft.graph.LinkGraph.propagateFeatures]]: two
    * unrolled hop CTEs, each an edge⋈previous join + floor-mean per
    * dst; hop 2 averages only in-neighbors that HAVE an h1 (the
    * non-null count semantics). */
  val q219_feature_propagation: String = """
WITH e0 AS (
  SELECT DISTINCT 'n' || CAST(doc_id % 211 AS VARCHAR) AS src,
         'n' || CAST((doc_id * 3 + 1) % 211 AS VARCHAR) AS dst
  FROM documents),
e AS (SELECT src, dst FROM e0 WHERE src <> dst),
f AS (
  SELECT 'n' || CAST(doc_id % 211 AS VARCHAR) AS node,
    CAST(sum(n_chars) AS BIGINT) AS f0
  FROM documents GROUP BY 1),
h1 AS (
  SELECT e.dst AS node,
    CAST(sum(f.f0) // count(*) AS BIGINT) AS h1
  FROM e JOIN f ON e.src = f.node GROUP BY 1),
h2 AS (
  SELECT e.dst AS node,
    CAST(sum(h.h1) // count(*) AS BIGINT) AS h2
  FROM e JOIN h1 h ON e.src = h.node GROUP BY 1)
SELECT f.node, f.f0, h1.h1, h2.h2
FROM f LEFT JOIN h1 USING (node) LEFT JOIN h2 USING (node)
ORDER BY f.node"""

  /** q218 twin of [[graft.graph.LinkGraph.linkPrediction]]: same
    * symmetrize→degree→cap→wedge-join→anti-join pipeline; NOT EXISTS
    * instead of left_anti, `//` ≡ `div` on nonnegatives. */
  val q218_link_prediction: String = """
WITH e0 AS (
  SELECT 'n' || CAST(doc_id % 211 AS VARCHAR) AS u,
         'n' || CAST((doc_id * 3 + 1) % 211 AS VARCHAR) AS v
  FROM documents
  UNION ALL
  SELECT 'n' || CAST((doc_id * 5 + 2) % 211 AS VARCHAR),
         'n' || CAST((doc_id * 7 + 3) % 211 AS VARCHAR)
  FROM documents),
d0 AS (SELECT u, v FROM e0 WHERE u <> v),
und AS (
  SELECT DISTINCT u, v FROM
    (SELECT u, v FROM d0 UNION ALL SELECT v AS u, u AS v FROM d0)),
deg AS (SELECT u, count(*) AS deg FROM und GROUP BY 1),
mid AS (
  SELECT und.u AS z, und.v, deg.deg
  FROM und JOIN deg USING (u) WHERE deg.deg <= 100),
pairs AS (
  SELECT a.v AS node_a, b.v AS node_b,
    CAST(count(*) AS BIGINT) AS common,
    CAST(sum(1000000 // a.deg) AS BIGINT) AS ra_e6
  FROM mid a JOIN mid b ON a.z = b.z AND a.v < b.v
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT node_a, node_b, common, ra_e6
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM und WHERE und.u = p.node_a AND und.v = p.node_b)
ORDER BY node_a, node_b"""

  /** q217 twin of [[graft.events.EventAnalytics.mergeIntervals]]:
    * identical gaps-and-islands windows (running max-end over strictly
    * preceding ROWS, flag, running sum) on the same micros axis;
    * island ordinal cast back from DuckDB's HUGEINT sum. */
  val q217_merge_intervals: String = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
    epoch_us(ts) + (60 + event_id % 240) * 1000000 AS e
  FROM events),
m AS (
  SELECT user_id, s, e,
    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv),
fl AS (
  SELECT user_id, s, e,
    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
  FROM m),
isl AS (
  SELECT user_id, s, e,
    sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl)
SELECT user_id, CAST(island AS BIGINT) AS island,
  min(s) AS island_start, max(e) AS island_end,
  CAST(count(*) AS BIGINT) AS n_intervals,
  max(e) - min(s) AS covered
FROM isl GROUP BY 1, 2 ORDER BY user_id, island"""

  /** q216 twin of [[graft.functions.WavPcmUtil.frameFeatures]]: the
    * q115 sample formula over channel-0 indices (i ≡ 0 mod ch),
    * windowed into 16-sample frames — energy Σv², strict sign flips
    * WITHIN a frame (lag partitioned by frame), peak |v|. Never
    * touches a RIFF byte; Spark must decode real bytes to match. */
  val q216_wav_frame_features: String = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 37 AS nf
  FROM documents),
s AS (
  SELECT doc_id, CAST((i // ch) // 16 AS INTEGER) AS frame_idx,
    i // ch AS p,
    ((7919 * doc_id + 104729 * i + 1299721 * i * i) % 65536) - 32768 AS v
  FROM d, unnest(range(0, ch * nf)) AS t(i)
  WHERE i % ch = 0),
w AS (
  SELECT doc_id, frame_idx, v,
    lag(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY p) AS pv
  FROM s)
SELECT doc_id, frame_idx,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(v * v) AS BIGINT) AS energy,
  CAST(count(*) FILTER (WHERE pv IS NOT NULL AND (v < 0) != (pv < 0))
    AS BIGINT) AS zero_crossings,
  CAST(max(abs(v)) AS BIGINT) AS peak
FROM w GROUP BY 1, 2 ORDER BY doc_id, frame_idx"""

  /** q215 twin of [[graft.text.TextAnalysis.featureHash]]: the shared
    * md5 token hash, index = h mod 64, sign from bit (h div 64) mod 2,
    * signed counts per cell, implicit and cancelled zeros dropped. */
  val q215_feature_hash: String = """
WITH tok AS (
  SELECT doc_id,
    unnest(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS term
  FROM documents),
h AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(term), 1, 14)) AS BIGINT) % 1000000007 AS h
  FROM tok),
s AS (
  SELECT doc_id, CAST(h % 64 AS INTEGER) AS feature_idx,
    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM h)
SELECT doc_id, feature_idx, CAST(sum(sgn) AS BIGINT) AS value
FROM s GROUP BY 1, 2 HAVING sum(sgn) <> 0
ORDER BY doc_id, feature_idx"""

  /** q214 twin of [[graft.dedup.Dedup.tfidfCosinePairs]]: identical
    * integer pipeline — e2 floor idf, BIGINT weights, HUGEINT squared
    * products (DuckDB BIGINT·BIGINT errors on overflow, so the casts
    * are load-bearing), `//` ≡ Spark's `div` on nonnegatives. Norms
    * over ALL terms, pair join only over df ≤ 100 terms. */
  val q214_tfidf_cosine: String = """
WITH tok AS (
  SELECT doc_id,
    unnest(list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      t -> t <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
wtd AS (
  SELECT tf.doc_id, tf.term,
    tf.tf * ((100 * nd.n_docs) // dfreq.df) AS w, dfreq.df
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
norms AS (
  SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS norm2
  FROM wtd GROUP BY 1),
rare AS (SELECT * FROM wtd WHERE df <= 100),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(count(*) AS BIGINT) AS n_common,
    sum(CAST(a.w AS HUGEINT) * b.w) AS dot
  FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
  CAST((d.dot * d.dot * 1000000) // (na.norm2 * nb.norm2) AS BIGINT)
    AS cos2_ppm
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
WHERE (d.dot * d.dot * 1000000) // (na.norm2 * nb.norm2) >= 40000
ORDER BY doc_a, doc_b"""

  /** q213 twin of [[graft.events.AsofJoin]]'s three directions:
    * DuckDB's native ASOF LEFT JOIN run backward (c.tsu >= b.tsu) and
    * forward (c.tsu <= b.tsu), then nearest as a CASE on exact integer
    * micro distances with ties to the backward row — the same tie rule
    * the Spark side states. Right side deduped to min event_id per
    * (user, time) in both engines so "the" match is well defined. */
  val q213_asof_directions: String = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events),
clicks AS (
  SELECT user_id, tsu, event_id FROM ev WHERE event_type = 'click'),
buys AS (
  SELECT user_id, tsu, min(event_id) AS buy_id FROM ev
  WHERE event_type = 'purchase' GROUP BY 1, 2),
back AS (
  SELECT c.user_id, c.tsu, c.event_id, b.buy_id AS back_id,
    b.tsu AS back_ts
  FROM clicks c ASOF LEFT JOIN buys b
    ON c.user_id = b.user_id AND c.tsu >= b.tsu),
fwd AS (
  SELECT c.event_id, b.buy_id AS fwd_id, b.tsu AS fwd_ts
  FROM clicks c ASOF LEFT JOIN buys b
    ON c.user_id = b.user_id AND c.tsu <= b.tsu)
SELECT k.user_id, k.event_id, k.back_id, f.fwd_id,
  CASE WHEN f.fwd_id IS NULL THEN k.back_id
       WHEN k.back_id IS NULL THEN f.fwd_id
       WHEN k.tsu - k.back_ts <= f.fwd_ts - k.tsu THEN k.back_id
       ELSE f.fwd_id END AS near_id
FROM back k JOIN fwd f USING (event_id)
ORDER BY event_id"""

  /** q212 twin of [[graft.dedup.Dedup.noveltyScores]]: the shared
    * shingle CTEs, one min-per-shingle, one grouped compare. */
  val q212_novelty: String = shinglesCte + """
, ds AS (SELECT doc_id, list_distinct(hs) AS ss FROM xs),
posting AS (SELECT doc_id, unnest(ss) AS shingle FROM ds),
f AS (SELECT shingle, min(doc_id) AS first_doc FROM posting GROUP BY 1)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(count(CASE WHEN p.doc_id = f.first_doc THEN 1 END) AS BIGINT)
    AS n_novel,
  CAST((count(CASE WHEN p.doc_id = f.first_doc THEN 1 END) * 1000)
    // count(*) AS BIGINT) AS novelty_permille
FROM posting p JOIN f USING (shingle)
GROUP BY p.doc_id ORDER BY p.doc_id"""

  /** q211 twin of [[graft.graph.LinkGraph.stationary]] over the q143
    * transition matrix: the same three power-iteration steps unrolled
    * (the q124 discipline) — floor at the proportional split,
    * dangling mass retained, self-loops kept. */
  val q211_stationary: String = {
    val steps = (1 to 3).map { k =>
      val prev = s"pi${k - 1}"
      s"""i$k AS (
  SELECT p.dst AS node, sum(($prev.m * p.w) // ow.out_w) AS im
  FROM p JOIN $prev ON p.src = $prev.node JOIN ow ON p.src = ow.node
  GROUP BY 1),
pi$k AS (
  SELECT n.node,
    COALESCE(i$k.im, 0)
      + CASE WHEN ow.node IS NULL THEN $prev.m ELSE 0 END AS m
  FROM nodes n JOIN $prev ON n.node = $prev.node
  LEFT JOIN ow ON n.node = ow.node
  LEFT JOIN i$k ON n.node = i$k.node)"""
    }.mkString(",\n")
    s"""
WITH s AS (
  SELECT event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
p AS (
  SELECT event_type AS src, nxt AS dst, count(*) AS w
  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM p UNION ALL SELECT dst FROM p)),
ow AS (SELECT src AS node, sum(w) AS out_w FROM p GROUP BY 1),
pi0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS m FROM nodes),
$steps
SELECT n.node, CAST(COALESCE(ow.out_w, 0) AS BIGINT) AS out_weight,
  CAST(pi3.m AS BIGINT) AS mass_units
FROM nodes n LEFT JOIN ow ON n.node = ow.node JOIN pi3 ON n.node = pi3.node
ORDER BY n.node"""
  }

  /** q210 twin of [[graft.etl.GoldenRecord.goldenRecords]]: per field
    * a row_number over (version DESC, value DESC) on the non-null
    * rows — the ordering Spark's max(struct(version, value))
    * encodes — left-joined so an all-null field stays NULL. */
  val q210_golden_record: String = """
WITH r AS (
  SELECT o_custkey AS e, o_orderkey AS v,
    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus END AS status,
    o_orderpriority AS prio
  FROM orders),
s AS (
  SELECT e, status FROM (
    SELECT e, status,
      row_number() OVER (PARTITION BY e ORDER BY v DESC, status DESC) AS rn
    FROM r WHERE status IS NOT NULL) WHERE rn = 1),
p AS (
  SELECT e, prio FROM (
    SELECT e, prio,
      row_number() OVER (PARTITION BY e ORDER BY v DESC, prio DESC) AS rn
    FROM r WHERE prio IS NOT NULL) WHERE rn = 1),
n AS (SELECT e, count(*) AS n_rows FROM r GROUP BY e)
SELECT n.e AS o_custkey, s.status AS o_orderstatus,
  p.prio AS o_orderpriority, CAST(n.n_rows AS BIGINT) AS n_rows
FROM n LEFT JOIN s ON n.e = s.e LEFT JOIN p ON n.e = p.e
ORDER BY o_custkey"""

  /** q209 twin of [[graft.etl.Sampling.bootstrapStats]]: the same
    * md5 row-replicate hash (the established keyHash twin), the same
    * STATED Poisson(1) cumulative constants, the same exact decimal
    * sums — DuckDB replays the identical resamples. */
  val q209_bootstrap: String = {
    val cum = graft.etl.Sampling.PoissonCum
    val weightCase = cum.zipWithIndex
      .map { case (t, w) => s"WHEN u < $t THEN $w" }
      .mkString("CASE ", " ", " ELSE 9 END")
    s"""
WITH t AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS rk, o_totalprice FROM orders),
r AS (SELECT rk, o_totalprice, unnest(range(0, 20)) AS replicate FROM t),
u AS (
  SELECT replicate, o_totalprice,
    CAST(('0x' || substr(md5(rk || '|' || CAST(replicate AS VARCHAR)), 1, 14))
      AS BIGINT) % 1000000000 AS u
  FROM r),
w AS (SELECT replicate, o_totalprice, $weightCase AS w FROM u)
SELECT CAST(replicate AS INTEGER) AS replicate,
  CAST(sum(w) AS BIGINT) AS n_resampled,
  CAST(sum(CAST(o_totalprice * w AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM w GROUP BY replicate ORDER BY replicate"""
  }

  /** q208 twin of [[graft.analytics.Profiling.qqTable]]: the same
    * decile probe literals into quantile_cont's list form (the q38
    * interpolation parity), differences in identical double trees. */
  val q208_qq_table: String = """
WITH b AS (
  SELECT quantile_cont(l_extendedprice,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS a
  FROM lineitem WHERE l_partkey % 2 = 0),
c AS (
  SELECT quantile_cont(l_extendedprice,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS a
  FROM lineitem WHERE l_partkey % 2 = 1),
i AS (SELECT unnest(range(1, 10)) AS i)
SELECT CAST((i * 1000) // 10 AS BIGINT) AS p_permille,
  b.a[i] AS q_base, c.a[i] AS q_in, c.a[i] - b.a[i] AS qq_diff
FROM i, b, c ORDER BY p_permille"""

  /** q207: composed IVF+PQ twin — q111's fixed-centroid coarse
    * assignment and 3-cell probe CTEs (full-precision cosine, the
    * FAISS coarse quantizer) feeding q206's static-codebook PQ
    * encode/LUT scoring, restricted to candidates sharing a probed
    * cell. Every number BIGINT; rank ascends (distance). */
  val q207_ivf_pq_search: String = s"""
WITH $ivfCellCtes,
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM a)
  WHERE rn = 1),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM a WHERE vec_id < 10)
  WHERE rn <= 3),
$pqCtes,
cand AS (
  SELECT p.query_id, g.vec_id FROM probe p JOIN asg g ON p.cell = g.cell
  WHERE g.vec_id <> p.query_id),
scored AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(q.d) AS BIGINT) AS score
  FROM cand cd JOIN codes x ON x.vec_id = cd.vec_id
    JOIN qlut q ON q.query_id = cd.query_id AND q.j = x.j AND q.c = x.c
  GROUP BY 1, 2),
$top10ByDistance"""

  /** q205 twin of [[graft.etl.Cdc.applyCdc]]: the same synthesized
    * log; winners via row_number over (version, op, payload) DESC —
    * the ordering Spark's struct max encodes — then anti-join +
    * union, tombstones excluded. */
  val q205_cdc_apply: String = """
WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
lg AS (
  SELECT o_orderkey, CAST(2 AS BIGINT) AS version, 'U' AS op, o_custkey,
    o_totalprice + 100.0 AS o_totalprice
  FROM t WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_custkey, o_totalprice
  FROM t WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 1, 'I', o_custkey, 1.0
  FROM t WHERE o_orderkey % 13 = 0),
w AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
    ORDER BY version DESC, op DESC, o_custkey DESC, o_totalprice DESC) AS rn
  FROM lg),
win AS (SELECT * FROM w WHERE rn = 1)
SELECT t.o_orderkey, t.o_custkey, t.o_totalprice
FROM t LEFT JOIN win ON t.o_orderkey = win.o_orderkey
WHERE win.o_orderkey IS NULL
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice FROM win WHERE op <> 'D'
ORDER BY o_orderkey"""

  /** q204 twin of [[graft.text.Scripts.spoofScan]]: identical
    * fixture salting, the same three script classes per token
    * (Java regex and RE2 share the `[\x{...}-\x{...}]` syntax), the
    * same stated confusable class and translate table. Scala `\`u
    * escapes in this source compile to real UTF-8 chars in the SQL
    * literal, which DuckDB reads natively. */
  val q204_spoof_scan: String = """
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0 THEN ' pаypal' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' micrοsoft' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' СТОП' ELSE '' END
    AS text
  FROM documents),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]+')) AS tok FROM aug),
m AS (
  SELECT doc_id, tok,
    (CASE WHEN regexp_matches(tok, '[A-Za-z]') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(tok, '[\x{0400}-\x{04FF}]') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(tok, '[\x{0370}-\x{03FF}]') THEN 1 ELSE 0 END)
      >= 2 AS mixed
  FROM toks),
agg AS (
  SELECT doc_id, count(tok) AS n_tokens,
    count(CASE WHEN mixed THEN 1 END) AS n_mixed_tokens,
    min(CASE WHEN mixed THEN tok END) AS first_mixed_token
  FROM m GROUP BY doc_id)
SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
  CAST(a.n_mixed_tokens AS BIGINT) AS n_mixed_tokens,
  a.first_mixed_token,
  CAST(len(regexp_extract_all(g.text,
    '[аеорсухіѕјονАВЕКМНОРСТХ]'))
    AS BIGINT) AS n_confusable_chars,
  translate(g.text,
    'аеорсухіѕјονАВЕКМНОРСТХ',
    'aeopcyxisjovABEKMHOPCTX') <> g.text AS skeleton_changed,
  a.n_mixed_tokens > 0 AS spoof
FROM agg a JOIN aug g ON a.doc_id = g.doc_id
ORDER BY a.doc_id"""

  /** q203 twin of [[graft.analytics.Profiling.robustScale]]:
    * quantile_cont ≡ Spark's percentile (the q38-proven
    * interpolation parity); the subtraction/division evaluate in
    * identical double trees (the q94/q96 determinism precedent). */
  val q203_robust_scale: String = """
WITH f AS (SELECT l_returnflag AS g, l_quantity AS v FROM lineitem),
b AS (
  SELECT g, quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS med,
    quantile_cont(v, 0.75) AS q3
  FROM f GROUP BY g)
SELECT f.g AS l_returnflag, f.v AS l_quantity, b.med AS med,
  b.q3 - b.q1 AS iqr,
  CASE WHEN b.q3 - b.q1 > 0 THEN (f.v - b.med) / (b.q3 - b.q1) END AS scaled
FROM f JOIN b USING (g) ORDER BY 1, 2"""

  /** q202 twin of [[graft.text.TextAnalysis.cardScan]]: identical
    * fixture construction formulas, then an INDEPENDENT Luhn
    * implementation — list_transform/list_sum over the reversed digit
    * positions vs Spark's HOF aggregate — exact integers on both
    * sides, so hash equality gates the checksum itself. */
  val q202_card_scan: String = """
WITH aug AS (
  SELECT doc_id,
    text || ' pay ' || c1 || ' ref 12345 card '
      || substr(d16, 1, 4) || '-' || substr(d16, 5, 4) || '-'
      || substr(d16, 9, 4) || '-' || substr(d16, 13, 4) AS text
  FROM (
    SELECT doc_id, text,
      '4' || lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR), 14, '0')
          || CAST(doc_id % 10 AS VARCHAR) AS c1,
      '5' || lpad(CAST((doc_id * 48271) % 1000000000000000 AS VARCHAR),
                  15, '0') AS d16
    FROM documents)),
cand AS (
  SELECT doc_id,
    regexp_replace(unnest(regexp_extract_all(text,
      '[0-9][0-9 -]{11,20}[0-9]')), '[^0-9]', '', 'g') AS dgt
  FROM aug),
chk AS (
  SELECT doc_id, dgt, len(dgt) BETWEEN 13 AND 16 AS ok,
    CASE WHEN len(dgt) BETWEEN 13 AND 16 THEN
      list_sum(list_transform(range(1, len(dgt) + 1), i ->
        CASE WHEN i % 2 = 1 THEN CAST(substr(reverse(dgt), i, 1) AS INTEGER)
             WHEN 2 * CAST(substr(reverse(dgt), i, 1) AS INTEGER) > 9
             THEN 2 * CAST(substr(reverse(dgt), i, 1) AS INTEGER) - 9
             ELSE 2 * CAST(substr(reverse(dgt), i, 1) AS INTEGER) END)) % 10 = 0
    ELSE false END AS valid
  FROM cand)
SELECT doc_id,
  CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT) AS n_candidates,
  CAST(count(CASE WHEN valid THEN 1 END) AS BIGINT) AS n_luhn_valid,
  right(min(CASE WHEN valid THEN dgt END), 4) AS valid_last4
FROM chk GROUP BY doc_id ORDER BY doc_id"""

  /** q201 twin of [[graft.graph.LinkGraph.condensation]]: the
    * recursive-closure SCC labels joined onto both edge endpoints,
    * crossing edges grouped per ordered label pair. */
  val q201_condensation: String = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % 12 AS VARCHAR) AS src,
           'd' || CAST((doc_id % 12 + 1) % 12 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 8 + 12 AS VARCHAR),
           'd' || CAST((doc_id + 1) % 8 + 12 AS VARCHAR) FROM documents
    UNION ALL
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'd0' ELSE 'd3' END,
           CASE WHEN doc_id % 2 = 0 THEN 'd12' ELSE 'd15' END
    FROM documents)
  WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
reach(s, d) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
mutual AS (
  SELECT a.s AS node, a.d AS other
  FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s),
lab AS (
  SELECT n.node, least(n.node, coalesce(min(m.other), n.node)) AS scc
  FROM nodes n LEFT JOIN mutual m ON n.node = m.node
  GROUP BY n.node)
SELECT ls.scc AS scc_src, ld.scc AS scc_dst,
  CAST(count(*) AS BIGINT) AS n_edges
FROM e JOIN lab ls ON e.src = ls.node JOIN lab ld ON e.dst = ld.node
WHERE ls.scc <> ld.scc
GROUP BY 1, 2 ORDER BY scc_src, scc_dst"""

  /** q200 twin of [[graft.functions.JpegHeaderUtil.meta]] over the
    * [[graft.multimodal.Jpeg.encodeHeader]] fixtures: every field
    * derived from the fixture's PARAMETER FORMULAS alone — no JPEG
    * bytes anywhere in the oracle — so hash equality proves Spark's
    * marker-segment walk end to end (the q114/q115 discipline).
    * n_segments = JFIF APP0 (when doc_id % 4 <> 0) + COM (when
    * doc_id % 11 <> 0) + (1 + doc_id % 2) DQTs + SOF + DHT + SOS. */
  val q200_jpeg_meta: String = """
SELECT doc_id, true AS decoded, doc_id % 3 = 0 AS progressive,
  CAST(8 AS BIGINT) AS precision_bits,
  CAST(16 + doc_id % 9 AS BIGINT) AS width,
  CAST(8 + doc_id % 7 AS BIGINT) AS height,
  CAST((16 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS BIGINT) AS n_components,
  CAST((CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END)
     + (CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END)
     + 1 + doc_id % 2 + 3 AS BIGINT) AS n_segments,
  doc_id % 4 <> 0 AS has_jfif
FROM documents ORDER BY doc_id"""

  /** q198 twin of [[graft.events.EventAnalytics.entryExit]]: the q24
    * session CTEs + arg-min/max by (us, event_id). */
  val q198_entry_exit: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
  FROM m),
rw AS (
  SELECT user_id, seq, event_type,
    row_number() OVER (PARTITION BY user_id, seq
                       ORDER BY us, event_id) AS a,
    row_number() OVER (PARTITION BY user_id, seq
                       ORDER BY us DESC, event_id DESC) AS z,
    count(*) OVER (PARTITION BY user_id, seq) AS n
  FROM s),
sess AS (
  SELECT user_id, seq,
    max(CASE WHEN a = 1 THEN event_type END) AS entry_type,
    max(CASE WHEN z = 1 THEN event_type END) AS exit_type,
    max(n) AS n
  FROM rw GROUP BY 1, 2)
SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
FROM sess GROUP BY 1, 2 ORDER BY entry_type, exit_type"""

  /** q195 twin of [[graft.events.EventAnalytics.longestStreaks]]:
    * the same rn-difference islands and min-struct tie pick. */
  val q195_streaks: String = """
WITH r AS (
  SELECT user_id, event_type, event_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      - row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS i
  FROM events),
isl AS (
  SELECT user_id, event_type, i, count(*) AS len,
    min(event_id) AS start_id
  FROM r GROUP BY 1, 2, 3),
mx AS (SELECT user_id, max(len) AS mx FROM isl GROUP BY 1),
pick AS (
  SELECT isl.user_id, isl.event_type, isl.len, isl.start_id
  FROM isl JOIN mx ON isl.user_id = mx.user_id AND isl.len = mx.mx)
SELECT i.user_id, CAST(count(*) AS BIGINT) AS n_runs,
  CAST(max(i.len) AS BIGINT) AS longest_streak,
  (SELECT p.event_type FROM pick p WHERE p.user_id = i.user_id
   ORDER BY p.start_id LIMIT 1) AS streak_type
FROM isl i GROUP BY i.user_id ORDER BY i.user_id"""

  /** q196 twin of [[graft.text.TextAnalysis.prefixDuplication]]. */
  val q196_prefix_dups: String = toksCte + """
, p AS (
  SELECT doc_id,
    array_to_string(list_slice(tokens, 1, 5), ' ') AS prefix
  FROM toks)
SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS first_doc
FROM p WHERE prefix <> ''
GROUP BY 1 HAVING count(*) >= 2 ORDER BY prefix"""

  /** q193 twin of [[graft.events.EventAnalytics.burstAudit]]: the
    * same exact-micros RANGE frame and earliest-peak pick. */
  val q193_burst_audit: String = """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS us,
    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS burst
  FROM events),
m AS (SELECT user_id, max(burst) AS mx FROM c GROUP BY 1)
SELECT c.user_id, CAST(m.mx AS BIGINT) AS max_burst,
  CAST(min(CASE WHEN c.burst = m.mx THEN c.us END) AS BIGINT) AS peak_at_us,
  (m.mx > 4) AS over_limit
FROM c JOIN m USING (user_id)
GROUP BY c.user_id, m.mx ORDER BY c.user_id"""

  /** q194 twin of [[graft.analytics.Profiling.fdViolations]]. */
  val q194_fd_violations: String = """
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_dependents
FROM documents GROUP BY 1 HAVING count(DISTINCT lang) > 1
ORDER BY source"""

  /** q191 twin of [[graft.analytics.Profiling.benfordAudit]]: the
    * same decimal-string leading digit and the same precomputed
    * permille table. */
  val q191_benford: String = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(abs(o_totalprice) AS DECIMAL(28,6))
      AS VARCHAR), 1, 1) AS INTEGER) AS digit, count(*) AS n
  FROM orders
  WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1
  GROUP BY 1),
t AS (SELECT sum(n) AS t FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
  CAST((n * 1000) // (SELECT t FROM t) AS BIGINT) AS observed_permille,
  CAST(([301, 176, 125, 97, 79, 67, 58, 51, 46])[digit] AS BIGINT)
    AS benford_permille
FROM c ORDER BY digit"""

  /** q192 twin of [[graft.events.EventAnalytics.peakConcurrency]]:
    * the q24 session CTEs, the same midnight split / clamp / ±1
    * sweep with the starts-first tie order. */
  val q192_peak_concurrency: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
  FROM m),
sess AS (
  SELECT CAST(user_id AS VARCHAR) || '#' || CAST(seq AS VARCHAR) AS sid,
    min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY 1),
perday AS (
  SELECT sid, CAST(d.day AS DATE) AS day,
    greatest(epoch_us(session_start),
      epoch_us(CAST(CAST(d.day AS DATE) AS TIMESTAMP))) AS ps,
    least(epoch_us(session_end),
      epoch_us(CAST(CAST(d.day AS DATE) + 1 AS TIMESTAMP)) - 1) AS pe
  FROM sess, LATERAL unnest(generate_series(
    CAST(session_start AS DATE), CAST(session_end AS DATE),
    INTERVAL 1 DAY)) AS d(day)),
pts AS (
  SELECT day, ps AS pts, 1 AS delta, sid FROM perday
  UNION ALL
  SELECT day, pe, -1, sid FROM perday),
run AS (
  SELECT day, sum(delta) OVER (PARTITION BY day
    ORDER BY pts, delta DESC, sid
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
  FROM pts)
SELECT r.day, CAST(max(r.open) AS BIGINT) AS peak_concurrency,
  (SELECT CAST(count(DISTINCT sid) AS BIGINT) FROM perday p
   WHERE p.day = r.day) AS n_sessions
FROM run r GROUP BY r.day ORDER BY r.day"""

  /** q189 twin of [[graft.analytics.StockAnalytics.tradingGaps]]:
    * same lag-diff gap runs, zero-gap symbols via conditional
    * aggregates. */
  val q189_trading_gaps: String = barsCte + """
, d AS (SELECT DISTINCT symbol, date FROM merged),
g AS (
  SELECT symbol, date,
    date - lag(date) OVER (PARTITION BY symbol ORDER BY date) - 1 AS gap
  FROM d)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_days,
  CAST(max(date) - min(date) + 1 AS BIGINT) AS span_days,
  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
  CAST(COALESCE(sum(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
    AS missing_days,
  CAST(COALESCE(max(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
    AS longest_gap_days
FROM g GROUP BY 1 ORDER BY symbol"""

  /** q190 twin of [[graft.analytics.StockAnalytics.ltvCurve]]: the
    * q159 cents chain, integer month indices, per-cohort cumulative
    * window over offsets. */
  val q190_ltv_curve: String = """
WITH o AS (
  SELECT o_custkey AS customer, CAST(o_orderdate AS DATE) AS d,
    CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,10)), 2)
      AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
f AS (SELECT customer, min(d) AS fd FROM o GROUP BY 1),
j AS (
  SELECT o.customer, strftime(f.fd, '%Y-%m') AS cohort_month,
    (year(o.d) * 12 + month(o.d)) - (year(f.fd) * 12 + month(f.fd))
      AS month_offset,
    o.cents
  FROM o JOIN f USING (customer)),
a AS (
  SELECT cohort_month, CAST(month_offset AS INTEGER) AS month_offset,
    count(DISTINCT customer) AS n_active, sum(cents) AS revenue_cents
  FROM j GROUP BY 1, 2)
SELECT cohort_month, month_offset,
  CAST(n_active AS BIGINT) AS n_active,
  CAST(revenue_cents AS BIGINT) AS revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month
    ORDER BY month_offset
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_revenue_cents
FROM a ORDER BY cohort_month, month_offset"""

  /** q188 twin: the q123 family counts + fixed-order dominance over
    * the RAW text, rolled up per declared lang against the expected
    * script. */
  val q188_lang_script: String = s"""
WITH counted AS (
  SELECT doc_id, lang,
${scriptCounts("text")}
  FROM documents),
dom AS (
  SELECT doc_id, lang,
$dominantScript
  FROM counted)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN dominant <>
    (CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END)
    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
  CAST((sum(CASE WHEN dominant <>
    (CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END)
    THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS mismatch_permille
FROM dom GROUP BY 1 ORDER BY lang"""

  /** q187 twin of [[graft.similarity.Similarity.embeddingHygiene]]:
    * the shared left-to-right float dot (sqlDot) and the same
    * micro-unit flag arithmetic. */
  val q187_embedding_hygiene: String = s"""
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
  CAST(len(list_filter(embedding, x -> x = 0)) AS BIGINT) AS n_zero,
  sqrt(${sqlDot("embedding", "embedding")}) AS norm,
  (abs(sqrt(${sqlDot("embedding", "embedding")}) - 1.0) * 1e6 <= 1000.0)
    AS is_unit
FROM embeddings ORDER BY vec_id"""

  /** q185 twin of [[graft.events.EventAnalytics.conversionLatency]]:
    * same conditional firsts, ceil-rank picks per cohort. */
  val q185_conversion_latency: String = """
WITH per AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
  FROM events GROUP BY 1),
conv AS (
  SELECT user_id, CAST(make_timestamp(fv) AS DATE) AS cohort_day,
    fp - fv AS lat
  FROM per WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv),
r AS (
  SELECT cohort_day, lat,
    row_number() OVER (PARTITION BY cohort_day ORDER BY lat, user_id) AS rk,
    count(*) OVER (PARTITION BY cohort_day) AS n
  FROM conv)
SELECT cohort_day, CAST(max(n) AS BIGINT) AS n_converted,
  CAST(max(CASE WHEN rk = (n + 3) // 4 THEN lat END) AS BIGINT)
    AS p25_latency_us,
  CAST(max(CASE WHEN rk = (n + 1) // 2 THEN lat END) AS BIGINT)
    AS p50_latency_us,
  CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN lat END) AS BIGINT)
    AS p75_latency_us
FROM r GROUP BY 1 ORDER BY cohort_day"""

  /** q186 twin of [[graft.events.EventAnalytics.stickiness]]: the
    * same explode identity via range(), the same trailing cut. */
  val q186_stickiness: String = """
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM a GROUP BY 1),
wau AS (
  SELECT day + CAST(off AS INTEGER) AS day, count(DISTINCT user_id) AS wau
  FROM a, range(0, 7) t(off)
  GROUP BY 1),
cut AS (
  SELECT w.day, w.wau FROM wau w
  WHERE w.day <= (SELECT max(day) FROM a))
SELECT c.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
  CAST(c.wau AS BIGINT) AS wau,
  CAST((COALESCE(d.dau, 0) * 1000) // c.wau AS BIGINT)
    AS stickiness_permille
FROM cut c LEFT JOIN dau d ON c.day = d.day
ORDER BY c.day"""

  /** q184 twin of [[graft.etl.Upsert.mergeAggregates]]: deliberately
    * the FULL recompute — one grouped aggregate over all events —
    * which the incremental stored⊕delta path must equal exactly. */
  val q184_ivm_merge: String = """
SELECT event_type, CAST(ts AS DATE) AS day,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY event_type, day"""

  /** q183 twin of [[graft.events.EventAnalytics.hourlyEnvelope]]:
    * same pre-aggregate, same ceil-rank picks. */
  val q183_hourly_envelope: String = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(extract(hour FROM ts) AS INTEGER) AS hod, count(*) AS n
  FROM events GROUP BY 1, 2, 3),
r AS (
  SELECT event_type, hod, n,
    row_number() OVER (PARTITION BY event_type, hod ORDER BY n, day) AS rk,
    count(*) OVER (PARTITION BY event_type, hod) AS nd
  FROM c)
SELECT event_type, hod,
  CAST(max(nd) AS BIGINT) AS n_days,
  CAST(max(CASE WHEN rk = (nd + 9) // 10 THEN n END) AS BIGINT) AS p10,
  CAST(max(CASE WHEN rk = (nd + 1) // 2 THEN n END) AS BIGINT) AS p50,
  CAST(max(CASE WHEN rk = (9 * nd + 9) // 10 THEN n END) AS BIGINT) AS p90
FROM r GROUP BY 1, 2 ORDER BY event_type, hod"""

  /** q182 twin of [[graft.graph.LinkGraph.pagerankWeighted]]: the
    * q124 unroll with additive multiplicity weights and the
    * (rank·w) // ΣW_out proportional split. */
  val q182_weighted_pagerank: String = """
WITH e AS (
  SELECT src, dst, sum(w) AS w FROM (
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) AS src,
           'd' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS dst,
           (doc_id % 4) + 1 AS w
    FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR),
           'd' || CAST((doc_id * 5 + 2) % 29 AS VARCHAR),
           (doc_id % 4) + 1
    FROM documents)
  WHERE src <> dst GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outw AS (SELECT src AS node, sum(w) AS out_weight FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_units FROM nodes),
i1 AS (SELECT e.dst AS node, sum((r.rank_units * e.w) // o.out_weight) AS m
       FROM e JOIN r0 r ON e.src = r.node JOIN outw o ON e.src = o.node
       GROUP BY e.dst),
r1 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.m, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i1 i USING (node)),
i2 AS (SELECT e.dst AS node, sum((r.rank_units * e.w) // o.out_weight) AS m
       FROM e JOIN r1 r ON e.src = r.node JOIN outw o ON e.src = o.node
       GROUP BY e.dst),
r2 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.m, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i2 i USING (node)),
i3 AS (SELECT e.dst AS node, sum((r.rank_units * e.w) // o.out_weight) AS m
       FROM e JOIN r2 r ON e.src = r.node JOIN outw o ON e.src = o.node
       GROUP BY e.dst),
r3 AS (SELECT n.node,
         150000000000 + (85 * COALESCE(i.m, 0)) // 100 AS rank_units
       FROM nodes n LEFT JOIN i3 i USING (node))
SELECT n.node, CAST(COALESCE(o.out_weight, 0) AS BIGINT) AS out_weight,
  CAST(r.rank_units AS BIGINT) AS rank_units
FROM nodes n LEFT JOIN outw o USING (node) JOIN r3 r USING (node)
ORDER BY n.node"""

  /** q181 twin of [[graft.graph.LinkGraph.triangleStats]]:
    * deliberately the NAIVE construction — undirected pairs a<b and
    * the 3-way a<b<c join — a different algorithm that must land on
    * the same triangles the degree-oriented wedge plan finds. */
  val q181_triangles: String = s"""
WITH e0 AS (${linkEd(97, 89)}),
und AS (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
p AS (SELECT src, dst FROM und WHERE src < dst),
tri AS (
  SELECT x.src AS a, x.dst AS b, y.dst AS c
  FROM p x
  JOIN p y ON y.src = x.dst
  JOIN p z ON z.src = x.src AND z.dst = y.dst),
pn AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL
    SELECT c FROM tri)
  GROUP BY 1)
SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
  CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
  CAST(CASE WHEN d.deg < 2 THEN 0
    ELSE (COALESCE(pn.triangles, 0) * 2000) // (d.deg * (d.deg - 1)) END
    AS BIGINT) AS clustering_permille
FROM deg d LEFT JOIN pn ON d.node = pn.node
ORDER BY d.node"""

  /** q180 twin of [[graft.events.EventAnalytics.newVsReturning]]:
    * identical dedup-then-min-then-join construction. */
  val q180_new_returning: String = """
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, min(day) AS first_day FROM a GROUP BY 1)
SELECT a.day, CAST(count(*) AS BIGINT) AS n_active,
  CAST(sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new,
  CAST(count(*) - sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
    AS BIGINT) AS n_returning,
  CAST((sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) * 1000)
    // count(*) AS BIGINT) AS new_permille
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY a.day ORDER BY a.day"""

  /** q179 twin of [[graft.etl.Sampling.rendezvousShard]]: the q61
    * md5-prefix hash over key#shard, argmax via (w desc, shard desc)
    * row_number — the sort_array-desc struct order. */
  val q179_rendezvous: String = """
WITH c8 AS (
  SELECT doc_id, s,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
      || CAST(s AS VARCHAR)), 1, 14)) AS BIGINT) AS w
  FROM documents, range(0, 8) t(s)),
a8 AS (
  SELECT doc_id, s AS shard FROM (
    SELECT doc_id, s,
      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
    FROM c8) WHERE rn = 1),
c9 AS (
  SELECT doc_id, s,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
      || CAST(s AS VARCHAR)), 1, 14)) AS BIGINT) AS w
  FROM documents, range(0, 9) t(s)),
a9 AS (
  SELECT doc_id, s AS shard9 FROM (
    SELECT doc_id, s,
      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
    FROM c9) WHERE rn = 1)
SELECT CAST(a8.shard AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN a8.shard <> a9.shard9 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_moved,
  CAST((sum(CASE WHEN a8.shard <> a9.shard9 THEN 1 ELSE 0 END) * 1000)
    // count(*) AS BIGINT) AS moved_permille
FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
GROUP BY a8.shard ORDER BY a8.shard"""

  /** q178 twin of [[graft.events.EventAnalytics.levelShift]]: same
    * observation frames and cross-multiplied threshold. */
  val q178_level_shift: String = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, day,
    row_number() OVER win AS rn,
    sum(n) OVER (win ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rt,
    sum(n) OVER (win ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS pt
  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day))
SELECT event_type, day,
  CAST(rt AS BIGINT) AS recent_total,
  CAST(pt AS BIGINT) AS prev_total,
  CAST((abs(rt - pt) * 1000) // pt AS BIGINT) AS change_permille
FROM w
WHERE rn >= 14 AND pt > 0 AND abs(rt - pt) * 1000 > 80 * pt
ORDER BY event_type, day"""

  /** q177 twin of [[graft.text.TextAnalysis.kwic]]: the q156 postings
    * construction then inclusive 1-based list_slice windows — the
    * same clamps Spark's (start, length) slice applies. */
  val q177_kwic: String = toksCte + """
, posting AS (
  SELECT doc_id, p - 1 AS pos, t FROM (
    SELECT doc_id, unnest(tokens) AS t,
           generate_subscripts(tokens, 1) AS p
    FROM toks)
  WHERE t = 'table'),
starts AS (
  SELECT a.doc_id, a.pos
  FROM posting a JOIN posting b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
ctx AS (
  SELECT s.doc_id, s.pos + 1 AS pos,
    COALESCE(array_to_string(list_slice(t.tokens,
      greatest(s.pos + 1 - 2, 1), s.pos), ' '), '') AS before,
    COALESCE(array_to_string(list_slice(t.tokens,
      s.pos + 1, s.pos + 2), ' '), '') AS match,
    COALESCE(array_to_string(list_slice(t.tokens,
      s.pos + 3, s.pos + 4), ' '), '') AS after
  FROM starts s JOIN toks t ON s.doc_id = t.doc_id)
SELECT doc_id, CAST(pos AS INTEGER) AS pos, before, "match", after
FROM ctx ORDER BY doc_id, pos"""

  /** q176 twin of [[graft.quality.Validators.referentialAudit]]: the
    * same cents quantization and ±1-cent tolerance, anti-joins via
    * NOT EXISTS. */
  val q176_fk_audit: String = """
WITH p AS (
  SELECT o_orderkey AS k,
    CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,10)), 2)
      AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
  FROM orders),
c AS (
  SELECT l_orderkey AS k,
    CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(28,10)), 2)
      AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM lineitem),
orphans AS (SELECT count(*) AS v FROM c
            WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.k = c.k)),
childless AS (SELECT count(*) AS v FROM p
              WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.k = p.k)),
matched AS (SELECT p.k, p.pc, s.sumc
            FROM p JOIN (SELECT k, sum(cc) AS sumc FROM c GROUP BY 1) s
            ON p.k = s.k),
recon AS (SELECT count(*) AS v FROM matched WHERE abs(pc - sumc) > 1),
rep AS (
  SELECT 'orphan_children' AS check_name,
    (SELECT count(*) FROM c) AS n_checked, (SELECT v FROM orphans) AS n_violations
  UNION ALL
  SELECT 'childless_parents',
    (SELECT count(*) FROM p), (SELECT v FROM childless)
  UNION ALL
  SELECT 'amount_reconciliation',
    (SELECT count(*) FROM matched), (SELECT v FROM recon))
SELECT check_name AS "check", CAST(n_checked AS BIGINT) AS n_checked,
  CAST(n_violations AS BIGINT) AS n_violations,
  CAST(CASE WHEN n_checked = 0 THEN 0
    ELSE (n_violations * 1000) // n_checked END AS BIGINT)
    AS violation_permille
FROM rep ORDER BY check_name"""

  /** q175 twin: the q174 CTEs joined with a gain/loss frame whose
    * weakness test is the exact comparison Σgain < Σloss
    * (≡ RSI₁₄ < 50) on the same per-day source-deduped bars. */
  val q175_reversal_screen: String = barsCte + s"""
, daily AS (
  SELECT symbol, date, open, high, low, close FROM $firstBars),
lagged AS (
  SELECT symbol, date, open, high, low, close,
    lag(open) OVER w AS po, lag(close) OVER w AS pc,
    close - lag(close) OVER w AS diff,
    row_number() OVER w AS n
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY date)),
rsi AS (
  SELECT symbol, date,
    sum(CASE WHEN diff > 0 THEN diff ELSE 0.0 END) OVER w14 AS sg,
    sum(CASE WHEN diff < 0 THEN -diff ELSE 0.0 END) OVER w14 AS sl,
    n
  FROM lagged
  WINDOW w14 AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
flags AS (
  SELECT symbol, date,
    (high - low > 0 AND abs(close - open) * 10 <= high - low) AS doji
  FROM lagged)
SELECT f.symbol, f.date, f.doji
FROM flags f JOIN rsi r ON f.symbol = r.symbol AND f.date = r.date
WHERE f.doji AND r.n >= 15 AND r.sg < r.sl
ORDER BY f.symbol, f.date"""

  /** q174 twin of [[graft.analytics.Indicators.candlestickScreen]]:
    * the barsCte, the same per-day source dedup, lag, and
    * multiply-never-divide rational comparisons. */
  val q174_candlesticks: String = barsCte + s"""
, daily AS (
  SELECT symbol, date, open, high, low, close FROM $firstBars),
lagged AS (
  SELECT symbol, date, open, high, low, close,
    lag(open) OVER (PARTITION BY symbol ORDER BY date) AS po,
    lag(close) OVER (PARTITION BY symbol ORDER BY date) AS pc
  FROM daily),
flags AS (
  SELECT symbol, date,
    (high - low > 0 AND abs(close - open) * 10 <= high - low) AS doji,
    (high - low > 0
     AND least(open, close) - low >= abs(close - open) * 2
     AND high - greatest(open, close) <= abs(close - open)) AS hammer,
    (pc IS NOT NULL AND pc < po AND close - open > 0
     AND open <= pc AND close >= po) AS bullish_engulf,
    (pc IS NOT NULL AND pc > po AND close - open < 0
     AND open >= pc AND close <= po) AS bearish_engulf
  FROM lagged)
SELECT * FROM flags
WHERE doji OR hammer OR bullish_engulf OR bearish_engulf
ORDER BY symbol, date"""

  /** q173 twin of [[graft.text.TextAnalysis.encodingAudit]]: the same
    * seeded corruption (chr() for the non-printable halves), the same
    * explicit alternation and RE2 \x{} C1 class. */
  val q173_encoding_audit: String = """
WITH seeded AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0 THEN ' Ã©â€™' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN 'Â ' || chr(133) ELSE '' END ||
    CASE WHEN doc_id % 13 = 0 THEN chr(65533) || chr(65533) ELSE '' END
    AS text
  FROM documents),
a AS (
  SELECT doc_id,
    len(regexp_extract_all(text, chr(65533))) AS n_replacement,
    len(regexp_extract_all(text, 'Ã©|Ã¨|Ã¼|â€™|â€œ|Â ')) AS n_mojibake,
    len(regexp_extract_all(text, '[\x{0080}-\x{009F}]')) AS n_c1_controls
  FROM seeded)
SELECT doc_id, CAST(n_replacement AS BIGINT) AS n_replacement,
  CAST(n_mojibake AS BIGINT) AS n_mojibake,
  CAST(n_c1_controls AS BIGINT) AS n_c1_controls,
  (n_replacement + n_mojibake + n_c1_controls > 0) AS suspect
FROM a WHERE n_replacement + n_mojibake + n_c1_controls > 0
ORDER BY doc_id"""

  /** q172 twin of [[graft.graph.LinkGraph.kCore]]: the undirected
    * closure then three peel rounds unrolled — degree filter + both
    * endpoint prunes per round, identical cascade semantics. */
  val q172_kcore: String = """
WITH e0d AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) AS src,
           'd' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS dst
    FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id % 23 AS VARCHAR),
           'p' || CAST(doc_id % 211 AS VARCHAR)
    FROM documents WHERE doc_id % 7 = 0)
  WHERE src <> dst),
e0 AS (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM e0d UNION ALL SELECT dst, src FROM e0d)),
k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
e1 AS (SELECT e.src, e.dst FROM e0 e
       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
e2 AS (SELECT e.src, e.dst FROM e1 e
       JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 3),
e3 AS (SELECT e.src, e.dst FROM e2 e
       JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM e3 GROUP BY 1 ORDER BY node"""

  /** q171 twin of [[graft.events.EventAnalytics.seasonalNaiveBacktest]]:
    * same daily pre-aggregate, same (type, day = prior + 7) join and
    * integer error rollup. */
  val q171_seasonal_naive: String = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS actual
  FROM events GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.actual, f.actual AS forecast
  FROM d a JOIN d f ON a.event_type = f.event_type AND a.day = f.day + 7)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
  CAST(sum(abs(actual - forecast)) AS BIGINT) AS total_abs_err,
  CAST(sum(actual - forecast) AS BIGINT) AS total_bias,
  CAST(sum(actual) AS BIGINT) AS total_actual,
  CAST((sum(abs(actual - forecast)) * 1000) // count(*) AS BIGINT)
    AS mae_milli,
  CAST((sum(abs(actual - forecast)) * 1000) // sum(actual) AS BIGINT)
    AS wape_permille
FROM j GROUP BY 1 ORDER BY event_type"""

  /** q170 twin of [[graft.analytics.Profiling.lorenzCurve]]: the q129
    * domain formula, the same counts-of-counts frame and cumulative
    * window over distinct size values only. */
  val q170_lorenz: String = """
WITH c AS (
  SELECT 'd' || CAST((doc_id * doc_id) % 41 AS VARCHAR) AS domain,
    count(*) AS size
  FROM documents GROUP BY 1),
bv AS (SELECT size, count(*) AS n_groups FROM c GROUP BY 1),
t AS (SELECT sum(n_groups) AS ng, sum(size * n_groups) AS nr FROM bv)
SELECT size, CAST(n_groups AS BIGINT) AS n_groups,
  CAST(sum(n_groups) OVER w AS BIGINT) AS cum_groups,
  CAST(sum(size * n_groups) OVER w AS BIGINT) AS cum_rows,
  CAST((sum(n_groups) OVER w * 1000) // (SELECT ng FROM t) AS BIGINT)
    AS cum_groups_permille,
  CAST((sum(size * n_groups) OVER w * 1000) // (SELECT nr FROM t) AS BIGINT)
    AS cum_rows_permille
FROM bv
WINDOW w AS (ORDER BY size ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY size"""

  /** q169 twin of [[graft.events.EventAnalytics.cadenceProfile]]:
    * identical (ts, event_id) gap lag, the same stated rank
    * conventions (lower median, ceil quartiles), same floor-div
    * regularity clamp. */
  val q169_cadence: String = """
WITH e AS (SELECT event_id, ts, user_id, epoch_us(ts) AS us FROM events),
g AS (
  SELECT user_id, event_id,
    us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM e),
f AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
r AS (
  SELECT user_id, gap,
    row_number() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS rk,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM f),
a AS (
  SELECT user_id, max(n) AS n_gaps, min(gap) AS min_gap_us,
    max(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS median_gap_us,
    max(CASE WHEN rk = (n + 3) // 4 THEN gap END) AS p25_gap_us,
    max(CASE WHEN rk = (3 * n + 3) // 4 THEN gap END) AS p75_gap_us
  FROM r GROUP BY 1 HAVING max(n) >= 3)
SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
  CAST(min_gap_us AS BIGINT) AS min_gap_us,
  CAST(median_gap_us AS BIGINT) AS median_gap_us,
  CAST(p25_gap_us AS BIGINT) AS p25_gap_us,
  CAST(p75_gap_us AS BIGINT) AS p75_gap_us,
  CAST(p75_gap_us - p25_gap_us AS BIGINT) AS iqr_us,
  CAST(CASE WHEN median_gap_us > 0
    THEN 1000 - least(1000,
      ((p75_gap_us - p25_gap_us) * 1000) // median_gap_us)
    ELSE 1000 END AS BIGINT) AS regularity_permille
FROM a ORDER BY user_id"""

  /** q168 twin of [[graft.events.EventAnalytics.decayedCounts]]: the
    * same whole-half-life quantization and power-of-two floor
    * division (`<<` + `//` ≡ Spark's shiftleft + div on these
    * non-negative operands). The shift base is widened to BIGINT:
    * DuckDB's bare `1` is a 32-bit INTEGER, so `1 << 31` throws Out
    * of Range and the documented 62-half-life clamp would be
    * unreachable on any events history spanning >= 31 half-lives
    * (~217 days at the 7-day default) — the Spark side shifts 1L and
    * is fine to 62, so without the cast the twins diverge exactly
    * when the clamp starts to matter. */
  val q168_decayed_counts: String = """
WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
w AS (
  SELECT event_type,
    1000000 // (CAST(1 AS BIGINT) << CAST(least((
      (SELECT anchor FROM a) - epoch_us(ts)) // 604800000000, 62)
      AS INTEGER)) AS wt
  FROM events),
g AS (
  SELECT event_type, count(*) AS n_events, sum(wt) AS decayed_units
  FROM w GROUP BY 1)
SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
  CAST(decayed_units AS BIGINT) AS decayed_units,
  CAST((decayed_units * 1000) // (n_events * 1000000) AS BIGINT)
    AS freshness_permille
FROM g ORDER BY event_type"""

  /** q167 twin of [[graft.text.TextAnalysis.bm25Search]]: identical
    * cleared-denominator rational arithmetic; floor-log2 idf read off
    * the same bit-length (`length(bin(v)) - 1`) both engines share. */
  val q167_bm25_search: String = toksCte + """
, d AS (SELECT doc_id, tokens, len(tokens) AS dl FROM toks),
tot AS (SELECT count(*) AS n, sum(dl) AS l FROM d),
tf AS (
  SELECT doc_id, dl, token, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(tokens) AS token FROM d)
  WHERE token IN ('spark', 'window', 'merge')
  GROUP BY 1, 2, 3),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT t.doc_id,
    (length(bin(greatest(1,
        (2 * (SELECT n FROM tot) - 2 * f.df + 1) // (2 * f.df + 1)))) - 1)
      * 22 * ((SELECT l FROM tot) // (SELECT n FROM tot)) * t.tf * 1000
      // (10 * ((SELECT l FROM tot) // (SELECT n FROM tot)) * t.tf
         + 3 * ((SELECT l FROM tot) // (SELECT n FROM tot)) + 9 * t.dl)
      AS score
  FROM tf t JOIN dfq f USING (token))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
  CAST(sum(score) AS BIGINT) AS bm25_units
FROM sc GROUP BY 1 ORDER BY bm25_units DESC, doc_id LIMIT 50"""

  /** q166 twin of [[graft.events.EventAnalytics.associationRules]]:
    * the q24 session CTEs, distinct (session, type) items, the same
    * ordered-pair self-join and floor-div permille triple. */
  val q166_assoc_rules: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM m),
items AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || '#' || CAST(session_seq AS VARCHAR) AS sid,
    event_type
  FROM s),
n AS (SELECT count(DISTINCT sid) AS n FROM items),
ic AS (SELECT event_type, count(*) AS s FROM items GROUP BY 1),
co AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
    count(*) AS support_sessions
  FROM items a JOIN items b ON a.sid = b.sid AND a.event_type <> b.event_type
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT co.antecedent, co.consequent,
  CAST(co.support_sessions AS BIGINT) AS support_sessions,
  CAST((co.support_sessions * 1000) // (SELECT n FROM n) AS BIGINT)
    AS support_permille,
  CAST((co.support_sessions * 1000) // ia.s AS BIGINT)
    AS confidence_permille,
  CAST((co.support_sessions * (SELECT n FROM n) * 1000) // (ia.s * ib.s)
    AS BIGINT) AS lift_permille
FROM co
JOIN ic ia ON co.antecedent = ia.event_type
JOIN ic ib ON co.consequent = ib.event_type
ORDER BY co.antecedent, co.consequent"""

  /** q165 twin of [[graft.graph.LinkGraph.coCitation]]: same capped
    * edge set on both numerator and denominator, same unordered
    * self-join and floor-div Jaccard. */
  val q165_cocitation: String = s"""
WITH e AS (${linkEd(97, 89)}),
keep AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 100),
f AS (SELECT e.src, e.dst FROM e JOIN keep USING (src)),
pairs AS (
  SELECT a.dst AS node_a, b.dst AS node_b, count(*) AS common
  FROM f a JOIN f b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2 HAVING count(*) >= 2),
indeg AS (SELECT dst, count(*) AS ind FROM f GROUP BY 1)
SELECT p.node_a, p.node_b, CAST(p.common AS BIGINT) AS common,
  CAST((p.common * 1000) // (ia.ind + ib.ind - p.common) AS BIGINT)
    AS jaccard_permille
FROM pairs p
JOIN indeg ia ON p.node_a = ia.dst
JOIN indeg ib ON p.node_b = ib.dst
ORDER BY p.node_a, p.node_b"""

  /** q163 twin of [[graft.analytics.Profiling.cubeReport]]: GROUP BY
    * CUBE with the shared lang-MSB GROUPING bitmask. */
  val q163_cube_report: String = """
SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(n_chars) AS BIGINT) AS total_value
FROM documents GROUP BY CUBE(lang, source)
ORDER BY gid, lang, source"""

  /** q164 twin of [[graft.analytics.Profiling.pivotMatrix]]:
    * deliberately the OTHER construction — conditional CASE sums per
    * lang instead of a pivot — same cross-tab from both plans. */
  val q164_pivot_matrix: String = """
SELECT source,
  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source ORDER BY source"""

  /** q162 twin of [[graft.graph.LinkGraph.labelPropagation]]: the
    * q155 fixture edges undirected, then 4 synchronous rounds each
    * unrolled as a count CTE + a (count desc, label) row_number pick
    * — the same adoption rule, tie to the smallest label. */
  val q162_label_prop: String = s"""
WITH e0 AS (${linkEd(23, 29)}),
e AS (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
c1 AS (SELECT e.dst AS node, l.label, count(*) AS c
       FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
l1 AS (SELECT node, label FROM (
  SELECT node, label,
    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
  FROM c1) WHERE rn = 1),
c2 AS (SELECT e.dst AS node, l.label, count(*) AS c
       FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
l2 AS (SELECT node, label FROM (
  SELECT node, label,
    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
  FROM c2) WHERE rn = 1),
c3 AS (SELECT e.dst AS node, l.label, count(*) AS c
       FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
l3 AS (SELECT node, label FROM (
  SELECT node, label,
    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
  FROM c3) WHERE rn = 1),
c4 AS (SELECT e.dst AS node, l.label, count(*) AS c
       FROM e JOIN l3 l ON e.src = l.node GROUP BY 1, 2),
l4 AS (SELECT node, label FROM (
  SELECT node, label,
    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
  FROM c4) WHERE rn = 1),
sizes AS (SELECT label AS community, count(*) AS community_size
          FROM l4 GROUP BY 1)
SELECT l.node, l.label AS community,
  CAST(s.community_size AS BIGINT) AS community_size
FROM l4 l JOIN sizes s ON l.label = s.community
ORDER BY l.node"""

  /** q161 twin of [[graft.text.Vocab.heapsCurve]]: same bucket rank
    * arithmetic, same min-doc first-appearance identity, cumulative
    * window over the 10 checkpoints only. */
  val q161_heaps_curve: String = toksCte + """
, b AS (
  SELECT lang, doc_id, len(tokens) AS n_tokens,
    ((row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1) * 10)
      // (count(*) OVER (PARTITION BY lang)) + 1 AS bucket
  FROM toks),
fd AS (
  SELECT lang, token, min(doc_id) AS doc_id
  FROM (SELECT lang, doc_id, unnest(tokens) AS token FROM toks)
  GROUP BY 1, 2),
nt AS (
  SELECT f.lang, b.bucket, count(*) AS new_types
  FROM fd f JOIN b ON f.lang = b.lang AND f.doc_id = b.doc_id
  GROUP BY 1, 2),
pb AS (
  SELECT lang, bucket, count(*) AS n_docs, sum(n_tokens) AS n_toks
  FROM b GROUP BY 1, 2),
pbn AS (
  SELECT pb.lang, pb.bucket, pb.n_docs, pb.n_toks,
    COALESCE(nt.new_types, 0) AS new_types
  FROM pb LEFT JOIN nt ON pb.lang = nt.lang AND pb.bucket = nt.bucket)
SELECT lang, CAST(bucket AS INTEGER) AS bucket,
  CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
  CAST(sum(n_toks) OVER w AS BIGINT) AS cum_tokens,
  CAST(sum(new_types) OVER w AS BIGINT) AS cum_types
FROM pbn
WINDOW w AS (PARTITION BY lang ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY lang, bucket"""

  /** q160 twin of [[graft.events.EventAnalytics.attribution]]: the
    * same strict-lookback join in exact epoch micros, the identical
    * floor-div split with the (ts desc, id desc) remainder carrier,
    * and the `(none)` mass-conservation row. */
  val q160_attribution: String = """
WITH conv AS (
  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id, event_id AS touch_id, event_type AS touch_type,
         epoch_us(ts) AS touch_us
  FROM events WHERE event_type IN ('view', 'click')),
j AS (
  SELECT c.conv_id, t.touch_id, t.touch_type, t.touch_us
  FROM conv c JOIN touch t ON c.user_id = t.user_id
  WHERE t.touch_us < c.conv_us AND t.touch_us >= c.conv_us - 86400000000),
w AS (
  SELECT conv_id, touch_type,
    count(*) OVER (PARTITION BY conv_id) AS n,
    row_number() OVER (PARTITION BY conv_id
                       ORDER BY touch_us DESC, touch_id DESC) AS rn
  FROM j),
cr AS (
  SELECT conv_id, touch_type,
    (1000 // n) + CASE WHEN rn = 1 THEN 1000 - n * (1000 // n) ELSE 0 END
      AS credit
  FROM w),
att AS (
  SELECT touch_type, count(DISTINCT conv_id) AS n_conversions,
    sum(credit) AS credit_permille
  FROM cr GROUP BY 1),
una AS (
  SELECT '(none)' AS touch_type, count(*) AS n_conversions,
    count(*) * 1000 AS credit_permille
  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM cr))
SELECT touch_type, CAST(n_conversions AS BIGINT) AS n_conversions,
  CAST(credit_permille AS BIGINT) AS credit_permille
FROM (SELECT * FROM att UNION ALL
      SELECT * FROM una WHERE n_conversions > 0)
ORDER BY touch_type"""

  /** q159 twin of [[graft.analytics.Segmentation.rfm]]: the same
    * one-quantization cents chain (round→DECIMAL(18,2)→×100→BIGINT
    * per ROW, then integer sum), the corpus-max-date anchor, and the
    * identical value-function band — (5·cum_lt) floor-div n + 1 over
    * DISTINCT values only, so ties share a band on both engines
    * regardless of row order. */
  val q159_rfm: String = """
WITH per AS (
  SELECT o_custkey AS customer,
    max(CAST(o_orderdate AS DATE)) AS last_d,
    count(*) AS frequency,
    sum(CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,10)), 2)
              AS DECIMAL(18,2)) * 100 AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY 1),
base AS (
  SELECT customer,
    date_diff('day', last_d, (SELECT max(last_d) FROM per)) AS recency_days,
    frequency, monetary_cents, monetary_cents // 10000 AS mband
  FROM per),
rb AS (
  SELECT v, (5 * COALESCE(sum(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
    // (SELECT count(*) FROM base) + 1 AS band
  FROM (SELECT recency_days AS v, count(*) AS c FROM base GROUP BY 1)),
fb AS (
  SELECT v, (5 * COALESCE(sum(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
    // (SELECT count(*) FROM base) + 1 AS band
  FROM (SELECT frequency AS v, count(*) AS c FROM base GROUP BY 1)),
mb AS (
  SELECT v, (5 * COALESCE(sum(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
    // (SELECT count(*) FROM base) + 1 AS band
  FROM (SELECT mband AS v, count(*) AS c FROM base GROUP BY 1))
SELECT b.customer,
  CAST(b.recency_days AS BIGINT) AS recency_days,
  CAST(b.frequency AS BIGINT) AS frequency,
  CAST(b.monetary_cents AS BIGINT) AS monetary_cents,
  CAST(6 - r.band AS INTEGER) AS r_score,
  CAST(f.band AS INTEGER) AS f_score,
  CAST(m.band AS INTEGER) AS m_score,
  CAST((6 - r.band) * 100 + f.band * 10 + m.band AS INTEGER) AS rfm_cell
FROM base b
JOIN rb r ON b.recency_days = r.v
JOIN fb f ON b.frequency = f.v
JOIN mb m ON b.mband = m.v
ORDER BY b.customer"""

  /** q158 twin: [[retsCte]], the same lag pairing, and the q62
    * conversion traps (widen-before-multiply, VARCHAR-detour
    * decimal→double) with the identical final double ρ tree. */
  val q158_autocorr: String = barsCte + s"""
, $dailyCloseCte,
$retsCte,
p AS (
  SELECT symbol, ret,
    lag(ret, 1) OVER (PARTITION BY symbol ORDER BY date) AS prev
  FROM rets),
agg AS (
  SELECT symbol, count(*) AS n_pairs,
    CAST(CAST(sum(ret) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(prev) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(CAST(ret AS DECIMAL(24,6)) * CAST(ret AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(CAST(prev AS DECIMAL(24,6)) * CAST(prev AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(CAST(ret AS DECIMAL(24,6)) * CAST(prev AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM p WHERE prev IS NOT NULL GROUP BY symbol)
SELECT symbol, CAST(n_pairs AS BIGINT) AS n_pairs,
  CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0
    THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
         (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
          sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))
  END AS autocorr
FROM agg WHERE n_pairs >= 2 ORDER BY symbol"""

  /** q153 twin: the q66 positioned-bigram construction + unigram
    * counts + the same integer Dice and (dice desc, w1, w2) cut. */
  val q153_collocations: String = toksCte + """
, pos AS (
  SELECT doc_id, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks),
bi AS (
  SELECT a.t AS w1, b.t AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY t)
SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
  CAST((2 * c_ab * 1000000) // (ua.c + ub.c) AS BIGINT) AS dice_e6
FROM bi JOIN uni ua ON bi.w1 = ua.token
        JOIN uni ub ON bi.w2 = ub.token
ORDER BY dice_e6 DESC, w1, w2 LIMIT 50"""

  /** q152 twin: the same sequential earliest-qualifying-event CTEs —
    * step i+1's instant is the min event strictly after step i's and
    * within the timeout. */
  val q152_funnel_steps: String = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
    AND epoch_us(e.ts) <= s1.t + 43200000000
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
    AND epoch_us(e.ts) <= s2.t + 43200000000
  GROUP BY e.user_id),
c AS (
  SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step,
    (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3))
SELECT step_index, step, CAST(n_users AS BIGINT) AS n_users,
  CAST(CASE WHEN (SELECT n_users FROM c WHERE step_index = 1) = 0 THEN 0
       ELSE (n_users * 1000) // (SELECT n_users FROM c WHERE step_index = 1)
       END AS BIGINT) AS conversion_permille
FROM c ORDER BY step_index"""

  /** q151 twin: the same (quality desc, tie) prefix sum and the
    * first-crossing-kept boundary rule. */
  val q151_token_budget: String = """
WITH d AS (
  SELECT doc_id, lang, n_chars,
    CAST(len(list_filter(string_split(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY lang
      ORDER BY n_chars DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM d)
SELECT doc_id, lang, n_tokens, cum_tokens,
  cum_tokens - n_tokens < 5000 AS kept
FROM c ORDER BY doc_id"""

  /** q150 twin — deliberately a DIFFERENT algorithm: where Spark
    * fills via an ordered ignore-nulls window, DuckDB resolves each
    * spine day to the latest observation at-or-before it with an
    * ASOF LEFT JOIN; a plain equi-join supplies the is_filled flag.
    * Same answer from two constructions = a real cross-check. */
  val q150_gap_fill: String = barsCte + """,
daily AS (
  SELECT symbol, date, min(close) AS close FROM merged GROUP BY symbol, date),
bounds AS (SELECT symbol, min(date) AS d0, max(date) AS d1 FROM daily GROUP BY symbol),
spine AS (
  SELECT symbol, CAST(u.d AS DATE) AS date
  FROM bounds, unnest(generate_series(CAST(d0 AS TIMESTAMP),
    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d))
SELECT s.symbol, s.date, a.close AS close, e.close IS NULL AS is_filled
FROM spine s
ASOF LEFT JOIN daily a ON s.symbol = a.symbol AND s.date >= a.date
LEFT JOIN daily e ON e.symbol = s.symbol AND e.date = s.date
ORDER BY s.symbol, s.date"""

  /** q149 twin: the same whole+fractional copy arithmetic — factor
    * div 10000 plus one iff the 'up:'-salted md5 hash clears the
    * fractional part — expanded per row via range() unnest (range(0)
    * is empty, so zero-copy rows vanish exactly like Spark's explode
    * of an empty array). */
  val q149_upsample_mix: String = """
WITH f(lang, factor) AS (VALUES ('en', 5000), ('es', 15000), ('fr', 25000)),
b AS (
  SELECT d.doc_id, d.lang,
    COALESCE(f.factor, 10000) AS factor,
    CASE WHEN CAST(('0x' || substr(md5('up:' || CAST(d.doc_id AS VARCHAR)), 1, 14))
              AS BIGINT) % 10000 < COALESCE(f.factor, 10000) % 10000
         THEN 1 ELSE 0 END AS extra
  FROM documents d LEFT JOIN f USING (lang)),
c AS (SELECT doc_id, lang, factor // 10000 + extra AS copies FROM b)
SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy
FROM c, unnest(range(copies)) AS u(c)
ORDER BY doc_id, copy"""

  /** q148 twin: the q24 session CTEs carried to ordered string_agg
    * paths, counted, top-20 by (count desc, path) — the same
    * deterministic boundary cut. */
  val q148_session_paths: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM m),
p AS (
  SELECT user_id, sess,
    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY user_id, sess)
SELECT path, count(*) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20"""

  /** q147 twin: the same vowel-group / sentence-run / tokenizer
    * counts and the identical integer micro-unit Flesch arithmetic.
    * NOTE 'The' after the synthesized break still tokenizes to 'the'
    * (lowercasing), so word counts are unchanged by the rewrite. */
  val q147_readability: String = """
WITH s AS (
  SELECT doc_id, regexp_replace(text, ' the ', '. The ', 'g') AS t
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(regexp_replace(lower(t),
      '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS n_words,
    greatest(CAST(1 AS BIGINT),
      CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT)) AS n_sentences,
    CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT)
      AS n_syllables
  FROM s)
SELECT doc_id, n_words, n_sentences, n_syllables,
  206835000 - 1015 * ((n_words * 1000) // n_sentences)
            - 84600 * ((n_syllables * 1000) // n_words) AS flesch_micro
FROM m WHERE n_words > 0 ORDER BY doc_id"""

  /** q145 twin: SQL-standard ntile + tied rank + integer-floor
    * permille — both engines implement the identical window
    * semantics, which is the parity the query gates. */
  val q145_quantile_features: String = """
SELECT doc_id, lang, n_chars,
  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT)
    AS bucket,
  CAST(CASE WHEN count(*) OVER (PARTITION BY lang) = 1 THEN 0
       ELSE ((rank() OVER (PARTITION BY lang ORDER BY n_chars) - 1) * 1000)
            // (count(*) OVER (PARTITION BY lang) - 1) END AS BIGINT)
    AS rank_permille
FROM documents ORDER BY doc_id"""

  /** q125 twin: the q124 ranks normalized as an exact rational —
    * share_num/share_den = rank_units / (n·unit) — plus integer
    * permilles against ideal and retained mass, multiply-before-
    * floor-div exactly like the Spark side. DuckDB count/sum yield
    * HUGEINT — cast back to BIGINT to match Spark's longs. */
  val q125_pagerank_norm: String = pagerankCtes + """,
tot AS (
  SELECT CAST(count(*) * 1000000000000 AS BIGINT) AS share_den,
         CAST(sum(rank_units) AS BIGINT) AS retained_units
  FROM ranked)
SELECT node, out_degree, rank_units AS share_num, share_den,
  CAST((rank_units * 1000) // share_den AS BIGINT) AS share_permille,
  retained_units,
  CAST((rank_units * 1000) // retained_units AS BIGINT) AS retained_permille
FROM ranked, tot ORDER BY node"""

  /** q131 twin: connected components by a STRUCTURALLY DIFFERENT
    * algorithm — WITH RECURSIVE transitive closure over the
    * symmetrized edge set, label = least(node, min reachable node) —
    * agreeing with Spark's iterative min-label propagation makes this
    * a genuine cross-check rather than an echo. Lexicographic string
    * min is identical in both engines (ASCII). */
  val q131_components: String = """
WITH RECURSIVE p AS (
  SELECT DISTINCT 'd' || CAST(doc_id % 56 AS VARCHAR) AS a,
                  'd' || CAST(doc_id % 56 + 4 AS VARCHAR) AS b
  FROM documents),
e AS (SELECT DISTINCT s, d FROM (  -- UNION ALL + DISTINCT: the WITH RECURSIVE rule
  SELECT a AS s, b AS d FROM p UNION ALL SELECT b, a FROM p)),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
SELECT s AS node, least(s, min(d)) AS label
FROM reach GROUP BY s ORDER BY node"""

  /** q130 twin: TrustRank = the q124 iteration with the teleport base
    * restricted to the seed set (numeric suffix % 3 = 0) and a
    * seeds-only start vector; same BIGINT floor arithmetic. */
  val q130_trustrank: String = s"""
WITH e AS (${linkEd(23, 29)}),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
flagged AS (
  SELECT node, CAST(substr(node, 2) AS INTEGER) % 3 = 0 AS is_seed FROM nodes),
r0 AS (SELECT node, is_seed,
         CASE WHEN is_seed THEN CAST(1000000000000 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS rank_units
       FROM flagged),
i1 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r1 AS (SELECT f.node, f.is_seed,
         CASE WHEN f.is_seed THEN 150000000000 ELSE 0 END
           + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM flagged f LEFT JOIN i1 i USING (node)),
i2 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r2 AS (SELECT f.node, f.is_seed,
         CASE WHEN f.is_seed THEN 150000000000 ELSE 0 END
           + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM flagged f LEFT JOIN i2 i USING (node)),
i3 AS (SELECT e.dst AS node, sum(r.rank_units // o.out_degree) AS in_mass
       FROM e JOIN r2 r ON e.src = r.node JOIN outdeg o ON e.src = o.node
       GROUP BY e.dst),
r3 AS (SELECT f.node, f.is_seed,
         CASE WHEN f.is_seed THEN 150000000000 ELSE 0 END
           + (85 * COALESCE(i.in_mass, 0)) // 100 AS rank_units
       FROM flagged f LEFT JOIN i3 i USING (node))
SELECT n.node, CAST(COALESCE(o.out_degree, 0) AS BIGINT) AS out_degree,
       r.is_seed, CAST(r.rank_units AS BIGINT) AS rank_units
FROM nodes n LEFT JOIN outdeg o USING (node) JOIN r3 r USING (node)
ORDER BY n.node"""

  /** q129 twin: the identical counts-of-counts Gini derivation —
    * gini_num = Σ v·m·(2L+m) − n·total with L = cumulative m over
    * ascending count value v, exclusive. All BIGINT, `//` floor div. */
  val q129_domain_gini: String = """
WITH d AS (
  SELECT 'd' || CAST((doc_id * doc_id) % 41 AS VARCHAR) AS domain FROM documents),
c AS (SELECT domain, count(*) AS c FROM d GROUP BY domain),
bv AS (SELECT c, count(*) AS m FROM c GROUP BY c),
lv AS (
  SELECT c, m,
    COALESCE(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS L
  FROM bv),
agg AS (
  SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(c * m) AS BIGINT) AS t,
    CAST(sum(c * m * (2 * L + m)) AS BIGINT) AS a,
    CAST(max(c) AS BIGINT) AS cmax
  FROM lv)
SELECT n AS n_groups, t AS total_rows,
  a - n * t AS gini_num, n * t AS gini_den,
  ((a - n * t) * 1000) // (n * t) AS gini_permille,
  (cmax * 1000) // t AS top_share_permille
FROM agg"""

  /** q132 twin: the composed curation pass — q116's host/domain
    * extraction (first-principles regexes, not an echo of the Spark
    * operator), a per-domain row_number cap ordered by quality
    * (n_chars DESC, doc_id), and q129's counts-of-counts Gini CTE
    * applied to the corpus before and after the cap. */
  val q132_quota_cap_audit: String = """
WITH u AS (
  SELECT doc_id, n_chars,
    (['HTTP','https','HtTpS'])[CAST(doc_id % 3 + 1 AS INT)] || '://' ||
    CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
    'Sub' || CAST(doc_id % 4 AS VARCHAR) ||
    '.ExAmple' || CAST((doc_id * doc_id) % 7 AS VARCHAR) || '.CoM' ||
    ([':443', ':80', ':8080', ''])[CAST(doc_id % 4 + 1 AS INT)] ||
    '/p' || CAST(doc_id % 13 AS VARCHAR) AS url
  FROM documents),
doms AS (
  SELECT doc_id, n_chars,
    regexp_extract(lower(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
      '([^.]+\.[^.]+)$', 1) AS domain
  FROM u),
capped AS (
  SELECT domain FROM (
    SELECT domain, row_number() OVER (PARTITION BY domain
      ORDER BY n_chars DESC, doc_id) AS rn
    FROM doms)
  WHERE rn <= 100),
cb AS (SELECT domain, count(*) AS c FROM doms GROUP BY domain),
bvb AS (SELECT c, count(*) AS m FROM cb GROUP BY c),
lvb AS (
  SELECT c, m,
    COALESCE(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS L
  FROM bvb),
ab AS (
  SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(c * m) AS BIGINT) AS t,
    CAST(sum(c * m * (2 * L + m)) AS BIGINT) AS a,
    CAST(max(c) AS BIGINT) AS cmax
  FROM lvb),
ca AS (SELECT domain, count(*) AS c FROM capped GROUP BY domain),
bva AS (SELECT c, count(*) AS m FROM ca GROUP BY c),
lva AS (
  SELECT c, m,
    COALESCE(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS L
  FROM bva),
aa AS (
  SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(c * m) AS BIGINT) AS t,
    CAST(sum(c * m * (2 * L + m)) AS BIGINT) AS a,
    CAST(max(c) AS BIGINT) AS cmax
  FROM lva)
SELECT 'before' AS phase, n AS n_groups, t AS total_rows,
  a - n * t AS gini_num, n * t AS gini_den,
  ((a - n * t) * 1000) // (n * t) AS gini_permille,
  (cmax * 1000) // t AS top_share_permille
FROM ab
UNION ALL
SELECT 'after', n, t, a - n * t, n * t,
  ((a - n * t) * 1000) // (n * t), (cmax * 1000) // t
FROM aa
ORDER BY phase"""

  /** q133 twin: harmonic centrality by a structurally different
    * derivation — a recursive CTE enumerates bounded directed WALKS
    * (dedup'd by exact (node, from, d) triple, length ≤ 4, never
    * returning to the start node), MIN(d) per pair recovers the
    * shortest-path distance, and the same floor(1e6/d) micro-unit
    * sum must match Spark's BFS-frontier accumulation bit for bit. */
  val q133_harmonic: String = s"""
WITH RECURSIVE e AS (${linkEd(23, 29)}),
-- DISTINCT spelled explicitly: under WITH RECURSIVE, DuckDB 1.0 does
-- NOT deduplicate a plain UNION in a non-self-referencing CTE (q131's
-- oracle never noticed because its downstream GROUP BY absorbs dupes).
nodes AS (SELECT DISTINCT node FROM
  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
paths(node, frm, d) AS (
  SELECT dst, src, 1 FROM e
  UNION
  SELECT p.node, e.src, p.d + 1
  FROM paths p JOIN e ON e.dst = p.frm
  WHERE p.d < 4 AND e.src <> p.node),
mind AS (SELECT node, frm, min(d) AS md FROM paths GROUP BY node, frm),
h AS (
  SELECT node, CAST(count(*) AS BIGINT) AS reached,
    CAST(sum(1000000 // md) AS BIGINT) AS harmonic_units
  FROM mind GROUP BY node)
SELECT n.node, COALESCE(h.reached, 0) AS reached,
  COALESCE(h.harmonic_units, 0) AS harmonic_units
FROM nodes n LEFT JOIN h USING (node) ORDER BY node"""

  /** q134 twin: degrees + reciprocated-edge counts over the shared
    * q124 edge fixture — plain aggregations and one pair self-join. */
  val q134_graph_audit: String = s"""
WITH e AS (${linkEd(23, 29)}),
nodes AS (SELECT DISTINCT node FROM
  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outd AS (SELECT src AS node, count(*) AS c FROM e GROUP BY 1),
ind AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY 1),
recip AS (
  SELECT a.src AS node, count(*) AS c
  FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
  GROUP BY 1)
SELECT n.node,
  CAST(COALESCE(o.c, 0) AS BIGINT) AS out_degree,
  CAST(COALESCE(i.c, 0) AS BIGINT) AS in_degree,
  CAST(COALESCE(r.c, 0) AS BIGINT) AS reciprocal_edges
FROM nodes n LEFT JOIN outd o USING (node)
  LEFT JOIN ind i USING (node) LEFT JOIN recip r USING (node)
ORDER BY node"""

  /** q137's k-gram postings: the planted shared span, 5-gram md5
    * postings, the df ≤ 64 cap, and every (doc_a < doc_b) posting
    * match with its diagonal. */
  private val sharedSpanCtes: String = """
WITH s AS (
  SELECT doc_id,
    CASE WHEN doc_id % 25 = 3
         THEN text || ' shared span alpha beta gamma delta epsilon zeta eta theta iota kappa'
         ELSE text END AS t
  FROM documents),
tok AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS l FROM s),
post AS (
  SELECT doc_id, i AS pos, md5(array_to_string(l[i+1:i+5], ' ')) AS g
  FROM tok, unnest(range(0, len(l) - 4)) AS u(i)
  WHERE len(l) >= 5),
capped AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM post GROUP BY g)
  WHERE df <= 64),
kept AS (SELECT p.* FROM post p JOIN capped USING (g)),
pr AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
    a.pos - b.pos AS diag
  FROM kept a JOIN kept b USING (g)
  WHERE a.doc_id < b.doc_id)"""

  /** q137 twin: the same k-gram postings / df cap / diagonal
    * gaps-and-islands construction from first principles — DuckDB's
    * 1-based list slice l[i+1:i+5] is exactly Spark's
    * slice(toks, i+1, 5), and both engines' \s+ split and md5 agree
    * on identical input strings. */
  val q137_shared_spans: String = sharedSpanCtes + """,
runs AS (
  SELECT doc_a, doc_b, diag,
    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
  FROM pr),
r2 AS (
  SELECT doc_a, doc_b, count(*) AS run
  FROM runs GROUP BY doc_a, doc_b, diag, island)
SELECT doc_a, doc_b,
  CAST(max(run) + 4 AS BIGINT) AS max_span_tokens,
  CAST(sum(run) AS BIGINT) AS n_shared_grams
FROM r2 GROUP BY doc_a, doc_b
HAVING max(run) + 4 >= 8
ORDER BY doc_a, doc_b"""

  /** q138 twin: q137's construction carried through to spans in
    * VICTIM coordinates (doc_b = the later doc; keep-first policy),
    * NOT EXISTS anti-filter over token positions, ordered string_agg
    * reassembly, md5 compare; a fully-excised doc reads back as
    * md5('') via the universe left join. */
  val q138_span_removal: String = sharedSpanCtes + """,
runs AS (
  SELECT doc_a, doc_b, diag, pa,
    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
  FROM pr),
r2 AS (
  SELECT doc_a, doc_b, diag, island, count(*) AS run, min(pa) AS start_a
  FROM runs GROUP BY doc_a, doc_b, diag, island),
spans AS (
  SELECT doc_b AS doc_id, start_a - diag AS s0,
         start_a - diag + run + 3 AS e0
  FROM r2 WHERE run + 4 >= 8),
tpos AS (
  SELECT doc_id, i AS pos, l[i+1] AS tok
  FROM tok, unnest(range(0, len(l))) AS u(i)),
surv AS (
  SELECT t.* FROM tpos t
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s0 AND t.pos <= sp.e0)),
rebuilt AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM surv GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
  CAST(len(t.l) - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed,
  md5(COALESCE(r.clean_text, '')) AS clean_md5
FROM tok t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id"""

  /** q139 twin: the α = 1/2 temperature-mix audit re-derived from
    * first principles — corrected floor(sqrt(double)) recovers the
    * exact isqrt weight, the anchor argmax uses the same single IEEE
    * double division as the q75 mixture, rates are exact integer
    * permyriads, survivors come from the shared md5 hash filter. */
  val q139_temperature_mix: String = """
WITH c AS (SELECT lang, count(*) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
w0 AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
       FROM c),
w AS (SELECT lang, n,
        s0 - CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END
           + CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END AS wgt
      FROM w0),
a AS (SELECT n AS an, wgt AS aw FROM w
      ORDER BY CAST(wgt AS DOUBLE) / n DESC, lang LIMIT 1),
r AS (SELECT lang, n, wgt,
        CAST((10000 * wgt * an) // (n * aw) AS BIGINT) AS rate
      FROM w CROSS JOIN a),
k AS (SELECT d.lang, count(*) AS n_after
      FROM documents d JOIN r USING (lang)
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
              % 10000 < rate
      GROUP BY d.lang)
SELECT r.lang, CAST(n AS BIGINT) AS n_before, CAST(wgt AS BIGINT) AS weight,
  rate AS rate_permyriad, CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after
FROM r LEFT JOIN k USING (lang)
ORDER BY lang"""

  /** q140 twin: the SCD2 starts+lead construction in DuckDB window
    * SQL — run starts where the null-safe lag differs (or row 1),
    * lead(ts) over the starts closes each interval, NULL close =
    * current row. Ties on ts order by the attribute value in both
    * engines. */
  val q140_scd2_dimension: String = """
WITH o AS (
  SELECT user_id, event_type, ts,
    row_number() OVER w AS rn,
    lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
st AS (
  SELECT user_id, event_type, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS valid_to
  FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
SELECT user_id, event_type, valid_from, valid_to,
  valid_to IS NULL AS is_current
FROM st
ORDER BY user_id, valid_from, event_type"""

  /** q141 twin: both snapshot sides rebuilt from the documents
    * formulas, full-outer joined, per-column IS DISTINCT FROM tests in
    * the same sorted column order (lang, n_chars, source, text) the
    * Spark side uses. */
  val q141_snapshot_diff: String = """
WITH newd AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 3 THEN text || '!' ELSE text END AS text,
    lang, source, n_chars
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 10000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
    o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new,
    list_filter([
      CASE WHEN o.lang IS DISTINCT FROM n.lang THEN 'lang' END,
      CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars THEN 'n_chars' END,
      CASE WHEN o.source IS DISTINCT FROM n.source THEN 'source' END,
      CASE WHEN o.text IS DISTINCT FROM n.text THEN 'text' END],
      x -> x IS NOT NULL) AS ch
  FROM documents o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
SELECT doc_id,
  CASE WHEN NOT in_old THEN 'added'
       WHEN NOT in_new THEN 'removed'
       WHEN len(ch) > 0 THEN 'changed'
       ELSE 'unchanged' END AS status,
  CASE WHEN in_old AND in_new
       -- array_to_string([]) is NULL in DuckDB 1.0, not ''
       THEN COALESCE(array_to_string(ch, ','), '') ELSE '' END
    AS changed_cols
FROM j ORDER BY doc_id"""

  /** q142 twin: the composed curation pipeline re-derived stage by
    * stage — q73's rule gate, keep-first dedup on the text key,
    * q139's exact α=1/2 temperature rates computed over the
    * POST-DEDUP survivors (the composition contract this query
    * exists to pin), q74's salted shard/order hashes. */
  /** Shared quality-gate + exact-dedup CTE chain (the q142 stages,
    * reused verbatim by the q357 SFT capstone — the zero-drift rule
    * for composed-pipeline twins): rule features → keepers → gated →
    * keep-first text dedup. `ded` carries text so downstream
    * consumers can re-tokenize the survivors. Expects `toks` in
    * scope (toksCte). */
  private def curationGateCtes: String = {
    import graft.text.QualityRules._
    val stopList = allStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""
, feats AS (
  SELECT doc_id,
    CAST(len(tokens) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tokens, t -> CAST(length(t) AS BIGINT))), (a,x) -> a + x)
      AS sum_len,
    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_uniq,
    CAST(len(list_filter(tokens, t -> regexp_matches(t, '^[0-9]+$$'))) AS BIGINT)
      AS n_digit,
    CAST(len(list_filter(tokens, t -> list_contains($stopList, t))) AS BIGINT)
      AS n_stop
  FROM toks WHERE len(tokens) > 0),
keepers AS (
  SELECT doc_id FROM feats
  WHERE n_tokens >= $minTokens AND n_tokens <= $maxTokens
    AND CAST(sum_len AS DOUBLE) / n_tokens >= $minAvgLen
    AND CAST(sum_len AS DOUBLE) / n_tokens <= $maxAvgLen
    AND CAST(n_digit AS DOUBLE) / n_tokens <= $maxDigitRatio
    AND CAST(n_uniq AS DOUBLE) / n_tokens >= $minUniqueRatio
    AND n_stop >= $minStopHits),
gated AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
ded AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gated)
  WHERE rn = 1)"""
  }

  val q142_curation_pipeline: String = {
    toksCte + curationGateCtes + s"""
, c AS (SELECT lang, count(*) AS n FROM ded WHERE lang IS NOT NULL GROUP BY lang),
w0 AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
       FROM c),
w AS (SELECT lang, n,
        s0 - CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END
           + CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END AS wgt
      FROM w0),
a AS (SELECT n AS an, wgt AS aw FROM w
      ORDER BY CAST(wgt AS DOUBLE) / n DESC, lang LIMIT 1),
r AS (SELECT lang, CAST((10000 * wgt * an) // (n * aw) AS BIGINT) AS rate
      FROM w CROSS JOIN a),
mixed AS (
  SELECT d.doc_id, d.lang FROM ded d JOIN r USING (lang)
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
          % 10000 < rate),
h AS (
  SELECT doc_id, lang,
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 8
      AS INTEGER) AS shard,
    CAST(('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
      AS oh
  FROM mixed)
SELECT doc_id, lang, shard,
  row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id) AS pos
FROM h ORDER BY doc_id"""
  }

  /** q143 twin: consecutive event-type pairs per user via the same
    * (ts, event_id)-ordered lead, integer-floor permille over the
    * from-type window. */
  val q143_transitions: String = """
WITH s AS (
  SELECT event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
p AS (
  SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
  CAST((n * 1000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
    AS share_permille
FROM p ORDER BY from_type, to_type"""

  /** q136 twin: the quarantine split derived from the fixture FORMULA
    * (every 7th doc_id writes a broken line), not by parsing the file
    * — the Spark side must recover exactly this partition of the feed
    * through its permissive read. */
  val q136_malformed_quarantine: String = """
SELECT category, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT CASE WHEN doc_id % 7 = 0 THEN '__malformed' ELSE lang END AS category
  FROM documents)
GROUP BY category ORDER BY category"""

  /** q128 twin: the SAME code-line detector regex (generated from
    * [[graft.text.TextAnalysis.codeLinePattern]] — every alternation
    * branch consumes the full line, so Java's leftmost-first and
    * RE2's leftmost-longest count identically) over the same
    * synthesized prose+code mix. */
  val q128_code_detect: String = {
    val pat = graft.text.TextAnalysis.codeLinePattern
    val i = "CAST(doc_id AS VARCHAR)"
    val footer = s"chr(10) || 'def load_' || $i || '(x):' || chr(10) || " +
      s"'    return x + ' || $i || chr(10) || 'const n' || $i || ' = ' || $i || " +
      s"';' || chr(10) || 'if (n' || $i || ' > 0) ' || chr(123) || chr(10) || " +
      s"'    emit(n' || $i || ');' || chr(10) || chr(125)"
    s"""
WITH s AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 3 = 0 THEN $footer ELSE '' END AS t
  FROM documents),
p AS (
  SELECT doc_id,
    CASE WHEN length(t) = 0 THEN 0
         ELSE len(regexp_extract_all(t, chr(10))) + 1 END AS n_lines,
    len(regexp_extract_all(t, '$pat')) AS n_code_lines
  FROM s),
p2 AS (
  SELECT doc_id, n_lines, n_code_lines,
    CASE WHEN n_lines > 0 THEN (n_code_lines * 1000) // n_lines END AS code_permille
  FROM p)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
  CAST(n_code_lines AS BIGINT) AS n_code_lines,
  CAST(code_permille AS BIGINT) AS code_permille,
  COALESCE(code_permille >= 500, FALSE) AS is_code
FROM p2 ORDER BY doc_id"""
  }

  /** q127 twin: purged walk-forward folds from the same closed-form
    * integer arithmetic — block = (di·k)//span, start_f = ⌈f·span/k⌉
    * via the (f·span + k−1)//k identity, end_f = start_(f+1) − 1 —
    * over the shared merged-bars CTE. k=5, embargo=10 days. */
  val q127_purged_folds: String = barsCte + """
, bounds AS (SELECT min(date) AS dmin, max(date) AS dmax FROM merged),
rows_ AS (
  SELECT m.symbol, m.date,
    date_diff('day', b.dmin, m.date) AS di,
    date_diff('day', b.dmin, b.dmax) + 1 AS span
  FROM merged m, bounds b),
r AS (
  SELECT f.fold, rows_.*,
    CASE WHEN (di * 5) // span = f.fold THEN 'test'
         WHEN di >= (f.fold * span + 4) // 5 - 10
          AND di <= ((f.fold + 1) * span + 4) // 5 - 1 + 10 THEN 'purged'
         ELSE 'train' END AS role
  FROM rows_ CROSS JOIN range(5) f(fold))
SELECT fold, role, count(*) AS n_rows,
  count(DISTINCT symbol) AS n_symbols,
  min(date) AS d_min, max(date) AS d_max
FROM r GROUP BY fold, role ORDER BY fold, role"""

  /** q126 twin: the IDENTICAL redaction cascade, generated from the
    * same [[graft.text.TextAnalysis.piiPatterns]] table the Spark
    * operator folds over (same name-sorted order, same `(?i)` inline
    * flag — RE2 and Java agree on both), with DuckDB's 'g' flag
    * supplying Java's replace-all default. md5 over the full redacted
    * text makes the whole rewrite the compared value. */
  val q126_pii_redact: String = {
    val pats = graft.text.TextAnalysis.piiPatterns.toSeq.sortBy(_._1)
    val synth = "text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77'"
    val red = pats.foldLeft("synth") { case (c, (name, pat)) =>
      s"regexp_replace($c, '(?i)$pat', '<$name>', 'g')"
    }
    val counts = pats.map { case (_, pat) =>
      s"len(regexp_extract_all(lower(synth), '$pat'))"
    }.mkString(" + ")
    s"""
WITH s AS (SELECT doc_id, $synth AS synth FROM documents),
r AS (SELECT doc_id, CAST($counts AS BIGINT) AS n_matches, $red AS red FROM s)
SELECT doc_id, n_matches,
  CAST(length(red) AS BIGINT) AS redacted_chars,
  md5(red) AS redacted_md5
FROM r ORDER BY doc_id"""
  }

  val q23_embed_neardup: String = s"""
WITH $lshCtes
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ${sqlCosine("a.embedding", "b.embedding")} AS cosine
  FROM s a JOIN s b ON ${sqlAnyBand("a", "b")} AND a.vec_id < b.vec_id)
WHERE cosine >= 0.4 ORDER BY id_a, id_b"""

  /** Shared CTE chain for q331/q332 — the kNN-graph twin of
    * [[graft.similarity.Similarity.knnGraphDescent]] (k = 10,
    * revCap = 10, one NN-Descent round): LSH seed pairs (one row per
    * colliding pair — the OR-join emits one row per pair, matching
    * the Spark side's firstMatchingBand dedup), per-src top-10 seed
    * graph, rank-capped reverse edges, shared-pivot candidates,
    * UNION dedup (≡ the Spark `.distinct()`), exact-cosine re-rank.
    * Norms are precomputed once per vector (`nrm`) — the same
    * sqrt(selfdot) double the per-pair sqlCosine form would produce,
    * hoisted exactly like the Spark side's vecNorm projection. */
  private def knnDescentCtes(src: String = "embeddings"): String = {
    val cosAB = s"${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)"
    val cosE = s"${sqlDot("e1.embedding", "e2.embedding")} / (e1.nrm * e2.nrm)"
    s"""
WITH hp(m) AS (SELECT $hpMatrix),
nrm AS (
  SELECT vec_id, embedding,
    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
  FROM $src),
s AS (
  SELECT vec_id, embedding, nrm,
    $sqlKeyCols
  FROM nrm, hp),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, $cosAB AS cosine
  FROM s a JOIN s b ON ${sqlAnyBand("a", "b")} AND a.vec_id <> b.vec_id),
g0 AS (
  SELECT src, dst, cosine FROM (
    SELECT src, dst, cosine,
      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS r
    FROM pairs) WHERE r <= 10),
rev AS (
  SELECT dst AS src, src AS dst FROM (
    SELECT src, dst,
      row_number() OVER (PARTITION BY dst ORDER BY cosine DESC, src) AS r
    FROM g0) WHERE r <= 10),
adj AS (
  -- UNION ALL + outer DISTINCT, not bare UNION (the q323 note): when
  -- a consumer wraps this chain in WITH RECURSIVE (q344/q347), DuckDB
  -- 1.0 treats any UNION-bodied CTE as a recursive union and SKIPS
  -- the cross-branch dedup — duplicate candidate rows then eat the
  -- row_number() top-k cut below, and WHICH duplicates survive is
  -- run-dependent: the oracle's edge set silently went
  -- nondeterministic (caught by q347's first verify run).
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM g0 UNION ALL SELECT src, dst FROM rev)),
cand AS (
  SELECT x.dst AS src, y.dst AS dst
  FROM adj x JOIN adj y ON x.src = y.src AND x.dst <> y.dst),
allc AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM cand UNION ALL SELECT src, dst FROM g0)),
rescored AS (
  SELECT c.src, c.dst, $cosE AS cosine
  FROM allc c JOIN nrm e1 ON e1.vec_id = c.src
    JOIN nrm e2 ON e2.vec_id = c.dst),
g1 AS (
  SELECT src, dst, cosine, r FROM (
    SELECT src, dst, cosine,
      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS r
    FROM rescored) WHERE r <= 10)"""
  }

  /** q331 twin: the refined graph itself. */
  val q331_knn_descent: String = knnDescentCtes() + """
SELECT src AS vec_id, dst AS neighbor_id, CAST(r AS INTEGER) AS rank, cosine
FROM g1 ORDER BY vec_id, rank"""

  /** q341 twin of the decimation round trip: the decimated stats all
    * derive from the q216 SAMPLE FORMULA at frames 0, 3, 6, … — no
    * WAV parsed or produced in the oracle, so hash equality pins
    * decode → every-3rd-frame decimation → re-encode → re-decode,
    * including the divided declared rate and the decimated-order
    * channel-0 zero-crossing count. */
  val q341_wav_decimate: String = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 37 AS nf,
    8000 + 100 * (doc_id % 4) AS rate
  FROM documents),
sm AS (
  SELECT d.doc_id, d.ch, d.nf, d.rate, fr.f, c.c,
    ((7919 * d.doc_id + 104729 * (fr.f * d.ch + c.c)
      + 1299721 * (fr.f * d.ch + c.c) * (fr.f * d.ch + c.c)) % 65536)
      - 32768 AS v
  FROM d,
    LATERAL (SELECT unnest(range(0, CAST(d.nf AS BIGINT), 3)) AS f) fr,
    LATERAL (SELECT unnest(range(0, CAST(d.ch AS BIGINT))) AS c) c),
z AS (
  SELECT doc_id, count(*) AS zc FROM (
    SELECT doc_id, v,
      lag(v) OVER (PARTITION BY doc_id ORDER BY f) AS pv
    FROM sm WHERE c = 0)
  WHERE pv IS NOT NULL AND ((v < 0) <> (pv < 0))
  GROUP BY doc_id),
agg AS (
  SELECT doc_id, max(ch) AS ch, max(rate) AS rate, max(nf) AS nf,
    sum(v) AS sum_all, sum(abs(v)) AS sum_abs,
    min(v) AS min_s, max(v) AS max_s
  FROM sm GROUP BY doc_id)
SELECT a.doc_id, CAST(a.ch AS BIGINT) AS channels,
  -- greatest(1, ...) mirrors the operator's 1 Hz header clamp (a
  -- factor above the sample rate must not write a 0 Hz header);
  -- dormant at this fixture's factor 3 << rate, pinned so any future
  -- parameter change keeps the engines agreeing
  CAST(greatest(1, a.rate // 3) AS BIGINT) AS sample_rate,
  CAST((a.nf + 2) // 3 AS BIGINT) AS n_frames,
  CAST(a.sum_all AS BIGINT) AS sum_all,
  CAST(a.sum_abs AS BIGINT) AS sum_abs,
  CAST(a.min_s AS BIGINT) AS min_s, CAST(a.max_s AS BIGINT) AS max_s,
  CAST(coalesce(z.zc, 0) AS BIGINT) AS zero_cross0
FROM agg a LEFT JOIN z ON z.doc_id = a.doc_id
ORDER BY a.doc_id"""

  /** q340 twin of the thumbnail round trip: stride, thumb dims, and
    * per-channel sums all derive from the q114-style PIXEL FORMULAS
    * at the nearest-sampled coordinates (tx·s, ty·s) — no PNG is
    * parsed or produced anywhere in the oracle, so hash equality
    * pins decode → integer-stride resample → re-encode → re-decode
    * end to end. */
  val q340_png_thumbnail: String = """
WITH td AS (
  SELECT doc_id, w, h, s, (w + s - 1) // s AS tw, (h + s - 1) // s AS th
  FROM (
    SELECT doc_id, w, h, greatest((w + 5) // 6, (h + 5) // 6, 1) AS s
    FROM (SELECT doc_id, 12 + doc_id % 9 AS w, 10 + doc_id % 7 AS h
          FROM documents))),
px AS (
  SELECT t.doc_id, t.tw, t.th,
    (7 * t.doc_id + 13 * (tx.i * t.s) + 31 * (ty.i * t.s)) % 256 AS r,
    (11 * t.doc_id + 17 * (tx.i * t.s) + 5 * (ty.i * t.s)) % 256 AS g,
    (3 * t.doc_id + 29 * (tx.i * t.s) + 23 * (ty.i * t.s)) % 256 AS b
  FROM td t,
    LATERAL (SELECT unnest(range(0, t.tw)) AS i) tx,
    LATERAL (SELECT unnest(range(0, t.th)) AS i) ty)
SELECT doc_id,
  CAST(max(tw) AS BIGINT) AS width, CAST(max(th) AS BIGINT) AS height,
  CAST(count(*) AS BIGINT) AS n_pixels,
  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id ORDER BY doc_id"""

  /** q338 twin of [[graft.dedup.Dedup.winnowingPairs]] (k=3, w=4,
    * maxDocFreq=50): the same shingle hashes with 1-based positions,
    * the same per-window rightmost-min (min over (h, -p) structs),
    * full windows only, distinct (doc, hash) fingerprints, df-capped
    * pair counts. */
  val q338_winnowing_pairs: String = shinglesCte + """
, g AS (
  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS p,
    len(hs) AS ng
  FROM xs WHERE len(hs) >= 4),
win AS (
  SELECT doc_id, p, ng,
    min(struct_pack(h := h, np := -p)) OVER (
      PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
  FROM g),
fp AS (
  SELECT DISTINCT doc_id, m.h AS h
  FROM win WHERE p <= ng - 3),
kept AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM fp GROUP BY 1)
  WHERE c BETWEEN 2 AND 50)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
JOIN kept k ON k.h = a.h
GROUP BY 1, 2 ORDER BY doc_a, doc_b"""

  /** q349 twin of [[graft.dedup.Dedup.winnowingSpans]]: the q338
    * pipeline keeping the selected positions (DuckDB's
    * generate_subscripts is 1-based; Spark's posexplode is 0-based —
    * the twin emits p − 1), extents as min/max matched positions per
    * side, distinct-hash counts, HAVING the minShared floor. */
  val q349_winnowing_spans: String = shinglesCte + """
, g AS (
  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS p,
    len(hs) AS ng
  FROM xs WHERE len(hs) >= 4),
win AS (
  SELECT doc_id, p, ng,
    min(struct_pack(h := h, np := -p)) OVER (
      PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
  FROM g),
fps AS (
  SELECT DISTINCT doc_id, m.h AS h, -m.np AS p
  FROM win WHERE p <= ng - 3),
kept AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM fps GROUP BY 1)
  WHERE c BETWEEN 2 AND 50)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(count(DISTINCT a.h) AS BIGINT) AS n_shared,
  CAST(min(a.p) - 1 AS BIGINT) AS a_min_pos,
  CAST(max(a.p) - 1 AS BIGINT) AS a_max_pos,
  CAST(min(b.p) - 1 AS BIGINT) AS b_min_pos,
  CAST(max(b.p) - 1 AS BIGINT) AS b_max_pos
FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
JOIN kept k ON k.h = a.h
GROUP BY 1, 2
HAVING count(DISTINCT a.h) >= 2
ORDER BY doc_a, doc_b"""

  /** Shared dictionary literal for the q351/q352 twins — generated
    * from the SAME [[graft.text.Blocklist.defaultTerms]] constant the
    * Spark side scans with (the piiPatterns zero-drift device). */
  private def blocklistTermsCte: String = {
    val terms = graft.text.Blocklist.defaultTerms
      .map(t => s"'${t.toLowerCase}'").mkString(", ")
    s"""WITH t AS (SELECT unnest([$terms]) AS term),
c AS (
  SELECT d.doc_id, t.term,
    (length(lower(d.text)) - length(replace(lower(d.text), t.term, '')))
      // length(t.term) AS n_hits
  FROM documents d CROSS JOIN t)"""
  }

  /** q351 twin of [[graft.text.Blocklist.blocklistScan]]: the
    * leftmost-greedy non-overlapping count IS the replace-count —
    * `replace` scans the original string left to right and never
    * rescans its own output — so one string function per (doc, term)
    * replays the automaton exactly. */
  def q351_blocklist_scan: String = blocklistTermsCte + """
SELECT doc_id, term, CAST(n_hits AS BIGINT) AS n_hits
FROM c WHERE n_hits > 0
ORDER BY doc_id, term"""

  /** q352 twin of [[graft.text.Blocklist.blocklistGate]]: the same
    * per-term counts aggregated per doc; keep = total ≤ 2. */
  def q352_blocklist_gate: String = blocklistTermsCte + """
SELECT doc_id,
  CAST(sum(n_hits) AS BIGINT) AS n_hits_total,
  CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS n_terms_hit,
  sum(n_hits) <= 2 AS keep
FROM c GROUP BY doc_id
ORDER BY doc_id"""

  /** q353 twin of [[graft.etl.RecordLinkage.fellegiSunterScores]]
    * over the dirty-customer catalog: q238's proven SNM replay (both
    * passes' total orders, offset windows, pair normalization,
    * unbounded-levenshtein-equivalent verify) + the attribute join +
    * the SAME milli-bit weight integers, interpolated from the ONE
    * [[graft.etl.RecordLinkage.demoFields]] config both engines sum
    * (the normalCutsPermille shared-constant device) — query-time
    * scoring is a pure BIGINT sum, no float in either engine. */
  /** Shared dirty-customer candidate CTEs for the q353/q361 twins
    * (paired with SparkEntry.fsCustomerPairs): recs construction,
    * q238's proven SNM replay, the attribute join, the four boolean
    * agreement columns. */
  private val fsPairsCtes: String = s"""recs AS (
  SELECT c_custkey * 2 AS rec_id, c_name AS name,
    c_nationkey AS nation, c_mktsegment AS segment, c_acctbal AS bal
  FROM customer
  UNION ALL
  SELECT c_custkey * 2 + 1,
    substr(c_name, 1, 9) || 'q' || substr(c_name, 11),
    c_nationkey,
    CASE WHEN c_custkey % 15 = 0 THEN 'STALE' ELSE c_mktsegment END,
    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
  FROM customer WHERE c_custkey % 5 = 0),
$snmCandCtes,
kept AS (
  SELECT rec_a, rec_b, levenshtein(name_a, name_b) AS dist
  FROM cand WHERE levenshtein(name_a, name_b) <= 2),
agr AS (
  SELECT k.rec_a, k.rec_b,
    k.dist <= 1 AS agr_name,
    x.nation = y.nation AS agr_nation,
    x.segment = y.segment AS agr_segment,
    abs(x.bal - y.bal) < 1.0 AS agr_bal
  FROM kept k
  JOIN recs x ON k.rec_a = x.rec_id
  JOIN recs y ON k.rec_b = y.rec_id)"""

  def q353_fellegi_sunter: String = {
    val fs = graft.etl.RecordLinkage.demoFields
      .map(f => f.name -> (f.agreeWeight, f.disagreeWeight)).toMap
    def term(field: String): String = {
      val (wa, wd) = fs(field)
      s"(CASE WHEN agr_$field THEN $wa ELSE $wd END)"
    }
    "WITH " + fsPairsCtes + s""",
sc AS (
  SELECT rec_a, rec_b, agr_name, agr_nation, agr_segment, agr_bal,
    CAST(${term("name")} + ${term("nation")} + ${term("segment")} +
      ${term("bal")} AS BIGINT) AS score_millibits
  FROM agr)
SELECT rec_a, rec_b, agr_name, agr_nation, agr_segment, agr_bal,
  score_millibits,
  CASE WHEN score_millibits >= 6000 THEN 'match'
       WHEN score_millibits <= -2000 THEN 'non_match'
       ELSE 'possible' END AS verdict
FROM sc ORDER BY rec_a, rec_b"""
  }

  /** q361 twin of [[graft.etl.RecordLinkage.emStep]]: the shared pair
    * CTEs, the same 16 pattern counts in one aggregate row (FILTER
    * form), the SAME posterior constants interpolated from the ONE
    * [[graft.etl.RecordLinkage.posteriorWeights]] call (shortest-
    * round-trip double literals parse back to the identical bits),
    * and the updates as the TEXTUALLY same fixed-order scalar trees —
    * the q62 one-double device at 16 terms. */
  def q361_fs_em_step: String = {
    val flds = graft.etl.RecordLinkage.demoFields
    val w = graft.etl.RecordLinkage.posteriorWeights(flds, 50)
    val m = 1 << flds.size
    def n(g: Int) = s"CAST(n$g AS DOUBLE)"
    // Scientific notation is LOAD-BEARING: DuckDB types a plain
    // decimal literal as DECIMAL and its decimal→double conversion
    // is off by 1 ulp from a text→double parse (measured: the q361
    // u-side diverged in the last bit); an E-notation literal is
    // typed DOUBLE and strtod-parsed — 17 significant digits
    // round-trip the exact bits.
    def d(x: Double) = f"$x%.17e"
    def fold(terms: Seq[String]) = terms.mkString(" + ")
    val nW = fold((0 until m).map(g => s"${n(g)} * ${d(w(g))}"))
    val nU = fold((0 until m).map(g => s"${n(g)} * ${d(1.0 - w(g))}"))
    val nAll = fold((0 until m).map(n))
    val countCols = (0 until m).map(g =>
      s"count(*) FILTER (WHERE g = $g) AS n$g").mkString(",\n    ")
    val fieldSelects = flds.zipWithIndex.map { case (f, j) =>
      val mNum = fold((0 until m).filter(g => ((g >> j) & 1) == 1)
        .map(g => s"${n(g)} * ${d(w(g))}"))
      val uNum = fold((0 until m).filter(g => ((g >> j) & 1) == 1)
        .map(g => s"${n(g)} * ${d(1.0 - w(g))}"))
      s"""SELECT '${f.name}' AS component,
    ($mNum) / ($nW) * 1000.0 AS m_permille,
    ($uNum) / ($nU) * 1000.0 AS u_permille
  FROM c"""
    }
    val priorSelect = s"""SELECT 'prior' AS component,
    ($nW) / ($nAll) * 1000.0 AS m_permille,
    CAST(NULL AS DOUBLE) AS u_permille
  FROM c"""
    "WITH " + fsPairsCtes + s""",
pats AS (
  SELECT (CASE WHEN agr_name THEN 1 ELSE 0 END)
       + (CASE WHEN agr_nation THEN 2 ELSE 0 END)
       + (CASE WHEN agr_segment THEN 4 ELSE 0 END)
       + (CASE WHEN agr_bal THEN 8 ELSE 0 END) AS g
  FROM agr
  WHERE agr_name IS NOT NULL AND agr_nation IS NOT NULL
    AND agr_segment IS NOT NULL AND agr_bal IS NOT NULL),
c AS (
  SELECT
    $countCols
  FROM pats)
${(fieldSelects :+ priorSelect).mkString("\nUNION ALL\n")}
ORDER BY component"""
  }

  /** q354's SFT assembly CTEs after `ex0(shard, doc_id, <toks>)`:
    * md5 token ids (first 8 prompt, the rest completion), the
    * 256-token filter, the recursive packing and the padded
    * per-window flatten — q357 reuses them verbatim. */
  private def sftPackTail(toks: String): String = s"""
ex1 AS (
  SELECT shard, doc_id,
    list_transform($toks[1:8],
      t -> CAST(('0x' || substr(md5(t), 1, 14)) AS BIGINT)) AS p_ids,
    list_transform($toks[9:],
      t -> CAST(('0x' || substr(md5(t), 1, 14)) AS BIGINT)) AS c_ids
  FROM ex0),
ex AS (
  SELECT shard, doc_id,
    flatten([p_ids, c_ids, [CAST(-1 AS BIGINT)]]) AS ids,
    flatten([list_transform(p_ids, x -> 0),
             list_transform(c_ids, x -> 1), [1]]) AS mask,
    len(p_ids) + len(c_ids) + 1 AS sz
  FROM ex1
  WHERE len(p_ids) + len(c_ids) + 1 <= 256),
d AS (
  SELECT shard, doc_id, ids, mask, sz,
    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM ex),
st AS (
  SELECT shard, rn, doc_id, sz,
    CAST(1 AS BIGINT) AS pack_seq, sz AS pack_fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.sz,
    CASE WHEN st.pack_fill + d.sz <= 256
         THEN st.pack_seq ELSE st.pack_seq + 1 END,
    CASE WHEN st.pack_fill + d.sz <= 256
         THEN st.pack_fill + d.sz ELSE d.sz END
  FROM d JOIN st ON d.shard = st.shard AND d.rn = st.rn + 1),
w AS (
  SELECT st.shard, st.pack_seq, d.doc_id, d.ids, d.mask, d.sz
  FROM st JOIN d ON st.shard = d.shard AND st.doc_id = d.doc_id),
agg AS (
  SELECT shard, pack_seq,
    CAST(count(*) AS BIGINT) AS n_examples,
    CAST(sum(sz) AS BIGINT) AS n_tokens,
    flatten(list(ids ORDER BY doc_id)) AS i0,
    flatten(list(mask ORDER BY doc_id)) AS m0
  FROM w GROUP BY shard, pack_seq)
SELECT shard, pack_seq, n_examples, n_tokens,
  array_to_string(flatten([i0, list_transform(generate_series(1, 256 - n_tokens),
    x -> CAST(-2 AS BIGINT))]), ',') AS token_ids,
  array_to_string(flatten([m0, list_transform(generate_series(1, 256 - n_tokens),
    x -> 0)]), ',') AS loss_mask
FROM agg ORDER BY shard, pack_seq"""

  /** q354 twin of [[graft.etl.Packing.sftPack]]: the same raw-space
    * tokenization (the fixture text is already normalized — NOT the
    * toksCte regex clean), the shared md5 token hash ('0x'||substr
    * cast, the q237 idiom), the q64 recursive-CTE packing replay at
    * capacity 256, ordered list flatten per window, and
    * generate_series padding (generate_series(1,0) = [] — the full
    * window pads nothing). */
  val q354_sft_pack: String = s"""
WITH RECURSIVE ex0 AS (
  SELECT lang AS shard, doc_id,
    list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents),${sftPackTail("toks")}"""

  /** q355 twin of [[graft.etl.FuzzyMatch.soundexConflation]]: the
    * full textbook pipeline re-derived — same translate map (H/W
    * deleted by the short replacement), the same seven per-digit run
    * collapses ('g' flag: DuckDB replaces first match by default
    * where Spark replaces all; the variant-doubling regex is
    * ^-anchored so both replace exactly once), zero-strip, the
    * first-letter consonant drop, rpad. */
  val q355_soundex_conflation: String = """
WITH txt AS (
  SELECT text FROM documents
  UNION ALL
  SELECT array_to_string(list_transform(string_split(text, ' '),
    w -> regexp_replace(w, '^([^aeiou]*)([aeiou])', '\1\2\2')), ' ')
  FROM documents),
v AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM txt)
  WHERE w <> '' GROUP BY w),
k AS (
  SELECT word, freq,
    regexp_replace(upper(word), '[^A-Z]', '', 'g') AS letters,
    translate(regexp_replace(upper(word), '[^A-Z]', '', 'g'),
      'BFPVCGJKQSXZDTLMNRAEIOUYHW', '111122222222334556000000') AS coded
  FROM v),
col1 AS (
  SELECT word, freq, letters,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(coded,
        '00+', '0', 'g'), '11+', '1', 'g'), '22+', '2', 'g'),
        '33+', '3', 'g'), '44+', '4', 'g'), '55+', '5', 'g'),
        '66+', '6', 'g') AS collapsed
  FROM k),
sx AS (
  SELECT word, freq,
    CASE WHEN letters = '' THEN NULL
         ELSE rpad(substr(letters, 1, 1) ||
           substr(CASE WHEN substr(letters, 1, 1) IN
                    ('A','E','I','O','U','Y','H','W')
                  THEN replace(collapsed, '0', '')
                  ELSE substr(replace(collapsed, '0', ''), 2) END,
             1, 3), 4, '0') END AS code
  FROM col1)
SELECT code, CAST(count(*) AS BIGINT) AS n_forms,
  CAST(sum(freq) AS BIGINT) AS n_occurrences,
  string_agg(word, ',' ORDER BY word) AS forms
FROM sx WHERE code IS NOT NULL
GROUP BY code ORDER BY code"""

  /** q356 twin of the packing-order ablation: the q64 recursive
    * packing replay run TWICE — rn by doc_id (arrival) and rn by
    * (n_chars DESC, doc_id) (next-fit-decreasing) — then the same
    * per-pack padding stats and exact integer waste permille. */
  val q356_pack_order_ablation: String = """
WITH RECURSIVE d1 AS (
  SELECT lang AS shard, doc_id, n_chars AS size,
    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents),
s1 AS (
  SELECT shard, rn, size, CAST(1 AS BIGINT) AS pack_seq,
    size AS pack_fill
  FROM d1 WHERE rn = 1
  UNION ALL
  SELECT d1.shard, d1.rn, d1.size,
    CASE WHEN s1.pack_fill + d1.size <= 2000
         THEN s1.pack_seq ELSE s1.pack_seq + 1 END,
    CASE WHEN s1.pack_fill + d1.size <= 2000
         THEN s1.pack_fill + d1.size ELSE d1.size END
  FROM d1 JOIN s1 ON d1.shard = s1.shard AND d1.rn = s1.rn + 1),
d2 AS (
  SELECT lang AS shard, doc_id, n_chars AS size,
    row_number() OVER (PARTITION BY lang
      ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents),
s2 AS (
  SELECT shard, rn, size, CAST(1 AS BIGINT) AS pack_seq,
    size AS pack_fill
  FROM d2 WHERE rn = 1
  UNION ALL
  SELECT d2.shard, d2.rn, d2.size,
    CASE WHEN s2.pack_fill + d2.size <= 2000
         THEN s2.pack_seq ELSE s2.pack_seq + 1 END,
    CASE WHEN s2.pack_fill + d2.size <= 2000
         THEN s2.pack_fill + d2.size ELSE d2.size END
  FROM d2 JOIN s2 ON d2.shard = s2.shard AND d2.rn = s2.rn + 1),
p1 AS (
  SELECT shard, pack_seq, count(*) AS n_docs,
    greatest(2000 - max(pack_fill), 0) AS padding
  FROM s1 GROUP BY shard, pack_seq),
p2 AS (
  SELECT shard, pack_seq, count(*) AS n_docs,
    greatest(2000 - max(pack_fill), 0) AS padding
  FROM s2 GROUP BY shard, pack_seq),
u AS (
  SELECT 'arrival_order' AS strategy, CAST(count(*) AS BIGINT) AS n_packs,
    CAST(sum(n_docs) AS BIGINT) AS n_docs,
    CAST(sum(padding) AS BIGINT) AS sum_padding
  FROM p1
  UNION ALL
  SELECT 'length_desc', CAST(count(*) AS BIGINT),
    CAST(sum(n_docs) AS BIGINT), CAST(sum(padding) AS BIGINT)
  FROM p2)
SELECT strategy, n_packs, n_docs, sum_padding,
  (sum_padding * 1000) // (n_packs * 2000) AS waste_permille
FROM u ORDER BY strategy"""

  /** q357 twin of the composed SFT capstone: the SHARED
    * [[curationGateCtes]] stages (zero drift with q142's twin) feed
    * the q354 assembly CTEs — ex0 tokenizes the DEDUP SURVIVORS
    * instead of the raw table; everything downstream is the q354
    * text verbatim. toksCte's WITH is promoted to WITH RECURSIVE for
    * the packing CTE. */
  def q357_sft_capstone: String =
    toksCte.replaceFirst("WITH", "WITH RECURSIVE") + curationGateCtes + s"""
, ex0 AS (
  SELECT lang AS shard, doc_id,
    list_filter(string_split(text, ' '), t -> t <> '') AS toks2
  FROM ded),${sftPackTail("toks2")}"""

  /** Shared robots-fixture rule CTEs for the q358/q360 twins (paired
    * with SparkEntry.robotsHosts — same CASE shapes, chr(10) where
    * Spark's literal uses \n): hosts → line parse (comment strip,
    * first-colon key/value, trim/lower) → consecutive-UA group heads
    * via the same lag device → the graftbot-or-star candidate rule
    * set (the exact-agent-beats-* pick). */
  private val robotsCandCtes: String = """hosts AS (
  SELECT 'host' || CAST(n_nationkey AS VARCHAR) || '.example' AS host,
    CASE CAST(n_nationkey % 4 AS INT)
      WHEN 0 THEN '# default policy' || chr(10) || 'User-agent: *' ||
        chr(10) || 'Disallow: /private' || chr(10) ||
        'Allow: /private/pub' || chr(10)
      WHEN 1 THEN 'User-agent: graftbot' || chr(10) ||
        'User-agent: otherbot' || chr(10) || 'Disallow: /' || chr(10) ||
        'Allow: /docs' || chr(10) || chr(10) || 'User-agent: *' ||
        chr(10) || 'Disallow: /tmp' || chr(10)
      WHEN 2 THEN 'User-agent: *' || chr(10) || 'Disallow:' || chr(10)
      ELSE 'Disallow: /orphan' || chr(10) || 'User-agent: *' ||
        chr(10) || 'Crawl-delay: 2' || chr(10) || 'Disallow: /cgi' ||
        chr(10) END AS robots_txt
  FROM nation WHERE n_nationkey < 20),
lines0 AS (
  SELECT host,
    generate_subscripts(string_split(robots_txt, chr(10)), 1) - 1 AS line_no,
    unnest(string_split(robots_txt, chr(10))) AS raw
  FROM hosts),
lines1 AS (
  SELECT host, line_no, trim(regexp_replace(raw, '#.*', '')) AS l
  FROM lines0),
kv AS (
  SELECT host, line_no,
    lower(trim(substr(l, 1, strpos(l, ':') - 1))) AS k,
    trim(substr(l, strpos(l, ':') + 1)) AS v
  FROM lines1 WHERE strpos(l, ':') > 0),
kept AS (
  SELECT host, line_no, k, v, k = 'user-agent' AS is_ua
  FROM kv WHERE k IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
g AS (
  SELECT *, is_ua AND NOT coalesce(
      lag(is_ua) OVER (PARTITION BY host ORDER BY line_no), false)
    AS new_head
  FROM kept),
g2 AS (
  SELECT *, sum(CASE WHEN new_head THEN 1 ELSE 0 END)
      OVER (PARTITION BY host ORDER BY line_no) AS group_id
  FROM g),
heads AS (
  SELECT host, group_id, lower(v) AS user_agent FROM g2 WHERE is_ua),
rt AS (
  SELECT h.host, h.group_id, h.user_agent, r.k AS rule, r.v AS path,
    r.line_no
  FROM heads h JOIN (
    SELECT host, group_id, k, v, line_no FROM g2
    WHERE NOT is_ua AND group_id > 0) r
  ON h.host = r.host AND h.group_id = r.group_id),
pick AS (
  SELECT *, max(user_agent = 'graftbot')
      OVER (PARTITION BY host) AS has_exact
  FROM rt WHERE rule IN ('allow', 'disallow')),
cand AS (
  SELECT * FROM pick
  WHERE CASE WHEN has_exact THEN user_agent = 'graftbot'
        ELSE user_agent = '*' END)"""

  /** q358 twin of [[graft.text.Robots.parseRobots]] +
    * [[graft.text.Robots.robotsAllowed]]: the shared rule CTEs, then
    * the longest-path winner with allow winning ties replayed as one
    * ordered row_number. */
  val q358_robots_allowed: String = "WITH " + robotsCandCtes + """,
urls AS (
  SELECT doc_id,
    'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN '/private/pub/x' WHEN 1 THEN '/private/x'
      WHEN 2 THEN '/docs/d' WHEN 3 THEN '/tmp/t'
      ELSE '/cgi/run' END AS path
  FROM documents),
m AS (
  SELECT u.doc_id, u.host, u.path, c.rule, c.path AS rp, c.line_no
  FROM urls u LEFT JOIN cand c
  ON u.host = c.host AND length(c.path) > 0
    AND starts_with(u.path, c.path)),
w AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY (rp IS NOT NULL) DESC, length(rp) DESC,
        (rule = 'allow') DESC, line_no DESC) AS rn
  FROM m)
SELECT doc_id, host, path,
  CASE WHEN rp IS NULL THEN true ELSE rule = 'allow' END AS allowed,
  CAST(length(rp) AS BIGINT) AS winner_len
FROM w WHERE rn = 1 ORDER BY doc_id"""

  /** q359 twin of
    * [[graft.analytics.StockAnalytics.seasonalDecompose]]: the q174
    * daily dedup, then the exact micro-unit construction replayed —
    * centered 7-row window sum (full windows only), floor-quantized
    * trend, (symbol, weekday-slot) detrended means with the same
    * truncating integer division (measured identical both engines for
    * negatives), per-symbol centering, residual. The weekday slot is
    * days-since-1970-01-05 mod 7 — engine-neutral where dayofweek()
    * origins differ. */
  val q359_seasonal_decompose: String = barsCte + s"""
, daily AS (
  SELECT symbol, date, CAST(close AS BIGINT) AS close_units,
    CAST((date - DATE '1970-01-05') % 7 AS INTEGER) AS slot
  FROM $firstBars),
t AS (
  SELECT symbol, date, close_units, slot,
    CASE WHEN count(*) OVER win = 7
         THEN (sum(close_units) OVER win * 1000000) // 7 END AS trend_micro
  FROM daily
  WINDOW win AS (PARTITION BY symbol ORDER BY date
    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
t2 AS (
  SELECT *, close_units * 1000000 - trend_micro AS detrended_micro FROM t),
idx AS (
  SELECT symbol, slot,
    sum(detrended_micro) // count(*) AS raw
  FROM t2 WHERE detrended_micro IS NOT NULL
  GROUP BY symbol, slot),
adj AS (
  SELECT symbol, sum(raw) // count(*) AS a FROM idx GROUP BY symbol),
seas AS (
  SELECT idx.symbol, idx.slot, raw - a AS seasonal_micro
  FROM idx JOIN adj ON idx.symbol = adj.symbol)
SELECT t2.symbol, t2.date, t2.close_units,
  CAST(t2.trend_micro AS BIGINT) AS trend_micro,
  CAST(s.seasonal_micro AS BIGINT) AS seasonal_micro,
  CAST(t2.detrended_micro - s.seasonal_micro AS BIGINT) AS residual_micro
FROM t2 LEFT JOIN seas s
  ON t2.symbol = s.symbol AND t2.slot = s.slot
ORDER BY t2.symbol, t2.date"""

  /** q360 twin of the composed crawl frontier: the shared robots rule
    * CTEs + the canonical URL derived from the fixture's parameter
    * formulas alone (the q319 formula-oracle discipline — E100's
    * general canonicalization rules are independently oracled at
    * q116: here scheme lowers, :443 drops under https, the trailing
    * slash trims, utm_ params vanish and q=1 survives), the same
    * winner ordering, then the q239 politeness replay over the
    * allowed survivors. */
  val q360_crawl_frontier: String = "WITH " + robotsCandCtes + """,
u AS (
  SELECT doc_id,
    CAST(doc_id % 13 AS BIGINT) AS priority,
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END || '://' ||
      'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' ||
      CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN '/private/pub/x' WHEN 1 THEN '/private/x'
        WHEN 2 THEN '/docs/d' WHEN 3 THEN '/tmp/t'
        ELSE '/cgi/run' END ||
      CASE WHEN doc_id % 10 = 0 THEN '?q=1' ELSE '' END AS url,
    'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN '/private/pub/x' WHEN 1 THEN '/private/x'
      WHEN 2 THEN '/docs/d' WHEN 3 THEN '/tmp/t'
      ELSE '/cgi/run' END AS path
  FROM documents),
m AS (
  SELECT u.doc_id, u.priority, u.url, u.host, u.path,
    c.rule, c.path AS rp, c.line_no
  FROM u LEFT JOIN cand c
  ON u.host = c.host AND length(c.path) > 0
    AND starts_with(u.path, c.path)),
w AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY (rp IS NOT NULL) DESC, length(rp) DESC,
        (rule = 'allow') DESC, line_no DESC) AS rn
  FROM m),
alw AS (
  SELECT doc_id, priority, url, host AS domain
  FROM w WHERE rn = 1
    AND (rp IS NULL OR rule = 'allow')),
sched AS (
  SELECT doc_id, url, domain,
    row_number() OVER (PARTITION BY domain
      ORDER BY priority DESC, doc_id) AS queue_pos
  FROM alw)
SELECT doc_id, url, domain, CAST(queue_pos AS BIGINT) AS queue_pos,
  CAST((queue_pos - 1) * 1500 AS BIGINT) AS fetch_offset_ms
FROM sched WHERE queue_pos <= 20
ORDER BY domain, queue_pos"""

  /** q362 twin of [[graft.text.Vocab.goodTuringCounts]]: the shared
    * tokenization, counts-of-counts, the same floor-quantized raw
    * Turing estimate with NULL at the N_{r+1} = 0 gaps, HUGEINT
    * headroom cast back to BIGINT. */
  val q362_good_turing: String = toksCte + """
, tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
f AS (SELECT CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY token),
nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM f GROUP BY r),
tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n,
  CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
  FROM nr),
nx AS (SELECT r - 1 AS r, n_r AS nr_next FROM nr)
SELECT nr.r, nr.n_r,
  CAST(CASE WHEN nx.nr_next IS NOT NULL
       THEN ((nr.r + 1) * nx.nr_next * 1000000) // nr.n_r END AS BIGINT)
    AS turing_micro,
  CAST((n1 * 1000) // n AS BIGINT) AS p0_permille
FROM nr LEFT JOIN nx ON nr.r = nx.r CROSS JOIN tot
ORDER BY nr.r"""

  /** q363 twin of [[graft.text.Vocab.chao1Richness]]: the same
    * singleton/doubleton fold and the bias-corrected micro-unit
    * arithmetic, HUGEINT headroom cast back. */
  val q363_chao1: String = toksCte + """
, tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
f AS (SELECT token, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY token)
SELECT CAST(count(*) AS BIGINT) AS s_obs,
  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
  CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
  CAST(sum(r) AS BIGINT) AS n_tokens,
  CAST(count(*) * 1000000 +
    (sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) *
     (sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) - 1) * 1000000)
    // (2 * (sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) + 1)) AS BIGINT)
    AS chao1_micro
FROM f"""

  /** q364 twin of [[graft.text.TextAnalysis.termDispersion]]: the
    * shared tokenization, the same cross-multiplied deviation sum
    * with the closed zero-doc term, HUGEINT headroom throughout,
    * truncating division. */
  val q364_term_dispersion: String = toksCte + """
, sizes AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS s_d
  FROM toks WHERE len(tokens) > 0),
post AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS v_d
  FROM (SELECT doc_id, unnest(tokens) AS token FROM toks)
  GROUP BY doc_id, token),
tot AS (SELECT CAST(sum(s_d) AS BIGINT) AS s FROM sizes),
terms AS (
  SELECT token, CAST(sum(v_d) AS BIGINT) AS v_total
  FROM post GROUP BY token),
dev AS (
  SELECT p.token, t.v_total, tot.s,
    sum(abs(p.v_d * tot.s - z.s_d * t.v_total)) AS d,
    CAST(sum(z.s_d) AS BIGINT) AS s_occ
  FROM post p
  JOIN sizes z ON p.doc_id = z.doc_id
  JOIN terms t ON p.token = t.token
  CROSS JOIN tot
  GROUP BY p.token, t.v_total, tot.s)
SELECT token, v_total,
  CAST((1000 * (d + (s - s_occ) * v_total)) // (2 * v_total * s)
    AS BIGINT) AS dp_permille
FROM dev ORDER BY token"""

  /** q367 twin of
    * [[graft.analytics.StockAnalytics.decompositionStrength]]: the
    * ENTIRE q359 twin embedded as a CTE (zero drift), then the same
    * exact-integer variance sums (HUGEINT headroom) and the identical
    * one-double strength trees. */
  def q367_decomp_strength: String = s"""
WITH dec AS (
${q359_seasonal_decompose.replace("ORDER BY t2.symbol, t2.date", "")}
),
v AS (
  SELECT symbol, CAST(residual_micro AS HUGEINT) AS r,
    CAST(seasonal_micro + residual_micro AS HUGEINT) AS sr,
    CAST(trend_micro + residual_micro AS HUGEINT) AS tr
  FROM dec WHERE residual_micro IS NOT NULL),
a AS (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n_rows,
    sum(r) AS sr1, sum(r * r) AS sr2,
    sum(sr) AS ss1, sum(sr * sr) AS ss2,
    sum(tr) AS st1, sum(tr * tr) AS st2
  FROM v GROUP BY symbol)
SELECT symbol, n_rows,
  greatest(CAST(0 AS DOUBLE), 1.0 -
    (CAST(n_rows * sr2 - sr1 * sr1 AS DOUBLE) /
     CAST(n_rows * ss2 - ss1 * ss1 AS DOUBLE))) AS seasonal_strength,
  greatest(CAST(0 AS DOUBLE), 1.0 -
    (CAST(n_rows * sr2 - sr1 * sr1 AS DOUBLE) /
     CAST(n_rows * st2 - st1 * st1 AS DOUBLE))) AS trend_strength
FROM a ORDER BY symbol"""

  /** q368 twin of [[graft.quality.Agreement.fleissKappa]]: the same
    * synthesized 5-rater pool, the same A/B/D/E integer identity in
    * HUGEINT, and the same nonneg-mod floor for the (possibly
    * negative) kappa. */
  val q368_fleiss_kappa: String = """
WITH ratings AS (
  SELECT doc_id, r,
    CASE WHEN (doc_id + r * 7) % 13 = 0
         THEN 'mis' || CAST((doc_id + r) % 3 AS VARCHAR)
         ELSE lang END AS label
  FROM documents, unnest(range(1, 6)) AS s(r)),
cells AS (
  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n
  FROM ratings GROUP BY doc_id, label),
pi AS (SELECT doc_id, sum(n * (n - 1)) AS si FROM cells GROUP BY doc_id),
ia AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
    CAST(sum(si) AS HUGEINT) AS a
  FROM pi),
la AS (
  SELECT CAST(count(*) AS BIGINT) AS n_labels,
    CAST(sum(ck * ck) AS HUGEINT) AS b
  FROM (SELECT label, CAST(sum(n) AS HUGEINT) AS ck
        FROM cells GROUP BY label)),
x AS (
  SELECT n_items, CAST(5 AS BIGINT) AS n_raters, n_labels, a, b,
    CAST(n_items AS HUGEINT) * 5 * 4 AS d,
    CAST(n_items AS HUGEINT) * 5 * n_items * 5 AS e
  FROM ia CROSS JOIN la)
SELECT n_items, n_raters, n_labels,
  CAST((1000000 * a) // d AS BIGINT) AS p_bar_micro,
  CAST((1000000 * b) // e AS BIGINT) AS pe_micro,
  CAST(CASE WHEN e <> b THEN
    (1000000 * (a * e - b * d)
     - (((1000000 * (a * e - b * d)) % (d * (e - b)) + (d * (e - b)))
        % (d * (e - b))))
    // (d * (e - b)) END AS BIGINT) AS kappa_micro
FROM x"""

  /** q369 twin of the GOVERNED [[graft.dedup.Dedup.simhashPairs]]
    * path: the q346 planted-clone corpus, the q20 SimHash pipeline
    * (bit terms generated from the same constant), then the q346
    * governor replicated exactly — window count per (band, key),
    * all-pairs for buckets ≤ 8, id-sorted lead() chain for oversized
    * ones, DISTINCT across bands, the exact Hamming filter last. */
  val q369_simhash_governed: String = {
    val bitTerms = (0 until graft.dedup.Dedup.simhashBits).map { j =>
      s"CASE WHEN 2*len(list_filter(hs, h -> (h >> $j) & 1 = 1)) > len(hs)" +
        s" THEN CAST(1 AS BIGINT) << $j ELSE 0 END"
    }.mkString("\n    + ")
    s"""
WITH $cloneCorpusCte,
${shingleCtes("corpus")},
hs64 AS (
  SELECT doc_id, list_transform(shingles,
    s -> CAST(('0x' || substr(md5(s),1,14)) AS BIGINT)) AS hs
  FROM sh),
sims AS (SELECT doc_id, (""" + bitTerms + """) AS simhash FROM hs64),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (8*b)) & 255 AS key
  FROM sims CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
sized AS (
  SELECT doc_id, simhash, b, key, count(*) OVER (PARTITION BY b, key) AS bn
  FROM bands),
small_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
  FROM (SELECT * FROM sized WHERE bn <= 8) a
  JOIN (SELECT * FROM sized WHERE bn <= 8) b
    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
chain_pairs AS (
  SELECT doc_id AS doc_a, lead(doc_id) OVER w AS doc_b,
         simhash AS sa, lead(simhash) OVER w AS sb
  FROM sized WHERE bn > 8
  WINDOW w AS (PARTITION BY b, key ORDER BY doc_id)),
pairs AS (
  SELECT DISTINCT doc_a, doc_b, sa, sb FROM (
    SELECT doc_a, doc_b, sa, sb FROM small_pairs
    UNION ALL
    SELECT doc_a, doc_b, sa, sb FROM chain_pairs
    WHERE doc_b IS NOT NULL))
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM pairs)
WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
  }

  /** q370 twin of the GOVERNED [[graft.multimodal.Multimodal
    * .bandedHammingPairs]] path under [[graft.multimodal.Multimodal
    * .imageNearDups]]: the q121 pixel-formula dHash (no PNG bytes in
    * the oracle — hash equality proves decode + grid end to end)
    * extended with the planted 40-re-encode viral cluster, h64 packed
    * with bit_or over LSB-first bit positions (gr·8 + c, the
    * PngPixelUtil.dhash convention), 16-bit bands, and the q346
    * governor replay (window count + lead() chain) before the exact
    * bit_count(xor) filter. */
  val q370_image_neardup_governed: String = s"""
WITH imgs AS (
  SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m
  FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT r.r + 900000 AS doc_id, 0 AS g, r.r + 5 AS m
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 40)) AS r) r
  WHERE d.doc_id < 1),
$dhashBitsCtes,
h64 AS (
  -- bit 63 (gr = 7, c = 7) is the sign bit: 1::BIGINT << 63 overflows
  -- in DuckDB, so that one bit ORs in the min-long constant instead
  SELECT doc_id,
    bit_or(CASE WHEN NOT bit THEN CAST(0 AS BIGINT)
           WHEN gr*8 + c = 63 THEN CAST('-9223372036854775808' AS BIGINT)
           ELSE CAST(1 AS BIGINT) << (gr*8 + c) END) AS h
  FROM bits GROUP BY doc_id),
bands AS (
  SELECT doc_id, h, b, (h >> (16*b)) & 65535 AS key
  FROM h64 CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
sized AS (
  SELECT doc_id, h, b, key, count(*) OVER (PARTITION BY b, key) AS bn
  FROM bands),
small_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h AS ha, b.h AS hb
  FROM (SELECT * FROM sized WHERE bn <= 8) a
  JOIN (SELECT * FROM sized WHERE bn <= 8) b
    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
chain_pairs AS (
  SELECT doc_id AS doc_a, lead(doc_id) OVER w AS doc_b,
         h AS ha, lead(h) OVER w AS hb
  FROM sized WHERE bn > 8
  WINDOW w AS (PARTITION BY b, key ORDER BY doc_id)),
pairs AS (
  SELECT DISTINCT doc_a, doc_b, ha, hb FROM (
    SELECT doc_a, doc_b, ha, hb FROM small_pairs
    UNION ALL
    SELECT doc_a, doc_b, ha, hb FROM chain_pairs
    WHERE doc_b IS NOT NULL))
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM pairs)
WHERE hamming <= 3 ORDER BY doc_a, doc_b"""

  /** q371 twin of [[graft.analytics.Sketches.hllSketch]] +
    * [[graft.analytics.Sketches.hllEstimate]]: the GLOBAL register
    * construction (pointwise-max merge of shard sketches ≡ the global
    * sketch, so hash equality verifies the merge identity), the same
    * md5 56-bit hash, `bin()` leading-zero rank (both engines print
    * without leading zeros), exact-integer S, the shared alpha·m²·2⁴⁷
    * literal, and the driver-side linear-counting table interpolated
    * verbatim. */
  val q371_hll_distinct: String = {
    val alpha = f"${graft.analytics.Sketches.hllAlphaNum}%.17g"
    val lcList = graft.analytics.Sketches.linearCountMilli
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""
WITH w0 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
w AS (
  SELECT word || '_' || CAST(doc_id AS VARCHAR) AS word
  FROM w0 WHERE word <> ''),
h AS (
  SELECT CAST(('0x' || substr(md5(word), 1, 14)) AS BIGINT) AS h
  FROM w),
regs AS (
  SELECT h >> 46 AS register,
    CASE WHEN (h & 70368744177663) = 0 THEN 47
         ELSE 47 - length(bin(h & 70368744177663)) END AS rho
  FROM h),
sk AS (SELECT register, max(rho) AS max_rho FROM regs GROUP BY register),
est AS (
  SELECT CAST(1024 AS BIGINT) AS m,
    CAST(count(*) AS BIGINT) AS n_used,
    CAST(1024 - count(*) AS BIGINT) AS n_zero,
    CAST(coalesce(sum(CAST(1 AS BIGINT) << (47 - max_rho)), 0)
      + (1024 - count(*)) * (CAST(1 AS BIGINT) << 47) AS BIGINT) AS s_scaled
  FROM sk),
est2 AS (
  SELECT m, n_used, n_zero, s_scaled,
    $alpha / CAST(s_scaled AS DOUBLE) AS raw_est
  FROM est),
ex AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS exact_distinct
       FROM w WHERE word <> '')
SELECT m, n_used, n_zero, s_scaled, raw_est,
  CASE WHEN n_zero > 0 AND raw_est <= 2560.0
       THEN ($lcList)[CAST(n_zero + 1 AS INT)]
       ELSE CAST(round(raw_est * 1000) AS BIGINT) END AS est_milli,
  exact_distinct
FROM est2 CROSS JOIN ex"""
  }

  /** q375 twin of [[graft.analytics.Sketches.hllOverlap]]: the q371
    * register/S/branch machinery instantiated THREE times (set A,
    * set B, and the union replayed as max over the concatenated
    * register streams ≡ hllMerge), then the same milli-unit
    * inclusion–exclusion arithmetic and the exact intersection. */
  val q375_hll_overlap: String = {
    val alpha = f"${graft.analytics.Sketches.hllAlphaNum}%.17g"
    val lcList = graft.analytics.Sketches.linearCountMilli
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    def chain(nm: String, src: String) = s"""
${nm}_regs AS (
  SELECT h >> 46 AS register,
    CASE WHEN (h & 70368744177663) = 0 THEN 47
         ELSE 47 - length(bin(h & 70368744177663)) END AS rho
  FROM (SELECT CAST(('0x' || substr(md5(wd), 1, 14)) AS BIGINT) AS h
        FROM $src)),
${nm}_sk AS (SELECT register, max(rho) AS max_rho
             FROM ${nm}_regs GROUP BY register),
${nm}_m AS (
  SELECT CASE WHEN (1024 - n_used) > 0
              AND $alpha / CAST(s_scaled AS DOUBLE) <= 2560.0
         THEN ($lcList)[CAST(1024 - n_used + 1 AS INT)]
         ELSE CAST(round($alpha / CAST(s_scaled AS DOUBLE) * 1000)
                   AS BIGINT) END AS est
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_used,
          CAST(coalesce(sum(CAST(1 AS BIGINT) << (47 - max_rho)), 0)
            + (1024 - count(*)) * (CAST(1 AS BIGINT) << 47)
            AS BIGINT) AS s_scaled
        FROM ${nm}_sk))"""
    s"""
WITH w0 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
w AS (
  SELECT doc_id, word || '_' || CAST(doc_id AS VARCHAR) AS wd
  FROM w0 WHERE word <> ''),
wa AS (SELECT wd FROM w WHERE doc_id % 3 <> 0),
wb AS (SELECT wd FROM w WHERE doc_id % 3 <> 1),
${chain("a", "wa")},
${chain("b", "wb")},
u_sk AS (
  SELECT register, max(max_rho) AS max_rho FROM (
    SELECT register, max_rho FROM a_sk
    UNION ALL SELECT register, max_rho FROM b_sk)
  GROUP BY register),
u_m AS (
  SELECT CASE WHEN (1024 - n_used) > 0
              AND $alpha / CAST(s_scaled AS DOUBLE) <= 2560.0
         THEN ($lcList)[CAST(1024 - n_used + 1 AS INT)]
         ELSE CAST(round($alpha / CAST(s_scaled AS DOUBLE) * 1000)
                   AS BIGINT) END AS est
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_used,
          CAST(coalesce(sum(CAST(1 AS BIGINT) << (47 - max_rho)), 0)
            + (1024 - count(*)) * (CAST(1 AS BIGINT) << 47)
            AS BIGINT) AS s_scaled
        FROM u_sk)),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection
  FROM (SELECT DISTINCT wd FROM wa) ia
  JOIN (SELECT DISTINCT wd FROM wb) ib USING (wd))
SELECT a_m.est AS est_a_milli, b_m.est AS est_b_milli,
  u_m.est AS est_union_milli,
  a_m.est + b_m.est - u_m.est AS inter_raw_milli,
  greatest(a_m.est + b_m.est - u_m.est, 0) AS est_intersection_milli,
  exact_intersection
FROM a_m CROSS JOIN b_m CROSS JOIN u_m CROSS JOIN ex"""
  }

  /** q374 twin of [[graft.functions.Mp4HeaderUtil.meta]]: every
    * field derived from the fixture construction formulas alone —
    * no MP4 bytes anywhere in SQL (the q114/q121 discipline), so
    * hash equality proves the real box walk (both mvhd offsets,
    * largesize/to-EOF forms, the degrade rows). */
  val q374_mp4_header: String = """
WITH p AS (
  SELECT doc_id,
    (['isom','mp42','avc1','dash'])[CAST(doc_id % 4 AS INT) + 1] AS brand,
    600 + (doc_id % 5) * 300 AS timescale,
    (doc_id % 97) * 1000 + doc_id AS duration,
    1 + doc_id % 3 AS n_tracks,
    doc_id % 2 AS mvhd_version,
    CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS n_top_boxes,
    (doc_id % 11) IN (3, 7) AS malformed
  FROM documents WHERE doc_id < 120)
SELECT doc_id,
  NOT malformed AS decoded,
  CASE WHEN malformed THEN NULL ELSE brand END AS major_brand,
  CASE WHEN malformed THEN NULL
       ELSE CAST(mvhd_version AS BIGINT) END AS mvhd_version,
  CASE WHEN malformed THEN NULL ELSE CAST(timescale AS BIGINT) END AS timescale,
  CASE WHEN malformed THEN NULL ELSE CAST(duration AS BIGINT) END AS duration,
  CASE WHEN malformed THEN NULL
       ELSE CAST(duration * 1000 // timescale AS BIGINT) END AS duration_ms,
  CASE WHEN malformed THEN NULL ELSE CAST(n_tracks AS BIGINT) END AS n_tracks,
  CASE WHEN malformed THEN NULL
       ELSE CAST(n_top_boxes AS BIGINT) END AS n_top_boxes,
  CASE WHEN malformed THEN NULL ELSE CAST(1 AS BIGINT) END AS has_mdat
FROM p ORDER BY doc_id"""

  /** q378 twin of [[graft.functions.WarcRecordUtil.records]]: every
    * per-record row — including the block md5 — derived from the
    * fixture construction formulas (DuckDB md5 of the same formula
    * string the writer embedded); malformed archives contribute no
    * rows. */
  val q378_warc_records: String = """
WITH p AS (
  SELECT doc_id FROM documents
  WHERE doc_id < 120 AND doc_id % 13 NOT IN (5, 9)),
recs AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS record_index,
    'warcinfo' AS warc_type,
    CAST(NULL AS VARCHAR) AS target_uri,
    'application/warc-fields' AS content_type,
    CAST(length('software: graft ' || doc_id || chr(13) || chr(10))
      AS BIGINT) AS content_length,
    md5('software: graft ' || doc_id || chr(13) || chr(10)) AS block_md5
  FROM p
  UNION ALL
  SELECT doc_id, r AS record_index,
    CASE WHEN r % 2 = 1 THEN 'response' ELSE 'request' END,
    'http://host' || (doc_id % 20) || '.example/p' || r,
    CASE WHEN r % 2 = 1 THEN 'text/html' END,
    CAST(length('<html>doc ' || doc_id || ' rec ' || r || '</html>')
      AS BIGINT),
    md5('<html>doc ' || doc_id || ' rec ' || r || '</html>')
  FROM p, LATERAL (SELECT unnest(range(1, CAST(doc_id % 3 + 2 AS BIGINT)))
                   AS r) t)
SELECT doc_id, record_index, warc_type, target_uri, content_type,
  content_length, block_md5
FROM recs ORDER BY doc_id, record_index"""

  /** q381 twin of [[graft.functions.Id3FrameUtil.frames]]: every
    * frame row derived from the fixture construction formulas —
    * frame sizes are 1 (encoding byte) + the ASCII text length for
    * text frames, the blob length for PRIV; text identical for the
    * Latin-1 and UTF-8 variants (ASCII fixture text); malformed
    * tags contribute no rows. */
  val q381_id3_frames: String = """
WITH p AS (
  SELECT doc_id FROM documents
  WHERE doc_id < 120 AND doc_id % 13 NOT IN (5, 9)),
fr AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS frame_index, 'TIT2' AS frame_id,
    CAST(1 + length('Track ' || doc_id) AS BIGINT) AS frame_size,
    'Track ' || doc_id AS text
  FROM p
  UNION ALL
  SELECT doc_id, CAST(1 AS BIGINT), 'TPE1',
    CAST(1 + length('Artist ' || (doc_id % 7)) AS BIGINT),
    'Artist ' || (doc_id % 7)
  FROM p
  UNION ALL
  SELECT doc_id, CAST(2 AS BIGINT), 'TALB',
    CAST(1 + length('Album ' || (doc_id % 5)) AS BIGINT),
    'Album ' || (doc_id % 5)
  FROM p WHERE doc_id % 4 <> 1
  UNION ALL
  SELECT doc_id,
    CAST(CASE WHEN doc_id % 4 <> 1 THEN 3 ELSE 2 END AS BIGINT),
    'PRIV', CAST(3 + doc_id % 5 AS BIGINT), CAST(NULL AS VARCHAR)
  FROM p)
SELECT doc_id, frame_index, frame_id, frame_size, text
FROM fr ORDER BY doc_id, frame_index"""

  /** q386 twin of [[graft.text.Feed.parseFeed]]: every entry row
    * derived from the fixture construction formulas (no XML in SQL)
    * — the RSS/Atom split decides the format label and the published
    * string shape, the planted missing-field conditions surface as
    * NULLs, and the non-feed documents contribute no rows. */
  val q386_feed_parse: String = """
WITH p AS (
  SELECT doc_id AS id FROM documents
  WHERE doc_id < 120 AND doc_id % 10 <> 8),
e AS (
  SELECT id, k
  FROM p, LATERAL (SELECT unnest(range(1, CAST(1 + id % 3 + 1 AS BIGINT)))
                   AS k) u)
SELECT id AS doc_id, CAST(k - 1 AS BIGINT) AS entry_index,
  CASE WHEN id % 2 = 0 THEN 'rss' ELSE 'atom' END AS format,
  CASE WHEN (id + k) % 7 = 0 THEN NULL
       ELSE 'Post ' || id || '-' || k END AS title,
  CASE WHEN (id + k) % 9 = 4 THEN NULL
       ELSE 'http://host' || (id % 20) || '.example/p' || k END AS link,
  'urn:f' || id || '-' || k AS entry_id,
  CASE WHEN (id + k) % 5 = 0 THEN NULL
       WHEN id % 2 = 0
       THEN 'Mon, 0' || ((id + k) % 9 + 1) || ' Jan 2024 00:00:00 GMT'
       ELSE '2024-01-0' || ((id + k) % 9 + 1) || 'T00:00:00Z'
  END AS published
FROM e ORDER BY doc_id, entry_index"""

  /** q385 twin of [[graft.functions.Mp3FrameUtil.frames]]: every
    * frame row derived from the fixture construction formulas — the
    * MPEG-1 Layer III bitrate/sample-rate tables as SQL lists, frame
    * length = ⌊144·bitrate/samplerate⌋ + padding, byte offsets = the
    * ID3v2 prefix length (the q381 tag-size arithmetic: 22 + digits
    * + padding) plus a running sum of prior frame lengths; the
    * truncated and lost-sync streams contribute no rows. */
  val q385_mp3_frames: String = """
WITH p AS (
  SELECT doc_id AS id FROM documents
  WHERE doc_id < 120 AND doc_id % 17 <> 4 AND doc_id % 13 <> 9),
fr AS (
  SELECT id, k,
    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
      [CAST(1 + (id + 3 * k) % 14 AS INT)] AS kbps,
    ([44100,48000,32000])[CAST((id + k) % 3 + 1 AS INT)] AS sr,
    (id + k) % 2 = 0 AS padding,
    (id + k) % 5 = 0 AS has_crc
  FROM p, LATERAL (SELECT unnest(range(1, CAST(2 + id % 4 + 1 AS BIGINT)))
                   AS k) u),
fb AS (
  SELECT *,
    CAST((144000 * kbps) // sr
      + CASE WHEN padding THEN 1 ELSE 0 END AS BIGINT) AS frame_bytes,
    CAST(CASE WHEN id % 4 = 0
         THEN 22 + length(CAST(id AS VARCHAR)) + id % 6
         ELSE 0 END AS BIGINT) AS prefix
  FROM fr)
SELECT id AS doc_id, CAST(k - 1 AS BIGINT) AS frame_index,
  CAST(prefix + coalesce(sum(frame_bytes) OVER (PARTITION BY id ORDER BY k
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS byte_offset,
  CAST(kbps AS BIGINT) AS bitrate_kbps, CAST(sr AS BIGINT) AS sample_rate,
  padding, has_crc, frame_bytes
FROM fb ORDER BY doc_id, frame_index"""

  /** q384 twin of [[graft.functions.Mp4SampleUtil.samples]]: every
    * sample row derived from the fixture construction formulas — two
    * stts runs per track give a two-branch dts cumsum, sizes follow
    * the uniform/per-sample split, sync follows the stss-absent =
    * all-sync protocol; the truncated, count-mismatched, and
    * sample-bomb movies contribute no rows. No bytes in SQL. */
  val q384_mp4_samples: String = """
WITH p AS (
  SELECT doc_id AS id FROM documents
  WHERE doc_id < 120 AND doc_id % 17 <> 4 AND doc_id % 17 <> 11
    AND doc_id % 19 <> 3),
tr AS (SELECT id, t FROM p, LATERAL (SELECT unnest([1, 2]) AS t) u),
par AS (
  SELECT id, t,
    CAST(1000 * t + id % 7 AS BIGINT) AS media_ts,
    CAST(2 + (id + t) % 3 AS BIGINT) AS cnt1,
    CAST(40 + id % 5 AS BIGINT) AS d1,
    CAST(1 + (id * t) % 4 AS BIGINT) AS cnt2,
    CAST(90 + id % 11 AS BIGINT) AS d2
  FROM tr),
smp AS (
  SELECT id, t, media_ts, cnt1, d1, cnt2, d2, k
  FROM (SELECT *, cnt1 + cnt2 AS total FROM par),
    LATERAL (SELECT unnest(range(1, CAST(total + 1 AS BIGINT))) AS k) u)
SELECT id AS doc_id, CAST(t AS BIGINT) AS track_id,
  media_ts AS media_timescale, CAST(k AS BIGINT) AS sample_index,
  CAST(CASE WHEN k <= cnt1 THEN (k - 1) * d1
       ELSE cnt1 * d1 + (k - 1 - cnt1) * d2 END AS BIGINT) AS dts,
  CAST(CASE WHEN k <= cnt1 THEN d1 ELSE d2 END AS BIGINT) AS delta,
  CAST(CASE WHEN (id + t) % 3 = 0 THEN 500 + id % 100
       ELSE 100 * t + 7 * k + id % 13 END AS BIGINT) AS size,
  ((id + t) % 5 = 0 OR k % 3 = 1) AS is_sync
FROM smp ORDER BY doc_id, track_id, sample_index"""

  /** q380 twin of [[graft.text.Sitemap.parseSitemap]]: every row
    * derived from the fixture construction formulas (no XML in SQL);
    * the loc-less malformed entry surfaces as a NULL-loc row, index
    * files as is_index = true child-sitemap rows. */
  val q380_sitemap: String = """
WITH p AS (SELECT doc_id FROM documents WHERE doc_id < 120),
urlrows AS (
  SELECT doc_id, r - 1 AS url_index, FALSE AS is_index,
    CASE WHEN doc_id % 9 = 4 AND r = 1 THEN NULL
         ELSE 'http://host' || (doc_id % 20) || '.example/page' || r
    END AS loc,
    CASE WHEN r % 4 <> 0 THEN '2024-0' || ((r % 9) + 1) || '-11' END
      AS lastmod,
    (['daily','weekly','monthly'])[CAST(r % 3 AS INT) + 1] AS changefreq,
    '0.' || ((doc_id + r) % 9 + 1) AS priority
  FROM p, LATERAL (SELECT unnest(range(1, CAST(doc_id % 3 + 2 AS BIGINT)))
                   AS r) t
  WHERE doc_id % 10 <> 8),
idxrows AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS url_index, TRUE AS is_index,
    'http://host' || (doc_id % 20) || '.example/sitemap1.xml' AS loc,
    '2024-01-01' AS lastmod,
    CAST(NULL AS VARCHAR) AS changefreq, CAST(NULL AS VARCHAR) AS priority
  FROM p WHERE doc_id % 10 = 8
  UNION ALL
  SELECT doc_id, CAST(1 AS BIGINT), TRUE,
    'http://host' || (doc_id % 20) || '.example/sitemap2.xml',
    NULL, NULL, NULL
  FROM p WHERE doc_id % 10 = 8)
SELECT doc_id, CAST(url_index AS BIGINT) AS url_index, is_index, loc,
  lastmod, changefreq, priority
FROM (SELECT * FROM urlrows UNION ALL SELECT * FROM idxrows)
ORDER BY doc_id, url_index"""

  /** q379 twin of the WARC→text capstone: response records derived
    * from the q378 construction formulas, extracted text = the known
    * result of the E104 cascade on the formula HTML ('<html>…</html>'
    * strips to its body), token count by the shared tokenizer rule
    * (whitespace over the already-clean body = 4 tokens). */
  val q379_warc_to_text: String = """
WITH p AS (
  SELECT doc_id FROM documents
  WHERE doc_id < 120 AND doc_id % 13 NOT IN (5, 9)),
recs AS (
  SELECT doc_id, r AS record_index,
    'http://host' || (doc_id % 20) || '.example/p' || r AS target_uri,
    'doc ' || doc_id || ' rec ' || r AS clean_text,
    CAST(4 AS BIGINT) AS n_tokens
  FROM p, LATERAL (SELECT unnest(range(1, CAST(doc_id % 3 + 2 AS BIGINT)))
                   AS r) t
  WHERE r % 2 = 1)
SELECT doc_id, record_index, target_uri, clean_text, n_tokens
FROM recs ORDER BY doc_id, record_index"""

  /** q377 twin: the q372 Count-Min machinery on the SATURATED
    * (word, doc) pair domain — same coefficient table, same
    * reduce-before-multiply, first-25-by-name probes; the per-probe
    * overestimate is now nonzero and hash-pinned. */
  val q377_cms_saturated: String = {
    val hashRows = graft.analytics.Sketches.cmsCoeffs.zipWithIndex
      .map { case ((a, b), i) =>
        s"($i, ((h % 1000000007) * $a + $b) % 1000000007 % 1024)"
      }.mkString(",\n    ")
    s"""
WITH w0 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
ww AS (
  SELECT word || '_' || CAST(doc_id AS VARCHAR) AS wd
  FROM w0 WHERE word <> ''),
hs AS (
  SELECT wd, CAST(('0x' || substr(md5(wd), 1, 14)) AS BIGINT) AS h
  FROM ww),
cells AS (
  SELECT hs.wd, t.r AS row, t.c AS col
  FROM hs, LATERAL (SELECT * FROM (VALUES
    $hashRows) v(r, c)) t),
sk AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, col),
exact AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS exact_count
  FROM ww GROUP BY wd),
probes AS (
  SELECT wd FROM exact ORDER BY wd LIMIT 25),
pk AS (
  SELECT DISTINCT c.wd AS value, c.row, c.col
  FROM cells c JOIN probes p ON p.wd = c.wd),
q AS (
  SELECT pk.value, min(coalesce(sk.cnt, 0)) AS est_count
  FROM pk LEFT JOIN sk ON sk.row = pk.row AND sk.col = pk.col
  GROUP BY pk.value)
SELECT q.value, q.est_count, e.exact_count,
  q.est_count - e.exact_count AS overestimate
FROM q JOIN exact e ON e.wd = q.value
ORDER BY q.value"""
  }

  /** q376 twin of [[graft.functions.Mp4TrackUtil.tracks]]: per-track
    * rows derived from the same construction formulas (track_ID =
    * i+1, the movie duration, 320+16i × 240+8i px, tkhd version =
    * the file's mvhd version); malformed files contribute no rows. */
  val q376_mp4_tracks: String = """
WITH p AS (
  SELECT doc_id,
    (doc_id % 97) * 1000 + doc_id AS duration,
    1 + doc_id % 3 AS n_tracks,
    doc_id % 2 AS mvhd_version,
    (doc_id % 11) IN (3, 7) AS malformed
  FROM documents WHERE doc_id < 120)
SELECT doc_id, i AS track_index, i + 1 AS track_id,
  CAST(mvhd_version AS BIGINT) AS tkhd_version,
  CAST(duration AS BIGINT) AS duration,
  320 + 16 * i AS width_px, 240 + 8 * i AS height_px
FROM p, LATERAL (SELECT unnest(range(0, CAST(n_tracks AS BIGINT))) AS i) r
WHERE NOT malformed
ORDER BY doc_id, track_index"""

  /** q373 twin of [[graft.analytics.Sketches.hllSketchBy]] +
    * [[graft.analytics.Sketches.hllEstimateBy]]: the q371 pipeline
    * with a lang dimension through registers, S, and the branch. */
  val q373_hll_by_group: String = {
    val alpha = f"${graft.analytics.Sketches.hllAlphaNum}%.17g"
    val lcList = graft.analytics.Sketches.linearCountMilli
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""
WITH w0 AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents),
w AS (
  SELECT lang AS grp, word || '_' || CAST(doc_id AS VARCHAR) AS wd
  FROM w0 WHERE word <> ''),
h AS (
  SELECT grp, CAST(('0x' || substr(md5(wd), 1, 14)) AS BIGINT) AS h
  FROM w),
regs AS (
  SELECT grp, h >> 46 AS register,
    CASE WHEN (h & 70368744177663) = 0 THEN 47
         ELSE 47 - length(bin(h & 70368744177663)) END AS rho
  FROM h),
sk AS (SELECT grp, register, max(rho) AS max_rho
       FROM regs GROUP BY grp, register),
est AS (
  SELECT grp,
    CAST(1024 AS BIGINT) AS m,
    CAST(count(*) AS BIGINT) AS n_used,
    CAST(1024 - count(*) AS BIGINT) AS n_zero,
    CAST(coalesce(sum(CAST(1 AS BIGINT) << (47 - max_rho)), 0)
      + (1024 - count(*)) * (CAST(1 AS BIGINT) << 47) AS BIGINT) AS s_scaled
  FROM sk GROUP BY grp),
est2 AS (
  SELECT grp, m, n_used, n_zero, s_scaled,
    $alpha / CAST(s_scaled AS DOUBLE) AS raw_est
  FROM est),
ex AS (
  SELECT grp, CAST(count(DISTINCT wd) AS BIGINT) AS exact_distinct
  FROM w GROUP BY grp)
SELECT est2.grp AS "group", m, n_used, n_zero, s_scaled, raw_est,
  CASE WHEN n_zero > 0 AND raw_est <= 2560.0
       THEN ($lcList)[CAST(n_zero + 1 AS INT)]
       ELSE CAST(round(raw_est * 1000) AS BIGINT) END AS est_milli,
  exact_distinct
FROM est2 JOIN ex ON ex.grp = est2.grp
ORDER BY est2.grp"""
  }

  /** q382 twin of [[graft.analytics.Sketches.hdrSketch]] +
    * [[graft.analytics.Sketches.hdrQuantiles]]: the GLOBAL bucket
    * construction (shard merge by SUM ≡ the global histogram, so
    * hash equality verifies the merge identity), the same pure
    * integer bucket formula — exp = max(0, length(bin(v)) − 6),
    * man = v >> exp — the same permille rank arithmetic in integer
    * division, the same min-lo bucket pick, and the containment
    * identity against the exact order statistic. */
  val q382_hdr_quantiles: String = """
WITH v AS (SELECT doc_id, n_chars AS v FROM documents),
b AS (
  SELECT v,
    CAST(greatest(0,
      (CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END) - 6) AS INT) AS e
  FROM v),
sk AS (SELECT e, v >> e AS man, count(*) AS cnt FROM b GROUP BY e, man),
cum AS (
  SELECT e, man, cnt, (man << e) AS lo, ((man + 1) << e) - 1 AS hi,
    sum(cnt) OVER (ORDER BY (man << e)) AS cum
  FROM sk),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk),
qs AS (SELECT unnest([0, 250, 500, 750, 900, 990, 1000]) AS q_permille),
r AS (
  SELECT q_permille, n,
    greatest(CAST(1 AS BIGINT),
      CAST((q_permille * n + 999) // 1000 AS BIGINT)) AS rank
  FROM qs CROSS JOIN tot),
pick AS (
  SELECT q_permille, n, rank, min(lo) AS lo
  FROM r JOIN cum ON cum.cum >= r.rank
  GROUP BY q_permille, n, rank),
ranked AS (
  SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rr
  FROM documents)
SELECT p.q_permille, p.n, p.rank, p.lo, c.hi,
  CAST(p.lo + (c.hi - p.lo) // 2 AS BIGINT) AS est,
  k.n_chars AS exact_value,
  (k.n_chars >= p.lo AND k.n_chars <= c.hi) AS contained
FROM pick p
JOIN cum c ON c.lo = p.lo
JOIN ranked k ON k.rr = p.rank
ORDER BY p.q_permille"""

  /** q383 twin of [[graft.analytics.Sketches.hdrSketchBy]] +
    * [[graft.analytics.Sketches.hdrQuantilesBy]]: the q382 machinery
    * with a lang dimension through buckets, running sums, rank
    * arithmetic, and the per-group containment check. */
  val q383_hdr_lang: String = """
WITH v AS (SELECT lang AS grp, doc_id, n_chars AS v FROM documents),
b AS (
  SELECT grp, v,
    CAST(greatest(0,
      (CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END) - 6) AS INT) AS e
  FROM v),
sk AS (
  SELECT grp, e, v >> e AS man, count(*) AS cnt
  FROM b GROUP BY grp, e, man),
cum AS (
  SELECT grp, e, man, cnt, (man << e) AS lo, ((man + 1) << e) - 1 AS hi,
    sum(cnt) OVER (PARTITION BY grp ORDER BY (man << e)) AS cum
  FROM sk),
tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY grp),
qs AS (SELECT unnest([500, 900]) AS q_permille),
r AS (
  SELECT grp, q_permille, n,
    greatest(CAST(1 AS BIGINT),
      CAST((q_permille * n + 999) // 1000 AS BIGINT)) AS rank
  FROM tot CROSS JOIN qs),
pick AS (
  SELECT r.grp, q_permille, n, rank, min(lo) AS lo
  FROM r JOIN cum ON cum.grp = r.grp AND cum.cum >= r.rank
  GROUP BY r.grp, q_permille, n, rank),
ranked AS (
  SELECT lang AS grp, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rr
  FROM documents)
SELECT p.grp AS "group", p.q_permille, p.n, p.rank, p.lo, c.hi,
  CAST(p.lo + (c.hi - p.lo) // 2 AS BIGINT) AS est,
  k.n_chars AS exact_value,
  (k.n_chars >= p.lo AND k.n_chars <= c.hi) AS contained
FROM pick p
JOIN cum c ON c.grp = p.grp AND c.lo = p.lo
JOIN ranked k ON k.grp = p.grp AND k.rr = p.rank
ORDER BY p.grp, p.q_permille"""

  /** q372 twin of [[graft.analytics.Sketches.cmsSketch]] +
    * [[graft.analytics.Sketches.cmsQuery]]: the global counter
    * construction (pointwise-sum merge ≡ global by CMS linearity),
    * the same coefficient table interpolated, exact top-20 probes,
    * min over the depth rows with absent cells as 0. */
  val q372_cms_counts: String = {
    // (h mod P) BEFORE the multiply keeps intermediates in int64; all
    // operands nonnegative, so plain % matches Spark's pmod
    val hashRows = graft.analytics.Sketches.cmsCoeffs.zipWithIndex
      .map { case ((a, b), i) =>
        s"($i, ((h % 1000000007) * $a + $b) % 1000000007 % 1024)"
      }.mkString(",\n    ")
    s"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
ww AS (SELECT word FROM w WHERE word <> ''),
hs AS (
  SELECT word, CAST(('0x' || substr(md5(word), 1, 14)) AS BIGINT) AS h
  FROM ww),
cells AS (
  SELECT hs.word, t.r AS row, t.c AS col
  FROM hs, LATERAL (SELECT * FROM (VALUES
    $hashRows) v(r, c)) t),
sk AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, col),
exact AS (
  SELECT word, CAST(count(*) AS BIGINT) AS exact_count
  FROM ww GROUP BY word),
probes AS (
  SELECT word FROM exact ORDER BY exact_count DESC, word LIMIT 20),
pk AS (
  SELECT DISTINCT c.word AS value, c.row, c.col
  FROM cells c JOIN probes p ON p.word = c.word),
q AS (
  SELECT pk.value, min(coalesce(sk.cnt, 0)) AS est_count
  FROM pk LEFT JOIN sk ON sk.row = pk.row AND sk.col = pk.col
  GROUP BY pk.value)
SELECT q.value, q.est_count, e.exact_count,
  q.est_count - e.exact_count AS overestimate
FROM q JOIN exact e ON e.word = q.value
ORDER BY q.value"""
  }

  /** q339 twin of [[graft.etl.Sampling.weightedInterleave]]: the same
    * per-source md5-hash order, stride virtual times with the e6
    * quantization, and the (vt, source, id) total order — the global
    * row_number here equals the Spark side's E223 distributed index
    * by construction. */
  val q339_weighted_interleave: String = """
WITH d AS (
  SELECT doc_id, source,
    1 + CAST(substr(source, 4) AS INTEGER) % 3 AS w
  FROM documents),
idx AS (
  SELECT doc_id, source, w,
    row_number() OVER (PARTITION BY source
      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
        AS BIGINT), doc_id) AS i
  FROM d),
vt AS (
  SELECT doc_id, source, i,
    ((2 * i - 1) * 1000000) // (2 * w) AS vt
  FROM idx)
SELECT CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS BIGINT)
    AS position,
  source, doc_id, CAST(vt AS BIGINT) AS vt, CAST(i AS BIGINT) AS source_idx
FROM vt ORDER BY position"""

  /** q335 twin of [[graft.similarity.Similarity.knnLshMultiprobe]]:
    * same corpus key columns; the join predicate admits, per band,
    * the query's own key OR any single-bit flip of it (xor with each
    * power of two below 2^bits) — the OR emits one row per
    * qualifying pair, matching the Spark side's ids-distinct. */
  val q335_ann_multiprobe: String = {
    val anyProbe = (0 until hpBands).map { b =>
      val masks = 0 +: (0 until hpBits).map(1 << _)
      masks.map(m => s"c.key$b = xor(q.key$b, $m)").mkString("(", " OR ", ")")
    }.mkString("(", "\n    OR ", ")")
    s"""
WITH $lshProbeCtes,
scored AS (
  SELECT q.query_id, c.vec_id, ${sqlCosine("q.qv", "c.embedding")} AS cosine
  FROM s c JOIN q ON $anyProbe AND c.vec_id <> q.query_id),
$top10ByCosine"""
  }

  /** q336 twin of [[graft.events.EventAnalytics.behaviorSurprisal]]:
    * the same (ts, event_id)-ordered transitions, add-one smoothed
    * model counts, per-hop floor-log2 bits, user rollup with
    * transition-less users kept. */
  val q336_behavior_surprisal: String = """
WITH tr AS (
  SELECT user_id, event_type AS from_type,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS to_type
  FROM events),
t2 AS (SELECT user_id, from_type, to_type FROM tr WHERE to_type IS NOT NULL),
c12 AS (SELECT from_type, to_type, count(*) AS c12 FROM t2 GROUP BY 1, 2),
c1 AS (SELECT from_type, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
kc AS (SELECT count(DISTINCT event_type) AS k FROM events),
b AS (
  SELECT t2.user_id,
    CAST(length(bin(CAST((c1.c1 + kc.k) // (c12.c12 + 1) AS BIGINT))) - 1
      AS BIGINT) AS bits
  FROM t2
  JOIN c12 ON c12.from_type = t2.from_type AND c12.to_type = t2.to_type
  JOIN c1 ON c1.from_type = t2.from_type
  CROSS JOIN kc),
agg AS (
  SELECT user_id, count(*) AS n_transitions,
    CAST(sum(bits) AS BIGINT) AS total_bits,
    CAST(max(bits) AS BIGINT) AS max_bits
  FROM b GROUP BY 1)
SELECT u.user_id,
  CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
  a.total_bits, a.max_bits,
  CAST((a.total_bits * 1000) // a.n_transitions AS BIGINT) AS mean_millibits
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN agg a ON a.user_id = u.user_id
ORDER BY u.user_id"""

  /** q337 twin of [[graft.dedup.Dedup.chainingAudit]] over the q18
    * minhash pairs: the q118 recursive-closure component labels, then
    * the size/edge/density/min/mean rollups — e6 floors before
    * aggregation, HUGEINT products (the DECIMAL(38,0) twin). */
  val q337_chaining_audit: String = s"""
WITH RECURSIVE
$minhashConnCtes,
lab AS (SELECT a AS node, least(a, min(b)) AS label FROM conn GROUP BY a),
sizes AS (SELECT label, count(*) AS n_docs FROM lab GROUP BY 1),
ed AS (
  SELECT l.label, CAST(floor(p.est_jaccard * 1000000) AS BIGINT) AS sim_e6
  FROM p JOIN lab l ON l.node = p.doc_a),
est AS (
  SELECT label, count(*) AS n_edges, min(sim_e6) AS min_sim_e6,
    CAST(CAST(sum(sim_e6) AS HUGEINT) // CAST(count(*) AS HUGEINT)
      AS BIGINT) AS mean_sim_e6
  FROM ed GROUP BY 1)
SELECT s.label, CAST(s.n_docs AS BIGINT) AS n_docs,
  CAST(e.n_edges AS BIGINT) AS n_edges,
  e.n_edges = s.n_docs - 1 AS is_tree,
  CAST((CAST(e.n_edges AS HUGEINT) * 2000000)
    // (CAST(s.n_docs AS HUGEINT) * (s.n_docs - 1)) AS BIGINT) AS density_e6,
  e.min_sim_e6, e.mean_sim_e6
FROM sizes s JOIN est e ON e.label = s.label ORDER BY s.label"""

  /** q345 twin of [[graft.analytics.Correlation.mannWhitneyPairs]]:
    * per-pair pooled doubled midranks (rank() start + tie count),
    * HUGEINT exact statistics, and the IDENTICAL-operation-order
    * double expression for the tie-corrected z. */
  val q345_mann_whitney: String = """
WITH g AS (SELECT DISTINCT lang FROM documents),
pairs AS (
  SELECT a.lang AS group_a, b.lang AS group_b
  FROM g a JOIN g b ON a.lang < b.lang),
pooled AS (
  SELECT p.group_a, p.group_b, d.lang AS gg, d.n_chars AS v
  FROM documents d
  JOIN pairs p ON d.lang = p.group_a OR d.lang = p.group_b),
rk AS (
  SELECT group_a, group_b, gg, v,
    rank() OVER (PARTITION BY group_a, group_b ORDER BY v) AS r,
    count(*) OVER (PARTITION BY group_a, group_b, v) AS t
  FROM pooled),
ag AS (
  SELECT group_a, group_b,
    CAST(sum(CASE WHEN gg = group_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN gg = group_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    sum(CASE WHEN gg = group_a THEN CAST(2 * r + t - 1 AS HUGEINT)
        ELSE CAST(0 AS HUGEINT) END) AS sumd_a
  FROM rk GROUP BY 1, 2),
tt AS (
  SELECT group_a, group_b,
    sum(CAST(tv AS HUGEINT) * tv * tv - tv) AS tie_sum
  FROM (SELECT group_a, group_b, v, count(*) AS tv FROM rk GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
fin AS (
  SELECT a.group_a, a.group_b, a.n_a, a.n_b,
    a.sumd_a - CAST(a.n_a AS HUGEINT) * (a.n_a + 1) AS u2_a,
    CAST(a.n_a AS HUGEINT) * a.n_b AS mean2,
    t.tie_sum, a.n_a + a.n_b AS nn
  FROM ag a JOIN tt t USING (group_a, group_b))
SELECT group_a, group_b, n_a, n_b,
  CAST(u2_a AS BIGINT) AS u2_a, CAST(mean2 AS BIGINT) AS mean2,
  CAST(tie_sum AS BIGINT) AS tie_sum,
  CASE WHEN CAST(nn AS HUGEINT) * nn * nn - nn = tie_sum THEN NULL ELSE
    CAST(u2_a - mean2 AS DOUBLE) / (2.0 * sqrt(
      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
       ((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
         - CAST(nn AS DOUBLE)) - CAST(tie_sum AS DOUBLE)))
      / (12.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))) END AS z
FROM fin ORDER BY group_a, group_b"""

  /** q346 twin of the GOVERNED [[graft.dedup.Dedup.minhashPairs]]
    * path (maxBucket — the round-18 DedupScaleBench governor): the
    * same planted 24-clone-per-template corpus, the q18 signature
    * pipeline (constants generated from the SAME coefficient table),
    * then the governor replicated exactly — a window count per
    * (band, key), all-pairs for buckets ≤ 8, id-sorted lead() chain
    * for oversized ones, DISTINCT across bands, the estimate filter
    * last. */
  val q346_minhash_governed: String = {
    val sigEntries = graft.dedup.Dedup.minhashCoeffs.map { case (a, b) =>
      s"list_reduce(list_transform(hs, x -> (x*$a+$b)%1000000007), (u,v)->least(u,v))"
    }.mkString(",\n    ")
    val nh = graft.dedup.Dedup.numHashes
    s"""
WITH $cloneCorpusCte,
${shingleHashCtes("corpus")},
sigs AS (SELECT doc_id, [$sigEntries] AS sig FROM xs),
bands AS (
  SELECT doc_id, sig, b,
    CAST(sig[b*4+1] AS VARCHAR) || '_' || CAST(sig[b*4+2] AS VARCHAR) || '_' ||
    CAST(sig[b*4+3] AS VARCHAR) || '_' || CAST(sig[b*4+4] AS VARCHAR) AS key
  FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
sized AS (
  SELECT doc_id, sig, b, key, count(*) OVER (PARTITION BY b, key) AS bn
  FROM bands),
small_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM (SELECT * FROM sized WHERE bn <= 8) a
  JOIN (SELECT * FROM sized WHERE bn <= 8) b
    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
chain_pairs AS (
  SELECT doc_id AS doc_a, lead(doc_id) OVER w AS doc_b,
         sig AS sig_a, lead(sig) OVER w AS sig_b
  FROM sized WHERE bn > 8
  WINDOW w AS (PARTITION BY b, key ORDER BY doc_id)),
pairs AS (
  SELECT DISTINCT doc_a, doc_b, sig_a, sig_b FROM (
    SELECT doc_a, doc_b, sig_a, sig_b FROM small_pairs
    UNION ALL
    SELECT doc_a, doc_b, sig_a, sig_b FROM chain_pairs
    WHERE doc_b IS NOT NULL))
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT doc_a, doc_b,
    CAST(len(list_filter(range(1,${nh + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)/$nh.0
      AS est_jaccard
  FROM pairs)
WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b"""
  }

  /** q347 twin: BOTH SemDeDup variants replayed over the augmented
    * corpus (fixture embeddings + 40 planted clones, one FLOAT
    * component shifted by the same single-precision add Spark does):
    * the descent chain + recursive-closure labels (the q344 device)
    * parameterized onto the corpus CTE, the q88 fixed-centroid
    * assignment + same-cell drop, one row per planted clone with
    * both verdicts. */
  val q347_semdedup_agreement: String = {
    val corpusCte = """corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
    list_transform(range(1, len(embedding)+1),
      i -> CASE WHEN i = 1
           THEN CAST(embedding[1] + CAST(1.5 AS FLOAT) AS FLOAT)
           ELSE embedding[i] END) AS embedding
  FROM embeddings WHERE vec_id < 40), """
    knnDescentCtes("corpus")
      .replaceFirst("WITH ", "WITH RECURSIVE " + corpusCte) + s""",
pr AS (SELECT src AS a3, dst AS b3 FROM g1 WHERE cosine >= 0.4 AND src < dst),
e2 AS (SELECT DISTINCT a, b FROM (
  SELECT a3 AS a, b3 AS b FROM pr UNION ALL SELECT b3, a3 FROM pr)),
conn2(a, b) AS (
  SELECT a, b FROM e2
  UNION
  SELECT c.a, e2.b FROM conn2 c JOIN e2 ON c.b = e2.a WHERE e2.b <> c.a),
lab AS (SELECT a AS vec_id, least(a, min(b)) AS label FROM conn2 GROUP BY a),
$ivfCm,
aa AS (
  SELECT vec_id, embedding, cell,
    $ivfD
  FROM corpus CROSS JOIN cm),
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM aa)
  WHERE rn = 1),
idropped AS (
  SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.4)
SELECT cl.vec_id - 1000000 AS base_id, cl.vec_id AS clone_id,
  (ac.cell = ab.cell) AS same_cell,
  (di.vec_id IS NULL) AS kept_ivf,
  (lg.label IS NULL OR lg.label = cl.vec_id) AS kept_graph
FROM corpus cl
JOIN assign ac ON ac.vec_id = cl.vec_id
JOIN assign ab ON ab.vec_id = cl.vec_id - 1000000
LEFT JOIN idropped di ON di.vec_id = cl.vec_id
LEFT JOIN lab lg ON lg.vec_id = cl.vec_id
WHERE cl.vec_id >= 1000000
ORDER BY clone_id"""
  }

  /** q348 twin of [[graft.dedup.Dedup.compactSignatureIndex]] +
    * [[graft.dedup.Dedup.incrementalNearDups]]: the q346 corpus, the
    * q18 signature pipeline, the compaction replayed as a
    * row_number ≤ 8 filter per (band, key) ordered by doc_id, then
    * the q85 batch-vs-index banded join over a fresh 3-clone batch.
    * Detection must survive compaction — the batch clones pair with
    * the KEPT representatives. */
  val q348_index_compact: String = {
    val sigEntries = graft.dedup.Dedup.minhashCoeffs.map { case (a, b) =>
      s"list_reduce(list_transform(hs, x -> (x*$a+$b)%1000000007), (u,v)->least(u,v))"
    }.mkString(",\n    ")
    val nh = graft.dedup.Dedup.numHashes
    def sigPipe(src: String, suf: String) = s"""
toks$suf AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                t -> t <> '') AS tokens
  FROM $src),
sh$suf AS (
  SELECT doc_id, list_transform(range(1, len(tokens)-1),
    i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) AS shingles
  FROM toks$suf WHERE len(tokens) >= 3),
xs$suf AS (
  SELECT doc_id, list_transform(shingles,
    s -> CAST(('0x' || substr(md5(s),1,14)) AS BIGINT) % 1000000007) AS hs
  FROM sh$suf),
sigs$suf AS (SELECT doc_id, [$sigEntries] AS sig FROM xs$suf),
bands$suf AS (
  SELECT doc_id, sig, b,
    CAST(sig[b*4+1] AS VARCHAR) || '_' || CAST(sig[b*4+2] AS VARCHAR) || '_' ||
    CAST(sig[b*4+3] AS VARCHAR) || '_' || CAST(sig[b*4+4] AS VARCHAR) AS key
  FROM sigs$suf CROSS JOIN (SELECT unnest([0,1,2,3]) AS b))"""
    s"""
WITH $cloneCorpusCte,
batch AS (
  SELECT r.r + 990000 AS doc_id,
         d.text || ' qq' || CAST(r.r AS VARCHAR) AS text
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 3)) AS r) r
  WHERE d.doc_id < 1),${sigPipe("corpus", "")},
idx AS (
  SELECT doc_id, sig, b, key FROM (
    SELECT *, row_number() OVER (PARTITION BY b, key ORDER BY doc_id) AS rn
    FROM bands) WHERE rn <= 8),${sigPipe("batch", "b")},
pairs AS (
  SELECT DISTINCT i.doc_id AS doc_a, n.doc_id AS doc_b,
                  i.sig AS sig_a, n.sig AS sig_b
  FROM idx i JOIN bandsb n
    ON i.b = n.b AND i.key = n.key AND i.doc_id <> n.doc_id)
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT doc_a, doc_b,
    CAST(len(list_filter(range(1,${nh + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)/$nh.0
      AS est_jaccard
  FROM pairs)
WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b"""
  }

  /** q350 twin of [[graft.analytics.Correlation.mannWhitneyScreen]]:
    * the q345 chain as a CTE, the two-sided permille p as a COUNT
    * over the SHARED Φ⁻¹ cut-table literals (generated from
    * [[graft.analytics.Correlation.normalCutsPermille]] — no libm
    * call in either engine), NULL-z pairs excluded, then the q280 BH
    * step-up with the identical (p, "a|b") tiebreak. */
  val q350_mw_screen: String = {
    // %.17e, not toString: DuckDB types plain decimal literals as
    // DECIMAL, whose decimal→double conversion is 1 ulp off a
    // text→double parse (the q361 find) — a z landing exactly on a
    // cut's bit pattern would then count differently per engine.
    // E-notation literals are typed DOUBLE and strtod-parsed exact.
    val cuts = graft.analytics.Correlation.normalCutsPermille
      .map(c => f"$c%.17e").mkString(", ")
    s"""
WITH mw AS ($q345_mann_whitney),
pp AS (
  SELECT group_a, group_b, n_a, n_b, z,
    CAST(len(list_filter([$cuts], c -> abs(z) <= c)) AS BIGINT)
      AS p_permille
  FROM mw WHERE z IS NOT NULL),
r AS (
  SELECT *,
    row_number() OVER (ORDER BY p_permille, group_a || '|' || group_b)
      AS p_rank,
    count(*) OVER () AS m
  FROM pp),
s AS (
  SELECT coalesce(max(p_permille), -1) AS pstar
  FROM r WHERE p_permille * m <= p_rank * 50)
SELECT group_a, group_b, n_a, n_b, z, p_permille,
  CAST(p_rank AS BIGINT) AS p_rank, CAST(m AS BIGINT) AS m,
  p_permille <= (SELECT pstar FROM s) AS rejected
FROM r ORDER BY group_a, group_b"""
  }

  /** q344 twin: the shared descent chain's g1 edges at cos ≥ 0.4,
    * symmetrized, recursive-closure components (the q118 device),
    * smallest-id survivors — q88's verdict shape over the graph
    * candidate universe. */
  val q344_semdedup_graph: String =
    knnDescentCtes().replaceFirst("WITH ", "WITH RECURSIVE ") + """,
pr AS (SELECT src AS a, dst AS b FROM g1 WHERE cosine >= 0.4 AND src < dst),
e2 AS (SELECT DISTINCT a, b FROM (
  SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr)),
conn2(a, b) AS (
  SELECT a, b FROM e2
  UNION
  SELECT c.a, e2.b FROM conn2 c JOIN e2 ON c.b = e2.a WHERE e2.b <> c.a),
lab AS (SELECT a AS vec_id, least(a, min(b)) AS label FROM conn2 GROUP BY a)
SELECT e.vec_id, coalesce(l.label, e.vec_id) AS cluster,
  (l.label IS NULL OR l.label = e.vec_id) AS kept
FROM embeddings e LEFT JOIN lab l ON l.vec_id = e.vec_id
ORDER BY e.vec_id"""

  /** q332 twin: recall@10 of the seed (g0) and refined (g1) graphs
    * against exact brute force (norm-hoisted, same fold), one row per
    * stage — integer hits, e6 floor mean. */
  val q332_descent_recall: String = {
    val cosAB = s"${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)"
    knnDescentCtes() + s""",
exact AS (
  SELECT src AS query_id, dst AS neighbor_id FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY $cosAB DESC, b.vec_id) AS r
    FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id) WHERE r <= 10),
nq AS (SELECT count(DISTINCT query_id) AS n_queries FROM exact),
sh AS (SELECT count(*) AS total_hits FROM exact e
  JOIN g0 a ON a.src = e.query_id AND a.dst = e.neighbor_id),
rh AS (SELECT count(*) AS total_hits FROM exact e
  JOIN g1 a ON a.src = e.query_id AND a.dst = e.neighbor_id)
SELECT stage, CAST(n_queries AS BIGINT) AS n_queries,
  CAST(total_hits AS BIGINT) AS total_hits,
  CAST((total_hits * 1000000) // (n_queries * 10) AS BIGINT) AS mean_recall_e6
FROM (
  SELECT 'seed' AS stage, nq.n_queries, sh.total_hits FROM nq, sh
  UNION ALL
  SELECT 'refined' AS stage, nq.n_queries, rh.total_hits FROM nq, rh)
ORDER BY stage"""
  }

  // --- events (graft.events.EventAnalytics) --------------------------------

  /** The `m` CTE of the 30-minute gap sessionization (q24 and its
    * reusers), the twin of [[graft.events.EventAnalytics.sessionize]]:
    * over CTE `e` (with `us` = epoch microseconds), `is_new` = 1 where
    * a user's previous event in `order` is absent or more than 30
    * minutes earlier. */
  private def sessionStarts(order: String): String = s"""m AS (
  SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY $order) IS NULL
                   OR us - lag(us) OVER (PARTITION BY user_id ORDER BY $order)
                      > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e)"""

  /** Gap sessionization twin: integer-microsecond gap compare,
    * (ts, event_id) order, running sum of session starts. DuckDB's
    * window SUM yields HUGEINT — cast to match Spark's long. */
  val q24_sessionize: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, value, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM m)
SELECT user_id, session_seq,
  count(*) AS n_events,
  min(ts) AS session_start,
  max(ts) AS session_end,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
  count(DISTINCT event_type) AS distinct_types
FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq"""

  /** Tumbling 1h windows: Spark's window() aligns to the epoch, which
    * on whole hours equals date_trunc. */
  val q25_event_windows: String = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS unique_users,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  // --- storage & format round-trips ----------------------------------------

  /** The Spark side wrote month-partitioned parquet and read it back
    * through the partition predicate; the oracle computes the same
    * date-bounded aggregate directly. */
  val q26_stored_pruning: String = barsCte + """
SELECT symbol, count(*) AS n_rows,
  CAST(sum(CAST(close AS DECIMAL(38,2))) AS DOUBLE) AS sum_close,
  min(date) AS first_date, max(date) AS last_date
FROM merged
WHERE strftime(date, '%Y-%m') >= '1995-01' AND strftime(date, '%Y-%m') <= '1995-06'
GROUP BY symbol ORDER BY symbol"""

  /** CSV/JSON round-trips are lossless (shortest-repr doubles, ISO
    * timestamps, empty-string nulls), so aggregates over the
    * round-tripped frame equal aggregates over the original. */
  val q27_csv_roundtrip: String = barsCte + """
SELECT symbol, count(*) AS n_rows,
  CAST(sum(CAST(close AS DECIMAL(38,2))) AS DOUBLE) AS sum_close,
  CAST(sum(CAST(daily_change_pct AS DECIMAL(38,4))) AS DOUBLE) AS sum_change,
  CAST(sum(volume) AS BIGINT) AS sum_volume,
  count(CASE WHEN open IS NULL THEN 1 END) AS null_open,
  min(date) AS first_date, max(date) AS last_date
FROM tbars GROUP BY symbol ORDER BY symbol"""

  val q28_json_roundtrip: String = barsCte + """
SELECT data_source, count(*) AS n_rows,
  CAST(sum(CAST(close AS DECIMAL(38,2))) AS DOUBLE) AS sum_close,
  CAST(sum(volume) AS BIGINT) AS sum_volume,
  min(date) AS first_date, max(date) AS last_date
FROM merged GROUP BY data_source ORDER BY data_source"""

  /** W1 pandas rolling(n): NULL until n rows exist in the frame. */
  val q29_ma_pandas: String = barsCte + s"""
, $dailyCloseCte
SELECT symbol, date, close_price,
  CASE WHEN row_number() OVER (PARTITION BY symbol ORDER BY date) >= 5 THEN
    avg(close_price) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) END AS ma_5d,
  CASE WHEN row_number() OVER (PARTITION BY symbol ORDER BY date) >= 10 THEN
    avg(close_price) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) END AS ma_10d,
  CASE WHEN row_number() OVER (PARTITION BY symbol ORDER BY date) >= 20 THEN
    avg(close_price) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) END AS ma_20d,
  CASE WHEN row_number() OVER (PARTITION BY symbol ORDER BY date) >= 50 THEN
    avg(close_price) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) END AS ma_50d
FROM daily ORDER BY symbol, date"""

  /** Weekly OHLC twin: DuckDB date_trunc('week') is also Monday-based;
    * volume sums cast back to Spark's BIGINT. */
  val q57_resample_weekly: String = barsCte + """
, daily AS (
  SELECT symbol, date,
    min(open) AS open, max(high) AS high, min(low) AS low,
    min(close) AS close, CAST(sum(volume) AS BIGINT) AS volume
  FROM merged GROUP BY symbol, date),
wk AS (
  SELECT symbol, CAST(date_trunc('week', date) AS DATE) AS week,
    min(date) AS d0, max(date) AS d1,
    max(high) AS high, min(low) AS low,
    CAST(sum(volume) AS BIGINT) AS volume,
    count(*) AS n_days
  FROM daily GROUP BY 1, 2)
SELECT wk.symbol, week, o.open, wk.high, wk.low, c.close, wk.volume, wk.n_days
FROM wk
JOIN daily o ON o.symbol = wk.symbol AND o.date = wk.d0
JOIN daily c ON c.symbol = wk.symbol AND c.date = wk.d1
ORDER BY wk.symbol, week"""

  /** Technical indicators twin of [[graft.analytics.Indicators]].
    * Every indicator is exact integer arithmetic up to ONE final
    * double division (+ sqrt), operation-for-operation identical to
    * the Spark expressions — window sums of integer-valued doubles
    * are exact on both engines, so no stddev_samp/avg built-ins whose
    * accumulation order the engines could disagree on. */
  val q59_indicators: String = barsCte + """
, daily AS (
  SELECT symbol, date, min(close) AS close_price,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM merged GROUP BY symbol, date),
ind AS (
  SELECT symbol, date, close_price,
    row_number() OVER w AS rn,
    sum(close_price * volume) OVER w20 AS pv,
    sum(volume) OVER w20 AS vv,
    sum(close_price) OVER w20 AS s1,
    sum(close_price * close_price) OVER w20 AS s2,
    max(close_price) OVER (PARTITION BY symbol ORDER BY date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
    close_price - lag(close_price) OVER w AS diff
  FROM daily
  WINDOW w AS (PARTITION BY symbol ORDER BY date),
         w20 AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
g AS (
  SELECT *, CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
            CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss
  FROM ind),
r AS (
  SELECT *, sum(gain) OVER w14 AS sg, sum(loss) OVER w14 AS sl
  FROM g
  WINDOW w14 AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT symbol, date, close_price,
  CASE WHEN rn >= 20 AND vv > 0 THEN pv / vv END AS vwap_20d,
  CASE WHEN rn >= 20 THEN s1 / 20 END AS boll_mid,
  CASE WHEN rn >= 20
    THEN s1 / 20 + 2.0 * sqrt((20 * s2 - s1 * s1) / 380) END AS boll_up,
  CASE WHEN rn >= 20
    THEN s1 / 20 - 2.0 * sqrt((20 * s2 - s1 * s1) / 380) END AS boll_dn,
  (close_price - peak) / peak * 100 AS drawdown_pct,
  CASE WHEN rn >= 15 THEN
    CASE WHEN sl > 0 THEN 100.0 - 100.0 / (1.0 + sg / sl) ELSE 100.0 END
  END AS rsi_14
FROM r ORDER BY symbol, date"""

  /** Correlation-matrix twin of [[graft.analytics.Correlation]]:
    * returns quantized once to DECIMAL(18,6), five exact decimal sums
    * per pair, each cast to double, then the SAME double corr formula
    * — accumulation order can no longer matter. */
  val q62_corr_matrix: String = barsCte + s"""
, $dailyCloseCte,
$retsCte,
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, count(*) AS n_days,
    -- two DuckDB-vs-Spark conversion traps here:
    -- (1) widen before multiplying: DuckDB runs DECIMAL(18) products
    --     in int64 and overflows; DECIMAL(24) is hugeint-backed
    --     (values exact either way, = Spark's (18,6)x(18,6)->(37,12));
    -- (2) decimal->double goes VIA VARCHAR: DuckDB's direct cast
    --     divides in double arithmetic and can double-round 1 ulp off
    --     the true value (observed on a 20-digit sum), while Java's
    --     BigDecimal.doubleValue and strtod are correctly rounded.
    CAST(CAST(sum(a.ret) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(b.ret) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(CAST(a.ret AS DECIMAL(24,6)) * CAST(a.ret AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(CAST(b.ret AS DECIMAL(24,6)) * CAST(b.ret AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(CAST(a.ret AS DECIMAL(24,6)) * CAST(b.ret AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM rets a JOIN rets b ON a.date = b.date AND a.symbol < b.symbol
  GROUP BY 1, 2)
SELECT sym_a, sym_b, n_days,
  CASE WHEN (CAST(n_days AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n_days AS DOUBLE) * syy - sy * sy) > 0
    THEN (CAST(n_days AS DOUBLE) * sxy - sx * sy) /
         (sqrt(CAST(n_days AS DOUBLE) * sxx - sx * sx) *
          sqrt(CAST(n_days AS DOUBLE) * syy - sy * sy))
  END AS corr
FROM agg WHERE n_days >= 2 ORDER BY sym_a, sym_b"""

  /** q96 twin: per-symbol least-squares trend — q62's determinism
    * recipe (decimal-quantized y held as scaled int64, exact integer
    * sums via the VARCHAR double-cast, identical final trees). */
  val q96_ols_trend: String = barsCte + s"""
, $dailyCloseCte,
q AS (
  SELECT symbol,
    CAST(date_diff('day', DATE '1970-01-01', date) AS BIGINT) AS x,
    CAST(CAST(ROUND(CAST(close_price AS DECIMAL(28,10)), 6) AS DECIMAL(18,6))
         * 1000000 AS BIGINT) AS y6
  FROM daily),
agg AS (
  SELECT symbol, count(*) AS n_days,
    CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(y6) AS VARCHAR) AS DOUBLE) AS sy6,
    CAST(CAST(sum(x * y6) AS VARCHAR) AS DOUBLE) AS sxy6
  FROM q GROUP BY 1)
SELECT symbol, n_days,
  ((CAST(n_days AS DOUBLE) * sxy6 - sx * sy6) /
   (CAST(n_days AS DOUBLE) * sxx - sx * sx)) / 1e6 AS slope,
  (((sy6 - ((CAST(n_days AS DOUBLE) * sxy6 - sx * sy6) /
            (CAST(n_days AS DOUBLE) * sxx - sx * sx)) * sx)
    / CAST(n_days AS DOUBLE)) / 1e6) AS intercept
FROM agg
WHERE n_days >= 2 AND (CAST(n_days AS DOUBLE) * sxx - sx * sx) <> 0
ORDER BY symbol"""

  /** The bloom pre-filter is semantically invisible: the oracle is the
    * plain semi join. */
  val q63_bloom_semijoin: String = """
SELECT event_id, user_id, event_type FROM events
WHERE event_type = 'error' AND user_id IN
  (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
ORDER BY event_id"""

  /** P13/P14 freshness + age probes vs a literal anchor. */
  val q30_freshness: String = barsCte + """
SELECT max(date) AS newest_date, min(date) AS oldest_date,
  CAST(max(CASE WHEN date >= DATE '1998-12-01' - INTERVAL 7 DAY THEN 1 ELSE 0 END)
    AS INTEGER) AS is_fresh,
  CAST(max(CASE WHEN date < DATE '1998-12-01' - INTERVAL 365 DAY THEN 1 ELSE 0 END)
    AS INTEGER) AS age_warn
FROM merged"""

  /** Multimodal metadata over text-derived binaries. The corpus is
    * ASCII, so char offsets equal byte offsets and DuckDB's varchar
    * functions oracle the Spark binary ops exactly; md5(varchar)
    * hashes the same UTF-8 bytes as Spark's md5(binary). */
  val q31_multimodal_meta: String = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  hex(encode(substr(text, 1, 8))) AS header_hex,
  md5(text) AS content_md5,
  CAST(('0x' || substr(md5(text),1,14)) AS BIGINT) % 1920 + 1 AS fake_width,
  CAST(('0x' || substr(md5(text),1,14)) AS BIGINT) % 1080 + 1 AS fake_height,
  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks,
  md5(substr(text, 1, 256)) AS chunk0_md5
FROM documents ORDER BY doc_id"""

  /** Frame sampling over the ASCII corpus: char offsets equal byte
    * offsets, so DuckDB's varchar substr mirrors Spark's binary
    * substring; range(0, n, stride) excludes n — the same ordinal set
    * as Spark's sequence(0, (n-1)/stride) * stride. */
  val q50_frame_sample: String = """
WITH f AS (
  SELECT doc_id, text,
    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 128.0) AS BIGINT), 4))
      AS frame_idx
  FROM documents)
SELECT doc_id, frame_idx,
  md5(substr(text, CAST(frame_idx * 128 + 1 AS INTEGER), 128)) AS frame_md5,
  CAST(length(substr(text, CAST(frame_idx * 128 + 1 AS INTEGER), 128)) AS BIGINT)
    AS frame_len
FROM f ORDER BY doc_id, frame_idx"""

  /** As-of join via DuckDB's native ASOF LEFT JOIN; the Spark side is
    * the union+running-last plan. Right side deduped per (user, ts)
    * keeping the max event_id, mirroring the Spark dedup. */
  val q32_asof_join: String = """
WITH v AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view')
  WHERE rn = 1),
p AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
  v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.event_id"""

  /** Multi-table equi-join + filtered aggregate (TPC-H Q5 shape). */
  val q33_join_revenue: String = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE)
    AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND r_name = 'ASIA'
GROUP BY n_name ORDER BY n_name"""

  /** The salted join must equal the plain join — the oracle runs the
    * unsalted form. */
  val q34_salted_join: String = barsCte + """
, dim AS (
  SELECT 'S' || CAST(s_suppkey % 25 AS VARCHAR) AS symbol, count(*) AS n_suppliers
  FROM supplier GROUP BY 1)
SELECT m.symbol, count(*) AS n_rows,
  CAST(sum(CAST(close AS DECIMAL(38,2))) AS DOUBLE) AS sum_close,
  max(n_suppliers) AS n_suppliers
FROM merged m JOIN dim d ON m.symbol = d.symbol
GROUP BY m.symbol ORDER BY m.symbol"""

  /** try_cast coercibility probes; DuckDB TRY_CAST has the same
    * NULL-on-failure contract. */
  val q35_cast_probe: String = """
SELECT
  count(CASE WHEN TRY_CAST(lang AS DOUBLE) IS NULL AND lang IS NOT NULL THEN 1 END)
    AS lang_not_double,
  count(CASE WHEN TRY_CAST(source AS DATE) IS NULL AND source IS NOT NULL THEN 1 END)
    AS source_not_date,
  count(CASE WHEN TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) IS NULL
             AND CAST(n_chars AS VARCHAR) IS NOT NULL THEN 1 END)
    AS n_chars_not_bigint,
  count(*) AS row_count
FROM documents"""

  /** Near-dup removal: the q18 pair query (nested WITH) feeds a
    * recursive transitive closure; survivors are docs with no smaller
    * connected doc_id. */
  val q36_neardup_dedup: String = s"""
WITH RECURSIVE
$minhashConnCtes,
removed AS (SELECT DISTINCT a FROM conn WHERE b < a)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT a FROM removed)
ORDER BY doc_id"""

  /** Leakage-safe split twin: q18's pairs feed the recursive closure;
    * label = least reachable doc_id (self included); the split hash is
    * the q74/q75 md5-derived value hash, applied to the CLUSTER id. */
  val q84_leakage_split: String = s"""
WITH RECURSIVE
$minhashConnCtes,
lab AS (SELECT a AS doc_id, least(a, min(b)) AS label FROM conn GROUP BY a)
SELECT d.doc_id, d.lang,
  coalesce(l.label, d.doc_id) AS cluster,
  CASE WHEN CAST(('0x' || substr(md5(
         CAST(coalesce(l.label, d.doc_id) AS VARCHAR)), 1, 14)) AS BIGINT)
       % 10000 < 2000
    THEN 'eval' ELSE 'train' END AS split
FROM documents d LEFT JOIN lab l USING (doc_id)
ORDER BY d.doc_id"""

  /** Incremental-index twin: the indexed corpus is doc_id < 250 and the
    * new batch doc_id >= 250 (disjoint, corpus ids smaller), so the
    * incremental result is exactly the cross-boundary slice of the full
    * union's pair set. */
  val q85_incremental_neardup: String = s"""
WITH p AS ($q18_minhash_neardup)
SELECT doc_a, doc_b, est_jaccard FROM p
WHERE doc_a < 250 AND doc_b >= 250 ORDER BY doc_a, doc_b"""

  /** BPE-ish token counts; the regex is RE2-safe alternation shared
    * verbatim (module the SQL quote doubling) with the Spark side. */
  val q37_token_counts: String = {
    val pat = graft.text.TextAnalysis.bpePattern.replace("'", "''")
    s"""
SELECT doc_id,
  CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
       t -> t <> '')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) AS n_bpe_tokens
FROM documents ORDER BY doc_id"""
  }

  val q52_repetition: String = shinglesCte + """
SELECT doc_id,
  CAST(len(hs) AS BIGINT) AS n_shingles,
  CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct,
  1.0 - CAST(len(list_distinct(hs)) AS DOUBLE) / CAST(len(hs) AS DOUBLE)
    AS dup_ratio
FROM xs ORDER BY doc_id"""

  val q53_funnel: String = """
SELECT user_id,
  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
  (min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
   AND min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
   AND min(CASE WHEN event_type = 'purchase' THEN ts END)
       >= min(CASE WHEN event_type = 'view' THEN ts END)) AS converted
FROM events GROUP BY user_id ORDER BY user_id"""

  /** PII-scan twin generated from the shared pattern table. */
  val q58_pii_scan: String = {
    val cols = graft.text.TextAnalysis.piiPatterns.toSeq.sortBy(_._1)
      .map { case (name, pat) =>
        // standard SQL single-quoted strings keep backslashes literal,
        // so the Scala pattern embeds verbatim (quotes doubled)
        val p = pat.replace("'", "''")
        s"CAST(len(regexp_extract_all(lower(text), '$p')) AS BIGINT) AS n_$name"
      }.mkString(",\n  ")
    val flag = graft.text.TextAnalysis.piiPatterns.keys.toSeq.sorted
      .map(n => s"n_$n > 0").mkString(" OR ")
    s"""
WITH c AS (
  SELECT doc_id,
  $cols
  FROM documents)
SELECT doc_id, ${graft.text.TextAnalysis.piiPatterns.keys.toSeq.sorted
        .map(n => s"n_$n").mkString(", ")},
  ($flag) AS has_pii
FROM c ORDER BY doc_id"""
  }

  val q55_cohort_retention: String = """
WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT cohort_day,
  CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
  count(DISTINCT act.user_id) AS n_users
FROM act JOIN fd ON act.user_id = fd.user_id
GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"""

  /** Histogram twin: same floor arithmetic; n_chars is integral so the
    * double division is exact. */
  val q56_histogram: String = """
SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 500.0) AS BIGINT) AS bin,
  count(*) AS n,
  min(CAST(n_chars AS DOUBLE)) AS bin_min,
  max(CAST(n_chars AS DOUBLE)) AS bin_max,
  CAST(floor(CAST(n_chars AS DOUBLE) / 500.0) AS BIGINT) * 500.0 AS bin_lo
FROM documents WHERE n_chars IS NOT NULL
GROUP BY bin ORDER BY bin"""

  val q38_percentiles: String = """
SELECT l_returnflag,
  quantile_cont(l_quantity, 0.25) AS p25,
  quantile_cont(l_quantity, 0.5) AS p50,
  quantile_cont(l_quantity, 0.75) AS p75,
  quantile_cont(l_quantity, 0.95) AS p95,
  count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  val q39_pivot_sources: String = barsCte + """
SELECT symbol,
  CAST(sum(CASE WHEN data_source = 'alpha_vantage'
    THEN CAST(close AS DECIMAL(38,2)) END) AS DOUBLE) AS av_close_sum,
  CAST(sum(CASE WHEN data_source = 'yahoo_finance'
    THEN CAST(close AS DECIMAL(38,2)) END) AS DOUBLE) AS yh_close_sum
FROM merged GROUP BY symbol ORDER BY symbol"""

  /** q42 reads through the catalog table + view; the semantics are
    * q03's daily metrics, so the oracle is the same SQL. */
  val q42_catalog_view: String = q03_daily_metrics

  val q68_window_ranks: String = barsCte + s"""
, $dailyCloseCte
SELECT symbol, date, close_price,
  rank() OVER (PARTITION BY symbol ORDER BY close_price DESC) AS close_rank,
  dense_rank() OVER (PARTITION BY symbol ORDER BY close_price DESC) AS close_dense_rank,
  ntile(4) OVER (PARTITION BY symbol ORDER BY close_price, date) AS quartile,
  percent_rank() OVER (PARTITION BY symbol ORDER BY close_price) AS pct_rank,
  cume_dist() OVER (PARTITION BY symbol ORDER BY close_price) AS cume,
  lag(close_price) OVER (PARTITION BY symbol ORDER BY date) AS prev_close,
  lead(close_price) OVER (PARTITION BY symbol ORDER BY date) AS next_close
FROM daily ORDER BY symbol, date"""

  val q69_cube: String = barsCte + """
SELECT data_source, symbol, count(*) AS n,
  CAST(sum(CAST(close AS DECIMAL(38,2))) AS DOUBLE) AS sum_close
FROM merged
GROUP BY CUBE(data_source, symbol)
ORDER BY data_source NULLS FIRST, symbol NULLS FIRST"""

  /** The incremental-maintenance invariant IS the oracle: splicing
    * recomputed touched dates into the prior rollup must equal the
    * from-scratch aggregation (q03). */
  val q67_incremental_rollup: String = q03_daily_metrics

  /** q43's partitioned upsert produces the same logical table as q08's
    * join-based upsert — the oracle is q08's merged expectation. */
  val q43_upsert_partitioned: String = q08_upsert

  val q44_recent_window: String = barsCte + s"""
SELECT $mergedCols FROM merged
WHERE date >= (DATE '1998-12-01' - 90) AND symbol IN ('S1', 'S2', 'S3')
ORDER BY row_id"""

  /** q45's oracle: the q24 session CTEs + a plain BETWEEN range join —
    * DuckDB's nested-loop is fine at oracle scale; the Spark side must
    * produce the identical pair set through the bucketed equi-join. */
  val q45_range_join: String = s"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, value, epoch_us(ts) AS us FROM events),
${sessionStarts("ts, event_id")},
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM m),
sess AS (
  SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY user_id, session_seq),
iv AS (SELECT user_id AS i_user, session_seq, session_start, session_end
       FROM sess WHERE user_id % 50 = 0),
p AS (SELECT event_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT i_user, session_seq, count(*) AS n_points,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM p JOIN iv ON p.ts >= iv.session_start AND p.ts <= iv.session_end
GROUP BY i_user, session_seq ORDER BY i_user, session_seq"""

  /** Hash-order sampling twin: the md5-derived key hash is the
    * engine-shared arithmetic used everywhere else. */
  val q46_sample: String = """
WITH h AS (
  SELECT doc_id, lang, source, n_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) AS kh
  FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY kh, doc_id) AS rn
      FROM h)
SELECT doc_id, lang, source, n_chars, (kh % 5 = 0) AS in_hash_sample
FROM r WHERE rn <= 20 ORDER BY doc_id"""

  val q60_quota_sample: String = """
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
    row_number() OVER (PARTITION BY lang, source
                       ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
WHERE rn <= 5 ORDER BY doc_id"""

  val q61_rate_sample: String = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
        % 10000 <
      CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000 ELSE 5000 END
ORDER BY doc_id"""

  /** Sequence-packing twin: the greedy reset-on-overflow scan is a
    * recursive CTE advancing every shard one row per iteration —
    * state (pack_seq, fill) carried exactly like the Spark
    * mapPartitions fold. BIGINT anchors pin the recursion's column
    * types to Spark's Longs. */
  val q64_seq_packing: String = """
WITH RECURSIVE d AS (
  SELECT lang AS shard, doc_id, n_chars AS size,
    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents),
st AS (
  SELECT shard, rn, doc_id, size,
    CAST(1 AS BIGINT) AS pack_seq, size AS pack_fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.size,
    CASE WHEN st.pack_fill + d.size <= 2000
         THEN st.pack_seq ELSE st.pack_seq + 1 END,
    CASE WHEN st.pack_fill + d.size <= 2000
         THEN st.pack_fill + d.size ELSE d.size END
  FROM d JOIN st ON d.shard = st.shard AND d.rn = st.rn + 1)
SELECT shard, doc_id, size, pack_seq, pack_fill
FROM st ORDER BY doc_id"""

  /** Compaction is content-preserving by contract: the oracle is the
    * source table itself. */
  val q65_compaction: String = """
SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id"""

  val q47_contamination: String = shinglesCte + """
, ds AS (SELECT doc_id, list_distinct(hs) AS ss FROM xs),
posting AS (SELECT doc_id, unnest(ss) AS shingle FROM ds),
bench AS (SELECT DISTINCT shingle FROM posting WHERE doc_id < 20),
tp AS (SELECT * FROM posting WHERE doc_id >= 20),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM tp GROUP BY doc_id),
hits AS (SELECT tp.doc_id, count(*) AS n_contaminated
         FROM tp JOIN bench USING (shingle) GROUP BY tp.doc_id)
SELECT t.doc_id, n_shingles,
  COALESCE(n_contaminated, 0) AS n_contaminated,
  CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
    AS contamination
FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
ORDER BY t.doc_id"""

  val q40_rollup: String = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** Chunk-dedup twin of [[graft.dedup.ChunkDedup.sharedChunkProfile]]:
    * tokens unnested with positions, regrouped into 20-token chunks
    * with an ORDER BY-backed string_agg (the SQL form of the Spark
    * slice), then one window pass over the chunk md5 for the canonical
    * instance and the cross-doc sharing flag. */
  val q70_chunk_dedup: String = toksCte + """
, pos AS (
  SELECT doc_id, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS p
  FROM toks),
ch AS (
  SELECT doc_id, (p-1)//20 AS ci,
    string_agg(t, ' ' ORDER BY p) AS chunk_text,
    CAST(count(*) AS BIGINT) AS chunk_tokens
  FROM pos GROUP BY doc_id, (p-1)//20),
fl AS (
  SELECT doc_id, ci, chunk_text, chunk_tokens,
    row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, ci) AS rn,
    min(doc_id) OVER (PARTITION BY md5(chunk_text)) AS dmin,
    max(doc_id) OVER (PARTITION BY md5(chunk_text)) AS dmax
  FROM ch)
SELECT doc_id,
  count(*) AS n_chunks,
  CAST(sum(CASE WHEN dmin <> dmax THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
  CAST(sum(CASE WHEN rn = 1 THEN chunk_tokens ELSE 0 END) AS BIGINT) AS n_kept_tokens,
  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY ci), ''))
    AS kept_md5,
  CAST(sum(CASE WHEN dmin <> dmax THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS shared_ratio
FROM fl GROUP BY doc_id ORDER BY doc_id"""

  /** Shared vocabulary-rank CTE: token counts over the whole corpus,
    * total-ordered rank (count DESC, token) — the twin of
    * [[graft.text.Vocab.tokenRanks]]. */
  private val ranksCte: String = toksCte + """
, inst AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
vocab AS (
  SELECT token, count(*) AS occurrences FROM inst GROUP BY token),
ranks AS (
  SELECT token,
    row_number() OVER (ORDER BY occurrences DESC, token) AS rank
  FROM vocab)
"""

  val q71_rank_score: String = ranksCte + """
SELECT doc_id,
  count(*) AS n_tokens,
  count(DISTINCT i.token) AS n_types,
  CAST(sum(rank) AS BIGINT) AS rank_sum,
  CAST(max(rank) AS BIGINT) AS rarest_rank,
  CAST(sum(rank) AS DOUBLE) / count(*) AS mean_rank
FROM inst i JOIN ranks r ON i.token = r.token
GROUP BY doc_id ORDER BY doc_id"""

  val q72_oov_rate: String = ranksCte + """
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(sum(CASE WHEN rank IS NULL OR rank > 500 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_oov,
  CAST(sum(CASE WHEN rank IS NULL OR rank > 500 THEN 1 ELSE 0 END) AS DOUBLE)
    / count(*) AS oov_rate
FROM inst i LEFT JOIN ranks r ON i.token = r.token
GROUP BY doc_id ORDER BY doc_id"""

  /** Quality-rules twin of [[graft.text.QualityRules.ruleReport]] —
    * thresholds and the stopword union are interpolated from the SAME
    * Scala constants the Spark operator uses. Shared CTE chain (ends
    * at `r`, the per-doc report) reused by q73 and q342. */
  private val qualityRulesCte: String = {
    import graft.text.QualityRules._
    val stopList = allStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    toksCte + s"""
, feats AS (
  SELECT doc_id,
    CAST(len(tokens) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tokens, t -> CAST(length(t) AS BIGINT))), (a,x) -> a + x)
      AS sum_len,
    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_uniq,
    CAST(len(list_filter(tokens, t -> regexp_matches(t, '^[0-9]+$$'))) AS BIGINT)
      AS n_digit,
    CAST(len(list_filter(tokens, t -> list_contains($stopList, t))) AS BIGINT)
      AS n_stop
  FROM toks WHERE len(tokens) > 0),
r AS (
  SELECT doc_id, n_tokens,
    CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
    CAST(n_digit AS DOUBLE) / n_tokens AS digit_ratio,
    CAST(n_uniq AS DOUBLE) / n_tokens AS unique_ratio,
    n_stop AS stop_hits,
    (n_tokens >= $minTokens AND n_tokens <= $maxTokens) AS len_ok,
    (CAST(sum_len AS DOUBLE) / n_tokens >= $minAvgLen
      AND CAST(sum_len AS DOUBLE) / n_tokens <= $maxAvgLen) AS word_len_ok,
    (CAST(n_digit AS DOUBLE) / n_tokens <= $maxDigitRatio) AS digit_ok,
    (CAST(n_uniq AS DOUBLE) / n_tokens >= $minUniqueRatio) AS rep_ok,
    (n_stop >= $minStopHits) AS stop_ok
  FROM feats)"""
  }

  val q73_quality_rules: String = qualityRulesCte + """
SELECT *, (len_ok AND word_len_ok AND digit_ok AND rep_ok AND stop_ok) AS keep
FROM r ORDER BY doc_id"""

  /** q342 twin of [[graft.text.QualityRules.ruleAblation]]: per rule,
    * total failures, UNIQUE failures (all other rules pass), and the
    * token mass of the unique kills — generated over the same rule
    * list so the two sides cannot drift. */
  val q342_rule_ablation: String = {
    val rules = graft.text.QualityRules.ruleNames
    val aggs = rules.zipWithIndex.map { case (rl, i) =>
      val others = rules.filterNot(_ == rl).mkString(" AND ")
      s"""    sum(CASE WHEN NOT $rl THEN 1 ELSE 0 END) AS f$i,
    sum(CASE WHEN NOT $rl AND $others THEN 1 ELSE 0 END) AS u$i,
    sum(CASE WHEN NOT $rl AND $others THEN n_tokens ELSE 0 END) AS t$i"""
    }.mkString(",\n")
    val arms = rules.zipWithIndex.map { case (rl, i) =>
      s"  SELECT '$rl' AS rule, f$i AS n_failing, u$i AS n_unique_failing," +
        s" t$i AS tokens_lost_unique FROM a"
    }.mkString("\n  UNION ALL\n")
    qualityRulesCte + s"""
, a AS (
  SELECT
$aggs
  FROM r)
SELECT rule, CAST(n_failing AS BIGINT) AS n_failing,
  CAST(n_unique_failing AS BIGINT) AS n_unique_failing,
  CAST(tokens_lost_unique AS BIGINT) AS tokens_lost_unique
FROM (
$arms)
ORDER BY rule"""
  }

  /** q343 twin of [[graft.dedup.Dedup.dedupImpact]] over the q18
    * minhash pairs: the q118 closure labels pick smallest-id
    * survivors (label < node ⇒ removed), then the per-source
    * before/after rollups and HUGEINT permille shares. */
  val q343_dedup_impact: String = s"""
WITH RECURSIVE
$minhashConnCtes,
lab AS (SELECT a AS node, least(a, min(b)) AS label FROM conn GROUP BY a),
rm AS (SELECT node AS doc_id FROM lab WHERE label < node),
b AS (
  SELECT source, count(*) AS docs_before,
    CAST(sum(n_chars) AS BIGINT) AS weight_before
  FROM documents GROUP BY 1),
a2 AS (
  SELECT source, count(*) AS docs_after,
    CAST(sum(n_chars) AS BIGINT) AS weight_after
  FROM documents d LEFT JOIN rm ON rm.doc_id = d.doc_id
  WHERE rm.doc_id IS NULL GROUP BY 1),
j AS (
  SELECT b.source, b.docs_before,
    coalesce(a2.docs_after, 0) AS docs_after,
    b.weight_before, coalesce(a2.weight_after, 0) AS weight_after
  FROM b LEFT JOIN a2 USING (source)),
t AS (SELECT sum(docs_before) AS tb, sum(docs_after) AS ta FROM j)
SELECT source, CAST(docs_before AS BIGINT) AS docs_before,
  CAST(docs_after AS BIGINT) AS docs_after,
  CAST(docs_before - docs_after AS BIGINT) AS docs_removed,
  weight_before, weight_after,
  CAST((CAST(docs_before AS HUGEINT) * 1000) // CAST(tb AS HUGEINT)
    AS BIGINT) AS share_before_permille,
  CASE WHEN ta = 0 THEN NULL
    ELSE CAST((CAST(docs_after AS HUGEINT) * 1000) // CAST(ta AS HUGEINT)
      AS BIGINT) END AS share_after_permille
FROM j, t ORDER BY source"""

  /** Shard-assignment twin of [[graft.etl.Sampling.trainShards]]: the
    * md5-derived key hash for the shard, an independently salted
    * ('order:'-prefixed) hash for the within-shard order. */
  val q74_train_shards: String = """
WITH h AS (
  SELECT doc_id, lang,
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 16
      AS INTEGER) AS shard,
    CAST(('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
      AS oh
  FROM documents)
SELECT doc_id, lang, shard,
  row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id) AS pos
FROM h ORDER BY doc_id"""

  /** Mixture twin of [[graft.etl.Sampling.mixToTarget]]: anchor = max
    * target-weight/count ratio (tie-break on stratum), integer-floor
    * permyriad rates, the shared md5 hash filter. */
  val q75_mixture: String = """
WITH t(lang, w) AS (VALUES ('de',15),('en',40),('es',15),('fr',15),('zh',15)),
c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
j AS (SELECT t.lang, w, n FROM t JOIN c USING (lang) WHERE n > 0),
m AS (SELECT lang AS ml, w AS mw, n AS mn FROM j
      ORDER BY CAST(w AS DOUBLE)/n DESC, lang LIMIT 1),
r AS (SELECT j.lang, (10000 * w * mn) // (n * mw) AS rate FROM j CROSS JOIN m)
SELECT doc_id, lang, source FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
        % 10000 < rate
ORDER BY doc_id"""

  /** Z-order twin of [[graft.SparkEntry.queries]]' q76: the same
    * quantize + mask-shift Morton spread in SQL bitwise arithmetic,
    * bounds interpolated from the shared constants. The layout write
    * is semantics-invariant, so the oracle filters the original
    * table. */
  val q76_zorder: String = {
    import graft.SparkEntry.ZBounds._
    s"""
WITH q AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    least(255, greatest(0, CAST(floor(
      (CAST(o_custkey AS DOUBLE) - $ckMin) * 256 / ($ckMax - $ckMin)) AS BIGINT)))
      AS cx,
    least(255, greatest(0, CAST(floor(
      (CAST(o_totalprice AS DOUBLE) - $tpMin) * 256 / ($tpMax - $tpMin)) AS BIGINT)))
      AS cy
  FROM orders
  WHERE o_custkey >= 100 AND o_custkey < 300
    AND o_totalprice >= 10000 AND o_totalprice < 100000),
s1 AS (SELECT *, (cx | (cx << 8)) & 16711935 AS a1,
               (cy | (cy << 8)) & 16711935 AS b1 FROM q),
s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
               (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
               (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
               (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
SELECT o_orderkey, o_custkey, o_totalprice, a4 | (b4 << 1) AS zvalue
FROM s4 ORDER BY o_orderkey"""
  }

  /** Winsorize twin of
    * [[graft.analytics.Profiling.winsorizedStats]]: quantile_cont
    * bounds (the q38-proven exact-percentile parity), identical clamp,
    * exact-decimal sums. */
  val q77_winsorize: String = """
WITH b AS (
  SELECT l_returnflag AS g,
    quantile_cont(l_quantity, 0.05) AS lo, quantile_cont(l_quantity, 0.95) AS hi
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, count(*) AS n,
  CAST(sum(CASE WHEN l_quantity < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
  CAST(sum(CASE WHEN l_quantity > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_raw,
  CAST(sum(CAST(least(greatest(CAST(l_quantity AS DOUBLE), lo), hi)
    AS DECIMAL(38,4))) AS DOUBLE) AS sum_winsor,
  min(lo) AS lo, min(hi) AS hi
FROM lineitem JOIN b ON l_returnflag = b.g
GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Centroid twin of [[graft.similarity.Similarity.groupCentroids]]:
    * 1-based generate_subscripts shifted to Spark's 0-based posexplode
    * dim; float components cast to double (exact) before the decimal
    * sum. */
  val q78_centroids: String = """
WITH e AS (
  SELECT label, generate_subscripts(embedding, 1) AS p, unnest(embedding) AS v
  FROM embeddings)
SELECT label, CAST(p - 1 AS INTEGER) AS dim, count(*) AS n,
  CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
    / CAST(count(v) AS DOUBLE) AS mean_v
FROM e GROUP BY label, p ORDER BY label, dim"""

  /** EMA/MACD twin of [[graft.analytics.Indicators.emaMacd]]: the
    * recurrence as a recursive CTE advancing every symbol one row per
    * iteration; α/β constants interpolated from the SAME Scala doubles
    * (round-tripped through toString) and the fold written in the
    * identical a·x + b·e evaluation order. The constants are routed
    * through CAST('…' AS DOUBLE) from a STRING literal: a bare numeric
    * literal parses as DECIMAL, and DuckDB's decimal→double cast
    * double-rounds 1 ulp off (the q62 trap) — which compounds every
    * iteration in a recurrence. */
  val q79_ema_macd: String = {
    val af = 2.0 / 13.0; val bf = 1.0 - af
    val as = 2.0 / 27.0; val bs = 1.0 - as
    // the recursive member needs RECURSIVE on the WHOLE with-chain
    barsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
, $panelDailyCloseCte,
d AS (
  SELECT symbol, date, close_price,
    row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM daily),
st AS (
  SELECT symbol, date, close_price, rn,
    close_price AS ema_fast, close_price AS ema_slow
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.symbol, d.date, d.close_price, d.rn,
    CAST('$af' AS DOUBLE) * d.close_price + CAST('$bf' AS DOUBLE) * st.ema_fast,
    CAST('$as' AS DOUBLE) * d.close_price + CAST('$bs' AS DOUBLE) * st.ema_slow
  FROM st JOIN d ON d.symbol = st.symbol AND d.rn = st.rn + 1)
SELECT symbol, date, close_price, ema_fast, ema_slow,
  ema_fast - ema_slow AS macd
FROM st ORDER BY symbol, date"""
  }

  /** Versioned-table twins: v2 = the logical upsert (q08's shape); v1
    * read AFTER v2's commit = the untouched pre-upsert contents. */
  val q80_timetravel_current: String = q08_upsert

  /** q105 reads v1 and v2 through the versioned store and diffs them;
    * the logical before/after frames are exactly q54's target/after
    * construction, so the oracle is the same SQL (the q80→q08
    * pattern: the versioned READ must be semantically invisible). */
  val q105_version_diff: String = q54_snapshot_diff

  /** q106 vacuums the two-commit table down to v2 and reads it:
    * retention must be semantically invisible to retained versions, so
    * the oracle is again the logical upsert (the q80→q08 pattern). */
  val q106_vacuum_read: String = q08_upsert

  val q81_timetravel_past: String = barsCte + s"""
SELECT $mergedCols FROM merged WHERE date < DATE '1999-01-01'
ORDER BY row_id"""

  /** q112: the logical DELETE over the upsert result — q08's merged
    * view (its target/staging CTEs verbatim) minus the tombstoned
    * slice (days 1-10 of Q4-1998). The versioned delete commit must be
    * semantically exactly SQL DELETE. */
  val q112_delete_read: String = barsCte + s"""$q08After
SELECT $mergedCols FROM after
WHERE NOT (date >= DATE '1998-09-01' AND day(date) <= 10)
ORDER BY row_id, close"""

  /** q113: v2 read AFTER v3's delete — the delete is invisible to
    * earlier snapshots, so the oracle is the plain upsert (q80's). */
  val q113_delete_timetravel: String = q08_upsert

  /** P7 twin: DuckDB strftime renders the same "yyyy-MM-dd" text Spark's
    * date_format emits for any proleptic-Gregorian date. */
  val q82_date_to_string: String = barsCte + """
SELECT row_id, strftime(date, '%Y-%m-%d') AS date, symbol, close
FROM tbars ORDER BY row_id"""

  /** S6/K4 twin: the generated fixture the Spark side ingests via its
    * fetch callable, regenerated relationally. `load_rows` is the
    * observed write-job metric (constant = fixture size). Arithmetic is
    * engine-identical: i*1.25 is exact binary at these magnitudes. */
  val q83_ingest_roundtrip: String = """
SELECT i AS id, 'S' || CAST(i % 5 AS VARCHAR) AS sym,
  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(i AS DOUBLE) * 1.25 END AS px,
  DATE '1998-01-01' + CAST(i AS INTEGER) AS d,
  CAST(20 AS BIGINT) AS load_rows
FROM range(1, 21) t(i) ORDER BY id"""

  def all: Map[String, String] = Map(
    "q01_transform_derive" -> q01_transform_derive,
    "q02_merge_dedup" -> q02_merge_dedup,
    "q03_daily_metrics" -> q03_daily_metrics,
    "q04_moving_averages" -> q04_moving_averages,
    "q05_inconsistency" -> q05_inconsistency,
    "q06_quality_metrics" -> q06_quality_metrics,
    "q07_ingestion_stats" -> q07_ingestion_stats,
    "q08_upsert" -> q08_upsert,
    "q09_validate_rules" -> q09_validate_rules,
    "q10_null_profile" -> q10_null_profile,
    "q11_dup_count" -> q11_dup_count,
    "q12_coverage" -> q12_coverage,
    "q13_agg_pushdown" -> q13_agg_pushdown,
    "q14_token_stats" -> q14_token_stats,
    "q15_doc_profile" -> q15_doc_profile,
    "q16_lang_confusion" -> q16_lang_confusion,
    "q17_content_dedup" -> q17_content_dedup,
    "q70_chunk_dedup" -> q70_chunk_dedup,
    "q71_rank_score" -> q71_rank_score,
    "q72_oov_rate" -> q72_oov_rate,
    "q73_quality_rules" -> q73_quality_rules,
    "q74_train_shards" -> q74_train_shards,
    "q75_mixture" -> q75_mixture,
    "q76_zorder" -> q76_zorder,
    "q77_winsorize" -> q77_winsorize,
    "q78_centroids" -> q78_centroids,
    "q79_ema_macd" -> q79_ema_macd,
    "q80_timetravel_current" -> q80_timetravel_current,
    "q81_timetravel_past" -> q81_timetravel_past,
    "q112_delete_read" -> q112_delete_read,
    "q113_delete_timetravel" -> q113_delete_timetravel,
    "q82_date_to_string" -> q82_date_to_string,
    "q83_ingest_roundtrip" -> q83_ingest_roundtrip,
    "q84_leakage_split" -> q84_leakage_split,
    "q85_incremental_neardup" -> q85_incremental_neardup,
    // index-after-append ≡ index-of-union: the appended index answers
    // the same cross-boundary question q85 does
    "q87_index_append" -> q85_incremental_neardup,
    // the persisted-index search contract IS the static-centroid IVF
    "q86_ivf_index_search" -> q48_ann_ivf_static,
    // append is semantically invisible: index(half)+append(half) must
    // answer exactly like index(all), which answers like q48's CTE
    "q107_ivf_append" -> q48_ann_ivf_static,
    "q18_minhash_neardup" -> q18_minhash_neardup,
    "q19_jaccard_pairs" -> q19_jaccard_pairs,
    "q20_simhash_neardup" -> q20_simhash_neardup,
    "q21_knn_bruteforce" -> q21_knn_bruteforce,
    "q22_ann_lsh" -> q22_ann_lsh,
    "q23_embed_neardup" -> q23_embed_neardup,
    "q24_sessionize" -> q24_sessionize,
    "q25_event_windows" -> q25_event_windows,
    "q26_stored_pruning" -> q26_stored_pruning,
    "q27_csv_roundtrip" -> q27_csv_roundtrip,
    "q28_json_roundtrip" -> q28_json_roundtrip,
    "q29_ma_pandas" -> q29_ma_pandas,
    "q30_freshness" -> q30_freshness,
    "q31_multimodal_meta" -> q31_multimodal_meta,
    "q32_asof_join" -> q32_asof_join,
    "q33_join_revenue" -> q33_join_revenue,
    "q34_salted_join" -> q34_salted_join,
    "q35_cast_probe" -> q35_cast_probe,
    "q36_neardup_dedup" -> q36_neardup_dedup,
    "q37_token_counts" -> q37_token_counts,
    "q38_percentiles" -> q38_percentiles,
    "q39_pivot_sources" -> q39_pivot_sources,
    "q40_rollup" -> q40_rollup,
    "q42_catalog_view" -> q42_catalog_view,
    "q43_upsert_partitioned" -> q43_upsert_partitioned,
    "q44_recent_window" -> q44_recent_window,
    "q45_range_join" -> q45_range_join,
    "q46_sample" -> q46_sample,
    "q47_contamination" -> q47_contamination,
    "q48_ann_ivf_static" -> q48_ann_ivf_static,
    "q88_semantic_dedup" -> q88_semantic_dedup,
    "q91_quantized_knn" -> q91_quantized_knn,
    "q111_ivf_sq8_search" -> q111_ivf_sq8_search,
    "q114_png_decode_stats" -> q114_png_decode_stats,
    "q115_wav_decode_stats" -> q115_wav_decode_stats,
    "q116_url_canonicalize" -> q116_url_canonicalize,
    "q117_boilerplate_lines" -> q117_boilerplate_lines,
    "q118_keep_best_neardup" -> q118_keep_best_neardup,
    "q119_chunk_windows" -> q119_chunk_windows,
    "q120_html_extract" -> q120_html_extract,
    "q121_image_neardup" -> q121_image_neardup,
    "q122_audio_neardup" -> q122_audio_neardup,
    "q123_script_detect" -> q123_script_detect,
    "q124_pagerank" -> q124_pagerank,
    "q125_pagerank_norm" -> q125_pagerank_norm,
    "q126_pii_redact" -> q126_pii_redact,
    "q127_purged_folds" -> q127_purged_folds,
    "q128_code_detect" -> q128_code_detect,
    "q129_domain_gini" -> q129_domain_gini,
    "q130_trustrank" -> q130_trustrank,
    "q131_components" -> q131_components,
    "q132_quota_cap_audit" -> q132_quota_cap_audit,
    "q133_harmonic" -> q133_harmonic,
    "q134_graph_audit" -> q134_graph_audit,
    // lossless columnar round-trip: the result contract IS the q27
    // aggregate over the original frame
    "q135_orc_roundtrip" -> q27_csv_roundtrip,
    "q136_malformed_quarantine" -> q136_malformed_quarantine,
    "q137_shared_spans" -> q137_shared_spans,
    "q138_span_removal" -> q138_span_removal,
    "q139_temperature_mix" -> q139_temperature_mix,
    "q140_scd2_dimension" -> q140_scd2_dimension,
    "q141_snapshot_diff" -> q141_snapshot_diff,
    "q142_curation_pipeline" -> q142_curation_pipeline,
    "q143_transitions" -> q143_transitions,
    "q144_crawl_rank" -> q144_crawl_rank,
    "q145_quantile_features" -> q145_quantile_features,
    "q146_dataset_card" -> q146_dataset_card,
    "q147_readability" -> q147_readability,
    "q148_session_paths" -> q148_session_paths,
    "q149_upsample_mix" -> q149_upsample_mix,
    "q150_gap_fill" -> q150_gap_fill,
    "q151_token_budget" -> q151_token_budget,
    "q152_funnel_steps" -> q152_funnel_steps,
    "q153_collocations" -> q153_collocations,
    "q154_market_beta" -> q154_market_beta,
    "q155_hits" -> q155_hits,
    "q156_phrase_search" -> q156_phrase_search,
    "q157_containment_pairs" -> q157_containment_pairs,
    "q158_autocorr" -> q158_autocorr,
    "q159_rfm" -> q159_rfm,
    "q160_attribution" -> q160_attribution,
    "q161_heaps_curve" -> q161_heaps_curve,
    "q162_label_prop" -> q162_label_prop,
    "q163_cube_report" -> q163_cube_report,
    "q164_pivot_matrix" -> q164_pivot_matrix,
    "q165_cocitation" -> q165_cocitation,
    "q166_assoc_rules" -> q166_assoc_rules,
    "q167_bm25_search" -> q167_bm25_search,
    "q168_decayed_counts" -> q168_decayed_counts,
    "q169_cadence" -> q169_cadence,
    "q170_lorenz" -> q170_lorenz,
    "q171_seasonal_naive" -> q171_seasonal_naive,
    "q172_kcore" -> q172_kcore,
    "q173_encoding_audit" -> q173_encoding_audit,
    "q174_candlesticks" -> q174_candlesticks,
    "q175_reversal_screen" -> q175_reversal_screen,
    "q176_fk_audit" -> q176_fk_audit,
    "q177_kwic" -> q177_kwic,
    "q178_level_shift" -> q178_level_shift,
    "q179_rendezvous" -> q179_rendezvous,
    "q180_new_returning" -> q180_new_returning,
    "q181_triangles" -> q181_triangles,
    "q182_weighted_pagerank" -> q182_weighted_pagerank,
    "q183_hourly_envelope" -> q183_hourly_envelope,
    "q184_ivm_merge" -> q184_ivm_merge,
    "q185_conversion_latency" -> q185_conversion_latency,
    "q186_stickiness" -> q186_stickiness,
    "q187_embedding_hygiene" -> q187_embedding_hygiene,
    "q188_lang_script" -> q188_lang_script,
    "q189_trading_gaps" -> q189_trading_gaps,
    "q191_benford" -> q191_benford,
    "q193_burst_audit" -> q193_burst_audit,
    "q194_fd_violations" -> q194_fd_violations,
    "q195_streaks" -> q195_streaks,
    "q196_prefix_dups" -> q196_prefix_dups,
    "q197_seed_reach" -> q197_seed_reach,
    "q198_entry_exit" -> q198_entry_exit,
    "q199_scc" -> q199_scc,
    "q200_jpeg_meta" -> q200_jpeg_meta,
    "q201_condensation" -> q201_condensation,
    "q202_card_scan" -> q202_card_scan,
    "q203_robust_scale" -> q203_robust_scale,
    "q204_spoof_scan" -> q204_spoof_scan,
    "q205_cdc_apply" -> q205_cdc_apply,
    "q206_pq_adc" -> q206_pq_adc,
    "q207_ivf_pq_search" -> q207_ivf_pq_search,
    "q208_qq_table" -> q208_qq_table,
    "q209_bootstrap" -> q209_bootstrap,
    "q210_golden_record" -> q210_golden_record,
    "q211_stationary" -> q211_stationary,
    "q212_novelty" -> q212_novelty,
    "q213_asof_directions" -> q213_asof_directions,
    "q214_tfidf_cosine" -> q214_tfidf_cosine,
    "q215_feature_hash" -> q215_feature_hash,
    "q216_wav_frame_features" -> q216_wav_frame_features,
    "q217_merge_intervals" -> q217_merge_intervals,
    "q218_link_prediction" -> q218_link_prediction,
    "q219_feature_propagation" -> q219_feature_propagation,
    "q220_impute_median" -> q220_impute_median,
    "q221_fd_discovery" -> q221_fd_discovery,
    "q222_k_anonymize" -> q222_k_anonymize,
    "q223_zone_map_scan" -> q223_zone_map_scan,
    "q224_weighted_median" -> q224_weighted_median,
    "q225_content_chunks" -> q225_content_chunks,
    "q226_neardup_eval" -> q226_neardup_eval,
    "q227_url_policy" -> q227_url_policy,
    "q228_length_batches" -> q228_length_batches,
    "q229_ranking_metrics" -> q229_ranking_metrics,
    "q230_truncation_recall" -> q230_truncation_recall,
    "q231_incremental_components" -> q231_incremental_components,
    "q232_randomization_test" -> q232_randomization_test,
    "q233_interval_intersection" -> q233_interval_intersection,
    "q234_expectations" -> q234_expectations,
    "q235_curation_to_batches" -> q235_curation_to_batches,
    "q236_prefix_filter_pairs" -> q236_prefix_filter_pairs,
    "q237_cms_estimates" -> q237_cms_estimates,
    "q238_snm_linkage" -> q238_snm_linkage,
    "q239_crawl_schedule" -> q239_crawl_schedule,
    "q240_interp_fill" -> q240_interp_fill,
    "q241_kappa" -> q241_kappa,
    "q242_loo_encoding" -> q242_loo_encoding,
    "q243_quantile_norm" -> q243_quantile_norm,
    "q244_candidate_keys" -> q244_candidate_keys,
    "q245_silence_trim" -> q245_silence_trim,
    "q246_join_cardinality" -> q246_join_cardinality,
    "q247_survival_hazard" -> q247_survival_hazard,
    "q248_matched_cohort" -> q248_matched_cohort,
    "q249_dedup_decisions" -> q249_dedup_decisions,
    "q250_topk_native" -> q250_topk_native,
    "q251_vocab_trend" -> q251_vocab_trend,
    "q252_csv_quarantine" -> q252_csv_quarantine,
    "q253_bitemporal_correction" -> q253_bitemporal_correction,
    "q254_session_window_native" -> q254_session_window_native,
    "q328_capstone_batch" -> q328_capstone_batch,
    "q329_tokenizer_fertility" -> q329_tokenizer_fertility,
    "q330_kn_surprisal" -> q330_kn_surprisal,
    "q331_knn_descent" -> q331_knn_descent,
    "q332_descent_recall" -> q332_descent_recall,
    "q333_preference_pairs" -> q333_preference_pairs,
    "q334_gif_frames" -> q334_gif_frames,
    "q335_ann_multiprobe" -> q335_ann_multiprobe,
    "q336_behavior_surprisal" -> q336_behavior_surprisal,
    "q337_chaining_audit" -> q337_chaining_audit,
    "q338_winnowing_pairs" -> q338_winnowing_pairs,
    "q339_weighted_interleave" -> q339_weighted_interleave,
    "q340_png_thumbnail" -> q340_png_thumbnail,
    "q341_wav_decimate" -> q341_wav_decimate,
    "q342_rule_ablation" -> q342_rule_ablation,
    "q343_dedup_impact" -> q343_dedup_impact,
    "q344_semdedup_graph" -> q344_semdedup_graph,
    "q345_mann_whitney" -> q345_mann_whitney,
    "q346_minhash_governed" -> q346_minhash_governed,
    "q347_semdedup_agreement" -> q347_semdedup_agreement,
    "q348_index_compact" -> q348_index_compact,
    "q349_winnowing_spans" -> q349_winnowing_spans,
    "q350_mw_screen" -> q350_mw_screen,
    "q351_blocklist_scan" -> q351_blocklist_scan,
    "q352_blocklist_gate" -> q352_blocklist_gate,
    "q353_fellegi_sunter" -> q353_fellegi_sunter,
    "q354_sft_pack" -> q354_sft_pack,
    "q355_soundex_conflation" -> q355_soundex_conflation,
    "q356_pack_order_ablation" -> q356_pack_order_ablation,
    "q357_sft_capstone" -> q357_sft_capstone,
    "q358_robots_allowed" -> q358_robots_allowed,
    "q359_seasonal_decompose" -> q359_seasonal_decompose,
    "q360_crawl_frontier" -> q360_crawl_frontier,
    "q361_fs_em_step" -> q361_fs_em_step,
    "q362_good_turing" -> q362_good_turing,
    "q363_chao1" -> q363_chao1,
    "q364_term_dispersion" -> q364_term_dispersion,
    "q365_holt_winters" -> q365_holt_winters,
    "q366_seasonal_mk" -> q366_seasonal_mk,
    "q367_decomp_strength" -> q367_decomp_strength,
    "q368_fleiss_kappa" -> q368_fleiss_kappa,
    "q369_simhash_governed" -> q369_simhash_governed,
    "q370_image_neardup_governed" -> q370_image_neardup_governed,
    "q371_hll_distinct" -> q371_hll_distinct,
    "q372_cms_counts" -> q372_cms_counts,
    "q373_hll_by_group" -> q373_hll_by_group,
    "q382_hdr_quantiles" -> q382_hdr_quantiles,
    "q383_hdr_lang" -> q383_hdr_lang,
    "q374_mp4_header" -> q374_mp4_header,
    "q375_hll_overlap" -> q375_hll_overlap,
    "q376_mp4_tracks" -> q376_mp4_tracks,
    "q377_cms_saturated" -> q377_cms_saturated,
    "q378_warc_records" -> q378_warc_records,
    "q379_warc_to_text" -> q379_warc_to_text,
    "q380_sitemap" -> q380_sitemap,
    "q381_id3_frames" -> q381_id3_frames,
    "q384_mp4_samples" -> q384_mp4_samples,
    "q385_mp3_frames" -> q385_mp3_frames,
    "q386_feed_parse" -> q386_feed_parse,
    "q255_er_pipeline" -> q255_er_pipeline,
    "q256_paired_signflip" -> q256_paired_signflip,
    "q257_roc_auc" -> q257_roc_auc,
    "q258_calibration" -> q258_calibration,
    "q259_seed_distances" -> q259_seed_distances,
    "q260_exact_quantiles" -> q260_exact_quantiles,
    "q261_proximity_join" -> q261_proximity_join,
    "q262_chi_square" -> q262_chi_square,
    "q263_lift_table" -> q263_lift_table,
    "q264_frontier_schedule" -> q264_frontier_schedule,
    "q265_token_mix" -> q265_token_mix,
    "q266_subtree_rollup" -> q266_subtree_rollup,
    "q267_cumulative_distinct" -> q267_cumulative_distinct,
    "q268_melt_metrics" -> q268_melt_metrics,
    "q269_threshold_audit" -> q269_threshold_audit,
    "q270_materialized_paths" -> q270_materialized_paths,
    "q271_allocate_down" -> q271_allocate_down,
    "q272_cusum_alarms" -> q272_cusum_alarms,
    "q273_spearman" -> q273_spearman,
    "q274_mann_kendall" -> q274_mann_kendall,
    "q275_skyline" -> q275_skyline,
    "q276_frequent_trigrams" -> q276_frequent_trigrams,
    "q277_dbscan" -> q277_dbscan,
    "q278_stem_conflation" -> q278_stem_conflation,
    "q279_holt_smooth" -> q279_holt_smooth,
    "q280_bh_fdr" -> q280_bh_fdr,
    "q281_surprisal" -> q281_surprisal,
    "q282_kendall_tau" -> q282_kendall_tau,
    "q283_conformal_band" -> q283_conformal_band,
    "q284_two_hop_reach" -> q284_two_hop_reach,
    "q285_negative_samples" -> q285_negative_samples,
    "q287_user_diversity" -> q287_user_diversity,
    "q288_contrastive_pairs" -> q288_contrastive_pairs,
    "q289_schema_evolution" -> q289_schema_evolution,
    "q290_compaction" -> q290_compaction,
    "q291_sliding_stats" -> q291_sliding_stats,
    "q292_modularity" -> q292_modularity,
    "q293_rake_keywords" -> q293_rake_keywords,
    "q294_forecast_bakeoff" -> q294_forecast_bakeoff,
    "q295_churn_labels" -> q295_churn_labels,
    "q296_weighted_jaccard" -> q296_weighted_jaccard,
    "q297_obv" -> q297_obv,
    "q298_time_to_convert" -> q298_time_to_convert,
    "q299_cluster_compactness" -> q299_cluster_compactness,
    "q301_dimension_audit" -> q301_dimension_audit,
    "q302_inclusion_deps" -> q302_inclusion_deps,
    "q303_assortativity" -> q303_assortativity,
    "q304_historical_var" -> q304_historical_var,
    "q305_syndication_matrix" -> q305_syndication_matrix,
    "q306_pipeline_e2e" -> q306_pipeline_e2e,
    "q307_average_precision" -> q307_average_precision,
    "q308_distribution_drift" -> q308_distribution_drift,
    "q309_isotonic_calibration" -> q309_isotonic_calibration,
    "q310_priority_sample" -> q310_priority_sample,
    "q311_stress_centrality" -> q311_stress_centrality,
    "q312_hybrid_rrf" -> q312_hybrid_rrf,
    "q313_pettitt" -> q313_pettitt,
    "q314_two_stage_knn" -> q314_two_stage_knn,
    "q315_ktruss" -> q315_ktruss,
    "q316_katz" -> q316_katz,
    "q317_eccentricity" -> q317_eccentricity,
    "q318_segmented_trend" -> q318_segmented_trend,
    "q319_gif_meta" -> q319_gif_meta,
    "q320_common_paths" -> q320_common_paths,
    "q321_conditional_surprisal" -> q321_conditional_surprisal,
    "q322_ivf_two_stage" -> q322_ivf_two_stage,
    "q323_stress_sampled" -> q323_stress_sampled,
    "q325_daily_acf" -> q325_daily_acf,
    "q326_ivf_stack_recall" -> q326_ivf_stack_recall,
    "q327_hybrid_staged_rrf" -> q327_hybrid_staged_rrf,
    "q300_stump_split" -> q300_stump_split,
    "q286_quota_sample" -> q286_quota_sample,
    "q192_peak_concurrency" -> q192_peak_concurrency,
    "q190_ltv_curve" -> q190_ltv_curve,
    "q95_ann_recall" -> q95_ann_recall,
    // the bucketed-join result contract IS the plain join
    "q49_bucketed_join" -> q34_salted_join,
    "q50_frame_sample" -> q50_frame_sample,
    "q51_text_clean" -> q51_text_clean,
    "q108_nfc_normalize" -> q108_nfc_normalize,
    "q52_repetition" -> q52_repetition,
    "q53_funnel" -> q53_funnel,
    "q54_snapshot_diff" -> q54_snapshot_diff,
    "q55_cohort_retention" -> q55_cohort_retention,
    "q56_histogram" -> q56_histogram,
    "q57_resample_weekly" -> q57_resample_weekly,
    "q58_pii_scan" -> q58_pii_scan,
    "q59_indicators" -> q59_indicators,
    "q60_quota_sample" -> q60_quota_sample,
    "q61_rate_sample" -> q61_rate_sample,
    "q62_corr_matrix" -> q62_corr_matrix,
    "q63_bloom_semijoin" -> q63_bloom_semijoin,
    "q64_seq_packing" -> q64_seq_packing,
    "q65_compaction" -> q65_compaction,
    "q66_bigrams" -> q66_bigrams,
    "q89_bigram_familiarity" -> q89_bigram_familiarity,
    "q90_bpe_pair_counts" -> q90_bpe_pair_counts,
    "q110_bpe_encode_static" -> q110_bpe_encode_static,
    "q92_drift" -> q92_drift,
    "q93_fuzzy_pairs" -> q93_fuzzy_pairs,
    "q94_ks_drift" -> q94_ks_drift,
    "q96_ols_trend" -> q96_ols_trend,
    "q97_k_anonymity" -> q97_k_anonymity,
    "q98_table_stats" -> q98_table_stats,
    "q99_tfidf" -> q99_tfidf,
    "q100_rolling_corr" -> q100_rolling_corr,
    "q104_heavy_hitters" -> q104_heavy_hitters,
    "q105_version_diff" -> q105_version_diff,
    "q106_vacuum_read" -> q106_vacuum_read,
    "q101_hard_negatives" -> q101_hard_negatives,
    "q102_mad_outliers" -> q102_mad_outliers,
    "q103_cluster_purity" -> q103_cluster_purity,
    "q67_incremental_rollup" -> q67_incremental_rollup,
    "q68_window_ranks" -> q68_window_ranks,
    "q69_cube" -> q69_cube)
}
