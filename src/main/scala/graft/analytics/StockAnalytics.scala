package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact

/** The reference's analytic query surface
  * (reference `plugins/helpers/queries.py:22-163`) as five DataFrame
  * transformations over the canonical bar table (SURVEY.md §2.5 A3–A6,
  * §2.6 W1/W2, §2.4 J2), plus the per-symbol daily-series operators
  * built on them. Each is a pure plan — partition pruning, pushdown
  * and whole-stage codegen come from Catalyst.
  *
  * Where the SQL reference picks a day's representative close with
  * ANY_VALUE (nondeterministic), these operators take the day's `min`
  * close, and the average volatility goes through an exact decimal
  * sum ([[graft.core.Exact.exactAvg]] at scale 4), so every result is
  * deterministic and hash-equal to its DuckDB twin. [[dailyClose]] is
  * the one per-(symbol, date) pre-aggregation the series operators
  * share.
  */
object StockAnalytics {

  /** The trailing moving-average widths, in rows. */
  private val MaWindows = Seq(5, 10, 20, 50)
  /** The divergence, in percent, past which a multi-source day is
    * reported by [[inconsistencies]]. */
  private val MinPctDiff = 2.0
  /** The seasonal period, in days: one week, the slot count of
    * [[weekdaySlot]]. */
  private[analytics] val Period = 7

  /** The weekday slot of `date`, 0 = Monday: days since 1970-01-05 (a
    * Monday) mod 7. Date-based, so calendar gaps keep their weekday;
    * the season index of [[seasonalDecompose]],
    * [[Indicators.holtWinters]] and [[Correlation.seasonalMannKendall]]. */
  private[analytics] def weekdaySlot: Column =
    pmod(datediff(col("date"), lit("1970-01-05")), lit(Period))

  /** One bar per (symbol, date): the day's min close as `close_price`
    * — the pre-aggregation behind [[movingAverages]],
    * [[movingAveragesPandasStyle]] and the registry's daily series
    * (oracle twin: OracleSql's dailyCloseCte). Without it the MA
    * windows would mix rows from both sources. */
  def dailyClose(bars: DataFrame): DataFrame =
    bars.groupBy(col("symbol"), col("date"))
      .agg(min(col("close")).as("close_price"))

  /** Daily metrics view (A3/K9, reference `queries.py:22-34`):
    * per (date, symbol): min close, exact average volatility, source
    * count (SQL twin: [[graft.store.Store.createDailyMetricsView]]). */
  def dailyMetrics(bars: DataFrame): DataFrame =
    bars.groupBy(col("date"), col("symbol"))
      .agg(
        min(col("close")).as("close_price"),
        Exact.exactAvg(col("daily_volatility"), 4).as("avg_volatility"),
        countDistinct(col("data_source")).as("source_count"))

  /** Moving averages, SQL frame semantics (W2, reference
    * `queries.py:76-115`): 5/10/20/50-row trailing averages over
    * [[dailyClose]]. One shuffle for the group-by; the window reuses
    * the same (symbol) partitioning — Catalyst elides the second
    * exchange. */
  def movingAverages(bars: DataFrame): DataFrame =
    trailingAverages(bars, fullOnly = false)

  /** Moving averages, pandas semantics (W1, reference
    * `transformers.py:128-151`): NULL until a full window of rows
    * exists (`rolling(n)` with default min_periods=n). */
  def movingAveragesPandasStyle(bars: DataFrame): DataFrame =
    trailingAverages(bars, fullOnly = true)

  private def trailingAverages(bars: DataFrame, fullOnly: Boolean): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    MaWindows.foldLeft(dailyClose(bars)) { (df, n) =>
      val ma = avg(col("close_price")).over(w.rowsBetween(-(n - 1), Window.currentRow))
      df.withColumn(s"ma_${n}d", if (fullOnly) when(row_number().over(w) >= n, ma) else ma)
    }
  }

  /** Cross-source inconsistency report (A4/J2, reference
    * `queries.py:37-73`): per (date, symbol) with >1 source, price
    * stats + divergence pct + per-source detail array, HAVING expressed
    * as a post-agg filter. The detail array is sorted for determinism
    * (the SQL's ARRAY_AGG has no ORDER BY — ours is strictly more
    * defined). */
  def inconsistencies(bars: DataFrame): DataFrame =
    bars.groupBy(col("date"), col("symbol"))
      .agg(
        min(col("close")).as("min_close"),
        max(col("close")).as("max_close"),
        avg(col("close")).as("avg_close"),
        countDistinct(col("data_source")).as("source_count"),
        array_sort(collect_list(struct(col("data_source"), col("close"))))
          .as("source_details"))
      .filter(col("source_count") > 1)
      .withColumn("price_diff_pct",
        (col("max_close") - col("min_close")) / col("min_close") * 100)
      .filter(col("price_diff_pct") > MinPctDiff)

  /** Data-quality metrics (A5, reference `queries.py:118-147`): one
    * global aggregation row — counts, distinct counts, null counts
    * (COUNTIF ≡ count(when)), price stats, plus an ordered per-source
    * count array (the ARRAY_AGG(STRUCT(...) ORDER BY) two-step). */
  def qualityMetrics(bars: DataFrame): DataFrame = {
    val perSource = bars.groupBy(col("data_source")).agg(count(lit(1)).as("cnt"))
    val sourceArray = perSource
      .agg(array_sort(collect_list(struct(col("data_source"), col("cnt"))))
        .as("source_counts"))
    val global = bars.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("date")).as("unique_dates"),
      countDistinct(col("symbol")).as("unique_symbols"),
      countDistinct(col("data_source")).as("unique_sources"),
      min(col("date")).as("earliest_date"),
      max(col("date")).as("latest_date"),
      count(when(col("open").isNull, 1)).as("null_open"),
      count(when(col("high").isNull, 1)).as("null_high"),
      count(when(col("low").isNull, 1)).as("null_low"),
      count(when(col("volume").isNull, 1)).as("null_volume"),
      min(col("close")).as("min_close"),
      max(col("close")).as("max_close"),
      avg(col("close")).as("avg_close"))
    global.crossJoin(sourceArray)
  }

  /** Incremental maintenance of the daily-metrics rollup (A3) under a
    * bar-table increment — the materialized-view-refresh pattern that
    * makes the reference's `stock_daily_metrics` view affordable at
    * 100 TB: instead of re-aggregating the whole history on every
    * load, recompute ONLY the dates the staging batch touches (a
    * partition-pruned scan of the updated base) and splice them into
    * the stored rollup (anti-join out the stale groups, union the
    * fresh ones). Invariant — proven end-to-end by the oracle row:
    * incremental result ≡ [[dailyMetrics]] recomputed from scratch.
    * Touched-date granularity aligns with the table's date
    * partitioning, so the recompute scan reads a day's worth of files
    * per staged day. */
  def incrementalDailyMetrics(rollup: DataFrame, updatedBars: DataFrame,
      staging: DataFrame): DataFrame = {
    val touched = staging.select(col("date")).distinct()
    val recomputed = dailyMetrics(
      updatedBars.join(broadcast(touched), Seq("date"), "left_semi"))
    rollup.join(broadcast(touched), Seq("date"), "left_anti")
      .unionByName(recomputed)
  }

  /** Ingestion stats (A6, reference `queries.py:150-163`): per
    * ingestion day (DATE(processed_at)): volumes, distinct symbols and
    * sources, covered bar-date range. */
  def ingestionStats(bars: DataFrame): DataFrame =
    bars.groupBy(to_date(col("processed_at")).as("ingestion_date"))
      .agg(
        count(lit(1)).as("rows_ingested"),
        countDistinct(col("symbol")).as("unique_symbols"),
        countDistinct(col("data_source")).as("unique_sources"),
        min(col("date")).as("earliest_data_date"),
        max(col("date")).as("latest_data_date"))

  /** OHLC resampling: daily bars → weekly bars (open = first present
    * day's open, close = last present day's close, high/low/volume
    * aggregated). Input must be ONE row per (symbol, date) — run the
    * per-day pre-aggregation first (multi-source days would make
    * "first open" ill-defined).
    *
    * first/last are expressed as min/max(date) + a self-join back to
    * the daily row, NOT min_by/arg_min: the engines disagree on NULL
    * handling in arg-extremes (DuckDB's arg_min skips NULL values,
    * Spark's min_by returns them), and a NULL open on the week's first
    * day must stay NULL. The joins are on (symbol, exact date) — tiny
    * keyed shuffles against the already-aggregated weekly frame. */
  def resampleWeekly(daily: DataFrame): DataFrame = {
    val week = date_trunc("week", col("date")).cast("date").as("week")
    val agg = daily.groupBy(col("symbol"), week)
      .agg(min(col("date")).as("__d0"), max(col("date")).as("__d1"),
        max(col("high")).as("high"), min(col("low")).as("low"),
        sum(col("volume")).as("volume"), count(lit(1)).as("n_days"))
    val opens = daily.select(col("symbol").as("__s0"), col("date").as("__d0"),
      col("open").as("open"))
    val closes = daily.select(col("symbol").as("__s1"), col("date").as("__d1"),
      col("close").as("close"))
    agg.join(opens, col("symbol") === col("__s0") && agg("__d0") === opens("__d0"))
      .join(closes, col("symbol") === col("__s1") && agg("__d1") === closes("__d1"))
      .select(col("symbol"), col("week"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n_days"))
  }

  /** Calendar gap-fill with forward-fill (LOCF — last observation
    * carried forward), the resampling dual of [[resampleWeekly]]: a
    * daily series with holes (market holidays, missed scrapes)
    * becomes a DENSE calendar per symbol — every day between the
    * symbol's first and last observation — with missing days taking
    * the latest prior value and flagged `is_filled` (the flag is the
    * honesty bit: downstream must be able to weight real vs carried
    * observations). The first spine day is an observation by
    * construction, so no leading NULL survives.
    *
    * Shape: one tiny per-symbol bounds aggregate exploded into the
    * date spine (`sequence(d0, d1, 1 day)` — codegen'd, rows =
    * symbols × span), one left join back on (symbol, date), one
    * per-symbol ordered window for `last(value, ignoreNulls)`.
    * The oracle twin deliberately derives the same answer by a
    * STRUCTURALLY different route (DuckDB ASOF JOIN) — a real
    * cross-check on the fill semantics, not an echo. */
  def fillDailyForward(daily: DataFrame): DataFrame =
    calendarSpine(daily, "close")
      .withColumn("is_filled", col("close").isNull)
      .withColumn("close", last(col("close"), ignoreNulls = true)
        .over(runningBy(col("date"))))

  /** Every calendar day between each symbol's first and last
    * observation, left-joined to `daily`'s `value` column: the spine
    * of [[fillDailyForward]] and [[fillDailyInterpolate]]. */
  private def calendarSpine(daily: DataFrame, value: String): DataFrame =
    daily.groupBy(col("symbol"))
      .agg(min(col("date")).as("__d0"), max(col("date")).as("__d1"))
      .select(col("symbol"),
        explode(expr("sequence(__d0, __d1, interval 1 day)")).as("date"))
      .join(daily.select(col("symbol"), col("date"), col(value)),
        Seq("symbol", "date"), "left")

  /** The per-symbol running frame (first row through the current one)
    * under the `order` sort. */
  private def runningBy(order: Column) =
    Window.partitionBy(col("symbol")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Linear-interpolation gap fill — the level-tracking complement to
    * [[fillDailyForward]]'s step fill: a missing day between two
    * observations takes the straight-line value between them instead
    * of repeating the left edge (the pandas `interpolate('linear')`
    * contract, as [[fillDailyForward]] is `ffill`). Operates on an
    * INTEGER value column (cents / integral price units) so the
    * interpolated point is exact floor arithmetic — engines cannot
    * disagree on a double near a half — via the floor-division
    * identity `(n − pmod(n, d)) div d` (Spark `div` truncates toward
    * zero, so raw `div` on a negative numerator — a falling price —
    * would round the wrong way; pmod ≥ 0 restores floor semantics,
    * matching DuckDB's floor `//`).
    *
    * Every spine day strictly between two observations has both
    * brackets (the spine is bounded by each symbol's min/max observed
    * date), so no edge NULLs arise. Shape: the [[fillDailyForward]]
    * spine + ONE ordered window pass per direction. The forward
    * ("next observation") pass is deliberately NOT
    * `first(...) OVER (... ROWS BETWEEN CURRENT ROW AND UNBOUNDED
    * FOLLOWING)`: Spark's shrinking-frame processor
    * (UnboundedFollowingWindowFunctionFrame) re-aggregates the
    * remaining rows for EVERY row — O(n²) per partition (measured:
    * 11.9 s vs 1.3 s for the same spine at sf0.1). The same value is
    * the running `last(...)` under the REVERSED sort, which uses the
    * incremental growing frame — O(n) — at the cost of one extra
    * per-partition sort. Both passes stay on the symbol-keyed
    * shuffle. */
  def fillDailyInterpolate(daily: DataFrame): DataFrame = {
    val wP = runningBy(col("date"))
    // forward pass: running last under the reversed order — the O(n)
    // growing frame — NOT first() over a shrinking frame (O(n²))
    val wN = runningBy(col("date").desc)
    val v = col("close_i")
    val numer = "(__nv - __pv) * datediff(date, __pd)"
    val denom = "datediff(__nd, __pd)"
    calendarSpine(daily, "close_i")
      .withColumn("is_interp", v.isNull)
      .withColumn("__pv", last(v, ignoreNulls = true).over(wP))
      .withColumn("__pd", last(when(v.isNotNull, col("date")),
        ignoreNulls = true).over(wP))
      .withColumn("__nv", last(v, ignoreNulls = true).over(wN))
      .withColumn("__nd", last(when(v.isNotNull, col("date")),
        ignoreNulls = true).over(wN))
      .withColumn("close_i",
        when(!col("is_interp"), v)
          .otherwise(expr(
            s"__pv + ($numer - pmod($numer, $denom)) div $denom")))
      .select(col("symbol"), col("date"), v, col("is_interp"))
  }

  /** Trading-gap report — the data-completeness complement of
    * [[fillDailyForward]]: where the fill PATCHES holes, this one
    * REPORTS them (the ingest-monitoring view: "which symbols have
    * missing days, how many, and how bad was the worst outage").
    * Per symbol: observation count, span days, gap count (runs of ≥1
    * missing calendar day between consecutive observations), total
    * missing days, and the longest run — all exact integer date
    * arithmetic. Zero-gap symbols report zeros (left semantics via
    * conditional aggregates, not a join).
    *
    * Shape: ONE symbol-keyed lag window + one per-symbol aggregate.
    * Weekend/holiday caveat stated: against a trading calendar,
    * join a calendar table first — this reports CALENDAR gaps. */
  def tradingGaps(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    daily.select(col("symbol"), col("date"))
      .withColumn("__gap",
        datediff(col("date"), lag(col("date"), 1).over(w)) - 1)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        (datediff(max(col("date")), min(col("date"))) + 1).cast("long")
          .as("span_days"),
        sum(when(col("__gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(sum(when(col("__gap") > 0, col("__gap"))), lit(0L))
          .cast("long").as("missing_days"),
        coalesce(max(when(col("__gap") > 0, col("__gap"))), lit(0L))
          .cast("long").as("longest_gap_days"))
  }

  /** Customer-cohort LTV curve — the revenue-expansion table next to
    * activity retention (q55): per first-order-MONTH cohort and
    * month offset, active customers, exact period revenue in integer
    * cents (the q159 one-quantization chain), and the cumulative
    * lifetime value the curve plots. Month arithmetic is exact
    * integer year×12+month differences — no interval/float dates.
    *
    * Shape: one per-customer min aggregate, one customer-keyed join,
    * one (cohort, offset) aggregate, and a cumulative window over
    * OFFSETS within a cohort (bounded by the corpus month span). */
  def ltvCurve(orders: DataFrame): DataFrame = {
    val cents = (round(col("o_totalprice").cast("decimal(28,10)"), 2)
      .cast("decimal(18,2)") * 100).cast("long")
    def monthIdx(c: Column) = year(c) * 12 + (month(c) - 1)
    val o = orders.select(col("o_custkey").as("customer"),
      to_date(col("o_orderdate")).as("__d"), cents.as("__cents"))
    val first = o.groupBy(col("customer"))
      .agg(min(col("__d")).as("__f"))
      .select(col("customer"), monthIdx(col("__f")).as("__m0"),
        date_format(col("__f"), "yyyy-MM").as("cohort_month"))
    val w = Window.partitionBy(col("cohort_month")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.join(first, "customer")
      .withColumn("month_offset",
        (monthIdx(col("__d")) - col("__m0")).cast("int"))
      .groupBy(col("cohort_month"), col("month_offset"))
      .agg(countDistinct(col("customer")).as("n_active"),
        sum(col("__cents")).as("revenue_cents"))
      .withColumn("cum_revenue_cents",
        sum(col("revenue_cents")).over(w))
  }

  /** Time-window filter helper (P15, reference `queries.py:46,83-84`):
    * `date >= anchor - n days`, and `symbol IN symbols` unless
    * `symbols` is empty. Oracle runs pass a literal anchor. */
  def recentWindow(bars: DataFrame, days: Int, anchor: Column,
      symbols: Seq[String]): DataFrame = {
    val base = bars.filter(col("date") >= date_sub(anchor, days))
    if (symbols.isEmpty) base else base.filter(col("symbol").isin(symbols: _*))
  }

  /** Classical additive seasonal decomposition (the pre-STL textbook
    * method: e.g. Hyndman & Athanasopoulos, *Forecasting* §3.4) —
    * close = trend + seasonal + residual, the time-series shelf's
    * missing DECOMPOSITION next to the smoothers (E-EMA/Holt) and
    * level/trend tests (Pettitt/Mann–Kendall): trend = centered
    * 7-row moving average (FULL windows only — NULL at each series'
    * edges, the statsmodels convention), seasonal = per (symbol,
    * weekday-slot) mean of the detrended series CENTERED so the
    * week's indices sum to ≈0, residual = the rest.
    *
    * Exactness contract: `close` is the q01-exact integer-valued bar
    * double, so EVERYTHING here is exact BIGINT in floor-quantized
    * MICRO-units (the bm25 device): trend_micro = 1e6·Σ₇ div 7,
    * detrended = 1e6·close − trend_micro, seasonal = group-sum div
    * count then centered by the per-symbol index mean — deterministic
    * under any partitioning and bit-identical cross-engine (both
    * engines' integer division truncates toward zero — measured).
    * The seasonal slot is [[weekdaySlot]], pmod(days since
    * 1970-01-05 (a Monday), 7) — engine-neutral where dayofweek()'s
    * origin is not — so the seasonal grouping matches the MA window.
    *
    * Input: one bar per (symbol, date) — the q174 caller-dedup
    * contract. Shape: one symbol-partitioned window pass + one
    * (symbol, slot) aggregate (period-bounded) + one broadcast-sized
    * join back; rows never widen. */
  def seasonalDecompose(daily: DataFrame): DataFrame = {
    val half = Period / 2
    val frame = Window.partitionBy(col("symbol")).orderBy(col("date"))
      .rowsBetween(-half, half)
    val base = daily.select(col("symbol"), col("date"),
      col("close").cast("long").as("close_units"), weekdaySlot.as("slot"))
    val t = base
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__s", sum(col("close_units")).over(frame))
      .withColumn("trend_micro",
        expr(s"CASE WHEN __n = $Period THEN (__s * 1000000) div $Period END"))
      .withColumn("detrended_micro",
        col("close_units") * 1000000L - col("trend_micro"))
      .drop("__n", "__s")
    val idx = t.filter(col("detrended_micro").isNotNull)
      .groupBy(col("symbol"), col("slot"))
      .agg(sum(col("detrended_micro")).as("__ds"),
        count(lit(1)).as("__dc"))
      .withColumn("__raw", expr("__ds div __dc"))
    val adj = idx.groupBy(col("symbol"))
      .agg(sum(col("__raw")).as("__rs"), count(lit(1)).as("__rc"))
      .withColumn("__adj", expr("__rs div __rc"))
      .select(col("symbol"), col("__adj"))
    val seasonal = idx.join(adj, "symbol")
      .select(col("symbol"), col("slot"),
        (col("__raw") - col("__adj")).as("seasonal_micro"))
    t.join(seasonal, Seq("symbol", "slot"), "left")
      .select(col("symbol"), col("date"), col("close_units"),
        col("trend_micro"), col("seasonal_micro"),
        (col("detrended_micro") - col("seasonal_micro")).as("residual_micro"))
  }

  /** Seasonality / trend STRENGTH from the classical decomposition
    * (Wang, Smith & Hyndman, J. Comp. Graph. Stat. 2006; the fpp3
    * §4.3 feature pair): F_seasonal = max(0, 1 − Var(R)/Var(S+R)),
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) — both in [0, 1], the
    * series-triage numbers that tell a forecasting pipeline WHICH
    * model family each series needs (strong seasonality →
    * [[graft.analytics.Indicators.holtWinters]], strong trend →
    * Holt, neither → the mean) before any fitting runs.
    *
    * Composes [[seasonalDecompose]]'s exact micro-unit components
    * over the interior rows (trend defined): each variance is
    * computed from EXACT BIGINT sums (Σx, Σx² in DECIMAL(38,0) —
    * micro-unit squares overflow int64, stated) via the
    * n·Σx² − (Σx)² identity, and the two strengths are the ONE
    * double computed from those exact integers by an identical
    * operation tree in both engines (the q62 device). Per-symbol
    * output, one aggregate over the decomposition. */
  def decompositionStrength(daily: DataFrame): DataFrame = {
    val d = seasonalDecompose(daily)
      .filter(col("residual_micro").isNotNull)
      .select(col("symbol"),
        col("residual_micro").cast("decimal(38,0)").as("r"),
        (col("seasonal_micro") + col("residual_micro"))
          .cast("decimal(38,0)").as("sr"),
        (col("trend_micro") + col("residual_micro"))
          .cast("decimal(38,0)").as("tr"))
    d.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("r")).as("__sr1"), sum(col("r") * col("r")).as("__sr2"),
        sum(col("sr")).as("__ss1"), sum(col("sr") * col("sr")).as("__ss2"),
        sum(col("tr")).as("__st1"), sum(col("tr") * col("tr")).as("__st2"))
      .select(col("symbol"), col("n_rows"),
        expr("""greatest(CAST(0 AS DOUBLE), 1.0 -
          (CAST(n_rows * __sr2 - __sr1 * __sr1 AS DOUBLE) /
           CAST(n_rows * __ss2 - __ss1 * __ss1 AS DOUBLE)))""")
          .as("seasonal_strength"),
        expr("""greatest(CAST(0 AS DOUBLE), 1.0 -
          (CAST(n_rows * __sr2 - __sr1 * __sr1 AS DOUBLE) /
           CAST(n_rows * __st2 - __st1 * __st1 AS DOUBLE)))""")
          .as("trend_strength"))
  }
}
