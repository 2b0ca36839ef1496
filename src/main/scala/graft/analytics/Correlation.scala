package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise return-correlation matrix between symbols — the classic
  * portfolio analytic over the daily bar series.
  *
  * Shape: per-symbol daily returns (one window pass), self-join on
  * `date` for ordered symbol pairs, one hash aggregate per pair. The
  * date join shuffles each return row once; pair expansion is
  * |symbols|² per date — inherent to a correlation MATRIX (the output
  * itself is |symbols|²), so the operator's contract is a bounded
  * symbol universe, not a bounded row count. At 100 TB: thousands of
  * symbols × decades of days is ~10⁷ joined rows per date-partition
  * batch — shuffle-partitionable, no driver state.
  *
  * Determinism (oracle hash-equality): Pearson needs five sums per
  * pair; double sums are accumulation-order-dependent, so returns are
  * quantized ONCE to DECIMAL(18,6) and the sums run as exact decimal
  * aggregates (order-independent on any engine). Each exact sum is
  * then cast to double and the corr formula evaluates in doubles in
  * an identical expression tree on both engines — same inputs, same
  * IEEE ops, same bits.
  */
object Correlation {

  /** Fewest rows (days, lag pairs) a per-group statistic needs. */
  private val MinDays = 2
  /** Rows of the rolling price–volume window. */
  private val RollWindow = 20
  /** Tail of [[historicalVaR]], in permille (5% VaR). */
  private val VarAlphaPermille = 50L
  /** FDR level of [[mannWhitneyScreen]], in permille. */
  private val ScreenAlphaPermille = 50L
  /** Recency governors of the pair tests: the last K rows per series. */
  private val PairWindowRows = 60
  private val SeasonalWindowRows = 84
  /** Fewest rows [[pettittTest]] locates a changepoint in. */
  private val PettittMinRows = 4

  /** The five exact moment sums of (x, y), each cast to double once:
    * `__sx`, `__sy`, `__sxx`, `__syy`, `__sxy`. */
  private def momentSums(x: Column, y: Column): Seq[Column] = Seq(
    sum(x).cast("double").as("__sx"), sum(y).cast("double").as("__sy"),
    sum(x * x).cast("double").as("__sxx"), sum(y * y).cast("double").as("__syy"),
    sum(x * y).cast("double").as("__sxy"))

  /** Pearson r over `n` rows from the [[momentSums]] columns, in the
    * one double expression tree both engines evaluate (the q62
    * finish); NULL when either side has zero variance. */
  private def pearson(n: Column): Column = {
    val varx = n * col("__sxx") - col("__sx") * col("__sx")
    val vary = n * col("__syy") - col("__sy") * col("__sy")
    when(varx > 0 && vary > 0,
      (n * col("__sxy") - col("__sx") * col("__sy")) /
        (sqrt(varx) * sqrt(vary)))
  }

  /** Twice the average (mid)rank of column `c` within group `g`:
    * 2·rank + ties − 1, always an integer. */
  private def doubledRank(g: Column, c: String): Column =
    (rank().over(Window.partitionBy(g).orderBy(col(c))) * 2 +
      count(lit(1)).over(Window.partitionBy(g, col(c))) - 1)
      .cast("long")

  /** Per-symbol daily close-to-close percent return, quantized to
    * DECIMAL(18,6) (oracle twin: OracleSql's retsCte). Input: ONE row
    * per (symbol, date) with `close_price`. First day per symbol (no
    * prior close) is dropped. */
  def dailyReturns(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    daily
      .withColumn("__prev", lag(col("close_price"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__prev") =!= 0)
      .withColumn("ret",
        round(((col("close_price") - col("__prev")) / col("__prev") * 100)
          .cast("decimal(28,10)"), 6).cast("decimal(18,6)"))
      .select(col("symbol"), col("date"), col("ret"))
  }

  /** Correlation matrix over [[dailyReturns]] rows: one row per
    * ordered pair (sym_a < sym_b) with the day count and the Pearson
    * correlation of same-day returns.
    *
    * The returns frame is localCheckpointed before the self-join:
    * Spark cannot reuse a subplan across the
    * probe and build sides of one join, so without it BOTH sides
    * recompute the entire upstream pipeline (scan → transform → merge
    * → window). The returns frame is the aggregated, tiny end of that
    * pipeline — one row per symbol-day — so materializing it trades a
    * small local write for the second full pipeline pass. At sf0.1
    * (where the base pipeline is cheap) that is ~15%; at 100 TB the
    * saved pass IS the query cost. */
  def pairwiseCorr(returns: DataFrame): DataFrame = {
    val r = returns.localCheckpoint()
    val a = r.select(col("symbol").as("sym_a"), col("date"),
      col("ret").as("ra"))
    val b = r.select(col("symbol").as("sym_b"), col("date"),
      col("ret").as("rb"))
    val paired = a.join(b, Seq("date")).filter(col("sym_a") < col("sym_b"))
    paired.groupBy(col("sym_a"), col("sym_b"))
      .agg(count(lit(1)).as("n_days"), momentSums(col("ra"), col("rb")): _*)
      .filter(col("n_days") >= MinDays)
      .select(col("sym_a"), col("sym_b"), col("n_days"),
        pearson(col("n_days").cast("double")).as("corr"))
  }

  /** CAPM market beta per symbol against the EQUAL-WEIGHT market
    * return (the index regression behind factor models: β > 1 moves
    * more than the market, β < 0 hedges it). r_m per date = mean of
    * that day's symbol returns, quantized to DECIMAL(18,6) exactly
    * like the returns themselves (exact decimal sum → correctly
    * rounded double → ONE IEEE division by the day's symbol count →
    * the q01 cast+round), so the joined series is engine-exact; the
    * per-symbol β then follows the q62 determinism recipe
    * (exact decimal sums, identical final double expression tree).
    *
    * Shape: one per-date aggregate (rows = dates) broadcast back
    * onto the returns, one per-symbol aggregate — output bounded by
    * the symbol universe; no self-join (the market frame replaces
    * q62's quadratic pair join). */
  def marketBeta(returns: DataFrame): DataFrame = {
    val market = returns.groupBy(col("date"))
      .agg(sum(col("ret")).cast("double").as("__s"), count(lit(1)).as("__n"))
      .select(col("date"),
        round((col("__s") / col("__n")).cast("decimal(28,10)"), 6)
          .cast("decimal(18,6)").as("rm"))
    val agg = returns.join(broadcast(market), Seq("date"))
      .groupBy(col("symbol")).agg(
        count(lit(1)).as("n_days"),
        sum(col("ret")).cast("double").as("__sx"),
        sum(col("rm")).cast("double").as("__sy"),
        sum(col("rm") * col("rm")).cast("double").as("__syy"),
        sum(col("ret") * col("rm")).cast("double").as("__sxy"))
    val n = col("n_days").cast("double")
    val varm = n * col("__syy") - col("__sy") * col("__sy")
    agg.filter(col("n_days") >= MinDays)
      .select(col("symbol"), col("n_days"),
        when(varm > 0,
          (n * col("__sxy") - col("__sx") * col("__sy")) / varm).as("beta"))
  }

  /** Lag-k autocorrelation of daily returns per symbol — the serial-
    * dependence probe behind momentum/mean-reversion screens and the
    * classic efficient-market sanity stat (lag-1 return ACF ≈ 0 for a
    * liquid series; a strong negative value flags bid-ask bounce, a
    * strong positive one flags stale pricing). ρ_k = Pearson
    * correlation of (ret_t, ret_{t−k}) over CONSECUTIVE return
    * observations (lag counts observations, not calendar days —
    * standard ACF practice on irregular trading calendars; holiday
    * gaps ride through).
    *
    * Determinism is the q62 recipe: returns arrive DECIMAL(18,6)
    * quantized once in [[dailyReturns]]; the lag pairing is one
    * window lead on the (symbol, date) ordering the returns frame
    * already has (same partitioning — zero extra Exchanges); all six
    * sums are exact decimal aggregates, and ρ evaluates in doubles in
    * an identical expression tree on both engines. One per-symbol
    * hash aggregate; output bounded by the symbol universe; no
    * self-join (the lag replaces q62's pair join). */
  def returnAutocorr(returns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    returns
      .withColumn("__prev", lag(col("ret"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_pairs"), momentSums(col("ret"), col("__prev")): _*)
      .filter(col("n_pairs") >= MinDays)
      .select(col("symbol"), col("n_pairs"),
        pearson(col("n_pairs").cast("double")).as("autocorr"))
  }

  /** Per-group OLS trend line (least-squares close-vs-time slope and
    * intercept per symbol) — the "is this series drifting" analytic
    * that pairs with [[pairwiseCorr]]: one hash aggregate, output
    * bounded by the symbol universe.
    *
    * Determinism follows the q62 recipe exactly: x is integer days
    * since epoch; y is the close quantized once to DECIMAL(18,6) and
    * then held as the SCALED integer y·10⁶, so every sum (Σx, Σx²,
    * Σy₆, Σxy₆) is exact integer arithmetic on both engines (the xy₆
    * products fit int64; their sums are decimal/hugeint-widened). The
    * slope/intercept of the scaled series evaluate in doubles in an
    * identical expression tree, and two final ÷10⁶ un-scale them. */
  def olsTrend(daily: DataFrame): DataFrame = {
    val q = daily.select(col("symbol"),
      datediff(col("date"), lit("1970-01-01")).cast("long").as("__x"),
      (round(col("close_price").cast("decimal(28,10)"), 6)
        .cast("decimal(18,6)") * lit(1000000)).cast("long").as("__y6"))
    val agg = q.groupBy(col("symbol")).agg(
      count(lit(1)).as("n_days"),
      sum(col("__x")).cast("double").as("__sx"),
      sum(col("__x") * col("__x")).cast("double").as("__sxx"),
      sum(col("__y6").cast("decimal(38,0)")).cast("double").as("__sy6"),
      sum((col("__x") * col("__y6")).cast("decimal(38,0)")).cast("double")
        .as("__sxy6"))
    val n = col("n_days").cast("double")
    val denom = n * col("__sxx") - col("__sx") * col("__sx")
    val slope6 = (n * col("__sxy6") - col("__sx") * col("__sy6")) / denom
    agg.filter(col("n_days") >= MinDays && denom =!= 0.0)
      .select(col("symbol"), col("n_days"),
        (slope6 / 1e6).as("slope"),
        (((col("__sy6") - slope6 * col("__sx")) / n) / 1e6).as("intercept"))
  }

  /** Trailing-window price–volume correlation per symbol — the rolling
    * Pearson correlation of close vs traded volume over the last
    * 20 rows, the "is volume confirming the move" indicator
    * (and the general rolling-correlation primitive: any two measures
    * on one keyed series).
    *
    * The five frame sums the correlation needs all share a single
    * (symbol, date) sort — no self-join, no second shuffle, output one
    * row per input row with a full frame — and each is computed O(1)
    * per row as a difference of running sums rather than O(window)
    * per row by frame re-aggregation (see the inline note; exactness
    * makes the two forms bit-identical). At 100 TB the cost is the one
    * sort-within-symbol the series already needs.
    *
    * Determinism is the q62 recipe in window form: close is quantized
    * once to DECIMAL(18,4) and held as the scaled integer close·10⁴;
    * volume is integral already. Both are widened to DECIMAL(19,0)
    * BEFORE multiplying (products reach ~10¹⁸ — int64-backed decimal
    * products would overflow; 19,0×19,0 → 38,0 is hugeint-backed on
    * any engine), every frame sum is exact decimal arithmetic, and the
    * correlation evaluates in doubles in an identical expression tree
    * on both engines. */
  def rollingPriceVolumeCorr(daily: DataFrame): DataFrame = {
    val x = (round(col("close_price").cast("decimal(28,10)"), 4)
      .cast("decimal(18,4)") * lit(10000)).cast("decimal(19,0)")
    val v = col("volume").cast("decimal(19,0)")
    // Sliding-frame sums are O(rows × window): Spark re-aggregates
    // every bounded ROWS frame from scratch. Because the sums are
    // EXACT decimals, each frame sum is instead the difference of two
    // RUNNING sums (run − lag(run, RollWindow)) — bit-identical values
    // (no rounding anywhere at scale 0), O(rows), and the running
    // frame is Spark's optimized unbounded-preceding path. All six
    // aggregates share one select each so the CollapseWindow rule
    // keeps them in single WindowExecs (chained withColumn would
    // interleave Projects and stack six). One sort, two O(n) window
    // passes (running sums, then the offset lags over the same order).
    val wRun = Window.partitionBy(col("symbol")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOrd = Window.partitionBy(col("symbol")).orderBy(col("date"))
    def frame(run: String) =
      (col(run) - coalesce(lag(col(run), RollWindow).over(wOrd),
        lit(0).cast("decimal(19,0)"))).cast("double")
    val agged = daily
      .select(col("symbol"), col("date"), x.as("__x"), v.as("__v"))
      .select(col("symbol"), col("date"),
        row_number().over(wOrd).as("__rn"),
        sum(col("__x")).over(wRun).as("__rx"),
        sum(col("__v")).over(wRun).as("__rv"),
        sum(col("__x") * col("__x")).over(wRun).as("__rxx"),
        sum(col("__v") * col("__v")).over(wRun).as("__ryy"),
        sum(col("__x") * col("__v")).over(wRun).as("__rxy"))
      .select(col("symbol"), col("date"), col("__rn"),
        frame("__rx").as("__sx"), frame("__rv").as("__sy"),
        frame("__rxx").as("__sxx"), frame("__ryy").as("__syy"),
        frame("__rxy").as("__sxy"))
    agged.filter(col("__rn") >= RollWindow)
      .select(col("symbol"), col("date"),
        pearson(lit(RollWindow).cast("double")).as("pv_corr"))
  }

  /** Historical value-at-risk + expected shortfall per series — the
    * regulatory tail-risk pair (VaR: the α-quantile worst daily
    * return; ES/CVaR: the mean of returns at or beyond it — the
    * coherent one, Artzner et al. 1999), computed HISTORICALLY
    * (order statistics of realized returns — no distributional
    * assumption, the standard first estimate). Exact conventions:
    * tail size k = ⌈n·α/1000⌉ (integer ceil); VaR = the k-th worst
    * return picked by position under the (ret, date) total order —
    * deterministic under ties; ES = exact DECIMAL sum of the k worst
    * ÷ k in one final double division (the q62 finish). Returns
    * arrive DECIMAL(18,6) from [[dailyReturns]].
    *
    * Shape: one rank window riding the per-symbol sort + one
    * conditional aggregate; output bounded by the symbol universe. */
  def historicalVaR(returns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol"))
      .orderBy(col("ret"), col("date"))
    val ranked = returns
      .withColumn("__rnk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("symbol"))))
      .withColumn("__k", expr(s"(__n * $VarAlphaPermille + 999) div 1000"))
    ranked.groupBy(col("symbol")).agg(
      max(col("__n")).as("n_days"),
      max(col("__k")).as("tail_k"),
      max(when(col("__rnk") === col("__k"), col("ret")))
        .cast("double").as("var_ret"),
      sum(when(col("__rnk") <= col("__k"), col("ret"))).as("__tail_sum"))
      .withColumn("es_ret",
        col("__tail_sum").cast("double") / col("tail_k").cast("double"))
      .drop("__tail_sum")
  }

  /** Kendall τ-b between two measures per series (Kendall 1938;
    * tie-corrected τ-b per Kendall 1945) — the third association
    * lens: Pearson reads linearity, Spearman reads monotone rank
    * agreement, Kendall reads PAIRWISE ORDER agreement (P(concordant)
    * − P(discordant)), the most robust of the three to gross ranking
    * noise and the one with a direct probabilistic reading. Same
    * bounded-recency pair governor as [[mannKendall]] (τ-b vs TIME is
    * exactly Mann–Kendall; this is the two-VARIABLE form): the
    * [[recentRows]]/[[laterPairs]] skeleton over the last K = 60 rows
    * per series, K(K−1)/2 pairs.
    *
    * All five pair classes exact BIGINT (concordant, discordant,
    * x-only ties, y-only ties, both-tied); τ-b evaluates in doubles
    * in an identical tree, τ-b = (C−D)/(√(n₀−tx)·√(n₀−ty)) with
    * tx/ty counting ALL x-/y-tied pairs (tx = ties_x + ties_both —
    * the standard correction). NULL when either variable is constant
    * (denominator zero).
    *
    * INPUT CONTRACT (same framing as [[mannKendall]]'s micro-unit
    * rule): xCol/yCol are cast to BIGINT, so fractional measures are
    * TRUNCATED before comparison — which changes the tie structure
    * and hence τ-b versus the textbook statistic on real-valued
    * inputs. Callers with fractional measures must pre-scale to a
    * stated fixed-point unit (e.g. `round(x * 1e6)` micro-units)
    * before calling; the monotone scaling leaves τ-b invariant while
    * preserving the tie structure of the quantized values. */
  def kendallTau(daily: DataFrame, xCol: String, yCol: String): DataFrame = {
    val recent = recentRows(daily, PairWindowRows, dayNumber,
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val agg = laterPairs(recent, Seq("symbol"))
      .select(col("symbol"), pairSign("__x").as("__sx"), pairSign("__y").as("__sy"))
      .groupBy(col("symbol")).agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("__sx") * col("__sy") === 1L, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("__sx") * col("__sy") === -1L, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("__sx") === 0L && col("__sy") =!= 0L, 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("__sx") =!= 0L && col("__sy") === 0L, 1L).otherwise(0L))
          .as("ties_y"),
        sum(when(col("__sx") === 0L && col("__sy") === 0L, 1L).otherwise(0L))
          .as("ties_both"))
    val n0 = col("n_pairs").cast("double")
    val dx = n0 - (col("ties_x") + col("ties_both")).cast("double")
    val dy = n0 - (col("ties_y") + col("ties_both")).cast("double")
    agg.select(col("symbol"), col("n_pairs"), col("concordant"),
      col("discordant"), col("ties_x"), col("ties_y"), col("ties_both"),
      when(dx > 0 && dy > 0,
        (col("concordant") - col("discordant")).cast("double") /
          (sqrt(dx) * sqrt(dy))).as("tau_b"))
  }

  /** The pair skeleton's input: the last `k` rows of each series
    * (by date), projected to `symbol` and `cols` (which hold the day
    * number `__t`). LocalCheckpointed — both sides of the self-join
    * read it — so building it runs a job. */
  private def recentRows(daily: DataFrame, k: Int, cols: Column*): DataFrame = {
    val wDesc = Window.partitionBy(col("symbol")).orderBy(col("date").desc)
    daily
      .withColumn("__rd", row_number().over(wDesc))
      .filter(col("__rd") <= k)
      .select(col("symbol") +: cols: _*)
      .localCheckpoint()
  }

  /** Days since 1970-01-01, the pairs' order and slope run. */
  private def dayNumber: Column =
    datediff(col("date"), lit("1970-01-01")).cast("long").as("__t")

  /** Every ordered pair of [[recentRows]] rows that share `keys` and
    * whose day `__t` rises from side a to side b; each other column
    * `c` appears as `c` + "a" and `c` + "b". */
  private def laterPairs(recent: DataFrame, keys: Seq[String]): DataFrame = {
    val values = recent.columns.filterNot(keys.contains).toSeq
    def side(s: String) =
      recent.select(keys.map(col) ++ values.map(c => col(c).as(c + s)): _*)
    side("a").join(side("b"), keys).filter(col("__ta") < col("__tb"))
  }

  /** sign(`c`b − `c`a) of a [[laterPairs]] row, as BIGINT. */
  private def pairSign(c: String): Column =
    when(col(c + "b") > col(c + "a"), 1L)
      .when(col(c + "b") < col(c + "a"), -1L).otherwise(0L)

  /** Mann–Kendall trend test + Theil–Sen slope per series (Mann 1945,
    * Kendall 1975; Theil 1950, Sen 1968) — the nonparametric "is this
    * series drifting" screen next to [[olsTrend]]'s least squares: no
    * normality assumption, outlier-immune, and the Sen slope is the
    * median of pairwise slopes, so a flash-crash day moves it not at
    * all where it drags the OLS line.
    *
    * Both statistics are definitionally PAIRWISE, so the operator's
    * stated governor is a recency window: only the most recent K = 60
    * observations per series enter (the trend screen's natural
    * framing — "is it drifting NOW"), giving an exact K(K−1)/2 pair
    * bound per series regardless of history length. At 100 TB the
    * pair volume is series_count · K²/2 with K a config constant —
    * flat per series, shuffle-partitioned by series key.
    *
    * Exact integers end to end: S = Σ sign(x_j − x_i) over j>i pairs
    * (BIGINT); tie pairs counted; the Sen slope in micro-units/day as
    * the LOWER MEDIAN (rank ⌈p/2⌉ — a deterministic VALUE even when
    * row_number splits equal slopes arbitrarily) of the per-pair
    * FLOOR-quantized slope (Δx·10⁶ floor-div Δdays via the nonneg-mod
    * identity — `div` truncates toward zero and would round negative
    * slopes the wrong way). */
  def mannKendall(daily: DataFrame, valueCol: String): DataFrame =
    mannKendallBy(daily, valueCol, PairWindowRows, slot = None)

  /** SEASONAL Mann–Kendall (Hirsch & Slack, WRR 1984) — the trend
    * screen a weekly-patterned series needs where plain
    * [[mannKendall]] misreads seasonality as trend (or dilutes a real
    * trend with cross-season noise): pairs compare ONLY within the
    * same season slot ([[StockAnalytics.weekdaySlot]] — date-based,
    * gaps keep their weekday), per-slot S statistics SUM into the
    * seasonal S, and the seasonal Sen slope is the lower median of
    * the within-slot pairwise slopes. Hirsch & Slack's serial-
    * correlation variance correction is a driver-side scalar over
    * the emitted per-slot sums — out of scope, stated; the exact
    * S/n_pairs/n_ties/slope outputs are the test's sufficient
    * statistics. Same exact-integer devices, a last-84-rows pair
    * governor (K²/2 per SLOT per series), same overflow guard. */
  def seasonalMannKendall(daily: DataFrame, valueCol: String): DataFrame =
    mannKendallBy(daily, valueCol, SeasonalWindowRows,
      slot = Some(StockAnalytics.weekdaySlot.cast("int")))

  /** Mann–Kendall over the last `k` rows, pairing within `slot` when
    * given; plain Mann–Kendall is the seasonal form with one slot.
    * Construction runs two jobs: the window's checkpoint and the
    * overflow guard's max. */
  private def mannKendallBy(daily: DataFrame, valueCol: String, k: Int,
                            slot: Option[Column]): DataFrame = {
    val recent = recentRows(daily, k, slot.map(_.as("slot")).toSeq ++
      Seq(dayNumber, col(valueCol).cast("long").as("__x")): _*)
    // Overflow guard: the Sen slope computes (__xb − __xa) · 10⁶ in
    // BIGINT, so |Δx| must stay under Long.MaxValue/2e6 ≈ 4.6e12;
    // bounding |x| ≤ Long.MaxValue / 4e6 keeps the worst-case delta
    // (2·max|x|) safely inside. One cheap action over the
    // checkpointed window — fail loudly, never a silent wrap.
    val maxRow = recent.agg(max(abs(col("__x")))).head
    val maxAbsX = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    require(maxAbsX <= Long.MaxValue / 4000000L,
      s"Mann-Kendall: |$valueCol| up to $maxAbsX overflows the " +
        "micro-unit slope product (limit ~2.3e12); pre-scale to a " +
        "coarser fixed-point unit")
    val pairs = laterPairs(recent, "symbol" +: slot.map(_ => "slot").toSeq)
      .select(col("symbol"), pairSign("__x").as("__sgn"),
        expr("""CAST(((__xb - __xa) * 1000000L
                 - pmod((__xb - __xa) * 1000000L, __tb - __ta))
                div (__tb - __ta) AS BIGINT)""").as("__slope6"))
    val wSlope = Window.partitionBy(col("symbol")).orderBy(col("__slope6"))
    val wAll = Window.partitionBy(col("symbol"))
    pairs
      .withColumn("__rnk", row_number().over(wSlope))
      .withColumn("__np", count(lit(1)).over(wAll))
      .groupBy(col("symbol")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__sgn")).as("s_stat"),
        sum(when(col("__sgn") === 0L, 1L).otherwise(0L)).as("n_ties"),
        max(when(col("__rnk") === expr("(__np + 1) div 2"), col("__slope6")))
          .as("sen_slope_e6"))
  }

  /** Pettitt changepoint test (Pettitt, Applied Statistics 1979) —
    * the RANK-based single-changepoint locator completing the
    * regime-shift shelf: CUSUM (Indicators.cusumAlarms) flags when a
    * quantized mean drifts past a band, Mann-Kendall answers "is
    * there a monotone trend", THIS answers "if the distribution
    * jumped once, WHERE" — nonparametric, so a level shift is found
    * without assuming normality or estimating a variance.
    *
    * The statistic: U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i); the
    * changepoint estimate is the t maximizing |U_t|. The naive form
    * is O(n²) pairs; this uses the exact midrank identity
    * Σ_{all j} sgn(x_j − x_i) = n + 1 − 2·r_i (r_i = midrank) and the
    * antisymmetric cancellation Σ_{i,j≤t} sgn = 0, giving
    * U_t = t(n+1) − 2·Σ_{i≤t} r_i — ONE rank window + ONE prefix-sum
    * window per group, linear in rows, never a self-join.
    *
    * Exactness: midranks live as DOUBLED integers (the spearmanCorr
    * device: 2·midrank = 2·rank + ties − 1 is always BIGINT), and
    * the identity consumes exactly one factor-2: U_t = t(n+1) −
    * Σ_{i≤t} (2·midrank_i) is the TEXTBOOK statistic as an exact
    * BIGINT — no scaling, no flooring. The argmax tiebreak is the
    * EARLIEST qualifying date (stated; ties across t are real on
    * plateaued series). t ranges 1..n−1 (U_n ≡ 0 — the full prefix
    * has no complement). The significance transform
    * p ≈ 2·exp(−6K²/(n³+n²)) is left to the caller: exp has no
    * cross-engine exact form (the stated nDCG discipline — locating
    * and ranking by K is exact, the p-value is presentation). */
  def pettittTest(rows: DataFrame, valueCol: String): DataFrame = {
    val g = col("symbol")
    val wOrd = Window.partitionBy(g).orderBy(col("date"))
    val wAll = Window.partitionBy(g)
    val u = rows
      .filter(col(valueCol).isNotNull)
      .withColumn("__r2", doubledRank(g, valueCol))
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .withColumn("__s2", sum(col("__r2")).over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__n") >= PettittMinRows && col("__t") < col("__n"))
      // U_t = t(n+1) − Σ 2r_i  (Σ over the ordered prefix i ≤ t;
      // the doubled midranks supply the identity's factor 2)
      .withColumn("__u",
        col("__t") * (col("__n") + 1L) - col("__s2"))
    val wBest = Window.partitionBy(g)
      .orderBy(abs(col("__u")).desc, col("date"))
    u.withColumn("__pick", row_number().over(wBest))
      .filter(col("__pick") === 1)
      .select(g, col("__n").as("n_rows"),
        abs(col("__u")).as("k_stat"),
        col("__u").as("u_at_change"),
        col("date").as("change_point"))
  }

  /** Spearman rank correlation per group (Spearman 1904) — the
    * monotone-association complement to the Pearson family above:
    * rank-based, so one fat-tailed outlier day (exactly what price ×
    * volume data serves) cannot swamp the statistic the way it swamps
    * every product-moment sum, and any monotone nonlinear relation
    * scores |ρ| → 1 where Pearson under-reads it.
    *
    * ρ_s = Pearson over the AVERAGE ranks (the tie-correct
    * definition, not the 6Σd² shortcut, which is valid only tie-free).
    * Exactness device: the average rank of a tie group,
    * rank + (ties−1)/2, is a half-integer — so the operator ranks on
    * the DOUBLED rank 2·rank(x) + ties(x) − 1, an INTEGER, keeping
    * every sum exact (the constant 2× scaling on both variables
    * cancels in the correlation). Sums of doubled-rank products are
    * ≤ 4n³ per group — inside int64 to n ~ 10⁶ rows/group and exactly
    * representable in the final doubles far beyond that; the ρ itself
    * evaluates in the identical q62 double tree on both engines.
    *
    * Shape: two rank windows (one per variable) + one tie-count
    * window each, all partitioned by the group key, then one hash
    * aggregate — no self-join; output bounded by the group universe.
    * At 100 TB parallelism = group count, each group sorted twice
    * (once per variable's rank order). */
  def spearmanCorr(rows: DataFrame, groupCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val g = col(groupCol)
    rows
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("__rx2", doubledRank(g, xCol))
      .withColumn("__ry2", doubledRank(g, yCol))
      .groupBy(g)
      .agg(count(lit(1)).as("n_rows"), momentSums(col("__rx2"), col("__ry2")): _*)
      .filter(col("n_rows") >= MinDays)
      .select(g, col("n_rows"),
        pearson(col("n_rows").cast("double")).as("spearman"))
  }

  /** Pairwise Mann–Whitney U (Mann & Whitney 1947; tie-corrected
    * normal approximation per the standard treatment, e.g. Lehmann
    * *Nonparametrics* 1975) — the k-sample LOCATION comparison the
    * stats shelf lacked: KS (E79) asks "same distribution?" between
    * two fixed slices; this asks, for EVERY group pair, "does one
    * group stochastically dominate?" — rank-based, so length/weight
    * outliers that wreck t-tests don't vote more than once. The
    * per-pair p-values feed E282's BH correction (the published
    * pairing for k-sample screens).
    *
    * Exactness: the DOUBLED-midrank device (the E319/Pettitt
    * convention — a tie group starting at rank r with t members has
    * doubled midrank 2r + t − 1, integer always): per pair,
    * u2_a = ΣD_a − n_a(n_a+1) = 2·U_a and mean2 = n_a·n_b = 2·E[U]
    * are exact DECIMAL(38,0) (rank sums overflow int64 at scale);
    * tie_sum = Σ(t³ − t) exact. z is the ONE double: computed from
    * those exact integers by an identical-operation-order expression
    * in both engines (the q62 "same final double tree" device), with
    * the all-tied pair (zero variance) emitting NULL, never NaN.
    *
    * Shape: pairs = G(G−1)/2 over the CONFIG-BOUNDED group universe
    * (a broadcast table); each row joins to its (G−1) pairs — the
    * stated ×(G−1) blow-up of every pairwise rank test — then one
    * rank window + one tie window per pair partition and two bounded
    * aggregates. Per-pair pooled ranking is the test's definition
    * (a global pooled ranking computes a DIFFERENT statistic). */
  def mannWhitneyPairs(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    val rows = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"))
    val groups = rows.select(col("__g")).distinct()
    val pairs = groups.select(col("__g").as("group_a"))
      .join(groups.select(col("__g").as("group_b")),
        col("group_a") < col("group_b"))
    val pooled = rows.join(broadcast(pairs),
      col("__g") === col("group_a") || col("__g") === col("group_b"))
    val wOrd = Window.partitionBy(col("group_a"), col("group_b"))
      .orderBy(col("__v"))
    val wVal = Window.partitionBy(col("group_a"), col("group_b"), col("__v"))
    val ranked = pooled
      .withColumn("__r", rank().over(wOrd))
      .withColumn("__t", count(lit(1)).over(wVal))
      .withColumn("__d", lit(2L) * col("__r") + col("__t") - lit(1L))
    val agg = ranked.groupBy(col("group_a"), col("group_b"))
      .agg(
        sum(when(col("__g") === col("group_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__g") === col("group_b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__g") === col("group_a"),
          expr("CAST(__d AS DECIMAL(38,0))")).otherwise(
          expr("CAST(0 AS DECIMAL(38,0))"))).as("__sumd_a"))
    val ties = ranked
      .groupBy(col("group_a"), col("group_b"), col("__v"))
      .agg(count(lit(1)).as("__tv"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(expr("CAST(__tv AS DECIMAL(38,0)) * __tv * __tv - __tv"))
        .as("tie_sum"))
    agg.join(ties, Seq("group_a", "group_b"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("u2_a",
        expr("CAST(__sumd_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)" +
          " AS DECIMAL(38,0))"))
      .withColumn("mean2",
        expr("CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DECIMAL(38,0))"))
      .withColumn("z", expr(
        "CASE WHEN CAST(nn AS DECIMAL(38,0)) * nn * nn - nn = tie_sum" +
          " THEN CAST(NULL AS DOUBLE) ELSE" +
          " CAST(u2_a - mean2 AS DOUBLE) / (2.0D * sqrt(" +
          "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *" +
          " ((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)" +
          " - CAST(nn AS DOUBLE)) - CAST(tie_sum AS DOUBLE)))" +
          " / (12.0D * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))) END"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        // emitted statistics cast to BIGINT (u2 ≤ 2·n_a·n_b — fits
        // int64 to ~6·10^9 rows per pair; tie_sum ≤ nn³ − nn — the
        // TIGHTER bound, int64 only to nn ≤ 2^21 − 1 ≈ 2.09M pooled
        // rows per pair). Past the bound the emission RAISES instead
        // of wrapping (Spark non-ANSI cast would silently wrap where
        // DuckDB errors on its HUGEINT→BIGINT cast — now both engines
        // fail loudly at the same rows; the z consuming tie_sum stays
        // DECIMAL-exact and NULL-safe regardless). Widen both twins
        // to DECIMAL if a caller ever needs the raw statistic there.
        col("u2_a").cast("long").as("u2_a"),
        col("mean2").cast("long").as("mean2"),
        expr("CASE WHEN tie_sum <= CAST(9223372036854775807 AS DECIMAL(38,0))" +
          " THEN CAST(tie_sum AS BIGINT) ELSE CAST(raise_error(" +
          "'mannWhitneyPairs: tie_sum exceeds BIGINT at nn > 2^21-1 pooled" +
          " rows per pair - widen the emission to DECIMAL in both engine" +
          " twins before trusting it') AS BIGINT) END").as("tie_sum"),
        col("z"))
  }

  /** Acklam's inverse-normal rational approximation (P. J. Acklam,
    * 2003; |relative error| < 1.15e-9) — DRIVER-SIDE ONLY: it
    * generates the [[normalCutsPermille]] literal table once at class
    * load; no transcendental ever runs inside a query. */
  private def invNorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }

  /** Two-sided normal p-value cut table at permille granularity:
    * cut k (1-based) = Φ⁻¹(1 − k/2000), so for z with p = 2(1−Φ(|z|))
    * the permille floor is exactly #{k : |z| ≤ cut_k}. The table is
    * the engine-parity device for a CDF (the minhashCoeffs /
    * PoissonCum shared-constant pattern): libm `exp`/`erf` are not
    * bit-identical across engines, so the twins never call them —
    * both evaluate pure double COMPARISONS against these literals,
    * generated once by [[invNorm]]. p_permille is thereby DEFINED by
    * this table; Acklam's 1.15e-9 error can shift a value whose true
    * p sits within 1e-9 of a permille boundary by one — identically
    * in both engines, stated. */
  val normalCutsPermille: Array[Double] =
    (1 to 1000).map(k => invNorm(1.0 - k / 2000.0)).toArray

  /** Two-sided normal p-value in permille from a z column — a count
    * of cut-table literals at or above |z|. The 1000-comparison
    * lambda is interpreted (HOF), which is the right trade here: the
    * input is one row per HYPOTHESIS (group pairs — config-bounded),
    * never per data row. */
  def zToTwoSidedPermille(z: Column): Column =
    size(filter(typedLit(normalCutsPermille.toSeq),
      c => abs(z) <= c)).cast("long")

  /** The k-sample location SCREEN — [[mannWhitneyPairs]] composed
    * with [[graft.etl.Sampling.bhCorrection]], the pairing both
    * operators' docs promise: every group pair's tie-corrected z
    * becomes a two-sided permille p ([[zToTwoSidedPermille]] — the
    * cut-table device, no query-time transcendentals), and the
    * G(G−1)/2 hypotheses ride one BH step-up at 5% FDR.
    * All-tied pairs (NULL z) carry no evidence and are EXCLUDED from
    * the hypothesis family (they don't inflate m), stated. Output:
    * one row per tested pair with the statistic, p, BH rank, family
    * size, and the rejection verdict — the report a segment-drift
    * screen files. Scale: everything after mannWhitneyPairs is
    * hypothesis-bounded (the E282 contract). */
  def mannWhitneyScreen(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    val mw = mannWhitneyPairs(df, groupCol, valueCol)
      .filter(col("z").isNotNull)
      .withColumn("p_permille", zToTwoSidedPermille(col("z")))
      .withColumn("__id", concat_ws("|", col("group_a"), col("group_b")))
    val bh = graft.etl.Sampling.bhCorrection(
      mw.select(col("__id"), col("p_permille")), "__id", "p_permille",
      ScreenAlphaPermille)
    mw.select(col("__id"), col("group_a"), col("group_b"), col("n_a"),
        col("n_b"), col("z"))
      .join(bh, Seq("__id"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("z"), col("p_permille"), col("p_rank"), col("m"),
        col("rejected"))
  }
}
