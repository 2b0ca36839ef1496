package graft.analytics

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Technical-indicator pack over the per-day bar series — the natural
  * extension of the reference's moving-average analytics (reference
  * `plugins/helpers/queries.py:76-115`, `transformers.py:128-151`) to
  * the indicator set a quant user expects: VWAP, Bollinger bands,
  * running-peak drawdown, RSI.
  *
  * Input contract: ONE row per (symbol, date) with `close_price` and
  * `volume` — run the per-day pre-aggregation first (multi-source days
  * would pollute every window).
  *
  * Scale: one shuffle on `symbol` partitions every window; all four
  * indicator families ride the SAME (symbol, date) window ordering, so
  * Catalyst computes them in a single Window operator pass — adding an
  * indicator costs a column, not a shuffle. Per-symbol history (even
  * decades of days) is thousands of rows: window state stays tiny.
  *
  * Determinism contract (oracle hash-equality): window SUMS over
  * integer-valued doubles are exact; every indicator is expressed as
  * exact integer arithmetic up to ONE final double division (and a
  * sqrt), mirrored operation-for-operation in the DuckDB oracle —
  * Bollinger's variance is `(n·Σx² − (Σx)²) / (n·(n−1))`, a single
  * division of exact integers, NOT stddev_samp (engines disagree on
  * accumulation order); RSI is `100 − 100/(1 + Σgain/Σloss)` with the
  * 1/n factors cancelled.
  */
object Indicators {

  /** Trailing window widths of [[indicators]], in rows. */
  private val VwapWindow = 20
  private val BollWindow = 20
  private val RsiWindow = 14
  /** EMA spans of [[emaMacd]] (the standard MACD 12/26). */
  private val EmaFast = 12
  private val EmaSlow = 26
  /** Smoothing weights of [[holtSmooth]] and [[holtWinters]]: dyadic,
    * so even the literals are exact. */
  private val Alpha = 0.5
  private val Beta = 0.25
  private val Gamma = 0.25
  /** Miscoverage of [[conformalBand]], in permille (a 90% band). */
  private val BandAlphaPermille = 100L
  /** Alarm threshold of [[cusumAlarms]], in allowances k. */
  private val HFactor = 5

  /** Pandas-rolling NULL-padding semantics: every windowed indicator
    * is NULL until a full window of rows exists (min_periods = n). */
  def indicators(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    def trailing(n: Int) = w.rowsBetween(-(n - 1), Window.currentRow)
    val rn = row_number().over(w)

    val pv = sum(col("close_price") * col("volume")).over(trailing(VwapWindow))
    val vv = sum(col("volume")).over(trailing(VwapWindow))
    val s1 = sum(col("close_price")).over(trailing(BollWindow))
    val s2 = sum(col("close_price") * col("close_price")).over(trailing(BollWindow))
    val peak = max(col("close_price"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val diff = col("close_price") - lag(col("close_price"), 1).over(w)
    // NULL diff (first row) falls to the ELSE-0 branch on both engines;
    // the rn gate below keeps those padded zeros out of every full
    // RSI window.
    val gain = when(diff > 0, diff).otherwise(lit(0.0))
    val loss = when(diff < 0, -diff).otherwise(lit(0.0))

    val staged = daily
      .withColumn("__rn", rn)
      .withColumn("__pv", pv).withColumn("__vv", vv)
      .withColumn("__s1", s1).withColumn("__s2", s2)
      .withColumn("__peak", peak)
      .withColumn("__gain", gain).withColumn("__loss", loss)
    // the gain/loss running sums need a second Window pass (they are
    // windows OVER a window-derived column) — same partitioning, so
    // still zero extra exchanges
    val sg = sum(col("__gain")).over(trailing(RsiWindow))
    val sl = sum(col("__loss")).over(trailing(RsiWindow))
    val full = col("__rn") >= BollWindow
    val mid = col("__s1") / lit(BollWindow)
    val band = lit(2.0) * sqrt(
      (lit(BollWindow) * col("__s2") - col("__s1") * col("__s1")) /
        lit(BollWindow * (BollWindow - 1)))

    staged
      .withColumn("__sg", sg).withColumn("__sl", sl)
      .select(
        col("symbol"), col("date"), col("close_price"),
        when(col("__rn") >= VwapWindow && col("__vv") > 0, col("__pv") / col("__vv"))
          .as(s"vwap_${VwapWindow}d"),
        when(full, mid).as("boll_mid"),
        when(full, mid + band).as("boll_up"),
        when(full, mid - band).as("boll_dn"),
        ((col("close_price") - col("__peak")) / col("__peak") * 100)
          .as("drawdown_pct"),
        // RsiWindow REAL diffs need RsiWindow+1 rows; flat windows
        // (Σloss = 0) pin to 100, the standard convention
        when(col("__rn") >= RsiWindow + 1,
          when(col("__sl") > 0,
            lit(100.0) - lit(100.0) / (lit(1.0) + col("__sg") / col("__sl")))
            .otherwise(lit(100.0)))
          .as(s"rsi_${RsiWindow}"))
  }

  /** The per-symbol sequential scan under [[emaMacd]], [[holtSmooth]]
    * and [[holtWinters]] — the engine's node for a recurrence no
    * finite window frame computes: hash-partition `rows` by symbol,
    * sort (symbol, date) within partitions, and run one linear
    * `mapPartitions` pass. `fold()` makes a partition's step function
    * with its own O(1) state; the step is told `first = true` at the
    * first row of each symbol, where it reseeds that state.
    * Parallelism = symbol count, each series is scanned exactly once,
    * and the step's double operations run in one fixed order, so the
    * results are bit-identical to the oracle's recursive-CTE folds. */
  private def sequentialScan[I <: Product: TypeTag, O <: Product: TypeTag](
      rows: DataFrame, symbol: I => String)(fold: () => (I, Boolean) => O): DataFrame = {
    implicit val inEnc: Encoder[I] = Encoders.product[I]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    rows.as[I]
      .repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("date"))
      .mapPartitions { it =>
        val step = fold()
        var sym: String = null
        it.map { r =>
          val first = sym == null || symbol(r) != sym
          sym = symbol(r)
          step(r, first)
        }
      }
      .toDF()
  }

  /** `daily`'s series as the scan's typed input columns. */
  private def closeSeries(daily: DataFrame, extra: Column*): DataFrame =
    daily.select(Seq(col("symbol").cast("string").as("symbol"),
      col("date").cast("date").as("date")) ++ extra ++
      Seq(col("close_price").cast("double").as("close_price")): _*)

  case class EmaIn(symbol: String, date: java.sql.Date, close_price: Double)
  case class EmaOut(symbol: String, date: java.sql.Date, close_price: Double,
                    ema_fast: Double, ema_slow: Double, macd: Double)

  /** Exponential moving averages + MACD — the recursive indicator the
    * window-frame family can't express: `ema_t = α·x_t + (1−α)·ema_{t−1}`
    * depends on EVERY prior row through the recurrence, so no finite
    * frame computes it. Like sequence packing (SURVEY §2.11's
    * escalation ladder), it runs on [[sequentialScan]] with two
    * doubles of state per series, seeded with the series' first
    * close (the standard convention). The fold's arithmetic
    * (`α·x + β·ema`, β = 1−α precomputed) is a fixed IEEE-754
    * evaluation order. */
  def emaMacd(daily: DataFrame): DataFrame = {
    val af = 2.0 / (EmaFast + 1); val bf = 1.0 - af
    val as = 2.0 / (EmaSlow + 1); val bs = 1.0 - as
    sequentialScan[EmaIn, EmaOut](closeSeries(daily), _.symbol) { () =>
      var ef = 0.0; var es = 0.0
      (r, first) => {
        if (first) {
          ef = r.close_price; es = r.close_price
        } else {
          ef = af * r.close_price + bf * ef
          es = as * r.close_price + bs * es
        }
        EmaOut(r.symbol, r.date, r.close_price, ef, es, ef - es)
      }
    }
  }

  case class HoltIn(symbol: String, date: java.sql.Date, close_price: Double)
  case class HoltOut(symbol: String, date: java.sql.Date,
                     close_price: Double, level: Double, trend: Double,
                     forecast_next: Double, residual: Option[Double])

  case class HwIn(symbol: String, date: java.sql.Date, slot: Int,
                  close_price: Double)
  case class HwOut(symbol: String, date: java.sql.Date,
                   close_price: Double, level: Double, trend: Double,
                   seasonal: Double, residual: Option[Double])

  /** Holt–Winters ADDITIVE-seasonal smoothing (Winters 1960; fpp3
    * §8.3) — the triple step up from [[holtSmooth]], closing the
    * exponential-smoothing ladder next to E363's decomposition:
    * level/trend as in Holt, plus a per-season additive component
    *   ℓ_t = α(y_t − s_slot) + (1−α)(ℓ+b)
    *   b_t = β(ℓ_t − ℓ) + (1−β)b
    *   s_slot ← γ(y_t − ℓ − b) + (1−γ)s_slot   (old ℓ, b — the order
    *     is part of the cross-engine contract)
    * with residual = y_t − (ℓ + b + s_slot) against the PRE-update
    * state. The season index is [[StockAnalytics.weekdaySlot]] (date-
    * based, so calendar GAPS keep their weekday, where the textbook
    * t−m lag would drift), seasonal state ZERO-seeded and learned
    * (production warm-starts from a decomposition — E363 provides
    * exactly that, stated); first row per symbol seeds ℓ = y, b = 0,
    * residual NULL.
    *
    * Determinism: the same [[holtSmooth]] contract — one
    * [[sequentialScan]] whose double operations run in one stated
    * order, replayed step-for-step by the oracle's recursive CTE;
    * α/β/γ = 0.5/0.25/0.25 are binary-exact constants, so not even a
    * literal parse separates the engines. */
  def holtWinters(daily: DataFrame): DataFrame = {
    val ca = 1.0 - Alpha; val cb = 1.0 - Beta; val cg = 1.0 - Gamma
    val rows = closeSeries(daily, StockAnalytics.weekdaySlot.cast("int").as("slot"))
    sequentialScan[HwIn, HwOut](rows, _.symbol) { () =>
      var l = 0.0; var b = 0.0
      var s: Array[Double] = null
      (r, first) =>
        if (first) {
          l = r.close_price; b = 0.0
          s = new Array[Double](StockAnalytics.Period)
          HwOut(r.symbol, r.date, r.close_price, l, b, s(r.slot), None)
        } else {
          val sOld = s(r.slot)
          val res = r.close_price - (l + b + sOld)
          val lNew = Alpha * (r.close_price - sOld) + ca * (l + b)
          val bNew = Beta * (lNew - l) + cb * b
          val sNew = Gamma * (r.close_price - l - b) + cg * sOld
          l = lNew; b = bNew; s(r.slot) = sNew
          HwOut(r.symbol, r.date, r.close_price, l, b, sNew, Some(res))
        }
    }
  }

  /** Holt's linear-trend smoothing (Holt 1957; fpp3 §8.2) — the
    * double-exponential step up from [[emaMacd]]'s single smoothing:
    * a level AND a trend state, so the one-step forecast
    * `l_t + b_t` tracks a drifting series where a plain EMA lags it
    * forever, and the residual stream `x_t − (l_{t−1} + b_{t−1})` is
    * the change-signal a forecast-based monitor alarms on (the
    * forecasting complement to [[cusumAlarms]]' retrospective test).
    * Recurrence: l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1});
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}. Stated conventions:
    * seed l₁ = x₁, b₁ = 0 (the parameter-free seed — fpp3's
    * optimized initial states need a solver); α, β are the DYADIC
    * 0.5/0.25, so even the literals are exact.
    *
    * Like every recurrence here it runs on [[sequentialScan]], two
    * doubles of state per series, in a fixed IEEE-754 evaluation
    * order. */
  def holtSmooth(daily: DataFrame): DataFrame = {
    val ca = 1.0 - Alpha; val cb = 1.0 - Beta
    sequentialScan[HoltIn, HoltOut](closeSeries(daily), _.symbol) { () =>
      var l = 0.0; var b = 0.0
      (r, first) =>
        if (first) {
          l = r.close_price; b = 0.0
          HoltOut(r.symbol, r.date, r.close_price, l, b, l + b, None)
        } else {
          val res = r.close_price - (l + b)
          val lNew = Alpha * r.close_price + ca * (l + b)
          val bNew = Beta * (lNew - l) + cb * b
          l = lNew; b = bNew
          HoltOut(r.symbol, r.date, r.close_price, l, b, l + b, Some(res))
        }
    }
  }

  /** On-balance volume (Granville 1963) — the classic volume-flow
    * indicator and the one major price/volume line that is EXACT
    * arithmetic (A/D and MFI divide; OBV only signs and sums):
    * OBV_t = OBV_{t−1} + sign(close_t − close_{t−1})·volume_t,
    * seeded 0. The recurrence is a plain prefix sum of signed
    * volumes — one lag + one running window on the (symbol, date)
    * sort every indicator here already rides; BIGINT throughout
    * (|OBV| ≤ Σvolume). Divergence between the OBV line and price is
    * the signal readers scan for; this emits the line. */
  def onBalanceVolume(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signed = daily
      .withColumn("__prev", lag(col("close_price"), 1).over(w))
      .withColumn("__sv",
        when(col("__prev").isNull || col("close_price") === col("__prev"), 0L)
          .when(col("close_price") > col("__prev"), col("volume"))
          .otherwise(-col("volume")))
    signed.withColumn("obv", sum(col("__sv")).over(wRun))
      .select(col("symbol"), col("date"), col("close_price"),
        col("volume"), col("obv"))
  }

  /** Split-conformal prediction band (Vovk et al. 2005; Lei et al.,
    * JASA 2018) over a forecaster's one-step residuals — the
    * distribution-free calibration step that turns [[holtSmooth]]'s
    * point forecast into an interval with a finite-sample coverage
    * GUARANTEE (≥ 1−α whenever residuals are exchangeable — no
    * normality, no variance model): half-width q̂ = the
    * ⌈(n+1)(1−α)⌉-th smallest |residual|; forecast ± q̂ is the band.
    * α = 10% (a 90% band), per `symbol` over its `residual` column.
    *
    * Exact conventions: the target rank is the integer
    * ((n+1)·(1000−α‰) + 999) div 1000 (ceil, never a float quantile);
    * the rank is picked by position in the |residual|-sorted order —
    * the VALUE at a fixed position is deterministic even where
    * row_number splits ties arbitrarily (the E276 median device);
    * rank > n ⇒ NULL (that confidence is unattainable with n
    * residuals — the honest answer, never a clamped guess).
    *
    * Shape: one group-keyed rank window + one group aggregate;
    * output bounded by the group universe. */
  def conformalBand(scored: DataFrame): DataFrame = {
    val g = col("symbol")
    val res = col("residual")
    val r = scored.filter(res.isNotNull)
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(g).orderBy(abs(res))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(g)))
      .withColumn("__k",
        expr(s"((__n + 1) * ${1000L - BandAlphaPermille} + 999) div 1000"))
    r.groupBy(g).agg(
      max(col("__n")).as("n_res"),
      max(col("__k")).as("target_rank"),
      max(when(col("__rnk") === col("__k"), abs(res)))
        .as("halfwidth"))
  }

  /** Candlestick pattern screen (Nison, *Japanese Candlestick
    * Charting Techniques* 1991) — the OHLC-shape complement to the
    * numeric indicators: per (symbol, day) flags for doji (body ≤
    * 1/10 of range), hammer (lower shadow ≥ 2×body, upper ≤ body),
    * and bullish/bearish engulfing (today's body straddles
    * yesterday's, opposite sign). Thresholds are exact rational
    * comparisons on the bar doubles (|body|·10 ≤ range etc. —
    * multiply, never divide, so no float rounding enters a
    * BOOLEAN), which the q01 chain keeps integer-valued — pattern
    * flags are bit-stable cross-engine.
    *
    * Input contract: ONE row per (symbol, date) with open, high,
    * low, close (pre-dedup multi-source days first — the caller
    * picks the source, the screen doesn't guess).
    *
    * Shape: one symbol-keyed window (the lag for engulfing) riding
    * the same (symbol, date) ordering as every other indicator; all
    * flags are codegen'd comparisons. */
  def candlestickScreen(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val body = col("close") - col("open")
    val range = col("high") - col("low")
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    daily
      .withColumn("__po", lag(col("open"), 1).over(w))
      .withColumn("__pc", lag(col("close"), 1).over(w))
      .select(col("symbol"), col("date"),
        (range > 0 && abs(body) * 10 <= range).as("doji"),
        (range > 0 && lower >= abs(body) * 2 && upper <= abs(body))
          .as("hammer"),
        (col("__pc").isNotNull && col("__pc") < col("__po") &&
          body > 0 && col("open") <= col("__pc") &&
          col("close") >= col("__po")).as("bullish_engulf"),
        (col("__pc").isNotNull && col("__pc") > col("__po") &&
          body < 0 && col("open") >= col("__pc") &&
          col("close") <= col("__po")).as("bearish_engulf"))
  }

  /** Tabular CUSUM drift alarms (Page, *Biometrika* 1954) — the
    * sequential change-point screen the rolling indicators can't
    * give: a moving average DILUTES a persistent small shift while
    * the cumulative sum ACCUMULATES it, so CUSUM flags a 0.5σ drift
    * long before any fixed window shows it. Per series the classic
    * pair of one-sided statistics
    * `S⁺_t = max(0, S⁺_{t−1} + x_t − μ − k)` and
    * `S⁻_t = max(0, S⁻_{t−1} − x_t + μ − k)` with alarm when either
    * exceeds h.
    *
    * The recurrence LOOKS sequential (the emaMacd escalation), but
    * max(0, ·) folds admit the classic prefix identity
    * `S⁺_t = P_t − min(0, min_{j≤t} P_j)` over the plain prefix sums
    * P of the deviations — so the whole statistic is two running
    * windows, no mapPartitions, no state.
    *
    * Exact integers end to end (engine-identical): prices in cents;
    * center μ = the per-series FLOOR mean (Σc div n, stated);
    * allowance k = half the floor mean absolute deviation
    * (Σ|c−μ| div 2n — the σ/2 convention with MAD standing in for σ,
    * exact where σ is not); threshold h = 5·k (~Montgomery's h=5σ
    * with the same stand-in). A constant series
    * has k = 0 and every deviation 0, so S stays 0 and the STRICT
    * `> h` never fires — degenerate series are silent, not alarming.
    *
    * Shape: two bounded per-series aggregates (μ then k — the second
    * pass re-scans only the daily frame, already one row per
    * series-day) broadcast back, then ONE window pass computing both
    * prefix sums and both running extrema on the same (symbol, date)
    * sort — zero extra exchanges. At 100 TB: parallelism = series
    * count, each series sorted once within its partition; overflow
    * headroom = |prefix| ≤ n·max|dev| (~2³³ at a century of cents),
    * far inside BIGINT. */
  def cusumAlarms(daily: DataFrame): DataFrame = {
    val cents = daily.select(col("symbol"), col("date"),
      expr("CAST(round(close_price * 100) AS BIGINT)").as("__c"))
    val mu = cents.groupBy(col("symbol")).agg(
      expr("sum(__c) div count(1)").as("__mu"))
    val k = cents.join(broadcast(mu), Seq("symbol"))
      .groupBy(col("symbol"), col("__mu")).agg(
        expr("sum(abs(__c - __mu)) div (2 * count(1))").as("__k"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = cents.join(broadcast(k), Seq("symbol"))
      .withColumn("__p_hi",
        sum(col("__c") - col("__mu") - col("__k")).over(w))
      .withColumn("__p_lo",
        sum(col("__c") - col("__mu") + col("__k")).over(w))
    staged
      .withColumn("__s_hi",
        col("__p_hi") - least(lit(0L), min(col("__p_hi")).over(w)))
      .withColumn("__s_lo",
        greatest(lit(0L), max(col("__p_lo")).over(w)) - col("__p_lo"))
      .withColumn("__h", col("__k") * HFactor)
      .filter(col("__s_hi") > col("__h") || col("__s_lo") > col("__h"))
      .select(col("symbol"), col("date"),
        col("__s_hi").as("cusum_hi"), col("__s_lo").as("cusum_lo"),
        col("__h").as("threshold"),
        when(col("__s_hi") > col("__h") && col("__s_lo") > col("__h"),
          "both").when(col("__s_hi") > col("__h"), "hi")
          .otherwise("lo").as("side"))
  }
}
