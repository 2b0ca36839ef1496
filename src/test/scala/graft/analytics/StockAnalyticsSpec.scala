package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StockAnalyticsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("date", DateType),
    StructField("symbol", StringType),
    StructField("close", DoubleType),
    StructField("daily_volatility", DoubleType),
    StructField("data_source", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("volume", LongType),
    StructField("processed_at", TimestampType)))

  private def d(s: String) = java.sql.Date.valueOf(s)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def bar(date: String, sym: String, close: Double, vol: Double = 1.0,
      src: String = "av", processed: String = "2024-01-05 00:00:00") =
    Row(d(date), sym, close, vol, src, close, close + 1, close - 1, 10L, ts(processed))

  test("dailyMetrics groups per (date,symbol) with source count (A3)") {
    val out = StockAnalytics.dailyMetrics(
      df(schema, bar("2024-01-01", "A", 10.0), bar("2024-01-01", "A", 12.0, src = "yh"),
        bar("2024-01-02", "A", 11.0))).orderBy("date")
    val rows = out.collect()
    rows should have length 2
    rows(0).getAs[Double]("close_price") shouldBe 10.0
    rows(0).getAs[Long]("source_count") shouldBe 2L
  }

  /** Symbol A closing 10, 20, ..., 10·n on consecutive January days. */
  private def risingBars(n: Int) =
    df(schema, (1 to n).map(i => bar(f"2024-01-$i%02d", "A", 10.0 * i)): _*)

  test("movingAverages: SQL frame semantics average available rows (W2)") {
    val out = StockAnalytics.movingAverages(risingBars(7)).orderBy("date").collect()
    out.map(_.getAs[Double]("ma_5d")).toSeq shouldBe
      Seq(10.0, 15.0, 20.0, 25.0, 30.0, 40.0, 50.0)
    out.map(_.getAs[Double]("ma_10d")).last shouldBe 40.0
  }

  test("movingAveragesPandasStyle NULLs until a full window exists (W1)") {
    val out = StockAnalytics.movingAveragesPandasStyle(risingBars(6))
      .orderBy("date").collect()
    out.take(4).foreach(r => r.isNullAt(r.fieldIndex("ma_5d")) shouldBe true)
    out(4).getAs[Double]("ma_5d") shouldBe 30.0
    out(5).getAs[Double]("ma_5d") shouldBe 40.0
    out.foreach(r => r.isNullAt(r.fieldIndex("ma_10d")) shouldBe true)
  }

  test("moving average pre-agg collapses multi-source rows first (W2 CTE semantics)") {
    val out = StockAnalytics.movingAverages(
      df(schema, bar("2024-01-01", "A", 10.0), bar("2024-01-01", "A", 99.0, src = "yh")))
      .collect()
    out should have length 1 // one row per (symbol, date), not per source
    out(0).getAs[Double]("ma_5d") shouldBe 10.0
  }

  test("inconsistencies applies HAVING semantics and sorted details (A4/J2)") {
    val out = StockAnalytics.inconsistencies(
      df(schema,
        bar("2024-01-01", "A", 100.0), bar("2024-01-01", "A", 110.0, src = "yh"), // 10% > 2%
        bar("2024-01-02", "B", 100.0), bar("2024-01-02", "B", 100.5, src = "yh"), // 0.5%
        bar("2024-01-03", "C", 50.0))) // single source
      .collect()
    out should have length 1
    out(0).getAs[String]("symbol") shouldBe "A"
    val details = out(0).getSeq[Row](out(0).fieldIndex("source_details"))
    details.map(_.getAs[String]("data_source")) shouldBe Seq("av", "yh")
  }

  test("qualityMetrics emits one global row with ordered source counts (A5)") {
    val out = StockAnalytics.qualityMetrics(
      df(schema, bar("2024-01-01", "A", 1.0), bar("2024-01-02", "B", 2.0, src = "yh"),
        bar("2024-01-03", "C", 3.0, src = "yh"))).collect()
    out should have length 1
    out(0).getAs[Long]("total_rows") shouldBe 3L
    out(0).getAs[Long]("unique_symbols") shouldBe 3L
    val counts = out(0).getSeq[Row](out(0).fieldIndex("source_counts"))
    counts.map(r => (r.getString(0), r.getLong(1))) shouldBe Seq(("av", 1L), ("yh", 2L))
  }

  test("ingestionStats groups by DATE(processed_at) (A6)") {
    val out = StockAnalytics.ingestionStats(
      df(schema, bar("2024-01-01", "A", 1.0, processed = "2024-01-05 10:00:00"),
        bar("2024-01-02", "A", 2.0, processed = "2024-01-05 23:00:00"),
        bar("2024-01-03", "A", 3.0, processed = "2024-01-06 00:00:00")))
      .orderBy("ingestion_date").collect()
    out should have length 2
    out(0).getAs[Long]("rows_ingested") shouldBe 2L
    out(0).getAs[java.sql.Date]("earliest_data_date").toString shouldBe "2024-01-01"
  }

  test("incrementalDailyMetrics recomputes ONLY touched dates (stale rows survive)") {
    val base = df(schema,
      bar("2024-01-01", "A", 10.0), bar("2024-01-02", "A", 20.0))
    val staging = df(schema, bar("2024-01-02", "A", 99.0))
    val updated = base.union(staging)
    // poison the untouched date's rollup row: if the splice recomputed
    // it, the poison would be healed — incrementality demands it survive
    val poisoned = StockAnalytics.dailyMetrics(base)
      .withColumn("close_price",
        when(col("date") === lit("2024-01-01").cast("date"), lit(-777.0))
          .otherwise(col("close_price")))
    val out = StockAnalytics.incrementalDailyMetrics(poisoned, updated, staging)
      .orderBy("date").collect()
    out(0).getAs[Double]("close_price") shouldBe -777.0 // untouched: spliced, not recomputed
    out(1).getAs[Double]("close_price") shouldBe 20.0   // touched: recomputed from base+staging
  }

  test("recentWindow filters by lookback and symbol list (P15)") {
    val frame = df(schema, bar("2024-01-01", "A", 1.0), bar("2024-01-09", "A", 2.0),
      bar("2024-01-09", "B", 3.0))
    val out = StockAnalytics.recentWindow(frame, days = 3,
      anchor = lit("2024-01-10").cast("date"), symbols = Seq("A"))
    out.collect().map(_.getAs[Double]("close")).toSeq shouldBe Seq(2.0)
  }

  test("fillDailyForward: dense calendar, carried values flagged, spans per symbol") {
    import spark.implicits._
    val daily = Seq(
      ("A", "2024-01-01", 10.0), ("A", "2024-01-04", 40.0), // gap: 02, 03
      ("B", "2024-02-01", 7.0)                              // single day
    ).toDF("symbol", "d", "close")
      .select(col("symbol"), col("d").cast("date").as("date"), col("close"))
    val out = StockAnalytics.fillDailyForward(daily)
      .select(col("symbol"), col("date").cast("string"), col("close"),
        col("is_filled"))
      .as[(String, String, Double, Boolean)].collect().sortBy(r => (r._1, r._2))
    out shouldBe Array(
      ("A", "2024-01-01", 10.0, false),
      ("A", "2024-01-02", 10.0, true),
      ("A", "2024-01-03", 10.0, true),
      ("A", "2024-01-04", 40.0, false),
      ("B", "2024-02-01", 7.0, false))
    // the spine never reaches outside a symbol's own observed span,
    // and fills never cross symbols
    out.count(_._1 == "B") shouldBe 1
  }

  test("fillDailyInterpolate: rising gap takes straight-line integer values") {
    import spark.implicits._
    val daily = Seq(
      ("A", "2024-01-01", 100L), ("A", "2024-01-04", 130L), // gap: 02, 03
      ("B", "2024-02-01", 7L))
      .toDF("symbol", "d", "close_i")
      .select(col("symbol"), col("d").cast("date").as("date"), col("close_i"))
    val out = StockAnalytics.fillDailyInterpolate(daily)
      .select(col("symbol"), col("date").cast("string"), col("close_i"),
        col("is_interp"))
      .as[(String, String, Long, Boolean)].collect().sortBy(r => (r._1, r._2))
    out shouldBe Array(
      ("A", "2024-01-01", 100L, false),
      ("A", "2024-01-02", 110L, true),
      ("A", "2024-01-03", 120L, true),
      ("A", "2024-01-04", 130L, false),
      ("B", "2024-02-01", 7L, false))
  }

  test("fillDailyInterpolate: falling non-divisible gap floors (never truncates toward zero)") {
    import spark.implicits._
    // 100 -> 95 over 3 days: offsets -5/3 and -10/3 must FLOOR to
    // -2 and -4 (98, 96); truncation toward zero would give 99, 97 —
    // the Spark-div-vs-DuckDB-floor divergence this operator guards.
    val daily = Seq(("A", "2024-01-01", 100L), ("A", "2024-01-04", 95L))
      .toDF("symbol", "d", "close_i")
      .select(col("symbol"), col("d").cast("date").as("date"), col("close_i"))
    val out = StockAnalytics.fillDailyInterpolate(daily)
      .select(col("date").cast("string"), col("close_i"))
      .as[(String, Long)].collect().sortBy(_._1)
    out shouldBe Array(
      ("2024-01-01", 100L), ("2024-01-02", 98L),
      ("2024-01-03", 96L), ("2024-01-04", 95L))
  }

  test("fillDailyInterpolate is invariant under input partitioning") {
    import spark.implicits._
    val daily = (1 to 60).filter(i => i % 3 != 0).map(i =>
      (s"S${i % 4}", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i / 4)), (i * 37 % 500).toLong))
      .toDF("symbol", "date", "close_i")
      .groupBy("symbol", "date").agg(min("close_i").as("close_i"))
    assertSameRows(
      StockAnalytics.fillDailyInterpolate(daily),
      StockAnalytics.fillDailyInterpolate(daily.repartition(7)))
  }

  test("tradingGaps: gap runs, totals, longest; zero-gap symbols report zeros") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("symbol", StringType),
      StructField("date", DateType)))
    def day(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val d = df(schema,
      // A observed 1,2,5,6,10: gaps of 2 (3-4) and 3 (7-9)
      Row("A", day(1)), Row("A", day(2)), Row("A", day(5)),
      Row("A", day(6)), Row("A", day(10)),
      // B continuous: no gaps
      Row("B", day(1)), Row("B", day(2)), Row("B", day(3)))
    val out = StockAnalytics.tradingGaps(d).collect()
      .map(r => r.getAs[String]("symbol") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("span_days"),
         r.getAs[Long]("n_gaps"), r.getAs[Long]("missing_days"),
         r.getAs[Long]("longest_gap_days"))).toMap
    out("A") shouldBe ((5L, 10L, 2L, 5L, 3L))
    out("B") shouldBe ((3L, 3L, 0L, 0L, 0L))
  }

  test("ltvCurve: cohort offsets, exact cents, cumulative curve") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("o_custkey", LongType),
      StructField("o_orderdate", DateType),
      StructField("o_totalprice", DoubleType)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = df(schema,
      Row(1L, d("2024-01-15"), 10.0), Row(1L, d("2024-02-02"), 5.0),
      Row(1L, d("2024-04-20"), 2.5),
      Row(2L, d("2024-02-10"), 100.0))
    val out = StockAnalytics.ltvCurve(orders).collect()
      .map(r => (r.getAs[String]("cohort_month"), r.getAs[Int]("month_offset")) ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("revenue_cents"),
         r.getAs[Long]("cum_revenue_cents"))).toMap
    out(("2024-01", 0)) shouldBe ((1L, 1000L, 1000L))
    out(("2024-01", 1)) shouldBe ((1L, 500L, 1500L))
    out(("2024-01", 3)) shouldBe ((1L, 250L, 1750L))
    out(("2024-02", 0)) shouldBe ((1L, 10000L, 10000L))
    out.keySet should not contain (("2024-01", 2)) // no order that month
  }

  test("seasonalDecompose: planted weekly bump recovered exactly; interiors zero residual") {
    import spark.implicits._
    // 2024-01-01 is a Monday; Wednesday (slot 2) closes 3 above base
    val rows = (0 until 28).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i)
      ("S", java.sql.Date.valueOf(d), if (i % 7 == 2) 103.0 else 100.0)
    }
    val out = graft.analytics.StockAnalytics.seasonalDecompose(
      rows.toDF("symbol", "date", "close"))
      .orderBy("date").collect()
    out.length shouldBe 28
    // edges: first/last 3 rows have NULL trend + residual, seasonal set
    (0 until 3) ++ (25 until 28) foreach { i =>
      out(i).isNullAt(3) shouldBe true   // trend_micro
      out(i).isNullAt(5) shouldBe true   // residual_micro
      out(i).isNullAt(4) shouldBe false  // seasonal_micro
    }
    // interior: trend = (700+3)e6 div 7; wed seasonal 2571429, else -428571
    val wed = out(9) // 2024-01-10, a Wednesday
    wed.getLong(3) shouldBe 100428571L
    wed.getLong(4) shouldBe 2571429L
    wed.getLong(5) shouldBe 0L
    val thu = out(10)
    thu.getLong(4) shouldBe -428571L
    thu.getLong(5) shouldBe 0L
    // additivity: close*1e6 == trend + seasonal + residual on interiors
    out.filter(r => !r.isNullAt(3)).foreach { r =>
      r.getLong(2) * 1000000L shouldBe
        (r.getLong(3) + r.getLong(4) + r.getLong(5))
    }
    // centered: the 7 distinct seasonal indices sum to ~0 (|sum| < 7,
    // the floor-quantization residue bound)
    val idx = out.map(_.getLong(4)).distinct
    idx.length shouldBe 2 // bump slot vs the 6 others
    math.abs(2571429L + 6L * -428571L) should be < 7L
  }

  test("seasonalDecompose: constant series decomposes to zero seasonal and residual") {
    import spark.implicits._
    val rows = (0 until 21).map { i =>
      ("S", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 4).plusDays(i)), 50.0)
    }
    val out = graft.analytics.StockAnalytics.seasonalDecompose(
      rows.toDF("symbol", "date", "close"))
      .filter(col("trend_micro").isNotNull).collect()
    out.foreach { r =>
      r.getLong(3) shouldBe 50000000L
      r.getLong(4) shouldBe 0L
      r.getLong(5) shouldBe 0L
    }
  }

  test("decompositionStrength: seasonal vs trending series rank as the features promise") {
    import spark.implicits._
    def series(f: Int => Double) = (0 until 56).map { i =>
      ("S", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), f(i))
    }.toDF("symbol", "date", "close")
    // weekly bump + period-3 wiggle (pseudo-noise wrt the weekly slot)
    val seasonal = graft.analytics.StockAnalytics.decompositionStrength(
      series(i => 100.0 + (if (i % 7 == 2) 9.0 else 0.0) + (i % 3)))
      .collect().head
    seasonal.getAs[Double]("seasonal_strength") should be > 0.5
    seasonal.getAs[Double]("seasonal_strength") should be >
      seasonal.getAs[Double]("trend_strength")
    // linear drift + the same wiggle
    val trending = graft.analytics.StockAnalytics.decompositionStrength(
      series(i => 100.0 + 2.0 * i + (i % 3)))
      .collect().head
    trending.getAs[Double]("trend_strength") should be > 0.8
    trending.getAs[Double]("trend_strength") should be >
      trending.getAs[Double]("seasonal_strength")
    // invariance
    val d = series(i => 100.0 + (i % 5) + (if (i % 7 == 3) 4.0 else 0.0))
    assertSameRows(
      graft.analytics.StockAnalytics.decompositionStrength(d),
      graft.analytics.StockAnalytics.decompositionStrength(d.repartition(7)))
  }

  test("seasonalDecompose is invariant under input partitioning") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      ("S", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        100.0 + i % 5)
    }
    val d = rows.toDF("symbol", "date", "close")
    assertSameRows(
      graft.analytics.StockAnalytics.seasonalDecompose(d),
      graft.analytics.StockAnalytics.seasonalDecompose(d.repartition(7)))
  }
}
