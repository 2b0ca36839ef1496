package graft.analytics

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class IndicatorsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("close_price", DoubleType, nullable = false),
    StructField("volume", LongType, nullable = false)))

  private def day(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")

  /** symbol A: close 101..125 rising by 1/day, constant volume 10. */
  private def rising = df(schema,
    (1 to 25).map(i => Row("A", day(i), 100.0 + i, 10L)): _*)

  test("windowed indicators are NULL until a full window exists") {
    val out = Indicators.indicators(rising).orderBy("date").collect()
    out.take(19).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("vwap_20d")))
      assert(r.isNullAt(r.fieldIndex("boll_mid")))
    }
    out.take(14).foreach(r => assert(r.isNullAt(r.fieldIndex("rsi_14"))))
    out.drop(19).foreach(r => assert(!r.isNullAt(r.fieldIndex("vwap_20d"))))
  }

  test("VWAP and Bollinger on an arithmetic series match closed forms") {
    val out = Indicators.indicators(rising)
      .filter(col("date") === day(20)).collect().head
    // closes 101..120, constant volume: vwap = mid = mean = 110.5
    out.getAs[Double]("vwap_20d") shouldBe 110.5
    out.getAs[Double]("boll_mid") shouldBe 110.5
    // sample variance of 20 consecutive integers = n(n+1)/12 = 35
    val sd = math.sqrt(35.0)
    out.getAs[Double]("boll_up") shouldBe (110.5 + 2 * sd) +- 1e-12
    out.getAs[Double]("boll_dn") shouldBe (110.5 - 2 * sd) +- 1e-12
  }

  test("drawdown is 0 on a rising series, negative after a fall; RSI pins") {
    val fall = df(schema,
      ((1 to 20).map(i => Row("B", day(i), 100.0 + i, 10L)) :+
        Row("B", day(21), 60.0, 10L)): _*)
    val out = Indicators.indicators(fall).orderBy("date").collect()
    out.take(20).foreach(_.getAs[Double]("drawdown_pct") shouldBe 0.0)
    // peak 120, close 60 -> -50%
    out.last.getAs[Double]("drawdown_pct") shouldBe -50.0
    // monotone rise: every full RSI window is all-gain -> 100
    Indicators.indicators(rising).filter(col("date") >= day(15))
      .select("rsi_14").as[Double].collect().foreach(_ shouldBe 100.0)
    // monotone fall: all-loss -> 0
    val falling = df(schema,
      (1 to 20).map(i => Row("C", day(i), 200.0 - i, 10L)): _*)
    Indicators.indicators(falling).filter(col("date") >= day(15))
      .select("rsi_14").as[Double].collect().foreach(_ shouldBe 0.0)
  }

  test("a zero-volume full window yields NULL VWAP, not a division blowup") {
    val zero = df(schema,
      (1 to 21).map(i => Row("D", day(i), 100.0 + i, 0L)): _*)
    Indicators.indicators(zero).filter(col("date") >= day(20))
      .select("vwap_20d").collect().foreach(r => assert(r.isNullAt(0)))
  }

  test("emaMacd matches the hand-unrolled recurrence, seeded at the first close") {
    val d = df(schema,
      Row("A", day(1), 10.0, 1L), Row("A", day(2), 20.0, 1L),
      Row("A", day(3), 30.0, 1L))
    val out = Indicators.emaMacd(d)
      .select("date", "ema_fast", "ema_slow", "macd")
      .as[(java.sql.Date, Double, Double, Double)].collect().sortBy(_._1.getTime)
    val af = 2.0 / 13.0; val bf = 1.0 - af
    val as = 2.0 / 27.0; val bs = 1.0 - as
    out(0) shouldBe ((day(1), 10.0, 10.0, 0.0))
    val ef2 = af * 20.0 + bf * 10.0
    val es2 = as * 20.0 + bs * 10.0
    out(1) shouldBe ((day(2), ef2, es2, ef2 - es2))
    val ef3 = af * 30.0 + bf * ef2
    val es3 = as * 30.0 + bs * es2
    out(2) shouldBe ((day(3), ef3, es3, ef3 - es3))
  }

  test("emaMacd folds each symbol independently and survives repartitioning") {
    val d = df(schema,
      (1 to 10).flatMap(i => Seq(
        Row("A", day(i), 100.0 + i, 1L),
        Row("B", day(i), 200.0 - i, 1L))): _*)
    val a = Indicators.emaMacd(d).select("symbol", "date", "ema_fast")
      .as[(String, java.sql.Date, Double)].collect().sortBy(r => (r._1, r._2.getTime))
    val b = Indicators.emaMacd(d.repartition(7)).select("symbol", "date", "ema_fast")
      .as[(String, java.sql.Date, Double)].collect().sortBy(r => (r._1, r._2.getTime))
    a shouldBe b
    // B's series must not leak A's state: B starts at its own seed
    a.filter(_._1 == "B").head._3 shouldBe 199.0
  }

  private val ohlcSchema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("open", DoubleType, nullable = false),
    StructField("high", DoubleType, nullable = false),
    StructField("low", DoubleType, nullable = false),
    StructField("close", DoubleType, nullable = false)))

  test("candlestickScreen: doji, hammer, and both engulfing flags by hand") {
    val d = df(ohlcSchema,
      // day1: down candle (105 -> 100)
      Row("A", day(1), 105.0, 106.0, 99.0, 100.0),
      // day2: bullish engulfing of day1 (99 -> 106 straddles 100-105)
      Row("A", day(2), 99.0, 107.0, 98.0, 106.0),
      // day3: bearish engulfing of day2 (107 -> 98 straddles 99-106)
      Row("A", day(3), 107.0, 108.0, 97.0, 98.0),
      // day4: doji — body 1 vs range 20
      Row("A", day(4), 100.0, 110.0, 90.0, 101.0),
      // day5: hammer — lower 10 >= 2*body 4, upper 1 <= body 2
      Row("A", day(5), 100.0, 103.0, 90.0, 102.0))
    val out = Indicators.candlestickScreen(d).collect()
      .map(r => r.getAs[java.sql.Date]("date").toString ->
        (r.getAs[Boolean]("doji"), r.getAs[Boolean]("hammer"),
         r.getAs[Boolean]("bullish_engulf"), r.getAs[Boolean]("bearish_engulf")))
      .toMap
    out("2024-01-01") shouldBe ((false, false, false, false)) // no prior day
    out("2024-01-02") shouldBe ((false, false, true, false))
    out("2024-01-03") shouldBe ((false, false, false, true))
    out("2024-01-04")._1 shouldBe true
    out("2024-01-05")._2 shouldBe true
    // engulfing never fires across symbols: first day of B is clean
    val b = df(ohlcSchema,
      Row("A", day(1), 105.0, 106.0, 99.0, 100.0),
      Row("B", day(2), 99.0, 107.0, 98.0, 106.0))
    Indicators.candlestickScreen(b).collect()
      .foreach(r => r.getAs[Boolean]("bullish_engulf") shouldBe false)
  }

  private def cusumFixture(closes: Seq[Double], sym: String = "A") =
    df(schema, closes.zipWithIndex.map { case (c, i) =>
      Row(sym, day(i + 1), c, 10L) }: _*)

  /** Direct sequential CUSUM fold in cents — the recurrence the
    * window identity must reproduce bit-for-bit. */
  private def cusumByHand(closes: Seq[Double], hFactor: Long = 5L)
      : Seq[(Int, Long, Long, Long, String)] = {
    val c = closes.map(x => math.round(x * 100))
    val n = c.size
    val mu = Math.floorDiv(c.sum, n.toLong)
    val k = Math.floorDiv(c.map(x => math.abs(x - mu)).sum, 2L * n)
    val h = hFactor * k
    var sHi = 0L; var sLo = 0L
    c.zipWithIndex.flatMap { case (x, i) =>
      sHi = math.max(0L, sHi + x - mu - k)
      sLo = math.max(0L, sLo - x + mu - k)
      val side = if (sHi > h && sLo > h) "both"
        else if (sHi > h) "hi" else "lo"
      if (sHi > h || sLo > h) Some((i + 1, sHi, sLo, h, side)) else None
    }
  }

  private def cusumRows(closes: Seq[Double]) =
    Indicators.cusumAlarms(cusumFixture(closes)).orderBy("date").collect()
      .map(r => (r.getAs[java.sql.Date]("date").toLocalDate.getDayOfMonth,
        r.getAs[Long]("cusum_hi"), r.getAs[Long]("cusum_lo"),
        r.getAs[Long]("threshold"), r.getAs[String]("side"))).toSeq

  test("cusumAlarms matches the sequential fold on a level-shift series") {
    // 12 flat days at 100, then 13 days at 104: with the
    // retrospective global mean as center, the pre-shift segment
    // drifts LOW and the post-shift segment HIGH — both must appear
    val closes = Seq.fill(12)(100.0) ++ Seq.fill(13)(104.0)
    val expected = cusumByHand(closes)
    expected should not be empty
    expected.map(_._5).toSet shouldBe Set("lo", "hi")
    cusumRows(closes) shouldBe expected
  }

  test("cusumAlarms matches the fold on a downward shift") {
    val closes = Seq.fill(12)(100.0) ++ Seq.fill(13)(96.0)
    val expected = cusumByHand(closes)
    expected should not be empty
    cusumRows(closes) shouldBe expected
  }

  test("cusumAlarms is silent on constant and on centered-noise series") {
    Indicators.cusumAlarms(cusumFixture(Seq.fill(20)(100.0)))
      .count() shouldBe 0L
    // symmetric +/-1 alternation: k = floor(MAD/2) absorbs each step
    val alt = (1 to 24).map(i => if (i % 2 == 0) 101.0 else 99.0)
    cusumByHand(alt) shouldBe empty
    Indicators.cusumAlarms(cusumFixture(alt)).count() shouldBe 0L
  }

  /** Direct sequential Holt fold — the reference the distributed
    * mapPartitions pass must reproduce bit-for-bit. */
  private def holtByHand(closes: Seq[Double], a: Double = 0.5,
                         b0: Double = 0.25): Seq[(Double, Double, Double, Option[Double])] = {
    var l = closes.head; var b = 0.0
    (l, b, l + b, None: Option[Double]) +: closes.tail.map { x =>
      val res = x - (l + b)
      val lNew = a * x + (1.0 - a) * (l + b)
      val bNew = b0 * (lNew - l) + (1.0 - b0) * b
      l = lNew; b = bNew
      (l, b, l + b, Some(res))
    }
  }

  test("holtSmooth matches the sequential fold bit-for-bit") {
    val closes = Seq(100.0, 103.0, 101.5, 107.0, 104.25, 110.0, 111.5)
    val out = Indicators.holtSmooth(cusumFixture(closes))
      .orderBy("date").collect().map(r => (r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast_next"),
        if (r.isNullAt(r.fieldIndex("residual"))) None
        else Some(r.getAs[Double]("residual"))))
    out.toSeq shouldBe holtByHand(closes)
  }

  test("holtSmooth: constant series pins level, zero trend, zero residuals") {
    val out = Indicators.holtSmooth(cusumFixture(Seq.fill(15)(250.0)))
      .orderBy("date").collect()
    out.foreach { r =>
      r.getAs[Double]("level") shouldBe 250.0
      r.getAs[Double]("trend") shouldBe 0.0
    }
    out.drop(1).foreach(_.getAs[Double]("residual") shouldBe 0.0)
  }

  test("holtSmooth locks onto a linear drift where a plain EMA lags forever") {
    // x = 100 + 2t: trend estimate must approach 2 and residuals -> 0
    val closes = (0 until 25).map(i => 100.0 + 2.0 * i)
    val last = Indicators.holtSmooth(cusumFixture(closes))
      .orderBy("date").collect().last
    last.getAs[Double]("trend") shouldBe 2.0 +- 0.2
    math.abs(last.getAs[Double]("residual")) should be < 0.5
    // forecast_next anticipates the next point within the same band
    math.abs(last.getAs[Double]("forecast_next") - 150.0) should be < 1.0
  }

  test("holtSmooth isolates symbols and is partition-invariant") {
    val two = cusumFixture(Seq(100.0, 104.0, 108.0))
      .unionByName(cusumFixture(Seq(50.0, 49.0, 48.0), sym = "Z"))
    val a = Indicators.holtSmooth(two).orderBy("symbol", "date")
      .collect().map(_.toSeq)
    val b = Indicators.holtSmooth(two.repartition(7))
      .orderBy("symbol", "date").collect().map(_.toSeq)
    a should contain theSameElementsInOrderAs b
    // Z's seed is its own first close, untouched by A's state
    b.drop(3).head(3) shouldBe 50.0
  }

  test("onBalanceVolume: sign rule by hand — up adds, down subtracts, flat and day one are zero") {
    val rows = Seq((100.0, 10L), (102.0, 20L), (102.0, 30L),
      (99.0, 40L), (105.0, 50L)).zipWithIndex.map { case ((c, v), i) =>
      Row("A", day(i + 1), c, v) }
    val out = Indicators.onBalanceVolume(df(schema, rows: _*))
      .orderBy("date").collect().map(_.getAs[Long]("obv")).toSeq
    out shouldBe Seq(0L, 20L, 20L, -20L, 30L)
    // symbols isolated + partition invariance
    val two = df(schema, rows ++ Seq(Row("Z", day(1), 50.0, 99L)): _*)
    val a = Indicators.onBalanceVolume(two).orderBy("symbol", "date")
      .collect().map(_.toSeq)
    val b = Indicators.onBalanceVolume(two.repartition(7))
      .orderBy("symbol", "date").collect().map(_.toSeq)
    a should contain theSameElementsInOrderAs b
    b.last(4) shouldBe 0L   // Z's single day seeds at zero
  }

  test("conformalBand: ceil-rank order statistic by hand, NULL past n") {
    import org.apache.spark.sql.functions.col
    // residuals |r| = 1..9 for A: alpha=100 -> k = ceil(10*0.9) = 9 -> 9.0
    val rows = (1 to 9).map(i =>
      Row("A", day(i), 100.0, 0.0, 0.0, 0.0,
        if (i % 2 == 0) i.toDouble else -i.toDouble)) :+
      Row("B", day(1), 100.0, 0.0, 0.0, 0.0, 5.0)
    val schema2 = StructType(Seq(
      StructField("symbol", StringType, nullable = false),
      StructField("date", DateType, nullable = false),
      StructField("close_price", DoubleType, nullable = false),
      StructField("level", DoubleType, nullable = false),
      StructField("trend", DoubleType, nullable = false),
      StructField("forecast_next", DoubleType, nullable = false),
      StructField("residual", DoubleType, nullable = true)))
    val out = Indicators.conformalBand(df(schema2, rows: _*))
      .collect().map(r => r.getString(0) -> r).toMap
    out("A").getAs[Long]("n_res") shouldBe 9L
    out("A").getAs[Long]("target_rank") shouldBe 9L
    out("A").getAs[Double]("halfwidth") shouldBe 9.0
    // B has 1 residual: k = ceil(2*0.9) = 2 > 1 -> unattainable, NULL
    out("B").getAs[Long]("target_rank") shouldBe 2L
    out("B").isNullAt(out("B").fieldIndex("halfwidth")) shouldBe true
  }

  test("conformalBand on holtSmooth: empirical coverage meets the guarantee") {
    // a noisy-but-bounded series: forecast_next +- halfwidth must
    // cover >= 90% of next-day closes by the conformal guarantee
    val closes = (0 until 60).map(i =>
      100.0 + 2.0 * i + Seq(0.0, 3.0, -2.0, 1.0, -3.0)(i % 5))
    // epoch-day dates: the day(i) helper only covers one January
    val fixture = df(schema, closes.zipWithIndex.map { case (c, i) =>
      Row("A", new java.sql.Date(i * 86400000L), c, 10L) }: _*)
    val holt = Indicators.holtSmooth(fixture)
    val band = Indicators.conformalBand(holt).collect().head
    val hw = band.getAs[Double]("halfwidth")
    val rows = holt.orderBy("date").collect()
    val covered = rows.sliding(2).count { case Array(t, n) =>
      math.abs(n.getAs[Double]("close_price") -
        t.getAs[Double]("forecast_next")) <= hw }
    covered.toDouble / (rows.length - 1) should be >= 0.85
  }

  test("cusumAlarms is invariant under input partitioning and isolates symbols") {
    val closes = Seq.fill(12)(100.0) ++ Seq.fill(13)(104.0)
    val two = cusumFixture(closes).unionByName(
      cusumFixture(Seq.fill(25)(100.0), sym = "Z"))
    val a = Indicators.cusumAlarms(two).orderBy("symbol", "date").collect()
    val b = Indicators.cusumAlarms(two.repartition(7))
      .orderBy("symbol", "date").collect()
    a should contain theSameElementsInOrderAs b
    a.map(_.getAs[String]("symbol")).toSet shouldBe Set("A")
  }

  /** Sequential Holt–Winters fold in the operator's exact op order;
    * day(i) = 2024-01-i and 2024-01-01 is a Monday, so slot =
    * (i−1) mod 7 — the same value the date arithmetic yields. */
  private def hwByHand(closes: Seq[Double], a: Double = 0.5,
                       b0: Double = 0.25, g: Double = 0.25)
      : Seq[(Double, Double, Double, Option[Double])] = {
    var l = closes.head; var b = 0.0
    val s = new Array[Double](7)
    (l, b, 0.0, None: Option[Double]) +: closes.tail.zipWithIndex.map {
      case (y, i) =>
        val slot = (i + 1) % 7
        val sOld = s(slot)
        val res = y - (l + b + sOld)
        val lNew = a * (y - sOld) + (1.0 - a) * (l + b)
        val bNew = b0 * (lNew - l) + (1.0 - b0) * b
        val sNew = g * (y - l - b) + (1.0 - g) * sOld
        l = lNew; b = bNew; s(slot) = sNew
        (l, b, sNew, Some(res))
    }
  }

  test("holtWinters matches the sequential fold bit-for-bit") {
    val closes = Seq(100.0, 103.0, 101.5, 107.0, 104.25, 110.0, 111.5,
      102.0, 105.5, 103.0, 109.0, 106.25, 112.0, 113.5)
    val out = Indicators.holtWinters(cusumFixture(closes))
      .orderBy("date").collect().map(r => (r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("seasonal"),
        if (r.isNullAt(r.fieldIndex("residual"))) None
        else Some(r.getAs[Double]("residual"))))
    out.toSeq shouldBe hwByHand(closes)
  }

  test("holtWinters: constant series stays exactly pinned with zero seasonal state") {
    val out = Indicators.holtWinters(cusumFixture(Seq.fill(21)(250.0)))
      .orderBy("date").collect()
    out.foreach { r =>
      r.getAs[Double]("level") shouldBe 250.0
      r.getAs[Double]("trend") shouldBe 0.0
      r.getAs[Double]("seasonal") shouldBe 0.0
    }
    out.drop(1).foreach(_.getAs[Double]("residual") shouldBe 0.0)
  }

  test("holtWinters learns a planted weekday bump that plain Holt treats as noise") {
    // base 100, Wednesdays +14, four weeks: by the last Wednesday the
    // seasonal component must carry most of the bump and the residual
    // must shrink well below the bump size
    val closes = (0 until 28).map(i => 100.0 + (if (i % 7 == 2) 14.0 else 0.0))
    val out = Indicators.holtWinters(cusumFixture(closes))
      .orderBy("date").collect()
    val wedSeasonal = out.zipWithIndex.filter(_._2 % 7 == 2)
      .map(_._1.getAs[Double]("seasonal"))
    wedSeasonal.zip(wedSeasonal.tail).foreach { case (prev, next) =>
      next should be > prev // the slot's state accumulates the bump
    }
    math.abs(out(23).getAs[Double]("residual")) should be <
      math.abs(out(2).getAs[Double]("residual")) // later Wed: better fit
  }

  test("holtWinters isolates symbols and is partition-invariant") {
    val two = cusumFixture(Seq(100.0, 104.0, 108.0, 101.0, 105.0))
      .unionByName(cusumFixture(Seq(50.0, 49.0, 48.0, 51.0, 47.0), sym = "Z"))
    val a = Indicators.holtWinters(two).orderBy("symbol", "date").collect()
    val b = Indicators.holtWinters(two.repartition(7))
      .orderBy("symbol", "date").collect()
    a should contain theSameElementsInOrderAs b
    a.map(_.getAs[String]("symbol")).toSet shouldBe Set("A", "Z")
  }
}
