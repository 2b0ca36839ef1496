package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class CorrelationSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("close_price", DoubleType, nullable = false)))

  private def day(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")

  private def series(rows: (String, Int, Double)*) =
    df(schema, rows.map { case (s, i, c) => Row(s, day(i), c) }: _*)

  test("perfectly co-moving symbols have corr 1, mirrored symbols -1") {
    val closes = Seq(100.0, 110.0, 99.0, 120.0, 108.0)
    // B = 2*A: identical returns. C's returns are the NEGATIVE of A's,
    // built multiplicatively: c_i = c_{i-1} * (2 - a_i / a_{i-1}).
    val cSeries = closes.sliding(2).foldLeft(Vector(100.0)) {
      case (acc, Seq(p, n)) => acc :+ acc.last * (2.0 - n / p)
      case (acc, _) => acc
    }
    val rows =
      closes.zipWithIndex.map { case (c, i) => ("A", i + 1, c) } ++
      closes.zipWithIndex.map { case (c, i) => ("B", i + 1, 2 * c) } ++
      cSeries.zipWithIndex.map { case (c, i) => ("C", i + 1, c) }
    val out = Correlation.pairwiseCorr(
      Correlation.dailyReturns(series(rows: _*)))
      .collect().map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")) ->
        r.getAs[Double]("corr")).toMap
    out(("A", "B")) shouldBe 1.0 +- 1e-9
    out(("A", "C")) shouldBe -1.0 +- 1e-9
    out(("B", "C")) shouldBe -1.0 +- 1e-9
  }

  test("independent flat symbol yields NULL corr (zero variance guard)") {
    val rows = (1 to 6).map(i => ("A", i, 100.0 + i * 3)) ++
      (1 to 6).map(i => ("F", i, 50.0)) // flat: zero-variance returns
    val out = Correlation.pairwiseCorr(Correlation.dailyReturns(series(rows: _*)))
      .collect().head
    out.getAs[String]("sym_a") shouldBe "A"
    out.getAs[String]("sym_b") shouldBe "F"
    assert(out.isNullAt(out.fieldIndex("corr")))
    out.getAs[Long]("n_days") shouldBe 5L
  }

  test("corr is symmetric-by-construction and within [-1, 1] on harness data") {
    val bars = graft.SparkEntry.mergedBars(spark, "/root/testdata/sf0.001")
    val daily = bars.groupBy(col("symbol"), col("date"))
      .agg(min(col("close")).as("close_price"))
    val m = Correlation.pairwiseCorr(Correlation.dailyReturns(daily)).collect()
    m.foreach { r =>
      r.getAs[String]("sym_a") should be < r.getAs[String]("sym_b")
      if (!r.isNullAt(r.fieldIndex("corr"))) {
        val c = r.getAs[Double]("corr")
        c should (be >= -1.0 - 1e-9 and be <= 1.0 + 1e-9)
      }
    }
    m.length should be > 0
  }

  test("rollingPriceVolumeCorr: +1 on linear volume, -1 mirrored, full frames only") {
    val vSchema = StructType(schema.fields :+
      StructField("volume", LongType, nullable = false))
    // up: volume moves linearly WITH close -> corr +1 in every frame;
    // dn: volume moves linearly AGAINST close -> corr -1.
    val closes = (0 until 23).map(i => 100.0 + (i * 37 % 41))
    val rows =
      closes.zipWithIndex.map { case (c, i) =>
        Row("up", day(i + 1), c, (c * 100).toLong) } ++
      closes.zipWithIndex.map { case (c, i) =>
        Row("dn", day(i + 1), c, (30000 - c * 100).toLong) }
    val out = Correlation.rollingPriceVolumeCorr(df(vSchema, rows: _*))
      .as[(String, java.sql.Date, Double)].collect()
    // 23 rows per symbol, window 20 -> 4 full frames each
    out.count(_._1 == "up") shouldBe 4
    out.count(_._1 == "dn") shouldBe 4
    out.filter(_._1 == "up").foreach(_._3 shouldBe 1.0 +- 1e-9)
    out.filter(_._1 == "dn").foreach(_._3 shouldBe -1.0 +- 1e-9)
  }

  test("rollingPriceVolumeCorr plan: one shuffle, two collapsed window passes") {
    val vSchema = StructType(schema.fields :+
      StructField("volume", LongType, nullable = false))
    val d = df(vSchema, (1 to 5).map(i =>
      Row("s", day(i), 10.0 + i, (i * 100).toLong)): _*)
    val plan = Correlation.rollingPriceVolumeCorr(d)
      .queryExecution.executedPlan.toString
    // the six aggregates must collapse into the running-sum WindowExec
    // plus the offset/row_number pass — NOT one WindowExec per
    // withColumn (the 6-stack this spec guards against), and the
    // whole thing costs a single symbol shuffle
    plan.linesIterator.count(_.contains("+- Window ")) shouldBe 2
    plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("rollingPriceVolumeCorr: zero-variance frame yields NULL") {
    val vSchema = StructType(schema.fields :+
      StructField("volume", LongType, nullable = false))
    val rows = (1 to 21).map(i => Row("flat", day(i), 50.0, (i * 1000).toLong))
    val out = Correlation.rollingPriceVolumeCorr(df(vSchema, rows: _*))
      .collect()
    out.length shouldBe 2
    out.foreach(r => r.isNullAt(2) shouldBe true)
  }

  test("olsTrend recovers an exact linear series' slope and intercept") {
    // A: close = 10 + 2*(day offset) — slope 2/day; B: constant 5.
    val out = Correlation.olsTrend(series(
        ("A", 1, 10.0), ("A", 2, 12.0), ("A", 3, 14.0),
        ("B", 1, 5.0), ("B", 2, 5.0)))
      .orderBy("symbol")
      .as[(String, Long, Double, Double)].collect()
    val x0 = day(1).toLocalDate.toEpochDay.toDouble
    out(0)._1 shouldBe "A"
    out(0)._2 shouldBe 3L
    out(0)._3 shouldBe 2.0 +- 1e-9
    out(0)._4 shouldBe (10.0 - 2.0 * x0) +- 1e-6
    out(1)._1 shouldBe "B"
    out(1)._3 shouldBe 0.0 +- 1e-9
    out(1)._4 shouldBe 5.0 +- 1e-6
  }

  test("olsTrend drops single-day and zero-variance-x groups") {
    Correlation.olsTrend(series(("C", 1, 7.0))).collect() shouldBe empty
  }

  test("marketBeta: a symbol moving at 2x the market has beta 2; flat symbol beta 0") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val rets = Seq(
      ("A", d(1), "2.0"), ("A", d(2), "4.0"), ("A", d(3), "6.0"),
      ("B", d(1), "0.0"), ("B", d(2), "0.0"), ("B", d(3), "0.0")
    ).toDF("symbol", "date", "r")
      .select(col("symbol"), col("date"), col("r").cast("decimal(18,6)").as("ret"))
    // equal-weight market: (1, 2, 3); A = 2*m exactly -> beta 2
    val out = Correlation.marketBeta(rets)
      .select("symbol", "n_days", "beta")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    out shouldBe Array(("A", 3L, 2.0), ("B", 3L, 0.0))
    // degenerate market (zero variance) yields NULL beta, not a crash
    val flat = Seq(("A", d(1), "1.0"), ("A", d(2), "1.0"),
      ("B", d(1), "1.0"), ("B", d(2), "1.0")).toDF("symbol", "date", "r")
      .select(col("symbol"), col("date"), col("r").cast("decimal(18,6)").as("ret"))
    Correlation.marketBeta(flat).select("beta")
      .collect().foreach(_.isNullAt(0) shouldBe true)
  }

  test("returnAutocorr: alternating returns -1, linear drift +1") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    def rets(rows: (String, Int, String)*) =
      rows.map { case (s, i, r) => (s, d(i), r) }.toDF("symbol", "date", "r")
        .select(col("symbol"), col("date"),
          col("r").cast("decimal(18,6)").as("ret"))
    // A: +10/-10 alternation -> lag-1 pairs are y = -x exactly -> -1.
    // B: returns 1,2,3,4 -> lag-1 pairs y = x - 1 -> +1.
    val r = rets(
      ("A", 1, "10"), ("A", 2, "-10"), ("A", 3, "10"), ("A", 4, "-10"), ("A", 5, "10"),
      ("B", 1, "1"), ("B", 2, "2"), ("B", 3, "3"), ("B", 4, "4"))
    val out = Correlation.returnAutocorr(r)
      .select("symbol", "n_pairs", "autocorr")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    // A's sums are perfect squares -> exactly -1; B rounds once in
    // sqrt(6)*sqrt(6) (the num/(sqrt*sqrt) tree both engines share).
    out.map(o => (o._1, o._2)).toSeq shouldBe Seq(("A", 4L), ("B", 3L))
    out(0)._3 shouldBe -1.0
    out(1)._3 shouldBe 1.0 +- 1e-12
  }

  test("returnAutocorr: zero-variance NULL, short series dropped by minDays") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val r = Seq(
      ("C", d(1), "5"), ("C", d(2), "5"), ("C", d(3), "5"),
      ("S", d(1), "1"), ("S", d(2), "2")
    ).toDF("symbol", "date", "r")
      .select(col("symbol"), col("date"),
        col("r").cast("decimal(18,6)").as("ret"))
    val out = Correlation.returnAutocorr(r).collect()
    // S has only 1 lag pair: filtered. C survives with NULL rho.
    out.map(_.getString(0)).toSeq shouldBe Seq("C")
    out.head.isNullAt(2) shouldBe true
  }

  private val xySchema = StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("x", LongType, nullable = true),
    StructField("y", LongType, nullable = true)))

  private def xy(rows: (String, java.lang.Long, java.lang.Long)*) =
    df(xySchema, rows.map { case (g, a, b) => Row(g, a, b) }: _*)

  test("spearmanCorr: monotone nonlinear relations score exactly +-1") {
    // y = x^3 is wildly non-linear but perfectly monotone
    val up = (1L to 8L).map(i => ("U", Long.box(i), Long.box(i * i * i)))
    val dn = (1L to 8L).map(i => ("D", Long.box(i), Long.box(-i * i * i)))
    val out = Correlation.spearmanCorr(xy(up ++ dn: _*), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("spearman")).toMap
    out("U") shouldBe 1.0
    out("D") shouldBe -1.0
  }

  test("spearmanCorr: tie-correct average ranks match the hand value") {
    // x = [1,2,2,3], y = [1,1,2,2]: average ranks (1, 2.5, 2.5, 4) and
    // (1.5, 1.5, 3.5, 3.5) -> rho = 48 / (sqrt(72)*sqrt(64)) = sqrt(2)/2
    val out = Correlation.spearmanCorr(
      xy(("G", 1L, 1L), ("G", 2L, 1L), ("G", 2L, 2L), ("G", 3L, 2L)),
      "g", "x", "y").collect().head
    out.getAs[Long]("n_rows") shouldBe 4L
    out.getAs[Double]("spearman") shouldBe
      (48.0 / (math.sqrt(72.0) * math.sqrt(64.0)))
  }

  test("spearmanCorr shrugs off the outlier that saturates Pearson") {
    // monotone data with one catastrophic y outlier stays rho = 1
    val rows = (1L to 9L).map(i => ("G", Long.box(i), Long.box(i * 10))) :+
      (("G", Long.box(10L), Long.box(99999999L)))
    Correlation.spearmanCorr(xy(rows: _*), "g", "x", "y")
      .collect().head.getAs[Double]("spearman") shouldBe 1.0
  }

  test("spearmanCorr: null rows drop, constant variable yields NULL, minRows gates") {
    val out = Correlation.spearmanCorr(
      xy(("C", 1L, 5L), ("C", 2L, 5L), ("C", 3L, 5L),   // constant y
        ("N", 1L, 1L), ("N", null, 9L), ("N", 2L, 2L), // null x drops
        ("S", 7L, 7L)),                                 // single row
      "g", "x", "y").collect()
    val bySym = out.map(r => r.getString(0) -> r).toMap
    bySym.keySet shouldBe Set("C", "N")
    bySym("C").isNullAt(bySym("C").fieldIndex("spearman")) shouldBe true
    bySym("N").getAs[Long]("n_rows") shouldBe 2L
    bySym("N").getAs[Double]("spearman") shouldBe 1.0
  }

  private val mkSchema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def mk(rows: (String, Int, Long)*) =
    df(mkSchema, rows.map { case (s, i, x) =>
      Row(s, new java.sql.Date((i - 1) * 86400000L), x) }: _*)

  test("mannKendall: monotone series hit the exact S extremes and slope") {
    // +100/day for 10 days: S = 45, slope6 = 100e6 exactly; mirror -
    val rows = (1 to 10).map(i => ("U", i, 100L * i)) ++
      (1 to 10).map(i => ("D", i, -100L * i))
    val out = Correlation.mannKendall(mk(rows: _*), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    out("U").getAs[Long]("n_pairs") shouldBe 45L
    out("U").getAs[Long]("s_stat") shouldBe 45L
    out("U").getAs[Long]("n_ties") shouldBe 0L
    out("U").getAs[Long]("sen_slope_e6") shouldBe 100000000L
    out("D").getAs[Long]("s_stat") shouldBe -45L
    out("D").getAs[Long]("sen_slope_e6") shouldBe -100000000L
  }

  test("mannKendall: hand case with a tie pair and the lower-median pick") {
    // (t,x) = (1,0),(2,10),(4,10): slopes {1e7, floor(1e7/3), 0},
    // S = 2, one tie, lower median = 3333333
    val out = Correlation.mannKendall(
      mk(("G", 1, 0L), ("G", 2, 10L), ("G", 4, 10L)), "v").collect().head
    out.getAs[Long]("n_pairs") shouldBe 3L
    out.getAs[Long]("s_stat") shouldBe 2L
    out.getAs[Long]("n_ties") shouldBe 1L
    out.getAs[Long]("sen_slope_e6") shouldBe 3333333L
  }

  test("seasonalMannKendall: pure weekly pattern is ALL ties (seasonality is not trend)") {
    // v depends only on the weekday: every within-slot pair ties ->
    // S = 0 with n_ties = n_pairs = 7 * C(4,2) = 42 over 28 days
    val rows = (1 to 28).map(i =>
      ("W", i, 100L + (if (i % 7 == 0) 50L else 0L)))
    val out = Correlation.seasonalMannKendall(mk(rows: _*), "v")
      .collect().head
    out.getAs[Long]("n_pairs") shouldBe 42L
    out.getAs[Long]("s_stat") shouldBe 0L
    out.getAs[Long]("n_ties") shouldBe 42L
  }

  test("seasonalMannKendall: trend under seasonality hits the exact S extreme and slope") {
    // v = 10*i + weekday bump: within-slot pairs all rise, the bump
    // cancels inside a slot -> S = n_pairs, sen slope exactly 10e6
    val rows = (1 to 28).map(i =>
      ("T", i, 10L * i + (if (i % 7 == 0) 50L else 0L)))
    val out = Correlation.seasonalMannKendall(mk(rows: _*), "v")
      .collect().head
    out.getAs[Long]("n_pairs") shouldBe 42L
    out.getAs[Long]("s_stat") shouldBe 42L
    out.getAs[Long]("n_ties") shouldBe 0L
    out.getAs[Long]("sen_slope_e6") shouldBe 10000000L
  }

  test("seasonalMannKendall: window governor, validation, partition invariance") {
    // 98 days, falling for the first 14: the 84-row window keeps only
    // the rising last 84 days -> 7 slots x C(12,2) = 462 pairs, all up
    val rows = (1 to 98).map(i => ("S", i, if (i <= 14) 1000L - i else 7L * i))
    val out = Correlation.seasonalMannKendall(mk(rows: _*), "v").collect().head
    out.getAs[Long]("n_pairs") shouldBe 462L
    out.getAs[Long]("s_stat") shouldBe 462L
    // the overflow guard validates the window's magnitudes
    an[IllegalArgumentException] should be thrownBy
      Correlation.seasonalMannKendall(
        mk(("G", 1, 0L), ("G", 8, 3000000000000L)), "v")
    val d = mk(rows ++ (1 to 28).map(i => ("Z", i, 1000L - 3L * i)): _*)
    assertSameRows(Correlation.seasonalMannKendall(d, "v"),
      Correlation.seasonalMannKendall(d.repartition(7), "v"))
  }

  test("mannKendall floors negative slopes toward -inf, not zero") {
    // Δx = -7 over Δt = 3 days: -7e6/3 = -2333333.33 -> -2333334
    Correlation.mannKendall(mk(("G", 1, 0L), ("G", 4, -7L)), "v")
      .collect().head.getAs[Long]("sen_slope_e6") shouldBe -2333334L
  }

  test("mannKendall refuses magnitudes that overflow the micro-unit product") {
    // |x| past Long.MaxValue/4e6 would silently wrap (__xb-__xa)*1e6;
    // the guard throws instead of returning a wrong Sen slope
    an[IllegalArgumentException] should be thrownBy
      Correlation.mannKendall(
        mk(("G", 1, 0L), ("G", 2, 3000000000000L)), "v")
    // just inside the bound still works
    Correlation.mannKendall(
      mk(("G", 1, 0L), ("G", 2, 2000000000000L)), "v")
      .collect().head.getAs[Long]("s_stat") shouldBe 1L
  }

  test("mannKendall: the windowRows governor caps pairs at K(K-1)/2") {
    // 100 days but K = 60: only the last 60 enter -> 1770 pairs; the
    // early falling segment is outside the window, so S stays maximal
    val rows = (1 to 40).map(i => ("G", i, 1000L - i)) ++
      (41 to 100).map(i => ("G", i, 1000L + i))
    val out = Correlation.mannKendall(mk(rows: _*), "v")
      .collect().head
    out.getAs[Long]("n_pairs") shouldBe 1770L
    out.getAs[Long]("s_stat") shouldBe 1770L
    // constant series: all ties, S = 0, slope 0
    val flat = Correlation.mannKendall(
      mk((1 to 8).map(i => ("F", i, 5L)): _*), "v").collect().head
    flat.getAs[Long]("s_stat") shouldBe 0L
    flat.getAs[Long]("n_ties") shouldBe 28L
    flat.getAs[Long]("sen_slope_e6") shouldBe 0L
  }

  test("historicalVaR: hand tail on 20 returns, ES at-or-beyond VaR") {
    // the 5% tail: A's returns -10, -9, ..., +9 give k = ceil(20*0.05)
    // = 1 -> VaR = ES = the worst; B's -20 .. +19 give k = ceil(40*0.05)
    // = 2 -> VaR = 2nd worst, ES = mean of the 2 worst
    def rets(sym: String, lo: Int, hi: Int) = (lo to hi).zipWithIndex.map {
      case (r, i) => Row(sym, new java.sql.Date(i * 86400000L),
        new java.math.BigDecimal(r).setScale(6))
    }
    val schema6 = StructType(Seq(
      StructField("symbol", StringType, nullable = false),
      StructField("date", DateType, nullable = false),
      StructField("ret", DecimalType(18, 6), nullable = false)))
    val out = Correlation.historicalVaR(
      df(schema6, rets("A", -10, 9) ++ rets("B", -20, 19): _*))
      .collect().map(r => r.getAs[String]("symbol") -> r).toMap
    out("A").getAs[Long]("n_days") shouldBe 20L
    out("A").getAs[Long]("tail_k") shouldBe 1L
    out("A").getAs[Double]("var_ret") shouldBe -10.0
    out("A").getAs[Double]("es_ret") shouldBe -10.0
    out("B").getAs[Long]("n_days") shouldBe 40L
    out("B").getAs[Long]("tail_k") shouldBe 2L
    out("B").getAs[Double]("var_ret") shouldBe -19.0
    out("B").getAs[Double]("es_ret") shouldBe -19.5
    // ES is never better than VaR (coherence direction)
    out.values.foreach { r =>
      r.getAs[Double]("es_ret") should be <= r.getAs[Double]("var_ret")
    }
  }

  private val ktSchema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false)))

  private def kt(rows: (Int, Long, Long)*) =
    df(ktSchema, rows.map { case (i, x, y) =>
      Row("G", new java.sql.Date((i - 1) * 86400000L), x, y) }: _*)

  test("kendallTau: perfect agreement +1, reversal -1, hand tie case") {
    // (sqrt(3)*sqrt(3)) is not exactly 3 in IEEE — tolerance, not eq
    Correlation.kendallTau(kt((1, 1L, 10L), (2, 2L, 20L), (3, 3L, 30L)),
      "x", "y").collect().head.getAs[Double]("tau_b") shouldBe 1.0 +- 1e-12
    Correlation.kendallTau(kt((1, 1L, 30L), (2, 2L, 20L), (3, 3L, 10L)),
      "x", "y").collect().head.getAs[Double]("tau_b") shouldBe -1.0 +- 1e-12
    // x = [1,2,2], y = [1,3,2]: pairs (1,2)C, (1,3)C, (2,3) x-tied
    // C=2 D=0 tx=1 -> tau_b = 2 / (sqrt(2)*sqrt(3))
    val out = Correlation.kendallTau(
      kt((1, 1L, 1L), (2, 2L, 3L), (3, 2L, 2L)), "x", "y").collect().head
    out.getAs[Long]("concordant") shouldBe 2L
    out.getAs[Long]("discordant") shouldBe 0L
    out.getAs[Long]("ties_x") shouldBe 1L
    out.getAs[Double]("tau_b") shouldBe
      (2.0 / (math.sqrt(2.0) * math.sqrt(3.0)))
  }

  test("kendallTau: constant variable gives NULL tau but exact tie counts") {
    val out = Correlation.kendallTau(
      kt((1, 5L, 1L), (2, 5L, 2L), (3, 5L, 3L)), "x", "y").collect().head
    out.getAs[Long]("ties_x") shouldBe 3L
    out.isNullAt(out.fieldIndex("tau_b")) shouldBe true
    // both-tied pairs land in ties_both, not ties_x/ties_y
    val bt = Correlation.kendallTau(
      kt((1, 5L, 7L), (2, 5L, 7L)), "x", "y").collect().head
    bt.getAs[Long]("ties_both") shouldBe 1L
    bt.getAs[Long]("ties_x") shouldBe 0L
  }

  /** Brute-force statistics of one series' last `k` rows, pairing
    * rows i < j (by day) within the same `slot`: pair count, S and
    * tie count of x, the lower-median floor-quantized Sen slope, and
    * the five τ-b classes of (x, y). */
  private def pairsByHand(rows: Seq[(Long, Long, Long)], k: Int,
                          slot: Long => Long): Map[String, Long] = {
    val recent = rows.sortBy(_._1).takeRight(k)
    val pairs = for {
      i <- recent.indices; j <- recent.indices
      if i < j && slot(recent(i)._1) == slot(recent(j)._1)
    } yield (recent(i), recent(j))
    def sgn(a: Long, b: Long) = java.lang.Long.signum(b - a)
    val sx = pairs.map { case (a, b) => sgn(a._2, b._2) }
    val sy = pairs.map { case (a, b) => sgn(a._3, b._3) }
    val slopes = pairs.map { case (a, b) =>
      Math.floorDiv((b._2 - a._2) * 1000000L, b._1 - a._1) }.sorted
    val both = sx.zip(sy)
    Map("n_pairs" -> pairs.size.toLong, "s_stat" -> sx.sum.toLong,
      "n_ties" -> sx.count(_ == 0).toLong,
      "sen_slope_e6" -> slopes((slopes.size + 1) / 2 - 1),
      "concordant" -> both.count { case (a, b) => a * b == 1 }.toLong,
      "discordant" -> both.count { case (a, b) => a * b == -1 }.toLong,
      "ties_x" -> both.count { case (a, b) => a == 0 && b != 0 }.toLong,
      "ties_y" -> both.count { case (a, b) => a != 0 && b == 0 }.toLong,
      "ties_both" -> both.count { case (a, b) => a == 0 && b == 0 }.toLong)
  }

  test("property: the recency pair tests equal a brute-force O(K^2) count") {
    val pSchema = StructType(Seq(
      StructField("symbol", StringType, nullable = false),
      StructField("date", DateType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false)))
    // 1970-01-05 (epoch day 4) is a Monday: the weekday slot of day t
    val weekday = (t: Long) => Math.floorMod(t - 4L, 7L)
    for (seed <- Seq(7L, 11L)) {
      val rnd = new scala.util.Random(seed)
      // per symbol 100-139 rows (past both governors, so the recency
      // cut applies), calendar gaps of 1-3 days, a rising, a falling
      // and a flat drift under small noise (ties in x, in y and in both)
      val series = Seq("A" -> 3, "B" -> -2, "C" -> 0).map { case (sym, drift) =>
        var t = 3L + rnd.nextInt(5)
        sym -> (0 until 100 + rnd.nextInt(40)).map { i =>
          t += (if (rnd.nextInt(4) == 0) 2 + rnd.nextInt(3) else 1)
          (t, (i * drift / 5 + rnd.nextInt(9) - 4).toLong, rnd.nextInt(6).toLong)
        }
      }
      val d = df(pSchema, series.flatMap { case (sym, rows) =>
        rows.map { case (t, x, y) =>
          Row(sym, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(t)), x, y)
        }
      }: _*)
      def bySymbol(out: DataFrame, cols: Seq[String]) =
        out.collect().map(r => r.getAs[String]("symbol") ->
          cols.map(c => c -> r.getAs[Long](c)).toMap).toMap
      val mkCols = Seq("n_pairs", "s_stat", "n_ties", "sen_slope_e6")
      val ktCols = Seq("n_pairs", "concordant", "discordant", "ties_x",
        "ties_y", "ties_both")
      val mk = bySymbol(Correlation.mannKendall(d, "x"), mkCols)
      val smk = bySymbol(Correlation.seasonalMannKendall(d, "x"), mkCols)
      val kt = Correlation.kendallTau(d, "x", "y").collect()
        .map(r => r.getAs[String]("symbol") -> r).toMap
      series.foreach { case (sym, rows) =>
        withClue(s"seed $seed, symbol $sym: ") {
          val plain = pairsByHand(rows, 60, _ => 0L)
          mk(sym) shouldBe plain.filter(kv => mkCols.contains(kv._1))
          smk(sym) shouldBe pairsByHand(rows, 84, weekday)
            .filter(kv => mkCols.contains(kv._1))
          ktCols.foreach(c => kt(sym).getAs[Long](c) shouldBe plain(c))
          val n0 = plain("n_pairs").toDouble
          val dx = n0 - (plain("ties_x") + plain("ties_both")).toDouble
          val dy = n0 - (plain("ties_y") + plain("ties_both")).toDouble
          kt(sym).getAs[Double]("tau_b") shouldBe
            (plain("concordant") - plain("discordant")).toDouble /
              (math.sqrt(dx) * math.sqrt(dy))
        }
      }
    }
  }

  test("pettittTest: clean step series locates the jump with the brute-force U") {
    // 1,1,1,5,5,5 — change after t=3. Brute force: U_3 = 9 (all nine
    // cross pairs +1), U_1 = 3, U_2 = 6, U_4 = 6, U_5 = 3.
    val rows = Seq(("S", 1, 1L), ("S", 2, 1L), ("S", 3, 1L),
      ("S", 4, 5L), ("S", 5, 5L), ("S", 6, 5L))
    val out = Correlation.pettittTest(mk(rows: _*), "v").collect().head
    out.getAs[Long]("n_rows") shouldBe 6L
    out.getAs[Long]("k_stat") shouldBe 9L
    out.getAs[Long]("u_at_change") shouldBe 9L
    out.getAs[java.sql.Date]("change_point").toString shouldBe "1970-01-03"
  }

  test("pettittTest: downward step flips the sign; ties use midranks exactly") {
    // 7,7,2,2 — U_2 = sum sgn over 4 cross pairs = -4
    val down = Correlation.pettittTest(
      mk(("D", 1, 7L), ("D", 2, 7L), ("D", 3, 2L), ("D", 4, 2L)),
      "v").collect().head
    down.getAs[Long]("k_stat") shouldBe 4L
    down.getAs[Long]("u_at_change") shouldBe -4L
    // constant series: every U_t = 0; earliest-date tiebreak picks t=1
    val flat = Correlation.pettittTest(
      mk(("F", 1, 3L), ("F", 2, 3L), ("F", 3, 3L), ("F", 4, 3L)),
      "v").collect().head
    flat.getAs[Long]("k_stat") shouldBe 0L
    flat.getAs[java.sql.Date]("change_point").toString shouldBe "1970-01-01"
  }

  test("pettittTest: minRows gate, null drop, and partitioning invariance") {
    // 3 rows < default minRows=4 -> group vanishes
    Correlation.pettittTest(
      mk(("T", 1, 1L), ("T", 2, 2L), ("T", 3, 3L)), "v")
      .collect() shouldBe empty
    val rows = (1 to 40).map(i =>
      ("P", i, if (i <= 17) (i * 7919 % 13).toLong
               else 40L + (i * 104729 % 11)))
    val a = Correlation.pettittTest(mk(rows: _*), "v").collect()
    val b = Correlation.pettittTest(mk(rows: _*).repartition(7), "v")
      .collect()
    a shouldBe b
    a.head.getAs[java.sql.Date]("change_point").toString shouldBe "1970-01-17"
  }

  test("pettittTest plan: one symbol Exchange, argmax as a WindowGroupLimit top-1") {
    val rows = (1 to 20).map(i => ("P", i, (i * 7 % 5).toLong))
    val out = Correlation.pettittTest(mk(rows: _*), "v")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // all three windows (value rank, date prefix-sum, argmax pick)
    // ride ONE hash partitioning on the group key; the __pick = 1
    // filter compiles to a pre-shuffle WindowGroupLimit. Count only
    // the final adaptive plan — the string repeats under
    // "== Initial Plan ==".
    plan.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))
      .count(_.contains("Exchange hashpartitioning")) shouldBe 1
    plan should include("WindowGroupLimit")
  }

  test("spearmanCorr is invariant under input partitioning") {
    val rows = (1L to 30L).map(i =>
      ("G", Long.box(i * 7919 % 31), Long.box(i * 104729 % 37)))
    val a = Correlation.spearmanCorr(xy(rows: _*), "g", "x", "y").collect()
    val b = Correlation.spearmanCorr(xy(rows: _*).repartition(7),
      "g", "x", "y").collect()
    a.map(_.getAs[Double]("spearman")).head shouldBe
      b.map(_.getAs[Double]("spearman")).head
  }

  test("mannWhitneyPairs: textbook hand cases — separation, ties, all-tied NULL") {
    // A={1,2} < B={3,4}: no ties, U_a = 0 -> u2 = 0, mean2 = 4,
    // z = -4 / (2*sqrt(4*60/144)) = -1.549...
    val d1 = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L))
      .toDF("g", "v")
    val r1 = Correlation.mannWhitneyPairs(d1, "g", "v").collect().head
    r1.getAs[Long]("u2_a") shouldBe 0L
    r1.getAs[Long]("mean2") shouldBe 4L
    r1.getAs[Long]("tie_sum") shouldBe 0L
    r1.getAs[Double]("z") shouldBe -1.5491933384829668 +- 1e-12
    // ties: A={1,1}, B={1,2}: midrank of the three 1s is 2 (doubled
    // 4), so sumd_a = 8, u2_a = 8 - 2*3 = 2 (U = 1); tie_sum = 24
    val d2 = Seq(("A", 1L), ("A", 1L), ("B", 1L), ("B", 2L))
      .toDF("g", "v")
    val r2 = Correlation.mannWhitneyPairs(d2, "g", "v").collect().head
    r2.getAs[Long]("u2_a") shouldBe 2L
    r2.getAs[Long]("tie_sum") shouldBe 24L
    // all values tied: zero variance -> z NULL, never NaN
    val d3 = Seq(("A", 5L), ("A", 5L), ("B", 5L)).toDF("g", "v")
    val r3 = Correlation.mannWhitneyPairs(d3, "g", "v").collect().head
    r3.isNullAt(r3.fieldIndex("z")) shouldBe true
  }

  test("mannWhitneyPairs: U identity u2_a + u2_b = 2*n_a*n_b; partition-invariant") {
    val rows = (1L to 200L).map(i => (
      if (i % 3 == 0) "x" else if (i % 3 == 1) "y" else "z",
      (i * 7919) % 50))
    val d = rows.toDF("g", "v")
    val out = Correlation.mannWhitneyPairs(d, "g", "v")
    // recompute the b-side U from the pair's pooled doubled ranks:
    // sum over both sides of D is N(N+1) (doubled 1..N sum with
    // midranks preserving totals), so u2_a + u2_b = 2 n_a n_b
    out.collect().foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      val n = na + nb
      // u2_b = (N(N+1) - sumd_a) - n_b(n_b+1); sumd_a = u2_a + n_a(n_a+1)
      val sumdA = r.getAs[Long]("u2_a") + na * (na + 1)
      val u2b = n * (n + 1) - sumdA - nb * (nb + 1)
      withClue(s"${r.getAs[String]("group_a")}/${r.getAs[String]("group_b")}: ") {
        r.getAs[Long]("u2_a") + u2b shouldBe 2 * na * nb
      }
    }
    assertSameRows(out,
      Correlation.mannWhitneyPairs(d.repartition(7), "g", "v"))
  }

  test("mannWhitneyPairs tie_sum: exact at the int64 boundary, raises loudly past it") {
    // tie_sum = nn^3 - nn for one all-tied pooled pair; int64 holds it
    // only to nn = 2^21 - 1. At the boundary the emission is exact; one
    // row past it Spark must RAISE (matching DuckDB's HUGEINT->BIGINT
    // cast error) instead of silently wrapping — the ADVICE r18 fix.
    def pool(nA: Long, nB: Long) =
      spark.range(nA + nB).select(
        when(col("id") < nA, "a").otherwise("b").as("g"),
        lit(0L).as("v"))
    val nn = (1L << 21) - 1
    val ok = Correlation.mannWhitneyPairs(
      pool(nn - 1000000L, 1000000L), "g", "v").collect().head
    ok.getAs[Long]("tie_sum") shouldBe
      (BigInt(nn) * nn * nn - nn).toLong
    ok.isNullAt(ok.fieldIndex("z")) shouldBe true // all-tied: zero variance
    val e = intercept[Exception] {
      Correlation.mannWhitneyPairs(
        pool(nn - 1000000L + 2, 1000000L), "g", "v").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    chain should include("tie_sum exceeds BIGINT")
  }

  test("zToTwoSidedPermille: cut-table p-values hit the textbook critical points") {
    val zs = Seq(0.0, 1.96, 2.5758, 10.0, -1.96).toDF("z")
      .select(col("z"), Correlation.zToTwoSidedPermille(col("z")).as("p"))
      .as[(Double, Long)].collect().toMap
    zs(0.0) shouldBe 1000L // two-sided p = 1 at z = 0
    // true two-sided p(1.96) = 0.0499958 -> floor 49 (just under .05)
    zs(1.96) shouldBe 49L
    zs(-1.96) shouldBe 49L // two-sided: sign-symmetric
    // true p(2.5758) = 0.0100003 -> floor 10
    zs(2.5758) shouldBe 10L
    zs(10.0) shouldBe 0L // beyond every cut
    // the table itself: 1000 strictly decreasing cuts ending at 0
    val cuts = Correlation.normalCutsPermille
    cuts.length shouldBe 1000
    cuts.last shouldBe 0.0 +- 1e-12
    cuts.sliding(2).forall(w => w(0) > w(1)) shouldBe true
    // cut 50 is the two-sided 5% critical value
    cuts(49) shouldBe 1.9599639845400545 +- 1e-8
  }

  test("mannWhitneyScreen: separated pair rejected, overlapping not, all-tied pairs excluded from m") {
    // A and B: clean separation over 20 ranks each (|z| ~ 5.4);
    // C interleaves A value-for-value (z ~ 0); D is a constant equal
    // to a shared value -> the (C,D)-style all-tied pair is NULL-z
    // and must not inflate the BH family size.
    val rows =
      (1L to 20L).map(v => ("A", v)) ++
      (101L to 120L).map(v => ("B", v)) ++
      (1L to 20L).map(v => ("C", v)) ++
      Seq.fill(5)(("D", 7L)) ++ Seq.fill(5)(("E", 7L))
    val d = rows.toDF("g", "v")
    val out = Correlation.mannWhitneyScreen(d, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // (D, E) is all-tied -> excluded entirely
    out.contains(("D", "E")) shouldBe false
    val m = out.values.head.getAs[Long]("m")
    m shouldBe out.size.toLong // family = emitted rows, no phantom m
    out(("A", "B")).getAs[Boolean]("rejected") shouldBe true
    out(("A", "C")).getAs[Boolean]("rejected") shouldBe false
    out(("A", "C")).getAs[Long]("p_permille") shouldBe 1000L // z ~ 0
    // p of the separated pair is at the table floor
    out(("A", "B")).getAs[Long]("p_permille") shouldBe 0L
    assertSameRows(Correlation.mannWhitneyScreen(d, "g", "v"),
      Correlation.mannWhitneyScreen(d.repartition(7), "g", "v"))
  }
}
