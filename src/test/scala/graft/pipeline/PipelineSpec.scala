package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.etl.{Merge, Schemas, Transform}
import graft.quality.Validators

class PipelineSpec extends SparkSpec {

  private val cfgJson = """{
    "stock_etl_config": {
      "stock_symbols": ["AAA", "BBB"],
      "backfill_days": 30,
      "data_freshness_threshold_hours": 24
    },
    "etl_monitoring": {
      "enable_alerts": true,
      "error_threshold": 5,
      "data_volume_threshold_mb": 1.5,
      "quality_score_threshold": 0.95
    },
    "environment": "test"
  }"""

  private val rawSchema = StructType(Seq(
    StructField("date", StringType, nullable = false),
    StructField("symbol", StringType, nullable = false),
    StructField("open", DoubleType, nullable = true),
    StructField("high", DoubleType, nullable = true),
    StructField("low", DoubleType, nullable = true),
    StructField("close", DoubleType, nullable = false),
    StructField("volume", LongType, nullable = true),
    StructField("data_source", StringType, nullable = false),
    StructField("extracted_at", TimestampType, nullable = false)))

  private val t0 = Timestamp.valueOf("2024-01-06 06:00:00")

  private def bar(date: String, sym: String, close: Double, src: String) =
    Row(date, sym, close - 1, close + 1, close - 2, close, 100L, src, t0)

  private def source(src: String, rows: Row*) = df(rawSchema, rows: _*)

  private def table() = tempDir("graft-pipe").resolve("bars").toString

  private def twoSources = (
    source("alpha_vantage",
      bar("2024-01-05", "AAA", 100.0, "alpha_vantage"),
      bar("2024-01-05", "BBB", 50.0, "alpha_vantage")),
    source("yahoo_finance",
      bar("2024-01-05", "AAA", 100.5, "yahoo_finance"),
      bar("2024-01-05", "BBB", 50.5, "yahoo_finance")))

  test("config loader parses the reference variables.json shape") {
    val cfg = PipelineConfig.fromJson(cfgJson)
    cfg.stock_etl_config.stock_symbols shouldBe Seq("AAA", "BBB")
    cfg.stock_etl_config.backfill_days shouldBe 30
    cfg.etl_monitoring.quality_score_threshold shouldBe 0.95
    cfg.environment shouldBe "test"
  }

  test("end-to-end run: gates pass, dedup keeps first source, table written") {
    val cfg = PipelineConfig.fromJson(cfgJson)
    val (av, yh) = twoSources
    val path = table()
    val res = Pipeline.run(spark, Seq(av, yh), cfg, path,
      today = lit("2024-01-06").cast("date"))
    res.passed shouldBe true
    res.rowsWritten shouldBe 4L // distinct (date,symbol,data_source)
    res.reports.map(_.stage) should contain allOf
      ("validate_raw_0", "validate_transformed", "validate_coverage", "validate_freshness")
    // month-partitioned layout on disk
    new java.io.File(path).listFiles().map(_.getName) should contain("month=2024-01")
  }

  test("raw validation failure aborts the pipeline (negative close)") {
    val cfg = PipelineConfig.fromJson(cfgJson)
    val bad = source("alpha_vantage", bar("2024-01-05", "AAA", -5.0, "alpha_vantage"))
    an[IllegalArgumentException] should be thrownBy
      Pipeline.run(spark, Seq(bad), cfg, table(), today = lit("2024-01-06").cast("date"))
  }

  test("q306 wires the full README DAG: view-after-upsert equals the piecewise composition (README.md:96-131)") {
    // The registry's end-to-end entry runs extract -> validate raw ->
    // transform -> merge -> validate transformed -> partitioned upload
    // -> MERGE load -> daily-metrics view as ONE run; this pins that
    // its output is exactly the piecewise composition of the already-
    // oracled pieces: q03's daily metrics over q08's logical upsert.
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q306_pipeline_e2e")(spark, dir)
    val merged = graft.SparkEntry.mergedBars(spark, dir)
    val target = merged.filter(col("date") < lit("1999-01-01").cast("date"))
    val staging = merged
      .filter(col("date") >= lit("1998-06-01").cast("date") &&
        col("date") < lit("1999-01-01").cast("date"))
      .withColumn("close", col("close") + 1.0)
      .select(merged.columns.map(col): _*)
    val after = graft.etl.Upsert.upsert(target, staging,
      graft.etl.Schemas.mergeKey)
    val twin = graft.analytics.StockAnalytics.dailyMetrics(after)
    assertSameRows(out, twin)
  }

  test("coverage and freshness issues report without aborting") {
    val cfg = PipelineConfig.fromJson(cfgJson)
    val av = source("alpha_vantage", bar("2024-01-05", "AAA", 100.0, "alpha_vantage"))
    // BBB missing; data 10 days older than `today` -> both gates report
    val res = Pipeline.run(spark, Seq(av), cfg, table(),
      today = lit("2024-01-15").cast("date"))
    res.passed shouldBe false
    val by = res.reports.map(r => r.stage -> r.result).toMap
    by("validate_coverage").passed shouldBe false
    by("validate_freshness").passed shouldBe false
    by("validate_transformed").passed shouldBe true
  }

  /** `Pipeline.run`'s reports, or the message it aborts with. */
  private def viaPipeline(sources: Seq[DataFrame], today: Column): Either[String, Seq[StageReport]] =
    try Right(Pipeline.run(spark, sources, PipelineConfig.fromJson(cfgJson), table(),
      today = today).reports)
    catch { case e: IllegalArgumentException => Left(e.getMessage) }

  /** The same gates called one validator at a time, over the frame
    * `Pipeline.run` builds and with its abort rule. */
  private def oneByOne(sources: Seq[DataFrame], today: Column): Either[String, Seq[StageReport]] = {
    val raw = sources.zipWithIndex.map { case (s, i) =>
      StageReport(s"validate_raw_$i", Validators.validateRaw(s, today = today))
    }
    if (!raw.forall(_.result.passed))
      return Left(s"requirement failed: raw validation failed: " +
        raw.flatMap(_.result.errors).mkString("; "))
    val merged = Merge.mergeSources(
        sources.zipWithIndex.map { case (s, i) =>
          Transform.transform(s).withColumn("__src_order", lit(i))
        },
        keys = Schemas.mergeKey,
        priority = Seq(col("__src_order"), col("extracted_at")),
        sorted = false)
      .drop("__src_order")
    val t = Validators.validateTransformed(merged, today = today)
    if (!t.passed)
      return Left(s"requirement failed: transformed validation failed: ${t.errors.mkString("; ")}")
    Right(raw ++ Seq(
      StageReport("validate_transformed", t),
      StageReport("validate_coverage",
        Validators.validateCoverage(merged, Seq("AAA", "BBB"))),
      StageReport("validate_freshness",
        Validators.validateFreshness(merged, maxAgeDays = 1, today = today))))
  }

  test("Pipeline.run's reports equal the validators called one by one, on every gate arm") {
    val (av, yh) = twoSources
    val jan6 = lit("2024-01-06").cast("date")
    val row = (date: String, sym: String, close: Double, volume: Long, src: String) =>
      Row(date, sym, close - 1, close + 1, close - 2, close, volume, src, t0)
    // (arm, sources, today, what the arm must show)
    val arms: Seq[(String, Seq[DataFrame], Column, Either[String, Seq[StageReport]] => Boolean)] = Seq(
      ("two clean sources", Seq(av, yh), jan6, r => r.exists(_.forall(_.result.passed))),
      ("negative close in source 1 only",
        Seq(av, source("yahoo_finance", bar("2024-01-05", "AAA", -5.0, "yahoo_finance"))), jan6,
        r => r.fold(_.contains("1 rows with negative close"), _ => false)),
      ("an empty source", Seq(av, source("yahoo_finance")), jan6,
        r => r.fold(_.endsWith("empty input"), _ => false)),
      ("a source missing close", Seq(av, yh.drop("close")), jan6,
        r => r.fold(_.contains("missing required columns: close"), _ => false)),
      ("future dates",
        Seq(av, source("yahoo_finance", bar("2024-02-01", "AAA", 100.0, "yahoo_finance"))), jan6,
        r => r.fold(_.contains("1 rows with future dates"), _ => false)),
      ("threshold warnings",
        Seq(source("alpha_vantage",
          row("2024-01-05", "AAA", 20000.0, 100L, "alpha_vantage"),
          row("2024-01-05", "BBB", 5.0, 2000000000L, "alpha_vantage")), yh), jan6,
        r => r.exists(_.find(_.stage == "validate_transformed").get.result.warnings.size == 3)),
      ("coverage with missing and extra symbols",
        Seq(source("alpha_vantage", bar("2024-01-05", "AAA", 100.0, "alpha_vantage"),
          bar("2024-01-05", "CCC", 10.0, "alpha_vantage"))), jan6,
        r => r.exists(_.find(_.stage == "validate_coverage").get.result ==
          graft.quality.ValidationResult(passed = false, Seq("missing symbols: BBB"),
            Seq("unexpected symbols: CCC"), Map("missing" -> Seq("BBB"), "extra" -> Seq("CCC"))))),
      ("stale data, with bars older than a year", Seq(av, source("yahoo_finance",
          bar("2022-12-01", "AAA", 100.0, "yahoo_finance"))), lit("2024-01-15").cast("date"),
        r => r.exists(rs => !rs.find(_.stage == "validate_freshness").get.result.passed &&
          rs.find(_.stage == "validate_raw_1").get.result.warnings.nonEmpty)))
    for ((arm, sources, today, shows) <- arms) {
      val got = viaPipeline(sources, today)
      withClue(s"$arm: ") {
        got shouldBe oneByOne(sources, today)
        assert(shows(got), s"the arm does not show what it is for: $got")
      }
    }
  }

  test("Pipeline.run on two sources submits 8 jobs: one raw aggregation, one post-merge aggregation, the write") {
    val (av, yh) = twoSources
    val cfg = PipelineConfig.fromJson(cfgJson)
    val today = lit("2024-01-06").cast("date")
    Pipeline.run(spark, Seq(av, yh), cfg, table(), today = today) // warm-up
    val (res, jobs) = countJobs(Pipeline.run(spark, Seq(av, yh), cfg, table(), today = today))
    res.passed shouldBe true
    jobs shouldBe 8
  }

  test("one clock per run: a run on the next day compiles no new code, and all its rows carry one processed_at") {
    val (av, yh) = twoSources
    val cfg = PipelineConfig.fromJson(cfgJson)
    val (jan6, jan7) = (lit("2024-01-06").cast("date"), lit("2024-01-07").cast("date"))
    Pipeline.run(spark, Seq(av, yh), cfg, table(), today = jan6)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val path = table()
    val res = Pipeline.run(spark, Seq(av, yh), cfg, path, today = jan7)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles shouldBe 0
    // the new day's value reached the gates: Jan 5 bars are stale on Jan 7
    Right(res.reports) shouldBe oneByOne(Seq(av, yh), jan7)
    res.reports.find(_.stage == "validate_freshness").get.result.passed shouldBe false
    res.rowsWritten shouldBe 4L
    spark.read.parquet(path).select(countDistinct("processed_at")).head().getLong(0) shouldBe 1L
  }

  test("the current_date() default is today in the session time zone") {
    val zone = "Pacific/Kiritimati" // UTC+14: its date differs from UTC's for 14 h a day
    withSQLConf("spark.sql.session.timeZone" -> zone) {
      val today = java.time.LocalDate.now(java.time.ZoneId.of(zone))
      def run(day: java.time.LocalDate) = Pipeline.run(spark, Seq(source("alpha_vantage",
          bar(day.toString, "AAA", 100.0, "alpha_vantage"),
          bar(day.toString, "BBB", 50.0, "alpha_vantage"))),
        PipelineConfig.fromJson(cfgJson), table())
      run(today).passed shouldBe true
      val e = the[IllegalArgumentException] thrownBy run(today.plusDays(1))
      e.getMessage should include("2 rows with future dates")
    }
  }

  test("sources that disagree on a required column's type fail fast, naming the column and both types") {
    val (av, yh) = twoSources
    val e = the[IllegalArgumentException] thrownBy Pipeline.run(spark,
      Seq(av, yh.withColumn("volume", col("volume").cast("int"))),
      PipelineConfig.fromJson(cfgJson), table(), today = lit("2024-01-06").cast("date"))
    e.getMessage should (include("'volume'") and include("has bigint") and include("has int"))
  }
}
