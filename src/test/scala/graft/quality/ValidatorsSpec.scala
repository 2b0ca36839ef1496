package graft.quality

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ValidatorsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("date", StringType),
    StructField("symbol", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("data_source", StringType)))

  private val today = lit("2024-06-01").cast("date")

  private def good(rows: Row*): DataFrame = df(schema,
    (rows :+ Row("2024-05-01", "A", 1.0, 2.0, 0.5, 1.5, 10L, "av")): _*)

  test("clean frame passes validateRaw") {
    val r = Validators.validateRaw(good(), today = today)
    r.passed shouldBe true
    r.errors shouldBe empty
    r.metrics("row_count") shouldBe 1L
  }

  test("negative close and future dates are errors (P10/P11)") {
    val r = Validators.validateRaw(
      good(Row("2024-05-02", "A", 1.0, 2.0, 0.5, -3.0, 10L, "av"),
        Row("2025-01-01", "A", 1.0, 2.0, 0.5, 1.0, 10L, "av")),
      today = today)
    r.passed shouldBe false
    r.errors.exists(_.contains("negative close")) shouldBe true
    r.errors.exists(_.contains("future dates")) shouldBe true
  }

  test("empty input and missing columns fail fast (P16/P17)") {
    Validators.validateRaw(df(schema), today = today).errors shouldBe Seq("empty input")
    val r = Validators.validateRaw(good().drop("close"), today = today)
    r.passed shouldBe false
    r.errors.head should include("missing required columns")
  }

  test("reduced column list degrades probes instead of crashing") {
    val r = Validators.validateRaw(good().drop("close"),
      requiredColumns = Seq("date", "symbol", "volume"), today = today)
    r.passed shouldBe true
  }

  test("monotonicity: adding a violating row never turns fail into pass") {
    val bad = Row("2024-05-02", "A", 1.0, 2.0, 0.5, -3.0, 10L, "av")
    val r1 = Validators.validateRaw(good(bad), today = today)
    val r2 = Validators.validateRaw(good(bad, bad), today = today)
    r1.passed shouldBe false
    r2.passed shouldBe false
  }

  test("validateTransformed layers threshold warnings in one pass (P12)") {
    val tSchema = schema
      .add("processed_at", TimestampType).add("daily_change_pct", DoubleType)
      .add("daily_volatility", DoubleType)
    val frame = df(tSchema,
      Row("2024-05-01", "A", 1.0, 2.0, 0.5, 20000.0, 10L, "av",
        java.sql.Timestamp.valueOf("2024-05-01 00:00:00"), 1.0, 25.0))
    val r = Validators.validateTransformed(frame, today = today)
    r.passed shouldBe true // thresholds warn, not fail
    r.warnings.exists(_.contains("close > 10000")) shouldBe true
    r.warnings.exists(_.contains("volatility > 20")) shouldBe true
    r.warnings.exists(_.contains("volume")) shouldBe false
  }

  test("freshness gate passes iff newest date within maxAgeDays (P13)") {
    Validators.validateFreshness(good(), maxAgeDays = 40, today = today).passed shouldBe true
    Validators.validateFreshness(good(), maxAgeDays = 7, today = today).passed shouldBe false
  }

  test("coverage: missing symbols error, extras warn (J3)") {
    val r = Validators.validateCoverage(good(), required = Seq("A", "B"))
    r.passed shouldBe false
    r.errors.head should include("B")
    val r2 = Validators.validateCoverage(good(), required = Seq("A"))
    r2.passed shouldBe true
  }

  test("validateRawSources equals validateRaw per source, in one grouped aggregation") {
    val sources = Seq(
      good(Row("2023-01-02", "B", 1.0, 2.0, 0.5, 2.5, 20L, "av")), // age warning
      good(Row("2024-05-02", "A", 1.0, 2.0, 0.5, -3.0, 10L, "av"),
        Row("2025-01-01", "C", 1.0, 2.0, 0.5, 1.0, 10L, "av"),
        Row("2024-05-03", "A", 1.0, 2.0, 0.5, null, 10L, "av")),
      df(schema),
      good().drop("close"))
    val (grouped, jobs) = countJobs(Validators.validateRawSources(sources, today = today))
    grouped shouldBe sources.map(Validators.validateRaw(_, today = today))
    grouped.map(_.errors) shouldBe Seq(Nil,
      Seq("1 rows with negative close", "1 rows with future dates", "1 null close values"),
      Seq("empty input"), Seq("missing required columns: close"))
    grouped.head.warnings.head should include("older than 365 days")
    grouped(1).metrics("unique_symbols") shouldBe 2L
    all(grouped.flatMap(_.metrics.keys)) should not startWith "__"
    jobs shouldBe 2
    val reduced = Seq("date", "symbol", "volume")
    Validators.validateRawSources(sources, reduced, today) shouldBe
      sources.map(Validators.validateRaw(_, reduced, today))
  }

  test("runGates: fused gates read as the one-gate calls, for the jobs of one") {
    val frame = good(Row("2024-05-02", "B", 1.0, 2.0, 0.5, 2.5, 20L, "av"),
      Row("2024-05-03", "C", 1.0, 2.0, 0.5, 3.5, 30L, "yh"))
    val gates = Seq(Validators.rawGate(frame.columns, today = today),
      Validators.coverageGate(Seq("A", "B", "D")),
      Validators.freshnessGate(maxAgeDays = 40, today = today),
      Validators.rawGate(frame.drop("close").columns, today = today))
    val (fused, jobs) = countJobs(Validators.runGates(frame, gates))
    fused shouldBe Seq(Validators.validateRaw(frame, today = today),
      Validators.validateCoverage(frame, Seq("A", "B", "D")),
      Validators.validateFreshness(frame, maxAgeDays = 40, today = today),
      Validators.validateRaw(frame.drop("close"), today = today))
    fused(1).metrics shouldBe Map("missing" -> Seq("D"), "extra" -> Seq("C"))
    jobs shouldBe countJobs(Validators.validateRaw(frame, today = today))._2
    countJobs(Validators.runGates(frame, gates.takeRight(1)))._2 shouldBe 0
  }

  test("each public validator is one aggregation with no distinct-aggregate rewrite: 2 jobs") {
    val tSchema = schema
      .add("processed_at", TimestampType).add("daily_change_pct", DoubleType)
      .add("daily_volatility", DoubleType)
    val ts = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    val transformed = df(tSchema,
      Row("2024-05-01", "A", 1.0, 2.0, 0.5, 1.5, 10L, "av", ts, 1.0, 2.0),
      Row("2024-05-02", "B", 1.0, 2.0, 0.5, 1.5, 10L, "av", ts, 1.0, 2.0))
    val frame = good(Row("2024-05-02", "B", 1.0, 2.0, 0.5, 2.5, 20L, "av"))
    countJobs(Validators.validateRaw(frame, today = today))._2 shouldBe 2
    countJobs(Validators.validateTransformed(transformed, today = today))._2 shouldBe 2
    countJobs(Validators.validateCoverage(frame, Seq("A")))._2 shouldBe 2
    countJobs(Validators.validateFreshness(frame, today = today))._2 shouldBe 2
  }

  test("duplicateCount counts extra rows beyond first per key (A9)") {
    val d = good(
      Row("2024-05-01", "A", 1.0, 2.0, 0.5, 1.5, 10L, "av"),
      Row("2024-05-01", "A", 1.0, 2.0, 0.5, 1.6, 10L, "av"))
    Validators.duplicateCount(d, Seq("date", "symbol", "data_source")) shouldBe 2L
    Validators.duplicateCount(good(), Seq("date", "symbol", "data_source")) shouldBe 0L
  }

  test("castFailureCounts probes coercibility per column (schema compat)") {
    import spark.implicits._
    val d = Seq(("1.5", "2024-01-01"), ("oops", "not-a-date"), (null, "2024-02-01"))
      .toDF("price", "day")
    val m = Validators.castFailureCounts(d, Map("price" -> "double", "day" -> "date"))
    m("price") shouldBe 1L // "oops" fails, null does not count
    m("day") shouldBe 1L
  }

  test("crossSourceInconsistencies finds divergent multi-source groups (J2)") {
    val d = good(
      Row("2024-05-01", "A", 1.0, 2.0, 0.5, 2.0, 10L, "yh"), // A@05-01: 1.5 vs 2.0 -> 33%
      Row("2024-05-02", "B", 1.0, 2.0, 0.5, 1.0, 10L, "av"),
      Row("2024-05-02", "B", 1.0, 2.0, 0.5, 1.01, 10L, "yh")) // 1% -> below cap
    val out = Validators.crossSourceInconsistencies(d, maxPctDiff = 5.0).collect()
    out.map(_.getAs[String]("symbol")).toSeq shouldBe Seq("A")
  }

  test("kAnonymityAudit flags small groups and low sensitive diversity") {
    import spark.implicits._
    val d = Seq(
      // ("NY", "M"): 3 rows, 3 distinct incomes -> safe at k=3, l=2
      ("NY", "M", 10), ("NY", "M", 20), ("NY", "M", 30),
      // ("SF", "F"): 2 rows -> k_risk; 1 distinct income -> l_risk
      ("SF", "F", 50), ("SF", "F", 50))
      .toDF("city", "gender", "income")
    val out = Validators.kAnonymityAudit(d, Seq("city", "gender"),
        "income", k = 3, l = 2)
      .orderBy("city")
      .as[(String, String, Long, Long, Boolean, Boolean)].collect()
    out shouldBe Array(
      ("NY", "M", 3L, 3L, false, false),
      ("SF", "F", 2L, 1L, true, true))
  }

  test("kAnonymize picks the MINIMAL satisfying ladder level") {
    import spark.implicits._
    // age exact: singleton groups; age div 10: all groups of 4+
    val d = (1 to 20).map(i => (i % 5) * 10 + i % 3).toDF("age")
    val levels = Seq(Seq(col("age").cast("long")),
      Seq(expr("CAST(age AS BIGINT) div 10")),
      Seq(lit(0L)))
    val out = Validators.kAnonymize(d, levels, Seq("age_g"), k = 4)
      .as[(Long, Long, Int, Boolean)].collect().sorted
    all(out.map(_._3)) shouldBe 1          // level 1, not 2: minimality
    all(out.map(_._4)) shouldBe true
    out.map(_._2).sum shouldBe 20L         // every row in some class
    // a stricter k the ladder CAN satisfy only at full suppression
    val full = Validators.kAnonymize(d, levels, Seq("age_g"), k = 15)
      .as[(Long, Long, Int, Boolean)].collect()
    full.toSeq shouldBe Seq((0L, 20L, 2, true))
  }

  test("kAnonymize: unsatisfiable k emits the coarsest level with residuals flagged") {
    import spark.implicits._
    val d = Seq(1L, 2L).toDF("v")
    val levels = Seq(Seq(col("v")), Seq(lit(0L)))
    val out = Validators.kAnonymize(d, levels, Seq("g"), k = 99)
      .as[(Long, Long, Int, Boolean)].collect()
    out.toSeq shouldBe Seq((0L, 2L, 1, false)) // visible, not silently dropped
  }

  test("observed: quality metrics ride the caller's action, no second scan") {
    import spark.implicits._
    val d = Seq((1L, Some(10.0)), (2L, None), (3L, Some(30.0)), (3L, Some(5.0)))
      .toDF("id", "v")
    val (instrumented, obs) = Validators.observed(
      d, "write_quality", nullCols = Seq("v"), minMaxCol = Some("id"))
    // the caller's ONLY job: the write. Metrics accumulate inside it.
    val out = tempDir("graft-observe").resolve("t").toString
    instrumented.write.mode("overwrite").parquet(out)
    val m = obs.get
    m("row_count") shouldBe 4L
    m("null_v") shouldBe 1L
    m("min_id") shouldBe 1L
    m("max_id") shouldBe 3L
    m("approx_distinct_id") shouldBe 3L // exact at this tiny cardinality
    // and the written data is untouched by the instrumentation
    spark.read.parquet(out).count() shouldBe 4L
  }

  test("referentialAudit: orphans, childless parents, cents reconciliation") {
    val pSchema = StructType(Seq(
      StructField("pk", LongType, nullable = false),
      StructField("amount", DoubleType, nullable = false)))
    val cSchema = StructType(Seq(
      StructField("fk", LongType, nullable = false),
      StructField("amount", DoubleType, nullable = false)))
    val parent = df(pSchema,
      Row(1L, 10.0),   // reconciles exactly (6 + 4)
      Row(2L, 5.0),    // child sums to 5.01 — within the 1-cent tolerance
      Row(3L, 7.0),    // childless
      Row(4L, 20.0))   // child sums to 10.00 — VIOLATION
    val child = df(cSchema,
      Row(1L, 6.0), Row(1L, 4.0),
      Row(2L, 5.01),
      Row(4L, 10.0),
      Row(9L, 1.0))    // orphan
    val out = Validators.referentialAudit(parent, child,
        "pk", "fk", "amount", "amount")
      .collect().map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
         r.getAs[Long]("violation_permille"))).toMap
    out("orphan_children") shouldBe ((5L, 1L, 200L))
    out("childless_parents") shouldBe ((4L, 1L, 250L))
    out("amount_reconciliation") shouldBe ((3L, 1L, 333L))
  }
}
