package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.JsonMethods

import graft.etl.{Merge, Schemas, Transform}
import graft.functions.RunConstants
import graft.quality.{ValidationResult, Validators}
import graft.store.Store

/** Typed configuration mirroring the reference's
  * `config/variables.json` shape (field names included), minus the
  * remote-service coordinates that a Spark-native engine replaces with
  * a table path. */
case class StockEtlSettings(
    stock_symbols: Seq[String],
    backfill_days: Int,
    data_freshness_threshold_hours: Int)

case class EtlMonitoring(
    enable_alerts: Boolean,
    error_threshold: Int,
    data_volume_threshold_mb: Double,
    quality_score_threshold: Double)

case class PipelineConfig(
    stock_etl_config: StockEtlSettings,
    etl_monitoring: EtlMonitoring,
    environment: String)

object PipelineConfig {
  implicit private val formats: Formats = DefaultFormats

  def fromJson(json: String): PipelineConfig =
    JsonMethods.parse(json).extract[PipelineConfig]

  def fromFile(path: String): PipelineConfig =
    fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
}

/** One pipeline stage's outcome (reference: XCom-published metrics). */
case class StageReport(stage: String, result: ValidationResult)

case class PipelineResult(
    reports: Seq[StageReport],
    rowsWritten: Long,
    passed: Boolean)

/** The reference DAG's task graph (`README.md:96-131` order:
  * extract → validate raw → transform → merge → validate transformed →
  * store) as one lazy Spark program (SURVEY.md §3.1). Stages are pure
  * `DataFrame => DataFrame`; the quality gates are the only actions
  * before the final write, in two aggregations: the raw gates of every
  * source in one grouped aggregation, then the transformed, coverage
  * and freshness gates in one aggregation over the merged frame.
  * Measured on a 4-core local session with two in-memory sources, a run
  * submits 8 jobs (2 raw, 3 post-merge, 3 write), down from 19 when
  * each gate ran its own aggregation and recomputed the merge.
  *
  * One clock per run: `today` is evaluated once on the driver and
  * `processed_at` is taken once, both as
  * [[graft.functions.RunConstant]]s, so the raw gate, the post-merge
  * gates and the write all see the same "now", and a run on a new day
  * reuses the code the previous day's run compiled.
  */
object Pipeline {

  /** Run the full flow over already-normalized raw source frames
    * (the fetch half of extraction is a connector concern —
    * [[graft.etl.Normalize]] covers the dataflow half).
    *
    * Gate policy mirrors the reference: raw/transformed validation
    * errors abort (DataQualityOperator raises); coverage/freshness
    * issues are reported. Returns per-stage reports either way.
    *
    * `today` is evaluated once, without a job, when it folds to a
    * constant (the default `current_date()` is the session time zone's
    * date at the start of the run); every row written carries the same
    * `processed_at`, the start of the run. */
  def run(
      spark: SparkSession,
      rawSources: Seq[DataFrame],
      cfg: PipelineConfig,
      tablePath: String,
      today: Column = current_date()): PipelineResult = {
    val runToday = RunConstants.fix(spark, today)
    val processedAt = RunConstants.now()

    val rawReports = Validators.validateRawSources(rawSources, today = runToday)
      .zipWithIndex.map { case (r, i) => StageReport(s"validate_raw_$i", r) }
    require(rawReports.forall(_.result.passed),
      s"raw validation failed: ${rawReports.flatMap(_.result.errors).mkString("; ")}")

    // Keep-first across sources: source order decides (the reference
    // concatenates AV before Yahoo). `extracted_at` is one constant per
    // normalized frame, so it separates two normalizations of the same
    // source but breaks no tie within one frame: rows of one frame that
    // share a merge key must be identical (as gen.py's duplicates are),
    // or which of them survives is unspecified.
    val transformed = rawSources.zipWithIndex.map { case (src, i) =>
      Transform.transform(src, processedAt).withColumn("__src_order", lit(i))
    }
    val merged = Merge.mergeSources(transformed,
        keys = Schemas.mergeKey,
        priority = Seq(col("__src_order"), col("extracted_at")),
        sorted = false)
      .drop("__src_order")

    val freshDays =
      math.max(1, cfg.stock_etl_config.data_freshness_threshold_hours / 24)
    val Seq(tReport, covReport, freshReport) = Validators.runGates(merged, Seq(
        Validators.transformedGate(merged.columns, today = runToday),
        Validators.coverageGate(cfg.stock_etl_config.stock_symbols),
        Validators.freshnessGate(maxAgeDays = freshDays, today = runToday)))
      .zip(Seq("validate_transformed", "validate_coverage", "validate_freshness"))
      .map { case (r, stage) => StageReport(stage, r) }
    require(tReport.result.passed,
      s"transformed validation failed: ${tReport.result.errors.mkString("; ")}")

    // rowsWritten rides the write job as an observed metric — same
    // single-scan contract as Ingest.uploadParquet.
    val obs = org.apache.spark.sql.Observation()
    val stored = merged.withColumn("month", date_format(col("date"), "yyyy-MM"))
      .observe(obs, count(lit(1)).as("rows"))
    Store.writePartitioned(stored, tablePath, "month", Seq("symbol", "date"))
    val rows = obs.get("rows").asInstanceOf[Long]

    val reports = rawReports ++ Seq(tReport, covReport, freshReport)
    PipelineResult(reports, rows,
      passed = reports.forall(_.result.passed))
  }
}
