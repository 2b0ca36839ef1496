package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Merge, Normalize, Schemas, Transform, Upsert}
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.quality.Validators
import graft.store.Store

/** The product path, one daily run per op: connector extract →
  * `Normalize` → `Pipeline.run` into a per-day staging path →
  * `Upsert.upsertPartitioned` into the month-partitioned main table →
  * catalog table and daily-metrics view → a read of the last 7 days.
  *
  * Inputs come from `gen.py`: `landing/variables.json` (the reference's
  * config shape), `landing/days.txt` (the bootstrap day, then the pass's
  * trading days) and one payload file per day, source and symbol. The
  * warm-up op loads the bootstrap day into an empty table; every pass
  * starts from a copy of that table, so each pass is the same backfill. */
final class DailyLoad(spark: SparkSession, args: Args) extends Workload {
  import Workload.noop

  private val landing = s"${args.work}/landing"
  private val root = s"${args.work}/daily"
  private val main = s"$root/main"
  private val seedTable = s"$root/main_bootstrap"
  private val table = "bars_main"
  private val view = "stock_daily_metrics"
  private val cfg = PipelineConfig.fromFile(s"$landing/variables.json")
  private val symbols = cfg.stock_etl_config.stock_symbols
  private val bootstrapDay +: days =
    Files.readAllLines(Paths.get(s"$landing/days.txt")).asScala.toSeq.filter(_.nonEmpty)
  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def payloads(day: String): Seq[File] =
    Seq("alphavantage", "yahoofinance").flatMap(src =>
      symbols.map(s => new File(s"$landing/$day/$src/$s.csv")))

  private val rowsByDay: Map[String, Long] = (bootstrapDay +: days).map { d =>
    d -> payloads(d).map(f =>
      Files.readAllLines(f.toPath).asScala.drop(1).count(_.trim.nonEmpty).toLong).sum
  }.toMap

  def passOrder(pass: Int): Seq[String] = days
  def inputRows(op: String): Long = rowsByDay(op)
  val execSpans: Set[String] = Set("pipeline.run", "upsert", "store.catalog", "store.view_read")

  override def resetPass(): Unit = {
    fs.delete(new Path(main), true)
    FileUtil.copy(fs, new Path(seedTable), fs, new Path(main), false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  def warmUp(): Unit = {
    fs.delete(new Path(root), true)
    dailyRun(bootstrapDay, -1, None)
    FileUtil.copy(fs, new Path(main), fs, new Path(seedTable), false,
      spark.sparkContext.hadoopConfiguration)
    views.clear()
  }

  def writeChecks(): Unit = ()

  /** Per op: (op id, day, view rows as JSON objects). */
  private val views = ArrayBuffer.empty[(Int, String, Seq[String])]
  private var lastDay = ""

  def checkFacts: Map[String, Any] = {
    val out = s"${args.work}/check/daily_views.jsonl"
    new File(out).getParentFile.mkdirs()
    Files.write(Paths.get(out), views.map { case (op, day, rows) =>
      s"""{"op":$op,"day":"$day","rows":${rows.mkString("[", ",", "]")}}"""
    }.asJava)
    Map("views" -> out, "main" -> main, "days" -> (bootstrapDay +: days), "last_day" -> lastDay)
  }

  private def today(day: String): Column = lit(day).cast("date")

  /** Connector read of one day's payloads, one frame per source. */
  private def extract(day: String): Seq[DataFrame] = {
    def source(fmt: String, norm: (DataFrame, String) => DataFrame): DataFrame = {
      val (df, errs) = Normalize.unionWithIsolation(symbols.map(s => () =>
        norm(spark.read.format(fmt).load(s"$landing/$day/$fmt/$s.csv"), s)))
      require(errs.isEmpty, s"extract failed: ${errs.mkString("; ")}")
      df
    }
    Seq(source("alphavantage", Normalize.alphaVantage),
      source("yahoofinance", Normalize.yahooFinance))
  }

  private def months(): Set[String] =
    if (!fs.exists(new Path(main))) Set.empty
    else fs.listStatus(new Path(main)).map(_.getPath.getName)
      .filter(_.startsWith("month=")).toSet

  /** Data files under `dir`: path -> bytes. */
  private def files(dir: String): Map[String, Long] =
    if (!fs.exists(new Path(dir))) Map.empty
    else {
      val it = fs.listFiles(new Path(dir), true)
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) out += st.getPath.toString -> st.getLen
      }
      out.result()
    }

  def run(op: String, opId: Int, tracer: Option[Tracer]): Unit = dailyRun(op, opId, tracer)

  private def span[T](tr: Option[Tracer], name: String, opId: Int)(body: => T): T =
    tr.fold(body)(_.span(name, opId)(body))

  private def dailyRun(day: String, opId: Int, tr: Option[Tracer]): Unit =
    span(tr, "op", opId) {
      val raw = extract(day)
      tr.foreach(t => t.span("sources.extract", opId)(noop(raw.reduce(_.unionByName(_)))))
      val staging = s"$root/staging/$day"
      val result = span(tr, "pipeline.run", opId) {
        Pipeline.run(spark, raw, cfg, staging, today = today(day))
      }
      require(result.passed, s"pipeline gates failed on $day: ${result.reports}")
      tr.foreach { t =>
        decomposed(t, opId, day, raw, s"$root/staging_decomposed/$day")
        requireSameTable(staging, s"$root/staging_decomposed/$day")
      }
      load(day, opId, tr, staging)
      lastDay = day
    }

  private def load(day: String, opId: Int, tr: Option[Tracer], staging: String): Unit = {
    val before = months()
    val filesBefore = if (tr.isDefined) files(main) else Map.empty[String, Long]
    span(tr, "upsert", opId) {
      if (before.isEmpty)
        Store.writePartitioned(spark.read.parquet(staging), main, "month", Seq("symbol", "date"))
      else
        Upsert.upsertPartitioned(spark, main, spark.read.parquet(staging), Schemas.mergeKey, "month")
    }
    tr.foreach(_ => upsertCounts(filesBefore, staging))
    span(tr, "store.catalog", opId) {
      Store.createTable(spark, table, main)
      // createTable only refreshes a table it already has; a run that
      // adds a month directory must recover partitions itself.
      if ((months() -- before).nonEmpty) spark.catalog.recoverPartitions(table)
      Store.createDailyMetricsView(spark, table, view)
    }
    val rows = span(tr, "store.view_read", opId) {
      spark.table(view)
        .filter(col("date").between(date_sub(today(day), 6), today(day)))
        .select(to_json(struct(col("date").cast("string").as("date"), col("symbol"),
          col("close_price"), col("avg_volatility"), col("source_count"))))
        .collect().map(_.getString(0)).toSeq
    }
    views += ((opId, day, rows))
  }

  /** The stage functions `Pipeline.run` composes, called one by one in
    * its order and with its arguments, each in its own span. */
  private def decomposed(tr: Tracer, opId: Int, day: String, raw: Seq[DataFrame],
                         path: String): Unit = {
    raw.foreach { src =>
      val r = tr.span("quality.gate", opId)(Validators.validateRaw(src, today = today(day)))
      require(r.passed, s"raw validation failed: ${r.errors}")
    }
    val transformed = tr.span("transform", opId) {
      raw.zipWithIndex.map { case (src, i) =>
        Transform.transform(src).withColumn("__src_order", lit(i))
      }
    }
    val merged = tr.span("merge", opId) {
      Merge.mergeSources(transformed, keys = Schemas.mergeKey,
        priority = Seq(col("__src_order"), col("extracted_at")), sorted = false)
        .drop("__src_order")
    }
    val t = tr.span("quality.gate", opId)(Validators.validateTransformed(merged, today = today(day)))
    require(t.passed, s"transformed validation failed: ${t.errors}")
    tr.span("quality.gate", opId)(
      Validators.validateCoverage(merged, cfg.stock_etl_config.stock_symbols))
    tr.span("quality.gate", opId)(Validators.validateFreshness(merged,
      maxAgeDays = math.max(1, cfg.stock_etl_config.data_freshness_threshold_hours / 24),
      today = today(day)))
    tr.span("store.write", opId) {
      Store.writePartitioned(merged.withColumn("month", date_format(col("date"), "yyyy-MM")),
        path, "month", Seq("symbol", "date"))
    }
    val written = files(path)
    storeWrites += ((written.values.sum, written.size))
    mergeRows += ((transformed.map(_.count()).sum, merged.count()))
  }

  /** Both tables hold the same rows, apart from the run timestamps. */
  private def requireSameTable(a: String, b: String): Unit = {
    val cols = spark.read.parquet(a).columns.toSeq.filterNot(Set("processed_at", "extracted_at"))
    val x = spark.read.parquet(a).select(cols.map(col): _*)
    val y = spark.read.parquet(b).select(cols.map(col): _*)
    require(x.count() == y.count() && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"decomposed pipeline wrote a different table than Pipeline.run ($a vs $b)")
  }

  /** Per traced op: rows into and out of `Merge.mergeSources`. */
  private val mergeRows = ArrayBuffer.empty[(Long, Long)]
  private val storeWrites = ArrayBuffer.empty[(Long, Int)]
  /** Per traced op: partitions rewritten, bytes written, rows in the
    * touched partitions per staged row. */
  private val upserts = ArrayBuffer.empty[(Int, Long, Double)]

  private def upsertCounts(before: Map[String, Long], staging: String): Unit = {
    val after = files(main)
    val fresh = after.keySet -- before.keySet
    def month(f: String) = f.split('/').find(_.startsWith("month=")).getOrElse("")
    val touched = fresh.map(month)
    val staged = spark.read.parquet(staging).count()
    val rewritten = spark.read.parquet(touched.toSeq.map(m => s"$main/$m"): _*).count()
    upserts += ((touched.size, fresh.toSeq.map(after).sum, rewritten.toDouble / staged))
  }

  def layerMetrics(): Map[String, Double] = {
    def mean[T](xs: Seq[T])(f: T => Double): Double = xs.map(f).sum / xs.size
    val landedFiles = payloads(days.head).size.toDouble
    val mainFiles = files(main)
    Map(
      "sources.files" -> landedFiles,
      "sources.rows" -> mean(days)(d => rowsByDay(d).toDouble),
      "merge.rows_in" -> mean(mergeRows.toSeq)(_._1.toDouble),
      "merge.rows_out" -> mean(mergeRows.toSeq)(_._2.toDouble),
      "store.bytes_written" -> mean(storeWrites.toSeq)(_._1.toDouble),
      "store.files_written" -> mean(storeWrites.toSeq)(_._2.toDouble),
      "upsert.partitions_rewritten" -> mean(upserts.toSeq)(_._1.toDouble),
      "upsert.bytes_written" -> mean(upserts.toSeq)(_._2.toDouble),
      "upsert.rows_rewritten_per_staged_row" -> mean(upserts.toSeq)(_._3),
      "stored_bytes_per_row" ->
        mainFiles.values.sum.toDouble / spark.read.parquet(main).count())
  }
}
