package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.bars.Bars
import graft.core.Tables
import graft.etl.{Merge, Schemas, Transform}

/** The reference's analytic queries q01–q09 over the shared bar path
  * (scan → bars → transform → merge → query) at sf0.1. One op builds a
  * query through `SparkEntry.queries` and writes it to the `noop` sink;
  * a pass runs every query once, in an order drawn from the seed. Each
  * query reads the lineitem table alone, through `Tables.lineitem`. The
  * traced run splits each op's write time into the bar-path layers by
  * prefix differencing.
  *
  * The output checks in `check.py` compare with DuckDB running each
  * query's oracle SQL. Before the loop, untimed, each query's row count
  * and columns at sf0.1 are recorded, and its full output over the
  * sf0.01 tables (`--check-sf`), where the oracle's determinism contract
  * holds, is captured for the value compare (README.md, "Output
  * checks"). */
final class BarQueries(spark: SparkSession, args: Args) extends Workload {
  import Workload.noop

  private val queries = BarQueries.queries
  private lazy val lineitemRows = Tables.lineitem(spark, args.sf).count()

  def inputRows(op: String): Long = lineitemRows

  def passOrder(pass: Int): Seq[String] = {
    chain = None
    new scala.util.Random(args.seed * 1000003L + pass).shuffle(queries)
  }

  /** q09 reads the whole shared path (the merged bars) and ends in one
    * small aggregate: the cheapest op that warms every bar-path layer. */
  def warmUp(): Unit = run("q09_validate_rules", -1, None)

  /** Row count and column names of each query at sf0.1. */
  private var shapes = Map.empty[String, Map[String, Any]]

  /** Counts and captures run `cores` at a time: they are untimed, and
    * some queries end in a single task. */
  def writeChecks(): Unit = {
    val pool = Executors.newFixedThreadPool(args.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val counted = Future.traverse(queries)(q => Future(q -> shape(q)))
      Await.result(Future.traverse(queries)(q => Future(capture(q))), Duration.Inf)
      shapes = Await.result(counted, Duration.Inf).toMap
    } finally pool.shutdown()
    Files.writeString(Paths.get(s"${args.work}/check/oracle_sql.json"),
      Serialization.write(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)(DefaultFormats))
  }

  def checkFacts: Map[String, Any] = Map("shapes" -> shapes)

  private def shape(q: String): Map[String, Any] = {
    val df = SparkEntry.queries(q)(spark, args.sf)
    Map("rows" -> df.count(), "columns" -> df.columns.toSeq)
  }

  private def capture(q: String): Unit =
    SparkEntry.queries(q)(spark, args.checkSf).write.mode("overwrite").parquet(s"${args.work}/check/$q")

  val execSpans: Set[String] = Set("exec")

  /** The four prefixes of every bar query, as `SparkEntry.mergedBars`
    * composes them. */
  private def prefixes(): Seq[(String, DataFrame)] = {
    val li = Tables.lineitem(spark, args.sf)
    val bars = Bars.fromLineitem(li)
    val t = Transform.transform(bars, processedAt = col("processed_at"))
    Seq("prefix.scan" -> li, "prefix.bars" -> bars,
      "prefix.transform" -> t, "prefix.merge" -> merged(t))
  }

  private def merged(t: DataFrame): DataFrame =
    Merge.mergeSources(
      Seq(t.filter(col("data_source") === "alpha_vantage"),
        t.filter(col("data_source") === "yahoo_finance")),
      keys = Schemas.mergeKey, priority = Seq(col("row_id")), sorted = false)

  /** Prefix write times (ms) of the current pass, measured once per
    * traced pass: the prefixes are the same plan for every query. */
  private var chain: Option[Seq[Double]] = None
  /** Per traced op: self times of scan, bars, transform, merge and the
    * query's own analytics, summing to the op's noop write time. */
  private val selfs = ArrayBuffer.empty[Seq[Double]]

  def run(op: String, opId: Int, tracer: Option[Tracer]): Unit = tracer match {
    case None => noop(SparkEntry.queries(op)(spark, args.sf))
    case Some(tr) =>
      if (chain.isEmpty) {
        val dfs = prefixes()
        chain = Some(tr.span("prefix", opId) {
          dfs.map { case (n, df) => tr.span(n, opId)(noop(df)); tr.lastSpan.ms }
        })
      }
      tr.span("op", opId) {
        // The reader call (schema inference) the query makes, on its own.
        tr.span("tables.read", opId)(Tables.lineitem(spark, args.sf))
        val df = tr.span("entry.construct", opId)(SparkEntry.queries(op)(spark, args.sf))
        tr.span("exec", opId)(noop(df))
      }
      selfs += Stats.prefixSelf(chain.get, tr.spans.reverseIterator.find(_.name == "exec").get.ms)
  }

  def layerMetrics(): Map[String, Double] = {
    val mean = selfs.transpose.map(xs => xs.sum / selfs.size)
    val t = prefixes()(2)._2
    Map(
      "tables.scan_ms" -> mean(0), "bars.ms" -> mean(1), "transform.ms" -> mean(2),
      "merge.ms" -> mean(3), "analytics.ms" -> mean(4),
      "merge.rows_in" -> t.count().toDouble, "merge.rows_out" -> merged(t).count().toDouble)
  }
}

object BarQueries {
  val queries: Seq[String] = Seq(
    "q01_transform_derive", "q02_merge_dedup", "q03_daily_metrics",
    "q04_moving_averages", "q05_inconsistency", "q06_quality_metrics",
    "q07_ingestion_stats", "q08_upsert", "q09_validate_rules")
}
