package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RunConstants

/** Source normalization (SURVEY.md §2.1 S1/S2/S6): rename raw
  * source-specific columns to the standard bar schema, project away
  * noise columns, and tag provenance. The network-fetch half of the
  * reference's extractors (`dags/utils/extractors.py:13-144`) is a
  * connector concern; these are the dataflow halves, expressed as
  * pure `DataFrame => DataFrame` so Catalyst sees one plan.
  */
object Normalize {

  /** Alpha Vantage column map (reference `dags/utils/extractors.py:43-50`). */
  val alphaVantageRenames: Map[String, String] = Map(
    "1. open" -> "open", "2. high" -> "high", "3. low" -> "low",
    "4. close" -> "close", "5. volume" -> "volume")

  /** Yahoo column map (reference `dags/utils/extractors.py:109-116`);
    * `Dividends`/`Stock Splits` are dropped by the keep-list projection
    * (`extractors.py:135-136`). */
  val yahooRenames: Map[String, String] = Map(
    "Date" -> "date", "Open" -> "open", "High" -> "high",
    "Low" -> "low", "Close" -> "close", "Volume" -> "volume")

  val standardColumns: Seq[String] =
    Seq("date", "symbol", "open", "high", "low", "close", "volume",
      "data_source", "extracted_at")

  /** Rename via map, tag symbol/source/extracted_at, project to the
    * standard keep-list. Works for any raw shape given its rename map.
    *
    * `extracted_at` is the instant this frame was built, fixed as a
    * [[graft.functions.RunConstant]]: every action over the frame sees
    * the same value, and its generated code does not change with it.
    */
  def normalize(
      raw: DataFrame,
      renames: Map[String, String],
      symbol: String,
      dataSource: String): DataFrame = {
    val renamed = raw.withColumnsRenamed(renames)
    val tagged = renamed
      .withColumn("symbol", lit(symbol))
      .withColumn("data_source", lit(dataSource))
      .withColumn("extracted_at", RunConstants.now())
      .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
    tagged.select(standardColumns.map(col): _*)
  }

  def alphaVantage(raw: DataFrame, symbol: String): DataFrame =
    normalize(raw, alphaVantageRenames, symbol, "alpha_vantage")

  def yahooFinance(raw: DataFrame, symbol: String): DataFrame =
    normalize(raw, yahooRenames, symbol, "yahoo_finance")

  /** Per-source error isolation (reference `extractors.py:58-63`): each
    * symbol's frame is produced independently; failures are collected,
    * and only an empty result set is fatal. */
  def unionWithIsolation(frames: Seq[() => DataFrame]): (DataFrame, Seq[Throwable]) = {
    val results = frames.map(f => scala.util.Try(f()))
    val ok = results.collect { case scala.util.Success(df) => df }
    val errs = results.collect { case scala.util.Failure(e) => e }
    require(ok.nonEmpty, s"all ${frames.size} source fetches failed")
    (ok.reduce(_.unionByName(_, allowMissingColumns = true)), errs)
  }
}
