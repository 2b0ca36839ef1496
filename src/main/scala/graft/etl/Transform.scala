package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.RunConstants

/** The transform stage (SURVEY.md §2.3 P4–P9, reference
  * `dags/utils/transformers.py:10-76`): type normalization, date
  * parsing, null handling, derived metrics. Pure column expressions —
  * stays inside whole-stage codegen, no UDFs.
  */
object Transform {

  /** daily_change_pct = round((close-open)/open*100, 2)
    * (reference `transformers.py:62`). Declared divergence: open=0
    * yields NULL (Spark non-ANSI division), not pandas' inf — NULL
    * degrades gracefully in downstream aggregates, inf poisons them.
    * Pinned by TransformSpec. */
  def dailyChangePct(open: Column, close: Column): Column =
    round((close - open) / open * 100, 2)

  /** daily_volatility = round((high-low)/open*100, 2)
    * (reference `transformers.py:65`). */
  def dailyVolatility(open: Column, high: Column, low: Column): Column =
    round((high - low) / open * 100, 2)

  /** Full transform: casts (P4), volume null→0 **before** the cast
    * (P5, `transformers.py:54-55`), date parse (P6), derived metrics
    * (P8/P9), processed_at tag (P3). `processedAt` is injectable so
    * tests and oracle-checked runs stay deterministic.
    *
    * By default `processed_at` is the instant of this call, fixed as a
    * [[graft.functions.RunConstant]]: every action over the result sees
    * the same value, and its generated code does not change with it.
    */
  def transform(df: DataFrame, processedAt: Column = RunConstants.now()): DataFrame = {
    df
      .withColumn("date", to_date(col("date")))
      .withColumn("open", col("open").cast("double"))
      .withColumn("high", col("high").cast("double"))
      .withColumn("low", col("low").cast("double"))
      .withColumn("close", col("close").cast("double"))
      .withColumn("volume", coalesce(col("volume"), lit(0L)).cast("long"))
      .withColumn("processed_at", processedAt)
      .withColumn("daily_change_pct", dailyChangePct(col("open"), col("close")))
      .withColumn("daily_volatility", dailyVolatility(col("open"), col("high"), col("low")))
  }

  /** Date → "yyyy-MM-dd" string, only at text sinks (P7,
    * `transformers.py:46`); internally dates stay DateType. */
  def dateToString(df: DataFrame): DataFrame =
    df.withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
}
