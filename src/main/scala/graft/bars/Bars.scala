package graft.bars

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic adapter from the harness `lineitem` table to the
  * canonical stock-bar schema, so the real ETL/analytics library code
  * runs against the DuckDB oracle on shared data (TESTDATA.md tables
  * stand in for bar tables per FIXTURES.md §B).
  *
  * Determinism rules (everything here must be bit-exact across
  * engines):
  *  - prices are integer-valued doubles (floor of the 2-decimal
  *    source prices), so window/group sums are exact in any order;
  *  - nulls are injected by key arithmetic, not sampling;
  *  - `row_id` (l_orderkey·100 + l_linenumber) is the keep-first
  *    tiebreaker. It is unique at sf0.01 but NOT at sf0.1 (456,861
  *    distinct values over 600,000 rows), so some sf0.1 merge keys have
  *    no defined survivor: the cross-engine contract holds at sf0.01
  *    and not at sf0.1 (ROADMAP.md, direction 1);
  *  - timestamps derive from `l_shipdate`, never from the clock.
  *
  * The equivalent SQL construction lives in
  * [[graft.OracleSql.barsCte]] — keep the two in lockstep.
  */
object Bars {

  /** lineitem → bars. One bar row per lineitem row; (date, symbol,
    * data_source) carries duplicates by construction (several lineitems
    * share supplier+day+status), which is exactly what the merge/dedup
    * stage needs to chew on. */
  def fromLineitem(li: DataFrame): DataFrame = {
    val open = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("double")
    val close = floor(col("l_extendedprice")).cast("double")
    li.select(
      (col("l_orderkey") * 100 + col("l_linenumber")).cast("long").as("row_id"),
      to_date(col("l_shipdate")).as("date"),
      concat(lit("S"), (col("l_suppkey") % 25).cast("string")).as("symbol"),
      when(col("l_linestatus") === "O", lit("alpha_vantage"))
        .otherwise(lit("yahoo_finance")).as("data_source"),
      when(col("l_orderkey") % 97 === 0, lit(null).cast("double"))
        .otherwise(open).as("open"),
      when(col("l_orderkey") % 97 === 0, lit(null).cast("double"))
        .otherwise(greatest(open, close) + 2.0).as("high"),
      when(col("l_orderkey") % 97 === 0, lit(null).cast("double"))
        .otherwise(least(open, close) - 1.0).as("low"),
      close.as("close"),
      when(col("l_orderkey") % 53 === 0, lit(null).cast("long"))
        .otherwise(col("l_quantity").cast("long")).as("volume"),
      date_add(to_date(col("l_shipdate")), (col("l_suppkey") % 3).cast("int"))
        .cast("timestamp").as("processed_at"))
  }

  def bars(spark: SparkSession, sfDir: String): DataFrame =
    fromLineitem(Tables.lineitem(spark, sfDir))
}
