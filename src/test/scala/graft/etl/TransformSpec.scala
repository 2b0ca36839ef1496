package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TransformSpec extends SparkSpec {

  private val rawSchema = StructType(Seq(
    StructField("date", StringType),
    StructField("symbol", StringType),
    StructField("open", StringType),
    StructField("high", StringType),
    StructField("low", StringType),
    StructField("close", StringType),
    StructField("volume", StringType),
    StructField("data_source", StringType)))

  private def raw(rows: Row*) = df(rawSchema, rows: _*)

  test("casts, null-volume fill, date parse (P4-P6)") {
    val out = Transform.transform(
      raw(Row("2024-03-01", "AAPL", "10.0", "12.0", "9.0", "11.0", null, "alpha_vantage")),
      processedAt = lit("2024-03-02 00:00:00").cast("timestamp"))
    val r = out.collect()(0)
    r.getAs[java.sql.Date]("date").toString shouldBe "2024-03-01"
    r.getAs[Double]("open") shouldBe 10.0
    r.getAs[Long]("volume") shouldBe 0L // null -> 0 BEFORE the cast (P5)
    out.schema("volume").dataType shouldBe LongType
    out.schema("close").dataType shouldBe DoubleType
  }

  test("derived metrics round to 2 decimals (P8/P9)") {
    val out = Transform.transform(
      raw(Row("2024-03-01", "A", "3.0", "4.0", "2.0", "4.0", "5", "x")),
      processedAt = lit("2024-03-02 00:00:00").cast("timestamp")).collect()(0)
    // (4-3)/3*100 = 33.333... -> 33.33 ; (4-2)/3*100 = 66.666... -> 66.67
    out.getAs[Double]("daily_change_pct") shouldBe 33.33
    out.getAs[Double]("daily_volatility") shouldBe 66.67
  }

  test("open=0 yields NULL metrics (pinned divergence from pandas inf, SURVEY 7.4)") {
    // Spark (non-ANSI) defines x/0 as NULL where pandas float64 gives
    // inf. NULL is the better engine semantic (inf poisons downstream
    // aggregates silently); pinned here as the declared behavior.
    val out = Transform.transform(
      raw(Row("2024-03-01", "A", "0.0", "2.0", "1.0", "1.0", "5", "x")),
      processedAt = lit("2024-03-02 00:00:00").cast("timestamp")).collect()(0)
    out.isNullAt(out.fieldIndex("daily_change_pct")) shouldBe true
    out.isNullAt(out.fieldIndex("daily_volatility")) shouldBe true
  }

  test("null open propagates null metrics, close stays required") {
    val out = Transform.transform(
      raw(Row("2024-03-01", "A", null, null, null, "7.0", "5", "x")),
      processedAt = lit("2024-03-02 00:00:00").cast("timestamp")).collect()(0)
    out.isNullAt(out.fieldIndex("daily_change_pct")) shouldBe true
    out.getAs[Double]("close") shouldBe 7.0
  }

  test("dateToString formats yyyy-MM-dd at text sinks only (P7)") {
    val out = Transform.dateToString(Transform.transform(
      raw(Row("2024-03-01", "A", "1", "2", "1", "2", "1", "x")),
      processedAt = lit("2024-03-02 00:00:00").cast("timestamp")))
    out.schema("date").dataType shouldBe StringType
    out.collect()(0).getAs[String]("date") shouldBe "2024-03-01"
  }

  test("the default processed_at is fixed when the frame is built: every action reads the same instant") {
    val before = java.time.Instant.now()
    val out = Transform.transform(raw(Row("2024-03-01", "A", "1", "2", "1", "2", "1", "x")))
    val after = java.time.Instant.now()
    val first = out.collect()(0).getAs[java.sql.Timestamp]("processed_at")
    Thread.sleep(5)
    out.collect()(0).getAs[java.sql.Timestamp]("processed_at") shouldBe first
    first.toInstant.isBefore(before.truncatedTo(java.time.temporal.ChronoUnit.MICROS)) shouldBe false
    first.toInstant.isAfter(after) shouldBe false
  }
}
