package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Drift-proofing for the events read path. The harness parquet's `ts`
  * physical type has changed across generations — TIMESTAMP(NANOS)
  * (read as LongType under nanosAsLong), timezone-less timestamp[us]
  * (read as TIMESTAMP_NTZ by Spark 4), and plain TIMESTAMP — and the
  * rounds-10/11 q24/q45 outage happened precisely because every other
  * spec built its `ts` fixture in memory instead of reading parquet
  * through Tables.events. These tests write each variant to disk and
  * assert Tables.events normalizes all of them to TimestampType with
  * identical instants.
  */
class TablesSpec extends SparkSpec {
  // Instants with sub-second precision, pinned UTC (SparkSpec session zone).
  private val micros = Seq(1700000000123456L, 1700003600654321L, 1700007200000000L)

  private def readVariant(write: String => Unit): DataFrame = {
    val dir = tempDir("graft-tables").toString
    write(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  private def instantsOf(d: DataFrame): Seq[Long] =
    d.select(unix_micros(col("ts")).as("us")).collect().map(_.getLong(0)).toSeq.sorted

  private def base: DataFrame = {
    import spark.implicits._
    micros.toDF("us").select(timestamp_micros(col("us")).as("ts"), col("us").as("payload"))
  }

  test("events: plain TIMESTAMP parquet passes through as TimestampType") {
    val d = readVariant(path => base.write.mode("overwrite").parquet(path))
    d.schema("ts").dataType shouldBe TimestampType
    instantsOf(d) shouldBe micros.sorted
  }

  test("events: TIMESTAMP_NTZ parquet is cast to TimestampType, identity instant under UTC") {
    val d = readVariant { path =>
      base.select(col("ts").cast(TimestampNTZType).as("ts"), col("payload"))
        .write.mode("overwrite").parquet(path)
    }
    d.schema("ts").dataType shouldBe TimestampType
    instantsOf(d) shouldBe micros.sorted
  }

  test("events: INT64-nanos parquet (read as long) is truncated to micros") {
    val d = readVariant { path =>
      // Spark cannot write TIMESTAMP(NANOS); a raw long column reads as
      // LongType exactly like nanos parquet does under nanosAsLong,
      // exercising the same normalization arm. 999 ns of sub-micro
      // noise verifies the div-1000 truncation (DuckDB epoch_us
      // semantics), not rounding.
      import spark.implicits._
      micros.map(us => (us * 1000L + 999L, us)).toDF("ts", "payload")
        .write.mode("overwrite").parquet(path)
    }
    d.schema("ts").dataType shouldBe TimestampType
    instantsOf(d) shouldBe micros.sorted
  }

  test("events leaves the session's nanosAsLong setting as the caller set it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withSQLConf(key -> "false") {
      readVariant(path => base.write.mode("overwrite").parquet(path))
      spark.conf.get(key) shouldBe "false"
    }
  }

  test("documents: int32-narrowed id/count columns widen back to long") {
    import spark.implicits._
    val dir = tempDir("graft-tables").toString
    Seq((1, "alpha beta", "en", "web", 10), (2, "gamma", "en", "web", 5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = Tables.documents(spark, dir)
    d.schema("doc_id").dataType shouldBe LongType
    d.schema("n_chars").dataType shouldBe LongType
    d.select(sum(col("doc_id"))).head.getLong(0) shouldBe 3L
  }

  test("embeddings: array<double> drift is cast back to array<float> (vec_dot's required type)") {
    import spark.implicits._
    val dir = tempDir("graft-tables").toString
    Seq((1L, Array(0.25, 0.5), 0), (2L, Array(1.0, -0.5), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = Tables.embeddings(spark, dir)
    e.schema("embedding").dataType shouldBe ArrayType(FloatType, containsNull = true)
    // The native expression that rejected the drifted type must now analyze.
    val dot = e.select(graft.functions.VectorFunctions.vecDot(
      col("embedding"), col("embedding")).as("d")).orderBy(col("d"))
    dot.count() shouldBe 2L
  }

  test("lineitem/orders physical schemas are pinned (regeneration fails here, loudly)") {
    // The bar tables have no reader-side normalization policy: they're
    // oracle-symmetric, so drift breaks loudly — but as ~90 cryptic
    // hash mismatches. This case names the breakage instead: if a
    // testdata regeneration changes any column's physical type, the
    // failing assertion says WHICH column of WHICH table moved, and
    // the fix is a new normalization arm in Tables (the events
    // precedent), not 90 oracle edits.
    val sfDir = "/root/testdata/sf0.001"
    def typeMap(d: DataFrame): Map[String, DataType] =
      d.schema.fields.map(f => f.name -> f.dataType).toMap
    typeMap(Tables.lineitem(spark, sfDir)) shouldBe Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType)
    typeMap(Tables.orders(spark, sfDir)) shouldBe Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)
  }

  test("sessionize analyzes against every ts variant (the q24/q45 regression)") {
    // The outage mode was an ANALYSIS failure (unix_micros rejects
    // TIMESTAMP_NTZ), so resolving the plan is the assertion that
    // matters; executing it proves the full path.
    val ntz = readVariant { path =>
      base.select(col("ts").cast(TimestampNTZType).as("ts"),
          col("payload").as("event_id"), lit("u1").as("user_id"),
          lit("click").as("event_type"), lit(1.5).as("value"))
        .write.mode("overwrite").parquet(path)
    }
    val sessions = graft.events.EventAnalytics.sessionize(ntz)
    sessions.count() should be > 0L
  }
}
