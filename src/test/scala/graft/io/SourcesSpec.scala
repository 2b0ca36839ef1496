package graft.io

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("symbol", StringType, nullable = false),
    StructField("open", DoubleType, nullable = true),
    StructField("volume", LongType, nullable = true),
    StructField("processed_at", TimestampType, nullable = false)))

  private val fixture = Seq(
    Row(Date.valueOf("2024-01-05"), "A", 101.25, 1000L,
      Timestamp.valueOf("2024-01-05 06:00:00.123456")),
    Row(Date.valueOf("2024-01-06"), "B", null, null,
      Timestamp.valueOf("2024-01-06 06:00:00")),
    // shortest-repr stress: a double with a long binary expansion
    Row(Date.valueOf("2024-01-07"), "C", 0.1 + 0.2, 3L,
      Timestamp.valueOf("2024-01-07 23:59:59.999999")))

  private def tmp(ext: String): String =
    tempDir("graft-io").resolve(s"t.$ext").toString

  test("CSV round-trip is lossless including nulls, doubles, timestamps") {
    val d = df(schema, fixture: _*)
    val path = tmp("csv")
    Sources.writeCsv(d, path)
    assertSameRows(Sources.read(spark, path, Some(schema)), d)
  }

  test("JSON-lines round-trip is lossless") {
    val d = df(schema, fixture: _*)
    val path = tmp("json")
    Sources.writeJsonl(d, path)
    assertSameRows(Sources.read(spark, path, Some(schema)), d)
  }

  test("parquet round-trip is lossless") {
    val d = df(schema, fixture: _*)
    val path = tmp("parquet")
    Sources.writeParquet(d, path)
    assertSameRows(Sources.read(spark, path, Some(schema)), d)
  }

  test("ORC round-trip is lossless") {
    val d = df(schema, fixture: _*)
    val path = tmp("orc")
    Sources.writeOrc(d, path)
    assertSameRows(Sources.read(spark, path, Some(schema)), d)
  }

  test("readJsonQuarantine: bad lines survive with raw text, good lines parse") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-io").resolve("feed").toString
    import spark.implicits._
    Seq(
      """{"date": "2024-01-05", "symbol": "A"}""",
      """this is not json at all""",
      """{"date": "2024-01-06", "symbol": "B"}""",
      """{"date": BROKEN""").toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("date", StringType), StructField("symbol", StringType)))
    val r = Sources.readJsonQuarantine(spark, dir, schema)
      .select("symbol", "_malformed").collect()
    r.length shouldBe 4
    // good rows parse, quarantine null
    r.filter(_.isNullAt(1)).map(_.getString(0)).sorted.toSeq shouldBe Seq("A", "B")
    // bad rows: data null, RAW line preserved verbatim for replay
    r.filterNot(_.isNullAt(1)).map(_.getString(1)).sorted.toSeq shouldBe
      Seq("this is not json at all", """{"date": BROKEN""")
    r.filterNot(_.isNullAt(1)).forall(_.isNullAt(0)) shouldBe true
  }

  test("extension dispatch rejects unknown formats") {
    an[IllegalArgumentException] should be thrownBy
      Sources.read(spark, "/tmp/whatever.xlsx")
  }

  test("extension dispatch uses the leaf name only, not dotted dir segments") {
    val d = df(schema, fixture: _*)
    val dir = tempDir("graft-io.v1.2")
    val path = dir.resolve("t.csv").toString
    Sources.writeCsv(d, path)
    assertSameRows(Sources.read(spark, path, Some(schema)), d)
    // an extensionless leaf under a dotted dir must fail cleanly, not
    // dispatch on the directory's '2' fragment
    an[IllegalArgumentException] should be thrownBy
      Sources.read(spark, dir.resolve("noext").toString)
  }
test("readCsvQuarantine: arity mismatches and cast failures quarantine with raw lines") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-io").resolve("csvfeed").toString
    import spark.implicits._
    Seq(
      "1,alpha",           // good
      "2,beta,EXTRA,MORE", // arity overflow -> quarantined
      "notanumber,gamma",  // cast failure on bigint -> quarantined
      "4"                  // short row: CSV arity mismatch -> quarantined
    ).toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("name", StringType)))
    val r = Sources.readCsvQuarantine(spark, dir, schema)
      .select("id", "name", "_malformed").collect()
    r.length shouldBe 4
    val good = r.filter(_.isNullAt(2))
    good.map(x => (x.getLong(0), x.getString(1))).toSeq shouldBe
      Seq((1L, "alpha"))
    val bad = r.filterNot(_.isNullAt(2)).map(_.getString(2)).sorted.toSeq
    bad shouldBe Seq("2,beta,EXTRA,MORE", "4", "notanumber,gamma")
  }

  test("readCsvQuarantine pruning caveat: corruption only among PARSED columns") {
    val dir = tempDir("graft-io").resolve("csvprune").toString
    import spark.implicits._
    Seq("1,alpha", "notanumber,gamma").toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("name", StringType)))
    // project ONLY name + quarantine: the id cast failure is invisible
    // to the pruned parse — the documented caveat, pinned
    val pruned = Sources.readCsvQuarantine(spark, dir, schema)
      .select("name", "_malformed").collect()
    pruned.count(!_.isNullAt(1)) shouldBe 0
    pruned.map(_.getString(0)).sorted.toSeq shouldBe Seq("alpha", "gamma")
  }
}
