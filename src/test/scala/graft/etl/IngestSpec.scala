package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("close", DoubleType, nullable = false)))

  test("fromCallable turns a fetch callable into a schema'd DataFrame (S6)") {
    var calls = 0
    val fetch = () => { calls += 1; Seq(Row("A", 1.5), Row("B", 2.5)) }
    val d = Ingest.fromCallable(spark, fetch, schema)
    calls shouldBe 1
    d.schema shouldBe schema
    d.orderBy("symbol").as[(String, Double)].collect().toSeq shouldBe
      Seq(("A", 1.5), ("B", 2.5))
  }

  test("uploadParquet writes to a file URI and reports load metrics (K4)") {
    val d = df(schema, Row("A", 1.5), Row("B", 2.5), Row("C", 3.5))
    val uri = "file://" + tempDir("graft-up").resolve("t").toString
    // the row count must ride the write job, not a second scan
    spark.sparkContext.setJobGroup("upload-one-job", "uploadParquet", false)
    val res = try Ingest.uploadParquet(d, uri)
    finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker
      .getJobIdsForGroup("upload-one-job").length shouldBe 1
    res.rows shouldBe 3L
    res.bytes should be > 0L
    res.path shouldBe uri
    spark.read.parquet(uri).count() shouldBe 3L
  }
}
