package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Test-only Hadoop filesystem: the local FS under a custom scheme,
  * resolvable ONLY through a conf carrying `fs.graftfs.impl` — the
  * marker for proving the session Hadoop conf (s3a keys, endpoint
  * overrides, ...) reaches executor-side DSv2 readers instead of being
  * rebuilt from defaults. */
class MarkerFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Mirrors the reference's extractor fixtures
  * (`tests/extractors.py:22-42`): raw Alpha Vantage columns
  * `1. open`..`5. volume`, raw Yahoo capitalized columns plus
  * Dividends / Stock Splits noise. */
class NormalizeSpec extends SparkSpec {

  test("alpha vantage raw shape normalizes to the standard contract (S1)") {
    val raw = df(Schemas.rawAlphaVantage,
      Row("2024-03-01", 10.0, 12.0, 9.0, 11.0, 1000L),
      Row("2024-03-02", 11.0, 13.0, 10.0, 12.0, 1100L))
    val out = Normalize.alphaVantage(raw, symbol = "AAPL")
    out.columns shouldBe Normalize.standardColumns
    val r = out.orderBy("date").collect()(0)
    r.getAs[String]("symbol") shouldBe "AAPL"
    r.getAs[String]("data_source") shouldBe "alpha_vantage"
    r.getAs[Double]("open") shouldBe 10.0
    r.getAs[String]("date") shouldBe "2024-03-01"
  }

  test("yahoo raw shape drops noise columns via keep-list (S2/P2)") {
    val raw = df(Schemas.rawYahoo,
      Row(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
        10.0, 12.0, 9.0, 11.0, 1000L, 0.5, 0.0))
    val out = Normalize.yahooFinance(raw, symbol = "MSFT")
    out.columns should not contain "Dividends"
    out.columns should not contain "Stock Splits"
    out.columns shouldBe Normalize.standardColumns
    out.collect()(0).getAs[String]("data_source") shouldBe "yahoo_finance"
  }

  test("DSv2 connector: format(\"alphavantage\") reads a landed payload and normalizes (S1)") {
    val dir = tempDir("graft-av-landing")
    java.nio.file.Files.writeString(dir.resolve("AAPL.csv"),
      "date,1. open,2. high,3. low,4. close,5. volume\n" +
        "2024-03-01,10.0,12.0,9.0,11.0,1000\n" +
        "2024-03-02,11.0,13.0,10.0,12.0,\n") // empty volume -> NULL
    val raw = spark.read.format("alphavantage").load(dir.toString)
    raw.schema shouldBe Schemas.rawAlphaVantage
    val out = Normalize.alphaVantage(raw, symbol = "AAPL")
    out.columns shouldBe Normalize.standardColumns
    val rows = out.orderBy("date").collect()
    rows(0).getAs[Double]("close") shouldBe 11.0
    rows(1).isNullAt(rows(1).fieldIndex("volume")) shouldBe true

    // column pruning reaches the scan: a projection parses one column
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val pruned = raw.select("date").queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames.toSeq
    }
    pruned shouldBe Seq(Seq("date"))
  }

  test("DSv2 connector: format(\"yahoofinance\") parses timestamps and noise columns (S2)") {
    val dir = tempDir("graft-yh-landing")
    java.nio.file.Files.writeString(dir.resolve("MSFT.csv"),
      "Date,Open,High,Low,Close,Volume,Dividends,Stock Splits\n" +
        "2024-03-01 00:00:00,10.0,12.0,9.0,11.0,1000,0.5,0.0\n")
    val raw = spark.read.format("yahoofinance").load(dir.toString)
    raw.schema shouldBe Schemas.rawYahoo
    val out = Normalize.yahooFinance(raw, symbol = "MSFT")
    out.columns shouldBe Normalize.standardColumns
    val r = out.collect()(0)
    r.getAs[String]("date") shouldBe "2024-03-01"
    r.getAs[String]("data_source") shouldBe "yahoo_finance"
  }

  test("DSv2 connector threads the SESSION Hadoop conf to executor readers (fs.* key)") {
    val dir = tempDir("graft-av-fs")
    java.nio.file.Files.writeString(dir.resolve("AAPL.csv"),
      "date,1. open,2. high,3. low,4. close,5. volume\n" +
        "2024-03-01,10.0,12.0,9.0,11.0,1000\n")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[MarkerFileSystem].getName)
    hc.set("fs.graftfs.impl.disable.cache", "true")
    try {
      // a DEFAULT conf cannot resolve the scheme — so a successful read
      // proves the session conf (not some fresh Configuration()) made it
      // through SerializableConfiguration to the executor-side reader
      an[Exception] should be thrownBy
        new org.apache.hadoop.fs.Path(s"graftfs://$dir/AAPL.csv")
          .getFileSystem(new org.apache.hadoop.conf.Configuration())
          .open(new org.apache.hadoop.fs.Path(s"graftfs://$dir/AAPL.csv"))
      val raw = spark.read.format("alphavantage").load(s"graftfs://$dir")
      val out = Normalize.alphaVantage(raw, symbol = "AAPL").collect()
      out should have length 1
      out(0).getAs[Double]("close") shouldBe 11.0
    } finally {
      hc.unset("fs.graftfs.impl")
      hc.unset("fs.graftfs.impl.disable.cache")
    }
  }

  test("DSv2 connector ships the session Hadoop conf once per scan: its reader factory stays small however large the conf") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tempDir("graft-av-conf")
    java.nio.file.Files.writeString(dir.resolve("AAPL.csv"),
      "date,1. open,2. high,3. low,4. close,5. volume\n" +
        "2024-03-01,10.0,12.0,9.0,11.0,1000\n")
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def factoryBytes(): Int = {
      val factories = spark.read.format("alphavantage").load(dir.toString)
        .queryExecution.executedPlan.collect { case s: BatchScanExec => s.readerFactory }
      factories should have size 1
      ser.serialize(factories.head).limit()
    }
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = (0 until 2000).map(i => s"graft.test.padding.$i")
    val plain = factoryBytes()
    keys.foreach(k => hc.set(k, "x" * 40))
    try {
      val padded = factoryBytes()
      padded should be < 4096
      padded shouldBe plain
      Normalize.alphaVantage(spark.read.format("alphavantage").load(dir.toString), "AAPL")
        .collect().map(_.getAs[Double]("close")) shouldBe Array(11.0)
    } finally keys.foreach(hc.unset)
  }

  test("extracted_at is fixed when the frame is built: every action reads the same instant") {
    val raw = df(Schemas.rawAlphaVantage, Row("2024-03-01", 10.0, 12.0, 9.0, 11.0, 1000L))
    val before = java.time.Instant.now()
    val out = Normalize.alphaVantage(raw, symbol = "AAPL")
    val after = java.time.Instant.now()
    val first = out.collect()(0).getAs[java.sql.Timestamp]("extracted_at")
    Thread.sleep(5)
    out.collect()(0).getAs[java.sql.Timestamp]("extracted_at") shouldBe first
    // microsecond precision: compare against the call's bounds truncated alike
    first.toInstant.isBefore(before.truncatedTo(java.time.temporal.ChronoUnit.MICROS)) shouldBe false
    first.toInstant.isAfter(after) shouldBe false
  }

  test("per-source error isolation: failures collected, all-fail is fatal (S6)") {
    val ok = () => df(Schemas.rawAlphaVantage, Row("2024-03-01", 1.0, 2.0, 1.0, 2.0, 10L))
    val boom = () => throw new RuntimeException("api down")
    val (merged, errs) = Normalize.unionWithIsolation(Seq(ok, boom))
    merged.count() shouldBe 1
    errs should have size 1
    an[IllegalArgumentException] should be thrownBy
      Normalize.unionWithIsolation(Seq(boom, boom))
  }
}
