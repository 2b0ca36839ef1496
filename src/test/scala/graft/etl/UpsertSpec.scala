package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {

  private def frame(rows: (Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "date", "v").withColumn("date", col("date").cast("date"))
  }

  test("upsert updates matched keys and inserts unmatched (K7/J1)") {
    val target = frame((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
    val staging = frame((2L, "2024-01-02", 99.0), (3L, "2024-01-03", 30.0))
    val out = Upsert.upsert(target, staging, Seq("id"))
    out.count() shouldBe 3
    out.filter(col("id") === 2).collect()(0).getAs[Double]("v") shouldBe 99.0
    out.filter(col("id") === 3).count() shouldBe 1
  }

  test("upsert is idempotent: applying the same staging twice") {
    val target = frame((1L, "2024-01-01", 10.0))
    val staging = frame((1L, "2024-01-01", 50.0), (2L, "2024-01-02", 20.0))
    val once = Upsert.upsert(target, staging, Seq("id"))
    val twice = Upsert.upsert(once, staging, Seq("id"))
    assertSameRows(twice, once)
  }

  test("affectedRows splits matched vs inserted like num_dml_affected_rows") {
    val target = frame((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
    val staging = frame((2L, "2024-01-02", 99.0), (3L, "2024-01-03", 30.0))
    Upsert.affectedRows(target, staging, Seq("id")) shouldBe ((1L, 1L))
  }

  test("assertUniqueKeys rejects duplicate staging keys (MERGE contract)") {
    val staging = frame((1L, "2024-01-01", 1.0), (1L, "2024-01-01", 2.0))
    an[IllegalArgumentException] should be thrownBy
      Upsert.assertUniqueKeys(staging, Seq("id"))
    Upsert.assertUniqueKeys(frame((1L, "2024-01-01", 1.0)), Seq("id"))
  }

  test("upsertPartitioned rewrites only touched partitions and is idempotent (K5 scale path)") {
    val dir = tempDir("graft_upsert").toString
    val tbl = s"$dir/tbl"
    frame((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0), (3L, "2024-01-03", 30.0))
      .write.partitionBy("date").parquet(tbl)
    val untouchedFiles = new java.io.File(s"$tbl/date=2024-01-01").listFiles().map(_.getName).toSet

    val staging = frame((2L, "2024-01-02", 99.0), (4L, "2024-01-02", 40.0))
    Upsert.upsertPartitioned(spark, tbl, staging, Seq("id"), "date")

    val after = spark.read.parquet(tbl)
    after.count() shouldBe 4
    after.filter(col("id") === 2).collect()(0).getAs[Double]("v") shouldBe 99.0
    // untouched partition's files were not rewritten
    new java.io.File(s"$tbl/date=2024-01-01").listFiles().map(_.getName).toSet shouldBe untouchedFiles

    Upsert.upsertPartitioned(spark, tbl, staging, Seq("id"), "date")
    spark.read.parquet(tbl).count() shouldBe 4
    new java.io.File(s"$tbl.__upsert_tmp").exists() shouldBe false
  }

  test("upsertPartitioned reads its slice back with the slice's own schema: no footer-inference job") {
    val dir = tempDir("graft_upsert_jobs").toString
    val tbl = s"$dir/tbl"
    frame((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
      .write.partitionBy("date").parquet(tbl)
    val staging = frame((2L, "2024-01-02", 99.0), (3L, "2024-01-03", 30.0))
    Upsert.upsertPartitioned(spark, tbl, staging, Seq("id"), "date") // warm-up
    val (_, jobs) = countJobs(Upsert.upsertPartitioned(spark, tbl, staging, Seq("id"), "date"))
    jobs shouldBe 7
    val after = spark.read.parquet(tbl)
    after.count() shouldBe 3
    after.filter(col("id") === 2).collect()(0).getAs[Double]("v") shouldBe 99.0
  }

  test("recoverPartitioned replays a complete pending slice and discards a torn one") {
    val dir = tempDir("graft_upsert_recover").toString
    val tbl = s"$dir/tbl"
    frame((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
      .write.partitionBy("date").parquet(tbl)

    // Simulate a crash between slice write and overwrite commit: the
    // merged slice (with _SUCCESS) exists, the table is still old.
    frame((2L, "2024-01-02", 99.0), (4L, "2024-01-02", 40.0))
      .write.parquet(s"$tbl.__upsert_tmp")
    Upsert.recoverPartitioned(spark, tbl, "date")
    val after = spark.read.parquet(tbl)
    after.count() shouldBe 3 // id 1 untouched, ids 2+4 from the slice
    after.filter(col("id") === 2).collect()(0).getAs[Double]("v") shouldBe 99.0
    new java.io.File(s"$tbl.__upsert_tmp").exists() shouldBe false

    // Torn write (no _SUCCESS): discarded, table untouched.
    frame((9L, "2024-01-02", 1.0)).write.parquet(s"$tbl.__upsert_tmp")
    new java.io.File(s"$tbl.__upsert_tmp/_SUCCESS").delete() shouldBe true
    Upsert.recoverPartitioned(spark, tbl, "date")
    spark.read.parquet(tbl).count() shouldBe 3
    new java.io.File(s"$tbl.__upsert_tmp").exists() shouldBe false
  }

  test("upsertPartitioned rejects a target not partitioned by the declared column") {
    val dir = tempDir("graft_upsert_flat").toString
    frame((1L, "2024-01-01", 1.0)).write.parquet(s"$dir/flat")
    an[IllegalArgumentException] should be thrownBy
      Upsert.upsertPartitioned(spark, s"$dir/flat",
        frame((1L, "2024-01-01", 2.0)), Seq("id"), "date")
  }

  test("mergeAggregates: incremental merge equals full recompute exactly") {
    import spark.implicits._
    val facts = (1 to 200).map(i =>
      (s"k${i % 7}", i.toLong, (i % 13) * 0.25)).toDF("key", "seq", "v")
    def agg(d: org.apache.spark.sql.DataFrame) = d.groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,6)")).as("s"))
    val stored = agg(facts.filter(col("seq") <= 120))
    val delta = agg(facts.filter(col("seq") > 120))
    val merged = Upsert.mergeAggregates(stored, delta, Seq("key"), Seq("n", "s"))
    assertSameRows(merged, agg(facts))
    // delta-only and stored-only keys both survive the merge
    val onlyNew = agg(Seq(("fresh", 1L, 2.0)).toDF("key", "seq", "v"))
    val m2 = Upsert.mergeAggregates(stored, onlyNew, Seq("key"), Seq("n", "s"))
    m2.filter(col("key") === "fresh").count() shouldBe 1L
    m2.count() shouldBe stored.count() + 1
  }
}
