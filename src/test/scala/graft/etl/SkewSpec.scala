package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  private val factSchema = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("k", StringType, nullable = false),
    StructField("v", DoubleType, nullable = false)))

  private val dimSchema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("attr", LongType, nullable = false)))

  // skewed: 90 rows on "hot", 10 spread across others
  private def fact = df(factSchema,
    ((1 to 90).map(i => Row(i.toLong, "hot", i.toDouble)) ++
      (91 to 100).map(i => Row(i.toLong, s"k${i % 5}", i.toDouble))): _*)

  private def dim = df(dimSchema,
    (Seq(Row("hot", 1L)) ++ (0 until 5).map(i => Row(s"k$i", (i + 10).toLong))): _*)

  test("saltedJoin equals the plain join, for several bucket counts") {
    val plain = fact.join(dim, Seq("k"))
    for (buckets <- Seq(1, 3, 8)) {
      assertSameRows(Skew.saltedJoin(fact, dim, Seq("k"), col("row_id"), buckets), plain)
    }
  }

  test("saltedJoin spreads a hot key across salt sub-keys") {
    val salted = fact.withColumn("__salt", pmod(col("row_id"), lit(8)).cast("int"))
    val spread = salted.filter(col("k") === "hot")
      .select("__salt").distinct().count()
    spread should be > 4L // 90 rows across 8 salts: all buckets in practice
  }

  test("heavyHitters equals the exact filter under any partitioning") {
    import spark.implicits._
    // zipf-ish stream: value i appears ~600/i times; phi=0.05 over
    // n≈1470 puts the threshold at ~73.5 -> hitters are 1..8 exactly
    val rows = (1 to 30).flatMap(i => Seq.fill(600 / i)(s"v$i"))
    val n = rows.size
    val exact = rows.groupBy(identity).view
      .mapValues(_.size.toLong).filter(_._2.toDouble > 0.05 * n)
      .toMap
    for (parts <- Seq(1, 7, 32)) {
      val d = rows.toDF("t").repartition(parts)
      val out = Skew.heavyHitters(d, "t", phi = 0.05)
        .as[(String, Long, Double)].collect()
      out.map(r => r._1 -> r._2).toMap shouldBe exact
      out.foreach(r => r._3 shouldBe r._2.toDouble / n +- 1e-15)
    }
  }

  test("heavyHitters: false candidates are removed by the exact recount") {
    import spark.implicits._
    // k = ceil(1/0.4) = 3 counters: in a single partition every value
    // can survive the sketch, but only "a" (3/7 > 0.4·7=2.8 rows ->
    // 3 > 2.8) crosses the exact threshold.
    val d = Seq("a", "b", "a", "c", "a", "b", "c").toDF("t").coalesce(1)
    val out = Skew.heavyHitters(d, "t", phi = 0.4)
      .as[(String, Long, Double)].collect()
    out.map(_._1).toSeq shouldBe Seq("a")
    out.head._2 shouldBe 3L
  }

  test("heavyHitters keeps the key's native type; the report salts a join directly") {
    import spark.implicits._
    // skewed bigint join key: uid 7 dominates
    val left = ((1 to 400).map(_ => 7L) ++ (1L to 100L)).zipWithIndex
      .map { case (uid, i) => (uid, i.toLong) }.toDF("uid", "row_id")
    val right = (1L to 100L).map(u => (u, s"dim$u")).toDF("uid", "attr")
    val report = Skew.heavyHitters(left, "uid", phi = 0.5)
    // NATIVE type preserved: bigint in, bigint out — no caller-side cast
    report.schema("value").dataType shouldBe
      org.apache.spark.sql.types.LongType
    // 400 extra + 1 from the 1..100 range = 401 of n = 500 rows
    report.as[(Long, Long, Double)].collect().toSeq shouldBe
      Seq((7L, 401L, 401.0 / 500.0))
    // the diagnosed-hot slice, selected by a TYPED equi-join onto the
    // report, goes through saltedJoin; results must equal the plain join
    val hot = left.join(report.select(col("value").as("uid")), Seq("uid"), "left_semi")
    assertSameRows(
      Skew.saltedJoin(hot, right, Seq("uid"), col("row_id"), buckets = 4),
      hot.join(right, Seq("uid")))
  }

  test("heavyHitters ignores nulls and empty input") {
    import spark.implicits._
    val d = Seq(Some("x"), None, Some("x"), None).toDF("t")
    val out = Skew.heavyHitters(d, "t", phi = 0.5).collect()
    out.map(_.getString(0)).toSeq shouldBe Seq("x") // 2/2 non-null > 0.5·2? 2 > 1 yes
    Skew.heavyHitters(d.filter(col("t").isNull), "t", phi = 0.5)
      .collect() shouldBe empty
  }

  test("saltedStats equals the direct aggregation") {
    val direct = fact.groupBy(col("k")).agg(
      sum(col("v").cast(DecimalType(38, 4))).cast("double").as("sum_v"),
      count(col("v")).as("count_v"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"))
    assertSameRows(
      Skew.saltedStats(fact, Seq("k"), "v", col("row_id"), buckets = 8),
      direct)
  }

  test("AQE OptimizeSkewedJoin fires on the skewed sort-merge join (plan assert)") {
    import spark.implicits._
    // THE boundary this suite documents: Skew.saltedJoin exists for
    // the cases AQE does NOT reach — aggregation skew (a groupBy hot
    // key still funnels every row of the key to one reducer; AQE
    // splits JOIN partitions, it cannot split an aggregation key:
    // that is saltedStats' two-phase territory) and joins whose
    // output must stay co-partitioned for a downstream aggregation
    // (AQE's split replicates the other side and destroys the
    // co-partitioning the later stage would reuse). For a plain
    // skewed equi-join, AQE IS the first line of defense — this spec
    // pins that it actually fires, runtime-asserted from the
    // adaptive plan, on thresholds scaled to fixture size.
    val hot = (1 to 40000).map(i => ("hot", i.toLong,
      s"payload-${i * 2654435761L}%-${(i * 40503L) % 99991}"))
    val rest = (1 to 50).map(i => (s"k${i % 5}", i.toLong, s"p$i"))
    val left = (hot ++ rest).toDF("k", "row_id", "payload")
    val right = ("hot" +: (0 until 5).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "attr")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = left.join(right, Seq("k"))
      // collect() (not count(), which builds its own query execution)
      // so the plan inspected below is the one that actually ran
      joined.collect().length shouldBe 40050
      // the finalized adaptive plan marks the rewritten join — the
      // hot partition was split into advisory-sized reader chunks
      // with the matching right partition replicated per chunk
      joined.queryExecution.executedPlan.toString should include("skew=true")
      // and without AQE's rewrite the same plan is a plain SMJ — the
      // control that proves the assert above is the optimization, not
      // a string that was always there
      withSQLConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
        val plain = left.join(right, Seq("k"))
        plain.collect().length shouldBe 40050
        plain.queryExecution.executedPlan.toString should not include "skew=true"
      }
    }
  }

test("joinCardinality: per-key products, shares, top-k order, null exclusion") {
    import spark.implicits._
    val l = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c") ++
      Seq(null.asInstanceOf[String])).toDF("k")
    val r = (Seq.fill(4)("a") ++ Seq.fill(3)("b") ++ Seq("z") ++
      Seq(null.asInstanceOf[String])).toDF("j")
    val out = Skew.joinCardinality(l, "k", r, "j", topK = 5)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // a: 6*4=24, b: 2*3=6; c and z unmatched; nulls never match
    out shouldBe Array(
      ("a", 6L, 4L, 24L, 30L, 800L),
      ("b", 2L, 3L, 6L, 30L, 200L))
    // the profile PRICES the join it never ran: verify against reality
    val real = l.join(r, l("k") === r("j")).count()
    real shouldBe 30L
  }

  test("joinCardinality: topK truncates by contribution with key tie-break") {
    import spark.implicits._
    val l = (1 to 40).map(i => s"k${i % 8}").toDF("k")
    val r = (1 to 24).map(i => s"k${i % 6}").toDF("k")
    val out = Skew.joinCardinality(l, "k", r, "k", topK = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    out.length shouldBe 3
    // all 6 shared keys contribute 5*4=20 each: tie-break is the key
    out.map(_._1).toSeq shouldBe Seq("k0", "k1", "k2")
  }
}
