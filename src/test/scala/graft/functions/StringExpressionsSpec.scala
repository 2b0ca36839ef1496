package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class StringExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = true)))

  // "é" two ways (explicit escapes — the two spellings are visually
  // identical, so literal source text couldn't be trusted here):
  // composed U+00E9 vs decomposed 'e' + U+0301 combining acute.
  private val composed = "caf\u00e9"
  private val decomposed = "café"
  // U+1E69 (s with dot below and dot above) vs its fully decomposed
  // spelling with the combining marks in NON-canonical order — NFC
  // must also fix mark reordering, not just compose pairs.
  private val sdotComposed = "\u1e69"
  private val sdotReordered = "ṩ"

  test("nfc_normalize composes decomposed sequences; NFC text is unchanged") {
    val d = df(schema,
      Row(1L, decomposed), Row(2L, composed), Row(3L, "plain ascii"),
      Row(4L, sdotReordered), Row(5L, null))
    val out = d.select(col("id"), StringFunctions.nfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe composed                  // decomposed -> composed
    out(2L) shouldBe composed                  // already NFC: identity
    out(3L) shouldBe "plain ascii"
    out(4L) shouldBe sdotComposed              // reordered marks converge
    out(5L) shouldBe null                      // null passes through
  }

  test("nfc_normalize is idempotent and equalizes spellings for hashing") {
    val d = df(schema, Row(1L, decomposed), Row(2L, composed))
    val once = StringFunctions.nfcNormalize(col("s"))
    val twice = StringFunctions.nfcNormalize(once)
    d.filter(!(twice <=> once)).count() shouldBe 0L
    // the dedup motivation: after NFC both rows hash identically
    d.select(md5(once.cast("binary")).as("h")).distinct().count() shouldBe 1L
  }

  test("interpreted eval (no codegen) matches codegen'd result") {
    val d = df(schema, Row(1L, decomposed), Row(2L, composed),
      Row(3L, sdotReordered), Row(4L, ""))
    def run(): Array[String] = d
      .select(StringFunctions.nfcNormalize(col("s")).as("n"))
      .orderBy(col("n")).as[String].collect()
    val codegen = run()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      run() shouldBe codegen
    }
  }

  test("nfkc_normalize folds compatibility forms that NFC preserves") {
    // ligature U+FB01, full-width U+FF21, superscript two U+00B2 —
    // all NFC-stable but NFKC-folded (the tokenizer-prep distinction)
    val lig = "\ufb01le"; val wide = "\uff21BC"; val sup = "x\u00b2"
    val d = df(schema, Row(1L, lig), Row(2L, wide), Row(3L, sup),
      Row(4L, decomposed))
    val out = d.select(col("id"),
        StringFunctions.nfcNormalize(col("s")).as("nfc"),
        StringFunctions.nfkcNormalize(col("s")).as("nfkc"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    out(1L) shouldBe (lig, "file")     // NFC keeps the ligature, NFKC folds
    out(2L) shouldBe (wide, "ABC")
    out(3L) shouldBe (sup, "x2")
    out(4L) shouldBe (composed, composed) // canonical cases agree
  }

  test("nfc_normalize is callable from SQL once registered") {
    NativeFunctions.register(spark)
    spark.sql(s"SELECT graft_nfc_normalize('$decomposed') AS n")
      .as[String].collect() shouldBe Array(composed)
  }

}
