package graft.functions

import java.io.File
import java.lang.reflect.Modifier

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec
import graft.multimodal.{Gif, Id3, Jpeg, Mp3, Mp4, Multimodal, Png, Warc, Wav}

/** One check per row of [[NativeFunctions.table]]: each function runs a
  * valid input, a malformed (or edge) input and a null, from a nullable
  * and from a non-nullable input column, with generated code only and
  * with no generated code. The two modes must give equal rows, and a
  * function that answers null must declare its result nullable:
  * generated code trusts a non-nullable result never to be null. */
class NativeFunctionsSpec extends SparkSpec {

  /** A function's input column type, a valid and a malformed value of
    * it, and the call over the input column. An aggregate folds all
    * its input rows into one. */
  private case class Fixture(name: String, inputType: DataType, valid: Any,
                             malformed: Any, aggregate: Boolean = false)(
      val call: Column => Column)

  private val garbage = (1 to 12).map(_.toByte).toArray
  private val vec8 = Seq(1f, -2f, 3f, 0.5f, -1f, 2f, 0f, 4f)
  private val cb = Array(0, 0, 1, 1, 2, 2, 3, 3)
  private val bloom = {
    val b = BloomFilter.create(16)
    Seq(1L, 2L, 3L).foreach(b.putLong)
    b
  }
  private val png = Png.encodeRgb(4, 3, (x, y) => (x * 40, y * 60, 7))
  private val wav = Wav.encodePcm16(1, 8000, 64, (f, _) => (f % 16 - 8) * 100)
  private val mp4 = Mp4.encodeMovie("isom", 600, 5000, Seq(Mp4.sampledTrak(
    7L, 5000L, 320L, 240L, v1 = false, mediaTimescale = 1000L,
    mediaDuration = 800L, runs = Seq((3L, 100L)), syncs = Some(Seq(1L)),
    uniformSize = 12L)))
  private val warc = Warc.archive(
    Warc.record("response", Some("http://a.example/"), Some("text/html"),
      "<p>hi</p>".getBytes("US-ASCII")))

  private val fixtures: Seq[Fixture] = Seq(
    Fixture("graft_vec_dot", ArrayType(FloatType), vec8, Seq.empty[Float])(
      x => VectorFunctions.vecDot(x, x)),
    Fixture("graft_band_keys", ArrayType(FloatType), vec8, Seq(1f))(
      x => VectorFunctions.vecBandKeys(x, 2, 3, 8)),
    Fixture("graft_pq_encode", ArrayType(FloatType), Seq(1f, 2f, 3f, 4f),
      Seq(Float.NaN, 0f, 0f, 0f))(x => PqFunctions.pqEncode(x, cb, 2, 2, 2)),
    Fixture("graft_pq_lut", ArrayType(FloatType), Seq(1f, 2f, 3f, 4f),
      Seq(Float.NaN, 0f, 0f, 0f))(x => PqFunctions.pqLut(x, cb, 2, 2, 2)),
    Fixture("graft_pq_score", ArrayType(LongType), Seq(1L, 2L, 3L, 4L),
      Seq(Long.MaxValue, 1L, 1L, Long.MaxValue))(
      x => PqFunctions.pqScore(x, lit(Array(0, 1)), 2)),
    Fixture("graft_nfc_normalize", StringType, "e\u0301", "")(StringFunctions.nfcNormalize),
    Fixture("graft_nfkc_normalize", StringType, "\ufb01le", "")(StringFunctions.nfkcNormalize),
    Fixture("graft_deflate_len", StringType, "ab" * 40, "")(CompressFunctions.deflateLen),
    Fixture("graft_jaro_winkler_e6", StringType, "marhta", "")(
      x => JaroWinklerFunctions.jaroWinklerE6(x, lit("martha"))),
    Fixture("graft_multi_match_counts", StringType, "abab", "")(
      x => MultiMatchFunctions.multiMatchCounts(x, Seq("ab", "b"))),
    Fixture("graft_content_chunks", BinaryType, ("abcdefgh" * 8).getBytes("US-ASCII"),
      Array.empty[Byte])(x => ContentChunkFunctions.contentChunks(x, 4)),
    Fixture("graft_bloom_might_contain", LongType, 2L, 99L)(
      x => SketchFunctions.bloomMightContain(x, bloom)),
    Fixture("graft_top_k_by", LongType, 5L, -1L, aggregate = true)(
      x => TopKFunctions.topKBy(x, x, 2)),
    Fixture("graft_frequent_by", LongType, 5L, -1L, aggregate = true)(
      x => TopKFunctions.frequentBy(x, 2)),
    Fixture("graft_run_constant", LongType, 1L, Long.MaxValue)(
      x => x + RunConstants.of(lit(1L))),
    Fixture("graft_png_pixel_stats", BinaryType, png, garbage)(Multimodal.pngPixelStats),
    Fixture("graft_png_dhash", BinaryType, png, garbage)(Multimodal.pngDhash),
    Fixture("graft_png_thumbnail", BinaryType, png, garbage)(x => Multimodal.pngThumbnail(x, 2)),
    Fixture("graft_jpeg_meta", BinaryType, Jpeg.encodeHeader(32, 16), garbage)(Multimodal.jpegMeta),
    Fixture("graft_gif_meta", BinaryType, Gif.encodeHeader(8, 4), garbage)(Multimodal.gifMeta),
    Fixture("graft_gif_frames", BinaryType, Gif.encodeAnimation(8, 4, 3), garbage)(
      Multimodal.gifFrames),
    Fixture("graft_wav_pcm_stats", BinaryType, wav, garbage)(Multimodal.wavPcmStats),
    Fixture("graft_wav_fingerprint", BinaryType, wav, garbage)(Multimodal.wavFingerprint),
    Fixture("graft_wav_frame_features", BinaryType, wav, garbage)(
      x => Multimodal.wavFrameFeatures(x, 16)),
    Fixture("graft_wav_decimate", BinaryType, wav, garbage)(x => Multimodal.wavDecimate(x, 4)),
    Fixture("graft_mp4_header", BinaryType, mp4, garbage)(Multimodal.mp4Header),
    Fixture("graft_mp4_tracks", BinaryType, mp4, garbage)(Multimodal.mp4Tracks),
    Fixture("graft_mp4_samples", BinaryType, mp4, garbage)(Multimodal.mp4Samples),
    Fixture("graft_mp3_frames", BinaryType,
      Mp3.encodeStream(Seq((9, 0, false, false), (9, 0, true, false))), garbage)(Mp3.mp3Frames),
    Fixture("graft_id3_frames", BinaryType,
      Id3.tag(3, Seq(Id3.textFrame("TIT2", "title", 3))), garbage)(Id3.id3Frames),
    Fixture("graft_warc_records", BinaryType, warc, garbage)(Warc.warcRecords),
    Fixture("graft_warc_payloads", BinaryType, warc, garbage)(Warc.warcPayloads))

  private def frame(f: Fixture, nullableInput: Boolean): DataFrame = {
    val rows = Seq(Row(f.valid), Row(f.malformed)) ++
      (if (nullableInput) Seq(Row(null)) else Nil)
    val in = df(StructType(Seq(StructField("x", f.inputType, nullableInput))), rows: _*)
    if (f.aggregate) in.agg(f.call(col("x")).as("y"))
    else in.select(f.call(col("x")).as("y"))
  }

  /** A value as text, binary as hex, so rows compare by content. */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def collected(f: Fixture, nullableInput: Boolean, mode: String): Seq[String] =
    withClue(s"${f.name}, nullable input $nullableInput, $mode: ") {
      var out = Seq.empty[String]
      withSQLConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        val d = frame(f, nullableInput)
        val values = d.collect().map(_.get(0)).toSeq
        if (values.contains(null))
          withClue("answers null, so must be nullable: ") { d.schema("y").nullable shouldBe true }
        out = values.map(render)
      }
      out
    }

  test("the fixtures cover every row of the table, once") {
    fixtures.map(_.name) shouldBe fixtures.map(_.name).distinct
    fixtures.map(_.name).sorted shouldBe NativeFunctions.table.map(_.name).sorted
  }

  for (f <- fixtures) test(s"${f.name}: codegen and interpreted rows agree, nulls are declared") {
    for (nullableInput <- Seq(true, false)) {
      val codegen = collected(f, nullableInput, "CODEGEN_ONLY")
      collected(f, nullableInput, "NO_CODEGEN") shouldBe codegen
      if (!f.aggregate) withClue(s"${f.name} on its valid fixture: ") {
        codegen.head should not be "null"
        // a null input gives null, except the bloom probe's documented false
        val onNull = if (f.name == "graft_bloom_might_contain") "false" else "null"
        if (nullableInput) codegen.last shouldBe onNull
      }
    }
  }

  test("every concrete Expression class of graft.functions has a table row") {
    val dir = new File(new File(classOf[NativeFunction].getProtectionDomain.getCodeSource
      .getLocation.toURI), "graft/functions")
    val compiled = dir.listFiles().map(_.getName)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName(s"graft.functions.${n.stripSuffix(".class")}", false,
        getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) && !Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName).toSet
    val built = fixtures.flatMap(f => frame(f, nullableInput = true).queryExecution.analyzed
      .expressions.flatMap(_.collect {
        case e if e.getClass.getPackageName == "graft.functions" => e.getClass.getSimpleName
      })).toSet
    compiled should not be empty
    compiled shouldBe built
  }

  test("every table name resolves in SQL once the table is registered") {
    val session = spark.newSession()
    val names = NativeFunctions.table.map(_.name)
    names.filter(session.catalog.functionExists) shouldBe empty
    NativeFunctions.register(session)
    for (f <- NativeFunctions.table) withClue(f.name) {
      session.sql(s"DESCRIBE FUNCTION ${f.name}").collect() should not be empty
      // a call with the wrong arity reaches the row's builder
      val e = the[Exception] thrownBy session.sql(s"SELECT ${f.name}()").collect()
      e.getMessage should include(f.usage)
    }
    session.sql("SELECT graft_nfc_normalize('e\u0301')").head().getString(0) shouldBe "\u00e9"
  }
}
