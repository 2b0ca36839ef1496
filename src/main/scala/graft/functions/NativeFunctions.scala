package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** One native function: its SQL name, its parameter names and the
  * builder from argument expressions to the Catalyst expression.
  *
  * Applying it to Columns registers the table in the active session
  * and calls the function by name. Spark 4 keeps the Column↔Expression
  * bridge private, so the session's function registry plus
  * `call_function` is the public way from a Column to a native
  * expression. */
final case class NativeFunction(name: String, params: Seq[String])(
    build: Seq[Expression] => Expression) {

  def usage: String = s"$name(${params.mkString(", ")})"

  def apply(args: Column*): Column = {
    SparkSession.getActiveSession.foreach(NativeFunctions.register)
    call_function(name, args: _*)
  }

  private[functions] def builder(children: Seq[Expression]): Expression = {
    require(children.size == params.size, s"$name takes ${params.size} arguments: $usage")
    build(children)
  }
}

/** Every native function of the package, declared once. A row gives
  * the SQL name, the parameters and the builder; literal parameters go
  * through the shared decoders below. The public Column wrappers
  * (`VectorFunctions`, `graft.multimodal.Multimodal`, ...) are one
  * line over these rows. */
object NativeFunctions {

  private def fn(name: String, params: String*)(
      build: Seq[Expression] => Expression): NativeFunction =
    NativeFunction(name, params)(build)

  private def literal(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal")
    e.eval()
  }

  private def litInt(e: Expression, what: String): Int = literal(e, what) match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  private def litIntArray(e: Expression, what: String): Array[Int] = literal(e, what) match {
    case a: ArrayData => a.toIntArray()
    case other => throw new IllegalArgumentException(
      s"$what must be an int array literal, got $other")
  }

  private def litStrings(e: Expression, what: String): Seq[String] = literal(e, what) match {
    case a: ArrayData => (0 until a.numElements()).map(a.getUTF8String(_).toString)
    case other => throw new IllegalArgumentException(
      s"$what must be a string array literal, got $other")
  }

  val vecDot = fn("graft_vec_dot", "a", "b") { case Seq(a, b) => FloatVectorDot(a, b) }
  val bandKeys = fn("graft_band_keys", "vec", "bands", "bits", "dim") {
    case Seq(v, bands, bits, dim) => FloatVectorBandKeys(v,
      litInt(bands, "bands"), litInt(bits, "bits"), litInt(dim, "dim"))
  }
  val pqEncode = fn("graft_pq_encode", "vec", "cb", "m", "ksub", "ds") {
    case Seq(v, cb, m, ksub, ds) => PqEncode(v, litIntArray(cb, "cb"),
      litInt(m, "m"), litInt(ksub, "ksub"), litInt(ds, "ds"))
  }
  val pqLut = fn("graft_pq_lut", "vec", "cb", "m", "ksub", "ds") {
    case Seq(v, cb, m, ksub, ds) => PqLut(v, litIntArray(cb, "cb"),
      litInt(m, "m"), litInt(ksub, "ksub"), litInt(ds, "ds"))
  }
  val pqScore = fn("graft_pq_score", "lut", "codes", "ksub") {
    case Seq(lut, codes, ksub) => PqScore(lut, codes, litInt(ksub, "ksub"))
  }
  val nfcNormalize = fn("graft_nfc_normalize", "s") { case Seq(s) => UnicodeNormalize(s) }
  val nfkcNormalize = fn("graft_nfkc_normalize", "s") { case Seq(s) => UnicodeNormalize(s, "NFKC") }
  val deflateLen = fn("graft_deflate_len", "s") { case Seq(s) => DeflateLen(s) }
  val jaroWinklerE6 = fn("graft_jaro_winkler_e6", "a", "b") { case Seq(a, b) => JaroWinklerE6(a, b) }
  val multiMatchCounts = fn("graft_multi_match_counts", "text", "terms") {
    case Seq(text, terms) => MultiMatchCounts(text, litStrings(terms, "terms"))
  }
  val contentChunks = fn("graft_content_chunks", "content", "divisor") {
    case Seq(c, divisor) => ContentChunks(c, divisor)
  }
  val bloomMightContain = fn("graft_bloom_might_contain", "key", "filterBytes") {
    case Seq(key, filter) => BloomMightContain(key, filter)
  }
  val topKBy = fn("graft_top_k_by", "value", "id", "k") {
    case Seq(v, id, k) => TopKByLong(v, id, k)
  }
  val frequentBy = fn("graft_frequent_by", "key", "k") { case Seq(key, k) => FrequentByLong(key, k) }
  val runConstant = fn("graft_run_constant", "value") {
    case Seq(v) => RunConstant(literal(v, "value"), v.dataType)
  }
  val pngPixelStats = fn("graft_png_pixel_stats", "png") { case Seq(b) => PngPixelStats(b) }
  val pngDhash = fn("graft_png_dhash", "png") { case Seq(b) => PngDhash(b) }
  val pngThumbnail = fn("graft_png_thumbnail", "png", "maxDim") {
    case Seq(b, maxDim) => PngThumbnail(b, maxDim)
  }
  val jpegMeta = fn("graft_jpeg_meta", "jpeg") { case Seq(b) => JpegMeta(b) }
  val gifMeta = fn("graft_gif_meta", "gif") { case Seq(b) => GifMeta(b) }
  val gifFrames = fn("graft_gif_frames", "gif") { case Seq(b) => GifFrames(b) }
  val wavPcmStats = fn("graft_wav_pcm_stats", "wav") { case Seq(b) => WavPcmStats(b) }
  val wavFingerprint = fn("graft_wav_fingerprint", "wav") { case Seq(b) => WavFingerprint(b) }
  val wavFrameFeatures = fn("graft_wav_frame_features", "wav", "frameSize") {
    case Seq(b, frame) => WavFrameFeatures(b, frame)
  }
  val wavDecimate = fn("graft_wav_decimate", "wav", "factor") {
    case Seq(b, factor) => WavDecimate(b, factor)
  }
  val mp4Header = fn("graft_mp4_header", "mp4") { case Seq(b) => Mp4Header(b) }
  val mp4Tracks = fn("graft_mp4_tracks", "mp4") { case Seq(b) => Mp4Tracks(b) }
  val mp4Samples = fn("graft_mp4_samples", "mp4") { case Seq(b) => Mp4Samples(b) }
  val mp3Frames = fn("graft_mp3_frames", "mp3") { case Seq(b) => Mp3Frames(b) }
  val id3Frames = fn("graft_id3_frames", "id3") { case Seq(b) => Id3Frames(b) }
  val warcRecords = fn("graft_warc_records", "warc") {
    case Seq(b) => WarcRecords(b, withBlock = false)
  }
  val warcPayloads = fn("graft_warc_payloads", "warc") {
    case Seq(b) => WarcRecords(b, withBlock = true)
  }

  val table: Seq[NativeFunction] = Seq(
    vecDot, bandKeys, pqEncode, pqLut, pqScore, nfcNormalize, nfkcNormalize,
    deflateLen, jaroWinklerE6, multiMatchCounts, contentChunks,
    bloomMightContain, topKBy, frequentBy, runConstant,
    pngPixelStats, pngDhash, pngThumbnail, jpegMeta, gifMeta, gifFrames,
    wavPcmStats, wavFingerprint, wavFrameFeatures, wavDecimate,
    mp4Header, mp4Tracks, mp4Samples, mp3Frames, id3Frames,
    warcRecords, warcPayloads)

  /** Registers every row as a temporary function of `spark`'s session.
    * Idempotent: once the last row's name resolves, the session holds
    * the whole table, so a later call costs one registry lookup. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(table.last.name)))
      table.foreach(f => registry.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
  }
}
