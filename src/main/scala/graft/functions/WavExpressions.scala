package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.WalkBytes._

/** Shared eval path for [[WavPcmStats]] and the other WAV walkers
  * (the [[PngPixelUtil]] pattern: one call per row inside whole-stage
  * codegen). REAL audio sample decode for canonical PCM16 WAV
  * (RIFF/WAVE): chunk walk (word-aligned, ancillary chunks skipped) →
  * `fmt ` validation → little-endian int16 reads over the `data`
  * payload → exact integer sample stats. The per-channel-0
  * zero-crossing count is the classic cheap audio feature (silence /
  * tone / speech discrimination) a training-data audio pipeline runs
  * before any model-based scoring.
  *
  * Anything non-canonical — float or compressed formats, bit depths
  * other than 16, inconsistent block alignment, truncated data,
  * missing or out-of-order chunks, adversarial sizes — degrades to
  * `decoded = false` with NULL stats: never an error, never a garbage
  * read. Output stats are pure integers so the q115 oracle compares
  * exact BIGINTs: DuckDB derives the same numbers from the fixture's
  * sample FORMULA while Spark decodes real RIFF bytes — hash equality
  * proves the walk + sample decode, not just the plumbing. */
object WavPcmUtil {

  /** Sample-count ceiling: 2^24 samples = 32 MB of PCM16 per blob —
    * above this an adversarial header would balloon executor memory,
    * so the decode declines rather than trusting the size field. */
  val MaxSamples: Long = 1L << 24

  private val NotDecoded: InternalRow = notDecoded(9)

  /** Located canonical PCM16 payload: where the interleaved samples
    * live and how to read them. Null result = undecodable. */
  private[functions] final class Located(
      val channels: Int, val sampleRate: Long, val dataOff: Int,
      val nSamples: Int, val nFrames: Long)

  /** The RIFF walk + `fmt `/layout validation shared by [[stats]] and
    * [[fingerprint]]: fmt must precede data, unknown chunks skipped
    * with RIFF's odd-length pad byte honored, PCM16 only, sizes
    * bounded. */
  private[functions] def locate(bytes: Array[Byte]): Located = {
    if (bytes == null || bytes.length < 12) return null
    if (bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
        bytes(3) != 'F' || bytes(8) != 'W' || bytes(9) != 'A' ||
        bytes(10) != 'V' || bytes(11) != 'E') return null

    var pos = 12
    var haveFmt = false
    var audioFormat = -1; var channels = -1; var bits = -1
    var sampleRate = -1L; var blockAlign = -1
    var dataOff = -1; var dataLen = -1L
    while (dataOff < 0 && pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val len = le32(bytes, pos + 4)
      if (pos + 8 + len > bytes.length) return null // truncated
      id match {
        case "fmt " =>
          if (len < 16) return null
          audioFormat = le16(bytes, pos + 8)
          channels = le16(bytes, pos + 10)
          sampleRate = le32(bytes, pos + 12)
          blockAlign = le16(bytes, pos + 20)
          bits = le16(bytes, pos + 22)
          haveFmt = true
        case "data" =>
          if (!haveFmt) return null
          dataOff = pos + 8; dataLen = len
        case _ => // ancillary chunk: skip
      }
      pos += 8 + len.toInt + (len.toInt & 1)
    }
    if (dataOff < 0) return null
    if (audioFormat != 1 || bits != 16) return null // PCM16 only
    if (channels < 1 || channels > 8) return null
    if (blockAlign != channels * 2) return null
    if (dataLen % blockAlign != 0) return null
    val nSamples = dataLen / 2
    if (nSamples > MaxSamples) return null
    new Located(channels, sampleRate, dataOff, nSamples.toInt,
      dataLen / blockAlign)
  }

  def stats(bytes: Array[Byte]): InternalRow = {
    val loc = locate(bytes)
    if (loc == null) return NotDecoded
    val channels = loc.channels
    val dataOff = loc.dataOff
    val nSamples = loc.nSamples
    val nFrames = loc.nFrames
    val sampleRate = loc.sampleRate

    var sum = 0L; var sumAbs = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var zc = 0L
    var prev0 = 0; var havePrev0 = false
    val n = nSamples
    var i = 0
    while (i < n) {
      val v = le16(bytes, dataOff + 2 * i).toShort.toInt
      sum += v; sumAbs += math.abs(v)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (i % channels == 0) { // channel 0: zero-crossing count
        if (havePrev0 && ((v < 0) != (prev0 < 0))) zc += 1
        prev0 = v; havePrev0 = true
      }
      i += 1
    }
    val row = new GenericInternalRow(9)
    row.update(0, true)
    row.update(1, channels.toLong)
    row.update(2, sampleRate)
    row.update(3, nFrames)
    if (n > 0) { // empty data: stats NULL, counts 0
      row.update(4, sum); row.update(5, sumAbs)
      row.update(6, mn); row.update(7, mx)
    } else {
      row.update(4, 0L); row.update(5, 0L)
    }
    row.update(8, zc)
    row
  }

  /** Per-frame channel-0 features over fixed `frameSize`-sample
    * windows — the exact-integer front end of voice-activity
    * detection / silence trimming / segmentation (energy gates and
    * ZCR thresholds are the classic pre-model audio curation pass):
    * per frame Σv² (energy), strict sign flips BETWEEN samples of the
    * SAME frame (zero_crossings), and max |v| (peak). The last
    * partial frame is kept with its true `n` — trailing audio is
    * data, not padding. Undecodable blob or frameSize < 1 → null;
    * decodable-but-empty data → empty array. Energy bound: v² ≤ 2³⁰
    * and ≤ 2²⁴ samples/frame keep Σv² < 2⁵⁴ — no wrap. */
  def frameFeatures(bytes: Array[Byte], frameSize: Int): Any = {
    if (frameSize < 1) return null
    val loc = locate(bytes)
    if (loc == null) return null
    val n0 = loc.nFrames.toInt // channel-0 samples
    val nOut = (n0 + frameSize - 1) / frameSize
    val out = new Array[Any](nOut)
    var f = 0
    while (f < nOut) {
      val start = f * frameSize
      val end = math.min(start + frameSize, n0)
      var energy = 0L; var zc = 0L; var peak = 0L
      var prev = 0; var havePrev = false
      var i = start
      while (i < end) {
        val v = le16(bytes, loc.dataOff + 2 * i * loc.channels).toShort.toInt
        energy += v.toLong * v
        val a = math.abs(v).toLong
        if (a > peak) peak = a
        if (havePrev && ((v < 0) != (prev < 0))) zc += 1
        prev = v; havePrev = true
        i += 1
      }
      val row = new GenericInternalRow(5)
      row.update(0, f)
      row.update(1, (end - start).toLong)
      row.update(2, energy)
      row.update(3, zc)
      row.update(4, peak)
      out(f) = row
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val Segments = 65 // 64 adjacent-energy comparison bits

  private val NoFingerprint: InternalRow = notDecoded(2)

  /** Perceptual audio fingerprint — the energy-envelope analogue of
    * [[PngPixelUtil.dhash]]: channel 0's samples are split into 65
    * equal segments (floor bounds, sizes ±1) and each of the 64 bits
    * records whether segment i's mean |amplitude| exceeds segment
    * i+1's, compared EXACTLY as rationals via quotient-then-remainder
    * (sum·cnt can reach 2⁶³ at the ceiling; remainders are < cnt so
    * the remainder cross-product stays < 2⁴⁸). GAIN-INVARIANT under
    * exact positive scaling (both means scale together) — the
    * loudness-normalized re-encode that changes every byte keeps its
    * fingerprint, which is exactly what content hashing cannot do.
    * Clips with fewer than 65 channel-0 samples are declined
    * (decoded = false) rather than hashed degenerately. */
  def fingerprint(bytes: Array[Byte]): InternalRow = {
    val loc = locate(bytes)
    if (loc == null || loc.nFrames < Segments) return NoFingerprint
    val n0 = loc.nFrames.toInt // channel-0 samples = frames
    val sums = new Array[Long](Segments)
    val cnts = new Array[Long](Segments)
    var i = 0
    while (i < n0) {
      val seg = (i.toLong * Segments / n0).toInt
      val v = le16(bytes, loc.dataOff + 2 * i * loc.channels).toShort.toInt
      sums(seg) += math.abs(v)
      cnts(seg) += 1L
      i += 1
    }
    var hash = 0L
    var s = 0
    while (s < Segments - 1) {
      val ql = sums(s) / cnts(s); val rl = sums(s) % cnts(s)
      val qr = sums(s + 1) / cnts(s + 1); val rr = sums(s + 1) % cnts(s + 1)
      if (ql > qr || (ql == qr && rl * cnts(s + 1) > rr * cnts(s)))
        hash |= 1L << s
      s += 1
    }
    decodedHash(hash)
  }
}

/** PCM16 WAV sample statistics as a native codegen'd expression — the
  * audio rung of the multimodal pipeline, same contract as
  * [[PngPixelStats]]: runs in the scan-side projection, the media
  * bytes never shuffle, only the 9-field integer stats row leaves. */
case class WavPcmStats(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = WavPcmStats.schema
  override def prettyName: String = "wav_pcm_stats"
  override def walk(bytes: Array[Byte]): Any = WavPcmUtil.stats(bytes)
  override protected def withNewChildInternal(newChild: Expression): WavPcmStats =
    copy(child = newChild)
}

object WavPcmStats {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("channels", LongType), StructField("sample_rate", LongType),
    StructField("n_frames", LongType),
    StructField("sum_all", LongType), StructField("sum_abs", LongType),
    StructField("min_s", LongType), StructField("max_s", LongType),
    StructField("zero_cross0", LongType)))
}

/** Perceptual audio fingerprint of a PCM16 WAV blob — see
  * [[WavPcmUtil.fingerprint]] for the exact-integer spec. Scan-side
  * like [[WavPcmStats]]: only (decoded, 64-bit hash) leaves. */
case class WavFingerprint(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = WavFingerprint.schema
  override def prettyName: String = "wav_fingerprint"
  override def walk(bytes: Array[Byte]): Any = WavPcmUtil.fingerprint(bytes)
  override protected def withNewChildInternal(newChild: Expression): WavFingerprint =
    copy(child = newChild)
}

object WavFingerprint {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("fingerprint", LongType)))
}

/** Per-frame audio features of a PCM16 WAV blob — see
  * [[WavPcmUtil.frameFeatures]]. Scan-side like [[WavPcmStats]]: the
  * media bytes never shuffle, only ≤ ⌈samples/frameSize⌉ five-integer
  * structs leave the projection (explode them INTO the shuffle only
  * when the query needs per-frame rows). */
case class WavFrameFeatures(child: Expression, frame: Expression) extends BinaryIntWalker {
  override def left: Expression = child
  override def right: Expression = frame
  override def dataType: DataType = WavFrameFeatures.schema
  override def prettyName: String = "wav_frame_features"
  override def walk(bytes: Array[Byte], param: Int): Any = WavPcmUtil.frameFeatures(bytes, param)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WavFrameFeatures =
    copy(child = newLeft, frame = newRight)
}

object WavFrameFeatures {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("peak", LongType, nullable = false))),
    containsNull = false)
}

/** REAL audio RESAMPLE (decimation): decode → keep every `factor`-th
  * frame (all channels) → re-encode, the audio twin of the PNG
  * thumbnail's decode→transform→ENCODE round trip and the
  * frame-sample primitive for audio (a feature extractor that wants
  * 8 kHz from 48 kHz inputs decimates BEFORE paying per-sample
  * work). Stated semantics: plain decimation — frames 0, factor,
  * 2·factor, …; NO anti-alias low-pass (a filter is a different
  * operator by design — this is the exact-integer frame sampler, and
  * a downstream energy/ZCR consumer reads decimated frames
  * directly); declared sample rate divides by `factor` — integer
  * floor CLAMPED below at 1 Hz (`max(1, rate div factor)`: a
  * factor above the sample rate would otherwise write a 0 Hz
  * header, which downstream decoders reject as malformed — the
  * surviving frames are still valid data, so the header degrades
  * to the slowest representable rate instead; q341's twin mirrors
  * the clamp — greatest(1, rate // factor) — so the engines agree
  * at EVERY factor, not just the fixture's factor ≤ rate).
  * Undecodable input or factor < 1 → NULL, the
  * family degrade contract. Scan-side: the ~factor-smaller audio
  * column is what leaves the projection. */
object WavDecimUtil {
  def decimate(bytes: Array[Byte], factor: Int): Array[Byte] = {
    if (factor < 1) return null
    val loc = WavPcmUtil.locate(bytes)
    if (loc == null) return null
    val ch = loc.channels
    val outFrames = ((loc.nFrames + factor - 1) / factor).toInt
    graft.multimodal.Wav.encodePcm16(
      ch, math.max(1L, loc.sampleRate / factor).toInt, outFrames,
      (f, c) => {
        // nSamples <= 2^24 (the locate ceiling), so offsets fit Int
        val off = (loc.dataOff + 2 * (f.toLong * factor * ch + c)).toInt
        ((bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)).toShort.toInt
      })
  }
}

/** PCM16 decimation as a native expression — see
  * [[WavDecimUtil.decimate]] for semantics and the degrade
  * contract. */
case class WavDecimate(child: Expression, factor: Expression) extends BinaryIntWalker {
  override def left: Expression = child
  override def right: Expression = factor
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_decimate"
  override def walk(bytes: Array[Byte], param: Int): Any = WavDecimUtil.decimate(bytes, param)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WavDecimate =
    copy(child = newLeft, factor = newRight)
}
