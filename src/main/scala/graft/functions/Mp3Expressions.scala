package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-frame MP3 inventory via the MPEG frame-header walk (ISO/IEC
  * 11172-3 §2.4.1.3, public spec) — the audio STREAM rung completing
  * the family triad: WAV decodes samples (E99), ID3 reads the
  * metadata tag (the q381 walk), THIS walks the compressed stream
  * itself. One row per frame with its byte offset, bitrate,
  * sample rate, padding/CRC flags, and computed length — which is
  * what an audio curation pipeline reads to price a corpus (duration
  * = frames × 1152/rate, CBR-vs-VBR = distinct bitrates, seek maps =
  * the offsets) BEFORE any sample decode.
  *
  * Scope: MPEG-1 Layer III (the "MP3" of practice). Frame length =
  * ⌊144·bitrate/samplerate⌋ + padding, the published formula (a CRC,
  * when the protection bit announces one, lives inside that length).
  * An ID3v2 tag at the start is skipped by its syncsafe size (the
  * q381 header arithmetic); a 128-byte ID3v1 "TAG" trailer ends the
  * walk cleanly.
  *
  * Degrade contract (the family discipline): lost sync anywhere, a
  * free (0) or bad (15) bitrate index, the reserved sample-rate
  * index, a non-MPEG-1/non-Layer-III header, a frame overrunning the
  * buffer, a malformed ID3v2 size byte, trailing garbage that is
  * neither a frame nor the v1 trailer — all yield NULL (the whole
  * array), never an exception. Frame count is capped at
  * [[Mp3FrameUtil.MaxFrames]] (scale guard: bounded output per row
  * regardless of input size); beyond it degrades to NULL too.
  *
  * Scan-side contract: runs where the bytes are read; only the small
  * typed rows leave the projection — media bytes never shuffle. */
object Mp3FrameUtil {

  /** Hard ceiling on inventoried frames per stream (~28 min at
    * 44.1 kHz). */
  val MaxFrames: Int = 65536

  private val Bitrate: Array[Long] =
    Array(0L, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val SampleRate: Array[Long] = Array(44100L, 48000L, 32000L)

  /** Null on malformed; else one 7-field row per frame in stream
    * order: (frame_index, byte_offset, bitrate_kbps, sample_rate,
    * padding, has_crc, frame_bytes). */
  def frames(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 4) return null
    val n = bytes.length
    var pos = 0
    // optional ID3v2 prefix: "ID3" + ver(2) + flags(1) + syncsafe u28
    if (bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      if (n < 10) return null
      var sz = 0L
      var i = 6
      while (i < 10) {
        if ((bytes(i) & 0x80) != 0) return null // not syncsafe
        sz = (sz << 7) | (bytes(i) & 0x7fL)
        i += 1
      }
      if (10L + sz > n) return null
      pos = (10 + sz).toInt
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    while (pos < n) {
      // ID3v1 trailer: exactly 128 bytes of "TAG" + fields, ends the walk
      if (n - pos == 128 && bytes(pos) == 'T' && bytes(pos + 1) == 'A' &&
        bytes(pos + 2) == 'G') return finish(out)
      if (n - pos < 4) return null // trailing garbage, not a frame
      val b1 = bytes(pos + 1) & 0xff
      if ((bytes(pos) & 0xff) != 0xff || (b1 & 0xe0) != 0xe0) return null
      if (((b1 >> 3) & 3) != 3) return null // MPEG-1 only
      if (((b1 >> 1) & 3) != 1) return null // Layer III only
      val b2 = bytes(pos + 2) & 0xff
      val brIdx = (b2 >> 4) & 15
      if (brIdx < 1 || brIdx > 14) return null // free/bad bitrate
      val srIdx = (b2 >> 2) & 3
      if (srIdx > 2) return null // reserved sample rate
      val pad = (b2 >> 1) & 1
      val flen = 144L * Bitrate(brIdx) * 1000L / SampleRate(srIdx) + pad
      if (pos + flen > n) return null // frame overruns the buffer
      if (out.length >= MaxFrames) return null
      val row = new GenericInternalRow(7)
      row.update(0, out.length.toLong)
      row.update(1, pos.toLong)
      row.update(2, Bitrate(brIdx))
      row.update(3, SampleRate(srIdx))
      row.update(4, pad == 1)
      row.update(5, (b1 & 1) == 0) // protection bit 0 = CRC present
      row.update(6, flen)
      out += row
      pos += flen.toInt
    }
    finish(out)
  }

  private def finish(
      out: scala.collection.mutable.ArrayBuffer[InternalRow]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
}

/** Per-frame MP3 inventory as a native codegen'd expression — see
  * [[Mp3FrameUtil.frames]]. */
case class Mp3Frames(child: Expression)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType = Mp3Frames.schema
  override def prettyName: String = "mp3_frames"
  override def walk(bytes: Array[Byte]): Any = Mp3FrameUtil.frames(bytes)
  override protected def withNewChildInternal(newChild: Expression): Mp3Frames =
    copy(child = newChild)
}

object Mp3Frames {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame_index", LongType, nullable = false),
    StructField("byte_offset", LongType, nullable = false),
    StructField("bitrate_kbps", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("padding", BooleanType, nullable = false),
    StructField("has_crc", BooleanType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false)))
  val schema: DataType = ArrayType(frameSchema, containsNull = false)
}
