package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.WalkBytes._

/** ID3v2 tag-frame inventory (id3.org ID3v2.3/2.4, public spec) —
  * the audio-METADATA rung next to the WAV sample decode (E99) and
  * the MP4 container walk (E377): an MP3's leading tag is
  * `ID3` + version(2) + flags(1) + a 28-bit SYNCSAFE size (7 bits
  * per byte — the spec's MSB-avoidance device), then frames of
  * 4-char id + size (plain u32 in v2.3, syncsafe in v2.4 — the
  * version-dependent arithmetic this walk exercises) + 2 flag bytes
  * + payload; text frames (`T…`) carry an encoding byte (0 = Latin-1,
  * 3 = UTF-8) before the value. Emits one row per frame with the
  * decoded text for those two encodings (UTF-16 variants surface
  * with NULL text and the raw size — inventoried, not guessed at);
  * padding (a zero byte where a frame id should start) ends the walk
  * per spec.
  *
  * Degrade contract (the container-family discipline): wrong magic,
  * unsupported major version, a non-syncsafe byte in a syncsafe
  * field, a frame overrunning the tag, or a truncated header — NULL
  * (whole array), never an exception. Scan-side: audio bytes never
  * shuffle. */
object Id3FrameUtil {

  private def syncsafe(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 4) {
      val x = b(o + i) & 0xff
      if ((x & 0x80) != 0) return -1L // not syncsafe: malformed
      v = (v << 7) | x
      i += 1
    }
    v
  }

  /** Null on malformed; else one 4-field row per frame in tag order:
    * (frame_index, frame_id, frame_size, text). */
  def frames(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 10) return null
    if (bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3') return null
    val major = bytes(3) & 0xff
    if (major != 3 && major != 4) return null
    val tagSize = syncsafe(bytes, 6)
    if (tagSize < 0 || 10L + tagSize > bytes.length) return null
    val end = 10 + tagSize.toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var pos = 10
    var done = false
    while (!done && pos < end) {
      if (bytes(pos) == 0) { done = true } // padding: tag ends here
      else {
        if (pos + 10 > end) return null
        val id = new String(bytes, pos, 4, "US-ASCII")
        if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
          return null // lost sync
        val fsize =
          if (major == 4) syncsafe(bytes, pos + 4) else be32(bytes, pos + 4)
        if (fsize < 0 || pos + 10L + fsize > end) return null
        val payloadOff = pos + 10
        val text: UTF8String =
          if (id.startsWith("T") && fsize >= 1) {
            val enc = bytes(payloadOff) & 0xff
            // trailing NUL terminators are presentation noise, trimmed
            var len = fsize.toInt - 1
            while (len > 0 && bytes(payloadOff + len) == 0) len -= 1
            if (enc == 0)
              UTF8String.fromString(new String(bytes, payloadOff + 1, len,
                "ISO-8859-1"))
            else if (enc == 3)
              UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes,
                payloadOff + 1, payloadOff + 1 + len))
            else null // UTF-16 variants: inventoried, not decoded
          } else null
        val row = new GenericInternalRow(4)
        row.update(0, out.length.toLong)
        row.update(1, UTF8String.fromString(id))
        row.update(2, fsize)
        row.update(3, text)
        out += row
        pos += 10 + fsize.toInt
      }
    }
    if (out.isEmpty) return null // a tag with zero frames is malformed per spec
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** ID3v2 frame inventory as a native codegen'd expression — see
  * [[Id3FrameUtil.frames]]. */
case class Id3Frames(child: Expression)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType = Id3Frames.schema
  override def prettyName: String = "id3_frames"
  override def walk(bytes: Array[Byte]): Any = Id3FrameUtil.frames(bytes)
  override protected def withNewChildInternal(newChild: Expression): Id3Frames =
    copy(child = newChild)
}

object Id3Frames {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame_index", LongType, nullable = false),
    StructField("frame_id", StringType, nullable = false),
    StructField("frame_size", LongType, nullable = false),
    StructField("text", StringType)))
  val schema: DataType = ArrayType(frameSchema, containsNull = false)
}
