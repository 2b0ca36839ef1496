package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.WalkBytes._

/** GIF header metadata via the GIF87a/89a block walk (CompuServe GSD
  * / W3C GIF89a specification — public knowledge, zero codec
  * dependencies): signature + version, the little-endian Logical
  * Screen Descriptor, the Global Color Table skip, then the block
  * stream — extension blocks (0x21: label + length-prefixed
  * sub-blocks to a zero terminator), image descriptors (0x2C: 9-byte
  * descriptor, optional Local Color Table, LZW minimum code size,
  * data sub-blocks), ending at the 0x3B trailer. HEADER METADATA
  * ONLY — no LZW decode (dimensions, palette size, frame count, and
  * structural validity are what a curation pipeline filters on
  * before paying for one); completes the JPEG/PNG/WAV scan-side
  * family.
  *
  * Degrade contract (the [[PngPixelUtil]]/[[JpegHeaderUtil]]
  * discipline): anything malformed — wrong signature, unknown
  * version, truncation anywhere (LSD, color tables, sub-blocks),
  * zero or adversarial dimensions, an unknown block introducer,
  * running off the end before the trailer, a trailer before any
  * image — yields `decoded = false` with NULL fields, never an
  * exception and never a garbage read.
  *
  * Scan-side contract shared with the family: the expression runs
  * where the bytes are read, only the small typed struct leaves the
  * projection, media bytes never shuffle. */
object GifHeaderUtil {

  private val NotDecoded: InternalRow = notDecoded(9)

  /** Skip a length-prefixed sub-block chain starting at `pos`;
    * returns the position after the zero terminator, or -1 on
    * truncation. */
  private[functions] def skipSubBlocks(b: Array[Byte], start: Int): Int = {
    var pos = start
    while (pos < b.length) {
      val len = b(pos) & 0xff
      if (len == 0) return pos + 1
      if (pos + 1 + len > b.length) return -1
      pos += 1 + len
    }
    -1
  }

  def meta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 13) return NotDecoded
    if (bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
      return NotDecoded
    val version89 =
      if (bytes(3) == '8' && bytes(4) == '9' && bytes(5) == 'a') true
      else if (bytes(3) == '8' && bytes(4) == '7' && bytes(5) == 'a') false
      else return NotDecoded
    val width = le16(bytes, 6).toLong
    val height = le16(bytes, 8).toLong
    if (width <= 0 || height <= 0 || width * height > MaxPixels)
      return NotDecoded
    val packed = bytes(10) & 0xff
    val gctEntries =
      if ((packed & 0x80) != 0) 1L << ((packed & 0x07) + 1) else 0L
    val bgIndex = (bytes(11) & 0xff).toLong
    var pos = 13 + (if (gctEntries > 0) 3 * gctEntries.toInt else 0)
    if (pos > bytes.length) return NotDecoded // GCT truncated
    var nImages = 0L
    var nExtensions = 0L
    while (pos < bytes.length) {
      (bytes(pos) & 0xff) match {
        case 0x3b => // trailer: the stream ends here
          // Imageless GIF (header + trailer, zero image descriptors):
          // STRUCTURALLY valid, but deliberately conflated with
          // not-decodable — this family's NULL/decoded=false means
          // "no usable image data", not strictly "malformed", and a
          // curation pipeline treats both identically. frames()
          // makes the same call (its `out.isEmpty` branch), so the
          // two utils never disagree on an input.
          if (nImages == 0) return NotDecoded
          val row = new GenericInternalRow(9)
          row.update(0, true)
          row.update(1, version89)
          row.update(2, width); row.update(3, height)
          row.update(4, width * height)
          row.update(5, gctEntries)
          row.update(6, bgIndex)
          row.update(7, nImages)
          row.update(8, nExtensions)
          return row
        case 0x21 => // extension: label byte + sub-blocks
          if (pos + 2 > bytes.length) return NotDecoded
          pos = skipSubBlocks(bytes, pos + 2)
          if (pos < 0) return NotDecoded
          nExtensions += 1
        case 0x2c => // image descriptor
          if (pos + 10 > bytes.length) return NotDecoded
          val iw = le16(bytes, pos + 5).toLong
          val ih = le16(bytes, pos + 7).toLong
          if (iw <= 0 || ih <= 0 || iw * ih > MaxPixels) return NotDecoded
          val ipacked = bytes(pos + 9) & 0xff
          val lct = if ((ipacked & 0x80) != 0) 3 * (1 << ((ipacked & 0x07) + 1)) else 0
          pos += 10 + lct
          if (pos + 1 > bytes.length) return NotDecoded // LZW size byte
          pos = skipSubBlocks(bytes, pos + 1)
          if (pos < 0) return NotDecoded
          nImages += 1
        case _ => return NotDecoded // unknown block introducer: lost sync
      }
    }
    NotDecoded // ran off the end before the trailer
  }
}

/** GIF header metadata as a native codegen'd expression — see
  * [[GifHeaderUtil.meta]] for the walk and the degrade contract. */
case class GifMeta(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = GifMeta.schema
  override def prettyName: String = "gif_meta"
  override def walk(bytes: Array[Byte]): Any = GifHeaderUtil.meta(bytes)
  override protected def withNewChildInternal(newChild: Expression): GifMeta =
    copy(child = newChild)
}

object GifMeta {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("version89", BooleanType),
    StructField("width", LongType), StructField("height", LongType),
    StructField("n_pixels", LongType),
    StructField("gct_entries", LongType),
    StructField("bg_index", LongType),
    StructField("n_images", LongType),
    StructField("n_extensions", LongType)))
}

/** Per-frame GIF inventory via the same block walk as
  * [[GifHeaderUtil]] — the video-adjacent FRAME-SAMPLE plumbing step:
  * an animated GIF is the one multi-frame container this environment
  * can parse from first principles, and a frame sampler (every Nth
  * frame, frames longer than d centiseconds, frames with a local
  * palette) needs one row per frame BEFORE paying for any pixel
  * decode. Emits, per image descriptor in stream order: position,
  * dimensions, Local Color Table size, and the delay/disposal carried
  * by the frame's preceding Graphic Control Extension (0x21 0xF9,
  * GIF89a §23 — delay in centiseconds, disposal in packed bits 2-4;
  * frames without a GCE report 0/0, the spec default). A GCE governs
  * exactly the next image descriptor and is consumed by it.
  *
  * Degrade contract: identical to [[GifHeaderUtil.meta]] — any
  * malformation yields NULL (the whole array), never an exception; a
  * GCE whose first sub-block is not the spec's 4-byte block is
  * malformed (lost sync), not guessed at. */
object GifFrameUtil {

  /** Null on malformed; else one 8-field row per frame:
    * (frame_index, left, top, width, height, lct_entries, delay_cs,
    * disposal). */
  def frames(bytes: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (bytes == null || bytes.length < 13) return null
    if (bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F') return null
    val v89ok = (bytes(3) == '8' && bytes(4) == '9' && bytes(5) == 'a') ||
      (bytes(3) == '8' && bytes(4) == '7' && bytes(5) == 'a')
    if (!v89ok) return null
    val width = le16(bytes, 6).toLong
    val height = le16(bytes, 8).toLong
    if (width <= 0 || height <= 0 || width * height > MaxPixels)
      return null
    val packed = bytes(10) & 0xff
    val gctEntries =
      if ((packed & 0x80) != 0) 1L << ((packed & 0x07) + 1) else 0L
    var pos = 13 + (if (gctEntries > 0) 3 * gctEntries.toInt else 0)
    if (pos > bytes.length) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var delayCs = 0L
    var disposal = 0L
    while (pos < bytes.length) {
      (bytes(pos) & 0xff) match {
        case 0x3b =>
          // imageless: nothing to sample — the same deliberate
          // valid-but-empty ⇒ not-decodable conflation as
          // GifHeaderUtil.meta's nImages == 0 branch (NULL = "no
          // usable image data"); the two utils stay in agreement
          if (out.isEmpty) return null
          return new org.apache.spark.sql.catalyst.util.GenericArrayData(
            out.toArray[Any])
        case 0x21 =>
          if (pos + 2 > bytes.length) return null
          if ((bytes(pos + 1) & 0xff) == 0xf9) { // Graphic Control Ext
            if (pos + 7 > bytes.length) return null
            if ((bytes(pos + 2) & 0xff) != 4) return null // lost sync
            disposal = ((bytes(pos + 3) & 0xff) >> 2 & 0x7).toLong
            delayCs = le16(bytes, pos + 4).toLong
          }
          pos = GifHeaderUtil.skipSubBlocks(bytes, pos + 2)
          if (pos < 0) return null
        case 0x2c =>
          if (pos + 10 > bytes.length) return null
          val iw = le16(bytes, pos + 5).toLong
          val ih = le16(bytes, pos + 7).toLong
          if (iw <= 0 || ih <= 0 || iw * ih > MaxPixels)
            return null
          val ipacked = bytes(pos + 9) & 0xff
          val lctEntries =
            if ((ipacked & 0x80) != 0) 1L << ((ipacked & 0x07) + 1) else 0L
          val r = new GenericInternalRow(8)
          r.update(0, out.length.toLong)
          r.update(1, le16(bytes, pos + 1).toLong)
          r.update(2, le16(bytes, pos + 3).toLong)
          r.update(3, iw); r.update(4, ih)
          r.update(5, lctEntries)
          r.update(6, delayCs); r.update(7, disposal)
          out += r
          delayCs = 0L; disposal = 0L // GCE is consumed by its frame
          pos += 10 + (if (lctEntries > 0) 3 * lctEntries.toInt else 0)
          if (pos + 1 > bytes.length) return null
          pos = GifHeaderUtil.skipSubBlocks(bytes, pos + 1)
          if (pos < 0) return null
        case _ => return null
      }
    }
    null // ran off the end before the trailer
  }
}

/** Per-frame GIF inventory as a native codegen'd expression — see
  * [[GifFrameUtil.frames]] for the walk and the degrade contract. */
case class GifFrames(child: Expression)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType = GifFrames.schema
  override def prettyName: String = "gif_frames"
  override def walk(bytes: Array[Byte]): Any = GifFrameUtil.frames(bytes)
  override protected def withNewChildInternal(newChild: Expression): GifFrames =
    copy(child = newChild)
}

object GifFrames {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame_index", LongType, nullable = false),
    StructField("left", LongType, nullable = false),
    StructField("top", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("lct_entries", LongType, nullable = false),
    StructField("delay_cs", LongType, nullable = false),
    StructField("disposal", LongType, nullable = false)))
  val schema: DataType = ArrayType(frameSchema, containsNull = false)
}
