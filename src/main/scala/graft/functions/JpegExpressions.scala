package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.WalkBytes._

/** JPEG header metadata via the ITU-T T.81 §B marker-segment walk —
  * the static-eval companion to [[PngPixelUtil]] for the format real
  * crawls mostly carry: SOI, then big-endian length-prefixed
  * segments, reading JFIF APP0 presence and the SOF0/SOF2 frame
  * header (precision, height, width, component count), stopping at
  * SOS where entropy-coded data begins. HEADER METADATA ONLY — no
  * entropy decode (that genuinely needs a codec; dimensions,
  * progressive-ness, and structural validity are what a curation
  * pipeline filters on before ever paying for one).
  *
  * Degrade contract (the PNG discipline): anything malformed —
  * missing SOI, truncated segment, a marker without its 0xFF, EOI or
  * stream end before SOF+SOS, zero/oversized dimensions, an
  * unsupported SOF variant (arithmetic/hierarchical/lossless
  * C1/C3/C5..CF-family), bad component count — yields
  * `decoded = false` with NULL fields, never an exception and never
  * a garbage read. Baseline (SOF0) and progressive (SOF2) are the
  * supported frames, which is what the JFIF ecosystem emits.
  *
  * Scan-side contract shared with [[PngPixelStats]]: the expression
  * runs where the bytes are read, only the small typed struct leaves
  * the projection, media bytes never shuffle. */
object JpegHeaderUtil {

  private val NotDecoded: InternalRow = notDecoded(9)

  def meta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 4) return NotDecoded
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return NotDecoded // no SOI
    var pos = 2
    var nSegments = 0L
    var hasJfif = false
    var sofMarker = -1
    var precision = -1L; var width = -1L; var height = -1L; var nComp = -1L
    while (pos + 2 <= bytes.length) {
      // T.81 §B.1.1.2: any number of 0xFF fill bytes may precede a marker
      while (pos + 2 <= bytes.length && (bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xff) == 0xff) pos += 1
      if (pos + 2 > bytes.length) return NotDecoded
      if ((bytes(pos) & 0xff) != 0xff) return NotDecoded // lost sync
      val marker = bytes(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd8 => return NotDecoded // second SOI: malformed
        case 0xd9 => return NotDecoded // EOI before SOS: no image
        case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) =>
          return NotDecoded // TEM/RSTn are only valid inside entropy data
        case 0xda => // SOS: entropy-coded data follows; the walk ends here
          if (sofMarker < 0) return NotDecoded
          nSegments += 1
          val row = new GenericInternalRow(9)
          row.update(0, true)
          row.update(1, sofMarker == 0xc2)
          row.update(2, precision)
          row.update(3, width); row.update(4, height)
          row.update(5, width * height)
          row.update(6, nComp)
          row.update(7, nSegments)
          row.update(8, hasJfif)
          return row
        case m =>
          if (pos + 2 > bytes.length) return NotDecoded
          val len = be16(bytes, pos)
          if (len < 2 || pos + len > bytes.length) return NotDecoded
          nSegments += 1
          m match {
            case 0xe0 => // APP0: JFIF if the identifier says so
              if (len - 2 >= 5 && bytes(pos + 2) == 'J' &&
                bytes(pos + 3) == 'F' && bytes(pos + 4) == 'I' &&
                bytes(pos + 5) == 'F' && bytes(pos + 6) == 0) hasJfif = true
            case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
              if (sofMarker >= 0) return NotDecoded // two frames: malformed
              if (len - 2 < 6) return NotDecoded
              precision = (bytes(pos + 2) & 0xff).toLong
              height = be16(bytes, pos + 3).toLong
              width = be16(bytes, pos + 5).toLong
              nComp = (bytes(pos + 7) & 0xff).toLong
              if (len != 8 + 3 * nComp) return NotDecoded
              if (width <= 0 || height <= 0 || width * height > MaxPixels)
                return NotDecoded
              if (nComp != 1 && nComp != 3 && nComp != 4) return NotDecoded
              sofMarker = m
            case sof if (sof >= 0xc1 && sof <= 0xcf) && sof != 0xc4 &&
              sof != 0xc8 && sof != 0xcc =>
              // extended/lossless/arithmetic/hierarchical SOF variant:
              // unsupported layout — decline, never misreport
              return NotDecoded
            case _ => // DQT/DHT/COM/APPn/...: counted, content skipped
          }
          pos += len
      }
    }
    NotDecoded // ran off the end before SOS
  }
}

/** JPEG header metadata as a native codegen'd expression — see
  * [[JpegHeaderUtil.meta]] for the walk and the degrade contract.
  * Same scan-side shape as [[PngPixelStats]]: bytes never shuffle,
  * only the 9-field struct leaves the projection. */
case class JpegMeta(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = JpegMeta.schema
  override def prettyName: String = "jpeg_meta"
  override def walk(bytes: Array[Byte]): Any = JpegHeaderUtil.meta(bytes)
  override protected def withNewChildInternal(newChild: Expression): JpegMeta =
    copy(child = newChild)
}

object JpegMeta {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("progressive", BooleanType),
    StructField("precision_bits", LongType),
    StructField("width", LongType), StructField("height", LongType),
    StructField("n_pixels", LongType),
    StructField("n_components", LongType),
    StructField("n_segments", LongType),
    StructField("has_jfif", BooleanType)))
}
