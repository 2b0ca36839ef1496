package graft.functions

import java.util.zip.Inflater

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.WalkBytes._

/** Shared eval path for [[PngPixelStats]] and [[PngDhash]]: their
  * [[BinaryWalker.walk]] calls it, interpreted and in the generated
  * code alike — one call per row inside whole-stage codegen, no boxing
  * beyond the result row.
  *
  * REAL pixel decode (RFC 2083 / PNG spec, `java.util.zip.Inflater`
  * as the zlib): chunk walk → IDAT concatenation → inflate →
  * per-scanline unfilter (all five filter types) → integer pixel
  * sums. Supported layout is 8-bit truecolor RGB, non-interlaced —
  * the layout [[graft.multimodal.Png.encodeRgb]] writes and the
  * overwhelmingly common case; anything else (palette, alpha, 16-bit,
  * Adam7, malformed, truncated, oversized) degrades to
  * `decoded = false` with NULL stats, never an error and never a
  * garbage read.
  *
  * Output stats are pure integers (sums, not means; luma scaled by
  * 1000 via the 299/587/114 integer weights), so the q114 oracle
  * compares exact BIGINTs: DuckDB derives the same sums from the
  * fixture's pixel FORMULA while Spark derives them by decoding real
  * deflate+filtered bytes — hash equality proves the whole
  * inflate/unfilter path, not just the plumbing. */
object PngPixelUtil {

  private val NotDecoded: InternalRow = notDecoded(9)

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decoded 8-bit RGB image: `pix` holds 3·w·h unfiltered bytes in
    * scanline order. Null result = undecodable (any reason). */
  private[functions] final class DecodedRgb(
      val w: Int, val h: Int, val pix: Array[Byte])

  /** The full RFC-2083 decode path shared by [[stats]] and [[dhash]]:
    * signature → chunk walk → IDAT inflate → per-scanline unfilter.
    * Returns null for anything that is not a well-formed 8-bit
    * truecolor non-interlaced PNG within the pixel ceiling. */
  private[functions] def decodeRgb(bytes: Array[Byte]): DecodedRgb = {
    if (bytes == null || bytes.length < 8) return null
    if ((bytes(0) & 0xff) != 0x89 || bytes(1) != 'P' || bytes(2) != 'N' ||
        bytes(3) != 'G' || bytes(4) != '\r' || bytes(5) != '\n' ||
        bytes(6) != 0x1a || bytes(7) != '\n') return null

    // chunk walk: IHDR fields + concatenated IDAT payload, stop at IEND
    var pos = 8
    var w = -1L; var h = -1L
    var bitDepth = -1; var colorType = -1
    var compression = -1; var filterMethod = -1; var interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd && pos + 12 <= bytes.length) {
      val len = be32(bytes, pos)
      if (len < 0 || pos + 12 + len > bytes.length) return null
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (len != 13) return null
          w = be32(bytes, pos + 8); h = be32(bytes, pos + 12)
          bitDepth = bytes(pos + 16) & 0xff; colorType = bytes(pos + 17) & 0xff
          compression = bytes(pos + 18) & 0xff
          filterMethod = bytes(pos + 19) & 0xff
          interlace = bytes(pos + 20) & 0xff
        case "IDAT" => idat.write(bytes, pos + 8, len.toInt)
        case "IEND" => sawEnd = true
        case _ => // ancillary chunk: skip
      }
      pos += 12 + len.toInt
    }
    if (w <= 0 || h <= 0 || w * h > MaxPixels) return null
    if (bitDepth != 8 || colorType != 2 || compression != 0 ||
        filterMethod != 0 || interlace != 0) return null

    // inflate the scanline stream: h rows of (1 filter byte + 3w pixels)
    val stride = 3 * w.toInt
    val expected = h.toInt * (1 + stride)
    val raw = new Array[Byte](expected)
    val inflater = new Inflater()
    inflater.setInput(idat.toByteArray)
    val got = try {
      var off = 0
      while (off < expected && !inflater.finished()) {
        val n = inflater.inflate(raw, off, expected - off)
        if (n == 0 && inflater.needsInput()) return null // truncated
        off += n
      }
      off
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inflater.end()
    if (got != expected) return null

    // unfilter into the packed pixel array
    val pix = new Array[Byte](h.toInt * stride)
    val cur = new Array[Int](stride)
    val above = new Array[Int](stride)
    var y = 0
    var o = 0
    while (y < h) {
      val ft = raw(o) & 0xff; o += 1
      if (ft > 4) return null
      var i = 0
      while (i < stride) {
        val x = raw(o) & 0xff
        val a = if (i >= 3) cur(i - 3) else 0
        val b = if (y > 0) above(i) else 0
        val c = if (i >= 3 && y > 0) above(i - 3) else 0
        cur(i) = (ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => x + paeth(a, b, c)
        }) & 0xff
        pix(y.toInt * stride + i) = cur(i).toByte
        o += 1; i += 1
      }
      System.arraycopy(cur, 0, above, 0, stride)
      y += 1
    }
    new DecodedRgb(w.toInt, h.toInt, pix)
  }

  def stats(bytes: Array[Byte]): InternalRow = {
    val d = decodeRgb(bytes)
    if (d == null) return NotDecoded
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var i = 0
    while (i < d.pix.length) {
      sumR += d.pix(i) & 0xff; sumG += d.pix(i + 1) & 0xff
      sumB += d.pix(i + 2) & 0xff
      i += 3
    }
    val dominant = // max channel by sum, ties break r > g > b
      if (sumR >= sumG && sumR >= sumB) "r" else if (sumG >= sumB) "g" else "b"
    val luma = 299L * sumR + 587L * sumG + 114L * sumB
    val row = new GenericInternalRow(9)
    row.update(0, true)
    row.update(1, d.w.toLong); row.update(2, d.h.toLong)
    row.update(3, d.w.toLong * d.h)
    row.update(4, sumR); row.update(5, sumG); row.update(6, sumB)
    row.update(7, luma)
    row.update(8, UTF8String.fromString(dominant))
    row
  }

  /** dHash grid: 8 rows × 9 columns of integer luma1000 cell sums. */
  private val GridRows = 8
  private val GridCols = 9

  private val NoDhash: InternalRow = notDecoded(2)

  /** Difference hash (dHash) — THE standard perceptual image
    * fingerprint for near-duplicate detection: downscale to a 9×8
    * luma grid, emit one bit per horizontally-adjacent cell pair
    * (left > right), 64 bits total. Resilient to re-encoding, small
    * edits, and brightness shifts that change every raw byte (so
    * content-hash dedup misses them) while distinct images land far
    * apart in Hamming space.
    *
    * Exact-integer spec (shared with the DuckDB oracle): cell (r, c)
    * covers pixel rows [r·h/8, (r+1)·h/8) × cols [c·w/9, (c+1)·w/9)
    * (floor bounds — cells cover the image exactly, sizes differ by
    * ±1); cell value = SUM of luma1000 = 299R+587G+114B over the
    * cell; bit(r, c) = left cell mean > right cell mean, compared
    * EXACTLY as rationals via quotient-then-remainder (naive
    * cross-multiplication sums·cnts can exceed 2⁶³ at the pixel
    * ceiling; remainders are < cnt ≤ 2²⁴ so the remainder
    * cross-product is < 2⁴⁸ — always safe); bit index r·8+c,
    * LSB-first.
    * Images narrower than 9 or shorter than 8 px have empty cells —
    * declined (decoded = false) rather than hashed degenerately. */
  def dhash(bytes: Array[Byte]): InternalRow = {
    val d = decodeRgb(bytes)
    if (d == null || d.w < GridCols || d.h < GridRows) return NoDhash
    val sums = new Array[Long](GridRows * GridCols)
    val cnts = new Array[Long](GridRows * GridCols)
    var y = 0
    while (y < d.h) {
      val gr = y * GridRows / d.h
      var x = 0
      while (x < d.w) {
        val gc = x * GridCols / d.w
        val o = (y * d.w + x) * 3
        val luma = 299L * (d.pix(o) & 0xff) + 587L * (d.pix(o + 1) & 0xff) +
          114L * (d.pix(o + 2) & 0xff)
        sums(gr * GridCols + gc) += luma
        cnts(gr * GridCols + gc) += 1L
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < GridRows) {
      var c = 0
      while (c < GridCols - 1) {
        val l = r * GridCols + c
        val ql = sums(l) / cnts(l); val rl = sums(l) % cnts(l)
        val qr = sums(l + 1) / cnts(l + 1); val rr = sums(l + 1) % cnts(l + 1)
        if (ql > qr || (ql == qr && rl * cnts(l + 1) > rr * cnts(l)))
          hash |= 1L << (r * (GridCols - 1) + c)
        c += 1
      }
      r += 1
    }
    decodedHash(hash)
  }
}

/** PNG pixel statistics as a native codegen'd expression — the
  * per-image content-stats rung of the multimodal pipeline
  * ([[graft.multimodal.Multimodal]]'s header parses stay pure
  * projections; this is the one step that genuinely needs imperative
  * decode). Bytes never shuffle: the expression runs in the scan-side
  * projection and only the 9-field integer stats row leaves it. */
case class PngPixelStats(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = PngPixelStats.schema
  override def prettyName: String = "png_pixel_stats"
  override def walk(bytes: Array[Byte]): Any = PngPixelUtil.stats(bytes)
  override protected def withNewChildInternal(newChild: Expression): PngPixelStats =
    copy(child = newChild)
}

object PngPixelStats {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("width", LongType), StructField("height", LongType),
    StructField("n_pixels", LongType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType), StructField("sum_luma1000", LongType),
    StructField("dominant", StringType)))
}

/** Perceptual difference-hash of a PNG blob — see
  * [[PngPixelUtil.dhash]] for the exact-integer spec. Same scan-side
  * contract as [[PngPixelStats]]: media bytes never shuffle, only the
  * (decoded, 64-bit hash) struct leaves the projection. */
case class PngDhash(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = PngDhash.schema
  override def prettyName: String = "png_dhash"
  override def walk(bytes: Array[Byte]): Any = PngPixelUtil.dhash(bytes)
  override protected def withNewChildInternal(newChild: Expression): PngDhash =
    copy(child = newChild)
}

object PngDhash {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("dhash", LongType)))
}

/** REAL image RESIZE: decode → nearest-neighbor downsample →
  * re-encode. The feature-extract shelf's missing sibling: stats and
  * dhash REDUCE an image; a thumbnail is the first op that must
  * PRODUCE one, and it closes the decode→transform→encode round trip
  * with zero codec dependencies (the [[PngPixelUtil]] inflate/unfilter
  * decoder plus [[graft.multimodal.Png]]'s deflate encoder — both
  * java.util.zip).
  *
  * Semantics, all stated: integer stride s = max(1, ceil(w/maxDim),
  * ceil(h/maxDim)) — never upscales, aspect preserved up to the ceil;
  * thumb pixel (tx, ty) samples source (tx·s, ty·s) — top-left
  * nearest-neighbor, the deterministic zero-arithmetic kernel
  * (area-average antialiasing is a different operator by design);
  * output rows encode with filter 0. Undecodable input → NULL, the
  * family degrade contract.
  *
  * Scan-side contract: runs where the bytes are read; at 100 TB the
  * thumbnail column (≈ bytes/s²) is what shuffles or persists, never
  * the originals. */
object PngThumbUtil {
  def thumbnail(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    if (maxDim < 1) return null
    val d = PngPixelUtil.decodeRgb(bytes)
    if (d == null) return null
    val s = math.max(1, math.max((d.w + maxDim - 1) / maxDim,
      (d.h + maxDim - 1) / maxDim))
    val tw = (d.w + s - 1) / s
    val th = (d.h + s - 1) / s
    val stride = 3 * d.w
    graft.multimodal.Png.encodeRgb(tw, th, (tx, ty) => {
      val o = (ty * s) * stride + (tx * s) * 3
      ((d.pix(o) & 0xff, d.pix(o + 1) & 0xff, d.pix(o + 2) & 0xff))
    }, filterForRow = _ => 0)
  }
}

/** Nearest-neighbor PNG thumbnail as a native expression — see
  * [[PngThumbUtil.thumbnail]] for semantics and the degrade
  * contract. */
case class PngThumbnail(child: Expression, dim: Expression) extends BinaryIntWalker {
  override def left: Expression = child
  override def right: Expression = dim
  override def dataType: DataType = BinaryType
  override def prettyName: String = "png_thumbnail"
  override def walk(bytes: Array[Byte], param: Int): Any =
    PngThumbUtil.thumbnail(bytes, param)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PngThumbnail =
    copy(child = newLeft, dim = newRight)
}
