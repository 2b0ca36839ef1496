package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.WalkBytes._

/** MP4 / ISO-BMFF container metadata via the box walk (ISO/IEC
  * 14496-12, public spec; no codec libs): a file is a sequence of
  * `[size:u32][type:4cc][payload]` boxes, `size == 1` promotes to a
  * 64-bit largesize after the type, `size == 0` means to-EOF (legal
  * only for the last top-level box). The first box must be `ftyp`
  * (major brand read); `moov`'s children are walked for `mvhd`
  * (timescale/duration at version-dependent offsets — v0 u32 times,
  * v1 u64) and the `trak` count. This is the VIDEO rung of the
  * scan-side container family (PNG/JPEG/GIF/WAV): the typed metadata
  * a curation pipeline filters on — duration, track count, brand —
  * before paying for any decode (pixel/sample decode for general
  * codecs stays stubbed per the environment contract,
  * [[graft.multimodal.Multimodal.stubDecode]]).
  *
  * Degrade contract (the family discipline): wrong first box,
  * truncation anywhere (header, largesize, payload, moov child),
  * a child overrunning its parent, zero/overflowing sizes, missing
  * or unknown-version mvhd, zero timescale — `decoded = false` with
  * NULL fields, never an exception, never a garbage read.
  *
  * Scan-side contract: runs where the bytes are read; only the small
  * typed struct leaves the projection — media bytes never shuffle. */
object Mp4HeaderUtil {

  private val NotDecoded: InternalRow = notDecoded(9)

  private val FTYP = fourcc("ftyp".getBytes, 0)
  private val MOOV = fourcc("moov".getBytes, 0)
  private val MVHD = fourcc("mvhd".getBytes, 0)
  private val TRAK = fourcc("trak".getBytes, 0)
  private val MDAT = fourcc("mdat".getBytes, 0)

  def meta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 16) return NotDecoded
    var pos = 0L
    val n = bytes.length.toLong
    var brand: UTF8String = null
    var timescale = -1L
    var duration = -1L
    var mvhdVer = -1
    var nTracks = 0L
    var nTop = 0L
    var hasMdat = false
    var first = true
    while (pos < n) {
      if (pos + 8 > n) return NotDecoded
      var size = be32(bytes, pos.toInt)
      val t = fourcc(bytes, pos.toInt + 4)
      var hdr = 8L
      if (size == 1) {
        if (pos + 16 > n) return NotDecoded
        size = be64(bytes, pos.toInt + 8)
        hdr = 16L
      } else if (size == 0) {
        size = n - pos // to-EOF: the spec's last-box form
      }
      if (size < hdr || size > n - pos) return NotDecoded
      if (first) {
        if (t != FTYP || size < hdr + 4) return NotDecoded
        brand = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, (pos + hdr).toInt,
            (pos + hdr + 4).toInt))
        first = false
      } else if (t == MDAT) {
        hasMdat = true
      } else if (t == MOOV) {
        var cp = pos + hdr
        val end = pos + size
        while (cp < end) {
          if (cp + 8 > end) return NotDecoded
          var cs = be32(bytes, cp.toInt)
          val ct = fourcc(bytes, cp.toInt + 4)
          var ch = 8L
          if (cs == 1) {
            if (cp + 16 > end) return NotDecoded
            cs = be64(bytes, cp.toInt + 8)
            ch = 16L
          } else if (cs == 0) {
            cs = end - cp // to-end-of-parent
          }
          if (cs < ch || cs > end - cp) return NotDecoded
          if (ct == TRAK) nTracks += 1
          else if (ct == MVHD) {
            val o = (cp + ch).toInt
            if (ch + 4 > cs) return NotDecoded
            val v = bytes(o) & 0xff
            mvhdVer = v
            if (v == 0) {
              if (ch + 20 > cs) return NotDecoded
              timescale = be32(bytes, o + 12)
              duration = be32(bytes, o + 16)
            } else if (v == 1) {
              if (ch + 32 > cs) return NotDecoded
              timescale = be32(bytes, o + 20)
              duration = be64(bytes, o + 24)
            } else return NotDecoded
          }
          cp += cs
        }
      }
      nTop += 1
      pos += size
    }
    if (brand == null || mvhdVer < 0 || timescale <= 0 || duration < 0 ||
      duration > Long.MaxValue / 1000) return NotDecoded
    val r = new GenericInternalRow(9)
    r.update(0, true)
    r.update(1, brand)
    r.update(2, mvhdVer)
    r.update(3, timescale)
    r.update(4, duration)
    r.update(5, duration * 1000L / timescale)
    r.update(6, nTracks)
    r.update(7, nTop)
    r.update(8, hasMdat)
    r
  }
}

/** Per-track MP4 inventory via the same box walk as [[Mp4HeaderUtil]]
  * — the `gifFrames` analog for video: one row per `trak` in stream
  * order with its `tkhd` fields (track id, duration, pixel dimensions
  * from the 16.16 fixed-point width/height), which is what a
  * frame-sampling or track-selection pipeline filters on (keep the
  * video track, drop sub-second tracks, bucket by resolution) BEFORE
  * paying for any sample decode. Both tkhd versions handled at their
  * spec offsets (v0 u32 times, v1 u64).
  *
  * Degrade contract: identical to [[Mp4HeaderUtil.meta]] — any
  * malformation (bad top-level structure, child overrun, a trak
  * without a parseable tkhd, unknown tkhd version) yields NULL (the
  * whole array), never an exception. */
object Mp4TrackUtil {

  private val FTYP = fourcc("ftyp".getBytes, 0)
  private val MOOV = fourcc("moov".getBytes, 0)
  private val TRAK = fourcc("trak".getBytes, 0)
  private val TKHD = fourcc("tkhd".getBytes, 0)

  /** Null on malformed; else one 6-field row per trak in stream
    * order: (track_index, track_id, tkhd_version, duration, width_px,
    * height_px). */
  def tracks(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 16) return null
    val n = bytes.length.toLong
    var pos = 0L
    var first = true
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    while (pos < n) {
      if (pos + 8 > n) return null
      var size = be32(bytes, pos.toInt)
      val t = fourcc(bytes, pos.toInt + 4)
      var hdr = 8L
      if (size == 1) {
        if (pos + 16 > n) return null
        size = be64(bytes, pos.toInt + 8)
        hdr = 16L
      } else if (size == 0) size = n - pos
      if (size < hdr || size > n - pos) return null
      if (first && t != FTYP) return null
      first = false
      if (t == MOOV) {
        var cp = pos + hdr
        val end = pos + size
        while (cp < end) {
          if (cp + 8 > end) return null
          var cs = be32(bytes, cp.toInt)
          val ct = fourcc(bytes, cp.toInt + 4)
          var ch = 8L
          if (cs == 1) {
            if (cp + 16 > end) return null
            cs = be64(bytes, cp.toInt + 8)
            ch = 16L
          } else if (cs == 0) cs = end - cp
          if (cs < ch || cs > end - cp) return null
          if (ct == TRAK) {
            // first tkhd child of this trak
            var tp = cp + ch
            val tend = cp + cs
            var found = false
            while (!found && tp < tend) {
              if (tp + 8 > tend) return null
              var ts = be32(bytes, tp.toInt)
              val tt = fourcc(bytes, tp.toInt + 4)
              var th = 8L
              if (ts == 1) {
                if (tp + 16 > tend) return null
                ts = be64(bytes, tp.toInt + 8)
                th = 16L
              } else if (ts == 0) ts = tend - tp
              if (ts < th || ts > tend - tp) return null
              if (tt == TKHD) {
                val o = (tp + th).toInt
                if (th + 4 > ts) return null
                val v = bytes(o) & 0xff
                val row = new GenericInternalRow(6)
                row.update(0, out.length.toLong)
                if (v == 0) {
                  if (th + 84 > ts) return null
                  row.update(1, be32(bytes, o + 12)) // track_ID
                  row.update(2, 0)
                  row.update(3, be32(bytes, o + 20)) // duration
                  row.update(4, be32(bytes, o + 76) >> 16)
                  row.update(5, be32(bytes, o + 80) >> 16)
                } else if (v == 1) {
                  if (th + 96 > ts) return null
                  row.update(1, be32(bytes, o + 20))
                  row.update(2, 1)
                  row.update(3, be64(bytes, o + 28))
                  row.update(4, be32(bytes, o + 88) >> 16)
                  row.update(5, be32(bytes, o + 92) >> 16)
                } else return null
                out += row
                found = true
              }
              tp += ts
            }
            if (!found) return null // a trak without a tkhd: malformed
          }
          cp += cs
        }
      }
      pos += size
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Per-track MP4 inventory as a native codegen'd expression — see
  * [[Mp4TrackUtil.tracks]]. */
case class Mp4Tracks(child: Expression)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType = Mp4Tracks.schema
  override def prettyName: String = "mp4_tracks"
  override def walk(bytes: Array[Byte]): Any = Mp4TrackUtil.tracks(bytes)
  override protected def withNewChildInternal(newChild: Expression): Mp4Tracks =
    copy(child = newChild)
}

object Mp4Tracks {
  val trackSchema: StructType = StructType(Seq(
    StructField("track_index", LongType, nullable = false),
    StructField("track_id", LongType, nullable = false),
    StructField("tkhd_version", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("width_px", LongType, nullable = false),
    StructField("height_px", LongType, nullable = false)))
  val schema: DataType = ArrayType(trackSchema, containsNull = false)
}

/** Per-SAMPLE MP4 inventory via the sample tables (ISO/IEC 14496-12
  * §8.6/§8.7: stts decoding-time runs, stss sync samples, stsz sizes)
  * — the video FRAME-SAMPLE rung: one row per sample per track with
  * its decoding timestamp (media-timescale units, the cumulative sum
  * of the stts run deltas), size, and keyframe flag, which is what a
  * frame-sampling pipeline filters BEFORE paying for any decode (keep
  * keyframes only, every-Nth, duration-bucketed — all plain filters
  * on these rows). stss ABSENT means every sample is sync, per the
  * spec; the stsz `sample_count` field must equal the stts total in
  * both the uniform and the per-sample-table form (a mismatch is lost
  * sync → NULL). The walk descends moov → trak → {tkhd} and
  * mdia → {mdhd} → minf → stbl → {stts, stss, stsz}, skipping
  * unknown siblings (stsd, nmhd, dinf, …) by their declared sizes.
  *
  * Scale guard: the expansion is bounded by [[Mp4SampleUtil.MaxSamples]]
  * TOTAL samples per file — a header is ~bytes but its stts runs can
  * DECLARE billions of samples (a 60-byte bomb); the cap is checked
  * from the run totals BEFORE any allocation, and exceeding it
  * degrades to NULL like every other malformation (never an
  * exception, never an unbounded allocation). Real movies beyond the
  * cap are out of inventory scope by contract — the stated trade
  * (curation fixtures and per-shard media are header-bounded; a
  * production re-tune raises one constant).
  *
  * Degrade contract (the family discipline): bad top-level structure,
  * child overrun, a trak missing tkhd/mdhd/stts/stsz, unknown
  * versions, zero media timescale, table counts that disagree or
  * overrun their box, stss entries out of [1, total], cap overflow —
  * all yield NULL (the whole array), never an exception. */
object Mp4SampleUtil {

  /** Hard ceiling on expanded samples per file (all tracks). */
  val MaxSamples: Int = 16384

  private val FTYP = fourcc("ftyp".getBytes, 0)
  private val MOOV = fourcc("moov".getBytes, 0)
  private val TRAK = fourcc("trak".getBytes, 0)
  private val TKHD = fourcc("tkhd".getBytes, 0)
  private val MDIA = fourcc("mdia".getBytes, 0)
  private val MDHD = fourcc("mdhd".getBytes, 0)
  private val MINF = fourcc("minf".getBytes, 0)
  private val STBL = fourcc("stbl".getBytes, 0)
  private val STTS = fourcc("stts".getBytes, 0)
  private val STSS = fourcc("stss".getBytes, 0)
  private val STSZ = fourcc("stsz".getBytes, 0)

  /** Null on malformed; else one 7-field row per sample in (track
    * stream order, sample number) order: (track_id, media_timescale,
    * sample_index 1-based, dts, delta, size, is_sync). */
  def samples(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 16) return null
    val n = bytes.length.toLong
    var pos = 0L
    var first = true
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]

    // returns false on malformation (caller returns null)
    def walkTrak(tp0: Long, tend: Long): Boolean = {
      var trackId = -1L
      var mediaTs = -1L
      var runs: Array[Long] = null   // flattened (count, delta) pairs
      var nRuns = -1
      var stssArr: Array[Long] = null
      var hasStss = false
      var hasStts = false
      var hasStsz = false
      var uniformSize = -1L
      var stszCount = -1L
      var stszTableOff = -1  // byte offset of the per-sample table
      var tp = tp0
      while (tp < tend) {
        if (tp + 8 > tend) return false
        var ts = be32(bytes, tp.toInt)
        val tt = fourcc(bytes, tp.toInt + 4)
        var th = 8L
        if (ts == 1) {
          if (tp + 16 > tend) return false
          ts = be64(bytes, tp.toInt + 8)
          th = 16L
        } else if (ts == 0) ts = tend - tp
        if (ts < th || ts > tend - tp) return false
        if (tt == TKHD) {
          val o = (tp + th).toInt
          if (th + 4 > ts) return false
          val v = bytes(o) & 0xff
          if (v == 0) {
            if (th + 16 > ts) return false
            trackId = be32(bytes, o + 12)
          } else if (v == 1) {
            if (th + 24 > ts) return false
            trackId = be32(bytes, o + 20)
          } else return false
        } else if (tt == MDIA) {
          var mp = tp + th
          val mend = tp + ts
          while (mp < mend) {
            if (mp + 8 > mend) return false
            var ms = be32(bytes, mp.toInt)
            val mt = fourcc(bytes, mp.toInt + 4)
            var mh = 8L
            if (ms == 1) {
              if (mp + 16 > mend) return false
              ms = be64(bytes, mp.toInt + 8)
              mh = 16L
            } else if (ms == 0) ms = mend - mp
            if (ms < mh || ms > mend - mp) return false
            if (mt == MDHD) {
              val o = (mp + mh).toInt
              if (mh + 4 > ms) return false
              val v = bytes(o) & 0xff
              if (v == 0) {
                if (mh + 16 > ms) return false
                mediaTs = be32(bytes, o + 12)
              } else if (v == 1) {
                if (mh + 24 > ms) return false
                mediaTs = be32(bytes, o + 20)
              } else return false
            } else if (mt == MINF) {
              var fp = mp + mh
              val fend = mp + ms
              while (fp < fend) {
                if (fp + 8 > fend) return false
                var fs = be32(bytes, fp.toInt)
                val ft = fourcc(bytes, fp.toInt + 4)
                var fh = 8L
                if (fs == 1) {
                  if (fp + 16 > fend) return false
                  fs = be64(bytes, fp.toInt + 8)
                  fh = 16L
                } else if (fs == 0) fs = fend - fp
                if (fs < fh || fs > fend - fp) return false
                if (ft == STBL) {
                  var sp = fp + fh
                  val send = fp + fs
                  while (sp < send) {
                    if (sp + 8 > send) return false
                    var ss = be32(bytes, sp.toInt)
                    val st = fourcc(bytes, sp.toInt + 4)
                    var sh = 8L
                    if (ss == 1) {
                      if (sp + 16 > send) return false
                      ss = be64(bytes, sp.toInt + 8)
                      sh = 16L
                    } else if (ss == 0) ss = send - sp
                    if (ss < sh || ss > send - sp) return false
                    val o = (sp + sh).toInt
                    val payload = ss - sh
                    if (st == STTS) {
                      if (payload < 8) return false
                      val ec = be32(bytes, o + 4)
                      if (8L + ec * 8L > payload) return false
                      nRuns = ec.toInt
                      runs = new Array[Long](nRuns * 2)
                      var i = 0
                      while (i < nRuns) {
                        runs(2 * i) = be32(bytes, o + 8 + 8 * i)
                        runs(2 * i + 1) = be32(bytes, o + 12 + 8 * i)
                        i += 1
                      }
                      hasStts = true
                    } else if (st == STSS) {
                      if (payload < 8) return false
                      val ec = be32(bytes, o + 4)
                      if (8L + ec * 4L > payload) return false
                      stssArr = new Array[Long](ec.toInt)
                      var i = 0
                      while (i < ec.toInt) {
                        stssArr(i) = be32(bytes, o + 8 + 4 * i)
                        i += 1
                      }
                      hasStss = true
                    } else if (st == STSZ) {
                      if (payload < 12) return false
                      uniformSize = be32(bytes, o + 4)
                      stszCount = be32(bytes, o + 8)
                      if (uniformSize == 0) {
                        if (12L + stszCount * 4L > payload) return false
                        stszTableOff = o + 12
                      }
                      hasStsz = true
                    }
                    sp += ss
                  }
                }
                fp += fs
              }
            }
            mp += ms
          }
        }
        tp += ts
      }
      if (trackId < 0 || mediaTs <= 0 || !hasStts || !hasStsz) return false
      var total = 0L
      var r = 0
      while (r < nRuns) {
        total += runs(2 * r)
        if (total > MaxSamples) return false // cap BEFORE any allocation
        r += 1
      }
      if (stszCount != total) return false
      if (hasStss) {
        var i = 0
        while (i < stssArr.length) {
          if (stssArr(i) < 1 || stssArr(i) > total) return false
          i += 1
        }
      }
      if (out.length + total > MaxSamples) return false
      val sync = new Array[Boolean](total.toInt)
      if (!hasStss) java.util.Arrays.fill(sync, true)
      else {
        var i = 0
        while (i < stssArr.length) {
          sync(stssArr(i).toInt - 1) = true
          i += 1
        }
      }
      var dts = 0L
      var k = 0
      r = 0
      while (r < nRuns) {
        val cnt = runs(2 * r)
        val delta = runs(2 * r + 1)
        var j = 0L
        while (j < cnt) {
          val row = new GenericInternalRow(7)
          row.update(0, trackId)
          row.update(1, mediaTs)
          row.update(2, k + 1L)
          row.update(3, dts)
          row.update(4, delta)
          row.update(5,
            if (uniformSize > 0) uniformSize
            else be32(bytes, stszTableOff + 4 * k))
          row.update(6, sync(k))
          out += row
          dts += delta
          k += 1
          j += 1
        }
        r += 1
      }
      true
    }

    while (pos < n) {
      if (pos + 8 > n) return null
      var size = be32(bytes, pos.toInt)
      val t = fourcc(bytes, pos.toInt + 4)
      var hdr = 8L
      if (size == 1) {
        if (pos + 16 > n) return null
        size = be64(bytes, pos.toInt + 8)
        hdr = 16L
      } else if (size == 0) size = n - pos
      if (size < hdr || size > n - pos) return null
      if (first && t != FTYP) return null
      first = false
      if (t == MOOV) {
        var cp = pos + hdr
        val end = pos + size
        while (cp < end) {
          if (cp + 8 > end) return null
          var cs = be32(bytes, cp.toInt)
          val ct = fourcc(bytes, cp.toInt + 4)
          var ch = 8L
          if (cs == 1) {
            if (cp + 16 > end) return null
            cs = be64(bytes, cp.toInt + 8)
            ch = 16L
          } else if (cs == 0) cs = end - cp
          if (cs < ch || cs > end - cp) return null
          if (ct == TRAK) {
            if (!walkTrak(cp + ch, cp + cs)) return null
          }
          cp += cs
        }
      }
      pos += size
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Per-sample MP4 inventory as a native codegen'd expression — see
  * [[Mp4SampleUtil.samples]]. */
case class Mp4Samples(child: Expression)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType = Mp4Samples.schema
  override def prettyName: String = "mp4_samples"
  override def walk(bytes: Array[Byte]): Any = Mp4SampleUtil.samples(bytes)
  override protected def withNewChildInternal(newChild: Expression): Mp4Samples =
    copy(child = newChild)
}

object Mp4Samples {
  val sampleSchema: StructType = StructType(Seq(
    StructField("track_id", LongType, nullable = false),
    StructField("media_timescale", LongType, nullable = false),
    StructField("sample_index", LongType, nullable = false),
    StructField("dts", LongType, nullable = false),
    StructField("delta", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("is_sync", BooleanType, nullable = false)))
  val schema: DataType = ArrayType(sampleSchema, containsNull = false)
}

/** MP4 container metadata as a native codegen'd expression — see
  * [[Mp4HeaderUtil.meta]] for the walk and the degrade contract. */
case class Mp4Header(child: Expression)
    extends BinaryWalker(walkMayReturnNull = false) {
  override def dataType: DataType = Mp4Header.schema
  override def prettyName: String = "mp4_header"
  override def walk(bytes: Array[Byte]): Any = Mp4HeaderUtil.meta(bytes)
  override protected def withNewChildInternal(newChild: Expression): Mp4Header =
    copy(child = newChild)
}

object Mp4Header {
  val schema: StructType = StructType(Seq(
    StructField("decoded", BooleanType, nullable = false),
    StructField("major_brand", StringType),
    StructField("mvhd_version", IntegerType),
    StructField("timescale", LongType),
    StructField("duration", LongType),
    StructField("duration_ms", LongType),
    StructField("n_tracks", LongType),
    StructField("n_top_boxes", LongType),
    StructField("has_mdat", BooleanType)))
}
