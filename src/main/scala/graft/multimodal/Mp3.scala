package graft.multimodal

import org.apache.spark.sql.Column

/** MPEG-1 Layer III (MP3) fixture writer + column wrapper —
  * byte-level counterpart of [[graft.functions.Mp3FrameUtil]]'s
  * frame walk (ISO/IEC 11172-3, public spec; frame-length arithmetic
  * per the published 144·bitrate/samplerate + padding formula).
  * Frames are headers + zero fill to the computed length — no audio
  * payload, this is the CONTAINER level (the Mp4/Gif discipline). */
object Mp3 {

  /** MPEG-1 Layer III bitrate table, kbps, index 1..14 (0 = free and
    * 15 = bad are the walk's refusal cases). */
  val BitrateKbps: IndexedSeq[Long] =
    IndexedSeq(0L, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320)

  /** MPEG-1 sample rates, Hz, index 0..2 (3 = reserved, refused). */
  val SampleRateHz: IndexedSeq[Long] = IndexedSeq(44100L, 48000L, 32000L)

  /** Frame length in bytes for MPEG-1 Layer III (the spec formula,
    * floor division — CRC, when present, lives INSIDE this length). */
  def frameBytes(bitrateIdx: Int, sampleRateIdx: Int, padding: Boolean): Long =
    144L * BitrateKbps(bitrateIdx) * 1000L / SampleRateHz(sampleRateIdx) +
      (if (padding) 1L else 0L)

  /** One frame: 4-byte header + optional 16-bit CRC placeholder +
    * zero fill to the computed frame length. */
  def frame(bitrateIdx: Int, sampleRateIdx: Int, padding: Boolean,
            crc: Boolean): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14, "bitrate index 1..14")
    require(sampleRateIdx >= 0 && sampleRateIdx <= 2, "sample rate index 0..2")
    val len = frameBytes(bitrateIdx, sampleRateIdx, padding).toInt
    val b1 = (0xfa | (if (crc) 0 else 1)).toByte // sync|MPEG1|LayerIII|prot
    val b2 = ((bitrateIdx << 4) | (sampleRateIdx << 2) |
      (if (padding) 2 else 0)).toByte
    val out = new Array[Byte](len)
    out(0) = 0xff.toByte
    out(1) = b1
    out(2) = b2
    out(3) = 0 // stereo, no mode extension
    out
  }

  /** A stream: optional ID3v2 prefix (any [[Id3.tag]] bytes), the
    * frames back to back, optional 128-byte ID3v1 "TAG" trailer. */
  def encodeStream(frames: Seq[(Int, Int, Boolean, Boolean)],
                   id3v2: Option[Array[Byte]] = None,
                   id3v1Trailer: Boolean = false): Array[Byte] = {
    val body = frames.map { case (br, sr, pad, crc) =>
      frame(br, sr, pad, crc)
    }.foldLeft(Array.empty[Byte])(_ ++ _)
    val trailer =
      if (id3v1Trailer)
        "TAG".getBytes("US-ASCII") ++ new Array[Byte](125)
      else Array.empty[Byte]
    id3v2.getOrElse(Array.empty[Byte]) ++ body ++ trailer
  }

  /** Per-frame MP3 inventory — see [[graft.functions.Mp3FrameUtil]]. */
  def mp3Frames(bin: Column): Column =
    graft.functions.NativeFunctions.mp3Frames(bin)
}
