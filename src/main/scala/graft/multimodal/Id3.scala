package graft.multimodal

import org.apache.spark.sql.Column

/** ID3v2 fixture writer + column wrapper — byte-level counterpart of
  * [[graft.functions.Id3FrameUtil]] (id3.org ID3v2.3/2.4, public
  * spec): 10-byte tag header with the 28-bit syncsafe size, frames of
  * id + size (plain u32 in v2.3, syncsafe in v2.4) + 2 flag bytes +
  * payload; text frames carry the encoding byte. */
object Id3 {

  private def syncsafe(v: Long): Array[Byte] = Array(
    ((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
    ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)

  private def u32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** One text frame (`T…` id, encoding 0 = Latin-1 or 3 = UTF-8). */
  def textFrame(id: String, text: String, major: Int,
                utf8: Boolean = true): Array[Byte] = {
    require(id.length == 4, "frame id must be 4 chars")
    val payload = Array((if (utf8) 3 else 0).toByte) ++
      text.getBytes(if (utf8) "UTF-8" else "ISO-8859-1")
    val size = if (major == 4) syncsafe(payload.length) else u32(payload.length)
    id.getBytes("US-ASCII") ++ size ++ Array[Byte](0, 0) ++ payload
  }

  /** A non-text binary frame (e.g. a PRIV blob). */
  def binFrame(id: String, payload: Array[Byte], major: Int): Array[Byte] = {
    val size = if (major == 4) syncsafe(payload.length) else u32(payload.length)
    id.getBytes("US-ASCII") ++ size ++ Array[Byte](0, 0) ++ payload
  }

  /** A whole tag (major 3 or 4) with optional zero padding after the
    * frames — the spec's padding region the walk must stop at. */
  def tag(major: Int, frames: Seq[Array[Byte]],
          padding: Int = 0): Array[Byte] = {
    require(major == 3 || major == 4)
    val body = frames.foldLeft(Array.empty[Byte])(_ ++ _) ++
      Array.fill[Byte](padding)(0)
    "ID3".getBytes("US-ASCII") ++ Array(major.toByte, 0.toByte, 0.toByte) ++
      syncsafe(body.length) ++ body
  }

  /** ID3v2 frame inventory (one struct per frame: id, size, decoded
    * text for Latin-1/UTF-8 text frames) via the native
    * [[graft.functions.Id3Frames]] walk — the audio-metadata
    * inventory a curation pipeline filters on (title/artist/album
    * language routing, PRIV-blob policy) before any sample decode.
    * Malformed tags yield NULL (whole array), never an error. */
  def id3Frames(bin: Column): Column =
    graft.functions.NativeFunctions.id3Frames(bin)
}
