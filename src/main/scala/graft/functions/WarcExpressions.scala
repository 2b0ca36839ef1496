package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC record inventory via the ISO 28500 (WARC/1.0/1.1) record
  * walk — the CRAWL-INGEST container a web-scale training-data
  * pipeline actually reads (Common-Crawl-style archives): a file is
  * concatenated records, each `WARC/1.x\r\n` + header lines
  * (`Name: value`, names case-insensitive) + `\r\n` + exactly
  * `Content-Length` block bytes + `\r\n\r\n`. One row per record:
  * type, target URI, content type, content length, the block's byte
  * offset, and the block's md5 — the handle downstream stages key on
  * (the E104 HTML→text pass consumes response blocks; dedup keys on
  * the digest). UNCOMPRESSED records only, stated — per-record gzip
  * members are a transport detail this environment's zero-codec
  * contract leaves to the reader layer.
  *
  * Degrade contract (the container-family discipline): wrong version
  * line, a header section without its blank-line terminator, a
  * missing/non-numeric/negative Content-Length, a block or terminator
  * running past EOF — NULL (the whole array), never an exception and
  * never a partial inventory that silently drops the tail.
  *
  * Scan-side contract: runs where the bytes are read; the archive
  * bytes never shuffle — only the per-record metadata rows leave the
  * projection. */
object WarcRecordUtil {

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Null on malformed; else one row per record in file order:
    * (record_index, warc_type, target_uri, content_type,
    * content_length, block_md5[, block]). Absent optional headers
    * surface as NULL fields; WARC-Type and Content-Length are
    * mandatory. `withBlock = false` keeps the inventory LEAN (the
    * block bytes never materialize — Catalyst cannot prune nested
    * array-struct fields produced by an expression, so carrying them
    * "just in case" would double memory on every metadata-only scan);
    * `withBlock = true` is the extraction path a WARC→text pipeline
    * explodes. */
  def records(bytes: Array[Byte], withBlock: Boolean): ArrayData = {
    if (bytes == null || bytes.length < 12) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var pos = 0
    while (pos < bytes.length) {
      // version line
      val ve = lineEnd(bytes, pos)
      if (ve < 0) return null
      val version = new String(bytes, pos, ve - pos, "US-ASCII")
      if (version != "WARC/1.0" && version != "WARC/1.1") return null
      var hp = ve + 2
      var warcType: String = null
      var uri: String = null
      var ctype: String = null
      var clen = -1L
      var headersDone = false
      while (!headersDone) {
        val he = lineEnd(bytes, hp)
        if (he < 0) return null
        if (he == hp) { headersDone = true } // blank line
        else {
          val line = new String(bytes, hp, he - hp, "US-ASCII")
          val colon = line.indexOf(':')
          if (colon <= 0) return null
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          key match {
            case "warc-type" => warcType = value
            case "warc-target-uri" => uri = value
            case "content-type" => ctype = value
            case "content-length" =>
              clen = try value.toLong catch { case _: Exception => -1L }
            case _ => () // other headers pass through unparsed
          }
        }
        hp = he + 2
      }
      if (warcType == null || clen < 0) return null
      val blockOff = hp
      if (blockOff.toLong + clen + 4 > bytes.length) return null
      // payload digest: md5 of exactly the Content-Length block bytes
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(bytes, blockOff, clen.toInt)
      val hex = md.digest().map("%02x".format(_)).mkString
      // record terminator: the spec's two CRLFs
      val t = blockOff + clen.toInt
      if (bytes(t) != '\r' || bytes(t + 1) != '\n' ||
        bytes(t + 2) != '\r' || bytes(t + 3) != '\n') return null
      val row = new GenericInternalRow(if (withBlock) 7 else 6)
      row.update(0, out.length.toLong)
      row.update(1, UTF8String.fromString(warcType))
      row.update(2, if (uri == null) null else UTF8String.fromString(uri))
      row.update(3, if (ctype == null) null else UTF8String.fromString(ctype))
      row.update(4, clen)
      row.update(5, UTF8String.fromString(hex))
      if (withBlock) row.update(6,
        java.util.Arrays.copyOfRange(bytes, blockOff, blockOff + clen.toInt))
      out += row
      pos = t + 4
    }
    if (out.isEmpty) return null // an empty archive carries no records
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** WARC record inventory as a native codegen'd expression — see
  * [[WarcRecordUtil.records]]. `withBlock` selects the payload-
  * carrying extraction variant. */
case class WarcRecords(child: Expression, withBlock: Boolean)
    extends BinaryWalker(walkMayReturnNull = true) {
  override def dataType: DataType =
    if (withBlock) WarcRecords.schemaWithBlock else WarcRecords.schema
  override def prettyName: String = "warc_records"
  override def walk(bytes: Array[Byte]): Any = WarcRecordUtil.records(bytes, withBlock)
  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object WarcRecords {
  private def fields: Seq[StructField] = Seq(
    StructField("record_index", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType, nullable = false),
    StructField("block_md5", StringType, nullable = false))
  val recordSchema: StructType = StructType(fields)
  val schema: DataType = ArrayType(recordSchema, containsNull = false)
  val schemaWithBlock: DataType = ArrayType(
    StructType(fields :+ StructField("block", BinaryType, nullable = false)),
    containsNull = false)
}
