package graft.multimodal

import org.apache.spark.sql.Column

/** WARC/1.0 fixture writer + column wrapper — the byte-level
  * counterpart of [[graft.functions.WarcRecordUtil]] (ISO 28500,
  * public spec): each record is the version line, CRLF header lines,
  * a blank line, exactly Content-Length block bytes, and the
  * two-CRLF terminator; an archive is records concatenated. */
object Warc {

  /** One record; `extraHeaders` lets fixtures exercise pass-through
    * of headers the parser does not interpret. */
  def record(warcType: String, targetUri: Option[String],
             contentType: Option[String], block: Array[Byte],
             extraHeaders: Seq[(String, String)] = Nil): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    targetUri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
    extraHeaders.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    contentType.foreach(c => sb.append(s"Content-Type: $c\r\n"))
    sb.append(s"Content-Length: ${block.length}\r\n\r\n")
    sb.toString.getBytes("US-ASCII") ++ block ++
      "\r\n\r\n".getBytes("US-ASCII")
  }

  def archive(records: Array[Byte]*): Array[Byte] =
    records.foldLeft(Array.empty[Byte])(_ ++ _)

  /** WARC record inventory (one struct per record: type, target URI,
    * content type, length, block md5) via the native
    * [[graft.functions.WarcRecords]] walk — the crawl-ingest step
    * BEFORE the E104 HTML→text pass: filter to response records,
    * route by content type, dedup on the block digest, all without
    * the archive bytes ever shuffling. Malformed archives yield NULL
    * (whole array), never an error. */
  def warcRecords(bin: Column): Column =
    graft.functions.NativeFunctions.warcRecords(bin)

  /** The payload-carrying variant (adds a `block` binary field): the
    * extraction path a WARC→text pipeline explodes — filter to
    * response records, cast the block to string, feed the E104
    * HTML→text cascade. Kept separate from [[warcRecords]] because
    * Catalyst cannot prune nested array-struct fields out of an
    * expression result, so the metadata-only inventory must never
    * carry the blocks. */
  def warcPayloads(bin: Column): Column =
    graft.functions.NativeFunctions.warcPayloads(bin)
}
