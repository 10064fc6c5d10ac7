package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Inflate

/** WARC (ISO 28500 / the CommonCrawl container) source — the format a
  * real 100 TB web-text corpus actually arrives in. The reference
  * (`alan-turing-institute/paqarin`) has no crawl surface; this is
  * north-star extension work built from the public WARC/1.x spec.
  *
  * Record grammar: `WARC/1.x` version line, CRLF-terminated named
  * headers (case-insensitive names) up to an empty line, exactly
  * `Content-Length` bytes of block, then CRLF CRLF before the next
  * record. `.warc.gz` files are ONE GZIP MEMBER PER RECORD (what makes
  * the format seekable at scale) — [[graft.ext.Inflate.gunzip]] walks
  * the member chain (bodies inflated by the JDK's zlib, every byte in
  * a checked member), so plain and gzipped archives share one path.
  *
  * Scale posture: [[read]] loads archives via the `binaryFile`
  * datasource — one task per file, records parsed INSIDE the task
  * (flatMap; no shuffle), which matches the corpus layout convention
  * (CommonCrawl caps segments near 1 GB so a file IS the work unit).
  * Only the projected record fields and payloads leave the task; a
  * downstream `select` that drops `payload` prunes it before any
  * exchange. Malformed archives fail loudly — a silent half-parse of a
  * crawl segment is corpus loss.
  *
  * For `response` records the block is an HTTP message; [[httpBody]]
  * splits the status/header preamble from the entity body so text
  * extraction starts from the payload a browser would see (chunked
  * transfer encodings are stored pre-decoded by crawlers per the WARC
  * spec convention; a `Transfer-Encoding: chunked` block fails loudly
  * rather than mis-splitting).
  */
object Warc {

  final case class WarcRecord(
      warc_type: String,
      target_uri: String,
      warc_date: String,
      record_id: String,
      content_type: String,
      content_length: Long,
      payload: Array[Byte])

  private val Crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** RFC 9112 header-line shape for a chunked Transfer-Encoding: name at
    * line start, optional whitespace around the colon, `chunked` anywhere
    * in the (possibly comma-separated) coding list. */
  private val ChunkedHeader = java.util.regex.Pattern.compile(
    "(?im)^transfer-encoding\\s*:.*chunked")

  /** Parse every record of one (already decompressed) WARC archive. */
  def parseRecords(b: Array[Byte]): Vector[WarcRecord] = {
    val out = Vector.newBuilder[WarcRecord]
    var pos = 0
    // tolerate trailing CRLFs at end-of-archive
    def skipCrlf(): Unit =
      while (pos + 1 < b.length && b(pos) == '\r' && b(pos + 1) == '\n')
        pos += 2
    def readLine(): String = {
      val start = pos
      while (pos + 1 < b.length && !(b(pos) == '\r' && b(pos + 1) == '\n'))
        pos += 1
      require(pos + 1 < b.length, "truncated WARC: unterminated header line")
      val s = new String(b, start, pos - start,
        java.nio.charset.StandardCharsets.UTF_8)
      pos += 2
      s
    }
    var nRecords = 0
    while ({ skipCrlf(); pos < b.length }) {
      val version = readLine()
      require(version.startsWith("WARC/1."),
        s"not a WARC record at offset $pos: version line '$version'")
      var warcType = ""
      var uri = ""
      var date = ""
      var id = ""
      var ctype = ""
      var clen = -1L
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        require(i > 0, s"corrupt WARC header line '$line'")
        val name = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-target-uri" => uri = value
          case "warc-date" => date = value
          case "warc-record-id" => id = value
          case "content-type" => ctype = value
          case "content-length" =>
            clen = java.lang.Long.parseLong(value)
          case _ => () // ancillary headers (digests, IP, …) skipped
        }
        line = readLine()
      }
      require(clen >= 0, "corrupt WARC: record without Content-Length")
      require(warcType.nonEmpty, "corrupt WARC: record without WARC-Type")
      require(pos + clen <= b.length,
        s"truncated WARC: block claims $clen bytes past archive end")
      val payload =
        java.util.Arrays.copyOfRange(b, pos, pos + clen.toInt)
      pos += clen.toInt
      out += WarcRecord(warcType, uri, date, id, ctype, clen, payload)
      nRecords += 1
    }
    val records = out.result()
    require(records.nonEmpty, "empty WARC archive")
    records
  }

  /** Decompress-if-gzip, then parse: the one entry point for both
    * `.warc` and `.warc.gz` bytes. */
  def parseArchive(b: Array[Byte]): Vector[WarcRecord] =
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      parseRecords(Inflate.gunzip(b))
    else parseRecords(b)

  /** Read WARC archives (plain or per-record-gzipped) into a DataFrame:
    * (archive_path, warc_type, target_uri, warc_date, record_id,
    * content_type, content_length, payload). One task per file via the
    * binaryFile source; parsing is a flatMap inside the task. */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        parseArchive(bytes).map(r => (path, r.warc_type, r.target_uri,
          r.warc_date, r.record_id, r.content_type, r.content_length,
          r.payload))
      }
      .toDF("archive_path", "warc_type", "target_uri", "warc_date",
        "record_id", "content_type", "content_length", "payload")
  }

  /** Split an HTTP response block into (status line, entity body): the
    * body a text-extraction stage consumes. Fails loudly on chunked
    * transfer encoding (crawlers store decoded blocks per the WARC
    * convention; a chunked block here means the archive is not in that
    * convention and naive splitting would corrupt the text). */
  def httpBody(block: Array[Byte]): (String, Array[Byte]) = {
    var pos = 0
    while (pos + 3 < block.length && !(block(pos) == '\r'
        && block(pos + 1) == '\n' && block(pos + 2) == '\r'
        && block(pos + 3) == '\n')) pos += 1
    require(pos + 3 < block.length,
      "corrupt HTTP block: no header/body separator")
    val head = new String(block, 0, pos,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // Structural header match, not a substring: legal forms like
    // "Transfer-Encoding:chunked" (no space) or "chunked, gzip" must
    // also be refused, or downstream text extraction would consume the
    // chunk-size framing lines as document content (round-17 advice).
    require(!ChunkedHeader.matcher(head).find(),
      "unsupported HTTP block: chunked transfer encoding " +
        "(WARC convention stores decoded blocks)")
    val statusLine = head.takeWhile(c => c != '\r' && c != '\n')
    (statusLine, java.util.Arrays.copyOfRange(block, pos + 4, block.length))
  }

  /** Encode records as a plain WARC archive (the inverse of
    * [[parseRecords]]); `gzipPerRecord` emits the seekable
    * one-member-per-record `.warc.gz` form. For fixtures and the
    * `warc_ingest` oracle query's synthetic archives. */
  def build(records: Seq[WarcRecord], gzipPerRecord: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    records.foreach { r =>
      val h = new StringBuilder()
      h.append("WARC/1.0\r\n")
      h.append("WARC-Type: ").append(r.warc_type).append("\r\n")
      if (r.target_uri.nonEmpty)
        h.append("WARC-Target-URI: ").append(r.target_uri).append("\r\n")
      if (r.warc_date.nonEmpty)
        h.append("WARC-Date: ").append(r.warc_date).append("\r\n")
      if (r.record_id.nonEmpty)
        h.append("WARC-Record-ID: ").append(r.record_id).append("\r\n")
      if (r.content_type.nonEmpty)
        h.append("Content-Type: ").append(r.content_type).append("\r\n")
      h.append("Content-Length: ").append(r.payload.length).append("\r\n")
      h.append("\r\n")
      val rec = new java.io.ByteArrayOutputStream()
      val hb = h.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      rec.write(hb, 0, hb.length)
      rec.write(r.payload, 0, r.payload.length)
      rec.write(Crlf, 0, 2); rec.write(Crlf, 0, 2)
      val recBytes = rec.toByteArray
      val outBytes =
        if (gzipPerRecord) Inflate.gzipStored(recBytes) else recBytes
      out.write(outBytes, 0, outBytes.length)
    }
    out.toByteArray
  }
}
