package graft.ext

import java.util.zip.{Adler32, CRC32, CheckedOutputStream, DataFormatException, Inflater}

/** zlib (RFC 1950) and multi-member gzip (RFC 1952) readers over the
  * JDK's native zlib (`java.util.zip.Inflater`) — the decompression
  * half the PNG codec ([[Png]]) and the `.warc.gz` source
  * ([[graft.sources.Warc]]) sit on — plus the STORED-block writers
  * their encoders and fixtures use.
  *
  * Malformed input always errors with an `IllegalArgumentException`,
  * never a silent short decode or an unbounded loop (same posture as
  * the other codecs in this package): zlib's `DataFormatException`, a
  * preset-dictionary request and a stream whose input runs out before
  * its end are all mapped to one.
  */
object Inflate {

  // largest array the JVM hands out, less headroom: past it a decode
  // errors instead of dying in an OutOfMemoryError
  private val MaxOut = Int.MaxValue - 16

  /** Inflate the stream `inf` was given into `sink`, through `buf`,
    * until it ends, or until more than `limit` bytes have come out —
    * then exactly `limit + 1` have been written and the stream's trailer
    * is not read. Returns the number of bytes written. */
  private def drain(inf: Inflater, buf: Array[Byte], sink: java.io.OutputStream,
      limit: Long, what: String): Long = {
    var n = 0L
    while (!inf.finished() && n <= limit) {
      val k =
        try inf.inflate(buf, 0, math.min(buf.length, limit + 1 - n).toInt)
        catch {
          case e: DataFormatException => throw new IllegalArgumentException(
            if (e.getMessage == "incorrect data check") s"$what Adler-32 mismatch"
            else s"corrupt $what: ${e.getMessage}", e)
        }
      if (k == 0 && !inf.finished()) {
        require(!inf.needsDictionary(), "preset dictionaries not supported")
        throw new IllegalArgumentException(s"truncated $what stream")
      }
      sink.write(buf, 0, k)
      n += k
    }
    n
  }

  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** RFC 1950: header, DEFLATE body and Adler-32 trailer, all checked
    * by zlib. At most `limit` bytes are expected: a stream that holds
    * more stops inflating there and comes back `limit + 1` bytes long,
    * so a caller that knows the exact size (PNG, from IHDR) rejects it
    * without inflating the rest. */
  def zlibInflate(b: Array[Byte], limit: Int = MaxOut): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(limit, 1 << 20) + 1)
    val buf = new Array[Byte](math.min(limit, 1 << 16) + 1)
    val inf = new Inflater()
    try {
      inf.setInput(b)
      drain(inf, buf, out, limit, "zlib")
    } finally inf.end()
    out.toByteArray
  }

  /** RFC 1952 gzip decode — MULTI-MEMBER: a gzip file is a
    * concatenation of members and real-world corpus containers exploit
    * that (a CommonCrawl .warc.gz is one gzip member PER RECORD, which
    * is what makes the format seekable); all members' output is
    * concatenated. Header flags (FEXTRA/FNAME/FCOMMENT/FHCRC) are
    * walked here; the CRC-32 and ISIZE trailers of every member are
    * verified, and every byte must belong to a member — a corrupt,
    * truncated or junk-trailed archive errors, never silently drops
    * part of a corpus (`java.util.zip.GZIPInputStream` ignores what
    * follows the last member it can read). */
  def gunzip(b: Array[Byte]): Array[Byte] = {
    require(b.length >= 18 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b,
      s"not a gzip payload (${b.length} bytes)")
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length * 4L, 1L << 26).toInt)
    val inf = new Inflater(true) // raw DEFLATE: the member walk is ours
    val buf = new Array[Byte](math.min(b.length * 4L, 1L << 16).toInt)
    try {
      var pos = 0
      while (pos < b.length) {
        require(pos + 18 <= b.length, "truncated gzip member header")
        require((b(pos) & 0xff) == 0x1f && (b(pos + 1) & 0xff) == 0x8b,
          f"corrupt gzip: bad member magic at offset $pos")
        require((b(pos + 2) & 0xff) == 8,
          s"unsupported gzip compression method ${b(pos + 2) & 0xff}")
        val flg = b(pos + 3) & 0xff
        require((flg & 0xe0) == 0, "corrupt gzip: reserved FLG bits set")
        pos += 10 // MTIME/XFL/OS skipped
        if ((flg & 0x04) != 0) { // FEXTRA
          require(pos + 2 <= b.length, "truncated gzip FEXTRA")
          val xlen = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
          pos += 2 + xlen
          require(pos <= b.length, "truncated gzip FEXTRA data")
        }
        if ((flg & 0x08) != 0) { // FNAME: zero-terminated
          while (pos < b.length && b(pos) != 0) pos += 1
          require(pos < b.length, "truncated gzip FNAME"); pos += 1
        }
        if ((flg & 0x10) != 0) { // FCOMMENT
          while (pos < b.length && b(pos) != 0) pos += 1
          require(pos < b.length, "truncated gzip FCOMMENT"); pos += 1
        }
        if ((flg & 0x02) != 0) pos += 2 // FHCRC (header crc16, skipped)
        require(pos <= b.length, "truncated gzip header")
        inf.reset()
        inf.setInput(b, pos, b.length - pos)
        val room = MaxOut - out.size()
        val sink = new CheckedOutputStream(out, new CRC32())
        val n = drain(inf, buf, sink, room, "gzip member")
        require(n <= room, s"gzip output exceeds $MaxOut bytes")
        pos = b.length - inf.getRemaining()
        require(pos + 8 <= b.length, "truncated gzip member trailer")
        require(sink.getChecksum.getValue == u32le(b, pos),
          "gzip CRC-32 mismatch (corrupt member)")
        require((n & 0xffffffffL) == u32le(b, pos + 4),
          "gzip ISIZE mismatch (corrupt member)")
        pos += 8
      }
    } finally inf.end()
    out.toByteArray
  }

  /** Shared raw-DEFLATE stored-block emitter (BFINAL/LEN/NLEN framing,
    * ≤ 65535-byte blocks) — the body both [[zlibDeflateStored]] and
    * [[gzipStored]] wrap in their respective RFC 1950/1952 framing. */
  private def writeStoredBlocks(
      out: java.io.ByteArrayOutputStream, data: Array[Byte]): Unit = {
    var i = 0
    var first = true
    while (i < data.length || first) {
      first = false
      val blen = math.min(65535, data.length - i)
      val last = i + blen >= data.length
      out.write(if (last) 1 else 0)
      out.write(blen & 0xff); out.write((blen >> 8) & 0xff)
      out.write((blen ^ 0xffff) & 0xff); out.write(((blen ^ 0xffff) >> 8) & 0xff)
      out.write(data, i, blen)
      i += blen
    }
  }

  /** Minimal single-member gzip COMPRESSOR over STORED deflate blocks —
    * the [[zlibDeflateStored]] of RFC 1952, for fixtures and synthetic
    * `.warc.gz` payloads (valid gzip any decoder accepts). */
  def gzipStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 32)
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(0)
    for (_ <- 0 until 4) out.write(0) // MTIME
    out.write(0); out.write(255)      // XFL, OS=unknown
    writeStoredBlocks(out, data)
    val crc = new CRC32()
    crc.update(data)
    for (v <- Seq(crc.getValue, data.length.toLong); i <- 0 until 4)
      out.write(((v >> (8 * i)) & 0xff).toInt) // CRC-32, ISIZE: LE
    out.toByteArray
  }

  /** Minimal zlib COMPRESSOR emitting STORED deflate blocks (for the
    * [[Png]] encoder's fixtures/synthetic payloads — valid zlib any
    * inflater accepts; no entropy coding needed for that role). */
  def zlibDeflateStored(data: Array[Byte]): Array[Byte] = {
    val nBlocks = math.max(1, (data.length + 65534) / 65535)
    val out = new java.io.ByteArrayOutputStream(data.length + nBlocks * 5 + 6)
    out.write(0x78); out.write(0x01) // CMF/FLG: 32k window, check ok
    writeStoredBlocks(out, data)
    val adler = new Adler32()
    adler.update(data)
    for (i <- 3 to 0 by -1) // Adler-32: BE
      out.write(((adler.getValue >> (8 * i)) & 0xff).toInt)
    out.toByteArray
  }
}
