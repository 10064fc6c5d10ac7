package graft.ext

/** PNG codec (RFC 2083 / ISO 15948) over the JDK's zlib (through
  * [[Inflate.zlibInflate]]) — the lossless half of the entropy-coded
  * image story ([[Jpeg]] being the lossy half; the reference,
  * `alan-turing-institute/paqarin`, has no media surface — north-star
  * extension). The PNG layer is from the public spec: the 8-byte
  * signature, chunk framing with CRC-32 verification, IHDR geometry,
  * PLTE palettes, multi-IDAT concatenation, and the five scanline
  * filters (None/Sub/Up/Average/Paeth — §6; the Paeth predictor's
  * tie-break order left/above/upper-left is load-bearing).
  *
  * Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
  * 4 (gray+alpha), 6 (RGBA), non-interlaced. Everything else — 16-bit,
  * 1/2/4-bit depths, Adam7 interlacing, missing IDAT/PLTE — fails
  * loudly (a silent wrong decode poisons every downstream feature), as
  * does image data that inflates to more or fewer bytes than IHDR
  * implies (inflation stops just past the expected size).
  * Output is top-down RGB ([[Multimodal.bmpPixels]] layout): gray
  * replicates, palette looks up, alpha is DROPPED (features are
  * computed over opaque pixel values; compositing policy belongs to
  * callers). PNG is lossless, so unlike the JPEG path the decoded
  * pixels of a synthetic payload equal the encoder's input — which is
  * what lets `mm_features_png` carry a full closed-form DuckDB oracle
  * rather than a golden pin.
  *
  * The worker twin (`scripts/media_worker.py` `decode_png`) decodes
  * with python's zlib and must agree bit-for-bit on the defilter and
  * color expansion.
  */
object Png {

  private val Signature: Array[Int] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def u32be(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Decode a PNG to (width, height, top-down RGB bytes). */
  def decode(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(b.length >= 8 && (0 until 8).forall(i => (b(i) & 0xff) == Signature(i)),
      s"not a PNG payload (${b.length} bytes)")
    var pos = 8
    var w = -1
    var h = -1
    var bitDepth = -1
    var colorType = -1
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var seenIend = false
    while (!seenIend) {
      require(pos + 8 <= b.length, "truncated PNG: no IEND chunk")
      val len = u32be(b, pos)
      require(len <= Int.MaxValue - 12 && pos + 12 + len <= b.length,
        s"truncated PNG chunk (claims $len bytes)")
      val ctype = new String(b, pos + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val dataOff = pos + 8
      val dataLen = len.toInt
      // CRC covers the type + data (spec §5.3)
      val crc = u32be(b, dataOff + dataLen)
      val got = crc32(b, pos + 4, 4 + dataLen)
      require(got == crc,
        f"PNG chunk '$ctype' CRC mismatch: got $got%08x, file says $crc%08x")
      ctype match {
        case "IHDR" =>
          require(dataLen == 13, "corrupt PNG: bad IHDR length")
          w = u32be(b, dataOff).toInt
          h = u32be(b, dataOff + 4).toInt
          require(w > 0 && h > 0, s"unsupported PNG dimensions ${w}x$h")
          require(w.toLong * h <= (64L << 20),
            s"unreasonable PNG dimensions ${w}x$h (> 64 MP)") // OOM guard
          bitDepth = b(dataOff + 8) & 0xff
          colorType = b(dataOff + 9) & 0xff
          require(bitDepth == 8,
            s"unsupported PNG bit depth $bitDepth (only 8)")
          require(Set(0, 2, 3, 4, 6).contains(colorType),
            s"unsupported PNG color type $colorType")
          require((b(dataOff + 10) & 0xff) == 0 && (b(dataOff + 11) & 0xff) == 0,
            "unsupported PNG compression/filter method")
          require((b(dataOff + 12) & 0xff) == 0,
            "unsupported PNG: Adam7 interlacing")
        case "PLTE" =>
          require(dataLen % 3 == 0 && dataLen <= 768, "corrupt PNG PLTE")
          palette = java.util.Arrays.copyOfRange(b, dataOff, dataOff + dataLen)
        case "IDAT" =>
          require(w > 0, "corrupt PNG: IDAT before IHDR")
          idat.write(b, dataOff, dataLen)
        case "IEND" => seenIend = true
        case _ =>
          // ancillary chunks (tEXt, gAMA, tRNS transparency, …) are
          // skipped; critical unknown chunks (uppercase first letter)
          // must not be ignored per §5.4
          require((ctype.charAt(0) & 0x20) != 0,
            s"unsupported critical PNG chunk '$ctype'")
      }
      pos = dataOff + dataLen + 4
    }
    require(w > 0, "corrupt PNG: missing IHDR")
    if (colorType == 3)
      require(palette != null, "corrupt PNG: palette image without PLTE")
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    val stride = w * channels
    val expected = (stride + 1) * h // <= 4 x 64 MP + h: fits an Int
    val raw = Inflate.zlibInflate(idat.toByteArray, expected)
    val size = if (raw.length > expected) s"more than $expected"
      else raw.length.toString
    require(raw.length == expected, s"corrupt PNG: inflated $size bytes, " +
      s"expected $expected for ${w}x$h x$channels")

    // defilter in place into a flat sample buffer (spec §6.3-6.6):
    // a/b/c = left, above, upper-left RECONSTRUCTED samples, per byte,
    // with the per-pixel byte offset `channels` back
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val src = y * (stride + 1) + 1
      val dst = y * stride
      var x = 0
      ft match {
        case 0 =>
          System.arraycopy(raw, src, px, dst, stride)
        case 1 => // Sub
          while (x < stride) {
            val a = if (x >= channels) px(dst + x - channels) & 0xff else 0
            px(dst + x) = ((raw(src + x) & 0xff) + a).toByte
            x += 1
          }
        case 2 => // Up
          while (x < stride) {
            val up = if (y > 0) px(dst - stride + x) & 0xff else 0
            px(dst + x) = ((raw(src + x) & 0xff) + up).toByte
            x += 1
          }
        case 3 => // Average
          while (x < stride) {
            val a = if (x >= channels) px(dst + x - channels) & 0xff else 0
            val up = if (y > 0) px(dst - stride + x) & 0xff else 0
            px(dst + x) = ((raw(src + x) & 0xff) + ((a + up) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          while (x < stride) {
            val a = if (x >= channels) px(dst + x - channels) & 0xff else 0
            val up = if (y > 0) px(dst - stride + x) & 0xff else 0
            val c = if (y > 0 && x >= channels)
              px(dst - stride + x - channels) & 0xff else 0
            px(dst + x) = ((raw(src + x) & 0xff) + paeth(a, up, c)).toByte
            x += 1
          }
        case other => throw new IllegalArgumentException(
          s"corrupt PNG: filter type $other on row $y")
      }
      y += 1
    }

    // expand to top-down RGB
    val rgb = new Array[Byte](w * h * 3)
    var p = 0
    val n = w * h
    colorType match {
      case 0 =>
        while (p < n) {
          val v = px(p)
          rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
          p += 1
        }
      case 2 =>
        System.arraycopy(px, 0, rgb, 0, n * 3)
      case 3 =>
        val nEntries = palette.length / 3
        while (p < n) {
          val idx = px(p) & 0xff
          require(idx < nEntries,
            s"corrupt PNG: palette index $idx of $nEntries")
          rgb(3 * p) = palette(3 * idx)
          rgb(3 * p + 1) = palette(3 * idx + 1)
          rgb(3 * p + 2) = palette(3 * idx + 2)
          p += 1
        }
      case 4 =>
        while (p < n) {
          val v = px(2 * p) // alpha dropped
          rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
          p += 1
        }
      case 6 =>
        while (p < n) {
          rgb(3 * p) = px(4 * p)
          rgb(3 * p + 1) = px(4 * p + 1)
          rgb(3 * p + 2) = px(4 * p + 2) // alpha dropped
          p += 1
        }
    }
    (w, h, rgb)
  }

  /** §6.6 Paeth predictor — the left/above/upper-left tie-break ORDER
    * is part of the format (reordering decodes garbage). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val pp = a + b - c
    val pa = math.abs(pp - a)
    val pb = math.abs(pp - b)
    val pc = math.abs(pp - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  private def w32be(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
    out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }

  private def chunk(
      out: java.io.ByteArrayOutputStream, ctype: String,
      data: Array[Byte]): Unit = {
    w32be(out, data.length.toLong)
    val typed = ctype.getBytes(
      java.nio.charset.StandardCharsets.US_ASCII) ++ data
    out.write(typed, 0, typed.length)
    w32be(out, crc32(typed, 0, typed.length))
  }

  /** Encode top-down RGB as an 8-bit truecolor PNG (filter 0 rows,
    * STORED-block zlib — valid PNG any decoder accepts; [[decode]] of
    * the result is the identity on pixels). `filterSub` applies the Sub
    * filter to every row instead, exercising the defilter path in
    * round-trips. */
  def encode(
      w: Int, h: Int, rgbTopDown: Array[Byte],
      filterSub: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(rgbTopDown.length == w * h * 3,
      s"need ${w * h * 3} RGB bytes, got ${rgbTopDown.length}")
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = if (filterSub) 1 else 0
      var x = 0
      while (x < stride) {
        val v = rgbTopDown(y * stride + x) & 0xff
        val a = if (filterSub && x >= 3) rgbTopDown(y * stride + x - 3) & 0xff else 0
        raw(y * (stride + 1) + 1 + x) = (v - a).toByte
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream(raw.length + 128)
    Signature.foreach(out.write)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >> 24) & 0xff).toByte; ihdr(1) = ((w >> 16) & 0xff).toByte
    ihdr(2) = ((w >> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >> 24) & 0xff).toByte; ihdr(5) = ((h >> 16) & 0xff).toByte
    ihdr(6) = ((h >> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // truecolor
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", Inflate.zlibDeflateStored(raw))
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
