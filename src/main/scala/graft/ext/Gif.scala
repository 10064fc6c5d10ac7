package graft.ext

/** GIF codec (GIF87a/89a, from the public specification) — the third
  * entropy-coded image family after [[Jpeg]] (Huffman+DCT) and [[Png]]
  * (DEFLATE, inflated by the JDK's zlib): from-scratch variable-width LZW with the GIF quirks that
  * break naive implementations — length-prefixed data sub-blocks,
  * LSB-first code packing, clear/end-of-information codes, code width
  * growth in lockstep with the decoder-side dictionary, the 4096-entry
  * cap with deferred-clear tolerance, and Adam-less 4-pass row
  * interlacing. Multi-image files (animations) decode to one frame per
  * image descriptor.
  *
  * Scope: global and local color tables, interlaced and sequential
  * frames, 89a extensions skipped (graphic control / comment /
  * application); frames are decoded to their OWN pixel rectangles —
  * canvas compositing with disposal methods is a renderer concern, not
  * a feature-extraction one (each frame's pixels are what dedup hashes;
  * documented, not silent). Transparency indices render as their
  * palette color for the same reason. Missing color tables, bad LZW
  * codes, truncated sub-blocks all fail loudly.
  *
  * The worker twin (`scripts/media_worker.py` `decode_gif`) re-implements
  * the LZW decoder in pure python and must agree bit-for-bit; the
  * committed fixture is written by an independent python LZW COMPRESSOR
  * (real adaptive compression, exercising dictionary hits and width
  * growth), while [[encode]] emits the literal-codes-with-periodic-clear
  * form (valid LZW any decoder accepts — what the stored-block
  * [[Inflate.zlibDeflateStored]] writer is to zlib).
  */
object Gif {

  /** One decoded frame: its own rectangle (left, top, w, h) on the
    * logical screen and its top-down RGB pixels. */
  final case class GifFrame(
      left: Int, top: Int, width: Int, height: Int,
      interlaced: Boolean, rgb: Array[Byte])

  final case class GifImage(
      width: Int, height: Int, frames: Vector[GifFrame])

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Decode all frames of a GIF payload. */
  def decode(b: Array[Byte]): GifImage = {
    require(b.length >= 13, s"not a GIF payload (${b.length} bytes)")
    val hdr = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    require(hdr == "GIF87a" || hdr == "GIF89a",
      s"not a GIF payload (header '$hdr')")
    val w = u16(b, 6)
    val h = u16(b, 8)
    require(w > 0 && h > 0, s"unsupported GIF dimensions ${w}x$h")
    require(w.toLong * h <= (64L << 20),
      s"unreasonable GIF dimensions ${w}x$h (> 64 MP)")
    val packed = b(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      require(pos + 3 * n <= b.length, "truncated GIF global color table")
      gct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
      pos += 3 * n
    }
    val frames = Vector.newBuilder[GifFrame]
    // AGGREGATE output budget across frames: LZW reaches ~2700:1, so a
    // small multi-frame file could legally expand each frame to the
    // per-frame cap — without a per-FILE bound a ~1 MB adversarial GIF
    // allocates gigabytes before any entropy-stream check can fail
    // (round-17 review finding). Same 64 MP total as the single-image
    // guard: an animation over it is not a training document.
    var totalPixels = 0L
    var done = false
    while (!done) {
      require(pos < b.length, "truncated GIF: no trailer")
      (b(pos) & 0xff) match {
        case 0x3b => done = true // trailer
        case 0x21 => // extension: label + sub-blocks, all skipped
          require(pos + 2 <= b.length, "truncated GIF extension")
          pos += 2
          var blen = -1
          while (blen != 0) {
            require(pos < b.length, "truncated GIF extension sub-blocks")
            blen = b(pos) & 0xff
            pos += 1 + blen
            require(pos <= b.length, "truncated GIF extension sub-blocks")
          }
        case 0x2c => // image descriptor
          require(pos + 10 <= b.length, "truncated GIF image descriptor")
          val left = u16(b, pos + 1)
          val top = u16(b, pos + 3)
          val fw = u16(b, pos + 5)
          val fh = u16(b, pos + 7)
          require(fw > 0 && fh > 0, s"unsupported GIF frame ${fw}x$fh")
          totalPixels += fw.toLong * fh
          require(totalPixels <= (64L << 20),
            "unreasonable GIF: frames total > 64 MP")
          val fp = b(pos + 9) & 0xff
          val interlaced = (fp & 0x40) != 0
          pos += 10
          var ct = gct
          if ((fp & 0x80) != 0) {
            val n = 2 << (fp & 7)
            require(pos + 3 * n <= b.length, "truncated GIF local color table")
            ct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
            pos += 3 * n
          }
          require(ct != null, "corrupt GIF: frame without any color table")
          require(pos < b.length, "truncated GIF image data")
          val minCode = b(pos) & 0xff
          pos += 1
          require(minCode >= 2 && minCode <= 8,
            s"corrupt GIF: LZW minimum code size $minCode")
          // concatenate the length-prefixed data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var blen = -1
          while (blen != 0) {
            require(pos < b.length, "truncated GIF image sub-blocks")
            blen = b(pos) & 0xff
            require(pos + 1 + blen <= b.length, "truncated GIF image sub-blocks")
            if (blen > 0) data.write(b, pos + 1, blen)
            pos += 1 + blen
          }
          val idx = lzwDecode(data.toByteArray, minCode, fw * fh)
          val nColors = ct.length / 3
          val rgb = new Array[Byte](fw * fh * 3)
          var p = 0
          while (p < fw * fh) {
            // interlaced frames store rows in 4 passes (8/8 from 0,
            // 8/8 from 4, 4/4 from 2, 2/2 from 1) — map storage row
            // order back to display order
            val srcRow = p / fw
            val dstRow = if (!interlaced) srcRow else deinterlace(srcRow, fh)
            val ci = idx(p) & 0xff
            require(ci < nColors, s"corrupt GIF: color index $ci of $nColors")
            val d = (dstRow * fw + p % fw) * 3
            rgb(d) = ct(3 * ci)
            rgb(d + 1) = ct(3 * ci + 1)
            rgb(d + 2) = ct(3 * ci + 2)
            p += 1
          }
          frames += GifFrame(left, top, fw, fh, interlaced, rgb)
        case other => throw new IllegalArgumentException(
          f"corrupt GIF: unknown block type 0x$other%02X")
      }
    }
    // result() once: ReusableBuilder leaves a second call undefined
    val fs = frames.result()
    require(fs.nonEmpty, "corrupt GIF: no image frames")
    GifImage(w, h, fs)
  }

  /** Display row for the `i`-th STORED row of an interlaced frame of
    * height `h` (GIF89a appendix E four-pass order). */
  private def deinterlace(i: Int, h: Int): Int = {
    val p1 = (h + 7) / 8          // rows 0, 8, 16, …
    val p2 = (h + 3) / 8          // rows 4, 12, …
    val p3 = (h + 1) / 4          // rows 2, 6, …
    if (i < p1) i * 8
    else if (i < p1 + p2) 4 + (i - p1) * 8
    else if (i < p1 + p2 + p3) 2 + (i - p1 - p2) * 4
    else 1 + (i - p1 - p2 - p3) * 2
  }

  /** GIF variable-width LZW decode to exactly `expected` color indices.
    * Dictionary as (prefix code, suffix byte) pairs; codes LSB-first;
    * width grows when the next free slot reaches 2^width (to the 12-bit
    * cap — a full table stops growing until a clear code, tolerating
    * encoders that defer clears). */
  private[ext] def lzwDecode(
      data: Array[Byte], minCode: Int, expected: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    var n = 0
    var width = minCode + 1
    var next = clear + 2
    var prev = -1
    var bitPos = 0
    val totalBits = data.length * 8
    val stack = new Array[Byte](4096)
    def readCode(): Int = {
      require(bitPos + width <= totalBits,
        "truncated GIF LZW stream")
      var v = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        v |= ((data(bp >> 3) >> (bp & 7)) & 1) << i
        i += 1
      }
      bitPos += width
      v
    }
    var done = false
    while (!done && n < expected) {
      val code = readCode()
      if (code == clear) {
        width = minCode + 1
        next = clear + 2
        prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        require(code < next || (code == next && prev >= 0),
          s"corrupt GIF: LZW code $code with table size $next")
        // expand the code (or the prev+head special case) onto a stack
        var sp = 0
        var c = code
        if (code == next) {
          // KwKwK case: entry = prev expansion + its own first byte
          c = prev
          stack(sp) = 0; sp += 1 // placeholder for first byte, patched below
        }
        while (c >= clear + 2) {
          stack(sp) = suffix(c); sp += 1
          c = prefix(c)
        }
        require(c < clear, s"corrupt GIF: LZW chain ends at code $c")
        val firstByte = c.toByte
        if (code == next) stack(0) = firstByte
        // emit: first byte, then the stack reversed
        require(n + 1 + sp <= expected,
          "corrupt GIF: LZW output exceeds frame size")
        out(n) = firstByte; n += 1
        var i = sp - 1
        while (i >= 0) { out(n) = stack(i); n += 1; i -= 1 }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          suffix(next) = firstByte
          next += 1
          // STANDARD GIF width growth: widen when the stored-entry
          // count reaches 2^width, so the next code reads one bit
          // wider. Verified against an independent mainstream encoder
          // (Java ImageIO) in MultimodalSpec — a TIFF-style "early
          // change" (next+1) desyncs on every real GIF that crosses a
          // width boundary (round-17 review finding, empirically
          // settled in both directions).
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    require(n == expected,
      s"corrupt GIF: LZW decoded $n of $expected pixels")
    out
  }

  /** Encode palette frames as a GIF89a. `palette` is packed RGB (2..256
    * entries, padded to a power of two); each frame is (left, top, w, h,
    * interlaced, indices). LZW is emitted as literal codes with a
    * periodic clear before any width growth — valid, uncompressed-style
    * (see class doc); the committed fixture covers real compression. */
  def encode(
      width: Int,
      height: Int,
      palette: Array[Byte],
      frames: Seq[(Int, Int, Int, Int, Boolean, Array[Byte])]): Array[Byte] = {
    require(palette.length % 3 == 0 && palette.length >= 6
        && palette.length <= 768, s"bad palette size ${palette.length}")
    require(frames.nonEmpty, "need at least one frame")
    val nColors = palette.length / 3
    var bits = 1
    while ((1 << bits) < nColors) bits += 1
    val tableN = 1 << bits
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    w16(width); w16(height)
    out.write(0x80 | (bits - 1)) // GCT present, size 2^bits
    out.write(0); out.write(0)   // background, aspect
    out.write(palette, 0, palette.length)
    for (i <- palette.length / 3 until tableN) {
      out.write(0); out.write(0); out.write(0) // pad to power of two
    }
    val minCode = math.max(2, bits)
    val clear = 1 << minCode
    val eoi = clear + 1
    frames.foreach { case (left, top, fw, fh, interlaced, indices) =>
      require(indices.length == fw * fh,
        s"frame needs ${fw * fh} indices, got ${indices.length}")
      require(indices.forall(i => (i & 0xff) < nColors),
        "frame index out of palette range")
      out.write(0x2c)
      w16(left); w16(top); w16(fw); w16(fh)
      out.write(if (interlaced) 0x40 else 0x00)
      out.write(minCode)
      // literal codes with a REAL encoder's width tracking: each
      // emission (except a group's last-before-flush) defines a table
      // entry on the decoder side, so the code width grows in the
      // mainstream early-change lockstep (counter one ahead of the
      // decoder's stored entries — see lzwDecode); a clear resets
      // before the 12-bit table could fill
      var codeW = minCode + 1
      val bitBuf = new java.io.ByteArrayOutputStream()
      var acc = 0L
      var nbits = 0
      def putCode(c: Int): Unit = {
        acc |= c.toLong << nbits
        nbits += codeW
        while (nbits >= 8) {
          bitBuf.write((acc & 0xff).toInt)
          acc >>= 8
          nbits -= 8
        }
      }
      // storage order: interlaced frames store rows in pass order
      val order: Seq[Int] =
        if (!interlaced) 0 until fh
        else (0 until fh by 8) ++ (4 until fh by 8) ++
          (2 until fh by 4) ++ (1 until fh by 2)
      putCode(clear)
      // `stored` mirrors the DECODER's dictionary size exactly: it adds
      // one entry per code read EXCEPT the first after a clear, and
      // widens when the count reaches 2^width (the standard rule,
      // ImageIO-verified) — so the widths this encoder writes are the
      // widths any mainstream decoder will read
      var stored = clear + 2
      var firstInGroup = true
      order.foreach { row =>
        var x = 0
        while (x < fw) {
          putCode(indices(row * fw + x) & 0xff)
          if (firstInGroup) firstInGroup = false
          else {
            stored += 1
            if (stored == (1 << codeW) && codeW < 12) codeW += 1
            if (stored == 4095) {
              putCode(clear)
              codeW = minCode + 1
              stored = clear + 2
              firstInGroup = true
            }
          }
          x += 1
        }
      }
      putCode(eoi)
      if (nbits > 0) bitBuf.write((acc & 0xff).toInt)
      val dataBytes = bitBuf.toByteArray
      var off = 0
      while (off < dataBytes.length) {
        val blen = math.min(255, dataBytes.length - off)
        out.write(blen)
        out.write(dataBytes, off, blen)
        off += blen
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
