package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines (north-star
  * extension). Media payloads are opaque `binary` columns with typed
  * metadata; decode / feature-extraction run per-partition in batches so a
  * real codec (image/audio libs are absent in this container) can be
  * dropped in without touching the Spark-side plumbing.
  *
  * The decode step itself is a clearly-marked deterministic STUB
  * (`stubDecode`): it derives pseudo-features from the raw bytes so the
  * schema, partitioning, batch shape and tests are all real.
  */
object Multimodal {

  /** One media item: payload + typed metadata. */
  final case class MediaItem(
      media_id: Long,
      payload: Array[Byte],
      format: String,
      source: String)

  /** Decoded features (what a real image/audio decoder would emit). */
  final case class MediaFeatures(
      media_id: Long,
      byte_len: Int,
      first_cp: Int,
      checksum: Long,
      width: Int,
      height: Int)

  /** STUB decoder — stands in for an image/audio codec. Deterministic pure
    * function of the payload bytes: byte length, first byte, a rolling
    * checksum, and fake dimensions derived from the length. Replace the
    * body with a real codec (e.g. TwelveMonkeys/JCodec) when available;
    * the signature is the contract.
    */
  def stubDecode(item: MediaItem): MediaFeatures = {
    val bytes = item.payload
    // first Unicode code point of the UTF-8 payload (0 when empty) — a
    // cross-engine-checkable stand-in for "decoded header field"
    val first =
      if (bytes.isEmpty) 0
      else new String(bytes, java.nio.charset.StandardCharsets.UTF_8).codePointAt(0)
    var cs = 0L
    var i = 0
    while (i < bytes.length) { // batch-friendly tight loop, no boxing
      cs = (cs * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    MediaFeatures(
      media_id = item.media_id,
      byte_len = bytes.length,
      first_cp = first,
      checksum = cs,
      width = bytes.length % 640 + 16,
      height = (bytes.length / 640) % 480 + 16)
  }

  /** Decode a media Dataset partition-wise. `mapPartitions` keeps the codec
    * initialization (a real decoder's native context) once per partition
    * and streams items through it — the Scala analogue of `mapInPandas`
    * batch plumbing.
    */
  def decode(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // real codec would be initialized here, once per partition
      it.map(stubDecode)
    }
  }

  /** Frame-sampling plumbing: pick every `stride`-th chunk of `chunkLen`
    * bytes as a pseudo-frame (a video decoder would seek keyframes). Shows
    * the explode-to-frames shape: one row per sampled frame.
    */
  def sampleFrames(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      chunkLen: Int,
      stride: Int): DataFrame =
    df.select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0),
              greatest((octet_length(col(payloadCol)) / (chunkLen * stride))
                .cast("int") - 1, lit(0))),
            i => substring(col(payloadCol), (i * chunkLen * stride + 1).cast("int"), lit(chunkLen))))
          .as(Seq("frame_idx", "frame_bytes")))

  /** Container-format sniffing from magic bytes — REAL logic (not a stub):
    * classifies a binary payload by its leading signature without decoding.
    * Pure column expressions (hex prefix compare), so it codegens and
    * pushes through scans; the cheap pre-filter before any expensive
    * decode fan-out ("route PNGs to the image pool, WAVs to audio").
    */
  def sniffFormat(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val p8 = hex(substring(payload, 1, 8))
    // RIFF is a container: the subtype tag at bytes 9-12 distinguishes
    // WAVE audio from WEBP images and AVI video
    val riffTag = hex(substring(payload, 9, 4))
    when(p8.startsWith("424D"), "image/bmp")
      // "P6" + whitespace (space/LF/CR/TAB) — binary NetPBM pixmap
      .when(p8.startsWith("503620") || p8.startsWith("50360A")
        || p8.startsWith("50360D") || p8.startsWith("503609"),
        "image/x-portable-pixmap")
      .when(p8.startsWith("89504E47"), "image/png")
      .when(p8.startsWith("FFD8FF"), "image/jpeg")
      .when(p8.startsWith("474946383"), "image/gif")
      .when(p8.startsWith("52494646") && riffTag === "57415645", "audio/wav")
      .when(p8.startsWith("52494646") && riffTag === "57454250", "image/webp")
      .when(p8.startsWith("52494646") && riffTag === "41564920", "video/avi")
      .when(p8.startsWith("1A45DFA3"), "video/webm") // EBML/Matroska
      .when(p8.startsWith("25504446"), "application/pdf")
      .otherwise("application/octet-stream")
  }

  /** Batched resize plumbing: groups a partition's items into fixed-size
    * batches before invoking the (stub) kernel — the shape a real
    * vectorized/GPU codec needs (one native call per batch, not per item).
    * The stub records the batch size each item was processed with, so the
    * batching behavior itself is testable; a real resize drops into
    * `resizeKernel` without touching the Spark plumbing.
    */
  final case class ResizedMedia(
      media_id: Long,
      width: Int,
      height: Int,
      batch_size: Int)

  def resizeBatch(
      items: Dataset[MediaItem],
      targetW: Int,
      targetH: Int,
      batchSize: Int = 32): Dataset[ResizedMedia] = {
    import items.sparkSession.implicits._
    def resizeKernel(batch: Seq[MediaItem]): Seq[ResizedMedia] =
      // real codec: one vectorized call over the whole batch here
      batch.map(i => ResizedMedia(i.media_id, targetW, targetH, batch.size))
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap(g => resizeKernel(g.toSeq))
    }
  }

  /** Media → embedding seam: a deterministic pseudo-embedding from the
    * payload bytes (stride-sampled, hashed per dimension, L2-normalized in
    * the kernel's float math). Stands in for a real vision/audio encoder;
    * downstream ANN dedup (`ext.Similarity`) composes unchanged.
    */
  final case class MediaEmbedding(media_id: Long, embedding: Seq[Float])

  def stubEmbed(items: Dataset[MediaItem], dim: Int = 16): Dataset[MediaEmbedding] = {
    import items.sparkSession.implicits._
    items.map { item =>
      val raw = new Array[Float](dim)
      val bytes = item.payload
      var i = 0
      while (i < bytes.length) {
        raw(i % dim) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      val norm = math.sqrt(raw.map(x => x.toDouble * x).sum)
      val out =
        if (norm == 0.0) raw.toSeq
        else raw.map(x => (x / norm).toFloat).toSeq
      MediaEmbedding(item.media_id, out)
    }
  }

  /** Arrow-batch codec seam — the columnar twin of the row-batched
    * [[decode]]/[[resizeBatch]] plumbing (the machinery PySpark's
    * `mapInArrow` uses, reached through
    * [[org.apache.spark.sql.GraftArrowBridge]]): the media table leaves
    * Spark as serialized Arrow IPC record batches, an external worker
    * (pyarrow / native codec — absent in this container, so the seam is
    * the identity by default) transforms batch-by-batch, and the result
    * re-enters as a DataFrame with zero per-row serialization on either
    * side. `batchTransform` receives and returns Arrow IPC bytes;
    * `outSchema` declares the worker's output schema (defaults to the
    * input schema for in-place feature rewrites).
    */
  def transformViaArrow(
      df: DataFrame,
      batchTransform: Array[Byte] => Array[Byte] = identity,
      outSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.GraftArrowBridge
    // self-contained chunks (schema preamble + batch): the worker reads
    // each with a bare pyarrow.ipc.open_stream and answers in kind — no
    // out-of-band schema transport in either direction
    val out = GraftArrowBridge.toSelfContainedBatchRdd(df).map(batchTransform)
    GraftArrowBridge.fromSelfContainedBatchRdd(df.sparkSession, out,
      outSchema.getOrElse(df.schema))
  }

  /** Executor-side subprocess pump for [[transformViaArrow]]: pipe one
    * Arrow IPC batch through `cmd`'s stdin/stdout (one stateless worker
    * process per batch — the shape a pooled GPU encoder sits behind; a
    * long-lived pool drops in here without touching the Spark side).
    * Fails loudly with the worker's stderr on a non-zero exit.
    *
    * stdin and stderr are pumped on their own threads while this thread
    * reads stdout, so a chatty worker (a long traceback, GPU/torch
    * logging past the ~64KB OS pipe buffer) can never deadlock the task:
    * all three pipes always have a dedicated reader/writer. Captured
    * stderr is capped at `maxStderrBytes` (the pipe keeps draining past
    * the cap — only capture stops). `timeout` bounds the WHOLE call via a
    * watchdog that force-kills the process at the deadline — a worker
    * that wedges before producing output (CUDA init deadlock), stalls
    * mid-stream, or closes stdout and never exits all unblock the task
    * the same way: the kill closes the pipes, the read loops see EOF,
    * and the call throws. The drainer join is short-bounded so a
    * grandchild holding the stderr write end open (an inherited logging
    * daemon) cannot stall a successful batch. */
  def pipeThroughWorker(
      cmd: Seq[String],
      timeout: java.time.Duration = java.time.Duration.ofMinutes(10),
      maxStderrBytes: Int = 1 << 20): Array[Byte] => Array[Byte] =
    (batch: Array[Byte]) => {
      val pb = new ProcessBuilder(cmd: _*)
      val proc = pb.start()
      val out = new java.io.ByteArrayOutputStream()
      val err = new java.io.ByteArrayOutputStream()
      @volatile var timedOut = false
      val killer = new Thread(() => {
        try {
          if (!proc.waitFor(timeout.toMillis,
              java.util.concurrent.TimeUnit.MILLISECONDS)) {
            timedOut = true
            proc.destroyForcibly()
          }
        } catch { case _: InterruptedException => () } // normal completion
      })
      killer.setDaemon(true)
      killer.start()
      val writer = new Thread(() => {
        try { proc.getOutputStream.write(batch); proc.getOutputStream.close() }
        catch { case _: java.io.IOException => () } // worker died first
      })
      writer.setDaemon(true)
      writer.start()
      @volatile var errTruncated = false
      val errDrainer = new Thread(() => {
        val ebuf = new Array[Byte](64 * 1024)
        try {
          var n = proc.getErrorStream.read(ebuf)
          while (n >= 0) {
            err.synchronized {
              val keep = math.min(n, maxStderrBytes - err.size)
              if (keep > 0) err.write(ebuf, 0, keep)
              if (keep < n) errTruncated = true
            }
            n = proc.getErrorStream.read(ebuf)
          }
        } catch { case _: java.io.IOException => () }
      })
      errDrainer.setDaemon(true)
      errDrainer.start()
      val buf = new Array[Byte](64 * 1024)
      var n = proc.getInputStream.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = proc.getInputStream.read(buf) }
      val rc = proc.waitFor() // bounded: the killer fires at the deadline
      killer.interrupt()
      writer.join(1000)
      errDrainer.join(1000) // short: don't stall on a grandchild's pipe
      if (timedOut)
        throw new IllegalStateException(
          s"worker ${cmd.mkString(" ")} did not exit within ${timeout.getSeconds}s (killed)")
      val errText = err.synchronized {
        err.toString("UTF-8") + (if (errTruncated) " …[stderr truncated]" else "")
      }
      require(rc == 0,
        s"worker ${cmd.mkString(" ")} exited $rc: $errText")
      out.toByteArray
    }

  /** Media → embedding through an EXTERNAL Arrow worker
    * ([[transformViaArrow]] ∘ [[pipeThroughWorker]]): the media frame
    * leaves Spark as Arrow IPC batches, the worker (default:
    * `scripts/embed_worker.py`, a numpy process replicating
    * [[stubEmbed]]'s float math bit-for-bit — swap in a real encoder
    * there) returns (media_id, embedding float32[dim]) batches, and the
    * result re-enters as a DataFrame ANN composes on unchanged
    * ([[Similarity.ivfPqTopK]] etc.). Zero per-row serialization on the
    * JVM side; one worker process per batch. */
  def embedViaWorker(
      media: DataFrame,
      cmd: Seq[String],
      dim: Int = 16): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    transformViaArrow(
      media.select(col("media_id"), col("payload")),
      pipeThroughWorker(cmd), Some(outSchema))
  }

  // ——— REAL codecs: BMP (24bpp uncompressed) + WAV (PCM16) ———
  // Both formats are header + raw samples, so a complete, correct decoder
  // needs no external library — this is the promised "real codec behind
  // the batch seam", not a stub: BGR→RGB conversion, bottom-up row flip,
  // 4-byte row padding, RIFF chunk walking and PCM16 extraction are all
  // the genuine format semantics. Anything else (PNG/JPEG — entropy-coded,
  // codec libs absent in this container) still routes to the disclosed
  // byte-stats fallback.

  /** Decoded real-media features — integer-exact accumulation everywhere
    * (byte sums / sample square-sums in Long), so the external numpy
    * worker reproduces `mean_value` BIT-for-bit: both engines divide the
    * same exact integer by the same count and round the same IEEE double.
    * BMP: width×height, channels=3, n_samples=pixel count, mean_value =
    * mean pixel-byte (0–255). WAV: channels/sample_rate from fmt,
    * n_samples=frames per channel, mean_value = RMS of normalized samples.
    * AVI: width×height from the vids strf, channels=3, sample_rate=fps,
    * n_samples=frame count, mean_value = mean pixel-byte over all frames.
    * Other payloads: format `application/octet-stream`, n_samples=byte
    * length, mean_value = mean byte. */
  final case class RealMediaFeatures(
      media_id: Long,
      format: String,
      width: Int,
      height: Int,
      channels: Int,
      sample_rate: Int,
      n_samples: Long,
      mean_value: Double)

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    u16(b, off).toLong | (u16(b, off + 2).toLong << 16)
  private def i32(b: Array[Byte], off: Int): Int = u32(b, off).toInt

  /** Full BMP pixel decode: (width, height, top-down RGB bytes).
    * Supports the ubiquitous BITMAPINFOHEADER 24bpp uncompressed
    * bottom-up form; anything else fails loudly (a silent wrong decode
    * poisons every downstream feature). Handles the two REAL format
    * quirks a naive reader gets wrong: rows are stored bottom-up and
    * padded to 4 bytes, and pixels are BGR, not RGB. */
  def bmpPixels(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M',
      s"not a BMP payload (${b.length} bytes)")
    val dataOff = u32(b, 10).toInt
    val hdrSize = u32(b, 14)
    require(hdrSize >= 40, s"unsupported BMP core-header size $hdrSize")
    val w = i32(b, 18)
    val h = i32(b, 22)
    require(w > 0 && h > 0, s"unsupported BMP dimensions ${w}x$h " +
      "(top-down negative-height BMPs not supported)")
    val planes = u16(b, 26); val bpp = u16(b, 28); val comp = u32(b, 30)
    require(planes == 1 && bpp == 24 && comp == 0,
      s"unsupported BMP variant: planes=$planes bpp=$bpp compression=$comp " +
        "(only 24bpp uncompressed)")
    val rowStride = (w * 3 + 3) & ~3
    require(b.length.toLong >= dataOff.toLong + rowStride.toLong * (h - 1) + w * 3,
      s"truncated BMP: ${b.length} bytes < pixel data for ${w}x$h")
    (w, h, unpackDib(b, dataOff, w, h))
  }

  /** Unpack a DIB pixel block (bottom-up BGR rows, 4-byte-padded) into
    * top-down RGB — the pixel layout BMP files and uncompressed-AVI
    * `00db` frames share, factored out so both codecs decode the same
    * genuine format semantics through one loop. */
  private def unpackDib(b: Array[Byte], dataOff: Int, w: Int, h: Int): Array[Byte] = {
    val rowBytes = w * 3
    val rowStride = (rowBytes + 3) & ~3
    require(b.length.toLong >= dataOff.toLong + rowStride.toLong * (h - 1) + rowBytes,
      s"truncated DIB: ${b.length} bytes < pixel data for ${w}x$h at $dataOff")
    val out = new Array[Byte](w * h * 3)
    var r = 0
    while (r < h) {
      val srcBase = dataOff + (h - 1 - r) * rowStride // bottom-up storage
      var x = 0
      while (x < w) {
        val s = srcBase + x * 3
        val d = (r * w + x) * 3
        out(d) = b(s + 2) // B,G,R on disk -> R,G,B out
        out(d + 1) = b(s + 1)
        out(d + 2) = b(s)
        x += 1
      }
      r += 1
    }
    out
  }

  /** Pack top-down RGB into a DIB pixel block (bottom-up BGR,
    * 4-byte-padded rows) — the exact inverse of [[unpackDib]], shared by
    * the BMP and AVI encoders. */
  private def packDib(w: Int, h: Int, rgbTopDown: Array[Byte]): Array[Byte] = {
    require(rgbTopDown.length == w * h * 3,
      s"need ${w * h * 3} RGB bytes, got ${rgbTopDown.length}")
    val rowBytes = w * 3
    val rowStride = (rowBytes + 3) & ~3
    val out = new Array[Byte](rowStride * h)
    var r = 0
    while (r < h) {
      val dstBase = (h - 1 - r) * rowStride
      var x = 0
      while (x < w) {
        val s = (r * w + x) * 3
        val d = dstBase + x * 3
        out(d) = rgbTopDown(s + 2); out(d + 1) = rgbTopDown(s + 1)
        out(d + 2) = rgbTopDown(s)
        x += 1
      }
      r += 1
    }
    out
  }

  /** Full binary-NetPBM (P6) decode: (width, height, top-down RGB
    * bytes). The header is REAL NetPBM semantics — `P6`, then three
    * ASCII integers (width, height, maxval) separated by runs of
    * whitespace, with `#`-to-end-of-line comments allowed anywhere
    * whitespace is, then EXACTLY ONE whitespace byte before the raw
    * pixel block. Only maxval ≤ 255 (1-byte samples) decodes; 2-byte
    * deep pixmaps and P1–P5 variants fail loudly. Pixels are already
    * top-down RGB — the one format whose pixel block needs no
    * reordering (the spec's test fixture proves the header walk, not a
    * flip). */
  def ppmPixels(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    // whitespace after the magic is part of the NetPBM signature: without
    // it a direct call on "P6123 45 ..." would silently parse '123' as the
    // width — the same gate sniffFormat/decodeReal apply, enforced here so
    // no caller can bypass it (advisor round-16)
    require(b.length >= 3 && b(0) == 'P' && b(1) == '6' && isWs(b(2)),
      s"not a P6 pixmap payload (${b.length} bytes)")
    var off = 2
    def skipWsAndComments(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (off < b.length && isWs(b(off))) { off += 1; moved = true }
        if (off < b.length && b(off) == '#') {
          while (off < b.length && b(off) != '\n') off += 1
          moved = true
        }
      }
    }
    def readInt(what: String): Int = {
      skipWsAndComments()
      require(off < b.length && b(off) >= '0' && b(off) <= '9',
        s"P6 header: expected $what digits at offset $off")
      var v = 0L
      while (off < b.length && b(off) >= '0' && b(off) <= '9') {
        v = v * 10 + (b(off) - '0')
        require(v <= Int.MaxValue, s"P6 header: $what overflows")
        off += 1
      }
      v.toInt
    }
    val w = readInt("width"); val h = readInt("height")
    val maxval = readInt("maxval")
    require(w > 0 && h > 0, s"unsupported P6 dimensions ${w}x$h")
    require(maxval >= 1 && maxval <= 255,
      s"unsupported P6 maxval $maxval (only 1-byte samples)")
    require(off < b.length && isWs(b(off)),
      "P6 header: missing the single whitespace before pixel data")
    off += 1 // EXACTLY one whitespace byte, per the spec
    val need = w.toLong * h * 3
    require(b.length.toLong >= off + need,
      s"truncated P6: ${b.length} bytes < pixel data for ${w}x$h")
    (w, h, java.util.Arrays.copyOfRange(b, off, off + need.toInt))
  }

  /** Encode top-down RGB as a canonical P6 pixmap (maxval 255). */
  def buildPpm(w: Int, h: Int, rgbTopDown: Array[Byte]): Array[Byte] = {
    require(rgbTopDown.length == w * h * 3,
      s"need ${w * h * 3} RGB bytes, got ${rgbTopDown.length}")
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + rgbTopDown.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgbTopDown, 0, out, header.length, rgbTopDown.length)
    out
  }

  /** G.711 µ-law expansion to linear PCM16 (public CCITT formula: the
    * byte is stored complemented; 3-bit exponent, 4-bit mantissa, +33
    * bias). Two zero codes (0xFF/0x7F) by design. */
  def ulawToPcm(b: Byte): Short = {
    val u = ~b & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** G.711 A-law expansion to linear PCM16 (even bits inverted by the
    * 0x55 mask; segment 0/1 special-cased, sign bit 0x80 = positive). */
  def alawToPcm(b: Byte): Short = {
    val a = (b ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else t = (t + 0x108) << (seg - 1)
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** Full WAV decode: (channels, sampleRate, interleaved PCM16 samples).
    * Walks RIFF chunks properly (fmt may be followed by LIST/fact before
    * data; chunk sizes pad to even). PCM16 (format 1), G.711 A-law
    * (format 6) and µ-law (format 7) decode — the telephony-speech
    * formats expand to linear PCM16 in-task via the public CCITT
    * formulas, so every downstream gate (RMS, clipping, silence,
    * segmentation) runs on one sample domain; anything else fails
    * loudly. */
  def wavSamples(b: Array[Byte]): (Int, Int, Array[Short]) = {
    require(b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F'
        && b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V'
        && b(11) == 'E',
      s"not a RIFF/WAVE payload (${b.length} bytes)")
    // chunk offsets/lengths in Long: a malformed 32-bit length near
    // 2^32 would Int-truncate NEGATIVE and stall the walk (off += 0) —
    // an adversarial document must error, never wedge an executor task
    var off = 12L
    var channels = -1; var sampleRate = -1; var fmt = -1
    var blockAlign = -1
    var dataOff = -1L; var dataLen = -1L
    var factSamples = -1L
    // walk EVERY chunk header (payloads are skipped by length, so this
    // is O(chunks)): fact placement before data is conventional but not
    // mandated, and an early exit on (fmt, data) would silently ignore a
    // trailing fact chunk — the ADPCM tail would keep its encoder pad
    // (self-review round 19)
    while (off + 8 <= b.length) {
      val cid = new String(b, off.toInt, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val clen = u32(b, off.toInt + 4) // unsigned, 0..2^32-1
      if (cid == "fmt ") {
        require(clen >= 16 && off + 8 + 16 <= b.length, "truncated fmt chunk")
        fmt = u16(b, off.toInt + 8)
        channels = u16(b, off.toInt + 10)
        sampleRate = u32(b, off.toInt + 12).toInt
        blockAlign = u16(b, off.toInt + 20)
        val bits = u16(b, off.toInt + 22)
        require((fmt == 1 && bits == 16)
            || ((fmt == 6 || fmt == 7) && bits == 8)
            || (fmt == 0x11 && bits == 4 && channels == 1),
          s"unsupported WAV variant: format=$fmt bits=$bits " +
            s"channels=$channels (PCM16, A-law, mu-law, mono IMA ADPCM)")
      } else if (cid == "fact" && clen >= 4 && off + 12 <= b.length) {
        factSamples = u32(b, off.toInt + 8) // dwSampleLength (per channel)
      } else if (cid == "data") {
        dataOff = off + 8; dataLen = clen
      }
      off += 8 + clen + (clen & 1) // RIFF chunks pad to even length
    }
    require(channels > 0 && sampleRate > 0, "WAV has no fmt chunk")
    require(dataOff >= 0, "WAV has no data chunk")
    require(dataOff + dataLen <= b.length,
      s"truncated WAV: data chunk claims $dataLen bytes past payload end")
    val dataOffI = dataOff.toInt
    if (fmt == 1) {
      val n = (dataLen / 2).toInt
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = ((b(dataOffI + 2 * i) & 0xff)
          | ((b(dataOffI + 2 * i + 1) & 0xff) << 8)).toShort
        i += 1
      }
      (channels, sampleRate, out)
    } else if (fmt == 0x11) {
      // IMA ADPCM (mono): block-structured 4-bit deltas expanded to
      // PCM16 — every downstream gate runs on the linear domain, like
      // the G.711 formats. Real-decoder conventions (ffmpeg/audioop
      // corpus files): the fact chunk's sample count trims the
      // encoder's zero-padded tail, and a short final block decodes
      // its 1 + (bytes-4)*2 samples; framing validated in
      // Adpcm.decodeWavBlocks.
      (channels, sampleRate,
        Adpcm.decodeWavBlocks(b, dataOffI, dataLen, blockAlign, factSamples))
    } else {
      val n = dataLen.toInt // one byte per sample
      val out = new Array[Short](n)
      var i = 0
      if (fmt == 7) while (i < n) { out(i) = ulawToPcm(b(dataOffI + i)); i += 1 }
      else while (i < n) { out(i) = alawToPcm(b(dataOffI + i)); i += 1 }
      (channels, sampleRate, out)
    }
  }

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** A decoded uncompressed AVI: frame pixels are top-down RGB (one
    * `width*height*3` array per frame, same layout as [[bmpPixels]]). */
  final case class AviVideo(
      width: Int, height: Int, fps: Int, frames: Vector[Array[Byte]])

  /** biCompression fourcc for Motion-JPEG ("MJPG" little-endian). */
  private val MjpgFourcc: Long = 0x47504A4DL

  /** Full AVI video decode: uncompressed 24bpp DIB streams AND
    * Motion-JPEG (`biCompression == 'MJPG'`, each `NNdc` chunk one
    * complete baseline JPEG decoded by the from-scratch [[Jpeg]] codec —
    * the first compressed video format, built entirely from existing
    * pieces). Walks the real container structure — nested RIFF LISTs
    * (`hdrl` → `avih` + per-stream `strl`(`strh`+`strf`), `movi` holding
    * frames, optionally grouped under `rec ` LISTs), even-length chunk
    * padding, trailing `idx1` skipped — and unpacks each frame to the
    * shared top-down RGB layout. Other compression variants fail
    * loudly — a silent wrong decode poisons every downstream feature.
    * Frame geometry comes from the vids stream's BITMAPINFOHEADER
    * (`strf`), the authoritative source (the `avih` width/height are
    * advisory and real muxers disagree with it); an MJPEG frame whose
    * own SOF geometry disagrees with the strf is corrupt and errors. */
  def aviFrames(b: Array[Byte]): AviVideo = {
    require(b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI ",
      s"not a RIFF/AVI payload (${b.length} bytes)")
    var w = -1; var h = -1; var bpp = -1; var comp = -1L
    var rate = -1L; var scale = -1L
    val frames = Vector.newBuilder[Array[Byte]]
    // one strl LIST per stream: only the vids stream's strf sets geometry
    def parseStrl(from: Long, to: Long): Unit = {
      var off = from
      var vids = false
      while (off + 8 <= to) {
        val cid = fourcc(b, off.toInt)
        val clen = u32(b, off.toInt + 4) // unsigned Long: see wavSamples
        require(off + 8 + clen <= to, s"AVI chunk '$cid' overruns strl")
        if (cid == "strh") {
          require(clen >= 28, "truncated strh chunk")
          vids = fourcc(b, off.toInt + 8) == "vids"
          if (vids) {
            scale = u32(b, off.toInt + 8 + 20)
            rate = u32(b, off.toInt + 8 + 24)
          }
        } else if (cid == "strf" && vids) {
          require(clen >= 40, "truncated vids strf (BITMAPINFOHEADER)")
          w = i32(b, off.toInt + 8 + 4)
          h = i32(b, off.toInt + 8 + 8)
          bpp = u16(b, off.toInt + 8 + 14)
          comp = u32(b, off.toInt + 8 + 16)
        }
        off += 8 + clen + (clen & 1)
      }
    }
    def walk(from: Long, to: Long, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= to) {
        val cid = fourcc(b, off.toInt)
        val clen = u32(b, off.toInt + 4)
        require(off + 8 + clen <= to, s"AVI chunk '$cid' overruns its parent")
        if (cid == "LIST") {
          require(clen >= 4, "LIST chunk too short")
          val ltype = fourcc(b, off.toInt + 8)
          if (ltype == "strl") parseStrl(off + 12, off + 8 + clen)
          else if (ltype == "hdrl" || ltype == "movi" || ltype == "rec ")
            walk(off + 12, off + 8 + clen, inMovi || ltype == "movi")
          // other LISTs (INFO metadata etc.) are skipped, like WAV's
        } else if (inMovi && cid.length == 4 && cid(0).isDigit
            && cid(1).isDigit) {
          val kind = cid.substring(2)
          if (comp == MjpgFourcc && kind == "dc" && clen > 0) {
            require(w > 0 && h > 0,
              "AVI movi frame before the vids strf header")
            val (fw, fh, px) = Jpeg.decode(
              java.util.Arrays.copyOfRange(b, off.toInt + 8,
                off.toInt + 8 + clen.toInt))
            require(fw == w && fh == h,
              s"corrupt MJPEG AVI: frame SOF ${fw}x$fh != strf ${w}x$h")
            frames += px
          } else if (kind == "db" || (kind == "dc" && clen > 0)) {
            // 00db is the uncompressed-DIB tag; some muxers write 00dc
            // with biCompression=0 — honor that only when the stream
            // header says uncompressed (a true compressed frame under a
            // bpp!=24/comp!=0 header fails the post-walk require below)
            require(w > 0 && h > 0,
              "AVI movi frame before the vids strf header")
            // a 00db chunk under an MJPG header is a corrupt mix — the
            // DIB unpack would silently misread JPEG bytes as pixels
            require(comp != MjpgFourcc,
              s"corrupt MJPEG AVI: uncompressed '$cid' frame chunk")
            // the frame must fit ITS OWN chunk — unpackDib's payload-wide
            // bound would let a short chunk silently read the next one
            val rowStride = (w * 3 + 3) & ~3
            require(clen >= rowStride.toLong * (h - 1) + w * 3,
              s"truncated AVI frame chunk '$cid': $clen bytes < ${w}x$h DIB")
            frames += unpackDib(b, off.toInt + 8, w, h)
          }
          // NNwb audio chunks are skipped: this decoder extracts video
        }
        off += 8 + clen + (clen & 1) // RIFF chunks pad to even length
      }
    }
    walk(12, b.length.toLong, inMovi = false)
    require(w > 0 && h > 0, "AVI has no vids stream geometry")
    require(bpp == 24 && (comp == 0 || comp == MjpgFourcc),
      s"unsupported AVI variant: bpp=$bpp compression=$comp " +
        "(only 24bpp uncompressed or MJPG)")
    require(scale > 0 && rate > 0,
      s"AVI vids stream has no rate/scale (rate=$rate scale=$scale)")
    AviVideo(w, h, math.round(rate.toDouble / scale).toInt, frames.result())
  }

  /** Dispatch on magic bytes: real BMP/WAV decode, byte-stats fallback
    * for everything else. Pure function — safe inside `mapPartitions`. */
  def decodeReal(item: MediaItem): RealMediaFeatures = {
    // null payload = empty octet-stream row, matching the numpy worker's
    // explicit None handling (a crash here would break the bit-for-bit
    // twin contract on exactly the input the worker tolerates)
    val b = if (item.payload == null) Array.emptyByteArray else item.payload
    if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
      val (w, h, px) = bmpPixels(b)
      var sum = 0L; var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      RealMediaFeatures(item.media_id, "image/bmp", w, h, 3, 0,
        w.toLong * h, sum.toDouble / px.length)
    } else if (b.length >= 3 && b(0) == 'P' && b(1) == '6'
        && (b(2) == ' ' || b(2) == '\n' || b(2) == '\r' || b(2) == '\t')) {
      val (w, h, px) = ppmPixels(b)
      var sum = 0L; var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      RealMediaFeatures(item.media_id, "image/x-portable-pixmap", w, h, 3, 0,
        w.toLong * h, sum.toDouble / px.length)
    } else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
        && (b(2) & 0xff) == 0xff) {
      // entropy-coded path: baseline JPEG through the from-scratch
      // Huffman+IDCT decoder ([[Jpeg.decode]]); features over the
      // DECODED pixels, integer-exact like the BMP branch
      val (w, h, px) = Jpeg.decode(b)
      var sum = 0L; var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      RealMediaFeatures(item.media_id, "image/jpeg", w, h, 3, 0,
        w.toLong * h, sum.toDouble / px.length)
    } else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P'
        && b(2) == 'N' && b(3) == 'G' && b(4) == '\r' && b(5) == '\n'
        && b(6) == 0x1a && b(7) == '\n') {
      // full 8-byte signature gate, matching the worker twin's routing
      // (a 4-byte prefix match with corrupt tail bytes must take the
      // SAME branch on both sides — octet-stream fallback, not error)
      // lossless entropy-coded path: PNG through the chunk walk,
      // JDK zlib inflate and defilter of [[Png.decode]]; integer-exact
      // features over the expanded top-down RGB like the other images
      val (w, h, px) = Png.decode(b)
      var sum = 0L; var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      RealMediaFeatures(item.media_id, "image/png", w, h, 3, 0,
        w.toLong * h, sum.toDouble / px.length)
    } else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F'
        && b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      // LZW path: GIF through the from-scratch variable-width decoder
      // ([[Gif.decode]]); frames decode to their OWN rectangles (canvas
      // compositing is a renderer concern). Features: logical-screen
      // geometry, n_samples = frame count (the video-like grain an
      // animation carries), mean over ALL frames' palette-expanded RGB.
      val g = Gif.decode(b)
      var sum = 0L; var n = 0L
      g.frames.foreach { f =>
        var i = 0
        while (i < f.rgb.length) { sum += (f.rgb(i) & 0xff); i += 1 }
        n += f.rgb.length
      }
      RealMediaFeatures(item.media_id, "image/gif", g.width, g.height, 3, 0,
        g.frames.size.toLong, if (n == 0) 0.0 else sum.toDouble / n)
    } else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F'
        && b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V'
        && b(11) == 'E') {
      val (ch, sr, samples) = wavSamples(b)
      var sq = 0L; var i = 0
      while (i < samples.length) {
        sq += samples(i).toLong * samples(i); i += 1
      }
      val rms =
        if (samples.isEmpty) 0.0
        else math.sqrt(sq.toDouble / samples.length) / 32768.0
      RealMediaFeatures(item.media_id, "audio/wav", 0, 0, ch, sr,
        samples.length.toLong / math.max(ch, 1), rms)
    } else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F'
        && b(3) == 'F' && b(8) == 'A' && b(9) == 'V' && b(10) == 'I'
        && b(11) == ' ') {
      val v = aviFrames(b)
      var sum = 0L; var n = 0L
      v.frames.foreach { px =>
        var i = 0
        while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
        n += px.length
      }
      RealMediaFeatures(item.media_id, "video/avi", v.width, v.height, 3,
        v.fps, v.frames.size.toLong,
        if (n == 0) 0.0 else sum.toDouble / n)
    } else {
      var sum = 0L; var i = 0
      while (i < b.length) { sum += (b(i) & 0xff); i += 1 }
      RealMediaFeatures(item.media_id, "application/octet-stream", 0, 0, 0, 0,
        b.length.toLong, if (b.isEmpty) 0.0 else sum.toDouble / b.length)
    }
  }

  /** [[decodeReal]] over a media Dataset, partition-wise — the same batch
    * path as the stub [[decode]], now with a real codec in the body. */
  def decodeRealMedia(items: Dataset[MediaItem]): Dataset[RealMediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map(decodeReal))
  }

  /** One REAL decoded video frame: `rgb` is the top-down RGB pixel block
    * ([[bmpPixels]] layout), `mean_value` its integer-exact byte mean. */
  final case class VideoFrame(
      media_id: Long, frame_idx: Int, width: Int, height: Int,
      mean_value: Double, rgb: Array[Byte])

  /** REAL frame sampling: decode each AVI payload and keep every
    * `stride`-th frame — the production form of the [[sampleFrames]]
    * plumbing (which slices raw byte ranges without decoding). Map-only
    * flatMap: each row fans out to ceil(frames/stride) frame rows inside
    * its own task, no shuffle, so at 100 TB the stage parallelism is the
    * scan's and downstream per-frame featurization starts from decoded
    * pixels. Non-AVI payloads fail loudly (filter by [[sniffFormat]]
    * first — only sample what you can attribute as video). */
  def sampleVideoFrames(
      items: Dataset[MediaItem], stride: Int): Dataset[VideoFrame] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import items.sparkSession.implicits._
    items.mapPartitions(_.flatMap { item =>
      val v = aviFrames(item.payload)
      Iterator.range(0, v.frames.size, stride).map { f =>
        val px = v.frames(f)
        var sum = 0L; var i = 0
        while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
        VideoFrame(item.media_id, f, v.width, v.height,
          if (px.isEmpty) 0.0 else sum.toDouble / px.length, px)
      }
    })
  }

  /** External twin of [[decodeRealMedia]] over the Arrow IPC seam: the
    * pure-numpy worker (`scripts/media_worker.py`) decodes the same
    * BMP/PPM/WAV/AVI — and, since round 17, entropy-coded baseline JPEG
    * ([[Jpeg]]) — from the raw bytes and must agree BIT-for-bit
    * (MultimodalSpec) — the proof that a real out-of-process codec drops
    * into [[transformViaArrow]] without touching the Spark side. */
  def decodeViaWorker(media: DataFrame, cmd: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType),
      StructField("mean_value", DoubleType)))
    transformViaArrow(
      media.select(col("media_id"), col("payload")),
      pipeThroughWorker(cmd), Some(outSchema))
  }

  // ——— audio quality features (speech-data curation gates) ———

  /** Audio curation features, all integer-exact so the DuckDB oracle
    * replays them: `zero_cross_rate` = per-channel sign transitions over
    * `channels*(frames-1)` opportunities (sign = `sample >= 0`; the
    * voiced/unvoiced + noisiness proxy), `clip_ratio` = |sample| ≥
    * `clipLevel` fraction (distorted-capture detector), `silence_ratio`
    * = |sample| ≤ `silenceLevel` fraction (dead-air detector), plus the
    * RMS loudness [[decodeReal]] computes. A speech pipeline drops
    * clips with extreme values BEFORE any expensive transcription. */
  final case class AudioQuality(
      media_id: Long, channels: Int, sample_rate: Int, n_frames: Long,
      rms: Double, zero_cross_rate: Double, clip_ratio: Double,
      silence_ratio: Double)

  /** [[AudioQuality]] over PCM16 WAV payloads — map-only: decode +
    * feature inside each task, one thin row out per clip; non-WAV
    * payloads fail loudly (route by [[sniffFormat]] first). */
  def audioQuality(
      items: Dataset[MediaItem],
      clipLevel: Int = 32700,
      silenceLevel: Int = 512): Dataset[AudioQuality] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { item =>
      val (ch, sr, s) = wavSamples(item.payload)
      val frames = s.length / math.max(ch, 1)
      var sq = 0L; var clip = 0L; var silent = 0L; var cross = 0L
      var i = 0
      while (i < s.length) {
        val v = s(i).toInt
        sq += v.toLong * v
        if (math.abs(v) >= clipLevel) clip += 1
        if (math.abs(v) <= silenceLevel) silent += 1
        // sign transition vs the PREVIOUS frame of the same channel
        if (i >= ch && ((s(i - ch) >= 0) != (s(i) >= 0))) cross += 1
        i += 1
      }
      val n = s.length
      val crossDen = ch.toLong * (frames - 1)
      AudioQuality(item.media_id, ch, sr, frames,
        if (n == 0) 0.0 else math.sqrt(sq.toDouble / n) / 32768.0,
        if (crossDen <= 0) 0.0 else cross.toDouble / crossDen,
        if (n == 0) 0.0 else clip.toDouble / n,
        if (n == 0) 0.0 else silent.toDouble / n)
    })
  }

  /** One silence-delimited utterance segment: frames
    * `[start_frame, end_frame)` of the clip, `n_frames` long. */
  final case class AudioSegment(
      media_id: Long, seg_idx: Int, start_frame: Long, end_frame: Long,
      n_frames: Long)

  /** Silence-split segmentation — the energy-threshold splitter a speech
    * pipeline runs before per-utterance processing: a frame is ACTIVE
    * when any channel's |sample| exceeds `silenceLevel`; segments are
    * maximal runs of active frames, and runs shorter than
    * `minSegmentFrames` are dropped (`seg_idx` numbers the EMITTED
    * segments, in frame order). Map-only flatMap: decode + one linear
    * scan per clip inside its task, thin (id, idx, bounds) rows out —
    * the per-utterance fan-out happens before any exchange. */
  def segmentBySilence(
      items: Dataset[MediaItem],
      silenceLevel: Int = 512,
      minSegmentFrames: Int = 1): Dataset[AudioSegment] = {
    require(minSegmentFrames >= 1,
      s"minSegmentFrames must be >= 1, got $minSegmentFrames")
    import items.sparkSession.implicits._
    items.mapPartitions(_.flatMap { item =>
      val (ch, _, s) = wavSamples(item.payload)
      val frames = s.length / math.max(ch, 1)
      val segs = scala.collection.mutable.ArrayBuffer.empty[AudioSegment]
      var segStart = -1L
      var idx = 0
      var f = 0
      while (f < frames) {
        var active = false
        var c = 0
        while (c < ch && !active) {
          if (math.abs(s(f * ch + c).toInt) > silenceLevel) active = true
          c += 1
        }
        if (active && segStart < 0) segStart = f
        else if (!active && segStart >= 0) {
          if (f - segStart >= minSegmentFrames) {
            segs += AudioSegment(item.media_id, idx, segStart, f, f - segStart)
            idx += 1
          }
          segStart = -1
        }
        f += 1
      }
      if (segStart >= 0 && frames - segStart >= minSegmentFrames)
        segs += AudioSegment(item.media_id, idx, segStart, frames,
          frames - segStart)
      segs.iterator
    })
  }

  // ——— perceptual image hashing (dHash) ———

  /** 64-bit perceptual difference hash of a decoded image: integer luma
    * (`(299R + 587G + 114B) / 1000`) area-averaged onto a 9×8 grid, bit
    * `r*8+c` set iff cell (r,c) is darker than its right neighbor — the
    * standard dHash gradient signature. Near-identical images (small
    * crops, brightness-preserving noise, re-encodes) land within a few
    * bits, so Hamming-banded pairing finds them without a cross join.
    * EVERY accumulation is integer-exact (Long sums, truncating division)
    * so the DuckDB oracle replays the identical value; grid cell
    * boundaries are `floor(c*w/9)` — images must be at least 9×8. */
  def dHash64(px: Array[Byte], w: Int, h: Int): Long = {
    require(w >= 9 && h >= 8, s"dHash needs >= 9x8 pixels, got ${w}x$h")
    require(px.length == w * h * 3,
      s"need ${w * h * 3} RGB bytes for ${w}x$h, got ${px.length}")
    val grid = Array.ofDim[Long](8, 9)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8; val y1 = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = (y * w + x) * 3
            sum += (299L * (px(p) & 0xff) + 587L * (px(p + 1) & 0xff)
              + 114L * (px(p + 2) & 0xff)) / 1000L
            n += 1
            x += 1
          }
          y += 1
        }
        grid(r)(c) = sum / n
        c += 1
      }
      r += 1
    }
    var hash = 0L
    var k = 0
    var rr = 0
    while (rr < 8) {
      var cc = 0
      while (cc < 8) {
        if (grid(rr)(cc) < grid(rr)(cc + 1)) hash |= (1L << k)
        k += 1; cc += 1
      }
      rr += 1
    }
    hash
  }

  /** Decode ANY supported still-image payload to (width, height,
    * top-down RGB) by magic-byte dispatch: BMP, P6 pixmap, PNG, baseline
    * JPEG, or GIF (FIRST frame's own rectangle — per-frame grain for
    * animations is [[videoFrameDHash]]'s analog via [[Gif.decode]]).
    * The shared decode seam under the perceptual-hash operators — the
    * property that makes [[imageDHash]] a CROSS-FORMAT re-encode
    * detector: the same pixels land on the identical dHash no matter
    * the lossless container (BMP vs PNG vs P6; MultimodalSpec pins
    * this), and a JPEG re-encode lands within a few bits. Non-image
    * payloads fail loudly (route by [[sniffFormat]] first). */
  def imagePixels(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(b != null && b.length >= 8, "not an image payload (too short)")
    if (b(0) == 'B' && b(1) == 'M') bmpPixels(b)
    else if (b(0) == 'P' && b(1) == '6') ppmPixels(b)
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N'
        && b(3) == 'G') Png.decode(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
        && (b(2) & 0xff) == 0xff) Jpeg.decode(b)
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
      val g = Gif.decode(b)
      val f = g.frames.head
      (f.width, f.height, f.rgb)
    } else throw new IllegalArgumentException(
      s"not a supported image payload (${b.length} bytes)")
  }

  /** [[dHash64]] over an image media Dataset — map-only (decode + hash
    * inside each task, 8 bytes out per image; the pixels never shuffle).
    * Any [[imagePixels]] format decodes; other payloads fail loudly:
    * route by [[sniffFormat]] first. */
  def imageDHash(items: Dataset[MediaItem]): DataFrame = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { item =>
      val (w, h, px) = imagePixels(item.payload)
      (item.media_id, dHash64(px, w, h))
    }).toDF("media_id", "dhash")
  }

  /** Column form of [[dHash64]] over BMP payload bytes — a native
    * Catalyst expression ([[graft.functions.ImageDHash]]), so the
    * perceptual key composes anywhere a `Column` does: streaming dedup
    * keys, groupBy, filters — no UDF, no typed detour, NULL in → NULL
    * out (MultimodalSpec pins column ≡ Dataset-path values). */
  def imageDHashCol(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ImageDHash(
      GraftColumnBridge.expression(payload)))
  }

  /** Image near-duplicate pairs at Hamming distance ≤ `maxDistance` over
    * [[imageDHash]] signatures — LAION-style perceptual image dedup:
    * map-only hashing, then [[Dedup.hammingNearDuplicates]]' pigeonhole
    * banding (capped buckets, exact bit_count verify, no cross join). */
  def imageNearDuplicates(
      items: Dataset[MediaItem],
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    Dedup.hammingNearDuplicates(imageDHash(items), "media_id", "dhash",
      maxDistance, maxBucketSize, tag = "image_dhash_lsh")

  /** Per-frame perceptual hashes of AVI payloads: decode + sample every
    * `stride`-th frame + [[dHash64]] each, all inside the scan task —
    * (video, frame, 8-byte signature) rows are the ONLY thing that ever
    * leaves the operator, so downstream video dedup shuffles long
    * triples, never pixels. Frames must be at least 9×8 ([[dHash64]]). */
  def videoFrameDHash(
      items: Dataset[MediaItem], stride: Int = 1): DataFrame = {
    import items.sparkSession.implicits._
    sampleVideoFrames(items, stride).mapPartitions(_.map(f =>
      (f.media_id, f.frame_idx, dHash64(f.rgb, f.width, f.height))))
      .toDF("media_id", "frame_idx", "dhash")
  }

  /** Frame-grain video near-duplicates: two videos pair when they share
    * at least `minSharedFrames` DISTINCT perceptual frame hashes — the
    * re-encode/trim/re-mux detector (a shared scene keeps its dHashes
    * even when containers and neighboring frames differ). Same posture
    * as every other candidate generator here: exact-hash buckets with
    * [[Dedup.capBuckets]] + `DropMetrics` on degenerate frames (a black
    * frame present in every video would otherwise pair the whole
    * corpus), shuffle-hash pinned both sides so the hash stage runs
    * once, and the pair exchange moves (long, long) rows only. */
  def videoNearDuplicates(
      items: Dataset[MediaItem],
      stride: Int = 1,
      minSharedFrames: Int = 2,
      maxBucketSize: Int = 10000): DataFrame = {
    require(minSharedFrames >= 1,
      s"minSharedFrames must be >= 1, got $minSharedFrames")
    val fh = videoFrameDHash(items, stride)
      .select(col("media_id"), col("dhash")).distinct()
    val capped = Dedup.capBuckets(fh, Seq("dhash"), maxBucketSize,
      "video_dhash")
    val a = capped.hint("shuffle_hash")
      .select(col("dhash"), col("media_id").as("id_a"))
    val b = capped.hint("shuffle_hash")
      .select(col("dhash"), col("media_id").as("id_b"))
    a.join(b, Seq("dhash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** Batch kernel of the streaming perceptual image-ingest dedup gate
    * ([[graft.streaming.IngestDedupGate.imageSurvivorWriter]]) — the
    * dHash analogue of [[Dedup.dedupIncrement]]: survivors of
    * `batchHashes` (one (id, dhash) row per incoming image) against
    * (a) the persisted index within Hamming ≤ `maxDistance`
    * ([[Dedup.hammingCrossPairs]] — banded, capped, never history ×
    * history) and (b) earlier within-batch near-duplicates (greater id
    * drops, mirroring dedupIncrement's within-shard tie-break). An
    * id-equal cross pair never drops — a replayed micro-batch whose
    * hashes already rolled into the index must survive intact, not be
    * deleted as its own duplicate. FIRST ARRIVAL WINS across batches:
    * the streaming fold equals the sequential batch fold of this kernel
    * over the same increments in arrival order (StreamingSpec). */
  def imageDedupIncrement(
      batchHashes: DataFrame,
      indexHashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val vsHistory = Dedup.hammingCrossPairs(batchHashes, indexHashes,
        idCol, idCol, hashCol, hashCol, maxDistance, maxBucketSize,
        tag = "image_ingest_cross")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a").as(idCol))
    val within = Dedup.hammingNearDuplicates(batchHashes, idCol, hashCol,
        maxDistance, maxBucketSize, tag = "image_ingest_within")
      .select(greatest(col("id_a"), col("id_b")).as(idCol))
    batchHashes.join(vsHistory.unionByName(within).distinct(),
      Seq(idCol), "left_anti")
  }

  // ——— real-format ENCODERS (the fixtures' and oracle query's source) ———

  // little-endian writers shared by both encoders (the mirror of the
  // decoders' u16/u32 readers)
  private[ext] def putTag(out: Array[Byte], off: Int, tag: String): Unit =
    tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      .zipWithIndex.foreach { case (c, i) => out(off + i) = c }

  private[ext] def put16(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private[ext] def put32(out: Array[Byte], off: Int, v: Long): Unit = {
    put16(out, off, (v & 0xffff).toInt)
    put16(out, off + 2, ((v >> 16) & 0xffff).toInt)
  }

  /** Encode top-down RGB bytes as a 24bpp uncompressed BMP — the exact
    * inverse of [[bmpPixels]] (row flip, RGB→BGR, 4-byte padding). */
  def buildBmp(w: Int, h: Int, rgbTopDown: Array[Byte]): Array[Byte] = {
    val dib = packDib(w, h, rgbTopDown)
    val out = new Array[Byte](54 + dib.length)
    def put16(off: Int, v: Int): Unit = Multimodal.put16(out, off, v)
    def put32(off: Int, v: Long): Unit = Multimodal.put32(out, off, v)
    out(0) = 'B'; out(1) = 'M'
    put32(2, out.length.toLong); put32(10, 54L)
    put32(14, 40L); put32(18, w.toLong); put32(22, h.toLong)
    put16(26, 1); put16(28, 24); put32(30, 0L); put32(34, dib.length.toLong)
    System.arraycopy(dib, 0, out, 54, dib.length)
    out
  }

  /** Encode interleaved PCM16 samples as a canonical WAV. */
  def buildWav(channels: Int, sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def put16(off: Int, v: Int): Unit = Multimodal.put16(out, off, v)
    def put32(off: Int, v: Long): Unit = Multimodal.put32(out, off, v)
    def putTag(off: Int, s: String): Unit =
      Multimodal.putTag(out, off, s)
    putTag(0, "RIFF"); put32(4, 36L + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16L); put16(20, 1); put16(22, channels)
    put32(24, sampleRate.toLong)
    put32(28, sampleRate.toLong * channels * 2) // byte rate
    put16(32, channels * 2); put16(34, 16)      // block align, bits
    putTag(36, "data"); put32(40, dataLen.toLong)
    var i = 0
    while (i < samples.length) {
      put16(44 + 2 * i, samples(i) & 0xffff); i += 1
    }
    out
  }

  /** Encode top-down RGB frames as a single-stream uncompressed AVI —
    * the exact inverse of [[aviFrames]]: RIFF(`AVI `) holding
    * LIST(`hdrl`) = `avih` + LIST(`strl`) = `strh`(vids/DIB, rate=fps,
    * scale=1) + `strf`(BITMAPINFOHEADER 24bpp), then LIST(`movi`) of
    * `00db` DIB frames (bottom-up BGR, 4-byte-padded rows). */
  def buildAvi(
      w: Int, h: Int, fps: Int, framesRgbTopDown: Seq[Array[Byte]]): Array[Byte] = {
    require(fps >= 1, s"fps must be >= 1, got $fps")
    val dibs = framesRgbTopDown.map(packDib(w, h, _))
    val frameSize = ((w * 3 + 3) & ~3) * h
    val n = dibs.size
    // hdrl = avih(56) + strl LIST(strh(56) + strf(40) = 4 + 8+56 + 8+40)
    val strlLen = 4 + 8 + 56 + 8 + 40
    val hdrlLen = 4 + 8 + 56 + 8 + strlLen
    val moviLen = 4 + n * (8 + frameSize) // DIB stride*h is always even
    val out = new Array[Byte](12 + 8 + hdrlLen + 8 + moviLen)
    def put16(off: Int, v: Int): Unit = Multimodal.put16(out, off, v)
    def put32(off: Int, v: Long): Unit = Multimodal.put32(out, off, v)
    def putTag(off: Int, s: String): Unit =
      Multimodal.putTag(out, off, s)
    putTag(0, "RIFF"); put32(4, out.length.toLong - 8); putTag(8, "AVI ")
    var o = 12
    putTag(o, "LIST"); put32(o + 4, hdrlLen.toLong); putTag(o + 8, "hdrl")
    o += 12
    putTag(o, "avih"); put32(o + 4, 56L)
    put32(o + 8, 1000000L / fps)                 // dwMicroSecPerFrame
    put32(o + 12, fps.toLong * frameSize)        // dwMaxBytesPerSec
    put32(o + 24, n.toLong)                      // dwTotalFrames
    put32(o + 32, 1L)                            // dwStreams
    put32(o + 36, frameSize.toLong)              // dwSuggestedBufferSize
    put32(o + 40, w.toLong); put32(o + 44, h.toLong)
    o += 8 + 56
    putTag(o, "LIST"); put32(o + 4, strlLen.toLong); putTag(o + 8, "strl")
    o += 12
    putTag(o, "strh"); put32(o + 4, 56L)
    putTag(o + 8, "vids"); putTag(o + 12, "DIB ")
    put32(o + 28, 1L)                            // dwScale
    put32(o + 32, fps.toLong)                    // dwRate
    put32(o + 40, n.toLong)                      // dwLength
    put32(o + 44, frameSize.toLong)              // dwSuggestedBufferSize
    put16(o + 60, w); put16(o + 62, h)           // rcFrame right/bottom
    o += 8 + 56
    putTag(o, "strf"); put32(o + 4, 40L)
    put32(o + 8, 40L)                            // biSize
    put32(o + 12, w.toLong); put32(o + 16, h.toLong)
    put16(o + 20, 1); put16(o + 22, 24)          // biPlanes, biBitCount
    put32(o + 24, 0L)                            // biCompression = BI_RGB
    put32(o + 28, frameSize.toLong)              // biSizeImage
    o += 8 + 40
    putTag(o, "LIST"); put32(o + 4, moviLen.toLong); putTag(o + 8, "movi")
    o += 12
    dibs.foreach { d =>
      putTag(o, "00db"); put32(o + 4, d.length.toLong)
      System.arraycopy(d, 0, out, o + 8, d.length)
      o += 8 + d.length
    }
    out
  }

  /** Encode top-down RGB frames as a single-stream Motion-JPEG AVI —
    * the compressed twin of [[buildAvi]]: identical RIFF skeleton, but
    * `strh` fccHandler and `strf` biCompression say `MJPG` and each
    * frame is one complete baseline JPEG ([[Jpeg.encode]]) in a `00dc`
    * chunk (odd-length chunks pad to even per RIFF). What real video
    * corpora ship as "AVI" is overwhelmingly this form. */
  def buildAviMjpeg(
      w: Int, h: Int, fps: Int, framesRgbTopDown: Seq[Array[Byte]],
      quality: Int = 90, subsample: Boolean = false): Array[Byte] = {
    require(fps >= 1, s"fps must be >= 1, got $fps")
    val jpegs = framesRgbTopDown.map(px =>
      Jpeg.encode(w, h, px, quality = quality, subsample = subsample))
    val n = jpegs.size
    val maxFrame = jpegs.foldLeft(0)((m, j) => math.max(m, j.length))
    val strlLen = 4 + 8 + 56 + 8 + 40
    val hdrlLen = 4 + 8 + 56 + 8 + strlLen
    val moviLen = 4 + jpegs.map(j => 8 + j.length + (j.length & 1)).sum
    val out = new Array[Byte](12 + 8 + hdrlLen + 8 + moviLen)
    def put16(off: Int, v: Int): Unit = Multimodal.put16(out, off, v)
    def put32(off: Int, v: Long): Unit = Multimodal.put32(out, off, v)
    def putTag(off: Int, s: String): Unit =
      Multimodal.putTag(out, off, s)
    putTag(0, "RIFF"); put32(4, out.length.toLong - 8); putTag(8, "AVI ")
    var o = 12
    putTag(o, "LIST"); put32(o + 4, hdrlLen.toLong); putTag(o + 8, "hdrl")
    o += 12
    putTag(o, "avih"); put32(o + 4, 56L)
    put32(o + 8, 1000000L / fps)                 // dwMicroSecPerFrame
    put32(o + 12, fps.toLong * maxFrame)         // dwMaxBytesPerSec
    put32(o + 24, n.toLong)                      // dwTotalFrames
    put32(o + 32, 1L)                            // dwStreams
    put32(o + 36, maxFrame.toLong)               // dwSuggestedBufferSize
    put32(o + 40, w.toLong); put32(o + 44, h.toLong)
    o += 8 + 56
    putTag(o, "LIST"); put32(o + 4, strlLen.toLong); putTag(o + 8, "strl")
    o += 12
    putTag(o, "strh"); put32(o + 4, 56L)
    putTag(o + 8, "vids"); putTag(o + 12, "MJPG")
    put32(o + 28, 1L)                            // dwScale
    put32(o + 32, fps.toLong)                    // dwRate
    put32(o + 40, n.toLong)                      // dwLength
    put32(o + 44, maxFrame.toLong)               // dwSuggestedBufferSize
    put16(o + 60, w); put16(o + 62, h)           // rcFrame right/bottom
    o += 8 + 56
    putTag(o, "strf"); put32(o + 4, 40L)
    put32(o + 8, 40L)                            // biSize
    put32(o + 12, w.toLong); put32(o + 16, h.toLong)
    put16(o + 20, 1); put16(o + 22, 24)          // biPlanes, biBitCount
    put32(o + 24, MjpgFourcc)                    // biCompression = 'MJPG'
    put32(o + 28, maxFrame.toLong)               // biSizeImage (advisory)
    o += 8 + 40
    putTag(o, "LIST"); put32(o + 4, moviLen.toLong); putTag(o + 8, "movi")
    o += 12
    jpegs.foreach { j =>
      putTag(o, "00dc"); put32(o + 4, j.length.toLong)
      System.arraycopy(j, 0, out, o + 8, j.length)
      o += 8 + j.length + (j.length & 1) // pad byte stays zero
    }
    out
  }

  /** Deterministic synthetic MJPEG AVI from (id, nChars): the JPEG-
    * friendly [[synthJpeg]]-style pixel ramp per frame, id-varying
    * quality/subsampling, MCU-unaligned dimensions. No closed-form
    * oracle exists for a DCT codec — queries over this are golden-pinned
    * and the numpy worker twin must agree bit-for-bit. */
  def synthAviMjpeg(id: Long, nChars: Long): Array[Byte] = {
    val w = (17 + nChars % 14).toInt // 17..30: never a multiple of 16
    val h = (10 + id % 9).toInt      // 10..18: partial MCUs both axes
    val n = (nChars % 4 + 2).toInt
    val frames = (0 until n).map { f =>
      val px = new Array[Byte](w * h * 3)
      var j = 0
      while (j < px.length) {
        // slowly-varying ramp (same class as synthJpeg): DCT-compact
        px(j) = (((id * 5 + f * 17 + j / 24) % 200) + 20).toByte
        j += 1
      }
      px
    }
    buildAviMjpeg(w, h, fps = 10, frames,
      quality = (70 + id % 28).toInt, subsample = id % 2 == 0)
  }

  /** Deterministic synthetic AVI from (id, nChars) — same closed-form
    * oracle contract as [[synthBmp]]/[[synthWav]]: frame `f`'s pixel
    * byte `j` is `(id*7 + f*11 + j*13) % 256`, so both the per-video
    * mean (`mm_video`) and each sampled frame's mean (`mm_video_frames`)
    * are computable in DuckDB without ever building bytes (byte means
    * are permutation-invariant, so the encoder's BGR flip + bottom-up
    * rows never reach the oracle). */
  def synthAvi(id: Long, nChars: Long): Array[Byte] = {
    val w = (nChars % 14 + 1).toInt
    val h = 2
    val n = (nChars % 6 + 2).toInt
    val frames = (0 until n).map { f =>
      val px = new Array[Byte](w * h * 3)
      var j = 0
      while (j < px.length) {
        px(j) = ((id * 7 + f * 11 + j * 13) % 256).toByte; j += 1
      }
      px
    }
    buildAvi(w, h, fps = 10, frames)
  }

  /** Deterministic synthetic baseline JPEG from (id, nChars): a slowly-
    * varying pixel ramp (JPEG-friendly content) encoded with id-varying
    * quality / 4:2:0 subsampling / restart intervals / grayscale, so the
    * golden query `mm_features_jpeg` exercises every encoder+decoder
    * path (odd dims force edge-replicated partial MCUs). No closed-form
    * DuckDB oracle exists for a DCT codec — the query is golden-pinned
    * at 3 SFs and the numpy worker twin must agree bit-for-bit. */
  def synthJpeg(id: Long, nChars: Long): Array[Byte] = {
    val w = (17 + nChars % 14).toInt // 17..30: never a multiple of 16
    val h = (10 + id % 9).toInt      // 10..18: partial MCUs both axes
    val px = new Array[Byte](w * h * 3)
    var j = 0
    while (j < px.length) {
      px(j) = ((id * 3 + j / 7) % 256).toByte
      j += 1
    }
    Jpeg.encode(w, h, px,
      quality = (55 + (id % 5) * 10).toInt,
      subsample = id % 2 == 0,
      restartInterval = if (id % 3 == 0) 2 else 0,
      gray = id % 7 == 0)
  }

  /** Deterministic synthetic PNG from (id, nChars) — same closed-form
    * contract as [[synthBmp]]: PNG is LOSSLESS, so the decoded pixels
    * equal this formula exactly and the DuckDB oracle computes the
    * features without ever seeing bytes (`mm_features_png` is a full
    * oracle row, unlike the golden-pinned lossy JPEG twin). Even ids
    * exercise the Sub-filter defilter path, odd ids filter 0. */
  def synthPng(id: Long, nChars: Long): Array[Byte] = {
    val w = (nChars % 21 + 4).toInt
    val h = (id % 7 + 3).toInt
    val px = new Array[Byte](w * h * 3)
    var j = 0
    while (j < px.length) {
      px(j) = ((id * 11 + j * 17) % 256).toByte
      j += 1
    }
    Png.encode(w, h, px, filterSub = id % 2 == 0)
  }

  /** Deterministic synthetic GIF from (id, nChars) — same closed-form
    * contract as [[synthPng]] (palette GIF is LOSSLESS): an 8-color
    * palette and per-frame index formula, 1-3 frames with odd frames
    * INTERLACED (the decoder's 4-pass row reconstruction must be the
    * identity on display-order pixels for the oracle to hash-match).
    * `mm_features_gif` replays palette lookup + mean in closed form. */
  def synthGif(id: Long, nChars: Long): Array[Byte] = {
    val w = (nChars % 13 + 3).toInt
    val h = (id % 5 + 4).toInt
    val nFrames = (id % 3 + 1).toInt
    val palette = Array.tabulate(24)(i =>
      ((id * 29 + (i / 3) * 37 + (i % 3) * 11) % 256).toByte)
    val frames = (0 until nFrames).map { f =>
      val idx = Array.tabulate(w * h)(p => ((id + f * 7 + p * 3) % 8).toByte)
      (0, 0, w, h, f % 2 == 1, idx)
    }
    Gif.encode(w, h, palette, frames)
  }

  /** Deterministic synthetic WAV from (id, nChars) — modular-arithmetic
    * samples so the DuckDB oracle computes the DECODED features in closed
    * form without ever seeing the bytes (`mm_features_real`). */
  def synthWav(id: Long, nChars: Long): Array[Byte] = {
    val n = (nChars % 50 + 10).toInt
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((id * 31 + i * 7) % 65536 - 32768).toShort
      i += 1
    }
    buildWav(1, 8000, samples)
  }

  /** Deterministic synthetic IMA-ADPCM WAV from (id, nChars): a smooth
    * integer triangle wave (ADPCM-friendly content — the codec tracks
    * slowly-varying signals) with id-varying period/amplitude/block
    * size, encoded through [[Adpcm.encodeWavBlocks]]. The decode chain
    * is stateful (not SQL-expressible) — queries over this are
    * golden-pinned and the numpy worker twin must agree bit-for-bit. */
  def synthWavAdpcm(id: Long, nChars: Long): Array[Byte] = {
    val n = (nChars % 700 + 300).toInt
    val period = (24 + id % 40).toInt
    val amp = (4000 + (id % 7) * 3500).toInt
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      val ph = i % period
      val tri = if (ph * 2 < period) ph * 2 else 2 * (period - ph)
      samples(i) = ((tri * 2 * amp) / period - amp).toShort
      i += 1
    }
    Adpcm.buildWavAdpcm(8000, samples,
      blockAlign = if (id % 2 == 0) 64 else 128)
  }

  /** Deterministic synthetic BMP from (id, nChars) — same closed-form
    * contract as [[synthWav]] (byte mean is permutation-invariant, so the
    * encoder's BGR flip + row order never reaches the oracle). */
  def synthBmp(id: Long, nChars: Long): Array[Byte] = {
    val w = (nChars % 30 + 1).toInt
    val h = 3
    val px = new Array[Byte](w * h * 3)
    var j = 0
    while (j < px.length) {
      px(j) = ((id * 7 + j * 13) % 256).toByte; j += 1
    }
    buildBmp(w, h, px)
  }

  /** Build a media table from any table with a string column, for tests and
    * the oracle query: payload = UTF-8 bytes of the text. */
  def mediaFromText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      source: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      lit("text/plain").as("format"),
      lit(source).as("source"))
}
