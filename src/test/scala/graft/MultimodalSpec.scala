package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stub decode derives deterministic features from payload bytes") {
    val item = Multimodal.MediaItem(7L, "hello".getBytes("UTF-8"), "text/plain", "t")
    val f1 = Multimodal.stubDecode(item)
    val f2 = Multimodal.stubDecode(item)
    assert(f1 == f2)
    assert(f1.byte_len == 5 && f1.first_cp == 'h'.toInt)
    assert(f1.width == 5 % 640 + 16)
  }

  test("decode runs partition-wise over a media Dataset") {
    val docs = Seq((0L, "abc"), (1L, "defgh")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "test")
      .as[Multimodal.MediaItem]
    val feats = Multimodal.decode(media).orderBy("media_id").collect()
    assert(feats.map(_.byte_len).toSeq == Seq(3, 5))
    assert(feats.forall(_.checksum > 0))
  }

  test("sampleFrames emits one row per sampled chunk") {
    val df = Seq((0L, "0123456789abcdef")).toDF("id", "payload")
      .withColumn("payload", col("payload").cast("binary"))
    val frames = Multimodal.sampleFrames(df, "id", "payload", chunkLen = 4, stride = 2)
    assert(frames.count() == 2) // 16 bytes / (4*2) = 2 pseudo-frames
    assert(frames.columns.toSet == Set("id", "frame_idx", "frame_bytes"))
  }

  test("sniffFormat classifies payloads by magic bytes") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
    val wav = "RIFF1234WAVE".getBytes("UTF-8")
    val webp = "RIFF1234WEBP".getBytes("UTF-8")
    val txt = "hello".getBytes("UTF-8")
    val df = Seq((0L, png), (1L, jpeg), (2L, wav), (3L, txt), (4L, webp))
      .toDF("id", "payload")
    val got = df.select(col("id"), Multimodal.sniffFormat(col("payload")).as("fmt"))
      .orderBy("id").select("fmt").as[String].collect().toSeq
    assert(got == Seq(
      "image/png", "image/jpeg", "audio/wav", "application/octet-stream",
      "image/webp"))
  }

  test("resizeBatch groups items into kernel batches of the requested size") {
    val docs = (0L until 10L).map(i => (i, s"payload_$i")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "test")
      .as[Multimodal.MediaItem].repartition(1)
    val out = Multimodal.resizeBatch(media, 224, 224, batchSize = 4)
      .collect().sortBy(_.media_id)
    assert(out.length == 10)
    assert(out.forall(r => r.width == 224 && r.height == 224))
    // one partition of 10 -> batches of 4, 4, 2
    assert(out.map(_.batch_size).sorted.toSeq == Seq(2, 2, 4, 4, 4, 4, 4, 4, 4, 4))
  }

  test("stubEmbed: identical payloads collide, embeddings are unit-norm") {
    val docs = Seq((0L, "same text"), (1L, "same text"), (2L, "different"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "test")
      .as[Multimodal.MediaItem]
    val em = Multimodal.stubEmbed(media, dim = 8).collect().sortBy(_.media_id)
    assert(em(0).embedding == em(1).embedding)
    assert(em(0).embedding != em(2).embedding)
    val norm = math.sqrt(em(0).embedding.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
    // composes with ANN dedup unchanged
    val pairs = graft.ext.Similarity.embeddingNearDuplicates(
      Multimodal.stubEmbed(media, 8).toDF()
        .withColumn("blk", org.apache.spark.sql.functions.lit(1)),
      "media_id", "embedding", "blk", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((0L, 1L)))
  }

  test("Arrow seam round-trips media rows through IPC record batches") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.mediaFromText(
      Seq((1L, "alpha"), (2L, "beta payload"), (3L, "")).toDF("id", "t"),
      "id", "t", "spec")
    // identity worker: proves the batches are valid Arrow IPC and the
    // schema/values survive the columnar exit + re-entry
    val back = Multimodal.transformViaArrow(media)
    assert(back.schema == media.schema)
    val got = back.orderBy("media_id")
      .select(col("media_id"), length(col("payload")).as("n"), col("format"))
      .as[(Long, Int, String)].collect().toSeq
    assert(got == Seq((1L, 5, "text/plain"), (2L, 12, "text/plain"),
      (3L, 0, "text/plain")))
    // the serialized form really is per-batch Arrow bytes
    val batches = org.apache.spark.sql.GraftArrowBridge.toBatchRdd(media).collect()
    assert(batches.nonEmpty && batches.forall(_.length > 0))
  }

  test("external Arrow embedding worker == in-JVM stubEmbed bit-for-bit; " +
      "ANN over worker embeddings is identical end-to-end") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "spec")
    val viaJvm = Multimodal.stubEmbed(
        media.as[Multimodal.MediaItem], dim = 16)
      .collect().map(e => (e.media_id, e.embedding)).sortBy(_._1)
    val worker = Multimodal.embedViaWorker(media,
      Seq("python3", "scripts/embed_worker.py", "16"), dim = 16)
    val viaExt = worker
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(viaExt.length == viaJvm.length)
    viaJvm.zip(viaExt).foreach { case ((idJ, embJ), (idE, embE)) =>
      assert(idJ == idE)
      assert(embJ == embE, s"embedding diverges for media_id $idJ")
    }
    // end-to-end: ANN over the worker embeddings reproduces the in-JVM
    // path exactly (pinned seeds — the whole bridge is value-transparent)
    val jvmDf = Multimodal.stubEmbed(media.as[Multimodal.MediaItem], 16)
      .toDF("media_id", "embedding")
    def ann(emb: org.apache.spark.sql.DataFrame) =
      graft.ext.Similarity.ivfPqTopK(
          emb.filter(col("media_id") < 5), emb, "media_id", "embedding",
          3, numCells = 2, numProbes = 2, m = 4, kSub = 4,
          seedIds = Some(Seq(0L, 1L)),
          pqSeedIds = Some((0 until 4).map(_.toLong)))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    assert(ann(worker) == ann(jvmDf))
  }

  // — REAL codecs (round-15 ask): BMP + WAV decode for real, committed
  // binary fixtures byte-exact, numpy worker parity over the Arrow seam —

  private def readResource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing test resource $path")
    try in.readAllBytes() finally in.close()
  }

  test("REAL BMP codec: committed fixture decodes byte-exact " +
      "(BGR->RGB, bottom-up rows, 4-byte padding)") {
    val b = readResource("/graft/tiny.bmp")
    val (w, h, px) = Multimodal.bmpPixels(b)
    assert((w, h) == ((3, 2)))
    // the fixture was written by an independent encoder (python struct):
    // top-down RGB pixel bytes must come back exactly
    assert(px.map(_ & 0xff).toSeq == Seq(
      255, 0, 0, 0, 255, 0, 0, 0, 255,
      10, 20, 30, 40, 50, 60, 70, 80, 90))
    val f = Multimodal.decodeReal(Multimodal.MediaItem(1L, b, "", "fix"))
    assert(f == Multimodal.RealMediaFeatures(
      1L, "image/bmp", 3, 2, 3, 0, 6L, 1215.0 / 18))
    // truncated pixel data fails loudly, never silently mis-decodes
    val e = intercept[IllegalArgumentException](
      Multimodal.bmpPixels(b.take(60)))
    assert(e.getMessage.contains("truncated BMP"))
    // encode -> decode round-trip is the identity on pixels
    val (w2, h2, px2) = Multimodal.bmpPixels(Multimodal.buildBmp(w, h, px))
    assert(w2 == w && h2 == h && px2.toSeq == px.toSeq)
  }

  test("REAL WAV codec: committed fixture decodes byte-exact " +
      "(RIFF chunk walk, PCM16 little-endian)") {
    val b = readResource("/graft/tiny.wav")
    val (ch, sr, samples) = Multimodal.wavSamples(b)
    assert(ch == 1 && sr == 8000)
    assert(samples.toSeq ==
      Seq[Short](0, 1000, -1000, 32767, -32768, 5, -5, 12345))
    val f = Multimodal.decodeReal(Multimodal.MediaItem(2L, b, "", "fix"))
    val sq = samples.map(s => s.toLong * s).sum
    assert(f == Multimodal.RealMediaFeatures(2L, "audio/wav", 0, 0, 1, 8000,
      8L, math.sqrt(sq.toDouble / 8) / 32768.0))
    // encode -> decode round-trip is the identity on samples
    val (ch2, sr2, s2) =
      Multimodal.wavSamples(Multimodal.buildWav(ch, sr, samples))
    assert(ch2 == ch && sr2 == sr && s2.toSeq == samples.toSeq)
    // a PCM16 claim with a float fmt tag fails loudly
    val bad = b.clone(); bad(20) = 3 // WAVE_FORMAT_IEEE_FLOAT
    val e = intercept[IllegalArgumentException](Multimodal.wavSamples(bad))
    assert(e.getMessage.contains("unsupported WAV variant"))
    // a malformed chunk length near 2^32 must ERROR, never stall the
    // chunk walk (Int truncation would make the offset advance by zero
    // and wedge the executor task forever)
    val loop = b.clone()
    // overwrite the fmt chunk id with junk and its length with 0xFFFFFFF8
    loop(12) = 'J'; loop(13) = 'U'; loop(14) = 'N'; loop(15) = 'K'
    loop(16) = 0xF8.toByte; loop(17) = 0xFF.toByte
    loop(18) = 0xFF.toByte; loop(19) = 0xFF.toByte
    val e2 = intercept[IllegalArgumentException](Multimodal.wavSamples(loop))
    assert(e2.getMessage.contains("WAV"))
    // null payload = empty octet-stream features, matching the numpy
    // worker's explicit None handling
    val fNull = Multimodal.decodeReal(Multimodal.MediaItem(3L, null, "", "f"))
    assert(fNull == Multimodal.RealMediaFeatures(
      3L, "application/octet-stream", 0, 0, 0, 0, 0L, 0.0))
    // real-world WAVs carry LIST/INFO metadata chunks between fmt and
    // data (often with an ODD length, exercising the even-padding rule):
    // splice one in and the walk must skip it to the same samples
    val info = "INFO TAG!".getBytes("US-ASCII") // 9 bytes — odd
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte]((info.length & 0xff).toByte, 0, 0, 0) ++ info ++
      Array[Byte](0) // even-length pad byte
    val spliced = b.slice(0, 36) ++ listChunk ++ b.slice(36, b.length)
    // fix the RIFF size field (bytes 4-7) for the inserted chunk
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >> 8) & 0xff).toByte
    val (ch3, sr3, s3) = Multimodal.wavSamples(spliced)
    assert(ch3 == ch && sr3 == sr && s3.toSeq == samples.toSeq,
      "LIST chunk between fmt and data changed the decoded samples")
  }

  test("REAL P6 pixmap codec: committed fixture decodes byte-exact " +
      "(comment/whitespace header walk, single-whitespace pixel boundary)") {
    val b = readResource("/graft/tiny.ppm")
    val (w, h, px) = Multimodal.ppmPixels(b)
    assert((w, h) == ((3, 2)))
    // same pixel values as tiny.bmp, but stored top-down RGB — the
    // fixture's header carries comments and mixed whitespace, written by
    // an independent encoder
    assert(px.map(_ & 0xff).toSeq == Seq(
      255, 0, 0, 0, 255, 0, 0, 0, 255,
      10, 20, 30, 40, 50, 60, 70, 80, 90))
    val f = Multimodal.decodeReal(Multimodal.MediaItem(8L, b, "", "fix"))
    assert(f == Multimodal.RealMediaFeatures(
      8L, "image/x-portable-pixmap", 3, 2, 3, 0, 6L, 1215.0 / 18))
    // encode -> decode round-trip is the identity
    val (w2, h2, px2) = Multimodal.ppmPixels(Multimodal.buildPpm(w, h, px))
    assert(w2 == w && h2 == h && px2.toSeq == px.toSeq)
    // a 2-byte-deep pixmap (maxval > 255) fails loudly
    val deep = "P6\n3 2\n65535\n".getBytes("US-ASCII") ++ px ++ px
    val e = intercept[IllegalArgumentException](Multimodal.ppmPixels(deep))
    assert(e.getMessage.contains("maxval"))
    // truncated pixels fail loudly
    val e2 = intercept[IllegalArgumentException](
      Multimodal.ppmPixels(b.dropRight(4)))
    assert(e2.getMessage.contains("truncated P6"))
    // sniffFormat routes it
    val fmt = spark.createDataset(Seq(1))(org.apache.spark.sql.Encoders.scalaInt)
      .toDF("x").select(Multimodal.sniffFormat(lit(b)).as("f"))
      .collect()(0).getString(0)
    assert(fmt == "image/x-portable-pixmap")
  }

  test("REAL AVI codec: committed fixture decodes byte-exact " +
      "(nested LISTs, rec grouping, INFO skip, idx1 skip, DIB frames)") {
    val b = readResource("/graft/tiny.avi")
    val v = Multimodal.aviFrames(b)
    assert(v.width == 3 && v.height == 2 && v.fps == 15)
    assert(v.frames.size == 2)
    // frame 0 mirrors tiny.bmp's pixels; the fixture was written by an
    // independent encoder (python struct), frame 1 sits inside a `rec `
    // LIST and an odd-length LIST/INFO chunk precedes movi — the walk
    // must skip/descend all of it to exactly these top-down RGB bytes
    assert(v.frames(0).map(_ & 0xff).toSeq == Seq(
      255, 0, 0, 0, 255, 0, 0, 0, 255,
      10, 20, 30, 40, 50, 60, 70, 80, 90))
    assert(v.frames(1).map(_ & 0xff).toSeq == Seq(
      5, 10, 15, 20, 25, 30, 35, 40, 45,
      50, 55, 60, 65, 70, 75, 80, 85, 90))
    val f = Multimodal.decodeReal(Multimodal.MediaItem(4L, b, "", "fix"))
    val sum = (v.frames(0) ++ v.frames(1)).map(_ & 0xff).map(_.toLong).sum
    assert(f == Multimodal.RealMediaFeatures(
      4L, "video/avi", 3, 2, 3, 15, 2L, sum.toDouble / 36))
    // encode -> decode round-trip is the identity on frames
    val rt = Multimodal.aviFrames(
      Multimodal.buildAvi(v.width, v.height, v.fps, v.frames))
    assert(rt.width == 3 && rt.height == 2 && rt.fps == 15)
    assert(rt.frames.map(_.toSeq) == v.frames.map(_.toSeq))
    // a compressed-stream claim fails loudly (biCompression in the vids
    // strf lives at fixture offset: find strf and tamper its comp field)
    val strfOff = {
      var i = 0
      while (!(b(i) == 's' && b(i + 1) == 't' && b(i + 2) == 'r'
          && b(i + 3) == 'f')) i += 1
      i
    }
    val bad = b.clone(); bad(strfOff + 8 + 16) = 1 // BI_RLE8
    val e = intercept[IllegalArgumentException](Multimodal.aviFrames(bad))
    assert(e.getMessage.contains("unsupported AVI variant"))
    // a frame chunk shorter than its DIB must ERROR, never read the next
    // chunk's bytes: shrink the first 00db length in place
    val short = b.clone()
    val dbOff = {
      var i = 0
      while (!(short(i) == '0' && short(i + 1) == '0'
          && short(i + 2) == 'd' && short(i + 3) == 'b')) i += 1
      i
    }
    short(dbOff + 4) = 10 // 24-byte DIB claims 10
    val e2 = intercept[IllegalArgumentException](Multimodal.aviFrames(short))
    assert(e2.getMessage.contains("truncated AVI frame"))
    // sampleVideoFrames stride 2 keeps frame 0 only, with its exact mean
    val sampled = Multimodal.sampleVideoFrames(
      Seq(Multimodal.MediaItem(9L, b, "", "fix")).toDS(), stride = 2)
      .collect()
    assert(sampled.length == 1)
    val s0 = sampled(0)
    val m0 = v.frames(0).map(_ & 0xff).map(_.toLong).sum.toDouble / 18
    assert(s0.media_id == 9L && s0.frame_idx == 0 && s0.width == 3
      && s0.height == 2 && s0.mean_value == m0
      && s0.rgb.toSeq == v.frames(0).toSeq)
  }

  test("REAL baseline JPEG codec: committed fixture decodes to pinned " +
      "pixels (Huffman + dequant + integer IDCT + 4:2:0 upsample + rst)") {
    import graft.ext.Jpeg
    val b = readResource("/graft/tiny.jpg")
    // the fixture is 16x11 (partial MCU both axes at 4:2:0), quality 85,
    // restart interval 1 — every decoder path in one payload
    val (w, h, px) = Jpeg.decode(b)
    assert((w, h) == ((16, 11)))
    // pinned decode: the first 8 pixels exactly, plus an md5 over the
    // whole RGB block — the numpy twin reproduces the same bytes, so
    // this pin IS the cross-language contract at pixel grain
    assert(px.take(24).map(_ & 0xff).toSeq == Seq(
      0, 26, 51, 7, 33, 58, 17, 43, 68, 26, 52, 77, 35, 61, 86,
      44, 70, 95, 54, 80, 105, 61, 87, 112))
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(md.digest(px).map("%02x".format(_)).mkString ==
      "9357f30250df2d3f09eb8ca4bb8f5aab")
    val f = Multimodal.decodeReal(Multimodal.MediaItem(11L, b, "", "fix"))
    assert(f == Multimodal.RealMediaFeatures(
      11L, "image/jpeg", 16, 11, 3, 0, 176L, 67168.0 / 528))
    // decode is CLOSE to the encoder's source (the codec really decodes;
    // deterministic garbage would be stable but far off): the fixture's
    // generator ramp, re-derived here
    val src = Array.tabulate(16 * 11 * 3) { j =>
      val p = j / 3; ((p % 16) * 9 + (p / 16) * 7 + (j % 3) * 25).toByte
    }
    val maxErr = px.zip(src).map { case (a, c) =>
      math.abs((a & 0xff) - (c & 0xff))
    }.max
    assert(maxErr <= 12, s"fixture decode drifted $maxErr from source")
    // sniffFormat routes it
    val fmt = spark.range(1).toDF("x")
      .select(Multimodal.sniffFormat(lit(b)).as("f"))
      .collect()(0).getString(0)
    assert(fmt == "image/jpeg")
  }

  test("JPEG round-trips stay close across quality/subsample/restart/" +
      "gray, and unsupported variants fail loudly") {
    import graft.ext.Jpeg
    def img(w: Int, h: Int): Array[Byte] = Array.tabulate(w * h * 3) { j =>
      val p = j / 3
      ((p % w) * 6 + (p / w) * 5 + (j % 3) * 11).toByte
    }
    for (sub <- Seq(false, true); rst <- Seq(0, 2); q <- Seq(50, 90)) {
      val (w, h) = (29, 13) // partial MCUs both axes
      val enc = Jpeg.encode(w, h, img(w, h), q, sub, rst)
      val (dw, dh, dec) = Jpeg.decode(enc)
      assert(dw == w && dh == h)
      val maxErr = dec.zip(img(w, h)).map { case (a, c) =>
        math.abs((a & 0xff) - (c & 0xff))
      }.max
      // smooth gradient: measured maxerr 5 (q50) / 3 (q90); bound 8
      assert(maxErr <= 8, s"sub=$sub rst=$rst q=$q maxErr=$maxErr")
    }
    // grayscale single-component path: decoded R=G=B
    val gEnc = Jpeg.encode(21, 10, img(21, 10), 90, gray = true)
    val (gw, gh, gPx) = Jpeg.decode(gEnc)
    assert(gw == 21 && gh == 10)
    assert((0 until 21 * 10).forall(p =>
      gPx(3 * p) == gPx(3 * p + 1) && gPx(3 * p + 1) == gPx(3 * p + 2)))
    // quality 50 = the Annex-K tables unscaled
    assert(Jpeg.scaledQuant(Jpeg.QLumaBase, 50).toSeq == Jpeg.QLumaBase.toSeq)
    // error paths: each unsupported/corrupt form must ERROR, never
    // silently mis-decode (the poison-the-corpus guard)
    val good = Jpeg.encode(16, 8, img(16, 8), 85)
    def tamper(f: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); f(c); c
    }
    def sofOff = {
      var i = 0
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    // progressive claim (SOF0 -> SOF2)
    val e1 = intercept[IllegalArgumentException](
      Jpeg.decode(tamper(c => c(sofOff + 1) = 0xc2.toByte)))
    assert(e1.getMessage.contains("progressive"))
    // arithmetic-coding claim (SOF0 -> SOF9)
    val e2 = intercept[IllegalArgumentException](
      Jpeg.decode(tamper(c => c(sofOff + 1) = 0xc9.toByte)))
    assert(e2.getMessage.contains("SOF"))
    // truncated entropy stream
    val e3 = intercept[IllegalArgumentException](
      Jpeg.decode(good.dropRight(20)))
    assert(e3.getMessage.toLowerCase.contains("truncated"))
    // 64 MP allocation guard: a 200-byte payload claiming 65500x65500
    // must fail BEFORE allocating planes
    val e4 = intercept[IllegalArgumentException](Jpeg.decode(tamper { c =>
      c(sofOff + 5) = 0xff.toByte; c(sofOff + 6) = 0xdc.toByte
      c(sofOff + 7) = 0xff.toByte; c(sofOff + 8) = 0xdc.toByte
    }))
    assert(e4.getMessage.contains("64 MP"))
    // not a JPEG at all
    val e5 = intercept[IllegalArgumentException](
      Jpeg.decode("plainly not a jpeg".getBytes("UTF-8")))
    assert(e5.getMessage.contains("not a JPEG"))
  }

  // chunk assembler for hand-built PNG variants (gray, gray+alpha,
  // corrupt-by-construction)
  private def pngChunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val typed = ctype.getBytes("US-ASCII") ++ data
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    w32(data.length.toLong)
    out.write(typed, 0, typed.length)
    val crc = new java.util.zip.CRC32()
    crc.update(typed)
    w32(crc.getValue)
    out.toByteArray
  }
  private val pngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    .map(_.toByte)
  private def pngIhdr(w: Int, h: Int, colorType: Int): Array[Byte] = {
    val d = new Array[Byte](13)
    d(0) = ((w >> 24) & 0xff).toByte; d(1) = ((w >> 16) & 0xff).toByte
    d(2) = ((w >> 8) & 0xff).toByte; d(3) = (w & 0xff).toByte
    d(4) = ((h >> 24) & 0xff).toByte; d(5) = ((h >> 16) & 0xff).toByte
    d(6) = ((h >> 8) & 0xff).toByte; d(7) = (h & 0xff).toByte
    d(8) = 8; d(9) = colorType.toByte
    d
  }

  test("REAL PNG codec: committed python-zlib fixtures decode to exact " +
      "pixels (chunk walk, CRC, inflate, all five filters, palette)") {
    import graft.ext.Png
    // tiny.png: 24x16 RGBA, filters cycling 0..4 per row, level-9
    // dynamic-huffman zlib SPLIT ACROSS TWO IDATs, tEXt ancillary —
    // written by python zlib (an independent DEFLATE implementation)
    val b = readResource("/graft/tiny.png")
    val (w, h, px) = Png.decode(b)
    assert((w, h) == ((24, 16)))
    // LOSSLESS: full pixel equality against the generator formula
    // (alpha channel (x + 9y) % 256 must have been dropped)
    val expected = Array.tabulate(24 * 16 * 3) { k =>
      val p = k / 3; val x = p % 24; val y = p / 24
      (k % 3 match {
        case 0 => (x * 7 + y * 3) % 256
        case 1 => (x * 2 + y * 11) % 256
        case _ => (x * 13 + y * 5) % 256
      }).toByte
    }
    assert(java.util.Arrays.equals(px, expected))
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(md.digest(px).map("%02x".format(_)).mkString ==
      "f167f21e46e0e5850db204365a690aba")
    val f = Multimodal.decodeReal(Multimodal.MediaItem(12L, b, "", "fix"))
    val sum = expected.map(_ & 0xff).map(_.toLong).sum
    assert(f == Multimodal.RealMediaFeatures(
      12L, "image/png", 24, 16, 3, 0, 384L, sum.toDouble / 1152))
    // tiny_pal.png: 8x6 color-type-3 with a 5-entry PLTE, compressed
    // with zlib Z_FIXED — the fixed-huffman inflate path — plus gAMA
    val bp = readResource("/graft/tiny_pal.png")
    val (wp, hp, pxp) = Png.decode(bp)
    assert((wp, hp) == ((8, 6)))
    val pal = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30),
      (200, 100, 50))
    val expPal = (0 until 6).flatMap { y =>
      (0 until 8).flatMap { x =>
        val (r, g, bl) = pal((x * 3 + y * 2) % 5); Seq(r, g, bl)
      }
    }
    assert(pxp.map(_ & 0xff).toSeq == expPal)
    assert(md.digest(pxp).map("%02x".format(_)).mkString ==
      "6415225d2df52eae1f525cb1ef0bfde5")
    // sniffFormat routes it
    val fmt = spark.range(1).toDF("x")
      .select(Multimodal.sniffFormat(lit(b)).as("f"))
      .collect()(0).getString(0)
    assert(fmt == "image/png")
  }

  test("PNG gray / gray-alpha variants, round-trip identity, and loud " +
      "failures (CRC, interlace, 16-bit, filter type, truncation)") {
    import graft.ext.{Inflate, Png}
    // hand-assembled grayscale (type 0): Up filter on row 1
    val grayRaw = Array[Byte](
      0, 10, 20, 30,  // row 0, filter None
      2, 5, 5, 5)     // row 1, filter Up -> 15, 25, 35
    val gray = pngSig ++ pngChunk("IHDR", pngIhdr(3, 2, 0)) ++
      pngChunk("IDAT", Inflate.zlibDeflateStored(grayRaw)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val (gw, gh, gpx) = Png.decode(gray)
    assert((gw, gh) == ((3, 2)))
    assert(gpx.map(_ & 0xff).toSeq == Seq(
      10, 10, 10, 20, 20, 20, 30, 30, 30,
      15, 15, 15, 25, 25, 25, 35, 35, 35))
    // gray+alpha (type 4): alpha dropped, Sub filter (bpp = 2 bytes)
    val gaRaw = Array[Byte](1, 40, -1, 10, 0) // Sub: 40,255 then 50,255
    val ga = pngSig ++ pngChunk("IHDR", pngIhdr(2, 1, 4)) ++
      pngChunk("IDAT", Inflate.zlibDeflateStored(gaRaw)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val (_, _, gapx) = Png.decode(ga)
    assert(gapx.map(_ & 0xff).toSeq == Seq(40, 40, 40, 50, 50, 50))
    // encode -> decode round-trip is the identity (both filter modes)
    val img = Array.tabulate(17 * 9 * 3)(j => ((j * 29 + 5) % 256).toByte)
    for (sub <- Seq(false, true)) {
      val (rw, rh, rpx) = Png.decode(Png.encode(17, 9, img, filterSub = sub))
      assert(rw == 17 && rh == 9 && java.util.Arrays.equals(rpx, img),
        s"round-trip failed for filterSub=$sub")
    }
    // corrupt CRC fails loudly
    val good = Png.encode(5, 4, Array.tabulate(60)(_.toByte))
    val badCrc = good.clone()
    badCrc(badCrc.length - 1) = (badCrc(badCrc.length - 1) ^ 1).toByte
    val e1 = intercept[IllegalArgumentException](Png.decode(badCrc))
    assert(e1.getMessage.contains("CRC"))
    // Adam7 interlace claim fails loudly (rebuild IHDR with valid CRC)
    val ihdrI = pngIhdr(5, 4, 2); ihdrI(12) = 1
    val interlaced = pngSig ++ pngChunk("IHDR", ihdrI) ++
      pngChunk("IEND", Array.emptyByteArray)
    val e2 = intercept[IllegalArgumentException](Png.decode(interlaced))
    assert(e2.getMessage.contains("Adam7"))
    // 16-bit depth fails loudly
    val ihdr16 = pngIhdr(5, 4, 2); ihdr16(8) = 16
    val deep = pngSig ++ pngChunk("IHDR", ihdr16) ++
      pngChunk("IEND", Array.emptyByteArray)
    val e3 = intercept[IllegalArgumentException](Png.decode(deep))
    assert(e3.getMessage.contains("bit depth"))
    // unknown CRITICAL chunk fails loudly; ancillary is skipped
    val crit = pngSig ++ pngChunk("IHDR", pngIhdr(3, 2, 0)) ++
      pngChunk("CrIt", Array[Byte](1)) ++
      pngChunk("IDAT", Inflate.zlibDeflateStored(grayRaw)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val e4 = intercept[IllegalArgumentException](Png.decode(crit))
    assert(e4.getMessage.contains("critical"))
    // filter type 5 fails loudly (valid zlib, invalid filter byte)
    val badFilt = grayRaw.clone(); badFilt(0) = 5
    val bf = pngSig ++ pngChunk("IHDR", pngIhdr(3, 2, 0)) ++
      pngChunk("IDAT", Inflate.zlibDeflateStored(badFilt)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val e5 = intercept[IllegalArgumentException](Png.decode(bf))
    assert(e5.getMessage.contains("filter type"))
    // truncation fails loudly
    val e6 = intercept[IllegalArgumentException](Png.decode(good.take(40)))
    assert(e6.getMessage.toLowerCase.contains("truncated"))
    // 64 MP guard
    val ihdrBig = pngIhdr(65500, 65500, 2)
    val big = pngSig ++ pngChunk("IHDR", ihdrBig)
    val e7 = intercept[IllegalArgumentException](Png.decode(big))
    assert(e7.getMessage.contains("64 MP"))
    // image data that inflates past its IHDR size fails loudly: a 1x1
    // gray image expects 2 bytes, this IDAT holds 64 KB
    val bloated = pngSig ++ pngChunk("IHDR", pngIhdr(1, 1, 0)) ++
      pngChunk("IDAT", Inflate.zlibDeflateStored(new Array[Byte](65536))) ++
      pngChunk("IEND", Array.emptyByteArray)
    val e8 = intercept[IllegalArgumentException](Png.decode(bloated))
    assert(e8.getMessage.contains("corrupt PNG: inflated more than 2 bytes"))
  }

  test("synth PNG decodes to its closed-form features " +
      "(the mm_features_png oracle contract; lossless => exact formula)") {
    for (id <- 0L until 8L) {
      val nc = id * 37 + 5
      val fv = Multimodal.decodeReal(
        Multimodal.MediaItem(id, Multimodal.synthPng(id, nc), "", "s"))
      val w = (nc % 21 + 4).toInt
      val h = (id % 7 + 3).toInt
      val sum = (0 until w * h * 3).map(j => (id * 11 + j * 17) % 256).sum
      assert(fv == Multimodal.RealMediaFeatures(id, "image/png", w, h, 3, 0,
        w.toLong * h, sum.toDouble / (w * h * 3)),
        s"synth PNG features diverged for id=$id")
    }
  }

  test("REAL GIF codec: committed python-LZW fixture decodes to exact " +
      "pixels (adaptive LZW, width growth, interlace, local color table)") {
    import graft.ext.Gif
    // tiny.gif: GIF89a, 8-entry GCT, GCE + comment extensions, frame 0
    // sequential (repetitive content -> real dictionary compression),
    // frame 1 INTERLACED at offset (2,1) with a 4-entry LOCAL table —
    // compressed by an independent python adaptive-LZW encoder
    val b = readResource("/graft/tiny.gif")
    val g = Gif.decode(b)
    assert(g.width == 11 && g.height == 9 && g.frames.size == 2)
    val f0 = g.frames(0)
    assert((f0.left, f0.top, f0.width, f0.height, f0.interlaced) ==
      ((0, 0, 11, 9, false)))
    val pal = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (32, 64, 96),
      (200, 100, 50), (1, 2, 3), (250, 251, 252), (9, 8, 7))
    val exp0 = (0 until 9).flatMap { y =>
      (0 until 11).flatMap { x =>
        val (r, gr, bl) = pal((x / 3 + (y / 3) * 2) % 8); Seq(r, gr, bl)
      }
    }
    assert(f0.rgb.map(_ & 0xff).toSeq == exp0)
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(md.digest(f0.rgb).map("%02x".format(_)).mkString ==
      "c9e21b313d0bc8133dba1252b0298ca4")
    val f1 = g.frames(1)
    assert((f1.left, f1.top, f1.width, f1.height, f1.interlaced) ==
      ((2, 1, 7, 6, true)))
    val pal1 = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120))
    val exp1 = (0 until 6).flatMap { y =>
      (0 until 7).flatMap { x =>
        val (r, gr, bl) = pal1((x + y) % 4); Seq(r, gr, bl)
      }
    }
    // DISPLAY order equality proves the 4-pass deinterlace mapping
    assert(f1.rgb.map(_ & 0xff).toSeq == exp1)
    assert(md.digest(f1.rgb).map("%02x".format(_)).mkString ==
      "9a17c027c3bd7fb47eeb04282a8381b0")
    val f = Multimodal.decodeReal(Multimodal.MediaItem(13L, b, "", "fix"))
    assert(f == Multimodal.RealMediaFeatures(
      13L, "image/gif", 11, 9, 3, 0, 2L, 33561.0 / 423))
    // sniffFormat routes it
    val fmt = spark.range(1).toDF("x")
      .select(Multimodal.sniffFormat(lit(b)).as("f"))
      .collect()(0).getString(0)
    assert(fmt == "image/gif")
    // loud failures: truncated sub-blocks, unknown block type, frame
    // with NO color table anywhere, corrupt LZW stream
    val e1 = intercept[IllegalArgumentException](Gif.decode(b.take(40)))
    assert(e1.getMessage.toLowerCase.contains("truncated"))
    val badBlock = b.clone()
    // first byte after the 13-byte header + 24-byte GCT is the GCE 0x21
    badBlock(13 + 24) = 0x77
    val e2 = intercept[IllegalArgumentException](Gif.decode(badBlock))
    assert(e2.getMessage.contains("unknown block"))
    val noCt = graft.ext.Gif.encode(3, 2,
      Array[Byte](1, 2, 3, 4, 5, 6),
      Seq((0, 0, 3, 2, false, Array[Byte](0, 1, 0, 1, 0, 1))))
    // strip the GCT-present flag and splice out the 6-byte (2-entry)
    // table: the frame then has no color table at all
    val stripped = noCt.clone()
    stripped(10) = (stripped(10) & 0x7f).toByte
    val spliced = stripped.take(13) ++ stripped.drop(13 + 6)
    val e3 = intercept[IllegalArgumentException](Gif.decode(spliced))
    assert(e3.getMessage.contains("color table"))
  }

  test("G.711 mu-law / A-law WAV decode: published extremes, expansion " +
      "through every audio gate, numpy worker parity") {
    // spec vectors (CCITT G.711): both zero codes, both extremes, two
    // interior points per law — computed independently and pinned
    assert(Multimodal.ulawToPcm(0xFF.toByte) == 0)
    assert(Multimodal.ulawToPcm(0x7F.toByte) == 0)
    assert(Multimodal.ulawToPcm(0x80.toByte) == 32124)  // max positive
    assert(Multimodal.ulawToPcm(0x00.toByte) == -32124) // max negative
    assert(Multimodal.ulawToPcm(0x9A.toByte) == 10876)
    assert(Multimodal.ulawToPcm(0x3C.toByte) == -2364)
    assert(Multimodal.alawToPcm(0x55.toByte) == -8)
    assert(Multimodal.alawToPcm(0xD5.toByte) == 8)
    assert(Multimodal.alawToPcm(0x2A.toByte) == -32256)
    assert(Multimodal.alawToPcm(0xAA.toByte) == 32256)
    assert(Multimodal.alawToPcm(0x13.toByte) == -2880)
    assert(Multimodal.alawToPcm(0xC8.toByte) == 472)
    // hand-built G.711 WAVs (fmt 7 = mu-law, 6 = A-law, 8-bit samples)
    def buildG711(fmt: Int, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](44 + data.length)
      def put16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      }
      def put32(off: Int, v: Long): Unit = {
        put16(off, (v & 0xffff).toInt); put16(off + 2, ((v >> 16) & 0xffff).toInt)
      }
      def tag(off: Int, s: String): Unit = s.getBytes("US-ASCII")
        .zipWithIndex.foreach { case (c, i) => out(off + i) = c }
      tag(0, "RIFF"); put32(4, 36L + data.length); tag(8, "WAVE")
      tag(12, "fmt "); put32(16, 16L); put16(20, fmt); put16(22, 1)
      put32(24, 8000L); put32(28, 8000L); put16(32, 1); put16(34, 8)
      tag(36, "data"); put32(40, data.length.toLong)
      System.arraycopy(data, 0, out, 44, data.length)
      out
    }
    val uBytes = Array[Byte](0xFF.toByte, 0x80.toByte, 0x00, 0x9A.toByte)
    val (ch, sr, us) = Multimodal.wavSamples(buildG711(7, uBytes))
    assert(ch == 1 && sr == 8000)
    assert(us.toSeq == Seq[Short](0, 32124, -32124, 10876))
    val aBytes = Array[Byte](0x55, 0xAA.toByte, 0x2A, 0xC8.toByte)
    val (_, _, as) = Multimodal.wavSamples(buildG711(6, aBytes))
    assert(as.toSeq == Seq[Short](-8, 32256, -32256, 472))
    // the gates run on the EXPANDED linear domain: the mu-law extremes
    // clip, the zero code is silence
    import spark.implicits._
    val q = Multimodal.audioQuality(
      Seq(Multimodal.MediaItem(1L, buildG711(7, uBytes), "", "s")).toDS(),
      clipLevel = 32000)
      .collect()(0)
    assert(q.n_frames == 4 && q.clip_ratio == 0.5 && q.silence_ratio == 0.25)
    // a 24-bit PCM claim still fails loudly
    val bad = buildG711(1, uBytes); bad(34) = 24
    val e = intercept[IllegalArgumentException](Multimodal.wavSamples(bad))
    assert(e.getMessage.contains("unsupported WAV variant"))
    // numpy worker parity over the Arrow seam (table-driven expansion)
    val media = Seq(
      Multimodal.MediaItem(1L, buildG711(7, uBytes), "", "s"),
      Multimodal.MediaItem(2L, buildG711(6, aBytes), "", "s"),
      Multimodal.MediaItem(3L, Multimodal.synthWav(3, 40), "", "s"))
    val jvm = media.map(Multimodal.decodeReal)
      .map(f => (f.media_id, f.format, f.channels, f.sample_rate,
        f.n_samples, f.mean_value))
    val ext = Multimodal.decodeViaWorker(media.toDF(),
        Seq("python3", "scripts/media_worker.py"))
      .select("media_id", "format", "channels", "sample_rate",
        "n_samples", "mean_value")
      .as[(Long, String, Int, Int, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(ext == jvm, "G.711 worker decode diverges from JVM")
  }

  test("cross-format perceptual hashing: lossless containers of the same " +
      "pixels hash IDENTICALLY; a JPEG re-encode lands within a few bits") {
    import graft.ext.{Gif, Jpeg, Png}
    // smooth gradient (JPEG-friendly) at dHash-visible size
    val w = 20; val h = 12
    val px = Array.tabulate(w * h * 3) { j =>
      val p = j / 3; ((p % w) * 5 + (p / w) * 7 + (j % 3) * 9).toByte
    }
    def hashOf(payload: Array[Byte]): Long = {
      val (dw, dh, dpx) = Multimodal.imagePixels(payload)
      assert(dw == w && dh == h)
      Multimodal.dHash64(dpx, dw, dh)
    }
    val hBmp = hashOf(Multimodal.buildBmp(w, h, px))
    assert(hashOf(Multimodal.buildPpm(w, h, px)) == hBmp, "P6 != BMP")
    assert(hashOf(Png.encode(w, h, px)) == hBmp, "PNG != BMP")
    assert(hashOf(Png.encode(w, h, px, filterSub = true)) == hBmp,
      "Sub-filtered PNG != BMP")
    // JPEG is lossy: the perceptual key must land NEAR, not equal —
    // that is exactly the re-encode-dedup property (Hamming banding
    // catches it at maxDistance >= the drift)
    val dJpeg = java.lang.Long.bitCount(
      hashOf(Jpeg.encode(w, h, px, quality = 95)) ^ hBmp)
    assert(dJpeg <= 4, s"q95 JPEG re-encode drifted $dJpeg bits")
    // GIF: first frame's rectangle; exact-palette content is lossless
    val pal = Array.tabulate(12)(i => (i * 19 + 7).toByte)
    val gifIdx = Array.tabulate(w * h)(p => (p % 4).toByte)
    val gifPx = gifIdx.flatMap(i =>
      Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2)))
    val hGif = hashOf(Gif.encode(w, h, pal,
      Seq((0, 0, w, h, false, gifIdx))))
    assert(hGif == Multimodal.dHash64(gifPx, w, h), "GIF palette path")
    // the native Column expression routes the same dispatch
    import spark.implicits._
    val viaCol = Seq((1L, Png.encode(w, h, px)), (2L, Multimodal.buildBmp(w, h, px)))
      .toDF("id", "payload")
      .select(Multimodal.imageDHashCol(col("payload")).as("dh"))
      .as[Long].collect().toSeq
    assert(viaCol == Seq(hBmp, hBmp))
    // non-image payloads fail loudly
    val e = intercept[Exception](
      Multimodal.imagePixels(Multimodal.synthWav(1, 50)))
    assert(e.getMessage.contains("image"))
  }

  test("GIF codec == Java ImageIO in BOTH directions (the independent " +
      "mainstream implementation; pins the LZW width-growth convention)") {
    import graft.ext.Gif
    import java.awt.image.BufferedImage
    // Direction 1: an ImageIO-ENCODED GIF (independent encoder) must
    // decode bit-identical to ImageIO's own read. Noisy 64x64 indexed
    // content defeats compression, so the code stream crosses several
    // width boundaries — exactly where a wrong growth rule desyncs
    // (round-17 review: the 'early change' variant failed here with
    // 'bad LZW code' while all same-convention fixtures stayed green).
    val w = 64; val h = 64
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
    val rnd = new scala.util.Random(7)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, rnd.nextInt() | 0xff000000)
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", buf))
    val bytes = buf.toByteArray
    val ours = Gif.decode(bytes)
    assert(ours.frames.size == 1)
    val f = ours.frames.head
    assert(f.width == w && f.height == h)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    var mismatches = 0
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = ref.getRGB(x, y)
      val d = (y * w + x) * 3
      if (((rgb >> 16) & 0xff) != (f.rgb(d) & 0xff) ||
          ((rgb >> 8) & 0xff) != (f.rgb(d + 1) & 0xff) ||
          (rgb & 0xff) != (f.rgb(d + 2) & 0xff)) mismatches += 1
    }
    assert(mismatches == 0, s"$mismatches pixels diverge from ImageIO's read")
    // Direction 2: OUR encoder's output must be readable by ImageIO
    // with the same pixels — including a frame large enough (4096 px)
    // to drive the encoder's stored counter through width bumps AND
    // the 4095 clear/reset path at min code size 3
    val pal = Array.tabulate(24)(i => (i * 31 + 5).toByte)
    val idx = Array.tabulate(64 * 64)(p =>
      ((p * 2654435761L >>> 13) % 8).toByte) // noisy indices
    val enc = Gif.encode(64, 64, pal, Seq((0, 0, 64, 64, false, idx)))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(back != null, "ImageIO rejects our GIF output")
    var mm2 = 0
    for (y <- 0 until 64; x <- 0 until 64) {
      val i = idx(y * 64 + x)
      val rgb = back.getRGB(x, y)
      if (((rgb >> 16) & 0xff) != (pal(3 * i) & 0xff) ||
          ((rgb >> 8) & 0xff) != (pal(3 * i + 1) & 0xff) ||
          (rgb & 0xff) != (pal(3 * i + 2) & 0xff)) mm2 += 1
    }
    assert(mm2 == 0, s"ImageIO reads $mm2 wrong pixels from our encode")
    // and our own round-trip of the same stream
    val rt = Gif.decode(enc).frames.head
    assert(rt.rgb.toSeq == idx.flatMap(i =>
      Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))).toSeq)
  }

  test("synth GIF decodes to its closed-form features; encode->decode " +
      "is the identity incl. interlaced frames (mm_features_gif contract)") {
    import graft.ext.Gif
    for (id <- 0L until 7L) {
      val nc = id * 41 + 3
      val fv = Multimodal.decodeReal(
        Multimodal.MediaItem(id, Multimodal.synthGif(id, nc), "", "s"))
      val w = (nc % 13 + 3).toInt
      val h = (id % 5 + 4).toInt
      val nf = (id % 3 + 1).toInt
      val sum = (for (fr <- 0 until nf; p <- 0 until w * h; c <- 0 until 3)
        yield (id * 29 + ((id + fr * 7 + p * 3) % 8) * 37 + c * 11) % 256).sum
      assert(fv == Multimodal.RealMediaFeatures(id, "image/gif", w, h, 3, 0,
        nf.toLong, sum.toDouble / (nf * w * h * 3)),
        s"synth GIF features diverged for id=$id")
    }
    // direct encode -> decode pixel identity on an interlaced frame
    val palette = Array.tabulate(12)(i => (i * 21 + 3).toByte)
    val idx = Array.tabulate(5 * 7)(p => (p % 4).toByte)
    val enc = Gif.encode(5, 7, palette,
      Seq((0, 0, 5, 7, true, idx), (0, 0, 5, 7, false, idx)))
    val dec = Gif.decode(enc)
    assert(dec.frames.size == 2)
    val expRgb = idx.flatMap(i => Seq(palette(3 * i), palette(3 * i + 1),
      palette(3 * i + 2)))
    assert(dec.frames(0).rgb.toSeq == expRgb.toSeq, "interlaced frame")
    assert(dec.frames(1).rgb.toSeq == expRgb.toSeq, "sequential frame")
  }

  test("synth JPEG covers every encode path and decodeReal routes it") {
    // ids chosen to hit: 4:2:0 (even), 4:4:4 (odd), restart (id%3==0),
    // gray (id%7==0), all five quality steps (id%5)
    val feats = (0L until 15L).map { id =>
      Multimodal.decodeReal(Multimodal.MediaItem(
        id, Multimodal.synthJpeg(id, id * 37 + 5), "", "s"))
    }
    assert(feats.forall(_.format == "image/jpeg"))
    assert(feats.forall(f => f.width >= 17 && f.height >= 10))
    assert(feats.forall(f => f.n_samples == f.width.toLong * f.height))
    assert(feats.forall(f => f.mean_value > 0 && f.mean_value < 255))
    // deterministic: same (id, nc) -> same payload bytes
    assert(Multimodal.synthJpeg(6, 227).toSeq ==
      Multimodal.synthJpeg(6, 227).toSeq)
  }

  test("synth AVI decodes to its closed-form features " +
      "(the mm_video / mm_video_frames oracle contract)") {
    val id = 33L; val nc = 123L
    val w = (nc % 14 + 1).toInt; val n = (nc % 6 + 2).toInt
    val fv = Multimodal.decodeReal(
      Multimodal.MediaItem(id, Multimodal.synthAvi(id, nc), "", "s"))
    val total = (for (f <- 0 until n; j <- 0 until w * 6)
      yield (id * 7 + f * 11 + j * 13) % 256).sum
    assert(fv == Multimodal.RealMediaFeatures(id, "video/avi", w, 2, 3, 10,
      n.toLong, total.toDouble / (n * w * 6)))
    val frames = Multimodal.sampleVideoFrames(
      Seq(Multimodal.MediaItem(id, Multimodal.synthAvi(id, nc), "", "s"))
        .toDS(), stride = 2).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == (0 until n by 2).toSeq)
    frames.foreach { fr =>
      val m = (0 until w * 6).map(j =>
        (id * 7 + fr.frame_idx * 11 + j * 13) % 256).sum.toDouble / (w * 6)
      assert(fr.mean_value == m, s"frame ${fr.frame_idx} mean diverges")
    }
  }

  test("MJPEG AVI: frames decode byte-exact to Jpeg.decode of the same " +
      "JPEG bytes; corrupt mixes fail loudly") {
    val w = 19; val h = 11
    val frames = (0 until 3).map { f =>
      val px = new Array[Byte](w * h * 3)
      var j = 0
      while (j < px.length) { px(j) = ((f * 31 + j / 9) % 251).toByte; j += 1 }
      px
    }
    val avi = Multimodal.buildAviMjpeg(w, h, fps = 12, frames, quality = 85)
    val v = Multimodal.aviFrames(avi)
    assert(v.width == w && v.height == h && v.fps == 12
      && v.frames.size == 3)
    // each container frame must equal the standalone still-image decode
    // of the exact JPEG bytes the muxer wrote
    frames.zipWithIndex.foreach { case (px, f) =>
      val jpeg = graft.ext.Jpeg.encode(w, h, px, quality = 85)
      val (dw, dh, dpx) = graft.ext.Jpeg.decode(jpeg)
      assert(dw == w && dh == h)
      assert(java.util.Arrays.equals(v.frames(f), dpx),
        s"MJPEG frame $f diverges from the still-image decode")
    }
    // decodeReal routes it as video with the frame-mean feature
    val fv = Multimodal.decodeReal(Multimodal.MediaItem(7L, avi, "", "s"))
    assert(fv.format == "video/avi" && fv.n_samples == 3
      && fv.width == w && fv.sample_rate == 12)
    // a 00db (uncompressed DIB) chunk under the MJPG header is corrupt
    val tag = "00dc".getBytes("US-ASCII")
    var i = avi.indexOfSlice(tag)
    val broken = avi.clone(); broken(i + 2) = 'd'; broken(i + 3) = 'b'
    val e1 = intercept[IllegalArgumentException](Multimodal.aviFrames(broken))
    assert(e1.getMessage.contains("uncompressed"))
    // sampleVideoFrames rides the same decoder — MJPEG just works
    val fr = Multimodal.sampleVideoFrames(
      Seq(Multimodal.MediaItem(7L, avi, "", "s")).toDS(), stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(fr.map(_.frame_idx).toSeq == Seq(0, 2))
    // videoNearDuplicates discriminates MJPEG payloads: same content →
    // shared frame hashes, different content → none (compressed video
    // dedup end to end)
    val other = Multimodal.buildAviMjpeg(w, h, fps = 12, frames.map { px =>
      px.map(b => (b ^ 0x5a).toByte) }, quality = 85)
    val pairs = Multimodal.videoNearDuplicates(
      Seq(Multimodal.MediaItem(1L, avi, "", "s"),
        Multimodal.MediaItem(2L, avi, "", "s"),
        Multimodal.MediaItem(3L, other, "", "s")).toDS())
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && !got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("IMA ADPCM core == CPython audioop (independent implementation), " +
      "WAV block framing round-trips, loud corrupt failures") {
    import graft.ext.Adpcm
    // differential vs audioop.adpcm2lin over random byte streams:
    // audioop's raw DVI stream is HIGH nibble first from state (0,0) —
    // feed the same nibble SEQUENCE to both sides
    val r = new scala.util.Random(0xadc9)
    (0 until 5).foreach { trial =>
      val data = Array.fill[Byte](40 + r.nextInt(200))(r.nextInt(256).toByte)
      val hex = data.map(b => f"${b & 0xff}%02x").mkString
      val py =
        """import audioop, binascii, sys
          |out, _ = audioop.adpcm2lin(binascii.unhexlify(sys.argv[1]), 2, None)
          |print(','.join(str(int.from_bytes(out[i:i+2], 'little', signed=True))
          |               for i in range(0, len(out), 2)))""".stripMargin
      val p = new ProcessBuilder("python3", "-c", py, hex).start()
      val exp = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        .split(",").map(_.toShort)
      assert(p.waitFor() == 0, "audioop subprocess failed")
      val nibbles = data.flatMap(b =>
        Array((b >> 4) & 0xf, b & 0xf)) // audioop: high nibble first
      val got = Adpcm.decodeCore(nibbles, 0, 0)
      assert(got.toSeq == exp.toSeq, s"trial $trial diverges from audioop")
    }
    // WAV framing: encode→decode round-trip tracks a smooth signal
    val n = 1000
    val sig = Array.tabulate[Short](n) { i =>
      val ph = i % 50; val tri = if (ph < 25) ph else 50 - ph
      ((tri * 1200) - 15000).toShort
    }
    val wav = Adpcm.buildWavAdpcm(8000, sig, blockAlign = 64)
    val (ch, sr, dec) = Multimodal.wavSamples(wav)
    assert(ch == 1 && sr == 8000)
    val perBlock = 1 + (64 - 4) * 2
    // the fact chunk carries the true count → the zero-padded encoder
    // tail is trimmed (real-decoder convention, advice round 18)
    assert(dec.length == n)
    // block-leading samples are stored verbatim in the header
    assert(dec(0) == sig(0))
    val err = sig.indices.map(i => math.abs(dec(i) - sig(i)).toLong).sum
    assert(err.toDouble / n < 150.0,
      s"ADPCM tracking error too large: mean ${err.toDouble / n}")
    // decodeReal routes it as audio
    val fv = Multimodal.decodeReal(Multimodal.MediaItem(3L, wav, "", "s"))
    assert(fv.format == "audio/wav" && fv.channels == 1
      && fv.sample_rate == 8000 && fv.n_samples == dec.length)
    val dataLen = wav.length - 60L
    val total = (dataLen / 64L).toInt * perBlock // whole-block sample count
    // no fact → every decoded sample kept (raw framing behavior)
    assert(Adpcm.decodeWavBlocks(wav, 60, dataLen, 64).length == total)
    // a short final block (>= 4-byte header) decodes 1 + (bytes-4)*2
    val shortLen = 64L + 12L // one full block + a 12-byte partial
    assert(Adpcm.decodeWavBlocks(wav, 60, shortLen, 64).length
      == perBlock + 1 + (12 - 4) * 2)
    // fact trim bounds: too large and whole-trailing-block-unused error
    intercept[IllegalArgumentException](
      Adpcm.decodeWavBlocks(wav, 60, dataLen, 64, total + 1L))
    intercept[IllegalArgumentException](
      Adpcm.decodeWavBlocks(wav, 60, dataLen, 64, (total - perBlock).toLong))
    // with a SHORT final block the lower bound is that block's own
    // capacity (17 here), not perBlock: trimming within the tail is
    // legal, a fact that discards the whole tail block errors
    val shortTotal = perBlock + 1 + (12 - 4) * 2 // 121 + 17
    assert(Adpcm.decodeWavBlocks(wav, 60, shortLen, 64,
      (perBlock + 5).toLong).length == perBlock + 5)
    intercept[IllegalArgumentException](
      Adpcm.decodeWavBlocks(wav, 60, shortLen, 64, perBlock.toLong))
    assert(shortTotal - 17 == perBlock) // the bound the intercept pins
    // loud failures: truncated data (final block under the 4-byte
    // header), index > 88, stereo refused
    intercept[IllegalArgumentException](
      Adpcm.decodeWavBlocks(wav, 60, 64L + 2L, 64))
    val corrupt = wav.clone(); corrupt(62) = 99.toByte // block step index
    val e = intercept[IllegalArgumentException](Multimodal.wavSamples(corrupt))
    assert(e.getMessage.contains("step index"))
    val stereo = wav.clone(); stereo(22) = 2 // fmt channels field
    val e2 = intercept[IllegalArgumentException](Multimodal.wavSamples(stereo))
    assert(e2.getMessage.contains("unsupported WAV variant"))
  }

  test("perceptual dHash: dedup invariances and the banding contract") {
    def img(w: Int, h: Int, f: Int => Int): Array[Byte] =
      Array.tabulate(w * h * 3)(j => f(j).toByte)
    val base = img(16, 12, j => (j * 17 + 3) % 256)
    val hBase = Multimodal.dHash64(base, 16, 12)
    // identical pixels → identical hash
    assert(Multimodal.dHash64(base.clone(), 16, 12) == hBase)
    // a global brightness shift barely moves the GRADIENT hash (only
    // mod-256 wraps can flip a cell comparison) — the property that makes
    // dHash a near-dup key where a content hash sees a new image
    val bright = img(16, 12, j => ((j * 17 + 3) % 256 + 9) % 256)
    val dBright = java.lang.Long.bitCount(
      Multimodal.dHash64(bright, 16, 12) ^ hBase)
    // this sawtooth wraps mod-256 every 16 pixels — near worst case for
    // a brightness shift; a smooth image moves 0-3 bits
    assert(dBright <= 10, s"brightness shift moved dHash by $dBright bits")
    // sparse byte noise stays within a few bits
    val noisy = base.clone()
    noisy(5) = (((noisy(5) & 0xff) + 40) % 256).toByte
    noisy(200) = (((noisy(200) & 0xff) + 40) % 256).toByte
    val dNoise = java.lang.Long.bitCount(
      Multimodal.dHash64(noisy, 16, 12) ^ hBase)
    assert(dNoise <= 4, s"2-byte noise moved dHash by $dNoise bits")
    // a structurally different image lands far away
    val other = img(16, 12, j => (j * j * 31 + 7) % 256)
    val dOther = java.lang.Long.bitCount(
      Multimodal.dHash64(other, 16, 12) ^ hBase)
    assert(dOther > 6, s"different image landed $dOther bits away")
    // sub-grid images fail loudly
    val e = intercept[IllegalArgumentException](
      Multimodal.dHash64(img(8, 8, _ => 0), 8, 8))
    assert(e.getMessage.contains("dHash needs"))

    // end-to-end: banded imageNearDuplicates == brute-force over hashes
    // (pigeonhole candidates are a superset; exact filter must equalize)
    val items = (0 until 40).map { i =>
      val px =
        if (i % 2 == 1) // odd = brightness variant of i-1
          img(16, 12, j => ((j * (11 + (i / 2) % 7) + i / 2) % 256 + 9) % 256)
        else img(16, 12, j => (j * (11 + (i / 2) % 7) + i / 2) % 256)
      Multimodal.MediaItem(i.toLong, Multimodal.buildBmp(16, 12, px), "", "t")
    }
    val ds = spark.createDataset(items)
    val banded = Multimodal.imageNearDuplicates(ds, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val hashes = Multimodal.imageDHash(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ia, ib, d)).sortBy(x => (x._1, x._2)).toSeq
    assert(banded == brute, "banded pairs != brute-force pairs")
    assert(brute.nonEmpty, "seeding planted no near-dup pairs")
  }

  test("audioQuality: per-channel crossings, clip and silence gates") {
    // stereo: L alternates sign every frame (3 crossings over 4 frames),
    // R stays positive (0 crossings); one clipped L sample, one silent R
    val samples = Array[Short](
      1000, 5000,   // frame 0: L+, R+
      -32760, 4000, // frame 1: L- (clipped), R+
      2000, 100,    // frame 2: L+, R+ (silent at level 512)
      -700, 900)    // frame 3: L-, R+
    val item = Multimodal.MediaItem(
      5L, Multimodal.buildWav(2, 16000, samples), "", "t")
    val q = Multimodal.audioQuality(
        spark.createDataset(Seq(item)), clipLevel = 32700, silenceLevel = 512)
      .collect()(0)
    assert(q.media_id == 5L && q.channels == 2 && q.sample_rate == 16000
      && q.n_frames == 4L)
    // L crosses at frames 1,2,3; R never: 3 of 2*(4-1)=6 opportunities
    assert(q.zero_cross_rate == 3.0 / 6)
    assert(q.clip_ratio == 1.0 / 8)
    assert(q.silence_ratio == 1.0 / 8)
    val sq = samples.map(s => s.toLong * s).sum
    assert(q.rms == math.sqrt(sq.toDouble / 8) / 32768.0)
    // zero-length audio yields all-zero features, not NaN
    val empty = Multimodal.audioQuality(spark.createDataset(Seq(
      Multimodal.MediaItem(6L, Multimodal.buildWav(1, 8000, Array.empty),
        "", "t")))).collect()(0)
    assert(empty.n_frames == 0L && empty.rms == 0.0
      && empty.zero_cross_rate == 0.0 && empty.clip_ratio == 0.0
      && empty.silence_ratio == 0.0)
  }

  test("segmentBySilence: island boundaries, min-length filter, " +
      "any-channel activity, edge segments") {
    // stereo frames: active iff ANY channel exceeds the threshold
    // frames: A A s A s s A A  (A=active, s=silent at level 512)
    val samples = Array[Short](
      1000, 0,   // f0 A (left)
      0, 900,    // f1 A (right)
      100, -50,  // f2 s
      -800, 0,   // f3 A
      0, 0,      // f4 s
      512, -512, // f5 s (threshold is STRICTLY greater)
      0, 513,    // f6 A
      2000, 2000)// f7 A
    val item = Multimodal.MediaItem(
      3L, Multimodal.buildWav(2, 8000, samples), "", "t")
    val all = Multimodal.segmentBySilence(
        spark.createDataset(Seq(item)), minSegmentFrames = 1)
      .collect().sortBy(_.seg_idx).toSeq
    assert(all == Seq(
      Multimodal.AudioSegment(3L, 0, 0, 2, 2),
      Multimodal.AudioSegment(3L, 1, 3, 4, 1),
      Multimodal.AudioSegment(3L, 2, 6, 8, 2)))
    // min-length 2 drops the singleton; seg_idx renumbers the EMITTED
    val kept = Multimodal.segmentBySilence(
        spark.createDataset(Seq(item)), minSegmentFrames = 2)
      .collect().sortBy(_.seg_idx).toSeq
    assert(kept == Seq(
      Multimodal.AudioSegment(3L, 0, 0, 2, 2),
      Multimodal.AudioSegment(3L, 1, 6, 8, 2)))
    // an all-silent clip yields no segments; an all-active clip one
    val silent = Multimodal.MediaItem(
      4L, Multimodal.buildWav(1, 8000, Array[Short](0, 1, -1, 0)), "", "t")
    val loud = Multimodal.MediaItem(
      5L, Multimodal.buildWav(1, 8000, Array[Short](5000, -5000)), "", "t")
    val edge = Multimodal.segmentBySilence(
        spark.createDataset(Seq(silent, loud)))
      .collect().sortBy(_.media_id).toSeq
    assert(edge == Seq(Multimodal.AudioSegment(5L, 0, 0, 2, 2)))
  }

  test("imageDHashCol (native expression) == Dataset-path dHash values; " +
      "NULL payload -> NULL key") {
    val items = (0 until 12).map { i =>
      val px = Array.tabulate(10 * 9 * 3)(j => (i * 31 + j * 7).toByte)
      Multimodal.MediaItem(i.toLong, Multimodal.buildBmp(10, 9, px), "", "t")
    }
    val ds = spark.createDataset(items)
    val viaDs = Multimodal.imageDHash(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val viaCol = ds.toDF()
      .select(col("media_id"), Multimodal.imageDHashCol(col("payload")).as("dhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(viaCol == viaDs)
    val nullRow = spark.sql("SELECT CAST(NULL AS BINARY) AS payload")
      .select(Multimodal.imageDHashCol(col("payload")).as("dhash"))
      .collect()(0)
    assert(nullRow.isNullAt(0), "NULL payload must yield NULL key")
    // non-BMP bytes fail loudly through the expression path too
    val e = intercept[Exception] {
      spark.sql("SELECT encode('not a bmp', 'UTF-8') AS payload")
        .select(Multimodal.imageDHashCol(col("payload"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("videoNearDuplicates: trim-pair detection via shared frame hashes") {
    def frame(scene: Int): Array[Byte] =
      Array.tabulate(12 * 8 * 3)(j => (scene * 17 + j * 11).toByte)
    def avi(scenes: Seq[Int]): Array[Byte] =
      Multimodal.buildAvi(12, 8, 10, scenes.map(frame))
    val items = spark.createDataset(Seq(
      Multimodal.MediaItem(1L, avi(Seq(0, 1, 2, 3)), "", "t"),
      Multimodal.MediaItem(2L, avi(Seq(1, 2, 3, 4)), "", "t"), // trim of 1
      Multimodal.MediaItem(3L, avi(Seq(3, 9, 9)), "", "t"),    // 1 shared
      Multimodal.MediaItem(4L, avi(Seq(20, 21)), "", "t")))    // disjoint
    // per-frame hashes: repeated scene 9 in video 3 counts ONCE (distinct)
    val fh = Multimodal.videoFrameDHash(items).collect()
    assert(fh.length == 13)
    val pairs = Multimodal.videoNearDuplicates(items, minSharedFrames = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 3L)),
      s"expected the trim pair (1,2,3 shared), got ${pairs.toList}")
    // minSharedFrames=1 also surfaces the single-scene overlaps
    val loose = Multimodal.videoNearDuplicates(items, minSharedFrames = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(loose == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // a degenerate frame present in EVERY video is capped out instead of
    // pairing the whole corpus (maxBucketSize below the corpus size)
    val common = (0 until 8).map(i =>
      Multimodal.MediaItem(10L + i, avi(Seq(50, 100 + i)), "", "t"))
    val capped = Multimodal.videoNearDuplicates(
      spark.createDataset(common), minSharedFrames = 1, maxBucketSize = 4)
      .count()
    assert(capped == 0L, "capped bucket still produced pairs")
  }

  test("synth payloads decode to their closed-form features " +
      "(the mm_features_real oracle contract)") {
    val id = 39L; val nc = 123L
    val fw = Multimodal.decodeReal(
      Multimodal.MediaItem(id, Multimodal.synthWav(id, nc), "", "s"))
    val n = (nc % 50 + 10).toInt
    val sq = (0 until n).map { i =>
      val s = (id * 31 + i * 7) % 65536 - 32768; s * s
    }.sum
    assert(fw == Multimodal.RealMediaFeatures(id, "audio/wav", 0, 0, 1, 8000,
      n.toLong, math.sqrt(sq.toDouble / n) / 32768.0))
    val id2 = 26L
    val fb = Multimodal.decodeReal(
      Multimodal.MediaItem(id2, Multimodal.synthBmp(id2, nc), "", "s"))
    val wpx = (nc % 30 + 1).toInt
    val bsum = (0 until wpx * 9).map(j => (id2 * 7 + j * 13) % 256).sum
    assert(fb == Multimodal.RealMediaFeatures(id2, "image/bmp", wpx, 3, 3, 0,
      wpx.toLong * 3, bsum.toDouble / (wpx * 9)))
  }

  test("external numpy media worker == in-JVM decodeReal bit-for-bit " +
      "over BMP, WAV, AVI and fallback payloads (Arrow seam)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 56)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        col("text"))
    val fixtureBmp = readResource("/graft/tiny.bmp")
    val fixtureWav = readResource("/graft/tiny.wav")
    val fixtureAvi = readResource("/graft/tiny.avi")
    val fixturePpm = readResource("/graft/tiny.ppm")
    val fixtureJpg = readResource("/graft/tiny.jpg")
    val fixturePng = readResource("/graft/tiny.png")
    val fixturePalPng = readResource("/graft/tiny_pal.png")
    val fixtureGif = readResource("/graft/tiny.gif")
    val items = docs.as[(Long, Long, String)].map { case (id, nc, text) =>
      val payload = (id % 15) match {
        case 0 => Multimodal.synthBmp(id, nc)
        // ids 31/46 → IMA-ADPCM WAVs (both block sizes); 1/16 stay PCM16
        case 1 if id > 16 => Multimodal.synthWavAdpcm(id, nc)
        case 1 => Multimodal.synthWav(id, nc)
        case 2 => fixtureBmp // independently-encoded committed fixtures
        case 3 => fixtureWav
        case 4 => Multimodal.synthAvi(id, nc)
        case 5 => fixtureAvi
        case 6 => fixturePpm
        // entropy-coded path; the id remap covers the encoder modes
        // through the seam: 7/22 -> gray, 37 -> 12 = 4:2:0 + restart,
        // 52 -> 17 = 4:4:4 (raw ids ≡ 7 mod 15 would all be odd 4:4:4)
        case 7 => Multimodal.synthJpeg(if (id == 7) 7L else id / 3, nc)
        case 8 => fixtureJpg
        case 9 => Multimodal.synthPng(id, nc) // zlib twin inflates these
        case 10 => fixturePng
        case 11 => fixturePalPng
        // id-10 -> 3-frame synth GIFs, so an INTERLACED frame (f=1)
        // crosses the seam; 13 -> the adaptive-LZW fixture
        case 12 => Multimodal.synthGif(id - 10, nc)
        case 13 => fixtureGif
        // ids 29/44 → MJPEG AVIs (both subsample modes: 29 → 4:4:4,
        // 44 → 4:2:0); id 14 keeps the octet-stream fallback covered
        case 14 if id != 14 => Multimodal.synthAviMjpeg(id, nc)
        case _ =>
          Option(text).getOrElse("").getBytes("UTF-8") // fallback route
      }
      Multimodal.MediaItem(id, payload, "", "spec")
    }
    val jvm = Multimodal.decodeRealMedia(items).collect()
      .map(f => (f.media_id, f.format, f.width, f.height, f.channels,
        f.sample_rate, f.n_samples, f.mean_value)).sortBy(_._1)
    val ext = Multimodal.decodeViaWorker(items.toDF(),
        Seq("python3", "scripts/media_worker.py"))
      .as[(Long, String, Int, Int, Int, Int, Long, Double)]
      .collect().sortBy(_._1)
    assert(ext.length == jvm.length && ext.length > 10)
    jvm.zip(ext).foreach { case (j, e) =>
      assert(j == e, s"worker decode diverges for media_id ${j._1}")
    }
    assert(jvm.map(_._2).distinct.sorted.toSeq == Seq(
      "application/octet-stream", "audio/wav", "image/bmp", "image/gif",
      "image/jpeg", "image/png", "image/x-portable-pixmap", "video/avi"))
  }

  // — worker-pipe robustness (round-13 advice, medium): a chatty worker
  // must never deadlock the task, stderr capture is capped, and a worker
  // that hangs after stdout EOF hits the bounded wait —

  test("worker writing >64KB stderr BEFORE touching stdin/stdout " +
      "completes (no pipe deadlock)") {
    // the worker fills the OS stderr pipe buffer first; without a
    // dedicated stderr drainer both processes block forever
    val pump = Multimodal.pipeThroughWorker(Seq("python3", "-c",
      """import sys
        |sys.stderr.write('x' * 262144); sys.stderr.flush()
        |data = sys.stdin.buffer.read()
        |sys.stdout.buffer.write(data); sys.stdout.flush()
        |""".stripMargin))
    val payload = Array.tabulate[Byte](1000)(_.toByte)
    assert(pump(payload).toSeq == payload.toSeq)
  }

  test("failing worker surfaces stderr, capped with a truncation marker") {
    val pump = Multimodal.pipeThroughWorker(Seq("python3", "-c",
      """import sys
        |sys.stdin.buffer.read()
        |sys.stderr.write('E' * 4096)
        |sys.exit(3)
        |""".stripMargin), maxStderrBytes = 64)
    val e = intercept[IllegalArgumentException](pump(Array[Byte](1, 2, 3)))
    assert(e.getMessage.contains("exited 3"))
    assert(e.getMessage.contains("[stderr truncated]"))
    // count only the captured stderr (the echoed cmd contains one 'E')
    val captured = e.getMessage.substring(e.getMessage.indexOf("exited 3: "))
    assert(captured.count(_ == 'E') == 64)
  }

  test("worker that wedges BEFORE producing any output is killed at the " +
      "deadline (whole-call watchdog, not just post-EOF)") {
    val pump = Multimodal.pipeThroughWorker(Seq("python3", "-c",
      """import sys, time
        |sys.stdin.buffer.read()
        |time.sleep(600)
        |""".stripMargin), timeout = java.time.Duration.ofSeconds(2))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](pump(Array[Byte](1)))
    assert(e.getMessage.contains("did not exit within 2s"))
    assert((System.nanoTime() - t0) / 1e9 < 30)
  }

  test("worker that closes stdout but never exits hits the bounded wait") {
    val pump = Multimodal.pipeThroughWorker(Seq("python3", "-c",
      """import sys, time, os
        |sys.stdin.buffer.read()
        |sys.stdout.buffer.write(b'ok'); sys.stdout.flush()
        |os.close(1)
        |time.sleep(600)
        |""".stripMargin), timeout = java.time.Duration.ofSeconds(2))
    val e = intercept[IllegalStateException](pump(Array[Byte](9)))
    assert(e.getMessage.contains("did not exit within 2s"))
  }
}
