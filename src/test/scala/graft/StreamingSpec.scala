package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingResample

/** Streaming twins of the batch resample (SURVEY §2.9): drive a parquet
  * file source through a memory sink and compare with the batch plan.
  *
  * Fixture writes are `compression=uncompressed` deliberately (round-19
  * harness abort hardening): the rows are tiny, so compression buys
  * nothing, and the plain write path keeps native codec loading and its
  * buffer allocations out of the suite's only repeated file-write
  * surface — one less way for a constrained environment to kill the
  * shared SparkContext mid-fixture. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming tumblingSum matches batch resampleSum on the same data") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    dir.deleteOnExit()
    val df = Seq(
      (1L, "2024-01-01 01:00:00", 10.0),
      (1L, "2024-01-01 02:00:00", 20.0),
      (2L, "2024-01-02 03:00:00", 30.0))
      .toDF("user_id", "s", "value")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    df.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val agg = StreamingResample.tumblingSum(stream, "user_id", "ts", "value")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_stream_test").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, CAST(bucket_start AS STRING) d, value FROM graft_stream_test ORDER BY 1,2")
        .as[(Long, String, Double)].collect().toSeq
      assert(got == Seq(
        (1L, "2024-01-01 00:00:00", 30.0),
        (2L, "2024-01-02 00:00:00", 30.0)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the lookback window") {
    val dirL = Files.createTempDirectory("graft-sj-l").toFile
    val dirR = Files.createTempDirectory("graft-sj-r").toFile
    dirL.deleteOnExit(); dirR.deleteOnExit()
    Seq((1L, "2024-01-01 10:00:00", "view1"), (1L, "2024-01-01 12:00:00", "view2"))
      .toDF("user_id", "s", "tag")
      .withColumn("lts", to_timestamp(col("s"))).drop("s")
      .write.mode("overwrite").option("compression", "uncompressed").parquet(dirL.getAbsolutePath)
    Seq((1L, "2024-01-01 09:30:00", 5.0), (1L, "2024-01-01 11:00:00", 7.0))
      .toDF("user_id", "s", "amount")
      .withColumn("rts", to_timestamp(col("s"))).drop("s")
      .write.mode("overwrite").option("compression", "uncompressed").parquet(dirR.getAbsolutePath)
    val schemaL = StructType(Seq(StructField("user_id", LongType),
      StructField("tag", StringType), StructField("lts", TimestampType)))
    val schemaR = StructType(Seq(StructField("user_id", LongType),
      StructField("amount", DoubleType), StructField("rts", TimestampType)))
    val l = spark.readStream.schema(schemaL).parquet(dirL.getAbsolutePath)
    val r = spark.readStream.schema(schemaR).parquet(dirR.getAbsolutePath)
    val q = StreamingResample.intervalJoin(l, r, "user_id", "lts", "rts")
      .select(col("tag"), col("amount"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sj").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT tag, amount FROM graft_sj ORDER BY tag, amount")
        .as[(String, Double)].collect().toSeq
      // view1@10:00 pairs with 09:30 (within 1h); view2@12:00 pairs with 11:00
      assert(got == Seq(("view1", 5.0), ("view2", 7.0)))
    } finally q.stop()
  }

  test("streaming as-of join matches batch asOfTolerance on the same fixture") {
    val dirL = Files.createTempDirectory("graft-asof-l").toFile
    val dirR = Files.createTempDirectory("graft-asof-r").toFile
    dirL.deleteOnExit(); dirR.deleteOnExit()
    // sentinel rows (id 99) push the watermark far past every real event so
    // append-mode groups finalize; they are excluded from the comparison
    val leftRows = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), // matches 09:30 quote (30 min old)
      (2L, 1L, "2024-01-01 12:00:00"), // matches 11:00 (10:00 is older but loses)
      (3L, 2L, "2024-01-01 10:30:00"), // user 2: only quote is AFTER -> null
      (4L, 3L, "2024-01-01 09:00:00"), // user 3: match exactly at leftTs
      (5L, 1L, "2024-01-01 23:00:00"), // match at 11:00 is beyond tolerance -> null
      (99L, 9L, "2024-01-03 00:00:00"))
      .toDF("event_id", "user_id", "s")
      .withColumn("lts", to_timestamp(col("s"))).drop("s")
    val rightRows = Seq(
      (1L, "2024-01-01 09:30:00", 5.0),
      (1L, "2024-01-01 11:00:00", 7.0),
      (2L, "2024-01-01 11:30:00", 9.0),
      (3L, "2024-01-01 09:00:00", 4.0),
      (9L, "2024-01-03 00:00:00", 0.0))
      .toDF("user_id", "s", "amount")
      .withColumn("rts", to_timestamp(col("s"))).drop("s")
    leftRows.write.mode("overwrite").option("compression", "uncompressed").parquet(dirL.getAbsolutePath)
    rightRows.write.mode("overwrite").option("compression", "uncompressed").parquet(dirR.getAbsolutePath)
    val tol = 4L * 3600 // 4 hours

    val schemaL = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("lts", TimestampType)))
    val schemaR = StructType(Seq(StructField("user_id", LongType),
      StructField("amount", DoubleType), StructField("rts", TimestampType)))
    val l = spark.readStream.schema(schemaL).parquet(dirL.getAbsolutePath)
    val r = spark.readStream.schema(schemaR).parquet(dirR.getAbsolutePath)
    val q = StreamingResample.asOfStream(
        l, r, "user_id", "event_id", "lts", "rts", Seq("amount"),
        toleranceSeconds = tol, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_asof_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT event_id, asof_amount FROM graft_asof_stream WHERE event_id < 99 ORDER BY 1")
        .as[(Long, Option[Double])].collect().toSeq
      // batch twin on the identical fixture — the equality the scaladoc claims
      val batch = graft.ops.AsOfJoin.asOfTolerance(
          leftRows.filter($"event_id" < 99), rightRows,
          Seq("user_id"), "lts", "rts", Seq("amount"), tol)
        .select($"event_id", $"asof_amount")
        .as[(Long, Option[Double])].collect().toSeq.sortBy(_._1)
      assert(batch == Seq((1L, Some(5.0)), (2L, Some(7.0)), (3L, None),
        (4L, Some(4.0)), (5L, None)))
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key within the watermark") {
    val dir = Files.createTempDirectory("graft-dedup-stream").toFile
    dir.deleteOnExit()
    val df = Seq(
      ("doc-a", "2024-01-01 01:00:00", "first"),
      ("doc-a", "2024-01-01 01:05:00", "dup"),
      ("doc-b", "2024-01-01 01:10:00", "first"),
      ("doc-a", "2024-01-01 01:20:00", "dup2"))
      .toDF("doc_key", "s", "tag")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    df.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_key", StringType), StructField("tag", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val q = StreamingResample.dedupStream(stream, Seq("doc_key"), "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_key, count(*) FROM graft_dedup GROUP BY 1 ORDER BY 1")
        .as[(String, Long)].collect().toSeq
      assert(got == Seq(("doc-a", 1L), ("doc-b", 1L)))
    } finally q.stop()
  }

  test("streaming image dedup (perceptual key) == batch keep-one-per-hash") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft-imgdedup-stream").toFile
    dir.deleteOnExit()
    def bmp(seed: Int): Array[Byte] =
      Multimodal.buildBmp(10, 9,
        Array.tabulate(10 * 9 * 3)(j => (seed * 31 + j * 7).toByte))
    // media 1 and 2 are byte-identical images (same dHash); 3 differs
    val df = Seq(
      (1L, bmp(5), "2024-01-01 01:00:00"),
      (2L, bmp(5), "2024-01-01 01:05:00"),
      (3L, bmp(9), "2024-01-01 01:10:00"))
      .toDF("media_id", "payload", "s")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    df.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("payload", BinaryType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val q = graft.streaming.StreamingResample
      .dedupImageStream(stream, "payload", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_img_dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT dhash, count(*) FROM graft_img_dedup GROUP BY 1")
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
      // batch twin: one survivor per distinct perceptual hash
      val batch = df
        .select(Multimodal.imageDHashCol(col("payload")).as("dhash"))
        .distinct().as[Long].collect().toSeq.sorted
      assert(got.map(_._2).forall(_ == 1L),
        s"stream kept a duplicate per hash: $got")
      assert(got.map(_._1) == batch, "stream hash set != batch hash set")
      assert(batch.length == 2)
    } finally q.stop()
  }

  test("segmentBySilence runs unchanged on a stream (stateless typed " +
      "flatMap) == batch segments") {
    import graft.ext.Multimodal
    val dir = Files.createTempDirectory("graft-seg-stream").toFile
    dir.deleteOnExit()
    def wav(id: Long): Array[Byte] =
      Multimodal.buildWav(1, 8000, Array.tabulate(60)(i =>
        if (i % 13 < 4) 0.toShort
        else ((id * 31 + i * 7919L) % 65536 - 32768).toShort))
    val items = Seq(1L, 2L, 3L).map(id =>
      (id, wav(id), "spec", "stream"))
    items.toDF("media_id", "payload", "format", "source")
      .write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("payload", BinaryType),
      StructField("format", StringType), StructField("source", StringType)))
    val stream = spark.readStream.schema(schema)
      .parquet(dir.getAbsolutePath).as[Multimodal.MediaItem]
    val q = Multimodal.segmentBySilence(stream, minSegmentFrames = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_seg_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT media_id, seg_idx, start_frame, end_frame, n_frames " +
          "FROM graft_seg_stream ORDER BY media_id, seg_idx")
        .as[(Long, Int, Long, Long, Long)].collect().toSeq
      val batch = Multimodal.segmentBySilence(
          spark.createDataset(items.map(t =>
            Multimodal.MediaItem(t._1, t._2, t._3, t._4))),
          minSegmentFrames = 2)
        .collect().map(s =>
          (s.media_id, s.seg_idx, s.start_frame, s.end_frame, s.n_frames))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(got == batch && batch.nonEmpty,
        s"stream segments != batch: $got vs $batch")
    } finally q.stop()
  }

  test("session windows group activity bursts") {
    val dir = Files.createTempDirectory("graft-stream2").toFile
    dir.deleteOnExit()
    val df = Seq(
      (1L, "2024-01-01 01:00:00", 1.0), (1L, "2024-01-01 01:10:00", 1.0),
      (1L, "2024-01-01 05:00:00", 1.0))
      .toDF("user_id", "s", "value")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    df.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val q = StreamingResample.sessionCount(stream, "user_id", "ts")
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_sessions").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT n_events FROM graft_sessions ORDER BY session_start")
        .as[Long].collect().toSeq
      assert(got == Seq(2L, 1L))
    } finally q.stop()
  }

  test("streaming contamination gate == batch contaminationScore on a shared fixture") {
    // the gate folds the benchmark gram set into a map-only kernel, so the
    // streaming plan needs no aggregation state and no watermark — and its
    // output must be VALUE-IDENTICAL to the batch explode+broadcast-join
    // operator, rounding included
    val dir = Files.createTempDirectory("graft-stream-contam").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs today"),
      (2L, "the quick brown fox naps now"), // partial benchmark overlap
      (3L, "unrelated words entirely here no overlap at all"),
      (4L, "too short")) // < n words: no gram, must emit NO row
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "five dozen liquor jugs"))
      .toDF("bench_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)

    val batch = graft.ext.Dedup
      .contaminationScore(docs, benchmark, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // sanity: the fixture exercises full, partial, and zero contamination,
    // and the too-short doc is absent
    assert(batch.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(batch(3)._3 == 0L && batch(0)._3 > 0L)

    // same fixture through the gate on a BATCH frame first (shape parity)
    val gateBatch = graft.streaming.ContaminationGate(
        docs, benchmark, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(gateBatch == batch)

    // and through a real stream: parquet source -> append memory sink
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val gated = graft.streaming.ContaminationGate(
      stream, benchmark, "doc_id", "text", n = 3)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_contam").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, n_grams, n_contaminated, contamination " +
          "FROM graft_stream_contam ORDER BY 1")
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming fuzzy gate == batch fuzzyDecontaminate on a shared fixture") {
    // the gate folds the benchmark SIGNATURE index into a map-only kernel
    // (band-slice candidates + exact agreement verify per row), so the
    // streaming plan needs no join and no state — and its survivor set
    // must match the batch banded cross-join gate
    val dir = Files.createTempDirectory("graft-stream-fuzzy").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river shore"),
      (2L, "pack my box with five dozen liquor jugs before the long trip"),
      (3L, "unrelated words entirely here no overlap with anything at all"),
      (4L, "tiny"))
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "completely different benchmark prompt about astronomy facts"))
      .toDF("bench_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)

    val batchKept = graft.ext.Dedup.fuzzyDecontaminate(
        docs, benchmark, "doc_id", "bench_id", "text", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    // sanity: the exact copy (0) dies; its near-dup (1) dies at 0.5; the
    // unrelated docs survive
    assert(!batchKept.contains(0L) && batchKept.contains(3L))

    // gate on a BATCH frame first (survivor-set parity)
    val gateKept = graft.streaming.FuzzyContaminationGate(
        docs, benchmark, "text", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(gateKept.toSeq == batchKept.toSeq)

    // the similarity column matches the batch pair verify, value-exactly
    val pairMax = graft.ext.Dedup.minHashCrossPairs(
        docs, benchmark, "doc_id", "bench_id", "text", "text",
        threshold = 0.0)
      .groupBy("id_a").agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("sig_similarity")), 6).as("m"))
      .as[(Long, Double)].collect().toMap
    val gateSim = graft.streaming.FuzzyContaminationGate.withMaxSimilarity(
        docs, benchmark, "text", "text")
      .select("doc_id", "max_benchmark_similarity")
      .as[(Long, Double)].collect().toMap
    for ((id, sim) <- gateSim)
      assert(sim == pairMax.getOrElse(id, 0.0), s"doc $id")

    // and through a real stream: parquet source -> append memory sink
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val gated = graft.streaming.FuzzyContaminationGate(
      stream, benchmark, "text", "text", threshold = 0.5)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_fuzzy").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT doc_id FROM graft_stream_fuzzy ORDER BY doc_id")
        .as[Long].collect().toSeq
      assert(got == batchKept.toSeq)
    } finally q.stop()
  }

  test("contamination gate rejects an oversized benchmark side loudly") {
    // the gate's driver collect is bounded: an argument swap (corpus
    // passed as benchmark) must die with a diagnostic, not an OOM
    val docs = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val big = Seq.tabulate(40)(i => (i.toLong, s"tok$i x$i y$i z$i w$i"))
      .toDF("bench_id", "text")
    val e = intercept[IllegalArgumentException](
      graft.streaming.ContaminationGate.withScore(
        docs, big, "text", n = 3, maxBenchmarkGrams = 10))
    assert(e.getMessage.contains("benchmark side"))
    // at-or-under the cap still builds
    val ok = graft.streaming.ContaminationGate.withScore(
      docs, big.limit(2), "text", n = 3, maxBenchmarkGrams = 10)
    assert(ok.count() == 1L)
  }

  test("fuzzy gate rejects an oversized benchmark side, naming the " +
      "corpus-scale operators") {
    val docs = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val big = Seq.tabulate(5)(i => (i.toLong, s"tok$i x$i y$i z$i"))
      .toDF("bench_id", "text")
    val e = intercept[IllegalArgumentException](
      graft.streaming.FuzzyContaminationGate.withMaxSimilarity(
        docs, big, "text", "text", maxBenchmarkSigs = 2))
    assert(e.getMessage.contains("benchmark side"))
    assert(e.getMessage.contains("writeSignatures") &&
      e.getMessage.contains("minHashCrossPairsFromSignatures"),
      s"diagnostic names no corpus-scale operator: ${e.getMessage}")
  }

  test("PII redaction runs unchanged on a stream, matching batch") {
    // Redaction is chained map-only regex expressions — stateless and
    // watermark-free, so the SAME gate code serves batch curation and a
    // streaming ingest path; this pins that contract like the other
    // text-curation kernels below
    val dir = Files.createTempDirectory("graft-stream-redact").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (1L, "write jane@corp.example.org or call +1-202-555-0142"),
      (2L, "ssn 123-45-6789 from host 10.0.0.7"),
      (3L, "nothing sensitive here"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val batch = graft.ext.Redaction.redact(docs, "text")
      .select("doc_id", "redacted", "n_email", "n_phone", "n_id", "n_ipv4")
      .orderBy("doc_id")
      .as[(Long, String, Int, Int, Int, Int)].collect().toSeq
    assert(batch(0)._2 == "write <EMAIL> or call <PHONE>")
    assert(batch(1)._2 == "ssn <ID> from host <IP>")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val gated = graft.ext.Redaction.redact(stream, "text")
      .select("doc_id", "redacted", "n_email", "n_phone", "n_id", "n_ipv4")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_redact").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_stream_redact ORDER BY 1")
        .as[(Long, String, Int, Int, Int, Int)].collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("text-curation kernels run unchanged on a stream, matching batch") {
    // the text filters (repetition stats, quality features, fingerprints)
    // are map-only kernel expressions — stateless, watermark-free, valid
    // in any streaming plan. A streaming curation gate is therefore the
    // SAME code as the batch one; this pins that contract.
    val dir = Files.createTempDirectory("graft-stream-text").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "spam spam spam spam"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a a b b a a b b"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val curated = graft.ext.TextAnalysis
      .repetitionStats(stream, "doc_id", "text", 2)
      .filter(col("dup_gram_fraction") < 0.4) // the Gopher-style gate
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_text").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id FROM graft_stream_text ORDER BY 1")
        .as[Long].collect().toSeq
      // doc 0 (dup fraction 2/3) and doc 2 (3/7) are gated out at 0.4
      val batch = graft.ext.TextAnalysis
        .repetitionStats(docs, "doc_id", "text", 2)
        .filter(col("dup_gram_fraction") < 0.4)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(got == batch)
      assert(got == Seq(1L))
    } finally q.stop()

    // the compression-ratio gate is the same stateless-kernel class:
    // identical survivor set through a real stream
    val zipped = graft.ext.TextAnalysis
      .pruneByCompressionRatio(stream, "text", 0.3, 0.95)
    val q2 = zipped.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_zip").start()
    try {
      q2.processAllAvailable()
      val got2 = spark.sql("SELECT doc_id FROM graft_stream_zip ORDER BY 1")
        .as[Long].collect().toSeq
      val batch2 = graft.ext.TextAnalysis
        .pruneByCompressionRatio(docs, "text", 0.3, 0.95)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(got2 == batch2)
      assert(got2.nonEmpty && got2.size < 3) // the gate bites on the fixture
    } finally q2.stop()

    // HTML extraction is the same stateless class — a crawl-ingest
    // stream strips markup with the batch expression verbatim
    val html = stream.select(col("doc_id"),
      graft.ext.TextAnalysis.stripHtml(
        concat(lit("<p>"), col("text"), lit("</p><script>x<y</script>")))
        .as("clean"))
    val q3 = html.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_html").start()
    try {
      q3.processAllAvailable()
      val got3 = spark.sql(
        "SELECT doc_id, clean FROM graft_stream_html ORDER BY 1")
        .as[(Long, String)].collect().toSeq
      val batch3 = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.stripHtml(
          concat(lit("<p>"), col("text"), lit("</p><script>x<y</script>")))
          .as("clean"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      assert(got3 == batch3)
      assert(got3.map(_._2) == docs.orderBy("doc_id")
        .as[(Long, String)].collect().toSeq.map(_._2))
    } finally q3.stop()
  }

  test("classifier gates run unchanged on a stream, matching batch") {
    // both quality-scoring halves are stateless map passes: markerLogit
    // is kernel expressions over literals, and the fitted spark.ml
    // model's transform is one hashing + dense-dot map with the weights
    // broadcast in the task binary — so a streaming ingest path gates
    // with the SAME code as batch curation
    val dir = Files.createTempDirectory("graft-stream-clf").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (1L, "data data spark analysis"),
      (2L, "slow slow slow spam"),
      (3L, "")).toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val weights = Seq(("data", 0.75), ("slow", -1.25), ("spark", 0.5))
    val batch = graft.ext.QualityClassifier
      .markerLogit(docs, "text", weights, bias = -0.25)
      .select("doc_id", "logit", "prob").orderBy("doc_id")
      .as[(Long, Double, Double)].collect().toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val gated = graft.ext.QualityClassifier
      .markerLogit(stream, "text", weights, bias = -0.25)
      .select("doc_id", "logit", "prob")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_clf").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_stream_clf ORDER BY 1")
        .as[(Long, Double, Double)].collect().toSeq
      assert(got == batch)
    } finally q.stop()
    // the trained-model path streams too (one map-only transform)
    val seed = (0 until 60).map(i =>
      if (i % 2 == 0) (s"data analysis spark $i", 1.0)
      else (s"slow spam click $i", 0.0)).toDF("text", "label")
    val clf = graft.ext.QualityClassifier.train(
      seed, "text", "label", numFeatures = 1 << 10)
    val batchMl = graft.ext.QualityClassifier.score(docs, "text", clf)
      .select("doc_id", "quality_prob").orderBy("doc_id")
      .as[(Long, Double)].collect().toSeq
    val gatedMl = graft.ext.QualityClassifier.score(stream, "text", clf)
      .select("doc_id", "quality_prob")
    val q2 = gatedMl.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_clf_ml").start()
    try {
      q2.processAllAvailable()
      val gotMl = spark.sql("SELECT * FROM graft_stream_clf_ml ORDER BY 1")
        .as[(Long, Double)].collect().toSeq
      assert(gotMl == batchMl)
    } finally q2.stop()
  }

  test("normalize, boilerplate rewrite, and chunking run unchanged on a " +
      "stream, matching batch") {
    // the round-6 curation stages are map-only too: NFC normalization and
    // the boilerplate REWRITE (its frequent-line fit runs on the static
    // corpus; the resulting kernel constant is stream-safe), and chunking
    // (a stateless explode). Same code, batch or stream.
    val dir = Files.createTempDirectory("graft-stream-cur").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "café one two three four\nCOOKIE BANNER"),
      (1L, "five six seven\nCOOKIE BANNER"),
      (2L, "eight nine\nCOOKIE BANNER\nten eleven twelve"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    // fit on the static corpus, rewrite on the stream
    val chrome = graft.ext.TextAnalysis.frequentLineHashes(docs, "text", 3L)
    def rewrite(df: org.apache.spark.sql.DataFrame) = {
      val cleaned = df.withColumn("text",
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.RemoveLinesInLongSet(
            org.apache.spark.sql.GraftColumnBridge.expression(col("text")),
            chrome, 15)))
        .withColumn("text",
          graft.ext.TextAnalysis.unicodeNormalize(col("text")))
      graft.ext.TextAnalysis.chunkByTokens(cleaned, "text", 4, 4)
    }
    val q = rewrite(stream).writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_cur").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, chunk_id, n_tok, chunk_text FROM graft_stream_cur" +
          " ORDER BY 1, 2")
        .as[(Long, Int, Int, String)].collect().toSeq
      val batch = rewrite(docs)
        .select("doc_id", "chunk_id", "n_tok", "chunk_text")
        .orderBy("doc_id", "chunk_id")
        .as[(Long, Int, Int, String)].collect().toSeq
      assert(got == batch)
      // the banner line is gone and the acute arrived composed
      assert(got.forall(!_._4.contains("COOKIE")))
      assert(got.exists(_._4.contains("café")))
    } finally q.stop()
  }

  test("URL extraction and domain blocklist run unchanged on a stream, " +
      "matching batch") {
    // the URL curation stage's streamable half: host/registered-domain
    // extraction is a map and the column-form blocklist is a scan
    // predicate — both stateless, so the SAME calls run on readStream.
    // capPerHost is the stage's batch-only half by design: a global
    // per-host top-k needs the whole corpus (or an explicit watermarked
    // window), exactly like the other fit-style operators.
    val dir = Files.createTempDirectory("graft-stream-url").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "https://cdn.siteA.com/p/0"),
      (1L, "//u:pw@siteB.co.uk:8443/p/1"),
      (2L, "not a url at all"),
      (3L, "http://blocked.com/x"),
      (4L, "https://keep.blocked.com.evil.com/y"))
      .toDF("doc_id", "url")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    def stage(df: org.apache.spark.sql.DataFrame) =
      graft.ext.UrlOps.withUrlParts(
        graft.ext.UrlOps.dropBlockedDomains(df, "url", Seq("blocked.com")),
        "url")
    val q = stage(stream).writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_url").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, host, domain FROM graft_stream_url ORDER BY 1")
        .as[(Long, String, String)].collect().toSeq
      val batch = stage(docs).select("doc_id", "host", "domain")
        .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      assert(got == batch)
      // blocked.com dropped; the lookalike registered under evil.com,
      // the unparseable row (null domain), and the rest survive
      assert(got.map(_._1) == Seq(0L, 1L, 2L, 4L))
      assert(got.map(_._3) == Seq("sitea.com", "siteb.co.uk", null, "evil.com"))
    } finally q.stop()
  }

  test("DSIR importance weighting runs unchanged on a stream, matching " +
      "batch; model survives a parquet round-trip") {
    // importanceWeights is one stateless kernel eval per row (the
    // log-ratio table rides the task binary), so the SAME code gates a
    // streaming ingest path; the persisted-model round-trip is the
    // fit-once / score-increments deployment shape
    val dir = Files.createTempDirectory("graft-stream-dsir").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "cats and dogs and cats"),
      (2L, "unrelated words entirely here"),
      (3L, ""))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val tm = graft.ext.Dsir.fitHashedModel(
      docs.filter(col("doc_id") < 2), "text", buckets = 64, maxN = 2)
    val rm = graft.ext.Dsir.fitHashedModel(docs, "text",
      buckets = 64, maxN = 2)
    // model persistence round-trip: identical weights through the table
    val mdir = Files.createTempDirectory("graft-dsir-model").toFile
    mdir.deleteOnExit()
    graft.ext.Dsir.writeModel(spark, tm, mdir.getAbsolutePath)
    val tm2 = graft.ext.Dsir.readModel(spark, mdir.getAbsolutePath)
    assert(tm2.buckets == tm.buckets && tm2.maxN == tm.maxN &&
      tm2.totalGrams == tm.totalGrams && tm2.alpha == tm.alpha)
    assert(tm2.logProbs.toSeq == tm.logProbs.toSeq)
    val batch = graft.ext.Dsir.importanceWeights(docs, "text", tm, rm)
      .select("doc_id", "log_weight", "n_feat")
      .orderBy("doc_id").as[(Long, Double, Int)].collect().toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val gated = graft.ext.Dsir.importanceWeights(stream, "text", tm2, rm)
      .select("doc_id", "log_weight", "n_feat")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_dsir").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_stream_dsir ORDER BY 1")
        .as[(Long, Double, Int)].collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("bigram-LM scoring and BPE accounting run unchanged on a stream, " +
      "matching batch") {
    // both are one stateless kernel eval per row (model tables ride the
    // task binary) — the fit-once / score-daily-increments deployment
    // shape for the quality ladder and the token budgeter
    val dir = Files.createTempDirectory("graft-stream-lm2").toFile
    dir.deleteOnExit()
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat ran and the dog sat"),
      (2L, "unrelated words entirely here"),
      (3L, ""))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val lm = graft.ext.TextAnalysis.fitBigramModel(
      docs.filter(col("doc_id") < 2), "text", vocabSize = 6)
    val ng = graft.ext.TextAnalysis.fitNgramModel(
      docs.filter(col("doc_id") < 2), "text", n = 4)
    val bpe = graft.ext.Bpe.fit(docs, "text", numMerges = 8)
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Bpe.encodeStats(
          graft.ext.TextAnalysis.scoreNgram(
            graft.ext.TextAnalysis.scoreBigram(df, "text", lm)
              .withColumnRenamed("sum_lp", "bg_sum_lp")
              .withColumnRenamed("n_tok", "bg_n_tok")
              .withColumnRenamed("avg_lp", "bg_avg_lp"),
            "text", ng), "text", bpe)
        .select("doc_id", "bg_sum_lp", "bg_n_tok", "n_hit", "sum_lp",
          "n_top", "n_tok_bpe", "tok_hash")
    val batch = score(docs).orderBy("doc_id")
      .as[(Long, Double, Int, Int, Double, Int, Int, Long)].collect().toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val q = score(stream).writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_lm2").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_stream_lm2 ORDER BY 1")
        .as[(Long, Double, Int, Int, Double, Int, Int, Long)].collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("epoch upsampling runs unchanged on a stream, matching batch") {
    // epochExpand is a stateless map (CASE weights + hash gate +
    // sequence explode) — an arriving micro-batch expands exactly like
    // the batch plan, so recipe weights can apply at ingest time
    val dir = Files.createTempDirectory("graft-stream-epoch").toFile
    dir.deleteOnExit()
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val weights = Seq("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.5)
    val batch = graft.ops.Sampling
      .epochExpand(docs, "doc_id", "source", weights)
      .select("doc_id", "source", "epoch")
      .as[(Long, String, Long)].collect().toSeq.sorted
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val expanded = graft.ops.Sampling
      .epochExpand(stream, "doc_id", "source", weights)
      .select("doc_id", "source", "epoch")
    val q = expanded.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_epoch").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_stream_epoch")
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(got == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming drift monitor == batch distributionDrift over " +
      "everything streamed (mergeable increments, multiple micro-batches)") {
    val r = new scala.util.Random(0xd21f7a)
    val ref = (0 until 300).map(_ =>
      (100000L + r.nextInt(1000), s"s${r.nextInt(3)}", r.nextInt(12).toLong))
      .toDF("doc_id", "source", "v")
    val streamed = (0 until 250).map(i =>
      (i.toLong, s"s${r.nextInt(3)}", r.nextInt(12).toLong))
    val bucket = least(col("v"), lit(9)).cast("int")
    val base = Files.createTempDirectory("graft-drift").toString
    graft.ext.SnapshotAudit.writeHistogramState(
      ref, "source", bucket, s"$base/ref")

    // several parquet files => several micro-batches (maxFilesPerTrigger)
    val inDir = Files.createTempDirectory("graft-drift-in").toString
    streamed.grouped(60).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("doc_id", "source", "v")
        .write.mode("overwrite").option("compression", "uncompressed").parquet(s"$inDir/part$i") }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("v", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/part*")
    val q = stream.writeStream
      .foreachBatch(graft.streaming.DriftGate.histogramWriter(
        "source", bucket, s"$base/inc"))
      .start()
    try q.processAllAvailable() finally q.stop()

    assert(graft.streaming.DriftGate
      .incrementPaths(spark, s"$base/inc").size > 1,
      "fixture should exercise more than one micro-batch")
    // a partially-written increment (no _SUCCESS) must be invisible to
    // the merge until its retried batch overwrites it (advice r14)
    val committed = graft.streaming.DriftGate.incrementPaths(spark, s"$base/inc")
    val partial = new java.io.File(s"$base/inc/batch_999")
    partial.mkdirs()
    java.nio.file.Files.write(partial.toPath.resolve("part-orphan.parquet"),
      Array[Byte](1, 2, 3))
    assert(graft.streaming.DriftGate.incrementPaths(spark, s"$base/inc")
      == committed, "uncommitted increment directory leaked into the merge")
    val got = graft.streaming.DriftGate.drift(
        spark, Seq(s"$base/ref"), s"$base/inc", "source")
      .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq
    val want = graft.ext.SnapshotAudit.distributionDrift(
        ref, streamed.toDF("doc_id", "source", "v"), "source", bucket)
      .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("DriftGate fails loudly when batch_* dirs exist but none is " +
      "committed (marker-disabled deployment, advice r15)") {
    val base = Files.createTempDirectory("graft-drift-nomark").toString
    // empty base: fine, no increments yet
    assert(graft.streaming.DriftGate.incrementPaths(spark, base).isEmpty)
    // exactly ONE unmarked dir = the benign first-batch-in-flight race
    // (committer hasn't placed _SUCCESS yet): still "no increments yet"
    new java.io.File(s"$base/batch_0").mkdirs()
    assert(graft.streaming.DriftGate.incrementPaths(spark, base).isEmpty)
    // TWO+ unmarked dirs = marker-disabled deployment: the whole history
    // would silently vanish from the merge — must surface as an error
    new java.io.File(s"$base/batch_1").mkdirs()
    val ex = intercept[IllegalArgumentException](
      graft.streaming.DriftGate.incrementPaths(spark, base))
    assert(ex.getMessage.contains("_SUCCESS"))
    // one committed marker restores normal partial-filtering behavior
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$base/batch_1/_SUCCESS"))
    assert(graft.streaming.DriftGate.incrementPaths(spark, base)
      .map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("batch_1"))
  }

  test("classifier quality gate (markerLogit + noisyThresholdGate) runs " +
      "unchanged on a stream, matching batch") {
    // both halves are stateless map/filter work — one VocabTfs kernel
    // eval + a deterministic hash-derived Pareto draw — so the SAME
    // calls run on readStream with no state, watermark or fit step
    val dir = Files.createTempDirectory("graft-stream-clf").toFile
    dir.deleteOnExit()
    // 40 high-prob docs (the ~29% deterministic keep rate makes an
    // all-dropped outcome impossible at this size) + low-prob spam
    val docs = ((0L until 40L).map(i => (i, "data data spark pipeline"))
      ++ Seq((100L, "slow slow slow the the"), (101L, "")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").option("compression", "uncompressed").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    def stage(df: org.apache.spark.sql.DataFrame) =
      graft.ext.QualityClassifier.noisyThresholdGate(
        graft.ext.QualityClassifier.markerLogit(df, "text",
          Seq(("data", 0.75), ("slow", -1.25), ("spark", 0.5),
            ("the", -0.125)), bias = -0.25),
        "doc_id", "prob")
    val q = stage(stream).writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_clf").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, prob, pareto_draw FROM graft_stream_clf ORDER BY 1")
        .as[(Long, Double, Double)].collect().toSeq
      val batch = stage(docs).select("doc_id", "prob", "pareto_draw")
        .orderBy("doc_id").as[(Long, Double, Double)].collect().toSeq
      assert(got == batch)
      assert(batch.nonEmpty && batch.size < 42, // the gate actually gates
        s"fixture should keep some and drop some, kept ${batch.size}")
    } finally q.stop()
  }

  test("streaming incremental dedup == sequential batch fold of " +
      "dedupIncrement (first arrival wins across micro-batches)") {
    def uniq(i: Int) = s"totally distinct document number $i " +
      s"with words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
    val history = Seq((1L, uniq(1)), (2L, uniq(2)), (3L, uniq(3)))
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft-ingest-idx").toString
    val out = Files.createTempDirectory("graft-ingest-out").toString
    graft.ext.Dedup.writeSignatures(history, "doc_id", "text", s"$idx/history")

    // batch0: NEW doc 900, a within-batch dup pair (101 < 102 -> 102
    // dropped), and a dup of history doc 1 (110 dropped).
    // batch1: doc 100 duplicates 900 with a SMALLER id but a LATER
    // arrival — the stream must drop it (first arrival wins; an
    // all-at-once dedupIncrement over inc0 ∪ inc1 would instead keep
    // 100 and drop 900 by id order).
    val inc0 = Seq((900L, uniq(9)), (101L, uniq(4)), (102L, uniq(4)),
      (110L, uniq(1))).toDF("doc_id", "text")
    val inc1 = Seq((100L, uniq(9)), (200L, uniq(5)), (210L, uniq(2)))
      .toDF("doc_id", "text")
    val inDir = Files.createTempDirectory("graft-ingest-in").toString
    inc0.coalesce(1).write.parquet(s"$inDir/part0")
    Thread.sleep(80) // distinct mtimes pin the file-source batch order
    inc1.coalesce(1).write.parquet(s"$inDir/part1")

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/part*")
    val q = stream.writeStream
      .foreachBatch(graft.streaming.IngestDedupGate.survivorWriter(
        "doc_id", "text", idx, out))
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = graft.streaming.IngestDedupGate.survivors(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(101L, 200L, 900L))

    // sequential batch fold of dedupIncrement over the same increments
    val idx2 = Files.createTempDirectory("graft-ingest-idx2").toString
    graft.ext.Dedup.writeSignatures(history, "doc_id", "text", s"$idx2/history")
    var acc = Seq.empty[Long]
    Seq(inc0, inc1).zipWithIndex.foreach { case (inc, i) =>
      val paths = graft.streaming.IngestDedupGate.signaturePaths(spark, idx2)
      val surv = graft.ext.Dedup.dedupIncrement(
        inc, spark.read.parquet(paths: _*), "doc_id", "doc_id", "text")
      acc = acc ++ surv.select("doc_id").as[Long].collect().toSeq
      graft.ext.Dedup.writeSignatures(surv, "doc_id", "text", s"$idx2/batch_$i")
    }
    assert(got == acc.sorted)

    // the rolled-forward index covers exactly history + survivors
    val idxIds = spark.read.parquet(
        graft.streaming.IngestDedupGate.signaturePaths(spark, idx): _*)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idxIds == Seq(1L, 2L, 3L, 101L, 200L, 900L).sorted)

    // compaction: one directory, same signature rows, and the NEXT
    // increment dedups against the compacted index identically
    val target = graft.streaming.IngestDedupGate.compactIndex(spark, idx)
    val after = graft.streaming.IngestDedupGate.signaturePaths(spark, idx)
    // the listing returns fs-qualified URIs (file:/...); compare suffixes
    assert(after.size == 1 && after.head.endsWith("/compact_1"),
      s"expected exactly the compacted dir, got $after")
    val compIds = spark.read.parquet(target)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(compIds == idxIds)
    val inc2 = Seq((300L, uniq(6)), (310L, uniq(5))).toDF("doc_id", "text")
    val surv2 = graft.ext.Dedup.dedupIncrement(
        inc2, spark.read.parquet(after: _*), "doc_id", "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(surv2 == Seq(300L)) // 310 duplicates survivor 200's text

    // replay-after-compaction: batch 1's docs re-presented AFTER their
    // signatures moved into compact_1 (own-batch exclusion can no longer
    // mask them) must survive — a document is not a duplicate of itself
    val replayed = graft.ext.Dedup.dedupIncrement(
        inc1, spark.read.parquet(after: _*), "doc_id", "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 100 still drops (true dup of 900's text, different id); the
    // batch's own survivors 200 and 210's history-dup verdicts replay
    // identically (210 dups history doc 2)
    assert(replayed == Seq(200L))

    // a foreign committed dir named compact_tmp must not abort the next
    // compaction's ordinal parse (advice r15): it is merged as an input
    // (it holds signature rows) but excluded from ordinal derivation
    graft.ext.Dedup.writeSignatures(
      Seq((999L, uniq(9))).toDF("doc_id", "text"), "doc_id", "text",
      s"$idx/compact_tmp")
    val target2 = graft.streaming.IngestDedupGate.compactIndex(spark, idx)
    assert(target2.endsWith("/compact_2"),
      s"ordinal must skip compact_tmp, got $target2")
    val ids2 = spark.read.parquet(target2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids2.contains(999L) && ids2.containsSlice(Seq(1L, 2L, 3L)),
      s"compact_tmp rows must be merged, got $ids2")
  }

  test("streaming WARC ingest == sequential batch fold of the same " +
      "parse + decontamination gates + dedupIncrement (two archives)") {
    import graft.sources.Warc
    import graft.streaming.WarcIngestGate
    def resp(id: String, uri: String, body: String): Warc.WarcRecord = {
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        .getBytes("US-ASCII")
      Warc.WarcRecord("response", uri, "2024-01-01T00:00:00Z",
        s"<urn:uuid:$id>", "application/http; msgtype=response",
        http.length.toLong, http)
    }
    val info = Warc.WarcRecord("warcinfo", "", "2024-01-01T00:00:00Z",
      "<urn:uuid:info>", "application/warc-fields", 0L,
      "software: graft\r\n".getBytes("US-ASCII"))
    // 30-word benchmark; docB changes ONE middle word → exact
    // containment 25/28 ≈ 0.89 (passes the 0.92 exact gate), shingle
    // Jaccard 25/31 ≈ 0.81 (caught by the 0.5 fuzzy gate; banding
    // collision margin ~0.99 at J=0.81)
    val benchWords = (1 to 30).map(i => s"bench$i")
    val benchText = benchWords.mkString(" ")
    val docB = benchWords.updated(14, "swapped").mkString(" ")
    def uniq(i: Int) = s"independent crawl document $i body " +
      (1 to 8).map(j => s"u${i}w$j").mkString(" ")
    val arch0 = Warc.build(Seq(info,
      resp("a", "https://x.com/a", benchText), // exact-contaminated
      resp("b", "https://x.com/b", docB),      // fuzzy-contaminated
      resp("c", "https://x.com/c", uniq(1)),   // survives
      resp("d", "https://x.com/d", uniq(2))))  // survives
    val arch1 = Warc.build(Seq(info,
      resp("e", "https://x.com/e", uniq(1)),   // later dup of c → drop
      resp("f", "https://x.com/f", uniq(3))),  // survives
      gzipPerRecord = true) // second increment exercises .warc.gz
    val bench = Seq(benchText).toDF("bench_text")

    val inDir = Files.createTempDirectory("graft-warc-in").toString
    val idx = Files.createTempDirectory("graft-warc-idx").toString
    val out = Files.createTempDirectory("graft-warc-out").toString
    Files.write(java.nio.file.Paths.get(s"$inDir/seg0.warc"), arch0)
    Thread.sleep(80) // distinct mtimes pin the file-source batch order
    Files.write(java.nio.file.Paths.get(s"$inDir/seg1.warc.gz"), arch1)

    val q = WarcIngestGate.stream(spark, inDir).writeStream
      .foreachBatch(WarcIngestGate.survivorWriter(
        bench, "bench_text", idx, out, maxContamination = 0.92,
        fuzzyThreshold = 0.5))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = graft.streaming.IngestDedupGate.survivors(spark, out)
      .select("record_id").as[String].collect().sorted.toSeq
    assert(got == Seq("<urn:uuid:c>", "<urn:uuid:d>", "<urn:uuid:f>"),
      s"unexpected streaming survivors: $got")

    // sequential batch fold over the same archives in arrival order
    val idx2 = Files.createTempDirectory("graft-warc-idx2").toString
    var acc = Seq.empty[String]
    Seq(("seg0.warc", arch0), ("seg1.warc.gz", arch1)).zipWithIndex
      .foreach { case ((name, bytes), i) =>
        val batch = Seq((s"file:/$name", bytes)).toDF("path", "content")
        val gated = WarcIngestGate.gate(
          WarcIngestGate.parseResponses(batch), bench, "bench_text",
          maxContamination = 0.92, fuzzyThreshold = 0.5,
          shingleLen = 3, numHashes = 32, bands = 8)
        val paths = graft.streaming.IngestDedupGate.signaturePaths(spark, idx2)
        val index =
          if (paths.nonEmpty) spark.read.parquet(paths: _*)
          else Seq.empty[(String, Array[Long])].toDF("record_id", "sig")
        val surv = graft.ext.Dedup.dedupIncrement(
          gated, index, "record_id", "record_id", "text")
        acc = acc ++ surv.select("record_id").as[String].collect().toSeq
        graft.ext.Dedup.writeSignatures(surv, "record_id", "text",
          s"$idx2/batch_$i")
      }
    assert(got == acc.sorted, s"stream != batch fold: $got vs $acc")

    // the rolled index covers exactly the survivors (restart horizon)
    val idxIds = spark.read.parquet(
        graft.streaming.IngestDedupGate.signaturePaths(spark, idx): _*)
      .select("record_id").as[String].collect().sorted.toSeq
    assert(idxIds == got)
  }

  test("streaming perceptual image ingest dedup == sequential batch fold " +
      "of imageDedupIncrement (dHash pairs, first arrival wins)") {
    import graft.ext.Multimodal
    val W = 16; val H = 12
    // structurally distinct base images (different stride + offset) and
    // a sparse-noise variant maker (the crop/re-encode stand-in)
    def basePx(seed: Int): Array[Byte] = Array.tabulate(W * H * 3)(j =>
      ((j * (17 + 2 * seed) + 3 + seed * 31) % 256).toByte)
    def noisy(px: Array[Byte]): Array[Byte] = {
      val c = px.clone()
      c(5) = (((c(5) & 0xff) + 40) % 256).toByte
      c(200) = (((c(200) & 0xff) + 40) % 256).toByte
      c
    }
    def bmp(px: Array[Byte]) = Multimodal.buildBmp(W, H, px)
    val pA = basePx(0); val pN1 = basePx(1)
    val pN2 = basePx(2); val p4 = basePx(3)
    // fixture preconditions: bases pairwise FAR (> maxDistance=4), each
    // noise variant NEAR its base (≤ 4) — assert, don't hope
    val hs = Seq(pA, pN1, pN2, p4).map(Multimodal.dHash64(_, W, H))
    for (i <- hs.indices; k <- i + 1 until hs.size)
      assert(java.lang.Long.bitCount(hs(i) ^ hs(k)) > 4,
        s"fixture bases $i,$k hash too close")
    Seq(pA, pN1, pN2, p4).zip(hs).foreach { case (p, h) =>
      assert(java.lang.Long.bitCount(
        Multimodal.dHash64(noisy(p), W, H) ^ h) <= 4,
        "noise variant drifted past the gate distance")
    }

    val idx = Files.createTempDirectory("graft-imgingest-idx").toString
    val out = Files.createTempDirectory("graft-imgingest-out").toString
    // pre-seeded history index: image A was ingested before the stream
    Seq((1L, bmp(pA))).toDF("media_id", "payload")
      .select(col("media_id"),
        Multimodal.imageDHashCol(col("payload")).as("dhash"))
      .write.parquet(s"$idx/history")

    // batch0: NEW image 900, a within-batch near-pair (101 < 102 -> 102
    // dropped), and a re-encode of history image A (110 dropped).
    // batch1: 100 is a near-dup of 900 with a SMALLER id but LATER
    // arrival — the stream must drop it (first arrival wins; an
    // all-at-once pass over inc0 ∪ inc1 would keep 100 by id order).
    val inc0 = Seq((900L, bmp(pN1)), (101L, bmp(p4)),
      (102L, bmp(noisy(p4))), (110L, bmp(noisy(pA))))
      .toDF("media_id", "payload")
    val inc1 = Seq((100L, bmp(noisy(pN1))), (200L, bmp(pN2)),
      (210L, bmp(noisy(pA)))).toDF("media_id", "payload")
    val inDir = Files.createTempDirectory("graft-imgingest-in").toString
    inc0.coalesce(1).write.parquet(s"$inDir/part0")
    Thread.sleep(80) // distinct mtimes pin the file-source batch order
    inc1.coalesce(1).write.parquet(s"$inDir/part1")

    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("payload", BinaryType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/part*")
    val q = stream.writeStream
      .foreachBatch(graft.streaming.IngestDedupGate.imageSurvivorWriter(
        "media_id", "payload", idx, out, maxDistance = 4))
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = graft.streaming.IngestDedupGate.survivors(spark, out)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(101L, 200L, 900L))

    // sequential batch fold of imageDedupIncrement over the increments
    val idx2 = Files.createTempDirectory("graft-imgingest-idx2").toString
    Seq((1L, bmp(pA))).toDF("media_id", "payload")
      .select(col("media_id"),
        Multimodal.imageDHashCol(col("payload")).as("dhash"))
      .write.parquet(s"$idx2/history")
    var acc = Seq.empty[Long]
    Seq(inc0, inc1).zipWithIndex.foreach { case (inc, i) =>
      val paths = graft.streaming.IngestDedupGate.signaturePaths(spark, idx2)
      val hashes = inc.select(col("media_id"),
        Multimodal.imageDHashCol(col("payload")).as("dhash"))
      val surv = Multimodal.imageDedupIncrement(hashes,
        spark.read.parquet(paths: _*), "media_id", "dhash", maxDistance = 4)
      acc = acc ++ surv.select("media_id").as[Long].collect().toSeq
      surv.write.parquet(s"$idx2/batch_$i")
    }
    assert(got == acc.sorted)

    // the rolled index covers exactly history + survivors, 8 bytes each
    val idxRows = spark.read.parquet(
        graft.streaming.IngestDedupGate.signaturePaths(spark, idx): _*)
    assert(idxRows.columns.sorted.toSeq == Seq("dhash", "media_id"))
    assert(idxRows.select("media_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 101L, 200L, 900L))

    // replay safety: batch0 re-presented against the ROLLED index (its
    // own hashes now committed) — id-equal pairs never drop, so its
    // survivors 900/101 survive again; 102/110 drop identically
    val replayHashes = inc0.select(col("media_id"),
      Multimodal.imageDHashCol(col("payload")).as("dhash"))
    val replay = Multimodal.imageDedupIncrement(replayHashes, idxRows,
        "media_id", "dhash", maxDistance = 4)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(replay == Seq(101L, 900L))
  }
}
