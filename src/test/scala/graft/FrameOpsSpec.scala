package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TsSchema
import graft.ext.Dedup
import graft.ops.FrameOps
import graft.sources.Tables

class FrameOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash sampling is partition-independent and key-stable") {
    import graft.ops.Sampling
    val df = spark.range(0, 2000).toDF("id")
    val a = Sampling.hashSample(df, col("id"), 10)
      .select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(df.repartition(13), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(a == b)                    // same rows regardless of layout
    assert(a.size > 100 && a.size < 300) // ~10% of 2000
    // widening the gate keeps the narrower sample (nested samples)
    val wide = Sampling.hashSample(df, col("id"), 20)
      .select("id").as[Long].collect().toSet
    assert(a.subsetOf(wide))
    // portable variant: same properties, engine-portable hash
    val p = Sampling.hashSamplePortable(df, col("id"), 10)
      .select("id").as[Long].collect().toSet
    val p2 = Sampling.hashSamplePortable(df.repartition(7), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(p == p2 && p.size > 100 && p.size < 300)
  }

  test("stratified sampling applies per-stratum rates off one shared gate") {
    import graft.ops.Sampling
    val df = spark.range(0, 3000)
      .withColumn("stratum",
        when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b")
          .otherwise("c"))
    val out = Sampling.stratifiedSample(
        df, col("id"), col("stratum"), Seq("a" -> 50, "b" -> 0), 10)
      .groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(out.getOrElse("b", 0L) == 0L)              // rate 0 drops all
    assert(out("a") > 350 && out("a") < 650)          // ~50% of 1000
    assert(out("c") > 40 && out("c") < 200)           // ~10% of 1000
    // strata rates don't change WHICH keys pass at a given percentile:
    // an 'a' row kept at 10 percent is also kept at 50
    val narrow = Sampling.stratifiedSample(
        df, col("id"), col("stratum"), Seq("a" -> 10), 0)
      .select("id").as[Long].collect().toSet
    val wide = Sampling.stratifiedSample(
        df, col("id"), col("stratum"), Seq("a" -> 50), 0)
      .select("id").as[Long].collect().toSet
    assert(narrow.subsetOf(wide))
  }

  test("P2 prefix strip mirrors the synthcity rename (F-7, test_synthcity_adapter.py:70-106)") {
    val df = Seq((1, "a", "B7", 4.5, false))
      .toDF("seq_id", "seq_time_id", "seq_static_id", "seq_temporal_temp_b", "seq_out_outcome")
    val out = FrameOps.dropBookkeeping(
      FrameOps.stripPrefixes(
        df.drop("seq_id", "seq_out_outcome"),
        Seq("seq_temporal_", "seq_static_", "seq_")),
      Seq("missing_col_is_fine"))
    assert(out.columns.toSeq == Seq("time_id", "id", "temp_b"))
  }

  test("F4 dateRange inclusivity modes (data_utils.py:51-59)") {
    def n(inc: String) =
      FrameOps.dateRange(spark, "2024-01-01", "2024-01-03", inclusive = inc).count()
    assert(n("both") == 3 && n("left") == 2 && n("right") == 2 && n("neither") == 1)
    intercept[IllegalArgumentException](n("bogus"))
  }

  test("A4 toRegularIndex keeps first obs per bucket, zero-fills the grid") {
    val df = Seq(
      (1, "2024-01-01 05:00:00", 0L, 10.0),
      (1, "2024-01-01 09:00:00", 1L, 99.0), // same day, later -> dropped
      (1, "2024-01-03 05:00:00", 2L, 30.0))
      .toDF("item", "s", "ord", "v")
      .withColumn("ts", to_timestamp(col("s")))
    val got = FrameOps.toRegularIndex(df, "item", "ts", "ord", Seq("v"))
      .orderBy("bucket").select("v").as[Double].collect().toSeq
    assert(got == Seq(10.0, 0.0, 30.0))
  }

  test("S1/S3 CSV round-trip with header and inferred schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toFile
    dir.deleteOnExit()
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Tables.writeCsv(df, dir.getAbsolutePath + "/out")
    val back = Tables.loadCsv(spark, dir.getAbsolutePath + "/out/*.csv")
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "integer"
      || back.schema("id").dataType.typeName == "long") // inferred numeric
    assert(back.orderBy("id").select("v").as[Double].collect().toSeq == Seq(1.5, 2.5))
  }

  test("duplicateClusters: min-label connected components over pair chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("duplicateClusters: zero input pairs yields an empty labeling (both algorithms)") {
    // regression: a fully-gated corpus upstream hands the clusterer no
    // pairs; the convergence probe's sum over the empty label set is null
    // and must read as converged, not crash
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(none).count() == 0)
    assert(Dedup.duplicateClusters(none, algorithm = "star").count() == 0)
  }

  test("duplicateClusters: 30-node path — diameter past maxIter degrades " +
      "within-hop-correct, converges with maxIter raised") {
    // a path graph 1—2—…—30: the min label (1) is 29 hops from node 30,
    // past the default 20-round budget. The documented contract: labels
    // are correct within maxIter hops of each component's minimum (a WARN
    // is logged), and a raised maxIter converges exactly.
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val partial = Dedup.duplicateClusters(pairs, algorithm = "minlabel")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(partial.map(_._1) == (1L to 30L))
    // seeded init already pulls one hop, so ≥ the first 21 nodes reach 1
    assert(partial.take(21).forall(_._2 == 1L))
    // far tail has NOT converged yet — proves the WARN path really ran
    assert(partial.last._2 != 1L)
    val full = Dedup.duplicateClusters(pairs, maxIter = 40,
        algorithm = "minlabel")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(full == (1L to 30L).map(i => (i, 1L)))
  }

  test("duplicateClusters(auto): long chain escalates to star and converges " +
      "inside the default budget; clique graphs stay on min-label") {
    // the 30-node path that defeats default min-label (previous test):
    // with the driver finish DISABLED, auto must detect the stall after
    // AutoEscalateRounds and hand the graph to star contraction,
    // converging EXACTLY under default maxIter
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, driverFinishMaxPairs = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == (1L to 30L).map(i => (i, 1L)))
    // the DEFAULT auto path takes the bounded driver finish on a graph
    // this small — labels must be identical
    val viaDriver = Dedup.duplicateClusters(chain)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(viaDriver == got)
    // a clique converges in one min-label round — auto output identical
    // to explicit min-label (no escalation distortion)
    val clique = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b))
      .toDF("id_a", "id_b")
    val auto = Dedup.duplicateClusters(clique, driverFinishMaxPairs = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(auto == (1L to 5L).map(i => (i, 1L)))
  }

  test("duplicateClusters: driver finish == distributed labels on random " +
      "graphs; cap boundary falls back to distributed") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val pairs = (0 until n).map { _ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
      }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
      val viaDriver = Dedup.duplicateClusters(pairs)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val distributed = Dedup.duplicateClusters(pairs, maxIter = 50,
          driverFinishMaxPairs = 0)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(viaDriver == distributed, s"trial $trial")
      // cap smaller than the pair count: probe declines, distributed path
      // must produce the same labels
      val capped = Dedup.duplicateClusters(pairs, maxIter = 50,
          driverFinishMaxPairs = 1)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(capped == distributed, s"trial $trial (capped)")
    }
    // null-bearing pairs are dropped identically on EVERY path (advisor
    // r10: driver finish skipped them, min-label grew a spurious
    // null-keyed row, star silently dropped them — auto's output depended
    // on the pair count vs the cap)
    val np = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, null), (null, 4L), (null, null))
      .toDF("id_a", "id_b")
    val expected = Seq((1L, 1L), (2L, 1L))
    for (args <- Seq(
        () => Dedup.duplicateClusters(np),
        () => Dedup.duplicateClusters(np, maxIter = 50,
          driverFinishMaxPairs = 0),
        () => Dedup.duplicateClusters(np, algorithm = "minlabel"),
        () => Dedup.duplicateClusters(np, algorithm = "star"))) {
      val got = args().orderBy("id").as[(Long, Long)].collect().toSeq
      assert(got == expected)
    }
    // string ids ride the driver path too
    val sp = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val sGot = Dedup.duplicateClusters(sp)
      .orderBy("id").as[(String, String)].collect().toSeq
    assert(sGot == Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x")))
  }

  test("duplicateClusters(star) == min-label on pair chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, algorithm = "star")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("duplicateClusters(star): 30-node path converges INSIDE the default " +
      "budget where min-label cannot") {
    // the exact fixture that exposes min-label's O(diameter) bound: the
    // min label needs 29 hops, past the default 20 rounds. Star
    // contraction halves long chains every alternation (O(log²) rounds),
    // so the same default budget converges EXACTLY — this is the mega-
    // cluster/long-chain posture the opt-in exists for.
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, algorithm = "star")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == (1L to 30L).map(i => (i, 1L)))
  }

  test("duplicateClusters(star) == min-label on randomized graphs") {
    val rnd = new scala.util.Random(91)
    (0 until 3).foreach { trial =>
      val n = 120
      val edges = (0 until 150).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val pairs = edges.toDF("id_a", "id_b")
      val star = Dedup.duplicateClusters(pairs, algorithm = "star")
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val minl = Dedup.duplicateClusters(pairs, maxIter = 200)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(star == minl, s"trial $trial diverged")
    }
  }

  test("star == min-label on the dedup_clusters query's real pair set") {
    // the exact pair list the oracle-checked dedup_clusters query
    // clusters (portable MinHash pairs over the sf0.001 corpus subset)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 4 === 0)
    val pairs = Dedup.minHashNearDuplicatesPortable(docs, "doc_id", "text")
    val star = Dedup.duplicateClusters(pairs, algorithm = "star")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val minl = Dedup.duplicateClusters(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(star == minl)
    assert(star.nonEmpty)
  }

  test("duplicateClusters rejects an unknown algorithm") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.duplicateClusters(pairs, algorithm = "labelprop"))
    assert(e.getMessage.contains("minlabel"))
  }

  test("fingerprint128: equal text ⇒ equal struct, distinct halves independent") {
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, "ALPHA"))
      .toDF("id", "t")
      .select(col("id"), Dedup.fingerprint128(col("t")).as("fp"))
    val rows = df.select(col("id"), col("fp.f1"), col("fp.f2"))
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(rows(0)._2 == rows(1)._2 && rows(0)._3 == rows(1)._3) // same text
    assert(rows(0)._2 != rows(2)._2 || rows(0)._3 != rows(2)._3) // differs
    assert(rows(0)._2 != rows(3)._2 || rows(0)._3 != rows(3)._3) // case-sensitive
    // the two halves are independent hashes, not copies of one value
    assert(rows.forall(r => r._2 != r._3))
    // paragraph dedup keyed on the 128-bit fingerprint
    val docs = Seq((1L, "a\nb\nc"), (2L, "b\nd"), (3L, "e\na")).toDF("id", "text")
    val kept = Dedup.dropRepeatedParagraphs(docs, "id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(kept == Seq((1L, "a\nb\nc"), (2L, "d"), (3L, "e")))
  }
}
