package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity, TextAnalysis}

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ——— DropMetrics through the run recorder ———

  // a capped operator's observe shape: first metric = drop count
  private def capped(n: Int, over: Int) = graft.ext.DropMetrics.observe(
    (1 to n).toDF("v"), "spec",
    Seq(sum(when(col("v") > over, 1L).otherwise(0L)).as("dropped_rows"),
      count(lit(1)).as("n")))

  test("record attributes observed drops to its run; a nested record counts in both") {
    import graft.internal.RunRecorder
    val df = capped(7, 4)
    val ((n, inner), outer) = RunRecorder.record(spark) {
      val n = df.count() // observe never changes the data
      (n, RunRecorder.record(spark)(df.count())._2) // accumulates again
    }
    assert(n == 7)
    assert(outer.drops == 6L, s"got $outer") // 3 + 3
    assert(outer.executions == 2)
    assert(inner.drops == 3L && inner.executions == 1, s"got $inner")
    assert(outer.jobs.map(_.id).containsSlice(inner.jobs.map(_.id)))
  }

  test("two threads recording at once each get exactly their own drops") {
    import graft.internal.{Run, RunRecorder}
    val start = new java.util.concurrent.CyclicBarrier(2)
    val runs = new java.util.concurrent.ConcurrentHashMap[Int, Run]()
    // 200 rows: over 150 drops 50 per execution, over 180 drops 20
    val threads = Seq(150, 180).map { over =>
      new Thread(() => {
        val df = capped(200, over)
        start.await()
        runs.put(over, RunRecorder.record(spark)((1 to 4).foreach(_ => df.count()))._2)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000L))
    assert(runs.get(150) != null && runs.get(180) != null, s"got $runs")
    assert(runs.get(150).drops == 200L, s"got ${runs.get(150)}") // 4 x 50
    assert(runs.get(180).drops == 80L, s"got ${runs.get(180)}") // 4 x 20
    assert(runs.get(150).executions == 4 && runs.get(180).executions == 4)
  }

  // ——— Dedup ———

  test("wordNgrams builds distinct word trigrams; short texts get none") {
    val df = Seq("a b c d", "x y").toDF("t")
    val got = df.select(Dedup.wordNgrams(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0).toSet == Set("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("exact dedup keeps the first doc per text") {
    val df = Seq((0L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("minhash: identical docs agree on every hash; near-dups score high") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((0L, base), (1L, base), (2L, "completely different words here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDuplicates(df, "doc_id", "text",
      threshold = 0.9, numHashes = 32, bands = 8)
      .select("id_a", "id_b", "sig_similarity")
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("simhash: identical docs at Hamming 0, distinct texts far apart") {
    val df = Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(df, "doc_id", "text")
      .select("simhash").as[Long].collect()
    assert(sigs(0) == sigs(1))
    val pairs = Dedup.simHashNearDuplicates(df, "doc_id", "text", 3)
      .select("hamming").as[Int].collect()
    assert(pairs.toSeq == Seq(0))
  }

  test("hammingNearDuplicates == brute force when the chunk count does " +
      "not divide 64 (uncovered top bits: candidate superset, exact filter)") {
    // maxDistance=2 -> 3 chunks x 21 bits, bit 63 in NO chunk; plant
    // sigs differing ONLY in the top bit (distance 1 — must pair), plus
    // random-ish signatures fuzzing the general contract
    val rnd = new scala.util.Random(7)
    val planted = Seq(0x8000000000000000L ^ 0x123456789abcdefL,
      0x123456789abcdefL)
    val sigs = planted ++ (0 until 60).map(_ => rnd.nextLong())
    val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "sig")
    val got = Dedup.hammingNearDuplicates(df, "id", "sig", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val brute = (for {
      (a, i) <- sigs.zipWithIndex; (b, j) <- sigs.zipWithIndex
      if i < j
      d = java.lang.Long.bitCount(a ^ b)
      if d <= 2
    } yield (i.toLong, j.toLong, d)).sortBy(x => (x._1, x._2)).toSeq
    assert(got == brute, s"banded != brute: $got vs $brute")
    assert(brute.contains((0L, 1L, 1)),
      "top-bit-only pair missing from the brute set — seeding broke")
  }

  test("bloom prescreen overlap == exact semi-join (no false negatives; FPs verified away)") {
    val a = Seq((0L, "shared one"), (1L, "only in a"), (2L, "shared two"))
      .toDF("doc_id", "text")
    val b = Seq((10L, "shared one"), (11L, "only in b"),
      (12L, "shared two"), (13L, "shared one"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomPrescreenOverlap(a, b, "doc_id", col("text"))
      .orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (10L, "shared one"), (12L, "shared two"), (13L, "shared one")))
  }

  test("portable simhash: identical docs collide; banding equals naive pairs") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "totally unrelated words appear here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHashPortable(df, "doc_id", "text")
      .orderBy("doc_id").select("simhash32").as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs.forall(s => s >= 0L && s <= 0xFFFFFFFFL))
    // banded pairs == naive pairwise filter over the signatures
    val banded = Dedup.simHashNearDuplicatesPortable(df, "doc_id", "text", 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val s2 = Dedup.simHashPortable(df, "doc_id", "text")
    val naive = s2.toDF("id_a", "sig_a")
      .crossJoin(s2.toDF("id_b", "sig_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == naive)
    assert(banded.contains((0L, 1L, 0)))
  }

  test("ngram Jaccard: identical docs score 1.0, disjoint docs are absent") {
    val df = Seq((0L, "a b c d e"), (1L, "a b c d e"), (2L, "v w x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("bucket cap: 1000 identical docs complete with bounded pair output") {
    // pathological mass-duplicate fixture: every doc lands in the SAME
    // (band, hash) bucket for every band — uncapped, the pair join would
    // emit 1000·999/2 ≈ 5·10⁵ rows (and 10¹² at a 10⁶-doc boilerplate
    // corpus); the cap must skip the over-cap bucket entirely
    val boiler = (0L until 1000L).map(i => (i, "same boilerplate text repeated " +
      "across the whole corpus forever and ever amen"))
    val df = (boiler :+ ((2000L, "one genuinely different document body here")))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashNearDuplicates(df, "doc_id", "text",
      threshold = 0.0, maxBucketSize = 100)
    assert(capped.count() == 0) // the only bucket is over cap -> skipped
    // under-cap corpora are untouched: same fixture, cap above membership
    val uncapped = Dedup.minHashNearDuplicates(
      df.filter(col("doc_id") < 10), "doc_id", "text",
      threshold = 0.9, maxBucketSize = 100)
    assert(uncapped.count() == 10L * 9L / 2)
    // simhash path: same skip semantics
    val sh = Dedup.simHashNearDuplicates(df, "doc_id", "text",
      maxDistance = 3, maxBucketSize = 100)
    assert(sh.count() == 0)
  }

  test("ngram doc-frequency cap drops stop-shingles, keeps rare ones") {
    // "x y z" appears in every doc (doc freq 4 > cap 3) and must not
    // generate candidates; the rare tail grams still pair docs 0/1
    val df = Seq(
      (0L, "x y z rare tail one"), (1L, "x y z rare tail one"),
      (2L, "x y z totally other words"), (3L, "x y z unrelated body text"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5, maxDocFreq = 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    // docs 0 and 1 share ALL their kept grams -> jaccard 1.0 over the
    // capped shingle space; no other pair shares a kept gram
    assert(got.toSeq == Seq((0L, 1L, 1.0)))
    // cap above every doc freq -> unchanged vs the uncapped baseline
    val base = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.01, maxDocFreq = 1000)
    assert(base.filter(col("id_a") === 0 && col("id_b") === 1).count() == 1)
  }

  test("paragraph dedup keeps first occurrence, reassembles, empties losers") {
    val df = Seq(
      (1L, "alpha beta\nshared boiler\ngamma"),
      (2L, "shared boiler\ndelta"),   // loses the boilerplate para
      (3L, "shared boiler"))          // loses its ONLY para -> empty
      .toDF("doc_id", "text")
    val got = Dedup.dropRepeatedParagraphs(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha beta\nshared boiler\ngamma"),
      (2L, "delta"),
      (3L, "")))
  }

  test("contamination score: leaked grams counted, clean docs score 0") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),   // "beta gamma delta" leaks
      (1L, "totally clean words here"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = Dedup.contaminationScore(corpus, bench, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_contaminated", "contamination")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 0: grams {a b g, b g d}; "beta gamma delta" is in the benchmark
    assert(got == Seq((0L, 2L, 1L, 0.5), (1L, 2L, 0L, 0.0)))
  }

  test("blocked packing: bins respect the budget arithmetic per shard") {
    import graft.ext.Packing
    val df = Seq(
      (0L, 0L, 300L), (2L, 0L, 300L), (4L, 0L, 300L), // shard 0
      (1L, 1L, 600L), (3L, 1L, 100L))                 // shard 1: long doc
      .toDF("doc_id", "shard", "n_tokens")
    val got = Packing.packBlocked(df, col("shard"), "doc_id", "n_tokens", 512L)
      .select("doc_id", "bin", "cum_before")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // shard 0: cum 0,300,600 -> bins 0,0,1 ; shard 1: cum 0,600 -> bins 0,1
    assert(got == Seq((0L, 0L, 0L), (1L, 0L, 0L), (2L, 0L, 300L),
      (3L, 1L, 600L), (4L, 1L, 600L)))
    val sum = Packing.packSummary(df, col("shard"), "doc_id", "n_tokens", 512L)
      .orderBy("shard", "bin")
      .select("shard", "bin", "n_docs", "sum_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(sum == Seq((0L, 0L, 2L, 600L), (0L, 1L, 1L, 300L),
      (1L, 0L, 1L, 600L), (1L, 1L, 1L, 100L)))
  }

  test("MLlib MinHashLSH route agrees with the native pairs on identical docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((0L, base), (1L, base), (2L, "completely different words here now"))
      .toDF("doc_id", "text")
    val got = Dedup.minHashNearDuplicatesMLlib(df, "doc_id", "text", 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L)))
  }

  test("DataPlots: downsample keeps every k-th point; envelope buckets") {
    import graft.ops.DataPlots
    val df = (0 until 100).map(i => ("a", i.toLong, i.toDouble)).toDF("id", "pos", "v")
    val ds = DataPlots.downsample(df, "id", "pos", 10)
    assert(ds.count() == 10)
    assert(DataPlots.headSample(df, "id", "pos", 7).count() == 7)
    val env = DataPlots.envelope(
      df.withColumn("ts", expr("timestamp_micros(CAST(pos * 3600e6 AS LONG))")),
      "id", "ts", "v", "day")
    assert(env.count() == 5) // 100 hourly points -> 5 days
    val first = env.orderBy("bucket").select("lo", "mean", "hi").head()
    assert(first.getDouble(0) == 0.0 && first.getDouble(2) == 23.0)
  }

  test("KMV corpus-overlap estimate: exact when k covers the union; " +
      "k_used caps at k otherwise") {
    // A: shingles {abc, bcd, cde}; B: {cde, def, efg} — union 5,
    // intersection {cde}: J = 0.2, both containments = 1/3
    val a = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val b = Seq((2L, "c d e f g")).toDF("doc_id", "text")
    val exact = graft.ext.Dedup.corpusOverlapEstimate(
        a, b, "text", "text", shingleLen = 3, k = 256)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(exact == ((5L, 1L, 0.2, 0.333333, 0.333333)))
    val sampled = graft.ext.Dedup.corpusOverlapEstimate(
        a, b, "text", "text", shingleLen = 3, k = 3)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(sampled._1 == 3L && sampled._3 >= 0.0 && sampled._3 <= 1.0)
    // sketch accuracy on a larger fixture: 200 shared + 200 + 200
    // unique shingle-bearing docs -> true J ~ 1/3; k=256 keeps the
    // estimate within ~4 standard errors (deterministic — md5 order)
    def mk(pre: String, n: Int, off: Int) = (0 until n).map(i =>
      ((off + i).toLong, s"$pre${i}x $pre${i}y $pre${i}z"))
    val bigA = (mk("sh", 200, 0) ++ mk("ua", 200, 1000)).toDF("doc_id", "text")
    val bigB = (mk("sh", 200, 0) ++ mk("ub", 200, 2000)).toDF("doc_id", "text")
    val est = graft.ext.Dedup.corpusOverlapEstimate(
        bigA, bigB, "text", "text", shingleLen = 3, k = 256)
      .as[(Long, Long, Double, Double, Double)].head()
    val se = math.sqrt((1.0 / 3) * (2.0 / 3) / 256)
    assert(math.abs(est._3 - 1.0 / 3) < 4 * se,
      s"KMV estimate ${est._3} too far from 1/3 (se=$se)")
    // a side with no shingles (all texts shorter than shingleLen) must
    // coalesce its 0/0 containment to 0.0, never a null (advice r15)
    val emptySide = Seq((9L, "too short")).toDF("doc_id", "text")
    val nullFree = graft.ext.Dedup.corpusOverlapEstimate(
        a, emptySide, "text", "text", shingleLen = 3, k = 256)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(nullFree == ((3L, 0L, 0.0, 0.0, 0.0)))
  }

  test("fused meanBaselineAccuracyByEntity == split + mean forecast + " +
      "forecastAccuracyByEntity composition (randomized)") {
    import graft.metrics.Metrics
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    // entity lengths 0..9 cover the degenerate tails (no train, short
    // train, constant train); ~10% null values pin the null-chain
    // semantics (a null train value breaks the naive-error lag in BOTH
    // forms rather than being skipped)
    val rows = (0 until 12).flatMap { e =>
      val n = e % 10
      (0 until n).map(t => (e.toLong, t.toLong,
        if (rnd.nextInt(10) == 0) null
        else if (e % 5 == 0) java.lang.Double.valueOf(7.0)
        else java.lang.Double.valueOf(rnd.nextInt(20).toDouble)))
    }
    val df = rows.toDF("id", "pos", "v")
    val h = 3
    val fused = Metrics.meanBaselineAccuracyByEntity(
        df, "id", "pos", "v", h)
      .orderBy("id")
      .as[(Long, Double, Double, Double, Double)].collect().toSeq
    val train = graft.ops.TimeSeriesOps.sliceByTimestep(df, "id", "pos", h)
    val test = df.withColumn("__rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("pos").desc)))
      .filter(col("__rn") <= h).drop("__rn")
    val pred = train.groupBy(col("id")).agg(avg(col("v")).as("p"))
    val composed = Metrics.forecastAccuracyByEntity(
        pred, test, train, "id", "pos", "p", "v", "v")
      .orderBy("id")
      .as[(Long, Double, Double, Double, Double)].collect().toSeq
    assert(fused.map(_._1) == composed.map(_._1))
    fused.zip(composed).foreach { case (f, c) =>
      Seq(f._2 -> c._2, f._3 -> c._3, f._4 -> c._4, f._5 -> c._5)
        .foreach { case (a, b) => assert(math.abs(a - b) < 1e-9,
          s"entity ${f._1}: fused $f vs composed $c") }
    }
    assert(fused.nonEmpty)
  }

  test("DataPlots: plot_and_compare / plot_predictions prep twins (golden)") {
    import graft.ops.DataPlots
    val real = Seq((0L, 0, 1.0, 10.0), (0L, 1, 2.0, 20.0))
      .toDF("seq_id", "step", "m1", "m2")
    val synth = Seq((0L, 0, 1.5, 11.0), (0L, 1, 2.5, 21.0), (0L, 2, 3.5, 31.0))
      .toDF("seq_id", "step", "m1", "m2")
    val cmp = DataPlots.comparisonFrame(
        real, synth, Seq("seq_id"), "step", Seq("m1", "m2"))
      .orderBy("step", "column")
      .select("step", "column", "real", "synthetic")
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    assert(cmp == Seq(
      (0, "m1", Some(1.0), Some(1.5)), (0, "m2", Some(10.0), Some(11.0)),
      (1, "m1", Some(2.0), Some(2.5)), (1, "m2", Some(20.0), Some(21.0)),
      // the synthetic tail past the real length survives as real=null
      (2, "m1", None, Some(3.5)), (2, "m2", None, Some(31.0))))

    val labels = Seq((0, 1.0), (1, 2.0)).toDF("step", "y")
    val predA = Seq((0, 1.1), (1, 2.1)).toDF("step", "y")
    val predB = Seq((0, 0.9), (1, 1.9)).toDF("step", "y")
    val pf = DataPlots.predictionsFrame(
        labels, Seq("lstm" -> predA, "ar" -> predB), "step", "y")
      .orderBy("step", "series")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(pf == Seq(
      (0, "Label", 1.0), (0, "ar", 0.9), (0, "lstm", 1.1),
      (1, "Label", 2.0), (1, "ar", 1.9), (1, "lstm", 2.1)))
    intercept[IllegalArgumentException](DataPlots.predictionsFrame(
      labels, Seq("Label" -> predA), "step", "y"))
  }

  test("DataPlots.metricsBoxFrame: quartiles + clamped whiskers + " +
      "outlier count vs hand model (plot_metrics twin)") {
    import graft.ops.DataPlots
    // group g: 1..9 plus outlier 100 — q1=3.25, med=5.5, q3=7.75
    // (type-7), iqr=4.5, fences [-3.5, 14.5]: whiskers clamp to 1 and 9,
    // one outlier. group h: constant — iqr 0, whiskers = value, 0 outliers
    val vals = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 100.0)) ++
      Seq(("h", 5.0), ("h", 5.0))
    val out = DataPlots.metricsBoxFrame(
        vals.toDF("grp", "v"), Seq("grp"), "v")
      .orderBy("grp")
      .select("grp", "n_values", "q1", "median", "q3",
        "whisker_lo", "whisker_hi", "n_outliers")
      .as[(String, Long, Double, Double, Double, Double, Double, Long)]
      .collect().toSeq
    assert(out == Seq(
      ("g", 10L, 3.25, 5.5, 7.75, 1.0, 9.0, 1L),
      ("h", 2L, 5.0, 5.0, 5.0, 5.0, 5.0, 0L)))
  }

  // ——— Similarity ———

  test("cosine: parallel = 1, orthogonal = 0") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      df.filter(col("vec_id") === 0), df, "vec_id", "embedding", 2)
      .select("rank", "neighbor_id", "cosine")
      .as[(Int, Long, Double)].collect().toSeq
    assert(top.map(_._2) == Seq(1L, 2L))
    assert(math.abs(top(0)._3 - 1.0) < 1e-12)
    assert(math.abs(top(1)._3 - 0.0) < 1e-12)
  }

  test("LSH top-k finds the exact duplicate vector") {
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 50L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val df = (vecs :+ (99L, vecs.head._2)).toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(
      df.filter(col("vec_id") === 99), df, "vec_id", "embedding",
      k = 1, dim = 8, numBits = 4, numTables = 4)
      .select("neighbor_id").as[Long].collect()
    assert(got.headOption.contains(0L)) // identical vector shares every bucket
  }

  test("embedding near-duplicates respects the blocking column") {
    val v = Seq(1.0f, 2.0f, 3.0f)
    val df = Seq((0L, v, 1), (1L, v, 1), (2L, v, 2)).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingNearDuplicates(df, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L))) // 2L is in another block
  }

  test("embedding near-duplicates: one hot block is skipped whole, not exploded") {
    // degenerate blocking: 1000 rows share a default/zero-embedding block
    // (uncapped, the within-block self-join would emit ~5·10⁵ pairs here
    // and 10¹² at corpus scale); the cap must skip the block entirely
    // while leaving the healthy block's pairs intact
    val v = Seq(1.0f, 0.0f)
    val hot = (0L until 1000L).map(i => (i, v, 0))
    val df = (hot ++ Seq((2000L, v, 7), (2001L, v, 7)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingNearDuplicates(
        df, "vec_id", "embedding", "label", 0.99, maxBlockSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2000L, 2001L)))
  }

  test("semanticDuplicates: Lloyd cells separate the clusters, pairs stay within") {
    // two tight clusters far apart + one outlier; seeds one per cluster.
    // SemDeDup semantics: near-dup pairs enumerate within a cell only.
    def jitter(base: Seq[Float], eps: Float) = base.map(_ + eps)
    val a = Seq(10f, 0f, 0f, 0f)
    val b = Seq(0f, 10f, 0f, 0f)
    val df = Seq(
      (0L, a), (1L, jitter(a, 0.01f)), (2L, jitter(a, 0.02f)),
      (10L, b), (11L, jitter(b, 0.01f)),
      (99L, Seq(5f, 5f, 5f, 5f))) // equidistant-ish outlier
      .toDF("vec_id", "embedding")
    val cells = Similarity.assignCells(
        df, "vec_id", "embedding", numCells = 2, lloydIters = 1,
        seedIds = Some(Seq(0L, 10L)))
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(cells(0L) == cells(1L) && cells(1L) == cells(2L))
    assert(cells(10L) == cells(11L))
    assert(cells(0L) != cells(10L))
    val pairs = Similarity.semanticDuplicates(
        df, "vec_id", "embedding", threshold = 0.999, numCells = 2,
        lloydIters = 1, seedIds = Some(Seq(0L, 10L)))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    // all within-cluster jitter pairs, nothing across clusters
    assert(pairs == Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
  }

  test("treeMeans: bitwise-deterministic across partitionings, equals the " +
      "explicit fixed-shape fold (round-off-sensitive values, 2 levels)") {
    // magnitude-mixed floats make the double sum ORDER-sensitive: a
    // nondeterministic reduction would differ across partitionings here.
    val r = new scala.util.Random(0xd37e)
    val rows = (0L until 9000L).map { i => // maxId 8999 → two 12-bit levels
      val mag = if (i % 3 == 0) 1e8f else 1e-3f
      (i % 4, i, Seq(mag * (r.nextFloat() - 0.5f), r.nextFloat()))
    }
    // driver-side replica of the tree: group by id>>12·level, ascending-
    // key left folds from zero, float-cast mean
    def fold(vs: Seq[Array[Double]]): Array[Double] =
      vs.foldLeft(Array(0.0, 0.0))((a, v) => Array(a(0) + v(0), a(1) + v(1)))
    val expected: Map[Long, Seq[Float]] = rows.groupBy(_._1).map {
      case (g, rs) =>
        val l1 = rs.groupBy(_._2 >> 12).toSeq.sortBy(_._1).map { case (_, c) =>
          fold(c.sortBy(_._2).map(_._3.map(_.toDouble).toArray))
        }
        val s = fold(l1) // level 2: all keys 0, ascending level-1 key order
        g -> s.map(x => (x / rs.length).toFloat).toSeq
    }
    Seq(1, 4, 7).foreach { nParts =>
      val df = rows.toDF("g", "__tid", "__tv").repartition(nParts)
      val got = Similarity.treeMeans(df, Seq("g"), 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      assert(got == expected, s"nParts=$nParts")
    }
  }

  // ——— TextAnalysis ———

  test("token counts and stopwords") {
    val df = Seq("the cat sat on the mat").toDF("text")
    val n = df.select(TextAnalysis.tokenCount(col("text"))).as[Int].head()
    val s = df.select(TextAnalysis.stopwordCount(col("text"))).as[Int].head()
    assert(n == 6 && s == 2)
  }

  test("TokenCount kernel == regexp_count(text, '\\S+') " +
      "(fuzz incl. unicode, edge whitespace, null, empty)") {
    val r = new scala.util.Random(0x70c3)
    val alphabet = "ab \t\n\f\r中文é★x  "
    val fuzz = (0 until 300).map { _ =>
      val len = r.nextInt(40)
      (0 until len).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    }
    val samples = Seq("", " ", "  \t\n ", "a", " a ", "a b", " ",
      "word word", "中 文", "tab\tsep\ncr\rfeed\ffin") ++ fuzz
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("k"),
        regexp_count(col("text"), lit("\\S+")).as("re"))
      .as[(Int, Int, Int)].collect()
    got.foreach { case (i, k, re) =>
      assert(k == re, s"mismatch on sample $i: ${samples(i)}") }
    // null text: both forms yield null
    val nulls = Seq((1, null: String)).toDF("id", "text")
      .select(TextAnalysis.tokenCount(col("text")).isNull,
        regexp_count(col("text"), lit("\\S+")).isNull)
      .as[(Boolean, Boolean)].head()
    assert(nulls == ((true, true)))
  }

  test("VocabTfs kernel == brute-force token counts " +
      "(fuzz incl. unicode, null, empty, vocab-absent)") {
    import org.apache.spark.sql.GraftColumnBridge
    val vocab = Seq("spark", "a", "中文", "zz")
    val r = new scala.util.Random(0xf1d5)
    val words = Array("spark", "a", "ab", "中文", "zz", "zzz", "the", "spark")
    val fuzz = (0 until 200).map { _ =>
      (0 until r.nextInt(12)).map(_ => words(r.nextInt(words.length)))
        .mkString(Seq(" ", "  ", "\t", "\n")(r.nextInt(4)))
    }
    val samples = Seq("", " ", "spark", " spark spark ", "sparkx", "中文 a") ++ fuzz
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "text")
    val got = df.select(col("id"), GraftColumnBridge.column(
        graft.functions.VocabTfs(
          GraftColumnBridge.expression(col("text")), vocab)).as("v"))
      .select(col("id"), col("v.has_tok"), col("v.dl"), col("v.tfs"))
      .as[(Int, Boolean, Long, Seq[Long])].collect()
    got.foreach { case (i, has, dl, tfs) =>
      val toks = TextAnalysis.tokensLocal(samples(i))
      assert(has == toks.nonEmpty, s"has_tok wrong for '${samples(i)}'")
      assert(dl == toks.length.toLong, s"dl wrong for '${samples(i)}'")
      assert(tfs == vocab.map(v => toks.count(_ == v).toLong),
        s"tfs wrong for '${samples(i)}'")
    }
    val nul = Seq((1, null: String)).toDF("id", "text")
      .select(GraftColumnBridge.column(graft.functions.VocabTfs(
        GraftColumnBridge.expression(col("text")), vocab)).isNull)
      .as[Boolean].head()
    assert(nul)
  }

  test("QualityStats kernel == split/regexp_count/CountInSet tree " +
      "(fuzz incl. unicode, edge whitespace, punct, null)") {
    import org.apache.spark.sql.GraftColumnBridge
    val r = new scala.util.Random(0x9a57a7)
    val alphabet = "ab the of.!?;, \t\n中é "
    val fuzz = (0 until 300).map { _ =>
      (0 until r.nextInt(50)).map(_ =>
        alphabet(r.nextInt(alphabet.length))).mkString
    }
    val samples = Seq("", " ", "  ", "the", " the of ", "a.b,c!d?e;f",
      "the  of\tand\nin", ".,!?;") ++ fuzz
    val stops = Seq("the", "a", "an", "of", "and", "to", "in", "is")
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("id", "text")
    val got = df.select(col("id"), GraftColumnBridge.column(
        graft.functions.QualityStats(
          GraftColumnBridge.expression(col("text")), stops)).as("q"))
      .select(col("id"), col("q.n_words"), col("q.n_punct"), col("q.n_stop"))
      .as[(Int, Int, Int, Int)].collect()
    val want = df.select(col("id"),
        size(split(col("text"), "\\s+")),
        regexp_count(col("text"), lit("[.,!?;]")),
        GraftColumnBridge.column(graft.functions.CountInSet(
          GraftColumnBridge.expression(split(col("text"), "\\s+")
            .cast("array<string>")), stops)))
      .as[(Int, Int, Int, Int)].collect()
    // CountInSet counts empty-string segments too only if "" is a
    // stopword — it is not, so the tree equals the token-only count
    assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
    val nul = Seq((1, null: String)).toDF("id", "text")
      .select(GraftColumnBridge.column(graft.functions.QualityStats(
        GraftColumnBridge.expression(col("text")), stops)).isNull)
      .as[Boolean].head()
    assert(nul)
  }

  test("BPE-ish sub-token count splits around non-alphanumeric chars") {
    val df = Seq("don't stop2night ok").toDF("text")
    // splits around ' and spaces; digits are alphanumeric so stop2night
    // stays whole: don | ' | t | ␣ | stop2night | ␣ | ok = 7
    val n = df.select(TextAnalysis.subTokenCount(col("text"))).as[Int].head()
    assert(n == 7)
  }

  test("Metrics.mae joins predictions to labels (A9)") {
    import graft.metrics.Metrics
    val preds = Seq((1, 10.0), (2, 20.0)).toDF("k", "p")
    val labels = Seq((1, 12.0), (2, 16.0)).toDF("k", "y")
    assert(Metrics.mae(preds, labels, Seq("k"), "p", "y") == 3.0)
  }

  test("Metrics.rmse / smape (A22 scalar forms, hand-computed)") {
    import graft.metrics.Metrics
    val preds = Seq((1, 10.0), (2, 20.0), (3, 0.0)).toDF("k", "p")
    val labels = Seq((1, 12.0), (2, 16.0), (3, 0.0)).toDF("k", "y")
    // rmse = sqrt((4 + 16 + 0) / 3)
    assert(math.abs(Metrics.rmse(preds, labels, Seq("k"), "p", "y")
      - math.sqrt(20.0 / 3)) < 1e-12)
    // smape terms: 2*2/22, 2*4/36, 0/0 -> 0 (defined-zero convention)
    val expected = (4.0 / 22 + 8.0 / 36 + 0.0) / 3
    assert(math.abs(Metrics.smape(preds, labels, Seq("k"), "p", "y")
      - expected) < 1e-12)
  }

  test("Metrics.forecastAccuracyByEntity: MASE vs hand model; " +
      "constant/short train entities dropped") {
    import graft.metrics.Metrics
    // entity 1: train values 1,3,2 (naive errs 2,1 -> scale 1.5);
    //   horizon labels 4,6 with constant pred 2 -> mae 3, mase 2
    // entity 2: constant train (scale 0) -> dropped
    // entity 3: one train row (no lag) -> dropped
    val train = Seq((1L, 0L, 1.0), (1L, 1L, 3.0), (1L, 2L, 2.0),
      (2L, 0L, 5.0), (2L, 1L, 5.0), (3L, 0L, 7.0))
      .toDF("id", "pos", "v")
    val labels = Seq((1L, 3L, 4.0), (1L, 4L, 6.0),
      (2L, 2L, 5.0), (3L, 1L, 7.0)).toDF("id", "pos", "y")
    val pred = Seq((1L, 2.0), (2L, 5.0), (3L, 7.0)).toDF("id", "p")
    val out = Metrics.forecastAccuracyByEntity(
      pred, labels, train, "id", "pos", "p", "y", "v").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L)
    assert(math.abs(r.getDouble(1) - 3.0) < 1e-12)           // mae
    assert(math.abs(r.getDouble(2) - math.sqrt(10.0)) < 1e-12) // rmse
    assert(math.abs(r.getDouble(4) - 2.0) < 1e-12)           // mase
  }

  test("langId picks the marker-scored language with alphabetical tie-break") {
    val df = Seq((0, "the data and the model of data"), (1, "xyz qrs"))
      .toDF("id", "text")
    val got = TextAnalysis.langId(df, "text").orderBy("id")
      .select("predicted").as[String].collect().toSeq
    assert(got == Seq("en", "de")) // all-zero scores fall back to first lang
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val got = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(got(0) == got(2))
    assert(got(0) != got(1))
    assert(got.forall(v => v >= 0 && v < 100000000000000000L))
  }

  test("quality features: one tokenization, sane ranges") {
    val df = Seq((0, "the cat sat")).toDF("id", "text")
    val row = TextAnalysis.qualityFeatures(df, "text")
      .select("n_words", "n_stop", "quality_score").head()
    assert(row.getInt(0) == 3 && row.getInt(1) == 1)
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 1.0)
  }

  test("repetitionStats: kernel counts match a hand-computed gram multiset") {
    val df = Seq(
      (0L, "a b a b a b"),   // bigrams: [a b, b a, a b, b a, a b] → top 'a b'×3
      (1L, "x y z"),          // all distinct
      (2L, "w"),              // fewer than n tokens
      (3L, "q q q q")         // 'q q'×3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text", 2)
      .orderBy("doc_id")
      .select("n_tokens", "n_grams", "n_distinct", "top_count",
        "dup_gram_fraction", "top_gram_fraction")
      .collect()
    assert(got(0).toSeq == Seq(6, 5, 2, 3, 0.6, 0.6))
    assert(got(1).toSeq == Seq(3, 2, 2, 1, 0.0, 0.5))
    assert(got(2).toSeq == Seq(1, 0, 0, 0, null, null))
    assert(got(3).toSeq == Seq(4, 3, 1, 3, round6(2.0 / 3), 1.0))
    // null text propagates a null struct, not a crash
    val withNull = Seq((0L, Option("a b")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val n = TextAnalysis.repetitionStats(withNull, "doc_id", "text", 2)
      .orderBy("doc_id").select("n_grams").collect()
    assert(n(0).getInt(0) == 1 && n(1).isNullAt(0))
  }
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("contaminationAttribution: contained prompt attributes at 100%, " +
      "direction is benchmark-relative") {
    // bench doc 100 is FULLY contained in corpus doc 0 (100% of ITS
    // grams leak) even though it is a sliver of doc 0 — the case the
    // per-corpus-doc contamination fraction under-weights
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "totally unrelated words that share nothing at all today"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "beta gamma delta epsilon"),        // contained in doc 0
      (101L, "verbs nouns adjectives adverbs"))  // leaks nowhere
      .toDF("bench_id", "text")
    val rep = graft.ext.Dedup.contaminationAttribution(
        corpus, bench, "doc_id", "bench_id", "text", "text",
        n = 3, minFraction = 0.5)
      .orderBy("bench_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rep == Seq((100L, 1L, 1.0)))
    // lowering the bar keeps direction: still keyed by the bench doc
    val all = graft.ext.Dedup.contaminationAttribution(
        corpus, bench, "doc_id", "bench_id", "text", "text",
        n = 3, minFraction = 0.0)
      .select("bench_id").as[Long].collect().toSet
    assert(all == Set(100L)) // 101 shares no gram: no row even at 0.0
  }

  test("contaminationAttribution: duplicate bench ids union their gram " +
      "sets (row-split invariance)") {
    // one logical bench doc stored as TWO rows under id 200: its gram
    // set is the union (6 grams). Corpus doc 0 carries exactly the first
    // row's 3 grams → overlap 3/6 = 0.5 (the pre-r11 carried-size path
    // took ONE row's size, reporting 3/3 = 1.0)
    val corpus = Seq(
      (0L, "a b c d e"),
      (1L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq((200L, "a b c d e"), (200L, "v w x y z"))
      .toDF("bench_id", "text")
    val rep = graft.ext.Dedup.contaminationAttribution(
        corpus, bench, "doc_id", "bench_id", "text", "text",
        n = 3, minFraction = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rep == Seq((200L, 1L, 0.5)))
    // overlapping duplicate rows: shared grams count ONCE in the union
    // ("b c d" appears in both rows; union still has 4 distinct grams)
    val bench2 = Seq((200L, "a b c d"), (200L, "b c d e"))
      .toDF("bench_id", "text")
    val rep2 = graft.ext.Dedup.contaminationAttribution(
        corpus, bench2, "doc_id", "bench_id", "text", "text",
        n = 3, minFraction = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // corpus doc 0 "a b c d e" contains all 4 union grams → 100% leak
    assert(rep2 == Seq((200L, 1L, 1.0)))
  }

  test("contaminationAttribution: reserved internal column names are " +
      "rejected loudly") {
    val df = Seq((0L, "x")).toDF("__cid", "text")
    val b = Seq((1L, "y")).toDF("bench_id", "text")
    intercept[IllegalArgumentException] {
      graft.ext.Dedup.contaminationAttribution(
        df, b, "__cid", "bench_id", "text", "text")
    }
    // benchIdCol == "bench_id" is the identity rename: allowed
    graft.ext.Dedup.contaminationAttribution(
      df.withColumnRenamed("__cid", "doc_id"), b,
      "doc_id", "bench_id", "text", "text").collect()
  }

  test("compressionStats: sizes match a direct Deflater; ratio orders " +
      "repetition < prose < noise") {
    val rep = "spam spam spam spam spam spam spam spam spam spam " * 20
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders across a meadow full of unrelated words in varied order " * 5
    val noise = new scala.util.Random(7).alphanumeric.take(1000).mkString
    val multi = "héllo wörld ünïcode • →"
    val df = Seq((0L, rep), (1L, prose), (2L, noise), (3L, multi), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressionStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def expected(s: String): (Long, Long) = {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      (bytes.length.toLong, n)
    }
    for ((s, i) <- Seq(rep, prose, noise, multi, "").zipWithIndex) {
      val (raw, comp) = expected(s)
      assert(got(i).getLong(1) == raw && got(i).getLong(2) == comp, s"doc $i")
    }
    // empty text → null ratio (guarded division)
    assert(got(4).isNullAt(3))
    val ratios = got.take(3).map(_.getDouble(3))
    assert(ratios(0) < ratios(1) && ratios(1) < ratios(2),
      s"expected repetition < prose < noise, got ${ratios.toSeq}")
    // null text propagates null, not a crash
    val n = TextAnalysis.compressionStats(
        Seq((0L, Option.empty[String])).toDF("doc_id", "text"),
        "doc_id", "text")
      .select("raw_bytes").collect()
    assert(n(0).isNullAt(0))
  }

  test("pruneByCompressionRatio keeps exactly the in-band unrounded ratios") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 60L).map { i =>
      val t = i % 3 match {
        case 0 => "dup " * (rnd.nextInt(50) + 1)
        case 1 => Seq.fill(rnd.nextInt(40) + 3)(
          rnd.alphanumeric.take(rnd.nextInt(8) + 1).mkString).mkString(" ")
        case _ => rnd.alphanumeric.take(rnd.nextInt(200)).mkString
      }
      (i, t)
    }
    val df = docs.toDF("doc_id", "text")
    val kept = TextAnalysis.pruneByCompressionRatio(df, "text", 0.2, 0.8)
      .select("doc_id").as[Long].collect().toSet
    val expected = docs.collect { case (id, t) if t.getBytes("UTF-8").nonEmpty =>
      val bytes = t.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      (id, n.toDouble / bytes.length)
    }.collect { case (id, r) if r >= 0.2 && r <= 0.8 => id }.toSet
    assert(kept === expected)
  }

  test("topTokens ranks corpus tokens by frequency, ties lexicographic") {
    val df = Seq("b a", "b c", "b a c", "d").toDF("text")
    val got = TextAnalysis.topTokens(df, "text", 3)
      .orderBy("rank").as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "b", 3L), (2, "a", 2L), (3, "c", 2L)))
  }

  test("keepBestPerCluster: best-scoring member wins, singletons survive") {
    import graft.ext.Dedup
    // cluster {1,2,3} (labels as duplicateClusters emits: min-id rep),
    // cluster {5,6}, singletons 4 and 7 (7 absent from clusters entirely)
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (4L, 4L)).toDF("id", "cluster_id")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // 2 and 3 tie on score -> min id 2
      (4L, 5L), (5L, 8L), (6L, 9L), (7L, 1L))
      .toDF("doc_id", "score")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", "score", clusters)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(kept == Seq((2L, 30L), (4L, 5L), (6L, 9L), (7L, 1L)))
    // guards: missing columns and internal-name collisions fail loudly
    intercept[IllegalArgumentException] {
      Dedup.keepBestPerCluster(docs, "doc_id", "nope", clusters)
    }
    intercept[IllegalArgumentException] {
      Dedup.keepBestPerCluster(docs.withColumn("rank", col("score")),
        "doc_id", "score", clusters)
    }
  }

  test("hardNegatives: nearest different-label candidates, null-safe") {
    import graft.ext.Similarity
    // labels: two tight clusters on orthogonal axes + one null-labeled
    val vecs = Seq(
      (0L, "a", Seq(1.0f, 0.0f)), (1L, "a", Seq(0.9f, 0.1f)),
      (2L, "b", Seq(0.0f, 1.0f)), (3L, "b", Seq(0.1f, 0.9f)),
      (4L, null.asInstanceOf[String], Seq(0.8f, 0.2f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
        "label", 3)
      .orderBy(col("rank"))
      .as[(Long, Int, Long, Option[String], Double)].collect().toSeq
    // same-label 1 excluded; null-labeled 4 is a valid negative (IS
    // DISTINCT FROM) and is the closest, then the b-cluster by cosine
    assert(got.map(_._3) == Seq(4L, 3L, 2L))
    assert(got.map(_._4) == Seq(None, Some("b"), Some("b")))
    assert(got.map(_._2) == Seq(1, 2, 3))
    // a null-labeled QUERY pairs with every labeled candidate
    val gotNull = Similarity.hardNegatives(
        vecs.filter(col("vec_id") === 4), vecs, "vec_id", "embedding",
        "label", 10)
      .as[(Long, Int, Long, Option[String], Double)].collect().toSeq
    assert(gotNull.map(_._3).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("fuzz: keepBestPerCluster == argmax model (30 cases)") {
    import graft.ext.Dedup
    val rnd = new scala.util.Random(130815L)
    (1 to 30).foreach { k =>
      val n = 2 + rnd.nextInt(40)
      val docs = (0L until n.toLong).map(i => (i, rnd.nextInt(10).toLong))
      // random partial clustering: each doc joins one of ~n/3 groups or
      // stays unclustered; labels use the min member id like
      // duplicateClusters does
      val groups = docs.map(_._1).filter(_ => rnd.nextBoolean())
        .groupBy(_ => rnd.nextInt(1 + n / 3)).values
        .filter(_.size >= 2).toSeq
      val clusterRows = groups.flatMap(g => g.map(id => (id, g.min)))
      val kept = Dedup.keepBestPerCluster(
          docs.toDF("doc_id", "score"), "doc_id", "score",
          clusterRows.toDF("id", "cluster_id"))
        .as[(Long, Long)].collect().toSeq.sorted
      val scoreOf = docs.toMap
      val clustered = clusterRows.map(_._1).toSet
      val want = (groups.map(g =>
          g.maxBy(id => (scoreOf(id), -id))) ++
          docs.map(_._1).filterNot(clustered))
        .map(id => (id, scoreOf(id))).sorted
      assert(kept == want, s"case $k: n=$n groups=${groups.size}")
    }
  }
}
