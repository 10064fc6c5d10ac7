package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** Cross-corpus MinHash pairs (fuzzy decontamination) against a naive
  * in-memory model over the SAME signatures: for every (corpus doc,
  * benchmark doc), a pair is expected iff some band's hash slots agree
  * exactly AND the overall agreeing-hash fraction clears the threshold.
  * The oracle query `dedup_cross_minhash` pins the portable twin against
  * DuckDB at fixed SFs; this spec pins the production path on randomized
  * adversarial shapes (empty docs, exact cross-corpus duplicates) and
  * each operator's join: broadcast-hash against a benchmark, shuffle-hash
  * against a persisted signature index.
  */
class CrossDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomCorpus(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val docs = (0 until n).map { i =>
      val len = rnd.nextInt(16) // includes 0 → empty text
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // exact duplicates with fresh ids: guaranteed cross-split near-dups
    // (id+1001 flips parity, so the copy lands in the OTHER corpus)
    val dups = docs.take(6).map { case (id, t) => (id + 1001L, t) }
    (docs ++ dups).toDF("doc_id", "text")
  }

  /** Naive model: expected (id_a, id_b, similarity) from collected
    * signature arrays. */
  private def naiveCross(
      corpus: DataFrame, bench: DataFrame, threshold: Double,
      numHashes: Int, bands: Int): Set[(Long, Long, Double)] = {
    val rpb = numHashes / bands
    def sigsOf(df: DataFrame): Seq[(Long, Seq[Long])] =
      Dedup.minHashSignatureArray(df, "doc_id", "text", 3, numHashes)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val bs = sigsOf(bench)
    sigsOf(corpus).flatMap { case (ca, csig) =>
      bs.flatMap { case (bb, bsig) =>
        val bandMatch = (0 until bands).exists(b =>
          (0 until rpb).forall(i => csig(b * rpb + i) == bsig(b * rpb + i)))
        val mc = csig.zip(bsig).count { case (x, y) => x == y }
        val sim = mc.toDouble / numHashes
        if (bandMatch && sim >= threshold) Some((ca, bb, sim)) else None
      }
    }.toSet
  }

  test("minHashCrossPairs == naive signature model; broadcast-hash join") {
    for (seed <- Seq(7, 21)) {
      val docs = randomCorpus(seed, 40)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val bench = docs.filter(col("doc_id") % 2 === 1)
      val expected = naiveCross(corpus, bench, 0.5, 16, 4)
      val pairs = Dedup.minHashCrossPairs(corpus, bench, "doc_id", "doc_id",
          "text", "text", threshold = 0.5, numHashes = 16, bands = 4)
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"seed=$seed")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"benchmark buckets do not broadcast:\n$plan")
    }
  }

  test("fuzzyDecontaminate drops exactly the pair hits against the " +
      "shingle-bearing benchmark; exact cross-dups die; short corpus docs " +
      "survive sentinel bench docs") {
    val docs = randomCorpus(33, 40)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    // the gate excludes shingle-less bench docs (all-sentinel signatures
    // carry no contamination signal — they would drop every short corpus
    // doc); the model therefore pairs against the FILTERED bench
    val benchReal = bench.filter(size(Dedup.wordNgrams(col("text"), 3)) > 0)
    assert(bench.count() > benchReal.count(),
      "fixture must contain shingle-less bench docs for this test to bite")
    val hits = Dedup.minHashCrossPairs(corpus, benchReal, "doc_id", "doc_id",
        "text", "text", threshold = 0.7)
      .select("id_a").distinct().as[Long].collect().toSet
    // a shingle-less CORPUS doc must never be a hit once sentinel bench
    // docs are excluded (nothing real can band-match the sentinel slice)
    val shortCorpus = corpus
      .filter(size(Dedup.wordNgrams(col("text"), 3)) <= 0 ||
        Dedup.wordNgrams(col("text"), 3).isNull)
      .select("doc_id").as[Long].collect().toSet
    assert(shortCorpus.intersect(hits).isEmpty)
    val kept = Dedup.fuzzyDecontaminate(corpus, bench, "doc_id", "doc_id",
        "text", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    val all = corpus.select("doc_id").as[Long].collect().toSet
    assert(kept === all.diff(hits))
    // an exact duplicate across the split must always be a hit: the even
    // original of every odd dup copy (ids 0..5 + 1001 → odd copies of even
    // originals are ids 1001,1003,1005 ← originals 0,2,4)
    for (orig <- Seq(0L, 2L, 4L)) {
      val nonEmpty = docs.filter(col("doc_id") === orig)
        .select(length(coalesce(col("text"), lit(""))))
        .as[Int].head() > 0
      if (nonEmpty) assert(!kept.contains(orig),
        s"exact cross-corpus duplicate $orig survived decontamination")
    }
  }

  test("signature index round-trip: pairs-from-signatures == recomputed " +
      "cross pairs; dedupIncrement drops history hits and within-shard dups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-idx").toFile
    dir.deleteOnExit()
    val docs = randomCorpus(77, 40)
    val history = docs.filter(col("doc_id") % 2 === 1)
    val shard = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeSignatures(history, "doc_id", "text", dir.getAbsolutePath)
    val sigs = spark.read.parquet(dir.getAbsolutePath)
    val expected = Dedup.minHashCrossPairs(shard, history, "doc_id", "doc_id",
        "text", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairs = Dedup.minHashCrossPairsFromSignatures(shard, sigs,
        "doc_id", "doc_id", "text", threshold = 0.5)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"signature-index join is not shuffle-hash:\n$plan")
    // increment semantics: shard minus history hits minus pair-larger ids
    val historyHits = expected.map(_._1)
    val withinDrops = Dedup.minHashNearDuplicates(shard, "doc_id", "text",
        threshold = 0.5)
      .select(greatest(col("id_a"), col("id_b"))).as[Long].collect().toSet
    val kept = Dedup.dedupIncrement(shard, sigs, "doc_id", "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val all = shard.select("doc_id").as[Long].collect().toSet
    assert(kept === all.diff(historyHits).diff(withinDrops))
  }

  test("portable cross pairs == naive portable model") {
    val docs = randomCorpus(55, 40)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    def sigsOf(df: DataFrame): Seq[(Long, Seq[Long])] =
      Dedup.minHashSignaturesPortable(df, "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), (1 to 4).map(r.getLong))).toSeq
    val bs = sigsOf(bench)
    val expected = sigsOf(corpus).flatMap { case (ca, cs) =>
      bs.flatMap { case (bb, b2) =>
        val bandMatch = (cs(0) == b2(0) && cs(1) == b2(1)) ||
          (cs(2) == b2(2) && cs(3) == b2(3))
        val mc = cs.zip(b2).count { case (x, y) => x == y }
        val sim = math.rint(mc / 4.0 * 1e6) / 1e6
        if (bandMatch && sim >= 0.5) Some((ca, bb, sim)) else None
      }
    }.toSet
    val got = Dedup.minHashCrossPairsPortable(corpus, bench,
        "doc_id", "doc_id", "text", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }
}
