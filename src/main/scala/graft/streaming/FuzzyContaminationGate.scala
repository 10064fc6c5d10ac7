package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Streaming fuzzy-decontamination gate — the streaming twin of
  * [[graft.ext.Dedup.fuzzyDecontaminate]].
  *
  * The batch operator is a banded cross-corpus join (corpus buckets ×
  * benchmark buckets). On a stream that join would need stream-static
  * join machinery for what is per-row work: a document's whole signature
  * lives in its own row, and the benchmark side is bounded (an eval
  * suite). So the gate folds the benchmark into a constant — its
  * signature arrays, collected once at build time behind a require'd cap
  * (the [[ContaminationGate]] boundary pattern) — and evaluates the
  * whole candidate+verify step with one map-only kernel per row
  * ([[graft.functions.MaxBandedSigAgreement]]: band-slice index lookup,
  * exact agreement count, max over candidates). Stateless and
  * watermark-free: the same transform runs on batch frames and
  * `readStream` sources in append mode.
  *
  * Semantics vs batch: candidates come from exact band-slice equality
  * where the join uses band-HASH equality — identical unless two
  * different slices collide at 64 bits AND that collision pair alone
  * clears the threshold (~2⁻⁶⁴ per pair); and the join's benchmark
  * bucket cap ([[graft.ext.Dedup.capBuckets]], a degenerate-benchmark
  * guard that never engages on real eval suites) has no analogue here —
  * the gate evaluates the uncapped semantics. StreamingSpec pins
  * batch ≡ stream through a real parquet-source stream.
  */
object FuzzyContaminationGate {

  /** Hard cap on collected benchmark signatures: 1M sigs × 32 hashes
    * × 8 B = 256 MB flat primitive array + 96 MB sorted band index per
    * executor (the kernel stores signatures UNBOXED — see
    * [[graft.functions.MaxBandedSigAgreement]]'s memory note) — generous
    * for any real eval suite, fatal-with-a-diagnostic for an argument
    * swap. */
  val MaxBenchmarkSigs: Int = 1 << 20

  /** Appends `max_benchmark_similarity` (max agreeing-hash fraction vs
    * any banded benchmark candidate, round 6; 0.0 when no candidate) to
    * `docs`, all original columns kept — the composable form. */
  def withMaxSimilarity(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBenchmarkSigs: Int = MaxBenchmarkSigs): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(maxBenchmarkSigs > 0 && maxBenchmarkSigs < Int.MaxValue,
      s"maxBenchmarkSigs must be in (0, Int.MaxValue): $maxBenchmarkSigs")
    import org.apache.spark.sql.GraftColumnBridge
    val rowsPerBand = numHashes / bands
    // benchmark signatures → driver, once, at gate-build time; guarded
    // limit so a corpus-for-benchmark swap dies loudly, not with an OOM.
    // Shingle-less benchmark docs (< shingleLen tokens, or null text) are
    // EXCLUDED: their all-sentinel signature carries no contamination
    // signal, and keeping it would score every shingle-less corpus doc as
    // similarity 1.0 — one short eval row silently dropping every short
    // corpus doc (mirrored in Dedup.fuzzyDecontaminate; parity spec'd)
    val capped = Dedup.minHashSignatureArray(
        benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, shingleLen, numHashes)
      .filter(col("__sig").getItem(0) =!= lit(Dedup.MinHashP))
      .select(col("__sig")).limit(maxBenchmarkSigs + 1).collect()
    if (capped.length > maxBenchmarkSigs)
      throw new IllegalArgumentException(
        s"FuzzyContaminationGate: benchmark side has > $maxBenchmarkSigs " +
          "documents — too large for the streaming gate's driver-side " +
          "signature index. Did you swap the corpus and benchmark " +
          "arguments? For a corpus-scale benchmark persist its " +
          "signatures with Dedup.writeSignatures and pair against them " +
          "with the batch Dedup.minHashCrossPairsFromSignatures.")
    val flat = new Array[Long](capped.length * numHashes)
    var i = 0
    while (i < capped.length) {
      val s = capped(i).getSeq[Long](0)
      var j = 0
      while (j < numHashes) { flat(i * numHashes + j) = s(j); j += 1 }
      i += 1
    }
    val sig: Column =
      Dedup.minHashSignatureColumn(col(textCol), shingleLen, numHashes)
    val best =
      if (flat.isEmpty) lit(0) // nothing can leak from an empty suite
      else GraftColumnBridge.column(graft.functions.MaxBandedSigAgreement(
        GraftColumnBridge.expression(sig), flat, numHashes, bands, rowsPerBand))
    docs.withColumn("max_benchmark_similarity",
      round(best.cast("double") / lit(numHashes.toDouble), 6))
  }

  /** Builds the gate against `benchmark` and applies it to `docs` (batch
    * or streaming): keeps documents whose max banded benchmark
    * similarity is BELOW `threshold` — the survivors frame, row-set
    * identical to [[graft.ext.Dedup.fuzzyDecontaminate]] (modulo the
    * collision/cap notes above). */
  def apply(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame =
    withMaxSimilarity(docs, benchmark, textCol, benchTextCol,
        shingleLen, numHashes, bands)
      .filter(col("max_benchmark_similarity") < threshold)
      .drop("max_benchmark_similarity")
}
