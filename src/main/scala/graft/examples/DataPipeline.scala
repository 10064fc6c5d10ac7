package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, QualityClassifier, Redaction, Similarity, TextAnalysis, UrlOps}
import graft.ops.Sampling
import graft.streaming.ContaminationGate

/** End-to-end LLM training-data curation pipeline over the `documents` +
  * `embeddings` tables — the north-star composition: every stage is one of
  * the engine's first-class operators, chained exactly the way a corpus
  * prep job would run them at 100 TB.
  *
  *  1. language ID + quality scoring (map-only); the predicted language
  *     routes every later per-language decision — at corpus scale there
  *     is no ground-truth `lang` label
  *  1.25. model-based quality gate (optional): a fitted hashed-term
  *     logistic classifier scores every rule-gate survivor in one
  *     map-only pass (seed-trained upstream via [[QualityClassifier]])
  *  1.5. URL/domain curation (optional, web corpora): domain blocklist
  *     (map-side scan predicate) and per-host document cap (bounded-heap
  *     TopK) — the cheap source-level drops run before any
  *     content-pairing stage sees the rows
  *  2. exact dedup (one hash shuffle on the text key)
  *  3. MinHash-LSH near-dup clustering, keep one representative per
  *     cluster (banded candidate join, never O(n²))
  *  4. embedding-cosine near-dup sweep over the survivors' vectors
  *  5. benchmark decontamination (optional): the eval suite's gram set
  *     folds into a map-only kernel constant — docs that leak benchmark
  *     content are quarantined; the corpus never shuffles
  *  6. PII redaction (map-only): placeholders replace raw emails/phones/
  *     ids/IPs BEFORE the corpus is written anywhere
  *  7. deterministic hash sample for the eval split (map-only filter)
  *  8. token accounting for the final corpus, keyed by the PREDICTED
  *     language from stage 1
  *
  * [[prepareTraining]] continues with stages 9-11 (unigram-LM pruning,
  * token-budget mixture sampling, shard assignment) — clean corpus to
  * write-ready training shards.
  *
  * Run: `runMain graft.examples.DataPipeline [sfDir]`.
  * The same composition is asserted end-to-end in ExamplesSpec.
  */
object DataPipeline {

  /** The pipeline as a pure DataFrame transform (testable without a main).
    * Returns (curated corpus, eval split, per-language token stats).
    * @param benchmark eval-suite documents to decontaminate against
    *                  (None skips stage 5)
    * @param blockedDomains registered domains to drop (stage 1.5; requires
    *                  a `url` column on `docs`; Nil skips)
    * @param maxDocsPerHost cap any one host's document share (stage 1.5;
    *                  requires `url`; 0 skips)
    * @param boilerplateMinDf strip lines appearing in >= this many docs
    *                  (stage 0, CCNet-style template chrome; 0 skips)
    * @param qualityModel fitted [[QualityClassifier.TextClassifier]] for
    *                  the model-based gate (stage 1.25, the GPT-3/LLaMA
    *                  "looks like a reference page" filter; None skips —
    *                  the model trains on a SEED label set upstream, e.g.
    *                  curated exemplars vs random crawl)
    * @param minQualityProb keep threshold for the classifier gate
    * @param noisyQualityGate soften the classifier gate GPT-3-style
    *                  (deterministic Pareto draw vs 1 − prob) instead of
    *                  the hard threshold
    * @param semanticCells block stage 4's embedding sweep on SemDeDup
    *                  Lloyd cells instead of the stored label (the
    *                  no-label real-corpus path; 0 keeps label blocks)
    * @param fuzzyDecontaminationThreshold additionally drop survivors
    *                  whose MinHash signature is ≥ this similar to any
    *                  `benchmark` document (stage 5.5 — catches
    *                  paraphrased eval leakage the exact-gram stage 5
    *                  misses; None skips, and it is skipped anyway when
    *                  `benchmark` is None)
    * @param spanDedupWindow remove every repeated ≥this-many-token span
    *                  except its corpus-first occurrence (stage 2.5,
    *                  ExactSubstr policy — Lee et al. 2022 use 50;
    *                  0 skips)
    * @param portableNearDup stage 3 uses the cross-engine-portable
    *                  MinHash variant ([[Dedup.minHashNearDuplicatesPortable]],
    *                  md5-prefix shingles, 4 permutations mod 2³¹−1,
    *                  threshold 0.5) instead of the production xxhash64
    *                  signatures — the SAME composition, with the one
    *                  engine-specific hash swapped for one DuckDB can
    *                  replay value-for-value, so the WHOLE chain's kept-id
    *                  decision surface is cross-engine checkable
    *                  (`pipeline_curate_portable`) */
  def curate(
      docs: DataFrame,
      embeddings: DataFrame,
      benchmark: Option[DataFrame] = None,
      blockedDomains: Seq[String] = Nil,
      maxDocsPerHost: Int = 0,
      boilerplateMinDf: Long = 0L,
      qualityModel: Option[QualityClassifier.TextClassifier] = None,
      minQualityProb: Double = 0.5,
      noisyQualityGate: Boolean = false,
      semanticCells: Int = 0,
      fuzzyDecontaminationThreshold: Option[Double] = None,
      spanDedupWindow: Int = 0,
      portableNearDup: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    // 0. structural cleanup BEFORE anything hashes or scores the text:
    //    boilerplate-line removal needs the raw line structure (it runs
    //    first), then NFC canonicalization so visually-identical byte
    //    sequences dedup together downstream. NFC only — lower-casing /
    //    whitespace collapse (normalizeText) destroys training signal,
    //    so the destructive form stays out of the corpus path.
    //    fanOutSmallScan: the stage-0..1.5 map chain (NFC + langId +
    //    quality features + URL parse) is the pipeline's most expensive
    //    per-row work; a sub-split input would pin it all to one scan
    //    task (round-19 profile: a 313 ms single-task front stage while
    //    31 cores idled). Strict no-op at corpus scale.
    val docs0 = graft.ops.Par.fanOutSmallScan(docs)
    val deboiled =
      if (boilerplateMinDf > 0)
        TextAnalysis.removeBoilerplateLines(docs0, "text", boilerplateMinDf)
          .drop("text").withColumnRenamed("clean", "text")
      else docs0
    val canonical = deboiled.withColumn(
      "text", TextAnalysis.unicodeNormalize(col("text")))

    // 1. language ID + quality gates — pure map stages, no shuffle
    val scored = TextAnalysis.qualityFeatures(
      TextAnalysis.langId(canonical, "text", "predicted_lang"), "text")
    val ruleGated = scored.filter(
      col("n_words") >= 5 && col("stop_ratio") <= 0.9 && col("quality_score") > 0.2)

    // 1.5. URL/domain curation (web corpora only): the domain blocklist
    //      stays a map-side scan predicate; the host cap is the
    //      bounded-heap TopK — the cheap source-level drops run BEFORE
    //      the classifier scores anything and before any content-pairing
    //      stage sees the rows (cheapest-drops-first: a blocklisted doc
    //      must not cost a model eval). Both halves only drop what they
    //      can attribute: docs with no parseable URL pass through the
    //      blocklist AND the cap untouched
    val urlGated0 =
      if (blockedDomains.nonEmpty) UrlOps.dropBlockedDomains(ruleGated, "url", blockedDomains)
      else ruleGated
    val urlGated =
      if (maxDocsPerHost > 0)
        UrlOps.capPerHost(urlGated0, "url", "doc_id", maxDocsPerHost)
          .drop("host", "rank")
      else urlGated0

    // 1.75. model-based quality gate (optional): hashed-term logistic
    //       scoring is one map-only transform — the weights broadcast
    //       with the task, so the gate costs one pass like the rule gate
    //       above it (rules and URL drops run FIRST: they are cheaper
    //       and the classifier then scores fewer rows)
    val gated = qualityModel match {
      case Some(clf) =>
        val scored = QualityClassifier.score(urlGated, "text", clf)
        val kept =
          // noisy: the GPT-3 softened keep (pareto_draw > 1 − prob) —
          // low scorers keep a heavy-tailed chance, preserving corpus
          // diversity; hard: the plain threshold
          if (noisyQualityGate)
            QualityClassifier.noisyThresholdGate(
                scored, "doc_id", "quality_prob")
              .drop("pareto_draw")
          else scored.filter(col("quality_prob") >= minQualityProb)
        kept.drop("quality_prob")
      case None => urlGated
    }

    // 2. exact dedup: keep the earliest doc per identical text.
    //    CHECKPOINTED: every downstream stage (near-dup pair mining, the
    //    keep anti-join, the embedding sweep's id semi-join) re-reads this
    //    frame — without the cut, each consumer re-runs the whole
    //    scan→normalize→gate→dedup chain (measured: 12 corpus scans in
    //    the one serving plan). Lazy local checkpoint = the chain runs
    //    once, consumers scan materialized blocks; a cluster-scale caller
    //    running hour-long jobs should swap in reliable checkpointing
    //    (setCheckpointDir + .checkpoint()) for fault tolerance.
    // 2.5. repeated-span removal (optional, ExactSubstr policy): AFTER
    //      exact dedup (whole-doc copies die wholesale first, so the span
    //      machinery sees each text once) and BEFORE near-dup mining
    //      (de-boilerplated texts make signature similarity reflect real
    //      content). The checkpoint moves to whichever frame downstream
    //      consumers re-read.
    val exact0 = Dedup.exact(gated, Seq("text"), "doc_id")
    val exact = (if (spanDedupWindow > 0)
        Dedup.dropRepeatedSpans(exact0, "doc_id", "text", spanDedupWindow)
      else exact0)
      .localCheckpoint(eager = false)

    // 3. near-dup clusters via MinHash-LSH; keep the smallest doc_id of
    //    each cluster (duplicateClusters labels every clustered doc)
    val pairs =
      if (portableNearDup) Dedup.minHashNearDuplicatesPortable(
        exact, "doc_id", "text", threshold = 0.5)
      else Dedup.minHashNearDuplicates(
        exact, "doc_id", "text", threshold = 0.7)
    val clusters = Dedup.duplicateClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")

    // 4. embedding near-dup sweep: drop the higher id of any surviving
    //    pair with cosine >= 0.995. Blocking choice: a stored label (the
    //    fixture's ground truth) or, with `semanticCells` > 0, SemDeDup
    //    Lloyd cells — the blocking a real corpus uses when no label
    //    exists (the other at-scale option is an LSH bucket)
    val vecs = embeddings.join(
      nearDeduped.select(col("doc_id").as("vec_id")), "vec_id")
    val vecLosers = (
      if (semanticCells > 0)
        Similarity.semanticDuplicates(
          vecs, "vec_id", "embedding", 0.995, numCells = semanticCells)
      else
        Similarity.embeddingNearDuplicates(
          vecs, "vec_id", "embedding", "label", 0.995))
      .select(col("id_b").as("doc_id")).distinct()
    val swept = nearDeduped.join(vecLosers, Seq("doc_id"), "left_anti")

    // 5. benchmark decontamination: a doc leaking >= half its grams from
    //    the eval suite is quarantined. Map-only (CountInLongSet kernel);
    //    exact benchmark members score 1.0 and are dropped with their
    //    near-copies
    val decontaminated0 = benchmark match {
      case Some(bench) => ContaminationGate.withScore(swept, bench, "text")
        .filter(col("contamination") < 0.5)
        .drop("n_grams", "n_contaminated", "contamination")
      case None => swept
    }

    // 5.5. fuzzy decontamination (optional): paraphrased/lightly-edited
    //      eval leakage has few verbatim grams but a near-identical
    //      MinHash signature; the banded cross-corpus gate catches it.
    //      AFTER the exact gate — the cheaper per-row kernel already
    //      removed verbatim leaks, so the pair machinery sees fewer rows
    val decontaminated = (benchmark, fuzzyDecontaminationThreshold) match {
      case (Some(bench), Some(t)) =>
        Dedup.fuzzyDecontaminate(decontaminated0, bench,
          "doc_id", "doc_id", "text", "text", threshold = t)
      case _ => decontaminated0
    }

    // 6. PII redaction: typed placeholders replace raw PII in the corpus
    //    text itself (audit counts are available via counts = true if a
    //    curation dashboard needs them)
    //    CHECKPOINTED like `exact`: three consumers (the returned corpus,
    //    the eval split, the token accounting) would each re-pay the
    //    anti-joins + regex redaction otherwise
    val curated = Redaction.redact(decontaminated, "text", counts = false)
      .drop("text").withColumnRenamed("redacted", "text")
      .localCheckpoint(eager = false)

    // 7. deterministic 10% eval split — partition-independent, so the
    //    split is reproducible on any cluster layout
    val eval = Sampling.hashSample(curated, col("doc_id"), 10)

    // 8. token accounting on the final corpus, keyed by the stage-1
    //    predicted language (the ground-truth label doesn't exist at scale)
    val tokens = curated
      .select(col("predicted_lang"), TextAnalysis.tokenCount(col("text")).as("n"))
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
    (curated, eval, tokens)
  }

  /** The training-set preparation that follows curation — the stages a
    * corpus job runs between "clean corpus" and "files on disk":
    *
    *  9. unigram-LM quality pruning (CCNet-style): fit an add-1 model on
    *     the curated corpus itself, score every doc in one kernel pass,
    *     and drop the worst decile by mean log-probability (threshold is
    *     a scalar subquery — one plan, no driver round-trip). The pruned
    *     frame is checkpointed here, once (lazy `localCheckpoint`): both
    *     the mixture's narrow frame and the survivors' semi-join read
    *     it, so the scoring pass runs once
    *  10. token-budget mixture sampling: each predicted language keeps
    *      its hash-priority document prefix up to `mixFraction` of its
    *      token mass (data mixing; survivors semi-join back, so the text
    *      column rides through untouched)
    *  10.5. context-window chunking (optional): surviving documents split
    *      into `chunkSize`-token windows at `chunkStride` — the grain a
    *      sequence trainer actually consumes; sharding then keys on the
    *      (doc, chunk) pair so one document's windows spread across shards
    *  11. deterministic shard assignment: the reshuffle-and-write layout
    *      (shard + within-shard position), reseedable per epoch
    *
    * Returns the training frame: curated columns + shard + pos (chunk
    * grain when `chunkSize` > 0). */
  def prepareTraining(
      curated: DataFrame,
      mixFraction: Double = 0.8,
      nShards: Int = 8,
      chunkSize: Int = 0,
      chunkStride: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    val model = TextAnalysis.fitUnigramModel(curated, "text", vocabSize = 64)
    val scored = TextAnalysis.scoreUnigram(curated, "text", model)
    val thr = scored.agg(
      expr("percentile(avg_lp, 0.1D)").as("__thr"))
    val pruned = scored
      .filter(col("avg_lp") >= GraftColumnBridge.column(
        ScalarSubquery(thr.queryExecution.analyzed)))
      .drop("sum_lp", "n_tok", "n_oov", "avg_lp")
      .localCheckpoint(eager = false) // materialized by its first reader
    val keep = TextAnalysis.mixtureByTokenBudget(
      pruned, "doc_id", "predicted_lang", "text", mixFraction)
    val mixed = pruned.join(
      keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
    if (chunkSize <= 0) Sampling.shardByHash(mixed, "doc_id", nShards)
    else {
      val stride = if (chunkStride > 0) chunkStride else chunkSize
      val chunked = TextAnalysis.chunkByTokens(mixed, "text", chunkSize, stride)
        .withColumnRenamed("chunk_text", "text")
        .withColumn("chunk_key",
          concat(col("doc_id").cast("string"), lit(":"), col("chunk_id")))
      Sampling.shardByHash(chunked, "chunk_key", nShards).drop("chunk_key")
    }
  }

  /** [[prepareTraining]] carried through to REAL FILES: the assigned
    * frame streams into `outDir` as one pos-ordered file per `shard=N`
    * directory ([[Sampling.writeAssignedShards]] — no exchange beyond
    * the assignment's own). This is the pipeline's terminal state: a
    * training job points its reader at `outDir` and consumes shards in
    * file order. Returns the assigned frame for accounting. */
  def prepareTrainingToFiles(
      curated: DataFrame,
      outDir: String,
      mixFraction: Double = 0.8,
      nShards: Int = 8,
      chunkSize: Int = 0,
      chunkStride: Int = 0): DataFrame = {
    val training =
      prepareTraining(curated, mixFraction, nShards, chunkSize, chunkStride)
    Sampling.writeAssignedShards(training, outDir)
    training
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Harness.session()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    // stand-in eval suite: a fixed corpus slice, so the decontamination
    // stage demonstrably quarantines its members and near-copies
    val bench = docs.filter(col("doc_id") % 41 === 0)
    val (curated, eval, tokens) = curate(docs, emb, Some(bench))
    val nIn = docs.count(); val nOut = curated.count(); val nEval = eval.count()
    println(s"curated $nIn -> $nOut docs (eval split: $nEval)")
    tokens.orderBy("predicted_lang").show(truncate = false)
    val training = prepareTraining(curated)
    println(s"training set: ${training.count()} docs in " +
      s"${training.select(col("shard")).distinct().count()} shards")
    spark.stop()
  }
}
