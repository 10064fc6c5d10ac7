package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension; not present in the reference — SURVEY.md §7.1
  * module `ext`). All pure `functions._` / higher-order-function column
  * expressions: codegen-friendly, no UDFs, fully distributed.
  */
object TextAnalysis {

  /** Whitespace tokenization as an array column. NOTE `split` keeps the
    * phantom empty token a leading-whitespace text produces (and yields
    * `[""]` for empty text) — array CONSUMERS that must see only real
    * tokens filter on `length > 0` (as the kernels do). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Driver-side twin of [[tokens]] + the consumers' non-empty filter —
    * THE single source of truth for any driver-edge replay of corpus
    * tokenization (bundle-serving query arms, oracle helpers). Null-safe;
    * returns only real tokens. Any change to the canonical tokenizer
    * must change [[tokens]] and this definition together, or the
    * "bundle serving ≡ inline" contracts silently break. */
  def tokensLocal(text: String): Array[String] =
    Option(text).getOrElse("").split("\\s+").filter(_.nonEmpty)

  /** Token count: the number of NON-EMPTY whitespace tokens — maximal
    * `\S+` runs, counted by one codegen'd `regexp_count` with no array
    * materialization. This is THE token definition for every counting
    * path (mixture budgets, shard packing, accounting) and agrees with
    * the LM kernels' non-empty filter: empty text counts 0, leading
    * whitespace adds nothing. ([[qualityFeatures]]' `n_words` keeps the
    * raw `size(split)` form — its score formula and oracle are defined
    * over that value.) */
  def tokenCount(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.TokenCount(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** BPE-ish sub-token count: alternating letter-runs / digit-runs /
    * single punctuation, the usual pre-tokenizer regex shape. */
  def subTokenCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(t) > 0))

  private val StopWords = Seq("the", "a", "an", "of", "and", "to", "in", "is")

  /** Stopword count over whitespace tokens (tiny fixed English list).
    * Native one-pass kernel — the `size(filter(...isin...))` HOF form runs
    * its lambda interpreted per token (see [[graft.functions.CountInSet]]). */
  def stopwordCount(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CountInSet(
        org.apache.spark.sql.GraftColumnBridge.expression(tokens(text)),
        StopWords))

  /** Quality-score features: length, word count, punctuation count,
    * stopword ratio, plus a deterministic composite `quality_score` in
    * [0,1]. Columns appended to `df`. The token array is materialized once
    * per row and every feature reads it — one regex pass, not one per
    * feature.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // fused one-byte-pass kernel (word/punct/stop counts together) —
    // value-identical to the split-array + regexp_count + CountInSet
    // tree it replaces (ExtSpec differential); no token-array allocation
    df.withColumn("__q", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.QualityStats(
          org.apache.spark.sql.GraftColumnBridge.expression(t), StopWords)))
      .withColumn("n_chars_q", length(t))
      .withColumn("n_words", col("__q.n_words"))
      .withColumn("n_punct", col("__q.n_punct"))
      .withColumn("n_stop", col("__q.n_stop"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn(
        "quality_score",
        least(col("n_words"), lit(200)).cast("double") / lit(400.0)
          + col("stop_ratio") / lit(2.0))
      .drop("__q")
  }

  /** Per-source quality profile — the curation-dashboard aggregate run
    * before weighting/cap decisions: for each source, document count,
    * mean and exact interpolated p50/p90 of [[qualityFeatures]]'
    * `quality_score`, and mean raw word count. One corpus scan+score
    * pass (the kernel cost) into a |sources|-row aggregate; the
    * percentiles are exact (`percentile`, not the approx sketch) because
    * the per-group state the sort-based aggregate holds is that source's
    * score list — acceptable for per-source grains (a source with 10⁹
    * docs should move to `approx_percentile`, documented knob). Rounding
    * absorbs double summation order + interpolation ulps (oracle rule).
    */
  def sourceProfile(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      roundTo: Int = 6): DataFrame =
    qualityFeatures(df, textCol)
      .groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality_score")), roundTo).as("avg_score"),
        round(percentile(col("quality_score"), lit(0.5)), roundTo)
          .as("p50_score"),
        round(percentile(col("quality_score"), lit(0.9)), roundTo)
          .as("p90_score"),
        round(avg(col("n_words").cast("double")), roundTo).as("avg_words"))

  /** Quality-percentile pruning — the standard "drop the bottom quantile
    * by quality" curation gate — as ONE declarative plan.
    *
    * The scored frame is projected down to `keepCols + quality_score`
    * (narrow rows — ids and metadata, never the text). The threshold is a
    * one-row percentile aggregate over that frame, attached to the filter
    * through an in-plan broadcast rather than a scalar subquery: a scalar
    * subquery's result is cached by its SubqueryExec, which a cloned
    * plan would silently reuse, while the broadcast keeps the plan pure
    * (memoizable, re-plannable, cloned reps re-pay every pass). The
    * threshold branch and the filter branch each run the map-only
    * scoring kernel — the text is scanned twice but never shuffles.
    *
    * `keepCols` must carry everything downstream needs — re-attach heavy
    * columns (the text itself) by key afterwards if required, e.g. via a
    * semi-join or [[graft.ext.Dedup.bloomPrescreenOverlap]]. The exact
    * `percentile` is the portable twin of the `approx_percentile` sketch a
    * 100 TB run would use (same plan shape, sketch-vs-sort agg). A caller
    * that reads the result more than once should checkpoint it itself,
    * as [[graft.examples.DataPipeline.prepareTraining]] does.
    */
  def pruneBottomQuantile(
      df: DataFrame, textCol: String, quantile: Double,
      keepCols: Seq[String]): DataFrame = {
    val base = qualityFeatures(df, textCol)
      .select(keepCols.map(col) :+ col("quality_score"): _*)
    val thr = base.agg(
      expr(s"percentile(quality_score, ${quantile}D)").as("__thr"))
    // coalesce makes the compared value NON-NULLABLE (scores are ≥ 0,
    // so -1 never passes — null-score docs drop, as a null compare
    // would drop them): otherwise the join condition infers
    // isnotnull(quality_score), which pushes below the Project and
    // re-inlines the scoring kernel THREE more times into the filter
    base.join(broadcast(thr))
      .filter(coalesce(col("quality_score"), lit(-1.0)) >= col("__thr"))
      .drop("__thr")
  }

  /** Per-GROUP bottom-quantile prune — the source-fair quality gate:
    * each group (source, language) loses its own bottom `quantile`
    * rather than sharing one global threshold a biased scorer would let
    * one source dominate. Same declarative shape as
    * [[pruneBottomQuantile]], but the thresholds are a |groups|-row
    * aggregate (exact interpolated `percentile` per group — the
    * `approx_percentile` swap is the documented 10⁹-docs-per-group knob)
    * broadcast back onto the scored frame; the threshold branch and the
    * filter branch each run the map-only scoring kernel, one tiny
    * broadcast, no window, no driver scalar. */
  def pruneBottomQuantilePerGroup(
      df: DataFrame, textCol: String, quantile: Double, groupCol: String,
      keepCols: Seq[String]): DataFrame = {
    require(quantile >= 0 && quantile < 1,
      s"quantile must be in [0, 1), got $quantile")
    require(!keepCols.contains(groupCol), "groupCol is always kept")
    val scored = qualityFeatures(df, textCol)
      .select((keepCols :+ groupCol).map(col) :+ col("quality_score"): _*)
    val thr = scored.groupBy(col(groupCol))
      .agg(expr(s"percentile(quality_score, ${quantile}D)").as("__thr"))
    scored.join(broadcast(thr), Seq(groupCol))
      .filter(col("quality_score") >= col("__thr"))
      .drop("__thr")
  }

  /** [[pruneBottomQuantile]] that returns the SURVIVING ROWS with all
    * original columns — the text included — plus `quality_score`. The
    * threshold comes from one narrow scoring pass (a scalar subquery); a
    * SECOND map-only pass then re-scores the corpus and filters in place.
    * The text is scanned twice but NEVER shuffles — at 100 TB, re-running
    * a per-row kernel is usually far cheaper than a corpus-wide exchange.
    */
  def pruneBottomQuantileKeep(
      df: DataFrame, textCol: String, quantile: Double): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    val narrow = qualityFeatures(df, textCol).select(col("quality_score"))
    val thr = ScalarSubquery(narrow
      .agg(expr(s"percentile(quality_score, ${quantile}D)").as("__thr"))
      .queryExecution.analyzed)
    val helper = Seq("n_chars_q", "n_words", "n_punct", "n_stop", "stop_ratio")
    qualityFeatures(df, textCol)
      .filter(col("quality_score") >= GraftColumnBridge.column(thr))
      .drop(helper: _*)
  }

  /** Token-budget mixture sampling ("data mixing"): per group (language,
    * domain, source), keep the deterministic hash-priority-ordered prefix
    * of documents whose cumulative token count fits the group's budget —
    * the standard way a training run samples each corpus slice to a target
    * token share. Semantics: order each group by
    * `(md5(id:seed), id)` and keep every doc whose running token sum is
    * `<= budget`; deterministic, seed-switchable, and portable (md5 hex
    * order is engine-independent).
    *
    * The naive plan is a cumulative-sum window partitioned by `groupCol`
    * alone — a single window partition holding ALL of a dominant group
    * (English at 100 TB), which no executor can sort. Here the window
    * never sees the full group:
    *
    *  1. one narrow map-only pass computes (id, group, n_tok, priority,
    *     bucket) where `bucket` is a monotone function of the priority's
    *     leading 20 bits — ids and counts only, the text never shuffles;
    *  2. per-(group, bucket) token sums aggregate map-side into at most
    *     `numBuckets` rows per group; a bucket-level running sum over that
    *     TINY frame gives each bucket its offset, and buckets wholly past
    *     the budget drop out;
    *  3. the surviving buckets join back to the narrow frame, and an exact
    *     within-bucket cumulative window (≈ group/`numBuckets` docs per
    *     partition), offset by the preceding buckets' total, keeps each
    *     doc whose running sum fits the budget.
    *
    * Identical row set to the naive window (spec'd, including
    * `numBuckets = 1`, which degenerates to the naive form). Size
    * `numBuckets` so group/`numBuckets` fits one executor's sort memory;
    * the 20-bit prefix supports up to ~1M buckets.
    *
    * Returns the surviving (id, group, n_tok) rows. Budgets are
    * `floor(budgetFraction × the group's total tokens)` — derived from
    * the bucket sums, no separate per-group aggregate.
    */
  def mixtureByTokenBudget(
      df: DataFrame, idCol: String, groupCol: String, textCol: String,
      budgetFraction: Double, seed: String = "42",
      numBuckets: Int = 4096, broadcastStatus: Boolean = true): DataFrame =
    mixtureSelect(
      narrowMixtureFrame(df, idCol, groupCol, textCol, seed, numBuckets),
      idCol, groupCol, broadcastStatus,
      // the group total is the full-frame window sum over the same tiny
      // bucket rows — the budget costs no separate per-group aggregate
      cum => {
        import org.apache.spark.sql.expressions.Window
        val wt = Window.partitionBy(groupCol)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cum.withColumn("__budget",
          floor(sum(col("__bsum")).over(wt) * budgetFraction).cast("long"))
      })

  /** [[mixtureByTokenBudget]] with EXPLICIT absolute per-group token
    * budgets (a mixing recipe: "30 B tokens of code, 5 B of forum text")
    * instead of a uniform fraction. `budgets` must hold one row per group
    * (`groupCol`, `budgetCol`); groups absent from it are dropped
    * entirely. The budgets side is per-group rows — it broadcasts onto
    * the bucket aggregate; everything else is identical to the
    * fraction form.
    */
  def mixtureByTokenBudget(
      df: DataFrame, idCol: String, groupCol: String, textCol: String,
      budgets: DataFrame, budgetCol: String, seed: String,
      numBuckets: Int, broadcastStatus: Boolean): DataFrame =
    mixtureSelect(
      narrowMixtureFrame(df, idCol, groupCol, textCol, seed, numBuckets),
      idCol, groupCol, broadcastStatus,
      cum => {
        // one row per group: broadcast under the same bounded-cardinality
        // assumption as the status join, shuffle when the caller opts out
        val b = budgets.select(
          col(groupCol), col(budgetCol).cast("long").as("__budget"))
        cum.join(if (broadcastStatus) broadcast(b) else b, Seq(groupCol))
      })

  /** The (id, group, n_tok, priority, bucket) frame behind every
    * mixture form. It stays declarative: each consumer re-derives it (the
    * text is tokenized up to three times, map-only, never shuffled), so
    * the whole mixture is one pure plan — no mid-plan state,
    * re-plannable and memoizable like any other query. A caller whose
    * input is itself expensive checkpoints that input once, as
    * [[graft.examples.DataPipeline.prepareTraining]] does. */
  private def narrowMixtureFrame(
      df: DataFrame, idCol: String, groupCol: String, textCol: String,
      seed: String, numBuckets: Int): DataFrame = {
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets must be in [1, 2^20], got $numBuckets")
    val pri = graft.ops.Sampling.hashPriority(col(idCol), seed)
    // leading 5 hex chars = 20 bits; (v * numBuckets) / 2^20 is a monotone
    // map, so bucket order agrees with full-priority lexicographic order
    // (exact in double: v * numBuckets < 2^40 << 2^53)
    graft.ops.Par.fanOutSmallScan(df)
      .select(col(idCol), col(groupCol),
        tokenCount(col(textCol)).as("n_tok"), pri.as("__pri"))
      .withColumn("__bucket",
        floor(graft.ops.Sampling.priorityPrefix(col("__pri"), 5)
          * numBuckets / pow(lit(2), lit(20))).cast("int"))
  }

  /** Mixture selection over the narrow scored frame. `attachBudget` adds
    * `__budget` (long) to the per-bucket running-sum frame. The narrow
    * frame feeds both the bucket aggregate and the kept side of the
    * status join.
    * `broadcastStatus` controls the status-join strategy:
    * status holds ≤ `numBuckets` rows PER GROUP, so with bounded group
    * cardinality (languages, sources) the broadcast keeps the narrow
    * frame from shuffling — but with huge cardinality (per-domain mixing,
    * millions of groups) status itself is corpus-shaped: pass `false` to
    * shuffle-join on (group, bucket) instead of broadcasting. */
  private def mixtureSelect(
      narrow: DataFrame, idCol: String, groupCol: String,
      broadcastStatus: Boolean,
      attachBudget: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketAgg = narrow
      .groupBy(col(groupCol), col("__bucket"))
      .agg(sum(col("n_tok")).as("__bsum"))
    // ≤ numBuckets rows per group: the bucket-level window is trivially
    // small no matter the corpus size
    val wb = Window.partitionBy(groupCol).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // keeps every fully-inside bucket plus any straddling bucket;
    // buckets wholly past the budget never rejoin the corpus. The bound
    // must be INCLUSIVE: a zero-token doc's inclusive cumsum equals the
    // running offset where it sits, so with offset == budget the bucket
    // can still contribute zero-cost docs that satisfy the naive
    // `cumsum <= budget` semantics (strict `<` diverged on that edge —
    // found by the differential fuzzer at budgetFraction = 0).
    // Selects, not withColumn ladders, throughout: every Dataset op
    // re-analyzes the whole plan, and the eager-construction bench
    // queries pay that per rep.
    val status = attachBudget(
        bucketAgg.select(col(groupCol), col("__bucket"), col("__bsum"),
          sum(col("__bsum")).over(wb).as("__cum")))
      .select(col(groupCol), col("__bucket"),
        (col("__cum") - col("__bsum")).as("__offset"), col("__budget"))
      .filter(col("__offset") <= col("__budget"))
    // the explicit shuffle hint matters on the opt-out path: status's
    // size ESTIMATE is tiny, so without it the planner auto-broadcasts
    // and the narrow frame is derived twice (text tokenized twice); the
    // shuffle join hash-partitions both branches on (group, bucket) and
    // the bucket aggregate's exchange is REUSED — one text scan total
    val statusSide =
      if (broadcastStatus) broadcast(status) else status.hint("shuffle_hash")
    val joined = narrow.join(statusSide, Seq(groupCol, "__bucket"))
    val outCols = narrow.columns.filterNot(_.startsWith("__")).map(col).toSeq
    // ONE kept-branch pass: a row keeps iff bucket offset + its inclusive
    // in-bucket running sum fits the budget. For a fully-inside bucket
    // every row satisfies this (its cumsum ≤ the bucket sum and
    // offset + bucket sum = __cum ≤ budget), so the old full/straddling
    // branch split — two derivations of the narrow frame plus a union —
    // collapses into this single predicate with identical row semantics
    // (the differential specs pin it). The window partitions by
    // (group, BUCKET): every partition is ≈ group/numBuckets rows, so the
    // in-bucket sort stays bounded and parallel at any corpus size — the
    // branch split avoided sorting full buckets, but that saving never
    // paid for the extra corpus derivation it cost.
    val wd = Window.partitionBy(groupCol, "__bucket")
      .orderBy(col("__pri"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .select(outCols :+ ((sum(col("n_tok")).over(wd) + col("__offset"))
        <= col("__budget")).as("__keep"): _*)
      .filter(col("__keep"))
      .select(outCols: _*)
  }

  // ——— multi-phrase blocklist (Aho–Corasick) ———

  /** Append phrase-blocklist statistics: `n_phrase_hits` (every
    * occurrence of every phrase, overlapping included) and
    * `n_phrases_hit` (distinct phrases present). ONE
    * [[graft.functions.AhoCorasickStats]] automaton pass per row —
    * production blocklists run to 10³–10⁵ phrases, where the
    * per-phrase `contains`/`regexp_count` chain is that many corpus
    * scans. Case-sensitive; lowercase both sides upstream for
    * case-insensitive lists. Map-only at any corpus size. */
  def phraseStats(
      df: DataFrame, textCol: String, phrases: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // duplicate list entries would double-count n_phrases_hit; loud > silent
    require(phrases.distinct.length == phrases.length,
      "phrase list contains duplicates — deduplicate it first")
    df.columns.toSeq
      .filter(Set("__ac", "n_phrase_hits", "n_phrases_hit"))
      .headOption.foreach(c => throw new IllegalArgumentException(
        s"column name '$c' collides with the phraseStats outputs " +
          "(__ac, n_phrase_hits, n_phrases_hit) — rename it first"))
    val st = GraftColumnBridge.column(graft.functions.AhoCorasickStats(
      GraftColumnBridge.expression(col(textCol)), phrases))
    df.withColumn("__ac", st)
      .withColumn("n_phrase_hits", col("__ac.n_hits"))
      .withColumn("n_phrases_hit", col("__ac.n_phrases_hit"))
      .drop("__ac")
  }

  /** Blocklist gate: keep only documents containing NONE of `phrases` —
    * the text-grain sibling of [[UrlOps.dropBlockedDomains]]. One
    * map-only automaton pass; pushes nothing to the scan but adds no
    * exchange either. A blocklist must only drop what it names: null-text
    * documents contain none of the phrases, so the NULL stat coalesces to
    * 0 and the row passes (same convention as `dropBlockedDomains`). */
  def dropBlockedPhrases(
      df: DataFrame, textCol: String, phrases: Seq[String]): DataFrame =
    phraseStats(df, textCol, phrases)
      .filter(coalesce(col("n_phrases_hit"), lit(0)) === 0)
      .drop("n_phrase_hits", "n_phrases_hit")

  // ——— Gopher-style rule filters (Rae et al. 2021 §A1.1) ———

  /** Document-level quality signals behind the published Gopher /
    * MassiveText rule filters (word-count bounds, mean word length,
    * symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
    * word fraction, stopword presence). Every feature is ONE codegen'd
    * `regexp_count` / `length` pass — no token-array materialization, no
    * HOF lambdas, no shuffle at any corpus size; line-grain counters use
    * `(?m)` anchors (RE2/Java common subset) so lines are counted without
    * splitting. Ratio features are NULL for word-less (resp. line-less)
    * documents.
    *
    * Appended columns: `n_words`, `mean_word_len`, `symbol_ratio`,
    * `n_lines`, `bullet_line_frac`, `ellipsis_line_frac`,
    * `alpha_word_frac`, `n_stop`.
    */
  def gopherFeatures(df: DataFrame, textCol: String): DataFrame = {
    Seq("n_words", "mean_word_len", "symbol_ratio", "n_lines",
      "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac", "n_stop")
      .foreach(c => require(!df.columns.contains(c),
        s"gopherFeatures would overwrite existing column '$c'"))
    val t = col(textCol)
    df.withColumn("n_words", tokenCount(t))
      // total non-whitespace chars / word count — one rewrite, no explode
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          length(regexp_replace(t, "\\s+", "")).cast("double")
            / col("n_words")))
      // Gopher's symbol set: hash marks and ellipses (ASCII + U+2026)
      .withColumn("symbol_ratio",
        when(col("n_words") > 0,
          regexp_count(t, lit("#|\\.\\.\\.|…")).cast("double")
            / col("n_words")))
      // non-empty lines, counted in place via multiline anchors
      .withColumn("n_lines", regexp_count(t, lit("(?m)^[ \\t]*\\S")))
      .withColumn("bullet_line_frac",
        when(col("n_lines") > 0,
          regexp_count(t, lit("(?m)^[ \\t]*[-*•]")).cast("double")
            / col("n_lines")))
      .withColumn("ellipsis_line_frac",
        when(col("n_lines") > 0,
          regexp_count(t, lit("(?m)(\\.\\.\\.|…)[ \\t]*$")).cast("double")
            / col("n_lines")))
      // tokens containing at least one ASCII letter: \S*[A-Za-z]\S*
      // matches each qualifying token exactly once in both Java and RE2
      // (matches cannot span whitespace)
      .withColumn("alpha_word_frac",
        when(col("n_words") > 0,
          regexp_count(t, lit("\\S*[A-Za-z]\\S*")).cast("double")
            / col("n_words")))
      .withColumn("n_stop", stopwordCount(t))
  }

  /** Tunable bounds for [[gopherQuality]]; defaults are the published
    * Gopher rules (50–100k words, mean word length 3–10, ≤10% symbols,
    * ≤90% bullet lines, ≤30% ellipsis lines, ≥80% alphabetic words, ≥2
    * stopword hits). */
  final case class GopherThresholds(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2)

  /** Gopher rule gate: [[gopherFeatures]] plus one boolean per rule
    * (`pass_words`, `pass_word_len`, `pass_symbol`, `pass_bullet`,
    * `pass_ellipsis`, `pass_alpha`, `pass_stop`) and the conjunction
    * `gopher_pass`. NULL features (word-less docs) fail their rule —
    * a document with no words is exactly what the filter exists to drop.
    * Still map-only: the flags are plain comparisons over the feature
    * columns.
    */
  def gopherQuality(
      df: DataFrame, textCol: String,
      th: GopherThresholds = GopherThresholds()): DataFrame = {
    def p(c: Column): Column = coalesce(c, lit(false))
    gopherFeatures(df, textCol)
      .withColumn("pass_words",
        p(col("n_words") >= th.minWords && col("n_words") <= th.maxWords))
      .withColumn("pass_word_len",
        p(col("mean_word_len") >= th.minMeanWordLen
          && col("mean_word_len") <= th.maxMeanWordLen))
      .withColumn("pass_symbol", p(col("symbol_ratio") <= th.maxSymbolRatio))
      .withColumn("pass_bullet",
        p(col("bullet_line_frac") <= th.maxBulletFrac))
      .withColumn("pass_ellipsis",
        p(col("ellipsis_line_frac") <= th.maxEllipsisFrac))
      .withColumn("pass_alpha", p(col("alpha_word_frac") >= th.minAlphaFrac))
      .withColumn("pass_stop", p(col("n_stop") >= th.minStopHits))
      .withColumn("gopher_pass",
        col("pass_words") && col("pass_word_len") && col("pass_symbol")
          && col("pass_bullet") && col("pass_ellipsis")
          && col("pass_alpha") && col("pass_stop"))
  }

  // ——— C4-style line/document filters (Raffel et al. 2020 §2.2) ———

  /** C4-style cleaning: keep only lines that end in terminal punctuation
    * (`.` `!` `?` `"`) after trimming AND carry at least `minLineWords`
    * words; DROP the whole document if it mentions "lorem ipsum"
    * (case-insensitive), contains a curly brace (code markers), or
    * retains fewer than `minLines` lines. Appends `outCol` with the
    * kept lines re-joined by newline plus `n_lines_kept`. (The published
    * pipeline's remaining rules — bad-word lists, policy-page drops —
    * are blocklist applications of the same shape.)
    *
    * Plan: MAP-ONLY — one line-array filter plus scan-level predicates;
    * nothing shuffles at any corpus size. The per-line predicate runs as
    * an interpreted HOF lambda (lines per document are few — unlike the
    * per-token paths, this is not worth a native kernel).
    */
  def c4Clean(
      df: DataFrame, textCol: String,
      minLineWords: Int = 5, minLines: Int = 3,
      outCol: String = "clean"): DataFrame = {
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    require(minLines >= 1, s"minLines must be >= 1, got $minLines")
    Seq(outCol, "n_lines_kept").foreach(c =>
      require(!df.columns.contains(c),
        s"c4Clean would overwrite existing column '$c'"))
    val kept = filter(split(col(textCol), "\n"), l => {
      val lt = trim(l)
      (size(split(lt, "\\s+")) >= minLineWords) && lt.rlike("[.!?\"]$")
    })
    df.withColumn("__kept", kept)
      .filter(!lower(col(textCol)).contains("lorem ipsum"))
      .filter(!col(textCol).contains("{"))
      .filter(size(col("__kept")) >= minLines)
      .withColumn(outCol, concat_ws("\n", col("__kept")))
      .withColumn("n_lines_kept", size(col("__kept")))
      .drop("__kept")
  }

  /** Temperature-weighted mixture sampling (the multilingual-training
    * α-rebalance, Conneau & Lample 2019): per-group token budgets
    * proportional to `total_g^α` (α < 1 flattens the distribution toward
    * low-resource groups), normalized so the budgets sum to
    * `budgetFraction ×` the corpus token total, then the same
    * deterministic hash-priority prefix selection as
    * [[mixtureByTokenBudget]] — bucketed, no full-group window, the text
    * never shuffled.
    *
    * Determinism note: the per-group weight is `floor(total_g^α)` as a
    * LONG, so the normalization sums integers — exact in any order,
    * reproducible across engines. Raw double weights would make the
    * denominator depend on float summation order (engine- and
    * partition-order-dependent ulps) and a budget's `floor` could flip
    * on a boundary. α = 0.5 additionally uses `sqrt`,
    * which IEEE 754 requires to be correctly rounded (unlike `pow`).
    * Budgets CAP at available data for upsampled groups (the prefix just
    * keeps the whole group — emitting repeat epochs is a writer concern,
    * not a selection concern).
    */
  def mixtureByTemperature(
      df: DataFrame, idCol: String, groupCol: String, textCol: String,
      alpha: Double, budgetFraction: Double, seed: String = "42",
      numBuckets: Int = 4096, broadcastStatus: Boolean = true): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(budgetFraction >= 0 && budgetFraction <= 1,
      s"budgetFraction must be in [0, 1], got $budgetFraction")
    mixtureSelect(
      narrowMixtureFrame(df, idCol, groupCol, textCol, seed, numBuckets),
      idCol, groupCol, broadcastStatus,
      cum => {
        // group totals, weights and the normalizer all derive from the
        // (group, bucket) sums — window passes over that TINY frame
        // (≤ numBuckets rows per group), never a second text scan. The
        // former shape (two aggregates + crossJoin + broadcast join back
        // onto cum) computed the same values through four extra plan
        // nodes and two extra broadcast exchanges; windows keep the
        // arithmetic identical — group totals are exact long sums, and
        // the global __den/__tot sums accumulate integer-valued doubles /
        // longs, exact in any order.
        import org.apache.spark.sql.expressions.Window
        val wg = Window.partitionBy(groupCol)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        // ≤ numBuckets × |groups| rows total: the single-partition global
        // window is trivially small no matter the corpus size
        val wAll = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        def weight(gt: Column) = floor(
            if (alpha == 0.5) sqrt(gt.cast("double"))
            else pow(gt.cast("double"), alpha))
          .cast("long").cast("double")
        // one designated row per group (its first bucket) carries the
        // group's (total, weight) into the global sums. Two selects, not
        // a withColumn ladder: every Dataset op re-analyzes the whole
        // plan, and the eager-construction bench queries pay that per rep
        val star = cum.columns.map(col)
        val withGt = cum.select(star :+
          sum(col("__bsum")).over(wg).as("__gt") :+
          (row_number().over(Window.partitionBy(groupCol)
            .orderBy(col("__bucket"))) === 1).as("__first"): _*)
        withGt.select(star :+
          floor(lit(budgetFraction)
            * sum(when(col("__first"), col("__gt")).otherwise(lit(0L)))
                .over(wAll).cast("double")
            * weight(col("__gt"))
            / sum(when(col("__first"), weight(col("__gt")))
                .otherwise(lit(0d))).over(wAll))
            .cast("long").as("__budget"): _*)
      })
  }

  /** Marker-token language scores: per language, the count of
    * high-frequency marker tokens present. `langId` picks the argmax with a
    * deterministic alphabetical tie-break (n-gram-free heuristic language
    * ID; real corpora would extend the marker lists).
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "nicht"),
    "en" -> Seq("the", "and", "of", "data"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在"))

  def langScores(toks: Column): Seq[(String, Column)] =
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      // native kernel: one codegen'd pass per language instead of an
      // interpreted HOF lambda per token ([[graft.functions.CountInSet]])
      lang -> org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.CountInSet(
          org.apache.spark.sql.GraftColumnBridge.expression(toks), markers))
    }

  /** Appends `outCol` with the predicted language: argmax of the marker
    * scores, alphabetical tie-break. Tokenizes once, materializes each
    * score as a column (so codegen evaluates each filter once per row
    * instead of re-deriving it inside every CASE branch).
    */
  def langId(df: DataFrame, textCol: String, outCol: String = "predicted"): DataFrame = {
    val withScores = langScores(col("__toks")).foldLeft(
      df.withColumn("__toks", tokens(col(textCol)))) {
      case (d, (lang, score)) => d.withColumn(s"__s_$lang", score)
    }
    val langs = LangMarkers.keys.toSeq.sorted
    val predicted = langs.tail.foldLeft(
      (lit(langs.head), col(s"__s_${langs.head}"))) {
      case ((bestLang, bestScore), lang) =>
        (when(col(s"__s_$lang") > bestScore, lit(lang)).otherwise(bestLang),
         greatest(col(s"__s_$lang"), bestScore))
    }._1
    withScores
      .withColumn(outCol, predicted)
      .drop("__toks" +: langs.map(l => s"__s_$l"): _*)
  }

  /** HTML-to-text extraction — the crawl-ingest step BEFORE every text
    * operator (the WET-file transform): drop <script>/<style> subtrees
    * and comments, turn block-level boundaries into newlines (so
    * paragraph structure survives for [[langSegments]] / paragraph
    * dedup), strip remaining tags, decode the six dominant entities,
    * collapse whitespace. Patterns are in the Java/RE2 COMMON SUBSET
    * ([[Redaction]]'s portability contract — no lookaround, no
    * backreferences) so the DuckDB oracle replays the chain verbatim
    * (with its explicit 'g' flag — Spark replaces all matches by
    * default; same semantics, different call syntax). Map-only, one
    * chained codegen'd expression per row, no UDF, no shuffle.
    *
    * NOT a conformant HTML5 parser — neither are the C4/CCNet
    * extractors; this is the deterministic regex subset that covers
    * machine-generated crawl markup, and pathological markup degrades
    * to leftover text, never to an error. */
  def stripHtml(text: Column): Column = {
    val noScript =
      regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val breaks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/h[1-6]|/li|/tr)[^>]*>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", " ")
    val entities = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) {
      case (c, (e, r)) => regexp_replace(c, e, r)
    }
    trim(regexp_replace(
      regexp_replace(decoded, "[ \\t\\r]+", " "), " ?\\n ?", "\n"),
      " \n")
  }

  /** Paragraph-level language segmentation — the CCNet granularity
    * (Wenzek et al. 2020 run LID per paragraph and split documents at
    * language boundaries, because web pages mix languages and a
    * doc-level label mislabels every minority paragraph): one row per
    * non-empty paragraph with its position, predicted language (the
    * [[langId]] marker heuristic) and kept-token count — the frame a
    * caller rolls up into per-doc language composition, splits on, or
    * routes to per-language pipelines. Map-only: newline posexplode +
    * the per-language CountInSet kernels, no exchange at any corpus
    * size. */
  def langSegments(
      df: DataFrame, idCol: String, textCol: String,
      keepText: Boolean = false): DataFrame = {
    val reserved = Set("para_idx", "__para", "predicted", "n_tok", "__toks",
      "para")
    require(!reserved(idCol),
      s"id column '$idCol' collides with langSegments outputs")
    val paras = df
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("para_idx", "__para")))
      .filter(length(trim(col("__para"))) > 0)
    val scored = langId(paras, "__para", "predicted")
      .withColumn("n_tok", tokenCount(col("__para")).cast("long"))
    val base = Seq(col(idCol), col("para_idx"), col("predicted"),
      col("n_tok"))
    // keepText: carry the paragraph itself — for language-routing
    // pipelines that REASSEMBLE the kept paragraphs (CCNet splits docs
    // at language boundaries and keeps each side)
    scored.select(
      (if (keepText) base :+ col("__para").as("para") else base): _*)
  }

  /** Document fingerprint: order-sensitive polynomial rolling hash over the
    * token stream, computed inside one `aggregate` higher-order function —
    * whole-stage-codegen friendly, no shuffle, no UDF.
    *
    * Token hash = first 14 hex digits of md5 (56 bits, portable across
    * engines); rolling combine = (acc·31 + h) mod 10^17 (modulus keeps the
    * product inside signed-64 range on engines where overflow is an error).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) =>
        pmod(
          acc * lit(31L) + conv(substring(md5(t), 1, 14), 16, 10).cast("long"),
          lit(100000000000000000L)))

  /** Within-document n-gram repetition signals — the published repetition
    * filters for training corpora (Gopher/MassiveText rules; see Rae et
    * al. 2021 §A1.1): `dup_gram_fraction` = share of n-gram OCCURRENCES
    * beyond each gram's first (docs that loop boilerplate score high),
    * `top_gram_fraction` = share claimed by the single most frequent
    * n-gram. All four counters come from ONE native kernel eval per row
    * ([[graft.functions.NgramRepetitionStats]]) — a pure map stage with
    * zero shuffles at any corpus size; the exploded groupBy(doc, gram)
    * form this replaces shuffles the corpus's entire gram stream.
    * Fractions are NULL for docs with fewer than n tokens.
    */
  def repetitionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val st = GraftColumnBridge.column(graft.functions.NgramRepetitionStats(
      GraftColumnBridge.expression(col(textCol)), n))
    df.withColumn("__st", st).select(
      col(idCol),
      col("__st.n_tokens").as("n_tokens"),
      col("__st.n_grams").as("n_grams"),
      col("__st.n_distinct").as("n_distinct"),
      col("__st.top_count").as("top_count"),
      when(col("__st.n_grams") > 0,
        round((col("__st.n_grams") - col("__st.n_distinct")).cast("double")
          / col("__st.n_grams"), 6)).as("dup_gram_fraction"),
      when(col("__st.n_grams") > 0,
        round(col("__st.top_count").cast("double")
          / col("__st.n_grams"), 6)).as("top_gram_fraction"))
  }

  /** Fitted add-α unigram language model: token → log-probability for the
    * `vocabSize` most frequent corpus tokens, plus the shared
    * out-of-vocabulary log-probability. `vocabSize` is the REQUESTED size;
    * `logProbs.size` is the actual one (smaller on tiny corpora) and is
    * what the smoothing denominator uses. */
  final case class UnigramModel(
      logProbs: Seq[(String, Double)],
      oovLogProb: Double,
      totalTokens: Long,
      alpha: Double)

  /** Fit an add-α unigram model on a corpus — the model half of
    * CCNet-style perplexity filtering (Wenzek et al. 2020; the reference
    * pipeline scores corpus slices with a small LM and prunes by
    * perplexity bucket). p(t) = (count(t) + α) / (total + α·(V+1)) for
    * the V most frequent tokens (count desc, token asc tie-break — the
    * [[topTokens]] cutoff), OOV mass α / (total + α·(V+1)). ONE corpus
    * pass at fit time: the explode + partial-agg'd `groupBy(token)` counts
    * frame is lazily `localCheckpoint`ed, and both the vocabulary top-k
    * (bounded-heap tail) and the token total (`sum(n)`) read its
    * materialized blocks — the text is scanned exactly once, the two
    * derived aggregates run over the vocabulary-sized frame (at 100 TB
    * fit time this halves the dominant cost vs a second corpus scan; a
    * spec pins the single pass with a counting filter). The model itself
    * is V entries — KBs — collected driver-side like the IVF centroids
    * and shipped back as an expression reference object. */
  def fitUnigramModel(
      df: DataFrame, textCol: String, vocabSize: Int = 200,
      alpha: Double = 1.0): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be positive, got $vocabSize")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // materialized by the top-k job
    val top = graft.ops.TopK.perGroupRanked(
        counts.withColumn("__g", lit(1)), Seq("__g"),
        Seq(col("n").desc, col("token")), vocabSize)
      .select(col("token"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = counts
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val denom = total + alpha * (top.length + 1)
    UnigramModel(
      top.map { case (t, c) => (t, math.log((c + alpha) / denom)) }.toSeq,
      math.log(alpha / denom), total, alpha)
  }

  /** Score every document under a fitted [[UnigramModel]]: appends
    * `sum_lp` (total token log-probability, OOV included), `n_tok`
    * (non-empty tokens), `n_oov`, and `avg_lp` = sum_lp/n_tok (null for
    * token-less docs) — the mean log-probability whose negation is the
    * log-perplexity curation signal. One
    * [[graft.functions.UnigramLogProbStats]] kernel eval per row: no
    * explode, no join, no shuffle at any corpus size. */
  def scoreUnigram(
      df: DataFrame, textCol: String, model: UnigramModel): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val st = GraftColumnBridge.column(graft.functions.UnigramLogProbStats(
      GraftColumnBridge.expression(col(textCol)),
      model.logProbs, model.oovLogProb))
    df.withColumn("__lm", st)
      .withColumn("sum_lp", col("__lm.sum_lp"))
      .withColumn("n_tok", col("__lm.n_tok"))
      .withColumn("n_oov", col("__lm.n_oov"))
      .withColumn("avg_lp",
        when(col("n_tok") > 0, col("sum_lp") / col("n_tok")))
      .drop("__lm")
  }

  /** Fitted bigram stupid-backoff model (Brants et al. 2007): the add-α
    * [[UnigramModel]] it backs off to, plus the bigram table over
    * VOCABULARY-MAPPED tokens — each corpus token is replaced by itself
    * when in the unigram vocabulary, else by the `""` OOV sentinel, so
    * the bigram state space is bounded by (V+1)² at ANY corpus size.
    * `bigramLogProbs` maps `"m1 m2"` → ln(c(m1,m2)/cctx(m1)) where cctx
    * is the pre-cap context mass (Σ_m2 c(m1,m2)); `backoff` is the
    * stupid-backoff penalty multiplied into the unigram probability when
    * a bigram is unseen (0.4 in the paper). */
  final case class BigramModel(
      unigram: UnigramModel,
      bigramLogProbs: Seq[(String, Double)],
      backoff: Double)

  /** All consecutive mapped-token bigrams of `text` (non-distinct,
    * occurrence order) via the [[graft.functions.MappedBigrams]] kernel. */
  private def mappedBigrams(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MappedBigrams(
        org.apache.spark.sql.GraftColumnBridge.expression(text), vocab))

  /** Fit a bigram stupid-backoff model — the next step up from
    * [[fitUnigramModel]] on the CCNet-style quality ladder (Wenzek 2020
    * scores with a KenLM n-gram model; this is the n=2 form with stupid
    * backoff, the smoothing Brants 2007 showed wins at corpus scale
    * precisely because it needs only raw counts).
    *
    * Two corpus passes at fit time (unigram vocabulary, then mapped
    * bigram counts — the second pass cannot start before the vocabulary
    * exists), each a single explode + partial-agg'd `groupBy`. The bigram
    * counts frame is lazily `localCheckpoint`ed and BOTH derived reads
    * (context masses, top-`maxBigrams` cap) run over that materialized
    * ≤(V+1)²-row frame, never the corpus. Context masses are computed
    * BEFORE the cap, so capped-away bigrams fall back to the backoff
    * path rather than inflating survivors' conditionals. The collected
    * model is ≤ maxBigrams + V entries — KBs at the defaults — shipped
    * to scoring as an expression reference object like the unigram and
    * IVF models. */
  def fitBigramModel(
      df: DataFrame, textCol: String, vocabSize: Int = 200,
      alpha: Double = 1.0, backoff: Double = 0.4,
      maxBigrams: Int = 1 << 20): BigramModel = {
    require(backoff > 0 && backoff <= 1,
      s"backoff must be in (0, 1], got $backoff")
    require(maxBigrams >= 1, s"maxBigrams must be positive, got $maxBigrams")
    val uni = fitUnigramModel(df, textCol, vocabSize, alpha)
    val vocab = uni.logProbs.map(_._1)
    val pairs = df
      .select(explode(mappedBigrams(col(textCol), vocab)).as("bg"))
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // materialized by the context job
    // context mass per m1 — "m1 m2" single-space join is unambiguous
    // (tokens cannot contain whitespace; the "" OOV sentinel yields a
    // leading/bare space, which substring_index maps back to "")
    val ctx = pairs
      .groupBy(substring_index(col("bg"), " ", 1).as("m1"))
      .agg(sum(col("n")).as("cn"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val top = graft.ops.TopK.perGroupRanked(
        pairs.withColumn("__g", lit(1)), Seq("__g"),
        Seq(col("n").desc, col("bg")), maxBigrams)
      .select(col("bg"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val lps = top.map { case (bg, c) =>
      val m1 = bg.substring(0, bg.indexOf(' '))
      (bg, math.log(c.toDouble / ctx(m1)))
    }.toSeq
    BigramModel(uni, lps, backoff)
  }

  /** Score every document under a fitted [[BigramModel]]: appends
    * `sum_lp` (position 0 scored by the unigram model, positions ≥ 1 by
    * the seen-bigram conditional or `ln(backoff) + unigram`), `n_tok`,
    * `n_hit` (positions scored by a seen bigram) and `avg_lp` =
    * sum_lp/n_tok (null for token-less docs). One
    * [[graft.functions.BigramLogProbStats]] kernel eval per row — no
    * explode, no join, no shuffle at any corpus size. */
  def scoreBigram(
      df: DataFrame, textCol: String, model: BigramModel): DataFrame = {
    // loud reject over silent clobber (the advisor-r10 guard class)
    val reserved = Set("__lm", "sum_lp", "n_tok", "n_hit", "avg_lp")
    df.columns.find(reserved).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' collides with the bigram scoring outputs " +
          s"(${reserved.toSeq.sorted.mkString(", ")}) — rename it first"))
    import org.apache.spark.sql.GraftColumnBridge
    val st = GraftColumnBridge.column(graft.functions.BigramLogProbStats(
      GraftColumnBridge.expression(col(textCol)),
      model.unigram.logProbs, model.unigram.oovLogProb,
      model.bigramLogProbs, math.log(model.backoff)))
    df.withColumn("__lm", st)
      .withColumn("sum_lp", col("__lm.sum_lp"))
      .withColumn("n_tok", col("__lm.n_tok"))
      .withColumn("n_hit", col("__lm.n_hit"))
      .withColumn("avg_lp",
        when(col("n_tok") > 0, col("sum_lp") / col("n_tok")))
      .drop("__lm")
  }

  /** Persist a fitted [[BigramModel]] as parquet (two tables under
    * `path`: `unigram/` with token/log_prob rows plus the OOV/total/alpha
    * header values, `bigram/` with bigram/log_prob rows) — fit once,
    * score daily increments ([[graft.ext.Dsir.writeModel]] pattern). */
  def writeBigramModel(
      spark: org.apache.spark.sql.SparkSession, m: BigramModel,
      path: String): Unit = {
    import spark.implicits._
    // the header values (OOV mass, totals) ride the vocab rows — an
    // empty-vocabulary model would lose them on the round trip
    require(m.unigram.logProbs.nonEmpty,
      "cannot persist a bigram model with an empty vocabulary " +
        "(fit on a non-empty corpus first)")
    m.unigram.logProbs.zipWithIndex
      .map { case ((t, lp), i) =>
        (i, t, lp, m.unigram.oovLogProb, m.unigram.totalTokens,
          m.unigram.alpha, m.backoff) }
      .toDF("rank", "token", "log_prob", "oov_log_prob", "total_tokens",
        "alpha", "backoff")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/unigram")
    m.bigramLogProbs
      .toDF("bigram", "log_prob")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bigram")
  }

  /** Load a [[writeBigramModel]] table pair back into a scoring-ready
    * model. */
  def readBigramModel(
      spark: org.apache.spark.sql.SparkSession, path: String): BigramModel = {
    val uniRows = spark.read.parquet(s"$path/unigram")
      .select("rank", "token", "log_prob", "oov_log_prob", "total_tokens",
        "alpha", "backoff")
      .collect().sortBy(_.getInt(0))
    require(uniRows.nonEmpty, s"empty bigram model at $path")
    val head = uniRows.head
    val uni = UnigramModel(
      uniRows.map(r => (r.getString(1), r.getDouble(2))).toSeq,
      head.getDouble(3), head.getLong(4), head.getDouble(5))
    val bg = spark.read.parquet(s"$path/bigram")
      .select("bigram", "log_prob")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    BigramModel(uni, bg, head.getDouble(6))
  }

  // ——— hashed n≤5 stupid-backoff LM (Brants 2007, production arity) ———

  /** Fitted hashed n-gram stupid-backoff model: per-order capped count
    * tables over PORTABLE 56-bit gram hashes (first 14 md5 hex digits of
    * the space-joined gram — engine-replayable, see
    * [[graft.functions.NgramHashing]]). `tables(o-1)` holds order-o's
    * top-`maxPerOrder` (hash → count) entries by (count desc, hash asc);
    * `b1` is the kept order-1 entry count the add-α unigram denominator
    * uses; `totalTokens` is the PRE-cap corpus token count. The whole
    * model is ≤ n·maxPerOrder 16-byte entries — driver/reference-object
    * sized at any corpus size, which is the production point of hashing
    * (Brants 2007 §4: count tables, no discounting, fixed backoff). */
  final case class NgramLmModel(
      n: Int,
      tables: Seq[Seq[(Long, Long)]],
      totalTokens: Long,
      b1: Int,
      alpha: Double,
      backoff: Double)

  private def ngramHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NgramHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** Fit the hashed n-gram model — the n≤5 step of the CCNet-style
    * quality ladder ([[fitUnigramModel]] → [[fitBigramModel]] → this).
    * ONE corpus pass: the [[graft.functions.NgramHashes]] kernel emits
    * every (order, gram-hash) pair map-side; the explode feeds a
    * partial-agg'd `groupBy(o, h)` whose counts frame is lazily
    * `localCheckpoint`ed, and BOTH derived reads — the per-order
    * top-`maxPerOrder` cap (bounded heap, grouped by order) and the
    * pre-cap token total — run over that materialized frame, never the
    * corpus. Unlike [[fitBigramModel]] there is no vocabulary pre-pass:
    * hashing replaces vocabulary mapping, so fit is ONE text scan at any
    * n. Context counts are the order-(o−1) table itself (raw-count
    * stupid backoff); a capped-away context backs off rather than
    * erroring. */
  def fitNgramModel(
      df: DataFrame, textCol: String, n: Int = 5,
      alpha: Double = 1.0, backoff: Double = 0.4,
      maxPerOrder: Int = 1 << 16): NgramLmModel = {
    require(n >= 1 && n <= 8, s"n must be in [1, 8], got $n")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(backoff > 0 && backoff <= 1,
      s"backoff must be in (0, 1], got $backoff")
    require(maxPerOrder >= 1, s"maxPerOrder must be positive, got $maxPerOrder")
    val counts = graft.ops.Par.fanOutSmallScan(df)
      .select(explode(ngramHashes(col(textCol), n)).as("g"))
      .select(col("g.o").as("o"), col("g.h").as("h"))
      .groupBy(col("o"), col("h"))
      .agg(count(lit(1)).as("cn"))
      .localCheckpoint(eager = false) // materialized by the top-k job
    val top = graft.ops.TopK.perGroupRanked(
        counts, Seq("o"), Seq(col("cn").desc, col("h")), maxPerOrder)
      .select(col("o"), col("h"), col("cn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val total = counts.filter(col("o") === 1)
      .agg(coalesce(sum(col("cn")), lit(0L))).head().getLong(0)
    val byOrder = top.groupBy(_._1)
    val tables = (1 to n).map(o =>
      byOrder.getOrElse(o, Array.empty[(Int, Long, Long)])
        .map(t => (t._2, t._3)).toSeq)
    NgramLmModel(n, tables, total, tables.head.length, alpha, backoff)
  }

  /** Score every document under a fitted [[NgramLmModel]]: appends
    * `sum_lp`, `n_tok`, `n_top` (positions scored at their maximal order
    * without backoff) and `avg_lp` = sum_lp/n_tok (null for token-less
    * docs). One [[graft.functions.NgramBackoffLogProbStats]] kernel eval
    * per row — no explode, no join, no shuffle at any corpus size; the
    * same stateless kernel scores a stream unchanged. */
  def scoreNgram(
      df: DataFrame, textCol: String, model: NgramLmModel): DataFrame = {
    val reserved = Set("__lm", "sum_lp", "n_tok", "n_top", "avg_lp")
    df.columns.find(reserved).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' collides with the n-gram scoring outputs " +
          s"(${reserved.toSeq.sorted.mkString(", ")}) — rename it first"))
    import org.apache.spark.sql.GraftColumnBridge
    val st = GraftColumnBridge.column(graft.functions.NgramBackoffLogProbStats(
      GraftColumnBridge.expression(col(textCol)),
      model.n, model.tables, model.totalTokens, model.b1,
      model.alpha, model.backoff))
    df.withColumn("__lm", st)
      .withColumn("sum_lp", col("__lm.sum_lp"))
      .withColumn("n_tok", col("__lm.n_tok"))
      .withColumn("n_top", col("__lm.n_top"))
      .withColumn("avg_lp",
        when(col("n_tok") > 0, col("sum_lp") / col("n_tok")))
      .drop("__lm")
  }

  /** Persist a fitted [[NgramLmModel]]: `tables/` holds (o, h, cn) rows,
    * `meta/` one row of scalars — fit once (bounded collect), score
    * every daily increment from the loaded model. */
  def writeNgramModel(
      spark: org.apache.spark.sql.SparkSession, m: NgramLmModel,
      path: String): Unit = {
    import spark.implicits._
    m.tables.zipWithIndex
      .flatMap { case (t, i) => t.map { case (h, c) => (i + 1, h, c) } }
      .toDF("o", "h", "cn")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/tables")
    Seq((m.n, m.totalTokens, m.b1, m.alpha, m.backoff))
      .toDF("n", "total_tokens", "b1", "alpha", "backoff")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeNgramModel]] pair back into a scoring-ready model.
    * Table order within each n restores the fit's (count desc, hash asc)
    * canonical order so the round trip is value-exact. */
  def readNgramModel(
      spark: org.apache.spark.sql.SparkSession, path: String): NgramLmModel = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta")
      .select("n", "total_tokens", "b1", "alpha", "backoff").head()
    val n = meta.getInt(0)
    val rows = spark.read.parquet(s"$path/tables")
      .select(col("o").cast("int"), col("h"), col("cn"))
      .as[(Int, Long, Long)].collect()
    val byOrder = rows.groupBy(_._1)
    NgramLmModel(n,
      (1 to n).map(o => byOrder.getOrElse(o, Array.empty[(Int, Long, Long)])
        .map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq),
      meta.getLong(1), meta.getInt(2), meta.getDouble(3), meta.getDouble(4))
  }

  /** Corpus vocabulary: the k most frequent whitespace tokens with ranks —
    * the canonical corpus-scale wordcount (vocabulary building, frequency
    * cutoffs for tokenizer training). One explode + one partial-agg'd
    * groupBy(token) shuffle; the top-k tail is the bounded-heap operator
    * ([[graft.ops.TopK.perGroupRanked]] over a constant group), so the
    * final stage exchanges one k-row heap per partition — never a sort of
    * the vocabulary. Ties rank lexicographically for determinism.
    * Returns (rank, token, n).
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    graft.ops.TopK.perGroupRanked(
        counts.withColumn("__g", lit(1)), Seq("__g"),
        Seq(col("n").desc, col("token")), k)
      .select(col("rank"), col("token"), col("n"))
  }

  // ——— unicode normalization ———

  /** Unicode-normalize a string column via the native kernel
    * ([[graft.functions.NfcNormalize]]) — Spark has no built-in
    * normalizer. NFC by default; value-identical to DuckDB's
    * `nfc_normalize` (both implement UAX #15). Map-only. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(text), form))

  /** Canonical curation-pipeline text normalization: NFC → lowercase →
    * collapse every whitespace run to one space → trim. Run it BEFORE any
    * hashing/dedup stage: visually-identical strings with different
    * combining-character encodings or spacing otherwise hash apart and
    * defeat exact dedup. Map-only, zero shuffle; portable DuckDB twin is
    * `trim(regexp_replace(lower(nfc_normalize(x)), '\s+', ' ', 'g'))`. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(unicodeNormalize(text)), "\\s+", " "))

  // ——— fixed-token chunking ———

  /** Context-window chunking: splits each document's NON-EMPTY whitespace
    * tokens (the unified [[tokenCount]] definition) into windows of
    * `chunkSize` tokens starting at offsets 0, stride, 2·stride, … while
    * the offset is inside the document — `stride < chunkSize` gives the
    * overlapping windows LM training prep uses, `stride == chunkSize`
    * non-overlapping packing input. The trailing chunk may be short; a
    * document with zero tokens yields no chunks. `chunk_text` re-joins
    * tokens with single spaces (whitespace-normalized by construction).
    *
    * Output: every input column except `textCol`, plus `chunk_id` (0-based
    * window index), `n_tok`, `chunk_text`. The plan is MAP-ONLY — the
    * explode amplifies rows inside the scan stage, nothing shuffles; at
    * 100 TB the output is written or piped straight into
    * [[graft.ext.Packing]] / shard assignment without a corpus exchange.
    */
  def chunkByTokens(
      df: DataFrame, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    Seq("chunk_id", "n_tok", "chunk_text").foreach(c =>
      require(!df.columns.contains(c) || c == textCol,
        s"chunkByTokens would overwrite existing column '$c'"))
    val keep = df.columns.filterNot(_ == textCol).map(col).toSeq
    df
      .withColumn("__toks", filter(tokens(col(textCol)), t => length(t) > 0))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(keep ++ Seq(col("__toks"),
        explode(sequence(lit(0),
          floor((col("__n") - 1) / lit(stride)).cast("int"))).as("chunk_id")): _*)
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_id") * stride + 1, lit(chunkSize)))
      .withColumn("n_tok", size(col("__chunk")))
      .withColumn("chunk_text", concat_ws(" ", col("__chunk")))
      .drop("__toks", "__chunk")
  }

  // ——— boilerplate line removal (CCNet-style) ———

  /** Hard cap on the frequent-line probe table: 4M hashes = 32 MB of
    * longs on the driver and per executor — far beyond any real
    * boilerplate set (template chrome is by definition few distinct
    * lines), small enough to never hurt. */
  val MaxBoilerplateLines: Int = 4 * 1024 * 1024

  /** md5-prefix-15 hashes of every non-empty line appearing in at least
    * `minDf` documents. The fit pass is one aggregation whose exchange
    * carries ONLY (hash) partial counts: lines are hashed and
    * per-document deduplicated inside the scan ([[graft.functions
    * .Md5Prefix]] + `array_distinct`, both map-side), so document text
    * never shuffles — the 100 TB posture of every dedup fit in this
    * module. The collect is guarded exactly like the streaming
    * contamination gate's: `limit(cap+1)` bounds what can reach the
    * driver, overflow dies with a diagnostic instead of an OOM. */
  def frequentLineHashes(
      df: DataFrame, textCol: String, minDf: Long,
      maxFrequentLines: Int = MaxBoilerplateLines): Array[Long] = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val lineHashes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Md5Prefix(
        org.apache.spark.sql.GraftColumnBridge.expression(
          split(col(textCol), "\n")),
        15, skipEmpty = true))
    val capped = df
      .select(explode(array_distinct(lineHashes)).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"))
      .limit(maxFrequentLines + 1)
      .collect()
    if (capped.length > maxFrequentLines)
      throw new IllegalArgumentException(
        s"frequentLineHashes: more than $maxFrequentLines lines exceed " +
          s"minDf=$minDf — that is not a boilerplate set, it is the corpus. " +
          "Raise minDf (or the cap) so only template chrome qualifies.")
    capped.map(_.getLong(0))
  }

  /** Boilerplate-line removal (CCNet-style template-chrome stripping,
    * Wenzek et al. 2020): appends `outCol` with the document text minus
    * every non-empty line that appears in at least `minDf` documents
    * corpus-wide (cookie banners, share buttons, nav footers). Empty
    * lines always survive — they are structure, not content. Two passes
    * over the corpus: the [[frequentLineHashes]] fit (hash-only
    * exchange), then a MAP-ONLY rewrite through one
    * [[graft.functions.RemoveLinesInLongSet]] kernel eval per row with
    * the probe table shipped as a reference object — no join, no
    * explode, the text never shuffles. Runs unchanged on a stream (the
    * rewrite side is stateless; fit on the static corpus first). */
  def removeBoilerplateLines(
      df: DataFrame, textCol: String, minDf: Long,
      outCol: String = "clean",
      maxFrequentLines: Int = MaxBoilerplateLines): DataFrame = {
    require(!df.columns.contains(outCol),
      s"removeBoilerplateLines would overwrite existing column '$outCol'")
    val hashes = frequentLineHashes(df, textCol, minDf, maxFrequentLines)
    df.withColumn(outCol, org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.RemoveLinesInLongSet(
        org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)),
        hashes, 15)))
  }

  /** zlib compression-ratio quality signal (Dolma/RedPajama-class
    * heuristic): per document, the raw and DEFLATE-compressed byte
    * counts plus `deflate_ratio` = compressed/raw (rounded 4 dp; null for
    * empty text). Prose lands ~0.3–0.6; far below is boilerplate or
    * repetition (compresses too well), far above is high-entropy junk.
    * Map-only — one [[graft.functions.DeflateSizes]] kernel eval per row,
    * no shuffle, sizes only (compressed bytes never materialize as a
    * column). */
  def compressionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val sizes = GraftColumnBridge.column(graft.functions.DeflateSizes(
      GraftColumnBridge.expression(col(textCol)), level))
    df.withColumn("__z", sizes).select(
      col(idCol),
      col("__z.raw_bytes").as("raw_bytes"),
      col("__z.deflate_bytes").as("deflate_bytes"),
      when(col("__z.raw_bytes") > 0,
        round(col("__z.deflate_bytes").cast("double")
          / col("__z.raw_bytes"), 4)).as("deflate_ratio"))
  }

  /** CCNet-style perplexity partition (Wenzek et al. 2020 §4.3): label
    * every document `head` / `middle` / `tail` by corpus-wide percentile
    * cuts of its LM score — the buckets CCNet samples training data from
    * (head = the most-fluent third; avg log-prob is the negated-ppl
    * proxy, so HIGHER score = head). One narrow scoring pass
    * ([[scoreUnigram]]) into a lazily checkpointed (id, score) frame;
    * BOTH cut thresholds are scalar subqueries over that same frame (the
    * [[pruneBottomQuantile]] shape) — the corpus text is scanned once
    * and never shuffles, and no whole-corpus ntile window exists
    * anywhere. Buckets compare the 4-dp-rounded score against
    * 4-dp-rounded thresholds (the libm-absorption rule the LM oracle
    * established). Token-less docs have no score → null bucket. */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: UnigramModel,
      cuts: (Double, Double) = (1.0 / 3, 2.0 / 3)): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    require(0 < cuts._1 && cuts._1 < cuts._2 && cuts._2 < 1,
      s"cuts must satisfy 0 < lo < hi < 1, got $cuts")
    val scored = scoreUnigram(df, textCol, model)
      .select(col(idCol), round(col("avg_lp"), 4).as("__lp"))
      .localCheckpoint(eager = false) // materialized by the subquery job
    // BOTH cuts from ONE scalar subquery (an array-valued single column):
    // two separate percentile subqueries are two subquery jobs — the same
    // aggregation pass paid twice just to carry two doubles
    val thrs: Column = GraftColumnBridge.column(ScalarSubquery(
      scored.agg(expr(
        s"array(round(percentile(__lp, ${cuts._1}D), 4), " +
          s"round(percentile(__lp, ${cuts._2}D), 4))").as("__t"))
        .queryExecution.analyzed))
    scored.select(col(idCol), col("__lp").as("avg_lp"),
      when(col("__lp").isNull, lit(null).cast("string"))
        .when(col("__lp") > element_at(thrs, 2), lit("head"))
        .when(col("__lp") > element_at(thrs, 1), lit("middle"))
        .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Approximate corpus vocabulary via the mergeable Misra–Gries
    * heavy-hitter aggregate ([[graft.functions.MisraGriesTopK]]) — the
    * at-scale alternative to the exact [[topTokens]]: the exact form
    * shuffles one row per distinct token (billions at 100 TB); this
    * shuffles ONE `capacity`-entry summary per partition. Returns
    * (rank, token, count_lo, max_undercount): the true count of an
    * emitted token lies in [count_lo, count_lo + max_undercount], and
    * any token whose true count exceeds max_undercount is guaranteed
    * present. Capacity trades memory for error — with capacity ≥
    * distinct tokens the summary is exact. */
  def approxTopTokens(
      df: DataFrame,
      textCol: String,
      k: Int,
      capacity: Int = 1024): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    require(k >= 1 && capacity >= k,
      s"need 1 <= k <= capacity, got k=$k capacity=$capacity")
    val agg = GraftColumnBridge.column(
      graft.functions.MisraGriesTopK(
        GraftColumnBridge.expression(tokens(col(textCol))), capacity)
        .toAggregateExpression())
    df.agg(agg.as("__mg"))
      .select(posexplode(col("__mg")).as(Seq("__i", "__e")))
      .filter(col("__i") < k)
      .select((col("__i") + 1).as("rank"), col("__e.token").as("token"),
        col("__e.count_lo").as("count_lo"),
        col("__e.max_undercount").as("max_undercount"))
  }

  /** Keep documents whose [[compressionStats]] `deflate_ratio` lies in
    * [`lo`, `hi`] — the two-sided compression gate (drop
    * repetition/boilerplate below `lo`, binary/noise above `hi`).
    * Documents with empty/null text have no ratio and are dropped. The
    * gate is a map-only filter over the original frame: the kernel
    * evaluates once per row inside the same stage, nothing joins back. */
  def pruneByCompressionRatio(
      df: DataFrame,
      textCol: String,
      lo: Double = 0.15,
      hi: Double = 0.95,
      level: Int = 6): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    require(lo <= hi, s"lo ($lo) must be <= hi ($hi)")
    val sizes = GraftColumnBridge.column(graft.functions.DeflateSizes(
      GraftColumnBridge.expression(col(textCol)), level))
    val ratio = when(sizes.getField("raw_bytes") > 0,
      sizes.getField("deflate_bytes").cast("double")
        / sizes.getField("raw_bytes"))
    df.filter(ratio.between(lo, hi))
  }
}
