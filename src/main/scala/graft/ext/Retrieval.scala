package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a document corpus — the missing sibling of
  * the embedding-side [[Similarity]] family (north-star breadth; no
  * reference analogue). Training-data pipelines use it for targeted
  * decontamination (retrieve corpus docs lexically close to an eval set),
  * seed expansion (grow a curated set from exemplar queries), and eval-set
  * mining; it is also the classical "search this corpus" operator.
  *
  * Scale shape (the point of the design): the corpus text is tokenized
  * EXACTLY ONCE, MAP-SIDE, into a lazily-checkpointed denormalized
  * posting frame `(doc, dl, term, tf)` — term frequency and document
  * length are per-document statistics, so the [[graft.functions.TokenTfs]]
  * kernel computes both in one eval per row and the posting frame needs
  * NO exchange at all (the old explode → groupBy(doc, term) →
  * groupBy(doc)-join shape shuffled the corpus-sized posting stream
  * twice for values a map stage produces). The query side (queries ×
  * query terms, with their IDFs) is KBs and always broadcast, so the only
  * corpus-sized exchanges are the narrow distinct `(doc, dl)` collection
  * statistic and the per-(query, doc) score aggregation over CANDIDATES
  * (docs sharing ≥1 query term) — never an all-pairs join. The final
  * ranking is the bounded-heap [[graft.ops.TopK]] operator, not a
  * Window: O(queries · k) state, no per-query sort.
  */
object Retrieval {

  /** The one-scan, zero-shuffle posting frame `(idCol, dlCol, termCol,
    * tfCol)`: one row per (document, distinct kept token). Docs with no
    * kept token emit no row (they can never match and are out of the
    * collection statistics by construction). */
  private def postings(
      corpus: DataFrame, idCol: String, textCol: String,
      termCol: String, tfCol: String, dlCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // the TokenTfs kernel pass is the frame's entire cost — remediate an
    // under-parallel scan before it (no-op at corpus scale, see Par)
    graft.ops.Par.fanOutSmallScan(corpus)
      .select(col(idCol), GraftColumnBridge.column(graft.functions.TokenTfs(
        GraftColumnBridge.expression(col(textCol)))).as("__k"))
      .select(col(idCol), col("__k").getField("dl").as(dlCol),
        explode(col("__k").getField("tfs")).as("__p"))
      .select(col(idCol), col(dlCol),
        col("__p").getField("term").as(termCol),
        col("__p").getField("tf").as(tfCol))
  }

  /** Okapi BM25 top-k documents per query.
    *
    * score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf(t,d)·(k1+1) /
    *                 (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    * with the Lucene-style non-negative idf(t) = ln(1 + (N − df + 0.5) /
    * (df + 0.5)). N, |d| and avgdl count KEPT (non-empty, whitespace-split)
    * tokens, and N counts documents with ≥1 such token — empty documents
    * can never match, so they are out of the collection statistics by
    * construction (documented engine choice; the oracle replays it).
    * Repeated terms in a QUERY count once (standard bag-of-terms practice
    * for short queries); repeated terms in a document are the tf.
    *
    * Engine-portability: the score is rounded to `roundScoreTo` dp BEFORE
    * ranking, and rank ties break on ascending doc id, so summation-order
    * ulps between engines cannot flip the emitted top-k.
    *
    * Returns (queryIdCol, idCol, score, rank) with rank 1..k per query.
    */
  def bm25TopK(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundScoreTo: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(k1 >= 0, s"k1 must be non-negative, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    require(queryIdCol != idCol,
      s"query and document id columns must differ, both are '$idCol'")
    requireNotReserved(idCol, queryIdCol)

    // The query batch collects at the driver (bounded — a query batch is
    // KBs; the bm25TopKFromBundle serving path set the precedent), via a
    // tiny Spark job so the ONE tokenizer implementation
    // (TextAnalysis.tokens) covers both sides. Repeated terms in a query
    // count once (distinct). The collect is CAPPED at MaxFusedTerms + 1
    // rows — a corpus-scale query log saturates the probe and takes the
    // fully-distributed arm without ever materializing at the driver
    // (self-review round 19). NOTE: the inline path is eager — the
    // queries frame executes at construction (the serving paths always
    // were).
    val qtAll = queries
      .select(col(queryIdCol),
        explode(TextAnalysis.tokens(col(queryTextCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .distinct()
    val qtPairs = qtAll.limit(MaxFusedTerms + 1).collect()
    val vs: Seq[String] =
      qtPairs.map(_.getString(1)).distinct.sorted.toIndexedSeq

    if (vs.isEmpty) {
      // no query has a kept token → nothing can match; an all-false
      // filter through the same ranking operator keeps the output schema
      // identical without planning a zero-width vocab kernel
      val qType = queries.schema(queryIdCol).dataType
      val scored = corpus
        .select(lit(null).cast(qType).as(queryIdCol), col(idCol),
          lit(0.0).as("score"))
        .filter(lit(false))
      return graft.ops.TopK.perGroupRanked(
          scored, Seq(queryIdCol), Seq(col("score").desc, col(idCol)), k)
        .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
    }

    if (vs.size > MaxFusedVocab || qtPairs.length > MaxFusedTerms) {
      // rare huge-batch posture: term-keyed distributed df over the full
      // posting stream (the shape the fused vocab kernel would turn into
      // a |vocab|-wide per-row scan, and the static per-query scoring
      // into an unboundedly wide projection)
      return bm25TopKDistributedDf(
        postings(corpus, idCol, textCol, "__t", "__tf", "__dl"), idCol,
        queries, queryIdCol, queryTextCol, k, k1, b, roundScoreTo)
    }

    // NARROW vocab-kernel arm (round-19, the tfidfForVocab pattern): the
    // corpus never becomes a full posting stream at all. ONE
    // [[graft.functions.VocabTfs]] pass emits per doc its kept-token
    // count (dl) and the |vocab| term counts — O(vocab) bytes/doc — and
    // ONE aggregate over that narrow frame carries N, Σdl AND the
    // per-term document frequencies (no doc-grain distinct, no
    // term-keyed df shuffle; the old dfFrame exchanged O(matching
    // postings)). avgdl via exact long sums then one double division
    // (avg() would sum doubles in Spark but exact integers in DuckDB —
    // an engine-visible ulp); long sums are order-independent, so both
    // engines agree bit-for-bit. The plan stays declarative: the stats
    // and the scoring each run the kernel pass over the corpus (two
    // passes, map-only), and a cloned rep has nothing cached to reuse.
    import org.apache.spark.sql.GraftColumnBridge
    // NO dl > 0 filter on the frame: PushPredicateThroughProject would
    // substitute the kernel into the filter and evaluate it TWICE per
    // row (pinned by PlanContractSpec). Empty docs stay as all-zero rows
    // — the conditional stats exclude them from N/Σdl and the scoring
    // `keep` gate drops them (all tfs are 0).
    val narrow = graft.ops.Par.fanOutSmallScan(corpus)
      .select(col(idCol), GraftColumnBridge.column(graft.functions.VocabTfs(
        GraftColumnBridge.expression(col(textCol)), vs)).as("__v"))
      .select(col(idCol), col("__v").getField("dl").as("__dl"),
        col("__v").getField("tfs").as("__vtfs"))

    // docs with ≥1 kept token form the collection (the N membership)
    val nDocs = sum(when(col("__dl") > 0L, 1L).otherwise(0L))
    val stats = narrow.agg(
      nDocs.cast("double").as("__N"),
      (sum(col("__dl")).cast("double") / nDocs.cast("double"))
        .as("__avgdl"),
      array(vs.indices.map(i =>
        sum(when(element_at(col("__vtfs"), i + 1) > 0L, 1L)
          .otherwise(0L))): _*).as("__dfs"))

    // STATIC per-query scoring (round-19): the batch is driver data, so
    // each query's BM25 score is ONE codegen'd expression — a fixed sum
    // over its term indices in ascending order (deterministic
    // summation), with tf = element_at(__vtfs, vi) from the doc row and
    // idf from the one-row stats attach. A doc emits one struct per
    // query via a literal-size explode (no posting explode, no join, no
    // HOF lambdas), the `keep` gate drops docs sharing no term with the
    // query (tf > 0 implies df > 0, so OOV terms contribute nothing —
    // the old inner df-join semantics), and the ONLY exchange in the
    // plan is the bounded-heap top-k's. The one-row stats attach
    // planizes as a BroadcastNestedLoopJoin (the __one key
    // constant-folds away — intended, PlanContractSpec boundedLoop).
    val qType = queries.schema(queryIdCol).dataType
    val dlNorm = lit(k1) * (lit(1.0 - b)
      + lit(b) * col("__dl") / col("__avgdl"))
    val byQuery = qtPairs.groupBy(_.get(0)).toSeq
      .map { case (qid, rows) =>
        (qid, rows.map(r => vs.indexOf(r.getString(1)) + 1).sorted.toSeq)
      }
    val qStructs = byQuery.map { case (qid, vis) =>
      def tf(vi: Int) = element_at(col("__vtfs"), lit(vi))
      def dfc(vi: Int) = element_at(col("__dfs"), lit(vi))
      val contribs = vis.map { vi =>
        val idf = log(lit(1.0)
          + (col("__N") - dfc(vi) + lit(0.5)) / (dfc(vi) + lit(0.5)))
        // a zero addend leaves the IEEE sum unchanged (all contributions
        // are > 0), so non-matching terms cannot move the score
        when(tf(vi) > 0L,
          idf * tf(vi) * (lit(k1) + 1.0) / (tf(vi) + dlNorm))
          .otherwise(lit(0.0))
      }
      val matched = vis.map(vi =>
        when(tf(vi) > 0L, 1).otherwise(0)).reduce(_ + _)
      struct(
        lit(qid).cast(qType).as("qid"),
        round(contribs.reduce(_ + _), roundScoreTo).as("score"),
        (matched > 0).as("keep"))
    }
    val scored = narrow
      .withColumn("__one", lit(1))
      .join(stats.withColumn("__one", lit(1)), Seq("__one"))
      .select(col(idCol), explode(array(qStructs: _*)).as("__q"))
      .filter(col("__q").getField("keep"))
      .select(col("__q").getField("qid").as(queryIdCol), col(idCol),
        col("__q").getField("score").as("score"))
    graft.ops.TopK.perGroupRanked(
        scored, Seq(queryIdCol), Seq(col("score").desc, col(idCol)), k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /** Fused-aggregate vocabulary cap: above this the per-term conditional
    * sums (|vocab| expressions per posting row) lose to a term-keyed
    * distributed df aggregate, and the plan falls back to
    * [[bm25TopKDistributedDf]]. Query batches in the inline API are
    * conversational-scale; corpus-scale batches belong on the persisted
    * index ([[bm25TopKFromIndex]]/[[bm25TopKFromBundle]]). */
  private val MaxFusedVocab = 256

  /** Static-scoring cap on total (query, term) pairs — beyond it the
    * per-doc literal score array would grow into an unboundedly wide
    * projection; the distributed arm takes over. */
  private val MaxFusedTerms = 512

  /** The pre-round-19 distributed query arm, kept for query batches too
    * large to fuse: term-keyed df over the vocabulary-semi-joined posting
    * frame, doc-grain distinct collection stats. Same output (spec'd via
    * the fused path's equality tests at small vocab). */
  private def bm25TopKDistributedDf(
      tf: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double, b: Double, roundScoreTo: Int): DataFrame = {
    val stats =
      tf.select(col(idCol), col("__dl")).distinct().agg(
        count(lit(1)).cast("double").as("__N"),
        (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val qt = queries
      .select(col(queryIdCol),
        explode(TextAnalysis.tokens(col(queryTextCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .distinct()
    val qVocab = qt.select(col("__t")).distinct()
    val dfFrame = tf
      .join(broadcast(qVocab), Seq("__t"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__df")) // tf is (doc, term)-unique
    val qArm = qt
      .join(dfFrame.hint("shuffle_hash"), Seq("__t"))
      .withColumn("__one", lit(1))
      .join(stats.withColumn("__one", lit(1)), Seq("__one"))
      .select(col(queryIdCol), col("__t"), col("__avgdl"),
        log(lit(1.0) + (col("__N") - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5))).as("__idf"))
    scoreAndRank(tf, idCol, queryIdCol, qArm, k, k1, b, roundScoreTo)
  }

  /** Candidates = postings × broadcast query arm (doc length is already
    * on every posting row, so no doc-grain join exists at all), then the
    * bounded-heap top-k. Shared by the fused and distributed arms. */
  private def scoreAndRank(
      tf: DataFrame, idCol: String, queryIdCol: String, qArm: DataFrame,
      k: Int, k1: Double, b: Double, roundScoreTo: Int): DataFrame = {
    val scored = tf
      .join(broadcast(qArm), Seq("__t"))
      .withColumn("__s",
        col("__idf") * col("__tf") * (lit(k1) + 1.0)
          / (col("__tf")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__s")), roundScoreTo).as("score"))
    graft.ops.TopK.perGroupRanked(
        scored, Seq(queryIdCol), Seq(col("score").desc, col(idCol)), k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /** Build the PERSISTABLE inverted index for [[bm25TopKFromIndex]]: one
    * row per (doc, term) with `tf` and the doc's kept-token length `dl`
    * denormalized on — everything query-time scoring needs, so serving a
    * query batch never touches the corpus text again. One tokenization
    * pass; the doc-length attach is the only extra exchange vs the inline
    * path, paid once at build time instead of per query batch.
    *
    * [[writeIndex]] lays the frame out for serving: hash-distributed,
    * sorted by `term` within files, so parquet row-group min/max stats
    * prune non-query terms at scan time without any shuffle on read.
    */
  /** Internal/output column names of the posting machinery: an id column
    * sharing one would silently collide with them (the same class of bug
    * the id-collision require catches — advisor round-8). */
  private val ReservedCols = Set("__t", "__tf", "__dl", "__k", "__p",
    "__dfs", "__v", "__vtfs",
    "__one", "__s", "__df", "__idf", "__N", "__avgdl",
    "term", "tf", "dl", "df", "score", "rank", "tfidf")

  private def requireNotReserved(cols: String*): Unit =
    cols.foreach(c => require(!ReservedCols(c),
      s"column name '$c' collides with the retrieval internals " +
        s"(${ReservedCols.toSeq.sorted.mkString(", ")}) — rename it first"))

  def buildIndex(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireNotReserved(idCol)
    // one map pass — the TokenTfs kernel emits tf and dl together, so the
    // old groupBy + doc-grain join (two corpus-sized exchanges) is gone
    postings(corpus, idCol, textCol, "term", "tf", "dl")
      .select(col(idCol), col("term"), col("tf"), col("dl"))
  }

  /** [[buildIndex]] → parquet at `path`, term-sorted within files (see
    * buildIndex scaladoc for why). */
  def writeIndex(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      numFiles: Int = 0): Unit = {
    val idx = buildIndex(corpus, idCol, textCol)
    val sized = if (numFiles > 0) idx.repartition(numFiles) else idx
    sized.sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite").parquet(path)
  }

  /** BM25 top-k over a prebuilt [[buildIndex]] frame (read back from
    * [[writeIndex]] output or still in memory) — identical results to
    * [[bm25TopK]] on the source corpus, without re-tokenizing it. The
    * collection statistics re-derive from the index's narrow columns
    * (distinct (doc, dl) pairs), df from the postings restricted to the
    * query vocabulary; everything else is the same broadcast-arm +
    * bounded-heap plan. */
  def bm25TopKFromIndex(
      index: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundScoreTo: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(queryIdCol != idCol,
      s"query and document id columns must differ, both are '$idCol'")
    requireNotReserved(idCol, queryIdCol)
    val docs = index.select(col(idCol), col("dl")).distinct()
    val stats = docs.agg(
      count(lit(1)).cast("double").as("__N"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val qt = queries
      .select(col(queryIdCol),
        explode(TextAnalysis.tokens(col(queryTextCol))).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val qVocab = qt.select(col("term")).distinct()
    val dfFrame = index
      .join(broadcast(qVocab), Seq("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    // same single-build-job arm assembly as bm25TopK (see its comment);
    // the one-row stats attach is an intended BNLJ (no-equi-key)
    val qArm = qt
      .join(dfFrame.hint("shuffle_hash"), Seq("term"))
      .withColumn("__one", lit(1))
      .join(stats.withColumn("__one", lit(1)), Seq("__one"))
      .select(col(queryIdCol), col("term"), col("__avgdl"),
        log(lit(1.0) + (col("__N") - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5))).as("__idf"))
    val scored = index
      .join(broadcast(qArm), Seq("term"))
      .withColumn("__s",
        col("__idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__s")), roundScoreTo).as("score"))
    graft.ops.TopK.perGroupRanked(
        scored, Seq(queryIdCol), Seq(col("score").desc, col(idCol)), k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /** The full SERVING index bundle — what a production deployment persists
    * so query batches never touch corpus text OR corpus-wide statistics
    * again (the Lucene shape: postings + term dictionary + collection
    * stats):
    *  - `path/postings`: the [[buildIndex]] frame, term-sorted within
    *    files so parquet row-group min/max stats prune non-query terms;
    *  - `path/terms`: (term, df) — document frequency precomputed at
    *    build time for EVERY term (one extra term-grain aggregate, paid
    *    once) so serving never aggregates the postings;
    *  - `path/stats`: one row (n_docs, sum_dl) — the collection
    *    statistics as exact longs.
    * One tokenization pass feeds all three (the postings frame is lazily
    * checkpointed across the three writes). */
  def writeIndexBundle(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      numFiles: Int = 0): Unit = {
    requireNotReserved(idCol)
    val idx = buildIndex(corpus, idCol, textCol).localCheckpoint(eager = false)
    val sized = if (numFiles > 0) idx.repartition(numFiles) else idx
    sized.sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite").parquet(s"$path/postings")
    idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/terms")
    idx.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 top-k served from a [[writeIndexBundle]] — identical results to
    * [[bm25TopK]] on the source corpus, at pure-serving cost:
    *  - queries tokenize DRIVER-side (the request batch is KBs by
    *    contract — the same bound that lets the inline path broadcast
    *    it), so the query arm assembles with no corpus-side work;
    *  - the postings scan carries a LITERAL `term IN (...)` filter, so
    *    parquet row-group stats on the term-sorted bundle skip everything
    *    but the query vocabulary (`PushedFilters` — the index-lookup
    *    semantics of a term dictionary, expressed as scan pruning);
    *  - df and collection stats come from the sidecars (tiny scans in
    *    the broadcast-build job), never from a corpus-wide aggregate.
    * Two jobs: the query-arm broadcast build and the pruned
    * scan→score→rank pass. */
  def bm25TopKFromBundle(
      path: String, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundScoreTo: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(queryIdCol != idCol,
      s"query and document id columns must differ, both are '$idCol'")
    requireNotReserved(idCol, queryIdCol)
    val spark = queries.sparkSession
    // driver-edge collect of the REQUEST batch (KBs by the same contract
    // that lets the inline path broadcast it — never the corpus), then a
    // driver-side replay of TextAnalysis.tokens + the per-query distinct;
    // the id column keeps its exact input type through the LocalRelation
    val qRows = queries.select(col(queryIdCol), col(queryTextCol)).collect()
    val qtRows = qRows.flatMap { r =>
      TextAnalysis.tokensLocal(Option(r.get(1)).map(_.toString).orNull)
        .distinct
        .map(t => org.apache.spark.sql.Row(r.get(0), t))
    }
    val qtSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(queryIdCol,
        queries.schema(queryIdCol).dataType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    val qt = spark.createDataFrame(
      java.util.Arrays.asList(qtRows: _*), qtSchema)
    val qTerms = qtRows.map(_.getString(1)).distinct.toSeq
    val stats = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("double").as("__N"),
        (col("sum_dl").cast("double") / col("n_docs")).as("__avgdl"))
    val dfFrame = spark.read.parquet(s"$path/terms")
      .filter(col("term").isin(qTerms: _*))
    // one-row stats attach: intended BNLJ (no-equi-key, see bm25TopK)
    val qArm = qt
      .join(dfFrame.hint("shuffle_hash"), Seq("term"))
      .withColumn("__one", lit(1))
      .join(stats.withColumn("__one", lit(1)), Seq("__one"))
      .select(col(queryIdCol), col("term"), col("__avgdl"),
        log(lit(1.0) + (col("__N") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("__idf"))
    val scored = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(qTerms: _*)) // literal → PushedFilters
      .join(broadcast(qArm), Seq("term"))
      .withColumn("__s",
        col("__idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__s")), roundScoreTo).as("score"))
    graft.ops.TopK.perGroupRanked(
        scored, Seq(queryIdCol), Seq(col("score").desc, col(idCol)), k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /** [[tfidfForVocab]] served from a [[writeIndexBundle]] — identical
    * results without touching the corpus text or running any corpus-wide
    * aggregate: tf from the term-pruned postings scan (literal `term IN`
    * filter → row-group pruning), df from the terms sidecar, N from the
    * stats sidecar. The sparse-feature serving path beside
    * [[bm25TopKFromBundle]]. */
  def tfidfFromBundle(
      spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String,
      vocab: Seq[String], roundTo: Int = 4): DataFrame = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    requireNotReserved(idCol)
    val v = vocab.distinct
    val stats = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("double").as("__N"))
    val dfFrame = spark.read.parquet(s"$path/terms")
      .filter(col("term").isin(v: _*))
    val sub = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(v: _*)) // literal → PushedFilters
      .select(col(idCol), col("term"), col("tf"))
    sub.join(broadcast(dfFrame), Seq("term"))
      .withColumn("__one", lit(1))
      .join(broadcast(stats.withColumn("__one", lit(1))), Seq("__one"))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log(lit(1.0)
          + (col("__N") - col("df") + lit(0.5)) / (col("df") + lit(0.5))),
          roundTo).as("tfidf"))
  }

  /** TF-IDF document term weights for the query vocabulary — the linear
    * sibling of [[bm25TopK]] for cosine/dot retrieval and for feeding
    * sparse features to a downstream classifier. Same declarative
    * vocab-kernel frame, same broadcast query vocabulary; returns one row per
    * (doc, term ∈ vocab) with `tf`, `df` and `tfidf` = tf · ln(1 + (N −
    * df + 0.5)/(df + 0.5)).
    */
  def tfidfForVocab(
      corpus: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    require(vocab.nonEmpty, "vocab must be non-empty")
    requireNotReserved(idCol)
    val vs = vocab.distinct
    // ONE vocab-restricted kernel pass ([[graft.functions.VocabTfs]]):
    // the per-doc frame is (id, has_tok, |vocab| counts) — the full
    // posting stream (every distinct term × every doc) that the previous
    // form materialized only to keep |vocab| terms of it never exists.
    // The plan stays declarative: the collection stats and the tf stream
    // each re-run the kernel pass, map-only, and a cloned rep re-pays
    // every pass like the oracle engine does.
    val narrow = graft.ops.Par.fanOutSmallScan(corpus)
      .select(col(idCol), GraftColumnBridge.column(graft.functions.VocabTfs(
        GraftColumnBridge.expression(col(textCol)), vs)).as("__v"))
    // ONE collection-statistics aggregate carries BOTH N (docs with ≥1
    // kept token, same choice as bm25TopK) and the per-term document
    // frequencies as a |vocab|-length array — a single one-row broadcast
    // replaces the former term-keyed dfFrame join + separate stats
    // attach (two broadcast builds → one; the posting stream indexes the
    // array by its own explode position)
    val stats = narrow.agg(
      sum(when(col("__v.has_tok"), 1L).otherwise(0L))
        .cast("double").as("__N"),
      array(vs.indices.map(i =>
        sum(when(element_at(col("__v.tfs"), i + 1) > 0L, 1L)
          .otherwise(0L))): _*).as("__dfs"))
    val sub = narrow
      .select(col(idCol), posexplode(col("__v.tfs")))
      .filter(col("col") > 0)
    val dfc = element_at(col("__dfs"), col("pos") + 1)
    sub.withColumn("__one", lit(1))
      .join(broadcast(stats.withColumn("__one", lit(1))), Seq("__one"))
      .select(col(idCol),
        element_at(typedLit(vs), col("pos") + 1).as("term"),
        col("col").as("tf"),
        dfc.as("df"),
        round(col("col") * log(lit(1.0)
          + (col("__N") - dfc + lit(0.5)) / (dfc + lit(0.5))),
          roundTo).as("tfidf"))
  }

  /** Diversified re-rank: the final top-`k` per query may contain at most
    * `maxPerKey` results sharing a diversity key (source, domain, host) —
    * the standard result-diversification cap, and the retrieval face of
    * the same source-balancing concern the mixtures handle corpus-side.
    *
    * Semantics are EXACTLY the greedy scan ("walk the base ranking in
    * order, skip a doc once its key holds `maxPerKey`"): a doc survives
    * the greedy iff it is within its key's best `maxPerKey` under the
    * total order AND among the global best `k` of those survivors — so
    * the plan is two bounded-heap passes ([[graft.ops.TopK]], state
    * ≤ maxPerKey then ≤ k per group), no Window, no per-query sort.
    * `orderBy` must be a TOTAL order (tie-break on the id) or the two
    * formulations can disagree on ties. Null diversity keys form their
    * own capped group (a missing source is still one source).
    */
  def diversifyTopK(
      ranked: DataFrame, queryIdCol: String, diversityCol: String,
      orderBy: Seq[Column], k: Int, maxPerKey: Int,
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(maxPerKey >= 1, s"maxPerKey must be positive, got $maxPerKey")
    val within = graft.ops.TopK.perGroup(
      ranked, Seq(queryIdCol, diversityCol), orderBy, maxPerKey)
    graft.ops.TopK.perGroupRanked(
      within, Seq(queryIdCol), orderBy, k, rankCol)
  }
}
