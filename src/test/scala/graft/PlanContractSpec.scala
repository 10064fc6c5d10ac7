package graft

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts: the scale-critical properties PLANS.md claims, asserted
  * over EVERY declared query's physical plan so a refactor cannot silently
  * regress them. Plans are built at sf0.001; nothing executes except the
  * training jobs some queries run at construction and the memo
  * fault-injection test, which runs every memoized query twice.
  */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }

  test("no query plans a cartesian product; broadcast nested loops only " +
      "where a bounded side is documented") {
    // brute-force ANN broadcasts the BOUNDED query set into a nested-loop
    // scoring pass — that is the documented plan, not an accident; the
    // band join broadcasts its 10-row literal band table; keyset
    // pagination its ONE-ROW anchor; j2/a4's broadcast side is the
    // sequence()-generated calendar grid — bounded by the DATE SPAN, not
    // the corpus (text_quality_prune's former one-row threshold join is
    // now a scalar subquery — no join at all)
    // ret_bm25/ret_tfidf cross-broadcast their ONE-ROW collection-stats
    // frame (N, avgdl) onto the vocab-sized arm — same class
    // (text_mixture_temp's former crossJoin(broadcast(scalars)) is now a
    // global window over the tiny bucket frame — no nested loop at all)
    // ret_bm25_serve attaches its ONE-ROW stats SIDECAR the same way —
    // the literal __one key constant-folds away and the join planizes
    // as a nested loop over one row; ret_bm25_diverse inherits the same
    // one-row sidecar from bm25TopKFromBundle (identical class)
    // text_quality_prune's declarative bench posture attaches its
    // ONE-ROW percentile-threshold frame the same way (in-plan broadcast
    // instead of a subquery, whose SubqueryExec-cached result a plan
    // clone would silently reuse)
    val boundedLoop = Set("sim_topk", "sim_hard_negatives", "j5_band_join",
      "o10_keyset", "j2_calendar_fill", "a4_asfreq",
      "ret_bm25", "ret_tfidf", "ret_bm25_serve", "ret_tfidf_serve",
      "ret_bm25_diverse", "text_quality_prune")
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
      if (!boundedLoop(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin (unbounded side?):\n$p")
    }
  }

  test("ANN similarity tails rank via the bounded-heap operator, never a Window") {
    // o6_topk_group is deliberately the declarative rank().over(window)
    // BASELINE that o8/o9 twin natively — it is exempt here and belongs
    // to the window family below
    // dedup_corpus_overlap's bottom-k is the same bounded-heap contract:
    // k rows survive the heap, the hash universe never sorts
    Seq("sim_topk", "sim_hard_negatives", "sim_lsh_topk",
        "sim_lsh_portable", "sim_ivf_topk",
        "sim_ivf_portable", "o8_topk_native", "o9_topk_ranked",
        "dedup_corpus_overlap")
      .foreach { name =>
        assert(plans(name).contains("TopKPerGroup"),
          s"$name lost its TopKPerGroup operator")
        assert(!plans(name).contains("Window"),
          s"$name plans a Window node:\n${plans(name)}")
      }
  }

  test("the one global-window query stays quarantined to o7_page") {
    // o7_page is the documented naive driver-edge form that o10_keyset
    // replaces at scale; no OTHER non-window-family query may grow a
    // single-partition global window
    val windowFamily = Set("o7_page", "w8_session", "w9_ranks",
      "w10_range_frame", "w11_value_windows", "w1_windows", "w4_xy",
      "w2_seq_stats", "w3_slice", "w5_split", "w7_horizon", "j3_positional",
      "j1_surrogate_key", "pack_bins", "a12_freq_infer", "a12_freq_modal",
      "j4_asof", "j7_asof_forward", "j8_asof_tolerance", "p5_dedup_first",
      "o2_head", "o5_reverse", "o6_topk_group", "o10_keyset",
      // dedup_containment shares ngramPairCounts (the posting-list core,
      // incl. its per-gram doc-freq-cap window) with dedup_ngram_jaccard
      "dedup_paragraphs", "dedup_ngram_jaccard", "dedup_containment",
      "dedup_embedding", "dedup_keep_best",
      "dedup_embedding_lsh", "dedup_semantic", "w6_weekend",
      // text_mixture's two windows (and text_mixture_temp's — same
      // mixtureSelect core) are both bounded by construction —
      // bucket-level over the per-(group,bucket) aggregate (≤ numBuckets
      // rows per group), doc-level over only the one straddling bucket —
      // and MixtureSpec pins both shapes against regression
      "text_mixture", "text_mixture_temp",
      // p12's window partitions by the uniform hash shard — corpus/nShards
      // per partition by construction, and the per-shard sort IS the
      // operator's contract (the write layout); ShardingSpec pins balance
      "p12_shard_assign",
      // packSequences' doc-grain prefix-sum window partitions by the
      // caller's shard key — same p12 class (shard count is the
      // parallelism knob, the per-shard order IS the concat contract)
      "text_pack_ids", "pipeline_pack", "text_pack_bpe",
      // globalValueRanksBoundedDomain's running-count window reads the
      // DISTINCT-VALUE frame (bounded by the rounded-score domain, never
      // the corpus; RanksSpec pins ≡ the naive window and ≡ the general
      // range-partitioned form)
      "o11_global_rank",
      // distributionDrift's window reads the groups×buckets histogram
      // frame (bounded by the bucket codomain; SnapshotAuditSpec pins
      // every window spec partitions by the group column)
      "audit_dist_drift",
      // quantileNormalizeBoundedDomain's CDF window reads the
      // DISTINCT-rounded-score frame — bounded by the score codomain,
      // never the corpus (same argued class as o11_global_rank;
      // RanksSpec pins ≡ the naive percent_rank window)
      "text_quantile_norm",
      // a22's two windows (last-h split + naive-error lag) both
      // partition by the entity — bounded by one series' length, the
      // w1/w3 class
      "a22_forecast_metrics",
      // capBuckets' bucket-size count is a window partitioned by the LSH
      // bucket key (round-19 optimization): the former counts-aggregate +
      // shuffle-hash stats join computed the whole upstream signature map
      // TWICE; the window computes it once over one exchange. Each window
      // group is one LSH bucket — the skew the cap itself bounds — and
      // WindowExec's spillable buffer keeps a degenerate bucket on disk,
      // the same posture the old join had. Every capBuckets consumer
      // whose plan is not checkpoint-truncated lands here:
      "dedup_minhash_lsh", "dedup_minhash_pairs_portable",
      "dedup_simhash_pairs", "dedup_simhash_pairs_portable",
      "dedup_cross_minhash", "mm_image_neardup", "mm_video_dedup",
      "text_decontaminate_fuzzy", "text_decontaminate_fuzzy_portable",
      // sourceOverlap's two size-attach windows read the aggregated
      // pair-count frame — ≤ sources² rows (KBs), never the corpus; they
      // replaced the sizes-branch self-join that re-paid the corpus gram
      // pass (round-19); AuditOpsSpec pins values, the bounded class is
      // text_quantile_norm's
      "dedup_source_overlap")
    plans.foreach { case (name, p) =>
      if (!windowFamily(name))
        assert(!p.contains("Window"), s"$name unexpectedly plans a Window")
    }
  }

  test("retrieval ranks via the bounded heap over the narrow vocab kernel") {
    // the corpus never becomes a full posting stream — ONE VocabTfs
    // kernel projection per pass, static per-query scoring exploded
    // map-side, the one-row stats attach as a
    // BroadcastNestedLoopJoin (boundedLoop), TopK ranking, never a
    // per-query Window sort. The kernel must appear in PROJECTIONS only:
    // a Filter carrying it means PushPredicateThroughProject duplicated
    // the kernel eval per row (round-19 regression guard).
    Seq("ret_bm25").foreach { name =>
      val p = plans(name)
      assert(p.contains("TopKPerGroup"),
        s"$name lost its TopKPerGroup ranking:\n$p")
      assert(!p.contains("Window"), s"$name plans a Window node:\n$p")
      assert(p.contains("vocabtfs"),
        s"$name lost the narrow vocab kernel:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$name lost the one-row stats attach:\n$p")
      assert(!"Filter [^\\n]*vocabtfs".r.findFirstIn(p).isDefined,
        s"$name evaluates the vocab kernel inside a Filter (duplicated " +
          s"per-row eval):\n$p")
    }
    // the public operator called with its defaults plans the same pure
    // shape: no checkpointed RDD leaf a cloned repetition could re-read
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import spark.implicits._
    val q = Seq((1L, "customer data")).toDF("query_id", "qtext")
    val scaled = graft.ext.Retrieval.bm25TopK(
      docs, "doc_id", "text", q, "query_id", "qtext", k = 5)
    val sp = scaled.queryExecution.executedPlan.toString
    assert(!sp.contains("Scan ExistingRDD"),
      s"default bm25TopK grew a checkpoint back:\n$sp")
    assert(sp.contains("TopKPerGroup") && !sp.contains("Window"),
      s"default bm25TopK ranking shape regressed:\n$sp")
    assert(!"Filter [^\\n]*vocabtfs".r.findFirstIn(sp).isDefined,
      s"default bm25TopK evaluates the vocab kernel inside a Filter:\n$sp")
  }

  test("star joins broadcast their dimension sides") {
    Seq("q3_star_join", "j6_q5_region").foreach { name =>
      assert(plans(name).contains("BroadcastHashJoin"),
        s"$name lost its dimension broadcast:\n${plans(name)}")
    }
  }

  test("document-text dedup shuffles fingerprints, not text: banded joins stay shuffle-hash") {
    // minhash pair generation is join-free (bandedSigPairs posting-list
    // aggregate); since the round-19 capBuckets rewrite the bucket cap is
    // a window over ONE exchange, so the whole pair path must plan with
    // no join of any kind and no broadcast of a corpus-derived side
    Seq("dedup_minhash_pairs_portable").foreach { name =>
      val p = plans(name)
      assert(p.contains("Window"),
        s"$name lost the single-exchange bucket-cap window:\n$p")
      assert(!p.contains("Join"),
        s"$name grew a join (capBuckets stats join resurrected? " +
          s"broadcast of a corpus-sized side?):\n$p")
    }
    // simhash pair generation keeps its banded self-join: both sides must
    // stay shuffle-hash (the size estimate under the explode is tiny, so
    // an unhinted plan would broadcast the banded corpus)
    Seq("dedup_simhash_pairs_portable")
      .foreach { name =>
        assert(plans(name).contains("ShuffledHashJoin"),
          s"$name banded pair join is no longer shuffle-hash (broadcast " +
            s"of a corpus-sized side?):\n${plans(name)}")
      }
    // embedding-pair family: under the block-cap's filter Catalyst's size
    // estimate collapses, and without the pinned hint it would BROADCAST a
    // corpus-sized side (the hint lives in embeddingNearDuplicates)
    Seq("dedup_embedding", "dedup_embedding_lsh", "dedup_semantic")
      .foreach { name =>
        assert(plans(name).contains("ShuffledHashJoin"),
          s"$name within-block pair join is no longer shuffle-hash:\n" +
            plans(name))
      }
    // perceptual media dedup inherits the same contract: the banded/
    // bucketed pair joins shuffle 8-byte signatures (the pinned hint in
    // hammingNearDuplicates / videoNearDuplicates), never broadcast a
    // corpus-sized side, and the pixels stay inside the decode map stage
    Seq("mm_image_neardup", "mm_video_dedup").foreach { name =>
      assert(plans(name).contains("ShuffledHashJoin"),
        s"$name signature pair join is no longer shuffle-hash:\n" +
          plans(name))
      assert(!plans(name).contains("BroadcastHashJoin"),
        s"$name broadcasts a corpus-derived side:\n${plans(name)}")
    }
  }

  test("fuzzy decontamination broadcasts the benchmark; corpus reaches the " +
      "pair join without shuffling; compression stats are map-only") {
    val p = plans("text_decontaminate_fuzzy")
    // the banded cross join builds on the BENCHMARK side only — a shuffle
    // join here would exchange the banded corpus; a corpus-side broadcast
    // would collect it onto the driver
    assert(p.contains("BroadcastHashJoin"),
      s"text_decontaminate_fuzzy lost the broadcast benchmark build:\n$p")
    // everything between the pair join and its broadcast build side is the
    // streamed (corpus) subtree: signatures + banding must pipeline into
    // the join with no exchange (the url_blocklist contract pattern)
    val streamed = p.substring(
      p.indexOf("BroadcastHashJoin"), p.indexOf("BroadcastExchange"))
    assert(!streamed.contains("Exchange hashpartitioning"),
      s"text_decontaminate_fuzzy shuffles the banded corpus before the " +
        s"pair join:\n$p")
    val c = plans("text_compression")
    // one kernel eval per row, nothing joins back: the only exchange is
    // the final ordering
    assert(!c.toLowerCase.contains("join"),
      s"text_compression grew a join:\n$c")
    assert(!c.contains("Exchange hashpartitioning"),
      s"text_compression shuffles beyond the ordering exchange:\n$c")
  }

  test("contamination attribution report: single-pass kernel, no join, " +
      "one corpus scan, only the |bench|-bounded aggregate exchanges") {
    val p = plans("text_contamination_report")
    // bounded-benchmark posture (round-16): the posting table folds into
    // one BenchOverlap eval per corpus doc — no gram join of any kind and
    // no corpus×bench pair exchange remain in the executed plan
    assert(p.contains("benchoverlap"),
      s"text_contamination_report lost its single-pass kernel:\n$p")
    assert(!p.contains("Join"),
      s"text_contamination_report grew a join (kernel path lost?):\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"text_contamination_report scans beyond the corpus side:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"),
        s"text_contamination_report shuffles document text:\n$l"))
  }

  test("contamination attribution: held-out-split posture (unbounded " +
      "benchmark) shuffle-hashes the gram join, no sizes join, " +
      "text never exchanges") {
    // the corpus-scale posture the report query no longer exercises —
    // pinned here by direct construction so a refactor cannot silently
    // regress the plan a 100-TB held-out audit relies on
    val docs = sources.Tables.load(spark, dir, "documents")
    val p = graft.ext.Dedup.contaminationAttribution(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
        "doc_id", "doc_id", "text", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"held-out attribution gram join is not shuffle-hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"held-out attribution grew a broadcast (sizes join came back?):\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"held-out attribution scans beyond corpus+bench (sizes rescan?):\n$p")
    // hash exchanges may carry the 8-byte gram keys (that IS the shuffle-
    // hash plan) but never document text
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text#"),
        s"held-out attribution shuffles document text:\n$l"))
  }

  test("edit-distance pairs: bounded-heap prefix selection, shuffle-hash " +
      "rarity join, no broadcast of a corpus-sized side") {
    val p = plans("dedup_edit_pairs")
    // per-doc k·q+1 rarest-gram prefixes come from the bounded heap —
    // a Window/sort here would be a per-doc vocabulary sort at scale
    assert(p.contains("TopKPerGroup"),
      s"dedup_edit_pairs lost its TopKPerGroup prefix selection:\n$p")
    // the gram-rarity attach is pinned shuffle-hash: the df frame is
    // vocabulary-sized (can exceed any broadcast threshold at corpus
    // scale) and the gram stream is corpus-sized
    assert(p.contains("ShuffledHashJoin"),
      s"dedup_edit_pairs rarity join is no longer shuffle-hash:\n$p")
    // text moves in exactly one exchange class: the exact-text-collapse
    // aggregate (one deduplicated row per distinct text, map-side
    // partial). The posting/pair exchanges must carry hashes only.
    val textExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("text#"))
      .size
    assert(textExchanges <= 1,
      s"dedup_edit_pairs text enters $textExchanges exchanges (collapse " +
        s"should be the only one):\n$p")
  }

  test("span dedup: window streams join shuffle-hash; text never enters " +
      "a pair exchange") {
    // both span queries: the occurrence/count join must stay shuffle-hash
    // (the under-the-explode estimate would broadcast a corpus-scale
    // aggregate), and every hash exchange carries only
    // (hash, id, pos)-shaped rows — the text column name must not appear
    // in any Exchange hashpartitioning line
    for (name <- Seq("dedup_spans", "text_span_dedup")) {
      val p = plans(name)
      assert(p.contains("ShuffledHashJoin"),
        s"$name window-count join is no longer shuffle-hash:\n$p")
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, s"$name lost its hash exchanges:\n$p")
      exchanges.foreach(l => assert(!l.contains("text#"),
        s"$name ships text through a hash exchange:\n$l"))
    }
  }

  test("quality prune: bench posture is declarative (one kernel per " +
      "branch, no join); default posture scores the corpus exactly once") {
    // bench query: fully declarative — the threshold branch and the
    // filter branch each run ONE QualityStats kernel eval (two total,
    // map-only), no checkpoint, and the one-row threshold
    // attaches via the in-plan broadcast (re-executed by every plan
    // clone, unlike a SubqueryExec-cached scalar subquery)
    val p = plans("text_quality_prune")
    assert("qualitystats".r.findAllIn(p.toLowerCase).length == 2,
      s"text_quality_prune kernel count changed (one per branch):\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"text_quality_prune bench posture grew a checkpoint back:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"text_quality_prune lost its one-row threshold broadcast:\n$p")
    // the public operator is the same one plan: no checkpointed RDD
    // leaf, one kernel eval per branch, the one-row threshold broadcast
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dp = graft.ext.TextAnalysis.pruneBottomQuantile(
        docs, "text", 0.25, Seq("doc_id", "lang"))
      .queryExecution.executedPlan.toString
    assert(!dp.contains("Scan ExistingRDD"),
      s"default pruneBottomQuantile grew a checkpoint back:\n$dp")
    assert("qualitystats".r.findAllIn(dp.toLowerCase).length == 2,
      s"default pruneBottomQuantile kernel count changed (one per branch):\n$dp")
    assert(dp.contains("BroadcastNestedLoopJoin"),
      s"default pruneBottomQuantile lost its one-row threshold broadcast:\n$dp")
  }

  test("URL curation: blocklist anti-join broadcasts; host cap uses the bounded heap") {
    val bl = plans("url_blocklist")
    assert(bl.contains("BroadcastHashJoin") && bl.contains("LeftAnti"),
      s"url_blocklist lost its broadcast anti-join:\n$bl")
    // the corpus (streamed) side must reach the join without shuffling:
    // everything between the join node and its BroadcastExchange build
    // side is the streamed subtree
    val streamed = bl.substring(
      bl.indexOf("BroadcastHashJoin"), bl.indexOf("BroadcastExchange"))
    assert(!streamed.contains("Exchange hashpartitioning"),
      s"url_blocklist shuffles the corpus side before the anti-join:\n$bl")
    val cap = plans("url_host_cap")
    assert(cap.contains("TopKPerGroup"),
      s"url_host_cap lost its bounded-heap operator:\n$cap")
    assert(!cap.contains("Window"),
      s"url_host_cap plans a Window node:\n$cap")
  }

  test("curation stages are map-only: their exchanges carry only aggregate/ordering rows") {
    // non-broadcast exchanges in the final plan; BroadcastExchange is a
    // build-side ship, not a corpus shuffle
    def shuffles(p: String): Int =
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
        .r.findAllIn(p).length
    // text_chunks: the explode amplifies rows INSIDE the scan stage — the
    // only exchange is Verify's output ordering
    val ch = plans("text_chunks")
    assert(ch.contains("Generate explode"),
      s"text_chunks lost its in-scan explode:\n$ch")
    assert(shuffles(ch) == 1,
      s"text_chunks grew a corpus exchange (expected ordering only):\n$ch")
    // text_normalize: ONE NFC kernel pass feeding a partial-agg'd lang
    // exchange + the ordering exchange — a second kernel occurrence would
    // mean the normalization is recomputed on both sides of a shuffle
    val nm = plans("text_normalize")
    assert("nfcnormalize".r.findAllIn(nm).length == 1,
      s"text_normalize evaluates the NFC kernel more than once:\n$nm")
    assert(shuffles(nm) == 2,
      s"text_normalize exchange count changed (lang agg + ordering):\n$nm")
    // text_boilerplate FINAL plan: the fit ran eagerly at construction;
    // the rewrite is one kernel eval with the probe table as a reference
    // object — no join back, no second rewrite
    val bp = plans("text_boilerplate")
    assert("removelinesinlongset".r.findAllIn(bp).length == 1,
      s"text_boilerplate rewrite is no longer a single kernel eval:\n$bp")
    assert(!bp.toLowerCase.contains("join"),
      s"text_boilerplate grew a probe join back (reference-object ship " +
        s"regressed):\n$bp")
    assert(shuffles(bp) == 2,
      s"text_boilerplate exchange count changed (lang agg + ordering):\n$bp")
    // url_domain_stats: count(distinct host) plans the standard two-level
    // aggregate — (domain,host) partial, domain final, ordering; token
    // counts are computed map-side so no exchange ever carries text
    val ds = plans("url_domain_stats")
    assert(!ds.toLowerCase.contains("join"),
      s"url_domain_stats grew a join:\n$ds")
    assert(ds.contains("partial_count"),
      s"url_domain_stats lost its map-side partial aggregation:\n$ds")
    assert(shuffles(ds) == 3,
      s"url_domain_stats exchange count changed (distinct-expand pair + " +
        s"ordering):\n$ds")
    // classifier gates: marker scoring and the pareto keep are pure map
    // work — the only exchange in either plan is Verify's ordering, and
    // neither plans a join at any corpus size
    Seq("text_clf_score", "text_clf_sample").foreach { name =>
      val p = plans(name)
      assert(!p.toLowerCase.contains("join"), s"$name grew a join:\n$p")
      assert(shuffles(p) == 1,
        s"$name grew a corpus exchange (expected ordering only):\n$p")
    }
  }

  test("memoization is derived per build: a table's first load does not " +
      "cost a query its memo") {
    // a fresh session keys fresh memo slots, and a cleared table cache
    // makes this build run the uncached parquet reads (schema-inference
    // jobs, no SQL execution) — the memo must not depend on call order
    val fresh = spark.newSession()
    sources.Tables.clearCache()
    assert(!SparkEntry.memoized(fresh, "q1_agg", dir))
    val built = SparkEntry.queries("q1_agg")(fresh, dir)
    assert(SparkEntry.memoized(fresh, "q1_agg", dir),
      "q1_agg's first build after Tables.clearCache() was not memoized")
    assert(SparkEntry.queries("q1_agg")(fresh, dir) eq built)
  }

  test("w5_split counts its rows inside the plan: memoized after one build") {
    val fresh = spark.newSession()
    assert(!SparkEntry.memoized(fresh, "w5_split", dir))
    SparkEntry.queries("w5_split")(fresh, dir)
    assert(SparkEntry.memoized(fresh, "w5_split", dir),
      "w5_split ran SQL at construction")
  }

  test("queries that run SQL at construction or plan over RDD leaves are " +
      "never memoized") {
    // lazy-localCheckpoint RDD leaves (the n-gram posting counts),
    // iterative label propagation, Lloyd training, the domain-gate
    // checkpoint — built twice, memoized neither time
    Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
        "sim_ivf_topk", "url_domain_gate").foreach { name =>
      (1 to 2).foreach { i =>
        SparkEntry.queries(name)(spark, dir)
        assert(!SparkEntry.memoized(spark, name, dir),
          s"$name was memoized after build $i")
      }
    }
  }

  test("every memoized query gives the same answer after all persistent " +
      "RDDs are released") {
    // fault injection: a memoized plan must not depend on block-manager
    // state — release every persistent RDD between two runs (what a
    // harness leak sweep or a lost executor does) and compare answers
    val memoized = plans.keys.toSeq.sorted
      .filter(SparkEntry.memoized(spark, _, dir))
    assert(memoized.size > 100, s"only ${memoized.size} queries memoized")
    def show(h: Try[String]): String = h.fold(
      e => s"${e.getClass.getName}: ${e.getMessage}".take(300), identity)
    val broken = memoized.flatMap { name =>
      def hash() =
        Try(GoldenHashes.contentHash(SparkEntry.queries(name)(spark, dir)))
      val before = hash()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val after = hash()
      if (before.isSuccess && after == before) None
      else Some(s"$name: ${show(before)} -> ${show(after)}")
    }
    assert(broken.isEmpty, broken.mkString("\n", "\n", ""))
  }

  test("scans prune columns: q1 reads only the aggregated lineitem columns") {
    val p = plans("q1_agg")
    val read = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.exists(s => !s.contains("l_comment") && !s.contains("l_partkey")),
      s"q1_agg reads more than it aggregates: $read")
  }
}
