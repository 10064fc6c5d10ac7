package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/domain-level curation operators — the stage every web-scale
  * training pipeline runs between quality gating and dedup (north-star
  * extension; the reference has no web-corpus analogue): host extraction,
  * registered-domain rollups, domain blocklist filtering, and per-host
  * document caps.
  *
  * Scale posture: extraction is MAP-ONLY — one RE2/Java-portable
  * `regexp_extract` plus array slicing, no UDF, no shuffle; the corpus
  * streams through the scan once. The only exchanging operators are the
  * per-domain aggregate (one partial-agg'd shuffle on the domain — domain
  * cardinality is millions, not corpus-sized, so the reduce side is tiny)
  * and the host cap (the bounded-heap [[graft.ops.TopK]] operator:
  * O(hosts·k) state, no per-host sort). Blocklists are KBs–MBs: the
  * column form compiles into the scan as an `isin` predicate (zero
  * shuffle, pushes down), the frame form broadcast-anti-joins.
  *
  * Registered-domain note: real pipelines resolve the public-suffix list
  * (PSL) — a data file of >9k suffix rules. The engine keeps the RULE
  * MECHANISM (multi-label public suffixes take one extra label) and ships
  * a small default list of common two-label suffixes; production callers
  * pass the full PSL-derived set via `multiLabelSuffixes` — same plan, a
  * longer `isin` literal (still a broadcast-free scan predicate at any
  * list size that fits a task binary).
  */
object UrlOps {

  /** Host part of a URL: scheme-optional (`https://…`, `//cdn.…`), strips
    * userinfo, port, path/query/fragment; lowercased. One portable
    * regex — RE2/Java common subset (no lookaround, no backreferences) so
    * the same pattern string runs in Spark, the DuckDB oracle and
    * RE2-based auditors. Non-URL text yields NULL. */
  val HostPattern: String =
    "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/@?#]*@)?([^/:?#]+)"

  def host(url: Column): Column =
    nullif(lower(regexp_extract(url, HostPattern, 1)), lit(""))

  /** Two-label public suffixes the default [[registeredDomain]] treats as
    * one TLD unit (so `a.example.co.uk` rolls up to `example.co.uk`, not
    * `co.uk`). Deliberately small — see the PSL note in the object doc. */
  val DefaultMultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "co.jp",
    "co.in", "com.br", "com.cn", "co.kr", "com.mx")

  /** Registered domain (site owner granularity) of a host: the last two
    * labels, or three when the trailing two are a multi-label public
    * suffix. Hosts with a single label (`localhost`) pass through; NULL
    * host stays NULL. Pure array slicing over one split — map-only. */
  def registeredDomain(
      hostCol: Column,
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): Column = {
    val parts = split(hostCol, "\\.")
    val last2 = concat_ws(".", slice(parts, -2, 2))
    val last3 = concat_ws(".", slice(parts, -3, 3))
    when(hostCol.isNull, lit(null))
      .when(size(parts) >= 3 && last2.isin(multiLabelSuffixes: _*), last3)
      .when(size(parts) >= 2, last2)
      .otherwise(hostCol)
  }

  /** Query-parameter keys dropped by [[canonicalUrl]] (click/campaign
    * trackers that fan one logical page into many crawl URLs); any key
    * starting with `utm_` is dropped as well. */
  val DefaultTrackingParams: Seq[String] = Seq(
    "gclid", "fbclid", "msclkid", "mc_eid", "igshid", "ref", "ref_src")

  /** Canonical form of a URL for crawl-grain dedup — the normalization a
    * web pipeline applies BEFORE any content pass, so the same logical
    * page fetched under tracker/case/port variants collapses to one row:
    *
    *  - scheme and host lowercase; userinfo stripped
    *  - default ports dropped (`:80` for http, `:443` for https)
    *  - fragment dropped; empty path becomes `/`
    *  - query parameters: tracking keys removed (`utm_*` +
    *    `trackingParams`), survivors sorted byte-lexicographically and
    *    re-joined (param ORDER is presentation, not identity)
    *
    * Map-only: four RE2/Java-portable `regexp_extract`s plus array
    * filter/sort over the handful of params — no UDF, no shuffle, and the
    * DuckDB oracle replays the same surgery. Non-URL text (no `//host`)
    * yields NULL — a dedup caller must keep such rows (only drop what you
    * can attribute). */
  def canonicalUrl(
      url: Column,
      trackingParams: Seq[String] = DefaultTrackingParams): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    val h = host(url)
    val port = regexp_extract(url,
      "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/@?#]*@)?[^/:?#]+:(\\d+)", 1)
    val rawPath = regexp_extract(url,
      "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/@?#]*@)?[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val keptParams = array_sort(filter(split(query, "&"), p => {
      val key = lower(substring_index(p, "=", 1))
      length(p) > 0 && !key.startsWith("utm_") &&
        !key.isin(trackingParams: _*)
    }))
    val portPart = when(
      port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathPart = when(rawPath === "", lit("/")).otherwise(rawPath)
    val queryPart = when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&")))
      .otherwise(lit(""))
    when(h.isNull, lit(null).cast("string"))
      .otherwise(concat(
        when(scheme === "", lit("")).otherwise(concat(scheme, lit(":"))),
        lit("//"), h, portPart, pathPart, queryPart))
  }

  /** Crawl-grain dedup: keep the first row (by `orderCol`) per
    * [[canonicalUrl]]; rows whose URL does not parse pass through (the
    * blocklist/cap attribution principle) — deduped only by FULL-ROW
    * equality (a row identical in every column to another is itself a
    * duplicate; distinct unparseable rows all survive). Appends
    * `canonical_url`. SINGLE PASS over the input (round-18 verdict: the
    * old filter/filter/union shape scanned — and canonicalized — the
    * corpus twice): unparseable rows stay in the same aggregate as
    * (near-)singleton groups via a DETERMINISTIC second key — the
    * xxhash64 of the whole row. Deterministic matters: a
    * `monotonically_increasing_id` grouping key re-assigns ids when a
    * lost shuffle map output recomputes, so retried reducers could see
    * null-URL rows double or vanish (self-review round 19); a content
    * hash is stable across retries. One hash exchange on the canonical
    * key — the text never shuffles when callers project it out first,
    * and at crawl scale this runs BEFORE content dedup so every
    * downstream stage sees fewer rows. */
  def dedupByCanonicalUrl(
      df: DataFrame, urlCol: String, orderCol: String,
      trackingParams: Seq[String] = DefaultTrackingParams): DataFrame = {
    require(!df.columns.contains("canonical_url"),
      "dedupByCanonicalUrl appends 'canonical_url' — input already has one")
    require(!df.columns.contains("__nul_id"),
      "dedupByCanonicalUrl uses an internal '__nul_id' column — rename " +
        "the input's")
    val withC = df.withColumn(
      "canonical_url", canonicalUrl(col(urlCol), trackingParams))
    val keyed = withC.withColumn("__nul_id",
      when(col("canonical_url").isNull,
        xxhash64(df.columns.map(col).toIndexedSeq: _*))
        .otherwise(lit(0L)))
    graft.ops.TimeSeriesOps.dedupKeepFirst(
        keyed, Seq("canonical_url", "__nul_id"), orderCol)
      .drop("__nul_id")
  }

  /** Leakage-free train/val/test split at REGISTERED-DOMAIN grain: every
    * row's assignment is a deterministic hash of its domain — never of
    * the document — so all pages of a site land in ONE split and
    * near-duplicate pages (boilerplate variants, mirrored articles)
    * cannot straddle the train/eval boundary. Rows whose URL yields no
    * host fall back to hashing the raw URL string (still deterministic;
    * each such row is its own unit); a NULL url yields a NULL unit and
    * lands in 'test' — the conservative side of the boundary (a row you
    * cannot attribute must never leak into training). Appends
    * `split_unit` (the grouping
    * identity) and `split` ('train'/'val'/'test'); shares are
    * `trainPct` / `valPct` / the remainder, in EXPECTATION over domains
    * — actual row shares follow the domain-size distribution, the price
    * of leakage safety. Map-only: one md5 per row, no shuffle — the
    * split column is then a partition-pruning friendly write key. */
  def domainSplit(
      df: DataFrame,
      urlCol: String,
      trainPct: Int = 80,
      valPct: Int = 10,
      seed: String = "split",
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split shares: train=$trainPct val=$valPct")
    require(!df.columns.contains("split_unit") && !df.columns.contains("split"),
      "domainSplit appends 'split_unit' and 'split' — input already has one " +
        "(a silent withColumn overwrite would clobber the caller's column)")
    val unit = coalesce(
      registeredDomain(host(col(urlCol)), multiLabelSuffixes), col(urlCol))
    val b = graft.ops.Sampling.portableBucket(unit, seed)
    df.withColumn("split_unit", unit)
      .withColumn("split",
        when(b < trainPct, lit("train"))
          .when(b < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Appends `host` and `domain` columns derived from `urlCol` — the
    * map-only extraction stage the other operators build on. */
  def withUrlParts(
      df: DataFrame, urlCol: String,
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(!df.columns.contains("host") && !df.columns.contains("domain"),
      "withUrlParts appends 'host' and 'domain' — input already has one")
    df.withColumn("host", host(col(urlCol)))
      .withColumn("domain", registeredDomain(col("host"), multiLabelSuffixes))
  }

  /** Per-registered-domain corpus stats: document count, distinct-host
    * count, token total (non-empty whitespace tokens — the engine's ONE
    * token definition, [[TextAnalysis.tokenCount]]). One shuffle on the
    * domain; token counting happens map-side BEFORE the exchange, so only
    * (domain, host, n) rows move — the text never shuffles. Returns
    * (domain, n_docs, n_hosts, n_tokens).
    *
    * SKEW posture: count/sum are partial-aggregated (a mega-domain's raw
    * rows combine map-side; the reducer sees one partial row per map
    * partition) and the distinct-host phase keys its first exchange on
    * (domain, host), spreading a domain across its hosts. The residual
    * hazard — a single (domain, host) pair owning most of the corpus
    * while map-side hash aggregation degrades (many groups per task →
    * sort-based fallback) — is what `saltBuckets > 0` covers: an
    * explicit three-stage cascade keyed (domain, host, salt) →
    * (domain, host) → (domain), every exchange carrying only aggregate
    * rows. Output is value-identical (all aggregates algebraic);
    * [[domainStatsAuto]] picks the posture from a sampled pre-count. */
  def domainStats(
      df: DataFrame, urlCol: String, textCol: String,
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes,
      saltBuckets: Int = 0): DataFrame = {
    val pruned = withUrlParts(df, urlCol, multiLabelSuffixes)
      .select(col("domain"), col("host"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("__n"))
    if (saltBuckets <= 0)
      pruned
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("__n")).as("n_tokens"))
    else
      pruned
        .withColumn("__salt", pmod(
          spark_partition_id() + monotonically_increasing_id(),
          lit(saltBuckets)))
        .groupBy(col("domain"), col("host"), col("__salt"))
        .agg(count(lit(1)).as("__d"), sum(col("__n")).as("__t"))
        .groupBy(col("domain"), col("host"))
        .agg(sum(col("__d")).as("__d"), sum(col("__t")).as("__t"))
        .groupBy(col("domain"))
        .agg(sum(col("__d")).as("n_docs"),
          count(lit(1)).as("n_hosts"),
          sum(col("__t")).as("n_tokens"))
  }

  /** [[domainStats]] with an automatic skew guard: a cheap sampled
    * pre-count (one narrow job over `1/sampleMod` of the rows, URL column
    * only — the text is never touched) estimates the hottest registered
    * domain's corpus share; at or above `maxKeyShare` the salted cascade
    * engages, otherwise the plain single-exchange plan runs. The sample
    * membership is a deterministic URL hash, so the decision is
    * reproducible across runs and cluster layouts. Both postures are
    * value-identical — the guard only picks the plan. */
  def domainStatsAuto(
      df: DataFrame, urlCol: String, textCol: String,
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes,
      maxKeyShare: Double = 0.2,
      sampleMod: Int = 100,
      saltBuckets: Int = 32): DataFrame = {
    require(maxKeyShare > 0 && maxKeyShare <= 1,
      s"maxKeyShare must be in (0, 1], got $maxKeyShare")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val sampled = df
      .filter(pmod(xxhash64(col(urlCol)), lit(sampleMod)) === 0)
      .select(registeredDomain(host(col(urlCol)), multiLabelSuffixes)
        .as("__dom"))
      .groupBy(col("__dom")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("__max"),
        coalesce(sum(col("__c")), lit(0L)).as("__tot"))
      .head()
    val (hot, tot) = (sampled.getLong(0), sampled.getLong(1))
    val skewed = tot > 0 && hot.toDouble / tot >= maxKeyShare
    domainStats(df, urlCol, textCol, multiLabelSuffixes,
      if (skewed) saltBuckets else 0)
  }

  /** Drops every document whose registered domain is in `blocked` — the
    * blocklist as a COLUMN PREDICATE: compiles to `NOT domain IN (…)`
    * inside the scan stage, zero shuffle, pushes down with the other
    * filters. The right form for the common case (a literal list that
    * fits the task binary). Keeps all original columns. */
  def dropBlockedDomains(
      df: DataFrame, urlCol: String, blocked: Seq[String],
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist — nothing to drop")
    val dom = registeredDomain(host(col(urlCol)), multiLabelSuffixes)
    // null domain (unparseable URL) is NOT blocked: isin(null) is null,
    // and a blocklist must only drop what it names
    df.filter(!coalesce(dom.isin(blocked: _*), lit(false)))
  }

  /** [[dropBlockedDomains]] for a blocklist that lives in a table (the
    * curated-denylist-service shape): broadcast LEFT ANTI join on the
    * registered domain — the corpus side never shuffles; the blocklist
    * (KBs–MBs by nature) ships to every task. `blocklist` must expose
    * `domainCol` with registered-domain values. */
  def dropBlockedDomains(
      df: DataFrame, urlCol: String,
      blocklist: DataFrame, domainCol: String): DataFrame = {
    require(!df.columns.contains("__graft_dom"),
      "input already has the internal __graft_dom column")
    val withDom = df.withColumn("__graft_dom", registeredDomain(host(col(urlCol))))
    withDom.join(
        broadcast(blocklist.select(col(domainCol).as("__graft_dom")).distinct()),
        Seq("__graft_dom"), "left_anti")
      .drop("__graft_dom")
  }

  /** Caps any one HOST's share of the corpus at `k` documents, chosen in
    * deterministic hash-priority order ([[graft.ops.Sampling.hashPriority]]
    * — seed-switchable, partition-independent, portable): the "no single
    * site dominates the corpus" rule. The cap is the bounded-heap
    * [[graft.ops.TopK.perGroupRanked]] operator — O(hosts·k) state around
    * one exchange, no Window, no per-host sort. Returns the surviving rows
    * with `host` and `rank` (1 = best) appended.
    *
    * Documents whose URL yields no host (unparseable / missing) are KEPT,
    * with `host` and `rank` NULL — the cap, like [[dropBlockedDomains]]
    * and [[dropLowQualityDomains]], only acts on what it can attribute.
    * Null-host rows bypass the TopK entirely (a scan-level filter, no
    * extra shuffle) and union back below it, so they never pool into one
    * artificial capped group. Cost note: the two branches each read the
    * input, so an uncached file-backed corpus is SCANNED TWICE (both
    * scans are parquet-pushdown-friendly and the null-host branch is
    * typically a sliver, but at web scale callers who already pay to
    * materialize the keyed frame should `persist` it first — or drop
    * unparseable-URL rows upstream, which collapses this to one scan). */
  def capPerHost(
      df: DataFrame, urlCol: String, idCol: String, k: Int,
      seed: String = "42",
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(!df.columns.contains("host") && !df.columns.contains("rank"),
      "capPerHost appends 'host' and 'rank' — input already has one")
    val keyed = df.withColumn("host", host(col(urlCol)))
    val capped = graft.ops.TopK.perGroupRanked(
        keyed.filter(col("host").isNotNull)
          .withColumn("__pri", graft.ops.Sampling.hashPriority(col(idCol), seed)),
        Seq("host"), Seq(col("__pri"), col(idCol)), k)
      .drop("__pri")
    capped.unionByName(
      keyed.filter(col("host").isNull)
        .withColumn("rank", lit(null).cast("int")))
  }

  /** DOMAIN-LEVEL quality gate: drop every document whose registered
    * domain's MEAN of `scoreCol` falls below `minMeanScore` — the
    * "spammy sites are spammy everywhere" curation rule (document-level
    * scores are noisy; the domain mean is the robust signal web-scale
    * pipelines act on). Documents with an unparseable URL (NULL domain)
    * are kept: the gate only drops what it can attribute.
    *
    * Plan: two passes over the corpus, neither shuffling the text —
    *  1. the stats pass prunes to (domain, score) before its one
    *     domain-keyed partial-agg'd exchange (domain cardinality is
    *     millions, not corpus-sized);
    *  2. the gate pass is a broadcast LEFT ANTI join against the BAD
    *     domain set (below-threshold domains are the pathological
    *     minority — blocklist-shaped).
    *
    * Threshold comparisons tolerate cross-engine float-summation-order
    * ulps by the usual margin argument: a domain mean sits within 1e-15
    * of the threshold only adversarially.
    */
  def dropLowQualityDomains(
      df: DataFrame, urlCol: String, scoreCol: String,
      minMeanScore: Double,
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(!df.columns.contains("__graft_dom"),
      "input already has the internal __graft_dom column")
    val withDom = df.withColumn("__graft_dom",
      registeredDomain(host(col(urlCol)), multiLabelSuffixes))
    val bad = withDom
      .filter(col("__graft_dom").isNotNull)
      .select(col("__graft_dom"), col(scoreCol))
      .groupBy(col("__graft_dom"))
      .agg(avg(col(scoreCol)).as("__mean"))
      .filter(col("__mean") < minMeanScore)
      .select(col("__graft_dom"))
    withDom.join(broadcast(bad), Seq("__graft_dom"), "left_anti")
      .drop("__graft_dom")
  }

  /** [[dropLowQualityDomains]] for consumers that do NOT need the heavy
    * columns (text) back — the audit/accounting shape: project to
    * `keepCols` + the score + the registered domain, lazily
    * `localCheckpoint` that NARROW frame, and run BOTH the domain-mean
    * aggregate and the anti-join from its materialized blocks (the
    * [[graft.ext.TextAnalysis.pruneBottomQuantile]] pattern). One
    * score/URL-parse pass instead of two; the text never shuffles and is
    * never even materialized. Returns `keepCols` + `scoreCol` rows of the
    * surviving docs — re-attach heavy columns by key afterwards if
    * needed. Rows are identical to [[dropLowQualityDomains]] projected to
    * the same columns (UrlOpsSpec pins it). */
  def dropLowQualityDomainsNarrow(
      df: DataFrame, urlCol: String, scoreCol: String,
      minMeanScore: Double,
      keepCols: Seq[String],
      multiLabelSuffixes: Seq[String] = DefaultMultiLabelSuffixes): DataFrame = {
    require(!df.columns.contains("__graft_dom"),
      "input already has the internal __graft_dom column")
    val narrow = df
      .withColumn("__graft_dom",
        registeredDomain(host(col(urlCol)), multiLabelSuffixes))
      .select(keepCols.map(col) :+ col(scoreCol) :+ col("__graft_dom"): _*)
      .localCheckpoint(eager = false) // materialized by the bad-domain agg
    val bad = narrow
      .filter(col("__graft_dom").isNotNull)
      .groupBy(col("__graft_dom"))
      .agg(avg(col(scoreCol)).as("__mean"))
      .filter(col("__mean") < minMeanScore)
      .select(col("__graft_dom"))
    narrow.join(broadcast(bad), Seq("__graft_dom"), "left_anti")
      .drop("__graft_dom")
  }
}
