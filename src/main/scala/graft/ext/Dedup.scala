package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extension; SURVEY.md §7.1 module `ext`). Designed scale-first: every
  * variant is a constant number of shuffles on bounded keys — no pairwise
  * O(n²) stage ever touches the full corpus, only LSH-bucketed candidates.
  */
object Dedup {

  /** Exact dedup, keep-first by `orderCol`: one hash shuffle on the key. */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    graft.ops.TimeSeriesOps.dedupKeepFirst(df, keyCols, orderCol)

  /** Second-hash salt for [[fingerprint128]] (golden-ratio constant; any
    * fixed value distinct from xxhash64's built-in seed works — prepending
    * it to the argument list yields a hash independent of the unsalted one). */
  val FingerprintSeed2 = 0x9E3779B97F4A7C15L

  /** 128-bit content fingerprint: a struct of two independent xxhash64
    * values (the second salted with [[FingerprintSeed2]]). A single 64-bit
    * fingerprint has ~3·10⁻² collision odds across 10⁹ documents (birthday
    * bound) — a collision silently MERGES two distinct documents, which at
    * the 100 TB design point is a correctness bug, not noise; two
    * independent 64-bit hashes push the odds to ~10⁻²¹. Still a pure map:
    * document text never shuffles when grouping on the fingerprint.
    *
    * NON-ADVERSARIAL assumption (advisor round-4): the collision bounds
    * hold in the random-oracle model, and the two halves are chained
    * xxhash64 evaluations (the second merely salted), not cryptographic
    * hashes — a hostile author CAN craft colliding documents and get a
    * distinct document silently dropped as a "duplicate". For corpora
    * where contributors are untrusted and dropping a targeted document is
    * a meaningful attack, key the dedup on a cryptographic digest instead
    * (e.g. `sha2(col, 256)` truncated to 128 bits: same struct shape,
    * same shuffle posture, ~2-3x the hash cost). */
  def fingerprint128(c: Column): Column =
    struct(xxhash64(c).as("f1"), xxhash64(lit(FingerprintSeed2), c).as("f2"))

  /** Word n-grams of a text column as an array column (distinct shingles).
    * Native one-pass kernel ([[graft.functions.WordNgrams]]): the previous
    * zip_with/slice/concat_ws tree evaluated its lambdas interpreted per
    * token (HOFs never reach codegen); the kernel tokenizes, joins, and
    * dedups in one eval call with identical output. */
  def wordNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.WordNgrams(GraftColumnBridge.expression(text), n))
  }

  /** 2^61 − 1 (Mersenne prime): the permutation modulus for MinHash. */
  val MinHashP = 2305843009213693951L

  private def minHashCoeffs(numHashes: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val p = MinHashP
    val rnd = new scala.util.Random(seed)
    val coeffs = Seq.fill(numHashes)(
      (math.abs(rnd.nextLong()) % (p - 1) + 1, math.abs(rnd.nextLong()) % p))
    (coeffs.map(_._1), coeffs.map(_._2))
  }

  /** MinHash signature ARRAY: hash each distinct shingle with xxhash64,
    * then k independent permutations h_i(x) = (a_i·x + b_i) mod p taken to
    * their minimum per document — zero shuffles, a pure map stage at any
    * scale. The k×|shingles| multiply-mod inner loop runs in the native
    * codegen kernel [[graft.functions.MinHashSigs]]; the equivalent
    * `transform`+`array_min` higher-order form evaluates its lambdas
    * interpreted and measured ~10× slower at sf0.1. Docs with no shingles
    * (or null text) get the sentinel `p` in every slot.
    *
    * Returns (idCol, outCol: array<long> of length k).
    */
  def minHashSignatureArray(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      seed: Long = 42L,
      outCol: String = "__sig"): DataFrame =
    // the shingle+hash map is the expensive pass of every MinHash
    // consumer; a sub-split parquet input would pin it to one task while
    // every other core idles (strict no-op at corpus scale — see
    // [[graft.ops.Par.fanOutSmallScan]])
    graft.ops.Par.fanOutSmallScan(df).select(col(idCol),
      minHashSignatureColumn(col(textCol), shingleLen, numHashes, seed).as(outCol))

  /** The production signature as a bare COLUMN expression (the map-only
    * core of [[minHashSignatureArray]]) — for callers that need the
    * signature alongside arbitrary other columns, e.g. the streaming
    * fuzzy-decontamination gate. Shingle-less/null docs get the sentinel
    * `MinHashP` in every slot. */
  def minHashSignatureColumn(
      text: Column,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val p = MinHashP
    val (as, bs) = minHashCoeffs(numHashes, seed)
    val hashes = GraftColumnBridge.column(graft.functions.XxHash64Array(
      GraftColumnBridge.expression(wordNgrams(text, shingleLen))))
    val sig = GraftColumnBridge.column(
      graft.functions.MinHashSigs(GraftColumnBridge.expression(hashes), as, bs, p))
    coalesce(sig, array((0 until numHashes).map(_ => lit(p)): _*))
  }

  /** MinHash signatures as k columns (minhash_0 … minhash_{k-1}) — the
    * column-per-hash view over [[minHashSignatureArray]]. */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      seed: Long = 42L): DataFrame =
    minHashSignatureArray(df, idCol, textCol, shingleLen, numHashes, seed)
      .select(col(idCol) +:
        (0 until numHashes).map(i =>
          element_at(col("__sig"), i + 1).as(s"minhash_$i")): _*)

  /** Cap LSH bucket membership before a pair stage: count rows per bucket
    * with a bucket-partitioned window over ONE exchange of the banded
    * stream, drop every bucket whose membership exceeds `cap`, and log the
    * drop count via [[DropMetrics]].
    *
    * Why this must exist at 100 TB: a boilerplate-heavy corpus puts 10⁶
    * near-identical docs into one (band, hash) bucket → 10¹² intra-bucket
    * pairs in a single task. Near-identical is not identical, so an exact
    * dedup upstream does NOT bound this. An over-cap bucket is by
    * construction a mass-duplicate group; the right handling is to route its
    * members to exact/cluster dedup, not to enumerate its pairs — so the cap
    * SKIPS the bucket (deterministically, whole-bucket) rather than sampling.
    */
  private[ext] def capBuckets(
      banded: DataFrame, keys: Seq[String], cap: Int, tag: String): DataFrame = {
    require(cap > 0, s"maxBucketSize must be positive, got $cap")
    // ONE pass over the (expensive) banded map stage: a bucket-partitioned
    // window count replaces the former counts-aggregate + shuffle-hash
    // stats join — that shape computed the ENTIRE upstream map (tokenize/
    // hash/signature/band-explode) TWICE, once into the partial-agg counts
    // exchange and once into the join's own exchange (round-19 profile:
    // two ~equal map stages per run). The window plans as
    // Exchange(hash keys) → Sort(keys) → Window, so the banded stream is
    // computed and exchanged exactly once; downstream same-key consumers
    // (bandedSigPairs' groupBy, the hamming self-join) reuse the
    // partitioning with no further exchange. WindowExec buffers one bucket
    // at a time in a spillable row array, so a degenerate bucket spills to
    // disk instead of blowing an aggregation buffer — the same bounded-
    // state posture the cap exists to protect.
    val withN = banded.withColumn("__bucket_n",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    DropMetrics.observe(withN, tag, Seq(
        sum(when(col("__bucket_n") > cap, lit(1L)).otherwise(lit(0L)))
          .as("dropped_rows"),
        max(col("__bucket_n")).as("max_bucket_size"),
        lit(cap.toLong).as("cap")))
      .filter(col("__bucket_n") <= cap)
      .drop("__bucket_n")
  }

  /** Same-bucket signature pairs from a capped banded stream, WITHOUT a
    * self-join: `capped` leaves [[capBuckets]]'s stats join already
    * partitioned by the bucket key, so collecting each bucket's (id, sig)
    * posting list is a zero-exchange aggregate — memory-safe BY
    * CONSTRUCTION, the cap bounds every list (never collect an uncapped
    * bucket stream) — and the value-ordered pairs explode positionally
    * from the sorted list (ids are unique within a bucket, so position
    * order IS id order). Signature agreement is counted per banded pair by
    * the native [[graft.functions.LongArrayMatchCount]] kernel BEFORE the
    * cross-band dedup, so the dedup exchange moves (long, long, int) rows
    * — the earlier self-join form shipped both full k-long signatures
    * through the pair distinct (~20× the bytes at k=32) and evaluated the
    * zip_with agreement lambda interpreted per element.
    * Returns (id_a, id_b, __mc: agreeing-position count).
    */
  private def bandedSigPairs(capped: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val lists = capped
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(
        collect_list(struct(col(idCol).as("__id"), col("__sig")))).as("__members"))
    lists
      .select(posexplode(col("__members")).as(Seq("__px", "__a")), col("__members"))
      .select(col("__a"),
        explode(slice(col("__members"), col("__px") + lit(2),
          size(col("__members")))).as("__b"))
      .select(col("__a.__id").as("id_a"), col("__b.__id").as("id_b"),
        GraftColumnBridge.column(graft.functions.LongArrayMatchCount(
          GraftColumnBridge.expression(col("__a.__sig")),
          GraftColumnBridge.expression(col("__b.__sig")))).as("__mc"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__mc")).as("__mc"))
  }

  /** MinHash + LSH near-dup candidate pairs: band the signature (bands of
    * `rowsPerBand`), hash each band, shuffle on (band index, band hash),
    * emit same-bucket pairs. Candidates are then verified with the exact
    * signature similarity (fraction of agreeing minhashes ≥ `threshold`).
    *
    * Scale: the only shuffles are groupBy(doc) for signatures, the
    * groupBy(band bucket), and the thin (id, id, count) cross-band dedup
    * (see [[bandedSigPairs]]); buckets over `maxBucketSize` members are
    * skipped with a logged drop count (see [[capBuckets]]) — mass-duplicate
    * groups belong to exact/cluster dedup, and uncapped bucket pair
    * enumeration is quadratic in the bucket.
    */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Int = 10000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // the signature array rides along through the banding explode and the
    // bucket join, so the expensive shingle+hash map stage runs ONCE — an
    // ids-only join would re-join signatures back twice, recomputing the
    // map stage 3×. Cost: the bucket-join shuffle moves `bands` copies of
    // the k-long signature per doc (k·8·bands bytes ≈ 4 KB at k=32/
    // bands=16) instead of (long, long) rows — band buckets are
    // near-duplicate groups, so the replication is bounded and the saved
    // scans dominate at any scale.
    val sigs = minHashSignatureArray(df, idCol, textCol, shingleLen, numHashes)
    val withBands = sigs
      .select(col(idCol), col("__sig"),
        explode(array((0 until bands).map(b =>
          struct(
            lit(b).as("band_idx"),
            xxhash64(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand))
              .as("band_hash"))): _*)).as("__band"))
      .select(col(idCol), col("__sig"), col("__band.band_idx"), col("__band.band_hash"))
    // SHUFFLE_HASH: Catalyst's size estimate under the explode is a few MB
    // (it sees the parquet bytes, not the exploded arrays), so it would
    // broadcast the banded corpus — a driver collect that is pointless at
    // sf0.1 and fatal at scale. A shuffle hash join partitions on the
    // bucket key, and the two sides are the same subtree, so ReuseExchange
    // computes the map stage once.
    val capped = capBuckets(withBands, Seq("band_idx", "band_hash"),
      maxBucketSize, "minhash_lsh")
    bandedSigPairs(capped, idCol)
      .select(col("id_a"), col("id_b"),
        (col("__mc").cast("double") / lit(numHashes.toDouble))
          .as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
  }

  /** SimHash: 64-bit signature = sign of the per-bit sum of token hashes.
    * A zero-shuffle per-row map: token hashes via `transform`+`xxhash64`,
    * folded by the native codegen kernel [[graft.functions.SimHashBits]].
    * (The first-cut explode + 64-conditional-sum aggregate shuffled the
    * whole token stream on doc id; as a map stage, signatures are
    * embarrassingly parallel at any corpus size.) Null-text docs are
    * dropped, matching the aggregate form where they produced no rows.
    */
  def simHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      outCol: String = "simhash"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val hashes = GraftColumnBridge.column(graft.functions.XxHash64Array(
      GraftColumnBridge.expression(split(col(textCol), "\\s+"))))
    val sig = GraftColumnBridge.column(
      graft.functions.SimHashBits(GraftColumnBridge.expression(hashes), 64))
    // fan out a sub-split scan so the tokenize+hash+fold map parallelizes
    // (strict no-op at corpus scale)
    graft.ops.Par.fanOutSmallScan(df.filter(col(textCol).isNotNull))
      .select(col(idCol), sig.as(outCol))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ `maxDistance`, via the
    * pigeonhole band trick: split the 64-bit signature into `maxDistance+1`
    * chunks; any pair within distance must agree exactly on ≥1 chunk, so
    * candidates come from equi-joins on (chunk index, chunk value) — never a
    * full cross join. `bit_count` verifies the exact distance.
    */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    // the self-join reuses the signature aggregate via ReuseExchange —
    // no explicit persist (measured slower: it breaks stage pipelining)
    hammingNearDuplicates(simHash(df, idCol, textCol), idCol, "simhash",
      maxDistance, maxBucketSize, tag = "simhash_lsh")

  /** Near-dup pairs at Hamming distance ≤ `maxDistance` over ANY 64-bit
    * signature column (SimHash text sigs, perceptual image dHashes, …),
    * via the pigeonhole band trick: split the signature into
    * `maxDistance+1` chunks; any pair within distance must agree exactly
    * on ≥1 chunk, so candidates come from equi-joins on (chunk index,
    * chunk value) — never a full cross join. When the chunk count does
    * not divide 64 the top bits belong to no chunk — candidates are then
    * a superset (uncovered-bit differences never separate a bucket) and
    * the exact `bit_count` filter restores the distance bound. */
  def hammingNearDuplicates(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000,
      tag: String = "hamming_lsh"): DataFrame = {
    val chunks = maxDistance + 1
    val bitsPer = 64 / chunks
    val banded = sigs.withColumn(
      "__chunk",
      explode(array((0 until chunks).map(c =>
        struct(
          lit(c).as("chunk_idx"),
          shiftright(col(sigCol), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("chunk_val"))): _*)))
      .select(col(idCol), col(sigCol), col("__chunk.chunk_idx"), col("__chunk.chunk_val"))
    // shuffle-hash: the size estimate under the explode is tiny, so Spark
    // would broadcast one side — losing ReuseExchange and re-running the
    // signature computation twice (and a broadcast of the banded corpus
    // is fatal at scale). With both sides as the same shuffle, the
    // upstream signature stage runs once.
    val capped = capBuckets(banded, Seq("chunk_idx", "chunk_val"),
      maxBucketSize, tag)
    val a = capped.hint("shuffle_hash").select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_a"), col(sigCol).as("sig_a"))
    val b = capped.hint("shuffle_hash").select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_b"), col(sigCol).as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Cross-corpus twin of [[hammingNearDuplicates]]: (left id, right id,
    * hamming ≤ `maxDistance`) pairs BETWEEN two 64-bit signature frames
    * via the same pigeonhole banding — the incremental-ingest shape
    * (micro-batch dHashes × persisted index) where a self-join over the
    * union would re-pair the whole history every batch. Both sides band
    * map-side and cap independently ([[capBuckets]], per-side DropMetrics
    * tags — a degenerate signature on EITHER side, e.g. all-black images
    * in the index, would otherwise explode one bucket); the equi-join
    * exchanges carry (16-bit chunk key, id, 8-byte sig) rows only. Pairs
    * where the ids are equal are KEPT (caller decides — the ingest gate
    * filters them for replay safety, mirroring [[dedupIncrement]]). */
  def hammingCrossPairs(
      left: DataFrame,
      right: DataFrame,
      leftIdCol: String,
      rightIdCol: String,
      leftSigCol: String,
      rightSigCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000,
      tag: String = "hamming_cross"): DataFrame = {
    val chunks = maxDistance + 1
    val bitsPer = 64 / chunks
    def banded(df: DataFrame, id: String, sig: String): DataFrame =
      df.withColumn(
        "__chunk",
        explode(array((0 until chunks).map(c =>
          struct(
            lit(c).as("chunk_idx"),
            shiftright(col(sig), c * bitsPer)
              .bitwiseAND(lit((1L << bitsPer) - 1)).as("chunk_val"))): _*)))
        .select(col(id).as("__xid"), col(sig).as("__xsig"),
          col("__chunk.chunk_idx"), col("__chunk.chunk_val"))
    val a = capBuckets(banded(left, leftIdCol, leftSigCol),
      Seq("chunk_idx", "chunk_val"), maxBucketSize, s"${tag}_left")
    val b = capBuckets(banded(right, rightIdCol, rightSigCol),
      Seq("chunk_idx", "chunk_val"), maxBucketSize, s"${tag}_right")
    a.hint("shuffle_hash")
      .select(col("chunk_idx"), col("chunk_val"),
        col("__xid").as("id_a"), col("__xsig").as("sig_a"))
      .join(b.hint("shuffle_hash")
        .select(col("chunk_idx"), col("chunk_val"),
          col("__xid").as("id_b"), col("__xsig").as("sig_b")),
        Seq("chunk_idx", "chunk_val"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Cross-engine-portable MinHash signatures: shingle hash = first 7 hex
    * digits of md5 (28 bits), permutations mod p = 2^31−1 so products stay
    * inside signed-64 on engines where overflow errors (DuckDB). Slower
    * than [[minHashSignatures]] (md5 vs xxhash64) — exists so the
    * signature math itself can be oracle-checked value-for-value; the
    * xxhash64 variant remains the production path.
    */
  val PortableCoeffs: Seq[(Long, Long)] =
    Seq((1103515245L, 12345L), (214013L, 2531011L),
        (69069L, 362437L), (1664525L, 1013904223L))
  val PortableP = 2147483647L // 2^31 - 1

  def minHashSignaturesPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // native kernels end-to-end: md5-prefix shingle hashes (first 7 hex
    // digits < 2^28 < p, so the lambda form's `% p` was a no-op) feed the
    // same MinHashSigs min-permutation kernel the production path uses —
    // bit-identical to the interpreted transform/array_min tree, and the
    // DuckDB oracle recomputes the identical values
    val hashes = GraftColumnBridge.column(graft.functions.Md5Prefix(
      GraftColumnBridge.expression(wordNgrams(col(textCol), shingleLen)), 7))
    val sig = GraftColumnBridge.column(graft.functions.MinHashSigs(
      GraftColumnBridge.expression(hashes),
      PortableCoeffs.map(_._1), PortableCoeffs.map(_._2), PortableP))
    val k = PortableCoeffs.length
    val withSig = df.select(col(idCol),
      coalesce(sig, array((0 until k).map(_ => lit(PortableP)): _*)).as("__sig"))
    withSig.select(col(idCol) +:
      (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"minhash_$i")): _*)
  }

  /** Portable-signature MinHash near-dup pairs over the 4
    * [[minHashSignaturesPortable]] hashes: bands of 2, candidate pairs
    * from the banded equi-join (same plan shape as the production
    * [[minHashNearDuplicates]]), similarity = agreeing-hash fraction.
    * The DuckDB oracle re-derives the same pairs with a naive pairwise
    * join whose band agreement is spelled out as explicit conjunctions —
    * a hash match therefore proves the banded candidate generation and
    * threshold filter end-to-end, value-for-value.
    */
  def minHashNearDuplicatesPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleLen: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val k = PortableCoeffs.length
    val bands = 2
    val rowsPerBand = k / bands
    val sigArr = array((0 until k).map(i => col(s"minhash_$i")): _*)
    val sigs = minHashSignaturesPortable(df, idCol, textCol, shingleLen)
      .select(col(idCol), sigArr.as("__sig"))
    val withBands = sigs
      .select(col(idCol), col("__sig"),
        explode(array((0 until bands).map(b =>
          struct(
            lit(b).as("band_idx"),
            xxhash64(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand))
              .as("band_hash"))): _*)).as("__band"))
      .select(col(idCol), col("__sig"), col("__band.band_idx"), col("__band.band_hash"))
    val capped = capBuckets(withBands, Seq("band_idx", "band_hash"),
      maxBucketSize, "minhash_lsh_portable")
    bandedSigPairs(capped, idCol)
      .select(col("id_a"), col("id_b"),
        round(col("__mc").cast("double") / lit(k.toDouble), 6)
          .as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
  }

  /** Cross-engine-portable SimHash: 32-bit signature where the token hash
    * is the first 8 hex digits of md5 — computable bit-for-bit in any
    * engine with md5 (the xxhash64 64-bit [[simHash]] stays the production
    * path). Same plan shape: explode tokens, 32 conditional-sum aggregates
    * in ONE shuffle on the doc id, then assemble the sign bits. Empty
    * tokens (leading/trailing whitespace artifacts) are filtered on both
    * engines; ties (bit sum == 0) resolve to 0.
    */
  def simHashPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      outCol: String = "simhash32"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // native kernel: md5-prefix token hashes with the empty-token skip
    // fused in (the filter HOF ran interpreted per token)
    val hashes = GraftColumnBridge.column(graft.functions.Md5Prefix(
      GraftColumnBridge.expression(split(col(textCol), "\\s+")), 8,
      skipEmpty = true))
    val sig = GraftColumnBridge.column(
      graft.functions.SimHashBits(GraftColumnBridge.expression(hashes), 32))
    // docs with no non-empty tokens are dropped, matching the GROUP-BY-drop
    // semantics of the DuckDB oracle (unnest + WHERE len>0 + GROUP BY).
    // fanOutSmallScan sits ABOVE the cheap null filter but BELOW the
    // size(hashes) filter, so the md5 token hashing runs wide on a
    // sub-split input (strict no-op at corpus scale — see [[simHash]])
    graft.ops.Par.fanOutSmallScan(df.filter(col(textCol).isNotNull))
      .filter(size(hashes) > 0)
      .select(col(idCol), sig.as(outCol))
  }

  /** Portable-signature near-dup pairs at Hamming distance ≤ `maxDistance`
    * over the 32-bit [[simHashPortable]] signature, via the same pigeonhole
    * banding as [[simHashNearDuplicates]] (`maxDistance+1` chunks; a pair
    * within distance must agree on ≥1 chunk). The banded equi-join is the
    * scale path; the oracle cross-checks it value-for-value against a naive
    * pairwise SQL join, proving the banding loses no pairs.
    */
  def simHashNearDuplicatesPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val chunks = maxDistance + 1
    val bitsPer = 32 / chunks
    val sigs = simHashPortable(df, idCol, textCol)
    val banded = sigs.withColumn(
      "__chunk",
      explode(array((0 until chunks).map(c =>
        struct(
          lit(c).as("chunk_idx"),
          shiftright(col("simhash32"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("chunk_val"))): _*)))
      .select(col(idCol), col("simhash32"), col("__chunk.chunk_idx"), col("__chunk.chunk_val"))
    // same shuffle-hash rationale as [[simHashNearDuplicates]]
    val capped = capBuckets(banded, Seq("chunk_idx", "chunk_val"),
      maxBucketSize, "simhash_lsh_portable")
    val a = capped.hint("shuffle_hash").select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_a"), col("simhash32").as("sig_a"))
    val b = capped.hint("shuffle_hash").select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("id_b"), col("simhash32").as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** MLlib route for MinHash near-dup candidates: shingles → `HashingTF`
    * sparse vectors → `MinHashLSH.approxSimilarityJoin`. Functionally
    * equivalent to [[minHashNearDuplicates]] (which stays the default: its
    * array-native signatures avoid MLlib's vector materialization); kept as
    * interop with MLlib pipelines and as a cross-check in the specs.
    * Returns (id_a, id_b, jaccard_dist).
    */
  def minHashNearDuplicatesMLlib(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxJaccardDistance: Double = 0.8,
      shingleLen: Int = 3,
      numHashTables: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val shingled = df.select(col(idCol), wordNgrams(col(textCol), shingleLen).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val tf = new HashingTF().setInputCol("__sh").setOutputCol("__tf")
      .setNumFeatures(1 << 18)
    val feats = tf.transform(shingled)
    val lsh = new MinHashLSH().setInputCol("__tf").setOutputCol("__hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, maxJaccardDistance, "jaccard_dist")
      .select(
        col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        col("jaccard_dist"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Duplicate clustering: connected components over a near-dup pair list,
    * so a dedup pipeline can keep one representative per cluster (the step
    * after any of the pair generators above).
    *
    * Min-label propagation: each id's label is the smallest id reachable;
    * iterate label-join-min until fixpoint. The min label travels one hop
    * per round, so rounds = the min node's eccentricity in its component —
    * near-dup components are tiny (a boilerplate clique converges in 1),
    * so a handful of hash-join rounds regardless of corpus size. If
    * `maxIter` rounds pass without a fixpoint a WARN is logged — labels
    * are then correct only within `maxIter` hops of each component's min.
    *
    * The returned labels stay persisted (downstream keep-one-per-cluster
    * joins reread them); ownership passes to the caller — unpersist when
    * done, or let the ContextCleaner reclaim the blocks after the
    * DataFrame is garbage-collected. Returns (id, cluster_id).
    *
    * @param algorithm `"auto"` (default), `"minlabel"`, or `"star"`.
    *                  Min-label's round count is the min node's
    *                  eccentricity — ideal for the tiny components
    *                  near-dup mining produces, and 2 exchanges per
    *                  round. `"star"` is the alternating
    *                  large-star/small-star contraction (Kiveris et al.,
    *                  "Connected Components in MapReduce and Beyond"):
    *                  O(log²) rounds regardless of diameter, at ~3x the
    *                  exchanges per round — the right choice when a
    *                  100 TB corpus grows a boilerplate mega-cluster
    *                  with long chains (a 30-hop path converges in 3
    *                  star rounds vs 29 label hops). `"auto"` runs
    *                  min-label and, if [[AutoEscalateRounds]] rounds
    *                  pass without a fixpoint (a long-chain graph — the
    *                  shape min-label is wrong for), discards the
    *                  partial labels and restarts with star: typical
    *                  corpora pay nothing, pathological ones pay a
    *                  bounded constant prelude instead of a
    *                  diameter-proportional round count. Identical
    *                  output labels on every path (spec'd equal on
    *                  shared fixtures and randomized graphs).
    * @param driverFinishMaxPairs `"auto"` only: when a bounded
    *                  `limit(cap+1)` probe shows the pair list holds at
    *                  most this many edges, finish with union-find on the
    *                  driver instead of iterating distributed rounds —
    *                  the standard small-graph endgame of every
    *                  contraction CC algorithm (near-dup pair lists are
    *                  tiny relative to their corpus: a 10⁹-doc corpus
    *                  with 1% duplicates has ~10⁷ pairs, and after
    *                  mining, the pair list — NOT the corpus — is the
    *                  graph). The probe reads at most cap+1 rows (one
    *                  bounded job); memory is ~100 B/pair on the driver
    *                  (the default caps at ~50 MB). Labels are identical
    *                  to the distributed paths (same min-label-per-
    *                  component contract; spec'd on randomized graphs);
    *                  ids must be integral or string for the driver
    *                  ordering — other types skip the probe. 0 disables.
    */
  /** Cluster-aware representative selection — the curation policy AFTER
    * near-dup clustering: instead of the keep-first/min-id default
    * (what `cluster_id` membership encodes), keep the BEST member of
    * each duplicate cluster by a caller-supplied quality score (length,
    * classifier prob, perplexity — ties break to the lowest id), plus
    * every unclustered doc (its own singleton cluster). The published
    * near-dup pipelines differ exactly here — "drop all but one" is
    * policy, and dropping the longest/cleanest copy for an arbitrary
    * min-id one wastes quality.
    *
    * Scale shape: one join of the cluster ASSIGNMENT (pair-list-sized,
    * not corpus-sized — see [[duplicateClusters]]) onto the corpus, then
    * one bounded-heap TopK (k = 1) per cluster — O(clusters) state, no
    * Window, no per-cluster sort, and docs outside any cluster pass
    * through the same heap keyed by their own id.
    *
    * @param clusters [[duplicateClusters]] output: (id, cluster_id)
    */
  def keepBestPerCluster(
      docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    require(docs.columns.contains(idCol), s"docs lacks id column '$idCol'")
    require(docs.columns.contains(scoreCol),
      s"docs lacks score column '$scoreCol'")
    Seq("__cl_id", "__cl", "__cluster", "rank").foreach(c =>
      require(!docs.columns.contains(c),
        s"docs column '$c' collides with keepBestPerCluster internals"))
    val cl = clusters.select(col("id").as("__cl_id"),
      col("cluster_id").as("__cl"))
    val member = docs
      .join(cl, col(idCol) === col("__cl_id"), "left")
      .withColumn("__cluster", coalesce(col("__cl"), col(idCol)))
      .drop("__cl_id", "__cl")
    graft.ops.TopK.perGroupRanked(member, Seq("__cluster"),
        Seq(col(scoreCol).desc, col(idCol)), 1)
      .drop("rank", "__cluster")
  }

  /** SoftDeDup-style duplicate-aware sampling weights: instead of DROPPING
    * near-duplicates ([[dropDuplicatePairs]]/[[keepBestPerCluster]]), keep
    * every document and DOWNWEIGHT duplicate clusters so k copies of the
    * same content contribute ~one document's worth of training signal —
    * `weight = cluster_size^(−alpha)` (alpha = 1: uniform mass 1 per
    * cluster; alpha < 1: partial discount). The soft policy preserves
    * natural up-sampling of genuinely popular content while bounding it.
    *
    * `clusters` is a [[duplicateClusters]] output (id, cluster_id); docs
    * absent from it are singletons (cluster = own id, weight 1), and
    * null-id docs are each their own singleton (cluster_id null, weight
    * 1 — they can never be evidence of duplication). Plan: cluster sizes
    * come from the LABEL frame itself (`clusters.groupBy(cluster_id)
    * .count` — pair-list-sized), so the corpus pays two label-frame
    * joins and ZERO corpus exchanges — no window, no corpus-wide
    * aggregate. Precondition that makes this exact: `cluster_size`
    * counts the cluster AS LABELED; pass a `clusters` frame built from
    * (a superset of) `docs` — filtering docs to a sub-subset afterwards
    * keeps each survivor's weight based on the full cluster, which is
    * the weighting semantics SoftDeDup wants. Returns (idCol,
    * cluster_id, cluster_size, weight).
    */
  def softDedupWeights(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      alpha: Double = 1.0,
      roundTo: Int = 6): DataFrame = {
    require(docs.columns.contains(idCol), s"docs lacks id column '$idCol'")
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    Seq("__cl_id", "__cl", "__szk", "__sz",
        "cluster_id", "cluster_size", "weight").foreach(c =>
      require(!docs.columns.contains(c),
        s"docs column '$c' collides with softDedupWeights internals"))
    val cl = clusters.select(col("id").as("__cl_id"),
      col("cluster_id").as("__cl"))
    // every cluster member (incl. the representative) has a label row, so
    // the label count IS the cluster size; a singleton's own id is never
    // a key here, so its size coalesces to 1 below
    val sizes = cl.groupBy(col("__cl").as("__szk"))
      .agg(count(lit(1)).as("__sz"))
    docs
      .join(cl, col(idCol) === col("__cl_id"), "left")
      .withColumn("cluster_id", coalesce(col("__cl"), col(idCol)))
      .join(sizes, col("cluster_id") === col("__szk"), "left")
      .withColumn("cluster_size", coalesce(col("__sz"), lit(1L)))
      .withColumn("weight",
        round(pow(col("cluster_size").cast("double"), -alpha), roundTo))
      .drop("__cl_id", "__cl", "__szk", "__sz")
  }

  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      algorithm: String = "auto",
      driverFinishMaxPairs: Int = 1 << 19): DataFrame = {
    // a pair with a null endpoint carries no usable edge: drop it before
    // ANY path sees it, so all four paths (driver finish, min-label, star,
    // auto's escalation) agree on null-bearing inputs. Before r11 the
    // paths disagreed — min-label grouped the nulls into a spurious
    // null-keyed row, star's self-edge filter silently dropped the pair,
    // and the driver finish skipped it (advisor r10). One narrow filter,
    // no extra exchange or job.
    val cleaned = pairs.filter(col(idA).isNotNull && col(idB).isNotNull)
    algorithm match {
      case "auto" =>
        driverFinishLabels(cleaned, idA, idB, driverFinishMaxPairs) match {
          case Some(local) => local
          case None => distributedAuto(cleaned, idA, idB, maxIter)
        }
      case "minlabel" =>
        minLabelClusters(cleaned, idA, idB, maxIter, warnOnStop = true)._1
      case "star" => starClusters(cleaned, idA, idB, maxIter)
      case other => throw new IllegalArgumentException(
        s"duplicateClusters algorithm must be 'auto', 'minlabel' or 'star', " +
          s"got '$other'")
    }
  }

  private def distributedAuto(
      pairs: DataFrame, idA: String, idB: String, maxIter: Int): DataFrame = {
      val rounds = math.min(AutoEscalateRounds, maxIter)
      val (labels, cached, converged) =
        minLabelClusters(pairs, idA, idB, rounds, warnOnStop = false)
      if (converged) labels
      else {
        // long-chain graph: drop the partial min-label state and rerun
        // with the diameter-insensitive contraction
        if (cached != null) cached.unpersist()
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"duplicateClusters(auto): no fixpoint after $rounds min-label " +
            "rounds; escalating to star contraction")
        starClusters(pairs, idA, idB, maxIter)
      }
  }

  /** Bounded driver finish for small pair graphs: `limit(cap+1)` probe →
    * union-find with min-label-per-component output. Returns None when
    * the graph exceeds the cap (distributed rounds take over) or the id
    * type has no natural driver ordering. The returned frame is a
    * LocalRelation — downstream keep-one-per-cluster anti-joins broadcast
    * it with no extra job. */
  private def driverFinishLabels(
      pairs: DataFrame, idA: String, idB: String,
      cap: Int): Option[DataFrame] = {
    if (cap <= 0) return None
    val dt = pairs.schema(idA).dataType
    if (dt != pairs.schema(idB).dataType) return None
    val ord: Option[Ordering[Any]] = dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue()))
      case org.apache.spark.sql.types.StringType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[String]))
      case _ => None
    }
    ord.flatMap { implicit o =>
      val probe = pairs.select(col(idA), col(idB)).limit(cap + 1).collect()
      if (probe.length > cap) None
      else {
        // union-find with path halving; component label = min member.
        // Invariant: every value in `parent` is itself a key, so
        // parent.get(parent.get(x)) never misses.
        val parent = new java.util.HashMap[Any, Any]()
        def find(x0: Any): Any = {
          if (parent.get(x0) == null) { parent.put(x0, x0); return x0 }
          var x = x0
          while (parent.get(x) != x) {
            parent.put(x, parent.get(parent.get(x)))
            x = parent.get(x)
          }
          x
        }
        probe.foreach { r =>
          val (a, b) = (r.get(0), r.get(1))
          // null endpoints cannot reach here — duplicateClusters filters
          // null-bearing pairs before every path — but keep the guard as
          // defense for any future direct caller
          if (a != null && b != null) {
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent.put(ra, rb)
          }
        }
        val minOf = new java.util.HashMap[Any, Any]()
        val it0 = new java.util.ArrayList[Any](parent.keySet()).iterator()
        while (it0.hasNext) {
          val n = it0.next()
          val root = find(n)
          val cur = minOf.get(root)
          if (cur == null || o.lt(n, cur)) minOf.put(root, n)
        }
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
        val it1 = parent.keySet().iterator()
        while (it1.hasNext) {
          val n = it1.next()
          rows.add(org.apache.spark.sql.Row(n, minOf.get(find(n))))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", dt, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id", dt, nullable = false)))
        Some(pairs.sparkSession.createDataFrame(rows, schema))
      }
    }
  }

  /** Min-label rounds `"auto"` spends before escalating to star
    * contraction: near-dup components (cliques, small blobs) converge in
    * 1-3, so 5 non-converged rounds is strong evidence of a long-chain
    * component whose remaining round count is diameter-proportional. */
  val AutoEscalateRounds = 5

  /** Runs min-label propagation; returns (labels, the checkpointed frame
    * backing them — unpersist to reclaim, null if zero rounds ran,
    * converged). */
  private def minLabelClusters(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int,
      warnOnStop: Boolean): (DataFrame, DataFrame, Boolean) = {
    // localCheckpoint (not persist): the iteration's inputs must be CUT
    // from their upstream lineage, not just cached — the pair-generation
    // tree under `pairs` is hundreds of expression nodes, and with plain
    // persist every round's new plan embeds it (twice: edges appears on
    // both sides of the message join), so Catalyst re-analyzes a tree that
    // grows with the iteration count. Checkpointed frames plan as a flat
    // scan of materialized blocks: per-round planning cost is constant.
    // (local checkpoint = blocks are not fault-tolerant; a cluster-scale
    // caller running hour-long jobs should prefer reliable checkpointing
    // via spark.sparkContext.setCheckpointDir + .checkpoint().)
    // no distinct on the symmetrized edges: pair generators emit unique
    // (a<b) pairs, so the two directions cannot collide, and duplicate
    // edges would only repeat messages min() ignores anyway (callers with
    // heavily-duplicated pair lists should pre-distinct to save per-round
    // shuffle bandwidth, not for correctness)
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint(eager = false) // materialized by the init aggregate
    // seeded init: label₀ = min(self, direct neighbors). The naive init
    // (label₀ = self) needs a groupBy-shaped exchange for the id-distinct
    // anyway, so folding the first propagation hop into it is a whole
    // join round saved for free
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("cluster_id"))
    var cached: DataFrame = null // the checkpointed frame behind `labels`
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // message-passing round in ONE join + ONE aggregate: every node's
      // current label is a message to itself (tagged __self so the old
      // label is recoverable inside the aggregate), every edge forwards
      // the neighbor's label, and min over the merged messages is the new
      // label. Compared with the neighborMin-then-left-join formulation
      // this is one exchange fewer per round — at corpus scale the label
      // frame is 10⁹ rows, so a saved shuffle per round is a saved
      // corpus-sized shuffle per round. The change flag rides in the SAME
      // plan so ONE full-scan aggregate both materializes the cache
      // completely and counts the changes exactly (a limit(1) probe would
      // stop at the first diff, leaving the cache partial and cascading
      // recompute through every earlier iteration's lineage)
      val msgs = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("cluster_id"), lit(false).as("__self"))
      // LAZY localCheckpoint + the change-count aggregate as its first
      // consumer: the aggregate's full scan computes AND persists the
      // round's blocks in ONE job (an eager checkpoint would spend a job
      // materializing and a second re-reading the blocks for the count —
      // one extra full pass per round, locally ~100 ms of pure job floor
      // and at corpus scale a re-read of a 10⁹-row label frame)
      val updated = labels
        .select(col("id"), col("cluster_id"), lit(true).as("__self"))
        .unionByName(msgs)
        .groupBy(col("id"))
        .agg(
          min(col("cluster_id")).as("__new"),
          min(when(col("__self"), col("cluster_id"))).as("__old"))
        .withColumn("__changed", col("__new") < col("__old"))
        .localCheckpoint(eager = false)
      // coalesce: sum over an EMPTY label set is null (zero input pairs —
      // e.g. a fully-gated corpus upstream), and that must read as
      // converged, not crash
      val changed = updated
        .agg(coalesce(
          sum(when(col("__changed"), lit(1L)).otherwise(lit(0L))), lit(0L)))
        .head().getLong(0)
      // free the previous round's checkpoint blocks (unpersist must
      // target the CHECKPOINTED frame — `labels` is a projection of it)
      if (cached != null) cached.unpersist()
      cached = updated
      labels = updated.select(col("id"), col("__new").as("cluster_id"))
      converged = changed == 0
      iter += 1
    }
    if (!converged && warnOnStop)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters stopped after $maxIter rounds WITHOUT converging: " +
          "labels are correct only within that many hops of each component's " +
          "minimum; raise maxIter for long near-dup chains")
    edges.unpersist()
    (labels, cached, converged)
  }

  /** Alternating large-star/small-star contraction (see
    * [[duplicateClusters]] scaladoc): each round REWRITES the edge set —
    * large-star hangs every strictly-larger neighbor of u under
    * `m = min(N(u) ∪ {u})`, small-star re-hangs u and its (oriented
    * smaller) neighbors under their min — until the set reaches its
    * fixpoint: one star per component, centered on the component minimum.
    * Convergence is detected by an (edge-count, xxhash64-sum) signature of
    * the round's output — exact set comparison would cost two more
    * corpus-sized shuffles per round; a signature collision on a CHANGED
    * set is ~2⁻⁶⁴ per round and would only stop one round early on a
    * nearly-converged graph. Every round's edge set is localCheckpointed
    * (constant per-round planning, same rationale as min-label) and the
    * previous round's blocks are reclaimed. */
  private def starClusters(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int): DataFrame = {
    var edges = pairs
      .select(col(idA).as("u"), col(idB).as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint(eager = false) // materialized by round 1's scan
    var cached = edges
    var prevSig: Option[(Long, Long)] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // ——— large-star: for each u, emit (v, m) for v ∈ N(u), v > u ———
      // m ≤ u < v, so the output is already oriented larger→smaller and
      // never a self-edge
      val nbrs = edges
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("__nm"))
        .select(col("u"), least(col("u"), col("__nm")).as("__m"))
      val large = nbrs.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .distinct()
      // ——— small-star: orient to the smaller endpoint, then for each u
      // emit (x, m) for x ∈ N(u) ∪ {u} \ {m} where m = min(N(u)) ———
      // (all neighbors are < u after orientation, so m < u and every
      // emitted edge is again larger→smaller)
      val directed = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val minsS = directed.groupBy(col("u")).agg(min(col("v")).as("__m"))
      val small = directed.join(minsS, "u")
        .filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(minsS.select(col("u"), col("__m").as("v")))
        .distinct()
        .localCheckpoint(eager = false)
      // the signature aggregate is the lazy checkpoint's first consumer:
      // its full scan computes and persists the round in ONE job (the
      // min-label rationale)
      val sigRow = small.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      cached.unpersist()
      cached = small
      edges = small
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters(star) stopped after $maxIter rounds WITHOUT " +
          "reaching the star fixpoint: labels below are each node's current " +
          "min neighbor, which may not yet be the component minimum")
    else
      // iter counts the confirming fixpoint pass too: the contraction
      // itself took iter-1 rounds
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"duplicateClusters(star) fixpoint after ${iter - 1} contraction " +
          s"rounds (+1 confirmation pass)")
    // at the fixpoint every edge is (node, center): a node's label is its
    // (unique) center; centers label themselves. groupBy-min also covers
    // the unconverged-WARN case with the best label seen so far.
    val nodeLabels = edges.groupBy(col("u"))
      .agg(min(col("v")).as("cluster_id"))
      .select(col("u").as("id"), col("cluster_id"))
    val centers = edges.select(col("v")).distinct()
      .join(nodeLabels.select(col("id").as("v")), Seq("v"), "left_anti")
      .select(col("v").as("id"), col("v").as("cluster_id"))
    // keep the final edge blocks until the labels are consumed — ownership
    // passes to the caller, as with min-label
    nodeLabels.unionByName(centers)
  }

  /** Cross-corpus overlap via Bloom-filter prescreen + exact verify — the
    * standard shape for "which of corpus B's documents already appear in
    * corpus A" at 100 TB: corpus A folds into ONE Bloom filter
    * (`bloom_filter_agg`, a few MB regardless of corpus size), the filter
    * broadcasts, and corpus B is screened map-side (`might_contain`) so
    * only probable hits reach the exact semi-join. The verify join makes
    * the result EXACT — Bloom false positives are filtered, and a Bloom
    * filter has no false negatives — so the output is deterministic and
    * oracle-checkable even though the filter bits are engine-specific.
    *
    * Returns corpus-B rows whose `key` exists in corpus A:
    * (idCol, matched_key).
    */
  /** @param expectedItems sizing estimate for the Bloom filter (distinct
    *                      keys in corpus A). The default 1M-item filter is
    *                      an ~1.2 MB bitmap that every partial-aggregate
    *                      task allocates and merges — size it to the corpus:
    *                      at 10⁹ keys pass 10⁹ (≈1.2 GB driver-side, still
    *                      the standard trade at that scale), at 10⁴ keys
    *                      the bitmap is KBs and the build is free.
    * @param fallbackMaxBytes planner-style small-side fallback: when corpus
    *                      A's Catalyst size estimate (driver-side, no job)
    *                      is at or under this many bytes, the Bloom
    *                      prescreen buys nothing — its build is a separate
    *                      scalar-subquery job and the verify join's hash
    *                      table is small anyway — so the operator degrades
    *                      to the plain semi-join it would otherwise verify
    *                      with. Output is identical either way (the Bloom
    *                      path is exact); only the plan changes. Set to 0
    *                      to force the Bloom path, Long.MaxValue to force
    *                      the fallback. Default 64 MB ≈ the scale where a
    *                      corpus-A hash table stops fitting comfortably in
    *                      one executor's build side. */
  def bloomPrescreenOverlap(
      corpusA: DataFrame,
      corpusB: DataFrame,
      idCol: String,
      key: Column,
      expectedItems: Long = 1000000L,
      fallbackMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val a = corpusA.select(key.as("__k"))
    val aSmall = // estimate only — never triggers a job
      corpusA.queryExecution.optimizedPlan.stats.sizeInBytes <= fallbackMaxBytes
    // no pre-distinct on the build side (either path): a LEFT SEMI hash
    // join keeps one entry per key in its build table anyway, so the
    // distinct was a whole extra exchange+aggregate for nothing — locally
    // and at corpus scale alike
    if (aSmall)
      return corpusB.select(col(idCol), key.as("__k"))
        .join(a.withColumnRenamed("__k", "__ka"),
          col("__k") === col("__ka"), "left_semi")
        .select(col(idCol), col("__k").as("matched_key"))
    // fold corpus A into one Bloom filter (the same aggregate Spark's own
    // runtime-filter injection uses; it has no public SQL registration).
    // The aggregate enters the probe side as a SCALAR SUBQUERY — exactly the
    // shape InjectRuntimeFilter produces — so the whole prescreen is ONE
    // query execution: the subquery job runs when the query runs, not
    // eagerly at operator-construction time, and the filter binary still
    // lands driver-side as a few MB regardless of corpus size.
    val bloomAgg = a
      .select(GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("__k"))), expectedItems)
          .toAggregateExpression()).as("__bf"))
    val mightContain = GraftColumnBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(bloomAgg.queryExecution.analyzed),
        GraftColumnBridge.expression(xxhash64(col("__k")))))
    val pre = corpusB.select(col(idCol), key.as("__k")).filter(mightContain)
    pre.join(
        a.withColumnRenamed("__k", "__ka"),
        col("__k") === col("__ka"), "left_semi")
      .select(col(idCol), col("__k").as("matched_key"))
  }

  /** Paragraph-level exact dedup ACROSS the corpus — the curation step
    * between document-level exact dedup and near-dup pair mining:
    * boilerplate paragraphs (headers, licenses, navigation) repeat across
    * otherwise-distinct documents, and repetition in training data is
    * what paragraph dedup exists to remove.
    *
    * Plan: split on `sep`, posexplode to (id, pos, para); the FIRST
    * occurrence of each distinct paragraph — minimal (id, pos), carried
    * atomically via `min_by` — survives; documents reassemble by sorting
    * surviving (pos, para) pairs and re-joining with `sep`. Documents that
    * lose every paragraph still emit (empty text). Shuffles: one groupBy
    * on the paragraph fingerprint (paragraph TEXT never shuffles for the
    * dedup itself, same rationale as fingerprint document dedup), one
    * groupBy on the doc id for reassembly.
    *
    * `wideFingerprint` (default true) keys on the 128-bit
    * [[fingerprint128]]; at 10⁹⁺ paragraphs a single 64-bit key collides
    * with probability ~3·10⁻² and silently drops a distinct paragraph.
    * Output is identical whenever no collision exists.
    *
    * Returns (idCol, textCol) with `textCol` rewritten.
    */
  def dropRepeatedParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      wideFingerprint: Boolean = true): DataFrame = {
    val fp = if (wideFingerprint) fingerprint128(col("__para"))
             else xxhash64(col("__para"))
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__para")))
    val kept = paras
      .groupBy(fp.as("__fp"))
      .agg(min_by(
        struct(col(idCol), col("__pos"), col("__para")),
        struct(col(idCol), col("__pos"))).as("__first"))
      .select(col(s"__first.$idCol").as(idCol),
        col("__first.__pos").as("__pos"), col("__first.__para").as("__para"))
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          x => x.getField("__para")),
        sep).as("__text"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol))
  }

  /** Benchmark DECONTAMINATION score — the fraction of each corpus
    * document's distinct n-grams that appear anywhere in a benchmark/eval
    * set (the standard training-data contamination check: docs above a
    * threshold are quarantined before training so eval questions don't
    * leak into the corpus).
    *
    * Shape: corpus grams explode to (id, gram-hash); the benchmark
    * collapses to its DISTINCT gram-hash set and BROADCASTS — eval sets
    * are small by construction (KBs–MBs of text even for large suites),
    * so the corpus side never shuffles: one map-side left join + one
    * groupBy(id) count. Returns (idCol, n_grams, n_contaminated,
    * contamination ∈ [0,1]); docs too short to have any n-gram emit no
    * row (nothing can leak from them).
    */
  def contaminationScore(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    def gramHashes(df: DataFrame, cols: Column*) = df.select(
      cols :+ explode(GraftColumnBridge.column(graft.functions.XxHash64Array(
        GraftColumnBridge.expression(wordNgrams(col(textCol), n))))).as("__g"): _*)
    val bench = gramHashes(benchmark).select(col("__g")).distinct()
      .withColumn("__hit", lit(1))
    gramHashes(corpus, col(idCol))
      .join(broadcast(bench), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated") / col("n_grams"), 6).as("contamination"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs sharing ≥1 shingle:
    * explode distinct shingles, drop stop-shingles (document frequency over
    * `maxDocFreq` — the standard cap that keeps pair generation
    * sub-quadratic: a shingle in every doc of a 10⁹-doc corpus would
    * otherwise emit 10¹⁸ candidate rows), enumerate each surviving
    * shingle's doc pairs from its (bounded) posting list, count shared per
    * pair, |A∪B| = |A|+|B|−shared. Jaccard is computed over the capped
    * shingle space on BOTH sides of the ratio (sizes count kept shingles
    * only), so the result is self-consistent; drops are logged via
    * [[DropMetrics]].
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = 1000): DataFrame =
    ngramPairCounts(df, idCol, textCol, n, maxDocFreq,
        threshold, sizeOrdered = false)
      .withColumn("jaccard",
        col("__shared").cast("double")
          / (col("__na") + col("__nb") - col("__shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact n-gram OVERLAP COEFFICIENT for candidate pairs:
    * `shared / min(|A|, |B|)` over the capped shingle space — equals the
    * larger of the two directional containments `shared/|A|`,
    * `shared/|B|`, so it catches quote/subset near-dups that Jaccard
    * misses (a short doc fully contained in a long one has low Jaccard
    * but overlap 1.0). Same sub-quadratic posting-list plan as
    * [[ngramJaccardPairs]] — one corpus pass, stop-shingle cap,
    * drop-logged. Returns (id_a, id_b, overlap, containment_a,
    * containment_b) with the directional scores alongside.
    */
  def ngramOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 1000): DataFrame =
    ngramPairCounts(df, idCol, textCol, n, maxDocFreq,
        threshold, sizeOrdered = true)
      .withColumn("overlap",
        col("__shared").cast("double") / least(col("__na"), col("__nb")))
      .filter(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"),
        (col("__shared").cast("double") / col("__na")).as("containment_a"),
        (col("__shared").cast("double") / col("__nb")).as("containment_b"))

  /** Cross-source n-gram overlap audit: the SOURCE-level Jaccard matrix —
    * for every pair of sources sharing at least one distinct word n-gram,
    * the exact Jaccard of their corpus-wide distinct gram SETS (plus the
    * raw set sizes). The corpus-provenance twin of the document-level
    * near-dup ops: it answers "how much of source B is already in source
    * A" before mixing/weighting decisions, and flags mirror/scrape
    * relationships between whole crawls that per-document dedup only
    * reveals pair-by-pair.
    *
    * Plan (one corpus text pass, everything after is |grams|-scale or
    * smaller):
    *  1. explode distinct per-doc grams → (source, gram), aggregated
    *     `groupBy(gram).collect_set(source)` — ONE corpus exchange; the
    *     per-gram set is bounded by the number of sources (map-side
    *     partial sets dedup before the shuffle), and `hashGrams` thins
    *     the exchange key to an xxhash64 long for production corpora
    *     (off by default so the semantics — and the oracle — are exact
    *     string-set Jaccard).
    *  2. per-source set sizes from the same per-gram frame (explode the
    *     source sets — |grams| rows, no second corpus pass).
    *  3. pair expansion per gram via ONE [[graft.functions.OrderedPairs]]
    *     kernel eval (sort + C(s,2) loop — no self-join, no interpreted
    *     HOF lambdas): a gram present in s sources emits C(s,2) pairs, so
    *     ubiquitous grams (stop-phrases present in every crawl) dominate
    *     the volume quadratically in |sources| — `maxSourcesPerGram`
    *     drops grams above the cap from the WHOLE audit (sizes and pairs
    *     alike, so Jaccard stays internally consistent over the kept gram
    *     space), the [[ngramPairCounts]] stop-shingle precedent.
    *  4. per-pair counts join the (|sources|-row, broadcast) size frame.
    *
    * Returns (source_a, source_b, n_common, n_a, n_b, jaccard) for pairs
    * with n_common ≥ 1, source_a < source_b (binary string order —
    * sources compare and report as strings). Null-source rows drop.
    */
  /** K-minimum-values (KMV) corpus-pair overlap estimate — the Jaccard
    * similarity of two corpora's SHINGLE SETS from one narrow pass per
    * corpus, with NO pair join and no text exchange: the sketch answer
    * to "how much does crawl B overlap crawl A" before paying for real
    * cross-corpus dedup. Over the `k` smallest distinct shingle hashes
    * of A ∪ B (a uniform union sample under the hash order), the
    * fraction present in both sides estimates J(A, B); dividing by each
    * side's sample presence estimates the directional containments.
    * Standard error ≈ sqrt(J(1−J)/k).
    *
    * Plan: per corpus one scan→shingle→hash map pass into a tagged
    * union, ONE hash-keyed presence aggregate (map-side combine; the
    * exchange carries (hash, flag, flag) rows only), the bounded-heap
    * bottom-k (k rows, never the hash universe, no Window/sort), and a
    * one-row reduction. Hashes are the portable 7-hex md5 prefix, so
    * the DuckDB oracle replays the sketch value-for-value
    * (`dedup_corpus_overlap`).
    *
    * Returns ONE row: (k_used, n_both, jaccard_estimate, containment_a,
    * containment_b), rounded to `roundTo`. `k_used` < k means the union
    * has fewer than k distinct shingles — the estimate is then exact
    * (under EITHER hash: with the whole union sampled, the hash order
    * is irrelevant). A side that contributes no shingles at all (empty
    * or all-shorter-than-`shingleLen` corpus) gets containment 0.0, not
    * null — its 0/0 is coalesced, since n_both is necessarily 0.
    *
    * `portable=true` (default) hashes with the 7-hex md5 prefix the
    * DuckDB oracle replays; `portable=false` is the production path —
    * one xxhash64 per shingle (no md5, no hex parse), a different but
    * equally valid sketch order. */
  def corpusOverlapEstimate(
      a: DataFrame,
      b: DataFrame,
      textColA: String,
      textColB: String,
      shingleLen: Int = 3,
      k: Int = 256,
      roundTo: Int = 6,
      portable: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.GraftColumnBridge
    def sideHashes(df: DataFrame, tc: String, inA: Int): DataFrame = {
      val grams = GraftColumnBridge.expression(wordNgrams(col(tc), shingleLen))
      val hashes =
        if (portable) graft.functions.Md5Prefix(grams, 7)
        else graft.functions.XxHash64Array(grams)
      df.select(explode(GraftColumnBridge.column(hashes)).as("__h"))
        .select(col("__h"), lit(inA).as("__ia"), lit(1 - inA).as("__ib"))
    }
    val flags = sideHashes(a, textColA, 1)
      .unionByName(sideHashes(b, textColB, 0))
      .groupBy(col("__h"))
      .agg(max(col("__ia")).as("__ia"), max(col("__ib")).as("__ib"))
    graft.ops.TopK.perGroup(
        flags.withColumn("__g", lit(0)), Seq("__g"),
        Seq(col("__h").asc), k)
      .agg(
        count(lit(1)).as("k_used"),
        sum(col("__ia") * col("__ib")).as("n_both"),
        round(sum(col("__ia") * col("__ib")).cast("double")
          / count(lit(1)), roundTo).as("jaccard_estimate"),
        // a side contributing NO shingles to the bottom-k (empty or
        // all-short-text corpus) makes its containment 0/0 → coalesce to
        // 0.0 (n_both is necessarily 0 then) so callers never see a null
        coalesce(round(sum(col("__ia") * col("__ib")).cast("double")
          / sum(col("__ia")), roundTo), lit(0.0)).as("containment_a"),
        coalesce(round(sum(col("__ia") * col("__ib")).cast("double")
          / sum(col("__ib")), roundTo), lit(0.0)).as("containment_b"))
  }

  def sourceOverlap(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      n: Int = 3,
      hashGrams: Boolean = false,
      maxSourcesPerGram: Int = Int.MaxValue,
      roundTo: Int = 6): DataFrame = {
    require(maxSourcesPerGram >= 2,
      s"maxSourcesPerGram must allow pairs (>= 2), got $maxSourcesPerGram")
    val gramKey: Column => Column =
      if (hashGrams) g => xxhash64(g) else identity
    // the gram pass is this operator's entire corpus cost — remediate an
    // under-parallel small scan before it (strict no-op at corpus scale)
    val perGram0 = graft.ops.Par.fanOutSmallScan(df)
      .select(col(sourceCol).cast("string").as("__src"),
        explode(wordNgrams(col(textCol), n)).as("__gram"))
      .select(col("__src"), gramKey(col("__gram")).as("__g"))
      .groupBy(col("__g"))
      .agg(collect_set(col("__src")).as("__srcs"))
      .filter(size(col("__srcs")) <= maxSourcesPerGram)
      .drop("__g") // downstream consumers only read the source sets
    // one pure plan: the single-generate shape below reads the per-gram
    // sets exactly once, so there is nothing for a checkpoint to save
    // ONE OrderedPairs(includeSelf) kernel eval per gram emits the
    // C(s,2) strict pairs AND one (s, s) marker per member, so a single
    // aggregate carries both the pair co-occurrence counts and the
    // per-source gram counts ((s, s) rows — n_a/n_b). The counts attach
    // back onto pair rows via two windows over the aggregated frame
    // (≤ sources² rows, KBs) — no second corpus pass, no self-join
    // re-derivation.
    // NO size >= 2 pre-filter: singleton-source grams carry no pair but
    // DO count into that source's n_a/n_b via their (s, s) marker
    val counts = perGram0
      .select(explode(org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.OrderedPairs(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__srcs")),
          includeSelf = true)))
        .as("__p"))
      .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
      .agg(count(lit(1)).as("__n"))
    val selfN = max(when(col("__a") === col("__b"), col("__n")))
    counts
      .withColumn("n_a", selfN.over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__a"))))
      .withColumn("n_b", selfN.over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))))
      .filter(col("__a") =!= col("__b"))
      .select(col("__a").as("source_a"), col("__b").as("source_b"),
        col("__n").as("n_common"), col("n_a"), col("n_b"),
        round(col("__n").cast("double")
          / (col("n_a") + col("n_b") - col("__n")), roundTo)
          .as("jaccard"))
  }

  /** Shared pair-generation core of [[ngramJaccardPairs]] /
    * [[ngramOverlapPairs]]: returns candidate pairs (id_a < id_b) with
    * `__shared`, `__na`, `__nb` — the shared-shingle count and both docs'
    * kept-shingle sizes — covering EVERY pair whose similarity can reach
    * `threshold`; sub-threshold pairs may or may not appear (callers
    * filter), so the thresholded output is identical to the naive
    * all-shared-gram enumeration.
    *
    * Two filters cut the candidate volume below the naive
    * Σ_grams C(df, 2) posting-list explosion (which is quadratic inside
    * duplicate clusters — each pair re-emitted once per shared gram):
    *
    *  1. EXACT GRAM-SET COLLAPSE. Docs with identical kept-shingle sets
    *     (the dominant near-dup mode in crawl corpora: mirrored /
    *     re-posted pages) are grouped by a 128-bit fingerprint of the
    *     canonical gram array and represented by their min-id member.
    *     Within-cluster pairs are emitted directly (similarity 1.0,
    *     shared = na = nb); pair DISCOVERY runs on representatives only,
    *     so a duplication factor d cuts the posting-list pair volume by
    *     d². Cluster size is bounded by `maxDocFreq`: the stop-shingle
    *     cap is computed on the PRE-collapse corpus, so any cluster
    *     larger than the cap loses all its grams and vanishes — exactly
    *     the naive core's behavior.
    *  2. PREFIX + LENGTH FILTERING (AllPairs/PPJoin, Xiao et al. 2008 —
    *     public literature). Grams are canonically ordered rarest-first
    *     (df asc, hash tiebreak). For Jaccard ≥ t a pair must share
    *     ≥ ceil(t·max(na,nb)) grams, so each doc need only post its
    *     first n − ceil(t·n) + 1 grams; for overlap ≥ t the bound
    *     ceil(t·min) holds only for the smaller doc, so the smaller
    *     side posts its prefix and the larger posts everything
    *     (`sizeOrdered = true`). Jaccard candidates additionally pass
    *     the length filter min(na,nb) ≥ t·max(na,nb).
    *
    * Surviving representative pairs are verified EXACTLY: the candidate
    * frame joins back to the (checkpointed) per-cluster gram arrays and
    * `array_intersect` computes the true shared count — no pair is ever
    * counted via the posting explosion, so a pair costs one row, not one
    * row per shared gram. Verified rep pairs then expand to member pairs
    * through the cluster id lists. Drops are logged via [[DropMetrics]];
    * there are no driver-side collects anywhere in the chain.
    */
  private def ngramPairCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDocFreq: Int,
      threshold: Double,
      sizeOrdered: Boolean): DataFrame = {
    require(maxDocFreq > 0, s"maxDocFreq must be positive, got $maxDocFreq")
    // grams are keyed by 64-bit hash, not string: every exchange below
    // moves (long, long) rows and gram arrays are arrays of longs
    import org.apache.spark.sql.GraftColumnBridge
    // ONE scan+shingle pass, ONE gram-keyed exchange: the raw stream is
    // repartitioned by gram and lazily checkpointed, so the doc-frequency
    // aggregate AND the df-attach join both reuse that partitioning with
    // no further exchange (previously each consumer recomputed the
    // scan→shingle→explode chain and shuffled it independently)
    val grams = df.select(
        col(idCol),
        explode(GraftColumnBridge.column(graft.functions.XxHash64Array(
          GraftColumnBridge.expression(wordNgrams(col(textCol), n))))).as("__g"))
      .repartition(col("__g"))
      .localCheckpoint(eager = false)
    // stop-shingle drop: count docs per gram; shuffle_hash on the count
    // side — its size estimate under the explode is tiny, and a broadcast
    // would collect one row per distinct shingle (≈ corpus token count)
    // onto the driver
    val freqs = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val kept = DropMetrics.observe(
        grams.hint("shuffle_hash").join(freqs.hint("shuffle_hash"), "__g"),
        "ngram_stop_shingles", Seq(
          sum(when(col("__df") > maxDocFreq, lit(1L)).otherwise(lit(0L)))
            .as("dropped_rows"),
          max(col("__df")).as("max_doc_freq"),
          lit(maxDocFreq.toLong).as("cap")))
      .filter(col("__df") <= maxDocFreq)
    // one row per doc: kept grams in canonical rarest-first order (df
    // asc, hash tiebreak — a total order shared by every doc, which is
    // what makes the prefix lemma sound), plus the kept-shingle count.
    // Array length is bounded by the doc's own shingle count; the
    // collect_list is per-DOC, never per-gram-group.
    val docGrams = kept
      .groupBy(col(idCol))
      .agg(transform(
        sort_array(collect_list(struct(col("__df"), col("__g")))),
        x => x("__g")).as("__grams"))
      .withColumn("__n", size(col("__grams")))
    // exact-duplicate collapse on a 128-bit gram-array fingerprint (the
    // fingerprint128 posture: one 64-bit hash silently MERGES distinct
    // docs at ~10⁹ scale). Checkpointed: every branch below (within-pairs,
    // prefix posting, verify join ×2, member expansion ×2) re-reads the
    // materialized blocks instead of recomputing the scan→shingle chain.
    val clusters = docGrams
      .groupBy(
        xxhash64(col("__grams")).as("__fp1"),
        xxhash64(lit(FingerprintSeed2), col("__grams")).as("__fp2"))
      .agg(
        sort_array(collect_list(col(idCol))).as("__ids"),
        min(col("__n")).as("__n"),
        min_by(col("__grams"), col(idCol)).as("__grams"))
      .withColumn("__rep", element_at(col("__ids"), 1))
      .localCheckpoint(eager = false)
    // (a) within-cluster pairs: identical kept-gram sets, similarity 1.0
    // by construction (shared = na = nb). Sorted member list → positional
    // explosion gives id_a < id_b directly. Volume is output-inherent and
    // bounded per cluster by C(maxDocFreq, 2).
    val withinPairs = clusters
      .filter(size(col("__ids")) > 1)
      .select(posexplode(col("__ids")).as(Seq("__px", "__ida")),
        col("__ids"), col("__n"))
      .select(col("__ida").as("id_a"),
        explode(slice(col("__ids"), col("__px") + lit(2), size(col("__ids"))))
          .as("id_b"),
        col("__n").cast("long").as("__shared"),
        col("__n").cast("long").as("__na"),
        col("__n").cast("long").as("__nb"))
    // (b) cross-cluster candidates from prefix posting lists over
    // REPRESENTATIVES. k = ceil(t·n) is the minimum shared-gram count a
    // qualifying pair must reach relative to this doc's size (Jaccard:
    // valid for both sides; overlap: valid for the smaller side only).
    // The 1e-9 guard keeps float ceil from overshooting an exact integer
    // product — the safe direction is a one-gram-longer prefix.
    val kOf: Column => Column = nn =>
      greatest(lit(1), ceil(lit(threshold) * nn - lit(1e-9)).cast("int"))
    val prefLen = col("__n") - kOf(col("__n")) + lit(1)
    val rawPairs =
      if (!sizeOrdered) {
        // Jaccard mode: both sides post prefixes only; a qualifying pair
        // shares a gram within both prefixes (Chaudhuri et al. 2006
        // prefix lemma under the shared canonical order). Lists sorted by
        // (id) → positional pairs have a.id < b.id.
        val posting = clusters.select(col("__rep"), col("__n"),
          explode(slice(col("__grams"), lit(1), prefLen)).as("__g"))
        posting
          .groupBy(col("__g"))
          .agg(sort_array(
            collect_list(struct(col("__rep").as("__id"), col("__n"))))
            .as("__l"))
          .select(posexplode(col("__l")).as(Seq("__px", "__a")), col("__l"))
          .select(col("__a"),
            explode(slice(col("__l"), col("__px") + lit(2), size(col("__l"))))
              .as("__b"))
          // length filter: Jaccard ≥ t forces min ≥ t·max
          .filter(least(col("__a.__n"), col("__b.__n")).cast("double")
            >= lit(threshold) * greatest(col("__a.__n"), col("__b.__n"))
              - lit(1e-9))
          .select(col("__a.__id").as("__rlo"), col("__b.__id").as("__rhi"),
            col("__a.__n").as("__nlo"), col("__b.__n").as("__nhi"))
      } else {
        // overlap mode: every doc posts all grams, flagged by whether the
        // gram sits in its own prefix; lists sorted by (n, id) so the
        // earlier element of a pair is the smaller doc (id tiebreak), and
        // only its prefix membership gates the pair. Normalize to id
        // order afterwards (sizes travel with their ids — containment is
        // directional).
        val posting = clusters.select(col("__rep"), col("__n"),
          posexplode(col("__grams")).as(Seq("__pos", "__g")))
          .withColumn("__isp", col("__pos") + lit(1) <= prefLen)
        posting
          .groupBy(col("__g"))
          .agg(sort_array(collect_list(struct(
            col("__n"), col("__rep").as("__id"), col("__isp")))).as("__l"))
          .select(posexplode(col("__l")).as(Seq("__px", "__a")), col("__l"))
          .filter(col("__a.__isp"))
          .select(col("__a"),
            explode(slice(col("__l"), col("__px") + lit(2), size(col("__l"))))
              .as("__b"))
          .select(
            least(col("__a.__id"), col("__b.__id")).as("__rlo"),
            greatest(col("__a.__id"), col("__b.__id")).as("__rhi"),
            when(col("__a.__id") < col("__b.__id"), col("__a.__n"))
              .otherwise(col("__b.__n")).as("__nlo"),
            when(col("__a.__id") < col("__b.__id"), col("__b.__n"))
              .otherwise(col("__a.__n")).as("__nhi"))
      }
    // dedup candidates (a pair surfaces once per shared prefix gram) then
    // verify EXACTLY against the cluster gram arrays: shared =
    // |A ∩ B| via array_intersect on the canonical arrays (distinct per
    // doc by construction — wordNgrams dedups). shuffle_hash: the rep
    // frame is corpus-sized, a broadcast would collect it driver-side.
    val cands = rawPairs
      .groupBy(col("__rlo"), col("__rhi"))
      .agg(min(col("__nlo")).as("__nlo"), min(col("__nhi")).as("__nhi"))
    val repGrams = clusters.select(col("__rep"), col("__grams"), col("__ids"))
    val verified = cands
      .join(repGrams.select(col("__rep").as("__rlo"),
        col("__grams").as("__gl"), col("__ids").as("__idsl"))
        .hint("shuffle_hash"), Seq("__rlo"))
      .join(repGrams.select(col("__rep").as("__rhi"),
        col("__grams").as("__gr"), col("__ids").as("__idsr"))
        .hint("shuffle_hash"), Seq("__rhi"))
      .select(col("__idsl"), col("__idsr"),
        size(array_intersect(col("__gl"), col("__gr"))).cast("long")
          .as("__shared"),
        col("__nlo").cast("long"), col("__nhi").cast("long"))
    // expand verified rep pairs to member pairs; sizes follow their ids
    // under the least/greatest normalization (cluster members share n)
    val crossPairs = verified
      .select(explode(col("__idsl")).as("__ia"), col("__idsr"),
        col("__shared"), col("__nlo"), col("__nhi"))
      .select(col("__ia"), explode(col("__idsr")).as("__ib"),
        col("__shared"), col("__nlo"), col("__nhi"))
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("__shared"),
        when(col("__ia") < col("__ib"), col("__nlo"))
          .otherwise(col("__nhi")).as("__na"),
        when(col("__ia") < col("__ib"), col("__nhi"))
          .otherwise(col("__nlo")).as("__nb"))
    withinPairs.unionByName(crossPairs)
  }

  /** Band a signature frame `(id, sigCol: array<long>)` into one row per
    * (band index, xxhash64 of the band's slice) — the shared LSH bucketing
    * step of the self- and cross-corpus pair generators. */
  private def bandSignatures(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      rowsPerBand: Int,
      outId: String,
      outSig: String): DataFrame =
    sigs.select(col(idCol).as(outId), col(sigCol).as(outSig),
      explode(array((0 until bands).map(b =>
        struct(
          lit(b).as("band_idx"),
          // reference the INPUT column: naming the outSig alias here would
          // be a lateral column alias, which Generate refuses to resolve
          xxhash64(slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand))
            .as("band_hash"))): _*)).as("__band"))
      .select(col(outId), col(outSig),
        col("__band.band_idx"), col("__band.band_hash"))

  /** Cross-corpus banded pair core over two pre-computed signature frames
    * `(id, __sig)`: banded equi-join of corpus buckets against benchmark
    * buckets, exact per-pair agreement count via the native
    * [[graft.functions.LongArrayMatchCount]] kernel, cross-band dedup on
    * the thin (id, id, count) rows. See [[minHashCrossPairs]] for the
    * scale rationale. Returns (id_a, id_b, __mc). */
  private def crossPairsFromSigs(
      corpusSigs: DataFrame,
      benchSigs: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      broadcastBenchmark: Boolean,
      maxBenchBucketSize: Int,
      tag: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val c = bandSignatures(corpusSigs, "__id", "__sig", bands, rowsPerBand,
      "__cid", "__csig")
    val b0 = bandSignatures(benchSigs, "__id", "__sig", bands, rowsPerBand,
      "__bid", "__bsig")
    // cap the BENCHMARK buckets in both modes (deterministic output either
    // way): per-bucket pair volume is |corpus bucket| × |benchmark bucket|,
    // so only a degenerate benchmark bucket can multiply the corpus stream.
    // A real eval suite never trips the cap; a tripped bucket is logged
    // boilerplate that belongs to exact dedup, not pair enumeration.
    val b = capBuckets(b0, Seq("band_idx", "band_hash"),
      maxBenchBucketSize, tag)
    val joined =
      if (broadcastBenchmark) c.join(broadcast(b), Seq("band_idx", "band_hash"))
      else c.hint("shuffle_hash").join(b.hint("shuffle_hash"),
        Seq("band_idx", "band_hash"))
    joined
      .select(col("__cid").as("id_a"), col("__bid").as("id_b"),
        GraftColumnBridge.column(graft.functions.LongArrayMatchCount(
          GraftColumnBridge.expression(col("__csig")),
          GraftColumnBridge.expression(col("__bsig")))).as("__mc"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__mc")).as("__mc"))
  }

  /** Cross-corpus MinHash near-dup pairs — fuzzy decontamination's
    * candidate stage: which corpus documents are NEAR duplicates of a
    * benchmark/eval document. The exact-overlap [[contaminationScore]]
    * catches verbatim leakage; signature-level matching also catches
    * paraphrased or lightly edited contamination whose n-grams no longer
    * match verbatim. Both sides get the production xxhash64 signatures
    * ([[minHashSignatureArray]]) and the same banding as
    * [[minHashNearDuplicates]]; candidates come from the banded equi-join
    * of corpus buckets against benchmark buckets and are verified by the
    * exact agreeing-hash fraction ≥ `threshold`.
    *
    * Scale: the corpus never self-joins — per-bucket pair volume is
    * |corpus bucket| × |benchmark bucket|, linear in the corpus. With
    * `broadcastBenchmark` (default — eval suites are MBs) the corpus side
    * is one map stage end-to-end: signatures, banding, the broadcast-hash
    * join and the verify kernel all pipeline with NO corpus exchange; only
    * the thin (id_a, id_b, count) cross-band dedup shuffles. Set it false
    * when the "benchmark" is itself corpus-scale (held-out-split
    * decontamination) → both sides shuffle-hash on the bucket key.
    *
    * Returns (id_a: corpus id, id_b: benchmark id, sig_similarity).
    */
  def minHashCrossPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      broadcastBenchmark: Boolean = true,
      maxBenchBucketSize: Int = 10000): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val cs = minHashSignatureArray(corpus, idCol, textCol, shingleLen, numHashes)
      .select(col(idCol).as("__id"), col("__sig"))
    val bs = minHashSignatureArray(benchmark, benchIdCol, benchTextCol,
        shingleLen, numHashes)
      .select(col(benchIdCol).as("__id"), col("__sig"))
    crossPairsFromSigs(cs, bs, bands, rowsPerBand, broadcastBenchmark,
        maxBenchBucketSize, "minhash_cross")
      .select(col("id_a"), col("id_b"),
        (col("__mc").cast("double") / lit(numHashes.toDouble))
          .as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
  }

  /** Cross-engine-portable cross-corpus MinHash pairs over the 4
    * [[minHashSignaturesPortable]] hashes (bands of 2) — the oracle twin
    * of [[minHashCrossPairs]]: a naive pairwise corpus × benchmark SQL
    * join with the band agreement spelled as explicit conjunctions
    * re-derives the same pairs value-for-value, proving the cross-corpus
    * banding drops no pairs. */
  def minHashCrossPairsPortable(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      threshold: Double = 0.5,
      shingleLen: Int = 3,
      maxBenchBucketSize: Int = 10000): DataFrame = {
    val k = PortableCoeffs.length
    val bands = 2
    val rowsPerBand = k / bands
    def sigsOf(df: DataFrame, id: String, text: String): DataFrame =
      minHashSignaturesPortable(df, id, text, shingleLen)
        .select(col(id).as("__id"),
          array((0 until k).map(i => col(s"minhash_$i")): _*).as("__sig"))
    crossPairsFromSigs(sigsOf(corpus, idCol, textCol),
        sigsOf(benchmark, benchIdCol, benchTextCol),
        bands, rowsPerBand, broadcastBenchmark = true,
        maxBenchBucketSize, "minhash_cross_portable")
      .select(col("id_a"), col("id_b"),
        round(col("__mc").cast("double") / lit(k.toDouble), 6)
          .as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
  }

  /** Fuzzy decontamination gate: drop corpus documents whose MinHash
    * signature agrees with ANY benchmark document on ≥ `threshold` of the
    * hashes ([[minHashCrossPairs]]). Complements the exact n-gram
    * [[contaminationScore]] gate (GPT-3-appendix-style decontamination
    * misses paraphrases; near-dup matching catches lightly edited eval
    * leakage). The corpus text rides only the final anti-join — the pair
    * machinery exchanges signatures and ids, never text — at the price of
    * scanning the corpus input twice (signatures + survivors); persist
    * the input first if it is not file-backed.
    *
    * Shingle-less benchmark docs (< `shingleLen` tokens, or null text)
    * are excluded from the gate: their signature is the all-sentinel
    * array ([[minHashSignatureArray]]), which matches every other
    * shingle-less doc at similarity 1.0 — one short eval row would
    * silently drop every short corpus doc while carrying no
    * contamination signal. (The raw [[minHashCrossPairs]] keeps sentinel
    * pairs: it reports signature agreement and the caller decides.)
    */
  def fuzzyDecontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      broadcastBenchmark: Boolean = true): DataFrame = {
    // sentinel exclusion (scaladoc): a bench doc with no shingles emits
    // the all-sentinel signature and would "contaminate" every short
    // corpus doc — same kernel, same tokenization, so the predicate is
    // exact (mirrored in streaming.FuzzyContaminationGate)
    val bench = benchmark.filter(
      size(wordNgrams(col(benchTextCol), shingleLen)) > 0)
    val hits = minHashCrossPairs(corpus, bench, idCol, benchIdCol,
        textCol, benchTextCol, threshold, shingleLen, numHashes, bands,
        broadcastBenchmark)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Cross-engine-portable twin of [[fuzzyDecontaminate]] — the SAME
    * composition (shingle-less-benchmark exclusion → cross-corpus banded
    * signature pairs → distinct hit ids → anti-join) over the portable
    * md5-prefix/4-perm kernel ([[minHashCrossPairsPortable]]), so the
    * DuckDB oracle replays the whole gate value-for-value with a naive
    * pairwise join (`text_decontaminate_fuzzy_portable`). The production
    * gate differs only in the signature kernel (xxhash64/32-perm, bands
    * of 4) and stays golden-pinned (`text_decontaminate_fuzzy`). */
  def fuzzyDecontaminatePortable(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      threshold: Double = 0.5,
      shingleLen: Int = 3): DataFrame = {
    val bench = benchmark.filter(
      size(wordNgrams(col(benchTextCol), shingleLen)) > 0)
    val hits = minHashCrossPairsPortable(corpus, bench, idCol, benchIdCol,
        textCol, benchTextCol, threshold, shingleLen)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Per-benchmark-document contamination ATTRIBUTION — the report a
    * decontamination run ships alongside the gate: for every benchmark
    * document, how many corpus documents contain ≥ `minFraction` of ITS
    * n-grams, and the worst overlap. Direction matters: leakage is
    * measured against the BENCHMARK doc's gram set (a short eval prompt
    * fully contained in a long page is a 100% leak of that prompt, even
    * though it is a sliver of the page — the [[contaminationScore]]
    * per-corpus-doc fraction under-weights exactly that case).
    *
    * Scale: with `broadcastBenchmark` (default) the benchmark gram→id
    * pairs and per-doc gram counts broadcast and the corpus side is one
    * explode feeding the broadcast join, so corpus text never exchanges;
    * the only shuffle carries (corpus id, bench id, count) rows.
    * BOUNDARY (same as [[minHashCrossPairs]]): the broadcast is sized for
    * a real eval suite (KBs–MBs of text, millions of grams at most). A
    * corpus-for-benchmark argument swap — or held-out-split attribution
    * where the "benchmark" IS corpus-scale — must pass
    * `broadcastBenchmark = false`, which shuffle-hash-joins both gram
    * streams on the gram key instead (no driver-sized structure anywhere).
    * Returns (bench_id, n_contaminated_docs, max_overlap) for benchmark
    * docs with ≥1 hit.
    *
    * Duplicate `benchIdCol` rows contribute the UNION of their gram sets
    * (one benchmark-side groupBy exchange); pass
    * `assumeUniqueBenchIds = true` to skip that aggregate when ids are
    * unique by construction (see [[benchGramRows]]).
    */
  def contaminationAttribution(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      n: Int = 3,
      minFraction: Double = 0.5,
      broadcastBenchmark: Boolean = true,
      assumeUniqueBenchIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    requireNotAttributionReserved(idCol)
    // benchIdCol == "bench_id" is the identity rename — allowed
    if (benchIdCol != "bench_id") requireNotAttributionReserved(benchIdCol)
    def gramHashes(c: Column): Column = GraftColumnBridge.column(
      graft.functions.XxHash64Array(
        GraftColumnBridge.expression(wordNgrams(c, n))))
    // both sides' gram-hash kernel passes are their entire pre-join cost —
    // remediate under-parallel scans before them (no-op at corpus scale,
    // see graft.ops.Par; "text never exchanges" still holds there)
    val benchGrams = benchGramRows(graft.ops.Par.fanOutSmallScan(benchmark),
      benchIdCol, benchTextCol, gramHashes, assumeUniqueBenchIds)
    val corpusGrams = graft.ops.Par.fanOutSmallScan(corpus)
      .select(col(idCol).as("__cid"),
        explode(gramHashes(col(textCol))).as("__g"))
    val hits =
      if (broadcastBenchmark) corpusGrams.join(broadcast(benchGrams), Seq("__g"))
      else corpusGrams.hint("shuffle_hash")
        .join(benchGrams.hint("shuffle_hash"), Seq("__g"))
    attributionFromHits(hits, minFraction)
  }

  /** [[contaminationAttribution]] for BOUNDED benchmarks (eval suites —
    * the reference's decontamination-report posture) via one single-pass
    * kernel eval per corpus document ([[graft.functions.BenchOverlap]]):
    * the benchmark's (gram → bench) posting table folds into the plan as
    * constant arrays, every (doc, bench) overlap completes inside the
    * doc's own row, and the ONLY exchange left is the |bench|-bounded
    * final aggregate — the gram-level join and the corpus×bench pair
    * shuffle are gone entirely.
    *
    * Boundedness contract (same class as
    * [[graft.streaming.ContaminationGate.withScore]]): the posting
    * collect is guarded by `maxBenchmarkPostings` and fails loudly with
    * the argument-swap diagnostic — a corpus-sized "benchmark" (held-out
    * split audits) must use [[contaminationAttribution]] with
    * `broadcastBenchmark = false`, which never materializes the
    * benchmark anywhere.
    *
    * Value-identical to the join forms (ContaminationReportSpec):
    * duplicate `benchIdCol` rows contribute the UNION of their gram sets
    * (the driver build unions them). Requires bigint bench ids (the
    * engine's doc-id convention) so the output schema matches the join
    * form exactly. CORPUS ids must be UNIQUE (the doc-id convention,
    * same contract class as `assumeUniqueBenchIds`): the kernel scores
    * each corpus ROW independently, while the join form first merges a
    * duplicated id's gram hits — two half-covering rows under one id
    * would count once there and twice here. */
  def contaminationAttributionCompact(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      n: Int = 3,
      minFraction: Double = 0.5,
      maxBenchmarkPostings: Long = 32L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    requireNotAttributionReserved(idCol)
    if (benchIdCol != "bench_id") requireNotAttributionReserved(benchIdCol)
    require(maxBenchmarkPostings > 0 && maxBenchmarkPostings < Int.MaxValue,
      s"maxBenchmarkPostings must be in (0, Int.MaxValue): $maxBenchmarkPostings")
    require(benchmark.schema(benchIdCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"compact attribution requires a bigint '$benchIdCol' (got " +
        s"${benchmark.schema(benchIdCol).dataType.simpleString}) — use " +
        "contaminationAttribution for other id types")
    def gramHashes(c: Column): Column = GraftColumnBridge.column(
      graft.functions.XxHash64Array(
        GraftColumnBridge.expression(wordNgrams(c, n))))
    // guarded posting collect: one PACKED gram ARRAY per benchmark row —
    // no explode rows and no distinct exchange reach the cluster. The
    // guard is a DISTRIBUTED pre-count that runs BEFORE the collect: an
    // argument swap must fail with the diagnostic before anything
    // corpus-sized can reach the driver, not after (a post-collect check
    // would OOM first at a large-enough benchmark). (An all-in-plan
    // one-row-sidecar variant was A/B-measured SLOWER end-to-end — its
    // distinct + size-join + one-row-fold chain costs 6 extra stages per
    // run; see PLANS.md round 16.)
    val benchGramArrays = graft.ops.Par.fanOutSmallScan(benchmark)
      .select(col(benchIdCol).as("bench_id"),
        gramHashes(col(benchTextCol)).as("__gs"))
    val totalPostings = benchGramArrays
      .agg(sum(coalesce(size(col("__gs")), lit(0))).as("n"))
      .head() match {
        case r if r.isNullAt(0) => 0L // empty benchmark
        case r => r.getLong(0)
      }
    if (totalPostings > maxBenchmarkPostings)
      throw new IllegalArgumentException(
        s"contaminationAttributionCompact: benchmark side has " +
          s"$totalPostings (id, gram) postings > cap $maxBenchmarkPostings " +
          "— too large for the single-pass kernel. Did you swap the " +
          "corpus and benchmark arguments? For a corpus-sized benchmark " +
          "use contaminationAttribution(broadcastBenchmark = false).")
    val perRow = benchGramArrays.collect()
    // normalize to one (id, distinct grams) entry per bench id. Fast path
    // (unique ids — the eval-suite norm): per-row arrays are already
    // distinct, copy primitively. Duplicate ids (a benchmark stored one
    // example per row under a shared task id) take the boxed union path.
    val entries: Array[(Long, Array[Long])] = {
      val raw = perRow.map(r => (r.getLong(0),
        if (r.isNullAt(1)) Array.empty[Long]
        else r.getSeq[Long](1).toArray))
      if (raw.map(_._1).distinct.length == raw.length) raw.sortBy(_._1)
      else {
        val byId = new java.util.TreeMap[java.lang.Long, java.util.HashSet[java.lang.Long]]()
        raw.foreach { case (id, gs) =>
          val set = byId.computeIfAbsent(id,
            _ => new java.util.HashSet[java.lang.Long]())
          gs.foreach(g => set.add(g))
        }
        val out = new Array[(Long, Array[Long])](byId.size)
        var i = 0
        val it = byId.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val set = e.getValue
          val a = new Array[Long](set.size)
          var j = 0
          val sit = set.iterator()
          while (sit.hasNext) { a(j) = sit.next(); j += 1 }
          out(i) = (e.getKey, a); i += 1
        }
        out
      }
    }
    val benchIds = entries.map(_._1)
    val nb = entries.map(_._2.length)
    val nFlat = nb.sum
    val flatG = new Array[Long](nFlat)
    val flatB = new Array[Int](nFlat)
    locally {
      var p = 0; var i = 0
      while (i < entries.length) {
        val gs = entries(i)._2
        System.arraycopy(gs, 0, flatG, p, gs.length)
        java.util.Arrays.fill(flatB, p, p + gs.length, i)
        p += gs.length; i += 1
      }
      // primitive dual-array quicksort by gram (ties' bench order is
      // irrelevant to the kernel's run walk)
      def sort(lo: Int, hi: Int): Unit = if (lo < hi) {
        val pivot = flatG((lo + hi) >>> 1)
        var l = lo; var r = hi
        while (l <= r) {
          while (flatG(l) < pivot) l += 1
          while (flatG(r) > pivot) r -= 1
          if (l <= r) {
            val tg = flatG(l); flatG(l) = flatG(r); flatG(r) = tg
            val tb = flatB(l); flatB(l) = flatB(r); flatB(r) = tb
            l += 1; r -= 1
          }
        }
        sort(lo, r); sort(l, hi)
      }
      sort(0, nFlat - 1)
    }
    // broadcast, not plan constants: multi-MB reference objects would
    // re-serialize into every job's task binary and deserialize per task
    val table = corpus.sparkSession.sparkContext.broadcast(
      graft.functions.BenchOverlap.PostingTable(flatG, flatB, benchIds, nb))
    val kernel = graft.functions.BenchOverlap(
      GraftColumnBridge.expression(gramHashes(col(textCol))),
      table, minFraction)
    graft.ops.Par.fanOutSmallScan(corpus)
      .select(explode(GraftColumnBridge.column(kernel)).as("__hit"))
      .groupBy(col("__hit.bench_id").as("bench_id"))
      .agg(count(lit(1)).as("n_contaminated_docs"),
        round(max(col("__hit.overlap")), 6).as("max_overlap"))
  }

  /** Internal/output names of the contamination-attribution machinery —
    * a user id column sharing one would be silently clobbered by the
    * internal selects instead of erroring loudly (same guard class as
    * Retrieval.ReservedCols, advisor r10). */
  private val AttributionReserved = Set("__g", "__gs", "__nb", "__cid",
    "__nc", "__shared", "bench_id", "n_grams", "n_contaminated",
    "contamination", "n_contaminated_docs", "max_overlap")

  private def requireNotAttributionReserved(cols: String*): Unit =
    cols.foreach(c => require(!AttributionReserved(c),
      s"column name '$c' collides with the contamination-attribution " +
        s"internals (${AttributionReserved.toSeq.sorted.mkString(", ")})" +
        " — rename it first"))

  /** Bench side of the attribution joins: (bench_id, __nb, __g) with the
    * doc's gram-SET size riding alongside its exploded grams (two selects —
    * not one — so explode references a resolved column, not a lateral
    * alias).
    *
    * Default (`assumeUniqueIds = false`): duplicate `benchIdCol` rows (a
    * benchmark stored one example per row under a shared task id)
    * contribute the UNION of their gram sets and `__nb` is the union's
    * size — attribution is invariant to how the benchmark text is
    * row-split (advisor r10: the previous carried-size path took one
    * row's size under duplicate ids, a silent wrong answer). The union
    * costs ONE groupBy exchange of the packed per-row gram arrays.
    *
    * `assumeUniqueIds = true` is the zero-exchange fast path for callers
    * whose bench ids are unique BY CONSTRUCTION (a keyed eval suite, or
    * the held-out-split posture where ids come from the corpus's own
    * key): no benchmark-sizes scan, aggregate, or join anywhere — the
    * size rides the explode. */
  private def benchGramRows(
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      gramHashes: Column => Column,
      assumeUniqueIds: Boolean): DataFrame = {
    val perRow = benchmark
      .select(col(benchIdCol).as("bench_id"),
        gramHashes(col(benchTextCol)).as("__gs"))
    val sized =
      if (assumeUniqueIds) perRow
      else perRow
        .groupBy(col("bench_id"))
        .agg(array_distinct(flatten(collect_list(col("__gs")))).as("__gs"))
    sized.select(col("bench_id"), size(col("__gs")).as("__nb"),
      explode(col("__gs")).as("__g"))
  }

  /** (cid, bench_id, nb) hit rows → per-benchmark-doc attribution — the
    * shared tail of [[contaminationAttribution]] / [[contaminationReport]].
    * `__nb` is constant per bench_id (carried through the explode), so
    * max() recovers it without a sizes join. */
  private def attributionFromHits(
      hits: DataFrame,
      minFraction: Double): DataFrame =
    hits
      .groupBy(col("__cid"), col("bench_id"))
      .agg(count(lit(1)).as("__shared"), max(col("__nb")).as("__nb"))
      .filter(col("__shared") >= col("__nb") * lit(minFraction))
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_contaminated_docs"),
        round(max(col("__shared").cast("double") / col("__nb")), 6)
          .as("max_overlap"))

  /** BOTH contamination directions from ONE corpus gram pass — what a real
    * decontamination run ships: the per-corpus-doc score frame (gates the
    * corpus) and the per-benchmark-doc attribution report (names the leaks).
    * Run separately, [[contaminationScore]] and [[contaminationAttribution]]
    * each explode the corpus's n-grams — the dominant cost at corpus scale.
    * Here the exploded `(cid, gram)` frame and the gram-level hit join are
    * computed once (lazily `localCheckpoint`ed, materialized by the first
    * consumer; swap for reliable `.checkpoint()` on a cluster) and both
    * outputs aggregate from them.
    *
    * Returns (scores, attribution) with schemas identical to
    * [[contaminationScore]] / [[contaminationAttribution]] — value-equality
    * against the separate runs is pinned in ContaminationReportSpec.
    */
  def contaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      benchTextCol: String,
      n: Int = 3,
      minFraction: Double = 0.5,
      broadcastBenchmark: Boolean = true,
      assumeUniqueBenchIds: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftColumnBridge
    requireNotAttributionReserved(idCol)
    if (benchIdCol != "bench_id") requireNotAttributionReserved(benchIdCol)
    def gramHashes(c: Column): Column = GraftColumnBridge.column(
      graft.functions.XxHash64Array(
        GraftColumnBridge.expression(wordNgrams(c, n))))
    val corpusGrams = corpus
      .select(col(idCol).as("__cid"),
        explode(gramHashes(col(textCol))).as("__g"))
      .localCheckpoint(eager = false) // ONE corpus explode for both outputs
    val benchGrams = benchGramRows(benchmark, benchIdCol, benchTextCol,
        gramHashes, assumeUniqueBenchIds)
      .localCheckpoint(eager = false)
    // gram-level hits (cid, g, bench_id, nb): both aggregates consume this
    val hits =
      (if (broadcastBenchmark) corpusGrams.join(broadcast(benchGrams), Seq("__g"))
       else corpusGrams.hint("shuffle_hash")
         .join(benchGrams.hint("shuffle_hash"), Seq("__g")))
        .localCheckpoint(eager = false)
    // score direction: a gram hitting k bench docs still counts ONCE for
    // the corpus doc's contaminated fraction (mirrors contaminationScore's
    // distinct bench gram set)
    val contaminated = hits.select(col("__cid"), col("__g")).distinct()
      .groupBy(col("__cid")).agg(count(lit(1)).as("__nc"))
    val scores = corpusGrams.groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_grams"))
      .join(contaminated, Seq("__cid"), "left")
      .select(col("__cid").as(idCol), col("n_grams"),
        coalesce(col("__nc"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("__nc"), lit(0L)) / col("n_grams"), 6)
          .as("contamination"))
    (scores, attributionFromHits(hits, minFraction))
  }

  /** Persist a corpus's production MinHash signatures as parquet
    * `(idCol, sig: array<long>)` — the incremental-ingest analogue of
    * [[graft.ext.Retrieval.writeIndex]] / `Similarity.writeCentroids`:
    * a daily crawl increment dedups against the historical corpus by
    * reading this frame instead of re-shingling petabytes of history.
    * The signature pass is the dominant dedup cost, paid once per doc
    * for the corpus's lifetime. */
  def writeSignatures(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      numFiles: Int = 0): Unit = {
    val sigs = minHashSignatureArray(corpus, idCol, textCol, shingleLen,
        numHashes)
      .select(col(idCol), col("__sig").as("sig"))
    (if (numFiles > 0) sigs.repartition(numFiles) else sigs)
      .write.mode("overwrite").parquet(path)
  }

  /** Cross-corpus near-dup pairs of a NEW shard against a persisted
    * signature frame ([[writeSignatures]] output, or any
    * `(id, sig array<long>)` frame) — identical results to
    * [[minHashCrossPairs]] with the historical corpus as `benchmark`,
    * without re-shingling it. The signature side is typically
    * corpus-scale, so the default posture is the shuffle-hash banded
    * join (`broadcastSignatures = false`); flip it for a small index.
    * Returns (id_a: new-shard id, id_b: indexed id, sig_similarity). */
  def minHashCrossPairsFromSignatures(
      newDocs: DataFrame,
      signatures: DataFrame,
      idCol: String,
      sigIdCol: String,
      textCol: String,
      sigCol: String = "sig",
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      broadcastSignatures: Boolean = false,
      maxIndexBucketSize: Int = 10000): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val cs = minHashSignatureArray(newDocs, idCol, textCol, shingleLen,
        numHashes)
      .select(col(idCol).as("__id"), col("__sig"))
    val bs = signatures
      .select(col(sigIdCol).as("__id"), col(sigCol).as("__sig"))
    crossPairsFromSigs(cs, bs, bands, rowsPerBand, broadcastSignatures,
        maxIndexBucketSize, "minhash_cross_index")
      .select(col("id_a"), col("id_b"),
        (col("__mc").cast("double") / lit(numHashes.toDouble))
          .as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
  }

  /** Incremental-ingest dedup: the new shard minus (a) near-dups of the
    * persisted historical corpus ([[minHashCrossPairsFromSignatures]])
    * and (b) within-shard near-dups ([[minHashNearDuplicates]], dropping
    * the larger id of every pair — route the shard through
    * [[duplicateClusters]] instead when chains need one survivor per
    * component). The historical corpus is touched only
    * through its KB-per-million-docs signature frame; the new shard —
    * the small side, by definition of an increment — pays one signature
    * pass. Append the survivors' signatures back with
    * [[writeSignatures]] to roll the index forward. */
  def dedupIncrement(
      newDocs: DataFrame,
      signatures: DataFrame,
      idCol: String,
      sigIdCol: String,
      textCol: String,
      sigCol: String = "sig",
      threshold: Double = 0.7,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // a document never duplicates ITSELF: an id present on both sides is
    // the same document re-presented (a replayed micro-batch after its
    // signatures were already rolled into the index, a re-crawled source
    // re-shipping yesterday's file) — dropping it would turn every replay
    // into silent data loss, and ids are unique by the ingest contract,
    // so an id-equal pair can never be a genuine cross-document dup
    val vsHistory = minHashCrossPairsFromSignatures(newDocs, signatures,
        idCol, sigIdCol, textCol, sigCol, threshold, shingleLen, numHashes,
        bands)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a").as(idCol))
    val within = minHashNearDuplicates(newDocs, idCol, textCol, threshold,
        shingleLen, numHashes, bands)
      .select(greatest(col("id_a"), col("id_b")).as(idCol))
    newDocs.join(vsHistory.unionByName(within).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Every occurrence of a CORPUS-REPEATED n-token window, joined to its
    * global occurrence count — and, with `withKeeper`, its keeper (the
    * lexicographically first (doc, pos) occurrence) — the shared core of
    * [[repeatedSpans]] / [[dropRepeatedSpans]]. One kernel eval per
    * document produces all window hashes (rolling — O(tokens), not
    * O(tokens·n)); the only exchanges move (h1, h2, id, pos) rows, never
    * text. The kernel map stage runs twice (once per join arm — the
    * aggregate arm exchanges post-partial-agg, so the two exchanges
    * differ and ReuseExchange cannot share them); that re-scan is
    * deliberately cheaper at corpus scale than materializing the
    * exploded window stream (tokens-per-corpus rows) to save it. Both
    * sides are hinted `shuffle_hash`: Catalyst's size estimate under the
    * explode would otherwise BROADCAST the window-count aggregate — one
    * row per distinct window at corpus scale, a driver collect.
    * `withKeeper` costs a SortAggregate (min over a struct has no hash
    * aggregation); [[repeatedSpans]] skips it and keeps the cheap
    * count-only hash aggregate. */
  private def spanWindowOccurrences(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    df.select(col(idCol),
        posexplode(GraftColumnBridge.column(graft.functions.TokenWindowHashes(
          GraftColumnBridge.expression(col(textCol)), n))).as(Seq("__p", "__w")))
      .select(col(idCol), (col("__p") + lit(1)).cast("long").as("__pos"),
        col("__w.h1").as("__h1"), col("__w.h2").as("__h2"))
  }

  private def repeatedSpanOccurrences(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      withKeeper: Boolean): DataFrame = {
    val occ = spanWindowOccurrences(df, idCol, textCol, n)
    val aggs =
      if (withKeeper) Seq(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("__pos"))).as("__keep"))
      else Seq(count(lit(1)).as("__cnt"))
    val stats = occ.groupBy(col("__h1"), col("__h2")).agg(aggs.head, aggs.tail: _*)
    occ.hint("shuffle_hash")
      .join(stats.hint("shuffle_hash"), Seq("__h1", "__h2"))
      .filter(col("__cnt") >= 2)
  }

  /** ExactSubstr-style repeated-span detection (Lee et al. 2022): every
    * (document, 1-based window start) whose n-token window occurs ≥2
    * times anywhere in the corpus, with the global occurrence count. A
    * repeated substring of length L ≥ n yields L−n+1 repeated windows,
    * so every cross- or within-document verbatim repeat of at least n
    * tokens is caught at every position it covers. Windows are keyed by
    * a 128-bit rolling hash ([[graft.functions.TokenWindowHashes]]) —
    * corpus-scale window counts make 64-bit birthday collisions (a
    * silently merged innocent span) a real event, the
    * [[fingerprint128]] argument at span grain.
    * Returns (idCol, pos, n_occurrences). */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50): DataFrame =
    repeatedSpanOccurrences(df, idCol, textCol, n, withKeeper = false)
      .select(col(idCol), col("__pos").as("pos"),
        col("__cnt").as("n_occurrences"))

  /** ExactSubstr-style span REMOVAL: rewrite each document dropping every
    * token covered by a repeated n-token window occurrence, except the
    * corpus-wide first occurrence of each window (min (doc, pos)) — one
    * copy of every duplicated passage survives, the Lee et al. 2022
    * policy at window grain. Documents with no repeated span keep their
    * text byte-identical; modified documents re-join kept tokens with
    * single spaces ([[dropRepeatedParagraphs]] whitespace precedent).
    *
    * Scale: text crosses exactly two stages — the kernel map pass
    * (window hashes) and the final rewrite join; every intermediate
    * exchange carries (hash, id, pos) rows. The per-document dropped
    * start list is bounded by that document's window count and is tiny
    * in practice (repeats are the exception); the rewrite itself is one
    * [[graft.functions.RemoveTokenRanges]] kernel eval. */
  def dropRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50): DataFrame = {
    require(!df.columns.contains("__starts"),
      "dropRepeatedSpans uses the internal column name '__starts' — " +
        "rename or drop it first")
    val dropped = repeatedSpanOccurrences(df, idCol, textCol, n,
        withKeeper = true)
      .filter(!(col(idCol) === col("__keep")(idCol) &&
        col("__pos") === col("__keep")("__pos")))
      .select(col(idCol), col("__pos"))
    rewriteWithoutSpans(df, dropped, idCol, textCol, n)
  }

  /** (id, __pos) dropped-window starts → rewritten frame: collect each
    * document's sorted start list and erase the covered tokens in one
    * [[graft.functions.RemoveTokenRanges]] kernel eval — the shared tail
    * of [[dropRepeatedSpans]] / [[dropRepeatedSpansIncrement]]. */
  private def rewriteWithoutSpans(
      df: DataFrame, dropped: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val starts = dropped.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    df.join(starts, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__starts").isNull, col(textCol))
          .otherwise(GraftColumnBridge.column(graft.functions.RemoveTokenRanges(
            GraftColumnBridge.expression(col(textCol)),
            GraftColumnBridge.expression(col("__starts")), n))))
      .drop("__starts")
  }

  /** Persist a corpus's n-token window hashes as parquet
    * `(h1, h2, idCol, pos)` — the ExactSubstr analogue of
    * [[writeSignatures]] (Lee et al. 2022's deployment shape): a daily
    * crawl increment masks spans repeated against the historical corpus
    * by reading this frame instead of re-window-hashing petabytes of
    * history. The window-hash kernel pass is the dominant span-dedup
    * cost, paid once per document for the corpus's lifetime; the index
    * is ~24 B per token — columnar-compressed parquet, laid out
    * hash-sorted within files so row-group min/max stats prune
    * non-matching ranges at scan time. */
  def writeSpanIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 50,
      numFiles: Int = 0): Unit = {
    val occ = spanWindowOccurrences(corpus, idCol, textCol, n)
      .select(col("__h1").as("h1"), col("__h2").as("h2"),
        col(idCol), col("__pos").as("pos"))
    (if (numFiles > 0) occ.repartition(numFiles) else occ)
      .sortWithinPartitions(col("h1"), col("h2"))
      .write.mode("overwrite").parquet(path)
  }

  /** ExactSubstr span removal for an INCREMENT against a persisted
    * [[writeSpanIndex]] history: erase every increment window occurrence
    * whose hash appears in the history index (history PRECEDES the
    * increment, so the historical occurrence is always the keeper), plus
    * within-increment repeats under the usual first-(doc, pos)-keeper
    * policy. With history ids ordered before increment ids this is
    * row-identical to [[dropRepeatedSpans]] over history ∪ increment
    * restricted to the increment (SpanDedupSpec pins it); the general
    * contract is the deployment one — history wins regardless of id
    * order, because its documents were already written.
    *
    * Scale: the history never re-hashes — its text is not even read; the
    * increment (small by definition) pays one kernel pass per join arm.
    * The index arm joins `shuffle_hash` on the 128-bit window key (the
    * [[repeatedSpanOccurrences]] posture — a broadcast of either side
    * would driver-collect a corpus-scale stream); every exchange carries
    * (h1, h2, id, pos) rows only.
    */
  def dropRepeatedSpansIncrement(
      newDocs: DataFrame,
      spanIndex: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50): DataFrame = {
    require(!newDocs.columns.contains("__starts"),
      "dropRepeatedSpansIncrement uses the internal column name " +
        "'__starts' — rename or drop it first")
    val occ = spanWindowOccurrences(newDocs, idCol, textCol, n)
    // (a) any increment occurrence of a window history contains: dropped
    val inHistory = occ.hint("shuffle_hash")
      .join(spanIndex.select(col("h1").as("__h1"), col("h2").as("__h2"))
        .hint("shuffle_hash"),
        Seq("__h1", "__h2"), "left_semi")
      .select(col(idCol), col("__pos"))
    // (b) within-increment repeats: keep the increment's first (doc, pos)
    val withinDropped = repeatedSpanOccurrences(newDocs, idCol, textCol, n,
        withKeeper = true)
      .filter(!(col(idCol) === col("__keep")(idCol) &&
        col("__pos") === col("__keep")("__pos")))
      .select(col(idCol), col("__pos"))
    val dropped = inHistory.unionByName(withinDropped).distinct()
    rewriteWithoutSpans(newDocs, dropped, idCol, textCol, n)
  }

  // ——— edit-distance (Levenshtein) near-dup pairs ———

  /** Hashed character q-grams of `text` as an array column — pure
    * built-ins (`transform`/`substr`/`xxhash64`), fully codegen'd. */
  private def charGramHashes(text: Column, q: Int): Column =
    transform(sequence(lit(1), length(text) - (q - 1)),
      i => xxhash64(text.substr(i, lit(q))))

  /** All pairs of documents within Levenshtein distance `maxEdits` —
    * the OCR/typo/near-identical-revision dedup modality that token-level
    * Jaccard misses (a handful of character edits barely moves a shingle
    * set but IS the duplication signal for scanned or templated text).
    *
    * Algorithm (Ed-Join family — Xiao, Wang, Lin, Yu 2008, "Ed-Join: an
    * efficient algorithm for similarity joins with edit distance
    * constraints"; public literature): one edit operation disturbs at
    * most `q` of a string's character q-grams, so two strings within
    * `maxEdits` = k differ in at most k·q gram TYPES per side. Under ANY
    * global total order on grams, if the k·q+1 smallest grams of A share
    * nothing with the k·q+1 smallest of B then |A∖B| > k·q — so every
    * qualifying pair shares a gram inside both PREFIXES, and each doc
    * need only post k·q+1 gram rows (bounded, corpus-size-independent).
    * Candidates additionally pass the length filter ||A|−|B]| ≤ k; the
    * survivor pairs verify with the THRESHOLD-BANDED built-in
    * `levenshtein(a, b, k)` — O(k·len) per pair, not O(len²).
    *
    * Scale shape: grams are ordered RAREST-FIRST (global document
    * frequency asc, hash tiebreak — Ed-Join's published ordering): rare
    * grams are shared by few documents, so posting lists stay short and
    * candidate volume tracks the real near-dup density instead of the
    * corpus's common-trigram background (a random gram order makes
    * nearly every length-compatible pair of same-language documents a
    * candidate — measured locally before switching). Cost: one
    * vocabulary-sized df aggregate + a gram-keyed join of the distinct
    * per-doc gram stream, then a bounded-heap per-doc TopK picks each
    * prefix — k·q+1 posting rows per doc, corpus-size-independent; text
    * never shuffles into pair generation, and the verify joins texts
    * back by id for CANDIDATE pairs only. The RESULT SET is provably
    * independent of the chosen order (completeness holds for any shared
    * total order — only candidate volume varies), so the oracle may
    * replay a DIFFERENT complete order (md5) and must still agree.
    *
    * EXACT-TEXT COLLAPSE (the [[ngramJaccardPairs]] pattern at character
    * grain): byte-identical documents — the dominant near-dup mode in
    * crawl corpora — are grouped by an `xxhash64(text)` fingerprint and
    * represented by their min-id member, so pair DISCOVERY and VERIFY
    * run once per DISTINCT text (a duplication factor d cuts the
    * discovery volume d²); within-cluster member pairs emit directly at
    * distance 0 and verified representative pairs expand through the
    * member lists. The collapse aggregate partially deduplicates
    * map-side, so its exchange carries ~one row per distinct text per
    * task, not per document. (Fingerprint collision odds are 2⁻⁶⁴ per
    * distinct-text pair — the [[minHashSignatureArray]] trade.)
    *
    * CONTRACT: documents shorter than q·(maxEdits+1) characters are
    * EXCLUDED (below that length the prefix bound cannot certify
    * completeness — q-grams can miss entirely; use exact dedup or
    * [[ngramJaccardPairs]] for short strings). Returns
    * (id_a, id_b, edit_distance) with id_a < id_b, distance ≤ maxEdits.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxEdits: Int,
      q: Int = 3): DataFrame = {
    require(maxEdits >= 1, s"maxEdits must be positive, got $maxEdits")
    require(q >= 2, s"q must be >= 2, got $q")
    // id/text columns sharing an internal or output name would be
    // silently clobbered by the selects below — reject loudly
    Seq(idCol, textCol).filter(Set("__fp", "__rep", "__members", "__len",
        "__g", "__df", "__ta", "__tb", "__ia", "__ib",
        "id_a", "id_b", "edit_distance"))
      .headOption.foreach(c => throw new IllegalArgumentException(
        s"column name '$c' collides with the editDistancePairs " +
          "internals/outputs — rename it first"))
    val minLen = q * (maxEdits + 1)
    val prefixLen = maxEdits * q + 1
    // exact-text collapse: one row per DISTINCT text, min-id rep +
    // member list; map-side partial aggregation dedupes before exchange
    val uniq = df
      .select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= minLen)
      .groupBy(xxhash64(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as("__rep"),
        first(col(textCol)).as(textCol),
        collect_list(col(idCol)).as("__members"))
      .localCheckpoint(eager = false) // read by discovery + both expands
    val reps = uniq.select(col("__rep").as(idCol), col(textCol))
    // distinct per-rep grams, lazily checkpointed: the df aggregate and
    // the rarity join both read the materialized stream (one gram pass)
    val docGrams = reps
      .select(col(idCol), length(col(textCol)).as("__len"),
        explode(array_distinct(charGramHashes(col(textCol), q))).as("__g"))
      .localCheckpoint(eager = false)
    val dfFrame = docGrams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
    // per-rep k·q+1 rarest grams via the bounded heap — no per-doc sort
    val postings = graft.ops.TopK.perGroup(
        docGrams.join(dfFrame.hint("shuffle_hash"), Seq("__g")),
        Seq(idCol), Seq(col("__df"), col("__g")), prefixLen)
      .select(col(idCol), col("__len"), col("__g"))
    val cands = postings.as("a")
      .join(postings.as("b"),
        col("a.__g") === col("b.__g") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          abs(col("a.__len") - col("b.__len")) <= maxEdits)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val ta = reps.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = reps.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    // banded verify on REPRESENTATIVE pairs: -1 = distance exceeds k
    val repPairs = cands
      .join(ta, Seq("id_a"))
      .join(tb, Seq("id_b"))
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxEdits))
      .filter(col("edit_distance") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
    // expansion: each explode references a PRIOR select's column (never a
    // same-select alias — the Generate lateral-alias trap)
    val membA = uniq.select(col("__rep").as("id_a"), col("__members").as("__ma"))
    val membB = uniq.select(col("__rep").as("id_b"), col("__members").as("__mb"))
    val cross = repPairs
      .join(membA, Seq("id_a"))
      .join(membB, Seq("id_b"))
      .select(explode(col("__ma")).as("__ia"), col("__mb"), col("edit_distance"))
      .select(col("__ia"), explode(col("__mb")).as("__ib"), col("edit_distance"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("edit_distance"))
    val within = uniq
      .filter(size(col("__members")) > 1)
      .select(explode(col("__members")).as("__ia"), col("__members"))
      .select(col("__ia"), explode(col("__members")).as("__ib"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        lit(0).as("edit_distance"))
    cross.unionByName(within)
  }
}
