package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `TABLESAMPLE` / `df.sample` are seed-dependent AND partition-dependent —
  * the same seed yields different rows after a repartition, which makes
  * pipeline reruns non-reproducible at scale. Hash-gating on a stable key
  * (`hash(key) mod granularity < rate`) is partition-independent,
  * cluster-size-independent, and joins consistently across tables sampled
  * on the same key (the standard trick for coherent multi-table samples).
  * It is a pure map-side filter: no shuffle, pushes through scans as a
  * deterministic predicate.
  */
object Sampling {

  /** Deterministic cross-engine-portable ordering priority for a row key:
    * md5 over `id:seed`. The SINGLE definition behind both the shard
    * assigner ([[shardByHash]]) and the mixture sampler
    * ([[graft.ext.TextAnalysis.mixtureByTokenBudget]]) — specs and DuckDB
    * oracles deliberately re-derive the formula independently, but the two
    * operators must never drift from each other. */
  def hashPriority(idCol: Column, seed: String): Column =
    md5(concat(idCol.cast("string"), lit(":" + seed)).cast("binary"))

  /** Numeric value of the priority's first `hexDigits` hex chars (4 bits
    * each) — shard/bucket derivation; monotone in the priority. */
  def priorityPrefix(pri: Column, hexDigits: Int): Column =
    conv(substring(pri, 1, hexDigits), 16, 10).cast("long")

  /** Production path: xxhash64-gated sample keeping ~`percent`% of rows. */
  def hashSample(df: DataFrame, keyCol: Column, percent: Int): DataFrame =
    df.filter(productionGate(keyCol) < percent)

  private def productionGate(keyCol: Column): Column =
    pmod(xxhash64(keyCol), lit(100))

  /** Cross-engine-portable variant: first 8 md5 hex digits as the gate hash
    * (same idiom as [[graft.ext.Dedup.simHashPortable]]) so the sampled set
    * is reproducible in any engine with md5 — and hence oracle-checkable.
    * Slower than [[hashSample]]; use for cross-engine reconciliation. */
  def hashSamplePortable(df: DataFrame, keyCol: Column, percent: Int): DataFrame =
    df.filter(portableGate(keyCol) < percent)

  /** Cross-engine-portable 0..99 bucket for a (key, seed): first 8 md5
    * hex digits of `key:seed` mod 100 — the shared gate behind sampling
    * percentages and grouped splits, replayable in any engine with md5
    * (`CAST('0x' || substr(md5(k || ':' || seed), 1, 8) AS BIGINT) %
    * 100`). Deterministic across runs, engines and cluster layouts;
    * reseed to draw an independent assignment. */
  def portableBucket(keyCol: Column, seed: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.Md5PrefixLong(
      GraftColumnBridge.expression(
        concat(keyCol.cast("string"), lit(":" + seed))), 8)) % 100
  }

  private def portableGate(keyCol: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    // native kernel ≡ conv(substring(md5(s), 1, 8), 16, 10) — same md5
    // bytes, digit value read off the digest instead of materializing and
    // re-parsing the 32-char hex string per row (bit-identical, and the
    // DuckDB oracles keep recomputing the expression form)
    GraftColumnBridge.column(graft.functions.Md5PrefixLong(
      GraftColumnBridge.expression(keyCol.cast("string")), 8)) % 100
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement (2006):
    * per group, keep the k rows with the largest priority key
    * `u^(1/w)` — over many draws each row's inclusion probability is
    * proportional to its weight, and the whole draw happens in one
    * bounded-heap [[TopK.perGroupRanked]] pass (O(groups·k) state, no
    * Window, no per-group sort). The classical distributed form of
    * "sample documents proportional to quality/token count".
    *
    * DETERMINISTIC: `u` is the first 52 bits of `md5(id:seed)` scaled to
    * [0, 1) — reproducible across runs, engines and cluster layouts,
    * reseedable per epoch. The key rounds to 9 dp before ranking (id
    * tie-break), so cross-engine `pow` ulps cannot flip the sample.
    * Rows with null or non-positive weight are EXCLUDED (E-S requires
    * w > 0; a zero-weight row can never be drawn). Appends `sample_key`
    * and `rank` (1 = highest key). */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String,
      groupCols: Seq[String], k: Int, seed: String = "42"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (add a constant column for a global draw)")
    val u = priorityPrefix(hashPriority(col(idCol), seed), 13)
      .cast("double") / lit(4503599627370496.0) // 2^52
    val keyed = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("sample_key",
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9))
    graft.ops.TopK.perGroupRanked(
      keyed, groupCols, Seq(col("sample_key").desc, col(idCol)), k)
  }

  /** Deterministic corpus reshuffle into `nShards` balanced shards — the
    * "global shuffle then write N training files" step of a training-data
    * pipeline, reproducible across reruns and cluster sizes. Each row gets
    * `shard` (uniform over md5 of `id:seed` — partition-independent,
    * rerun-stable) and `pos`, its 1-based position in the shard's
    * deterministic hash order.
    *
    * Plan shape IS the write layout: one hash exchange on `shard` plus a
    * per-shard sort (the `row_number` window) — no global sort, no driver
    * involvement, and the sorted shard partitions stream straight into a
    * file writer. Per-shard data is corpus/`nShards` by uniformity: pick
    * `nShards` so one shard fits an executor's sort memory — the same
    * number you'd pick for output file size anyway (~1 GB shards at
    * 100 TB means ~100k shards). A different `seed` yields an independent
    * reshuffle (epoch reordering without rewriting the corpus).
    */
  def shardByHash(
      df: DataFrame, idCol: String, nShards: Int,
      seed: String = "42"): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    // portable priority ([[hashPriority]]): shard from the leading 32
    // bits, within-shard order from the full digest, id as tie-break
    val withPri = df.withColumn("__pri", hashPriority(col(idCol), seed))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__pri"), col(idCol))
    withPri
      .withColumn("shard",
        pmod(priorityPrefix(col("__pri"), 8), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__pri")
  }

  /** Materializes a [[shardByHash]]-assigned frame as the training-file
    * layout the plan was shaped for: one `shard=N` directory per shard,
    * ONE file per shard, rows in `pos` order inside it. The frame arrives
    * hash-partitioned on `shard` (the window's exchange), so the write
    * adds NO new exchange — only a local `sortWithinPartitions` (the
    * window's (shard, priority) task order already implies (shard, pos);
    * the explicit sort pins it against spill/codegen reordering and
    * satisfies the dynamic-partition writer's ordering requirement
    * without a planner-inserted sort). A shard lives wholly in one task,
    * so each directory gets exactly one file — the ~1 GB training-shard
    * files a 100 TB run wants, with `nShards` as the size knob. */
  def writeAssignedShards(
      sharded: DataFrame, outDir: String, format: String = "parquet"): Unit = {
    require(sharded.columns.contains("shard") && sharded.columns.contains("pos"),
      "writeAssignedShards expects a shardByHash output (shard + pos columns)")
    sharded
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").format(format).save(outDir)
  }

  /** [[shardByHash]] + [[writeAssignedShards]] in one call; returns the
    * assigned frame for downstream accounting. */
  def writeShards(
      df: DataFrame, idCol: String, nShards: Int, outDir: String,
      seed: String = "42", format: String = "parquet"): DataFrame = {
    val sharded = shardByHash(df, idCol, nShards, seed)
    writeAssignedShards(sharded, outDir, format)
    sharded
  }

  /** Stratified sample: a different keep-percentage per stratum value
    * (e.g. downsample boilerplate-heavy sources harder than rare ones).
    * Still a pure map-side filter — the rate table compiles into a CASE
    * chain, so there is no join and no shuffle; the same key hashes to
    * the same gate in every stratum, keeping cross-strata samples
    * coherent. The gate is the md5 one of [[hashSamplePortable]], so the
    * sample is reproducible in any engine with md5. */
  def stratifiedSample(
      df: DataFrame,
      keyCol: Column,
      strataCol: Column,
      rates: Seq[(String, Int)],
      defaultPercent: Int): DataFrame = {
    val gate = portableGate(keyCol)
    val pct = rates.foldRight(lit(defaultPercent): Column) {
      case ((v, p), rest) => when(strataCol === v, p).otherwise(rest)
    }
    df.filter(gate < pct)
  }

  /** Deterministic per-source EPOCH upsampling — the mixture-weight
    * application step of published pretraining recipes (LLaMA's
    * Wikipedia×2.45, Dolma's per-source epoch factors): a source with
    * epoch factor `w` repeats every document `floor(w)` times, and a
    * deterministic hash-gated `w − floor(w)` fraction of its documents
    * once more — so expected token share matches the recipe exactly
    * while every rerun, engine and cluster layout picks the SAME extra
    * documents (u = first 32 bits of `md5(id:seed)`, the
    * [[hashPriority]] idiom every oracle replays).
    *
    * Map-only: the weight table compiles into a CASE chain (no join),
    * the repetition is a per-row `sequence` explode — no shuffle
    * anywhere, pipelines straight into a downstream shuffler/packer
    * ([[shardByHash]], [[graft.ext.Packing.packSequences]] — give
    * replicas distinct stream keys via (id, epoch)). Sources absent
    * from `epochs` get `defaultEpochs`; `w = 0` drops the source.
    * Appends `epoch` (1-based replica index, ≤ ceil(w)). */
  def epochExpand(
      df: DataFrame, idCol: String, sourceCol: String,
      epochs: Seq[(String, Double)], defaultEpochs: Double = 1.0,
      seed: String = "epoch"): DataFrame = {
    (epochs.map(_._2) :+ defaultEpochs).foreach(w =>
      require(w >= 0 && w <= 1000,
        s"epoch factor must be in [0, 1000], got $w"))
    Seq("epoch", "__n_epochs").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — rename it first"))
    val wCol = epochs.foldRight(lit(defaultEpochs): Column) {
      case ((s, w), rest) => when(col(sourceCol) === s, w).otherwise(rest)
    }
    val u = priorityPrefix(hashPriority(col(idCol), seed), 8)
      .cast("double") / lit(4294967296.0) // 2^32
    val n = floor(wCol).cast("long") +
      when(u < wCol - floor(wCol), 1L).otherwise(0L)
    df.withColumn("__n_epochs", n)
      .withColumn("epoch",
        explode(when(col("__n_epochs") >= 1L,
          sequence(lit(1L), col("__n_epochs")))
          .otherwise(array().cast("array<long>"))))
      .drop("__n_epochs")
  }
}
