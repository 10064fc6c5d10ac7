package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dataflow operator surface (SURVEY.md §2) re-expressed as
  * pure `DataFrame => DataFrame` transformations, Spark-first.
  *
  * Ordering is always explicit (an `orderCol`): Spark has no implicit row
  * order, while the reference relies on pandas index order everywhere
  * (SURVEY.md §4.3 trap 1).
  */
object TimeSeriesOps {

  /** J1 — surrogate-key assignment (reference:
    * paqarin/utils/data_utils.py:13-30).
    *
    * Distinct entity tuples get dense int ids in order of first appearance
    * (pandas `drop_duplicates` preserves encounter order; here "first
    * appearance" = min of `orderCol` per key). The reference's per-row dict
    * lookup (data_utils.py:25-28) becomes a broadcast hash join: the
    * dimension is |distinct entities|, small relative to the fact table, so
    * the join never shuffles the fact side.
    *
    * The unpartitioned `row_number` window runs on the dimension only —
    * single-task, but over distinct keys, not rows. At extreme key
    * cardinality switch the dimension build to zipWithIndex over a sorted
    * Dataset; fact-side cost is unchanged.
    */
  def addSurrogateKey(
      df: DataFrame,
      idCols: Seq[String],
      orderCol: String,
      outCol: String = "surrogate_item_id"): DataFrame = {
    val dim = df
      .groupBy(idCols.map(col): _*)
      .agg(min(col(orderCol)).as("__first_seen"))
      .withColumn(
        outCol,
        row_number().over(Window.orderBy(col("__first_seen"))) - 1)
      .drop("__first_seen")
    df.join(broadcast(dim), idCols)
  }

  /** A3 — resample-sum: per entity, bucket rows into tumbling `unit` windows
    * and sum the numeric columns (reference: pandas
    * `resample(freq).sum(numeric_only=True)`, paqarin/utils/data_utils.py:76-78).
    * `date_trunc` keeps the whole aggregation in one hash-partial +
    * hash-final pass (map-side combine, single shuffle on the group keys).
    *
    * @param unit `date_trunc` unit: "day", "hour", "week", "month", ...
    */
  def resampleSum(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      valueCols: Seq[String],
      unit: String = "day",
      bucketCol: String = "bucket"): DataFrame = {
    val aggs = valueCols.map(c => sum(col(c)).as(c))
    df.groupBy(col(idCol), date_trunc(unit, col(tsCol)).as(bucketCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** J2 + P6 — calendar reindex with zero fill (reference: pandas
    * `reindex(date_range(...))` + `fillna`, paqarin/utils/data_utils.py:44-84).
    *
    * Generates the global [min, max] daily calendar with
    * `sequence(...interval...)` (no driver-side loop), cross-joins it with
    * the distinct entity set (both sides tiny → broadcastable), and
    * left-joins the observed buckets, filling gaps with `fillValue`.
    * The fact-side join key is (id, bucket), so the only shuffle is the one
    * Catalyst picks for the left join; at scale the calendar×ids grid stays
    * broadcast.
    */
  def calendarFill(
      df: DataFrame,
      idCol: String,
      bucketCol: String,
      valueCols: Seq[String],
      fillValue: Double = 0.0,
      step: String = "interval 1 day"): DataFrame = {
    val bounds = df.agg(min(col(bucketCol)).as("lo"), max(col(bucketCol)).as("hi"))
    val calendar = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr(step))).as(bucketCol))
    val ids = df.select(col(idCol)).distinct()
    val grid = ids.crossJoin(broadcast(calendar))
    grid
      .join(df, Seq(idCol, bucketCol), "left")
      .na.fill(fillValue, valueCols)
  }

  /** W1 — sliding-window slicing (reference: ydata `real_data_loading`
    * wrapper, paqarin/adapters/ydata_adapter.py:267-288): per entity, cut
    * all length-`seqLen` runs of consecutive rows, chronological order.
    * The reference's extra shuffle step is SGD-only and omitted
    * (deterministic output; SURVEY.md §2.5 W1).
    *
    * Emits `outCol: array<struct<valueCols>>` plus `__pos` (0-based window
    * start within the entity). `collect_list` over `rowsBetween(0, L-1)`
    * holds L×|values| per row; for very large L at 100 TB swap in a bounded
    * ring-buffer Aggregator — same contract.
    */
  def slidingWindows(
      df: DataFrame,
      idCol: String,
      orderCol: String,
      valueCols: Seq[String],
      seqLen: Int,
      outCol: String = "window"): DataFrame = {
    val w = Window
      .partitionBy(col(idCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.currentRow, seqLen - 1)
    val pos = Window.partitionBy(col(idCol)).orderBy(col(orderCol))
    df.withColumn(outCol, collect_list(struct(valueCols.map(col): _*)).over(w))
      .withColumn("__pos", row_number().over(pos) - 1)
      .filter(size(col(outCol)) === seqLen)
  }

  /** W4 — feature/label split of a window: first L−1 steps vs last step
    * (reference: paqarin/metrics/multivariate_metrics.py:29-36).
    */
  def xySplit(
      windowed: DataFrame,
      windowCol: String = "window",
      xCol: String = "x",
      yCol: String = "y"): DataFrame =
    windowed
      .withColumn(xCol, expr(s"slice($windowCol, 1, size($windowCol) - 1)"))
      .withColumn(yCol, element_at(col(windowCol), -1))

  /** W3 — slice-by-timestep: per entity, drop the last `h` rows (train
    * split; reference: paqarin/metrics/univariate_metrics.py:421-432).
    */
  def sliceByTimestep(
      df: DataFrame,
      idCol: String,
      orderCol: String,
      dropLast: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(orderCol).desc)
    df.withColumn("__rn_from_end", row_number().over(w))
      .filter(col("__rn_from_end") > dropLast)
      .drop("__rn_from_end")
  }

  /** Dense global position over (entity, dense per-entity position)
    * WITHOUT a single-partition global sort and WITHOUT materializing the
    * entity dimension on the driver: a distributed prefix sum. Per-entity
    * counts are RANGE-partitioned by entity id — partition i holds ids
    * strictly before partition i+1's — so the exact global running sum is
    * a per-partition window (parallel) plus a cross-partition offset
    * derived from the per-PARTITION totals. Only those totals ever reach
    * the driver: P rows for P shuffle partitions, regardless of whether
    * the corpus has 10³ or 10⁹ entities (the previous formulation
    * collected one row per entity — a driver OOM at 10⁹). Equivalent to
    * `row_number() over (order by entity, pos)` − 1.
    * `posCol` must be dense 0-based within each entity.
    */
  def globalPosition(
      df: DataFrame,
      idCol: String,
      posCol: String,
      outCol: String = "global_pos"): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val counts = df.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    // localCheckpoint is MANDATORY, not an optimization: RangePartitioner
    // draws its boundary sample with a seed derived from the RDD id, so two
    // separate executions of the same repartitionByRange land DIFFERENT
    // boundaries — the totals job below and the final query would disagree
    // on __pid and the offsets would be garbage. Materializing the ranged
    // entity-count frame once (distributed blocks, entity-dim sized — the
    // same rows the shuffle already moved) makes both reads see one
    // partitioning. Blocks are freed by the ContextCleaner with the frame.
    val ranged = counts.repartitionByRange(nPart, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // per-partition totals: the ONLY driver materialization, bounded by
    // the partition count
    val totals = ranged.groupBy(col("__pid")).agg(sum(col("__n")).as("__t"))
      .orderBy(col("__pid")).collect()
    var acc = 0L
    val partOffset: Map[Int, Long] = totals.map { r =>
      val e = r.getInt(0) -> acc
      acc += r.getLong(1)
      e
    }.toMap
    // running sum WITHIN each range partition (parallel window — the
    // partition key bounds every group) + the tiny pid→offset literal
    val w = Window.partitionBy(col("__pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged
      .withColumn("__local", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__offset",
        col("__local") +
          coalesce(element_at(typedLit(partOffset), col("__pid")), lit(0L)))
      .select(col(idCol).as("__gpk"), col("__offset"))
    // null-safe equality: entities with a null id keep their offset row
    // (a plain using-column join would silently drop them). No broadcast
    // hint: the offsets side is entity-dimension-sized.
    df.join(offsets, df(idCol) <=> col("__gpk"))
      .withColumn(outCol, col("__offset") + col(posCol))
      .drop("__gpk", "__offset")
  }

  /** W5 — positional train/val/test split (reference:
    * paqarin/metrics/multivariate_metrics.py:39-82): first
    * `int(trainFrac*n)` rows train, half the remainder val, rest test —
    * integer truncation exactly as numpy/python int() (SURVEY.md §4.3
    * trap 4). `posCol` must be a dense 0-based position; passing a
    * pre-existing dense id (e.g. a monotone source key) avoids the global
    * row_number shuffle entirely.
    */
  def trainValTestSplit(
      df: DataFrame,
      posCol: String,
      trainFrac: Double = 0.75,
      outCol: String = "split"): DataFrame = {
    val n = df.count()
    val t = (trainFrac * n).toLong
    val v = t + ((n - t) / 2)
    df.withColumn(
      outCol,
      when(col(posCol) < t, "train")
        .when(col(posCol) < v, "val")
        .otherwise("test"))
  }

  /** W6 — weekend covariate (reference:
    * paqarin/metrics/univariate_metrics.py:121-127). pandas weekday is
    * Mon=0..Sun=6 with weekend {5,6}; Spark dayofweek is Sun=1..Sat=7, so
    * weekend = {1,7} (SURVEY.md §4.3 trap 3).
    */
  def weekendFlag(ts: Column): Column =
    dayofweek(ts).isin(1, 7).cast("double")

  /** W7 — forecast-horizon index: per entity, the next `h` buckets after
    * the last observed one (reference:
    * paqarin/metrics/univariate_metrics.py:390-399).
    */
  def forecastHorizon(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      h: Int,
      unit: String = "day",
      outCol: String = "horizon_ts"): DataFrame = {
    val step = s"interval 1 $unit"
    df.groupBy(col(idCol))
      .agg(max(date_trunc(unit, col(tsCol))).as("__last"))
      .select(
        col(idCol),
        explode(
          sequence(
            col("__last") + expr(step),
            col("__last") + expr(s"interval $h ${unit}s"),
            expr(step))).as(outCol))
  }

  /** P5 — dedup keep-first (reference: pandas `index.duplicated(keep="first")`,
    * paqarin/metrics/univariate_metrics.py:69-71). pandas keeps the first
    * physical row; Spark's dropDuplicates keeps an arbitrary one, so the
    * order is pinned explicitly via `orderCol` (SURVEY.md §4.3 trap 5).
    *
    * Planned as `min_by(whole row, orderCol)` per key, NOT a row_number
    * window: the aggregate combines map-side (each input partition reduces
    * to one candidate row per key before the exchange) and never sorts,
    * while the window form shuffles and fully sorts every group — at
    * corpus scale that is the difference between moving (keys) and moving
    * (all rows). The winning row is carried atomically as a struct, so
    * ties on orderCol resolve to ONE physical row, never stitched fields.
    */
  def dedupKeepFirst(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    // ordering key wraps orderCol in struct(isNotNull, orderCol): min_by
    // SKIPS rows whose ordering value is null, which would fabricate an
    // all-null output row for a key whose every orderCol is null and flip
    // the survivor for mixed groups; the struct is never null, and
    // (false, null) < (true, x) keeps null-ordered rows FIRST — the
    // row_number window's NULLS FIRST semantics this aggregate replaces
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(
        struct(others.map(col): _*),
        struct(col(orderCol).isNotNull, col(orderCol))).as("__row"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__row.$c")): _*)
      .select(df.columns.map(col): _*) // original column order
  }

  /** W2 — per-entity sequence extraction: one row per entity with the
    * chronologically sorted measurement sequence (reference: groupby → list
    * of frames, paqarin/adapters/sdv_adapter.py:59-66,
    * paqarin/utils/data_utils.py:100-108). One shuffle, not N filters
    * (SURVEY.md §4.1).
    */
  def splitBySequence(
      df: DataFrame,
      idCol: String,
      orderCol: String,
      valueCols: Seq[String],
      outCol: String = "sequence"): DataFrame =
    df.groupBy(col(idCol))
      .agg(
        sort_array(
          collect_list(struct((orderCol +: valueCols).map(col): _*))).as(outCol))

  /** Composed result of [[normaliseSequences]] with the reference's
    * metadata (paqarin/utils/data_utils.py:86-90): number of per-entity
    * sequences and the common regularized length. */
  final case class NormalisedSequences(df: DataFrame, numSequences: Long, seqLen: Long)

  /** The reference's flagship prep utility `normalise_sequences`
    * (paqarin/utils/data_utils.py:33-90): assign surrogate keys (J1),
    * resample each entity to tumbling `unit` sums (A3), align every entity
    * to the global calendar with zero fill (J2+P6), and report
    * (sequences, length) metadata. The reference loops per entity and
    * concatenates (U1); here the union is implicit — everything is one
    * plan with a single aggregation shuffle plus a broadcast calendar join.
    */
  def normaliseSequences(
      df: DataFrame,
      idCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      orderCol: String,
      unit: String = "day"): NormalisedSequences = {
    val keyed = addSurrogateKey(df, idCols, orderCol)
    val daily = resampleSum(keyed, "surrogate_item_id", tsCol, valueCols, unit)
    val filled = calendarFill(daily, "surrogate_item_id", "bucket", valueCols)
    val seqLen = filled.select(col("bucket")).distinct().count()
    val n = filled.select(col("surrogate_item_id")).distinct().count()
    NormalisedSequences(filled, n, seqLen)
  }

  /** A12 (adapted) — frequency inference per entity as the median
    * inter-arrival gap in seconds (reference infers pandas freq strings,
    * paqarin/metrics/univariate_metrics.py:81-95; the modal gap is
    * tie-ambiguous on real data, the median is deterministic).
    * Timestamps are truncated to whole seconds first so the gap arithmetic
    * is exact integers.
    */
  def inferFrequencySeconds(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      outCol: String = "median_gap_s"): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(tsCol))
    df.withColumn("__s", unix_timestamp(date_trunc("second", col(tsCol))))
      .withColumn("__gap", col("__s") - lag(col("__s"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(idCol))
      .agg(expr("percentile(__gap, 0.5)").as(outCol))
  }

  /** A12 (modal option) — frequency inference as the MODE of inter-arrival
    * gaps, the semantics the reference actually leans on: pandas
    * `infer_freq`/`inferred_freq` (univariate_metrics.py:81-95) derives the
    * frequency from the dominant gap pattern, where [[inferFrequencySeconds]]
    * reports the median. The two agree on any regular series and diverge on
    * irregular ones (e.g. gaps 1,1,7,9,11 → mode 1, median 7) — which
    * changes what a frequency-based filter drops. Tie-break is
    * deterministic: most frequent gap first, smallest gap on equal counts
    * (Spark's own `mode()` leaves ties engine-defined, so the struct-max
    * spells the order out).
    */
  def inferFrequencyModalSeconds(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      outCol: String = "modal_gap_s"): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(tsCol))
    df.withColumn("__s", unix_timestamp(date_trunc("second", col(tsCol))))
      .withColumn("__gap", col("__s") - lag(col("__s"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(idCol), col("__gap"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      // lexicographic struct max = (highest count, then smallest gap)
      .agg(max(struct(col("__cnt"), (-col("__gap")).as("__ng"))).as("__m"))
      .select(col(idCol), (-col("__m")("__ng")).as(outCol))
  }

  /** Sessionization: assign a per-entity session id that increments whenever
    * the gap to the previous event exceeds `gapSeconds` (the batch twin of
    * Structured Streaming's session windows in
    * [[graft.streaming.StreamingResample]]).
    *
    * Classic gap-and-island: flag session starts with `lag`, then a running
    * sum of the flags numbers the sessions — both windows share ONE
    * partitioning (entity key), so this is a single shuffle regardless of
    * data size; per-entity ordering is the only per-task state. Ties are
    * broken by `orderCols` for cross-engine determinism.
    */
  def sessionize(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      orderCols: Seq[String] = Nil,
      outCol: String = "session_id"): DataFrame = {
    val order = (col(tsCol) +: orderCols.map(col)): Seq[Column]
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(
      prev.isNull ||
        unix_timestamp(date_trunc("second", col(tsCol)))
          - unix_timestamp(date_trunc("second", prev)) > gapSeconds,
      1).otherwise(0)
    df.withColumn("__is_new", isNew)
      .withColumn(outCol,
        sum(col("__is_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__is_new")
  }
}
