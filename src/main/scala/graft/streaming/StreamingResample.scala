package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming extension of the batch resample operators
  * (SURVEY §2.9 — no reference-parity requirement; the batch A3 tumbling
  * resample maps 1:1 onto streaming `window()` with a watermark).
  *
  * All transforms are plan-only (`DataFrame => DataFrame`), so the same
  * code path works on a batch frame or a `readStream` frame; tests drive
  * them with a file source + memory sink.
  */
object StreamingResample {

  /** A3 streaming twin: per-entity tumbling-window sum with late-data
    * handling via watermark. */
  def tumblingSum(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      valueCol: String,
      windowLen: String = "1 day",
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(idCol), window(col(tsCol), windowLen).as("bucket"))
      .agg(sum(col(valueCol)).as(valueCol))
      .select(col(idCol), col("bucket.start").as("bucket_start"), col(valueCol))

  /** Stream-stream interval join: pair each left event with right events
    * for the same key whose timestamp falls within `[left.ts - lookback,
    * left.ts]` — the streaming cousin of the as-of join (ops.AsOfJoin).
    * Watermarks on BOTH sides bound the join state; Spark drops state
    * older than the watermark + interval automatically.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      lookback: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(
      r,
      col(s"l.$keyCol") === col(s"r.$keyCol")
        && col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback")
        && col(s"r.$rightTs") <= col(s"l.$leftTs"))
  }

  /** Streaming AS-OF join — the streaming twin of
    * `ops.AsOfJoin.asOfTolerance` (backward, bounded): attach to each left
    * event the LATEST right row for the same key with
    * `leftTs - tolerance ≤ rightTs ≤ leftTs`. An UNBOUNDED backward as-of
    * cannot stream — right-side state could never be evicted — so the
    * streaming form requires the tolerance; with the same tolerance the
    * batch operator produces the identical result (proven in StreamingSpec).
    *
    * Two chained stateful stages, both watermark-bounded:
    *  1. stream-stream LEFT OUTER interval join (so matchless left events
    *     still emit, with null payload — as-of is a left join);
    *  2. per-left-event aggregation keeping the latest candidate:
    *     `max_by(payload struct, rightTs)` — max_by skips the outer join's
    *     null right rows, and the group finalizes (emits) once the
    *     watermark passes the left timestamp.
    *
    * Payload columns come back prefixed `asof_`, like the batch operator.
    * `leftIdCol` must uniquely identify a left event (the aggregation
    * grain).
    */
  def asOfStream(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftIdCol: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      toleranceSeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    // null-ts right rows can never legitimately match (same rule as the
    // batch operator)
    val r = right.filter(col(rightTs).isNotNull)
      .withWatermark(rightTs, watermark).alias("r")
    val joined = l.join(
      r,
      col(s"l.$keyCol") === col(s"r.$keyCol")
        && col(s"r.$rightTs") <= col(s"l.$leftTs")
        && col(s"r.$rightTs") >= col(s"l.$leftTs")
          - expr(s"INTERVAL $toleranceSeconds SECOND"),
      "left_outer")
    val matchStruct = max_by(
      when(col(s"r.$rightTs").isNotNull,
        struct(payload.map(c => col(s"r.$c").as(c)): _*)),
      col(s"r.$rightTs"))
    payload.foldLeft(
      joined
        .groupBy(col(s"l.$leftIdCol"), col(s"l.$keyCol"), col(s"l.$leftTs"))
        .agg(matchStruct.as("__match"))) { (d, c) =>
      d.withColumn(s"asof_$c", col("__match")(c))
    }.drop("__match")
  }

  /** Streaming exact dedup — the streaming twin of `ext.Dedup.exact` /
    * P5 `dedupKeepFirst`: keeps the first arrival per key and drops
    * duplicates that arrive within the watermark horizon.
    * `dropDuplicatesWithinWatermark` evicts per-key state once the
    * watermark passes it, so state is bounded by (keys seen per horizon),
    * not by the full stream history — the only viable shape for an
    * unbounded training-data ingest pipeline.
    */
  def dedupStream(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming perceptual image dedup — the streaming twin of
    * `ext.Multimodal.imageNearDuplicates`' exact-collision grain: derive
    * the 8-byte dHash key map-side (native expression, stateless, so the
    * pixels never enter streaming state) and keep the first arrival per
    * perceptual key within the watermark horizon. Re-encodes that land
    * on the SAME dHash — including LOSSLESS format shifts (BMP↔PNG↔P6:
    * the key is container-invariant via `imagePixels`) — dedup here at
    * ingest; Hamming-1+ neighbors
    * remain the batch pass's job (banding needs a shuffle the streaming
    * grain deliberately avoids). State is bounded by (distinct hashes
    * per horizon) × 8 bytes — ingest-safe at any stream rate. */
  def dedupImageStream(
      df: DataFrame,
      payloadCol: String,
      tsCol: String,
      watermark: String = "1 hour"): DataFrame = {
    require(!df.columns.contains("dhash"),
      "dedupImageStream appends 'dhash' — input already has one " +
        "(a silent withColumn overwrite would clobber the caller's column)")
    dedupStream(
      df.withColumn("dhash",
        graft.ext.Multimodal.imageDHashCol(col(payloadCol))),
      Seq("dhash"), tsCol, watermark)
  }

  /** Session windows: activity bursts separated by ≥ `gap` of silence. */
  def sessionCount(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(idCol), session_window(col(tsCol), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(idCol), col("session.start").as("session_start"),
        col("n_events"))
}
