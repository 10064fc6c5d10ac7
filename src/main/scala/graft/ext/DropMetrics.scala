package graft.ext

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}

/** Lazy drop accounting for capped operators (LSH bucket caps, stop-shingle
  * drops). `observe` plants a `CollectMetrics` node in the plan — metrics are
  * accumulated as a side effect of whatever job eventually runs the query, so
  * the accounting adds NO extra job and no extra pass over the data. The
  * context's [[graft.internal.RunRecorder]] turns any non-zero drop count
  * into a WARN log line, so capping is never silent truncation, and adds it
  * to the run of whichever recorded block executed the query.
  *
  * Names are uniquified per call-site instantiation: two capped operators in
  * one query must not collide (same observation name with different plans is
  * an analysis error). When a capped subtree is self-joined (the LSH pair
  * join), the same metric node appears on both sides and the counts merge —
  * the logged number can then over-count by the reuse factor; it is a
  * "something was dropped, here's the scale" signal, with exact audits left
  * to re-running the bucket-count aggregation.
  */
object DropMetrics {
  private val seq = new AtomicLong()

  /** Attach drop metrics to `df` under a unique `graft_drops_<tag>_<n>`
    * observation and ensure the logging listener is installed. The first
    * metric column should be the drop count; all are logged on >0 drops. */
  def observe(df: DataFrame, tag: String, metrics: Seq[Column]): DataFrame = {
    graft.internal.RunRecorder.install(df.sparkSession)
    df.observe(s"graft_drops_${tag}_${seq.incrementAndGet()}",
      metrics.head, metrics.tail: _*)
  }
}
