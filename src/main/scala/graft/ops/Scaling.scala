package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** A6 + F6 — min-max scaling with exact inverse (reference:
  * sklearn MinMaxScaler usage in paqarin/adapters/ydata_adapter.py:64-93,
  * 217-253; golden round-trip values in tests/test_doppleganger.py:42-57).
  *
  * Implemented as plain column arithmetic over a one-row stats aggregate
  * rather than MLlib's vector-based `MinMaxScaler`: float64 all the way,
  * which is what the oracle compares (SURVEY.md §7.4 item 3). The fitted
  * stats are a driver-side map (2 doubles per column — trivially
  * broadcastable at any scale).
  */
object Scaling {

  final case class MinMaxStats(stats: Map[String, (Double, Double)]) {

    /** F6 forward: (x − min) / (max − min); constant columns map to 0.0
      * (sklearn maps them to 0 via its zero-range guard). */
    def transform(df: DataFrame): DataFrame =
      stats.foldLeft(df) { case (d, (c, (lo, hi))) =>
        val range = hi - lo
        val scaled: Column =
          if (range == 0.0) lit(0.0) else (col(c) - lit(lo)) / lit(range)
        d.withColumn(c, scaled)
      }

    /** F6 inverse: x · (max − min) + min (reference:
      * paqarin/adapters/ydata_adapter.py:75-93). */
    def inverse(df: DataFrame): DataFrame =
      stats.foldLeft(df) { case (d, (c, (lo, hi))) =>
        d.withColumn(c, col(c) * lit(hi - lo) + lit(lo))
      }
  }

  /** A6 fit: one aggregate pass collecting per-column min/max
    * (reference: MinMaxScaler.fit, paqarin/adapters/ydata_adapter.py:54,223).
    */
  def fit(df: DataFrame, cols: Seq[String]): MinMaxStats = {
    val aggs = bounds(cols)
    fromBounds(cols, Seq(df.agg(aggs.head, aggs.tail: _*).head()), 0)
  }

  /** [[fit]]'s aggregates: min and max of each column, as doubles. */
  private[graft] def bounds(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))

  /** The stats of [[bounds]] aggregated per group, its columns starting
    * at `from` in every row: min of the groups' mins, max of their maxes,
    * ordered as Spark orders doubles (NaN above every other value). One
    * row is [[fit]] itself. */
  private[graft] def fromBounds(cols: Seq[String], rows: Seq[Row], from: Int): MinMaxStats = {
    def lt(a: Double, b: Double) = a < b || (!a.isNaN && b.isNaN)
    def values(at: Int) = rows.filterNot(_.isNullAt(at)).map(_.getDouble(at))
    MinMaxStats(cols.zipWithIndex.map { case (c, i) =>
      val (los, his) = (values(from + 2 * i), values(from + 2 * i + 1))
      // an entirely-null column aggregates to SQL NULL — fail loudly
      // instead of silently fitting a (0.0, 0.0) scaler
      require(los.nonEmpty && his.nonEmpty,
        s"Scaling.fit: column '$c' has no non-null values")
      c -> (los.reduce((a, b) => if (lt(b, a)) b else a),
        his.reduce((a, b) => if (lt(a, b)) b else a))
    }.toMap)
  }

  /** Distributed variant: scale within groups without a driver round trip.
    *
    * Implemented as aggregate + broadcast join, NOT a window over the
    * group: a window `partitionBy(group)` puts the whole group in one task,
    * which serializes the job when the group count is small (3 return
    * flags over 100 TB = 3 tasks). The two-pass agg/join form keeps every
    * stage fully parallel; the stats side is |groups| rows → broadcast.
    */
  def scaleWithinGroups(
      df: DataFrame,
      partitionCols: Seq[String],
      valueCol: String,
      outCol: String): DataFrame = {
    val stats = df.groupBy(partitionCols.map(col): _*)
      .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
    df.join(broadcast(stats), partitionCols)
      .withColumn(
        outCol,
        when(col("__hi") === col("__lo"), lit(0.0))
          .otherwise((col(valueCol) - col("__lo")) / (col("__hi") - col("__lo"))))
      .drop("__lo", "__hi")
  }
}
