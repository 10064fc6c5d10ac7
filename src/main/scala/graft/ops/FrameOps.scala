package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small projection/rename/fill operators (SURVEY §2.2) and the calendar
  * generator (F4). Most are thin, but they pin the reference's exact
  * semantics (prefix strip lists, fill scope, inclusivity trims).
  */
object FrameOps {

  /** P2 — strip provider column prefixes (synchcity `seq_temporal_` /
    * `seq_static_`, reference: paqarin/adapters/synthcity_adapter.py:74-87).
    */
  def stripPrefixes(df: DataFrame, prefixes: Seq[String]): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      prefixes.find(c.startsWith) match {
        case Some(p) => d.withColumnRenamed(c, c.stripPrefix(p))
        case None    => d
      }
    }

  /** P3 — drop bookkeeping columns (`seq_id`, `seq_out_outcome`,
    * synthcity_adapter.py:67-72). `DataFrame.drop` ignores missing names,
    * matching the reference's tolerant behavior. */
  def dropBookkeeping(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** P6 — null fill over the numeric columns only (`fillna(0)` scope,
    * sdv_adapter.py:137, synthcity_adapter.py:217). */
  def fillNulls(df: DataFrame, cols: Seq[String], value: Double = 0.0): DataFrame =
    df.na.fill(value, cols)

  /** F4 — `pd.date_range(start, end, freq, inclusive)` equivalent
    * (data_utils.py:51-59): one-column calendar DataFrame with the
    * reference's four inclusivity modes. */
  def dateRange(
      spark: SparkSession,
      start: String,
      end: String,
      step: String = "interval 1 day",
      inclusive: String = "both"): DataFrame = {
    val cal = spark.range(1).select(
      explode(sequence(
        to_timestamp(lit(start)), to_timestamp(lit(end)), expr(step))).as("ts"))
    inclusive match {
      case "both"    => cal
      case "left"    => cal.filter(col("ts") =!= to_timestamp(lit(end)))
      case "right"   => cal.filter(col("ts") =!= to_timestamp(lit(start)))
      case "neither" => cal.filter(
        col("ts") =!= to_timestamp(lit(start)) && col("ts") =!= to_timestamp(lit(end)))
      case other => throw new IllegalArgumentException(s"inclusive=$other")
    }
  }

  /** A4 — resample-asfreq: snap each entity to a regular grid keeping the
    * FIRST observation per bucket (pandas `resample(freq).asfreq()`,
    * data_utils.py:104), then align to the global calendar with zero fill
    * (AutoGluon prep path, univariate_metrics.py:53-109).
    */
  def toRegularIndex(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      orderCol: String,
      valueCols: Seq[String],
      unit: String = "day",
      bucketCol: String = "bucket"): DataFrame = {
    val bucketed = df.withColumn(bucketCol, date_trunc(unit, col(tsCol)))
    val first = TimeSeriesOps.dedupKeepFirst(bucketed, Seq(idCol, bucketCol), orderCol)
      .select((idCol +: bucketCol +: valueCols).map(col): _*)
    TimeSeriesOps.calendarFill(first, idCol, bucketCol, valueCols)
  }
}
