package graft.metrics

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metric bookkeeping as a DataFrame — the reference's `MetricManager`
  * dict-of-lists (paqarin/evaluation.py:57-62) becomes a long table
  * `(generator_name, iteration, metric_key, value)` so every summary is one
  * aggregation.
  */
object Metrics {

  val Schema: Seq[String] = Seq("generator_name", "iteration", "metric_key", "value")

  def empty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, String, Double)].toDF(Schema: _*)
  }

  def record(
      metrics: DataFrame,
      generator: String,
      iteration: Int,
      key: String,
      value: Double): DataFrame = {
    import metrics.sparkSession.implicits._
    metrics.unionByName(
      Seq((generator, iteration, key, value)).toDF(Schema: _*))
  }

  /** A7 avg + A8 population stddev per (generator, metric) — the reference's
    * `avg_<k>` / `std_<k>` summary (paqarin/evaluation.py:96-104;
    * ddof=0 ⇒ stddev_pop, SURVEY §4.3 trap 2).
    */
  def summary(metrics: DataFrame): DataFrame =
    metrics
      .groupBy(col("generator_name"), col("metric_key"))
      .agg(
        avg(col("value")).as("avg_value"),
        stddev_pop(col("value")).as("std_value"),
        count(lit(1)).as("iterations"))

  /** A11 — best generator = argmin of the average metric
    * (paqarin/evaluation.py:122-123) over the rows of `metricKey`, which
    * are bounded by generators × iterations: [[argminMean]] on the driver
    * over the collected rows. */
  def bestGenerator(metrics: DataFrame, metricKey: String): Option[String] =
    argminMean(metrics
      .filter(col("metric_key") === metricKey)
      .select(col("generator_name"), col("iteration"), col("value"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))))

  /** A11 on the driver over `(generator, iteration, value)` scores, in the
    * order of `orderBy(avg(value), generator_name)`: each mean sums its
    * values in iteration order, the smallest mean wins, NaN ranks last,
    * `-0.0 == 0.0`, and a tie goes to the smaller name (UTF-8 byte
    * order, Spark's string order). */
  def argminMean(scores: Seq[(String, Int, Double)]): Option[String] = {
    def compare(a: (String, Double), b: (String, Double)): Int = {
      val byMean = if (a._2 == b._2) 0 else java.lang.Double.compare(a._2, b._2)
      if (byMean != 0) byMean
      else java.util.Arrays.compareUnsigned(a._1.getBytes(UTF_8), b._1.getBytes(UTF_8))
    }
    scores.groupBy(_._1).toSeq
      .map { case (g, s) => (g, s.sortBy(_._2).foldLeft(0.0)(_ + _._3) / s.size) }
      .reduceOption((a, b) => if (compare(b, a) < 0) b else a)
      .map(_._1)
  }

  /** A9 — mean absolute error between two value columns after an equi-join
    * on `keyCols` (sklearn mean_absolute_error over all cells,
    * paqarin/metrics/multivariate_metrics.py:224). */
  def mae(
      predictions: DataFrame,
      labels: DataFrame,
      keyCols: Seq[String],
      predCol: String,
      labelCol: String): Double =
    predictions
      .join(labels, keyCols)
      .agg(avg(abs(col(predCol) - col(labelCol))).as("mae"))
      .head().getDouble(0)

  /** Root-mean-squared error — the reference's "RMSE"
    * `forecasting_evaluation_metric` string, engine-side
    * (univariate_metrics.py:136-166 passes it to AutoGluon; here it is an
    * order-independent aggregate like [[mae]]). */
  def rmse(
      predictions: DataFrame,
      labels: DataFrame,
      keyCols: Seq[String],
      predCol: String,
      labelCol: String): Double =
    predictions
      .join(labels, keyCols)
      .agg(sqrt(avg(pow(col(predCol) - col(labelCol), 2))).as("rmse"))
      .head().getDouble(0)

  /** One sMAPE term: `2|y-ŷ| / (|y|+|ŷ|)` with the 0/0 cell defined as 0
    * (both sides zero = a perfect forecast of zero, the convention that
    * keeps the aggregate total; gluonts leaves it NaN, which would poison
    * the mean). Range [0, 2]. */
  def smapeTerm(pred: Column, label: Column): Column = {
    val denom = abs(label) + abs(pred)
    when(denom === 0d, 0d).otherwise(lit(2d) * abs(label - pred) / denom)
  }

  /** Symmetric mean absolute percentage error — the reference's "sMAPE"
    * metric string, engine-side (see [[smapeTerm]] for the 0/0
    * convention). */
  def smape(
      predictions: DataFrame,
      labels: DataFrame,
      keyCols: Seq[String],
      predCol: String,
      labelCol: String): Double =
    predictions
      .join(labels, keyCols)
      .agg(avg(smapeTerm(col(predCol), col(labelCol))).as("smape"))
      .head().getDouble(0)

  /** Per-entity forecast-accuracy frame — MAE, RMSE, sMAPE over the
    * (prediction ⋈ label) horizon plus MASE scaled by the TRAIN slice's
    * mean |v_t − v_{t−seasonality}| (the m-step naive error, the
    * "MASE" metric string's denominator). One row per entity that has
    * both horizon labels and a positive scale; entities whose train
    * series is shorter than `seasonality`+1 rows (no naive error exists)
    * or constant (scale 0 — MASE undefined) are dropped, matching the
    * convention of skipping undefined per-item terms.
    *
    * Scale posture: the label join shuffles on (entity, order); the
    * naive-error lag is a per-entity window over the TRAIN slice —
    * bounded by one series' length, the [[graft.ops.TimeSeriesOps]]
    * window class, never a global sort. Both aggregates are
    * partial→final.
    */
  def forecastAccuracyByEntity(
      predictions: DataFrame,
      labels: DataFrame,
      train: DataFrame,
      idCol: String,
      orderCol: String,
      predCol: String,
      labelCol: String,
      trainValueCol: String,
      seasonality: Int = 1): DataFrame = {
    require(seasonality >= 1, s"seasonality must be >= 1, got $seasonality")
    val joinKeys =
      if (predictions.columns.contains(orderCol)) Seq(idCol, orderCol)
      else Seq(idCol) // constant-per-entity forecasts carry no order col
    val errs = predictions
      .join(labels, joinKeys)
      .groupBy(col(idCol))
      .agg(
        avg(abs(col(labelCol) - col(predCol))).as("mae"),
        sqrt(avg(pow(col(labelCol) - col(predCol), 2))).as("rmse"),
        avg(smapeTerm(col(predCol), col(labelCol))).as("smape"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(orderCol))
    val scale = train
      .withColumn("__prev", lag(col(trainValueCol), seasonality).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col(idCol))
      .agg(avg(abs(col(trainValueCol) - col("__prev"))).as("__scale"))
      .filter(col("__scale") > 0d)
    errs
      .join(scale, idCol)
      .select(col(idCol), col("mae"), col("rmse"), col("smape"),
        (col("mae") / col("__scale")).as("mase"))
  }

  /** The FUSED form of the standard mean-baseline evaluation over one
    * series frame: per entity, hold out the last `horizon` observations,
    * forecast the train mean, and emit MAE/RMSE/sMAPE/MASE — value-
    * identical to composing the split + mean forecast +
    * [[forecastAccuracyByEntity]] (spec-pinned), but ONE entity-keyed
    * exchange instead of three scan+window branches and two joins: the
    * split flag, the train-mean, and the seasonal lag are all windows
    * over the SAME partitioning, and the final aggregate reuses it.
    * Entities whose train slice is shorter than `seasonality`+1 rows or
    * constant are dropped (MASE undefined), like the general form. */
  def meanBaselineAccuracyByEntity(
      series: DataFrame,
      idCol: String,
      orderCol: String,
      valueCol: String,
      horizon: Int,
      seasonality: Int = 1): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(seasonality >= 1, s"seasonality must be >= 1, got $seasonality")
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.partitionBy(col(idCol)).orderBy(col(orderCol).desc)
    val wAsc = Window.partitionBy(col(idCol)).orderBy(col(orderCol))
    val wAll = Window.partitionBy(col(idCol))
    val v = col(valueCol)
    val tagged = series
      .withColumn("__test", row_number().over(wDesc) <= horizon)
      // null on test rows, so the train mean sees ONLY train values
      .withColumn("__trainv", when(!col("__test"), v))
      .withColumn("__pred", avg(col("__trainv")).over(wAll))
      // PLAIN row lag, not ignoreNulls: train is a contiguous prefix, so
      // for a train row the s-rows-earlier row IS the s-train-rows-
      // earlier value — exactly the composed form's lag over the train
      // slice, including its null-value semantics (a null train value
      // breaks the naive-error chain rather than being skipped)
      .withColumn("__prev", lag(col("__trainv"), seasonality).over(wAsc))
    tagged.groupBy(col(idCol))
      .agg(
        avg(when(col("__test"), abs(v - col("__pred")))).as("mae"),
        sqrt(avg(when(col("__test"), pow(v - col("__pred"), 2))))
          .as("rmse"),
        avg(when(col("__test"), smapeTerm(col("__pred"), v))).as("smape"),
        avg(when(!col("__test"), abs(v - col("__prev")))).as("__scale"))
      .filter(col("__scale") > 0d)
      .select(col(idCol), col("mae"), col("rmse"), col("smape"),
        (col("mae") / col("__scale")).as("mase"))
  }
}
