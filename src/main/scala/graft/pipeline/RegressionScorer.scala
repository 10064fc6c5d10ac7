package graft.pipeline

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TsSchema
import graft.ops.{Scaling, TimeSeriesOps => Ts}
import graft.providers.FittedGenerator

/** Faithful TSTR predictive scorer (reference:
  * `multivariate_metrics.PredictiveScorer`, §3.3): scale → window (W1) →
  * x/y split (W4) → **train a regressor on windows generated by the fitted
  * model** → evaluate MAE on the REAL test split (W5 75/12.5/12.5).
  *
  * The regressor is MLlib `LinearRegression` with the normal-equations
  * solver — a deterministic closed-form fit (the reference's Keras LSTM is
  * stochastic and mocked in its own tests; determinism is the parity
  * requirement, SURVEY §7.4 item 5). One model per measurement column,
  * features = the flattened x window.
  */
final class RegressionScorer(
    seqLen: Int = 8,
    numSequences: Int = 64,
    metric: String = "mean_absolute_error") extends Scorer {

  /** The reference's `forecasting_evaluation_metric` string surface
    * (univariate_metrics.py:136-166 passes one into AutoGluon): the
    * TSTR regressor is shared, only the test-split error aggregate
    * changes. MASE scales each column's MAE by the REAL series'
    * in-sample 1-step naive error (the standard denominator; computed
    * per entity on the scaled series, then averaged). Unknown strings
    * fail like the reference registry (ValueError parity). */
  private val SupportedMetrics = Set(
    "mean_absolute_error", "RMSE", "sMAPE", "MASE")
  require(SupportedMetrics(metric),
    s"forecasting_evaluation_metric '$metric' is not supported " +
      s"(one of ${SupportedMetrics.mkString(", ")})")

  val metricKey = metric

  /** Flatten windowed x/y into per-feature learning columns. */
  private def flatten(xy: DataFrame, cols: Seq[String]): DataFrame = {
    val featCols = (0 until seqLen - 1).flatMap(i =>
      cols.map(c => element_at(col("x"), i + 1)(c)
        .as(s"f_${c}_$i")))
    val labelCols = cols.map(c => col("y")(c).as(s"label_$c"))
    xy.select(featCols ++ labelCols: _*)
  }

  def score(real: DataFrame, model: FittedGenerator, schema: TsSchema): Double = {
    val spark = real.sparkSession
    val id = schema.itemIdCols.head
    val cols = schema.numericCols
    val stats = Scaling.fit(real, cols)

    // real windows -> positional test split (W5), exact int truncation;
    // globalPosition avoids the single-partition row_number sort
    val realXy = Ts.globalPosition(
      Ts.xySplit(Ts.slidingWindows(
        stats.transform(real), id, schema.tsCol, cols, seqLen)),
      id, "__pos", "__seq")
    val n = realXy.count()
    val t = (0.75 * n).toLong
    val v = t + ((n - t) / 2)
    val realTest = flatten(realXy.filter(col("__seq") >= v), cols)

    // synthetic windows from the fitted generator (canonical long shape);
    // providers are fit on RAW data by the pipeline, so bring the synthetic
    // values into the same scaled space the real test split lives in
    val synth = stats.transform(model.generate(spark, numSequences, seqLen * 2))
    val synthXy = Ts.xySplit(Ts.slidingWindows(synth, "seq_id", "step", cols, seqLen))
    val train = flatten(synthXy, cols)

    val features = (0 until seqLen - 1).flatMap(i => cols.map(c => s"f_${c}_$i")).toArray
    val assembler = new VectorAssembler()
      .setInputCols(features).setOutputCol("features")
    val trainVec = assembler.transform(train).cache()
    val testVec = assembler.transform(realTest)

    // MASE denominator: per-column mean 1-step naive error of the REAL
    // scaled series, lag within entity (one window pass over the narrow
    // scaled frame; only computed when the metric asks for it)
    lazy val naiveScale: Map[String, Double] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(id)).orderBy(col(schema.tsCol))
      val lagged = cols.foldLeft(stats.transform(real))((d, c) =>
        d.withColumn(s"__lag_$c", lag(col(c), 1).over(w)))
      val aggs = cols.map(c =>
        avg(abs(col(c) - col(s"__lag_$c"))).as(s"s_$c"))
      val row = lagged.agg(aggs.head, aggs.tail: _*).head()
      cols.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
      }.toMap
    }

    // released on every exit: a throwing fit or the MASE guard must not
    // leave the training frame cached for the life of the session
    val errs = try cols.map { c =>
      val lr = new LinearRegression()
        .setSolver("normal").setRegParam(1e-6)
        .setFeaturesCol("features").setLabelCol(s"label_$c")
        .setPredictionCol(s"pred_$c")
      val fitted = lr.fit(trainVec)
      val scored = fitted.transform(testVec)
      val p = col(s"pred_$c")
      val y = col(s"label_$c")
      metric match {
        case "RMSE" =>
          scored.agg(sqrt(avg(pow(p - y, 2)))).head().getDouble(0)
        case "sMAPE" =>
          scored.agg(avg(graft.metrics.Metrics.smapeTerm(p, y)))
            .head().getDouble(0)
        case "MASE" =>
          val mae = scored.agg(avg(abs(p - y))).head().getDouble(0)
          val s = naiveScale(c)
          require(s > 0, s"MASE undefined: column '$c' of the real " +
            "series is constant (zero naive error)")
          mae / s
        case _ => // mean_absolute_error
          scored.agg(avg(abs(p - y))).head().getDouble(0)
      }
    } finally trainVec.unpersist()
    errs.sum / errs.size
  }
}
