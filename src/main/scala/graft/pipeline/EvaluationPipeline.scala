package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TsSchema
import graft.metrics.Metrics
import graft.providers.{FittedGenerator, GeneratorProvider}

/** Train-and-score orchestration — the reference's `EvaluationPipeline.fit`
  * (paqarin/evaluation.py:155-242): a driver-side loop over generators;
  * every data movement inside is a Spark plan.
  */
final class EvaluationPipeline(
    generators: Map[String, GeneratorProvider],
    scorer: Scorer,
    iterations: Int = 3,
    afterFit: (String, FittedGenerator) => Unit = (_, _) => ()) {

  /** `afterFit` mirrors `save_after_fitting` (evaluation.py:244-255): a
    * persistence hook invoked once per trained generator. */
  def fit(data: DataFrame, schema: TsSchema): EvaluationResult = {
    val spark = data.sparkSession
    var metrics = Metrics.empty(spark)
    val scores = scala.collection.mutable.ArrayBuffer[(String, Int, Double)]()
    val fitted = scala.collection.mutable.Map[String, FittedGenerator]()
    generators.foreach { case (genName, provider) =>
      val model = provider.fit(data, schema) // §3.1 fit_generator
      fitted(genName) = model
      afterFit(genName, model)
      (0 until iterations).foreach { it =>
        val score = scorer.score(data, model, schema)
        metrics = Metrics.record(metrics, genName, it, scorer.metricKey, score)
        scores += ((genName, it, score))
      }
    }
    // the scores are already on the driver: no Spark query for A11
    EvaluationResult(Metrics.summary(metrics), metrics,
      Metrics.argminMean(scores.toSeq), fitted.toMap)
  }
}

final case class EvaluationResult(
    summary: DataFrame,
    metrics: DataFrame,
    bestGenerator: Option[String],
    fitted: Map[String, FittedGenerator])

/** Scorer SPI — the reference's `multivariate_metrics.PredictiveScorer`
  * shape (§3.3): DataFrame in, scalar metric out. */
trait Scorer {
  def metricKey: String
  def score(real: DataFrame, model: FittedGenerator, schema: TsSchema): Double
}

/** TSTR ("train on synthetic, test on real") predictive scorer with a
  * deterministic last-value-carry-forward predictor standing in for the
  * reference's Keras LSTM (multivariate_metrics.py:262-305 — the reference
  * itself mocks the model layer in every test, SURVEY §5.1; the parity
  * target is the split + metric plumbing).
  *
  * Pipeline: min-max scale (F6) → sliding windows (W1) → x/y split (W4) →
  * 75/12.5/12.5 positional split (W5) → predict ŷ = last x step → MAE on
  * the test slice (A9).
  */
final class PredictiveScorer(seqLen: Int = 8) extends Scorer {
  val metricKey = "mean_absolute_error"

  def score(real: DataFrame, model: FittedGenerator, schema: TsSchema): Double = {
    val (_, test) = RegressionScorer.realTestSplit(real, schema, seqLen)
    val errs = schema.numericCols.map(c =>
      abs(element_at(col("x"), -1)(c) - col("y")(c)))
    test
      .select(explode(array(errs: _*)).as("err"))
      .agg(avg(col("err")))
      .head().getDouble(0)
  }
}
