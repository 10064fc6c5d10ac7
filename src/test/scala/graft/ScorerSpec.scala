package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TsSchema
import graft.internal.RunRecorder
import graft.ops.{Scaling, TimeSeriesOps => Ts}
import graft.pipeline.{PredictiveScorer, RegressionScorer}
import graft.providers.StatisticalProvider

/** The TSTR scorers' real test split: what a score runs, its errors, and
  * the split against the `row_number` positions it stands for. */
class ScorerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = TsSchema(Seq("item_id"), "ts", Seq("m1", "m2"))

  /** `entities` series of `steps` rows each (plus `extra(e)` more). */
  private def series(entities: Int, steps: Int, extra: Int => Int = _ => 0): DataFrame = {
    val rnd = new scala.util.Random(entities * 31 + steps)
    (0 until entities).flatMap(e => (0 until steps + extra(e)).map(t =>
      (f"item_$e%05d", t.toLong, rnd.nextDouble() * 10, rnd.nextDouble())))
      .toDF("item_id", "ts", "m1", "m2")
  }

  /** PredictiveScorer's MAE over the split by `row_number` positions. */
  private def predictiveOracle(real: DataFrame, seqLen: Int): Double = {
    val stats = Scaling.fit(real, schema.numericCols)
    val xy = Ts.xySplit(Ts.slidingWindows(stats.transform(real), "item_id", "ts",
        schema.numericCols, seqLen))
      .withColumn("__g", row_number().over(Window.orderBy(col("item_id"), col("__pos"))) - 1)
    val n = xy.count()
    val t = (0.75 * n).toLong
    val v = t + ((n - t) / 2)
    val errs = schema.numericCols.map(c => abs(element_at(col("x"), -1)(c) - col("y")(c)))
    xy.filter(col("__g") >= v).select(explode(array(errs: _*)).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  test("a TSTR score runs 3 SQL executions (PredictiveScorer 2): one " +
      "counts-and-bounds aggregate, no checkpoint, no totals collect") {
    // entity lengths differ, two are shorter than the window
    val real = series(6, 12, e => if (e < 2) -9 else e * 3)
    val model = StatisticalProvider.fit(real, schema)
    val (score, run) = RunRecorder.record(spark)(
      new RegressionScorer(seqLen = 5, numSequences = 16).score(real, model, schema))
    assert(run.executions == 3, s"${run.executions} SQL executions")
    assert(score >= 0 && score.isFinite)
    val (predictive, run2) = RunRecorder.record(spark)(
      new PredictiveScorer(seqLen = 5).score(real, model, schema))
    assert(run2.executions == 2, s"${run2.executions} SQL executions")
    assert(close(predictive, predictiveOracle(real, 5)))
  }

  test("the test split past the driver cap equals the row_number split") {
    // 2^14 + 16 entities: the counts probe overflows, so the scaler and the
    // positions take their distributed queries
    val real = series((1 << 14) + 16, 3, e => e % 3)
    assert(Ts.entityCounts(real, "item_id").isEmpty)
    val model = StatisticalProvider.fit(real, schema)
    assert(close(new PredictiveScorer(seqLen = 3).score(real, model, schema),
      predictiveOracle(real, 3)))
  }

  test("both scorers keep their errors word for word: an empty real test " +
      "split, and nulls in its windows") {
    val short = series(3, 4)
    val model = StatisticalProvider.fit(short, schema)
    val empty = "requirement failed: TSTR real test split is empty: the real " +
      "series has no window of 5 steps"
    assert(intercept[IllegalArgumentException](
      new RegressionScorer(seqLen = 5, numSequences = 8).score(short, model, schema))
      .getMessage == empty)
    assert(intercept[IllegalArgumentException](
      new PredictiveScorer(seqLen = 5).score(short, model, schema)).getMessage == empty)
    // a null in the last row of the last entity: only the last window holds it
    val real = series(4, 12)
    val holed = real.withColumn("m2", when(col("item_id") === "item_00003" &&
      col("ts") === 11L, lit(null)).otherwise(col("m2")))
    assert(intercept[IllegalArgumentException](
      new RegressionScorer(seqLen = 5, numSequences = 8)
        .score(holed, StatisticalProvider.fit(holed, schema), schema))
      .getMessage == "requirement failed: TSTR real test split holds 1 windows with nulls")
  }
}
