package graft

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{LinearRegression, LinearRegressionModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TsSchema
import graft.ops.{Scaling, TimeSeriesOps => Ts}
import graft.pipeline.RegressionScorer
import graft.pipeline.RegressionScorer.LinearFit
import graft.providers.StatisticalProvider

/** MLlib as the oracle of the closed-form TSTR regressor: the
  * normal-equations fit of [[RegressionScorer.fitNormal]] against
  * `LinearRegression.setSolver("normal").setRegParam(1e-6)` on the same
  * training frame, and every `forecasting_evaluation_metric` of
  * [[RegressionScorer]] against the MLlib-fitted scorer it replaced.
  */
class RegressionOracleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mllibModel(train: DataFrame, features: Seq[String], label: String) =
    new LinearRegression()
      .setSolver("normal").setRegParam(RegressionScorer.RegParam)
      .setFeaturesCol("features").setLabelCol(label).setPredictionCol(s"pred_$label")
      .fit(new VectorAssembler().setInputCols(features.toArray)
        .setOutputCol("features").transform(train))

  private def mllib(train: DataFrame, features: Seq[String], label: String): LinearFit = {
    val m = mllibModel(train, features, label)
    LinearFit(m.coefficients.toArray, m.intercept)
  }

  private def assertClose(got: LinearFit, want: LinearFit, what: String): Unit = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    assert(got.coefficients.length == want.coefficients.length, what)
    got.coefficients.zip(want.coefficients).zipWithIndex.foreach { case ((a, b), i) =>
      assert(close(a, b), s"$what: coefficient $i = $a, MLlib $b")
    }
    assert(close(got.intercept, want.intercept),
      s"$what: intercept ${got.intercept}, MLlib ${want.intercept}")
  }

  /** Seeded long series: per entity a random walk plus noise per column. */
  private def series(seed: Int, entities: Int, steps: Int, cols: Seq[String]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until entities).flatMap { e =>
      val level = Array.fill(cols.size)(rnd.nextDouble() * 10)
      (0 until steps).map { t =>
        cols.indices.foreach(i => level(i) += rnd.nextGaussian())
        (s"item_$e", t.toLong, cols.indices.map(i => level(i) + rnd.nextDouble()))
      }
    }
    val base = rows.map { case (e, t, v) => (e, t, v.toArray) }.toDF("item_id", "ts", "v")
    cols.zipWithIndex.foldLeft(base) { case (d, (c, i)) =>
      d.withColumn(c, col("v")(i)) }.drop("v")
  }

  private def flatten(xy: DataFrame, cols: Seq[String], seqLen: Int): DataFrame =
    xy.select((0 until seqLen - 1).flatMap(i => cols.map(c =>
      element_at(col("x"), i + 1)(c).as(s"f_${c}_$i"))) ++
      cols.map(c => col("y")(c).as(s"label_$c")): _*)

  /** All four metrics of the MLlib-fitted TSTR scorer: the real windows'
    * 75/12.5/12.5 positional test split (row_number over entity and
    * position, which `globalPosition` equals), predictions by the fitted
    * MLlib `models` (one per column, in `cols` order), each column's
    * error averaged over the columns. */
  private def mllibScores(real: DataFrame, schema: TsSchema, seqLen: Int,
      stats: Scaling.MinMaxStats, models: Seq[LinearRegressionModel]): Map[String, Double] = {
    val id = schema.itemIdCols.head
    val cols = schema.numericCols
    val realXy = Ts.xySplit(Ts.slidingWindows(
        stats.transform(real), id, schema.tsCol, cols, seqLen))
      .withColumn("__seq", row_number().over(Window.orderBy(col(id), col("__pos"))) - 1)
    val n = realXy.count()
    val t = (0.75 * n).toLong
    val v = t + ((n - t) / 2)
    val features = (0 until seqLen - 1).flatMap(i => cols.map(c => s"f_${c}_$i"))
    val predicted = models.foldLeft(new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features").transform(flatten(realXy.filter(col("__seq") >= v), cols, seqLen)))(
      (d, m) => m.transform(d))
    val errAggs = cols.flatMap { c =>
      val p = col(s"pred_label_$c")
      val y = col(s"label_$c")
      Seq(avg(abs(p - y)), sqrt(avg(pow(p - y, 2))), avg(graft.metrics.Metrics.smapeTerm(p, y)))
    }
    val errs = predicted.agg(errAggs.head, errAggs.tail: _*).head()
    val w = Window.partitionBy(col(id)).orderBy(col(schema.tsCol))
    val naiveAggs = cols.map(c => avg(abs(col(c) - col(s"__lag_$c"))))
    val naive = cols.foldLeft(stats.transform(real))((d, c) =>
        d.withColumn(s"__lag_$c", lag(col(c), 1).over(w)))
      .agg(naiveAggs.head, naiveAggs.tail: _*).head()
    def mean(f: Int => Double) = cols.indices.map(f).sum / cols.size
    Map(
      "mean_absolute_error" -> mean(i => errs.getDouble(3 * i)),
      "RMSE" -> mean(i => errs.getDouble(3 * i + 1)),
      "sMAPE" -> mean(i => errs.getDouble(3 * i + 2)),
      "MASE" -> mean(i => errs.getDouble(3 * i) / naive.getDouble(i)))
  }

  test("closed-form TSTR fit and all four metrics == MLlib normal solver " +
      "(20 seeded cases)") {
    val rnd = new scala.util.Random(20261019)
    val cases = (0 until 20).map { i =>
      (i, 3 + i % 6, 1 + (i / 6) % 3, Seq(3, 5, 8, 16)(rnd.nextInt(4)))
    }
    cases.foreach { case (i, seqLen, nCols, numSequences) =>
      val cols = (1 to nCols).map(j => s"m$j")
      val labels = cols.map(c => s"label_$c")
      val features = (0 until seqLen - 1).flatMap(k => cols.map(c => s"f_${c}_$k"))
      val schema = TsSchema(Seq("item_id"), "ts", cols)
      val real = series(1000 + i, 2 + i % 2, 4 * seqLen + 3, cols)
      val model = StatisticalProvider.fit(real, schema)
      val what = s"case $i (seqLen $seqLen, $nCols columns, $numSequences sequences)"
      // the scorer's training frame: scaled synthetic windows, flattened
      val stats = Scaling.fit(real, cols)
      val train = flatten(Ts.xySplit(Ts.slidingWindows(
        stats.transform(model.generate(spark, numSequences, seqLen * 2)),
        "seq_id", "step", cols, seqLen)), cols, seqLen).cache()
      val (models, fits) = try {
        (labels.map(l => mllibModel(train, features, l)),
          RegressionScorer.fitNormal(train, features, labels))
      } finally train.unpersist()
      fits.zip(models).zip(labels).foreach { case ((got, m), l) =>
        assertClose(got, LinearFit(m.coefficients.toArray, m.intercept), s"$what, $l")
      }
      mllibScores(real, schema, seqLen, stats, models).foreach { case (metric, expected) =>
        val got = new RegressionScorer(seqLen, numSequences, metric).score(real, model, schema)
        assert(math.abs(got - expected) <= 1e-9 * math.abs(expected),
          s"$what: $metric = $got, MLlib scorer $expected")
      }
    }
  }

  private def frame(rows: Seq[Seq[Double]], names: Seq[String]): DataFrame = {
    val base = rows.map(_.toArray).toDF("v")
    names.zipWithIndex.foldLeft(base) { case (d, (c, i)) =>
      d.withColumn(c, col("v")(i)) }.drop("v")
  }

  private def randomRows(seed: Int, n: Int, width: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(width)(rnd.nextGaussian()))
  }

  test("constant label: zero coefficients, the label mean as intercept") {
    val rows = randomRows(7, 40, 3).map(r => r :+ 0.0 :+ 2.5)
    val train = frame(rows, Seq("a", "b", "c", "zero", "level"))
    val Seq(zero, level) = RegressionScorer.fitNormal(train, Seq("a", "b", "c"), Seq("zero", "level"))
    assert(zero.coefficients.toSeq == Seq(0.0, 0.0, 0.0) && zero.intercept == 0.0)
    assert(level.coefficients.toSeq == Seq(0.0, 0.0, 0.0) && level.intercept == 2.5)
    assertClose(zero, mllib(train, Seq("a", "b", "c"), "zero"), "zero label")
    assertClose(level, mllib(train, Seq("a", "b", "c"), "level"), "constant label")
  }

  test("constant feature: its coefficient is 0, the rest match MLlib") {
    val rnd = new scala.util.Random(9)
    val rows = randomRows(8, 50, 2).map { r =>
      r :+ 3.0 :+ (1.5 * r(0) - 0.5 * r(1) + 0.1 * rnd.nextGaussian())
    }
    val train = frame(rows, Seq("a", "b", "flat", "y"))
    val Seq(fit) = RegressionScorer.fitNormal(train, Seq("a", "b", "flat"), Seq("y"))
    assert(fit.coefficients(2) == 0.0)
    assertClose(fit, mllib(train, Seq("a", "b", "flat"), "y"), "constant feature")
  }

  test("three labels from one aggregate == three separate MLlib fits") {
    val rnd = new scala.util.Random(10)
    val rows = randomRows(11, 60, 4).map { r =>
      r ++ Seq(
        r(0) + 2 * r(3) + rnd.nextGaussian(),
        -r(1) + 0.3 * r(2) + 5 + 0.2 * rnd.nextGaussian(),
        rnd.nextGaussian())
    }
    val features = Seq("a", "b", "c", "d")
    val train = frame(rows, features ++ Seq("y1", "y2", "y3"))
    val fits = RegressionScorer.fitNormal(train, features, Seq("y1", "y2", "y3"))
    Seq("y1", "y2", "y3").zip(fits).foreach { case (y, fit) =>
      assertClose(fit, mllib(train, features, y), s"label $y")
    }
  }

  test("empty input raises a named IllegalArgumentException") {
    val empty = frame(Nil, Seq("a", "y"))
    val e1 = intercept[IllegalArgumentException](
      RegressionScorer.fitNormal(empty, Seq("a"), Seq("y")))
    assert(e1.getMessage.contains("TSTR training set is empty"))
    // every entity shorter than the window: no real window, no test split
    val cols = Seq("m1")
    val schema = TsSchema(Seq("item_id"), "ts", cols)
    val short = series(3, 2, 4, cols)
    val model = StatisticalProvider.fit(short, schema)
    val e2 = intercept[IllegalArgumentException](
      new RegressionScorer(seqLen = 5, numSequences = 4).score(short, model, schema))
    assert(e2.getMessage.contains("TSTR real test split is empty"))
    // a generator that returns no sequences: nothing to train on
    val e3 = intercept[IllegalArgumentException](
      new RegressionScorer(seqLen = 3, numSequences = 0).score(short, model, schema))
    assert(e3.getMessage.contains("TSTR training set is empty"))
  }
}
