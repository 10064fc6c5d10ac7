package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TsSchema
import graft.metrics.Metrics
import graft.pipeline.{EvaluationPipeline, PredictiveScorer}
import graft.providers.{BootstrapProvider, GeneratorProvider, StatisticalProvider}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sampleData = {
    val rnd = new scala.util.Random(11)
    (0 until 3).flatMap(e => (0 until 40).map(t =>
      (s"item_$e", java.sql.Timestamp.valueOf(f"2024-01-${t / 2 + 1}%02d ${t % 2 * 12}%02d:00:00"),
        rnd.nextDouble() * 10, rnd.nextDouble())))
      .toDF("item_id", "ts", "m1", "m2")
  }

  private val schema = TsSchema(Seq("item_id"), "ts", Seq("m1", "m2"))

  test("A7/A8 metric summary uses population stddev (evaluation.py:100-104)") {
    var m = Metrics.empty(spark)
    m = Metrics.record(m, "g", 0, "mae", 1.0)
    m = Metrics.record(m, "g", 1, "mae", 3.0)
    val row = Metrics.summary(m).head()
    assert(row.getAs[Double]("avg_value") == 2.0)
    assert(row.getAs[Double]("std_value") == 1.0) // ddof=0; sample would be sqrt(2)
  }

  test("A11 best generator is the argmin of the average metric") {
    var m = Metrics.empty(spark)
    m = Metrics.record(m, "worse", 0, "mae", 5.0)
    m = Metrics.record(m, "better", 0, "mae", 1.0)
    assert(Metrics.bestGenerator(m, "mae").contains("better"))
  }

  test("A11 driver argmin agrees with bestGenerator and the orderBy oracle") {
    def oracle(m: org.apache.spark.sql.DataFrame, key: String): Option[String] =
      Metrics.summary(m).filter(col("metric_key") === key)
        .orderBy(col("avg_value"), col("generator_name")).limit(1)
        .select(col("generator_name")).as[String].collect().headOption
    val rnd = new scala.util.Random(17)
    val tiny = -Double.MinPositiveValue // its mean over 3 rounds to -0.0
    val tables: Seq[Seq[(String, Int, Double)]] = Seq(
      Seq(("b", 0, 1.0), ("a", 0, 1.0)), // tie: the smaller name
      Seq(("a", 0, Double.NaN), ("b", 0, 7.0)), // NaN ranks last
      Seq(("b", 0, Double.NaN), ("a", 0, Double.NaN)),
      Seq(("b", 0, tiny), ("b", 1, 0.0), ("b", 2, 0.0), ("a", 0, 0.0)), // -0.0 == 0.0
      Seq(("a", 0, 0.0), ("b", 0, -1.0), ("b", 1, 1.0)),
      Seq(("x", 0, 1.0), ("x", 1, 3.0), ("w", 0, 2.0), ("w", 1, 2.0)), // mean tie
      Seq(("z", 0, 5.0), ("y", 0, 4.0), ("y", 1, Double.NaN), ("z", 1, 1.0)),
      (0 until 3).flatMap(it => Seq("g3", "g1", "g2", "g0")
        .map(g => (g, it, rnd.nextDouble()))),
      Seq.empty)
    for (t <- tables) {
      // a second key's rows must not count
      val rows = t.map { case (g, i, v) => (g, i, "mae", v) } ++
        t.map { case (g, i, _) => (g, i, "other", -100.0 * i) }
      val m = rows.toDF(Metrics.Schema: _*)
      val want = oracle(m, "mae")
      assert(Metrics.argminMean(t) == want, t)
      assert(Metrics.bestGenerator(m, "mae") == want, t)
    }
    assert(Metrics.argminMean(tables(3)).contains("a"))
    assert(Metrics.argminMean(tables(6)).contains("z"))
  }

  test("EvaluationPipeline.fit starts no SQL execution to pick the best generator") {
    import graft.internal.RunRecorder
    import graft.pipeline.Scorer
    import graft.providers.FittedGenerator
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val stub = new GeneratorProvider {
      val name = "stub"
      def fit(data: DataFrame, schema: TsSchema): FittedGenerator = new FittedGenerator {
        def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame = data
      }
    }
    val values = Iterator(3.0, 1.0, 2.0, 1.5, 0.5, 4.0)
    var calls = 0
    val counting = new Scorer {
      val metricKey = "mae"
      def score(real: DataFrame, model: FittedGenerator, schema: TsSchema): Double = {
        calls += 1
        values.next()
      }
    }
    val pipeline = new EvaluationPipeline(
      scala.collection.immutable.ListMap("p" -> stub, "q" -> stub, "r" -> stub),
      counting, iterations = 2)
    val (result, run) = RunRecorder.record(spark)(pipeline.fit(sampleData, schema))
    assert(calls == 6)
    assert(run.executions == 0) // neither the scorer nor the provider runs one
    assert(result.bestGenerator.contains("q")) // means p 2.0, q 1.75, r 2.25
    assert(Metrics.bestGenerator(result.metrics, "mae") == result.bestGenerator)
  }

  test("StatisticalProvider generates n x seqLen deterministic rows") {
    val model = StatisticalProvider.fit(sampleData, schema)
    val g1 = model.generate(spark, 4, 6)
    assert(g1.count() == 24)
    assert(g1.select("seq_id").distinct().count() == 4)
    val a = g1.orderBy("seq_id", "step").select("m1").as[Double].collect().toSeq
    val b = model.generate(spark, 4, 6).orderBy("seq_id", "step")
      .select("m1").as[Double].collect().toSeq
    assert(a == b) // seeded randn
  }

  test("StatisticalProvider samples per-sequence categorical attributes from fitted frequencies") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 200).map(i =>
      ("e", i.toLong, rnd.nextDouble(), if (i % 4 == 0) "cat_a" else "cat_b"))
      .toDF("item_id", "ts", "m1", "attr")
    val catSchema = TsSchema(Seq("item_id"), "ts", Seq("m1"), Seq("attr"))
    val g = StatisticalProvider.fit(df, catSchema).generate(spark, 40, 3)
    assert(g.columns.contains("attr"))
    // attribute is constant within a sequence
    assert(g.groupBy("seq_id").agg(countDistinct(col("attr")).as("k"))
      .filter(col("k") > 1).count() == 0)
    // both fitted values appear across sequences (75/25 split, 40 draws)
    val values = g.select("attr").distinct().as[String].collect().toSet
    assert(values == Set("cat_a", "cat_b"))
  }

  test("strict timestamp parse raises on format mismatch (test_synthcity_adapter.py:138-141)") {
    import graft.core.TimeSeriesFrame
    val bad = Seq(("a", "2024-02-01", 1.0)).toDF("id", "ts", "v") // not dd/MM/yyyy
    val tsf = TimeSeriesFrame(bad, TsSchema(Seq("id"), "ts", Seq("v")))
    val e = intercept[IllegalArgumentException](tsf.parseTimestamps(strict = true))
    assert(e.getMessage.contains("do not match format"))
    // non-strict coerces to null, pandas-style
    assert(tsf.parseTimestamps().df.filter(col("ts").isNull).count() == 1)
    // pre-existing nulls are NOT parse failures (pandas NaT passthrough)
    val withNull = Seq(("a", Some("01/02/2024"), 1.0), ("a", None, 2.0))
      .toDF("id", "ts", "v")
    val parsed = TimeSeriesFrame(withNull, TsSchema(Seq("id"), "ts", Seq("v")))
      .parseTimestamps(strict = true)
    assert(parsed.df.filter(col("ts").isNull).count() == 1)
  }

  test("BootstrapProvider replays real windows in the long-frame shape") {
    val model = BootstrapProvider.fit(sampleData, schema)
    val g = model.generate(spark, 3, 5)
    assert(g.count() == 15)
    assert(g.columns.toSet == Set("seq_id", "step", "m1", "m2"))
  }

  test("EvaluationPipeline scores every generator and picks a best") {
    val pipeline = new EvaluationPipeline(
      Map("stat" -> StatisticalProvider, "boot" -> BootstrapProvider,
        "ar" -> graft.providers.ArProvider),
      new PredictiveScorer(seqLen = 5), iterations = 2)
    val result = pipeline.fit(sampleData, schema)
    assert(result.metrics.count() == 6) // 3 generators x 2 iterations
    assert(result.bestGenerator.isDefined)
    assert(result.summary.columns.contains("std_value"))
  }

  test("TSTR RegressionScorer: trains on synthetic, evaluates on real, deterministic") {
    import graft.pipeline.RegressionScorer
    val model = StatisticalProvider.fit(sampleData, schema)
    val scorer = new RegressionScorer(seqLen = 5, numSequences = 16)
    val a = scorer.score(sampleData, model, schema)
    val b = scorer.score(sampleData, model, schema)
    assert(a == b) // normal-equations solver + seeded generator
    assert(a >= 0.0 && a.isFinite)
  }

  test("TSTR RegressionScorer releases its cached training frame when " +
      "scoring fails (MASE over a constant column)") {
    import graft.pipeline.RegressionScorer
    import org.apache.spark.sql.GraftCacheProbe.cachedEntries
    // m2 constant: zero naive error, so MASE is undefined for it
    val real = sampleData.withColumn("m2", lit(0.5))
    val model = StatisticalProvider.fit(real, schema)
    // the cache's in-memory buffers are the persistent RDDs Spark names
    // (after the cached plan); unnamed ones — Ts.globalPosition's
    // checkpoint — are freed by the ContextCleaner with their frame
    def cacheBuffers = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if rdd.name != null => id }.toSet
    val entriesBefore = cachedEntries(spark)
    val buffersBefore = cacheBuffers
    val e = intercept[IllegalArgumentException](
      new RegressionScorer(seqLen = 5, numSequences = 16, metric = "MASE")
        .score(real, model, schema))
    assert(e.getMessage.contains("MASE undefined"))
    assert(cachedEntries(spark) == entriesBefore,
      "the training frame stayed in the CacheManager")
    val leaked = cacheBuffers -- buffersBefore
    assert(leaked.isEmpty, s"cached buffers left behind: $leaked")
  }

  test("provider registry rejects unknown providers (adapter.py:95-97)") {
    val e = intercept[IllegalArgumentException](GeneratorProvider.forName("nope"))
    assert(e.getMessage.contains("not supported"))
  }

  test("forecasting_evaluation_metric strings select the TSTR error " +
      "aggregate (RMSE/sMAPE/MASE beside MAE); unknown strings rejected") {
    import graft.pipeline.RegressionScorer
    val model = StatisticalProvider.fit(sampleData, schema)
    def run(m: String) =
      new RegressionScorer(seqLen = 5, numSequences = 16, metric = m)
        .score(sampleData, model, schema)
    val mae = run("mean_absolute_error")
    val rmse = run("RMSE")
    val smape = run("sMAPE")
    val mase = run("MASE")
    assert(Seq(mae, rmse, smape, mase).forall(v => v >= 0 && v.isFinite))
    // RMSE >= MAE always (Jensen); sMAPE is bounded by 2 by construction
    assert(rmse >= mae)
    assert(smape <= 2.0)
    // same predictions either way: MASE is MAE over the series' naive
    // error, so the two metrics are proportional per column — with two
    // columns only positivity is guaranteed, but determinism holds
    assert(run("MASE") == mase)
    val e = intercept[IllegalArgumentException](run("MAPE_TYPO"))
    assert(e.getMessage.contains("not supported"))
    // metricKey mirrors the string, so MetricManager rows keep the name
    assert(new RegressionScorer(metric = "RMSE").metricKey == "RMSE")
  }
}
