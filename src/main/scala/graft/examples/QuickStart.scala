package graft.examples

import org.apache.spark.sql.functions._

import graft.api.SyntheticGenerator
import graft.core.{TimeSeriesFrame, TsSchema}
import graft.pipeline.{EvaluationPipeline, RegressionScorer}
import graft.providers.{BootstrapProvider, StatisticalProvider}

/** End-to-end walkthrough of the public API — the counterpart of the
  * reference's `examples/dopplenganger_example.py` / README usage
  * (README.md:42-89): declare column roles, normalise, train + score
  * every generator, pick the best, generate with a date index, persist.
  *
  * Run: `runMain graft.examples.QuickStart [sfDir]`
  */
object QuickStart {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Harness.session()

    // 1. declare column roles (the reference's *Parameters objects)
    val schema = TsSchema(Seq("user_id"), "ts", Seq("value"))
    val events = graft.sources.Tables.load(spark, sfDir, "events")
      .withColumn("user_id", col("user_id").cast("string"))

    // 2. normalise: surrogate keys + daily resample + calendar zero-fill
    val norm = TimeSeriesFrame(events, schema).normalise(orderCol = "event_id")
    println(s"normalised: ${norm.numSequences} sequences x ${norm.seqLen} steps")

    // 3. train-and-score every generator (true TSTR: regressor trained on
    //    each generator's synthetic windows, MAE on the real test split)
    val pipeline = new EvaluationPipeline(
      Map("statistical" -> StatisticalProvider, "bootstrap" -> BootstrapProvider),
      new RegressionScorer(seqLen = 6, numSequences = 32), iterations = 1)
    val result = pipeline.fit(events, schema)
    result.summary.show(truncate = false)
    println(s"best generator: ${result.bestGenerator.getOrElse("n/a")}")

    // 4. generate synthetic sequences with a positional date index (J3)
    val gen = SyntheticGenerator("statistical", schema, seqLen = 5).fit(events)
    gen.generateWithDateIndex(spark, n = 3, startDate = "2024-06-01")
      .orderBy("seq_id", "step").show(truncate = false)

    // 5. persist + reload (S4/S5)
    val dir = java.nio.file.Files.createTempDirectory("graft-quickstart").toString
    gen.save(dir)
    val reloaded = SyntheticGenerator.load(dir)
    println(s"reloaded generator produces " +
      s"${reloaded.generate(spark, 2).count()} rows")
    spark.stop()
  }
}
