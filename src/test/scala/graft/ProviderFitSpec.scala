package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TsSchema
import graft.internal.RunRecorder
import graft.providers.StatisticalProvider
import graft.providers.StatisticalProvider.Model

/** `StatisticalProvider.fit` in one SQL execution against its two-query
  * form: one moments aggregate, then per categorical column a
  * frequency-ordered `limit 100`. */
class ProviderFitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The two-query fit, kept as the oracle. */
  private def twoQueryFit(data: DataFrame, schema: TsSchema): Model = {
    val aggs = schema.numericCols.flatMap(c =>
      Seq(avg(col(c)).as(s"mean_$c"), stddev_pop(col(c)).as(s"std_$c"))) :+
      count(lit(1)).as("__n")
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(row.length - 1).toDouble
    val catFreqs = schema.catCols.map { c =>
      c -> data.groupBy(col(c)).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col(c))
        .limit(100)
        .collect()
        .map(r => (Option(r.get(0)).map(_.toString).getOrElse(""), r.getLong(1) / n)).toSeq
    }
    Model(schema.numericCols.zipWithIndex.map { case (c, i) =>
      c -> ((row.getDouble(2 * i), row.getDouble(2 * i + 1)))
    }, catFreqs)
  }

  /** Seeded rows: two measures, a string category over `cats` values with
    * repeated (tied) counts and some nulls, and an integer category. */
  private def frame(seed: Int, rows: Int, cats: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until rows).map { i =>
      val c = rnd.nextInt(cats)
      (s"e${i % 7}", i.toLong, rnd.nextGaussian() * 3 + 1, rnd.nextDouble(),
        if (c % 11 == 0) None else Some(s"cat_${c % (cats / 2 + 1)}"), rnd.nextInt(5) * 10)
    }.toDF("entity", "ts", "x1", "x2", "seg", "band")
  }

  private def assertOneExecution(df: DataFrame, schema: TsSchema): Unit = {
    val (model, run) = RunRecorder.record(spark)(StatisticalProvider.fit(df, schema))
    assert(run.executions == 1, s"${run.executions} SQL executions")
    assert(model == twoQueryFit(df, schema))
  }

  test("fit == the two-query form in one SQL execution: tied counts, a null " +
      "category, more than 100 categories") {
    val schema = TsSchema(Seq("entity"), "ts", Seq("x1", "x2"), Seq("seg"))
    Seq((1, 400, 24), (2, 3000, 500), (3, 900, 300)).foreach { case (seed, rows, cats) =>
      val df = frame(seed, rows, cats)
      val distinct = df.select("seg").distinct().count()
      assert(cats < 100 || distinct > 100, s"seed $seed: $distinct categories")
      assertOneExecution(df, schema)
    }
    // every count tied: the value order alone decides the top 100
    val flat = (0 until 300).map(i => (s"e$i", i.toLong, i.toDouble, 1.0, s"v${i % 150}", 0))
      .toDF("entity", "ts", "x1", "x2", "seg", "band")
    assertOneExecution(flat, schema)
    val freqs = StatisticalProvider.fit(flat, schema).asInstanceOf[Model].catFreqs.head._2
    assert(freqs.size == 100 && freqs.map(_._1) == freqs.map(_._1).sorted)
  }

  test("fit == the two-query form: two categorical columns, and none") {
    val df = frame(4, 1200, 160)
    assertOneExecution(df, TsSchema(Seq("entity"), "ts", Seq("x1", "x2"), Seq("seg", "band")))
    assertOneExecution(df, TsSchema(Seq("entity"), "ts", Seq("x1", "x2"), Seq("band", "seg")))
    assertOneExecution(df, TsSchema(Seq("entity"), "ts", Seq("x1", "x2")))
    assertOneExecution(df, TsSchema(Seq("entity"), "ts", Seq("x2"), Seq("band")))
  }
}
