package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TimeSeriesOps

/** Golden fixtures ported from the reference test suite (FIXTURES.md). */
class TimeSeriesOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("J1 surrogate key: first-appearance dense ids (F-1, tests/test_data_utils.py:8-31)") {
    val df = Seq(
      ("a", 0, 0L), ("a", 1, 1L), ("a", 0, 2L),
      ("b", 1, 3L), ("b", 0, 4L), ("b", 1, 5L))
      .toDF("item_id_1", "item_id_2", "src_order")
    val got = TimeSeriesOps
      .addSurrogateKey(df, Seq("item_id_1", "item_id_2"), "src_order")
      .orderBy("src_order")
      .select("surrogate_item_id")
      .as[Int].collect().toSeq
    assert(got == Seq(0, 1, 0, 2, 3, 2))
  }

  test("A3+J2 normalise: daily sums with zero-filled gaps (F-2, tests/test_doppleganger.py:150-200)") {
    val df = Seq(
      ("item_1", 10.0, "2018-10-26 12:00:00"),
      ("item_1", 20.0, "2018-10-26 13:00:00"),
      ("item_2", 30.0, "2018-10-27 12:00:00"),
      ("item_2", 40.0, "2018-10-27 13:00:00"))
      .toDF("item_id", "numeric_column", "ts_str")
      .withColumn("ts", to_timestamp(col("ts_str")))
    val daily = TimeSeriesOps.resampleSum(
      df, "item_id", "ts", Seq("numeric_column"), "day", "bucket")
    val filled = TimeSeriesOps.calendarFill(
      daily, "item_id", "bucket", Seq("numeric_column"))
      .orderBy("item_id", "bucket")
    val got = filled.select("numeric_column").as[Double].collect().toSeq
    assert(got == Seq(30.0, 0.0, 0.0, 70.0))
  }

  test("W1 sliding windows over scaled frame (F-3, tests/test_timegan.py:39-51)") {
    val df = Seq(
      ("e", 0L, 0.0, 0.0), ("e", 1L, 0.25, 0.25),
      ("e", 2L, 0.5, 0.5), ("e", 3L, 1.0, 1.0))
      .toDF("id", "pos", "f1", "f2")
    val win = TimeSeriesOps.slidingWindows(df, "id", "pos", Seq("f1", "f2"), 2)
      .orderBy("__pos")
    assert(win.count() == 3)
    val second = win.filter(col("__pos") === 1)
      .select(expr("transform(window, w -> array(w.f1, w.f2))"))
      .as[Seq[Seq[Double]]].head()
    assert(second == Seq(Seq(0.25, 0.25), Seq(0.5, 0.5)))
  }

  test("W4 x/y split takes first L-1 steps vs last (F-4, tests/test_multivariate_metrics.py:36-62)") {
    val df = Seq(("e", 0L, 0.0), ("e", 1L, 1.0), ("e", 2L, 2.0))
      .toDF("id", "pos", "v")
    val xy = TimeSeriesOps.xySplit(
      TimeSeriesOps.slidingWindows(df, "id", "pos", Seq("v"), 3))
    val row = xy.select(
      expr("transform(x, w -> w.v)").as("xs"), col("y.v").as("yv"))
      .as[(Seq[Double], Double)].head()
    assert(row._1 == Seq(0.0, 1.0) && row._2 == 2.0)
  }

  test("W5 positional split with int truncation (F-4: n=3, frac=0.4 -> 1/1/1)") {
    val df = (0L until 3L).map(i => (i, i.toDouble)).toDF("pos", "v")
    val split = TimeSeriesOps.trainValTestSplit(df, "pos", trainFrac = 0.4)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(split == Map("train" -> 1L, "val" -> 1L, "test" -> 1L))
  }

  test("W3 slice-by-timestep drops last h per entity (tests/test_univariate_metrics.py:152-174)") {
    val df = Seq((1, 0L, 1.0), (1, 1L, 2.0), (1, 2L, 3.0), (2, 0L, 4.0), (2, 1L, 5.0))
      .toDF("item", "pos", "v")
    val got = TimeSeriesOps.sliceByTimestep(df, "item", "pos", 1)
      .orderBy("item", "pos").select("v").as[Double].collect().toSeq
    assert(got == Seq(1.0, 2.0, 4.0))
  }

  test("W6 weekend flag: pandas weekday {5,6} == Spark dayofweek {1,7} (tests/test_univariate_metrics.py:66-72)") {
    val df = Seq("2020-01-04", "2020-01-05", "2020-01-06")
      .toDF("d").withColumn("ts", to_timestamp(col("d")))
    val got = df.select(TimeSeriesOps.weekendFlag(col("ts")))
      .as[Double].collect().toSeq
    assert(got == Seq(1.0, 1.0, 0.0)) // Sat, Sun, Mon
  }

  test("W7 forecast horizon: next h buckets after the last observed one") {
    val df = Seq((1, "2024-03-01 10:00:00"), (1, "2024-03-03 09:00:00"))
      .toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    val got = TimeSeriesOps.forecastHorizon(df, "item", "ts", 2)
      .orderBy("horizon_ts")
      .select(col("horizon_ts").cast("string")).as[String].collect().toSeq
    assert(got == Seq("2024-03-04 00:00:00", "2024-03-05 00:00:00"))
  }

  test("P5 dedup keep-first by explicit order (F-5, tests/test_univariate_metrics.py:69-71)") {
    val df = Seq((1, "2020-01-04", 1.0, 0L), (1, "2020-01-04", 99.0, 1L), (1, "2020-01-06", 2.0, 2L))
      .toDF("item", "d", "v", "src")
    val got = TimeSeriesOps.dedupKeepFirst(df, Seq("item", "d"), "src")
      .orderBy("src").select("v").as[Double].collect().toSeq
    assert(got == Seq(1.0, 2.0)) // keeps first physical row, drops v=99
  }

  test("P5 dedup keep-first: null order values rank FIRST, never fabricate rows") {
    // the min_by rewrite must not skip null-ordered rows (min_by ignores
    // null ordering keys): an all-null group keeps a REAL row, and a mixed
    // group keeps the null-ordered row — the window form's NULLS FIRST
    val df = Seq(
      (1, Some(5L), 10.0), (1, None, 20.0),  // mixed: null-src row wins
      (2, None, 30.0))                        // all-null group: real row out
      .toDF("item", "src", "v")
    val got = TimeSeriesOps.dedupKeepFirst(df, Seq("item"), "src")
      .orderBy("item").select("item", "v").as[(Int, Double)].collect().toSeq
    assert(got == Seq((1, 20.0), (2, 30.0)))
  }

  test("W2 sequence extraction sorts within entity") {
    val df = Seq((1, 2L, 30.0), (1, 0L, 10.0), (1, 1L, 20.0))
      .toDF("item", "pos", "v")
    val got = TimeSeriesOps.splitBySequence(df, "item", "pos", Seq("v"))
      .select(expr("transform(sequence, s -> s.v)"))
      .as[Seq[Double]].head()
    assert(got == Seq(10.0, 20.0, 30.0))
  }

  test("normalise_sequences composition: F-2 golden + metadata (data_utils.py:33-90)") {
    val df = Seq(
      ("item_1", 10.0, "2018-10-26 12:00:00", 0L),
      ("item_1", 20.0, "2018-10-26 13:00:00", 1L),
      ("item_2", 30.0, "2018-10-27 12:00:00", 2L),
      ("item_2", 40.0, "2018-10-27 13:00:00", 3L))
      .toDF("item_id", "numeric_column", "ts_str", "src")
      .withColumn("ts", to_timestamp(col("ts_str")))
    val res = TimeSeriesOps.normaliseSequences(
      df, Seq("item_id"), "ts", Seq("numeric_column"), "src")
    assert(res.numSequences == 2 && res.seqLen == 2)
    val got = res.df.orderBy("surrogate_item_id", "bucket")
      .select("numeric_column").as[Double].collect().toSeq
    assert(got == Seq(30.0, 0.0, 0.0, 70.0))
  }

  test("normalise_sequences resamples and fills in its unit: hourly keeps every bucket") {
    val df = Seq(
      ("a", "2024-01-01 00:10:00", 1.0, 0L), ("a", "2024-01-01 01:10:00", 2.0, 1L),
      ("b", "2024-01-01 05:10:00", 3.0, 2L), ("b", "2024-01-02 03:00:00", 4.0, 3L))
      .toDF("item_id", "s", "v", "src")
      .withColumn("ts", to_timestamp(col("s")))
    val res = TimeSeriesOps.normaliseSequences(
      df, Seq("item_id"), "ts", Seq("v"), "src", unit = "hour")
    assert(res.numSequences == 2 && res.seqLen == 28) // 00:00 Jan 1 .. 03:00 Jan 2
    assert(res.df.count() == 56)
    assert(res.df.agg(sum(col("v"))).as[Double].head() == 10.0)
  }

  /** Seeded rows over two nullable id columns, about 40 days from
    * 2024-01-30 (crossing two month ends), a `nullTs` share of null
    * timestamps, and optionally an id whose every timestamp is null. */
  private def metaInput(seed: Int, n: Int, nullTs: Double, ghost: Boolean) = {
    val rnd = new scala.util.Random(seed)
    val base = Timestamp.valueOf("2024-01-30 00:00:00").getTime
    val rows = (0 until n).map { i =>
      val a = if (rnd.nextDouble() < 0.1) None else Some(s"a${rnd.nextInt(3)}")
      val b = if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(2))
      val ts = if (rnd.nextDouble() < nullTs) None
        else Some(new Timestamp(base + (rnd.nextDouble() * 40 * 86400000L).toLong))
      (a, b, ts, i.toLong, rnd.nextDouble())
    } ++ (if (ghost) Seq((Some("ghost"), Some(9), None, n.toLong, 1.0)) else Nil)
    rows.toDF("a", "b", "ts", "ord", "v")
  }

  test("normalise_sequences metadata equals the filled frame's distinct counts") {
    val cases = Seq(
      "null id parts and timestamps" -> metaInput(1, 60, 0.1, ghost = false),
      "an id with only null timestamps" -> metaInput(2, 40, 0.1, ghost = true),
      "all timestamps null" -> metaInput(3, 20, 1.0, ghost = true),
      "empty input" -> metaInput(4, 0, 0.0, ghost = false))
    for ((name, df) <- cases; unit <- Seq("day", "hour", "month")) {
      val res = TimeSeriesOps.normaliseSequences(df, Seq("a", "b"), "ts", Seq("v"), "ord", unit)
      // the former metadata query over the filled plan is the oracle
      val oracle = res.df.agg(
        count_distinct(col("surrogate_item_id")), count_distinct(col("bucket")),
        count(lit(1)), sum(when(col("bucket").isNull, 1).otherwise(0))).head()
      val clue = s"$name, unit $unit"
      assert(oracle.isNullAt(3) || oracle.getLong(3) == 0L, clue) // no null bucket
      assert(res.numSequences == oracle.getLong(0), clue)
      assert(res.seqLen == oracle.getLong(1), clue)
      assert(res.numSequences * res.seqLen == oracle.getLong(2), clue)
    }
    val ghost = TimeSeriesOps.normaliseSequences(
      metaInput(2, 40, 0.1, ghost = true), Seq("a", "b"), "ts", Seq("v"), "ord")
    val plain = TimeSeriesOps.normaliseSequences(
      metaInput(2, 40, 0.1, ghost = false), Seq("a", "b"), "ts", Seq("v"), "ord")
    assert(ghost.numSequences == plain.numSequences + 1) // still on the grid
    assert(ghost.seqLen > 0)
  }

  test("normalise_sequences runs one SQL execution for its metadata") {
    import graft.internal.RunRecorder
    val df = metaInput(5, 30, 0.1, ghost = true)
    val (res, run) = RunRecorder.record(spark)(
      TimeSeriesOps.normaliseSequences(df, Seq("a", "b"), "ts", Seq("v"), "ord"))
    assert(run.executions == 1)
    assert(res.numSequences > 0 && res.seqLen > 0)
  }

  test("unitStep steps the calendar by one unit; quarter is 3 months") {
    assert(TimeSeriesOps.unitStep("DAY") == "interval 1 day")
    assert(TimeSeriesOps.unitStep("quarter") == "interval 3 months")
    assert(TimeSeriesOps.unitStep("hour") == "interval 1 hour")
    intercept[IllegalArgumentException](TimeSeriesOps.unitStep("fortnight"))
  }

  test("sessionize numbers gap-separated islands per entity") {
    val df = Seq(
      (1, "2024-01-01 00:00:00", 0L), // session 1
      (1, "2024-01-01 00:10:00", 1L), // gap 600 <= 3600 -> session 1
      (1, "2024-01-01 02:00:00", 2L), // gap 6600 > 3600 -> session 2
      (1, "2024-01-01 02:30:00", 3L), // session 2
      (2, "2024-01-01 00:00:00", 4L)) // other entity -> its own session 1
      .toDF("uid", "s", "eid").withColumn("ts", to_timestamp(col("s")))
    val got = TimeSeriesOps.sessionize(df, Seq("uid"), "ts", 3600L, Seq("eid"))
      .orderBy("uid", "eid")
      .select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 2L, 2L, 1L))
  }

  test("sessionize: a gap of exactly gapSeconds stays in-session") {
    val df = Seq((1, "2024-01-01 00:00:00", 0L), (1, "2024-01-01 01:00:00", 1L))
      .toDF("uid", "s", "eid").withColumn("ts", to_timestamp(col("s")))
    val got = TimeSeriesOps.sessionize(df, Seq("uid"), "ts", 3600L, Seq("eid"))
      .select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L)) // strict > comparison, like interval > in SQL
  }

  test("A12 frequency inference: median gap in seconds") {
    val df = Seq((1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:10"),
      (1, "2024-01-01 00:00:30"))
      .toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    val got = TimeSeriesOps.inferFrequencySeconds(df, "item", "ts")
      .select("median_gap_s").as[Double].head()
    assert(got == 15.0) // gaps 10, 20 -> interpolated median 15
  }

  test("A12 modal vs median gap diverge on an irregular series") {
    // gaps 1,1,7,9,11 -> mode 1 (count 2), median 7: the two estimators
    // disagree exactly where pandas infer_freq would return None
    val secs = Seq(0, 1, 2, 9, 18, 29)
    val df = secs.map(t => (1, f"2024-01-01 00:00:$t%02d"))
      .toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    val modal = TimeSeriesOps.inferFrequencyModalSeconds(df, "item", "ts")
      .select("modal_gap_s").as[Long].head()
    val median = TimeSeriesOps.inferFrequencySeconds(df, "item", "ts")
      .select("median_gap_s").as[Double].head()
    assert(modal == 1L && median == 7.0)
    // modal tie-break is the SMALLEST gap: gaps 5,5,9,9 -> 5
    val tied = Seq(0, 5, 10, 19, 28).map(t => (1, f"2024-01-01 00:00:$t%02d"))
      .toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    assert(TimeSeriesOps.inferFrequencyModalSeconds(tied, "item", "ts")
      .select("modal_gap_s").as[Long].head() == 5L)
    // on a perfectly regular series the two agree
    val regular = Seq(0, 10, 20, 30).map(t => (1, f"2024-01-01 00:00:$t%02d"))
      .toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    assert(TimeSeriesOps.inferFrequencyModalSeconds(regular, "item", "ts")
      .select("modal_gap_s").as[Long].head() == 10L)
  }

  test("dropItemsWithoutFrequency requireRegular drops irregular items (pandas parity)") {
    import graft.ops.ForecastPrep
    val rows =
      Seq(0, 10, 20, 30).map(t => ("regular", f"2024-01-01 00:00:$t%02d")) ++
        Seq(0, 1, 9, 28).map(t => ("irregular", f"2024-01-01 00:00:$t%02d")) ++
        Seq(0, 10).map(t => ("short", f"2024-01-01 00:00:$t%02d"))
    val df = rows.toDF("item", "s").withColumn("ts", to_timestamp(col("s")))
    // loose mode keeps anything with >= 2 distinct timestamps
    val loose = ForecastPrep.dropItemsWithoutFrequency(df, "item", "ts")
      .select("item").distinct().as[String].collect().toSet
    assert(loose == Set("regular", "irregular", "short"))
    // pandas parity: only the uniform-gap series with >= 3 points survives
    val strict = ForecastPrep
      .dropItemsWithoutFrequency(df, "item", "ts", requireRegular = true)
      .select("item").distinct().as[String].collect().toSet
    assert(strict == Set("regular"))
  }
}
