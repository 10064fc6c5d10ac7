package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.TextAnalysis

/** Token-budget mixture sampling (TextAnalysis.mixtureByTokenBudget):
  * value identity with the naive global-cumulative-window semantics
  * across bucket counts (including the numBuckets=1 degenerate form),
  * budget safety, seed sensitivity, and the plan posture that justifies
  * the bucketed form — the per-document window is bucket-scoped, never a
  * whole group.
  */
class MixtureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "lang", "text")

  /** Naive reference: one global cumulative-sum window per group — the
    * semantics the bucketed plan must reproduce exactly. */
  private def reference(frac: Double, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"),
      md5(concat(col("doc_id").cast("string"), lit(":" + seed))
        .cast("binary")).as("pri"))
    val budg = toks.groupBy("lang")
      .agg(floor(sum("n_tok") * frac).cast("long").as("budget"))
    val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(budg, Seq("lang"))
      .withColumn("c", sum("n_tok").over(w))
      .filter(col("c") <= col("budget"))
      .select(col("doc_id"), col("lang"), col("n_tok"))
  }

  private def rows(df: DataFrame): Seq[(Long, String, Int)] =
    df.select("doc_id", "lang", "n_tok").orderBy("doc_id")
      .as[(Long, String, Int)].collect().toSeq

  test("bucketed result == naive global window, across bucket counts") {
    val expected = rows(reference(0.5, "42"))
    assert(expected.nonEmpty)
    for (buckets <- Seq(1, 7, 64, 4096)) {
      val got = rows(TextAnalysis.mixtureByTokenBudget(
        docs, "doc_id", "lang", "text", 0.5, "42", buckets))
      assert(got == expected, s"numBuckets=$buckets diverged from reference")
    }
  }

  test("per-group kept tokens never exceed the budget; kept set nonempty") {
    val totals = docs
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      .groupBy("lang").agg(floor(sum("n_tok") * 0.5).cast("long").as("budget"))
      .as[(String, Long)].collect().toMap
    val kept = TextAnalysis.mixtureByTokenBudget(
        docs, "doc_id", "lang", "text", 0.5, "42", 64)
      .groupBy("lang").agg(sum("n_tok").cast("long").as("kept"))
      .as[(String, Long)].collect().toMap
    assert(kept.nonEmpty)
    kept.foreach { case (lang, k) =>
      assert(k <= totals(lang), s"$lang: kept $k > budget ${totals(lang)}")
      assert(k > 0, s"$lang kept nothing")
    }
  }

  test("explicit per-group budgets: equal to the fraction form when fed " +
      "the same numbers; absent groups are dropped") {
    val budgets = docs
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      .groupBy("lang").agg(floor(sum("n_tok") * 0.5).cast("long").as("budget"))
    val viaBudgets = rows(TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", budgets, "budget", "42", 64,
      broadcastStatus = true))
    val viaFraction = rows(TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", 0.5, "42", 64))
    assert(viaBudgets == viaFraction)
    val partial = rows(TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text",
      budgets.filter(col("lang") =!= "en"), "budget", "42", 64,
      broadcastStatus = true))
    assert(partial == viaFraction.filterNot(_._2 == "en"))
    assert(partial.size < viaFraction.size)
  }

  test("broadcastStatus=false (huge-group-cardinality posture) selects " +
      "identical rows via the shuffle join") {
    val viaBroadcast = rows(TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", 0.5, "42", 64))
    val viaShuffle = rows(TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", 0.5, "42", 64,
      broadcastStatus = false))
    assert(viaShuffle == viaBroadcast)
  }

  test("deterministic per seed; a different seed reshuffles the selection") {
    def ids(seed: String) = TextAnalysis.mixtureByTokenBudget(
        docs, "doc_id", "lang", "text", 0.5, seed, 64)
      .select("doc_id").as[Long].collect().toSet
    assert(ids("42") == ids("42"))
    assert(ids("42") != ids("43"),
      "different seeds selected identical documents (astronomically unlikely)")
  }

  test("per-document window is bucket-scoped, never a whole group") {
    val df = TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", 0.5, "42", 64)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // every window spec ordered by the doc priority (the only per-document
    // window) must also partition by the bucket — a group-only partition
    // there is the single-giant-partition shape the operator exists to avoid
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toList
    val docLevel = specs.filter(_.contains("__pri"))
    assert(docLevel.nonEmpty, s"no doc-level window found in plan:\n$plan")
    docLevel.foreach(s => assert(s.contains("__bucket"),
      s"doc-level window not bucket-scoped: $s\n$plan"))
  }

  test("bucket-level window reads the bucket aggregate, never raw docs") {
    val df = TextAnalysis.mixtureByTokenBudget(
      docs, "doc_id", "lang", "text", 0.5, "42", 64)
    df.collect()
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    // the group-only window (cumsum ordered by __bucket, no __pri) is safe
    // only because its input is the per-(group,bucket) HashAggregate —
    // ≤ numBuckets rows per group at ANY corpus size; assert that shape
    val idx = lines.indexWhere(l =>
      l.contains("Window ") && l.contains("__bucket") && !l.contains("__pri"))
    assert(idx >= 0, s"bucket-level window not found:\n${lines.mkString("\n")}")
    assert(lines.slice(idx, idx + 7).exists(_.contains("HashAggregate")),
      "bucket-level window no longer sits above the bucket aggregate:\n" +
        lines.slice(idx, idx + 8).mkString("\n"))
  }
}
