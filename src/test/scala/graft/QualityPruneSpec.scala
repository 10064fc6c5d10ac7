package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.TextAnalysis

/** Quality-percentile pruning (TextAnalysis.pruneBottomQuantile /
  * pruneBottomQuantileKeep / pruneBottomQuantilePerGroup): the
  * text-retaining prune agrees with the metadata-only one, never shuffles
  * the corpus, and the per-group prune matches a driver model. */
class QualityPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "lang", "text")

  test("kept ids == the metadata-only prune's ids") {
    val kept = TextAnalysis.pruneBottomQuantileKeep(docs, "text", 0.25)
    // every original column rides through, the text untouched
    assert(kept.columns.toSeq == docs.columns.toSeq :+ "quality_score")
    assert(kept.join(docs.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).isEmpty)
    val keep = kept.select("doc_id").as[Long].collect().toSet
    val meta = TextAnalysis.pruneBottomQuantile(docs, "text", 0.25,
      Seq("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(keep == meta)
    assert(keep.nonEmpty && keep.size < docs.count())
  }

  test("rescore strategy: the corpus never shuffles (no Exchange outside " +
      "the threshold subquery)") {
    val df = TextAnalysis.pruneBottomQuantileKeep(docs, "text", 0.25)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the main tree is scan -> score -> filter; the threshold subquery
    // (inlined in the tree string under AQE) may merge its partial
    // percentile buffers through a one-row-per-partition SinglePartition
    // exchange, but NO hash/range exchange — the shapes a corpus
    // repartition would take — may appear anywhere
    assert(!plan.contains("Exchange hashpartitioning")
        && !plan.contains("Exchange rangepartitioning"),
      s"rescore strategy leaked a corpus shuffle:\n$plan")
    assert(plan.contains("Subquery subquery"),
      s"rescore threshold is no longer a scalar subquery:\n$plan")
  }

  test("per-group prune == per-group driver model; single group == " +
      "the global prune") {
    val full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextAnalysis.pruneBottomQuantilePerGroup(
        full, "text", 0.25, "source", Seq("doc_id", "lang"))
      .select("doc_id").as[Long].collect().toSet
    // driver model: exact interpolated percentile per source over the
    // same scores the operator computes
    val scores = TextAnalysis.qualityFeatures(full, "text")
      .select(col("doc_id"), col("source"), col("quality_score"))
      .as[(Long, String, Double)].collect()
    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
    val want = scores.groupBy(_._2).values.toSeq.flatMap { rows =>
      val thr = pct(rows.map(_._3).toSeq, 0.25)
      rows.filter(_._3 >= thr).map(_._1).toSeq
    }.toSet
    assert(got == want && got.nonEmpty)
    // one constant group degenerates to the global prune
    val one = TextAnalysis.pruneBottomQuantilePerGroup(
        full.withColumn("g", lit("all")), "text", 0.25, "g",
        Seq("doc_id", "lang"))
      .select("doc_id").as[Long].collect().toSet
    val global = TextAnalysis.pruneBottomQuantile(
        full, "text", 0.25, Seq("doc_id", "lang"))
      .select("doc_id").as[Long].collect().toSet
    assert(one == global)
  }
}
