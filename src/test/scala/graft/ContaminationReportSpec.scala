package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** The single-pass [[Dedup.contaminationAttributionCompact]] must be
  * value-identical to the gram-join [[Dedup.contaminationAttribution]] —
  * the oracle row `text_contamination_report` pins the compact form
  * against DuckDB; this spec pins it against the join form on corpora
  * with real overlap, duplicate bench ids and zero-gram edges, and pins
  * its over-cap diagnostic.
  */
class ContaminationReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpusOf(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "pack", "my", "box", "with", "five", "dozen", "jugs")
    val docs = (0 until n).map { i =>
      val len = rnd.nextInt(20) // includes < n tokens → no grams
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // verbatim cross-parity copies: guaranteed high-overlap leaks
    val dups = docs.take(5).map { case (id, t) => (id + 501L, t) }
    (docs ++ dups).toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("contaminationAttributionCompact (single-pass kernel) == join-form " +
      "attribution, incl. duplicate bench ids and zero-gram edges") {
    for (seed <- Seq(3, 11, 42)) {
      val docs = corpusOf(seed, 60)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      // duplicate bench ids: two rows share id 999 — the union semantics
      // the default join path implements with its groupBy
      val bench = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(Seq((999L, "the quick brown fox"),
          (999L, "fox jumps over lazy")).toDF("doc_id", "text"))
      val exp = Dedup.contaminationAttribution(
        corpus, bench, "doc_id", "doc_id", "text", "text")
      val got = Dedup.contaminationAttributionCompact(
        corpus, bench, "doc_id", "doc_id", "text", "text")
      assert(got.columns.toSeq == exp.columns.toSeq)
      assert(rows(got) == rows(exp), s"compact mismatch (seed=$seed)")
    }
    // empty benchmark gram side: empty result, correct schema
    val corpus = Seq((0L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val bench = Seq((1L, "xx")).toDF("doc_id", "text") // < n tokens
    val got = Dedup.contaminationAttributionCompact(
      corpus, bench, "doc_id", "doc_id", "text", "text")
    assert(got.columns.toSeq ==
      Seq("bench_id", "n_contaminated_docs", "max_overlap"))
    assert(got.count() == 0)
    // oversized benchmark fails AT CONSTRUCTION with the argument-swap
    // diagnostic — and via a distributed pre-count, so the failure comes
    // BEFORE any corpus-sized collect can reach the driver
    val big = corpusOf(7, 200)
    val e = intercept[IllegalArgumentException](
      Dedup.contaminationAttributionCompact(
        big, big, "doc_id", "doc_id", "text", "text",
        maxBenchmarkPostings = 10))
    assert(e.getMessage.contains("swap"), s"unexpected: ${e.getMessage}")
    // ...and names the operator for the corpus-sized case
    assert("""\bDedup\.contaminationAttribution\b""".r
        .findFirstIn(e.getMessage).nonEmpty,
      s"diagnostic names no corpus-scale operator: ${e.getMessage}")
  }
}
