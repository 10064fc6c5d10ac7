package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Retrieval

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4-doc corpus with hand-computable statistics; doc 4 is empty (out of
  // the collection stats by construction)
  private def corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry date"),
    (4L, "")).toDF("doc_id", "text")

  /** Reference BM25 (k1=1.2, b=0.75) computed independently in Scala. */
  private def bm25Ref(
      tfs: Map[String, Int], dl: Int, avgdl: Double, n: Int,
      df: Map[String, Int], terms: Seq[String]): Double = {
    val k1 = 1.2; val b = 0.75
    terms.distinct.filter(t => df.contains(t) && tfs.contains(t)).map { t =>
      val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
      idf * tfs(t) * (k1 + 1.0) /
        (tfs(t) + k1 * (1.0 - b + b * dl / avgdl))
    }.sum
  }

  test("bm25TopK matches an independent closed-form computation") {
    val q = Seq((10, "banana date"), (20, "apple")).toDF("qid", "qtext")
    val got = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 10,
        roundScoreTo = 6)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq

    // collection stats over docs 1..3 (doc 4 has no tokens)
    val n = 3; val avgdl = (3 + 2 + 4) / 3.0
    val df = Map("apple" -> 1, "banana" -> 2, "cherry" -> 2, "date" -> 1)
    val tfs = Map(
      1L -> (Map("apple" -> 2, "banana" -> 1), 3),
      2L -> (Map("banana" -> 1, "cherry" -> 1), 2),
      3L -> (Map("cherry" -> 3, "date" -> 1), 4))
    def ref(doc: Long, terms: String*): Double = {
      val (m, dl) = tfs(doc)
      BigDecimal(bm25Ref(m, dl, avgdl, n, df, terms))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = Seq(
      // banana date: doc3 has the rarer 'date', docs 1/2 only 'banana'
      (10, 3L, ref(3L, "banana", "date")),
      (10, 2L, ref(2L, "banana", "date")),
      (10, 1L, ref(1L, "banana", "date")),
      (20, 1L, ref(1L, "apple")))
    assert(got.map(r => (r._1, r._2, r._3)) == expected)
    assert(got.map(_._4) == Seq(1, 2, 3, 1)) // ranks dense from 1 per query
  }

  test("bm25TopK >256-term batch (distributed-df fallback) == the fused path") {
    // the query below pads the real terms with 300 distinct OOV tokens,
    // pushing the vocabulary over MaxFusedVocab — results must be
    // IDENTICAL to the same query without padding (OOV terms contribute
    // nothing in both arms, so the two dispatches compute the same
    // ranking on the same collection statistics)
    val pad = (1 to 300).map(i => s"oovpad$i").mkString(" ")
    val qBig = Seq((10, s"banana date $pad"), (20, s"apple $pad"))
      .toDF("qid", "qtext")
    val qSmall = Seq((10, "banana date"), (20, "apple"))
      .toDF("qid", "qtext")
    def run(q: org.apache.spark.sql.DataFrame) = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 10,
        roundScoreTo = 6)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(run(qBig) == run(qSmall))
  }

  test("TokenTfs posting frame == explode/groupBy posting frame") {
    // the kernel replaced a corpus-shuffling explode → groupBy(doc, term)
    // → groupBy(doc)-join chain; values must be identical on adversarial
    // tokenization shapes (nulls, empties, repeated/multi-whitespace)
    val docs = Seq(
      (1L, Some("a b a  c\ta")), (2L, Some("  leading and trailing  ")),
      (3L, Some("")), (4L, None), (5L, Some("x")),
      (6L, Some("x x x y y z"))).toDF("doc_id", "text")
    val naive = {
      val tf = docs
        .select(col("doc_id"),
          explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      tf.join(dl, Seq("doc_id"))
        .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    }
    val got = Retrieval.buildIndex(docs, "doc_id", "text")
    assert(got.collect().map(_.toSeq).toSet === naive.collect().map(_.toSeq).toSet)
  }

  test("bm25TopK: OOV query terms contribute nothing; all-OOV query matches nothing") {
    val q = Seq((1, "banana zzz"), (2, "zzz yyy")).toDF("qid", "qtext")
    val got = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 10)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(got.forall(_._1 == 1), "all-OOV query 2 must emit no rows")
    // identical to the query without the OOV term
    val clean = Retrieval.bm25TopK(
        corpus, "doc_id", "text",
        Seq((1, "banana")).toDF("qid", "qtext"), "qid", "qtext", k = 10)
      .orderBy(col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(got == clean)
  }

  test("bm25TopK: k bounds each query's rows; repeated query terms count once") {
    val q = Seq((1, "cherry cherry cherry")).toDF("qid", "qtext")
    val one = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 1)
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(one.size == 1 && one.head._2 == 3L) // doc 3: tf=3 of 'cherry'
    val single = Retrieval.bm25TopK(
        corpus, "doc_id", "text",
        Seq((1, "cherry")).toDF("qid", "qtext"), "qid", "qtext", k = 1)
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(one == single, "query-side tf must be ignored")
  }

  test("prebuilt index round-trips through parquet and reproduces bm25TopK exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toFile
    dir.deleteOnExit()
    val q = Seq((10, "banana date"), (20, "apple"), (30, "cherry zzz"))
      .toDF("qid", "qtext")
    val direct = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 10)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    Retrieval.writeIndex(corpus, "doc_id", "text", dir.getAbsolutePath)
    val idx = spark.read.parquet(dir.getAbsolutePath)
    val viaIndex = Retrieval.bm25TopKFromIndex(
        idx, "doc_id", q, "qid", "qtext", k = 10)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(viaIndex == direct)
    assert(direct.nonEmpty)
    // the index carries exactly the kept-token postings with dl attached
    val rows = idx.orderBy("doc_id", "term")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(rows.contains((1L, "apple", 2L, 3L)))
    assert(rows.contains((3L, "cherry", 3L, 4L)))
    assert(!rows.exists(_._1 == 4L)) // the empty doc has no postings
  }

  test("serving bundle reproduces bm25TopK exactly (sidecar df/stats + pruned scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-bundle").toFile
    dir.deleteOnExit()
    val q = Seq((10, "banana date"), (20, "apple"), (30, "cherry zzz"),
      (40, "zzz onlyoov"), (50, ""))
      .toDF("qid", "qtext")
    val direct = Retrieval.bm25TopK(
        corpus, "doc_id", "text", q, "qid", "qtext", k = 10)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    Retrieval.writeIndexBundle(corpus, "doc_id", "text", dir.getAbsolutePath)
    val viaBundle = Retrieval.bm25TopKFromBundle(
        dir.getAbsolutePath, "doc_id", q, "qid", "qtext", k = 10)
      .orderBy(col("qid"), col("rank"))
      .as[(Int, Long, Double, Int)].collect().toSeq
    assert(viaBundle == direct)
    assert(direct.nonEmpty)
    // query-id type survives the driver-side LocalRelation round-trip
    assert(Retrieval.bm25TopKFromBundle(
      dir.getAbsolutePath, "doc_id", q, "qid", "qtext", k = 10)
      .schema("qid").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // the sidecars carry the exact collection statistics
    val st = spark.read.parquet(s"${dir.getAbsolutePath}/stats")
      .as[(Long, Long)].collect().toSeq
    assert(st.size == 1)
    val idx = spark.read.parquet(s"${dir.getAbsolutePath}/postings")
    val wantN = idx.select("doc_id").distinct().count()
    assert(st.head._1 == wantN)
    // the tfidf serving path reproduces the inline form exactly too
    val vocab = Seq("banana", "apple", "cherry", "zzz")
    val tfidfDirect = Retrieval.tfidfForVocab(corpus, "doc_id", "text", vocab)
      .orderBy(col("doc_id"), col("term"))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    val tfidfBundle = Retrieval.tfidfFromBundle(spark,
        dir.getAbsolutePath, "doc_id", vocab)
      .orderBy(col("doc_id"), col("term"))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(tfidfBundle == tfidfDirect)
    assert(tfidfDirect.nonEmpty)
  }

  test("retrieval-based decontamination: benchmark queries pinpoint their corpus copies") {
    // the composition the operator exists for in a curation pipeline:
    // eval-suite texts as queries -> top-hit docs above a score floor are
    // quarantined. Disjoint per-doc vocabularies make the expected hits
    // exact: only the planted copies share terms with their query.
    val clean = (0 until 20).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d"))
    val benchTexts = Seq("leak alpha beta gamma", "leak delta epsilon zeta")
    val planted = benchTexts.zipWithIndex.map { case (t, i) =>
      ((100 + i).toLong, t)
    }
    val corpus = (clean ++ planted).toDF("doc_id", "text")
    val queries = benchTexts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("qid", "qtext")
    val hits = Retrieval.bm25TopK(
        corpus, "doc_id", "text", queries, "qid", "qtext", k = 3)
    // each query's best hit is its planted copy; nothing else shares
    // anything but the common 'leak' token
    val top1 = hits.filter(col("rank") === 1)
      .select("qid", "doc_id").as[(Int, Long)].collect().toMap
    assert(top1 == Map(0 -> 100L, 1 -> 101L))
    // quarantine: drop every doc that is some query's top hit
    val contaminated = hits.filter(col("rank") === 1).select("doc_id")
    val decontaminated = corpus.join(contaminated, Seq("doc_id"), "left_anti")
    assert(decontaminated.count() == 20)
    assert(decontaminated.filter(col("doc_id") >= 100).count() == 0)
  }

  test("tfidfForVocab matches the closed form and covers only vocab terms") {
    val got = Retrieval.tfidfForVocab(
        corpus, "doc_id", "text", Seq("cherry", "apple"), roundTo = 6)
      .orderBy(col("doc_id"), col("term"))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    def w(tf: Int, df: Int): Double =
      BigDecimal(tf * math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, "apple", 2L, 1L, w(2, 1)),
      (2L, "cherry", 1L, 2L, w(1, 2)),
      (3L, "cherry", 3L, 2L, w(3, 2))))
  }

  test("diversifyTopK == greedy scan with per-key cap (randomized fuzz, " +
      "ties and null keys)") {
    val r = new scala.util.Random(0xd1fe5)
    for (trial <- 0 until 20) {
      val k = 1 + r.nextInt(6)
      val cap = 1 + r.nextInt(3)
      // small score domain forces ties; occasional null keys
      val rows = (0 until 60).map { i =>
        (1L + r.nextInt(3), i.toLong,
          if (r.nextInt(10) == 0) null else s"s${r.nextInt(4)}",
          (r.nextInt(5) / 2.0))
      }
      val got = ext.Retrieval.diversifyTopK(
          rows.toDF("query_id", "doc_id", "key", "score"),
          "query_id", "key", Seq(col("score").desc, col("doc_id")), k, cap)
        .select("query_id", "doc_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (q, qRows) =>
        val ordered = qRows.sortBy(t => (-t._4, t._2))
        val taken = scala.collection.mutable.Buffer[(Long, Long, Int)]()
        val perKey = scala.collection.mutable.Map[String, Int]()
        ordered.foreach { case (_, id, key, _) =>
          if (taken.size < k && perKey.getOrElse(key, 0) < cap) {
            perKey(key) = perKey.getOrElse(key, 0) + 1
            taken += ((q, id, taken.size + 1))
          }
        }
        taken
      }.toSet
      assert(got == want, s"trial $trial (k=$k cap=$cap)")
    }
  }
}
