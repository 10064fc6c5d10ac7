package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.ext.TextAnalysis
import graft.ops.TopK

/** The five slowest 100-case loops of the differential fuzzing (see
  * [[DifferentialFuzz]]): each is a long run of small Spark jobs, so they
  * run as their own suite, on a test fork beside [[DifferentialFuzzSpec]].
  */
class DifferentialFuzzHeavySpec extends DifferentialFuzz {
  import spark.implicits._

  // ——— TopK.perGroupRanked vs sort-and-take ———

  test(s"fuzz: TopK.perGroupRanked == model ($Cases cases)") {
    val gen = for {
      nGroups <- Gen.choose(1, 5)
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, nGroups - 1)
        v <- Gen.choose(-5, 5)
      } yield (g, v))
      k <- Gen.choose(1, 8)
    } yield (rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }, k)
    check("topk")(Prop.forAllNoShrink(gen) { case (rows, k) =>
      val model = rows.groupBy(_._1).flatMap { case (_, members) =>
        members.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case ((g, v, id), i) => (g, v, id, i + 1) }
      }.toSet
      val got = TopK.perGroupRanked(
          rows.toDF("g", "v", "id"), Seq("g"),
          Seq(col("v").desc, col("id")), k)
        .select(col("g"), col("v"), col("id"), col("rank"))
        .as[(Int, Int, Long, Int)].collect().toSet
      got == model
    })
  }

  // ——— as-of backward vs linear scan ———

  asofTest("backward")

  // ——— token-budget mixture vs naive cumulative model ———

  test(s"fuzz: mixtureByTokenBudget == naive prefix model ($Cases cases)") {
    val gen = for {
      nGroups <- Gen.choose(1, 3)
      n <- Gen.choose(0, 40)
      docs <- Gen.listOfN(n, for {
        g <- Gen.choose(0, nGroups - 1)
        w <- Gen.choose(0, 12) // 0 words: the zero-token boundary
      } yield (g, w))
      frac <- Gen.oneOf(0.0, 0.3, 0.5, 0.8, 1.0)
      buckets <- Gen.oneOf(1, 2, 3, 7, 64)
      seed <- Gen.oneOf("42", "7")
    } yield (docs.zipWithIndex.map { case ((g, w), i) =>
      (i.toLong, s"l$g", Seq.fill(w)("w").mkString(" ")) }, frac, buckets, seed)
    check("mixture")(Prop.forAllNoShrink(gen) { case (docs, frac, buckets, seed) =>
      val model = docs.groupBy(_._2).flatMap { case (_, members) =>
        val toks = members.map { case (id, g, text) =>
          (id, g, text.split("\\s+").count(_.nonEmpty)) }
        val budget = math.floor(toks.map(_._3.toLong).sum * frac).toLong
        var cum = 0L
        toks.sortBy { case (id, _, _) => (md5hex(s"$id:$seed"), id) }
          .flatMap { case (id, g, n) =>
            cum += n
            if (cum <= budget) Some((id, g, n)) else None
          }
      }.toSet
      val got = TextAnalysis.mixtureByTokenBudget(
          docs.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text",
          budgetFraction = frac, seed = seed, numBuckets = buckets)
        .as[(Long, String, Int)].collect()
        .map { case (id, g, n) => (id, g, n) }.toSet
      got == model
    })
  }

  // ——— n-gram Jaccard pairs vs capped shingle-set model ———

  test(s"fuzz: ngramJaccardPairs == capped shingle-set model ($Cases cases)") {
    // tiny vocab → heavy shingle collisions → real pair volume; the model
    // re-derives distinct bigram sets, the stop-shingle doc-frequency cap,
    // and set-arithmetic Jaccard from scratch. The engine hashes grams
    // (xxhash64) — equality-only use, collision-free at this scale — so
    // the model works on the gram strings directly.
    val vocab = Vector("a", "b", "c", "d")
    val gen = for {
      nDocs <- Gen.choose(0, 10)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 10)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws)
      cap <- Gen.choose(1, 5)
      thr <- Gen.oneOf(0.1, 0.3, 0.5)
    } yield (docs, cap, thr)
    check("ngram-jaccard")(Prop.forAllNoShrink(gen) { case (docs, cap, thr) =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ext.Dedup
        .ngramJaccardPairs(df, "doc_id", "text", 2, thr, cap)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      val sets: Map[Long, Set[String]] = docs.zipWithIndex.map {
        case (ws, i) =>
          i.toLong -> ws.sliding(2).filter(_.size == 2)
            .map(_.mkString(" ")).toSet
      }.toMap
      val dfreq = sets.values.flatten.groupBy(identity)
        .map { case (g, l) => g -> l.size }
      val keptSets = sets.map { case (id, s) =>
        id -> s.filter(g => dfreq(g) <= cap)
      }
      val model = (for {
        (ia, sa) <- keptSets.toSeq
        (ib, sb) <- keptSets.toSeq
        if ia < ib
        shared = (sa & sb).size
        if shared > 0
        j = shared.toDouble / (sa.size + sb.size - shared)
        if j >= thr
      } yield (ia, ib, j)).toSet
      got == model
    })
  }

  // ——— BM25 top-k vs closed-form model ———

  test(s"fuzz: bm25TopK == closed-form model ($Cases cases)") {
    // random tiny corpora (incl. empty docs and an empty corpus), random
    // short queries over the corpus alphabet plus one OOV term, random k.
    // The model re-derives N/dl/avgdl/df/idf and the rounded-score-then-
    // doc-id ranking from scratch; Okapi params are the operator defaults.
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val gen = for {
      nDocs <- Gen.choose(0, 12)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 8)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws)
      nQ <- Gen.choose(1, 3)
      qs <- Gen.listOfN(nQ, for {
        len <- Gen.choose(1, 3)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab :+ "zz"))
      } yield ws)
      k <- Gen.choose(1, 5)
    } yield (docs, qs, k)
    check("bm25")(Prop.forAllNoShrink(gen) { case (docs, qs, k) =>
      val corpus = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val queries = qs.zipWithIndex
        .map { case (ws, i) => (i, ws.mkString(" ")) }
        .toDF("qid", "qtext")
      val got = graft.ext.Retrieval.bm25TopK(
          corpus, "doc_id", "text", queries, "qid", "qtext", k)
        .select("qid", "doc_id", "score", "rank")
        .as[(Int, Long, Double, Int)].collect().toSeq.sorted
      // the prebuilt-index path must agree case-for-case (incl. empty
      // corpora and all-OOV queries)
      val viaIndex = graft.ext.Retrieval.bm25TopKFromIndex(
          graft.ext.Retrieval.buildIndex(corpus, "doc_id", "text"),
          "doc_id", queries, "qid", "qtext", k)
        .select("qid", "doc_id", "score", "rank")
        .as[(Int, Long, Double, Int)].collect().toSeq.sorted
      if (viaIndex != got)
        sys.error(s"index path diverged: $viaIndex vs $got")

      val docTf: Map[Long, Map[String, Int]] = docs.zipWithIndex
        .map { case (ws, i) =>
          i.toLong -> ws.groupBy(identity).map { case (t, l) => t -> l.size }
        }.toMap.filter(_._2.nonEmpty)
      val n = docTf.size
      val dls = docTf.map { case (d, m) => d -> m.values.sum }
      val avgdl = if (n == 0) 0.0 else dls.values.sum.toDouble / n
      val df = docTf.values.flatMap(_.keys).groupBy(identity)
        .map { case (t, l) => t -> l.size }
      val expected = qs.zipWithIndex.flatMap { case (ws, qi) =>
        val terms = ws.distinct
        val scored = docTf.toSeq.flatMap { case (d, m) =>
          val hit = terms.filter(t => m.contains(t) && df.contains(t))
          if (hit.isEmpty) None
          else {
            val s = hit.map { t =>
              val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
              idf * m(t) * (1.2 + 1.0) /
                (m(t) + 1.2 * (1.0 - 0.75 + 0.75 * dls(d) / avgdl))
            }.sum
            Some((d, BigDecimal(s)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
          }
        }
        scored.sortBy { case (d, s) => (-s, d) }.take(k)
          .zipWithIndex.map { case ((d, s), r) => (qi, d, s, r + 1) }
      }.sorted
      got == expected
    })
  }
}
