package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity}

/** Round-14 corpus-audit family: soft dedup weights, cross-source overlap,
  * embedding centroid drift. Closed-form fixtures and degenerate inputs.
  */
class AuditOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ——— softDedupWeights ———

  test("softDedupWeights: cluster mass 1/size, singletons weight 1") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
    val got = Dedup.softDedupWeights(docs, "doc_id", clusters)
      .orderBy("doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "weight")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 0.333333), (2L, 1L, 3L, 0.333333),
      (3L, 1L, 3L, 0.333333), (4L, 4L, 1L, 1.0)))
    // total mass: one unit per cluster
    val mass = got.map(_._4).sum
    assert(math.abs(mass - 2.0) < 1e-4)
  }

  test("softDedupWeights: alpha generalizes the discount") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("id", "cluster_id")
    val got = Dedup.softDedupWeights(docs, "doc_id", clusters, alpha = 0.5)
      .select("weight").as[Double].collect().toSeq
    // 4^-0.5 = 0.5 for every member
    assert(got == Seq(0.5, 0.5, 0.5, 0.5))
    // alpha = 0: no discount at all
    val flat = Dedup.softDedupWeights(docs, "doc_id", clusters, alpha = 0.0)
      .select("weight").as[Double].collect().toSeq
    assert(flat == Seq(1.0, 1.0, 1.0, 1.0))
  }

  test("softDedupWeights: null-id docs are singletons, never a pseudo-cluster") {
    // review finding (r14): the window form grouped ALL null-id docs into
    // one partition and downweighted them as mutual duplicates — k
    // unrelated id-less docs each got weight 1/k
    val docs = Seq(Some(1L), None, None, None).toDF("doc_id")
    val clusters = Seq((1L, 1L)).toDF("id", "cluster_id")
    val got = Dedup.softDedupWeights(docs, "doc_id", clusters)
      .select("cluster_size", "weight").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0), (1L, 1.0), (1L, 1.0), (1L, 1.0)))
  }

  test("softDedupWeights: sizes come from the label frame — docs filtered " +
      "after clustering keep full-cluster weights") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    // only one survivor of a 3-cluster passed in docs: weight still 1/3
    val got = Dedup.softDedupWeights(Seq(2L).toDF("doc_id"), "doc_id", clusters)
      .select("cluster_id", "cluster_size", "weight")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 0.333333)))
  }

  test("softDedupWeights: reserved output names rejected, empty clusters ok") {
    val bad = Seq((1L, 2.0)).toDF("doc_id", "weight")
    val cl = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    val e = intercept[IllegalArgumentException](
      Dedup.softDedupWeights(bad, "doc_id", cl))
    assert(e.getMessage.contains("weight"))
    val got = Dedup.softDedupWeights(Seq(7L).toDF("doc_id"), "doc_id", cl)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((7L, 7L, 1L, 1.0)))
  }

  // ——— sourceOverlap ———

  private val overlapFixture = Seq(
    ("A", "a b c d"),   // grams: "a b c", "b c d"
    ("B", "a b c x"),   // grams: "a b c", "b c x"
    ("C", "zz yy xx ww")) // grams disjoint from A and B
    .toDF("source", "text")

  test("sourceOverlap: exact Jaccard over per-source distinct gram sets") {
    val got = Dedup.sourceOverlap(overlapFixture, "text", "source")
      .orderBy("source_a", "source_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // only A-B share a gram ("a b c"): 1 / (2 + 2 - 1) = 1/3
    assert(got == Seq(("A", "B", 1L, 2L, 2L, 0.333333)))
  }

  test("sourceOverlap: maxSourcesPerGram drops ubiquitous grams from the " +
      "whole audit (sizes stay consistent with pair counts)") {
    val df = Seq(
      ("A", "k k k u1 u1 u1"), // grams: "k k k", "k k u1", "k u1 u1", "u1 u1 u1"
      ("B", "k k k u2 u2 u2"),
      ("C", "k k k u3 u3 u3"))
      .toDF("source", "text")
    // "k k k" lives in all 3 sources; capped at 2 it vanishes everywhere
    val capped = Dedup.sourceOverlap(df, "text", "source",
        maxSourcesPerGram = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(capped.isEmpty) // no other gram is shared
    val uncapped = Dedup.sourceOverlap(df, "text", "source")
      .orderBy("source_a", "source_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(uncapped.map(r => (r._1, r._2, r._3)) ==
      Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L)))
    assert(uncapped.forall(r => r._4 == 4L && r._5 == 4L))
  }

  test("sourceOverlap: null text and null source degrade gracefully") {
    val df = Seq(
      (Some("A"), Some("a b c d")),
      (Some("B"), Some("a b c d")),
      (Some("B"), None),
      (None, Some("a b c d")))
      .toDF("source", "text")
    val got = Dedup.sourceOverlap(df, "text", "source")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("A", "B", 2L, 2L, 2L, 1.0)))
  }

  test("OrderedPairs kernel == explode+filter HOF on random string sets") {
    import org.apache.spark.sql.GraftColumnBridge
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(8)
      (i.toLong, (0 until n).map(_ => s"s${rnd.nextInt(10)}").distinct)
    }
    val df = rows.toDF("id", "arr")
    val viaKernel = df.select(col("id"),
        explode(GraftColumnBridge.column(graft.functions.OrderedPairs(
          GraftColumnBridge.expression(col("arr"))))).as("p"))
      .select(col("id"), col("p.a"), col("p.b"))
      .as[(Long, String, String)].collect().sorted.toSeq
    val viaHof = df
      .select(col("id"), sort_array(col("arr")).as("sorted"))
      .select(col("id"), explode(col("sorted")).as("a"), col("sorted"))
      .select(col("id"), col("a"),
        explode(filter(col("sorted"), x => x > col("a"))).as("b"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(viaKernel == viaHof)
    // set semantics: duplicates collapse, nulls skip, singletons empty
    val edge = Seq(
      (0L, Seq("x", "x", "y")), (1L, Seq[String]("z")),
      (2L, Seq[String]()))
      .toDF("id", "arr")
    val got = edge.select(col("id"),
        explode(GraftColumnBridge.column(graft.functions.OrderedPairs(
          GraftColumnBridge.expression(col("arr"))))).as("p"))
      .select(col("id"), col("p.a"), col("p.b"))
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq((0L, "x", "y")))
  }

  // ——— centroidDrift ———

  test("centroidDrift: closed-form two-group fixture") {
    val df = Seq(
      ("g1", Seq(1f, 0f)), ("g1", Seq(1f, 0f)), ("g2", Seq(0f, 1f)))
      .toDF("src", "embedding")
    val got = Similarity.centroidDrift(df, "embedding", "src")
      .orderBy("src")
      .as[(String, Long, Double)].collect().toSeq
    // global mean = (2/3, 1/3); |g| = sqrt(5)/3
    // g1 mean (1,0): cos = (2/3)/(sqrt(5)/3) = 2/sqrt(5)
    // g2 mean (0,1): cos = (1/3)/(sqrt(5)/3) = 1/sqrt(5)
    val c1 = BigDecimal(2 / math.sqrt(5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val c2 = BigDecimal(1 / math.sqrt(5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("g1", 2L, c1), ("g2", 1L, c2)))
  }

  test("centroidDrift: zero-mean group yields null cosine, not NaN") {
    val df = Seq(
      ("z", Seq(1f, 0f)), ("z", Seq(-1f, 0f)), ("p", Seq(1f, 1f)))
      .toDF("src", "embedding")
    val rows = Similarity.centroidDrift(df, "embedding", "src")
      .orderBy("src").collect()
    val z = rows.find(_.getString(0) == "z").get
    assert(z.isNullAt(2))
    val p = rows.find(_.getString(0) == "p").get
    assert(!p.isNullAt(2) && !p.getDouble(2).isNaN)
  }

  test("centroidDrift incremental: merged day states == direct on the union") {
    val day1 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") % 2 === 0)
    val day2 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1)
    val base = new java.io.File("target/audit-spec/centroid-state")
    base.mkdirs()
    val p1 = s"${base.getAbsolutePath}/day1"
    val p2 = s"${base.getAbsolutePath}/day2"
    Similarity.writeCentroidState(day1, "embedding", "label", p1)
    Similarity.writeCentroidState(day2, "embedding", "label", p2)
    val merged = Similarity.centroidDriftFromStates(spark, Seq(p1, p2), "label")
      .orderBy("label").as[(Int, Long, Double)].collect().toSeq
    val direct = Similarity.centroidDrift(
        day1.unionByName(day2), "embedding", "label")
      .orderBy("label").as[(Int, Long, Double)].collect().toSeq
    assert(merged == direct)
    assert(merged.nonEmpty)
    // single-state path == direct on that slice
    val one = Similarity.centroidDriftFromStates(spark, Seq(p1), "label")
      .orderBy("label").as[(Int, Long, Double)].collect().toSeq
    val oneDirect = Similarity.centroidDrift(day1, "embedding", "label")
      .orderBy("label").as[(Int, Long, Double)].collect().toSeq
    assert(one == oneDirect)
  }

  test("centroidDrift: a group equal to the whole corpus has drift 1") {
    val df = Seq(("only", Seq(3f, 4f)), ("only", Seq(3f, 4f)))
      .toDF("src", "embedding")
    val got = Similarity.centroidDrift(df, "embedding", "src")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("only", 2L, 1.0)))
  }
}
