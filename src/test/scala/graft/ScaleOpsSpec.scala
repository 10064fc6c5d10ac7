package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.ops.{Skew, TimeSeriesOps}

/** Scale-path variants must agree exactly with their reference forms. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("slidingWindows: entities shorter than L emit nothing") {
    val df = Seq(("a", 0L, 1.0), ("a", 1L, 2.0)).toDF("id", "pos", "v")
    assert(TimeSeriesOps.slidingWindows(df, "id", "pos", Seq("v"), 3).count() == 0)
  }

  test("globalPosition equals the single-partition row_number numbering") {
    val rnd = new scala.util.Random(29)
    val df = (0 until 5).flatMap(e => (0 until 3 + rnd.nextInt(9)).map(t =>
      (s"e$e", t.toLong))).toDF("id", "pos")
    val viaWindow = df.withColumn("g",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("id"), col("pos"))) - 1)
      .orderBy("id", "pos").select("g").as[Long].collect().toSeq
    val viaOffsets = TimeSeriesOps.globalPosition(df, "id", "pos")
      .orderBy("id", "pos").select("global_pos").as[Long].collect().toSeq
    assert(viaOffsets == viaWindow)
  }

  test("globalPosition at 1e5 entities: distributed prefix sum, no entity-sized local scan") {
    val n = 100000
    val df = spark.range(n.toLong * 2)
      .select((col("id") / 2).cast("long").as("id"), (col("id") % 2).as("pos"))
    val out = TimeSeriesOps.globalPosition(df, "id", "pos")
    // the numbering is exactly id*2 + pos for this dense fixture
    val bad = out.filter(col("global_pos") =!= col("id") * 2 + col("pos")).count()
    assert(bad == 0)
    assert(out.count() == n.toLong * 2)
    // no driver materialization of the entity dimension: every local scan
    // in the plan is bounded by the partition count, not the entity count
    import org.apache.spark.sql.execution.LocalTableScanExec
    val localScans = out.queryExecution.executedPlan.collect {
      case l: LocalTableScanExec => l.rows.size
    }
    assert(localScans.forall(_ <= 64),
      s"entity-sized LocalTableScan in plan: $localScans")
  }

  test("saltedSum / saltedCount match the direct aggregation") {
    val rnd = new scala.util.Random(13)
    // one hot key (80% of rows) + long tail
    val df = (0 until 2000).map(i =>
      (if (i % 5 != 0) "hot" else s"k${i % 17}", rnd.nextInt(100).toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n"))
      .orderBy("k").as[(String, Double, Long)].collect().toSeq
    val sums = Skew.saltedSum(df, Seq("k"), Seq("v"))
    val counts = Skew.saltedCount(df, Seq("k"))
    val salted = sums.join(counts, "k")
      .orderBy("k").as[(String, Double, Long)].collect().toSeq
    assert(salted == direct)
  }

  test("saltedJoinSides join result == plain join result") {
    val big = (0 until 500).map(i => (if (i % 2 == 0) 1L else i.toLong, i))
      .toDF("k", "payload")
    val small = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "name")
    val plain = big.join(small, "k").count()
    val (sb, ss, cols) = Skew.saltedJoinSides(big, small, Seq("k"))
    assert(sb.join(ss, cols).count() == plain)
  }

  test("ivfTopK finds the exact duplicate within its probed cells") {
    val rnd = new scala.util.Random(17)
    // 4 well-separated cluster centers + noise
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 10))
    val vecs = (0L until 120L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val df = (vecs :+ (999L, vecs.head._2)).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(
      df.filter(col("vec_id") === 999), df, "vec_id", "embedding",
      k = 1, numCells = 8, numProbes = 3)
      .select("neighbor_id").as[Long].collect()
    assert(got.headOption.contains(0L)) // identical vector shares its cell
  }

  test("writeCentroids -> ivfTopKFromCentroids == ivfTopK (round-trip identity)") {
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(4)(Array.fill(12)(rnd.nextGaussian() * 10))
    val vecs = (0L until 100L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 8)
    // deterministic seeds so the retrain inside ivfTopK reproduces the
    // exact centroid matrix writeCentroids persisted
    val seeds = Some(Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val dir = java.nio.file.Files.createTempDirectory("centroids").toString
    Similarity.writeCentroids(df, "vec_id", "embedding", dir,
      numCells = 6, lloydIters = 2, seedIds = seeds)
    // floats round-trip parquet exactly: loaded matrix == trained matrix
    val fromIdx = Similarity.ivfTopKFromCentroids(
        queries, df, "vec_id", "embedding", k = 3, dir, numProbes = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val inline = Similarity.ivfTopK(
        queries, df, "vec_id", "embedding", k = 3,
        numCells = 6, numProbes = 2, lloydIters = 2, seedIds = seeds)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(fromIdx == inline)
    assert(fromIdx.nonEmpty)
    // loadCentroids validates contiguity and shape
    val cents = Similarity.loadCentroids(spark, dir)
    assert(cents.length == 6 && cents.forall(_.length == 12))
  }

  test("domainStats salted cascade == plain plan on skewed and uniform fixtures") {
    import graft.ext.UrlOps
    val rnd = new scala.util.Random(41)
    // skewed: 60% of docs on one mega-domain (two hosts), rest uniform
    val rows = (0 until 3000).map { i =>
      val (host, words) =
        if (i % 5 < 3) (if (i % 2 == 0) "www.mega.com" else "cdn.mega.com",
          "alpha beta gamma")
        else (s"site${rnd.nextInt(50)}.com", "delta epsilon")
      (i.toLong, s"https://$host/p$i", words)
    }
    val df = rows.toDF("doc_id", "url", "text")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("domain").as[(String, Long, Long, Long)].collect().toSeq
    val plain = canon(UrlOps.domainStats(df, "url", "text"))
    val salted = canon(UrlOps.domainStats(df, "url", "text", saltBuckets = 8))
    assert(plain == salted)
    assert(plain.exists(r => r._1 == "mega.com" && r._2 == 1800 && r._3 == 2))
    // auto guard: the mega-domain crosses the default 20% share -> the
    // salted cascade engages (its plan carries the __salt key); a uniform
    // corpus stays on the plain single-exchange plan
    val auto = UrlOps.domainStatsAuto(df, "url", "text", sampleMod = 1)
    assert(auto.queryExecution.analyzed.toString.contains("__salt"))
    assert(canon(auto) == plain)
    val uniform = (0 until 3000).map(i =>
      (i.toLong, s"https://site${i % 400}.com/p$i", "zeta eta")).toDF(
      "doc_id", "url", "text")
    val autoU = UrlOps.domainStatsAuto(uniform, "url", "text", sampleMod = 1)
    assert(!autoU.queryExecution.analyzed.toString.contains("__salt"))
  }

  test("assignCells refuses an input that already has a 'cell' column") {
    val df = Seq((1L, Seq(1f, 2f), 0)).toDF("id", "v", "cell")
    val e = intercept[IllegalArgumentException](
      Similarity.assignCells(df, "id", "v", numCells = 1))
    assert(e.getMessage.contains("cell"))
  }

  test("NearestCentroids kernel == composed array_min/array_sort argmin, bit-for-bit") {
    import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression}
    val rnd = new scala.util.Random(23)
    val centroids = IndexedSeq.fill(7)(IndexedSeq.fill(12)(rnd.nextGaussian().toFloat))
    val df = (0L until 300L)
      .map(i => (i, Seq.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v")
    // the composed reference form the kernel replaced (Similarity.ivfTopK
    // pre-kernel): struct(dist, cell) argmin / sorted-prefix
    def composedDists = centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x.toDouble * x.toDouble).sum
      struct(
        (lit(c2) - lit(2.0) * exprCol(graft.functions.FloatVecDot(
          expression(col("v")), expression(typedLit(c))))).as("dist"),
        lit(i).as("cell"))
    }
    val composed = df.select(
      col("id"),
      array_min(array(composedDists: _*))("cell").as("c1"),
      slice(array_sort(array(composedDists: _*)), 1, 3)("cell").as("c3"))
    val kernel = df.select(
      col("id"),
      element_at(exprCol(graft.functions.NearestCentroids(
        expression(col("v")), centroids, 1)), 1).as("c1"),
      exprCol(graft.functions.NearestCentroids(
        expression(col("v")), centroids, 3)).as("c3"))
    val a = composed.orderBy("id").as[(Long, Int, Seq[Int])].collect().toSeq
    val b = kernel.orderBy("id").as[(Long, Int, Seq[Int])].collect().toSeq
    assert(a == b)
    // dimension mismatch -> NULL, not garbage
    val bad = Seq((0L, Seq(1.0f, 2.0f))).toDF("id", "v")
      .select(exprCol(graft.functions.NearestCentroids(
        expression(col("v")), centroids, 1)).as("c"))
    assert(bad.head().isNullAt(0))
  }

  test("LongArrayMatchCount kernel == zip_with/filter/size HOF form") {
    import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression}
    val rnd = new scala.util.Random(31)
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(32)(rnd.nextInt(4).toLong)
      val b = Seq.fill(32)(rnd.nextInt(4).toLong)
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val hof = df.select(
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), m => m)).as("c"))
      .as[Int].collect().toSeq
    val kernel = df.select(
      exprCol(graft.functions.LongArrayMatchCount(
        expression(col("a")), expression(col("b")))).as("c"))
      .as[Int].collect().toSeq
    assert(hof == kernel)
    // length mismatch -> NULL
    val bad = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .select(exprCol(graft.functions.LongArrayMatchCount(
        expression(col("a")), expression(col("b")))).as("c"))
    assert(bad.head().isNullAt(0))
  }

  test("VectorizeDotProducts rewrites the HOF dot idiom to FloatVecDot") {
    import graft.functions.VectorizeDotProducts
    val rnd = new scala.util.Random(23)
    val df = (0L until 20L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val hofDot = aggregate(
      zip_with(col("a.embedding"), col("b.embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
    val q = pairs.select(hofDot.as("d"))
    val expected = q.agg(sum("d")).head().getDouble(0)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ VectorizeDotProducts
    try {
      val q2 = pairs.select(hofDot.as("d"))
      val plan = q2.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("floatvecdot"),
        s"rule should fire on the HOF idiom:\n$plan")
      assert(q2.agg(sum("d")).head().getDouble(0) == expected) // bit-identical
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == VectorizeDotProducts)
  }

  test("fvec_dot matches HOF null semantics: unequal lengths and null elements -> NULL") {
    Similarity.enableNative(spark)
    val df = Seq(
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f))),               // unequal
      (Seq(Some(1.0f), None), Seq(Some(2.0f), Some(3.0f))),         // null elem
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(4.0f))))   // clean
      .toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      call_function("fvec_dot", col("a"), col("b")).as("native"), hof.as("h"))
      .collect()
    rows.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1)) }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
    assert(rows(2).getDouble(0) == rows(2).getDouble(1))
  }

  test("native fvec_dot / fvec_norm match the HOF forms bit-for-bit") {
    val rnd = new scala.util.Random(21)
    val df = (0L until 50L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // HOF form (native disabled state is global; compute both explicitly)
    val hofDot = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    Similarity.enableNative(spark)
    val pairs = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.embedding").as("a"), col("y.embedding").as("b"))
    val diff = pairs
      .select((call_function("fvec_dot", col("a"), col("b")) - hofDot).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0)
    val normDiff = df.select((call_function("fvec_norm", col("embedding"))
      - sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(normDiff == 0.0)
  }

  test("native kernels reject mistyped array inputs at analysis time") {
    // double arrays would silently read garbage float slots — must fail
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Similarity.dot(col("a"), col("b"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Similarity.l2Norm(col("a"))).collect()
    }
  }

  test("native MinHashSigs kernel == HOF transform/array_min reference") {
    import graft.ext.Dedup
    val rnd = new scala.util.Random(7)
    val texts = (0L until 40L).map(i =>
      (i, Seq.fill(5 + rnd.nextInt(40))(s"w${rnd.nextInt(30)}").mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    val p = Dedup.MinHashP
    // reference form: the original interpreted pipeline, coefficients from
    // the same seeded stream as the production path
    val cRnd = new scala.util.Random(42L)
    val coeffs = Seq.fill(32)(
      (math.abs(cRnd.nextLong()) % (p - 1) + 1, math.abs(cRnd.nextLong()) % p))
    val hs = transform(Dedup.wordNgrams(col("text"), 3),
      s => pmod(xxhash64(s), lit(p)))
    val refCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      coalesce(
        array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(p)))),
        lit(p)).as(s"ref_$i")
    }
    val ref = df.select(col("doc_id") +: refCols: _*)
    val got = Dedup.minHashSignatures(df, "doc_id", "text")
    val joined = got.join(ref, "doc_id")
    val mismatches = joined.filter(
      (0 until 32).map(i => col(s"minhash_$i") =!= col(s"ref_$i")).reduce(_ || _))
    assert(mismatches.count() == 0)
  }

  test("native SimHashBits kernel == explode/conditional-sum reference") {
    import graft.ext.Dedup
    val rnd = new scala.util.Random(11)
    val texts = (0L until 40L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(60))(s"tok${rnd.nextInt(50)}").mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    // reference: the original aggregate form
    val toks = df.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"__b$i"))
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val refSig = (0 until 64)
      .map(i => when(col(s"__b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val ref = agg.select(col("doc_id"), refSig.as("ref_sig"))
    val got = Dedup.simHash(df, "doc_id", "text")
    val bad = got.join(ref, "doc_id").filter(col("simhash") =!= col("ref_sig"))
    assert(bad.count() == 0)
    assert(got.count() == 40)
  }
}
