package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IntervalJoin

/** [[graft.ops.IntervalJoin.overlapJoin]] — randomized differential vs the
  * naive inequality join across granule widths, half-open edge semantics,
  * null/empty intervals, keyless mode, and the no-nested-loop plan pin.
  */
class IntervalJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def naive(
      rows: Seq[(Long, String, Long, Long)]): Set[(Long, Long)] = {
    val valid = rows.filter(t => t._4 > t._3)
    (for {
      a <- valid; b <- valid
      if a._2 == b._2 && a._3 < b._4 && b._3 < a._4
    } yield (a._1, b._1)).toSet
  }

  test("overlapJoin == naive inequality join (randomized, all widths)") {
    val r = new scala.util.Random(0x17e2a1)
    for (trial <- 0 until 8) {
      val rows = (0L until 80L).map { i =>
        val s = r.nextInt(200).toLong
        (i, s"k${r.nextInt(5)}", s, s + r.nextInt(25) - 2) // some empty/inverted
      }
      val df = rows.toDF("id", "k", "s", "e")
      for (w <- Seq(1L, 3L, 7L, 64L, 1000L)) {
        val got = IntervalJoin.overlapJoin(
            df, df, Seq("k"), "s", "e", "s", "e", granuleWidth = w)
          .select(col("id"), col("r_id"))
          .as[(Long, Long)].collect().toSet
        assert(got == naive(rows), s"trial $trial width $w")
      }
      // salting is pair-set-invariant at ANY aggressive setting: a tiny
      // hotThreshold makes nearly every bucket salt on random data —
      // and emits each pair EXACTLY once (a right row lives in one
      // salt slice; left replicas cover disjoint slices)
      val salted = IntervalJoin.overlapJoin(
          df, df, Seq("k"), "s", "e", "s", "e", granuleWidth = 7,
          saltHotBuckets = 5, hotThreshold = 2)
        .select(col("id"), col("r_id"))
        .as[(Long, Long)].collect().toSeq
      assert(salted.size == salted.distinct.size,
        s"trial $trial: salting duplicated a pair")
      assert(salted.toSet == naive(rows), s"trial $trial salted")
    }
  }

  test("half-open semantics: touching intervals do not overlap; " +
      "containment and identity do") {
    val df = Seq(
      (1L, "k", 0L, 10L), (2L, "k", 10L, 20L), // touching
      (3L, "k", 2L, 5L),                       // contained in 1
      (4L, "k", 0L, 10L)                       // identical to 1
    ).toDF("id", "k", "s", "e")
    val got = IntervalJoin.overlapJoin(
        df, df, Seq("k"), "s", "e", "s", "e", granuleWidth = 4)
      .select(col("id"), col("r_id")).as[(Long, Long)].collect().toSet
      .filter(p => p._1 < p._2)
    assert(got == Set((1L, 3L), (1L, 4L), (3L, 4L)))
  }

  test("null endpoints and empty intervals never match; keyless mode works") {
    val df = Seq(
      (1L, Some(0L), Some(5L)), (2L, Some(3L), Some(8L)),
      (3L, None, Some(9L)), (4L, Some(1L), None), (5L, Some(6L), Some(6L))
    ).toDF("id", "s", "e")
    val got = IntervalJoin.overlapJoin(
        df, df, Nil, "s", "e", "s", "e", granuleWidth = 3)
      .select(col("id"), col("r_id")).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 2L), (1L, 2L), (2L, 1L)))
  }

  test("hot-bucket salting: identical pairs to the unsalted join on a " +
      "pathological all-one-granule fixture; cold path untouched") {
    // 400 right intervals ALL inside granule 0 (one hot bucket) + a cold
    // key; left has coverers of the hot granule and cold rows
    val right = ((0 until 400).map(i =>
        ("hot", 1000L + i, (i % 5).toLong, (i % 5 + 3).toLong)) ++
      Seq(("cold", 2000L, 50L, 55L)))
      .toDF("k", "rid", "s", "e")
    val left = Seq(("hot", 1L, 0L, 9L), ("hot", 2L, 100L, 110L),
      ("cold", 3L, 52L, 60L)).toDF("k", "lid", "s", "e")
    def run(salt: Int) = IntervalJoin.overlapJoin(
        left, right, Seq("k"), "s", "e", "s", "e", granuleWidth = 10,
        saltHotBuckets = salt, hotThreshold = 100)
      .select(col("lid"), col("r_rid")).as[(Long, Long)]
      .collect().sorted.toSeq
    val unsalted = run(1)
    val salted = run(8)
    assert(salted == unsalted)
    assert(unsalted.count(_._1 == 1L) == 400) // every hot right row, once
    assert(unsalted.contains((3L, 2000L)))    // cold path intact
    // the salted plan still equi-joins (no nested loop), now on the
    // salt-extended key
    val p = IntervalJoin.overlapJoin(left, right, Seq("k"), "s", "e",
        "s", "e", 10, saltHotBuckets = 8, hotThreshold = 100)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
    assert(p.contains("__salt"), s"salted join key missing from plan:\n$p")
  }

  test("prefixed right columns must not shadow left columns (advice r14)") {
    // left already holds "r_s" — the prefixed right "s" would collide
    val left = Seq((1L, 0L, 5L, 99L)).toDF("lid", "s", "e", "r_s")
    val right = Seq((2L, 1L, 4L)).toDF("rid", "s", "e")
    val ex = intercept[IllegalArgumentException](IntervalJoin.overlapJoin(
      left, right, Nil, "s", "e", "s", "e", granuleWidth = 4))
    assert(ex.getMessage.contains("r_s"))
  }

  test("plan: equi-join on (keys, granule), no nested loop / cartesian") {
    val df = (0L until 50L).map(i => (i, s"k${i % 3}", i % 40, i % 40 + 5))
      .toDF("id", "k", "s", "e")
    val q = IntervalJoin.overlapJoin(
      df, df, Seq("k"), "s", "e", "s", "e", granuleWidth = 8)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"interval pair join is not shuffle-hash:\n$plan")
  }
}
