package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{TimeSeriesOps => Ts}

/** `entityCounts`' driver order and `positionalTail` against
  * `row_number() over (order by id, pos) − 1`, on the id types and shapes
  * where a driver-side order could drift from Spark's. */
class PositionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (id, pos, global position) by Spark's own single-partition window. */
  private def oracle(df: DataFrame): Set[(Any, Long, Long)] =
    df.withColumn("__g", (row_number().over(Window.orderBy(col("id"), col("pos"))) - 1).cast("long"))
      .select("id", "pos", "__g").collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet

  /** Offsets summed on the driver over `entityCounts`' order, plus `pos`,
    * are the oracle's positions; every tail of them is `positionalTail`'s. */
  private def assertDriverPath(df: DataFrame): Seq[(Any, Long)] = {
    val counts = Ts.entityCounts(df, "id")
    assert(counts.isDefined, "small input left the driver path")
    val perEntity = counts.get.map(r => r.get(0) -> r.getLong(1))
    val offset = perEntity.map(_._1).zip(perEntity.scanLeft(0L)(_ + _._2)).toMap
    val want = oracle(df)
    assert(perEntity.map(_._2).sum == want.size)
    assert(want.map { case (i, p, _) => (i, p, offset(i) + p) } == want)
    (0L to want.size + 1).foreach { from =>
      val tail = Ts.positionalTail(df, "id", "pos", perEntity, from)
        .select("id", "pos").collect().map(r => (r.get(0), r.getLong(1))).toSet
      assert(tail == want.collect { case (i, p, g) if g >= from => (i, p) }, s"tail from $from")
    }
    perEntity
  }

  private def dense(ids: Seq[(Any, Int)]): Seq[(Any, Long)] =
    ids.flatMap { case (id, k) => (0 until k).map(p => (id, p.toLong)) }

  test("driver offsets == row_number oracle: negative longs") {
    val rows = dense(Seq(-7L -> 3, Long.MinValue -> 2, 0L -> 1, -1L -> 4, 12L -> 2,
      Long.MaxValue -> 1)).map { case (i, p) => (i.asInstanceOf[Long], p) }
    assertDriverPath(rows.toDF("id", "pos"))
  }

  test("driver offsets == row_number oracle: strings order by UTF-8 bytes, not UTF-16") {
    // U+1F600 is a surrogate pair (D83D DE00) in UTF-16, below U+FFFD
    // there, but F0 9F 98 80 above EF BF BD in UTF-8
    val smile = "\uD83D\uDE00"
    assert(smile.compareTo("\uFFFD") < 0)
    val rows = dense(Seq(smile -> 2, "\uFFFD" -> 3, "a" -> 1, "" -> 2, "Z" -> 1,
      "a\uFFFD" -> 2, s"a$smile" -> 1)).map { case (i, p) => (i.asInstanceOf[String], p) }
    val order = assertDriverPath(rows.toDF("id", "pos")).map(_._1)
    assert(order.indexOf("\uFFFD") < order.indexOf(smile))
  }

  test("driver offsets == row_number oracle: a null id sorts first") {
    val rows = Seq[(Option[String], Long)]((None, 0L), (None, 1L), (Some("b"), 0L),
      (Some("a"), 0L), (Some("a"), 1L), (Some("a"), 2L))
    assertDriverPath(rows.toDF("id", "pos"))
    val ints = Seq[(Option[Int], Long)]((Some(3), 0L), (None, 0L), (Some(-2), 0L), (Some(-2), 1L))
    assertDriverPath(ints.toDF("id", "pos"))
  }

  test("driver offsets on an empty input: no entities, an empty tail") {
    val df = Seq.empty[(String, Long)].toDF("id", "pos")
    assert(Ts.entityCounts(df, "id").contains(Nil))
    assert(Ts.positionalTail(df, "id", "pos", Nil, 0L).count() == 0)
  }

  test("slidingWindows emits max(0, rows − L + 1) windows per entity; an " +
      "entity shorter than the window has no position") {
    val L = 4
    val sizes = Seq("a" -> 6, "b" -> 2, "c" -> 4, "d" -> 0, "e" -> 9)
    val rnd = new scala.util.Random(7)
    val rows = sizes.flatMap { case (e, k) => (0 until k).map(t =>
      (Option(e).filter(_ != "e"), rnd.nextInt(3).toLong, // ties on the order column
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextDouble()))) }
    val df = rows.toDF("id", "ts", "v")
    val win = Ts.slidingWindows(df, "id", "ts", Seq("v"), L)
    val got = win.groupBy("id").count().collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = df.groupBy("id").count().collect()
      .map(r => Option(r.getString(0)) -> math.max(0L, r.getLong(1) - L + 1)).toMap
    assert(got == want.filter(_._2 > 0))
    // the windowed frame's positions are dense per entity: the driver path holds
    val positioned = win.select(col("id"), col("__pos").cast("long").as("pos"))
    assertDriverPath(positioned)
    // and the raw per-entity counts alone, shorter entities included, give
    // every tail of the windows (what the TSTR split relies on)
    val fromRaw = Ts.entityCounts(df, "id").get
      .map(r => r.get(0) -> math.max(0L, r.getLong(1) - L + 1))
    val want2 = oracle(positioned)
    (0L to want2.size).foreach { from =>
      val tail = Ts.positionalTail(positioned, "id", "pos", fromRaw, from)
        .collect().map(r => (r.get(0), r.getLong(1))).toSet
      assert(tail == want2.collect { case (i, p, g) if g >= from => (i, p) }, s"tail from $from")
    }
  }
}
