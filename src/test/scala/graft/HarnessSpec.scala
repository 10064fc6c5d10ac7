package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' one query filter (`SPARK_GRAFT_ONLY`). */
class HarnessSpec extends AnyFunSuite {

  test("@frozen_r15 expands to the frozen round-15 set of oracle-checked queries") {
    val frozen = Bench.frozenR15.intersect(SparkEntry.oracleSql.keySet)
    assert(frozen.nonEmpty)
    assert(Harness.selected(Some("@frozen_r15")) == frozen)
    val extra = (SparkEntry.queries.keySet -- frozen).min
    assert(Harness.selected(Some(s"@frozen_r15,$extra")) == frozen + extra)
  }

  test("blank entries are ignored; no names at all selects every query") {
    assert(Harness.selected(Some(" q1_agg, ,,u1_union,")) == Set("q1_agg", "u1_union"))
    assert(Harness.selected(Some(" , ")) == SparkEntry.queries.keySet)
    assert(Harness.selected(None) == SparkEntry.queries.keySet)
  }

  test("an unknown query name raises before anything runs") {
    val e = intercept[IllegalArgumentException](
      Harness.selected(Some("q1_agg,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
