package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.internal.RunRecorder

/** Bench's warm reps run copies of one executed plan; each must run the
  * jobs of that plan's own execution. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("freshCopy: every warm rep runs the jobs the plan itself runs " +
      "(a reused scalar subquery, a reused broadcast)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(2000).select((col("id") % 7).as("k"), col("id").as("v"))
      val small = df.filter(col("k") === 3).select(col("v").as("w"))
      val mean = df.agg(avg(col("v")))
      val q = df.filter(col("v") > mean.scalar() / 2 && col("v") < mean.scalar() * 2)
        .join(broadcast(small), col("v") === col("w"), "left_semi")
        .union(df.join(broadcast(small), col("v") === col("w"), "left_anti"))
      val p = q.groupBy().count().queryExecution.executedPlan
      def shape(run: => Long): (Int, Int) = {
        val (_, r) = RunRecorder.record(spark)(run)
        (r.jobs.size, r.stageCount)
      }
      // `p.clone()` would share the executed subquery and the reused
      // exchange with `p`, and so skip the jobs `p` already ran
      val own = shape(p.execute().count())
      (1 to 3).foreach(i => assert(shape(Bench.freshCopy(p).execute().count()) == own, s"rep $i"))
      assert(Bench.freshCopy(p).execute().collect().head.getLong(0) ==
        q.count())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
