package graft

/** Plan-shape census over every registered query: prints one line per
  * query with the physical-plan node classes that the round's plan
  * contracts care about (Window, join strategies, exchange count) —
  * the quick audit the optimization rounds run after touching a shared
  * operator to see every affected query at once, instead of
  * re-discovering them one failing contract at a time. Plans are those
  * of the [[Harness.session]] posture.
  *
  * Usage: `scripts/run_main.sh graft.PlanScan [sfDir]`. Exits 2, after
  * printing every line, when any query failed to plan.
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        val nEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
        println(s"SCAN $name window=${p.contains("Window")}" +
          s" shj=${p.contains("ShuffledHashJoin")}" +
          s" bhj=${p.contains("BroadcastHashJoin")}" +
          s" smj=${p.contains("SortMergeJoin")}" +
          s" hashEx=$nEx")
      } catch { case e: Throwable =>
        failed += name
        println(s"SCAN $name ERROR ${Option(e.getMessage).getOrElse("").take(100)}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[planscan] ${failed.size} query failure(s): " +
        failed.mkString(", "))
      sys.exit(2)
    }
  }
}
