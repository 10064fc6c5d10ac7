package graft

/** Plan inspection helper: `runMain graft.Explain <query> [sfDir] [mode]`
  * prints the formatted physical plan and the timed execution of one
  * SparkEntry query in the [[Harness.session]] posture. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Harness.session()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain(mode)
    // warmup + timed, mirroring Bench
    df.count()
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s  ($n rows)")
    }
    spark.stop()
  }
}
