package graft

import graft.internal.{Run, RunRecorder}

/** Stage-waterfall profiler for single queries — the measurement arm of
  * the perf protocol (name the barrier BEFORE touching the code).
  *
  * Mirrors Bench's warm posture exactly (the [[Harness.session]]
  * posture, once-planned `groupBy().count()` plan, clone-and-execute; a
  * query the registry does not memoize is rebuilt, as Bench's reps do),
  * runs one untimed warmup then one recorded execution, and prints
  * per-job / per-stage wall times, task counts, and shuffle/input byte
  * counters.
  * Jobs are printed in submission order with their wall offsets so
  * sequential barriers (job N+1 starts only after job N ends) are
  * visible as non-overlapping spans.
  *
  * Usage: `scripts/run_main.sh graft.Profile <query> [query...]`
  * (env: SPARK_GRAFT_SF_DIR plus the [[Harness]] posture's).
  */
object Profile {
  def report(run: Run, wallSec: Double): String = {
    val sb = new StringBuilder
    val t0 = if (run.jobs.isEmpty) 0L else run.jobs.map(_.startMs).min
    sb.append(f"  wall=${wallSec}%.3fs  jobs=${run.jobs.size}\n")
    run.jobs.foreach { j =>
      val je = if (j.endMs < 0) j.startMs else j.endMs
      sb.append(f"  job ${j.id}%3d  [+${(j.startMs - t0) / 1e3}%6.3f .. +${(je - t0) / 1e3}%6.3f]  ${(je - j.startMs) / 1e3}%6.3fs\n")
      j.stageIds.sorted.foreach { sid =>
        run.stages.get(sid).filter(_.submitMs >= 0).foreach { s =>
          sb.append(f"      stage $sid%3d [+${(s.submitMs - t0) / 1e3}%6.3f] ${s.doneMs - s.submitMs}%5dms " +
            f"tasks=${s.tasks}%3d run=${s.runMs}%5dms gc=${s.gcMs}%4dms deser=${s.deserMs}%4dms " +
            f"in=${s.inBytes / 1024}%6dK sr=${s.shuffleReadBytes / 1024}%5dK " +
            f"sw=${s.shuffleWriteBytes / 1024}%5dK  ${s.name.takeWhile(_ != '\n')}%s\n")
        }
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // the first build decides whether the registry memoizes the query
      val first = fn(spark, sfDir)
      val planned = if (SparkEntry.memoized(spark, name, sfDir))
        Some(first.groupBy().count().queryExecution.executedPlan)
      else None
      planned.fold(first.count())(_.clone().execute().count()) // warmup
      // unmemoized queries re-pay construction per rep in Bench too
      val ((construct, wall), run) = RunRecorder.record(spark) {
        val t0 = System.nanoTime()
        val construct = planned match {
          case Some(p) => p.clone().execute().count(); None
          case None =>
            val frame = fn(spark, sfDir)
            val tc = System.nanoTime()
            frame.count()
            Some((tc - t0) / 1e9)
        }
        (construct, (System.nanoTime() - t0) / 1e9)
      }
      val label = construct.fold(name)(c => f"$name (unmemoized, construct=$c%.3fs)")
      println(s"== $label\n" + report(run, wall))
    }
    spark.stop()
  }
}
