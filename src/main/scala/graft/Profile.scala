package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Stage-waterfall profiler for single queries — the measurement arm of
  * the perf protocol (name the barrier BEFORE touching the code).
  *
  * Mirrors Bench's warm posture exactly (the [[Harness.session]]
  * posture, once-planned `groupBy().count()` plan, clone-and-execute),
  * runs one untimed warmup then one instrumented execution, and prints
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
  private final class Waterfall extends SparkListener {
    final case class StageRow(
        id: Int, name: String, tasks: Int,
        var submitMs: Long = -1, var doneMs: Long = -1,
        var runTimeMs: Long = 0, var inBytes: Long = 0,
        var shufReadBytes: Long = 0, var shufWriteBytes: Long = 0,
        var gcMs: Long = 0, var deserMs: Long = 0)
    val jobStart = mutable.LinkedHashMap[Int, Long]()
    val jobEnd = mutable.HashMap[Int, Long]()
    val jobStages = mutable.HashMap[Int, Seq[Int]]()
    val stages = mutable.HashMap[Int, StageRow]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart(e.jobId) = e.time
      jobStages(e.jobId) = e.stageInfos.map(_.stageId)
      e.stageInfos.foreach(si =>
        stages.getOrElseUpdate(si.stageId,
          StageRow(si.stageId, si.name, si.numTasks)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd(e.jobId) = e.time
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val row = stages.getOrElseUpdate(si.stageId,
        StageRow(si.stageId, si.name, si.numTasks))
      row.submitMs = si.submissionTime.getOrElse(-1L)
      row.doneMs = si.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { row =>
        row.runTimeMs += m.executorRunTime
        row.gcMs += m.jvmGCTime
        row.deserMs += m.executorDeserializeTime
        row.inBytes += m.inputMetrics.bytesRead
        row.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
        row.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

    def report(wallSec: Double): String = {
      val sb = new StringBuilder
      val t0 = if (jobStart.isEmpty) 0L else jobStart.values.min
      sb.append(f"  wall=${wallSec}%.3fs  jobs=${jobStart.size}\n")
      jobStart.foreach { case (jid, js) =>
        val je = jobEnd.getOrElse(jid, js)
        sb.append(f"  job $jid%3d  [+${(js - t0) / 1e3}%6.3f .. +${(je - t0) / 1e3}%6.3f]  ${(je - js) / 1e3}%6.3fs\n")
        jobStages.getOrElse(jid, Nil).sorted.foreach { sid =>
          stages.get(sid).filter(_.submitMs >= 0).foreach { s =>
            sb.append(f"      stage $sid%3d [+${(s.submitMs - t0) / 1e3}%6.3f] ${s.doneMs - s.submitMs}%5dms " +
              f"tasks=${s.tasks}%3d run=${s.runTimeMs}%5dms gc=${s.gcMs}%4dms deser=${s.deserMs}%4dms " +
              f"in=${s.inBytes / 1024}%6dK sr=${s.shufReadBytes / 1024}%5dK " +
              f"sw=${s.shufWriteBytes / 1024}%5dK  ${s.name.takeWhile(_ != '\n')}%s\n")
          }
        }
      }
      sb.toString
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val drain = () =>
        org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark)
      // the first build decides whether the registry memoizes the query
      val first = fn(spark, sfDir)
      if (!SparkEntry.memoized(spark, name, sfDir)) {
        // unmemoized queries re-pay construction per rep in Bench too
        first.count() // warmup
        drain() // fence: queued warmup events must not reach the listener
        val w = new Waterfall
        spark.sparkContext.addSparkListener(w)
        val t0 = System.nanoTime()
        val frame = fn(spark, sfDir)
        val tc = System.nanoTime()
        frame.count()
        val wall = (System.nanoTime() - t0) / 1e9
        drain() // fence: tail events must land before detach
        spark.sparkContext.removeSparkListener(w)
        println(f"== $name (unmemoized, construct=${(tc - t0) / 1e9}%.3fs)\n" +
          w.report(wall))
      } else {
        val planned = first.groupBy().count().queryExecution.executedPlan
        planned.clone().execute().count() // warmup
        drain()
        val w = new Waterfall
        spark.sparkContext.addSparkListener(w)
        val t0 = System.nanoTime()
        planned.clone().execute().count()
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        spark.sparkContext.removeSparkListener(w)
        println(s"== $name\n" + w.report(wall))
      }
    }
    spark.stop()
  }
}
