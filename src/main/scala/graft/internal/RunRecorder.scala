package graft.internal

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.slf4j.LoggerFactory

/** One stage's counters, summed over its finished tasks. Times are epoch
  * ms, -1 when the stage never ran in the recorded block (a skipped one). */
final case class StageRun(
    id: Int, name: String, tasks: Int, submitMs: Long = -1L, doneMs: Long = -1L,
    runMs: Long = 0L, gcMs: Long = 0L, deserMs: Long = 0L, inBytes: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L)

final case class JobRun(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** What one recorded block ran: the SQL executions it started, its jobs in
  * submission order (each with the ids of all its stages, skipped ones
  * included), those stages by id, and the rows its capped operators
  * dropped (the first `graft_drops_*` metric of each execution, summed). */
final case class Run(
    executions: Int, jobs: Seq[JobRun], stages: Map[Int, StageRun], drops: Long) {
  def stageCount: Int = jobs.map(_.stageIds.size).sum
}

/** The one listener of a SparkContext, attributing what it sees to the
  * job tags of the code that ran it, never to a global "current query".
  * [[record]] runs a block under a fresh tag; every SQL execution and job
  * carrying it, from whichever thread the block's work runs on, lands in
  * that block's [[Run]]. Tags nest, so a block recorded inside another
  * counts in both; work on other threads stays out. SQL executions are
  * counted, not jobs: an uncached `spark.read.parquet` runs a schema job
  * but no SQL execution, while `collect`, writes and a lazy
  * `localCheckpoint` each start one.
  *
  * Tagged or not, every successful SQL execution with a non-zero
  * `graft_drops_*` metric ([[graft.ext.DropMetrics]]) logs a WARN line, so
  * capping is never silent. With no tag live the listener does no per-job
  * or per-task work. */
object RunRecorder {
  private val log = LoggerFactory.getLogger(getClass)

  /** A block being recorded. Its jobs and stages are written on the
    * listener thread only, and read after the bus is drained. */
  private final class Open {
    val executions = new AtomicInteger()
    val drops = new AtomicLong()
    val jobs = mutable.ArrayBuffer.empty[JobRun]
    val stages = mutable.LinkedHashMap.empty[Int, StageRun]
  }

  private final class Listener extends SparkListener {
    val live = new ConcurrentHashMap[String, Open]()
    private val byExecution = new ConcurrentHashMap[Long, Seq[Open]]()
    private val byStage = new ConcurrentHashMap[Int, Seq[Open]]()

    private def owners(tags: Iterable[String]): Seq[Open] =
      if (live.isEmpty) Nil else tags.flatMap(t => Option(live.get(t))).toSeq

    private def update(stageId: Int)(f: StageRun => StageRun): Unit =
      Option(byStage.get(stageId)).foreach(_.foreach(o =>
        o.stages.get(stageId).foreach(s => o.stages(stageId) = f(s))))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val os = owners(s.jobTags)
        os.foreach(_.executions.incrementAndGet())
        if (os.nonEmpty) byExecution.put(s.executionId, os)
      case end: SparkListenerSQLExecutionEnd =>
        val dropped = warnDrops(end)
        Option(byExecution.remove(end.executionId))
          .foreach(_.foreach(_.drops.addAndGet(dropped)))
      case _ =>
    }

    /** Log each non-zero `graft_drops_*` observation of the execution and
      * return the sum of their drop counts. */
    private def warnDrops(end: SparkListenerSQLExecutionEnd): Long =
      GraftColumnBridge.observedMetrics(end).iterator.map { case (name, row) =>
        if (name.startsWith("graft_drops_") && row.size > 0 &&
            !row.isNullAt(0) && row.getLong(0) > 0) {
          val detail = row.schema.fieldNames.zipWithIndex
            .map { case (f, i) => s"$f=${row.get(i)}" }.mkString(", ")
          log.warn(s"[$name] capped operator dropped rows: $detail")
          row.getLong(0)
        } else 0L
      }.sum

    override def onJobStart(e: SparkListenerJobStart): Unit = if (!live.isEmpty) {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      owners(tags.fold(Array.empty[String])(_.split(','))).foreach { o =>
        o.jobs += JobRun(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
        e.stageInfos.filterNot(si => o.stages.contains(si.stageId)).foreach { si =>
          o.stages(si.stageId) = StageRun(si.stageId, si.name, si.numTasks)
          byStage.merge(si.stageId, Seq(o), _ ++ _)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = live.values.forEach { o =>
      val i = o.jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) o.jobs(i) = o.jobs(i).copy(endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      update(si.stageId)(_.copy(submitMs = si.submissionTime.getOrElse(-1L),
        doneMs = si.completionTime.getOrElse(-1L)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !byStage.isEmpty) update(e.stageId)(s => s.copy(
        runMs = s.runMs + m.executorRunTime,
        gcMs = s.gcMs + m.jvmGCTime,
        deserMs = s.deserMs + m.executorDeserializeTime,
        inBytes = s.inBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten))
    }

    /** Stop routing stage events to `o`. */
    def close(o: Open): Unit = {
      byStage.replaceAll((_, os) => os.filterNot(_ eq o))
      byStage.values.removeIf(_.isEmpty)
    }
  }

  // weak keys: a stopped context (and its bus, which holds the listener)
  // is collectable
  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]()
  private val nextTag = new AtomicLong()

  private def listener(sc: SparkContext): Listener = listeners.synchronized {
    Option(listeners.get(sc)).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      listeners.put(sc, l)
      l
    }
  }

  /** Install the context's listener (once), so drop WARN lines are logged
    * even when nothing is recorded. */
  def install(spark: SparkSession): Unit = listener(spark.sparkContext)

  /** Run `body` under a fresh job tag; return its result and the [[Run]]
    * of everything it started. The listener bus is drained once, after
    * `body`, before the run is read. */
  def record[A](spark: SparkSession)(body: => A): (A, Run) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val tag = s"graft-run-${nextTag.incrementAndGet()}"
    val o = new Open
    l.live.put(tag, o)
    sc.addJobTag(tag)
    try {
      val r = try body finally sc.removeJobTag(tag)
      GraftColumnBridge.flushListenerBus(spark)
      (r, Run(o.executions.get, o.jobs.toList, o.stages.toMap, o.drops.get))
    } finally {
      l.live.remove(tag)
      l.close(o)
    }
  }
}
