package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a pass, a public call, or a phase inside a call. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class Failure(pass: Int, op: String, cls: String, message: String)

/** Spans and failures of one run, kept in memory until the run ends.
  * A failed call records its exception and never a duration. */
final class Recorder {
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[Failure]
  private var stack: List[Int] = Nil
  private var pass = -1
  private val t0 = System.nanoTime()

  /** Per pass: (memoized library calls, calls that returned the very
    * object the previous identical call returned). */
  val memo = mutable.Map.empty[Int, (Int, Int)]

  def startPass(p: Int): Unit = pass = p

  def noteMemo(hit: Boolean): Unit = {
    val (c, h) = memo.getOrElse(pass, (0, 0))
    memo(pass) = (c + 1, if (hit) h + 1 else h)
  }

  /** Times `body` as a span under the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val id = spans.length + 1
    val parent = stack.headOption.getOrElse(0)
    spans += null // reserve the slot so ids follow start order
    stack = id :: stack
    val start = System.nanoTime() - t0
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      stack = stack.tail
      spans(id - 1) = Span(id, parent, pass, name, start, System.nanoTime() - t0, ok)
    }
  }

  /** A public call: a span whose failure is caught and recorded. */
  def op[A](name: String)(body: => A): Option[A] =
    try {
      val id = spans.length
      val r = span(name)(body)
      System.err.println(f"[perfbench] pass $pass%d $name%s ${spans(id).ms}%.1f ms")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failures += Failure(pass, name, e.getClass.getName,
          String.valueOf(e.getMessage).take(500))
        System.err.println(s"[perfbench] pass $pass $name FAILED ${e.getClass.getName}")
        None
    }

  def failedIn(p: Int): Boolean = failures.exists(_.pass == p)

  /** Top-level call spans of pass `p` (children of the pass span). */
  def calls(p: Int): Seq[Span] = {
    val passIds = spans.filter(s => s.pass == p && s.parent == 0 && s.name == "pass")
      .map(_.id).toSet
    spans.filter(s => passIds(s.parent)).toSeq
  }

  def named(p: Int, name: String): Seq[Span] =
    spans.filter(s => s.pass == p && s.name == name).toSeq
}

/** Process-wide counters read before and after a pass. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap in use after full collections, with pauses between them so
    * Spark's ContextCleaner can drop blocks whose owners were collected. */
  def postGcHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def snapshot: Map[String, Double] = Map(
    "jvm.gc_ms" -> gcMs.toDouble, "jvm.jit_ms" -> jitMs.toDouble,
    "codegen.compiles" -> codegenCompiles.toDouble,
    "codegen.compile_ms" -> codegenNs / 1e6)
}

/** The traced run's listener: scheduler and task counters, job intervals
  * and every QueryExecution that ran, collected per pass. */
final class TraceJob(val start: Long, var end: Long, var writes: Boolean)

final class TraceListener extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, TraceJob]
  private val stageJob = mutable.Map.empty[Int, Int]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val executions = mutable.ArrayBuffer.empty[QueryExecution]

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); counts.clear(); executions.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new TraceJob(e.time, e.time, writes = false)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    counts("sched.jobs") += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => counts(s"group.$g.jobs") += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { counts("sched.stages") += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counts("sched.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      val mb = 1048576.0
      counts("task.run_ms") += m.executorRunTime
      counts("task.cpu_ms") += m.executorCpuTime / 1e6
      counts("task.gc_ms") += m.jvmGCTime
      counts("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
      counts("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
      counts("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      counts("spill.mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
      counts("sources.scan_mb") += m.inputMetrics.bytesRead / mb
      counts("sources.write_mb") += m.outputMetrics.bytesWritten / mb
      if (m.outputMetrics.bytesWritten > 0)
        stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.writes = true)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  def addExecution(qe: QueryExecution): Unit = synchronized { executions += qe }

  /** Milliseconds inside [fromMs, toMs] covered by at least one job,
    * and the summed duration of jobs whose tasks wrote output. */
  def jobTime(fromMs: Long, toMs: Long): (Double, Double) = synchronized {
    val iv = jobs.values.map(j => (math.max(j.start, fromMs), math.min(j.end, toMs)))
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val writeMs = jobs.values.filter(_.writes).map(j => (j.end - j.start).toDouble).sum
    (covered.toDouble, writeMs)
  }
}

/** SQL metrics of executed plans, summed per physical node type. */
object PlanMetrics {
  private def nodes(p: SparkPlan, seen: java.util.IdentityHashMap[SparkPlan, Unit])
      : Seq[SparkPlan] =
    if (seen.containsKey(p)) Nil
    else {
      seen.put(p, ())
      p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, seen)
        case q: QueryStageExec => nodes(q.plan, seen)
        case _: ReusedExchangeExec => Nil
        case other =>
          other +: (other.children ++ other.subqueries).flatMap(nodes(_, seen))
      }
    }

  def nodeName(p: SparkPlan): String = p.getClass.getSimpleName.stripSuffix("Exec")

  /** (node type → (timing ms, output rows)) over `executions`, and the
    * summed planning-phase milliseconds of their trackers. */
  def collect(executions: Seq[QueryExecution])
      : (Map[String, (Double, Double)], Double) = {
    val acc = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))
    var planMs = 0.0
    executions.foreach { qe =>
      planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      try {
        val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
        nodes(qe.executedPlan, seen).foreach { n =>
          var ms = 0.0; var rows = 0.0
          n.metrics.foreach { case (key, m) =>
            m.metricType match {
              case "timing" => ms += m.value
              case "nsTiming" => ms += m.value / 1e6
              case _ if key == "numOutputRows" => rows += m.value
              case _ =>
            }
          }
          val (a, b) = acc(nodeName(n))
          acc(nodeName(n)) = (a + ms, b + rows)
        }
      } catch { case NonFatal(_) => () }
    }
    (acc.toMap, planMs)
  }
}
