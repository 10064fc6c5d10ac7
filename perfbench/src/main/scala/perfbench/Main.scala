package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Internals
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark entry point: one JVM, one workload, one session posture.
  *
  * Sets the session up `Setups` times (the last one stays), runs a cold
  * first pass, then steady passes until `seconds` of pass time, checks the
  * outputs and writes every raw sample to `<out>/result.json`. With
  * `trace` the benchmark's listener is attached on alternate steady passes
  * (the others give the untraced baseline for the tracing overhead), the
  * kernel probes run, and the spans are written to `<out>/spans.json`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <outDir> <cores> <localDir>
  */
object Main {
  val Setups = 12
  val MinSteady = 1

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir, coresS, localDir) = args
    val (seed, seconds, trace, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val wl = Workloads(workload, dataDir, outDir)
    Files.createDirectories(Paths.get(outDir))

    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Posture.session(cores, localDir)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder
    val listener = new TraceListener
    val layers = new Layers(rec, listener, spark)
    val passS = mutable.ArrayBuffer.empty[(Int, Double, Double, Boolean)] // pass, wall s, cpu s, traced
    def runPass(p: Int, traced: Boolean): Double = {
      if (traced) layers.attach() else layers.detach()
      rec.startPass(p)
      val before = if (traced) layers.before() else Map.empty[String, Double]
      val (c0, w0, ms0) = (Jvm.cpuNs, System.nanoTime(), System.currentTimeMillis())
      rec.span("pass")(wl.pass(spark, rec, p))
      val (c1, w1, ms1) = (Jvm.cpuNs, System.nanoTime(), System.currentTimeMillis())
      if (traced) layers.after(p, before, ms0, ms1, (w1 - w0) / 1e6)
      if (!rec.failedIn(p)) passS += ((p, (w1 - w0) / 1e9, (c1 - c0) / 1e9, traced))
      layers.blocks(p)
      wl.afterPass(p)
      (w1 - w0) / 1e9
    }

    runPass(0, trace)
    // steady passes until `seconds` of pass time (checks between passes
    // are not counted); traced runs alternate untraced and traced passes
    var p = 1
    var steadyS = 0.0
    while (p <= MinSteady * (if (trace) 2 else 1) || steadyS < seconds) {
      steadyS += runPass(p, trace && p % 2 == 0)
      p += 1
    }
    val tChecks = System.nanoTime()
    val checks = wl.check(spark)
    val tProbes = System.nanoTime()
    if (trace) { layers.detach(); layers.probes(wl.probeInput(spark)) }
    val heapMb = Jvm.postGcHeapMb
    System.err.println(f"[perfbench] checks ${(tProbes - tChecks) / 1e9}%.1f s, " +
      f"probes ${(System.nanoTime() - tProbes) / 1e9}%.1f s")

    val first = passS.find(_._1 == 0)
    val steady = passS.filter(_._1 > 0)
    val steadyUntraced = steady.filterNot(_._4)
    val calls = (1 until p).flatMap(rec.calls)
    val opMs = calls.filter(s => s.ok && !rec.failedIn(s.pass)).map(_.ms)
    val attempted = (0 until p).map(rec.calls(_).size).sum
    val posture = ("master" -> s"local[$cores]") ~
      ("nproc" -> Runtime.getRuntime.availableProcessors) ~
      ("max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576) ~
      ("spark_version" -> spark.version) ~
      ("jdk_version" -> System.getProperty("java.version")) ~
      ("scala_version" -> scala.util.Properties.versionNumberString) ~
      ("spark_conf" -> spark.conf.getAll)
    val result = ("workload" -> workload) ~ ("seed" -> seed) ~ ("trace" -> trace) ~
      ("posture" -> posture) ~ ("inputs" -> wl.inputs.toMap) ~
      ("setup_s" -> setupS.toList) ~ ("first_pass_s" -> first.map(_._2)) ~
      ("steady_pass_s" -> steadyUntraced.map(_._2).toList) ~
      ("steady_cpu_s" -> steadyUntraced.map(_._3).toList) ~
      ("op_ms" -> (if (trace) Nil else opMs.toList)) ~ ("heap_mb" -> heapMb) ~
      ("attempted" -> attempted) ~ ("failed" -> rec.failures.size) ~
      ("failures" -> rec.failures.toList.map(f => ("pass" -> f.pass) ~ ("op" -> f.op) ~
        ("class" -> f.cls) ~ ("message" -> f.message))) ~
      ("checks" -> checks.toList.map { case (name, ok, detail) =>
        ("name" -> name) ~ ("ok" -> ok) ~ ("detail" -> detail) })
    val traced = if (!trace) result else result ~
      ("traced_steady_pass_s" -> steady.filter(_._4).map(_._2).toList) ~
      ("layers" -> layers.result()) ~
      ("node_types" -> layers.nodeTotals.toMap.map { case (k, (ms, rows)) =>
        k -> (("ms" -> ms) ~ ("rows_out" -> rows)) })
    Files.writeString(Paths.get(outDir, "result.json"), compact(render(traced)))
    if (trace) Files.writeString(Paths.get(outDir, "spans.json"), compact(render(
      rec.spans.toList.map(s => ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("pass" -> s.pass) ~
        ("name" -> s.name) ~ ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs) ~ ("ok" -> s.ok)))))
    spark.stop()
  }
}

/** The one session posture every workload runs under: `local[N]`, the
  * three confs every existing harness sets for correctness, Spark defaults
  * for everything else (AQE included). The UI stays off so a run binds no
  * port; scratch files stay under the run's own directory. */
object Posture {
  def session(cores: Int, localDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", localDir)
    .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
    .getOrCreate()
}

/** Materialises a DataFrame through a fresh QueryExecution; with a
  * recorder, the planning and execution phases become child spans. */
object Run {
  @volatile var onExecution: org.apache.spark.sql.execution.QueryExecution => Unit = _ => ()

  def materialise(rec: Recorder, df: DataFrame): Long = {
    val qe = Internals.freshExecution(df)
    rec.span("plan")(qe.executedPlan)
    val n = rec.span("exec")(Internals.materialise(qe))
    onExecution(qe)
    n
  }
}
