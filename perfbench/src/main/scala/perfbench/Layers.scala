package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.Internals

import graft.ext.{Dedup, Redaction, TextAnalysis}

/** Per-layer numbers of the traced run. Each traced pass yields one value
  * per metric; the result is the median over the traced steady passes,
  * with `first.*` taken from the cold first pass. */
final class Layers(rec: Recorder, listener: TraceListener, spark: SparkSession) {
  private val sc = spark.sparkContext
  private var attached = false
  private val perPass = mutable.LinkedHashMap.empty[Int, Map[String, Double]]
  private val probe = mutable.LinkedHashMap.empty[String, Double]
  private var lastBlocks = Map.empty[String, Double]
  val nodeTotals = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))

  /** Spans whose per-pass duration is a layer metric. */
  private val opLayers = Seq(
    "core.normalise" -> "core.normalise_ms", "ops.windows" -> "ops.windows_ms",
    "ops.scale" -> "ops.scale_ms", "providers.fit" -> "providers.fit_ms",
    "providers.generate" -> "providers.generate_ms", "api.save" -> "api.save_ms",
    "pipeline.fit" -> "pipeline.fit_ms", "examples.curate" -> "examples.curate_ms",
    "examples.prepare_training" -> "examples.prepare_training_ms")

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); spark.listenerManager.register(listener)
    Run.onExecution = listener.addExecution; attached = true
  }

  def detach(): Unit = if (attached) {
    sc.removeSparkListener(listener); spark.listenerManager.unregister(listener)
    Run.onExecution = _ => (); attached = false
  }

  def before(): Map[String, Double] = {
    Internals.drainListenerBus(sc)
    listener.reset()
    Jvm.snapshot
  }

  def after(p: Int, before: Map[String, Double], fromMs: Long, toMs: Long, wallMs: Double): Unit = {
    Internals.drainListenerBus(sc)
    val m = mutable.Map.empty[String, Double]
    Jvm.snapshot.foreach { case (k, v) => m(k) = v - before(k) }
    listener.synchronized(m ++= listener.counts.filterNot(_._1.startsWith("group.")))
    val (execMs, writeMs) = listener.jobTime(fromMs, toMs)
    m("exec.ms") = execMs
    m("sched.driver_gap_ms") = math.max(0.0, wallMs - execMs)
    m("sources.write_ms") = writeMs
    val (nodes, planMs) = PlanMetrics.collect(listener.synchronized(listener.executions.toSeq))
    m("plan.ms") = planMs
    nodes.foreach { case (n, (ms, rows)) =>
      m(s"op.$n.ms") = ms; m(s"op.$n.rows_out") = rows
      val (a, b) = nodeTotals(n); nodeTotals(n) = (a + ms, b + rows)
    }
    m("construct.ms") = rec.named(p, "construct").map(_.ms).sum
    opLayers.foreach { case (span, metric) => m(metric) = rec.named(p, span).map(_.ms).sum }
    val (memoCalls, memoHits) = rec.memo.getOrElse(p, (0, 0))
    m("memo.hit_ratio") = if (memoCalls == 0) 0.0 else memoHits.toDouble / memoCalls
    m("pipeline.jobs_per_score") =
      listener.counts("group.pipeline.fit.jobs") / Workloads.ScoresPerFit
    perPass(p) = m.toMap
    listener.reset()
  }

  /** Block-manager state after a pass: persisted RDDs and their size. */
  def blocks(p: Int): Unit = {
    val infos = sc.getRDDStorageInfo
    lastBlocks = Map(
      "blocks.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "blocks.storage_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Native-kernel cost: a single-kernel projection over the workload's
    * documents (four copies, so per-job overhead does not swamp the
    * kernel) minus an identity projection, per row, best of 3. */
  def probes(docs: Option[DataFrame]): Unit = docs.foreach { d =>
    val one = d.select(col("doc_id"), col("text"))
    val base = Seq.fill(4)(one).reduce(_ union _)
    val scratch = new Recorder
    def best(df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); Run.materialise(scratch, df); (System.nanoTime() - t0).toDouble
    }.min
    val rows = base.count().toDouble
    val identity = best(base.select(col("text")))
    Seq[(String, () => DataFrame)](
      "nfc" -> (() => base.select(TextAnalysis.unicodeNormalize(col("text")))),
      "quality" -> (() => TextAnalysis.qualityFeatures(base, "text").drop("text")),
      "langid" -> (() => TextAnalysis.langId(base, "text", "l").select(col("l"))),
      "minhash" -> (() => base.select(Dedup.minHashSignatureColumn(col("text")))),
      "redact" -> (() => base.select(Redaction.redactText(col("text")))),
      "tokens" -> (() => base.select(TextAnalysis.tokenCount(col("text"))))
    ).foreach { case (k, f) =>
      probe(s"functions.$k.ns_per_row") = math.max(0.0, best(f()) - identity) / rows
    }
  }

  def result(): Map[String, Double] = {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    val steady = perPass.filter(_._1 > 0).values.toSeq
    val keys = steady.flatMap(_.keys).distinct
    val out = mutable.LinkedHashMap.empty[String, Double]
    keys.foreach(k => out(k) = median(steady.map(_.getOrElse(k, 0.0))))
    perPass.get(0).foreach { f =>
      Seq("plan.ms", "construct.ms", "codegen.compiles", "codegen.compile_ms", "jvm.jit_ms")
        .foreach(k => out(s"first.$k") = f.getOrElse(k, 0.0))
    }
    out ++= probe
    out ++= lastBlocks
    out.toMap
  }
}
