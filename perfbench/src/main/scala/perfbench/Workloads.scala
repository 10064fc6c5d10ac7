package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GoldenHashes
import graft.api.SyntheticGenerator
import graft.core.{TimeSeriesFrame, TsSchema}
import graft.examples.DataPipeline
import graft.pipeline.{EvaluationPipeline, RegressionScorer}
import graft.providers.StatisticalProvider
import graft.sources.Tables

/** One workload: what a pass calls, and how its outputs are checked.
  * Checks run after the passes and are never timed. */
trait Workload {
  def inputs: Seq[(String, String)]
  def pass(spark: SparkSession, rec: Recorder, p: Int): Unit
  def check(spark: SparkSession): Seq[(String, Boolean, String)]
  /** Untimed per-pass bookkeeping, run after the pass is timed. */
  def afterPass(p: Int): Unit = ()
  def probeInput(spark: SparkSession): Option[DataFrame] = None
}

object Workloads {
  /** ts_synth scores its one pipeline provider once per fit. */
  val ScoresPerFit = 1.0

  def apply(name: String, dataDir: String, outDir: String): Workload = name match {
    case "ts_synth" => new TsSynth(dataDir, outDir)
    case "llm_curate" => new LlmCurate(dataDir, outDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Tracks whether a memoized library call returned the same object as
    * the previous identical call. */
  final class Memo {
    private val last = mutable.Map.empty[String, AnyRef]
    def apply[A <: AnyRef](rec: Recorder, key: String)(call: => A): A = {
      val r = call
      rec.noteMemo(last.get(key).exists(_ eq r))
      last(key) = r
      r
    }
  }
}

/** paqarin's own job over a long table: normalise, window, scale, then
  * TSTR-score a generator and fit, generate and save another. */
final class TsSynth(dataDir: String, outDir: String) extends Workload {
  private val schema = TsSchema(Seq("entity"), "ts", Seq("x1", "x2", "x3"), Seq("segment"))
  /** TSTR scoring runs ~25 jobs per (provider, column) under the
    * Spark-defaults posture, so the pipeline scores the statistical
    * provider on the primary column; the AR provider is fit, generated
    * and saved through the generator facade. */
  private val scoreSchema = schema.copy(numericCols = Seq("x1"))
  private val WindowLen = 8
  private val GenSeqLen = 24
  private val GenN = 2000
  private val memo = new Workloads.Memo
  private val generated = mutable.Map.empty[Int, Long]
  private var lastNorm: Option[graft.ops.TimeSeriesOps.NormalisedSequences] = None
  private var lastScores: Option[DataFrame] = None

  def inputs: Seq[(String, String)] = Seq("window_len" -> WindowLen.toString,
    "generated_sequences" -> GenN.toString, "generated_seq_len" -> GenSeqLen.toString)

  def pass(spark: SparkSession, rec: Recorder, p: Int): Unit = {
    rec.op("sources.read")(memo(rec, "series")(Tables.load(spark, dataDir, "series"))).foreach { df =>
      rec.op("core.normalise")(TimeSeriesFrame(df, schema).normalise(orderCol = "ts"))
        .foreach(n => lastNorm = Some(n))
      val frame = TimeSeriesFrame(df, schema)
      rec.op("ops.windows") {
        Run.materialise(rec, rec.span("construct")(frame.slidingWindows(WindowLen, "ts")))
      }
      rec.op("ops.scale")(frame.fitScaler())
      val pipeline = new EvaluationPipeline(
        Map("statistical" -> StatisticalProvider),
        new RegressionScorer(seqLen = 6, numSequences = 32), iterations = 1)
      val sc = spark.sparkContext
      rec.op("pipeline.fit") {
        sc.setJobGroup("pipeline.fit", "pipeline.fit")
        try lastScores = Some(pipeline.fit(df, scoreSchema).metrics)
        finally sc.clearJobGroup()
      }
      rec.op("providers.fit")(SyntheticGenerator("ar", schema, GenSeqLen).fit(df)).foreach { g =>
        rec.op("providers.generate") {
          generated(p) = Run.materialise(rec, rec.span("construct")(g.generate(spark, GenN)))
        }
        rec.op("api.save")(g.save(s"$outDir/generator-$p"))
      }
    }
  }

  def check(spark: SparkSession): Seq[(String, Boolean, String)] = {
    val want = GenN.toLong * GenSeqLen
    val badGen = generated.filter(_._2 != want)
    val norm = lastNorm.map { n =>
      val rows = n.df.count()
      (rows == n.numSequences * n.seqLen, s"$rows rows, ${n.numSequences} x ${n.seqLen}")
    }.getOrElse((false, "normalise never succeeded"))
    val scores = lastScores.map(_.select(col("value")).collect().map(_.getDouble(0)).toSeq)
      .getOrElse(Nil)
    Seq(
      ("generated_rows", generated.nonEmpty && badGen.isEmpty,
        s"${generated.size} passes, want $want rows each, off: ${badGen.toSeq.sorted}"),
      ("tstr_scores_finite", scores.length == Workloads.ScoresPerFit.toInt &&
        scores.forall(d => !d.isNaN && !d.isInfinite), s"scores ${scores.mkString(",")}"),
      ("normalise_rows", norm._1, norm._2))
  }
}

/** The north-star curation chain over a planted corpus, then training
  * preparation into shard files. */
final class LlmCurate(dataDir: String, outDir: String) extends Workload {
  private val memo = new Workloads.Memo
  private val survivorHashes = mutable.LinkedHashMap.empty[Int, String]
  private var lastCurated: Option[DataFrame] = None
  private var curatedBy = Option.empty[(Int, DataFrame)]
  /** The planted structure the generator recorded next to the tables. */
  private val (groups, blocked, maxPerHost) = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(dataDir, "groups.json")))
    ((j \ "exact_groups").extract[Seq[Seq[Long]]],
      (j \ "blocked_domains").extract[Seq[String]], (j \ "max_docs_per_host").extract[Int])
  }
  val SpanWindow = 50

  def inputs: Seq[(String, String)] = Seq("span_dedup_window" -> SpanWindow.toString,
    "max_docs_per_host" -> maxPerHost.toString, "blocked_domains" -> blocked.mkString(","))

  private def load(spark: SparkSession, rec: Recorder, t: String) =
    memo(rec, t)(Tables.load(spark, dataDir, t))

  def pass(spark: SparkSession, rec: Recorder, p: Int): Unit = {
    rec.op("sources.read") {
      (load(spark, rec, "documents"), load(spark, rec, "embeddings"), load(spark, rec, "benchmark"))
    }.foreach { case (docs, emb, bench) =>
      rec.op("examples.curate") {
        rec.span("construct")(DataPipeline.curate(docs, emb, Some(bench),
          blockedDomains = blocked, maxDocsPerHost = maxPerHost,
          spanDedupWindow = SpanWindow)._1)
      }.foreach { curated =>
        rec.op("examples.prepare_training") {
          DataPipeline.prepareTrainingToFiles(curated, s"$outDir/training-$p")
        }.foreach(_ => curatedBy = Some((p, curated)))
      }
    }
  }

  override def afterPass(p: Int): Unit = curatedBy.filter(_._1 == p).foreach { case (_, c) =>
    lastCurated = Some(c)
    survivorHashes(p) = GoldenHashes.contentHash(c.select(col("doc_id"), col("text")))
  }

  override def probeInput(spark: SparkSession): Option[DataFrame] =
    Some(Tables.load(spark, dataDir, "documents"))

  def check(spark: SparkSession): Seq[(String, Boolean, String)] =
    lastCurated.map { c =>
      val rows = c.select(col("doc_id"), col("text")).collect()
      val ids = rows.map(_.getLong(0))
      val inputIds = Tables.load(spark, dataDir, "documents").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val idSet = ids.toSet
      val groupKeeps = groups.map(g => g.count(idSet))
      val hashes = survivorHashes.values.toSeq.distinct
      Seq(
        ("survivor_texts_distinct", rows.map(_.getString(1)).distinct.length == rows.length,
          s"${rows.length} survivors"),
        ("survivor_ids_from_input", idSet.forall(inputIds), s"${idSet.size} ids"),
        ("exact_groups_keep_one", groupKeeps.forall(_ == 1),
          s"${groups.length} groups, kept counts ${groupKeeps.groupBy(identity).map { case (k, v) => s"$k:${v.length}" }.mkString(",")}"),
        ("survivor_hash_stable", hashes.length == 1,
          s"${survivorHashes.size} passes, hashes ${hashes.mkString(",")}"))
    }.getOrElse(Seq(("curate_succeeded", false, "no pass completed")))
}
