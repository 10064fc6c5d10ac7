package graft.providers

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.TsSchema

/** Provider SPI — the seam the reference calls `TimeSeriesGeneratorAdapter`
  * (paqarin/adapter.py:33-61), with the provider×method registry replacing
  * `get_generator_adapter` (paqarin/adapter.py:64-97).
  *
  * A fitted model generates sequences in the canonical "one long frame"
  * shape `(seq_id: long, step: int, <numericCols>…)` (the synthcity output
  * shape, SURVEY §3.2); "list of frames" is `groupBy(seq_id)` at the API
  * edge. Heavy DL providers (TimeGAN/DoppleGANger/PAR) plug in behind this
  * trait as external integrations; the engine ships deterministic
  * Spark-native providers below.
  */
trait GeneratorProvider {
  def name: String
  def fit(data: DataFrame, schema: TsSchema): FittedGenerator

  /** Rebuild a [[FittedGenerator]] from a persisted opaque model blob (the
    * S4/S5 model-store scan side for providers whose fitted state is a
    * serialized blob rather than a JVM object — [[ProcessProvider]]'s
    * worker models). Default: this provider has no blob format. */
  def rehydrate(modelBlob: String): Option[FittedGenerator] = None
}

trait FittedGenerator {
  /** Generate `n` sequences of `seqLen` steps. */
  def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame
}

object GeneratorProvider {
  /** Externally registered providers (out-of-process adapters and other
    * plug-ins) — looked up before the builtins, so a registration can
    * shadow a builtin name, and `register` makes the SPI demonstrably
    * pluggable without any DL library in this JVM. */
  private val external =
    new java.util.concurrent.ConcurrentHashMap[String, GeneratorProvider]()

  private val builtinNames = Set("statistical", "bootstrap", "ar")

  /** Register (or re-register) an external provider. Shadowing a builtin
    * or replacing an earlier registration is allowed — it is how a user
    * swaps in a better implementation process-wide — but it is loud:
    * an accidental name collision silently rerouting every caller is a
    * debugging trap, so both cases log a WARN naming the replacement. */
  def register(provider: GeneratorProvider): Unit = {
    val prev = external.put(provider.name, provider)
    if (builtinNames(provider.name))
      log.warn(s"register('${provider.name}') SHADOWS the builtin provider " +
        "of that name process-wide; forName will now resolve the external one")
    else if (prev != null && (prev ne provider))
      log.warn(s"register('${provider.name}') replaced a previously " +
        "registered external provider")
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Registry, mirroring adapter.py:64-97's provider dispatch. */
  def forName(provider: String): GeneratorProvider =
    Option(external.get(provider)).getOrElse(provider match {
      case "statistical" => StatisticalProvider
      case "bootstrap"   => BootstrapProvider
      case "ar"          => ArProvider
      case other =>
        throw new IllegalArgumentException(
          s"Generation provider $other is not supported") // adapter.py:95-97
    })
}

/** Spark-native default: fits per-column mean/std (one aggregate pass) and
  * generates Gaussian series with Spark's seeded, distributed `randn` —
  * deterministic at any scale, no driver-side data.
  */
object StatisticalProvider extends GeneratorProvider {
  val name = "statistical"

  /** Parametric fitted state: per-numeric-column (mean, population std)
    * plus per-categorical-column value frequencies (the DoppleGANger
    * measurement/attribute split, doppleganger.py:39-41 — attributes are
    * per-sequence constants). A plain case class → trivially persistable
    * (S4/S5). */
  final case class Model(
      stats: Seq[(String, (Double, Double))],
      catFreqs: Seq[(String, Seq[(String, Double)])] = Nil)
      extends FittedGenerator {
    /** Standard normal as a pure function of (row id, salt): Box–Muller
      * over two xxhash64-derived uniforms. `randn(seed)` would NOT do —
      * it seeds per-partition, so its values change with the partition
      * count (cluster size / parallelism); this is bit-stable anywhere. */
    private def hashGaussian(id: Column, salt: Int): Column = {
      val u1 = (pmod(xxhash64(id, lit(2 * salt)), lit(1000000000L))
        .cast("double") + lit(0.5)) / lit(1000000000.0)
      val u2 = (pmod(xxhash64(id, lit(2 * salt + 1)), lit(1000000000L))
        .cast("double") + lit(0.5)) / lit(1000000000.0)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }

    def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame = {
      val base = spark.range(n.toLong * seqLen)
        .select(
          col("id").as("__gid"),
          (col("id") / seqLen).cast("long").as("seq_id"),
          (col("id") % seqLen).cast("int").as("step"))
      val withNums = stats.zipWithIndex.foldLeft(base) {
        case (d, ((c, (m, s)), i)) =>
          d.withColumn(c, lit(m) + lit(s) * hashGaussian(col("__gid"), i))
      }.drop("__gid")
      // per-sequence constant attribute, sampled from the fitted CDF by a
      // deterministic hash of the sequence id
      catFreqs.zipWithIndex.foldLeft(withNums) { case (d, ((c, freqs), i)) =>
        val u = (pmod(xxhash64(col("seq_id"), lit(i)), lit(1000000L)))
          .cast("double") / lit(1000000.0)
        val cdf = freqs.scanLeft(("", 0.0)) { case ((_, acc), (v, p)) =>
          (v, acc + p)
        }.tail
        val pick = cdf.init.foldRight(lit(cdf.last._1): Column) {
          case ((v, cum), elseCol) => when(u < cum, lit(v)).otherwise(elseCol)
        }
        d.withColumn(c, pick)
      }
    }
  }

  /** One SQL execution: a grouping-sets aggregate whose empty set holds
    * each numeric column's mean and population std and the row count `n`,
    * and whose set `(c)` holds each value of categorical column `c` with
    * its count. A `row_number` per set, by count descending then value
    * ascending (nulls first), keeps each column's 100 most frequent
    * values before the collect; their frequencies divide by `n`, and a
    * null category reads as "". Without categorical columns it is one
    * global aggregate.
    */
  def fit(data: DataFrame, schema: TsSchema): FittedGenerator = {
    val nums = schema.numericCols
    val cats = schema.catCols
    val aggs = nums.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c)))) :+
      count(lit(1)).as("__n")
    def stats(r: Row, from: Int) = nums.zipWithIndex.map { case (c, i) =>
      c -> ((r.getDouble(from + 2 * i), r.getDouble(from + 2 * i + 1)))
    }
    if (cats.isEmpty) Model(stats(data.agg(aggs.head, aggs.tail: _*).head(), 0))
    else {
      val k = cats.size
      val byFrequency = Window.partitionBy(col("__gid"))
        .orderBy(col("__n").desc +: cats.map(col): _*)
      // output: the k categorical columns, __gid, then the moments and n
      val rows = data
        .groupingSets(Seq.empty[Column] +: cats.map(c => Seq(col(c))), cats.map(col): _*)
        .agg(grouping_id().as("__gid"), aggs: _*)
        .withColumn("__rank", row_number().over(byFrequency))
        .filter(col("__rank") <= 100)
        .collect()
      val (nAt, gidAt, rankAt) = (k + 1 + 2 * nums.size, k, k + 2 + 2 * nums.size)
      // grouping_id sets the bit of every column a set does not group by,
      // the first column's bit highest
      val all = (1L << k) - 1
      val moments = rows.find(_.getLong(gidAt) == all).getOrElse(
        throw new IllegalArgumentException("StatisticalProvider.fit: no rows to fit"))
      val n = moments.getLong(nAt).toDouble
      Model(stats(moments, k + 1), cats.zipWithIndex.map { case (c, i) =>
        val gid = all - (1L << (k - 1 - i))
        c -> rows.filter(_.getLong(gidAt) == gid).sortBy(_.getInt(rankAt)).toSeq
          .map(r => (Option(r.get(i)).map(_.toString).getOrElse(""), r.getLong(nAt) / n))
      })
    }
  }
}

/** Bootstrap provider: resamples fitted per-entity windows — the
  * deterministic stand-in the reference achieves with mocked model layers
  * (tests/test_ydata_adapter.py:13-45). Windows are sampled by seeded hash,
  * fully distributed.
  */
object BootstrapProvider extends GeneratorProvider {
  val name = "bootstrap"

  def fit(data: DataFrame, schema: TsSchema): FittedGenerator = {
    val id = schema.itemIdCols.head
    val fitted = data // lazy plan; window extraction happens at generate
    new FittedGenerator {
      def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame = {
        val win = graft.ops.TimeSeriesOps.slidingWindows(
          fitted, id, schema.tsCol, schema.numericCols, seqLen)
        // deterministic pseudo-random pick of n windows: order by xxhash64
        val picked = win
          .withColumn("__r", xxhash64(col(id), col("__pos")))
          .orderBy(col("__r"))
          .limit(n)
          .withColumn("seq_id", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("__r"))) - 1)
        val exploded = picked.select(
          col("seq_id").cast("long").as("seq_id"),
          posexplode(col("window")).as(Seq("step", "__v")))
        schema.numericCols.foldLeft(exploded)((d, c) =>
          d.withColumn(c, col("__v")(c))).drop("__v")
      }
    }
  }
}

/** AR(1) provider: the parametric time-series model family next to the
  * i.i.d. [[StatisticalProvider]] — the closest Spark-native analogue of
  * the reference's sequence-model providers (TimeGAN/PAR learn temporal
  * dependence; AR(1) captures the first-order version deterministically).
  *
  * fit: per numeric column, ONE windowed-lag pass + ONE aggregate pass
  * computing (mean, population std, lag-1 autocorrelation φ) within
  * entities (the lag window partitions by the item id, so sequence
  * boundaries never leak into each other's lag).
  *
  * generate: stationary AR(1) recursion
  * `x_0 = μ + σ·ε_0`, `x_t = μ + φ·(x_{t−1} − μ) + σ·√(1−φ²)·ε_t`
  * with the same hash-derived Gaussian noise as StatisticalProvider —
  * a pure function of (seq_id, step, column), so output is bit-stable at
  * any parallelism. The recursion runs as an array scan per sequence
  * (`aggregate` over the per-sequence ε array); generation size is
  * API-bounded (n sequences), never corpus-scale, so the interpreted
  * scan is irrelevant to the 100 TB story.
  */
object ArProvider extends GeneratorProvider {
  val name = "ar"

  /** (column → (mean, population std, φ)); plain case class → persistable
    * via the generator's model.bin sink. */
  final case class Model(stats: Seq[(String, (Double, Double, Double))])
      extends FittedGenerator {

    private def gaussian(seqId: Column, step: Column, salt: Int): Column = {
      val u1 = (pmod(xxhash64(seqId, step, lit(2 * salt)), lit(1000000000L))
        .cast("double") + lit(0.5)) / lit(1000000000.0)
      val u2 = (pmod(xxhash64(seqId, step, lit(2 * salt + 1)), lit(1000000000L))
        .cast("double") + lit(0.5)) / lit(1000000000.0)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }

    def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame = {
      val base = spark.range(n).select(
        col("id").as("seq_id"),
        sequence(lit(0), lit(seqLen - 1)).as("__steps"))
      val arrCols = stats.zipWithIndex.map { case ((c, (m, s, phi)), ci) =>
        val innov = s * math.sqrt(math.max(0.0, 1.0 - phi * phi))
        val eps = transform(col("__steps"),
          i => gaussian(col("seq_id"), i, ci))
        // stationary start, then scan the recursion over steps 2..seqLen
        val first = lit(m) + lit(s) * element_at(eps, 1)
        val scan = aggregate(
          slice(eps, 2, seqLen - 1),
          struct(array(first).as("arr"), first.as("prev")),
          (acc, e) => {
            val next =
              lit(m) + lit(phi) * (acc.getField("prev") - lit(m)) + lit(innov) * e
            struct(concat(acc.getField("arr"), array(next)).as("arr"),
              next.as("prev"))
          },
          acc => acc.getField("arr"))
        (if (seqLen == 1) array(first) else scan).as(s"__arr_$c")
      }
      val zipped = base.select(col("seq_id") +: arrCols: _*)
        .select(col("seq_id"),
          posexplode(arrays_zip(stats.map { case (c, _) => col(s"__arr_$c") }: _*)))
      stats.foldLeft(
        zipped.select(col("seq_id"), col("pos").cast("int").as("step"), col("col")))(
        (d, cs) => d.withColumn(cs._1, col("col").getField(s"__arr_${cs._1}")))
        .drop("col")
    }
  }

  def fit(data: DataFrame, schema: TsSchema): FittedGenerator = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(schema.itemIdCols.map(col): _*)
      .orderBy(col(schema.tsCol))
    val lagged = schema.numericCols.foldLeft(data)((d, c) =>
      d.withColumn(s"__lag_$c", lag(col(c), 1).over(w)))
    val aggs = schema.numericCols.flatMap(c => Seq(
      avg(col(c)).as(s"m_$c"),
      stddev_pop(col(c)).as(s"s_$c"),
      corr(col(c), col(s"__lag_$c")).as(s"p_$c")))
    val row = lagged.agg(aggs.head, aggs.tail: _*).head()
    Model(schema.numericCols.zipWithIndex.map { case (c, i) =>
      // an entirely-null column aggregates to SQL NULL — fail loudly,
      // like Scaling.fit, instead of throwing a bare NPE from getDouble
      require(!row.isNullAt(3 * i) && !row.isNullAt(3 * i + 1),
        s"ArProvider.fit: column '$c' has no non-null values")
      val phi = if (row.isNullAt(3 * i + 2)) 0.0 else row.getDouble(3 * i + 2)
      c -> ((row.getDouble(3 * i), row.getDouble(3 * i + 1), phi))
    })
  }
}
