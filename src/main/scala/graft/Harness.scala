package graft

import org.apache.spark.sql.SparkSession

/** The one session posture and the one query filter of every harness
  * main (Bench, Verify, GoldenSweep, Profile, Explain, PlanScan and the
  * `examples` mains), so the plan Verify checks is the plan Bench times
  * and per-operator traces from different mains compare.
  *
  * Env: `SPARK_GRAFT_CPUS` (cores, default the processor count),
  * `SPARK_GRAFT_AQE` (default false), `SPARK_GRAFT_ONLY` (see
  * [[selected]]).
  *
  * The test suites' `TestSpark` session differs in one way that changes
  * plans: it leaves AQE at Spark's default (on), the posture the
  * plan-contract specs were written against.
  */
object Harness {

  def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: at sf0.1 every post-shuffle
      // partition is well under a MB, so task-scheduling overhead
      // dominates — measured full-set totals at 4 cores: 32→14.7s,
      // 8→13.0s, 4→11.5s, 2→11.6s (2 wins tiny queries but loses the
      // heavies to lost parallelism)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // pandas-like permissive semantics to mirror the reference (and the
      // DuckDB oracle's long-wraparound / implicit-cast behavior)
      .config("spark.sql.ansi.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); surface as long, converted
      // back to µs timestamps in sources.Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE off by default: its value — runtime re-plans under stats
      // uncertainty, partition coalescing, skew splitting — is a
      // cluster-scale property, while locally every adaptive stage is a
      // separate job whose materialization barrier (~15-40 ms) dominates
      // sub-second queries, and fixed plans keep the hash compare
      // deterministic. Plans are AQE-safe either way (broadcast and
      // shuffle_hash hints are explicit where misestimates bite; see
      // ext/Dedup.scala); SPARK_GRAFT_AQE=true runs the at-scale posture.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      // ~180 queries × ~5 codegen fragments overflow the default 100-entry
      // compile cache across a run (static conf, must be set pre-session)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // big driver heaps GC so rarely that the ContextCleaner cannot
      // reclaim dead shuffle metadata (it acts on RDD-object collection);
      // force the cleaner's periodic GC often enough for a multi-minute
      // harness run — see ROUND_NOTES "long-session JVM killers"
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered query names a run covers: every query when `only`
    * is unset or blank, else its comma-separated names (blank entries
    * ignored), where `@frozen_r15` is the frozen round-15 membership
    * restricted to oracle-checked queries. Throws on an unknown name, so
    * a typo fails the run before any query runs instead of silently
    * covering nothing. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Set[String] = {
    val all = SparkEntry.queries.keySet
    val names = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    if (names.isEmpty) all
    else names.toSet.flatMap { (n: String) =>
      if (n == "@frozen_r15") Bench.frozenR15.intersect(SparkEntry.oracleSql.keySet)
      else {
        require(all(n), s"unknown query '$n' in SPARK_GRAFT_ONLY")
        Set(n)
      }
    }
  }
}
