package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise make
    * json.load fail on the dump. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // pandas-like permissive semantics to mirror the reference (and the
      // DuckDB oracle's long-wraparound / implicit-cast behavior)
      .config("spark.sql.ansi.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); surface as long, converted
      // back to µs timestamps in sources.Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // default off (deterministic plans for the hash compare); the
      // AQE-on robustness sweep (SPARK_GRAFT_AQE=true) proves every
      // query's VALUES survive adaptive re-planning — runtime join-
      // strategy swaps, partition coalescing, skew splits
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (builder-side
    // targeted drives); the driver sets no env, so its runs stay full
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        graft.ext.DropMetrics.setContext(name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // flush PER QUERY, not only at drain time: execution-end events
        // are async, so a capped operator's drop metric could otherwise
        // land in the NEXT query's context (observed at sf1.0:
        // dedup_simhash_pairs' second execution attributed 40470 drops
        // to whichever query followed it in map order)
        try org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark)
        catch { case _: Throwable => () }
      }
    }
    // self-oracle for the queries DuckDB cannot replay (engine-specific
    // hash kernels): content hash vs committed golden → golden_check.json
    // next to the parquet dumps. GOLDEN FAIL lines are the regression
    // signal; SPARK_GRAFT_GOLDEN_WRITE=1 prints the triples to commit
    // into resources/graft/golden_hashes.txt after an intended change.
    val sfKey = Paths.get(sfDir).getFileName.toString
    var goldenFailures = 0
    val goldenRows = GoldenHashes.queries.filter(selected).flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        graft.ext.DropMetrics.setContext(name)
        val (hash, exp, ok) = GoldenHashes.check(name, sfKey, fn(spark, sfDir))
        val status =
          if (exp.isEmpty) "no_golden" else if (ok) "pass" else "FAIL"
        if (status == "FAIL") goldenFailures += 1
        println(s"GOLDEN $name: $status ($hash)")
        if (sys.env.contains("SPARK_GRAFT_GOLDEN_WRITE"))
          println(s"GOLDEN_TRIPLE $sfKey $name $hash")
        s"""${jsonString(name)}: {"hash": ${jsonString(hash)}, "expected": ${
          exp.fold("null")(jsonString)}, "status": ${jsonString(status)}}"""
      }
    }
    Files.writeString(Paths.get(s"$outDir/golden_check.json"),
      goldenRows.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the bench membership sets scripts/bench_duck.py reads (one copy,
    // owned here in Scala)
    def names(ns: Set[String]): String =
      ns.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/query_sets.json"),
      s"""{"frozen_r15": ${names(Bench.frozenR15)}, """ +
        s""""naive_oracle_replay": ${names(SparkEntry.naiveOracleReplay)}}""")
    // round-level "rows dropped by caps" table (no-silent-caps audit) —
    // flush the async listener bus BEFORE clearing the context so every
    // execution's metrics land attributed
    try org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark)
    catch { case e: Throwable =>
      System.err.println(s"[verify] listener-bus flush failed: ${e.getMessage}")
    }
    graft.ext.DropMetrics.clearContext()
    val dropTable = graft.ext.DropMetrics.drainTotals()
    if (dropTable.isEmpty)
      println("DROPS none (no capped-operator drops observed this run)")
    else dropTable.foreach { case (name, n) => println(s"DROPS $name: $n") }
    spark.stop()
    // a golden mismatch is a VALUE regression in a production hash path —
    // fail the artifact (rc != 0), not just the log, so the driver's gate
    // catches it even when the ScalaTest suite is skipped. no_golden rows
    // (new SF, pre-pin) stay soft.
    if (goldenFailures > 0) {
      System.err.println(s"[verify] $goldenFailures golden FAILure(s)")
      sys.exit(3)
    }
  }
}
