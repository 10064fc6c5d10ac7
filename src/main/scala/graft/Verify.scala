package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[Harness.selected]] query's result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py),
  * in the [[Harness.session]] posture (`SPARK_GRAFT_AQE=true` is the AQE-on
  * robustness sweep: every query's VALUES must survive adaptive
  * re-planning). Usage: `Verify <sfDir> <outDir>`. Exits 2 when a query
  * threw, 3 on a golden mismatch. */
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
    val selected = Harness.selected()
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a query that throws is recorded and the run goes on, so every other
    // output still lands; the run then exits non-zero naming them
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        graft.ext.DropMetrics.setContext(name)
        attempt(name)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
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
    // a query whose dump threw is not rebuilt here: it already failed the run
    val goldenNames = GoldenHashes.queries.filter(n => selected(n) && !failed(n))
    val goldenRows = goldenNames.flatMap { name =>
      SparkEntry.queries.get(name).flatMap { fn =>
        graft.ext.DropMetrics.setContext(name)
        attempt(name)(GoldenHashes.check(name, sfKey, fn(spark, sfDir)))
      }.map { case (hash, exp, ok) =>
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
    // a query that threw has no value to compare: exit 2, ahead of the
    // golden check. A golden mismatch is a VALUE regression in a
    // production hash path: exit 3. Both fail the run, not just the log,
    // so a caller that checks the exit code catches them even when the
    // ScalaTest suite is skipped. no_golden rows (new SF, pre-pin) stay
    // soft.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} query failure(s): " +
        failed.mkString(", "))
    if (goldenFailures > 0)
      System.err.println(s"[verify] $goldenFailures golden FAILure(s)")
    if (failed.nonEmpty) sys.exit(2)
    if (goldenFailures > 0) sys.exit(3)
  }
}
