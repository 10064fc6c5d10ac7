package graft
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.internal.RunRecorder
/** Correctness dump: each [[Harness.selected]] query's result → parquet,
  * its content hash → result_hashes.json (one line per query, sorted, so
  * two runs compare with `diff`), plus oracle_sql.json, for the DuckDB
  * compare (scripts/check_oracle.py),
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

  /** Order-independent content hash of a result, computed in Spark with no
    * rows collected: the row count, then the wrapping (ANSI off) sum of
    * each row's `xxhash64` over the columns in name order. */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`${c.replace("`", "``")}`"))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*))).head()
    f"${r.getLong(0)}%d:${if (r.isNullAt(1)) 0L else r.getLong(1)}%016x"
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = Harness.selected()
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a query that throws is recorded and the run goes on, so every other
    // output still lands; the run then exits non-zero naming them
    val failed = mutable.LinkedHashSet.empty[String]
    // rows dropped by caps per query, over its recorded executions
    val drops = mutable.TreeMap.empty[String, Long]
    def attempt[T](name: String)(body: => T): Option[T] =
      try {
        val (r, run) = RunRecorder.record(spark)(body)
        if (run.drops > 0) drops(name) = drops.getOrElse(name, 0L) + run.drops
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    val hashes = mutable.TreeMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) attempt(name) {
        val path = s"$outDir/$name"
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        resultHash(spark.read.parquet(path))
      }.foreach(hashes(name) = _)
    }
    Files.writeString(Paths.get(s"$outDir/result_hashes.json"), hashes
      .map { case (n, h) => s"${jsonString(n)}: ${jsonString(h)}" }
      .mkString("{\n", ",\n", "\n}\n"))
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
    // round-level "rows dropped by caps" table (no-silent-caps audit)
    if (drops.isEmpty)
      println("DROPS none (no capped-operator drops observed this run)")
    else drops.foreach { case (name, n) => println(s"DROPS $name: $n") }
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
