package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulOps

class StatefulSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("flatMapGroupsWithState running mean accumulates across micro-batches") {
    val dir = Files.createTempDirectory("graft-stateful").toFile
    dir.deleteOnExit()
    Seq(("a", 2.0), ("a", 4.0), ("b", 10.0))
      .toDF("itemId", "value")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("itemId", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
      .as[StatefulOps.Obs]
    val q = StatefulOps.runningMean(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_running").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT itemId, n, total, mean FROM graft_running ORDER BY itemId")
        .as[(String, Long, Double, Double)].collect().toSeq
      assert(got == Seq(("a", 2L, 6.0, 3.0), ("b", 1L, 10.0, 10.0)))
    } finally q.stop()
  }

  test("transformWithState running mean matches the fMGWS form (RocksDB store)") {
    val dir = Files.createTempDirectory("graft-tws").toFile
    dir.deleteOnExit()
    Seq(("a", 2.0), ("a", 4.0), ("b", 10.0))
      .toDF("itemId", "value")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("itemId", StringType), StructField("value", DoubleType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
        .as[StatefulOps.Obs]
      val q = StatefulOps.runningMeanTws(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_running_tws").start()
      try {
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT itemId, n, total, mean FROM graft_running_tws ORDER BY itemId")
          .as[(String, Long, Double, Double)].collect().toSeq
        assert(got == Seq(("a", 2L, 6.0, 3.0), ("b", 1L, 10.0, 10.0)))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("timers close idle sessions; re-armed keys stay open (TTL'd state)") {
    val dir = Files.createTempDirectory("graft-timer").toFile
    dir.deleteOnExit()
    val schema = StructType(Seq(
      StructField("itemId", StringType), StructField("value", DoubleType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("graft-timer-ckpt").toFile
      val outDir = Files.createTempDirectory("graft-timer-out").toFile
      ckpt.deleteOnExit(); outDir.deleteOnExit()
      // One-batch runs over a shared checkpoint: each run processes what
      // is there (firing any already-expired timers) and terminates. Not
      // AvailableNow: with processing-time timers transformWithState asks
      // for another (no-data) batch after every batch, so an AvailableNow
      // query never ends on its own. The sink is parquet (memory sinks
      // cannot recover from a checkpoint).
      @annotation.nowarn("cat=deprecation") // Trigger.Once
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
          .as[StatefulOps.Obs]
        val q = StatefulOps.sessionClose(stream, gapMs = 700L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .option("path", outDir.getAbsolutePath)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .format("parquet").start()
        try assert(q.awaitTermination(60000L), "run did not end within 60 s")
        finally q.stop()
      }
      // run 1: two events for "a" -> arms a's timer, which cannot fire in
      // the same batch
      Seq(("a", 2.0), ("a", 3.0)).toDF("itemId", "value")
        .write.mode("append").parquet(dir.getAbsolutePath)
      runOnce()
      // quiet past the gap; run 2 (new data for "b") fires a's expired
      // timer, while b's freshly armed session stays open (its timer is
      // due after the batch's own timestamp)
      Thread.sleep(1500L)
      Seq(("b", 10.0)).toDF("itemId", "value")
        .write.mode("append").parquet(dir.getAbsolutePath)
      runOnce()
      val outSchema = StructType(Seq(
        StructField("itemId", StringType), StructField("n", LongType),
        StructField("total", DoubleType)))
      val got = spark.read.schema(outSchema).parquet(outDir.getAbsolutePath)
        .orderBy("itemId")
        .as[(String, Long, Double)].collect().toSeq
      // the idle key "a" closed EXACTLY once — the timer fired, the state
      // cleared (no duplicate emission across two runs), and the
      // aggregate is intact; "b" is still open
      assert(got.filter(_._1 == "a") == Seq(("a", 2L, 5.0)))
      assert(got.groupBy(_._1).forall(_._2.size == 1))
      assert(!got.exists(_._1 == "b"))
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("GraftExtensions injects native functions at session build time") {
    // the shared session wasn't built with the extension; apply it manually
    // through the registry path and confirm SQL-level resolution
    graft.functions.VectorFunctions.register(spark)
    val d = spark.sql(
      "SELECT fvec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].head()
    assert(d == 11.0)
  }
}
