package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[sql]` Arrow interchange (the machinery under
  * PySpark's `mapInArrow`): serialize a DataFrame's partitions as Arrow IPC
  * record batches and re-enter a DataFrame from such batches. This is the
  * columnar hand-off shape for out-of-process media codecs — an external
  * worker (Python/pyarrow, a native decoder) consumes record batches and
  * returns record batches, with zero per-row serialization on either side.
  * Scala exposes no public equivalent of `mapInArrow`, hence the shim
  * (same pattern as [[GraftColumnBridge]]; classic sessions only).
  */
object GraftArrowBridge {

  /** One serialized Arrow record batch per element (partition-aligned). */
  def toBatchRdd(df: DataFrame): RDD[Array[Byte]] =
    df.asInstanceOf[classic.Dataset[Row]].toArrowBatchRdd

  /** Write the DataFrame as SELF-CONTAINED Arrow IPC stream files (schema
    * preamble + one record batch each) under `dir`, one file per emitted
    * batch, written BY THE EXECUTORS — the driver sees only the returned
    * file paths, never the rows. This is the data plane for out-of-process
    * model fitting ([[graft.providers.ProcessProvider]]): the worker
    * `pyarrow.ipc.open_stream`s each file directly. In local mode `dir` is
    * a local temp dir; on a cluster it must be a shared filesystem / object
    * store mount visible to both executors and the worker host.
    *
    * @param maxRecordsPerBatch rows per IPC file (bounds worker-side batch
    *                           memory, same knob as Arrow's collect path) */
  def toIpcFiles(
      df: DataFrame,
      dir: String,
      maxRecordsPerBatch: Long = 10000L): Seq[String] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val schema = ds.schema
    val timeZone = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    ds.queryExecution.toRdd.mapPartitionsWithIndex { (part, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val chunks = ArrowConverters.toBatchWithSchemaIterator(
          rows, schema, maxRecordsPerBatch,
          Long.MaxValue, // size cap unused: the record cap is the contract
          timeZone,
          true,  // errorOnDuplicatedFieldNames
          false) // largeVarTypes
        chunks.zipWithIndex.map { case (bytes, i) =>
          val f = new java.io.File(dir, f"part-$part%05d-$i%05d.arrow")
          val out = new java.io.FileOutputStream(f)
          try out.write(bytes) finally out.close()
          f.getAbsolutePath
        }
      }
    }.collect().toSeq.sorted
  }

  /** One SELF-CONTAINED Arrow IPC stream (schema preamble + one record
    * batch) per element — the chunk shape an external
    * `pyarrow.ipc.open_stream` consumer can read without out-of-band
    * schema transport, unlike [[toBatchRdd]]'s bare batches. */
  def toSelfContainedBatchRdd(
      df: DataFrame,
      maxRecordsPerBatch: Long = 10000L): RDD[Array[Byte]] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val schema = ds.schema
    val timeZone = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    ds.queryExecution.toRdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else ArrowConverters.toBatchWithSchemaIterator(
        rows, schema, maxRecordsPerBatch, Long.MaxValue, timeZone,
        true, false)
    }
  }

  /** Parse SELF-CONTAINED Arrow IPC streams ([[toSelfContainedBatchRdd]]
    * shape, or an external worker's `pyarrow.ipc.new_stream` output)
    * back into a DataFrame of `schema`. */
  def fromSelfContainedBatchRdd(
      spark: SparkSession,
      batches: RDD[Array[Byte]],
      schema: StructType): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val rows = batches.mapPartitions { it =>
      ArrowConverters.fromBatchWithSchemaIterator(it, TaskContext.get())._1
    }
    s.internalCreateDataFrame(rows, schema)
  }
}
