package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** The few Spark internals the harness needs, behind one object: a fresh
  * QueryExecution per materialisation (re-executing a DataFrame's cached
  * physical plan would reuse finished shuffle stages and time only the
  * last one) and a drain of the listener bus before counters are read. */
object Internals {

  /** A new QueryExecution over `df`'s analyzed plan: optimization,
    * physical planning and AQE preparation run again, exchanges are new. */
  def freshExecution(df: DataFrame): QueryExecution = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset
      .ofRows(session, df.queryExecution.analyzed).queryExecution
  }

  /** Runs `qe` under its own SQL execution id and returns the row count;
    * every row of the final operator is produced. */
  def materialise(qe: QueryExecution): Long =
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val rdd: RDD[InternalRow] = qe.toRdd
      rdd.count()
    }

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
