package graft.internal

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the SQL executions a block of code starts on the calling thread.
  *
  * The block runs under a unique job tag; one listener per SparkContext
  * counts `SparkListenerSQLExecutionStart` events carrying a live tag, and
  * the listener bus is drained before the count is read. SQL executions,
  * not jobs, are the observable: an uncached `spark.read.parquet` runs a
  * schema-inference job but no SQL execution (so whichever query first
  * touches a table is not penalised), while `collect`, writes and even a
  * lazy `localCheckpoint` each start one. The tag keeps executions that
  * other threads start (a streaming micro-batch, a concurrent suite) out
  * of the count.
  */
object SqlExecutionProbe {
  private final class Counter extends SparkListener {
    val live = new ConcurrentHashMap[String, AtomicInteger]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.foreach(t => Option(live.get(t)).foreach(_.incrementAndGet()))
      case _ =>
    }
  }

  // weak keys: a stopped context (and its bus, which holds the listener)
  // is collectable
  private val counters = new java.util.WeakHashMap[SparkContext, Counter]()
  private val nextTag = new AtomicLong()

  private def counter(sc: SparkContext): Counter = counters.synchronized {
    Option(counters.get(sc)).getOrElse {
      val c = new Counter
      sc.addSparkListener(c)
      counters.put(sc, c)
      c
    }
  }

  /** Run `body`; return its result and the number of SQL executions it
    * started on this thread. */
  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val c = counter(sc)
    val tag = s"graft-sql-probe-${nextTag.incrementAndGet()}"
    val n = new AtomicInteger()
    c.live.put(tag, n)
    sc.addJobTag(tag)
    try {
      val r = body
      org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark)
      (r, n.get)
    } finally {
      sc.removeJobTag(tag)
      c.live.remove(tag)
    }
  }
}
