package graft.internal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded per-session memo for built DataFrames (immutable plans) — the
  * shared machinery behind `Tables.load` and `SparkEntry.queries`.
  *
  * Keys are the session UUID STRING, not the session object: a cached
  * DataFrame strongly references its SparkSession, so a WeakHashMap keyed
  * by the session itself could never collect anything (value → key chain).
  * With string keys the map cannot leak sessions either — retention is
  * bounded by `maxEntries` LRU slots of plans, regardless of how many
  * sessions a long-lived JVM churns through.
  */
final class PlanMemo[K](maxEntries: Int = 256) {
  private val m =
    new java.util.LinkedHashMap[(String, K), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, K), DataFrame]): Boolean =
        size() > maxEntries
    }

  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.GraftColumnBridge.sessionUuid(spark)

  def getOrBuild(spark: SparkSession, k: K)(build: => DataFrame): DataFrame = {
    val key = (sessionKey(spark), k)
    val hit = m.synchronized(m.get(key))
    if (hit != null) hit
    else {
      // build outside the lock (construction can itself consult Spark);
      // racing builders produce equivalent immutable plans — last wins
      val built = build
      m.synchronized(m.put(key, built))
      built
    }
  }

  def get(spark: SparkSession, k: K): Option[DataFrame] =
    Option(m.synchronized(m.get((sessionKey(spark), k))))

  def clear(): Unit = m.synchronized(m.clear())
}
