package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-overlap join — the third member of the temporal-join family
  * ([[AsOfJoin]]: point→latest-point; band join: point-distance; here:
  * interval×interval overlap). Spark has no native interval join: the
  * declarative form `l.start < r.end AND r.start < l.end` plans a
  * broadcast-nested-loop / cartesian product, which is quadratic in every
  * equi-key group and a non-starter at corpus scale.
  *
  * Plan (the standard granule-bucketing decomposition): each interval
  * explodes to the fixed-width GRANULES it covers (`sequence` — bounded
  * by interval span / `granuleWidth`), the two sides equi-join on
  * (keys, granule) — a shuffle-hash join — and a pair is KEPT only at
  * the granule containing `greatest(l.start, r.start)`: two overlapping
  * intervals both cover that granule (overlap means `max(start) <
  * min(end)`), and it is unique per pair, so every overlapping pair
  * survives exactly once with NO distinct/dedup exchange. Non-overlapping co-granule pairs fail the residual
  * predicate. The pair join is pinned `shuffle_hash`: the granule
  * explode makes Catalyst's size estimate collapse, and left to itself
  * the planner would BROADCAST a corpus-sized side (the
  * banded-dedup-join hazard). A shuffled-hash build holds one
  * partition's right rows in memory, bounded by granuleWidth tuning +
  * salting (an un-salted hot partition can OOM).
  *
  * Contracts: intervals are HALF-OPEN `[start, end)` over a numeric axis
  * (epoch days/seconds — cast timestamps upstream); touching intervals
  * (`a.end == b.start`) do NOT overlap; empty/inverted intervals
  * (`end <= start`) and null endpoints never match (filtered, the SQL
  * convention for null predicates). Pick `granuleWidth` near the TYPICAL
  * interval length: per-interval fan-out is `span/width + 1` rows
  * (⌈typical/width⌉ ≈ 1-2), and each (key, granule) bucket joins
  * hash-locally. Skewed hot granules have a built-in two-level
  * mitigation: `saltHotBuckets` (see the param doc) splits only the
  * buckets a narrow counting pass proves hot, with the left side
  * replicating only into those buckets' salt slices.
  */
object IntervalJoin {

  /** @param keyCols  equi-key columns present on BOTH sides (may be empty
    *                 for a pure temporal join — then granules alone
    *                 partition the work)
    * @param rightPrefix every right column is emitted as
    *                 `rightPrefix + name` (keys excluded — carried once)
    * @param saltHotBuckets two-level skew mitigation, off at the default
    *                 1: a first narrow pass counts RIGHT rows per
    *                 (keys, granule); buckets over `hotThreshold` rows
    *                 are salted `saltHotBuckets` ways on the right and
    *                 the LEFT replicates only into hot buckets' salt
    *                 slices (cold buckets pay nothing — salt 0 both
    *                 sides). Each right row lands in exactly one salt
    *                 slice, so pairs still emit exactly once. The hot
    *                 set rides a broadcast (one row per HOT bucket —
    *                 few by definition), never a driver collect.
    * @param hotThreshold right-rows-per-bucket above which a bucket is
    *                 salted (only read when saltHotBuckets > 1)
    */
  def overlapJoin(
      left: DataFrame, right: DataFrame,
      keyCols: Seq[String],
      lStart: String, lEnd: String,
      rStart: String, rEnd: String,
      granuleWidth: Long,
      rightPrefix: String = "r_",
      saltHotBuckets: Int = 1,
      hotThreshold: Long = 1000000L): DataFrame = {
    require(granuleWidth >= 1, s"granuleWidth must be >= 1, got $granuleWidth")
    require(saltHotBuckets >= 1,
      s"saltHotBuckets must be >= 1, got $saltHotBuckets")
    require(hotThreshold >= 1, s"hotThreshold must be >= 1, got $hotThreshold")
    Seq("__g", "__gmin", "__gmax", "__salt", "__hot").foreach(c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"input column '$c' collides with overlapJoin internals"))
    // prefixed right columns must not shadow a left column (a left frame
    // already holding e.g. "r_start" would emit ambiguous duplicates)
    right.columns.filterNot(c => keyCols.contains(c)).foreach { c =>
      require(!left.columns.contains(s"$rightPrefix$c"),
        s"left column '$rightPrefix$c' collides with the prefixed right " +
          s"column for '$c' — pick a different rightPrefix")
    }
    def granulated(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(s).isNotNull && col(e).isNotNull && col(e) > col(s))
        .withColumn("__gmin", floor(col(s) / granuleWidth))
        .withColumn("__gmax", floor((col(e) - 1) / granuleWidth))
        .withColumn("__g", explode(sequence(col("__gmin"), col("__gmax"))))
        .drop("__gmin", "__gmax")
    val l0 = granulated(left, lStart, lEnd)
    val rg = granulated(right, rStart, rEnd)
    val bucketCols = keyCols :+ "__g"
    val (l, rSalted, joinKeys) =
      if (saltHotBuckets == 1) (l0, rg, bucketCols)
      else {
        // pass 1 (narrow): which (keys, granule) buckets are hot on the
        // right. One row PER HOT BUCKET — broadcast-sized by definition
        // of "hot" (few buckets hold most rows)
        val hot = rg.groupBy(bucketCols.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > hotThreshold)
          .select(bucketCols.map(col) :+ lit(true).as("__hot"): _*)
        // right rows in a hot bucket spread over the salt slices by an
        // endpoint hash (deterministic — safe under task retry, unlike a
        // random/monotonic id; a hot bucket made of ONE identical
        // interval repeated stays unsplit, the irreducible case); cold
        // rows take slice 0
        val rs0 = rg.join(broadcast(hot), bucketCols, "left")
          .withColumn("__salt", when(col("__hot").isNotNull,
              pmod(xxhash64(keyCols.map(col) :+ col(rStart) :+ col(rEnd): _*),
                lit(saltHotBuckets.toLong)).cast("int"))
            .otherwise(lit(0)))
          .drop("__hot")
        // left rows replicate into EVERY salt slice of a hot bucket
        // (cold buckets replicate nothing — one row, slice 0)
        val ls = l0.join(broadcast(hot), bucketCols, "left")
          .withColumn("__salt", explode(when(col("__hot").isNotNull,
              sequence(lit(0), lit(saltHotBuckets - 1)))
            .otherwise(sequence(lit(0), lit(0)))))
          .drop("__hot")
        (ls, rs0, bucketCols :+ "__salt")
      }
    val r = rSalted.columns.foldLeft(rSalted) { (d, c) =>
      if (keyCols.contains(c) || c == "__g" || c == "__salt") d
      else d.withColumnRenamed(c, s"$rightPrefix$c")
    }
    val rs = col(s"$rightPrefix$rStart")
    val re = col(s"$rightPrefix$rEnd")
    l.join(r.hint("shuffle_hash"), joinKeys)
      // overlap residual + the keep-once granule: both sides cover the
      // granule of the later start, and only there does the pair emit
      // (each right row lives in exactly ONE salt slice, so salting
      // never duplicates a pair)
      .filter(col(lStart) < re && rs < col(lEnd)
        && col("__g") === floor(greatest(col(lStart), rs) / granuleWidth))
      .drop(joinKeys.filterNot(keyCols.contains): _*)
  }
}
