package graft.operators

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Distributed global row_number / NTILE — the TeraSort ranking shape.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY collapses
  * every row into ONE task (Spark even logs "No Partition Defined for
  * Window operation"): a 100 TB global rank through the built-in
  * window operator is a single-executor sort. This operator keeps it
  * distributed:
  *
  *  1. `repartitionByRange` + `sortWithinPartitions` — Spark's sampled
  *     range exchange, the same machinery as a distributed ORDER BY;
  *  2. one cheap counting job over the sorted partitions (count per
  *     partition id — numPartitions rows to the driver, nothing else);
  *  3. prefix-sum the counts into per-partition rank offsets,
  *     broadcast them, and stamp `offset(pid) + local index` in a
  *     single order-preserving `mapPartitions` pass (genuine
  *     per-partition imperative logic — the one place the RDD-ish
  *     escape hatch earns its keep, because a Window over pid would
  *     re-shuffle every row a second time).
  *
  * The sorted frame is persisted so the counting job and the stamping
  * job see the SAME range boundaries (range sampling re-runs
  * otherwise, and a boundary shift between jobs would corrupt every
  * offset). Ranks require a TOTAL order (pass tie-breaking columns) —
  * with one, the output is unique and partition-count invariant.
  */
object GlobalRank {

  /** Append a 1-based global `rankCol` ordered by `order` (must be a
    * total order). The sorted input it persists is released by the
    * caller's `core.CacheScope`. */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column],
      rankCol: String = "rn", numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = graft.core.CacheScope.persisted(df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*))
    // BOTH jobs run over this one RDD instance: same lineage ⇒ same
    // partition layout for the count pass and the stamp pass (a second
    // Dataset plan could be AQE-re-planned to a different layout, and
    // TaskContext ids would no longer index the offsets array)
    val sortedRdd = sorted.rdd
    // one count per task — the only data this moves is (pid, count)
    val counts = sortedRdd
      .mapPartitionsWithIndex { case (pid, it) => Iterator((pid, it.size.toLong)) }
      .collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val schema = StructType(sorted.schema.fields :+ StructField(rankCol, LongType, nullable = false))
    val stamped = sortedRdd.mapPartitionsWithIndex { case (pid, it) =>
      val base = bc.value(pid)
      var i = 0L
      it.map { r => i += 1; Row.fromSeq(r.toSeq :+ (base + i)) }
    }
    df.sparkSession.createDataFrame(stamped, schema)
  }

  /** SQL NTILE(k) OVER (ORDER BY order) semantics, distributed: the
    * first (n mod k) buckets hold ⌈n/k⌉ rows, the rest ⌊n/k⌋. */
  def ntile(df: DataFrame, order: Seq[Column], k: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(k > 0)
    import org.apache.spark.sql.functions._
    val ranked = withGlobalRowNumber(df, order, rankCol = "__rn")
    val n = ranked.count() // served from the persisted sorted frame
    val q = n / k
    val m = n % k
    // rank ≤ m(q+1): big buckets of size q+1; after: size-q buckets.
    // floor() because Column `/` is double division; ranks < 2^53 so
    // the doubles are exact. The otherwise-branch q=0 case (k > n)
    // yields Infinity but is never selected (all ranks ≤ m(q+1)=n).
    val bucket = when(lit(m) > 0 && col("__rn") <= m * (q + 1),
        floor((col("__rn") - 1) / (q + 1)) + 1)
      .otherwise(lit(m) + floor((col("__rn") - 1 - m * (q + 1)) / q) + 1)
    ranked.withColumn(bucketCol, bucket.cast("int")).drop("__rn")
  }
}
