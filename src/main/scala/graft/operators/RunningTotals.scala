package graft.operators

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Distributed per-group running totals — the prefix-sum shape behind
  * rank statistics (Gini, Mann-Whitney midranks, Lorenz curves,
  * empirical CDFs, Kolmogorov–Smirnov).
  *
  * `sum(x) OVER (PARTITION BY g ORDER BY v)` runs ONE task per group:
  * at 100 TB a handful of groups means a handful of executors sorting
  * everything. This operator keeps the running total distributed the
  * same way [[GlobalRank]] distributes row_number:
  *
  *  1. `repartitionByRange(groupCols ++ order)` + sortWithinPartitions
  *     — Spark's sampled range exchange; a group spans a RUN of
  *     consecutive partitions, so per-group running state only needs a
  *     per-(partition, group) boundary summary;
  *  2. one counting job collecting per-(partition, group) subtotals —
  *     partitions × distinct-groups-per-partition-boundary rows to the
  *     driver (each partition contributes at most its few edge groups;
  *     bounded, never row data);
  *  3. prefix-sum those subtotals per group into per-partition starting
  *     offsets, broadcast, and stamp `offset + local running sum` in
  *     one order-preserving mapPartitions pass.
  *
  * Values are accumulated as LONGS (callers pre-scale decimals — the
  * exact-arithmetic discipline every oracle-gated statistic here
  * already follows), so totals are exact and partition-count
  * invariant. Requires `order` to be a total order within each group
  * for a deterministic stamping (ties are fine for SUMS — any tie
  * order yields the same running total at equal keys only if the
  * caller aggregates per distinct key first; pass tie-breakers when
  * per-row totals must be unique).
  *
  * Cache lifecycle: the range-sorted input is persisted so the
  * boundary-collect job and the stamping job see IDENTICAL partition
  * contents (re-sampling the range exchange between jobs could shift
  * boundaries). The result is lazy over that persist, so the operator
  * does not release it: the caller's `core.CacheScope` does once the
  * result has run (one scope per query in Verify, Bench and
  * tools.Probe).
  */
object RunningTotals {

  /** Append `outCol` = running sum of `valueCol` (LongType) within
    * `groupCols`, ordered by `order`, and `rankOut` = running 1-based
    * row number within the group. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      valueCol: String, outCol: String = "run_sum",
      rankOut: String = "run_rn", numPartitions: Int = 0): DataFrame =
    perGroupMulti(df, groupCols, order, Seq(valueCol), Seq(outCol), rankOut, numPartitions)

  /** Multi-column variant: one range exchange + one boundary collect +
    * one stamping pass appends a running sum PER entry of `valueCols`
    * (all LongType) — the Kolmogorov–Smirnov shape, where both samples'
    * ECDF numerators advance over the same merged value histogram. */
  def perGroupMulti(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      valueCols: Seq[String], outCols: Seq[String],
      rankOut: String = "run_rn", numPartitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty && valueCols.length == outCols.length,
      "valueCols and outCols must align")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val gIdx = groupCols.map(c => df.schema.fieldIndex(c))
    val vIdx = valueCols.map(c => df.schema.fieldIndex(c)).toArray
    val nv = vIdx.length
    vIdx.foreach { i =>
      require(df.schema(i).dataType == LongType,
        s"${df.schema(i).name} must be LongType (pre-scale decimals to exact longs)")
    }
    val keyCols = groupCols.map(org.apache.spark.sql.functions.col) ++ order
    val sorted = graft.core.CacheScope.persisted(df.repartitionByRange(parts, keyCols: _*)
      .sortWithinPartitions(keyCols: _*))
    // one pass collecting boundary subtotals; the same RDD instance is
    // reused for stamping so range boundaries cannot shift between the
    // two jobs (GlobalRank's law). Only a partition's FIRST and LAST
    // group can span a partition edge — interior groups start at offset
    // zero by construction — so the driver sees at most 2 rows per
    // partition, O(partitions), never O(groups): the difference between
    // a metadata-sized collect and a driver bottleneck when the group
    // key is high-cardinality (e.g. the Mann-Whitney value histogram).
    val sortedRdd = sorted.rdd
    val subtotals = sortedRdd.mapPartitionsWithIndex { case (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], (Array[Long], Long)]
      it.foreach { r =>
        val k = gIdx.map(r.get)
        val (s, c) = m.getOrElse(k, (new Array[Long](nv), 0L))
        var i = 0
        while (i < nv) {
          if (!r.isNullAt(vIdx(i))) s(i) += r.getLong(vIdx(i))
          i += 1
        }
        m(k) = (s, c + 1L)
      }
      if (m.isEmpty) Iterator.empty
      else {
        val ks = m.keysIterator.toVector
        val edge = Set(ks.head, ks.last)
        edge.iterator.map { k => val (s, c) = m(k); (pid, k, s, c) }
      }
    }.collect()
    // per-group prefix over ascending pid → starting (sums, count)
    // offsets for each (pid, group)
    val offsets: Map[(Int, Seq[Any]), (Array[Long], Long)] = {
      val byGroup = subtotals.groupBy(_._2)
      byGroup.iterator.flatMap { case (k, arr) =>
        val sortedArr = arr.sortBy(_._1)
        val runS = new Array[Long](nv); var runC = 0L
        sortedArr.map { case (pid, _, s, c) =>
          val off = ((pid, k), (runS.clone(), runC))
          var i = 0
          while (i < nv) { runS(i) += s(i); i += 1 }
          runC += c
          off
        }
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(sorted.schema.fields ++
      outCols.map(c => StructField(c, LongType, nullable = false)) :+
      StructField(rankOut, LongType, nullable = false))
    val stamped = sortedRdd.mapPartitionsWithIndex { case (pid, it) =>
      val offs = bc.value
      var curKey: Seq[Any] = null
      var runS: Array[Long] = new Array[Long](nv)
      var runC = 0L
      it.map { r =>
        val k = gIdx.map(r.get)
        if (k != curKey) {
          curKey = k
          val (s0, c0) = offs.getOrElse((pid, k), (new Array[Long](nv), 0L))
          runS = s0.clone(); runC = c0
        }
        var i = 0
        while (i < nv) {
          if (!r.isNullAt(vIdx(i))) runS(i) += r.getLong(vIdx(i))
          i += 1
        }
        runC += 1L
        Row.fromSeq(r.toSeq ++ runS.toSeq :+ runC)
      }
    }
    spark.createDataFrame(stamped, schema)
  }
}
