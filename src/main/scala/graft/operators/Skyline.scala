package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** Multi-dimensional skyline (Pareto frontier) for d ≥ 3, where the
  * 2-D sorted-window trick (q_pareto_frontier) no longer applies —
  * the classic distributed two-phase scheme:
  *
  *  1. LOCAL skyline per partition (block-nested-loop over one
  *     partition's rows — each partition's survivors are a superset
  *     of its global-skyline members, so this phase is a safe filter
  *     that typically discards almost everything);
  *  2. global MERGE over the union of local skylines — a single task
  *     over Σ|local skylines|, which is bounded by d·(global skyline
  *     size) in expectation. The merge contract is ENFORCED, not
  *     assumed: the local-survivor union is counted first; above
  *     `mergeBound` an automatic intermediate pass re-runs the local
  *     skyline on √partitions coalesced groups (anti-correlated data
  *     shrinks superlinearly when partitions merge), and if the union
  *     STILL exceeds the bound the operator fails loudly with
  *     [[graft.core.GraftError.Plan]] instead of letting one task sort
  *     an unbounded spill — the typed version of the contract every
  *     skyline system documents.
  *
  * Dominance: a dominates b when a ≥ b on every dimension and > on at
  * least one (all dimensions maximize; callers negate to minimize).
  * The skyline SET is unique — exact ties on all dimensions survive
  * together — so the result is deterministic and partition-count
  * invariant. All comparisons run on LONGS (exact-arithmetic
  * discipline). */
object Skyline {

  /** Rows of `df` not strictly dominated on `dimCols` (LongType, all
    * maximize). Keeps every column of `df`. `mergeBound` caps the row
    * count the single-task merge may see (after one automatic
    * intermediate local pass); beyond it the operator raises
    * [[graft.core.GraftError.Plan]]. */
  def skyline(df: DataFrame, dimCols: Seq[String],
      mergeBound: Long = 2000000L): DataFrame = {
    require(dimCols.nonEmpty)
    val idxs = dimCols.map(df.schema.fieldIndex).toArray
    val schema = df.schema

    def localSkyline(it: Iterator[Row]): Iterator[Row] = {
      val survivors = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Row)]
      it.foreach { r =>
        val v = idxs.map(i => r.getLong(i))
        var dominated = false
        var j = 0
        while (j < survivors.length && !dominated) {
          val s = survivors(j)._1
          // does s dominate v?
          var geAll = true; var gtAny = false; var k = 0
          while (k < v.length) {
            if (s(k) < v(k)) geAll = false
            if (s(k) > v(k)) gtAny = true
            k += 1
          }
          if (geAll && gtAny) dominated = true
          else {
            // does v dominate s? drop s
            var geAll2 = true; var gtAny2 = false; var k2 = 0
            while (k2 < v.length) {
              if (v(k2) < s(k2)) geAll2 = false
              if (v(k2) > s(k2)) gtAny2 = true
              k2 += 1
            }
            if (geAll2 && gtAny2) { survivors.remove(j); j -= 1 }
          }
          j += 1
        }
        if (!dominated) survivors.append((v, r))
      }
      survivors.iterator.map(_._2)
    }

    val sp = df.sparkSession
    val local0 = graft.core.CacheScope.persisted(sp.createDataFrame(
      df.rdd.mapPartitions(localSkyline), schema))
    // merge-contract gate: the single merge task must see a BOUNDED
    // union. One count job over the (persisted, tiny) survivor set —
    // metadata-priced next to the full-data local pass. The caller's
    // CacheScope releases the persists once the result has run.
    val n0 = local0.count()
    val local =
      if (n0 <= mergeBound) local0
      else {
        // anti-correlated data: merging partitions lets survivors
        // dominate each other — one intermediate pass on √P groups,
        // RANGE-partitioned by the first dimension so a candidate and
        // its same-first-dim dominators collocate deterministically
        // (any partitioning is a safe filter; this one actually shrinks)
        val parts = math.max(1, math.sqrt(local0.rdd.getNumPartitions.toDouble).toInt)
        val second = graft.core.CacheScope.persisted(sp.createDataFrame(
          local0.repartitionByRange(parts, col(dimCols.head).desc, col(dimCols.last))
            .rdd.mapPartitions(localSkyline), schema))
        val n1 = second.count()
        if (n1 > mergeBound)
          throw graft.core.GraftError.Plan(
            s"skyline merge contract violated: $n1 local survivors after two " +
              s"local passes exceed mergeBound=$mergeBound — the frontier over " +
              s"(${dimCols.mkString(", ")}) is too anti-correlated for a " +
              "single-task merge; reduce dimensions or raise the bound")
        second
      }
    // the merge phase sees only bounded local survivors; one task is the point
    sp.createDataFrame(
      local.repartition(1).rdd.mapPartitions(localSkyline), schema)
  }
}
