package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column batch/segment statistics (cdf: crates/cdf-kernel/src/
  * statistics.rs:32-69 `BatchStats`/`ColumnStats`, compute :517-560,
  * monotone merge :531-565) + the evidence-driven pruning pass
  * (cdf: crates/cdf-engine/src/statistics_pruning.rs:27-160).
  *
  * One aggregate pass computes all columns' stats (single stage,
  * map-side partial aggregation — no per-column jobs). For segment
  * stats we group by a segment id; the resulting tiny stats table is
  * the pruning manifest.
  */
object StatsOps {

  /** The full stats aggregate list (row_count + per-column
    * nulls/min/max) — public so callers can FUSE these into an
    * aggregation they already run (e.g. PackageWriter folds them into
    * its count+content-hash job: one pass, not two). */
  def statsAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("row_count") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"))
    }
  private def statsAggs(df: DataFrame, cols: Seq[String]): Seq[Column] =
    statsAggs(cols)

  /** In-flight stats via `Dataset.observe` (cdf batch stats computed
    * DURING the load, not as a second pass — SURVEY §2.5 "or
    * `Dataset.observe()` with custom metrics"): attach to any plan and
    * the metrics materialize as a by-product of whatever action runs. */
  def observed(df: DataFrame, cols: Seq[String]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val aggs = statsAggs(df, cols)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Whole-frame stats: one row, `row_count` + per-col nulls/min/max. */
  def batchStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = statsAggs(df, cols)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-segment stats manifest: `segmentExpr` assigns a segment id
    * (e.g. a partition bucket); output is one row per segment. */
  def segmentStats(df: DataFrame, segment: Column, cols: Seq[String]): DataFrame = {
    val aggs = statsAggs(df, cols)
    df.groupBy(segment.as("segment_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Pruning decision over a stats manifest for predicate
    * `lo <= value <= hi` on `statCol`: keep segments whose [min,max]
    * may intersect; segments with NULL stats are conservatively
    * retained (cdf law: "verified statistics may skip work but never
    * produce identity-bearing bytes", docs/performance-envelope.md:107). */
  def pruneSegments(stats: DataFrame, statCol: String, lo: Double, hi: Double): DataFrame = {
    val mn = col(s"${statCol}__min")
    val mx = col(s"${statCol}__max")
    stats.withColumn("pruning_outcome",
      when(mn.isNull || mx.isNull, "retained_conservatively")
        .when(mx >= lo && mn <= hi, "retained_may_match")
        .otherwise("pruned"))
  }
}
