package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Iterate-to-convergence PageRank in integer fixed-point — the
  * operator form of the catalog's q_pagerank demo (GraphQueries), which
  * unrolls exactly 3 rounds so its DuckDB oracle stays expressible.
  * This version runs until the rank vector stops changing, with the
  * same loop discipline as TextDedup.connectedComponents: per-round
  * lineage truncation via `localCheckpoint`, convergence decided by a
  * cheap aggregate (never a driver-side row materialization), and a
  * typed error instead of a silent partial answer when the bound is
  * hit.
  *
  * Arithmetic: ranks in micro-units (initial mass 1,000,000 per node);
  * one round is R'(v) = floor(0.15·10⁶) + (85·Σ (R(u)·w div W_u)) div
  * 100 — floor division only, so the fixpoint is EXACT and
  * partitioning-independent (no double summation anywhere). Because
  * the state space is finite integers and every round is deterministic,
  * "unchanged sum AND unchanged max" is a true fixpoint test.
  *
  * 100 TB shape: per round, one join keyed on src and one aggregate
  * keyed on dst over (node, rank) longs — edge weights and out-degrees
  * are computed once and persisted; the event/text rows never re-enter
  * the loop. Dangling-node mass is absorbed, as in q_pagerank.
  *
  * Reference has no graph surface (cdf sql is recursion-free); this is
  * builder-brief scope, algorithm from Page et al. 1999. */
object PageRankOps {

  /** @param edges  (srcCol, dstCol) directed edge list, one row per
    *               occurrence — parallel edges become weight.
    * @return (node, rank) for every node appearing as src or dst. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val e = CacheScope.persisted(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("wgt")))
    val outd = e.groupBy("src").agg(sum("wgt").as("outw"))
    val ew = CacheScope.persisted(e.join(outd, "src"))
    val nodes = CacheScope.persisted(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())

    def fingerprint(r: DataFrame): (java.math.BigDecimal, Long) = {
      val row = r.agg(
        sum(col("r").cast("decimal(38,0)")).as("s"),
        max(col("r")).as("m")).head()
      (Option(row.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO),
        if (row.isNullAt(1)) 0L else row.getLong(1))
    }

    var rank = CacheScope.localCheckpointed(nodes.withColumn("r", lit(1000000L)))
    var prev = fingerprint(rank)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val sums = ew.join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(r * wgt) div outw").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val next = CacheScope.localCheckpointed(nodes.join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r")))
      val fp = fingerprint(next)
      converged = fp == prev
      prev = fp
      rank = next
      it += 1
    }
    if (!converged)
      throw graft.core.GraftError.Plan(
        s"pageRank did not converge in $maxIters rounds; integer " +
          "fixed-point cycles are possible only on adversarial graphs — " +
          "raise maxIters or accept the last iterate explicitly")
    rank
  }
}
