package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

import graft.catalog.Catalog
import graft.core.{CacheScope, Descriptor}
import graft.expr.Expr

/** Plan-quality regression tests: the `.explain` discipline encoded as
  * assertions, so a refactor that silently degrades a plan (loses a
  * pushdown, turns an equi-join into a nested loop) fails CI instead
  * of shipping a 100 TB regression. */
class PlanAuditSpec extends SparkSpec {

  /** The final adaptive plan of a catalog query at sf0.01, read after
    * the query has run to a noop sink. */
  private def planOf(name: String): String = CacheScope {
    finalPlan(Catalog.byName(name).run(spark, sf("sf0.01"))).toString
  }

  /** Runs `df`'s own plan, dropping every row (the noop sink's work),
    * and returns the plan that ran: for an adaptive plan, its final
    * plan (`isFinalPlan=true`, without the initial plan), with the
    * query stages, reused exchanges and metrics of the run. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plan audit")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every broadcast exchange in `p` (an executed plan): through
    * adaptive plans, query stages, cached relations and subqueries. A
    * reused exchange counts where it was built. */
  private def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    (p match { case b: BroadcastExchangeExec => Seq(b); case _ => Nil }) ++ inner.flatMap(broadcasts)
  }

  test("every forced broadcast is over a bounded side") {
    // with the planner's size guard off, only forced hints broadcast
    def noAuto[A](body: => A): A =
      try graft.core.Sessions.withConfs(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))(CacheScope(body))
      finally graft.core.Scratch.reclaim()
    // rows built per broadcast, keyed by the built side's columns (and
    // their rank among exchanges with the same columns)
    def builtRows(q: graft.core.QueryDef, dir: String): Map[String, Long] = noAuto {
      broadcasts(finalPlan(q.run(spark, dir))).groupBy(_.output.map(_.name).mkString(","))
        .toSeq.flatMap { case (cols, bs) =>
          bs.zipWithIndex.map { case (b, i) => s"[$cols]#$i" -> b.metrics("numOutputRows").value }
        }.toMap
    }
    val hinted = Catalog.all.filter(q =>
      noAuto(broadcasts(q.run(spark, sf()).queryExecution.executedPlan).nonEmpty))
    assert(hinted.nonEmpty, "no catalog query forces a broadcast")
    info(s"${hinted.size} queries force a broadcast: ${hinted.map(_.name).mkString(", ")}")
    val tier = java.nio.file.Files.createTempDirectory("graft_tier_x10").toFile
    try {
      graft.tools.ScaleStage.stage(spark, sf("sf0.01"), tier.toString, 10)
      val grown = for {
        q <- hinted
        x1 = builtRows(q, sf("sf0.01"))
        (side, rows) <- builtRows(q, tier.toString) if rows > 2 * x1.getOrElse(side, 0L)
      } yield s"${q.name} $side: ${x1.getOrElse(side, 0L)} rows at 1x, $rows at 10x"
      assert(grown.isEmpty, grown.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tier)
  }

  test("scan queries push filters and prune columns at the parquet scan") {
    val p = planOf("q_scan_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("ReadSchema") && !p.contains("l_shipdate")) // pruned out
  }

  test("dimension joins broadcast; no nested-loop or cartesian anywhere in the catalog's joins") {
    assert(planOf("q3_join").contains("BroadcastHashJoin"))
    assert(planOf("q_brand_join_agg").contains("BroadcastHashJoin"))
    for (q <- Seq("q3_join", "q_brand_join_agg", "q_region_rollup",
        "q_asof_join", "q_range_join", "q_merge_upsert", "q_ngram_jaccard")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated to a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated to a nested loop")
    }
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(planOf("q_topk").contains("TakeOrderedAndProject"))
  }

  test("decontamination broadcasts the eval gram set; no shuffle of the bench side") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval-set join must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("semdedup broadcasts the codebook and joins pairs inside clusters only") {
    val p = planOf("q_semdedup")
    assert(p.contains("BroadcastHashJoin"), "centroid table must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the pair join must key on cluster, never all-pairs")
  }

  test("semantic decontamination is one narrow kernel pass (no join, no pair explosion)") {
    val p = planOf("q_embed_decontaminate")
    // r11: the eval suite rides the plan as a MaxCosineExpr constant
    // (broadcast-codebook pattern) — the scoring stage has NO join of
    // any kind and no shuffle before the final orderBy
    assert(p.contains("graft_max_cosine"), "eval suite must ride the kernel")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "scoring must not join at all")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the final orderBy may exchange:\n$p")
  }

  test("LM coverage broadcasts the trigram model into the probe") {
    val p = planOf("q_lm_coverage")
    assert(p.contains("BroadcastHashJoin"), "model vocabulary must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("knn classify broadcasts the PROBE side; the labeled corpus never shuffles embeddings") {
    val p = planOf("q_knn_classify")
    // the probe batch rides a broadcast into a per-partition score pass
    // (a nested-loop against a broadcast probe IS the intended shape —
    // scoring is all-pairs by definition); what must never happen is a
    // corpus-side cartesian or an exchange of the embedding column
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "corpus must never self-join all-pairs")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(!_.contains("emb")),
      "only (qid, rid, label, cos) rows may reach the rank exchange")
  }

  test("url dedup and hash classifier stay narrow: no joins, partial aggregation") {
    val pu = planOf("q_url_dedup")
    assert(!pu.contains("Join"), "canonicalize+group must not join")
    assert(pu.contains("partial_"), "url dedup must combine map-side")
    val ph = planOf("q_hash_classifier")
    assert(!ph.contains("Join") && !ph.contains("CartesianProduct"),
      "hashed inference is one narrow pass")
  }

  test("pq/ivf-pq encode stays a narrow kernel pass (no shuffle before the take)") {
    val p = planOf("q_pq_quantize")
    assert(p.contains("pqencodeexpr"), "encode must run the kernel expression")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val p2 = planOf("q_ann_ivfpq")
    assert(p2.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("prefix dedup and repetition shuffle keys, with map-side partial aggregation") {
    assert("HashAggregate".r.findAllIn(planOf("q_prefix_dedup")).size >= 2)
    assert("HashAggregate".r.findAllIn(planOf("q_repetition")).size >= 2)
  }

  test("substring dedup: span marking joins on the hash key, never all-pairs") {
    val p = planOf("q_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // windowing + canonical aggregate both partial-aggregate before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("bm25: df table and corpus stats broadcast into the probe") {
    val p = planOf("q_bm25")
    assert(p.contains("BroadcastHashJoin"), "df join must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "no wide join anywhere in bm25")
  }

  test("heavy hitters: the confirm pass aggregates partially (sketch already pruned)") {
    val p = planOf("q_heavy_hitters")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("Join"), "confirm is a filtered aggregate, not a join")
  }

  test("mad outliers: medians broadcast back; one shuffle granularity on the group key") {
    val p = planOf("q_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), "median frames must broadcast into the probe")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("grouping sets expand once and combine map-side (one shuffle for all sets)") {
    val p = planOf("q_grouping_sets")
    assert(p.contains("Expand"), "GROUPING SETS must compile to a single Expand")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial + final aggregation")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"all grouping sets must share ONE aggregation shuffle:\n$p")
  }

  test("pivot with a declared value list is one conditional-aggregation shuffle, no join") {
    val p = planOf("q_pivot")
    assert(!p.contains("Join"), "pivot must not join per pivot value")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"pivot must aggregate in one shuffle:\n$p")
  }

  test("unpivot is a map-side Expand: no join, no aggregation shuffle") {
    val p = planOf("q_unpivot")
    assert(p.contains("Expand"), "unpivot compiles to Expand")
    assert(!p.contains("Join"), "unpivot must not re-read the table per metric")
    assert(!p.contains("Exchange hashpartitioning"),
      s"only the final sort may exchange:\n$p")
  }

  test("gap fill broadcasts the day spine join; no cartesian") {
    val p = planOf("q_gap_fill")
    assert(p.contains("BroadcastHashJoin"), s"spine/counts join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("markov transitions: user-partitioned window, partial-aggregated counts, no join") {
    val p = planOf("q_markov_transitions")
    assert(!p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "transition counts combine map-side")
  }

  test("table checksum is one narrow pass: no join, no wide shuffle, partial agg") {
    val p = planOf("q_table_checksum")
    assert(!p.contains("Join"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"a commutative fold needs only the final single-partition gather:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("dataset diff and retention cohort never degenerate to nested loops") {
    for (q <- Seq("q_dataset_diff", "q_retention_cohort")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested loop")
    }
  }

  test("pagerank rounds join on src/dst keys over (node, rank) longs — no cartesian, partial aggs") {
    val p = planOf("q_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "edge weights must combine map-side")
  }

  test("fuzzy join keys on deletion-neighborhood variants with the probe side broadcast") {
    val p = planOf("q_fuzzy_join")
    assert(p.contains("BroadcastHashJoin"), s"probe variants must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must never be all-pairs (that's the oracle's plan)")
  }

  test("bloom join gates the fact scan with the codegen'd might_contain BEFORE the join") {
    val p = planOf("q_bloom_join")
    assert(p.contains("might_contain"), s"bloom gate missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "filtered dim must broadcast")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val gateIdx = p.lastIndexOf("might_contain")
    assert(gateIdx > joinIdx,
      "the bloom gate must sit BELOW the join (later in the plan dump = deeper)")
  }

  test("ewma is one user-keyed window pass: no join, one hash exchange") {
    val p = planOf("q_ewma")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"all 8 lags must share the one window shuffle:\n$p")
  }

  test("incremental join view: the four delta partials merge without a cartesian") {
    val p = planOf("q_incremental_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("skew profile expands all columns in one pass, no join") {
    val p = planOf("q_skew_profile")
    assert(p.contains("Expand"), "multi-column profile must be one Expand pass")
    assert(!p.contains("Join"))
  }

  test("winsorize never degenerates: quantile brackets join back without a cartesian") {
    val p = planOf("q_winsorize")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("star join: every dimension broadcasts behind the region filter; no cartesian") {
    val p = planOf("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"region/nation/supplier (at least) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("share-of-total: one aggregation shuffle; the total windows over the tiny aggregate") {
    val p = planOf("q_share_of_total")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the segment aggregate may hash-exchange (the total is a 5-row window):\n$p")
  }

  test("aggregations are partial (map-side combine before the exchange)") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("correlation matrix: ONE fact-table pass for all 14 sufficient statistics, no join") {
    val p = planOf("q_corr_matrix")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"lineitem must be scanned exactly once for the whole matrix:\n$p")
    assert(!p.contains("Join"), "the matrix is an explode over one summary row")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "sums must map-side combine")
  }

  test("welch t-test: one fact pass; the pair join runs over the 3-row group summary") {
    val p = planOf("q_ttest_welch")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "per-group sufficient statistics must come from a single scan")
    assert(!p.contains("CartesianProduct"),
      "g1 < g2 pairing over 3 rows must not plan as a fact-side product")
  }

  test("KMV sketch: min-k plans as TakeOrderedAndProject (k rows per partition move)") {
    val p = planOf("q_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k smallest hashes must use the bounded-heap operator, not a global sort:\n$p")
  }

  test("max concurrency: sweep line has no join and exactly one wide exchange per window") {
    val p = planOf("q_max_concurrency")
    assert(!p.contains("Join"), "boundary union + windows — never a self-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("contingency: marginals window over the grouped result — one fact scan only") {
    val p = planOf("q_contingency")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "row/col/grand totals must not re-scan lineitem")
  }

  test("triangle count: wedge joins key on endpoints; no cartesian, no nested loop") {
    val p = planOf("q_triangle_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"oriented wedge join must stay an equi-join:\n$p")
  }

  test("rolling median and anomaly z-score are single-window passes, no join") {
    for (q <- Seq("q_rolling_median", "q_anomaly_zscore")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q must be window-only")
    }
  }

  test("DSIR scoring: vocab tables broadcast into the doc side; top-k is TakeOrdered") {
    val p = planOf("q_dsir_score")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "target and raw vocab tables must both broadcast")
    assert(p.contains("TakeOrderedAndProject"), "selection must be bounded top-k")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("RFM segmentation: one fact aggregation, no join, bounded output") {
    val p = planOf("q_rfm_segments")
    assert(!p.contains("Join"), "per-customer stats + windows — never a join")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
  }

  test("pareto frontier: one scan, one window, no self-join") {
    val p = planOf("q_pareto_frontier")
    assert(!p.contains("Join"), "the skyline must not be a NOT-EXISTS self-join")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
  }

  test("seasonality: the 1-row total broadcasts, single fact scan per side") {
    val p = planOf("q_seasonality")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "total must ride a broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian product for the scalar total")
    assert(!p.contains("SortMergeJoin"), "never a wide join for a scalar total")
  }

  test("edit-distance join: hash-keyed candidates, never a cross join") {
    val p = planOf("q_editdist_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the all-pairs formulation belongs to the oracle only")
    assert(p.contains("hashUnsafeBytes") || p.contains("xxhash64") || p.contains("Join"),
      "candidates must join on variant hashes")
  }

  test("gini / mann-whitney: no single-task global window over raw rows") {
    for (q <- Seq("q_gini", "q_mann_whitney")) {
      val p = planOf(q)
      assert(!p.contains("Window"),
        s"$q must use RunningTotals' range exchange, not a window sort")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("ks test: both ECDFs from one RunningTotals pass, no window, totals broadcast") {
    val p = planOf("q_ks_test")
    assert(!p.contains("Window"),
      "ECDF numerators must come from RunningTotals' range exchange, not global windows")
    assert(!p.contains("CartesianProduct"), "the 1-row totals must ride a broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("chi2: contingency marginals broadcast, no wide join, no window") {
    val p = planOf("q_chi2")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "total and both marginals must ride broadcasts")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("robust-stats tier: no single-task window, totals broadcast, no cartesian") {
    for (q <- Seq("q_wilcoxon", "q_kruskal_wallis", "q_km_survival", "q_psi",
        "q_cusum", "q_lorenz", "q_weighted_median", "q_trimmed_mean")) {
      val p = planOf(q)
      assert(!p.contains("Window"),
        s"$q must use RunningTotals' range exchange, not a window sort")
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
  }

  test("bucketed join: neither join side shuffles — bucketing satisfies distribution") {
    val p = planOf("q_bucketed_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    assert(p.contains("Bucketed: true"), "both scans must consume the buckets")
    // the ONLY exchanges allowed are the 3-row final aggregation + its
    // ordering; the fact-fact join itself must consume the buckets —
    // no hashpartitioning exchange on either join key
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected exchanges\n$p")
  }

  test("new-vs-returning: co-keyed classification join, no window, no cartesian") {
    val p = planOf("q_new_vs_returning")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "first-month aggregation must map-combine")
  }

  test("dow profile: one map-combined aggregation, scalar total broadcasts") {
    val p = planOf("q_dow_profile")
    assert(p.contains("partial_"), "weekday aggregation must map-combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("containment join: A-prefix vs B-stream candidates on hashes, no cartesian") {
    val p = planOf("q_containment_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the all-pairs formulation belongs to the oracle only")
    assert(p.contains("array_intersect"),
      "the verify must intersect stored arrays, not re-join exploded grams")
  }

  test("kmv setops: sketches merge via bounded top-k, never a global sort") {
    val p = planOf("q_kmv_setops")
    assert(p.contains("TakeOrderedAndProject"), "k smallest hashes must be a top-k")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("order islands: windows partition by CUSTOMER (bounded per key), no global window") {
    val p = planOf("q_order_islands")
    assert(p.contains("Window"), "the rank-difference trick is a per-customer window")
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition(wk"),
      "window must be partitioned, not global")
    assert(!p.contains("CartesianProduct"))
  }

  test("grubbs: exact-integer deviation argmax plans as TakeOrdered top-1") {
    val p = planOf("q_grubbs")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("qq deciles: per-group order statistics without a window sort") {
    val p = planOf("q_qq_deciles")
    assert(!p.contains("Window"))
    assert(p.contains("BroadcastHashJoin"), "the 18-row target table must broadcast")
  }

  test("mk trend: pair enumeration broadcasts the bounded daily aggregate") {
    val p = planOf("q_mk_trend")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the non-equi self-join must ride a broadcast of the date-grain table")
    assert(!p.contains("CartesianProduct"))
  }

  test("time-series tier: map-combined daily pass, no fact window, no cartesian") {
    for (q <- Seq("q_holt_linear", "q_stl_median", "q_paired_sign_test")) {
      val p = planOf(q)
      assert(!p.contains("Window"),
        s"$q: recurrences run as one bounded task / RunningTotals, never a window")
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
    // holt's daily aggregation sits behind the recurrence RDD boundary
    // (invisible to explain); the other two must map-combine in-plan
    for (q <- Seq("q_stl_median", "q_paired_sign_test"))
      assert(planOf(q).contains("partial_"),
        s"$q: the daily/pair aggregation must map-combine")
    assert(planOf("q_stl_median").contains("BroadcastHashJoin"),
      "per-dow sizes must broadcast into the seasonal-median pick")
  }

  test("cusum: argmax day is a bounded top-1, never a global sort to the driver") {
    val p = planOf("q_cusum")
    assert(p.contains("TakeOrderedAndProject"), "LIMIT 1 must plan as top-k")
  }

  test("lorenz: decile boundary rows come from a broadcast equi-join on ranks") {
    val p = planOf("q_lorenz")
    assert(p.contains("BroadcastHashJoin"), "the 10-row decile table must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("acf: lag pairing is a broadcast equi-join on the tiny daily series") {
    val p = planOf("q_acf")
    assert(p.contains("BroadcastHashJoin"), "daily series must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("entropy/mi: marginals broadcast back into the cell table") {
    val p = planOf("q_entropy_mi")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "total and both marginals must ride broadcasts")
    assert(!p.contains("SortMergeJoin"))
  }

  test("assoc rules: dimension broadcasts, pair join co-partitions on the basket key") {
    val p = planOf("q_assoc_rules")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "part dim + scalar total + both singleton tables must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("weighted sample: top-k is TakeOrdered, never a global sort") {
    val p = planOf("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), "E-S selection must be bounded top-k")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort for a LIMIT 20")
  }

  test("ols2: one aggregation pass, no join, single fact scan") {
    val p = planOf("q_ols2")
    assert(!p.contains("Join"), "closed-form fit needs no join")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
  }

  test("ppjoin: candidates join on hashes, no cartesian, exact-verify arrays never explode twice") {
    val p = planOf("q_ppjoin")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan"),
      "the prefix self-join must reuse one exchange / the cached gram table, " +
        "not recompute both sides")
    assert(p.contains("array_intersect"),
      "the verify must intersect stored arrays, not re-join exploded grams")
  }

  test("topk per group: mergeable aggregate with a partial stage, no rank window") {
    val p = planOf("q_topk_group")
    assert(!p.contains("Window"), "top-k must not rank-sort whole groups")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "the bounded-buffer aggregator must plan as an aggregate")
    assert(p.contains("partial_"), "partial aggregation (map-side combine) must run")
  }

  test("delivery guarantee derives from plan facts") {
    import Descriptor._
    assert(deriveGuarantee(sourceReplayable = true,
      Disposition.Merge(Seq("k")), receiptVerified = true) ==
      DeliveryGuarantee.ExactlyOnceEffective)
    assert(deriveGuarantee(sourceReplayable = true,
      Disposition.Append, receiptVerified = true) == DeliveryGuarantee.AtLeastOnce)
    assert(deriveGuarantee(sourceReplayable = false,
      Disposition.Merge(Seq("k")), receiptVerified = true) == DeliveryGuarantee.AtMostOnce)
    assert(deriveGuarantee(sourceReplayable = true,
      Disposition.Replace, receiptVerified = true) ==
      DeliveryGuarantee.ExactlyOnceEffective)
  }

  test("main code keeps data only through core.CacheScope") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val bare = """\.persist\(|\.cache\(\)|\.localCheckpoint\(|clearCache\(""".r
    // comments aside: scaladoc and block-comment lines, inline blocks,
    // and `//` tails (not the `//` of a URL scheme)
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) ""
      else line.replaceAll("""/\*.*?\*/""", "").replaceAll("""(?<!:)//.*""", "")
    }
    val root = Paths.get("src/main")
    val st = Files.walk(root)
    val sources: Vector[Path] =
      try st.iterator().asScala.filter(p => p.toString.endsWith(".scala") ||
        p.toString.endsWith(".java")).toVector
      finally st.close()
    assert(sources.exists(_.endsWith(Paths.get("core", "CacheScope.scala"))))
    val hits = for {
      f <- sources if !f.endsWith(Paths.get("core", "CacheScope.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if bare.findFirstIn(code(line)).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("expression lints flag provable tautologies") {
    import Expr._
    assert(lint(Binary(BinOp.Eq, Col("x"), Col("x")))
      .exists(_.isInstanceOf[Lint.AlwaysTrue]))
    assert(lint(Binary(BinOp.Lt, Col("x"), Col("x")))
      .exists(_.isInstanceOf[Lint.AlwaysFalse]))
    assert(lint(In(Col("x"), LStrList(Nil)))
      .exists(_.isInstanceOf[Lint.AlwaysFalse]))
    assert(lint(Binary(BinOp.Gt, Col("x"), LInt(5))).isEmpty)
  }
}
