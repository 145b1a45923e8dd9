package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryDef, Tables}

/** Round-14 tier: robust statistics and monitoring operators — paired
  * and k-sample rank tests, survival steps, distribution drift,
  * changepoint detection, inequality curves, weighted/trimmed central
  * tendency. Every query follows the catalog discipline:
  *
  *  - running totals come from [[graft.operators.RunningTotals]]
  *    (range exchange + O(partitions) boundary prefix-sum), never a
  *    global `SUM() OVER (ORDER BY …)` window — at 100 TB the oracle's
  *    window formulations here are each ONE task;
  *  - all accumulation is BIGINT/DECIMAL(38,0) (prices pre-scaled to
  *    exact cents); doubles appear once per output row in an IEEE op
  *    sequence written identically in both engines, then round(…, k)
  *    with 10^-k far above the ulp at the value's magnitude;
  *  - ln/log epilogues use round-6 (the r13 float law — libm may
  *    differ in the last bits across engines).
  */
object RobustStatsQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private val dec38 = DecimalType(38, 0)
  private def cents(c: String) = round(col(c) * 100).cast("long")

  val wilcoxon: QueryDef = QueryDef.sqlBacked(
    "q_wilcoxon",
    """WITH a AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN year(o_orderdate) = 1995
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS c95,
      |    MAX(CASE WHEN year(o_orderdate) = 1996
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS c96
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1),
      |d AS (SELECT c96 - c95 AS dv FROM a
      |      WHERE c95 IS NOT NULL AND c96 IS NOT NULL AND c96 <> c95),
      |r AS (SELECT CASE WHEN dv > 0 THEN 1 ELSE 0 END AS pos,
      |  2*(rank() OVER (ORDER BY abs(dv)))
      |    + (COUNT(*) OVER (PARTITION BY abs(dv))) - 1 AS mid2
      |  FROM d)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  round(CAST(SUM(CASE WHEN pos = 1 THEN CAST(mid2 AS HUGEINT)
      |                      ELSE 0 END) AS DOUBLE) / 2, 6) AS w_plus,
      |  round(CAST(SUM(CASE WHEN pos = 0 THEN CAST(mid2 AS HUGEINT)
      |                      ELSE 0 END) AS DOUBLE) / 2, 6) AS w_minus
      |FROM r""".stripMargin,
    doc = "Wilcoxon SIGNED-RANK test (paired): each customer's best 1995 order vs best " +
      "1996 order; W+ / W− are the midrank sums of positive/negative differences — the " +
      "paired sibling of q_mann_whitney, exact with midranks for ties. Ranks of |d| " +
      "come from the value histogram + RunningTotals' distributed prefix sum (the " +
      "oracle's global rank() window is one task); 2·midrank stays integer and each W " +
      "halves to .5 precision in one exact-operand divide.") { (s, d) =>
    val o = t(s, d, "orders")
    val yr = year(col("o_orderdate"))
    val a = o.filter(yr.isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(
        max(when(yr === 1995, cents("o_totalprice"))).as("c95"),
        max(when(yr === 1996, cents("o_totalprice"))).as("c96"))
    val dd = a.filter(col("c95").isNotNull && col("c96").isNotNull
        && col("c96") =!= col("c95"))
      .select((col("c96") - col("c95")).as("dv"))
    val h = dd.groupBy(abs(col("dv")).as("ad")).agg(
      count(lit(1)).as("c"),
      sum(when(col("dv") > 0, 1L).otherwise(0L)).as("p"))
    val cum = graft.operators.RunningTotals.perGroup(
      h, Seq.empty, Seq(col("ad")), "c", outCol = "__cum")
    val mid2 = lit(2) * (col("__cum") - col("c")) + col("c") + 1
    cum.agg(
        sum(col("c")).as("__n"),
        sum(col("p").cast(dec38) * mid2.cast(dec38)).as("__wp2"),
        sum((col("c") - col("p")).cast(dec38) * mid2.cast(dec38)).as("__wm2"))
      .select(
        col("__n").cast("long").as("n_pairs"),
        round(col("__wp2").cast("double") / 2, 6).as("w_plus"),
        round(col("__wm2").cast("double") / 2, 6).as("w_minus"))
  }

  val kruskalWallis: QueryDef = QueryDef.sqlBacked(
    "q_kruskal_wallis",
    """WITH v AS (SELECT o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |r AS (SELECT pri,
      |  2*(rank() OVER (ORDER BY cents))
      |    + (COUNT(*) OVER (PARTITION BY cents)) - 1 AS mid2 FROM v),
      |g AS (SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_g,
      |        SUM(CAST(mid2 AS HUGEINT)) AS r2 FROM r GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM g)
      |SELECT pri, n_g, CAST(r2 AS BIGINT) AS rank_sum2,
      |  round(3.0 * CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
      |    / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0)
      |       * CAST(n_g AS DOUBLE)), 6) AS h_term
      |FROM g CROSS JOIN t ORDER BY pri""".stripMargin,
    doc = "Kruskal–Wallis k-sample rank test across the 5 order priorities — the " +
      "k-group generalization of q_mann_whitney. Emits per-group exact 2·rank-sums " +
      "(integers at any scale) and the H contribution 12·R²/(N(N+1)n) ≡ 3·(2R)²/… per " +
      "group (H = Σ h_term − 3(N+1), the reader's one fold). Global midranks come from " +
      "ONE value histogram + RunningTotals prefix sum shared by all groups; per-group " +
      "counts co-key-join the histogram on the value — no global sort anywhere.") {
    (s, d) =>
      val v = t(s, d, "orders").select(
        col("o_orderpriority").as("pri"), cents("o_totalprice").as("cents"))
      val hist = v.groupBy("cents").agg(count(lit(1)).as("c"))
      val cum = graft.operators.RunningTotals.perGroup(
        hist, Seq.empty, Seq(col("cents")), "c", outCol = "__cum")
      val mid2 = (lit(2) * (col("__cum") - col("c")) + col("c") + 1).as("mid2")
      val byPri = v.groupBy("pri", "cents").agg(count(lit(1)).as("cg"))
      val j = byPri.join(cum.select(col("cents"), mid2), "cents")
      val g = j.groupBy("pri").agg(
        sum(col("cg")).as("__ng"),
        sum(col("cg").cast(dec38) * col("mid2").cast(dec38)).as("__r2"))
      // N = max running count over the persisted histogram frame —
      // summing g would replay byPri's fact pass as a second subtree
      val tot = cum.agg(max("__cum").cast("long").as("n"))
      val nD = col("n").cast("double")
      g.crossJoin(tot)
        .select(col("pri"),
          col("__ng").cast("long").as("n_g"),
          col("__r2").cast("long").as("rank_sum2"),
          round(lit(3.0) * col("__r2").cast("double") * col("__r2").cast("double")
            / (nD * (nD + 1.0) * col("__ng").cast("double")), 6).as("h_term"))
        .orderBy("pri")
  }

  val kmSurvival: QueryDef = QueryDef.sqlBacked(
    "q_km_survival",
    """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS us FROM orders),
      |g AS (SELECT MAX(us) AS gmax FROM o),
      |u AS (SELECT o_custkey, (MAX(us) - MIN(us)) // 604800000000 AS dur,
      |  CASE WHEN MAX(us) > (SELECT gmax FROM g) - 7776000000000
      |       THEN 1 ELSE 0 END AS cens
      |  FROM o GROUP BY 1),
      |h AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS c,
      |        CAST(SUM(1 - cens) AS BIGINT) AS d FROM u GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
      |r AS (SELECT dur, d, c,
      |        SUM(CAST(c AS HUGEINT)) OVER (ORDER BY dur) AS cum FROM h)
      |SELECT dur AS t_weeks,
      |  CAST(t.n - (r.cum - r.c) AS BIGINT) AS n_risk, r.d AS n_event,
      |  round(1.0 - CAST(r.d AS DOUBLE)
      |    / CAST(t.n - (r.cum - r.c) AS DOUBLE), 9) AS km_factor
      |FROM r CROSS JOIN t WHERE r.d > 0 ORDER BY t_weeks""".stripMargin,
    doc = "Kaplan–Meier survival STEP TABLE over customer order-lifetimes (first→last " +
      "order, week grain; customers still ordering in the final 90 days are " +
      "right-CENSORED — they leave the risk set without an event). Emits per " +
      "death-time (t, n_risk, n_event, 1−d/n): each factor is one exact-operand " +
      "divide, and the survival curve is the reader's running product — the catalog's " +
      "hash-gate-safe way to ship a product statistic. Risk sets n(t) = N − count(<t) " +
      "come from the duration histogram + RunningTotals; the oracle's window is one " +
      "task.") { (s, d) =>
    val o = t(s, d, "orders")
    val e = o.select(col("o_custkey"), Tables.tsUs(o, "o_orderdate").as("us"))
    val u0 = e.groupBy("o_custkey").agg(min("us").as("mn"), max("us").as("mx"))
    val gmax = u0.agg(max("mx").as("gmax"))
    val u = u0.crossJoin(gmax).select(
      expr("(mx - mn) div 604800000000").as("dur"),
      when(col("mx") > col("gmax") - 7776000000000L, 1L).otherwise(0L).as("cens"))
    val h = u.groupBy("dur").agg(
      count(lit(1)).as("c"), sum(lit(1L) - col("cens")).as("d"))
    val cum = graft.operators.RunningTotals.perGroup(
      h, Seq.empty, Seq(col("dur")), "c", outCol = "__cum")
    // N = the last running count (max cum) over the PERSISTED frame —
    // re-aggregating h would replay the per-customer fact pass
    val tot = cum.agg(max("__cum").cast("long").as("n"))
    val nRisk = col("n") - (col("__cum") - col("c"))
    cum.crossJoin(tot)
      .filter(col("d") > 0)
      .select(col("dur").as("t_weeks"),
        nRisk.cast("long").as("n_risk"),
        col("d").cast("long").as("n_event"),
        round(lit(1.0) - col("d").cast("double") / nRisk.cast("double"), 9)
          .as("km_factor"))
      .orderBy("t_weeks")
  }

  val psi: QueryDef = QueryDef.sqlBacked(
    "q_psi",
    """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    year(o_orderdate) AS y FROM orders
      |  WHERE year(o_orderdate) IN (1994, 1995)),
      |b AS (SELECT CASE WHEN cents // 6000000 > 9 THEN 9
      |               ELSE cents // 6000000 END AS bin,
      |  CAST(SUM(CASE WHEN y = 1994 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM o GROUP BY 1),
      |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
      |             CAST(SUM(n2) AS BIGINT) AS t2 FROM b)
      |SELECT bin, n1, n2,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    round((CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)
      |           - CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE))
      |      * ln((CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE))
      |           / (CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE))), 6)
      |  END AS psi_term
      |FROM b CROSS JOIN t ORDER BY bin""".stripMargin,
    doc = "Population Stability Index between the 1994 and 1995 order-value " +
      "distributions — THE drift monitor a production scoring pipeline runs per " +
      "feature. Bins are exact integer cents-buckets (cents div 60000·100, capped at " +
      "10), emitted per bin as (n1, n2, (p1−p2)·ln(p1/p2)); PSI is the reader's sum, " +
      "and empty-on-either-side bins emit NULL rather than an epsilon fiction. One " +
      "map-combined aggregation; the 1-row totals broadcast; ln epilogue carries the " +
      "round-6 libm law.") { (s, d) =>
    val yr = year(col("o_orderdate"))
    val o = t(s, d, "orders").filter(yr.isin(1994, 1995))
      .select(cents("o_totalprice").as("cents"), yr.as("y"))
    val b = o.groupBy(
        least(lit(9L), expr("cents div 6000000")).as("bin"))
      .agg(
        sum(when(col("y") === 1994, 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") === 1995, 1L).otherwise(0L)).as("n2"))
    val tot = b.agg(sum("n1").cast("long").as("t1"), sum("n2").cast("long").as("t2"))
    val p1 = col("n1").cast("double") / col("t1").cast("double")
    val p2 = col("n2").cast("double") / col("t2").cast("double")
    b.crossJoin(tot)
      .select(col("bin"), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          round((p1 - p2) * log(p1 / p2), 6)).as("psi_term"))
      .orderBy("bin")
  }

  val cusum: QueryDef = QueryDef.sqlBacked(
    "q_cusum",
    """WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |t AS (SELECT SUM(CAST(x AS HUGEINT)) AS tot,
      |             CAST(COUNT(*) AS HUGEINT) AS k FROM daily),
      |c AS (SELECT day,
      |        SUM(CAST(x AS HUGEINT) * t.k - t.tot) OVER (ORDER BY day) AS cusum
      |      FROM daily CROSS JOIN t)
      |SELECT c.day AS change_day,
      |  round(CAST(c.cusum AS DOUBLE) / CAST(t.tot AS DOUBLE), 9) AS cusum_rel
      |FROM c CROSS JOIN t
      |ORDER BY abs(c.cusum) DESC, c.day LIMIT 1""".stripMargin,
    doc = "CUSUM changepoint detection on the daily revenue series: the cumulative sum " +
      "of k·xᵢ − T (mean-centered WITHOUT division — everything stays integer) peaks in " +
      "absolute value at the most likely level-shift day. The prefix sum is " +
      "RunningTotals over the bounded daily aggregate; the argmax is a TopK-1, never a " +
      "global sort; the one double divide normalizes by total revenue at the end.") {
    (s, d) =>
      val ord = t(s, d, "orders")
      val daily = ord
        .select(Tables.tsUs(ord, "o_orderdate").as("us"), cents("o_totalprice").as("c"))
        .select(expr("us div 86400000000").as("day"), col("c"))
        .groupBy("day").agg(sum(col("c")).as("x"))
      val tot = daily.agg(sum(col("x")).as("tot"), count(lit(1)).as("k"))
      val centered = daily.crossJoin(tot)
        .select(col("day"), (col("x") * col("k") - col("tot")).as("v"), col("tot"))
      val cum = graft.operators.RunningTotals.perGroup(
        centered, Seq.empty, Seq(col("day")), "v", outCol = "__cusum")
      cum.orderBy(abs(col("__cusum")).desc, col("day"))
        .limit(1)
        .select(col("day").as("change_day"),
          round(col("__cusum").cast("double") / col("tot").cast("double"), 9)
            .as("cusum_rel"))
  }

  val lorenz: QueryDef = QueryDef.sqlBacked(
    "q_lorenz",
    """WITH c AS (SELECT o_custkey AS ck,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |             SUM(CAST(cents AS HUGEINT)) AS tot FROM c),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents, ck) AS rn,
      |        SUM(CAST(cents AS HUGEINT)) OVER (ORDER BY cents, ck) AS cum FROM c),
      |d(k) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10))
      |SELECT CAST(d.k AS BIGINT) AS decile, CAST(r.cum AS BIGINT) AS cum_cents,
      |  round(CAST(r.cum AS DOUBLE) / CAST(t.tot AS DOUBLE), 9) AS share
      |FROM d CROSS JOIN t JOIN r ON r.rn = (t.n * d.k + 9) // 10
      |ORDER BY decile""".stripMargin,
    doc = "Lorenz curve of customer revenue at decile grain: cumulative revenue share " +
      "of the poorest 10%, 20%, … — the curve whose area complement is q_gini. " +
      "Customer rank and cumulative cents come from RunningTotals (range exchange, " +
      "O(partitions) driver traffic); the ten decile boundary rows are an equi-join " +
      "of the broadcast (k, ⌈n·k/10⌉) table against the stamped ranks — exact integer " +
      "rank arithmetic, one divide per output row.") { (s, d) =>
    val c = t(s, d, "orders").groupBy(col("o_custkey").as("ck"))
      .agg(sum(cents("o_totalprice")).as("cents"))
    val r = graft.operators.RunningTotals.perGroup(
      c, Seq.empty, Seq(col("cents"), col("ck")), "cents",
      outCol = "__cum", rankOut = "__rn")
    // (n, total) = the final (rank, running sum) over the persisted
    // frame — aggregating c again would replay the per-customer pass
    val tot = r.agg(max(col("__rn")).as("n"), max(col("__cum")).cast(dec38).as("tot"))
    val deciles = {
      import s.implicits._
      (1 to 10).map(_.toLong).toDF("k")
    }
    r.join(deciles.crossJoin(tot),
        col("__rn") === expr("(n * k + 9) div 10"))
      .select(col("k").as("decile"),
        col("__cum").cast("long").as("cum_cents"),
        round(col("__cum").cast("double") / col("tot").cast("double"), 9).as("share"))
      .orderBy("decile")
  }

  val weightedMedian: QueryDef = QueryDef.sqlBacked(
    "q_weighted_median",
    """WITH h AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(CAST(w AS HUGEINT)) AS tw FROM h),
      |r AS (SELECT cents, SUM(CAST(w AS HUGEINT)) OVER (ORDER BY cents) AS cum FROM h)
      |SELECT CAST(t.tw AS BIGINT) AS total_weight, MIN(r.cents) AS wmedian
      |FROM r CROSS JOIN t WHERE r.cum * 2 >= t.tw GROUP BY t.tw""".stripMargin,
    doc = "Quantity-WEIGHTED lower median of extended price: the smallest value whose " +
      "cumulative weight reaches half the total (2·cum ≥ W in pure integers — no " +
      "half-weight double ever exists). Weight histogram + RunningTotals prefix sum; " +
      "the oracle's global window is one task. The operator behind weighted-percentile " +
      "SLO reporting, where rows carry multiplicity.") { (s, d) =>
    val h = t(s, d, "lineitem")
      .groupBy(cents("l_extendedprice").as("cents"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("w"))
    val cum = graft.operators.RunningTotals.perGroup(
      h, Seq.empty, Seq(col("cents")), "w", outCol = "__cum")
    // total weight = max running sum over the persisted frame (no
    // second lineitem pass through h)
    val tot = cum.agg(max("__cum").as("tw"))
    cum.crossJoin(tot)
      .filter(col("__cum") * 2 >= col("tw"))
      .groupBy("tw")
      .agg(min(col("cents")).as("wmedian"))
      .select(col("tw").as("total_weight"), col("wmedian"))
  }

  val trimmedMean: QueryDef = QueryDef.sqlBacked(
    "q_trimmed_mean",
    """WITH x AS (SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
      |r AS (SELECT flag, cents,
      |        row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
      |        COUNT(*) OVER (PARTITION BY flag) AS n FROM x)
      |SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  round(CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) / 100, 6) AS trimmed_mean
      |FROM r WHERE rn > n // 10 AND rn <= n - n // 10
      |GROUP BY flag ORDER BY flag""".stripMargin,
    doc = "10% two-sided TRIMMED MEAN of extended price per return flag — the robust " +
      "mean a quality dashboard prefers when tails are dirty. The oracle drops rank " +
      "⌊n/10⌋ rows per side with a per-group row_number sort (one task per group); " +
      "here the kept-mass sum is reconstructed EXACTLY from the value histogram + " +
      "RunningTotals: interior values keep full weight, the two boundary values keep " +
      "partial multiplicity from pure rank arithmetic (tie order cannot change a sum " +
      "over equal values). One shuffle on (flag, value), no per-group sort at any " +
      "scale.") { (s, d) =>
    val x = t(s, d, "lineitem").select(
      col("l_returnflag").as("flag"), cents("l_extendedprice").as("cents"))
    val hist = x.groupBy("flag", "cents").agg(count(lit(1)).as("c"))
    val cum = graft.operators.RunningTotals.perGroup(
      hist, Seq("flag"), Seq(col("cents")), "c", outCol = "__cum")
    // group sizes from the PERSISTED running-total frame (n = the last
    // running count = max cum), not from `hist` — re-deriving the
    // histogram would scan the fact table a second time
    val sized = cum.groupBy("flag").agg(max("__cum").as("n"))
      .withColumn("g", expr("n div 10"))
      .withColumn("kLo", col("g") + 1)
      .withColumn("kHi", col("n") - col("g"))
    // bounded: one row per l_returnflag value (here and in `bounds`)
    val j = cum.join(broadcast(sized), "flag")
    // Both trim boundaries from ONE conditional aggregation over the
    // joined frame (they were two separate filter+groupBy subtrees):
    // lo = min cents with cum ≥ kLo, hi = min cents with cum ≥ kHi.
    val bounds = j.groupBy("flag").agg(
      min(when(col("__cum") >= col("kLo"), col("cents"))).as("lo"),
      min(when(col("__cum") >= col("kHi"), col("cents"))).as("hi"))
    val withB = j.join(broadcast(bounds), "flag")
    val agg = withB.groupBy("flag").agg(
      sum(when(col("cents") > col("lo") && col("cents") < col("hi"),
        col("cents").cast(dec38) * col("c"))).as("__mid"),
      max(when(col("cents") === col("lo"), col("__cum"))).as("__cumLo"),
      max(when(col("cents") === col("hi"), col("__cum") - col("c"))).as("__cumLtHi"),
      max("g").as("__g"), max("kHi").as("__kHi"),
      max("lo").as("__lo"), max("hi").as("__hi"))
    val kept = (col("__kHi") - col("__g")).cast(dec38)
    val trimmedSum = when(col("__lo") === col("__hi"), kept * col("__lo").cast(dec38))
      .otherwise(coalesce(col("__mid"), lit(0).cast(dec38))
        + (col("__cumLo") - col("__g")).cast(dec38) * col("__lo").cast(dec38)
        + (col("__kHi") - col("__cumLtHi")).cast(dec38) * col("__hi").cast(dec38))
    agg.select(col("flag"),
        (col("__kHi") - col("__g")).cast("long").as("n_kept"),
        round(trimmedSum.cast("double")
          / (col("__kHi") - col("__g")).cast("double") / 100, 6).as("trimmed_mean"))
      .orderBy("flag")
  }

  val grubbs: QueryDef = QueryDef.sqlBacked(
    "q_grubbs",
    """WITH v AS (SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      |t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(c AS HUGEINT)) AS s,
      |        SUM(CAST(c AS HUGEINT) * c) AS q FROM v),
      |e AS (SELECT o_orderkey, abs(c * t.n - t.s) AS dev, t.n, t.s, t.q
      |      FROM v CROSS JOIN t)
      |SELECT o_orderkey AS outlier_key,
      |  round(CAST(dev AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
      |         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))), 6) AS g_stat
      |FROM e ORDER BY dev DESC, o_orderkey LIMIT 1""".stripMargin,
    doc = "Grubbs' test for the single most extreme order value: G = max|x−mean|/sd. " +
      "The argmax runs on the EXACT integer deviation |x·n − Σx| (no mean double ever " +
      "ranks rows — mean-centering without division, same trick as q_cusum), selected " +
      "by TakeOrdered top-1; n, Σx, Σx² accumulate exactly and G is one IEEE chain at " +
      "the end. The outlier screen a billing pipeline runs before posting.") { (s, d) =>
    val v = t(s, d, "orders").select(col("o_orderkey"), cents("o_totalprice").as("c"))
    val tot = v.agg(count(lit(1)).cast(dec38).as("n"),
      sum(col("c").cast(dec38)).as("s"),
      sum(col("c").cast(dec38) * col("c").cast(dec38)).as("q"))
    val nD = col("n").cast("double")
    v.crossJoin(tot)
      .select(col("o_orderkey"),
        abs(col("c").cast(dec38) * col("n") - col("s")).as("dev"),
        col("n"), col("s"), col("q"))
      .orderBy(col("dev").desc, col("o_orderkey"))
      .limit(1)
      .select(col("o_orderkey").as("outlier_key"),
        round(col("dev").cast("double")
          / (nD * sqrt((nD * col("q").cast("double")
              - col("s").cast("double") * col("s").cast("double"))
            / (nD * (nD - 1.0)))), 6).as("g_stat"))
  }

  val qqDeciles: QueryDef = QueryDef.sqlBacked(
    "q_qq_deciles",
    """WITH v AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'A'
      |                  ELSE 'B' END AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |r AS (SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
      |        COUNT(*) OVER (PARTITION BY g) AS n FROM v),
      |d(k) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)),
      |q AS (SELECT d.k, r.g, r.c FROM d JOIN r ON r.rn = (r.n * d.k + 9) // 10)
      |SELECT CAST(k AS BIGINT) AS decile,
      |  MAX(CASE WHEN g = 'A' THEN c END) AS urgent_cents,
      |  MAX(CASE WHEN g = 'B' THEN c END) AS low_cents
      |FROM q GROUP BY k ORDER BY decile""".stripMargin,
    doc = "Q–Q comparison of URGENT vs LOW order-value distributions at the 9 interior " +
      "deciles — the distribution-shift companion of q_ks_test: equal distributions " +
      "put the points on the diagonal. Decile values are EXACT order statistics " +
      "(smallest value whose cumulative count reaches ⌈n·k/10⌉ — integer rank " +
      "arithmetic only) from one per-group value histogram + RunningTotals; the " +
      "oracle's per-group row_number sorts are one task each.") { (s, d) =>
    val v = t(s, d, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", "A").otherwise("B").as("g"),
        cents("o_totalprice").as("c"))
    val hist = v.groupBy("g", "c").agg(count(lit(1)).as("cnt"))
    val cum = graft.operators.RunningTotals.perGroup(
      hist, Seq("g"), Seq(col("c")), "cnt", outCol = "__cum")
    // per-group n = max running count over the persisted frame (no
    // second orders pass through hist)
    val sized = cum.groupBy("g").agg(max("__cum").as("n"))
    val deciles = {
      import s.implicits._
      (1 to 9).map(_.toLong).toDF("k")
    }
    val targets = sized.crossJoin(deciles)
      .select(col("g"), col("k"), expr("(n * k + 9) div 10").as("t"))
    // bounded: two priorities × 9 deciles
    val picked = cum.join(broadcast(targets), Seq("g"))
      .filter(col("__cum") >= col("t"))
      .groupBy("g", "k").agg(min(col("c")).as("v"))
    picked.groupBy("k")
      .agg(max(when(col("g") === "A", col("v"))).as("urgent_cents"),
        max(when(col("g") === "B", col("v"))).as("low_cents"))
      .select(col("k").as("decile"), col("urgent_cents"), col("low_cents"))
      .orderBy("decile")
  }

  val mkTrend: QueryDef = QueryDef.sqlBacked(
    "q_mk_trend",
    """WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |p AS (SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
      |             ELSE 0 END AS sg
      |      FROM daily a JOIN daily b ON b.day > a.day),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM daily)
      |SELECT t.k AS n_days, CAST(SUM(CAST(sg AS BIGINT)) AS BIGINT) AS s_stat,
      |  round(CAST(SUM(CAST(sg AS BIGINT)) AS DOUBLE) * 2
      |    / (CAST(t.k AS DOUBLE) * (CAST(t.k AS DOUBLE) - 1.0)), 6) AS mk_tau
      |FROM p CROSS JOIN t GROUP BY t.k""".stripMargin,
    doc = "Mann–Kendall trend test on the daily revenue series: S = Σ_{i<j} " +
      "sign(x_j − x_i), exact integers, normalized to τ by the pair count. The pair " +
      "enumeration is a broadcast non-equi self-join over the DATE-GRAIN aggregate — " +
      "bounded by the calendar at any fact scale (the q_kendall precedent: the only " +
      "non-equi join rides a broadcast over a contingency-table-sized input); the one " +
      "full-data pass is the map-combined daily aggregation.") { (s, d) =>
    val ord = t(s, d, "orders")
    val daily = ord
      .select(Tables.tsUs(ord, "o_orderdate").as("us"), cents("o_totalprice").as("c"))
      .select(expr("us div 86400000000").as("day"), col("c"))
      .groupBy("day").agg(sum(col("c")).as("x"))
    // bounded: one row per calendar day
    val p = daily.as("a").join(broadcast(daily.as("b")), col("b.day") > col("a.day"))
      .select(when(col("b.x") > col("a.x"), 1L)
        .when(col("b.x") < col("a.x"), -1L).otherwise(0L).as("sg"))
    val tot = daily.agg(count(lit(1)).cast("long").as("k"))
    val kD = col("k").cast("double")
    p.crossJoin(tot)
      .groupBy("k")
      .agg(sum(col("sg")).as("__s"))
      .select(col("k").as("n_days"),
        col("__s").cast("long").as("s_stat"),
        round(col("__s").cast("double") * 2 / (kD * (kD - 1.0)), 6).as("mk_tau"))
  }

  val all: Seq[QueryDef] = Seq(
    wilcoxon, kruskalWallis, kmSurvival, psi, cusum, lorenz,
    weightedMedian, trimmedMean, grubbs, qqDeciles, mkTrend)
}
