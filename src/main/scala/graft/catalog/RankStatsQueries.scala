package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryDef, Tables}

/** Rank statistics and similarity joins at scale: inequality measures,
  * rank-sum tests, autocorrelation, information measures, and the
  * edit-distance self-join — the second tier of the profiling surface.
  *
  * Shapes that matter at 100 TB:
  *  - global/grouped running totals come from
  *    [[graft.operators.RunningTotals]] (range-exchange + boundary
  *    prefix-sum), never `SUM() OVER (PARTITION BY g ORDER BY v)`
  *    whose one-task-per-group window is the skew killer;
  *  - the edit-distance join shuffles 8-byte deletion-variant hashes
  *    ([[graft.operators.EditDistanceJoin]]), never an all-pairs cross
  *    join — the oracle IS the cross-join formulation, which this gate
  *    proves result-identical;
  *  - every aggregate accumulates in BIGINT/DECIMAL(38,0) and doubles
  *    appear only in per-row epilogues whose IEEE op sequence is
  *    written identically in Spark and DuckDB (catalog discipline).
  */
object RankStatsQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private val dec38 = DecimalType(38, 0)

  /** Exact integer cents of a 2-dp double price — the catalog's
    * standard double→exact bridge (round-half-up matches DuckDB's
    * round() for the positive prices both sides see). */
  private def cents(c: String) = round(col(c) * 100).cast("long")

  val giniByPriority: QueryDef = QueryDef.sqlBacked(
    "q_gini",
    """WITH x AS (
      |  SELECT o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey) AS rn
      |  FROM orders)
      |SELECT pri,
      |  round(CAST(2*SUM(CAST(rn AS HUGEINT)*cents)
      |             - (COUNT(*)+1)*SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*)*SUM(CAST(cents AS HUGEINT)) AS DOUBLE), 6) AS gini
      |FROM x GROUP BY pri ORDER BY pri""".stripMargin,
    doc = "Gini coefficient of order value per priority class — the inequality measure a " +
      "revenue-concentration dashboard runs. G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ) over " +
      "ascending xᵢ needs a per-group GLOBAL rank: the oracle's row_number window sorts " +
      "each whole group in one task; operators/RunningTotals keeps it distributed " +
      "(range exchange + per-(partition,group) boundary prefix-sum). Rank-weighted sums " +
      "accumulate in DECIMAL(38,0)/HUGEINT, one correctly-rounded double cast each at " +
      "the end — tie order cannot change Σi·xᵢ, so the result is partition invariant.") {
    (s, d) =>
      val base = t(s, d, "orders").select(
        col("o_orderpriority").as("pri"),
        cents("o_totalprice").as("cents"), col("o_orderkey"))
      val ranked = graft.operators.RunningTotals.perGroup(
        base, Seq("pri"), Seq(col("cents"), col("o_orderkey")), "cents",
        outCol = "__cum", rankOut = "__rn")
      ranked.groupBy("pri")
        .agg(
          sum(col("__rn").cast(dec38) * col("cents").cast(dec38)).as("__s1"),
          sum(col("cents").cast(dec38)).as("__s0"),
          count(lit(1)).as("__n"))
        .select(col("pri"),
          round((lit(2) * col("__s1") - (col("__n") + 1) * col("__s0")).cast("double")
            / (col("__n") * col("__s0")).cast("double"), 6).as("gini"))
        .orderBy("pri")
  }

  val mannWhitney: QueryDef = QueryDef.sqlBacked(
    "q_mann_whitney",
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |r AS (
      |  SELECT g1,
      |    2*(rank() OVER (ORDER BY cents)) + (COUNT(*) OVER (PARTITION BY cents)) - 1 AS mid2
      |  FROM v)
      |SELECT CAST(SUM(g1) AS BIGINT) AS n1,
      |  CAST(SUM(1 - g1) AS BIGINT) AS n2,
      |  round(CAST(SUM(CASE WHEN g1 = 1 THEN CAST(mid2 AS HUGEINT) ELSE 0 END)
      |             - CAST(SUM(g1) AS HUGEINT)*(SUM(g1) + 1) AS DOUBLE) / 2, 6) AS u1,
      |  round(CAST(SUM(CASE WHEN g1 = 0 THEN CAST(mid2 AS HUGEINT) ELSE 0 END)
      |             - CAST(SUM(1 - g1) AS HUGEINT)*(SUM(1 - g1) + 1) AS DOUBLE) / 2, 6) AS u2
      |FROM r""".stripMargin,
    doc = "Mann–Whitney U (rank-sum test) comparing URGENT vs LOW order values — the " +
      "nonparametric two-sample test, exact with midranks for ties. The oracle's global " +
      "rank() window is one task; here ranks come from an exact VALUE HISTOGRAM " +
      "(groupBy cents — parallel, tie-collapsing) + RunningTotals' distributed prefix " +
      "sum, so no row-level global sort exists at any scale. 2·midrank stays integer " +
      "(2·cum_lt + c + 1); U halves to .5 precision in one exact-operand double divide.") {
    (s, d) =>
      val v = t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(cents("o_totalprice").as("cents"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("g1"))
      val hist = v.groupBy("cents").agg(
        sum(col("g1")).as("n1c"), sum(lit(1L) - col("g1")).as("n2c"),
        count(lit(1)).as("c"))
      val cum = graft.operators.RunningTotals.perGroup(
        hist, Seq.empty, Seq(col("cents")), "c", outCol = "__cum", rankOut = "__rn")
      // 2·midrank = 2·cum_lt + c + 1 = 2·(cum_le − c) + c + 1
      val mid2 = lit(2) * (col("__cum") - col("c")) + col("c") + 1
      cum.agg(
          sum(col("n1c")).as("__n1"), sum(col("n2c")).as("__n2"),
          sum(col("n1c").cast(dec38) * mid2.cast(dec38)).as("__r1x2"),
          sum(col("n2c").cast(dec38) * mid2.cast(dec38)).as("__r2x2"))
        .select(
          col("__n1").cast("long").as("n1"), col("__n2").cast("long").as("n2"),
          round((col("__r1x2") - col("__n1").cast(dec38) * (col("__n1") + 1).cast(dec38))
            .cast("double") / 2, 6).as("u1"),
          round((col("__r2x2") - col("__n2").cast(dec38) * (col("__n2") + 1).cast(dec38))
            .cast("double") / 2, 6).as("u2"))
  }

  val autocorrelation: QueryDef = QueryDef.sqlBacked(
    "q_acf",
    """WITH daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |l(lag) AS (VALUES (1), (2), (3)),
      |p AS (
      |  SELECT l.lag AS lag, a.x AS xa, b.x AS xb
      |  FROM l CROSS JOIN daily a JOIN daily b ON b.day = a.day + l.lag)
      |SELECT lag,
      |  round(CAST(COUNT(*)*SUM(CAST(xa AS HUGEINT)*xb)
      |             - SUM(CAST(xa AS HUGEINT))*SUM(CAST(xb AS HUGEINT)) AS DOUBLE)
      |    / (sqrt(CAST(COUNT(*)*SUM(CAST(xa AS HUGEINT)*xa)
      |             - SUM(CAST(xa AS HUGEINT))*SUM(CAST(xa AS HUGEINT)) AS DOUBLE))
      |     * sqrt(CAST(COUNT(*)*SUM(CAST(xb AS HUGEINT)*xb)
      |             - SUM(CAST(xb AS HUGEINT))*SUM(CAST(xb AS HUGEINT)) AS DOUBLE))), 6) AS acf
      |FROM p GROUP BY lag ORDER BY lag""".stripMargin,
    doc = "Autocorrelation of the daily revenue series at lags 1–3 (the seasonality " +
      "screen). Lag pairing is a broadcast self-EQUI-join on day+lag — never a " +
      "sequential window over the raw facts; the daily aggregation is the only " +
      "full-data pass and it map-combines. Pearson terms accumulate exactly " +
      "(DECIMAL(38,0)/HUGEINT), doubles appear once per term; sqrt is correctly " +
      "rounded IEEE in both engines, so equal operands give equal bits.") { (s, d) =>
    val ord = t(s, d, "orders")
    val daily = ord
      .select(Tables.tsUs(ord, "o_orderdate").as("us"),
        cents("o_totalprice").as("c"))
      // exact integer day grain — `div`, matching the oracle's `//`
      .select(expr("us div 86400000000").as("day"), col("c"))
      .groupBy("day").agg(sum(col("c")).as("x"))
    val lags = (1 to 3).map { lag =>
      daily.as("a")
        // bounded: one row per calendar day
        .join(broadcast(daily.as("b")),
          col("b.day") === col("a.day") + lag)
        .select(lit(lag).as("lag"), col("a.x").as("xa"), col("b.x").as("xb"))
    }.reduce(_ unionByName _)
    val g = lags.groupBy("lag").agg(
      count(lit(1)).as("k"),
      sum(col("xa").cast(dec38)).as("sx"), sum(col("xb").cast(dec38)).as("sy"),
      sum(col("xa").cast(dec38) * col("xa").cast(dec38)).as("sxx"),
      sum(col("xb").cast(dec38) * col("xb").cast(dec38)).as("syy"),
      sum(col("xa").cast(dec38) * col("xb").cast(dec38)).as("sxy"))
    g.select(col("lag"),
        round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("k") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("acf"))
      .orderBy("lag")
  }

  val entropyMi: QueryDef = QueryDef.sqlBacked(
    "q_entropy_mi",
    """WITH j AS (
      |  SELECT l_returnflag AS flag, l_linestatus AS status,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM j),
      |mf AS (SELECT flag, CAST(SUM(n) AS BIGINT) AS nf FROM j GROUP BY 1),
      |ms AS (SELECT status, CAST(SUM(n) AS BIGINT) AS ns FROM j GROUP BY 1)
      |SELECT j.flag, j.status, j.n,
      |  round((CAST(j.n AS DOUBLE) / CAST(tot.total AS DOUBLE))
      |    * log2((CAST(j.n AS DOUBLE) / CAST(tot.total AS DOUBLE))
      |      / ((CAST(mf.nf AS DOUBLE) / CAST(tot.total AS DOUBLE))
      |        * (CAST(ms.ns AS DOUBLE) / CAST(tot.total AS DOUBLE)))), 6) AS mi_term,
      |  round(-(CAST(j.n AS DOUBLE) / CAST(tot.total AS DOUBLE))
      |    * log2(CAST(j.n AS DOUBLE) / CAST(tot.total AS DOUBLE)), 6) AS h_term
      |FROM j CROSS JOIN tot
      |  JOIN mf ON mf.flag = j.flag
      |  JOIN ms ON ms.status = j.status
      |ORDER BY j.flag, j.status""".stripMargin,
    doc = "Joint-entropy and mutual-information CONTRIBUTIONS per (returnflag, linestatus) " +
      "cell — the dependence profile between two categorical columns. Emitted per cell " +
      "(no cross-row double summation: each term is computed from exact counts with an " +
      "identical IEEE op sequence in both engines, then rounded — the catalog's " +
      "hash-gate-safe way to ship logarithms). Counts and marginals are one aggregation " +
      "each; the scalar total broadcasts.") { (s, d) =>
    val j = t(s, d, "lineitem").groupBy(
      col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n"))
    val tot = j.agg(sum(col("n")).cast("long").as("total"))
    val mf = j.groupBy("flag").agg(sum(col("n")).cast("long").as("nf"))
    val ms = j.groupBy("status").agg(sum(col("n")).cast("long").as("ns"))
    val p = col("n").cast("double") / col("total").cast("double")
    val pf = col("nf").cast("double") / col("total").cast("double")
    val ps = col("ns").cast("double") / col("total").cast("double")
    j.crossJoin(tot)
      // bounded: one row per l_returnflag and per l_linestatus value
      .join(broadcast(mf), "flag")
      .join(broadcast(ms), "status")
      .select(col("flag"), col("status"), col("n"),
        round(p * log2(p / (pf * ps)), 6).as("mi_term"),
        round(-p * log2(p), 6).as("h_term"))
      .orderBy("flag", "status")
  }

  val editDistanceJoin: QueryDef = QueryDef.sqlBacked(
    "q_editdist_join",
    """SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
      |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY id1, id2""".stripMargin,
    doc = "Edit-distance self-join (all supplier-name pairs within Levenshtein 1) via " +
      "SYMMETRIC-DELETE candidates (FastSS deletion neighborhoods): candidates share a " +
      "≤k-deletion variant — the shuffle carries 8-byte variant hashes, candidates are " +
      "generated per shared variant, and the exact distance verifies. The oracle IS the " +
      "all-pairs cross join this operator refuses to run; this hash gate proves the " +
      "filter loses nothing.") { (s, d) =>
    graft.operators.EditDistanceJoin.pairs(
        t(s, d, "supplier"), "s_suppkey", "s_name", k = 1)
      .orderBy("id1", "id2")
  }

  val assocRules: QueryDef = QueryDef.sqlBacked(
    "q_assoc_rules",
    """WITH bk AS (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS nb FROM bk),
      |s AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1 FROM bk GROUP BY 1),
      |p AS (
      |  SELECT a.b AS ba, c.b AS bb, CAST(COUNT(*) AS BIGINT) AS nab
      |  FROM bk a JOIN bk c ON a.o = c.o AND a.b < c.b GROUP BY 1, 2)
      |SELECT ba, bb, nab,
      |  round(CAST(nab AS DOUBLE) / CAST(n.nb AS DOUBLE), 6) AS support,
      |  round(CAST(nab AS DOUBLE) / CAST(sa.n1 AS DOUBLE), 6) AS confidence,
      |  round((CAST(nab AS DOUBLE) * CAST(n.nb AS DOUBLE))
      |    / (CAST(sa.n1 AS DOUBLE) * CAST(sb.n1 AS DOUBLE)), 6) AS lift
      |FROM p CROSS JOIN n
      |  JOIN s sa ON sa.b = ba
      |  JOIN s sb ON sb.b = bb
      |WHERE nab >= 5
      |ORDER BY ba, bb""".stripMargin,
    doc = "Association rules over order baskets (brand co-occurrence): support, " +
      "confidence, lift — the A-Priori first two passes. Scale shape: the part " +
      "dimension joins the fact scan, baskets dedupe on (order, brand) with " +
      "partial aggregation, and the pair join co-partitions on the order key — " +
      "per-basket pair fan-out is bounded by basket size, never all-pairs across " +
      "baskets. Singleton counts broadcast back into the pair table; measures are " +
      "identical-IEEE epilogues over exact counts.") { (s, d) =>
    val bk = t(s, d, "lineitem")
      .join(t(s, d, "part"),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
    val n = bk.agg(countDistinct(col("o")).as("nb"))
    val singles = bk.groupBy("b").agg(count(lit(1)).as("n1"))
    val pairs = bk.as("a").join(bk.as("c"),
        col("a.o") === col("c.o") && col("a.b") < col("c.b"))
      .groupBy(col("a.b").as("ba"), col("c.b").as("bb"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 5)
    pairs.crossJoin(n)
      // bounded: one row per brand
      .join(broadcast(singles.select(col("b").as("ba"), col("n1").as("n1a"))), "ba")
      .join(broadcast(singles.select(col("b").as("bb"), col("n1").as("n1b"))), "bb")
      .select(col("ba"), col("bb"), col("nab"),
        round(col("nab").cast("double") / col("nb").cast("double"), 6).as("support"),
        round(col("nab").cast("double") / col("n1a").cast("double"), 6).as("confidence"),
        round((col("nab").cast("double") * col("nb").cast("double"))
          / (col("n1a").cast("double") * col("n1b").cast("double")), 6).as("lift"))
      .orderBy("ba", "bb")
  }

  val weightedSample: QueryDef = QueryDef.sqlBacked(
    "q_weighted_sample",
    """WITH h AS (
      |  SELECT o_orderkey, o_totalprice,
      |    xor(o_orderkey % 4294967296, o_orderkey // 4294967296) AS h32
      |  FROM orders),
      |u AS (
      |  SELECT o_orderkey, o_totalprice,
      |    (CAST((xor(h32 % 2147483648, h32 // 2147483648) * 2654435761)
      |          % 4294967296 AS DOUBLE) + 0.5) / 4294967296 AS uh
      |  FROM h)
      |SELECT o_orderkey,
      |  round(-ln(uh) / o_totalprice, 12) AS es_key
      |FROM u
      |ORDER BY es_key, o_orderkey
      |LIMIT 20""".stripMargin,
    doc = "Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each row gets " +
      "key u^(1/w) — equivalently smallest −ln(u)/w wins — and the top-k by key is an " +
      "exact weighted sample. u comes from a deterministic WRAP-SAFE multiplicative " +
      "hash: the key folds 64→32→31 bits by XOR (exact in both engines), so the " +
      "Knuth-constant product is provably < 2^62 and never overflows int64 at ANY key " +
      "scale — DuckDB raises on BIGINT overflow while Spark wraps, so an overflowing " +
      "mixer would silently diverge at 100 TB keys. Deterministic ⇒ the sample is " +
      "REPRODUCIBLE and oracle-checkable — the reproducibility a 100 TB pipeline needs " +
      "to re-derive its own sample. Spark plans TakeOrderedAndProject: a per-partition " +
      "top-k + one k-row merge, never a global sort.") { (s, d) =>
    val h32 = "((o_orderkey % 4294967296L) ^ (o_orderkey div 4294967296L))"
    val h31 = expr(s"(($h32 % 2147483648L) ^ ($h32 div 2147483648L))")
    val u = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"),
      ((pmod(h31 * lit(2654435761L), lit(4294967296L))
        .cast("double") + 0.5) / 4294967296L).as("uh"))
    u.select(col("o_orderkey"),
        round(-log(col("uh")) / col("o_totalprice"), 12).as("es_key"))
      .orderBy(col("es_key"), col("o_orderkey"))
      .limit(20)
  }

  val editDistClusters: QueryDef = QueryDef.sqlBacked(
    "q_editdist_clusters",
    """WITH RECURSIVE pair AS (
      |  SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
      |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
      |e AS (SELECT id1 AS src, id2 AS dst FROM pair
      |      UNION ALL SELECT id2, id1 FROM pair),
      |cc(id, lbl) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.dst, cc.lbl FROM cc JOIN e ON e.src = cc.id),
      |lab AS (SELECT id, MIN(lbl) AS comp FROM cc GROUP BY id)
      |SELECT comp AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM lab GROUP BY comp ORDER BY cluster""".stripMargin,
    doc = "Near-duplicate ENTITY CLUSTERS: the edit-distance join's pairs closed under " +
      "transitivity — EditDistanceJoin (symmetric-delete candidates) composed with " +
      "llm/TextDedup.connectedComponents (hash-to-min label propagation, O(diameter) " +
      "rounds, (long,long) shuffles only). The oracle recomputes the same closure with " +
      "a recursive CTE over the brute-force pair list; the gate proves the composed " +
      "distributed pipeline loses no edge and merges no extra cluster.") { (s, d) =>
    val pairs = graft.operators.EditDistanceJoin.pairs(
      t(s, d, "supplier"), "s_suppkey", "s_name", k = 1)
    graft.llm.TextDedup.connectedComponents(pairs, "id1", "id2")
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster")
  }

  val ols2: QueryDef = QueryDef.sqlBacked(
    "q_ols2",
    """WITH pts AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x1,
      |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y
      |  FROM pts),
      |d AS (
      |  SELECT n, s1, s2, sy, s11, s12, s22, s1y, s2y,
      |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det
      |  FROM s)
      |SELECT
      |  round((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det, 6) AS b0,
      |  round((n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det, 6) AS b1,
      |  round((n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det, 6) AS b2
      |FROM d""".stripMargin,
    doc = "Two-regressor OLS (extendedprice ~ quantity + discount) solved in closed form: " +
      "ONE aggregation collects the nine normal-equation sufficient statistics as exact " +
      "integers (HUGEINT/DECIMAL(38,0) over cents), Cramer's rule runs as a scalar " +
      "epilogue on one row — map-combined sums are the only shuffle at any scale, and " +
      "the determinant arithmetic is the identical IEEE sequence in both engines " +
      "because its operands are exact integers cast once.") { (s, d) =>
    val pts = t(s, d, "lineitem").select(
      (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("x1"),
      (col("l_discount").cast(DecimalType(12, 2)) * 100).cast("long").as("x2"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long").as("y"))
    val s9 = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x1").cast(dec38)).cast("double").as("s1"),
      sum(col("x2").cast(dec38)).cast("double").as("s2"),
      sum(col("y").cast(dec38)).cast("double").as("sy"),
      sum(col("x1").cast(dec38) * col("x1").cast(dec38)).cast("double").as("s11"),
      sum(col("x1").cast(dec38) * col("x2").cast(dec38)).cast("double").as("s12"),
      sum(col("x2").cast(dec38) * col("x2").cast(dec38)).cast("double").as("s22"),
      sum(col("x1").cast(dec38) * col("y").cast(dec38)).cast("double").as("s1y"),
      sum(col("x2").cast(dec38) * col("y").cast(dec38)).cast("double").as("s2y"))
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    s9.select(
      round((col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
        col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))) / det, 6).as("b0"),
      round((col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
        col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))) / det, 6).as("b1"),
      round((col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
        col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
        col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))) / det, 6).as("b2"))
  }

  val skyline3: QueryDef = QueryDef.sqlBacked(
    "q_skyline3",
    """WITH rfm AS (
      |  SELECT o_custkey,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
      |    CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS last_us
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey, freq, spend_cents, last_us FROM rfm a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM rfm b
      |  WHERE b.freq >= a.freq AND b.spend_cents >= a.spend_cents
      |    AND b.last_us >= a.last_us
      |    AND (b.freq > a.freq OR b.spend_cents > a.spend_cents
      |         OR b.last_us > a.last_us))
      |ORDER BY o_custkey""".stripMargin,
    doc = "3-D skyline (Pareto frontier) of customers on (frequency, monetary, recency) — " +
      "the customers no one else beats on all three axes. At d ≥ 3 the 2-D " +
      "sorted-window trick (q_pareto_frontier) no longer applies; operators/Skyline " +
      "runs the classic two-phase scheme: per-partition local skylines (a safe filter " +
      "— a global survivor survives locally), then one merge over the tiny union. The " +
      "oracle is the O(n²) NOT-EXISTS dominance query this operator exists to avoid.") {
    (s, d) =>
      val ord = t(s, d, "orders")
      val rfm = ord
        .select(col("o_custkey"), Tables.tsUs(ord, "o_orderdate").as("us"),
          cents("o_totalprice").as("c"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("freq"), sum(col("c")).as("spend_cents"),
          max(col("us")).as("last_us"))
      graft.operators.Skyline.skyline(rfm, Seq("freq", "spend_cents", "last_us"))
        .orderBy("o_custkey")
  }

  val gkBound: QueryDef = QueryDef.sqlBacked(
    "q_gk_bound",
    """WITH v AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS x,
      |    l_orderkey, l_linenumber FROM lineitem),
      |r AS (
      |  SELECT x, row_number() OVER (ORDER BY x, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER () AS n FROM v)
      |SELECT
      |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN x END) AS DOUBLE) AS exact_p50,
      |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN x END) AS DOUBLE) AS exact_p99,
      |  TRUE AS p50_bound_ok, TRUE AS p99_bound_ok
      |FROM r""".stripMargin,
    doc = "Quantile-sketch ERROR-BOUND gate (the q_approx_distinct pattern for GK): the " +
      "exact P50/P99 are oracle-hashed, and the query additionally asserts its own " +
      "percentile_approx sketch landed within 2× the configured deterministic rank " +
      "bound (±n/accuracy, tie-robust: count(<a) and count(≤a) bracket the target " +
      "rank) — a broken sketch merge now fails the gate instead of hiding behind an " +
      "unauditable approximation. Exact side runs on DistributedSelect (no one-task " +
      "window).") { (s, d) =>
    val base = t(s, d, "lineitem")
      .select(col("l_extendedprice").cast(DecimalType(12, 2)).as("x"))
      .withColumn("g", lit(1))
    val exact = graft.operators.DistributedSelect.quantilesByGroup(
      base, Seq("g"), "x", Seq("p50" -> 0.5, "p99" -> 0.99))
    val appr = base.agg(
      percentile_approx(col("x").cast("double"), array(lit(0.5), lit(0.99)),
        lit(10000)).as("a"),
      count(lit(1)).as("n"))
      .select(col("a").getItem(0).as("a50"), col("a").getItem(1).as("a99"), col("n"))
    val ranks = base.crossJoin(appr)
      .agg(
        sum(when(col("x").cast("double") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("x").cast("double") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("x").cast("double") < col("a99"), 1L).otherwise(0L)).as("lt99"),
        sum(when(col("x").cast("double") <= col("a99"), 1L).otherwise(0L)).as("le99"),
        first(col("n")).as("n"))
    val err = greatest(lit(1L), (col("n") * 2 / 10000).cast("long"))
    def ok(lt: String, le: String, q: Double) = {
      val k = ceil(col("n") * q).cast("long")
      (col(lt) <= k - 1 + err) && (col(le) >= k - err)
    }
    ranks.crossJoin(exact)
      .select(
        col("p50").cast("double").as("exact_p50"),
        col("p99").cast("double").as("exact_p99"),
        ok("lt50", "le50", 0.5).as("p50_bound_ok"),
        ok("lt99", "le99", 0.99).as("p99_bound_ok"))
  }

  val hhi: QueryDef = QueryDef.sqlBacked(
    "q_hhi",
    """WITH b AS (
      |  SELECT p_brand,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      |  FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
      |tot AS (SELECT SUM(CAST(cents AS HUGEINT)) AS t,
      |               SUM(CAST(cents AS HUGEINT) * cents) AS sq FROM b)
      |SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_brands,
      |  round(CAST(sq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 9) AS hhi
      |FROM tot""".stripMargin,
    doc = "Herfindahl–Hirschman concentration index of revenue across brands: " +
      "HHI = Σ shareᵢ² computed EXACTLY as Σcentsᵢ² / (Σcents)² — both sums are exact " +
      "integers (HUGEINT/DECIMAL(38,0)) from one aggregation over the part-joined " +
      "fact table, so no per-share double ever sums across rows; the single division " +
      "runs on two identical exact operands. 1/25 = 0.04 is perfect competition here, " +
      "1.0 a monopoly.") { (s, d) =>
    val b = t(s, d, "lineitem")
      .join(t(s, d, "part"), col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("cents"))
    b.agg(
        count(lit(1)).as("n_brands"),
        sum(col("cents").cast(dec38)).as("t"),
        sum(col("cents").cast(dec38) * col("cents").cast(dec38)).as("sq"))
      .select(col("n_brands"),
        round(col("sq").cast("double")
          / (col("t").cast("double") * col("t").cast("double")), 9).as("hhi"))
  }

  val abcAnalysis: QueryDef = QueryDef.sqlBacked(
    "q_abc",
    """WITH b AS (
      |  SELECT p_brand,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      |  FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
      |r AS (
      |  SELECT p_brand, cents,
      |    SUM(CAST(cents AS HUGEINT)) OVER
      |      (ORDER BY cents DESC, p_brand) AS cum,
      |    SUM(CAST(cents AS HUGEINT)) OVER () AS tot
      |  FROM b)
      |SELECT p_brand, CAST(cents AS BIGINT) AS cents,
      |  CASE WHEN cum * 10 <= tot * 8 THEN 'A'
      |       WHEN cum * 100 <= tot * 95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM r ORDER BY cents DESC, p_brand""".stripMargin,
    doc = "ABC (Pareto) classification of brands by cumulative revenue share — class A " +
      "carries the first 80%, B to 95%, C the tail. Classification thresholds compare " +
      "in pure INTEGERS (cum·10 ≤ tot·8), so there is no floating point anywhere. The " +
      "brand dimension is bounded (dictionary-sized), so the cumulative window runs " +
      "over a tiny aggregate; the only full-data pass is the map-combined revenue " +
      "aggregation joined to the part dim.") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = t(s, d, "lineitem")
      .join(t(s, d, "part"), col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("cents"))
    val w = Window.orderBy(col("cents").desc, col("p_brand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    b.withColumn("cum", sum(col("cents").cast(dec38)).over(w))
      .withColumn("tot", sum(col("cents").cast(dec38)).over(wAll))
      .select(col("p_brand"), col("cents"),
        when(col("cum") * 10 <= col("tot") * 8, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("cents").desc, col("p_brand"))
  }

  val spearman: QueryDef = QueryDef.sqlBacked(
    "q_spearman",
    """WITH pts AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |r AS (
      |  SELECT 2*(rank() OVER (ORDER BY x)) + (COUNT(*) OVER (PARTITION BY x)) - 1 AS rx,
      |    2*(rank() OVER (ORDER BY y)) + (COUNT(*) OVER (PARTITION BY y)) - 1 AS ry
      |  FROM pts),
      |s AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
      |    SUM(CAST(rx AS HUGEINT) * rx) AS sxx, SUM(CAST(ry AS HUGEINT) * ry) AS syy,
      |    SUM(CAST(rx AS HUGEINT) * ry) AS sxy
      |  FROM r)
      |SELECT round(CAST(n*sxy - sx*sy AS DOUBLE)
      |  / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
      |  AS spearman_rho
      |FROM s""".stripMargin,
    doc = "Spearman rank correlation (quantity vs extendedprice), EXACT with midranks for " +
      "ties: ρ = Pearson over the integer 2·midranks, which come from one VALUE " +
      "HISTOGRAM per variable + a running count over it — the oracle's two global " +
      "rank() windows each sort every row in one task; here the window sorts distinct " +
      "values, and no row-level global sort exists. Per-row ranks rejoin the fact rows " +
      "by VALUE (two co-keyed joins against tie-collapsed histograms), and all six " +
      "Pearson terms accumulate in DECIMAL(38,0)/HUGEINT with one double cast each.") { (s, d) =>
    spearmanDf(s, d)
  }

  /** q_spearman's dataflow, lazy: building it starts no Spark job. */
  private[graft] def spearmanDf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no spread: r15's round-robin exchange on the fact projection cost
    // more than the 1-task map side saved (2.92 with vs 2.45 without; at
    // real scale splits >= cores and the spread is a no-op anyway)
    val pts = t(s, d, "lineitem").select(
      (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("x"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long").as("y"))
    // 2·midrank = 2·cum_lt + c + 1 = 2·cum_le − c + 1, with cum_le the
    // running count over the tie-collapsed histogram: the window sorts
    // one row per distinct value, never the fact rows
    def midranks(vCol: String, out: String): DataFrame =
      pts.groupBy(vCol).agg(count(lit(1)).as("c"))
        .select(col(vCol),
          (lit(2) * sum(col("c")).over(Window.orderBy(vCol)) - col("c") + 1).as(out))
    // bounded: one row per l_quantity value (50)
    val ranked = pts.join(broadcast(midranks("x", "rx")), "x").join(midranks("y", "ry"), "y")
    val s6 = ranked.agg(
      count(lit(1)).cast(dec38).as("n"),
      sum(col("rx").cast(dec38)).as("sx"), sum(col("ry").cast(dec38)).as("sy"),
      sum(col("rx").cast(dec38) * col("rx").cast(dec38)).as("sxx"),
      sum(col("ry").cast(dec38) * col("ry").cast(dec38)).as("syy"),
      sum(col("rx").cast(dec38) * col("ry").cast(dec38)).as("sxy"))
    s6.select(
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
        .as("spearman_rho"))
  }

  val topkPerGroup: QueryDef = QueryDef.sqlBacked(
    "q_topk_group",
    """SELECT pri, rn AS rank, o_orderkey, cents
      |FROM (
      |  SELECT o_orderpriority AS pri, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey)
      |      AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY pri, rank""".stripMargin,
    doc = "Top-3 orders per priority WITHOUT a rank window: operators/TopKByGroup is a " +
      "mergeable Aggregator holding a k-bounded sorted buffer, so Spark runs it with " +
      "partial aggregation — each map task ships at most k pairs per group, where the " +
      "oracle's row_number window sorts every row of every group in one task per " +
      "group. Deterministic total order (value desc, id asc) under ties.") { (s, d) =>
    val base = t(s, d, "orders").select(
      col("o_orderpriority").as("pri"),
      cents("o_totalprice").as("cents"), col("o_orderkey"))
    graft.operators.TopKByGroup.topK(base, Seq("pri"), "cents", "o_orderkey", 3)
      .select(col("pri"), col("rank"), col("o_orderkey"), col("cents"))
      .orderBy("pri", "rank")
  }

  val kendall: QueryDef = QueryDef.sqlBacked(
    "q_kendall",
    """WITH j AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT
      |    SUM(CASE WHEN b.y > a.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS nc,
      |    SUM(CASE WHEN b.y < a.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS nd
      |  FROM j a JOIN j b ON b.x > a.x),
      |t AS (
      |  SELECT CAST(SUM(c) AS HUGEINT) AS n,
      |    SUM(CAST(c AS HUGEINT) * c) AS scc
      |  FROM j),
      |tx AS (SELECT SUM(CAST(cx AS HUGEINT) * cx) AS sxx FROM
      |  (SELECT SUM(c) AS cx FROM j GROUP BY x) gx),
      |ty AS (SELECT SUM(CAST(cy AS HUGEINT) * cy) AS syy FROM
      |  (SELECT SUM(c) AS cy FROM j GROUP BY y) gy)
      |SELECT round(CAST(2*nc - 2*nd AS DOUBLE)
      |  / (sqrt(CAST(n*n - sxx AS DOUBLE)) * sqrt(CAST(n*n - syy AS DOUBLE))), 6)
      |  AS kendall_tau_b
      |FROM p CROSS JOIN t CROSS JOIN tx CROSS JOIN ty""".stripMargin,
    doc = "Kendall's τ-b (quantity vs discount), EXACT at any scale via the joint " +
      "contingency table: both columns are dictionary-sized, so one aggregation " +
      "collapses 100 TB of rows into a few hundred (x, y, count) cells and the " +
      "concordant/discordant sums run as a cell-level join over that tiny table (the " +
      "only non-equi join in the plan touches ≤ |domain|² cells, never rows). Using " +
      "2(nc−nd)/√(n²−Σtx²)/√(n²−Σty²) — the tie-corrected denominator expressed in " +
      "pure integers (n² − Σt² = 2·(n0 − n1)) — every term is an exact " +
      "HUGEINT/DECIMAL(38,0) until one final double epilogue.") { (s, d) =>
    val j = t(s, d, "lineitem").groupBy(
        (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("x"),
        (col("l_discount").cast(DecimalType(12, 2)) * 100).cast("long").as("y"))
      .agg(count(lit(1)).as("c"))
    // bounded: one row per (l_quantity, l_discount) value pair
    val p = j.as("a").join(broadcast(j.as("b")), col("b.x") > col("a.x"))
      .agg(
        sum(when(col("b.y") > col("a.y"),
          col("a.c").cast(dec38) * col("b.c").cast(dec38)).otherwise(lit(0).cast(dec38))).as("nc"),
        sum(when(col("b.y") < col("a.y"),
          col("a.c").cast(dec38) * col("b.c").cast(dec38)).otherwise(lit(0).cast(dec38))).as("nd"))
    val tot = j.agg(sum(col("c")).cast(dec38).as("n"))
    val sxx = j.groupBy("x").agg(sum(col("c")).as("cx"))
      .agg(sum(col("cx").cast(dec38) * col("cx").cast(dec38)).as("sxx"))
    val syy = j.groupBy("y").agg(sum(col("c")).as("cy"))
      .agg(sum(col("cy").cast(dec38) * col("cy").cast(dec38)).as("syy"))
    p.crossJoin(tot).crossJoin(sxx).crossJoin(syy)
      .select(round((lit(2) * col("nc") - lit(2) * col("nd")).cast("double")
        / (sqrt((col("n") * col("n") - col("sxx")).cast("double"))
          * sqrt((col("n") * col("n") - col("syy")).cast("double"))), 6)
        .as("kendall_tau_b"))
  }

  val ksTest: QueryDef = QueryDef.sqlBacked(
    "q_ks_test",
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |h AS (SELECT cents, SUM(g1) AS n1c, SUM(1 - g1) AS n2c FROM v GROUP BY 1),
      |c AS (
      |  SELECT SUM(CAST(n1c AS HUGEINT)) OVER (ORDER BY cents) AS c1,
      |         SUM(CAST(n2c AS HUGEINT)) OVER (ORDER BY cents) AS c2
      |  FROM h),
      |t AS (SELECT SUM(CAST(n1c AS HUGEINT)) AS n1,
      |             SUM(CAST(n2c AS HUGEINT)) AS n2 FROM h)
      |SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
      |  round(CAST(MAX(abs(c1 * t.n2 - c2 * t.n1)) AS DOUBLE)
      |    / CAST(t.n1 * t.n2 AS DOUBLE), 6) AS ks_d
      |FROM c CROSS JOIN t GROUP BY t.n1, t.n2""".stripMargin,
    doc = "Two-sample Kolmogorov–Smirnov statistic comparing URGENT vs LOW order-value " +
      "distributions: D = max|ECDF₁−ECDF₂|, exact. The ECDF numerators are TWO prefix " +
      "sums over the same merged value histogram — one RunningTotals pass stamps both " +
      "(range exchange + O(partitions) boundary collect; the oracle's two global windows " +
      "are each one task). The max runs over the INTEGER cross-difference " +
      "|c1·n2 − c2·n1| (DECIMAL(38,0)/HUGEINT — tie-proof, scale-proof), and D is one " +
      "double divide of two exact operands at the very end.") { (s, d) =>
    val v = t(s, d, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents("o_totalprice").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("g1"))
    val hist = v.groupBy("cents").agg(
      sum(col("g1")).as("n1c"), sum(lit(1L) - col("g1")).as("n2c"))
    val cum = graft.operators.RunningTotals.perGroupMulti(
      hist, Seq.empty, Seq(col("cents")), Seq("n1c", "n2c"), Seq("__c1", "__c2"))
    val tot = hist.agg(sum(col("n1c")).as("n1"), sum(col("n2c")).as("n2"))
    cum.crossJoin(tot)
      .select(
        abs(col("__c1").cast(dec38) * col("n2").cast(dec38)
          - col("__c2").cast(dec38) * col("n1").cast(dec38)).as("__num"),
        col("n1"), col("n2"))
      .groupBy("n1", "n2").agg(max(col("__num")).as("__dn"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(col("__dn").cast("double")
          / (col("n1").cast(dec38) * col("n2").cast(dec38)).cast("double"), 6)
          .as("ks_d"))
  }

  val chi2: QueryDef = QueryDef.sqlBacked(
    "q_chi2",
    """WITH j AS (
      |  SELECT l_returnflag AS flag, l_linestatus AS status,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS total FROM j),
      |mf AS (SELECT flag, CAST(SUM(n) AS HUGEINT) AS nf FROM j GROUP BY 1),
      |ms AS (SELECT status, CAST(SUM(n) AS HUGEINT) AS ns FROM j GROUP BY 1)
      |SELECT j.flag, j.status, j.n,
      |  round(CAST(j.n * tot.total - mf.nf * ms.ns AS DOUBLE)
      |      * CAST(j.n * tot.total - mf.nf * ms.ns AS DOUBLE)
      |      / CAST(tot.total * mf.nf * ms.ns AS DOUBLE), 6) AS chi2_term
      |FROM j CROSS JOIN tot
      |  JOIN mf ON mf.flag = j.flag
      |  JOIN ms ON ms.status = j.status
      |ORDER BY j.flag, j.status""".stripMargin,
    doc = "Chi-squared independence test between returnflag and linestatus, emitted as " +
      "per-cell contributions (n·total − nf·ns)²/(total·nf·ns) ≡ (n−E)²/E — the " +
      "q_entropy_mi contingency aggregation with a different epilogue. The delta " +
      "n·total − nf·ns is EXACT (DECIMAL(38,0)/HUGEINT), cast to double once, squared " +
      "and divided in an IEEE op sequence written identically in both engines; no " +
      "cross-row double summation ever happens (χ² itself is the oracle-side sum a " +
      "reader can fold). Counts and marginals are one map-combined aggregation each; " +
      "the scalar total and dictionary-sized marginals broadcast.") { (s, d) =>
    val j = t(s, d, "lineitem").groupBy(
      col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n"))
    val tot = j.agg(sum(col("n")).cast(dec38).as("total"))
    val mf = j.groupBy("flag").agg(sum(col("n")).cast(dec38).as("nf"))
    val ms = j.groupBy("status").agg(sum(col("n")).cast(dec38).as("ns"))
    val delta = (col("n").cast(dec38) * col("total") - col("nf") * col("ns"))
      .cast("double")
    j.crossJoin(tot)
      // bounded: one row per l_returnflag and per l_linestatus value
      .join(broadcast(mf), "flag")
      .join(broadcast(ms), "status")
      .select(col("flag"), col("status"), col("n"),
        round(delta * delta
          / (col("total") * col("nf") * col("ns")).cast("double"), 6).as("chi2_term"))
      .orderBy("flag", "status")
  }

  val all: Seq[QueryDef] = Seq(
    giniByPriority, mannWhitney, autocorrelation, entropyMi, editDistanceJoin,
    assocRules, weightedSample, editDistClusters, ols2, skyline3, gkBound,
    hhi, abcAnalysis, spearman, topkPerGroup, kendall, ksTest, chi2)
}
