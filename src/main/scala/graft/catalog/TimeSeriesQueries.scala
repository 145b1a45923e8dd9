package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{QueryDef, Tables}

/** Round-15 tier: time-series forecasting and decomposition on the
  * monitoring machinery (drift/changepoint/trend landed in round 14 —
  * this adds level/trend smoothing, seasonal decomposition, and the
  * paired sign test completing the paired-test family).
  *
  * Scale shape shared by the tier: the ONLY full-data pass is the
  * map-combined daily (date-grain) aggregation; everything after runs
  * over a CALENDAR-BOUNDED series (one row per day — a few thousand
  * rows at ANY fact scale), so the sequential recurrences run as one
  * deliberate single-task pass (the Skyline-merge precedent: bounded
  * by construction, not by luck). Reference behavior: cdf's rollup
  * pipelines compute smoothing/seasonality on the date-grain metric
  * tables, never on raw facts.
  *
  * Float discipline: q_stl_median is ALL integer (exact rolling median
  * of 7, exact lower medians). q_holt_linear's recurrence is IEEE
  * doubles written in the SAME operand order in both engines over
  * exact integer inputs, so the series is bit-identical before the
  * final round(…, 6) at dollar magnitude (ulp ~1e-9 at 1e7 — far
  * under 1e-6, the r13 float law).
  */
object TimeSeriesQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private def cents(c: String) = round(col(c) * 100).cast("long")

  /** Daily revenue cents: the tier's one full-data pass. */
  private def daily(s: SparkSession, d: String): DataFrame = {
    val ord = t(s, d, "orders")
    ord
      .select(Tables.tsUs(ord, "o_orderdate").as("us"), cents("o_totalprice").as("c"))
      .select(expr("us div 86400000000").as("day"), col("c"))
      .groupBy("day").agg(sum(col("c")).as("x"))
  }

  private val dailySql =
    """daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  val holtLinear: QueryDef = QueryDef.sqlBacked(
    "q_holt_linear",
    s"""WITH RECURSIVE $dailySql,
      |s AS (SELECT day, CAST(x AS DOUBLE) AS x,
      |        row_number() OVER (ORDER BY day) AS rn FROM daily),
      |h(rn, day, l, b) AS (
      |  SELECT rn, day, x, (SELECT x FROM s WHERE rn = 2) - x
      |  FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT s.rn, s.day,
      |    0.5 * s.x + 0.5 * (h.l + h.b),
      |    0.5 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
      |  FROM h JOIN s ON s.rn = h.rn + 1)
      |SELECT day, round(l / 100, 6) AS level_usd, round(b / 100, 6) AS trend_usd
      |FROM h ORDER BY day""".stripMargin,
    doc = "Holt's linear (double-exponential) smoothing of the daily revenue series, " +
      "α = β = 1/2: lₜ = ½xₜ + ½(lₜ₋₁+bₜ₋₁), bₜ = ½(lₜ−lₜ₋₁) + ½bₜ₋₁, seeded " +
      "l₁ = x₁, b₁ = x₂−x₁. Emits the full per-step (level, trend) components — the " +
      "h-step forecast is the reader's l + h·b fold. The one full-data pass is the " +
      "map-combined daily aggregation; the recurrence is inherently sequential and " +
      "runs as ONE deliberate task over the calendar-bounded series in the exact " +
      "IEEE operand order of the oracle's recursive CTE (bit-identical doubles " +
      "before the round-6 epilogue). The anomaly-band forecaster every revenue " +
      "monitor runs at date grain.") { (s, d) =>
    val sorted = daily(s, d).repartition(1).sortWithinPartitions("day")
    val schema = StructType(Seq(
      StructField("day", LongType, nullable = false),
      StructField("l", DoubleType, nullable = false),
      StructField("b", DoubleType, nullable = true)))
    val rdd = sorted.rdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val bi = it.buffered
        val r1 = bi.next()
        val day1 = r1.getLong(0)
        val x1 = r1.getLong(1).toDouble
        if (!bi.hasNext) Iterator.single(Row(day1, x1, null))
        else {
          // seed: l₁ = x₁, b₁ = x₂ − x₁ (peek, don't consume)
          var l = x1
          var b = bi.head.getLong(1).toDouble - x1
          Iterator.single(Row(day1, l, b)) ++ bi.map { r =>
            val x = r.getLong(1).toDouble
            // EXACT operand order of the oracle's recursive member
            val lNew = 0.5 * x + 0.5 * (l + b)
            b = 0.5 * (lNew - l) + 0.5 * b
            l = lNew
            Row(r.getLong(0), l, b)
          }
        }
      }
    }
    s.createDataFrame(rdd, schema)
      .select(col("day"),
        round(col("l") / 100, 6).as("level_usd"),
        round(col("b") / 100, 6).as("trend_usd"))
      .orderBy("day")
  }

  val stlMedian: QueryDef = QueryDef.sqlBacked(
    "q_stl_median",
    s"""WITH $dailySql,
      |s AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |t AS (SELECT COUNT(*) AS n FROM s),
      |w AS (SELECT a.day AS day, a.x AS x, b.x AS bx,
      |        row_number() OVER (PARTITION BY a.day ORDER BY b.x) AS r7
      |      FROM s a JOIN s b ON b.rn BETWEEN a.rn - 3 AND a.rn + 3
      |      WHERE a.rn >= 4 AND a.rn <= (SELECT n FROM t) - 3),
      |tr AS (SELECT day, x, bx AS trend FROM w WHERE r7 = 4),
      |det AS (SELECT (day + 3) % 7 AS dow, x - trend AS det FROM tr),
      |g AS (SELECT dow, COUNT(*) AS n FROM det GROUP BY 1),
      |r AS (SELECT dow, det,
      |        row_number() OVER (PARTITION BY dow ORDER BY det) AS rn FROM det)
      |SELECT CAST(r.dow AS BIGINT) AS dow, CAST(g.n AS BIGINT) AS n_days,
      |  CAST(r.det AS BIGINT) AS seasonal_cents
      |FROM r JOIN g ON g.dow = r.dow AND r.rn = (g.n + 1) // 2
      |ORDER BY dow""".stripMargin,
    doc = "Median-based seasonal decomposition of the daily revenue series (the robust " +
      "STL core): trend = exact rolling MEDIAN of 7 consecutive days (4th order " +
      "statistic — integers in, integer out; full windows only), seasonal = per-weekday " +
      "lower median of the detrended series (0 = Monday, the tier convention). ALL " +
      "integer — no float ever crosses the engine boundary. The rolling pass is one " +
      "task over the calendar-bounded series; seasonal medians come from the value " +
      "histogram + RunningTotals (exact rank arithmetic, the q_weighted_median " +
      "machinery). Detects weekday effects that survive dirty tails, where a " +
      "mean-based decomposition chases outliers.") { (s, d) =>
    val sorted = daily(s, d).repartition(1).sortWithinPartitions("day")
    val schema = StructType(Seq(
      StructField("day", LongType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("trend", LongType, nullable = false)))
    val tr = sorted.rdd.mapPartitions { it =>
      // the partition is the calendar-bounded daily series (one row per
      // day at any fact scale) — materializing it is O(calendar)
      val arr = it.toArray
      val w = new Array[Long](7)
      (3 until arr.length - 3).iterator.map { i =>
        var k = 0
        while (k < 7) { w(k) = arr(i - 3 + k).getLong(1); k += 1 }
        java.util.Arrays.sort(w)
        Row(arr(i).getLong(0), arr(i).getLong(1), w(3))
      }
    }
    val det = s.createDataFrame(tr, schema)
      .select(expr("(day + 3) % 7").as("dow"), (col("x") - col("trend")).as("det"))
    val hist = det.groupBy("dow", "det").agg(count(lit(1)).as("c"))
    val cum = graft.operators.RunningTotals.perGroup(
      hist, Seq("dow"), Seq(col("det")), "c", outCol = "__cum")
    val sized = cum.groupBy("dow").agg(max("__cum").as("n"))
    // bounded: one row per day of week
    cum.join(broadcast(sized), "dow")
      .filter(col("__cum") >= expr("(n + 1) div 2"))
      .groupBy("dow", "n").agg(min("det").as("seasonal_cents"))
      .select(col("dow").cast("long").as("dow"),
        col("n").cast("long").as("n_days"), col("seasonal_cents"))
      .orderBy("dow")
  }

  val pairedSignTest: QueryDef = QueryDef.sqlBacked(
    "q_paired_sign_test",
    """WITH a AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN year(o_orderdate) = 1995
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS c95,
      |    MAX(CASE WHEN year(o_orderdate) = 1996
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS c96
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1),
      |d AS (SELECT CASE WHEN c96 > c95 THEN 1 ELSE 0 END AS pos FROM a
      |      WHERE c95 IS NOT NULL AND c96 IS NOT NULL AND c96 <> c95)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
      |  round((CAST(SUM(pos) AS DOUBLE) * 2 - CAST(COUNT(*) AS DOUBLE))
      |    / sqrt(CAST(COUNT(*) AS DOUBLE)), 6) AS sign_z
      |FROM d""".stripMargin,
    doc = "Paired SIGN test on each customer's best order value, 1995 vs 1996 (the " +
      "q_wilcoxon pairing; zero diffs drop, the standard convention): n₊, n₋ and the " +
      "normal approximation z = (2n₊−n)/√n. The distribution-free sibling completing " +
      "the paired-test family (sign → Wilcoxon → t): no ranks, no symmetry assumption " +
      "— just ONE map-combined aggregation over the pairs. Counts are exact at any " +
      "scale; the single double chain is the z epilogue.") { (s, d) =>
    val o = t(s, d, "orders")
    val yr = year(col("o_orderdate"))
    val a = o.filter(yr.isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(
        max(when(yr === 1995, cents("o_totalprice"))).as("c95"),
        max(when(yr === 1996, cents("o_totalprice"))).as("c96"))
    val dd = a.filter(col("c95").isNotNull && col("c96").isNotNull
        && col("c96") =!= col("c95"))
      .select(when(col("c96") > col("c95"), 1L).otherwise(0L).as("pos"))
    dd.agg(sum(col("pos")).as("__p"), count(lit(1)).as("__n"))
      .select(col("__p").cast("long").as("n_pos"),
        (col("__n") - col("__p")).cast("long").as("n_neg"),
        round((col("__p").cast("double") * 2 - col("__n").cast("double"))
          / sqrt(col("__n").cast("double")), 6).as("sign_z"))
  }

  val all: Seq[QueryDef] = Seq(holtLinear, stlMedian, pairedSignTest)
}
