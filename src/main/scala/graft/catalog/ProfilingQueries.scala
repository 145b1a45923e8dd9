package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{QueryDef, Tables}

/** Data-profiling operators: the statistics a warehouse runs over an
  * unfamiliar 100 TB table before trusting it — correlation structure,
  * key/foreign-key discovery, digit-distribution fraud signals,
  * independence tests, and time-series anomaly flags. Every query keeps
  * the catalog's exact-arithmetic discipline: sufficient statistics
  * accumulate in BIGINT/DECIMAL(38,0) (engine-portable, order-free) and
  * doubles appear only in per-row epilogue expressions whose IEEE
  * operation sequence is written identically in Spark and DuckDB.
  */
object ProfilingQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private val dec38 = DecimalType(38, 0)

  /** Pearson correlation matrix over the four 2-dp lineitem measures in
    * ONE aggregate pass: all 14 sufficient statistics (n, four Σx, four
    * Σx², six Σxy) come out of a single map-combined aggregation over
    * integer cents, so the fact table is read once no matter how many
    * column pairs are profiled — the shape that matters at 100 TB, where
    * a per-pair `corr()` would re-scan the table 6 times. The per-pair
    * solve r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) runs on the
    * 1-row summary: exact DECIMAL(38,0) differences, then one
    * correctly-rounded cast to double per term (same discipline as
    * q_linear_fit).
    */
  val corrMatrix: QueryDef = {
    val cols = Seq("l_quantity" -> "q", "l_extendedprice" -> "p",
      "l_discount" -> "d", "l_tax" -> "x")
    val pairs = for {
      (i, a) <- cols.zipWithIndex
      j <- cols.drop(a + 1)
    } yield (i, j)
    val pairSql = pairs.map { case ((xn, xa), (yn, ya)) =>
      s"""SELECT '$xn' AS x_col, '$yn' AS y_col, CAST(n AS BIGINT) AS n_rows,
         |  CAST(n * c_$xa$ya - s_$xa * s_$ya AS DOUBLE) /
         |    NULLIF(sqrt(CAST(n * ss_$xa - s_$xa * s_$xa AS DOUBLE) *
         |                CAST(n * ss_$ya - s_$ya * s_$ya AS DOUBLE)), 0) AS corr
         |FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    // products are accumulated in DECIMAL(38,0), not BIGINT: price
    // cents squared is ~1.2e14 per row, so a BIGINT Σx² overflows past
    // ~75k rows (it did, at sf0.1) — and DuckDB's checked BIGINT
    // multiply would error the same way
    val sumsSql = cols.map { case (n, a) =>
      s"CAST(SUM($a) AS DECIMAL(38,0)) AS s_$a, " +
        s"CAST(SUM(CAST($a AS DECIMAL(38,0)) * $a) AS DECIMAL(38,0)) AS ss_$a"
    }.mkString(",\n    ") + ",\n    " + pairs.map { case ((_, xa), (_, ya)) =>
      s"CAST(SUM(CAST($xa AS DECIMAL(38,0)) * $ya) AS DECIMAL(38,0)) AS c_$xa$ya"
    }.mkString(",\n    ")
    QueryDef.sqlBacked(
      "q_corr_matrix",
      s"""WITH pts AS (
         |  SELECT ${cols.map { case (n, a) =>
             s"CAST(CAST($n AS DECIMAL(12,2)) * 100 AS BIGINT) AS $a" }.mkString(", ")}
         |  FROM lineitem),
         |s AS (
         |  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         |    $sumsSql
         |  FROM pts)
         |SELECT * FROM (
         |$pairSql
         |) ORDER BY x_col, y_col""".stripMargin,
      doc = "Pearson correlation matrix (6 pairs over 4 measures) from ONE pass of exact " +
        "integer sufficient statistics — the table is scanned once regardless of pair " +
        "count; doubles appear only in the per-pair closed-form solve.") { (s, d) =>
      val pts = t(s, d, "lineitem").select(cols.map { case (n, a) =>
        (col(n).cast(DecimalType(12, 2)) * 100).cast("long").as(a)
      }: _*)
      val aggs =
        Seq(count(lit(1)).cast(dec38).as("n")) ++
          cols.flatMap { case (_, a) =>
            Seq(sum(col(a)).cast(dec38).as(s"s_$a"),
              sum(col(a).cast(dec38) * col(a)).cast(dec38).as(s"ss_$a"))
          } ++
          pairs.map { case ((_, xa), (_, ya)) =>
            sum(col(xa).cast(dec38) * col(ya)).cast(dec38).as(s"c_$xa$ya")
          }
      val summary = pts.agg(aggs.head, aggs.tail: _*)
      def pairRow(xn: String, xa: String, yn: String, ya: String): Column = {
        val num = (col("n") * col(s"c_$xa$ya") - col(s"s_$xa") * col(s"s_$ya"))
          .cast("double")
        val dx = (col("n") * col(s"ss_$xa") - col(s"s_$xa") * col(s"s_$xa"))
          .cast("double")
        val dy = (col("n") * col(s"ss_$ya") - col(s"s_$ya") * col(s"s_$ya"))
          .cast("double")
        val den = sqrt(dx * dy)
        struct(lit(xn).as("x_col"), lit(yn).as("y_col"),
          col("n").cast("long").as("n_rows"),
          (num / when(den =!= 0.0, den)).as("corr"))
      }
      summary
        .select(explode(array(pairs.map { case ((xn, xa), (yn, ya)) =>
          pairRow(xn, xa, yn, ya)
        }: _*)).as("p"))
        .select("p.*")
        .orderBy("x_col", "y_col")
    }
  }

  /** Unary inclusion-dependency (foreign-key) discovery over a fixed
    * candidate list spanning all TPC-H key relationships plus a
    * structurally-false pair (order keys are not customer keys, at any
    * scale). Each candidate is decided by
    * DISTINCT-then-anti-join: project the fk column, distinct it (the
    * only shuffle, and it collapses the fact table to its key
    * cardinality BEFORE any join), then left-anti against the distinct
    * pk side — which Spark broadcasts when the referenced table is a
    * dimension. Violations are counted, not just boolean-ized, so the
    * result doubles as a referential-integrity audit. Nulls are
    * excluded on both sides per SQL FK semantics.
    */
  val inclusionDeps: QueryDef = {
    val cands: Seq[(String, String, String, String)] = Seq(
      ("customer", "c_custkey", "orders", "o_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("orders", "o_orderkey", "customer", "c_custkey"),
      ("part", "p_partkey", "lineitem", "l_partkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"))
    val sql = cands.map { case (ft, fc, pt, pc) =>
      s"""SELECT '$ft' AS fk_table, '$fc' AS fk_col, '$pt' AS pk_table, '$pc' AS pk_col,
         |  (SELECT CAST(COUNT(DISTINCT $fc) AS BIGINT) FROM $ft
         |     WHERE $fc IS NOT NULL) AS n_fk_distinct,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM (SELECT DISTINCT $fc AS v FROM $ft WHERE $fc IS NOT NULL) f
         |     WHERE NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pc = f.v)) AS n_missing""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef.sqlBacked(
      "q_inclusion_deps",
      s"""SELECT *, n_missing = 0 AS holds FROM (
         |$sql
         |) ORDER BY fk_table, fk_col, pk_table""".stripMargin,
      doc = "Inclusion-dependency (FK) discovery: 8 candidate column pairs decided by " +
        "distinct-then-anti-join (fact collapses to key cardinality before the join, " +
        "dimension side broadcasts); violation counts make it a referential audit.") {
      (s, d) =>
        import s.implicits._
        // the 9 candidate pairs are independent (18 actions): submit
        // them concurrently so each job's task tail back-fills the
        // others' idle cores (guide §2.6) — was 18 strictly sequential
        // jobs of mostly scheduling wait. Fresh labeled pool: Par.awaitAll.
        val rows = graft.core.Par.awaitAll(cands.map { case (ft, fc, pt, pc) =>
          () => {
            val fk = t(s, d, ft).filter(col(fc).isNotNull)
              .select(col(fc).as("v")).distinct()
            val pk = t(s, d, pt).filter(col(pc).isNotNull)
              .select(col(pc).as("v")).distinct()
            val nFk = fk.count()
            val nMissing = fk.join(pk, Seq("v"), "left_anti").count()
            (ft, fc, pt, pc, nFk, nMissing, nMissing == 0L)
          }
        })
        rows.toDF("fk_table", "fk_col", "pk_table", "pk_col",
          "n_fk_distinct", "n_missing", "holds")
          .orderBy("fk_table", "fk_col", "pk_table")
    }
  }

  /** Benford first-significant-digit profile of l_extendedprice. The
    * leading digit is taken from the STRING form of the exact cents
    * BIGINT (×100 shifts the decimal point without changing the leading
    * significant digit) — no log10/pow round-trip, so the bucketing is
    * bit-free and engine-portable. Observed shares are exact integer
    * ppm (cnt·10⁶ floor-div total); the Benford expectation
    * round(log10(1+1/d)·10⁶) ships as a 9-entry literal lookup (the
    * nine values sum to exactly 1 000 000). One groupBy on a 1-byte
    * key; the total rides a broadcast 1-row cross join.
    */
  val benford: QueryDef = {
    val benfordPpm = Seq(1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910,
      5 -> 79181, 6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)
    val caseSql = "CASE digit " +
      benfordPpm.map { case (k, v) => s"WHEN $k THEN $v" }.mkString(" ") +
      " END"
    QueryDef.sqlBacked(
      "q_benford",
      s"""WITH d AS (
         |  SELECT CAST(SUBSTRING(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
         |           AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM lineitem WHERE l_extendedprice > 0),
         |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY digit)
         |SELECT digit, cnt,
         |  CAST(cnt * 1000000 // (SELECT CAST(SUM(cnt) AS BIGINT) FROM c) AS BIGINT) AS obs_ppm,
         |  CAST($caseSql AS BIGINT) AS benford_ppm
         |FROM c ORDER BY digit""".stripMargin,
      doc = "Benford first-digit profile of extendedprice: leading digit via the exact " +
        "cents string (no log10), observed shares in exact integer ppm vs the 9-entry " +
        "Benford expectation table.") { (s, d) =>
      val digits = t(s, d, "lineitem")
        .filter(col("l_extendedprice") > 0)
        .select(substring(
          (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
            .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      val counts = digits.groupBy("digit").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").cast("long").as("total"))
      val lookup = benfordPpm.foldLeft(lit(null).cast("long")) { case (acc, (k, v)) =>
        when(col("digit") === k, lit(v.toLong)).otherwise(acc)
      }
      counts.crossJoin(total)
        .select(col("digit"), col("cnt"),
          expr("cnt * 1000000 div total").as("obs_ppm"),
          lookup.as("benford_ppm"))
        .orderBy("digit")
    }
  }

  /** Chi-square independence table for returnflag × linestatus. The
    * contingency counts and their row/column/grand marginals are exact
    * BIGINTs (marginals via whole-partition window sums over the tiny
    * grouped result — the fact table is aggregated ONCE and never
    * re-scanned per marginal). `expected` and the per-cell chi² term
    * are per-row double epilogues written as the identical IEEE
    * operation sequence in both engines; the cross-cell Σ is left to
    * the reader because a floating sum's value depends on engine
    * iteration order — the per-cell terms are the deterministic part.
    */
  val contingency: QueryDef = QueryDef.sqlBacked(
    "q_contingency",
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS observed
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, l_linestatus, observed,
      |    CAST(SUM(observed) OVER (PARTITION BY l_returnflag) AS BIGINT) AS row_total,
      |    CAST(SUM(observed) OVER (PARTITION BY l_linestatus) AS BIGINT) AS col_total,
      |    CAST(SUM(observed) OVER () AS BIGINT) AS grand_total
      |  FROM c),
      |e AS (
      |  SELECT *, CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
      |              / CAST(grand_total AS DOUBLE) AS expected
      |  FROM m)
      |SELECT l_returnflag, l_linestatus, observed, row_total, col_total, grand_total,
      |  expected,
      |  (CAST(observed AS DOUBLE) - expected) * (CAST(observed AS DOUBLE) - expected)
      |    / expected AS chi2_term
      |FROM e ORDER BY l_returnflag, l_linestatus""".stripMargin,
    doc = "Contingency table with exact integer marginals (window sums over the grouped " +
      "result — one fact-table pass) and per-cell expected / chi-square terms as " +
      "deterministic per-row double epilogues.") { (s, d) =>
    val c = t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("observed"))
    val m = c.select(col("l_returnflag"), col("l_linestatus"), col("observed"),
      sum("observed").over(Window.partitionBy("l_returnflag")).as("row_total"),
      sum("observed").over(Window.partitionBy("l_linestatus")).as("col_total"),
      sum("observed").over(Window.partitionBy()).as("grand_total"))
    val e = m.withColumn("expected",
      col("row_total").cast("double") * col("col_total").cast("double")
        / col("grand_total").cast("double"))
    e.select(col("l_returnflag"), col("l_linestatus"), col("observed"),
      col("row_total"), col("col_total"), col("grand_total"), col("expected"),
      ((col("observed").cast("double") - col("expected"))
        * (col("observed").cast("double") - col("expected"))
        / col("expected")).as("chi2_term"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Trailing-window z-score anomaly detection on the hourly event-count
    * series, decided ENTIRELY in integer arithmetic: the window carries
    * (n, Σx, Σx²) over the previous 24 buckets and the flag tests
    * (x·n − Σx)² > k²·(n·Σx² − (Σx)²) — the z² > k² inequality with both
    * sides multiplied through by n², so there is no division, no sqrt,
    * and no float anywhere in the decision. At 100 TB the hourly
    * pre-aggregation is the only fact-table shuffle; the window runs
    * over the tiny bucket series (partitioned by event_type so the
    * series keys distribute).
    */
  val anomalyZscore: QueryDef = QueryDef.sqlBacked(
    "q_anomaly_zscore",
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, hour_bucket, cnt,
      |    CAST(COUNT(cnt) OVER win AS BIGINT) AS win_n,
      |    CAST(SUM(cnt) OVER win AS BIGINT) AS win_sum,
      |    CAST(SUM(cnt * cnt) OVER win AS BIGINT) AS win_sumsq
      |  FROM b
      |  WINDOW win AS (PARTITION BY event_type ORDER BY hour_bucket
      |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, hour_bucket, cnt, win_n, win_sum,
      |  (cnt * win_n - win_sum) * (cnt * win_n - win_sum) AS dev_sq_n2,
      |  9 * (win_n * win_sumsq - win_sum * win_sum) AS bound_sq_n2
      |FROM w
      |WHERE win_n >= 12
      |  AND (cnt * win_n - win_sum) * (cnt * win_n - win_sum)
      |        > 9 * (win_n * win_sumsq - win_sum * win_sum)
      |ORDER BY event_type, hour_bucket""".stripMargin,
    doc = "Hourly-count anomaly flags per event_type: trailing-24h z-score test run as " +
      "a pure integer inequality (z^2 > 3^2 multiplied through by n^2) — no division, " +
      "sqrt, or float in the decision; the fact table shuffles once into hour buckets.") {
    (s, d) =>
      val b = Tables.eventsUs(s, d)
        .groupBy(col("event_type"),
          expr("ts_us div 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(-24, -1)
      val w = b.select(col("event_type"), col("hour_bucket"), col("cnt"),
        count("cnt").over(win).as("win_n"),
        sum("cnt").over(win).as("win_sum"),
        sum(col("cnt") * col("cnt")).over(win).as("win_sumsq"))
      val dev = col("cnt") * col("win_n") - col("win_sum")
      val bound = lit(9L) * (col("win_n") * col("win_sumsq")
        - col("win_sum") * col("win_sum"))
      w.filter(col("win_n") >= 12 && dev * dev > bound)
        .select(col("event_type"), col("hour_bucket"), col("cnt"),
          col("win_n"), col("win_sum"),
          (dev * dev).as("dev_sq_n2"), bound.as("bound_sq_n2"))
        .orderBy("event_type", "hour_bucket")
  }

  /** Exact rolling median over a 7-day trailing frame — an operator
    * Spark has no native window form for (percentile_approx is
    * approximate; median is aggregate-only). Composed as
    * `element_at(sort_array(collect_list(x) OVER frame), 4)`: the frame
    * is bounded (7 rows), so the per-row cost is O(k log k) on a
    * constant k and the whole thing stays inside codegen'd window exec
    * — no UDF, no shuffle beyond the one windowing exchange. Emitted
    * only for full frames, where the 0-based middle index (n−1)/2 = 3
    * is exact and integer-valued, which is also precisely DuckDB's
    * `quantile_disc(0.5)` position — so both engines name the same
    * element and the result stays BIGINT-exact, no interpolation.
    * Series are keyed by order priority so the window partitions
    * distribute at scale.
    */
  val rollingMedian: QueryDef = QueryDef.sqlBacked(
    "q_rolling_median",
    """WITH daily AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT o_orderpriority, day, cnt,
      |    CAST(COUNT(cnt) OVER win AS BIGINT) AS win_n,
      |    quantile_disc(cnt, 0.5) OVER win AS med7
      |  FROM daily
      |  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY day
      |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |WHERE win_n = 7 ORDER BY o_orderpriority, day""".stripMargin,
    doc = "Exact 7-day rolling median of daily order counts per priority: " +
      "sort_array(collect_list) over a bounded frame picks the same discrete middle " +
      "element as DuckDB's quantile_disc(0.5) — integer-exact, no interpolation.") {
    (s, d) =>
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy("o_orderpriority").orderBy("day")
        .rowsBetween(-6, 0)
      daily.select(col("o_orderpriority"), col("day"), col("cnt"),
          count("cnt").over(win).as("win_n"),
          element_at(sort_array(collect_list("cnt").over(win)), 4).as("med7"))
        .filter(col("win_n") === 7)
        .orderBy("o_orderpriority", "day")
  }

  /** KMV (k-minimum-values) distinct-count sketch, fully
    * oracle-replayable: keys hash through a Lehmer LCG (x·48271 mod
    * 2³¹−1 — pure integer arithmetic both engines evaluate
    * identically), the k smallest DISTINCT hash values form the
    * sketch, and the estimate is (k−1)·M ÷ h₍ₖ₎ in exact integer
    * division. The plan is the scale story: Spark executes the
    * k-smallest as TakeOrderedAndProject — each partition keeps a
    * k-bounded heap and only k rows per partition ever move, which is
    * exactly how the sketch merges on a 1000-executor cluster (KMV
    * union = min-k of the unioned sketches). Falls back to the exact
    * count when the domain has fewer than k values (the KMV rule).
    */
  val kmvDistinct: QueryDef = {
    val k = 256
    val m = 2147483647L // 2^31 - 1 (Lehmer modulus)
    QueryDef.sqlBacked(
      "q_kmv_distinct",
      s"""WITH h AS (
         |  SELECT DISTINCT (o_custkey * 48271) % $m AS h FROM orders),
         |mins AS (SELECT h FROM h ORDER BY h LIMIT $k),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS k_held, CAST(MAX(h) AS BIGINT) AS kth,
         |    (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS exact_distinct
         |  FROM mins)
         |SELECT k_held, kth, exact_distinct,
         |  CASE WHEN k_held < $k THEN k_held
         |       ELSE CAST((k_held - 1) * $m // kth AS BIGINT) END AS est_distinct
         |FROM s""".stripMargin,
      doc = s"KMV distinct-count sketch (k=$k, Lehmer hash - both engines replay it " +
        "bit-exactly): k smallest distinct hashes via TakeOrderedAndProject (k rows per " +
        "partition move, the mergeable-sketch shape), estimate (k-1)*M/h_k in exact " +
        "integer division.") { (s, d) =>
      import s.implicits._
      val orders = t(s, d, "orders")
      val mins = orders
        .select(((col("o_custkey") * 48271L) % m).as("h")).distinct()
        .orderBy("h").limit(k)
      val row = mins.agg(count(lit(1)).as("k_held"), max("h").as("kth"))
        .crossJoin(orders.agg(countDistinct("o_custkey").as("exact_distinct")))
        .select(col("k_held"), col("kth"), col("exact_distinct"),
          when(col("k_held") < k, col("k_held"))
            .otherwise(expr(s"(k_held - 1) * ${m}L div kth")).as("est_distinct"))
      row
    }
  }

  /** Maximum concurrency by sweep line: every order contributes a +1
    * boundary at its order date and a −1 at date+30d; the running sum
    * over boundaries sorted by (ts, delta) is the instantaneous load,
    * and its max is the answer. The default RANGE window frame makes
    * tie groups share their end-of-group value, so per-row loads are
    * deterministic under any engine's tie ordering (and −1 sorts
    * before +1, the end-exclusive convention). One shuffle to sort
    * boundaries per priority partition — 2 rows per fact row, no join,
    * no self-cross; the 100 TB form of "peak simultaneous sessions".
    */
  val maxConcurrency: QueryDef = QueryDef.sqlBacked(
    "q_max_concurrency",
    """WITH b AS (
      |  SELECT o_orderpriority, epoch_us(o_orderdate) AS ts, 1 AS delta FROM orders
      |  UNION ALL
      |  SELECT o_orderpriority, epoch_us(o_orderdate) + 2592000000000, -1 FROM orders),
      |r AS (
      |  SELECT o_orderpriority, ts,
      |    CAST(SUM(delta) OVER (PARTITION BY o_orderpriority ORDER BY ts, delta)
      |      AS BIGINT) AS load
      |  FROM b),
      |x AS (
      |  SELECT *, MAX(load) OVER (PARTITION BY o_orderpriority) AS mx FROM r)
      |SELECT o_orderpriority, CAST(MAX(mx) AS BIGINT) AS max_concurrent,
      |  CAST(MIN(CASE WHEN load = mx THEN ts END) AS BIGINT) AS first_peak_ts_us
      |FROM x GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    doc = "Peak concurrent 30-day order windows per priority via sweep line: +1/-1 " +
      "boundaries, running sum with the RANGE default frame (tie groups share the " +
      "end-of-group value - deterministic under any tie order), then max + first peak " +
      "time. Two rows per fact row, one sort shuffle, no self-join.") { (s, d) =>
    val o = t(s, d, "orders")
    val startB = o.select(col("o_orderpriority"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ts"), lit(1).as("delta"))
    val endB = o.select(col("o_orderpriority"),
      (unix_micros(col("o_orderdate").cast("timestamp")) + 2592000000000L).as("ts"),
      lit(-1).as("delta"))
    val win = Window.partitionBy("o_orderpriority").orderBy("ts", "delta")
    val r = startB.union(endB)
      .select(col("o_orderpriority"), col("ts"),
        sum("delta").over(win).cast("long").as("load"))
    val x = r.withColumn("mx",
      max("load").over(Window.partitionBy("o_orderpriority")))
    x.groupBy("o_orderpriority")
      .agg(max("mx").cast("long").as("max_concurrent"),
        min(when(col("load") === col("mx"), col("ts"))).cast("long")
          .as("first_peak_ts_us"))
      .orderBy("o_orderpriority")
  }

  /** Welch's two-sample t statistic for quantity between every pair of
    * return flags, from the SAME one-pass sufficient statistics as
    * q_corr_matrix: per-group (n, Σx, Σx²) in exact decimals, then the
    * per-pair epilogue t = (m₁−m₂)/√(s₁²/n₁ + s₂²/n₂) and the
    * Welch–Satterthwaite df — written as the identical IEEE operation
    * sequence in both engines. One map-combined groupBy over the fact
    * table no matter how many pairs are tested.
    */
  val ttestWelch: QueryDef = QueryDef.sqlBacked(
    "q_ttest_welch",
    """WITH pts AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM lineitem),
      |s AS (
      |  SELECT g, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
      |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
      |  FROM pts GROUP BY g),
      |d AS (
      |  SELECT g, CAST(n AS BIGINT) AS n_i, CAST(n AS DOUBLE) AS nd,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100 AS mean_qty,
      |    CAST(n * sxx - sx * sx AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000 AS var_qty
      |  FROM s),
      |p AS (
      |  SELECT a.g AS g1, b.g AS g2, a.n_i AS n1, b.n_i AS n2,
      |    a.mean_qty AS mean1, b.mean_qty AS mean2,
      |    a.var_qty / a.nd + b.var_qty / b.nd AS se2,
      |    a.var_qty / a.nd AS va, b.var_qty / b.nd AS vb,
      |    a.nd AS nda, b.nd AS ndb
      |  FROM d a JOIN d b ON a.g < b.g)
      |SELECT g1, g2, n1, n2, mean1, mean2,
      |  (mean1 - mean2) / sqrt(se2) AS t_stat,
      |  (se2 * se2) / (va * va / (nda - 1) + vb * vb / (ndb - 1)) AS df_welch
      |FROM p ORDER BY g1, g2""".stripMargin,
    doc = "Welch two-sample t between return-flag groups from one pass of exact " +
      "sufficient statistics; t and the Welch-Satterthwaite df are per-pair double " +
      "epilogues with an engine-identical IEEE sequence.") { (s, d) =>
    val pts = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
      (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("x"))
    val sums = pts.groupBy("g").agg(
      count(lit(1)).cast(dec38).as("n"),
      sum(col("x")).cast(dec38).as("sx"),
      sum(col("x").cast(dec38) * col("x")).cast(dec38).as("sxx"))
    val dd = sums.select(col("g"),
      col("n").cast("long").as("n_i"), col("n").cast("double").as("nd"),
      (col("sx").cast("double") / col("n").cast("double") / 100).as("mean_qty"),
      ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        / (col("n").cast("double") * (col("n") - 1).cast("double")) / 10000)
        .as("var_qty"))
    // a self-join of dd would re-execute the aggregation — TWO scans of
    // the fact table (the plan audit caught exactly that). Instead the
    // 3-row summary collapses into one row and pairs by double explode:
    // one scan, no join, the pair product is 3×3 literals in memory.
    val packed = dd
      .select(struct(col("g"), col("n_i"), col("nd"),
        col("mean_qty"), col("var_qty")).as("gs"))
      .agg(collect_list("gs").as("gs"))
    val p0 = packed
      .select(explode(col("gs")).as("a"), col("gs"))
      .select(col("a"), explode(col("gs")).as("b"))
      .filter(col("a.g") < col("b.g"))
    val p = p0
      .select(col("a.g").as("g1"), col("b.g").as("g2"),
        col("a.n_i").as("n1"), col("b.n_i").as("n2"),
        col("a.mean_qty").as("mean1"), col("b.mean_qty").as("mean2"),
        (col("a.var_qty") / col("a.nd") + col("b.var_qty") / col("b.nd")).as("se2"),
        (col("a.var_qty") / col("a.nd")).as("va"),
        (col("b.var_qty") / col("b.nd")).as("vb"),
        col("a.nd").as("nda"), col("b.nd").as("ndb"))
    p.select(col("g1"), col("g2"), col("n1"), col("n2"), col("mean1"), col("mean2"),
        ((col("mean1") - col("mean2")) / sqrt(col("se2"))).as("t_stat"),
        ((col("se2") * col("se2"))
          / (col("va") * col("va") / (col("nda") - 1)
            + col("vb") * col("vb") / (col("ndb") - 1))).as("df_welch"))
      .orderBy("g1", "g2")
  }

  /** 2-D Pareto frontier (skyline): the (quantity, price) pairs no
    * other pair dominates on both axes (minimizing both). The naive
    * formulation is a quadratic NOT-EXISTS self-join; the 2-D skyline
    * collapses to ONE sorted window pass — a point survives iff it has
    * the minimum price within its quantity level AND beats the running
    * price minimum over all strictly-smaller quantities
    * (`RANGE ... 1 PRECEDING` keeps the bound strict under ties).
    * Exact integer cents everywhere; at 100 TB the distinct-pair
    * pre-aggregation is the only fact-table shuffle and the window
    * runs over the collapsed pair set.
    */
  val paretoFrontier: QueryDef = QueryDef.sqlBacked(
    "q_pareto_frontier",
    """WITH pts AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty_c,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c
      |  FROM lineitem),
      |d AS (SELECT qty_c, CAST(MIN(price_c) AS BIGINT) AS price_c
      |      FROM pts GROUP BY qty_c),
      |w AS (
      |  SELECT qty_c, price_c,
      |    MIN(price_c) OVER (ORDER BY qty_c
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_smaller
      |  FROM d)
      |SELECT qty_c, price_c FROM w
      |WHERE best_smaller IS NULL OR price_c < best_smaller
      |ORDER BY qty_c""".stripMargin,
    doc = "2-D Pareto frontier (skyline) of (quantity, price), minimizing both: one " +
      "sorted window pass over the distinct-pair aggregate instead of the quadratic " +
      "NOT-EXISTS self-join; exact integer cents.") { (s, d) =>
    val pts = t(s, d, "lineitem").select(
      (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("qty_c"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long").as("price_c"))
    val dd = pts.groupBy("qty_c").agg(min("price_c").as("price_c"))
    val win = Window.orderBy("qty_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    dd.withColumn("best_smaller", min("price_c").over(win))
      .filter(col("best_smaller").isNull || col("price_c") < col("best_smaller"))
      .select("qty_c", "price_c")
      .orderBy("qty_c")
  }

  /** Weekday seasonality profile: each ISO weekday's share of orders as
    * an exact integer seasonality index (day_count·7·10⁶ ÷ total — 10⁶
    * ppm = a flat series). One 7-group aggregate; the total rides a
    * broadcast 1-row cross join. The index is the multiplicative
    * factor a forecast deseasonalizes by.
    */
  val seasonality: QueryDef = QueryDef.sqlBacked(
    "q_seasonality",
    """WITH d AS (
      |  SELECT CAST(isodow(o_orderdate) AS INTEGER) AS dow,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY 1)
      |SELECT dow, cnt,
      |  CAST(cnt * 7 * 1000000 // (SELECT CAST(SUM(cnt) AS BIGINT) FROM d) AS BIGINT)
      |    AS seasonal_index_ppm
      |FROM d ORDER BY dow""".stripMargin,
    doc = "ISO-weekday seasonality index in exact integer ppm (1e6 = flat): one 7-group " +
      "aggregate + broadcast total; the deseasonalization factor for any daily series.") {
    (s, d) =>
      val dd = t(s, d, "orders")
        .select((weekday(col("o_orderdate")) + 1).as("dow"))
        .groupBy("dow").agg(count(lit(1)).as("cnt"))
      val total = dd.agg(sum("cnt").cast("long").as("total"))
      dd.crossJoin(total)
        .select(col("dow"), col("cnt"),
          expr("cnt * 7 * 1000000 div total").as("seasonal_index_ppm"))
        .orderBy("dow")
  }

  val kmvSetOps: QueryDef = {
    val k = 256
    val m = 2147483647L // 2^31 - 1 (Lehmer modulus)
    QueryDef.sqlBacked(
      "q_kmv_setops",
      s"""WITH a AS (SELECT DISTINCT (o_custkey * 48271) % $m AS h
         |          FROM orders WHERE o_orderpriority = '1-URGENT'),
         |b AS (SELECT DISTINCT (o_custkey * 48271) % $m AS h
         |      FROM orders WHERE o_orderpriority = '5-LOW'),
         |u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
         |      ORDER BY h LIMIT $k),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_held,
         |        CAST(MAX(h) AS BIGINT) AS kth,
         |        CAST(SUM(CASE WHEN h IN (SELECT h FROM a)
         |                       AND h IN (SELECT h FROM b)
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |      FROM u),
         |x AS (SELECT
         |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union,
         |  CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
         |                      THEN o_custkey END)
         |     + CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '5-LOW'
         |                      THEN o_custkey END) AS BIGINT)
         |     - COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_inter
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
         |SELECT k_held, kth, n_both, exact_union, exact_inter,
         |  CASE WHEN k_held < $k THEN k_held
         |       ELSE (k_held - 1) * $m // kth END AS est_union,
         |  CASE WHEN k_held < $k THEN n_both
         |       ELSE n_both * ((k_held - 1) * $m // kth) // $k END AS est_inter
         |FROM s CROSS JOIN x""".stripMargin,
      doc = s"KMV sketch SET OPERATIONS (k=$k, Lehmer hash — both engines replay the " +
        "sketch bit-exactly, so even the estimates hash-gate): union sketch = k " +
        "smallest of the merged per-set sketches (mergeable — the cross-cluster " +
        "shape), distinct-union estimate (k−1)·M div h_k, and the intersection via " +
        "the fraction of union-sketch members present in BOTH sets, all in exact " +
        "integer division. Exact union/intersection computed beside them — the " +
        "estimator's error is part of the recorded result.") { (s, d) =>
      val o = t(s, d, "orders")
      def hs(pri: String) = o.filter(col("o_orderpriority") === pri)
        .select(((col("o_custkey") * 48271L) % m).as("h")).distinct()
      val aH = hs("1-URGENT")
      val bH = hs("5-LOW")
      val u = aH.unionByName(bH).distinct().orderBy("h").limit(k)
      val sketch = u
        .join(aH.select(col("h").as("ha")), col("h") === col("ha"), "left")
        .join(bH.select(col("h").as("hb")), col("h") === col("hb"), "left")
        .agg(count(lit(1)).as("k_held"), max("h").as("kth"),
          sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L)
            .otherwise(0L)).as("n_both"))
      val exact = o.filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .agg(
          countDistinct("o_custkey").as("exact_union"),
          (countDistinct(when(col("o_orderpriority") === "1-URGENT",
              col("o_custkey"))) +
            countDistinct(when(col("o_orderpriority") === "5-LOW",
              col("o_custkey"))) -
            countDistinct("o_custkey")).as("exact_inter"))
      sketch.crossJoin(exact)
        .select(col("k_held"), col("kth").cast("long").as("kth"), col("n_both"),
          col("exact_union"), col("exact_inter"),
          when(col("k_held") < k, col("k_held"))
            .otherwise(expr(s"(k_held - 1) * ${m}L div kth")).as("est_union"),
          when(col("k_held") < k, col("n_both"))
            .otherwise(expr(s"n_both * ((k_held - 1) * ${m}L div kth) div $k"))
            .as("est_inter"))
    }
  }

  val all: Seq[QueryDef] =
    Seq(corrMatrix, inclusionDeps, benford, contingency, anomalyZscore,
      rollingMedian, kmvDistinct, kmvSetOps, maxConcurrency, ttestWelch,
      paretoFrontier, seasonality)
}
