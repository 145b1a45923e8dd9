package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{QueryDef, Tables}

/** Warehouse-operations surface: multi-set grouping, pivot/unpivot
  * reshaping, value-range window frames, exact-rational rank statistics,
  * time-series gap fill, cohort retention, event-transition matrices,
  * order-independent table fingerprints, and snapshot diffing — the
  * reconciliation / reshaping layer a 100 TB warehouse runs daily on top
  * of the relational core (cdf: crates/cdf-kernel/src/sql_analysis.rs
  * admits these as Aggregate/Window/Join shapes; the reference exposes
  * them through `cdf sql`, SURVEY §2.9/§3.2). Every query is
  * hash-checked against DuckDB; doubles only ever appear after exact
  * DECIMAL or integer accumulation.
  */
object WarehouseQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def decSum(c: Column): Column = sum(c).cast(DoubleType)

  /** GROUPING SETS with explicit set list — finer than cube/rollup (both
    * already verified): the caller names exactly the aggregation levels
    * wanted, Spark expands them in ONE shuffle (Expand + partial agg),
    * not one pass per set. grouping() flags disambiguate data NULLs from
    * set-placeholder NULLs. */
  val groupingSets: QueryDef = QueryDef.sqlBacked(
    "q_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    doc = "Explicit GROUPING SETS in one Expand pass, grouping() flags disambiguating placeholder NULLs.") {
    (s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          decSum(dec2(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** PIVOT: long→wide reshaping with a declared value list (no second
    * pass to discover values — the 100 TB form; Spark's value-less pivot
    * collects distinct values to the driver first). */
  val pivotWide: QueryDef = QueryDef.sqlBacked(
    "q_pivot",
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS ls_f,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS ls_o,
      |  CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_f,
      |  CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    doc = "Pivot with explicit value list = single-shuffle conditional aggregation. " +
      "(DataFrame .pivot lowers to TWO aggregation phases — groupBy(rf,ls) then " +
      "pivotfirst(rf) — i.e. two exchanges; with the value list declared the " +
      "fused FILTER-agg form needs exactly one, so that is what we emit.)") { (s, d) =>
    def when_(ls: String, c: Column): Column = when(col("l_linestatus") === ls, c)
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(when_("F", dec2(col("l_extendedprice")))).cast(DoubleType).as("ls_f"),
        sum(when_("O", dec2(col("l_extendedprice")))).cast(DoubleType).as("ls_o"),
        count(when_("F", lit(1))).as("n_f"),
        count(when_("O", lit(1))).as("n_o"))
      .orderBy("l_returnflag")
  }

  /** UNPIVOT (melt): wide→long without a generator join — Spark's
    * Unpivot node is a zero-shuffle map-side expansion. */
  val unpivotLong: QueryDef = QueryDef.sqlBacked(
    "q_unpivot",
    """SELECT o_orderkey, m AS metric, v AS value FROM (
      |  SELECT o_orderkey, 'cust' AS m, o_custkey AS v FROM orders WHERE o_orderkey % 500 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'price_cents' AS m, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders WHERE o_orderkey % 500 = 0) t
      |ORDER BY o_orderkey, metric""".stripMargin,
    doc = "Unpivot/melt as a map-side Expand — no UNION-of-scans re-read of the table.") { (s, d) =>
    t(s, d, "orders")
      .filter(col("o_orderkey") % 500 === 0)
      .select(
        col("o_orderkey"),
        col("o_custkey").as("cust"),
        floor(col("o_totalprice") * 100).cast(LongType).as("price_cents"))
      .unpivot(
        Array(col("o_orderkey")),
        Array(col("cust"), col("price_cents")),
        "metric", "value")
      .orderBy("o_orderkey", "metric")
  }

  /** Value-based window frame (RANGE BETWEEN): every order aggregated
    * with all orders priced within $100 below it — peers included by
    * VALUE, not row position, so the result is deterministic under ties
    * without a tiebreaker. */
  val rangeFrame: QueryDef = QueryDef.sqlBacked(
    "q_range_frame",
    """SELECT o_orderkey, n_win, s_win FROM (
      |  SELECT o_orderkey,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS s_win
      |  FROM (SELECT o_orderkey, o_totalprice,
      |          CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c FROM orders) o
      |  WINDOW w AS (ORDER BY price_c RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)) t
      |WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,
    doc = "RANGE frame over a value domain (all rows within $100 below) — frame computed on the full set, output filtered after.") {
    (s, d) =>
      val o = t(s, d, "orders")
        .withColumn("price_c", floor(col("o_totalprice") * 100).cast(LongType))
      val w = Window.orderBy("price_c").rangeBetween(-10000L, 0L)
      o.select(
        col("o_orderkey"),
        count(lit(1)).over(w).as("n_win"),
        sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("s_win"))
        .filter(col("o_orderkey") % 97 === 0)
        .orderBy("o_orderkey")
  }

  /** Rank statistics per segment: percent_rank / cume_dist as the exact
    * rational (rank-1)/(n-1) and rows_le/n — both engines evaluate the
    * same small-integer IEEE division, so the doubles are bit-identical;
    * the integer numerators ride along as the audit trail. */
  val percentRank: QueryDef = QueryDef.sqlBacked(
    "q_percent_rank",
    """SELECT c_custkey, c_mktsegment, rnk, pr, cd FROM (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(rank() OVER w AS BIGINT) AS rnk,
      |    percent_rank() OVER w AS pr,
      |    cume_dist() OVER w AS cd
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)) t
      |WHERE c_custkey % 101 = 0 ORDER BY c_custkey""".stripMargin,
    doc = "percent_rank/cume_dist per segment — exact-rational window statistics, partition-parallel.") {
    (s, d) =>
      val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
      t(s, d, "customer")
        .select(
          col("c_custkey"), col("c_mktsegment"),
          rank().over(w).cast(LongType).as("rnk"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .filter(col("c_custkey") % 101 === 0)
        .orderBy("c_custkey")
  }

  /** Time-series gap fill: the day spine is generated with sequence()
    * from the observed min/max (one tiny aggregate), then left-joined to
    * the per-day counts — missing days land as explicit zeros. At 100 TB
    * the spine is O(days), broadcast to the counts side. */
  val gapFill: QueryDef = QueryDef.sqlBacked(
    "q_gap_fill",
    """WITH bounds AS (
      |  SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
      |         CAST(date_trunc('day', max(ts)) AS DATE) AS hi FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
      |counts AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1)
      |SELECT d.day, CAST(COALESCE(c.c, 0) AS BIGINT) AS n
      |FROM days d LEFT JOIN counts c USING (day) ORDER BY d.day""".stripMargin,
    doc = "Gap-filled daily series: sequence() spine broadcast-joined to per-day counts, zeros explicit.") {
    (s, d) =>
      val ev = Tables.eventsTs(s, d)
      val byDay = ev.groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
      val bounds = ev.agg(to_date(min("ts")).as("lo"), to_date(max("ts")).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(byDay, Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("n"))
        .orderBy("day")
  }

  /** Cohort retention: users bucketed by first-seen day, then distinct
    * users counted per (cohort_day, day_offset). Two shuffles — min-day
    * per user, then the cohort×offset count — both keyed on user_id
    * first, so the second reuses the first's partitioning. */
  val retentionCohort: QueryDef = QueryDef.sqlBacked(
    "q_retention_cohort",
    """WITH firstseen AS (
      |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
      |SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
      |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users
      |FROM activity a JOIN firstseen f USING (user_id)
      |WHERE date_diff('day', f.cohort_day, a.day) <= 14
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    doc = "Cohort retention matrix: first-seen-day cohorts × day offset, distinct-user counts.") {
    (s, d) =>
      val ev = Tables.eventsTs(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      val activity = ev.distinct()
      activity.join(first, Seq("user_id"))
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("int"))
        .filter(col("day_offset") <= 14)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("users"))
        .orderBy("cohort_day", "day_offset")
  }

  /** Event-transition matrix (first-order Markov counts): lag() per user
    * over the total (ts, event_id) order, then counts per (prev → next)
    * pair. The window partitions by user, so it parallelizes across the
    * user dimension with one shuffle. */
  val markovTransitions: QueryDef = QueryDef.sqlBacked(
    "q_markov_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY prev_type, next_type""".stripMargin,
    doc = "First-order Markov transition counts over per-user event sequences (lag window, user-parallel).") {
    (s, d) =>
      val ev = Tables.eventsUs(s, d)
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      ev.select(col("user_id"), col("event_type"), lag("event_type", 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
  }

  /** Order-independent table fingerprint: md5 of each row's canonical
    * string (integers only — doubles enter as exact cents, timestamps as
    * epoch micros, so no float formatting crosses the engine boundary),
    * folded with SUM mod 2^61-1. Commutative fold ⇒ partition- and
    * order-invariant; one map stage + a scalar aggregate at any scale.
    * The DuckDB side reads the digest's low 8 bytes via
    * md5_number_lower (little-endian uint64); the Spark side rebuilds
    * the identical value from the hex digest. */
  val tableChecksum: QueryDef = QueryDef.sqlBacked(
    "q_table_checksum",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(md5_number_lower(
      |    concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
      |              CAST(FLOOR(o_totalprice * 100) AS BIGINT),
      |              epoch_us(o_orderdate), o_orderpriority)) AS HUGEINT))
      |    % 2305843009213693951 AS BIGINT) AS checksum
      |FROM orders""".stripMargin,
    doc = "Order-independent content fingerprint: md5-low64 per row, SUM mod 2^61-1 — migration/replication integrity probe.") {
    (s, d) =>
      val o = t(s, d, "orders")
      val canonical = concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast(LongType),
        unix_micros(col("o_orderdate").cast(org.apache.spark.sql.types.TimestampType)),
        col("o_orderpriority"))
      // digest bytes 8..15 little-endian mod 2^61−1, one codegen'd
      // Expression per row (exactly DuckDB's md5_number_lower reduced
      // early — mod is sum-homomorphic, so SUM of the per-row residues
      // then one final pmod equals the oracle's SUM-then-mod). The
      // residues are < 2^61, so the exactness carrier is a cheap
      // DECIMAL(20,0) sum of longs, not an 8-term decimal polynomial.
      graft.functions.TextHashFunctions.register(s)
      val low64 = call_function("graft_md5low64_mod61", canonical)
        .cast(DecimalType(20, 0))
      o.agg(
        count(lit(1)).as("n_rows"),
        pmod(sum(low64), lit(BigDecimal(2305843009213693951L).bigDecimal))
          .cast(LongType).as("checksum"))
  }

  /** Snapshot diff: two table versions full-outer-joined on the key,
    * each row classified added / removed / changed / unchanged. The
    * compare key is exact (cents), the join is the one shuffle. The
    * operational shape behind receipt reconciliation and CDC audits. */
  val datasetDiff: QueryDef = QueryDef.sqlBacked(
    "q_dataset_diff",
    """WITH a AS (
      |  SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders WHERE o_orderkey % 11 <> 0),
      |b AS (
      |  SELECT o_orderkey AS k,
      |    CAST(FLOOR(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END * 100) AS BIGINT) AS pc
      |  FROM orders WHERE o_orderkey % 13 <> 0)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |  SELECT CASE WHEN a.k IS NULL THEN 'added'
      |              WHEN b.k IS NULL THEN 'removed'
      |              WHEN a.pc <> b.pc THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.k = b.k) t
      |GROUP BY status ORDER BY status""".stripMargin,
    doc = "Snapshot diff: full-outer join on key → added/removed/changed/unchanged counts (CDC audit shape).") {
    (s, d) =>
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast(LongType).as("pc"))
      val b = o.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          floor(when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")) * 100).cast(LongType).as("pc"))
      a.as("a").join(b.as("b"), col("a.k") === col("b.k"), "full_outer")
        .select(
          when(col("a.k").isNull, "added")
            .when(col("b.k").isNull, "removed")
            .when(col("a.pc") =!= col("b.pc"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
  }

  /** Bloom-gated semi-join reduction: the classic 100 TB join
    * optimization. A selective dim-side predicate leaves few join keys;
    * a driver-built Bloom filter over them rides into the fact scan as
    * Spark's own codegen'd `BloomFilterMightContain` predicate, so the
    * overwhelming majority of fact rows is dropped MAP-SIDE, before any
    * shuffle or join build. False positives cost a join-probe row,
    * never a wrong answer — the exact equi-join after the gate removes
    * them, so the result is independent of fpp. This is the manual,
    * any-shape form of what InjectRuntimeFilter plants automatically
    * under shuffle joins. */
  val bloomJoin: QueryDef = QueryDef.sqlBacked(
    "q_bloom_join",
    """SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_name LIKE 'red %'
      |GROUP BY p_name ORDER BY p_name""".stripMargin,
    doc = "Bloom semi-join reduction: dim keys sketched into the fact scan (codegen'd " +
      "might_contain), fact rows dropped map-side before the join; exact join makes " +
      "the result fpp-independent.") { (s, d) =>
    graft.functions.BloomFunctions.register(s)
    val dim = t(s, d, "part").filter(col("p_name").startsWith("red "))
      .select(col("p_partkey"), col("p_name"))
    val bf = dim.select(col("p_partkey")).stat.bloomFilter("p_partkey", 10000L, 0.01)
    val bytes = { val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray }
    t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"))
      .filter(call_function("graft_bloom_might_contain", lit(bytes), col("l_partkey")))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_name")
      .agg(count(lit(1)).as("n"), decSum(dec2(col("l_extendedprice"))).as("revenue"))
      .orderBy("p_name")
  }

  /** Exponentially weighted moving average with alpha = 1/2, truncated
    * at 8 terms — per-user time-series smoothing. Every weight is a
    * power of two, so each term `x·2^-(j+1)` is an EXACT exponent
    * shift, and both engines evaluate the identical left-associated
    * 8-term sum — bit-identical doubles with no DECIMAL detour. The
    * window is one shuffle on user_id; lags are computed in one pass. */
  val ewma: QueryDef = QueryDef.sqlBacked(
    "q_ewma",
    """WITH ev AS (
      |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events),
      |l AS (
      |  SELECT event_id, user_id,
      |    value / 2 + coalesce(lag(value, 1) OVER w, 0.0) / 4
      |              + coalesce(lag(value, 2) OVER w, 0.0) / 8
      |              + coalesce(lag(value, 3) OVER w, 0.0) / 16
      |              + coalesce(lag(value, 4) OVER w, 0.0) / 32
      |              + coalesce(lag(value, 5) OVER w, 0.0) / 64
      |              + coalesce(lag(value, 6) OVER w, 0.0) / 128
      |              + coalesce(lag(value, 7) OVER w, 0.0) / 256 AS ewma
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT event_id, user_id, ewma FROM l
      |WHERE event_id % 37 = 0 ORDER BY event_id""".stripMargin,
    doc = "EWMA (alpha = 1/2, 8 terms): power-of-two weights make every term an exact " +
      "exponent shift, so the fixed-shape sum is bit-identical across engines.") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val terms = (0 until 8).map { j =>
      val term = if (j == 0) col("value") else coalesce(lag(col("value"), j).over(w), lit(0.0))
      term / lit(math.pow(2.0, j + 1.0))
    }.reduce(_ + _)
    Tables.eventsUs(s, d)
      .select(col("event_id"), col("user_id"), terms.as("ewma"))
      .filter(col("event_id") % 37 === 0)
      .orderBy("event_id")
  }

  /** Incremental maintenance of a JOIN view: V = A ⋈ B aggregated.
    * With deltas on BOTH sides, ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB; the view
    * is refreshed by MERGING aggregate partials, never re-reading the
    * old inputs' join. The oracle recomputes the view from scratch on
    * the full inputs — merge-of-partials ≡ full recompute is the law
    * under test (the join-view analogue of q_incremental_agg). Counts
    * and DECIMAL sums are the mergeable state; at 100 TB each partial
    * join is bounded by its delta's size. */
  val incrementalJoin: QueryDef = QueryDef.sqlBacked(
    "q_incremental_join",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Join-view delta maintenance: dV = dA×B0 + A0×dB + dA×dB as mergeable aggregate " +
      "partials; merged result hash-matches the from-scratch recompute.") { (s, d) =>
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), dec2(col("l_extendedprice")).as("price"))
    val a0 = o.filter(col("o_orderkey") % 5 =!= 0)
    val dA = o.filter(col("o_orderkey") % 5 === 0)
    val b0 = li.filter(col("l_suppkey") % 7 =!= 0)
    val dB = li.filter(col("l_suppkey") % 7 === 0)
    def partial(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("o_orderkey") === b("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("pn"), sum(col("price")).as("prev"))
    partial(a0, b0).unionByName(partial(dA, b0))
      .unionByName(partial(a0, dB)).unionByName(partial(dA, dB))
      .groupBy("o_orderpriority")
      .agg(sum("pn").as("n"), sum("prev").cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Key-skew diagnostics: per-column key-frequency profile (rows,
    * distinct keys, heaviest key's count, skew factor = heaviest/mean
    * in milli-units, and the heaviest key itself) — the probe a 100 TB
    * operator runs BEFORE choosing a join/agg strategy (salting, AQE
    * skew hints, broadcast). One map-side Expand puts all profiled
    * columns in a single pass; integer-only outputs. */
  val skewProfile: QueryDef = QueryDef.sqlBacked(
    "q_skew_profile",
    """WITH longt AS (
      |  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS VARCHAR) AS val FROM lineitem
      |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem),
      |counts AS (
      |  SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS cnt FROM longt GROUP BY 1, 2),
      |c2 AS (SELECT *, MAX(cnt) OVER (PARTITION BY col_name) AS mx FROM counts)
      |SELECT col_name,
      |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |  CAST((MAX(cnt) * COUNT(*) * 1000) // SUM(cnt) AS BIGINT) AS skew_x1000,
      |  MAX(CASE WHEN cnt = mx THEN val END) AS top_val
      |FROM c2 GROUP BY col_name ORDER BY col_name""".stripMargin,
    doc = "Per-column key-skew profile (distinct keys, heaviest key, skew factor x1000) in " +
      "one Expand pass — the pre-flight probe behind salting / skew-join decisions.") { (s, d) =>
    val li = t(s, d, "lineitem").select(
      col("l_partkey").cast("string").as("l_partkey"),
      col("l_suppkey").cast("string").as("l_suppkey"),
      col("l_returnflag"))
    val long = li.unpivot(Array.empty[Column],
      Array(col("l_partkey"), col("l_suppkey"), col("l_returnflag")), "col_name", "val")
    val counts = long.groupBy("col_name", "val").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("mx", max("cnt").over(Window.partitionBy("col_name")))
      .groupBy("col_name")
      .agg(
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("max_cnt"),
        max(when(col("cnt") === col("mx"), col("val"))).as("top_val"))
      .withColumn("skew_x1000", expr("(max_cnt * n_distinct * 1000) div n_rows"))
      .select("col_name", "n_rows", "n_distinct", "max_cnt", "skew_x1000", "top_val")
      .orderBy("col_name")
  }

  /** Winsorization (percentile clipping) for robust feature stats:
    * per-segment exact P05/P95 via DistributedSelect's shared pass set
    * (no per-group sort), values clipped to [p05, p95], then an exact
    * DECIMAL sum of the clipped column. The oracle computes the same
    * percentiles by sorting every group in a window — the plan this
    * operator avoids at scale. */
  val winsorize: QueryDef = QueryDef.sqlBacked(
    "q_winsorize",
    """WITH b AS (SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(12,2)) AS v, c_custkey
      |           FROM customer),
      |r AS (SELECT c_mktsegment, v,
      |        row_number() OVER (PARTITION BY c_mktsegment ORDER BY v, c_custkey) AS rn,
      |        COUNT(*) OVER (PARTITION BY c_mktsegment) AS n FROM b),
      |q AS (SELECT c_mktsegment,
      |        min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.05)) AS BIGINT) THEN v END) AS p05,
      |        min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.95)) AS BIGINT) THEN v END) AS p95
      |      FROM r GROUP BY 1)
      |SELECT b.c_mktsegment, CAST(q.p05 AS DOUBLE) AS p05, CAST(q.p95 AS DOUBLE) AS p95,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN b.v < q.p05 THEN q.p05
      |                WHEN b.v > q.p95 THEN q.p95 ELSE b.v END) AS DOUBLE) AS sum_clipped
      |FROM b JOIN q USING (c_mktsegment)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    doc = "Winsorized per-segment stats: exact P05/P95 from DistributedSelect (shared pass " +
      "set, no group sort), clip, DECIMAL-exact sum.") { (s, d) =>
    val dec = DecimalType(12, 2)
    val cust = t(s, d, "customer")
      .select(col("c_mktsegment"), col("c_acctbal").cast(dec).as("v"))
    val qs = graft.operators.DistributedSelect.quantilesByGroup(
      cust, Seq("c_mktsegment"), "v", Seq("p05" -> 0.05, "p95" -> 0.95))
    cust.join(qs, "c_mktsegment")
      .withColumn("clipped", least(greatest(col("v"), col("p05")), col("p95")))
      .groupBy("c_mktsegment")
      .agg(
        // Final projection is DOUBLE, not DECIMAL: the driver's oracle gate reads
        // DuckDB results through pandas (DECIMAL -> float64) and string-compares,
        // so Decimal('-555.60') vs -555.6 would hash-mismatch (tools/strcheck.py).
        max("p05").cast(DoubleType).as("p05"), max("p95").cast(DoubleType).as("p95"),
        count(lit(1)).as("n"),
        sum("clipped").cast(DoubleType).as("sum_clipped"))
      .select("c_mktsegment", "p05", "p95", "n", "sum_clipped")
      .orderBy("c_mktsegment")
  }

  /** Star-schema multi-way join (TPC-H Q5 shape): two fact tables
    * (orders, lineitem) against four dimensions (customer, supplier,
    * nation, region) with a region filter and the Q5 "local supplier"
    * condition (c_nationkey = s_nationkey). The plan this exists to
    * pin: region/nation/supplier/customer all BROADCAST (the region
    * filter transitively prunes them), so the only wide work is the
    * orders⋈lineitem fact join — Catalyst's join reorder + AQE pick
    * that automatically from a declarative 6-table join. */
  val starJoin: QueryDef = QueryDef.sqlBacked(
    "q_star_join",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin,
    doc = "TPC-H Q5 star join: 4 dims broadcast behind the region filter; the only wide " +
      "exchange is the orders-lineitem fact join.") { (s, d) =>
    val rev = (col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(4, 2)))
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(rev).cast(DoubleType).as("revenue"), count(lit(1)).as("n"))
      .orderBy("n_name")
  }

  /** Share-of-total (ratio_to_report) in exact parts-per-million:
    * revenue per segment as integer cents, then share = cents·10⁶ div
    * total — integer arithmetic end-to-end, so the ratio is bit-exact
    * with no double division. One aggregation shuffle; the total rides
    * a single-partition window over the 5-row aggregate, not the fact
    * rows. */
  val shareOfTotal: QueryDef = QueryDef.sqlBacked(
    "q_share_of_total",
    """WITH seg AS (
      |  SELECT c_mktsegment,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
      |SELECT c_mktsegment, cents,
      |  CAST((cents * 1000000) // SUM(cents) OVER () AS BIGINT) AS share_ppm
      |FROM seg ORDER BY c_mktsegment""".stripMargin,
    doc = "Ratio-to-report per segment in exact integer ppm — the total is a window over " +
      "the tiny aggregate, never a second pass over the facts.") { (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"))
      .withColumn("share_ppm",
        expr("(cents * 1000000) div sum(cents) over ()"))
      .orderBy("c_mktsegment")
  }

  /** Functional-dependency / candidate-key discovery: A → B holds iff
    * |distinct(A)| = |distinct(A,B)|, and A is a candidate key iff
    * |distinct(A)| = |rows| — the schema-governance probe behind merge
    * key selection and dedup policy. All eight distinct counts + the
    * row count ride ONE aggregate (Spark expands multi-distinct into a
    * single shared pass), then a map-side `stack` melts the scalar row
    * into the per-pair verdicts — one shuffle total, integer-exact.
    * Columns tested are non-null in this schema; the count(DISTINCT
    * (a,b)) null conventions differ across engines otherwise. */
  val fdDiscovery: QueryDef = QueryDef.sqlBacked(
    "q_fd_discovery",
    """WITH s AS (SELECT
      |  count(DISTINCT o_orderkey) AS d_ok,
      |  count(DISTINCT (o_orderkey, o_custkey)) AS p_ok_ck,
      |  count(DISTINCT (o_orderkey, o_orderstatus)) AS p_ok_st,
      |  count(DISTINCT o_custkey) AS d_ck,
      |  count(DISTINCT (o_custkey, o_orderpriority)) AS p_ck_pr,
      |  count(DISTINCT o_orderstatus) AS d_st,
      |  count(DISTINCT (o_orderstatus, o_orderpriority)) AS p_st_pr,
      |  count(*) AS n FROM orders)
      |SELECT det, dep, n_det, n_pair, n_det = n_pair AS holds,
      |       n_det = n_rows AS det_unique FROM (
      |  SELECT 'o_orderkey' AS det, 'o_custkey' AS dep,
      |         CAST(d_ok AS BIGINT) AS n_det, CAST(p_ok_ck AS BIGINT) AS n_pair,
      |         CAST(n AS BIGINT) AS n_rows FROM s
      |  UNION ALL SELECT 'o_orderkey', 'o_orderstatus',
      |         CAST(d_ok AS BIGINT), CAST(p_ok_st AS BIGINT), CAST(n AS BIGINT) FROM s
      |  UNION ALL SELECT 'o_custkey', 'o_orderpriority',
      |         CAST(d_ck AS BIGINT), CAST(p_ck_pr AS BIGINT), CAST(n AS BIGINT) FROM s
      |  UNION ALL SELECT 'o_orderstatus', 'o_orderpriority',
      |         CAST(d_st AS BIGINT), CAST(p_st_pr AS BIGINT), CAST(n AS BIGINT) FROM s)
      |ORDER BY det, dep""".stripMargin,
    doc = "Functional-dependency + candidate-key discovery: |distinct(A)| vs " +
      "|distinct(A,B)| vs |rows|, eight distinct counts in ONE shared aggregate pass, " +
      "melted map-side to per-pair verdicts.") { (s, d) =>
    val agg = t(s, d, "orders").agg(
      countDistinct(col("o_orderkey")).as("d_ok"),
      countDistinct(col("o_orderkey"), col("o_custkey")).as("p_ok_ck"),
      countDistinct(col("o_orderkey"), col("o_orderstatus")).as("p_ok_st"),
      countDistinct(col("o_custkey")).as("d_ck"),
      countDistinct(col("o_custkey"), col("o_orderpriority")).as("p_ck_pr"),
      countDistinct(col("o_orderstatus")).as("d_st"),
      countDistinct(col("o_orderstatus"), col("o_orderpriority")).as("p_st_pr"),
      count(lit(1)).as("n"))
    agg.selectExpr(
      """stack(4,
        |  'o_orderkey', 'o_custkey', d_ok, p_ok_ck,
        |  'o_orderkey', 'o_orderstatus', d_ok, p_ok_st,
        |  'o_custkey', 'o_orderpriority', d_ck, p_ck_pr,
        |  'o_orderstatus', 'o_orderpriority', d_st, p_st_pr) AS (det, dep, n_det, n_pair)""".stripMargin,
      "n")
      .select(col("det"), col("dep"), col("n_det"), col("n_pair"),
        (col("n_det") === col("n_pair")).as("holds"),
        (col("n_det") === col("n")).as("det_unique"))
      .orderBy("det", "dep")
  }

  /** RFM customer segmentation — the classic warehouse scoring table:
    * per-customer Recency (last order time), Frequency (order count)
    * and Monetary (exact cents) collapse to deterministic quintiles
    * (NTILE over a TOTAL order — metric then custkey — so both engines
    * assign identical buckets under ties), then the 5×5×5 segment
    * grid reports its population. The per-customer aggregate is the
    * only fact-table shuffle; the quintile window here is global for
    * the oracle's sake — the distributed form of the same ranking is
    * `operators/GlobalRank` (q_ntile_bucket).
    */
  val rfm: QueryDef = QueryDef.sqlBacked(
    "q_rfm_segments",
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS recency_us,
      |    CAST(COUNT(*) AS BIGINT) AS frequency,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS monetary_c
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT
      |    CAST(ntile(5) OVER (ORDER BY recency_us, o_custkey) AS INTEGER) AS r,
      |    CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INTEGER) AS f,
      |    CAST(ntile(5) OVER (ORDER BY monetary_c, o_custkey) AS INTEGER) AS m
      |  FROM cust)
      |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM scored GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin,
    doc = "RFM segmentation: per-customer recency/frequency/exact-cents monetary, " +
      "tie-deterministic NTILE quintiles (metric, custkey total order), 5x5x5 segment " +
      "populations. One fact shuffle; the distributed ranking twin is GlobalRank.") {
    (s, d) =>
      val cust = t(s, d, "orders").groupBy("o_custkey").agg(
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice")) * 100).cast("long").as("monetary_c"))
      def q(metric: String): Column =
        ntile(5).over(Window.orderBy(col(metric), col("o_custkey"))).cast("int")
      cust.select(q("recency_us").as("r"), q("frequency").as("f"),
          q("monetary_c").as("m"))
        .groupBy("r", "f", "m").agg(count(lit(1)).as("n_customers"))
        .orderBy("r", "f", "m")
  }

  /** Bucketed co-located join: both sides written `bucketBy(8, key)`
    * + sorted, so the join consumes the bucketing and plans with NO
    * exchange on either side — at 100 TB this is THE lever that turns
    * a repeated fact-fact join from a 2×full-shuffle into a local
    * merge per bucket (pre-shuffle once at write time, join forever).
    * PlanAuditSpec asserts the exchange-free shape. The oracle replays
    * the same join over the raw parquet — bucketing must be invisible
    * to results. */
  val bucketedJoin: QueryDef = QueryDef.sqlBacked(
    "q_bucketed_join",
    """SELECT o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Join over tables bucketed on the join key at write time (bucketBy(8) + " +
      "sortBy): the bucketed scan satisfies the join's distribution requirement, so " +
      "NEITHER side shuffles — the only exchange left is the 3-row final aggregation. " +
      "The write-once/join-many amortization every large warehouse runs on.") { (s, d) =>
    s.sql("DROP TABLE IF EXISTS graft_b_orders")
    s.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    // the in-memory catalog forgets tables across JVMs but the managed
    // locations persist — clear stale dirs or saveAsTable refuses
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("graft_b_orders", "graft_b_lineitem").foreach { tn =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, tn))
    }
    t(s, d, "orders").select("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_b_orders")
    t(s, d, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_b_lineitem")
    // hint the merge join: at test SFs Catalyst would broadcast the
    // small side (also correct, but it hides the bucket-consuming
    // shape this demo pins); at fact-fact scale merge IS the choice
    s.table("graft_b_lineitem")
      .join(s.table("graft_b_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      // DECIMAL(38,0) accumulation matching the tier convention (and the
      // oracle's HUGEINT): a plain long sum would silently wrap at scale
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast(DecimalType(38, 0))).cast("long").as("cents"))
      .orderBy("o_orderstatus")
  }

  /** Gaps-and-islands: maximal runs of consecutive order-weeks per
    * customer via the rank-difference trick (wk − row_number is
    * constant exactly along a consecutive run). The window partitions
    * by CUSTOMER — bounded rows per key, millions of keys: the
    * partition-parallel window shape that scales (contrast the global
    * windows the rank-stats oracles use). */
  val orderIslands: QueryDef = QueryDef.sqlBacked(
    "q_order_islands",
    """WITH w AS (SELECT DISTINCT o_custkey AS ck,
      |    epoch_us(o_orderdate) // 604800000000 AS wk FROM orders),
      |i AS (SELECT ck,
      |        wk - row_number() OVER (PARTITION BY ck ORDER BY wk) AS isl
      |      FROM w),
      |st AS (SELECT ck, isl, CAST(COUNT(*) AS BIGINT) AS len FROM i GROUP BY 1, 2),
      |mx AS (SELECT ck, MAX(len) AS max_streak FROM st GROUP BY 1)
      |SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Gaps-and-islands: distribution of each customer's LONGEST consecutive-week " +
      "ordering streak (wk − row_number constant along an island). Per-customer " +
      "windows — bounded per key, partition-parallel at any scale.") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ord = t(s, d, "orders")
    val w = ord
      .select(col("o_custkey").as("ck"),
        Tables.tsUs(ord, "o_orderdate").as("us"))
      .select(col("ck"), expr("us div 604800000000").as("wk"))
      .distinct()
    val byCk = Window.partitionBy("ck").orderBy("wk")
    w.withColumn("isl", col("wk") - row_number().over(byCk))
      .groupBy("ck", "isl").agg(count(lit(1)).as("len"))
      .groupBy("ck").agg(max("len").as("max_streak"))
      .groupBy("max_streak").agg(count(lit(1)).as("n_customers"))
      .orderBy("max_streak")
  }

  /** New-vs-returning split per month: a customer's first-ever order
    * month marks them NEW that month, returning afterwards. The
    * first-month table is one map-combined aggregation joined back on
    * the customer key (co-keyed shuffle, no window); the classic
    * growth-accounting metric. */
  val newVsReturning: QueryDef = QueryDef.sqlBacked(
    "q_new_vs_returning",
    """WITH o AS (SELECT o_custkey AS ck,
      |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym
      |  FROM orders),
      |fm AS (SELECT ck, MIN(ym) AS first_ym FROM o GROUP BY 1),
      |j AS (SELECT o.ym, CASE WHEN o.ym = fm.first_ym THEN 1 ELSE 0 END AS is_new
      |      FROM o JOIN fm ON fm.ck = o.ck)
      |SELECT ym, CAST(SUM(is_new) AS BIGINT) AS new_orders,
      |  CAST(SUM(1 - is_new) AS BIGINT) AS returning_orders
      |FROM j GROUP BY ym ORDER BY ym""".stripMargin,
    doc = "New-vs-returning orders per month: first-ever order month marks a customer " +
      "NEW, every later order is returning. First-month table = one aggregation; the " +
      "classification join co-keys on the customer — no window, two shuffles total.") {
    (s, d) =>
      val o = t(s, d, "orders").select(col("o_custkey").as("ck"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
      val fm = o.groupBy("ck").agg(min("ym").as("first_ym"))
      o.join(fm, "ck")
        .select(col("ym"),
          when(col("ym") === col("first_ym"), 1L).otherwise(0L).as("is_new"))
        .groupBy("ym")
        .agg(sum(col("is_new")).as("new_orders"),
          sum(lit(1L) - col("is_new")).as("returning_orders"))
        .orderBy("ym")
  }

  /** Day-of-week revenue profile in exact integers: revenue cents and
    * order counts per weekday plus parts-per-million share (integer
    * division — no float ratio crosses the engine boundary). Weekday
    * from epoch days ((d + 4) mod 7: 1970-01-01 was a Thursday), so no
    * locale/timezone-dependent date function is involved. */
  val dowProfile: QueryDef = QueryDef.sqlBacked(
    "q_dow_profile",
    """WITH o AS (SELECT
      |    (epoch_us(o_orderdate) // 86400000000 + 3) % 7 AS dow,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
      |        SUM(CAST(cents AS HUGEINT)) AS c FROM o GROUP BY 1),
      |t AS (SELECT SUM(c) AS tot FROM g)
      |SELECT CAST(dow AS BIGINT) AS dow, n, CAST(c AS BIGINT) AS cents,
      |  CAST(c * 1000000 // t.tot AS BIGINT) AS share_ppm
      |FROM g CROSS JOIN t ORDER BY dow""".stripMargin,
    doc = "Day-of-week seasonality profile: orders and exact revenue cents per weekday " +
      "(0 = Monday via (epochday+3) mod 7: epoch day 0 = 1970-01-01 was a THURSDAY, " +
      "so +3 lands Monday on 0 — no locale-dependent date function), share " +
      "as integer parts-per-million. One map-combined aggregation; the scalar total " +
      "broadcasts.") { (s, d) =>
    val dec38 = DecimalType(38, 0)
    val ord = t(s, d, "orders")
    val o = ord
      .select(Tables.tsUs(ord, "o_orderdate").as("us"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(expr("(us div 86400000000 + 3) % 7").as("dow"), col("cents"))
    val g = o.groupBy("dow").agg(count(lit(1)).as("n"),
      sum(col("cents").cast(dec38)).as("c"))
    val tot = g.agg(sum(col("c")).as("tot"))
    g.crossJoin(tot)
      .select(col("dow").cast("long").as("dow"), col("n"),
        col("c").cast("long").as("cents"),
        expr("(c * 1000000) div tot").cast("long").as("share_ppm"))
      .orderBy("dow")
  }

  val all: Seq[QueryDef] = Seq(
    groupingSets, pivotWide, unpivotLong, rangeFrame, percentRank,
    gapFill, retentionCohort, markovTransitions, tableChecksum, datasetDiff,
    bloomJoin, ewma, incrementalJoin, skewProfile, winsorize,
    starJoin, shareOfTotal, fdDiscovery, rfm, bucketedJoin, orderIslands,
    newVsReturning, dowProfile)
}
