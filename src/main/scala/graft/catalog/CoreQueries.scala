package graft.catalog

import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.contract._
import graft.core.{QueryDef, Tables}
import graft.operators._
import graft.streaming.CdcLogRunner

/** Core relational surface: the reference's bounded
  * `Projection(Filter?(TableScan))` pipeline, scalar transforms, batch
  * stats, validation programs, dedup/merge dispositions, late-data
  * split, and incremental-cursor semantics (SURVEY §2.3–§2.8), plus the
  * `cdf sql`-equivalent analytical surface (joins/aggregates Spark SQL
  * gives us for free, SURVEY §2.4/§3.2).
  *
  * Oracle discipline: see [[graft.core.QueryDef]].
  */
object CoreQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  private def tsMs(iso: String): Long = Instant.parse(iso).toEpochMilli
  private def sqlTs(iso: String): String =
    s"TIMESTAMP '${iso.stripSuffix("Z").replace("T", " ")}'"

  /** events with `ts` as exact BIGINT micros `ts_us` — grain-adaptive
    * (nanos-as-long or native µs timestamp testdata; Tables.tsUs). */
  private def events(s: SparkSession, d: String): DataFrame =
    Tables.eventsUs(s, d)

  /** Exact decimal views of the 2-dp money/rate columns: all decimal
    * arithmetic below is exact in both Spark and DuckDB, so sums are
    * independent of partitioning AND of engine double→decimal rounding
    * (computed doubles round differently across engines; base 2-dp
    * columns do not). */
  private def dec2(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(12, 2))
  private def fac2(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(4, 2))
  private def decSum(c: Column): Column = sum(c).cast(org.apache.spark.sql.types.DoubleType)

  // ---------------------------------------------------------------- scans

  val scanProjectFilter: QueryDef = QueryDef.sqlBacked(
    "q_scan_project_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 30 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    doc = "Admitted relational shape Projection(Filter(Scan)) — cdf sql_analysis.rs:639-666; " +
      "filter + projection reach the parquet scan (PushedFilters).") { (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val scalarTransform: QueryDef = QueryDef.sqlBacked(
    "q_scalar_transform",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
      |  upper(l_returnflag) AS flag_u,
      |  l_returnflag || '_' || l_linestatus AS rf_ls,
      |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
      |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
      |  l_discount IS NOT NULL AS disc_nn
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    doc = "Scalar IR surface: arithmetic/string/cast/null-check DAG — cdf expression.rs:709-790.") { (s, d) =>
    t(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"),
      upper(col("l_returnflag")).as("flag_u"),
      concat(col("l_returnflag"), lit("_"), col("l_linestatus")).as("rf_ls"),
      floor(col("l_quantity")).as("qty_floor"),
      year(col("l_shipdate")).as("ship_year"),
      col("l_discount").isNotNull.as("disc_nn")
    ).orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- stats

  private val statCols = Seq("l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag")

  private def statsSelectSql(cols: Seq[String]): String =
    cols.map { c =>
      s"""  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nulls,
         |  min($c) AS ${c}__min, max($c) AS ${c}__max""".stripMargin
    }.mkString(",\n")

  val batchStats: QueryDef = QueryDef.sqlBacked(
    "q_batch_stats",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
       |${statsSelectSql(statCols)}
       |FROM lineitem""".stripMargin,
    doc = "Per-column BatchStats (row_count/nulls/min/max) in ONE aggregate pass — cdf statistics.rs:32-69.") {
    (s, d) => StatsOps.batchStats(t(s, d, "lineitem"), statCols)
  }

  val segmentPruning: QueryDef = QueryDef.sqlBacked(
    "q_segment_pruning",
    """SELECT segment_id, row_count, l_quantity__nulls, l_quantity__min, l_quantity__max,
      |  CASE WHEN l_quantity__min IS NULL OR l_quantity__max IS NULL THEN 'retained_conservatively'
      |       WHEN l_quantity__max >= 46 AND l_quantity__min <= 50 THEN 'retained_may_match'
      |       ELSE 'pruned' END AS pruning_outcome
      |FROM (
      |  SELECT l_orderkey % 8 AS segment_id, CAST(COUNT(*) AS BIGINT) AS row_count,
      |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity__nulls,
      |    min(l_quantity) AS l_quantity__min, max(l_quantity) AS l_quantity__max
      |  FROM lineitem GROUP BY 1) t
      |ORDER BY segment_id""".stripMargin,
    doc = "Stats-manifest pruning with conservative retention on missing stats — cdf statistics_pruning.rs:27-160.") {
    (s, d) =>
      val stats = StatsOps.segmentStats(t(s, d, "lineitem"), col("l_orderkey") % 8, Seq("l_quantity"))
      StatsOps.pruneSegments(stats, "l_quantity", 46, 50)
        .select("segment_id", "row_count", "l_quantity__nulls",
          "l_quantity__min", "l_quantity__max", "pruning_outcome")
        .orderBy("segment_id")
  }

  // ------------------------------------------------------------ aggregates

  val q1Agg: QueryDef = QueryDef.sqlBacked(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      |  CAST(COUNT(*) AS BIGINT) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    doc = "TPC-H Q1 shape on the cdf-sql surface; DECIMAL-exact sums for partition-order-independent results.") {
    (s, d) =>
      val ep = dec2(col("l_extendedprice"))
      val discF = fac2(lit(1.0) - col("l_discount"))
      val taxF = fac2(lit(1.0) + col("l_tax"))
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        decSum(dec2(col("l_quantity"))).as("sum_qty"),
        decSum(ep).as("sum_base_price"),
        decSum(ep * discF).as("sum_disc_price"),
        decSum(ep * discF * taxF).as("sum_charge"),
        count(lit(1)).as("count_order")
      ).orderBy("l_returnflag", "l_linestatus")
  }

  val q3Join: QueryDef = QueryDef.sqlBacked(
    "q3_join",
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin,
    doc = "TPC-H Q3 shape: the filtered customer dim joins by size, fact-fact equi-join.") {
    (s, d) =>
      val pivot = java.sql.Timestamp.from(Instant.parse("1998-07-01T00:00:00Z"))
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit(pivot))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit(pivot))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(decSum(dec2(col("l_extendedprice")) * fac2(lit(1.0) - col("l_discount"))).as("revenue"))
        .select("o_orderkey", "o_orderdate", "revenue")
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
  }

  // ------------------------------------------------------------ validation

  /** Shared lineitem contract for the validation demos. */
  private val asOfMs = tsMs("2001-12-31T00:00:00Z")
  private val freshThresholdMs = tsMs("1999-01-01T00:00:00Z")
  val lineitemPolicy: ContractPolicy = ContractPolicy(Seq(
    RowRule.Nullability("nn_orderkey", "l_orderkey"),
    RowRule.Range("range_qty", "l_quantity", 1, 45),
    RowRule.Domain("domain_flag", "l_returnflag", Seq("A", "N")),
    RowRule.Regex("regex_status", "l_linestatus", "^O"),
    RowRule.Freshness("fresh_ship", "l_shipdate", asOfMs - freshThresholdMs, asOfMs)))

  private val sqlRulePass: Seq[(String, String)] = Seq(
    "nn_orderkey" -> "(l_orderkey IS NOT NULL)",
    "range_qty" -> "(l_quantity BETWEEN 1 AND 45)",
    "domain_flag" -> "(l_returnflag IN ('A','N'))",
    "regex_status" -> "regexp_matches(l_linestatus, '^O')",
    "fresh_ship" -> "(l_shipdate >= TIMESTAMP '1999-01-01 00:00:00')")

  val validationVerdicts: QueryDef = QueryDef.sqlBacked(
    "q_validation_verdicts",
    "SELECT\n" + sqlRulePass.map { case (id, p) =>
      s"""  CAST(SUM(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS ${id}__pass,
         |  CAST(SUM(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS ${id}__violation""".stripMargin
    }.mkString(",\n") + "\nFROM lineitem",
    doc = "Vectorized rule outcomes (quality.parquet shape) — cdf program.rs:385-397, VISION.md:780.") {
    (s, d) => ValidationProgram.compile(lineitemPolicy).ruleOutcomeCounts(t(s, d, "lineitem"))
  }

  val validationColumnar: QueryDef = QueryDef.sqlBacked(
    "q_validation_columnar",
    "SELECT\n" + sqlRulePass.map { case (id, p) =>
      s"""  CAST(SUM(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS ${id}__pass,
         |  CAST(SUM(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS ${id}__violation""".stripMargin
    }.mkString(",\n") +
      s""",
         |  CAST(SUM(CASE WHEN ${sqlRulePass.map(_._2).mkString(" AND ")} THEN 1 ELSE 0 END) AS BIGINT) AS accept_n,
         |  CAST(SUM(CASE WHEN ${sqlRulePass.map(_._2).mkString(" AND ")} THEN 0 ELSE 1 END) AS BIGINT) AS quarantine_n
         |FROM lineitem""".stripMargin,
    doc = "Rule-outcome + disposition counts via the COLUMNAR kernel — rule " +
      "predicates evaluate against the parquet scan's ColumnVectors and only " +
      "counts leave the executor, no row materialization (cdf vector.rs:500-760; " +
      "the reference's per-core validation cells are kernels of this shape).") {
    (s, d) =>
      val r = ColumnarValidation.counts(t(s, d, "lineitem"), lineitemPolicy)
      require(r.columnar, s"columnar path must run over parquet: ${r.fallbackReason}")
      ColumnarValidation.toDf(s, lineitemPolicy, r.counts)
  }

  val validationSplit: QueryDef = QueryDef.sqlBacked(
    "q_validation_split",
    s"""SELECT disposition, CAST(COUNT(*) AS BIGINT) AS n
       |FROM (SELECT CASE WHEN ${sqlRulePass.map(_._2).mkString(" AND ")}
       |  THEN 'accept' ELSE 'quarantine' END AS disposition FROM lineitem) t
       |GROUP BY disposition ORDER BY disposition""".stripMargin,
    doc = "Row dispositions Accept|Quarantine from the joined verdict lattice — cdf program.rs:378-420.") {
    (s, d) =>
      ValidationProgram.compile(lineitemPolicy)
        .annotate(t(s, d, "lineitem"))
        .groupBy(col(ValidationProgram.DispositionCol).as("disposition"))
        .agg(count(lit(1)).as("n"))
        .orderBy("disposition")
  }

  // ----------------------------------------------------------- dedup/merge

  val dedupExact: QueryDef = QueryDef.sqlBacked(
    "q_dedup_exact",
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    doc = "Whole-row exact dedup — cdf engine/expression.rs:267-291.") { (s, d) =>
    Dedup.exact(t(s, d, "orders").select("o_orderstatus", "o_orderpriority"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val dedupKeyedLast: QueryDef = QueryDef.sqlBacked(
    "q_dedup_keyed_last",
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value, props
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    doc = "Keyed dedup keep=Last (merge precondition) — cdf program.rs:335-341, dedup_spill.rs.") { (s, d) =>
    Dedup.keyed(events(s, d), Seq("user_id", "event_type"), Seq("ts_us", "event_id"), Dedup.Keep.Last)
      .select("event_id", "user_id", "event_type", "ts_us", "value", "props")
      .orderBy("event_id")
  }

  val mergeUpsert: QueryDef = QueryDef.sqlBacked(
    "q_merge_upsert",
    """WITH stage AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |         o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT * FROM stage
      |UNION ALL
      |SELECT b.* FROM orders b ANTI JOIN stage s ON b.o_orderkey = s.o_orderkey
      |ORDER BY o_orderkey""".stripMargin,
    doc = "merge disposition = insert-or-update on the merge key — cdf VISION.md:929, commit.rs:678-943. " +
      "Implemented as stage ∪ (base left-anti stage): one broadcastable equi-join.") { (s, d) =>
    val base = t(s, d, "orders")
    val stage = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
    MergeOps.upsert(base, stage, Seq("o_orderkey")).orderBy("o_orderkey")
  }

  val cdcApply: QueryDef = QueryDef.sqlBacked(
    "q_cdc_apply",
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN event_type = 'error' THEN 'delete'
      |         WHEN event_type = 'signup' THEN 'insert' ELSE 'update' END AS op,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,
    doc = "cdc_apply: ordered insert/update/delete apply, last-op-per-key wins, terminal delete removes — " +
      "cdf VISION.md:931, cdc_log_source.rs.") { (s, d) =>
    val ops = events(s, d).withColumn("op",
        when(col("event_type") === "error", "delete")
          .when(col("event_type") === "signup", "insert")
          .otherwise("update"))
      .select("user_id", "event_id", "ts_us", "value", "op")
    MergeOps.cdcApply(ops, Seq("user_id"), "op", Seq("ts_us", "event_id")).orderBy("user_id")
  }

  val cdcStream: QueryDef = QueryDef.sqlBacked(
    "q_cdc_stream",
    """SELECT user_id, event_id, ts_us, value FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |    CASE WHEN event_type = 'error' THEN 'delete'
      |         WHEN event_type = 'signup' THEN 'insert' ELSE 'update' END AS op,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY event_id // 20 DESC, ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,
    doc = "CDC log source end-to-end: settlement units planned from per-txn summaries " +
      "(never split a transaction), each unit delivered as one ledger-settled package with a " +
      "typed tx cursor, then ordered apply over the delivered units — " +
      "cdf cdc_log_source.rs:34-340; chaos law in CdcLogSpec (kill between units loses/dups nothing).") { (s, d) =>
    val log = events(s, d)
      .withColumn("tx_id", expr("event_id div 20")) // synthetic txn = 20 consecutive ops
      .withColumn("op",
        when(col("event_type") === "error", "delete")
          .when(col("event_type") === "signup", "insert")
          .otherwise("update"))
      .select("tx_id", "user_id", "event_id", "ts_us", "value", "op")
    val outDir = graft.core.Scratch.dir("graft_cdc_stream").toString
    val ledger = graft.core.Ledger.at(outDir)
    val txns = CdcLogRunner.txnSummaries(log, "tx_id")
    val policy = CdcLogRunner.policyForTargetUnits(txns.map(_.ops.toLong).sum, targetUnits = 6)
    val plans = CdcLogRunner.packPlans(txns, policy)
    CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "events_cdc", plans)
    CdcLogRunner.appliedBulk(s, outDir, Seq("user_id"), "op", "tx_id", Seq("ts_us", "event_id"))
      .select("user_id", "event_id", "ts_us", "value")
      .orderBy("user_id")
  }

  // ------------------------------------------------------ streaming shapes

  val lateDataSplit: QueryDef = QueryDef.sqlBacked(
    "q_late_data_split",
    s"""SELECT disposition, CAST(COUNT(*) AS BIGINT) AS n,
       |  min(event_id) AS min_event_id, max(event_id) AS max_event_id
       |FROM (SELECT event_id,
       |  CASE WHEN ts >= ${sqlTs("2024-01-28T00:00:00Z")} THEN 'admit'
       |       WHEN ts >= ${sqlTs("2024-01-21T00:00:00Z")} THEN 'recapture'
       |       ELSE 'quarantine' END AS disposition FROM events) t
       |GROUP BY disposition ORDER BY disposition""".stripMargin,
    doc = "Explicit 3-way late-data split admit/recapture/quarantine — cdf late_data.rs:10-110 " +
      "(Spark's built-in watermark silently drops; we classify instead).") { (s, d) =>
    val wm = java.sql.Timestamp.from(Instant.parse("2024-01-28T00:00:00Z"))
    val withTs = events(s, d).withColumn("ts", expr("timestamp_micros(ts_us)"))
    LateData.classify(withTs, "ts", wm, graceMs = 7L * 24 * 3600 * 1000)
      .groupBy(col(LateData.DispositionCol).as("disposition"))
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_event_id"), max("event_id").as("max_event_id"))
      .orderBy("disposition")
  }

  val incrementalCursor: QueryDef = QueryDef.sqlBacked(
    "q_incremental_cursor",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n, epoch_us(max(ts)) AS max_ts_us,
       |  epoch_us(max(ts)) - 3600000000 AS window_close_us
       |FROM events WHERE epoch_us(ts) > 1705276800000000""".stripMargin,
    doc = "Incremental cursor scan + window-close position = max(observed) − lag, never naive max — " +
      "cdf VISION.md:460-464 I5, resource.rs:389-402.") { (s, d) =>
    val cursorUs = tsMs("2024-01-15T00:00:00Z") * 1000L
    val lagUs = 3600L * 1000000L
    events(s, d).filter(col("ts_us") > cursorUs).agg(
      count(lit(1)).as("n"),
      max(col("ts_us")).as("max_ts_us"),
      (max(col("ts_us")) - lagUs).as("window_close_us"))
  }

  val all: Seq[QueryDef] = Seq(
    scanProjectFilter, scalarTransform, batchStats, segmentPruning,
    q1Agg, q3Join, validationVerdicts, validationColumnar, validationSplit,
    dedupExact, dedupKeyedLast, mergeUpsert, cdcApply, cdcStream,
    lateDataSplit, incrementalCursor)
}
