package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{CacheScope, QueryDef, Tables}
import graft.operators.Dedup

/** Additional verified analytics surface: join forms (semi/anti), set
  * operations, temporal bucketing, string scalar functions, window
  * navigation, rollup, and SQL 3-valued logic — all free on the Spark
  * SQL surface that supersedes `cdf sql` (SURVEY §2.4/§2.9/§3.2), each
  * hash-checked against DuckDB.
  */
object AnalyticsQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val semiAntiJoin: QueryDef = QueryDef.sqlBacked(
    "q_semi_anti_join",
    """SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_semi,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_anti""".stripMargin,
    doc = "EXISTS / NOT EXISTS as left_semi / left_anti joins — the merge-key membership primitives.") {
    (s, d) =>
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem").select(col("l_orderkey"))
      // two independent actions submitted concurrently (guide §2.6;
      // fresh labeled pool — core/Par.awaitAll)
      val Seq(nSemi, nAnti) = graft.core.Par.awaitAll(Seq(
        () => o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi").count(),
        () => o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti").count()))
      import s.implicits._
      Seq((nSemi, nAnti)).toDF("n_semi", "n_anti")
  }

  val setOps: QueryDef = QueryDef.sqlBacked(
    "q_setops",
    """SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
      |     UNION SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0) t) AS union_n,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
      |     INTERSECT SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0) t) AS intersect_n,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
      |     EXCEPT SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0) t) AS except_n""".stripMargin,
    doc = "Set operations union/intersect/except (distinct semantics) — §2.9.") { (s, d) =>
    val keys = t(s, d, "orders").select("o_orderkey")
    val a = keys.filter(col("o_orderkey") % 3 === 0)
    val b = keys.filter(col("o_orderkey") % 2 === 0)
    import s.implicits._
    // three independent actions submitted concurrently (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially) — each job's tail back-fills the others' idle cores
    val Seq(nu, ni, ne) = graft.core.Par.awaitAll(Seq(
      () => a.union(b).distinct().count(),
      () => a.intersect(b).count(),
      () => a.except(b).count()))
    Seq((nu, ni, ne)).toDF("union_n", "intersect_n", "except_n")
  }

  val dateTruncAgg: QueryDef = QueryDef.sqlBacked(
    "q_date_trunc_agg",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  min(event_id) AS min_event, max(event_id) AS max_event
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    doc = "Temporal bucketing: per-day event counts (datetime scalar family, §2.3).") { (s, d) =>
    val ev = t(s, d, "events")
    ev
      .withColumn("day", date_trunc("day", timestamp_micros(graft.core.Tables.tsUs(ev))).cast("date"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_event"), max("event_id").as("max_event"))
      .orderBy("day")
  }

  val stringFuncs: QueryDef = QueryDef.sqlBacked(
    "q_string_funcs",
    """SELECT p_partkey,
      |  substring(p_name, 1, 5) AS name5,
      |  replace(p_name, ' ', '_') AS name_u,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      |  CAST(strpos(p_name, 'a') AS INTEGER) AS a_pos,
      |  reverse(p_brand) AS brand_rev,
      |  CAST(length(p_name) AS INTEGER) AS name_len
      |FROM part ORDER BY p_partkey""".stripMargin,
    doc = "String scalar-function family (substring/replace/pad/position/reverse/length) — §2.3 registry.") {
    (s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        substring(col("p_name"), 1, 5).as("name5"),
        regexp_replace(col("p_name"), " ", "_").as("name_u"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        instr(col("p_name"), "a").as("a_pos"),
        reverse(col("p_brand")).as("brand_rev"),
        length(col("p_name")).as("name_len")
      ).orderBy("p_partkey")
  }

  val windowLag: QueryDef = QueryDef.sqlBacked(
    "q_window_lag",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER w AS prev_order,
      |  lead(o_orderkey) OVER w AS next_order,
      |  CAST(rank() OVER w AS INTEGER) AS rnk,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drnk
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin,
    doc = "Window navigation lag/lead/rank/dense_rank with a total per-partition order.") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, d, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_orderkey"), 1).over(w).as("prev_order"),
      lead(col("o_orderkey"), 1).over(w).as("next_order"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk")
    ).orderBy("o_custkey", "o_orderkey")
  }

  val rollupAgg: QueryDef = QueryDef.sqlBacked(
    "q_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin,
    doc = "Hierarchical rollup totals — beyond the reference's load path, free via Spark SQL (§2.5).") {
    (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")
  }

  val dedupKeyedFirst: QueryDef = QueryDef.sqlBacked(
    "q_dedup_keyed_first",
    """SELECT user_id, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    doc = "Keyed dedup keep=First (first event per user) — the other DedupKeep arm (§2.6).") { (s, d) =>
    val ev = graft.core.Tables.eventsUs(s, d)
    Dedup.keyed(ev, Seq("user_id"), Seq("ts_us", "event_id"), Dedup.Keep.First)
      .select("user_id", "event_id", "event_type")
      .orderBy("user_id")
  }

  val nullLogic: QueryDef = QueryDef.sqlBacked(
    "q_null_logic",
    """SELECT
      |  CAST(SUM(CASE WHEN x > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN NOT (x > 20) THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
      |  CAST(SUM(CASE WHEN (x > 20) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
      |FROM (SELECT NULLIF(l_quantity, 25) AS x FROM lineitem) t""".stripMargin,
    doc = "Kleene 3-valued logic partition true/false/unknown — the null-semantics substrate of the " +
      "verdict lattice (SURVEY §7.4.2).") { (s, d) =>
    val withNull = t(s, d, "lineitem").select(nullif(col("l_quantity"), lit(25.0)).as("x"))
    withNull.agg(
      sum(when(col("x") > 20, 1L).otherwise(0L)).as("n_true"),
      sum(when(!(col("x") > 20), 1L).otherwise(0L)).as("n_false"),
      sum(when((col("x") > 20).isNull, 1L).otherwise(0L)).as("n_unknown"))
  }

  val variantCapture: QueryDef = QueryDef.sqlBacked(
    "q_variant_capture",
    """SELECT event_id,
      |  to_json(struct_pack(event_type := event_type,
      |    k := CAST(json_extract_string(props, '$.k') AS INTEGER))) AS _cdf_variant
      |FROM events ORDER BY event_id""".stripMargin,
    doc = "Variant capture: untypeable/drifting substructure serialized as JSON into `_cdf_variant` — " +
      "cdf policy.rs:9 VARIANT_COLUMN_NAME, variant_capture.rs (§2.6).") { (s, d) =>
    Tables(s, d, "events").select(
      col("event_id"),
      to_json(struct(
        col("event_type").as("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))).as("_cdf_variant"))
      .orderBy("event_id")
  }

  private def eventsUs(s: SparkSession, d: String): DataFrame =
    graft.core.Tables.eventsUs(s, d)

  val asofJoin: QueryDef = QueryDef.sqlBacked(
    "q_asof_join",
    """WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS purchase_id
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.ts_us, p.purchase_id AS asof_purchase_id
      |FROM clicks c ASOF LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
      |ORDER BY c.event_id""".stripMargin,
    doc = "As-of join (point-in-time correctness, no future leakage): composed from union + one " +
      "window pass per key — one shuffle, no range explosion (operators/AsofJoin).") { (s, d) =>
    val ev = eventsUs(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us")
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts_us").agg(max("event_id").as("purchase_id"))
    graft.operators.AsofJoin.leftAsof(clicks, purch, Seq("user_id"), "ts_us", Seq("purchase_id"))
      .withColumnRenamed("asof_purchase_id", "asof_purchase_id")
      .orderBy("event_id")
  }

  val sessionize: QueryDef = QueryDef.sqlBacked(
    "q_sessionize",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
      |l AS (SELECT user_id, ts_us, event_id,
      |        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
      |m AS (SELECT user_id, ts_us, event_id,
      |        CASE WHEN prev IS NULL OR ts_us - prev > 3600000000 THEN 1 ELSE 0 END AS ns FROM l),
      |s AS (SELECT user_id, ts_us,
      |        SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS UNBOUNDED PRECEDING) - 1 AS session_seq FROM m)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  min(ts_us) AS session_start, max(ts_us) AS session_end,
      |  max(ts_us) - min(ts_us) AS duration_us
      |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    doc = "Gap-based sessionization (1h gap): lag + running-sum windows, one shuffle on the key — " +
      "batch equivalent of streaming session windows (operators/Sessionize).") { (s, d) =>
    graft.operators.Sessionize.summarize(
        eventsUs(s, d).select("user_id", "ts_us", "event_id"),
        Seq("user_id"), "ts_us", "event_id", gapUs = 3600000000L)
      .orderBy("user_id", "session_seq")
  }

  private val streamSessionizeSink = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamSessionize: QueryDef = QueryDef.sqlBacked(
    "q_stream_sessionize",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
      |l AS (SELECT user_id, ts_us, event_id,
      |        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
      |m AS (SELECT user_id, ts_us, event_id,
      |        CASE WHEN prev IS NULL OR ts_us - prev > 3600000000 THEN 1 ELSE 0 END AS ns FROM l),
      |s AS (SELECT user_id, ts_us,
      |        SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(ts_us) AS session_start, max(ts_us) AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  max(ts_us) - min(ts_us) AS duration_us
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    doc = "STREAMING sessionization, oracle-gated: the events fixture arrives as three " +
      "time-ordered micro-batches through a real Structured Streaming query — native " +
      "session_window(ts, 1h) + watermark, append mode, memory sink — and the emitted " +
      "closed sessions must hash-match the batch lag+running-sum formulation. Spark's " +
      "merge law is pinned by StreamingSessionizeSpec (exact-gap merges, >gap splits — " +
      "identical to the batch split), so the two agree row-for-row with no offset fudge; " +
      "state is per OPEN session, watermark-evicted (streaming/StreamingSessionize).") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.core.Tables.eventsUs(s, d).select("user_id", "ts_us")
      .as[(Long, Long)].collect().toSeq.sortBy(_._2)
    // three time-ordered epochs: sessions routinely SPAN the epoch cut,
    // so the cross-batch state path is what's under test
    val epochs = rows.grouped((rows.size + 2) / 3).toSeq
    val maxTs = rows.last._2
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select("user_id", "ts")
    val sessions = graft.streaming.StreamingSessionize.sessions(
      stream, Seq("user_id"), "ts", gap = "3600 seconds")
    val sink = s"stream_sessionize_${streamSessionizeSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_sessionize").toString
    val q = sessions.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        epochs.foreach { ep => input.addData(ep); q.processAllAvailable() }
        // two sentinel batches (user -1, far future): the first advances
        // max(event time), the second runs under the advanced watermark
        // and closes every real session; sentinels never emit (filtered,
        // and their own session stays open)
        input.addData(Seq((-1L, maxTs + 36000000000L))); q.processAllAvailable()
        input.addData(Seq((-1L, maxTs + 72000000000L))); q.processAllAvailable()
        s.table(sink).filter(col("user_id") =!= -1L)
          .select("user_id", "session_start", "session_end", "n_events", "duration_us")
          .orderBy("user_id", "session_start")
          .collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        // stop state-store providers + maintenance pool so nothing leaks
        // into whatever the caller times next
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("session_start", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("session_end", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_us", org.apache.spark.sql.types.LongType))))
    }
  }

  val rangeJoin: QueryDef = QueryDef.sqlBacked(
    "q_range_join",
    """WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, epoch_us(ts) AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id, p.purchase_id, p.p_ts - c.ts_us AS delta_us
      |FROM clicks c JOIN purch p
      |  ON c.user_id = p.user_id AND p.p_ts >= c.ts_us AND p.p_ts <= c.ts_us + 3600000000
      |ORDER BY c.event_id, p.purchase_id""".stripMargin,
    doc = "Range join (purchases within 1h after a click): bucketed by floor(time/window) so it is a " +
      "pure equi-join on (key, bucket) — never a per-key cross product (operators/RangeJoin).") { (s, d) =>
    val ev = eventsUs(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts"), col("event_id").as("purchase_id"))
    graft.operators.RangeJoin.joinWithin(clicks, purch, Seq("user_id"),
        "ts_us", "p_ts", windowUs = 3600000000L)
      .select(col("event_id"), col("user_id"), col("purchase_id"),
        (col("p_ts") - col("ts_us")).as("delta_us"))
      .orderBy("event_id", "purchase_id")
  }

  private val streamIntervalSink = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamIntervalJoin: QueryDef = QueryDef.sqlBacked(
    "q_stream_interval_join",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, epoch_us(ts) AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.purchase_id, p.p_ts - c.ts_us AS delta_us
      |FROM clicks c JOIN purch p
      |  ON c.user_id = p.user_id AND p.p_ts >= c.ts_us AND p.p_ts <= c.ts_us + 3600000000
      |ORDER BY click_id, purchase_id""".stripMargin,
    doc = "STREAM-STREAM interval join, oracle-gated: clicks and purchases arrive as separate " +
      "real streams in three time-ordered micro-batches each; Catalyst's symmetric hash join " +
      "buffers left rows window+lateness and right rows lateness in keyed state (watermark-" +
      "evicted, RocksDB-backable), the interval bound rides the JOIN CONDITION so state is " +
      "bounded by construction, and inner matches emit the moment the later row arrives — " +
      "cross-epoch pairs included. Must hash-match the batch bucketed RangeJoin oracle " +
      "(streaming/StreamingIntervalJoin).") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = eventsUs(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(e => (e._2, e._3))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(e => (e._2, e._3))
    val lIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val rIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val l = lIn.toDF().toDF("user_id", "lts_us", "click_id")
      .withColumn("lts", timestamp_micros(col("lts_us")))
    val r = rIn.toDF().toDF("user_id", "rts_us", "purchase_id")
      .withColumn("rts", timestamp_micros(col("rts_us")))
    val joined = graft.streaming.StreamingIntervalJoin.joinWithin(
        l, r, Seq("user_id"), "lts", "rts", window = "1 hour")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("rts_us") - col("lts_us")).as("delta_us"))
    val sink = s"stream_interval_join_${streamIntervalSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_ij").toString
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        // three epochs per side: pairs routinely complete ACROSS epochs
        // (click buffered in state until its purchase arrives), so the
        // cross-batch state path is what's under test
        val lEp = clicks.grouped((clicks.size + 2) / 3).toSeq.map(Some(_))
        val rEp = purch.grouped((purch.size + 2) / 3).toSeq.map(Some(_))
        lEp.zipAll(rEp, None, None).foreach { case (le, re) =>
          le.foreach(lIn.addData(_)); re.foreach(rIn.addData(_))
          q.processAllAvailable()
        }
        s.table(sink).orderBy("click_id", "purchase_id").collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("click_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("purchase_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("delta_us", org.apache.spark.sql.types.LongType))))
    }
  }

  private val streamOuterSink = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAM-STREAM LEFT-OUTER interval join — the semantics
    * q_stream_interval_join cannot show: a click with NO purchase in
    * its hour must still emit (null-padded), and it may only do so once
    * BOTH watermarks have passed `click_ts + window` — the earliest
    * moment absence is provable. Spark holds the unmatched left row in
    * keyed state exactly that long, then emits and evicts in one step.
    *
    * The final epochs' unmatched clicks need the watermark to move PAST
    * them after the data ends, so the feed appends a sentinel row far
    * beyond max(ts) on both streams (filtered back out of the result) —
    * the streaming equivalent of an end-of-stream flush marker. Two
    * sentinel rounds run because a watermark advance lands one
    * micro-batch after the data that produced it.
    *
    * Scale shape: identical to the inner form — one shuffle per side,
    * state bounded by window+lateness, RocksDB-backable; null emission
    * adds no state, it rides eviction. */
  val streamOuterJoin: QueryDef = QueryDef.sqlBacked(
    "q_stream_outer_join",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, epoch_us(ts) AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.purchase_id, p.p_ts - c.ts_us AS delta_us
      |FROM clicks c LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND p.p_ts >= c.ts_us AND p.p_ts <= c.ts_us + 3600000000
      |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,
    doc = "STREAM-STREAM LEFT-OUTER interval join: unmatched clicks emit null-padded only " +
      "when both watermarks prove absence; end-of-stream flush via sentinel rows. " +
      "Hash-matches the batch LEFT JOIN oracle.") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = eventsUs(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(e => (e._2, e._3))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(e => (e._2, e._3))
    val maxTs = (clicks.map(_._2) ++ purch.map(_._2)).max
    val lIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val rIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val l = lIn.toDF().toDF("user_id", "lts_us", "click_id")
      .withColumn("lts", timestamp_micros(col("lts_us")))
    val r = rIn.toDF().toDF("user_id", "rts_us", "purchase_id")
      .withColumn("rts", timestamp_micros(col("rts_us")))
    val joined = graft.streaming.StreamingIntervalJoin.joinWithin(
        l, r, Seq("user_id"), "lts", "rts", window = "1 hour",
        joinType = "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("rts_us") - col("lts_us")).as("delta_us"))
    val sink = s"stream_outer_join_${streamOuterSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_oj").toString
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        val lEp = clicks.grouped((clicks.size + 2) / 3).toSeq.map(Some(_))
        val rEp = purch.grouped((purch.size + 2) / 3).toSeq.map(Some(_))
        lEp.zipAll(rEp, None, None).foreach { case (le, re) =>
          le.foreach(lIn.addData(_)); re.foreach(rIn.addData(_))
          q.processAllAvailable()
        }
        // end-of-stream flush: two sentinel rounds (watermark computed
        // from batch N applies in batch N+1) push both watermarks past
        // maxTs + window so every trailing unmatched click emits
        Seq(10L, 20L).foreach { days =>
          val sentinelTs = maxTs + days * 86400L * 1000000L
          lIn.addData((-1L, sentinelTs, -1L))
          rIn.addData((-1L, sentinelTs, -1L))
          q.processAllAvailable()
        }
        s.table(sink).filter(col("click_id") =!= -1L)
          .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
          .collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("click_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("purchase_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("delta_us", org.apache.spark.sql.types.LongType))))
    }
  }

  val topKAgg: QueryDef = QueryDef.sqlBacked(
    "q_topk_agg",
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    doc = "Per-key top-k via a typed Aggregator (bounded k-buffer, map-side partial agg — shuffles " +
      "k rows/key instead of sorting every row; functions/TopKAgg, §2.11 UDAF rung).") { (s, d) =>
    val topk = udaf(new graft.functions.TopKAgg(3))
    t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("tops"))
      .select(col("o_custkey"), posexplode(col("tops")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        col("col.value").as("o_totalprice"), (col("pos") + 1).as("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  val dedupFailEvidence: QueryDef = QueryDef.sqlBacked(
    "q_dedup_fail_evidence",
    """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
      |ORDER BY user_id, event_type""".stripMargin,
    doc = "Dedup keep=Fail evidence: the duplicate-key groups a Fail contract reports before " +
      "rejecting the batch (cdf DedupKeep::Fail, program.rs:335-341).") { (s, d) =>
    t(s, d, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy("user_id", "event_type")
  }

  val approxDistinct: QueryDef = QueryDef.sqlBacked(
    "q_approx_distinct",
    """SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS orders_within_10pct, TRUE AS parts_within_10pct
      |FROM lineitem""".stripMargin,
    doc = "HLL sketches: approx_count_distinct. The estimate itself is engine-specific, " +
      "but its ERROR BOUND is oracle-checkable: the query emits the exact counts plus " +
      "booleans asserting the sketch landed within 2x the configured rsd (5%); the " +
      "oracle expects TRUE — a sketch regression (or a broken merge of partial " +
      "sketches) now fails the gate instead of hiding behind rows-only.") { (s, d) =>
    t(s, d, "lineitem").agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      (abs(approx_count_distinct(col("l_orderkey")).cast("double") -
          countDistinct(col("l_orderkey")).cast("double")) <=
        countDistinct(col("l_orderkey")).cast("double") * 0.10).as("orders_within_10pct"),
      (abs(approx_count_distinct(col("l_partkey")).cast("double") -
          countDistinct(col("l_partkey")).cast("double")) <=
        countDistinct(col("l_partkey")).cast("double") * 0.10).as("parts_within_10pct"))
  }

  val exactMedian: QueryDef = QueryDef.sqlBacked(
    "q_exact_median",
    """SELECT l_returnflag, val AS median_qty FROM (
      |  SELECT l_returnflag, l_quantity AS val,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem) t
      |WHERE rn = (n + 1) // 2
      |ORDER BY l_returnflag""".stripMargin,
    doc = "Exact (lower) median — engine-portable, unlike interpolating percentile built-ins " +
      "whose algorithms differ. Computed DISTRIBUTED (operators/DistributedSelect: sample → " +
      "bracket → count → narrow extract, every pass a parallel aggregate) — the window " +
      "rank-selection the oracle runs sorts each whole group in ONE task, which is the " +
      "per-group skew killer at 100 TB.") { (s, d) =>
    graft.operators.DistributedSelect.quantilesByGroup(
        t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        Seq("l_returnflag"), "l_quantity", Seq("median_qty" -> 0.5))
      .orderBy("l_returnflag")
  }

  val saltedJoin: QueryDef = QueryDef.sqlBacked(
    "q_salted_join",
    """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Skew-salted equi-join (operators/Salting): the fact side gets a deterministic " +
      "xxhash64 salt in [0,8), the dim side replicates 8 ways, and the join keys on " +
      "(key, salt) so one hot key spreads over 8 partitions — the mitigation for " +
      "hash-partition paths AQE's skew split can't touch. The oracle is the plain " +
      "join: salting must be RESULT-INVISIBLE, which this hash-gate proves.") { (s, d) =>
    val l = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("qty"))
    val o = t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    graft.operators.Salting.saltedJoin(l, o, "l_orderkey", salts = 8,
        saltSource = Seq("l_orderkey", "l_linenumber"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum("qty").cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  val funnel: QueryDef = QueryDef.sqlBacked(
    "q_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |c AS (SELECT user_id, min(ts_us) AS first_click FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT c.user_id, min(e.ts_us) AS first_purchase
      |      FROM c JOIN e ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts_us >= c.first_click
      |      GROUP BY 1)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clickers,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_converted,
      |  (SELECT CAST(SUM(p.first_purchase - c.first_click) AS BIGINT)
      |     FROM p JOIN c ON p.user_id = c.user_id) AS total_lag_us""".stripMargin,
    doc = "Conversion funnel (click → later purchase per user): two min-aggregates on the " +
      "user key + one join — never a per-user event sort; at 100 TB both aggregates and " +
      "the join share the user-key shuffle (co-partitioned under AQE), and the integer " +
      "lag sum is exact.") { (s, d) =>
    import s.implicits._
    val e = eventsUs(s, d).select("user_id", "event_type", "ts_us")
    val c = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts_us").as("first_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts_us") >= col("first_click"))
      .groupBy("user_id").agg(min("ts_us").as("first_purchase"),
        first("first_click").as("first_click"))
    val nClickers = c.count()
    val row = p.agg(count(lit(1)).as("n_converted"),
      sum(col("first_purchase") - col("first_click")).as("total_lag_us")).head
    Seq((nClickers, row.getLong(0), row.getLong(1)))
      .toDF("n_clickers", "n_converted", "total_lag_us")
  }

  val scd2: QueryDef = QueryDef.sqlBacked(
    "q_scd2_history",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
      |o AS (SELECT user_id, event_type, ts_us,
      |        lag(event_type) OVER w AS prev_type
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |chg AS (SELECT user_id, event_type, ts_us FROM o
      |        WHERE prev_type IS NULL OR prev_type <> event_type),
      |v AS (SELECT user_id, event_type, ts_us AS valid_from_us,
      |        lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS valid_to_us
      |      FROM chg)
      |SELECT user_id, event_type, valid_from_us,
      |  COALESCE(valid_to_us, 0) AS valid_to_us,
      |  CAST(valid_to_us IS NULL AS BOOLEAN) AS is_current
      |FROM v ORDER BY user_id, valid_from_us""".stripMargin,
    doc = "SCD Type-2 history build from a change stream: consecutive-duplicate suppression " +
      "(lag change detection) then validity intervals (lead), both windows sharing ONE " +
      "shuffle on the dimension key; the open-ended current row is flagged. The standard " +
      "warehouse versioned-dimension shape, derived rather than mutated — at 100 TB the " +
      "history is append-only and this plan rebuilds or extends it incrementally.") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val chg = eventsUs(s, d).select("user_id", "event_type", "ts_us", "event_id")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val v = Window.partitionBy("user_id").orderBy("valid_from_us")
    chg.select(col("user_id"), col("event_type"), col("ts_us").as("valid_from_us"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(v))
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        coalesce(col("valid_to_us"), lit(0L)).as("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }

  val exactP99: QueryDef = QueryDef.sqlBacked(
    "q_exact_p99",
    """SELECT event_type, CAST(val AS DOUBLE) AS p99 FROM (
      |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS val,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(value AS DECIMAL(12,2)), event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events) t
      |WHERE rn = CAST(ceil(n * 0.99) AS BIGINT)
      |ORDER BY event_type""".stripMargin,
    doc = "Exact P99 per group (ceil(n·0.99)-th smallest, DECIMAL values): the same " +
      "DistributedSelect machinery as the median, parameterized by rank expression — " +
      "tail latencies at 100 TB without a one-task-per-group sort.") { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    // Selection in exact DECIMAL; DOUBLE only in the final projection so the
    // driver's pandas-based oracle gate never sees decimal trailing zeros
    // (tools/strcheck.py).
    graft.operators.DistributedSelect.quantilesByGroup(
        t(s, d, "events").select(col("event_type"), col("value").cast(dec).as("val")),
        Seq("event_type"), "val", Seq("p99" -> 0.99))
      .select(col("event_type"), col("p99").cast("double").as("p99"))
      .orderBy("event_type")
  }

  val quantileProfile: QueryDef = QueryDef.sqlBacked(
    "q_quantile_profile",
    """WITH b AS (SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
      |                  l_orderkey, l_linenumber FROM lineitem),
      |r AS (SELECT flag, v,
      |        row_number() OVER (PARTITION BY flag ORDER BY v, l_orderkey, l_linenumber) AS rn,
      |        COUNT(*) OVER (PARTITION BY flag) AS n FROM b)
      |SELECT flag AS l_returnflag,
      |  CAST(min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.25)) AS BIGINT) THEN v END) AS DOUBLE) AS p25,
      |  CAST(min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.50)) AS BIGINT) THEN v END) AS DOUBLE) AS p50,
      |  CAST(min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.75)) AS BIGINT) THEN v END) AS DOUBLE) AS p75,
      |  CAST(min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.90)) AS BIGINT) THEN v END) AS DOUBLE) AS p90,
      |  CAST(min(CASE WHEN rn = CAST(greatest(1, ceil(n * 0.99)) AS BIGINT) THEN v END) AS DOUBLE) AS p99
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Five exact quantiles per group in ONE shared pass set (percentile_disc semantics): " +
      "DistributedSelect.quantilesByGroup computes sizes, sample, brackets and endpoint " +
      "counts once for all five fractions; only the tiny in-bracket extracts are " +
      "per-quantile. The oracle sorts every group in one window — exactly the plan this " +
      "operator exists to avoid.") { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    // Quantile selection runs in exact DECIMAL; only the final projection is cast
    // to DOUBLE — the driver's oracle gate reads DuckDB through pandas (DECIMAL ->
    // float64) and string-compares, so decimal trailing zeros would hash-mismatch
    // (tools/strcheck.py).
    graft.operators.DistributedSelect.quantilesByGroup(
        t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice").cast(dec).as("v")),
        Seq("l_returnflag"), "v",
        Seq("p25" -> 0.25, "p50" -> 0.50, "p75" -> 0.75, "p90" -> 0.90, "p99" -> 0.99))
      .select(col("l_returnflag"), col("p25").cast("double").as("p25"),
        col("p50").cast("double").as("p50"), col("p75").cast("double").as("p75"),
        col("p90").cast("double").as("p90"), col("p99").cast("double").as("p99"))
      .orderBy("l_returnflag")
  }

  val modeAgg: QueryDef = QueryDef.sqlBacked(
    "q_mode",
    """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM (
      |  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    doc = "Mode (most frequent value) per group with deterministic tie-break.") { (s, d) =>
    val counted = t(s, d, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    counted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("cnt"))
      .orderBy("o_orderstatus")
  }

  val outerJoin: QueryDef = QueryDef.sqlBacked(
    "q_outer_join",
    """SELECT n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
      |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rows
      |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin,
    doc = "Left outer join with null-skipping COUNT — outer-join null semantics coverage.") { (s, d) =>
    t(s, d, "nation")
      .join(t(s, d, "customer"), col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy("n_name")
      .agg(count(col("c_custkey")).as("n_customers"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("null_rows"))
      .orderBy("n_name")
  }

  val histogram: QueryDef = QueryDef.sqlBacked(
    "q_histogram",
    """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    doc = "Fixed-width histogram via floor-bucketing (exact, engine-portable binning).") { (s, d) =>
    t(s, d, "orders")
      .groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("bucket")
  }

  val cubeAgg: QueryDef = QueryDef.sqlBacked(
    "q_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin,
    doc = "Full cube over two dimensions (grouping-sets family, beyond rollup).") { (s, d) =>
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"))
      .orderBy("flag", "status")
  }

  val stringAgg: QueryDef = QueryDef.sqlBacked(
    "q_string_agg",
    """SELECT o_orderstatus,
      |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    doc = "Ordered string aggregation (deterministic: distinct + sorted before join).") { (s, d) =>
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"))
      .orderBy("o_orderstatus")
  }

  val madOutliers: QueryDef = QueryDef.sqlBacked(
    "q_mad_outliers",
    """WITH base AS (SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
      |                     l_orderkey, l_linenumber FROM lineitem),
      |m1 AS (SELECT flag, v AS med FROM (
      |  SELECT flag, v, row_number() OVER (PARTITION BY flag
      |           ORDER BY v, l_orderkey, l_linenumber) AS rn,
      |         COUNT(*) OVER (PARTITION BY flag) AS n FROM base) t
      |  WHERE rn = (n+1)//2),
      |dev AS (SELECT b.flag, b.v, abs(b.v - m1.med) AS d, b.l_orderkey, b.l_linenumber
      |        FROM base b JOIN m1 USING (flag)),
      |m2 AS (SELECT flag, d AS mad FROM (
      |  SELECT flag, d, row_number() OVER (PARTITION BY flag
      |           ORDER BY d, l_orderkey, l_linenumber) AS rn,
      |         COUNT(*) OVER (PARTITION BY flag) AS n FROM dev) t
      |  WHERE rn = (n+1)//2)
      |SELECT dev.flag AS l_returnflag, CAST(m2.mad AS DOUBLE) AS mad,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN 2*dev.d > 3*m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(min(CASE WHEN 2*dev.d > 3*m2.mad THEN dev.v END) AS DOUBLE) AS min_outlier,
      |  CAST(max(CASE WHEN 2*dev.d > 3*m2.mad THEN dev.v END) AS DOUBLE) AS max_outlier
      |FROM dev JOIN m2 USING (flag) GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    doc = "Robust outlier detection per group: median absolute deviation (|v - median| > 1.5·MAD, " +
      "compared as 2·d > 3·MAD so the threshold stays exact integer-scaled DECIMAL), " +
      "both medians EXACT over DECIMAL values — no float accumulation anywhere, so the " +
      "verdict is engine-portable; only the final projection casts to DOUBLE (the driver's " +
      "oracle gate reads DuckDB through pandas, tools/strcheck.py). Medians come from " +
      "operators/DistributedSelect (sample → bracket → count → narrow extract — never the " +
      "oracle's one-task-per-group window sort); the two tiny (group, median) frames " +
      "broadcast back into the probe.") {
    (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      // ONE decode of the fact columns feeds everything downstream: m1's
      // two passes (the operator's spread-gate sees it already wide),
      // dev's build, m2's two passes, and the final aggregate. Spread it
      // when the source exposes fewer splits than cores (the
      // single-row-group testdata shape; at real scale splits >> cores
      // and the gate stays cold).
      val par = s.sparkContext.defaultParallelism
      val base0 = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast(dec).as("v"))
      val base = CacheScope.persisted(
        if (base0.rdd.getNumPartitions < par) base0.repartition(par) else base0)
      // each median is the 2-pass fused quantile path (sizes+sketch, then
      // histogram) — 4 data passes for the chained pair plus the final agg
      val m1 = graft.operators.DistributedSelect.quantilesByGroup(
        base, Seq("flag"), "v", Seq("med" -> 0.5))
      // persist: dev embeds m1's whole plan, and m2's two passes plus the
      // final aggregate would otherwise re-execute it per pass
      // bounded: one median row per l_returnflag value (m1 and m2)
      val dev = CacheScope.persisted(base.join(broadcast(m1), "flag")
        .withColumn("d", abs(col("v") - col("med"))))
      val m2 = graft.operators.DistributedSelect.quantilesByGroup(
        dev, Seq("flag"), "d", Seq("mad" -> 0.5))
      val isOut = lit(2) * col("d") > lit(3) * col("mad")
      dev.join(broadcast(m2), "flag")
        .groupBy(col("flag").as("l_returnflag"), col("mad"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
          min(when(isOut, col("v"))).as("min_outlier"),
          max(when(isOut, col("v"))).as("max_outlier"))
        .select(col("l_returnflag"), col("mad").cast("double").as("mad"),
          col("n_rows"), col("n_outliers"),
          col("min_outlier").cast("double").as("min_outlier"),
          col("max_outlier").cast("double").as("max_outlier"))
        .orderBy("l_returnflag")
  }

  val ntileBucket: QueryDef = QueryDef.sqlBacked(
    "q_ntile_bucket",
    """SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(min(v) AS DOUBLE) AS min_price, CAST(max(v) AS DOUBLE) AS max_price
      |FROM (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
      |        CAST(ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |             AS INTEGER) AS bucket
      |      FROM lineitem) t
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Equi-depth quartile bucketing with EXACT SQL NTILE semantics, computed DISTRIBUTED: " +
      "ntile() OVER (ORDER BY ...) with no partition collapses 100 TB into one task; " +
      "operators/GlobalRank instead range-partitions + sorts (the distributed ORDER BY " +
      "shape), prefix-sums per-partition counts into broadcast rank offsets, and stamps " +
      "ranks in one order-preserving pass — TeraSort ranking, partition-count invariant " +
      "under the total order.") { (s, d) =>
    val base = t(s, d, "lineitem")
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("v"))
    // min/max over exact DECIMAL, cast to DOUBLE only in the final projection
    // (driver's oracle gate reads DuckDB through pandas — tools/strcheck.py).
    graft.operators.GlobalRank.ntile(base,
        Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")), 4)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("v").cast("double").as("min_price"),
        max("v").cast("double").as("max_price"))
      .orderBy("bucket")
  }

  val slidingWindow: QueryDef = QueryDef.sqlBacked(
    "q_sliding_window",
    """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id FROM events),
      |w AS (SELECT (ts_us // 900000000 - k) * 900000000 AS ws, user_id
      |      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) t)
      |SELECT ws AS window_start_us, ws + 3600000000 AS window_end_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM w GROUP BY ws ORDER BY ws""".stripMargin,
    doc = "Sliding-window aggregation (1h window, 15min slide) on Spark's NATIVE window() " +
      "generator — each event fans out to exactly window/slide = 4 epoch-aligned windows " +
      "before the aggregate, so the shuffle carries (window, key) pairs with map-side " +
      "combine; the same plan runs unchanged under readStream + watermark.") { (s, d) =>
    eventsUs(s, d)
      .groupBy(window(timestamp_micros(col("ts_us")), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("n_events"), col("n_users"))
      .orderBy("window_start_us")
  }

  private val streamSlidingSink = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamSliding: QueryDef = QueryDef.sqlBacked(
    "q_stream_sliding",
    """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id FROM events),
      |w AS (SELECT (ts_us // 900000000 - k) * 900000000 AS ws, user_id
      |      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) t)
      |SELECT ws AS window_start_us, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM w GROUP BY ws ORDER BY ws""".stripMargin,
    doc = "STREAMING sliding-window aggregation, oracle-gated: the events fixture arrives as " +
      "three time-ordered micro-batches; native window(ts, 1h, 15min) + watermark in append " +
      "mode emits each window once it CLOSES (watermark past window end), state is per open " +
      "window and watermark-evicted. Two far-future sentinel batches close the tail windows; " +
      "the emitted set must hash-match the batch 4-windows-per-event fan-out oracle — the " +
      "same plan, batch or stream (streaming twin of q_sliding_window).") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = eventsUs(s, d).select("ts_us", "user_id")
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val epochs = rows.grouped((rows.size + 2) / 3).toSeq
    val maxTs = rows.last._1
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val agg = input.toDF().toDF("ts_us", "user_id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("n_events"))
    val sink = s"stream_sliding_${streamSlidingSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_sliding").toString
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        epochs.foreach { ep => input.addData(ep); q.processAllAvailable() }
        // sentinels: advance the watermark far past every real window so
        // the tail emits; the sentinel's own windows stay open and are
        // filtered by the cutoff below
        val cutoff = maxTs + 3600000000L
        input.addData(Seq((maxTs + 36000000000L, -1L))); q.processAllAvailable()
        input.addData(Seq((maxTs + 72000000000L, -1L))); q.processAllAvailable()
        s.table(sink).filter(col("window_start_us") < cutoff)
          .orderBy("window_start_us").collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("window_start_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events",
          org.apache.spark.sql.types.LongType))))
    }
  }

  private val streamEnrichSink = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamEnrich: QueryDef = QueryDef.sqlBacked(
    "q_stream_enrich",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |cut AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS c FROM e),
      |profile AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS hist_n
      |            FROM e WHERE ts_us < (SELECT c FROM cut) GROUP BY 1)
      |SELECT s.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(COALESCE(p.hist_n, 0)) AS BIGINT) AS hist_total,
      |  CAST(SUM(CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cold
      |FROM e s LEFT JOIN profile p ON s.user_id = p.user_id
      |WHERE s.ts_us >= (SELECT c FROM cut)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "STREAM-STATIC enrichment join, oracle-gated: the live half of the events fixture " +
      "arrives as three micro-batches and each event is enriched with a STATIC per-user " +
      "history profile (built from the first half) via a stream-static left join — no " +
      "state, no watermark; cold-start users " +
      "null-join and are counted. The emitted aggregate must hash-match the batch " +
      "formulation over the same cutoff.") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val e = eventsUs(s, d).select("user_id", "event_type", "ts_us")
    val cut = e.agg(expr("(min(ts_us) + max(ts_us)) div 2")).head.getLong(0)
    val profile = e.filter(col("ts_us") < cut)
      .groupBy("user_id").agg(count(lit(1)).as("hist_n"))
    val live = e.filter(col("ts_us") >= cut)
      .select("user_id", "event_type", "ts_us")
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._3)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val enriched = input.toDF().toDF("user_id", "event_type", "ts_us")
      .join(profile, Seq("user_id"), "left")
    val sink = s"stream_enrich_${streamEnrichSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_enrich").toString
    val q = enriched.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        live.grouped((live.size + 2) / 3).foreach { ep =>
          input.addData(ep); q.processAllAvailable()
        }
        s.table(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(coalesce(col("hist_n"), lit(0L))).as("hist_total"),
            sum(when(col("hist_n").isNull, 1L).otherwise(0L)).as("n_cold"))
          .orderBy("event_type")
          .collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_events",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hist_total",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_cold",
          org.apache.spark.sql.types.LongType))))
    }
  }

  private val streamDedupSink = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAMING at-least-once → effectively-once dedup on the native
    * `dropDuplicatesWithinWatermark` operator: the event stream is
    * replayed with every third event delivered TWICE (the at-least-once
    * source shape), and the keyed watermark state drops the redelivery
    * — state is bounded by the watermark horizon, not the stream
    * length, which is what makes this the 100 TB shape (the unbounded
    * `dropDuplicates` would hold every key forever). The emitted rows
    * must reconstruct the original stream exactly: the oracle is the
    * plain batch aggregate over the UN-duplicated table. */
  val streamDedup: QueryDef = QueryDef.sqlBacked(
    "q_stream_dedup",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_ids
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Streaming watermark-bounded dedup (dropDuplicatesWithinWatermark): every third " +
      "event redelivered, 3 micro-batches; emitted rows hash-match the undoubled input — " +
      "keyed state bounded by the watermark horizon, not stream length.") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = eventsUs(s, d).select("event_id", "user_id", "event_type", "ts_us")
      .as[(Long, Long, String, Long)].collect().toSeq.sortBy(r => (r._4, r._1))
    // at-least-once delivery: every third event arrives twice, back-to-back
    val dupped = rows.flatMap(r => if (r._1 % 3 == 0) Seq(r, r) else Seq(r))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String, Long)]
    val deduped = input.toDF().toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val sink = s"stream_dedup_${streamDedupSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_dedup").toString
    val q = deduped.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        dupped.grouped((dupped.size + 2) / 3).foreach { ep =>
          input.addData(ep); q.processAllAvailable()
        }
        s.table(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"))
          .orderBy("event_type")
          .collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_ids",
          org.apache.spark.sql.types.LongType))))
    }
  }

  val incrementalAgg: QueryDef = QueryDef.sqlBacked(
    "q_incremental_agg",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    doc = "Incremental aggregate-state maintenance: the history half is aggregated into a " +
      "per-key STATE frame (count/sum/min/max partials), the new batch into another, and " +
      "the answer is the re-aggregated union of partials — the 100 TB shape where history " +
      "is never rescanned, only its state merged. The oracle is the monolithic full " +
      "recompute, so the hash proves partial-merge associativity end-to-end; DECIMAL " +
      "accumulation keeps the sums bit-identical either way.") { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val ev = eventsUs(s, d)
      .select(col("user_id"), col("ts_us"), col("value").cast(dec).as("v"))
    val cutoff = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2")).head.getLong(0)
    def partial(df: DataFrame): DataFrame = df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("ts_us").as("f"), max("ts_us").as("l"))
    partial(ev.filter(col("ts_us") < cutoff))
      .unionByName(partial(ev.filter(col("ts_us") >= cutoff)))
      .groupBy("user_id")
      .agg(sum("n").as("n_events"),
        sum("sv").cast("double").as("total_value"),
        min("f").as("first_ts_us"), max("l").as("last_ts_us"))
      .orderBy("user_id")
  }

  /** Per-group closed-form OLS regression with EXACT sufficient
    * statistics: x/y become integer cents, the five sums (n, Σx, Σy,
    * Σxy, Σx²) run in BIGINT/DECIMAL(38,0) — no floating-point
    * summation-order hazard between engines — and only the FINAL
    * slope/intercept/r² divisions happen in doubles, on scale-0
    * decimals whose double conversion is a single correctly-rounded
    * step in both engines (a scale>0 decimal would round twice in
    * DuckDB: unscaled→double then ÷10^s). Same exact-arithmetic
    * discipline as q_pagerank's fixed-point.
    *
    * Scale shape: one partial-aggregated groupBy over the fact table —
    * the sufficient statistics ARE the shuffle, five longs per group;
    * the solve is a per-group scalar epilogue. This is how any
    * closed-form fit (OLS, Welford moments, covariance matrices)
    * should run at 100 TB: map-side combine into tiny algebraic
    * summaries, never a second pass. */
  val linearFit: QueryDef = QueryDef.sqlBacked(
    "q_linear_fit",
    """WITH pts AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
      |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      |  FROM pts GROUP BY l_returnflag),
      |d AS (
      |  SELECT l_returnflag,
      |    CAST(n AS BIGINT) AS n_pts,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS deny,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |    CAST(n AS DOUBLE) AS nd
      |  FROM s)
      |SELECT l_returnflag, n_pts,
      |  num / denx AS slope,
      |  (syd - (num / denx) * sxd) / nd / 100 AS intercept,
      |  (num * num) / (denx * deny) AS r2
      |FROM d ORDER BY l_returnflag""".stripMargin,
    doc = "Per-group OLS fit (extendedprice ~ quantity by returnflag) from exact integer " +
      "sufficient statistics — one map-combined groupBy carries five longs per group; " +
      "doubles appear only in the final per-group solve, bit-identically in both " +
      "engines.") { (s, d) =>
    val pts = t(s, d, "lineitem").select(
      col("l_returnflag"),
      (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long").as("x"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long").as("y"))
    val dec38 = DecimalType(38, 0)
    // products accumulate in DECIMAL(38,0): cents² is ~1.2e14 per row,
    // so a BIGINT Σy² overflows past ~75k rows (sf0.1 lineitem)
    val sums = pts.groupBy("l_returnflag").agg(
      count(lit(1)).cast(dec38).as("n"),
      sum(col("x")).cast(dec38).as("sx"),
      sum(col("y")).cast(dec38).as("sy"),
      sum(col("x").cast(dec38) * col("y")).cast(dec38).as("sxy"),
      sum(col("x").cast(dec38) * col("x")).cast(dec38).as("sxx"),
      sum(col("y").cast(dec38) * col("y")).cast(dec38).as("syy"))
    val dd = sums.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_pts"),
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double").as("num"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double").as("denx"),
      (col("n") * col("syy") - col("sy") * col("sy")).cast("double").as("deny"),
      col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
      col("n").cast("double").as("nd"))
    dd.select(
      col("l_returnflag"), col("n_pts"),
      (col("num") / col("denx")).as("slope"),
      (((col("syd") - (col("num") / col("denx")) * col("sxd")) / col("nd")) / 100)
        .as("intercept"),
      ((col("num") * col("num")) / (col("denx") * col("deny"))).as("r2"))
      .orderBy("l_returnflag")
  }

  val all: Seq[QueryDef] = Seq(linearFit,
    exactMedian, modeAgg, outerJoin, histogram, cubeAgg, stringAgg,
    semiAntiJoin, setOps, dateTruncAgg, stringFuncs, windowLag,
    rollupAgg, dedupKeyedFirst, nullLogic, variantCapture,
    asofJoin, sessionize, streamSessionize, rangeJoin, streamIntervalJoin,
    streamOuterJoin,
    topKAgg, dedupFailEvidence, madOutliers, ntileBucket, slidingWindow,
    streamSliding, streamEnrich, streamDedup, incrementalAgg, exactP99, saltedJoin, funnel,
    quantileProfile, scd2, approxDistinct)
}
