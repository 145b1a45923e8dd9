package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of (seed, row
  * coordinates), so the same seed gives the same inputs, and every
  * truth the output checks need (which rows violate the contract, which
  * duplicate loses, which stream row is late) is computed here from the
  * same formulas, never by the program under test. */
final class Gen(val spark: SparkSession, val seed: Long) {

  private def h(salt: Int, cs: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cs: _*)
  private def u(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))

  private val Flags = array(lit("A"), lit("N"), lit("R"))
  val ShipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Modes = array(ShipModes.map(lit): _*)

  /** lineitem-shaped payload columns of version `v` of key `k`; `alt`
    * salts the payload of a losing in-batch duplicate. */
  private def fields(k: Column, v: Column, alt: Column): Seq[(String, Column)] = Seq(
    "l_orderkey" -> (k / 4).cast(LongType),
    "l_partkey" -> u(1, 200000, k, v),
    "l_quantity" -> (lit(1.0) + u(2, 50, k, v, alt)).cast(DoubleType),
    "l_extendedprice" -> u(3, 10000000, k, v, alt) / 100.0,
    "l_discount" -> u(4, 11, k, v) / 100.0,
    "l_tax" -> u(5, 9, k, v) / 100.0,
    "l_returnflag" -> element_at(Flags, (u(6, 3, k, v) + 1).cast(IntegerType)),
    "l_linestatus" -> when(u(7, 2, k, v) === 0, "O").otherwise("F"),
    "l_shipdate" -> date_add(lit("1992-01-01").cast(DateType), u(8, 2500, k, v).cast(IntegerType)),
    "l_shipmode" -> element_at(Modes, (u(9, ShipModes.size.toLong, k, v) + 1).cast(IntegerType)),
    "l_comment" -> concat(lit("c"), lower(hex(h(10, k, v, alt))), lower(hex(h(11, k, v)))))
  private def payload(k: Column, v: Column, alt: Column): Seq[Column] =
    fields(k, v, alt).map { case (n, c) => c.as(n) }

  // ------------------------------------------------------------ bulk_merge

  /** Version of key `k` in delivery `d`: every delivery re-selects one
    * of ten key blocks, so ~10% of rows change per delivery. */
  private def version(k: Column, d: Int): Column = {
    val last = lit(d) - pmod(lit(d) - u(20, 10, k), lit(10))
    when(last >= 1, last).otherwise(lit(0)).cast(IntegerType)
  }
  private def isDup(k: Column, d: Int): Column = u(21, 100, k, lit(d)) === 0
  private def isViolation(k: Column, d: Int): Column = u(22, 100, k, lit(d)) < 2

  /** Delivery `d` of `keys` keys: one winning row per key (l_seq 1),
    * ~1% keys with a losing duplicate (l_seq 0), ~2% keys with an extra
    * row that breaks the contract (l_seq 2 — it would win the dedup if
    * validation let it through). */
  def delivery(keys: Long, d: Int, files: Int): DataFrame = {
    val k = col("id")
    val seqs = filter(array(lit(1), when(isDup(k, d), lit(0)), when(isViolation(k, d), lit(2))),
      x => x.isNotNull)
    val base = spark.range(0, keys, 1, files).select(k.as("l_id"), explode(seqs).as("l_seq"))
      .withColumn("l_version", version(col("l_id"), d))
    val p = payload(col("l_id"), col("l_version"), col("l_seq"))
    val row = base.select(col("l_id") +: col("l_seq") +: col("l_version") +: p: _*)
    // the violating row breaks one rule: quantity out of range or an
    // unknown return flag
    row.withColumn("l_quantity",
        when(col("l_seq") === 2 && u(23, 2, col("l_id")) === 0, lit(-1.0)).otherwise(col("l_quantity")))
      .withColumn("l_returnflag",
        when(col("l_seq") === 2 && u(23, 2, col("l_id")) === 1, lit("X")).otherwise(col("l_returnflag")))
  }

  /** Truth after delivery `d`: the winning row of every key, with the
    * derived net price, as the destination must hold it. */
  def mergeTruth(keys: Long, d: Int): DataFrame = {
    val k = col("id")
    val v = version(k, d)
    spark.range(0, keys, 1, 4).select(k.as("l_id") +: lit(1).as("l_seq") +: v.as("l_version") +:
        payload(k, v, lit(1)): _*)
      .withColumn("l_net", col("l_extendedprice") * (lit(1) - col("l_discount")))
  }

  def deliveryCounts(keys: Long, d: Int): (Long, Long, Long) = {
    val r = spark.range(0, keys, 1, 4).agg(
      sum(when(isDup(col("id"), d), 1L).otherwise(0L)),
      sum(when(isViolation(col("id"), d), 1L).otherwise(0L))).head()
    val dups = r.getLong(0); val viol = r.getLong(1)
    (keys + dups + viol, dups, viol) // (source rows, duplicates, violations)
  }

  // ---------------------------------------------------------- file_landing

  val landingSchema: StructType = StructType(Seq(
    StructField("l_id", LongType), StructField("src_file", IntegerType),
    StructField("l_line", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipdate", DateType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))

  private def landingCols(id: Column, file: Column, line: Column, violating: Column): Seq[Column] = {
    val p = fields(id, lit(0), lit(0)).toMap
    Seq(id.as("l_id"), file.cast(IntegerType).as("src_file"), line.cast(IntegerType).as("l_line"),
      when(violating, lit(-1.0)).otherwise(p("l_quantity")).as("l_quantity")) ++
      Seq("l_extendedprice", "l_discount", "l_returnflag", "l_shipdate", "l_shipmode", "l_comment")
        .map(n => p(n).as(n))
  }

  /** ~1% of landed rows violate the landing contract (quantity -1). */
  def landingViolates(id: Column): Column = u(30, 100, id) === 0

  /** Landed files `first until first + n`, `rows` rows each; one Spark
    * partition per file, in file order. */
  def landingFiles(first: Int, n: Int, rows: Int): DataFrame = {
    val r = spark.range(first.toLong * rows, (first + n).toLong * rows, 1, n)
    val id = col("id")
    r.select(landingCols(id + lit(1L << 40), (id / rows).cast(LongType), pmod(id, lit(rows.toLong)),
      landingViolates(id + lit(1L << 40))): _*)
  }

  /** History already in the destination before the first tick. */
  def landingHistory(rows: Long, files: Int): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, files).select(landingCols(id, lit(-1), lit(0), lit(false)): _*)
  }

  /** Truth: the destination after files `0 until files` landed. */
  def landingTruth(historyRows: Long, files: Int, rows: Int): DataFrame =
    landingHistory(historyRows, 4).unionByName(landingFiles(0, files, rows)
      .filter(not(landingViolates(col("l_id")))))
      .withColumn("l_net", col("l_extendedprice") * (lit(1) - col("l_discount")))

  // ---------------------------------------------------------- stream_drain

  val WindowMs = 60000L   // on-time event-time window per file
  val GraceMs = 30000L    // late rows within grace are recaptured
  val LagMs = 1000L       // frontier = max admitted event time - lag
  val T0 = 1700000000000L

  /** Declared watermark of a batch: its max event time minus one window. */
  def watermarkOf(maxTsMs: Long): Long = maxTsMs - WindowMs
  def fileMaxTs(file: Int): Long = T0 + file * WindowMs + WindowMs - 1

  /** Row class: 0 on time, 1 late within grace, 2 late beyond grace
    * (~94% / ~5% / ~1%). The last row of each file is on time and
    * carries the file's max event time. */
  private def streamClass(id: Column, line: Column, rows: Int): Column = {
    val r = u(40, 1000, id)
    when(line === rows - 1, 0).when(r < 10, 2).when(r < 60, 1).otherwise(0)
  }

  def streamFiles(first: Int, n: Int, rows: Int): DataFrame = {
    val r = spark.range(first.toLong * rows, (first + n).toLong * rows, 1, n)
    val id = col("id")
    val file = (id / rows).cast(LongType)
    val line = pmod(id, lit(rows.toLong))
    val cls = streamClass(id, line, rows)
    val base = lit(T0) + file * WindowMs
    val wm = base + lit(WindowMs - 1) - lit(WindowMs)
    val tsMs = when(line === rows - 1, base + lit(WindowMs - 1))
      .when(cls === 0, base + u(41, WindowMs - 1, id))
      .when(cls === 1, wm - lit(1) - u(42, GraceMs - 1, id))
      .otherwise(wm - lit(GraceMs + 1) - u(43, 3600000, id))
    r.select(id.as("s_id"), file.cast(IntegerType).as("s_file"),
      timestamp_millis(tsMs).as("ts"), (u(44, 100000, id) / 100.0).as("amount"),
      element_at(Modes, (u(45, ShipModes.size.toLong, id) + 1).cast(IntegerType)).as("tag"))
  }

  /** Truth per file: (on-time, late within grace, late beyond grace). */
  def streamClassCounts(first: Int, n: Int, rows: Int): Map[Int, (Long, Long, Long)] = {
    val r = spark.range(first.toLong * rows, (first + n).toLong * rows, 1, n)
    val id = col("id")
    r.select((id / rows).cast(IntegerType).as("f"),
        streamClass(id, pmod(id, lit(rows.toLong)), rows).as("c"))
      .groupBy("f").agg(sum(when(col("c") === 0, 1L).otherwise(0L)),
        sum(when(col("c") === 1, 1L).otherwise(0L)), sum(when(col("c") === 2, 1L).otherwise(0L)))
      .collect().map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
  }
}
