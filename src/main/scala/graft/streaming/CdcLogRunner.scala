package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Ledger, Position}
import graft.operators.MergeOps
import graft.pkg.PackageWriter
import graft.run.Runner

/** End-to-end CDC drain over a durable (parquet-backed) change log:
  * plan settlement units from per-transaction summaries, deliver each
  * unit as one ledger-settled package, resume from the typed cursor
  * (cdf: crates/cdf-runtime/src/cdc_log_source.rs:34-340; chaos law
  * crates/cdf-conformance/src/runtime_chaos/ — a kill between units
  * loses nothing and duplicates nothing, and no unit ever splits a
  * source transaction).
  *
  * 100 TB shape: only the per-transaction SUMMARIES (txId, ops, bytes)
  * are collected to the driver to run the packing rule — a bounded
  * metadata stream, thousands of structs per settlement window, never
  * payload. The drain then reads the log with the contiguous `txCol`
  * range of the undelivered units, a predicate that reaches the parquet
  * scan (row-group pruning on txCol min/max; on a time/tx-partitioned
  * log, partition pruning).
  */
object CdcLogRunner {

  final case class UnitPlan(unitId: Int, fromTx: Long, toTx: Long, ops: Long, bytes: Long)

  final case class UnitResult(unitId: Int, fromTx: Long, toTx: Long, rows: Long,
      packageHash: String)

  /** Driver-side planning budget: settlement packing runs on the
    * driver over one struct per transaction, so a pathological log
    * (per-row transaction ids, an unbounded backlog) must fail TYPED
    * before the collect, never OOM the driver — the same intake law as
    * the tier-2 Python budget. ~48 bytes/struct puts the default cap
    * around 100 MB of driver heap. */
  final case class PlanBudget(maxTxns: Long = 2_000_000L)

  /** Per-transaction summaries in commit order — ONE aggregation job;
    * only (txId, ops, bytes) structs come back, never payload.
    * `bytesCol` sums per-row payload size; when absent each op counts
    * `fallbackBytesPerOp`. The transaction COUNT is probed first and
    * checked against `budget` (an aggregation the log scan answers
    * without moving payload), so the summary collect is provably
    * bounded before it starts. */
  def txnSummaries(log: DataFrame, txCol: String, bytesCol: Option[String] = None,
      fallbackBytesPerOp: Long = 64L, budget: PlanBudget = PlanBudget()): Seq[Settlement.Txn] = {
    // rsd pinned to 1% (Spark's DEFAULT is 5%, which would blow past
    // any single-digit slack at ±2σ); the 5% slack is then 5 standard
    // deviations — the guard neither false-positives at the boundary
    // nor admits a meaningfully over-budget log
    val txns = log.select(approx_count_distinct(col(txCol), 0.01).as("n")).head().getLong(0)
    if (txns > budget.maxTxns + budget.maxTxns / 20)
      throw graft.core.GraftError.Resource(
        s"cdc settlement planning exceeded the driver intake budget " +
          s"(~$txns transactions vs ${budget.maxTxns}) — scope the drain window " +
          "(tx range, time partition) or raise the budget",
        transient = false)
    log.groupBy(col(txCol).as("tx"))
      .agg(count(lit(1)).as("ops"),
        bytesCol.map(b => sum(col(b)).cast("long")).getOrElse(count(lit(1)) * fallbackBytesPerOp).as("bytes"))
      .orderBy("tx")
      .collect()
      .map(r => Settlement.Txn(r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
      .toSeq
  }

  /** Pack summaries into contiguous tx ranges via the shared
    * settlement rule; validated against the conformance invariants. */
  def packPlans(txns: Seq[Settlement.Txn], policy: Settlement.Policy): Seq[UnitPlan] = {
    val units = Settlement.pack(txns, policy)
    require(Settlement.validate(txns, units, policy), "settlement packing invariant violated")
    units.zipWithIndex.map { case (u, i) =>
      UnitPlan(i, u.head.txId, u.last.txId, u.map(_.ops.toLong).sum, u.map(_.bytes).sum)
    }
  }

  /** Policy that yields ~`targetUnits` units for this log (op-ceiling
    * split of the observed total; byte ceiling effectively off). Used
    * by the catalog query so unit count stays flat across scale
    * factors. */
  def policyForTargetUnits(totalOps: Long, targetUnits: Int): Settlement.Policy =
    Settlement.Policy(math.max(1L, (totalOps + targetUnits - 1) / targetUnits).toInt, Long.MaxValue)

  private def scope(resource: String): String = s"cdc:$resource"

  /** The last committed unit's `toTx`, or `Long.MinValue` before the
    * first commit. */
  private def committedTx(ledger: Ledger, resource: String, txCol: String): Long =
    ledger.resumePosition(resource, scope(resource)) match {
      case Some(Position.Cursor(f, v)) =>
        require(f == txCol, s"cursor field $f does not match tx column $txCol"); v
      case Some(other) => throw new IllegalStateException(s"unexpected position kind ${other.kind}")
      case None => Long.MinValue
    }

  /** Deliver every unit past the committed cursor in ONE pass over the
    * log (the repo's one-source-scan law), not one filtered scan per
    * unit. A single dynamic-partition write lands every undelivered
    * unit's data in `units/__unit=K`; ONE grouped aggregation of the
    * source slice that write consumed gives every unit's expected row
    * count + content hash + stats (the segment-stats manifest); ONE
    * probe of the written `units/`, read with the written schema, counts
    * and hashes what landed. Units then settle through the ledger in
    * commit order, each committed only when its probe matches its
    * expectation; a mismatch throws [[graft.core.GraftError.Destination]]
    * and commits nothing from that unit on. Committed units' directories
    * are untouched (dynamic overwrite only rewrites partitions present in
    * the write). `killAfterUnits` simulates a crash for the chaos spec:
    * the runner stops cold after N unit commits. Returns results for
    * units delivered in THIS call. */
  def drainBulk(log: DataFrame, txCol: String, outDir: String, ledger: Ledger,
      resource: String, plans: Seq[UnitPlan],
      killAfterUnits: Option[Int] = None): Seq[UnitResult] = {
    val spark = log.sparkSession
    val resumeTx = committedTx(ledger, resource, txCol)
    val todo = plans.filter(_.toTx > resumeTx)
    if (todo.isEmpty) return Seq.empty

    // unit assignment: contiguous tx ranges → one CASE chain, stays in
    // whole-stage codegen with the scan
    val unitCol = todo.tail.foldLeft(
      when(col(txCol) <= todo.head.toTx, lit(todo.head.unitId))) { (acc, u) =>
      acc.when(col(txCol) <= u.toTx, lit(u.unitId))
    }
    val unitsRoot = s"$outDir/units"
    val slice = log.filter(col(txCol) >= todo.head.fromTx && col(txCol) <= todo.last.toTx)
      .withColumn("__unit", unitCol)
    slice.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__unit")
      .parquet(unitsRoot)

    val dataCols = slice.columns.filterNot(_ == "__unit").toSeq
    def countAndHashByUnit(df: DataFrame, more: Seq[Column]): DataFrame =
      df.groupBy("__unit").agg(count(lit(1)).as("__rows"),
        (sum(PackageWriter.rowHash(dataCols)).as("__hash_sum") +: more): _*)
    def byUnit(rows: Array[Row]): Map[Int, (Long, String)] =
      rows.map(r => r.getInt(0) -> (r.getLong(1), PackageWriter.hashAt(r, 2))).toMap

    // ONE grouped aggregation of the source slice: per-unit row count +
    // content hash + the full column-stats profile (receipt expectations
    // and the segment-stats manifest come out of the same pass)
    val fused = countAndHashByUnit(slice, graft.operators.StatsOps.statsAggs(dataCols))
    val fusedRows = fused.collect()
    val perUnit = byUnit(fusedRows)
    // segment-stats manifest from the same pass: the collected rows,
    // written partitioned by segment so a resumed delivery adds its
    // units without clobbering committed ones
    spark.createDataFrame(java.util.Arrays.asList(fusedRows: _*), fused.schema)
      .withColumnRenamed("__unit", "segment_id")
      .drop("__rows", "__hash_sum")
      .coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("segment_id").parquet(s"$outDir/stats")

    // independent receipt probe: ONE re-read of the delivered files
    // verifies every unit (same fidelity as per-unit probes, U−1 fewer
    // jobs)
    Runner.ChaosHooks.beforeReceiptProbe.foreach(_(unitsRoot))
    val probed = byUnit(countAndHashByUnit(
      spark.read.schema(slice.schema).parquet(unitsRoot)
        .filter(col("__unit").isin(todo.map(_.unitId): _*)), Nil).collect())

    val results = Seq.newBuilder[UnitResult]
    var delivered = 0
    todo.iterator
      .takeWhile(_ => killAfterUnits.forall(delivered < _))
      .foreach { u =>
        val (rows, hash) = perUnit(u.unitId)
        val pkg = PackageWriter.writeManifest(s"$outDir/unit_${u.unitId}", resource,
          planHash = s"cdc-unit-${u.unitId}:${u.fromTx}-${u.toTx}",
          rows = rows, qRows = 0L, columns = dataCols, hash = hash, segments = 1)
        ledger.settle(resource, scope(resource), pkg.packageHash,
            Some(Position.Cursor(txCol, u.toTx))) { _ =>
          (PackageWriter.Receipt(s"parquet:$unitsRoot/__unit=${u.unitId}", rows, hash).toJsonString,
            probed.get(u.unitId).contains((rows, hash)))
        }
        results += UnitResult(u.unitId, u.fromTx, u.toTx, rows, pkg.packageHash)
        delivered += 1
      }
    results.result()
  }

  /** Materialized view after ordered apply of all delivered units
    * (`units/__unit=K`): last op per key in (tx, order-cols) order;
    * terminal delete removes. */
  def appliedBulk(spark: SparkSession, outDir: String, keys: Seq[String], opCol: String,
      txCol: String, orderCols: Seq[String]): DataFrame = {
    val units = spark.read.parquet(s"$outDir/units").drop("__unit")
    MergeOps.cdcApply(units, keys, opCol, txCol +: orderCols)
  }
}
